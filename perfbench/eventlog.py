"""Fold Spark's JSON event log into counters per job group.

The traced run gives every timed call its own job group
(`SparkContext.setJobGroup`), so each group here is one call of one
layer. Task counters come from `SparkListenerTaskEnd`; scan file counts
come from the driver-side SQL metric "number of files read", whose
accumulator ids are named in the SQL plan events.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

_SQL = "org.apache.spark.sql.execution.ui."
FILES_READ = "number of files read"


@dataclass
class GroupCounters:
    jobs: int = 0
    tasks: int = 0
    executor_cpu_ms: float = 0.0
    gc_ms: float = 0.0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    files_read: int = 0
    # [submission, completion] of each job, epoch milliseconds
    job_spans_ms: list[tuple[int, int]] = field(default_factory=list)


def _plan_metric_names(plan: dict, out: dict[int, str]) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for child in plan.get("children", []):
        _plan_metric_names(child, out)


def read_events(log_dir: str) -> list[dict]:
    """Every event of the (rolling, uncompressed) logs under `log_dir`:
    the `events_<n>_<app>` files of each `eventlog_v2_<app>` directory."""
    events = []
    for app in sorted(os.listdir(log_dir)):
        app_dir = os.path.join(log_dir, app)
        parts = [f for f in os.listdir(app_dir) if f.startswith("events_")]
        for part in sorted(parts, key=lambda f: int(f.split("_")[1])):
            with open(os.path.join(app_dir, part)) as f:
                events.extend(json.loads(line) for line in f if line.strip())
    return events


def fold(events: list[dict]) -> dict[str, GroupCounters]:
    groups: dict[str, GroupCounters] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    exec_group: dict[int, str] = {}
    acc_names: dict[int, str] = {}
    driver_updates: list[tuple[int, int, int]] = []

    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            g = props.get("spark.jobGroup.id")
            if g is None:
                continue
            jid = e["Job ID"]
            job_group[jid] = g
            job_start[jid] = e["Submission Time"]
            groups.setdefault(g, GroupCounters()).jobs += 1
            if "spark.sql.execution.id" in props:
                exec_group[int(props["spark.sql.execution.id"])] = g
        elif kind == "SparkListenerJobEnd":
            jid = e["Job ID"]
            if jid in job_group:
                groups[job_group[jid]].job_spans_ms.append(
                    (job_start[jid], e["Completion Time"])
                )
        elif kind == "SparkListenerStageSubmitted":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if g is not None:
                stage_group[e["Stage Info"]["Stage ID"]] = g
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(e["Stage ID"])
            m = e.get("Task Metrics")
            if g is None or not m:
                continue
            c = groups.setdefault(g, GroupCounters())
            c.tasks += 1
            c.executor_cpu_ms += m.get("Executor CPU Time", 0) / 1e6
            c.gc_ms += m.get("JVM GC Time", 0)
            c.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
            sr = m.get("Shuffle Read Metrics", {})
            c.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            c.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            )
            c.spill_bytes += m.get("Disk Bytes Spilled", 0)
        elif kind in (
            _SQL + "SparkListenerSQLExecutionStart",
            _SQL + "SparkListenerSQLAdaptiveExecutionUpdate",
        ):
            _plan_metric_names(e["sparkPlanInfo"], acc_names)
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            for acc, value in e["accumUpdates"]:
                driver_updates.append((e["executionId"], acc, value))

    for exec_id, acc, value in driver_updates:
        g = exec_group.get(exec_id)
        if g is not None and acc_names.get(acc) == FILES_READ:
            groups[g].files_read += value
    return groups
