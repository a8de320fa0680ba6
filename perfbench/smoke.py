"""Smoke test of the benchmark: every BENCHMARK.json metric is printed
with its unit, and the traced runs record a span for every layer.

    python3 -m pytest perfbench/smoke.py -q

The first test needs no Spark; the others run the benchmark for three
seconds per workload (about two minutes in all). Three seconds give the
tsdb loop two rounds, the second of which is the traced in-process one.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import run  # noqa: E402
from pipeline import QUERIES  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

# span names the traced run records at each layer boundary
TSDB_SPANS = {
    "session": "session.start",
    "ingest.writable_store": "ingest.persist_dataframe",
    "ingest.push_multi": "ingest.push_multi",
    "ingest.persist": "ingest.persist",
    "catalog.manifest": "manifest.load",
    "query.parser": "parser.parse",
    "query.analyzer": "analyzer.interpret",
    "query.translator": "translator.plan",
    "spark execution": "exec.collect",
    "flight_server (arrow convert)": "output.arrow_convert",
    "flight_server (round trip)": "flight.round_trip",
}


def bench(workload: str, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "3", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300, check=True,
    )
    lines = out.stdout.strip().splitlines()
    assert lines[-2].startswith("summary ")
    return json.loads(lines[-2][len("summary "):]), json.loads(lines[-1])


def assert_metrics(result: dict, kind: str) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC[kind]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())


def span_names(workload: str) -> set[str]:
    path = os.path.join(HERE, "out", f"spans-{workload}-7.jsonl")
    with open(path) as f:
        names = {json.loads(line)["name"] for line in f}
    os.remove(path)
    return names


def test_every_per_layer_metric_belongs_to_a_workload():
    covered = {p for prefixes in run.LAYERS.values() for p in prefixes}
    for m in SPEC["per_layer"]:
        assert m["name"].startswith(tuple(covered)), m["name"]
    assert {w["name"] for w in SPEC["workloads"]} == set(run.WORKLOADS)


def test_untraced_run_prints_end_to_end_metrics():
    summary, result = bench("tsdb_mixed", 0)
    assert_metrics(result, "end_to_end")
    assert all(result["metrics"][m["name"]]["value"] > 0 for m in SPEC["end_to_end"])
    assert summary["ops_failed_ratio"] == 0


@pytest.mark.parametrize("workload", ["tsdb_mixed", "pipeline_batch"])
def test_traced_run_spans_every_layer(workload):
    _, result = bench(workload, 1)
    assert_metrics(result, "per_layer")
    names = span_names(workload)
    if workload == "pipeline_batch":
        want = {"session.start"} | {f"operators.{q}" for q in QUERIES}
    else:
        want = set(TSDB_SPANS.values())
    assert want <= names, want - names
