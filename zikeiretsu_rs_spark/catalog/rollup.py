"""Continuous aggregates (hypertable-style rollups): a materialized
time-bucket aggregate per metrics that refreshes INCREMENTALLY — only
`dt=` partitions whose data changed since the last refresh are
recomputed, everything older is reused as-is.

Why this matters at 100 TB: dashboards and downstream jobs re-ask the
same bucket aggregates daily; recomputing a year of history to
incorporate one new day is a 365× waste. Partition-grain refresh keys
off the ingest manifest (every persist/compaction touches it), so the
rollup is exact — not an approximation — while doing work proportional
to the new data.

Mergeability discipline: the rollup stores count + DECIMAL sum (both
re-aggregable); averages are derived at read time. Storing an avg (or
any non-mergeable statistic) would make partial refresh impossible —
the same rule that applies to sketch rollups (operators/sketches.py).

State: `<db>/rollup/<metrics>/<name>/` holds the aggregate parquet
(partitioned by dt) + `_state.json` recording the per-partition
manifest fingerprint at last refresh.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..datamodel import PARTITION_COLUMN, TS_COLUMN, day_key
from . import fsio
from .manifest import Manifest


def _partition_fingerprints(db_dir: str, metrics: str) -> dict[str, str]:
    """dt -> fingerprint of the manifest entries overlapping that day
    (changes whenever a persist/compaction touches the partition)."""
    import hashlib

    from ..datetime_util import NANOS_PER_DAY

    # manifest entries are ts-RANGE-grained; partition existence is
    # layout-grained (a purge can hollow out days inside an entry's
    # range, and rebuild collapses entries) — fingerprint only days
    # whose dt= directory actually exists
    block_dir = fsio.as_local(
        fsio.join(db_dir, "block", metrics), "rollup fingerprinting"
    )
    on_disk = {
        name.split("=", 1)[1]
        for name in (os.listdir(block_dir) if os.path.isdir(block_dir) else [])
        if name.startswith(f"{PARTITION_COLUMN}=")
    }
    by_day: dict[str, list[str]] = {}
    for e in Manifest(db_dir, metrics).load():
        first = e.since_nanos // NANOS_PER_DAY
        last = e.until_nanos // NANOS_PER_DAY
        for day in range(first, last + 1):
            dt = day_key(day * NANOS_PER_DAY)
            if dt in on_disk:
                by_day.setdefault(dt, []).append(
                    f"{e.since_nanos}:{e.until_nanos}:{e.rows}:"
                    f"{e.written_at_nanos}"
                )
    return {
        dt: hashlib.md5("|".join(sorted(v)).encode()).hexdigest()
        for dt, v in by_day.items()
    }


class Rollup:
    def __init__(
        self,
        db_dir: str,
        metrics: str,
        name: str,
        bucket_nanos: int,
        value_col: str = "f0",
    ):
        self.db_dir = db_dir
        self.metrics = metrics
        self.name = name
        self.bucket_nanos = bucket_nanos
        self.value_col = value_col
        self.dir = fsio.as_local(
            fsio.join(db_dir, "rollup", metrics, name), "rollup refresh"
        )
        self.state_path = os.path.join(self.dir, "_state.json")

    def _load_state(self) -> dict[str, str]:
        if not os.path.exists(self.state_path):
            return {}
        try:
            with open(self.state_path) as f:
                return json.load(f)
        except (json.JSONDecodeError, OSError):
            # a truncated/corrupt state file degrades to a full refresh
            # instead of failing every subsequent micro-batch
            return {}

    def _aggregate_partition(self, spark: SparkSession, dt: str) -> DataFrame:
        part_dir = (
            f"{self.db_dir}/block/{self.metrics}/{PARTITION_COLUMN}={dt}"
        )
        df = spark.read.parquet(part_dir)
        bucket = F.col(TS_COLUMN) - F.col(TS_COLUMN) % F.lit(self.bucket_nanos)
        return df.groupBy(bucket.alias("bucket_start")).agg(
            F.count("*").alias("n"),
            F.sum(F.col(self.value_col).cast("decimal(18,2)")).alias(
                "sum_dec"
            ),
        )

    def refresh(self, spark: SparkSession) -> dict[str, int]:
        """Incremental refresh: recompute only partitions whose
        manifest fingerprint changed; drop rollup partitions whose data
        vanished (purge). Returns {refreshed, reused, dropped}."""
        current = _partition_fingerprints(self.db_dir, self.metrics)
        state = self._load_state()
        os.makedirs(self.dir, exist_ok=True)
        stats = {"refreshed": 0, "reused": 0, "dropped": 0}
        for dt in set(state) - set(current):
            out = os.path.join(self.dir, f"{PARTITION_COLUMN}={dt}")
            if os.path.isdir(out):
                shutil.rmtree(out)
            stats["dropped"] += 1
        for dt, fp in sorted(current.items()):
            out = os.path.join(self.dir, f"{PARTITION_COLUMN}={dt}")
            if state.get(dt) == fp and os.path.isdir(out):
                stats["reused"] += 1
                continue
            agg = self._aggregate_partition(spark, dt)
            # `_`-prefixed siblings are invisible to the `dt=*` read glob
            tmp = os.path.join(self.dir, f"_refresh_{PARTITION_COLUMN}={dt}")
            agg.coalesce(1).write.mode("overwrite").parquet(tmp)
            # two renames (never a missing-partition window mid-swap)
            old = os.path.join(self.dir, f"_old_{PARTITION_COLUMN}={dt}")
            if os.path.isdir(out):
                os.replace(out, old)
            os.replace(tmp, out)
            if os.path.isdir(old):
                shutil.rmtree(old)
            stats["refreshed"] += 1
        # atomic replace: a crash mid-write must never leave a truncated
        # _state.json (same pattern as Manifest._write)
        fd, tmp = tempfile.mkstemp(dir=self.dir, suffix=".tmp")
        try:
            with os.fdopen(fd, "w") as f:
                json.dump(current, f)
            os.replace(tmp, self.state_path)
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)
        return stats

    def read(self, spark: SparkSession) -> DataFrame:
        """The continuous aggregate: bucket_start, n, sum (double),
        avg (derived — never stored, so partitions stay mergeable)."""
        df = spark.read.option("basePath", self.dir).parquet(
            f"{self.dir}/{PARTITION_COLUMN}=*"
        )
        # a bucket can straddle partition boundaries only if
        # bucket_nanos doesn't divide a day — re-aggregate to be safe
        return (
            df.groupBy("bucket_start")
            .agg(F.sum("n").alias("n"), F.sum("sum_dec").alias("_s"))
            .select(
                "bucket_start",
                "n",
                F.col("_s").cast("double").alias("sum_value"),
                (F.col("_s").cast("double") / F.col("n")).alias("avg_value"),
            )
        )
