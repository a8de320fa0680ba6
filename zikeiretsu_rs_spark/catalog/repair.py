"""Repair & retention utilities.

- rebuild_manifest: T7 parity (storage/api/repair/blocklist.rs:11+,
  CLI mode bin/main.rs:90-120): regenerate a metrics' manifest by
  scanning the Parquet dataset itself. The rebuilt manifest collapses
  the dataset to one logical block (the reference rebuilds from block
  directories; here Parquet footers are the ground truth and per-batch
  lineage is not recoverable — documented divergence).
- purge_persisted: T4 storage-level retention: drop whole `dt=`
  partitions fully inside the purge range (cheap metadata-only delete),
  rewrite any boundary partition that straddles the range.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..datamodel import PARTITION_COLUMN, TS_COLUMN, day_key
from ..datetime_util import NANOS_PER_DAY, now_utc_nanos
from . import fsio
from .lockfile import metrics_lock, new_writer_id
from .manifest import BlockEntry, Manifest


def _has_parquet_files(block_dir: str) -> bool:
    for root, _dirs, files in os.walk(block_dir):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def rebuild_manifest(spark: SparkSession, db_dir: str, metrics: str) -> BlockEntry | None:
    block_dir = fsio.as_local(f"{db_dir}/block/{metrics}", "manifest rebuild")
    manifest = Manifest(db_dir, metrics)
    # a purge can legitimately empty the dataset; an empty/fileless dir
    # must rebuild to an EMPTY manifest, not abort on UNABLE_TO_INFER_SCHEMA
    # (which would leave the manifest listing already-purged blocks)
    if not os.path.isdir(block_dir) or not _has_parquet_files(block_dir):
        manifest.rewrite([], now_utc_nanos())
        return None
    df = spark.read.parquet(block_dir)
    stats = df.agg(
        F.min(TS_COLUMN).alias("mn"),
        F.max(TS_COLUMN).alias("mx"),
        F.count("*").alias("rows"),
        F.countDistinct(TS_COLUMN).alias("dts"),
    ).collect()[0]
    now = now_utc_nanos()
    if stats["rows"] == 0:
        manifest.rewrite([], now)
        return None
    entry = BlockEntry(
        since_nanos=int(stats["mn"]),
        until_nanos=int(stats["mx"]),
        rows=int(stats["rows"]),
        distinct_ts=int(stats["dts"]),
        written_at_nanos=now,
    )
    manifest.rewrite([entry], now)
    return entry


def purge_persisted(
    spark: SparkSession,
    db_dir: str,
    metrics: str,
    since_nanos: int,
    until_nanos: int,
    lock_timeout_sec: float = 30.0,
) -> None:
    """Delete persisted rows in [since, until).

    Partitions wholly inside the range are removed as directories (no
    data rewrite); boundary partitions are rewritten with the surviving
    rows. The manifest is rebuilt afterwards. The per-metrics lockfile
    (T5) serializes the delete+rebuild against concurrent writers.
    """
    block_dir = fsio.as_local(f"{db_dir}/block/{metrics}", "purge")
    if not os.path.isdir(block_dir):
        return
    with metrics_lock(db_dir, metrics, new_writer_id(), lock_timeout_sec):
        _purge_locked(spark, db_dir, metrics, block_dir, since_nanos, until_nanos)


def _purge_locked(
    spark: SparkSession,
    db_dir: str,
    metrics: str,
    block_dir: str,
    since_nanos: int,
    until_nanos: int,
) -> None:
    # days wholly inside [since, until): from the day of the first
    # midnight at or after `since` up to (excluding) `until`'s own day
    first_full_day = day_key(-(-since_nanos // NANOS_PER_DAY) * NANOS_PER_DAY)
    end_day = day_key(until_nanos)
    for name in list(os.listdir(block_dir)):
        if not name.startswith(f"{PARTITION_COLUMN}="):
            continue
        dt = name.split("=", 1)[1]
        if first_full_day <= dt < end_day:
            shutil.rmtree(os.path.join(block_dir, name))

    # rewrite boundary partitions that still contain purged rows
    remaining_days = set()
    for d in (day_key(since_nanos), day_key(until_nanos - 1)):
        if os.path.isdir(os.path.join(block_dir, f"{PARTITION_COLUMN}={d}")):
            remaining_days.add(d)
    for d in remaining_days:
        part_dir = os.path.join(block_dir, f"{PARTITION_COLUMN}={d}")
        kept = (
            spark.read.parquet(part_dir)
            .filter(
                ~(
                    (F.col(TS_COLUMN) >= F.lit(since_nanos))
                    & (F.col(TS_COLUMN) < F.lit(until_nanos))
                )
            )
        )
        # `_`-prefixed siblings are invisible to Spark file discovery
        # and `dt=` listings even if a crash strands them
        tmp_dir = os.path.join(block_dir, f"_rewrite_{PARTITION_COLUMN}={d}")
        kept.sortWithinPartitions(TS_COLUMN).write.mode("overwrite").parquet(tmp_dir)
        # two renames (never a missing-partition window mid-swap)
        old_dir = os.path.join(block_dir, f"_old_{PARTITION_COLUMN}={d}")
        os.replace(part_dir, old_dir)
        os.replace(tmp_dir, part_dir)
        shutil.rmtree(old_dir)

    rebuild_manifest(spark, db_dir, metrics)
