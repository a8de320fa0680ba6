"""WritableStore — the ingest API, shaped like the reference's
(store/writable_store/mod.rs) but persisting to partitioned Parquet.

Lifecycle parity:
- `push` / `push_multi` buffer datapoints (mod.rs:131-165). The
  reference's WAL (S4/S9) is intentionally not rebuilt: every block
  file appears atomically (see below), and streaming ingest gets
  durability from Structured Streaming checkpoints (SURVEY §2.1).
- `apply_dirties` stable-sorts the dirty buffer by ts and merges into
  the sorted buffer (mod.rs:167-208; stable sort preserves the
  reference's insertion tie-order for equal timestamps).
- `persist(condition)` writes the selected range of the sorted buffer
  as one "block" straight from the driver, like the reference's
  write of its sorted buffer to block files (mod.rs:230-275,
  storage/api/write.rs:21-121): the rows pass the same type check
  `spark.createDataFrame` runs, become one pyarrow Table, and land as
  one Parquet file per `dt` day, each written atomically through
  `fsio.write_parquet_atomic`. The manifest entry's [min, max] ts, row
  count and distinct-ts count (the reference's `timestamp_num`,
  write.rs:176-182) are read off the sorted buffer. It runs no Spark
  job. It optionally evicts the persisted rows.
- `purge(range)` drops in-memory rows in [since, until)
  (mod.rs:215-227).

Scale design: the buffer is a convenience for the library API, tests
and small frequent appends, and it lives in driver memory, so a
persist of it is a driver-side write. Bulk ingest goes through
`persist_dataframe`, which accepts an arbitrary Spark DataFrame (any
size; streaming `foreachBatch` uses it too), derives the `dt` partition
column and writes with `sortWithinPartitions(ts)`. Both writers put
every row in the `dt` partition `datamodel.day_key` names and write
ts-ascending files — that keeps Parquet row-group min/max stats tight,
which is what replaces the reference's sorted block files at query
time.
"""

from __future__ import annotations

import bisect
import uuid
from dataclasses import dataclass
from operator import attrgetter

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import _make_type_verifier

from ..catalog import errorjournal, fsio
from ..catalog.lockfile import (
    metrics_lock,
    new_writer_id,
    remove_lock_if_same_writer,
)
from ..catalog.manifest import BlockEntry, Manifest
from ..catalog.registry import SchemaRegistry
from ..datamodel import (
    PARTITION_COLUMN,
    TS_COLUMN,
    DataPoint,
    FieldType,
    day_key,
    day_key_sql,
    metrics_arrow_schema,
    metrics_schema,
    nanos_spine_expr,
    validate_metrics_name,
)
from ..datetime_util import NANOS_PER_DAY, NANOS_PER_SEC, now_utc_nanos
from ..errors import StorageError


@dataclass(frozen=True)
class PersistCondition:
    """Reference PersistCondition (persistence.rs:16-31)."""

    since_nanos: int | None = None
    until_nanos: int | None = None  # exclusive
    remove_from_memory: bool = True


def to_nano_spine(df: DataFrame, ts_col: str = TS_COLUMN) -> DataFrame:
    """Canonicalize the ts column to the engine's spine type: LongType
    epoch nanoseconds. External parquet commonly carries native
    TIMESTAMP/TIMESTAMP_NTZ (µs) columns; the engine is nano-native
    (reference timestamps are u64 nanos, tsdb/datapoint.rs), so the
    ingest boundary converts losslessly from µs. Long inputs pass
    through untouched. Naive (NTZ/date) inputs are UTC wall clock,
    session-tz-independent (see datamodel.nanos_spine_expr)."""
    dtype = dict(df.dtypes).get(ts_col)
    if dtype in ("timestamp", "timestamp_ntz", "date", "int", "bigint", "long"):
        # int widths included so a 32-bit ts column persists as int64
        # and never mixes parquet physical types across blocks
        return df.withColumn(ts_col, nanos_spine_expr(F.col(ts_col), dtype))
    return df


def with_partition_column(df: DataFrame, ts_col: str = TS_COLUMN) -> DataFrame:
    """Derive `dt = YYYY-MM-DD` (UTC, `datamodel.day_key`) from the nano
    timestamp column. This is the engine's partition-pruning key
    (SURVEY §4: replaces the reference's block-list binary search)."""
    return df.withColumn(PARTITION_COLUMN, F.expr(day_key_sql(f"`{ts_col}`")))


class WritableStore:
    def __init__(
        self,
        spark: SparkSession,
        db_dir: str,
        metrics: str,
        field_types: list[FieldType],
        validate: bool = False,
        lock_timeout_sec: float = 0.0,
    ):
        validate_metrics_name(metrics)
        self.spark = spark
        self.db_dir = db_dir
        self.metrics = metrics
        self.field_types = list(field_types)
        self.validate = validate
        # T5: one writer id per store, written into the per-metrics
        # lockfile for every persist (write.rs:191-202). timeout 0 =
        # fail fast like the reference's Lockfile::create.
        self.writer_id = new_writer_id()
        self.lock_timeout_sec = lock_timeout_sec
        self.manifest = Manifest(db_dir, metrics)
        self.registry = SchemaRegistry(db_dir)
        self.registry.save(metrics, self.field_types)
        # sorted in-memory buffer + dirty overlay (mod.rs:36-45)
        self._sorted: list[DataPoint] = []
        self._dirty: list[DataPoint] = []

    # -- write path ----------------------------------------------------
    def push(self, dp: DataPoint) -> None:
        self.push_multi([dp])

    def push_multi(self, dps: list[DataPoint]) -> None:
        if self.validate:
            for dp in dps:
                if len(dp.field_values) != len(self.field_types):
                    raise StorageError(
                        f"field count mismatch: {len(dp.field_values)} != "
                        f"{len(self.field_types)}"
                    )
        self._dirty.extend(dps)

    def apply_dirties(self) -> None:
        """Stable sort dirty rows by ts, merge into the sorted buffer
        (mod.rs:167-208: fast-path append when all new >= last)."""
        if not self._dirty:
            return
        self._dirty.sort(key=lambda d: d.timestamp_nano)  # stable
        if not self._sorted or self._dirty[0].timestamp_nano >= self._sorted[-1].timestamp_nano:
            self._sorted.extend(self._dirty)
        else:
            keys = [d.timestamp_nano for d in self._sorted]
            for dp in self._dirty:
                idx = bisect.bisect_right(keys, dp.timestamp_nano)
                self._sorted.insert(idx, dp)
                keys.insert(idx, dp.timestamp_nano)
        self._dirty = []

    def datapoints(self) -> list[DataPoint]:
        self.apply_dirties()
        return list(self._sorted)

    def datapoints_tail_limit(self, n: int) -> list[DataPoint]:
        """Last n distinct timestamps (mod.rs:291-301)."""
        pts = self.datapoints()
        seen: list[int] = []
        out: list[DataPoint] = []
        for dp in reversed(pts):
            if not seen or seen[-1] != dp.timestamp_nano:
                if len(seen) == n:
                    break
                seen.append(dp.timestamp_nano)
            out.append(dp)
        return list(reversed(out))

    def purge(self, since_nanos: int, until_nanos: int) -> None:
        """Drop in-memory rows in [since, until) (mod.rs:215-227)."""
        self.apply_dirties()
        self._sorted = [
            d
            for d in self._sorted
            if not (since_nanos <= d.timestamp_nano < until_nanos)
        ]

    def scavenge_on_shutdown(self) -> bool:
        """Crash-recovery lock scavenging at store shutdown — parity
        with the reference's `scavange_on_shutdown`
        (store/writable_store/mod.rs:327-346), which removes the local
        AND cloud per-metrics locks when their recorded writer id is
        the store's own. Here one call covers both deployments: the
        lockfile module routes local paths through unlink and URI
        warehouses (s3://(s3a)/gs://, or any scheme registered with
        `fsio.register_scheme_filesystem`) through the pyarrow
        filesystem delete. The same-writer content rule means a crashed
        incarnation of THIS writer is cleaned up while another
        process's live lock is never touched (write.rs:142-167).
        Returns True when a stale lock was removed."""
        return remove_lock_if_same_writer(
            self.db_dir, self.metrics, self.writer_id
        )

    # -- persistence ---------------------------------------------------
    @property
    def block_dir(self) -> str:
        return f"{self.db_dir}/block/{self.metrics}"

    def persist(self, condition: PersistCondition | None = None) -> int:
        """Persist buffered rows in the condition range as one block,
        written from the driver with no Spark job. Returns the number
        of rows written.

        A value its field type rejects raises the same error
        `spark.createDataFrame` raises, before the lock is taken:
        nothing is written and the buffer is kept."""
        condition = condition or PersistCondition()
        self.apply_dirties()
        ts_of = attrgetter("timestamp_nano")
        lo = condition.since_nanos
        hi = condition.until_nanos
        i = 0 if lo is None else bisect.bisect_left(self._sorted, lo, key=ts_of)
        j = len(self._sorted) if hi is None else bisect.bisect_left(self._sorted, hi, key=ts_of)
        selected = self._sorted[i:j]
        if not selected:
            return 0
        rows = [(d.timestamp_nano, *d.field_values) for d in selected]
        verify = _make_type_verifier(metrics_schema(self.field_types))
        for row in rows:
            verify(row)
        schema = metrics_arrow_schema(self.field_types)
        table = pa.Table.from_arrays(
            [pa.array(col, type=f.type) for col, f in zip(zip(*rows), schema)],
            schema=schema,
        )
        # the buffer is ts-sorted: each day is one run of rows, and the
        # stats are its ends plus a count of ts changes
        ts = table.column(TS_COLUMN).to_numpy()
        day = ts // NANOS_PER_DAY  # floors, as day_key does
        cuts = [0, *(np.flatnonzero(day[1:] != day[:-1]) + 1).tolist(), len(ts)]
        # like Spark's writer, dictionary-encode only the columns whose
        # values repeat enough to pay for the dictionary, and keep no
        # serialized Arrow schema in the footer
        options = dict(
            use_dictionary=[
                f.name for f, col in zip(schema, table.columns)
                if f.type != pa.null() and 2 * pc.count_distinct(col).as_py() <= len(col)
            ],
            store_schema=False,
        )
        with metrics_lock(
            self.db_dir, self.metrics, self.writer_id, self.lock_timeout_sec
        ):
            written: list[str] = []
            try:
                for a, b in zip(cuts, cuts[1:]):
                    path = (
                        f"{self.block_dir}/{PARTITION_COLUMN}={day_key(int(ts[a]))}/"
                        f"part-{uuid.uuid4()}.parquet"
                    )
                    fsio.write_parquet_atomic(path, table.slice(a, b - a), **options)
                    written.append(path)
            except BaseException:
                # a block lands whole or not at all: the buffer keeps
                # the rows, so a retry must not find some days written
                for path in written:
                    fsio.delete(path)
                raise
            self._add_block(
                int(ts[0]), int(ts[-1]), len(ts), 1 + int(np.count_nonzero(ts[1:] != ts[:-1]))
            )
        if condition.remove_from_memory:
            del self._sorted[i:j]
        return len(rows)

    def persist_dataframe(self, df: DataFrame) -> None:
        """Bulk path: append an arbitrary-size DataFrame with schema
        (ts long, f0..fn) as one block. Distributed end-to-end.

        The per-metrics lockfile (T5) guards the block-append +
        manifest read-modify-write against other *processes* sharing
        the warehouse, mirroring write_datas_to_local
        (write.rs:185-202)."""
        df = to_nano_spine(df)
        stats = df.agg(
            F.min(TS_COLUMN).alias("mn"),
            F.max(TS_COLUMN).alias("mx"),
            F.count("*").alias("rows"),
            F.countDistinct(TS_COLUMN).alias("dts"),
        ).collect()[0]
        if stats["rows"] == 0:
            return
        out = with_partition_column(df)
        with metrics_lock(
            self.db_dir, self.metrics, self.writer_id, self.lock_timeout_sec
        ):
            (
                out.repartition(PARTITION_COLUMN)
                .sortWithinPartitions(TS_COLUMN)
                .write.mode("append")
                .partitionBy(PARTITION_COLUMN)
                .parquet(self.block_dir)
            )
            self._add_block(
                int(stats["mn"]), int(stats["mx"]), int(stats["rows"]), int(stats["dts"])
            )

    def _add_block(self, mn: int, mx: int, rows: int, distinct_ts: int) -> None:
        """Record a block whose files have landed in the manifest. A
        manifest failure after that is journaled (T6), so
        `.block_list`-vs-disk drift is operator-visible and repairable
        (`catalog/repair.py`), then re-raised."""
        now = now_utc_nanos()
        try:
            self.manifest.add_entry(
                BlockEntry(
                    since_nanos=mn,
                    until_nanos=mx,
                    rows=rows,
                    distinct_ts=distinct_ts,
                    written_at_nanos=now,
                ),
                updated_at_nanos=now,
            )
        except Exception as e:
            errorjournal.journal(
                self.db_dir,
                self.metrics,
                errorjournal.FAILED_TO_UPDATE_BLOCK_LIST,
                since_sec=mn // NANOS_PER_SEC,
                until_sec=mx // NANOS_PER_SEC + 1,
                detail=repr(e),
            )
            raise
