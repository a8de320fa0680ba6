"""Translator: SearchMetricsQuery -> DataFrame expression chain.

Reference pipeline equivalent (SURVEY §3.5): `Engine::search` /
`search_dataframe` (storage/api/read.rs:172-280) becomes

    read.schema(registry).parquet(block_dir)
      -> ts range + dt partition filter (block-list pruning, S1; F5/F6)
      -> distinct-ts limit              (L1-L4)
      -> ts-ascending output order
      -> select/rename + RFC3339        (P1-P3, D6)

The served path costs one Spark job for its answer and at most one
more for a limit threshold:

- the scan schema comes from the schema registry, so no footer-reading
  inference job runs at plan time;
- predicates and the projection are SQL text (one `where` / one
  `selectExpr`): PySpark builds each `functions.*` Column with extra
  py4j round trips, and the RFC3339 expression alone is dozens of
  them;
- when the manifest says the blocks the answer is read from hold at
  most `spark.sql.files.openCostInBytes` of rows (the finest split
  Spark's own split-size formula makes, and the measured crossover in
  SCALE.md) the answer is ordered by `coalesce(1)
  .sortWithinPartitions(ts)` and the limit threshold runs over
  `coalesce(1)`: no range-partition sample job, no shuffle, and no
  Exchange for AQE to split the cached range off into a stage of its
  own. Larger answers keep the distributed `orderBy(ts)` and
  threshold, so no single task ever funnels a large scan. Both shapes
  return identical rows; the manifest only picks the shape.

Everything stays in native Spark expressions (whole-stage codegen); the
nanosecond RFC3339 formatter is built from string functions, not a UDF.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog.manifest import BlockEntry, Manifest
from ..datamodel import (
    PARTITION_COLUMN,
    TS_COLUMN,
    FieldType,
    field_column_names,
    metrics_schema,
)
from ..datetime_util import NANOS_PER_DAY, NANOS_PER_SEC, rfc3339_offset_suffix
from ..errors import InvalidColumnDefinition
from ..operators.limits import bound_predicate, distinct_ts_threshold
from .analyzer import LimitKind, SearchCondition, SearchMetricsQuery


def _dt_string(nanos: int) -> str:
    from datetime import date

    days = nanos // NANOS_PER_DAY
    return date.fromordinal(date(1970, 1, 1).toordinal() + days).isoformat()


def _range_predicate(cond: SearchCondition) -> str | None:
    """[since, until) on the nano spine plus the derived `dt` partition
    key, so Catalyst prunes partition directories before listing files
    and pushes the ts bounds to the Parquet reader."""
    terms = []
    if cond.since_nanos is not None:
        terms.append(f"{TS_COLUMN} >= {cond.since_nanos}L")
        terms.append(f"{PARTITION_COLUMN} >= '{_dt_string(cond.since_nanos)}'")
    if cond.until_nanos is not None:
        terms.append(f"{TS_COLUMN} < {cond.until_nanos}L")
        # until is exclusive but sits inside its day partition
        terms.append(f"{PARTITION_COLUMN} <= '{_dt_string(cond.until_nanos)}'")
    return " AND ".join(terms) or None


def _block_bound_predicate(bound: int, tail: bool) -> str:
    """`ts >= bound` (tail) / `ts <= bound` (head) with the matching
    `dt` partition bound."""
    op = ">=" if tail else "<="
    return (
        f"{bound_predicate(bound, tail=tail)} "
        f"AND {PARTITION_COLUMN} {op} '{_dt_string(bound)}'"
    )


# Nano-precision RFC3339 rendering (reference
# TimestampNano::as_formated_datetime, timestamp_nano.rs:58-71; offset
# applied additively like dataseries_ref.rs:86-106). date_format drops
# sub-microsecond digits, so the 9-digit fraction is rebuilt from the
# long column. Seconds come from exact integer math — frac =
# pmod(local, 1e9), secs = (local - frac) div 1e9 — which floors toward
# -inf for pre-epoch values; a double division would round a fraction
# of .99999976 s or more up into the next second. The SQL text and the
# Column spelling below must stay the same formula
# (tests/test_rfc3339.py checks both against datetime_util).
_SECOND_PATTERN = "yyyy-MM-dd'T'HH:mm:ss"


def rfc3339_sql(ts: str, offset_seconds: int) -> str:
    """SQL-text RFC3339 rendering of the long nanos expression `ts`."""
    local = f"({ts} + {offset_seconds * NANOS_PER_SEC}L)" if offset_seconds else ts
    frac = f"pmod({local}, {NANOS_PER_SEC}L)"
    secs = f"({local} - {frac}) div {NANOS_PER_SEC}L"
    return (
        f'concat(date_format(timestamp_seconds({secs}), "{_SECOND_PATTERN}"), '
        f"'.', lpad(cast({frac} AS STRING), 9, '0'), "
        f"'{rfc3339_offset_suffix(offset_seconds)}')"
    )


def rfc3339_col(ts: Column, offset_seconds: int) -> Column:
    """Column-API RFC3339 rendering of the long nanos column `ts`
    (same formula as `rfc3339_sql`)."""
    local = ts + F.lit(offset_seconds * NANOS_PER_SEC)
    frac = F.pmod(local, F.lit(NANOS_PER_SEC))
    secs = F.call_function("div", local - frac, F.lit(NANOS_PER_SEC))
    return F.concat(
        F.date_format(F.timestamp_seconds(secs), _SECOND_PATTERN),
        F.lit("."),
        F.lpad(frac.cast("string"), 9, "0"),
        F.lit(rfc3339_offset_suffix(offset_seconds)),
    )


def _one_task(
    spark: SparkSession, blocks: list[BlockEntry], field_types: list[FieldType]
) -> bool:
    """True when the manifest blocks an answer is read from hold no
    more than `spark.sql.files.openCostInBytes` of rows (rows x
    in-memory row width; 4 MiB by default). Spark's own split size,
    min(maxPartitionBytes, max(openCostInBytes, bytes / cores)), never
    cuts a scan finer than that, and that is where one task stopped
    beating the distributed sort when measured (SCALE.md, "The served
    path"). No blocks (a store without manifest entries) means the
    size is unknown: the distributed shape."""
    if not blocks:
        return False
    width = 8 + sum(ft.byte_width() for ft in field_types)  # ts + fields
    task_bytes = spark._jsparkSession.sessionState().conf().filesOpenCostInBytes()
    return sum(e.rows for e in blocks) * width <= task_bytes


def _apply_limit(
    df: DataFrame,
    cand: list[BlockEntry],
    kept: list[BlockEntry],
    n: int,
    tail: bool,
    one_task: Callable[[list[BlockEntry]], bool],
) -> DataFrame:
    """Distinct-ts limit (`operators/limits.py`) with manifest block
    pruning (L4). `cand` are the blocks in range and `kept` the
    prefix (head) / suffix (tail) of them whose per-block distinct_ts
    reach n (`Manifest.prune_for_limit`; the reference accumulates
    `timestamp_num` to skip whole blocks, storage/api/read.rs:115-170).
    When `kept` drops blocks, the threshold is computed over those
    blocks only and — after verifying they really hold n distinct
    timestamps (cross-block duplicate ts can make the manifest
    overcount; the sufficiency check keeps results exact where the
    reference's own pruning could truncate) — applied as a LITERAL
    predicate, so both jobs touch only the pruned blocks and the final
    scan skips row groups on a constant comparison. `one_task(blocks)`
    picks a `coalesce(1)` threshold for a scan of `blocks`."""
    if n <= 0:
        return df.limit(0)
    if len(kept) < len(cand):
        bound = min(e.since_nanos for e in kept) if tail else max(e.until_nanos for e in kept)
        pruned = df.where(_block_bound_predicate(bound, tail))
        scan = pruned.coalesce(1) if one_task(kept) else pruned
        thr, cnt = distinct_ts_threshold(scan, n, tail=tail)
        if cnt == n:
            return pruned.where(bound_predicate(thr, tail=tail))
        # manifest overcounted (shared ts across blocks): fall through
        # to the unpruned threshold — correctness first
    scan = df.coalesce(1) if one_task(cand) else df
    thr, _ = distinct_ts_threshold(scan, n, tail=tail)
    if thr is None:
        return df.limit(0)
    return df.where(bound_predicate(thr, tail=tail))


# Decoded-data cache (the reference's block LRU analog,
# storage/cache/block_cache.rs:13-52, wired to the dialect's
# `use_cache` setting exactly like the manifest memo in
# catalog/manifest.py): the scanned+trimmed metrics DataFrame for a
# query's block range is .cache()d and memoized per
# (block_dir, manifest updated_at, range, limit). A repeated query
# over the same range serves its second execution from storage memory
# (InMemoryTableScan) instead of re-reading and re-decoding Parquet —
# the reference caches decoded blocks per block_timestamp with the
# same effect. Granularity is the RDD partition (≈ one file split,
# the reference's block), lazily materialized: only partitions an
# action touches get cached. Eviction: Spark's storage manager evicts
# LRU under memory pressure (MEMORY_AND_DISK — the bounded-cache
# property the reference gets from its LRU capacity), and entries for
# a stale manifest updated_at are unpersisted on the next read
# (write-through invalidation, mirroring Manifest.save). The cache
# boundary sits ABOVE the range filter + limit, so the cached child
# plan keeps full Parquet pushdown for its first execution and
# different projections of the same range share one entry.
# LRU, capacity-bounded like the reference block cache (block_cache.rs
# caps entries; unbounded growth would otherwise accumulate one
# MEMORY_AND_DISK plan per distinct query range — disk blocks are only
# freed by explicit unpersist, not by the storage manager's memory
# eviction). dict preserves insertion order; hits re-insert (LRU).
_SCAN_CACHE: dict[tuple, DataFrame] = {}
_SCAN_CACHE_MAX = 32
_SCAN_CACHE_LOCK = __import__("threading").Lock()


def _evict_locked(k: tuple) -> None:
    df = _SCAN_CACHE.pop(k, None)
    if df is not None:
        try:
            df.unpersist()
        except Exception:
            pass


def _scan_cache_lookup(
    spark: SparkSession, key: tuple, build
) -> DataFrame:
    # Double-checked: the lock covers ONLY dict bookkeeping; build()
    # can run Spark jobs (the limit path executes a threshold .first())
    # and must NOT serialize unrelated concurrent queries behind a
    # cache miss. Two threads racing the same missing key both build;
    # the second check makes one the winner — the loser's plan was
    # never .cache()d, so nothing leaks.
    with _SCAN_CACHE_LOCK:
        cached = _SCAN_CACHE.get(key)
        if cached is not None and cached.sparkSession is spark:
            _SCAN_CACHE[key] = _SCAN_CACHE.pop(key)  # refresh LRU slot
            return cached
    df = build()
    with _SCAN_CACHE_LOCK:
        cached = _SCAN_CACHE.get(key)
        if cached is not None and cached.sparkSession is spark:
            _SCAN_CACHE[key] = _SCAN_CACHE.pop(key)
            return cached
        # invalidate entries for the same block_dir with a different
        # manifest updated_at (superseded by a write) or a dead session
        for k in list(_SCAN_CACHE):
            if k[0] == key[0] and (
                k[1] != key[1] or _SCAN_CACHE[k].sparkSession is not spark
            ):
                _evict_locked(k)
        df = df.cache()
        _SCAN_CACHE[key] = df
        while len(_SCAN_CACHE) > _SCAN_CACHE_MAX:
            _evict_locked(next(iter(_SCAN_CACHE)))  # LRU head
        return df


def _quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def translate_search(
    spark: SparkSession,
    db_dir: str,
    q: SearchMetricsQuery,
    field_types: list[FieldType],
) -> DataFrame:
    physical = field_column_names(len(field_types))
    if q.field_selectors is None:
        selected = physical
        out_names = list(q.field_names) if q.field_names else [TS_COLUMN] + physical
    else:
        selected = [physical[i] for i in q.field_selectors]
        assert q.field_names is not None
        out_names = list(q.field_names)
    if len(out_names) != len(selected) + 1:
        raise InvalidColumnDefinition(
            f"{len(out_names) - 1} column names for {len(selected)} fields: "
            + ",".join(out_names[1:])
        )
    block_dir = f"{db_dir}/block/{q.metrics}"
    cond = q.condition
    # block-range search mirrors BlockList::search (block_list/mod.rs:254)
    cand = Manifest.search(
        Manifest(db_dir, q.metrics).load(use_cache=q.setting.use_cache),
        cond.since_nanos,
        cond.until_nanos,
    )
    lim = cond.limit
    tail = lim is not None and lim.kind is LimitKind.TAIL
    # the blocks the answer is read from: for a limit, those its
    # distinct_ts reach (all of `cand` when pruning drops none)
    kept = cand if lim is None else Manifest.prune_for_limit(cand, lim.n, tail=tail)

    def one_task(blocks: list[BlockEntry]) -> bool:
        return _one_task(spark, blocks, field_types)

    def build() -> DataFrame:
        schema = metrics_schema(field_types).add(PARTITION_COLUMN, "string")
        df = spark.read.schema(schema).parquet(block_dir)
        pred = _range_predicate(cond)
        if pred is not None:
            df = df.where(pred)
        if lim is not None:
            df = _apply_limit(df, cand, kept, lim.n, tail, one_task)
        return df

    if q.setting.use_cache:
        key = (
            block_dir,
            Manifest(db_dir, q.metrics).updated_at_nanos(),
            cond.since_nanos,
            cond.until_nanos,
            None if lim is None else (lim.kind, lim.n),
        )
        df = _scan_cache_lookup(spark, key, build)
    else:
        df = build()

    # results are always ts-ascending (SURVEY §2.4: no ORDER BY exists;
    # data is served sorted), ordered on the long spine before rendering.
    # After the manifest-overcount fallback a limit's answer can reach
    # past `kept`, by no more distinct ts than the manifest overcounted.
    if one_task(kept):
        df = df.coalesce(1).sortWithinPartitions(TS_COLUMN)
    else:
        df = df.orderBy(TS_COLUMN)

    ts = rfc3339_sql(TS_COLUMN, q.timezone.offset_seconds) if q.format_datetime else TS_COLUMN
    return df.selectExpr(
        f"{ts} AS {_quote(out_names[0])}",
        *(f"{_quote(p)} AS {_quote(name)}" for p, name in zip(selected, out_names[1:])),
    )
