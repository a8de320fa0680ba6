"""Translator: SearchMetricsQuery -> the answer, on one of two shapes.

Reference pipeline equivalent (SURVEY §3.5): `Engine::search` /
`search_dataframe` (storage/api/read.rs:172-280) reads a query's block
files directly and runs

    blocks in range (manifest)
      -> ts range + dt partition filter (block-list pruning, S1; F5/F6)
      -> distinct-ts limit              (L1-L4)
      -> ts-ascending output order
      -> select/rename + RFC3339        (P1-P3, D6)

The manifest picks the shape (`_one_task`). When the blocks the answer
is read from hold at most `spark.sql.files.openCostInBytes` of rows
(4 MiB by default), `arrow_search` builds the answer on the driver as a
pyarrow Table and runs no Spark job:

- it lists the `dt=` dirs inside the query's day bounds (the same
  bounds the Spark predicates carry) and reads them with
  `pyarrow.dataset` under the ts filter, skipping `.`/`_`-prefixed
  files as Spark does;
- a limit's distinct-ts threshold is found over the blocks the limit
  keeps, with the same manifest-overcount fallback as the Spark shape;
- rows are stable-sorted by ts, projected, renamed and rendered with
  `rfc3339_arrow`.

The rule is also the bound on what one query holds in driver memory:
when the overcount fallback would need more than the rule's rows,
`arrow_search` gives up and the query runs the Spark shape.

Larger answers are a distributed Spark plan (`translate_search`). It
costs no job to plan a range and one for a limit threshold:

- the scan schema comes from the schema registry, so no footer-reading
  inference job runs at plan time;
- predicates and the projection are SQL text (one `where` / one
  `selectExpr`): PySpark builds each `functions.*` Column with extra
  py4j round trips, and the RFC3339 expression alone is dozens of
  them;
- the threshold and the `orderBy(ts)` are distributed, so no single
  task ever funnels a large scan.

Both shapes return identical rows under an identical schema (every
field nullable: Spark's file reader drops the not-null `ts`). Neither
caches decoded data: the OS page cache under snappy Parquet serves a
repeated range (SURVEY.md:419). `use_cache` drives only the
parsed-manifest memo in `catalog/manifest.py`.
"""

from __future__ import annotations

import operator
from dataclasses import dataclass
from functools import reduce

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyarrow import fs as pafs
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import fsio
from ..catalog.manifest import BlockEntry, Manifest
from ..datamodel import (
    PARTITION_COLUMN,
    TS_COLUMN,
    FieldType,
    day_key,
    field_column_names,
    metrics_arrow_schema,
    metrics_schema,
)
from ..datetime_util import NANOS_PER_SEC, rfc3339_offset_suffix
from ..errors import InvalidColumnDefinition
from ..operators.limits import bound_predicate, distinct_ts_threshold
from .analyzer import LimitKind, SearchCondition, SearchMetricsQuery


def _day_bounds(cond: SearchCondition) -> tuple[str | None, str | None]:
    """The first and last `dt` partition of [since, until) (None:
    unbounded). `until` is exclusive but sits inside its day."""
    return (
        None if cond.since_nanos is None else day_key(cond.since_nanos),
        None if cond.until_nanos is None else day_key(cond.until_nanos),
    )


def _range_predicate(cond: SearchCondition) -> str | None:
    """[since, until) on the nano spine plus the derived `dt` partition
    key, so Catalyst prunes partition directories before listing files
    and pushes the ts bounds to the Parquet reader."""
    first_day, last_day = _day_bounds(cond)
    terms = []
    if cond.since_nanos is not None:
        terms.append(f"{TS_COLUMN} >= {cond.since_nanos}L")
        terms.append(f"{PARTITION_COLUMN} >= '{first_day}'")
    if cond.until_nanos is not None:
        terms.append(f"{TS_COLUMN} < {cond.until_nanos}L")
        terms.append(f"{PARTITION_COLUMN} <= '{last_day}'")
    return " AND ".join(terms) or None


def _block_bound_predicate(bound: int, tail: bool) -> str:
    """`ts >= bound` (tail) / `ts <= bound` (head) with the matching
    `dt` partition bound."""
    op = ">=" if tail else "<="
    return (
        f"{bound_predicate(bound, tail=tail)} "
        f"AND {PARTITION_COLUMN} {op} '{day_key(bound)}'"
    )


# Nano-precision RFC3339 rendering (reference
# TimestampNano::as_formated_datetime, timestamp_nano.rs:58-71; offset
# applied additively like dataseries_ref.rs:86-106). date_format drops
# sub-microsecond digits, so the 9-digit fraction is rebuilt from the
# long column. Seconds come from exact integer math — frac =
# pmod(local, 1e9), secs = (local - frac) div 1e9 — which floors toward
# -inf for pre-epoch values; a double division would round a fraction
# of .99999976 s or more up into the next second. The SQL text, the
# Column and the Arrow spellings below must stay the same formula
# (tests/test_rfc3339.py checks all three against datetime_util).
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


def rfc3339_arrow(ts: pa.Array | pa.ChunkedArray, offset_seconds: int) -> pa.Array:
    """Arrow spelling of `rfc3339_sql` over non-null int64 nanos `ts`:
    numpy's `%` and `//` floor like `pmod` and `div`, and a naive
    `timestamp[s]` formats like `date_format` under the session's UTC
    time zone."""
    local = ts.to_numpy() + offset_seconds * NANOS_PER_SEC
    frac = local % NANOS_PER_SEC
    secs = (local - frac) // NANOS_PER_SEC
    return pc.binary_join_element_wise(
        pc.strftime(pa.array(secs, pa.timestamp("s")), format="%Y-%m-%dT%H:%M:%S"),
        ".",
        pc.utf8_lpad(pa.array(frac).cast(pa.string()), width=9, padding="0"),
        rfc3339_offset_suffix(offset_seconds),
        "",
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


def _quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


@dataclass(frozen=True)
class SearchPlan:
    """What both shapes of one data query share: the columns it
    answers and the manifest blocks it reads."""

    q: SearchMetricsQuery
    block_dir: str
    field_types: list[FieldType]
    selected: list[str]  # physical field columns, in output order
    out_names: list[str]  # ts first
    cand: list[BlockEntry]  # the blocks in range
    kept: list[BlockEntry]  # the blocks the answer is read from
    tail: bool  # a tail limit

    @property
    def limit_bound(self) -> int | None:
        """The ts bound of the blocks a limit keeps, when it keeps
        fewer than are in range: the kept blocks' last `until` (head)
        or first `since` (tail)."""
        if len(self.kept) == len(self.cand):
            return None
        if self.tail:
            return min(e.since_nanos for e in self.kept)
        return max(e.until_nanos for e in self.kept)


def plan_search(
    db_dir: str, q: SearchMetricsQuery, field_types: list[FieldType]
) -> SearchPlan:
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
    return SearchPlan(
        q, f"{db_dir}/block/{q.metrics}", field_types, selected, out_names, cand, kept, tail
    )


# -- the Arrow shape ---------------------------------------------------------


def _day_dirs(fs, root: str, first_day: str | None, last_day: str | None) -> list[str]:
    """The `dt=` dirs of block dir `root` whose day lies in
    [first_day, last_day] (None: unbounded): the partitions Spark's
    `dt` predicate keeps."""
    prefix = f"{PARTITION_COLUMN}="
    return sorted(
        info.path
        for info in fs.get_file_info(pafs.FileSelector(root, allow_not_found=True))
        if info.type is pafs.FileType.Directory
        and info.base_name.startswith(prefix)
        and (first_day is None or info.base_name[len(prefix):] >= first_day)
        and (last_day is None or info.base_name[len(prefix):] <= last_day)
    )


def _arrow_threshold(ts: pa.ChunkedArray, n: int, tail: bool) -> tuple[int | None, int]:
    """`operators.limits.distinct_ts_threshold` over an in-memory,
    non-null ts column: (the n-th distinct ts from the head, or from
    the tail, and the number of distinct ts found, at most n)."""
    distinct = np.unique(ts.to_numpy())
    k = min(n, len(distinct))
    if k == 0:
        return None, 0
    return int(distinct[-k] if tail else distinct[k - 1]), k


def arrow_search(spark: SparkSession, p: SearchPlan) -> pa.Table | None:
    """The answer built on the driver, with no Spark job; None when the
    blocks it reads (the kept ones, or all in range for the manifest
    overcount fallback) hold more than `_one_task` allows."""
    if not _one_task(spark, p.kept, p.field_types):
        return None
    q, cond, tail = p.q, p.q.condition, p.tail
    fs, root = fsio.dataset_filesystem(p.block_dir)
    fs = fs or pafs.LocalFileSystem()
    first_day, last_day = _day_bounds(cond)
    ts = pc.field(TS_COLUMN)
    # every data query bounds ts on at least one side (the analyzer
    # requires a ts condition), which also drops null ts as Spark does
    where = [ts >= cond.since_nanos] if cond.since_nanos is not None else []
    if cond.until_nanos is not None:
        where.append(ts < cond.until_nanos)
    schema = pa.schema(f.with_nullable(True) for f in metrics_arrow_schema(p.field_types))
    columns = list(dict.fromkeys([TS_COLUMN, *p.selected]))

    def read(first: str | None, last: str | None, *bounds: pc.Expression) -> pa.Table:
        files = sorted(
            f.path
            for d in _day_dirs(fs, root, first, last)
            for f in fs.get_file_info(pafs.FileSelector(d))
            if f.type is pafs.FileType.File and not f.base_name.startswith((".", "_"))
        )
        dataset = ds.dataset(files, schema=schema, format="parquet", filesystem=fs)
        return dataset.to_table(columns=columns, filter=reduce(operator.and_, [*where, *bounds]))

    lim = cond.limit
    if lim is None:
        table = read(first_day, last_day)
    elif lim.n <= 0:
        table = schema.empty_table().select(columns)
    else:
        table = None
        bound = p.limit_bound
        if bound is not None:
            # the threshold over the kept blocks only, kept when they
            # really hold n distinct ts (see `_apply_limit`)
            bound_day = day_key(bound)
            if tail:
                first = bound_day if first_day is None else max(first_day, bound_day)
                pruned = read(first, last_day, ts >= bound)
            else:
                last = bound_day if last_day is None else min(last_day, bound_day)
                pruned = read(first_day, last, ts <= bound)
            thr, cnt = _arrow_threshold(pruned.column(TS_COLUMN), lim.n, tail)
            if cnt == lim.n:
                table = pruned.filter(ts >= thr if tail else ts <= thr)
            elif not _one_task(spark, p.cand, p.field_types):
                return None
        if table is None:
            whole = read(first_day, last_day)
            thr, _ = _arrow_threshold(whole.column(TS_COLUMN), lim.n, tail)
            if thr is None:
                table = whole.slice(0, 0)
            else:
                table = whole.filter(ts >= thr if tail else ts <= thr)

    # sort_indices is stable: rows sharing a ts keep their file order
    table = table.take(pc.sort_indices(table, [(TS_COLUMN, "ascending")]))
    ts_out = table.column(TS_COLUMN)
    if q.format_datetime:
        ts_out = rfc3339_arrow(ts_out, q.timezone.offset_seconds)
    fields = [pa.field(p.out_names[0], ts_out.type)]
    fields += [pa.field(name, schema.field(c).type) for c, name in zip(p.selected, p.out_names[1:])]
    return pa.Table.from_arrays(
        [ts_out, *(table.column(c) for c in p.selected)], schema=pa.schema(fields)
    )


# -- the Spark shape ---------------------------------------------------------


def _apply_limit(df: DataFrame, p: SearchPlan, n: int) -> DataFrame:
    """Distinct-ts limit (`operators/limits.py`) with manifest block
    pruning (L4). `p.cand` are the blocks in range and `p.kept` the
    prefix (head) / suffix (tail) of them whose per-block distinct_ts
    reach n (`Manifest.prune_for_limit`; the reference accumulates
    `timestamp_num` to skip whole blocks, storage/api/read.rs:115-170).
    When `kept` drops blocks, the threshold is computed over those
    blocks only and — after verifying they really hold n distinct
    timestamps (cross-block duplicate ts can make the manifest
    overcount; the sufficiency check keeps results exact where the
    reference's own pruning could truncate) — applied as a LITERAL
    predicate, so both jobs touch only the pruned blocks and the final
    scan skips row groups on a constant comparison."""
    if n <= 0:
        return df.limit(0)
    bound = p.limit_bound
    if bound is not None:
        pruned = df.where(_block_bound_predicate(bound, p.tail))
        thr, cnt = distinct_ts_threshold(pruned, n, tail=p.tail)
        if cnt == n:
            return pruned.where(bound_predicate(thr, tail=p.tail))
        # manifest overcounted (shared ts across blocks): fall through
        # to the unpruned threshold — correctness first
    thr, _ = distinct_ts_threshold(df, n, tail=p.tail)
    if thr is None:
        return df.limit(0)
    return df.where(bound_predicate(thr, tail=p.tail))


def translate_search(spark: SparkSession, p: SearchPlan) -> DataFrame:
    """The distributed Spark plan of `p`'s answer."""
    q = p.q
    schema = metrics_schema(p.field_types).add(PARTITION_COLUMN, "string")
    df = spark.read.schema(schema).parquet(p.block_dir)
    pred = _range_predicate(q.condition)
    if pred is not None:
        df = df.where(pred)
    if q.condition.limit is not None:
        df = _apply_limit(df, p, q.condition.limit.n)

    # results are always ts-ascending (SURVEY §2.4: no ORDER BY exists;
    # data is served sorted), ordered on the long spine before rendering
    df = df.orderBy(TS_COLUMN)
    ts = rfc3339_sql(TS_COLUMN, q.timezone.offset_seconds) if q.format_datetime else TS_COLUMN
    return df.selectExpr(
        f"{ts} AS {_quote(p.out_names[0])}",
        *(f"{_quote(c)} AS {_quote(name)}" for c, name in zip(p.selected, p.out_names[1:])),
    )
