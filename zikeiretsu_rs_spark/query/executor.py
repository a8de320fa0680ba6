"""Executor: dispatch InterpretedQuery -> DataFrame (+ output routing).

Reference: query/executor/mod.rs:34-120 (dispatch),
metrics_list.rs:6-19 (.metrics), describe_metrics.rs:9-158
(.describe/.block_list), search_metrics.rs:8-30 (data queries).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from ..catalog.context import DBContext
from ..catalog.manifest import Manifest
from ..catalog.registry import SchemaRegistry
from ..datetime_util import NANOS_PER_SEC, now_utc_nanos
from ..errors import StorageError
from .analyzer import (
    DescribeMetricsQuery,
    InterpretedQuery,
    ListMetricsQuery,
    SearchMetricsQuery,
    interpret,
)
from .output import write_output
from .parser import parse_query
from .translator import translate_search


_METRICS_SCHEMA = pa.schema([("metrics", pa.string())])
_DESCRIBE_SCHEMA = pa.schema(
    [("metrics", pa.string())]
    + [(n, pa.int64()) for n in ("updated_at", "block_num", "from", "end")]
)
_BLOCK_LIST_SCHEMA = pa.schema(
    [("metrics", pa.string())]
    + [
        (n, pa.int64())
        for n in ("updated_at", "block_num", "seq", "block_list_start", "block_list_end")
    ]
)


class QueryExecutor:
    def __init__(self, spark: SparkSession, ctx: DBContext):
        self.spark = spark
        self.ctx = ctx

    # -- public API ----------------------------------------------------
    def execute(self, query: str, now_nanos: int | None = None):
        """Parse, analyze, run and route a query. Returns whatever the
        output condition dictates (rendered string / DataFrame / None)."""
        df, iq = self.execute_to_df(query, now_nanos)
        return write_output(df, iq.output_condition)

    def execute_to_df(
        self, query: str, now_nanos: int | None = None
    ) -> tuple[DataFrame, InterpretedQuery]:
        parsed = parse_query(query)
        iq = interpret(parsed, now_nanos if now_nanos is not None else now_utc_nanos())
        return self.run(iq), iq

    # -- dispatch ------------------------------------------------------
    def run(self, iq: InterpretedQuery) -> DataFrame:
        if isinstance(iq, ListMetricsQuery):
            return self._list_metrics(iq)
        if isinstance(iq, DescribeMetricsQuery):
            return self._describe(iq)
        assert isinstance(iq, SearchMetricsQuery)
        return self._search(iq)

    # -- builtin metadata queries -------------------------------------
    def _frame(self, rows: list[tuple], schema: pa.Schema) -> DataFrame:
        """Metadata answers are built from Arrow: a DataFrame made from
        Python tuples needs a Python-worker job to decode them, one made
        from an Arrow table does not."""
        table = pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows], schema=schema)
        return self.spark.createDataFrame(table)

    def _list_metrics(self, iq: ListMetricsQuery) -> DataFrame:
        """.metrics: one String column (metrics_list.rs:6-19)."""
        names = Manifest.list_metrics(self.ctx.db_dir(iq.database))
        return self._frame([(n,) for n in names], _METRICS_SCHEMA)

    def _describe(self, iq: DescribeMetricsQuery) -> DataFrame:
        """.describe / .block_list from the manifest
        (describes_to_dataframe{,_with_block_list},
        describe_metrics.rs:72-158). `updated_at` is epoch nanos,
        `from`/`end`/`block_list_*` are epoch seconds — mirroring the
        reference's TimestampNano / TimestampSec column types."""
        db_dir = self.ctx.db_dir(iq.database)
        names = Manifest.list_metrics(db_dir)
        if iq.metrics_filter is not None:
            if iq.metrics_filter not in names:
                raise StorageError(f"metrics not found: {iq.metrics_filter}")
            names = [iq.metrics_filter]
        rows = []
        if iq.block_list:
            for name in names:
                m = Manifest(db_dir, name)
                entries = m.load(use_cache=iq.setting.use_cache)
                updated = m.updated_at_nanos()
                for seq, e in enumerate(entries, start=1):
                    rows.append(
                        (
                            name,
                            updated,
                            len(entries),
                            seq,
                            e.since_nanos // NANOS_PER_SEC,
                            e.until_nanos // NANOS_PER_SEC,
                        )
                    )
            return self._frame(rows, _BLOCK_LIST_SCHEMA)
        for name in names:
            m = Manifest(db_dir, name)
            entries = m.load(use_cache=iq.setting.use_cache)
            rng = m.range()
            rows.append(
                (
                    name,
                    m.updated_at_nanos(),
                    len(entries),
                    (rng[0] // NANOS_PER_SEC) if rng else 0,
                    (rng[1] // NANOS_PER_SEC) if rng else 0,
                )
            )
        return self._frame(rows, _DESCRIBE_SCHEMA)

    # -- data queries --------------------------------------------------
    def _search(self, iq: SearchMetricsQuery) -> DataFrame:
        db_dir = self.ctx.db_dir(iq.database)
        field_types = SchemaRegistry(db_dir).load(iq.metrics)
        if field_types is None:
            raise StorageError(f"metrics not found: {iq.metrics}")
        return translate_search(self.spark, db_dir, iq, field_types)
