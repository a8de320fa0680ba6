"""Executor: dispatch InterpretedQuery -> answer (+ output routing).

Reference: query/executor/mod.rs:34-120 (dispatch),
metrics_list.rs:6-19 (.metrics), describe_metrics.rs:9-158
(.describe/.block_list), search_metrics.rs:8-30 (data queries).

An answer is a pyarrow Table built on the driver with no Spark job:
every metadata answer, and every data answer the manifest sizes within
the translator's one-task rule (`translator.arrow_search`). A larger
data answer is a distributed Spark DataFrame (`translate_search`).
`execute_to_arrow` collects either as a Table; `run` / `execute_to_df`
wrap a Table with `createDataFrame`, which runs no job. On the
`execute_to_arrow` path Spark work (the distributed plan's threshold
job and its collect) takes `spark_lock`, so concurrent callers queue
for Spark only.
"""

from __future__ import annotations

import threading

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
from .translator import arrow_search, plan_search, translate_search


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
        # a SparkSession is driver-side shared state: Spark work of
        # concurrent callers queues here, Arrow answers take no lock
        self.spark_lock = threading.Lock()

    # -- public API ----------------------------------------------------
    def execute(self, query: str, now_nanos: int | None = None):
        """Parse, analyze, run and route a query. Returns whatever the
        output condition dictates (rendered string / DataFrame / None)."""
        iq = self._interpret(query, now_nanos)
        return write_output(self.spark, self.answer(iq), iq.output_condition)

    def execute_to_df(
        self, query: str, now_nanos: int | None = None
    ) -> tuple[DataFrame, InterpretedQuery]:
        iq = self._interpret(query, now_nanos)
        return self.run(iq), iq

    def execute_to_arrow(
        self, query: str, now_nanos: int | None = None
    ) -> tuple[pa.Table, InterpretedQuery]:
        iq = self._interpret(query, now_nanos)
        answer = self.answer(iq)
        if isinstance(answer, DataFrame):
            with self.spark_lock:
                answer = answer.toArrow()
        return answer, iq

    @staticmethod
    def _interpret(query: str, now_nanos: int | None) -> InterpretedQuery:
        parsed = parse_query(query)
        return interpret(parsed, now_nanos if now_nanos is not None else now_utc_nanos())

    # -- dispatch ------------------------------------------------------
    def run(self, iq: InterpretedQuery) -> DataFrame:
        answer = self.answer(iq)
        if isinstance(answer, pa.Table):
            return self.spark.createDataFrame(answer)
        return answer

    def answer(self, iq: InterpretedQuery) -> pa.Table | DataFrame:
        """The Arrow table of `iq`'s answer, or the Spark DataFrame of a
        data answer too large for the driver."""
        if isinstance(iq, ListMetricsQuery):
            return self._list_metrics(iq)
        if isinstance(iq, DescribeMetricsQuery):
            return self._describe(iq)
        assert isinstance(iq, SearchMetricsQuery)
        return self._search(iq)

    # -- builtin metadata queries -------------------------------------
    @staticmethod
    def _frame(rows: list[tuple], schema: pa.Schema) -> pa.Table:
        return pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows], schema=schema)

    def _list_metrics(self, iq: ListMetricsQuery) -> pa.Table:
        """.metrics: one String column (metrics_list.rs:6-19)."""
        names = Manifest.list_metrics(self.ctx.db_dir(iq.database))
        return self._frame([(n,) for n in names], _METRICS_SCHEMA)

    def _describe(self, iq: DescribeMetricsQuery) -> pa.Table:
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
            # block_num, from and end all come from this one snapshot
            entries = m.load(use_cache=iq.setting.use_cache)
            rows.append(
                (
                    name,
                    m.updated_at_nanos(),
                    len(entries),
                    min((e.since_nanos for e in entries), default=0) // NANOS_PER_SEC,
                    max((e.until_nanos for e in entries), default=0) // NANOS_PER_SEC,
                )
            )
        return self._frame(rows, _DESCRIBE_SCHEMA)

    # -- data queries --------------------------------------------------
    def _search(self, iq: SearchMetricsQuery) -> pa.Table | DataFrame:
        db_dir = self.ctx.db_dir(iq.database)
        field_types = SchemaRegistry(db_dir).load(iq.metrics)
        if field_types is None:
            raise StorageError(f"metrics not found: {iq.metrics}")
        plan = plan_search(db_dir, iq, field_types)
        table = arrow_search(self.spark, plan)
        if table is not None:
            return table
        with self.spark_lock:
            return translate_search(self.spark, plan)
