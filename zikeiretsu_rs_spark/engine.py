"""Engine facade — the top-level API, shaped like the reference's
`Engine` (zikeiretsu/src/tsdb/engine/mod.rs:151-187): build writable
stores, run queries, list metrics.

Example (mirrors zikeiretsu/example/persist/src/main.rs:38-76):

    from zikeiretsu_rs_spark import engine as z
    eng = z.Engine(spark, z.DBContext(data_dir="/tmp/zdb"))
    store = eng.writable_store(
        "trades", [FieldType.BOOL, FieldType.FLOAT64, FieldType.FLOAT64]
    )
    store.push_multi([DataPoint.new(ts, True, 100.0, 0.5), ...])
    store.persist()
    print(eng.execute(
        "with cols = [is_buy, price, size], tz = Asia/Tokyo "
        "select price, size from trades where ts in (yesterday(), today())"
    ))
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from .catalog.context import Database, DBContext
from .catalog.manifest import Manifest
from .datamodel import DataPoint, FieldType
from .ingest.writable_store import PersistCondition, WritableStore
from .query.analyzer import InterpretedQuery
from .query.executor import QueryExecutor

__all__ = [
    "DBContext",
    "Database",
    "DataPoint",
    "Engine",
    "FieldType",
    "PersistCondition",
    "WritableStore",
]


class Engine:
    def __init__(self, spark: SparkSession, ctx: DBContext):
        self.spark = spark
        self.ctx = ctx
        self._executor = QueryExecutor(spark, ctx)

    def writable_store(
        self,
        metrics: str,
        field_types: list[FieldType],
        database: str | None = None,
        validate: bool = False,
    ) -> WritableStore:
        return WritableStore(
            self.spark, self.ctx.db_dir(database), metrics, field_types, validate
        )

    def list_metrics(self, database: str | None = None) -> list[str]:
        return Manifest.list_metrics(self.ctx.db_dir(database))

    def execute(self, query: str, now_nanos: int | None = None):
        """Run a dialect query; returns rendered table/json string, a
        DataFrame (output_to_memory), or None (file output)."""
        return self._executor.execute(query, now_nanos)

    def execute_to_df(self, query: str, now_nanos: int | None = None) -> DataFrame:
        df, _ = self._executor.execute_to_df(query, now_nanos)
        return df

    def execute_to_arrow(
        self, query: str, now_nanos: int | None = None
    ) -> tuple[pa.Table, InterpretedQuery]:
        """Run a dialect query and collect its answer as an Arrow table,
        with the interpreted query (for its output condition). Collected
        straight from Spark's Arrow batches: a pandas hop would turn a
        nullable long column into float64. The Flight and HTTP servers
        answer from this."""
        df, iq = self._executor.execute_to_df(query, now_nanos)
        return df.toArrow(), iq
