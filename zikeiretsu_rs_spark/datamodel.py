"""Data model: field types, datapoints, schema construction.

Reference mapping (SURVEY.md §1.5):
- `DataPoint { timestamp_nano, field_values }`
  (data_types/datapoint.rs:10-13) -> a row `(ts, f0, f1, ...)`.
- `FieldType` (data_types/field.rs:99-107) -> Spark types. The reference
  persists only Float64/Bool (block/write.rs:89-91); the rebuild persists
  every type via Parquet but keeps the enum for API parity.
- Column names are optional and query-supplied; physical columns are
  positional `f0..fn` with `ts` first.
"""

from __future__ import annotations

from dataclasses import dataclass
from enum import Enum

from pyspark.sql import types as T


class FieldType(Enum):
    FLOAT64 = "float64"
    BOOL = "bool"
    STRING = "string"
    UINT64 = "uint64"
    TIMESTAMP_NANO = "timestamp_nano"
    TIMESTAMP_SEC = "timestamp_sec"
    VACANT = "vacant"

    def spark_type(self) -> T.DataType:
        return _SPARK_TYPES[self][0]

    def byte_width(self) -> int:
        """In-memory bytes of one value: Spark's defaultSize of the
        type (a string counts 20)."""
        return _SPARK_TYPES[self][1]


_SPARK_TYPES = {
    FieldType.FLOAT64: (T.DoubleType(), 8),
    FieldType.BOOL: (T.BooleanType(), 1),
    FieldType.STRING: (T.StringType(), 20),
    FieldType.UINT64: (T.LongType(), 8),
    FieldType.TIMESTAMP_NANO: (T.LongType(), 8),
    FieldType.TIMESTAMP_SEC: (T.LongType(), 8),
    FieldType.VACANT: (T.NullType(), 1),
}

TS_COLUMN = "ts"
PARTITION_COLUMN = "dt"  # derived date(ts) string for partition pruning


@dataclass(frozen=True)
class DataPoint:
    """Reference DataPoint (datapoint.rs:10-13)."""

    timestamp_nano: int
    field_values: tuple

    @staticmethod
    def new(ts: int, *values) -> "DataPoint":
        return DataPoint(ts, tuple(values))


def field_column_names(n: int) -> list[str]:
    """Physical positional names (anonymous fields are named by index,
    arrow_dataframe.rs:44-47)."""
    return [f"f{i}" for i in range(n)]


def metrics_schema(field_types: list[FieldType]) -> T.StructType:
    fields = [T.StructField(TS_COLUMN, T.LongType(), nullable=False)]
    for name, ft in zip(field_column_names(len(field_types)), field_types):
        fields.append(T.StructField(name, ft.spark_type(), nullable=True))
    return T.StructType(fields)


def nanos_spine_expr(col, dtype: str):
    """Column expression converting `col` of Spark dtype `dtype` to the
    engine's nano-long timestamp spine (reference timestamps are u64
    nanos, datapoint.rs:10-13).

    Naive types (TIMESTAMP_NTZ, DATE) are interpreted as UTC wall
    clock via NTZ-NTZ timestampdiff — deliberately independent of
    `spark.sql.session.timeZone`, so results match DuckDB's
    `epoch_ns()` (naive-as-UTC) under any ambient session config.
    Instant types (TIMESTAMP) use unix_micros, which is already
    tz-free. Integer inputs pass through as long."""
    from pyspark.sql import functions as F

    if dtype in ("bigint", "int", "long"):
        return col.cast("long")
    if dtype == "timestamp":
        return F.unix_micros(col) * F.lit(1000)
    if dtype in ("timestamp_ntz", "date"):
        ntz = col.cast("timestamp_ntz")
        epoch = F.expr("TIMESTAMP_NTZ '1970-01-01 00:00:00'")
        return F.timestamp_diff("MICROSECOND", epoch, ntz) * F.lit(1000)
    raise TypeError(f"cannot convert dtype {dtype!r} to nano timestamps")


def validate_metrics_name(name: str) -> str:
    """Metrics names must not start with '.' (metrics.rs:6-20)."""
    from .errors import InvalidMetrics

    if not name or name.startswith("."):
        raise InvalidMetrics(name)
    return name
