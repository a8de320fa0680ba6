"""Data model: field types, datapoints, schema construction.

Reference mapping (SURVEY.md §1.5):
- `DataPoint { timestamp_nano, field_values }`
  (data_types/datapoint.rs:10-13) -> a row `(ts, f0, f1, ...)`.
- `FieldType` (data_types/field.rs:99-107) -> Spark and Arrow types. The
  reference persists only Float64/Bool (block/write.rs:89-91); the
  rebuild persists every type via Parquet but keeps the enum for API
  parity.
- Column names are optional and query-supplied; physical columns are
  positional `f0..fn` with `ts` first.
- Blocks are partitioned by `dt`, the UTC day of `ts`. `day_key` and
  `day_key_sql` are the one definition of that key, for writers and
  readers alike; `nanos_to_timestamp` floors `ts` to a microsecond
  TimestampType the same exact way.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import date
from enum import Enum

import pyarrow as pa
from pyspark.sql import types as T

from .datetime_util import NANOS_PER_DAY


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

    def arrow_type(self) -> pa.DataType:
        return _SPARK_TYPES[self][2]


# FieldType -> (Spark type, byte width, Arrow type). The Arrow type is
# the one a Parquet file written from Arrow reads back as the Spark type.
_SPARK_TYPES = {
    FieldType.FLOAT64: (T.DoubleType(), 8, pa.float64()),
    FieldType.BOOL: (T.BooleanType(), 1, pa.bool_()),
    FieldType.STRING: (T.StringType(), 20, pa.string()),
    FieldType.UINT64: (T.LongType(), 8, pa.int64()),
    FieldType.TIMESTAMP_NANO: (T.LongType(), 8, pa.int64()),
    FieldType.TIMESTAMP_SEC: (T.LongType(), 8, pa.int64()),
    FieldType.VACANT: (T.NullType(), 1, pa.null()),
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


def metrics_arrow_schema(field_types: list[FieldType]) -> pa.Schema:
    """The Arrow twin of `metrics_schema`."""
    fields = [pa.field(TS_COLUMN, pa.int64(), nullable=False)]
    for name, ft in zip(field_column_names(len(field_types)), field_types):
        fields.append(pa.field(name, ft.arrow_type()))
    return pa.schema(fields)


_EPOCH_ORDINAL = date(1970, 1, 1).toordinal()


def day_key(nanos: int) -> str:
    """The `dt` partition value (UTC `YYYY-MM-DD`) of epoch nanos
    `nanos`: the day is floored, so 1 ns before midnight stays in its
    day and pre-epoch instants fall in the day before."""
    return date.fromordinal(_EPOCH_ORDINAL + nanos // NANOS_PER_DAY).isoformat()


def day_key_sql(ts: str) -> str:
    """SQL-text `day_key` of the long nanos expression `ts`. The day
    number comes from exact integer math, (ts - pmod(ts, D)) div D,
    which floors toward -inf; a double division would round the last
    fraction of a microsecond before midnight into the next day."""
    days = f"(({ts}) - pmod({ts}, {NANOS_PER_DAY}L)) div {NANOS_PER_DAY}L"
    return f"CAST(date_from_unix_date({days}) AS STRING)"


def nanos_to_timestamp(ts):
    """Microsecond TimestampType Column of the long nanos Column `ts`,
    floored to its microsecond: (ts - pmod(ts, 1000)) div 1000 is exact
    integer math, where a double division rounds a ts within about
    0.25 us of the next microsecond up (1 ns before midnight would read
    as midnight) and a cast truncates pre-epoch values toward zero."""
    from pyspark.sql import functions as F

    micros = F.call_function("div", ts - F.pmod(ts, F.lit(1000)), F.lit(1000))
    return F.timestamp_micros(micros)


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
