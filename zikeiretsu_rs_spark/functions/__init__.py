"""Public column-expression API over the nano timestamp spine — the
engine's `pyspark.sql.functions` analog. Everything here is a native
Column expression (whole-stage-codegen-eligible, no UDFs).

The reference has no scalar-function surface beyond datetime handling
(SURVEY §2.9); this module re-exports the engine's datetime rendering
plus the vector/text primitives the extension operators are built on,
so library users can compose their own DataFrame chains.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..datamodel import nanos_to_timestamp
from ..operators.similarity import _dot as vec_dot  # noqa: F401
from ..operators.similarity import _norm as vec_norm  # noqa: F401
from ..operators.text import words_col  # noqa: F401
from ..query.translator import rfc3339_col  # noqa: F401

NANOS_PER_SEC = 1_000_000_000


def ts_bucket(ts: Column, width_nanos: int) -> Column:
    """Tumbling-bucket start for a nano-long timestamp column."""
    return ts - ts % F.lit(width_nanos)


def ts_to_timestamp(ts: Column) -> Column:
    """Microsecond-precision TimestampType view of the nano spine (for
    display / interop; sub-µs bits are floored, so 1 ns before midnight
    stays in its day — the long column stays the source of truth)."""
    return nanos_to_timestamp(ts)


def timestamp_to_ts(t: Column) -> Column:
    """TimestampType -> nano-long spine (µs precision * 1000)."""
    return F.unix_micros(t) * F.lit(1000)


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity between two array<double> columns."""
    return vec_dot(a, b) / (vec_norm(a) * vec_norm(b))


__all__ = [
    "NANOS_PER_SEC",
    "cosine",
    "rfc3339_col",
    "timestamp_to_ts",
    "ts_bucket",
    "ts_to_timestamp",
    "vec_dot",
    "vec_norm",
    "words_col",
]
