"""zikeiretsu_rs_spark — a PySpark-native rebuild of the capabilities of
tacogips/zikeiretsu-rs (a nanosecond-resolution time-series database),
plus large-scale data-pipeline operators (dedup, similarity search, text
analysis, multimodal plumbing).

Design stance (SURVEY.md §7): the reference's custom storage engine
(compressed blocks, WAL, caches, GCS sync) is replaced wholesale by
Parquet + Spark; what is ported precisely is the query dialect and its
datetime/timezone/distinct-timestamp-limit semantics, the catalog
metadata queries, and the ingest API shape. The timestamp spine is a
LongType epoch-nanoseconds column everywhere.
"""

from .datetime_util import (
    DEFAULT_TIMEZONE,
    DatetimeAccuracy,
    TimeZoneAndOffset,
    format_rfc3339_nanos,
    resolve_timezone,
)
from .query.parser import parse_query

__all__ = [
    "DBContext",
    "DEFAULT_TIMEZONE",
    "DatetimeAccuracy",
    "Engine",
    "TimeZoneAndOffset",
    "format_rfc3339_nanos",
    "parse_query",
    "resolve_timezone",
]

__version__ = "0.2.0"

_LAZY = {
    # pyspark-importing entry points, loaded on first access so that
    # `import zikeiretsu_rs_spark` stays cheap for parser/datetime use
    "Engine": ("zikeiretsu_rs_spark.engine", "Engine"),
    "DBContext": ("zikeiretsu_rs_spark.catalog.context", "DBContext"),
}


def __getattr__(name: str):
    if name in _LAZY:
        import importlib

        module, attr = _LAZY[name]
        return getattr(importlib.import_module(module), attr)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
