"""D6 nano RFC3339 rendering: the translator's SQL text and the public
Column spelling (`functions.rfc3339_col`) are two spellings of one
formula. Both must match the pure-Python formatter, also where a double
division would round a fraction near the top of a second up into the
next second, and before the epoch."""

import pytest

from zikeiretsu_rs_spark.datetime_util import format_rfc3339_nanos
from zikeiretsu_rs_spark.functions import rfc3339_col
from zikeiretsu_rs_spark.query.translator import rfc3339_sql

VALUES = [
    1704067200999999999,
    1632700800999999999,
    1704067200000000001,
    1632700800000000001,
    -1_000000001,
    -1,
    0,
]
OFFSETS = [0, 9 * 3600, -(5 * 3600 + 30 * 60)]


@pytest.mark.parametrize("offset", OFFSETS)
def test_sql_and_column_spellings_match_python(spark, offset):
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(v,) for v in VALUES], "ts long")
    rows = df.select(
        "ts",
        F.expr(rfc3339_sql("ts", offset)).alias("sql"),
        rfc3339_col(F.col("ts"), offset).alias("col"),
    ).collect()
    for r in rows:
        want = format_rfc3339_nanos(r["ts"], offset)
        assert (r["sql"], r["col"]) == (want, want), r["ts"]

