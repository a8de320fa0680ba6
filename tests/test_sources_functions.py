"""External-format source readers + public functions module."""

import pytest
from pyspark.sql import functions as F

from zikeiretsu_rs_spark import functions as zf
from zikeiretsu_rs_spark.datamodel import DataPoint, FieldType
from zikeiretsu_rs_spark.datetime_util import NANOS_PER_SEC
from zikeiretsu_rs_spark.engine import Engine
from zikeiretsu_rs_spark.sources import read_datapoints_csv, read_datapoints_json

from test_datetime_util import nanos


class TestSources:
    def test_csv_roundtrip_through_store(self, spark, tmp_ctx, tmp_path):
        p = tmp_path / "in.csv"
        p.write_text(
            "ts,price,is_buy\n"
            "2024-01-01 00:00:00,100.5,true\n"
            "2024-01-01 00:00:01.250,101.0,false\n"
        )
        df = read_datapoints_csv(
            spark, str(p), [FieldType.FLOAT64, FieldType.BOOL]
        )
        assert df.columns == ["ts", "f0", "f1"]
        rows = df.orderBy("ts").collect()
        base = nanos(2024, 1, 1)
        assert rows[0]["ts"] == base
        assert rows[1]["ts"] == base + NANOS_PER_SEC + 250_000_000
        assert rows[0]["f0"] == 100.5 and rows[0]["f1"] is True

        engine = Engine(spark, tmp_ctx)
        store = engine.writable_store("csvm", [FieldType.FLOAT64, FieldType.BOOL])
        store.persist_dataframe(df)
        out = engine.execute_to_df(
            "with format_datetime = false select * from csvm where ts >= '2023-01-01'",
            now_nanos=base,
        )
        assert out.count() == 2

    def test_json_nanos_ts_and_column_selection(self, spark, tmp_path):
        p = tmp_path / "in.jsonl"
        base = nanos(2024, 3, 1)
        p.write_text(
            f'{{"ts": {base}, "ignored": "x", "v": 1.5}}\n'
            f'{{"ts": {base + 7}, "ignored": "y", "v": 2.5}}\n'
        )
        df = read_datapoints_json(
            spark, str(p), [FieldType.FLOAT64], field_cols=["v"]
        )
        rows = df.orderBy("ts").collect()
        assert rows[1]["ts"] == base + 7  # nano-exact passthrough
        assert [r["f0"] for r in rows] == [1.5, 2.5]

    def test_string_ts_session_tz_independent(self, spark, tmp_path):
        """Offset-less strings are naive-as-UTC (like the NTZ/DATE
        paths); offset-carrying strings are instants. Neither shifts
        with spark.sql.session.timeZone."""
        p = tmp_path / "tz.csv"
        p.write_text(
            "ts,v\n"
            "2024-01-01 00:00:00,1.0\n"  # naive -> UTC wall clock
            "2024-01-01T09:00:00+09:00,2.0\n"  # instant == same point
            "2024-01-01T00:00:00Z,3.0\n"
        )
        base = nanos(2024, 1, 1)
        prev = spark.conf.get("spark.sql.session.timeZone")
        try:
            for tz in ("UTC", "Asia/Tokyo"):
                spark.conf.set("spark.sql.session.timeZone", tz)
                df = read_datapoints_csv(spark, str(p), [FieldType.FLOAT64])
                assert [r["ts"] for r in df.collect()] == [base, base, base], tz
        finally:
            spark.conf.set("spark.sql.session.timeZone", prev)

    def test_int32_ts_widens_to_long_spine(self, spark, tmp_ctx):
        """An IntegerType ts column must persist as int64 nanos, never
        int32 parquet mixing with other blocks' int64."""
        from pyspark.sql import types as T

        from zikeiretsu_rs_spark.ingest.writable_store import to_nano_spine

        df = spark.createDataFrame(
            [(1,), (2,)], T.StructType([T.StructField("ts", T.IntegerType())])
        )
        out = to_nano_spine(df)
        assert dict(out.dtypes)["ts"] == "bigint"
        assert [r["ts"] for r in out.orderBy("ts").collect()] == [1, 2]

    def test_column_count_mismatch_raises(self, spark, tmp_path):
        p = tmp_path / "bad.csv"
        p.write_text("ts,a,b\n2024-01-01,1,2\n")
        with pytest.raises(ValueError, match="2 data columns for 1"):
            read_datapoints_csv(spark, str(p), [FieldType.FLOAT64])


class TestFunctions:
    def test_ts_conversions_roundtrip(self, spark):
        base = nanos(2024, 1, 1) + 123_456_000  # µs-aligned
        df = spark.range(1).select(F.lit(base).alias("ts"))
        out = df.select(
            zf.timestamp_to_ts(zf.ts_to_timestamp(F.col("ts"))).alias("rt"),
            zf.ts_bucket(F.col("ts"), 3600 * zf.NANOS_PER_SEC).alias("b"),
        ).collect()[0]
        assert out["rt"] == base
        assert out["b"] == nanos(2024, 1, 1)

    def test_ts_to_timestamp_floors_to_the_microsecond(self, spark):
        """1 ns before midnight stays in its day, and 1 ns before the
        epoch floors to -1 us (a double division rounded the first up
        to midnight and a cast truncated the second to 0)."""
        mid = nanos(2024, 1, 1)
        df = spark.createDataFrame([(mid - 1,), (mid,), (-1,)], "ts long")
        t = zf.ts_to_timestamp(F.col("ts"))
        got = [
            (r["us"], r["day"])
            for r in df.select(F.unix_micros(t).alias("us"), F.to_date(t).cast("string").alias("day")).collect()
        ]
        assert got == [
            (mid // 1000 - 1, "2023-12-31"),
            (mid // 1000, "2024-01-01"),
            (-1, "1969-12-31"),
        ]

    def test_cosine(self, spark):
        df = spark.createDataFrame([([1.0, 0.0], [0.6, 0.8])], ["a", "b"])
        got = df.select(zf.cosine(F.col("a"), F.col("b")).alias("c")).collect()[0]["c"]
        assert got == pytest.approx(0.6)


class TestSuiteContract:
    """Driver-contract consistency: every oracle belongs to a declared
    query, the rows-only set is exactly the labeled estimator set, and
    role labels cover the suite."""

    def test_oracles_and_roles_consistent(self):
        from zikeiretsu_rs_spark import suite

        qs, osql = suite.QUERIES, suite.oracle_sql()
        assert set(osql) <= set(qs)
        assert {n for n in qs if n not in osql} == suite.ESTIMATOR_QUERIES
        for n in qs:
            assert suite.query_role(n) in (
                "production", "verification", "estimator"
            )
        assert suite.VERIFICATION_QUERIES <= set(qs)
        assert suite.ESTIMATOR_QUERIES <= set(qs)
        # verification queries must be oracle- or companion-backed:
        # every *_check has an oracle entry
        for n in suite.VERIFICATION_QUERIES:
            if n.endswith("_check"):
                assert n in osql, n
