"""End-to-end engine tests: the SURVEY §7.1 minimum slice plus limit /
merge / metadata semantics ported from the reference's test fixtures
(FIXTURES.md F1-F5)."""

import json

import pytest

from zikeiretsu_rs_spark.datamodel import DataPoint, FieldType
from zikeiretsu_rs_spark.datetime_util import NANOS_PER_HOUR, NANOS_PER_SEC
from zikeiretsu_rs_spark.engine import DBContext, Engine
from zikeiretsu_rs_spark.ingest.writable_store import PersistCondition

from test_datetime_util import nanos

NOW = nanos(2021, 10, 1, 12)


@pytest.fixture()
def engine(spark, tmp_ctx):
    return Engine(spark, tmp_ctx)


def make_trades(engine):
    """FIXTURES.md F1: trades [bool is_buy, f64 price, f64 size] spanning
    a midnight boundary, with duplicate timestamps."""
    store = engine.writable_store(
        "trades", [FieldType.BOOL, FieldType.FLOAT64, FieldType.FLOAT64]
    )
    t0 = nanos(2021, 9, 30, 22)
    pts = [
        DataPoint.new(t0, True, 100.0, 1.0),
        DataPoint.new(t0 + 2 * NANOS_PER_HOUR + 1, False, 101.0, 2.0),  # 00:00:00.000000001
        DataPoint.new(nanos(2021, 10, 1, 5), True, 102.0, 0.5),
        DataPoint.new(nanos(2021, 10, 1, 5), False, 102.5, 0.25),  # duplicate ts
        DataPoint.new(nanos(2021, 10, 1, 9, 30), True, 103.0, 3.0),
    ]
    store.push_multi(pts)
    store.persist()
    return store, pts


class TestMinimumSlice:
    def test_flagship_query(self, engine):
        make_trades(engine)
        # SURVEY §7.1: the canonical demo query
        df = engine.execute_to_df(
            "with cols = [is_buy, price, size], tz = Asia/Tokyo, format_datetime = false "
            "select price from trades where ts in ('2021-10-01', '2021-10-02')",
            now_nanos=NOW,
        )
        rows = df.collect()
        # JST window [2021-09-30T15:00Z, 2021-10-01T15:00Z): all 5 rows? no:
        # t0 = 09-30T22:00Z inside, all later rows inside too
        assert [r["price"] for r in rows] == [100.0, 101.0, 102.0, 102.5, 103.0]
        assert df.columns == ["ts", "price"]

    def test_utc_range_excludes(self, engine):
        make_trades(engine)
        df = engine.execute_to_df(
            "with cols = [is_buy, price, size], format_datetime = false "
            "select price from trades where ts in ('2021-10-01', '2021-10-02')",
            now_nanos=NOW,
        )
        # UTC window drops the 09-30T22:00Z row
        assert [r["price"] for r in df.collect()] == [101.0, 102.0, 102.5, 103.0]

    def test_format_datetime_rendering(self, engine):
        make_trades(engine)
        df = engine.execute_to_df(
            "with cols = [is_buy, price, size] select price from trades "
            "where ts = '2021-10-01 05:00'",
            now_nanos=NOW,
        )
        rows = df.collect()
        assert [r["ts"] for r in rows] == [
            "2021-10-01T05:00:00.000000000+00:00",
            "2021-10-01T05:00:00.000000000+00:00",
        ]

    def test_select_star_positional_names(self, engine):
        make_trades(engine)
        df = engine.execute_to_df(
            "with format_datetime = false select * from trades where ts >= '2021-09-01'",
            now_nanos=NOW,
        )
        assert df.columns == ["ts", "f0", "f1", "f2"]

    def test_projection_reorder(self, engine):
        make_trades(engine)
        df = engine.execute_to_df(
            "with cols = [is_buy, price, size], format_datetime = false "
            "select size, price from trades where ts >= '2021-09-01'",
            now_nanos=NOW,
        )
        assert df.columns == ["ts", "size", "price"]
        assert df.collect()[0]["size"] == 1.0


class TestLimits:
    """F2 spine: duplicate-heavy timestamps; limits count DISTINCT ts
    (time_series_dataframe.rs:105-153)."""

    @pytest.fixture()
    def single_float(self, engine):
        store = engine.writable_store("single_float", [FieldType.FLOAT64])
        base = nanos(2021, 9, 1)
        # ts pattern from time_series_dataframe.rs:540-553
        offsets = [9, 10, 19, 20, 20, 20, 30, 40, 50, 50, 51]
        store.push_multi(
            [
                DataPoint.new(base + o * NANOS_PER_SEC, float(i))
                for i, o in enumerate(offsets)
            ]
        )
        store.persist()
        return base

    def test_head_limit_keeps_all_ties(self, engine, single_float):
        df = engine.execute_to_df(
            "with format_datetime = false select * from single_float "
            "where ts >=|4 '2021-09-01'",
            now_nanos=NOW,
        )
        # first 4 distinct ts: 9, 10, 19, 20 -> 6 rows (three ties at 20)
        assert [r["f0"] for r in df.collect()] == [0.0, 1.0, 2.0, 3.0, 4.0, 5.0]

    def test_tail_limit_keeps_all_ties(self, engine, single_float, ):
        df = engine.execute_to_df(
            "with format_datetime = false select * from single_float "
            "where ts <=|3 '2021-09-02'",
            now_nanos=NOW,
        )
        # last 3 distinct ts: 40, 50, 51 -> 4 rows (two ties at 50)
        assert [r["f0"] for r in df.collect()] == [7.0, 8.0, 9.0, 10.0]

    def test_gt_excludes_boundary(self, engine, single_float, ):
        base = single_float
        df = engine.execute_to_df(
            "with format_datetime = false select * from single_float "
            "where ts > '2021-09-01 00:00:50'",
            now_nanos=NOW,
        )
        assert [r["f0"] for r in df.collect()] == [10.0]

    def test_lte_includes_boundary(self, engine, single_float):
        df = engine.execute_to_df(
            "with format_datetime = false select * from single_float "
            "where ts <= '2021-09-01 00:00:50'",
            now_nanos=NOW,
        )
        assert [r["f0"] for r in df.collect()][-2:] == [8.0, 9.0]


class TestMergeAcrossBlocks:
    def test_overlapping_persists_merge_sorted(self, engine):
        """U1/U2: two persisted batches with overlapping ranges come back
        as one ts-ascending frame."""
        store = engine.writable_store("m", [FieldType.FLOAT64])
        base = nanos(2021, 9, 1)
        store.push_multi(
            [DataPoint.new(base + i * NANOS_PER_SEC, float(i)) for i in (0, 2, 4)]
        )
        store.persist()
        store.push_multi(
            [DataPoint.new(base + i * NANOS_PER_SEC, float(i)) for i in (1, 3, 5)]
        )
        store.persist()
        df = engine.execute_to_df(
            "with format_datetime = false select * from m where ts >= '2021-08-01'",
            now_nanos=NOW,
        )
        assert [r["f0"] for r in df.collect()] == [0.0, 1.0, 2.0, 3.0, 4.0, 5.0]


class TestMetadataQueries:
    def test_metrics_describe_blocklist(self, engine):
        make_trades(engine)
        store = engine.writable_store("single_float", [FieldType.FLOAT64])
        store.push(DataPoint.new(nanos(2021, 9, 1), 1.0))
        store.persist()
        store.push(DataPoint.new(nanos(2021, 9, 2), 2.0))
        store.persist()

        mdf = engine.execute_to_df("select * from .metrics", now_nanos=NOW)
        assert sorted(r["metrics"] for r in mdf.collect()) == ["single_float", "trades"]

        ddf = engine.execute_to_df("select * from .describe", now_nanos=NOW)
        assert ddf.columns == ["metrics", "updated_at", "block_num", "from", "end"]
        by_name = {r["metrics"]: r for r in ddf.collect()}
        assert by_name["single_float"]["block_num"] == 2
        assert by_name["single_float"]["from"] == nanos(2021, 9, 1) // NANOS_PER_SEC
        assert by_name["single_float"]["end"] == nanos(2021, 9, 2) // NANOS_PER_SEC

        bdf = engine.execute_to_df(
            "select * from .block_list where metrics = single_float", now_nanos=NOW
        )
        rows = bdf.collect()
        assert [r["seq"] for r in rows] == [1, 2]
        assert bdf.columns == [
            "metrics",
            "updated_at",
            "block_num",
            "seq",
            "block_list_start",
            "block_list_end",
        ]


class TestOutputs:
    def test_json_output_column_oriented(self, engine):
        make_trades(engine)
        out = engine.execute(
            "with cols = [is_buy, price, size], format = json, format_datetime = false "
            "select price from trades where ts = '2021-10-01 05:00'",
            now_nanos=NOW,
        )
        doc = json.loads(out)
        assert doc["price"] == [102.0, 102.5]

    def test_parquet_output(self, engine, tmp_path, spark):
        make_trades(engine)
        out_path = str(tmp_path / "out.parquet")
        res = engine.execute(
            "with cols = [is_buy, price, size], format = parquet, "
            f"output_file = '{out_path}', format_datetime = false "
            "select price from trades where ts >= '2021-09-01'",
            now_nanos=NOW,
        )
        assert res is None
        assert spark.read.parquet(out_path).count() == 5

    def test_memory_output_returns_df(self, engine):
        make_trades(engine)
        df = engine.execute(
            "with output_to_memory, cols = [is_buy, price, size], format_datetime = false "
            "select price from trades where ts >= '2021-09-01'",
            now_nanos=NOW,
        )
        assert hasattr(df, "collect")


class TestStoreSemantics:
    def test_sort_on_read_and_purge(self, engine):
        """store tests (writable_store/mod.rs:354-392): out-of-order
        pushes come back sorted; purge removes a range."""
        store = engine.writable_store("s", [FieldType.FLOAT64])
        base = nanos(2021, 9, 1)
        store.push_multi(
            [
                DataPoint.new(base + 5 * NANOS_PER_SEC, 5.0),
                DataPoint.new(base + 1 * NANOS_PER_SEC, 1.0),
                DataPoint.new(base + 3 * NANOS_PER_SEC, 3.0),
            ]
        )
        pts = store.datapoints()
        assert [p.field_values[0] for p in pts] == [1.0, 3.0, 5.0]
        store.purge(base, base + 4 * NANOS_PER_SEC)
        assert [p.field_values[0] for p in store.datapoints()] == [5.0]

    def test_tail_limit_distinct(self, engine):
        store = engine.writable_store("s2", [FieldType.FLOAT64])
        base = nanos(2021, 9, 1)
        for i, o in enumerate([1, 2, 2, 3]):
            store.push(DataPoint.new(base + o * NANOS_PER_SEC, float(i)))
        tail = store.datapoints_tail_limit(2)
        assert [p.field_values[0] for p in tail] == [1.0, 2.0, 3.0]

    def test_persist_range_condition(self, engine, spark):
        store = engine.writable_store("s3", [FieldType.FLOAT64])
        base = nanos(2021, 9, 1)
        for i in range(4):
            store.push(DataPoint.new(base + i * NANOS_PER_SEC, float(i)))
        n = store.persist(
            PersistCondition(since_nanos=base, until_nanos=base + 2 * NANOS_PER_SEC)
        )
        assert n == 2
        # unpersisted rows remain in memory
        assert len(store.datapoints()) == 2


class TestDriverDataThroughWarehouse:
    def test_events_ingest_and_dialect_roundtrip(self, spark, tmp_ctx):
        """Driver events land in the engine warehouse via the bulk
        path and answer dialect queries — the full switch-over story
        (external parquet -> WritableStore -> blocks -> query)."""
        from pyspark.sql import functions as F

        from zikeiretsu_rs_spark.datamodel import FieldType
        from zikeiretsu_rs_spark.engine import Engine

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        events = (
            spark.read.parquet("/root/testdata/sf0.001/events.parquet")
            .select(F.col("ts"), F.col("value").alias("f0"))
        )
        n = events.count()
        engine = Engine(spark, tmp_ctx)
        store = engine.writable_store("events_m", [FieldType.FLOAT64])
        store.persist_dataframe(events)

        # full range through the dialect
        df = engine.execute_to_df(
            "with cols = [value], format_datetime = false "
            "select * from events_m where ts >= '2020-01-01'",
            now_nanos=1_700_000_000 * 10**9,
        )
        assert df.count() == n
        # range + distinct-ts head limit semantics on real data
        lim = engine.execute_to_df(
            "with cols = [value], format_datetime = false "
            "select value from events_m where ts >=|10 '2024-01-15'",
            now_nanos=1_700_000_000 * 10**9,
        )
        got = lim.count()
        assert got >= 10  # >= n rows when duplicate timestamps exist
        # catalog sees the metrics
        mdf = engine.execute_to_df(
            "select * from .metrics", now_nanos=1_700_000_000 * 10**9
        )
        assert "events_m" in {r["metrics"] for r in mdf.collect()}


class TestReadAfterWrite:
    """A read after `persist` sees the new rows, also while readers race
    a writer: every query plans a fresh scan, and `use_cache` (dialect
    default TRUE) memoizes only the parsed manifest, which `persist`
    writes through (catalog/manifest.py)."""

    Q = (
        "with format_datetime = false "
        "select * from trades where ts in ('2021-09-30', '2021-10-02')"
    )

    def test_read_after_persist_sees_new_row(self, engine):
        store, _ = make_trades(engine)
        r1 = engine.execute_to_df(self.Q, now_nanos=NOW).collect()
        store.push(DataPoint.new(nanos(2021, 10, 1, 11), True, 104.0, 9.0))
        store.persist()
        r2 = engine.execute_to_df(self.Q, now_nanos=NOW).collect()
        assert len(r2) == len(r1) + 1

    def test_concurrent_queries_with_invalidation(self, engine):
        import threading

        store = engine.writable_store("c", [FieldType.FLOAT64])
        base = nanos(2021, 9, 1)
        store.push_multi(
            [DataPoint.new(base + i * NANOS_PER_SEC, float(i)) for i in range(10)]
        )
        store.persist()
        q = (
            "with format_datetime = false select * from c "
            "where ts in ('2021-09-01', '2021-09-02')"
        )
        errors: list[Exception] = []

        def reader():
            try:
                for _ in range(6):
                    rows = engine.execute_to_df(q, now_nanos=NOW).collect()
                    assert len(rows) >= 10
            except Exception as e:  # noqa: BLE001
                errors.append(e)

        def writer():
            try:
                for j in range(3):
                    store.push(
                        DataPoint.new(
                            base + (100 + j) * NANOS_PER_SEC, 1.0
                        )
                    )
                    store.persist()
            except Exception as e:  # noqa: BLE001
                errors.append(e)

        threads = [threading.Thread(target=reader) for _ in range(4)] + [
            threading.Thread(target=writer)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errors, errors
        # final read sees all three appended rows
        assert len(engine.execute_to_df(q, now_nanos=NOW).collect()) == 13
