"""Served-path shape: what one dialect query costs in Spark jobs, and
what the served answer looks like.

- A range small enough for one task plans with no Spark job (the scan
  schema comes from the schema registry, not from footer inference) and
  collects with exactly one, with no Exchange in the executed plan.
- A head or tail limit adds at most one threshold job.
- With `spark.sql.files.openCostInBytes` below the range's size the
  plan keeps the distributed `orderBy(ts)` and answers the same rows.
- A limit is sized by the blocks it keeps, not by the whole range.
- Answers are ts-ascending on both shapes, also when duplicate
  timestamps span two blocks and a late block was persisted out of
  order (the benchmark's checksum ignores order, so only this file
  guards it).
- Metadata answers keep their schemas, also when empty.
- Both servers return Arrow without a pandas hop: a nullable UINT64
  field with a null stays int64, and nanos above 2^53 come back exact.
"""

import uuid
from contextlib import contextmanager

import pyarrow as pa
import pytest

from zikeiretsu_rs_spark.datamodel import DataPoint, FieldType
from zikeiretsu_rs_spark.datetime_util import NANOS_PER_SEC
from zikeiretsu_rs_spark.engine import Engine

from test_datetime_util import nanos

BASE = nanos(2024, 1, 1)
NOW = nanos(2024, 2, 1)


def _ts(i: int) -> int:
    return BASE + i * 60 * NANOS_PER_SEC


@pytest.fixture
def engine(spark, tmp_ctx):
    """Three blocks: minutes 0-29, then minutes 120-149, then a late
    block (persisted last, ts in between) that repeats minutes 25-29
    of the first block and fills minutes 30-59."""
    eng = Engine(spark, tmp_ctx)
    store = eng.writable_store("m", [FieldType.FLOAT64])
    for minutes, v in ((range(0, 30), 1.0), (range(120, 150), 2.0), (range(25, 60), 3.0)):
        store.push_multi([DataPoint.new(_ts(i), v) for i in minutes])
        store.persist()
    return eng


def _expected(lo: int, hi: int) -> list[tuple[int, float]]:
    rows = [(_ts(i), 1.0) for i in range(0, 30)]
    rows += [(_ts(i), 2.0) for i in range(120, 150)]
    rows += [(_ts(i), 3.0) for i in range(25, 60)]
    return sorted(r for r in rows if lo <= r[0] < hi)


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran), counted by job group."""
    sc = spark.sparkContext
    group = f"served-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@contextmanager
def _task_bytes(spark, size: str):
    """Run with `spark.sql.files.openCostInBytes` (the most the served
    path reads, limits and sorts in one task) set to `size`."""
    key = "spark.sql.files.openCostInBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, size)
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _rows(table: pa.Table) -> list[tuple[int, float]]:
    return list(zip(table.column("ts").to_pylist(), table.column("f0").to_pylist()))


def _serve(engine, query):
    """(answer, plan jobs, collect jobs, executed plan)."""
    spark = engine.spark
    df, plan_jobs = _jobs(spark, lambda: engine.execute_to_df(query, now_nanos=NOW))
    table, collect_jobs = _jobs(spark, df.toArrow)
    executed = df._jdf.queryExecution().executedPlan().toString()
    return table, plan_jobs, collect_jobs, executed


def _assert_ascending(ts: list[int]) -> None:
    assert ts == sorted(ts)


class TestOneTaskShape:
    def test_range_plans_without_jobs_and_collects_with_one(self, engine):
        q = (
            "with format_datetime = false "
            "select * from m where ts in ('2024-01-01 00:10', '2024-01-01 02:20')"
        )
        table, plan_jobs, collect_jobs, executed = _serve(engine, q)
        assert (plan_jobs, collect_jobs) == (0, 1)
        assert "Exchange" not in executed, executed
        rows = _rows(table)
        _assert_ascending([t for t, _ in rows])
        assert sorted(rows) == _expected(_ts(10), _ts(140))

    @pytest.mark.parametrize(
        "cond, lo, hi, n",
        [
            (">=|8 '2024-01-01 00:20'", 20, 28, 8),  # minutes 20..27
            ("<=|12 '2024-01-01 01:30'", 48, 60, 12),  # minutes 48..59
        ],
    )
    def test_limit_adds_at_most_one_threshold_job(self, engine, cond, lo, hi, n):
        q = f"with format_datetime = false select * from m where ts {cond}"
        table, plan_jobs, collect_jobs, executed = _serve(engine, q)
        assert plan_jobs <= 1 and collect_jobs == 1
        assert "Exchange" not in executed, executed
        rows = _rows(table)
        _assert_ascending([t for t, _ in rows])
        assert sorted(rows) == _expected(_ts(lo), _ts(hi))
        assert len({t for t, _ in rows}) == n


class TestProjection:
    def test_column_names_must_match_fields(self, engine):
        from zikeiretsu_rs_spark.errors import InvalidColumnDefinition

        with pytest.raises(InvalidColumnDefinition, match="2 column names for 1 fields"):
            engine.execute_to_df(
                "with cols = [a, b] select * from m where ts >= '2024-01-01'", now_nanos=NOW
            )


class TestDistributedShape:
    def test_small_task_size_keeps_range_partitioning_and_rows(self, engine):
        spark = engine.spark
        queries = [
            "with format_datetime = false, use_cache = false "
            "select * from m where ts in ('2024-01-01', '2024-01-02')",
            "with format_datetime = false, use_cache = false "
            "select * from m where ts >=|40 '2024-01-01'",
            "with use_cache = false select * from m where ts <=|40 '2024-01-02'",
        ]
        one_task = [engine.execute_to_df(q, now_nanos=NOW).toArrow() for q in queries]
        with _task_bytes(spark, "256b"):
            for q, want in zip(queries, one_task):
                df = engine.execute_to_df(q, now_nanos=NOW)
                plan = df._jdf.queryExecution().executedPlan().toString()
                assert "rangepartitioning" in plan, plan
                got = df.toArrow()
                assert got.schema.equals(want.schema)
                # rows sharing a ts may come in either order on either shape
                assert sorted(_rows(got)) == sorted(_rows(want))
                # RFC3339 strings of one offset sort like their instants
                _assert_ascending(got.column("ts").to_pylist())

    @pytest.mark.parametrize(
        "cond, lo, hi",
        [
            # keeps the first and the late block (1040 bytes) of three
            (">=|8 '2024-01-01 00:20'", 20, 28),
            # keeps the last block (480 bytes) of three
            ("<=|5 '2024-01-01 03:00'", 145, 150),
        ],
    )
    def test_limit_is_sized_by_the_blocks_it_keeps(self, engine, cond, lo, hi):
        """The whole range (1520 bytes: 95 rows of ts + f0) is more than
        one task's 1100 bytes; the blocks the limit keeps are not."""
        q = f"with format_datetime = false, use_cache = false select * from m where ts {cond}"
        with _task_bytes(engine.spark, "1100b"):
            table, plan_jobs, collect_jobs, executed = _serve(engine, q)
            whole = engine.execute_to_df(
                "with use_cache = false select * from m where ts >= '2024-01-01'", now_nanos=NOW
            )
            assert "rangepartitioning" in whole._jdf.queryExecution().executedPlan().toString()
        assert plan_jobs <= 1 and collect_jobs == 1
        assert "Exchange" not in executed, executed
        rows = _rows(table)
        _assert_ascending([t for t, _ in rows])
        assert sorted(rows) == _expected(_ts(lo), _ts(hi))


class TestMetadataSchemas:
    def test_empty_metrics_keeps_schema(self, spark, tmp_ctx):
        df = Engine(spark, tmp_ctx).execute_to_df("select * from .metrics")
        assert df.schema.simpleString() == "struct<metrics:string>"
        assert df.toArrow().num_rows == 0

    def test_block_list_schema(self, engine):
        df = engine.execute_to_df("select * from .block_list")
        assert df.schema.simpleString() == (
            "struct<metrics:string,updated_at:bigint,block_num:bigint,"
            "seq:bigint,block_list_start:bigint,block_list_end:bigint>"
        )
        assert [r["seq"] for r in df.collect()] == [1, 2, 3]

    def test_describe_collects_in_one_job(self, engine):
        table, plan_jobs, collect_jobs, _ = _serve(engine, "select * from .describe")
        assert (plan_jobs, collect_jobs) == (0, 1)
        assert table.to_pylist()[0]["block_num"] == 3


class TestArrowAtTheBoundary:
    """Through both servers: the answer is Spark's Arrow, not a pandas
    round trip (which turns a nullable long column into float64)."""

    @pytest.fixture
    def typed(self, spark, tmp_ctx):
        eng = Engine(spark, tmp_ctx)
        store = eng.writable_store("u", [FieldType.UINT64])
        t0 = 1704067200123456789  # > 2^53: not exact as a double
        store.push_multi(
            [DataPoint.new(t0, 7), DataPoint.new(t0 + 1, None), DataPoint.new(t0 + 2, 2**62)]
        )
        store.persist()
        return eng, t0

    def _check(self, table: pa.Table, t0: int) -> None:
        assert table.schema.field("ts").type == pa.int64()
        assert table.schema.field("f0").type == pa.int64()
        assert table.column("ts").to_pylist() == [t0, t0 + 1, t0 + 2]
        assert table.column("f0").to_pylist() == [7, None, 2**62]

    QUERY = "with format_datetime = false select * from u where ts >= '2024-01-01'"

    def test_flight(self, typed):
        pytest.importorskip("pyarrow.flight")
        from zikeiretsu_rs_spark.flight_server import ZikeiretsuFlightServer, execute_flight

        eng, t0 = typed
        server = ZikeiretsuFlightServer(eng)
        try:
            table, _ = execute_flight(server.location, self.QUERY, now_nanos=NOW)
        finally:
            server.shutdown()
        self._check(table, t0)

    def test_http(self, typed):
        from zikeiretsu_rs_spark.server import QueryHttpServer, execute_remote

        eng, t0 = typed
        server = QueryHttpServer(eng).start()
        try:
            table = execute_remote(server.url, self.QUERY, now_nanos=NOW)
        finally:
            server.stop()
        self._check(table, t0)
