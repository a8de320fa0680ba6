"""Served-path shape: what one dialect query costs in Spark jobs, and
what the served answer looks like.

- A range, a head or tail limit and `.describe` small enough for one
  task run no Spark job through `Engine.execute_to_arrow`: the answer
  is read from the blocks with pyarrow.
- With `spark.sql.files.openCostInBytes` below the range's size the
  plan keeps the distributed `orderBy(ts)` and answers the same rows.
- A limit is sized by the blocks it keeps, not by the whole range.
- Answers are ts-ascending on both shapes, also when duplicate
  timestamps span two blocks and a late block was persisted out of
  order (the benchmark's checksum ignores order, so only this file
  and `test_shape_parity.py` guard it).
- Metadata answers keep their schemas, also when empty, and
  `.describe` reads one manifest snapshot per metrics.
- The Flight server and the json/table renders use Arrow without a
  pandas hop: a nullable UINT64 field with a null stays int64, and
  nanos above 2^53 come back exact.
- Both writers put a row in the `dt` partition of its floored UTC day,
  the day the reader prunes by, also 1 ns before midnight and 1 ns
  before the epoch; `persist` runs no Spark job.
"""

import json
import os
import uuid
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from zikeiretsu_rs_spark.datamodel import DataPoint, FieldType, metrics_schema
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


def _arrow(engine, query):
    """(`execute_to_arrow`'s table, the Spark jobs it ran)."""
    (table, _), jobs = _jobs(engine.spark, lambda: engine.execute_to_arrow(query, now_nanos=NOW))
    return table, jobs


class TestOneTaskShape:
    def test_range_runs_no_spark_job(self, engine):
        q = (
            "with format_datetime = false "
            "select * from m where ts in ('2024-01-01 00:10', '2024-01-01 02:20')"
        )
        table, jobs = _arrow(engine, q)
        assert jobs == 0
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
    def test_limit_runs_no_spark_job(self, engine, cond, lo, hi, n):
        q = f"with format_datetime = false select * from m where ts {cond}"
        table, jobs = _arrow(engine, q)
        assert jobs == 0
        rows = _rows(table)
        _assert_ascending([t for t, _ in rows])
        assert sorted(rows) == _expected(_ts(lo), _ts(hi))
        assert len({t for t, _ in rows}) == n

    def test_dataframe_wraps_the_arrow_answer(self, engine):
        """`execute_to_df` wraps the Arrow answer without a job."""
        q = "with format_datetime = false select * from m where ts >=|8 '2024-01-01 00:20'"
        df, jobs = _jobs(engine.spark, lambda: engine.execute_to_df(q, now_nanos=NOW))
        assert jobs == 0
        assert df.toArrow().equals(engine.execute_to_arrow(q, now_nanos=NOW)[0])


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

    def test_describe_runs_no_spark_job(self, engine):
        table, jobs = _arrow(engine, "select * from .describe")
        assert jobs == 0
        assert table.to_pylist()[0]["block_num"] == 3

    def test_describe_reads_one_manifest_snapshot(self, engine, tmp_ctx):
        """Under `use_cache = true` `block_num`, `from` and `end` come
        from the one cached manifest, also when another process
        rewrites the manifest between two describes."""
        q = "with use_cache = true select * from .describe"
        first = engine.execute_to_arrow(q, now_nanos=NOW)[0].to_pylist()[0]
        path = os.path.join(tmp_ctx.db_dir(None), "blocklist", "m.json")
        with open(path) as f:
            doc = json.load(f)
        doc["blocks"] = doc["blocks"][:1]  # out of band: one block left
        with open(path, "w") as f:
            json.dump(doc, f)
        again = engine.execute_to_arrow(q, now_nanos=NOW)[0].to_pylist()[0]
        assert {k: again[k] for k in ("block_num", "from", "end")} == {
            "block_num": 3,
            "from": _ts(0) // NANOS_PER_SEC,
            "end": _ts(149) // NANOS_PER_SEC,
        }
        assert {k: first[k] for k in ("block_num", "from", "end")} == {
            k: again[k] for k in ("block_num", "from", "end")
        }


class TestArrowAtTheBoundary:
    """Over Flight and in the text renders: the answer is Spark's Arrow,
    not a pandas round trip (which turns a nullable long column into
    float64)."""

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

    def test_json_and_table_output(self, typed):
        eng, t0 = typed

        def reject(constant):
            raise AssertionError(f"{constant} is not JSON")

        out = eng.execute(self.QUERY.replace("with ", "with format = json, "), now_nanos=NOW)
        assert json.loads(out, parse_constant=reject) == {
            "ts": [t0, t0 + 1, t0 + 2],
            "f0": [7, None, 2**62],
        }
        table = eng.execute(self.QUERY, now_nanos=NOW)
        assert str(2**62) in table and "e+" not in table, table


MIDNIGHT = nanos(2024, 1, 1)
LAST_SECOND = nanos(2023, 12, 31, 23, 59, 59)


def _write(spark, store, points, writer: str) -> None:
    if writer == "persist":
        store.push_multi(points)
        store.persist()
    else:
        rows = [(p.timestamp_nano, *p.field_values) for p in points]
        store.persist_dataframe(
            spark.createDataFrame(rows, schema=metrics_schema(store.field_types))
        )


class TestDayKey:
    """A second before midnight, 100 ns and 1 ns before it, midnight
    itself, and 1 ns before the epoch."""

    @pytest.fixture(params=["persist", "persist_dataframe"])
    def edge(self, request, spark, tmp_ctx):
        eng = Engine(spark, tmp_ctx)
        store = eng.writable_store("m", [FieldType.FLOAT64])
        stamps = [LAST_SECOND, MIDNIGHT - 100, MIDNIGHT - 1, MIDNIGHT, -1]
        _write(spark, store, [DataPoint.new(t, 1.0) for t in stamps], request.param)
        return eng, store

    def test_rows_land_in_their_floored_day(self, edge):
        _, store = edge
        days = {
            d: sorted(pq.read_table(os.path.join(store.block_dir, d)).column("ts").to_pylist())
            for d in os.listdir(store.block_dir)
            if d.startswith("dt=")
        }
        assert days == {
            "dt=1969-12-31": [-1],
            "dt=2023-12-31": [LAST_SECOND, MIDNIGHT - 100, MIDNIGHT - 1],
            "dt=2024-01-01": [MIDNIGHT],
        }

    @pytest.mark.parametrize(
        "cond, expected",
        [
            ("ts in ('2023-12-31 23:59:59', '2023-12-31 23:59:59.999999950')", [LAST_SECOND, MIDNIGHT - 100]),
            ("ts <=|5 '2023-12-31 23:59:59.999999950'", [-1, LAST_SECOND, MIDNIGHT - 100]),
        ],
    )
    def test_reader_finds_rows_before_midnight(self, edge, cond, expected):
        eng, _ = edge
        df = eng.execute_to_df(f"with format_datetime = false select * from m where {cond}", now_nanos=NOW)
        assert df.toArrow().column("ts").to_pylist() == expected


class TestPersistRunsNoSparkJob:
    def test_persist_across_midnight(self, spark, tmp_ctx):
        store = Engine(spark, tmp_ctx).writable_store("m", [FieldType.FLOAT64])
        store.push_multi(
            [DataPoint.new(MIDNIGHT + i * 600 * NANOS_PER_SEC, 1.0) for i in range(-3, 3)]
        )
        written, jobs = _jobs(spark, store.persist)
        assert (written, jobs) == (6, 0)
        assert sorted(os.listdir(store.block_dir)) == ["dt=2023-12-31", "dt=2024-01-01"]
