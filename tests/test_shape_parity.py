"""Shape parity: a dialect query answers the same on both served
shapes. Each query runs on the default shape, where these small stores
are read on the driver with pyarrow and run no Spark job, and again
with `spark.sql.files.openCostInBytes` lowered so the manifest picks
the distributed Spark plan. The two answers must have equal schemas,
equal rows and ts-ascending order.

The grid covers every FieldType with nulls, a UINT64 above 2^53,
duplicate ts across blocks with a late out-of-order block, a midnight
crossing, head and tail limits that hit the manifest-overcount
fallback, `format_datetime` on and off at offsets 0, +09:00 and
-05:30, a stray `.x.tmp` and a `_SUCCESS` in a `dt=` dir, and a
`file://` URI warehouse.
"""

import os

import pyarrow as pa
import pytest

from zikeiretsu_rs_spark.catalog.context import Database, DBContext
from zikeiretsu_rs_spark.datamodel import DataPoint, FieldType
from zikeiretsu_rs_spark.datetime_util import NANOS_PER_DAY, NANOS_PER_SEC
from zikeiretsu_rs_spark.engine import Engine

from test_datetime_util import nanos
from test_served_path import _jobs, _task_bytes

MIDNIGHT = nanos(2024, 1, 1)
NOW = nanos(2024, 2, 1)
MINUTE = 60 * NANOS_PER_SEC
ALL_TYPES = list(FieldType)


def _typed_point(minute: int, i: int) -> DataPoint:
    """A row of every FieldType, each with its own null pattern."""
    ts = MIDNIGHT + minute * MINUTE
    return DataPoint.new(
        ts,
        None if i % 3 == 0 else i * 1.5,
        None if i % 4 == 0 else i % 2 == 0,
        None if i % 5 == 0 else f"s{i}",
        None if i % 2 else 2**53 + 1 + i,
        ts + i,
        None if i % 6 == 0 else i,
        None,
    )


def _fill(eng: Engine) -> None:
    # t: every FieldType. Blocks: minutes -10..9 (across midnight),
    # 60..69, then a late block persisted last that repeats minutes
    # 5..9 and fills 10..14
    store = eng.writable_store("t", ALL_TYPES)
    for minutes in (range(-10, 10), range(60, 70), range(5, 15)):
        store.push_multi([_typed_point(m, i) for i, m in enumerate(minutes)])
        store.persist()
    # h / e: two blocks share all their ts, so per-block distinct_ts
    # overcounts a limit reaching across them; h has them first, e last
    for name, layout in (("h", (0, 0, 2)), ("e", (0, 2, 2))):
        store = eng.writable_store(name, [FieldType.FLOAT64])
        for block, day in enumerate(layout):
            n = 6 if layout.count(day) == 1 else 5
            store.push_multi(
                [DataPoint.new(MIDNIGHT + day * NANOS_PER_DAY + k * NANOS_PER_SEC, float(block)) for k in range(n)]
            )
            store.persist()


def _stray_files(eng: Engine) -> None:
    """Files Spark's reader skips: a `.`-prefixed temp and `_SUCCESS`."""
    day_dir = f"{eng.ctx.db_dir(None)}/block/t/dt=2024-01-01".removeprefix("file://")
    for name in (".x.tmp", "_SUCCESS"):
        with open(os.path.join(day_dir, name), "w") as f:
            f.write("not parquet")


@pytest.fixture(scope="module")
def engines(spark, tmp_path_factory):
    local = Engine(spark, DBContext(data_dir=str(tmp_path_factory.mktemp("zdb"))))
    bucket = tmp_path_factory.mktemp("bucket")
    uri = Engine(
        spark,
        DBContext(
            data_dir="/nonexistent-local",
            default_database="db",
            databases={"db": Database("db", cloud_storage=f"file://{bucket}")},
        ),
    )
    for eng in (local, uri):
        _fill(eng)
        _stray_files(eng)
    return {"local": local, "uri": uri}


# the bounds hold the same rows at every offset the grid renders with
RANGE = "select * from t where ts in ('2023-12-31', '2024-01-02')"
QUERIES = [
    RANGE,  # crosses midnight, reads two dt= dirs
    "select d, a, c from t where ts in ('2023-12-31', '2024-01-02')",  # named, reordered
    "select * from t where ts >=|7 '2023-12-31'",
    "select * from t where ts <=|7 '2024-01-02'",
    "select * from t where ts <=|25 '2024-01-02'",
    "select * from h where ts >=|8 '2023-12-31'",  # overcount fallback
    "select * from e where ts <=|8 '2024-01-04'",  # overcount fallback
]
FORMATS = [
    f"format_datetime = {fmt}{tz}"
    for fmt in ("false", "true")
    for tz in ("", ", tz = +09:00", ", tz = -05:30")
]
CASES = (
    # every query on local paths, raw nanos and +09:00 RFC3339
    [("local", f, q) for q in QUERIES for f in (FORMATS[0], FORMATS[4])]
    # the other formats on the range
    + [("local", f, RANGE) for f in FORMATS if f not in (FORMATS[0], FORMATS[4])]
    # every query on a file:// warehouse, -05:30 RFC3339
    + [("uri", FORMATS[5], q) for q in QUERIES]
)


def _sorted_rows(table: pa.Table) -> list[tuple]:
    return sorted(
        (tuple(r.values()) for r in table.to_pylist()),
        key=lambda r: tuple((v is None, str(v)) for v in r),
    )


def _ascending(table: pa.Table) -> bool:
    # raw nanos, or RFC3339 strings of one offset, sort like instants
    ts = table.column(0).to_pylist()
    return ts == sorted(ts)


@pytest.mark.parametrize("where, fmt, query", CASES)
def test_both_shapes_answer_alike(engines, where, fmt, query):
    eng = engines[where]
    cols = ", cols = [a, b, c, d, e, f, g]" if query.startswith("select d") else ""
    q = f"with {fmt}{cols} {query}"
    (arrow, _), arrow_jobs = _jobs(eng.spark, lambda: eng.execute_to_arrow(q, now_nanos=NOW))
    with _task_bytes(eng.spark, "1b"):
        (spark_answer, _), spark_jobs = _jobs(eng.spark, lambda: eng.execute_to_arrow(q, now_nanos=NOW))
    assert (arrow_jobs, spark_jobs > 0) == (0, True)
    assert arrow.num_rows > 0
    assert arrow.schema.equals(spark_answer.schema), (arrow.schema, spark_answer.schema)
    assert _sorted_rows(arrow) == _sorted_rows(spark_answer)
    assert _ascending(arrow) and _ascending(spark_answer)


def test_overcount_past_the_rule_runs_the_spark_shape(engines):
    """The kept blocks of h (10 rows, 160 bytes) fit a 200-byte task but
    the whole range (16 rows) does not: the fallback leaves the driver."""
    eng = engines["local"]
    q = "with format_datetime = false select * from h where ts >=|8 '2023-12-31'"
    with _task_bytes(eng.spark, "200b"):
        (table, _), jobs = _jobs(eng.spark, lambda: eng.execute_to_arrow(q, now_nanos=NOW))
    assert jobs > 0
    first_day = [MIDNIGHT + k * NANOS_PER_SEC for k in range(5)]
    third_day = [MIDNIGHT + 2 * NANOS_PER_DAY + k * NANOS_PER_SEC for k in range(3)]
    assert table.column("ts").to_pylist() == sorted(first_day * 2) + third_day
