"""The two block writers: `WritableStore.persist` writes the driver's
sorted buffer with pyarrow, `persist_dataframe` writes any DataFrame
with Spark. The same points through either one make the same block.

- Same manifest entry (apart from `written_at`), same `dt=` directories
  and same dialect answers over every field type with nulls, a STRING,
  a UINT64 above 2^53, duplicate ts and a midnight crossing; VACANT
  reads back null.
- A store that mixes both writers still answers the same after
  `compact_metrics` and `rebuild_manifest`.
- A value its field type rejects raises `spark.createDataFrame`'s error
  before the lock is taken, with no block written and the buffer kept.
- A block whose second day fails to write leaves no file of its first
  day behind.
"""

import os

import pytest
from pyspark.errors import PySparkTypeError

from zikeiretsu_rs_spark.catalog import fsio
from zikeiretsu_rs_spark.catalog.compact import compact_metrics
from zikeiretsu_rs_spark.catalog.context import DBContext
from zikeiretsu_rs_spark.catalog.lockfile import lockfile_path
from zikeiretsu_rs_spark.catalog.repair import rebuild_manifest
from zikeiretsu_rs_spark.datamodel import DataPoint, FieldType, metrics_schema
from zikeiretsu_rs_spark.datetime_util import NANOS_PER_SEC
from zikeiretsu_rs_spark.engine import Engine

from test_datetime_util import nanos

MIDNIGHT = nanos(2024, 1, 1)
FIELD_TYPES = list(FieldType)
BIG = 2**53 + 1  # not exact as a double

POINTS = [
    DataPoint.new(MIDNIGHT - 2 * NANOS_PER_SEC, 1.5, True, "a", BIG, MIDNIGHT, 1_704_067_200, None),
    DataPoint.new(MIDNIGHT - 2 * NANOS_PER_SEC, None, False, "é", 0, None, None, None),
    DataPoint.new(MIDNIGHT - 1, -0.25, None, None, 2**63 - 1, -1, 0, None),
    DataPoint.new(MIDNIGHT, float("inf"), True, "", None, MIDNIGHT, None, None),
    DataPoint.new(MIDNIGHT, None, None, None, None, None, None, None),
    DataPoint.new(MIDNIGHT + 5 * NANOS_PER_SEC, 2.0, False, "z", 1, 0, 5, None),
]
QUERY = "with format_datetime = false select * from m where ts >= '2023-12-31'"


def _rows(store, points):
    return [(p.timestamp_nano, *p.field_values) for p in points]


def _persist(store, points):
    store.push_multi(points)
    assert store.persist() == len(points)


def _persist_dataframe(store, points):
    schema = metrics_schema(store.field_types)
    store.persist_dataframe(store.spark.createDataFrame(_rows(store, points), schema=schema))


def _engine(spark, tmp_path, name):
    eng = Engine(spark, DBContext(data_dir=str(tmp_path / name)))
    return eng, eng.writable_store("m", FIELD_TYPES)


def _answer(eng):
    """The dialect answer as a sorted list of rows (the order of rows
    with equal ts is not part of the contract)."""
    table = eng.execute_to_df(QUERY).toArrow()
    assert table.column_names == ["ts"] + [f"f{i}" for i in range(len(FIELD_TYPES))]
    return sorted(map(tuple, (r.values() for r in table.to_pylist())), key=repr)


def _entries(store):
    return [(e.since_nanos, e.until_nanos, e.rows, e.distinct_ts, e.paths) for e in store.manifest.load()]


def _days(store):
    return sorted(d for d in os.listdir(store.block_dir) if d.startswith("dt="))


class TestSameBlock:
    def test_both_writers_make_the_same_block(self, spark, tmp_path):
        eng_a, a = _engine(spark, tmp_path, "a")
        eng_b, b = _engine(spark, tmp_path, "b")
        _persist(a, POINTS)
        _persist_dataframe(b, POINTS)
        assert _entries(a) == _entries(b) == [(MIDNIGHT - 2 * NANOS_PER_SEC, MIDNIGHT + 5 * NANOS_PER_SEC, 6, 4, ())]
        assert _days(a) == _days(b) == ["dt=2023-12-31", "dt=2024-01-01"]
        answer = _answer(eng_a)
        assert answer == _answer(eng_b)
        assert answer == sorted(_rows(a, POINTS), key=repr)
        assert all(row[-1] is None for row in answer)  # VACANT

    def test_mixed_store_survives_compaction_and_rebuild(self, spark, tmp_path):
        eng, store = _engine(spark, tmp_path, "mixed")
        # 1 ns later: both days get a file from each writer
        later = [DataPoint(p.timestamp_nano + 1, p.field_values) for p in POINTS]
        _persist(store, POINTS)
        _persist_dataframe(store, later)
        expected = sorted(_rows(store, POINTS + later), key=repr)
        assert _answer(eng) == expected
        stats = compact_metrics(spark, store.db_dir, "m", min_files_to_compact=2)
        assert stats.partitions_compacted == 2
        assert _answer(eng) == expected
        entry = rebuild_manifest(spark, store.db_dir, "m")
        assert (entry.since_nanos, entry.until_nanos, entry.rows) == (
            MIDNIGHT - 2 * NANOS_PER_SEC,
            MIDNIGHT + 5 * NANOS_PER_SEC + 1,
            12,
        )
        assert _answer(eng) == expected


class TestRejectedValue:
    @pytest.mark.parametrize(
        "field_type, value",
        [
            (FieldType.FLOAT64, 1),
            (FieldType.FLOAT64, True),
            (FieldType.FLOAT64, "1.0"),
            (FieldType.UINT64, 1.0),
        ],
    )
    def test_raises_before_the_lock(self, spark, tmp_ctx, field_type, value):
        store = Engine(spark, tmp_ctx).writable_store("m", [field_type])
        points = [DataPoint.new(MIDNIGHT, None), DataPoint.new(MIDNIGHT + 1, value)]
        store.push_multi(points)
        # a foreign lock: taking it first would raise AcquireLockError
        os.makedirs(store.db_dir, exist_ok=True)
        with open(lockfile_path(store.db_dir, store.metrics), "w") as f:
            f.write("someone-else")
        with pytest.raises(PySparkTypeError) as err:
            store.persist()
        assert err.value.getCondition() == "FIELD_DATA_TYPE_UNACCEPTABLE_WITH_NAME"
        assert not os.path.exists(store.block_dir)
        assert store.manifest.load() == []
        assert store.datapoints() == points
        os.unlink(lockfile_path(store.db_dir, store.metrics))
        with pytest.raises(PySparkTypeError):
            store.persist()  # still rejected with the lock free
        assert store.datapoints() == points


class TestFailedWrite:
    def test_block_lands_whole_or_not_at_all(self, spark, tmp_ctx, monkeypatch):
        store = Engine(spark, tmp_ctx).writable_store("m", [FieldType.FLOAT64])
        points = [DataPoint.new(MIDNIGHT - 1, 1.0), DataPoint.new(MIDNIGHT, 2.0)]
        store.push_multi(points)
        write = fsio.write_parquet_atomic
        calls = []

        def second_fails(path, table, **options):
            calls.append(path)
            if len(calls) == 2:
                raise OSError("disk full")
            write(path, table, **options)

        monkeypatch.setattr(fsio, "write_parquet_atomic", second_fails)
        with pytest.raises(OSError, match="disk full"):
            store.persist()
        assert [f for _, _, files in os.walk(store.block_dir) for f in files] == []
        assert store.manifest.load() == []
        assert store.datapoints() == points
        monkeypatch.setattr(fsio, "write_parquet_atomic", write)
        assert store.persist() == 2
        assert _days(store) == ["dt=2023-12-31", "dt=2024-01-01"]
