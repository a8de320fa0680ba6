"""L4 limit pushdown to block selection: manifest-driven pre-pruning
for distinct-ts limits.

Unit spec = the reference's own tests (storage/api/read.rs:470-512);
e2e asserts (a) the limited scan carries a LITERAL ts bound (no
scalar-broadcast join) restricted to the pruned partitions, (b) results
stay exact, (c) the overcount case (duplicate timestamps across blocks)
falls back to the unpruned scalar-threshold path instead of truncating.
The plan pins run the Spark shape by lowering
`spark.sql.files.openCostInBytes` below the kept blocks' size; their
Arrow-shape twins read only the pruned `dt=` dirs.
"""

import os

from zikeiretsu_rs_spark.catalog.manifest import BlockEntry, Manifest
from zikeiretsu_rs_spark.datamodel import DataPoint, FieldType
from zikeiretsu_rs_spark.datetime_util import NANOS_PER_DAY, NANOS_PER_SEC
from zikeiretsu_rs_spark.engine import Engine

from test_datetime_util import nanos
from test_served_path import _jobs, _task_bytes


def be(since, until, num):
    return BlockEntry(since, until, num, num, 0)


class TestPruneForLimit:
    """Port of read.rs test_filter_blocklist_1..4 (read.rs:470-512)."""

    def setup_method(self):
        self.m1 = [be(10, 20, 2), be(21, 30, 4), be(31, 40, 5)]
        self.m2 = [be(10, 20, 3), be(21, 30, 4), be(31, 40, 3)]

    def test_blocklist_1(self):
        assert Manifest.prune_for_limit(self.m1, 1) == self.m1[:1]
        assert Manifest.prune_for_limit(self.m1, 1, tail=True) == self.m1[2:]

    def test_blocklist_2(self):
        assert Manifest.prune_for_limit(self.m2, 2) == self.m2[:1]
        assert Manifest.prune_for_limit(self.m2, 2, tail=True) == self.m2[2:]

    def test_blocklist_3_exact_boundary_keeps_extra_block(self):
        assert Manifest.prune_for_limit(self.m2, 3) == self.m2[:2]
        assert Manifest.prune_for_limit(self.m2, 3, tail=True) == self.m2[1:]

    def test_blocklist_4(self):
        assert Manifest.prune_for_limit(self.m2, 4) == self.m2[:2]
        assert Manifest.prune_for_limit(self.m2, 4, tail=True) == self.m2[1:]

    def test_overlap_expansion(self):
        """Blocks overlapping the selected bound are pulled in (covers
        cross-block duplicate timestamps the reference's TODO notes)."""
        entries = [be(10, 20, 3), be(15, 25, 3), be(30, 40, 3)]
        # head 2: first block suffices (cum 3 > 2), but the second
        # overlaps its bound (15 <= 20) and must be kept
        assert Manifest.prune_for_limit(entries, 2) == entries[:2]

    def test_degenerate(self):
        assert Manifest.prune_for_limit([], 3) == []
        assert Manifest.prune_for_limit(self.m1, 0) == self.m1
        assert Manifest.prune_for_limit(self.m1, 100) == self.m1


class TestBlockSearch:
    """Port of BlockList::search tests (block_list/mod.rs:603-700,
    test_block_timestamps_search_1..5): contiguous slice from the first
    block with until >= since through the last with since <= until."""

    def setup_method(self):
        self.metas = [
            be(10, 20, 10), be(10, 20, 10), be(10, 20, 10), be(11, 30, 10),
            be(11, 30, 10), be(12, 30, 10), be(15, 30, 10), be(21, 30, 10),
        ]

    def test_search_1(self):
        assert Manifest.search(self.metas, 11, 15) == self.metas[:7]

    def test_search_2(self):
        assert Manifest.search(self.metas, 10, 15) == self.metas[:7]

    def test_search_3(self):
        assert Manifest.search(self.metas, 10, 22) == self.metas

    def test_search_open_bounds(self):
        assert Manifest.search(self.metas, None, None) == self.metas
        assert Manifest.search(self.metas, 21, None) == self.metas[3:]
        assert Manifest.search(self.metas, 31, None) == []
        assert Manifest.search(self.metas, None, 9) == []
        assert Manifest.search([], 1, 2) == []


class TestPruneProperties:
    """Hypothesis: for ANY block layout (overlaps included) the pruned
    selection (a) keeps cumulative distinct_ts >= n or everything,
    (b) contains every block overlapping its own time bound — the two
    facts the literal-bound scan depends on."""

    from hypothesis import given, settings
    from hypothesis import strategies as st

    blocks = st.lists(
        st.tuples(
            st.integers(0, 1000),  # since
            st.integers(0, 500),  # extent
            st.integers(1, 50),  # distinct_ts
        ),
        min_size=0,
        max_size=12,
    )

    @settings(max_examples=300, deadline=None)
    @given(blocks, st.integers(0, 200), st.booleans())
    def test_invariants(self, raw, n, tail):
        entries = sorted(
            (be(s, s + ext, num) for s, ext, num in raw),
            key=lambda e: (e.until_nanos, e.since_nanos),
        )
        sel = Manifest.prune_for_limit(entries, n, tail=tail)
        assert set(sel) <= set(entries)
        if n <= 0 or not entries:
            assert sel == entries
            return
        total = sum(e.distinct_ts for e in sel)
        assert total >= min(n, sum(e.distinct_ts for e in entries))
        if sel and len(sel) < len(entries):
            if tail:
                bound = min(e.since_nanos for e in sel)
                assert all(e.until_nanos < bound for e in entries if e not in sel)
            else:
                bound = max(e.until_nanos for e in sel)
                assert all(e.since_nanos > bound for e in entries if e not in sel)


def plan_of(spark, df) -> str:
    jexec = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return jexec.explainString(mode)


class TestLimitPrePruneE2E:
    def _store_three_days(self, spark, tmp_ctx, per_day=5):
        engine = Engine(spark, tmp_ctx)
        store = engine.writable_store("m", [FieldType.FLOAT64])
        base = nanos(2024, 1, 1)
        for d in range(3):  # one persist per day -> 3 manifest blocks
            store.push_multi(
                [
                    DataPoint.new(base + d * NANOS_PER_DAY + i * NANOS_PER_SEC, float(d))
                    for i in range(per_day)
                ]
            )
            store.persist()
        return engine, base

    def test_head_limit_prunes_blocks_to_literal_bound(self, spark, tmp_ctx):
        engine, base = self._store_three_days(spark, tmp_ctx)
        with _task_bytes(spark, "16b"):  # the kept block is 80 bytes
            df = engine.execute_to_df(
                "with format_datetime = false select * from m where ts >=|3 '2023-01-01'",
                now_nanos=base,
            )
        rows = df.collect()
        assert [r["ts"] for r in rows] == [base, base + NANOS_PER_SEC, base + 2 * NANOS_PER_SEC]
        plan = plan_of(spark, df)
        # literal-threshold path: no scalar-broadcast join, literal
        # pushed ts filter, and only the first dt partition survives
        assert "__ts_threshold" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert f"LessThanOrEqual(ts,{base + 2 * NANOS_PER_SEC})" in plan, plan
        assert "2024-01-03" not in plan.split("PartitionFilters")[1].splitlines()[0]

    def test_tail_limit_prunes_blocks(self, spark, tmp_ctx):
        engine, base = self._store_three_days(spark, tmp_ctx)
        with _task_bytes(spark, "16b"):
            df = engine.execute_to_df(
                "with format_datetime = false select * from m where ts <=|2 '2024-12-31'",
                now_nanos=base,
            )
        last = base + 2 * NANOS_PER_DAY + 4 * NANOS_PER_SEC
        assert [r["ts"] for r in df.collect()] == [last - NANOS_PER_SEC, last]
        plan = plan_of(spark, df)
        assert "__ts_threshold" not in plan
        assert f"GreaterThanOrEqual(ts,{last - NANOS_PER_SEC})" in plan, plan

    @staticmethod
    def _dirs_read(monkeypatch) -> list[str]:
        """The `dt=` dirs the Arrow shape reads, as they are listed."""
        from zikeiretsu_rs_spark.query import translator

        seen: list[str] = []
        real = translator._day_dirs

        def spy(*args):
            dirs = real(*args)
            seen.extend(os.path.basename(d) for d in dirs)
            return dirs

        monkeypatch.setattr(translator, "_day_dirs", spy)
        return seen

    def test_head_limit_arrow_shape_reads_pruned_days(self, spark, tmp_ctx, monkeypatch):
        engine, base = self._store_three_days(spark, tmp_ctx)
        seen = self._dirs_read(monkeypatch)
        (table, _), jobs = _jobs(spark, lambda: engine.execute_to_arrow(
            "with format_datetime = false select * from m where ts >=|3 '2023-01-01'",
            now_nanos=base,
        ))
        assert jobs == 0
        assert table.column("ts").to_pylist() == [
            base, base + NANOS_PER_SEC, base + 2 * NANOS_PER_SEC
        ]
        assert set(seen) == {"dt=2024-01-01"}

    def test_tail_limit_arrow_shape_reads_pruned_days(self, spark, tmp_ctx, monkeypatch):
        engine, base = self._store_three_days(spark, tmp_ctx)
        seen = self._dirs_read(monkeypatch)
        (table, _), jobs = _jobs(spark, lambda: engine.execute_to_arrow(
            "with format_datetime = false select * from m where ts <=|2 '2024-12-31'",
            now_nanos=base,
        ))
        assert jobs == 0
        last = base + 2 * NANOS_PER_DAY + 4 * NANOS_PER_SEC
        assert table.column("ts").to_pylist() == [last - NANOS_PER_SEC, last]
        assert set(seen) == {"dt=2024-01-03"}

    def test_range_plus_limit_composes(self, spark, tmp_ctx):
        engine, base = self._store_three_days(spark, tmp_ctx)
        # range starting day 1 + head 2 -> first two ts of day 1
        df = engine.execute_to_df(
            "with format_datetime = false select * from m where ts >=|2 '2024-01-02'",
            now_nanos=base,
        )
        d1 = base + NANOS_PER_DAY
        assert [r["ts"] for r in df.collect()] == [d1, d1 + NANOS_PER_SEC]

    def test_duplicate_ts_across_blocks_falls_back_exactly(self, spark, tmp_ctx):
        """Two blocks share ALL timestamps (per-block distinct_ts
        overcounts the union); a head limit spanning them must fall
        back to the unpruned path and still return n distinct ts."""
        engine = Engine(spark, tmp_ctx)
        store = engine.writable_store("m", [FieldType.FLOAT64])
        base = nanos(2024, 1, 1)
        same_day = [base + i * NANOS_PER_SEC for i in range(5)]
        for _ in range(2):  # two persists, identical 5 timestamps
            store.push_multi([DataPoint.new(t, 1.0) for t in same_day])
            store.persist()
        later = base + 2 * NANOS_PER_DAY
        store.push_multi(
            [DataPoint.new(later + i * NANOS_PER_SEC, 2.0) for i in range(6)]
        )
        store.persist()
        df = engine.execute_to_df(
            "with format_datetime = false select * from m where ts >=|8 '2023-01-01'",
            now_nanos=base,
        )
        got = sorted({r["ts"] for r in df.collect()})
        expect = same_day + [later + i * NANOS_PER_SEC for i in range(3)]
        assert got == expect


class TestManifestUseCache:
    """`use_cache` parity (reference block-list LRU,
    storage/cache/block_cache.rs:13-52): with use_cache the parsed
    manifest serves repeated queries from the process-local memo
    without re-fetching; a plain load refreshes; same-process writes
    write through so a cached reader sees its own appends."""

    def test_cached_load_skips_refetch_and_write_through(
        self, tmp_path, monkeypatch
    ):
        from zikeiretsu_rs_spark.catalog import fsio, manifest as mmod
        from zikeiretsu_rs_spark.catalog.manifest import BlockEntry, Manifest

        m = Manifest(str(tmp_path), "cpu")
        m.add_entry(BlockEntry(0, 10, 5, 5, 99), updated_at_nanos=99)

        calls = {"n": 0}
        real = fsio.read_json

        def counting(path):
            calls["n"] += 1
            return real(path)

        monkeypatch.setattr(mmod.fsio, "read_json", counting)
        # prime (uncached read), then cached reads cost zero fetches
        assert len(m.load()) == 1
        n_after_prime = calls["n"]
        assert len(m.load(use_cache=True)) == 1
        assert len(m.load(use_cache=True)) == 1
        assert calls["n"] == n_after_prime
        # a plain load refreshes (the use_cache=false dialect setting)
        m.load()
        assert calls["n"] == n_after_prime + 1
        # write-through: the cached view sees this process's append
        m.add_entry(BlockEntry(20, 30, 5, 5, 100), updated_at_nanos=100)
        before = calls["n"]
        assert len(m.load(use_cache=True)) == 2
        assert calls["n"] == before

    def test_out_of_band_write_visible_only_after_refresh(self, tmp_path):
        from zikeiretsu_rs_spark.catalog.manifest import BlockEntry, Manifest

        a = Manifest(str(tmp_path), "mem")
        a.add_entry(BlockEntry(0, 10, 5, 5, 99), updated_at_nanos=99)
        assert len(a.load(use_cache=True)) == 1
        # "another process": a second Manifest handle bypassing a's memo
        # is the same path, so simulate by rewriting the file directly
        b = Manifest(str(tmp_path), "mem")
        entries = b.load()
        b.rewrite(
            entries + [BlockEntry(20, 30, 5, 5, 100)], updated_at_nanos=100
        )
        # same process shares the memo (write-through) -> visible; the
        # stale-until-refresh behavior is cross-process by nature and
        # documented at the cache definition
        assert len(a.load(use_cache=True)) == 2
        assert len(a.load()) == 2
