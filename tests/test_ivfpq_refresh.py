"""Drift-time book refresh (round 11, VERDICT r10 item 3): an
incrementally-maintained per-cell-books index ages — appended batches
drift into cells the seed fit never populated and score against the
zero book (recall-free: every such row reconstructs to its cell
centroid). `IvfpqLakeIndex.refresh_books` (standalone or via
`compact(refresh_corpus=...)`) re-fits books for drifted cells past a
row threshold and re-encodes exactly those cells' rows.

Invariants pinned here:

- refresh fits books for exactly the drifted cells and extends the
  fitted-cell manifest (drift detection keys off the MANIFEST, so a
  crashed run re-converges);
- refresh strictly improves recall on a drifted fixture (the verdict's
  done-criterion), and probe ≡ the in-memory search under the
  merged post-refresh model (parity);
- non-drifted cells' codes are BIT-IDENTICAL before and after (the
  frozen-model contract: refresh only touches never-fitted cells);
- replay safety: a foreachBatch redelivery AFTER refresh re-encodes
  under the refreshed books tree and rewrites identical state;
- validation before destruction: a corpus missing drifted rows, or one
  whose vectors re-assign cells, rejects with the store untouched;
- inline-books stores reject (their model is frozen in the meta);
- below-threshold drift cells stay zero-book (skipped, reported).
"""

import glob
import os

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"
M, KSUB, N_CELLS = 16, 16, 8


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def split(spark, emb):
    """(cents, victim_cell, seed, batch): the drifted fixture — the
    most populous cell's rows are withheld from the seed corpus and
    arrive only as an appended batch, so that cell is never fitted."""
    from zikeiretsu_rs_spark.operators import similarity

    cents = similarity.head_centroids(emb, N_CELLS, "vec_id", "embedding")
    asg = similarity.assign_cells_arrow(
        emb, cents, "vec_id", "embedding", metric="dot"
    ).select("vec_id", "cell")
    counts = {
        int(r["cell"]): int(r["n"])
        for r in asg.groupBy("cell").agg(F.count("*").alias("n")).collect()
    }
    victim = max(counts, key=lambda c: counts[c])
    assert counts[victim] >= KSUB  # enough drift rows to cross min_rows
    seed = emb.join(
        asg.where(F.col("cell") != victim).select("vec_id"), "vec_id"
    ).cache()
    batch = emb.join(
        asg.where(F.col("cell") == victim).select("vec_id"), "vec_id"
    ).cache()
    return cents, victim, seed, batch


def _build_drifted(spark, split, tmp_path):
    """Partitioned-books store: seed as epoch 0 (victim cell never
    fitted), victim-cell rows appended as epoch 1."""
    from zikeiretsu_rs_spark.operators import similarity

    cents, victim, seed, batch = split
    books_df = similarity.pq_codebook_residual_percell_df(
        seed, cents, m=M, ksub=KSUB
    )
    p = str(tmp_path / "store")
    idx = similarity.IvfpqLakeIndex(spark, p)
    idx.build(seed, cents, books_df=books_df, m=M, ksub=KSUB)
    idx.add_batch(batch)
    return idx, p


class TestRefreshMechanics:
    def test_refits_drifted_cell_and_updates_manifest(
        self, spark, emb, split, tmp_path
    ):
        from zikeiretsu_rs_spark.catalog import fsio

        cents, victim, seed, batch = split
        idx, p = _build_drifted(spark, split, tmp_path)
        man0 = set(fsio.read_json(os.path.join(p, "books_manifest.json"))["cells"])
        assert victim not in man0
        assert not os.path.isdir(os.path.join(p, "books", f"cell={victim}"))
        res = idx.refresh_books(emb)
        assert res["refreshed_cells"] == [victim]
        assert res["rows_reencoded"] == batch.count()
        man1 = set(fsio.read_json(os.path.join(p, "books_manifest.json"))["cells"])
        assert man1 == man0 | {victim}
        files = glob.glob(os.path.join(p, "books", f"cell={victim}", "*.parquet"))
        assert files  # the drifted cell's book landed beside the others

    def test_untouched_cells_codes_bit_identical(
        self, spark, emb, split, tmp_path
    ):
        cents, victim, _, _ = split
        idx, p = _build_drifted(spark, split, tmp_path)
        cols = ["neighbor_id", "cell", "codes"]
        before = _rows(
            spark.read.parquet(f"{p}/codes")
            .where(F.col("cell") != victim)
            .select(*cols)
        )
        zeros_before = _rows(
            spark.read.parquet(f"{p}/codes")
            .where(F.col("cell") == victim)
            .select(*cols)
        )
        idx.refresh_books(emb)
        after = _rows(
            spark.read.parquet(f"{p}/codes")
            .where(F.col("cell") != victim)
            .select(*cols)
        )
        recoded = _rows(
            spark.read.parquet(f"{p}/codes")
            .where(F.col("cell") == victim)
            .select(*cols)
        )
        assert before == after  # frozen outside the drifted cell
        # pre-refresh zero-book codes are all code 0 (argmin ties
        # break low against the zero book); post-refresh they are not
        assert all(all(c == 0 for c in r[2]) for r in zeros_before)
        assert {r[0] for r in recoded} == {r[0] for r in zeros_before}
        assert any(any(c != 0 for c in r[2]) for r in recoded)

    def test_idempotent_rerun_is_noop(self, spark, emb, split, tmp_path):
        idx, p = _build_drifted(spark, split, tmp_path)
        idx.refresh_books(emb)
        queries = emb.where(F.col("vec_id") < 6)
        probe1 = _rows(idx.probe(queries, k=5, nprobe=N_CELLS))
        res2 = idx.refresh_books(emb)
        assert res2["refreshed_cells"] == []
        assert res2["rows_reencoded"] == 0
        assert _rows(idx.probe(queries, k=5, nprobe=N_CELLS)) == probe1

    def test_below_min_rows_skipped(self, spark, emb, split, tmp_path):
        cents, victim, _, batch = split
        idx, p = _build_drifted(spark, split, tmp_path)
        res = idx.refresh_books(emb, min_rows=batch.count() + 1)
        assert res["refreshed_cells"] == []
        assert res["skipped_below_min_rows"] == [victim]
        # the drifted cell still scores against the zero book
        assert not os.path.isdir(os.path.join(p, "books", f"cell={victim}"))


class TestRefreshQuality:
    def test_refresh_strictly_improves_drifted_recall(
        self, spark, emb, split, tmp_path
    ):
        """The verdict's done-criterion: on a drifted fixture, refresh
        strictly improves (never degrades) the drifted cells' recall.
        Queries are drifted-cell vectors, so their true neighbors
        live in the drifted cell — pre-refresh its codes reconstruct
        to one point (the cell centroid) and ranking is id-ties."""
        from zikeiretsu_rs_spark.operators import similarity

        cents, victim, _, batch = split
        idx, p = _build_drifted(spark, split, tmp_path)
        qids = [
            r["vec_id"]
            for r in batch.select("vec_id").orderBy("vec_id").limit(5).collect()
        ]
        queries = emb.where(F.col("vec_id").isin(qids))
        exact = similarity.cosine_topk(emb, queries, k=10)
        n_exact = exact.count()

        def recall():
            approx = idx.probe(queries, k=10, nprobe=N_CELLS)
            return (
                approx.join(
                    exact, ["query_id", "neighbor_id"], "left_semi"
                ).count()
                / n_exact
            )

        before = recall()
        idx.refresh_books(emb)
        after = recall()
        assert after >= before
        assert after > before  # strict on this fixture: zero-book -> fit

    def test_post_refresh_probe_parity_with_inmemory(
        self, spark, emb, split, tmp_path
    ):
        """Post-refresh store ≡ in-memory search under the
        merged model (seed books for seed cells + refresh books for
        the drifted cell, read back from the lake)."""
        from zikeiretsu_rs_spark.operators import similarity

        cents, victim, _, _ = split
        idx, p = _build_drifted(spark, split, tmp_path)
        idx.refresh_books(emb)
        books = similarity.load_percell_books(spark, p)
        queries = emb.where(F.col("vec_id") < 6)
        mem = similarity.ivfadc_percell_topk(
            emb, queries, books, k=5, nprobe=4, centroids=cents
        )
        lake = idx.probe(queries, k=5, nprobe=4)
        cols = ["query_id", "neighbor_id", "adc_cosine", "rank"]
        assert _rows(lake.select(*cols)) == _rows(mem.select(*cols))


class TestRefreshSafety:
    def test_missing_corpus_rows_reject_store_intact(
        self, spark, emb, split, tmp_path
    ):
        cents, victim, _, batch = split
        idx, p = _build_drifted(spark, split, tmp_path)
        hold_out = [
            r["vec_id"]
            for r in batch.select("vec_id").orderBy("vec_id").limit(3).collect()
        ]
        partial = emb.where(~F.col("vec_id").isin(hold_out))
        before = _rows(spark.read.parquet(f"{p}/codes"))
        with pytest.raises(ValueError, match="store left untouched"):
            idx.refresh_books(partial)
        assert _rows(spark.read.parquet(f"{p}/codes")) == before
        assert not os.path.isdir(os.path.join(p, "books", f"cell={victim}"))
        assert not os.path.isdir(f"{p}/books__refresh_staging")

    def test_mutated_corpus_vectors_reject(self, spark, emb, split, tmp_path):
        """A corpus whose vectors re-assign to different cells must
        reject — rewriting codes from it would scatter rows across
        partitions (fit-cell-set check catches it first)."""
        idx, p = _build_drifted(spark, split, tmp_path)
        mutated = emb.withColumn(
            "embedding",
            F.transform("embedding", lambda x: -x),
        )
        with pytest.raises(ValueError, match="store left untouched"):
            idx.refresh_books(mutated)

    def test_inline_store_rejects(self, spark, emb, split, tmp_path):
        from zikeiretsu_rs_spark.operators import similarity

        cents, _, seed, _ = split
        books = similarity.pq_codebook_residual_percell(
            seed, cents, m=M, ksub=KSUB
        )
        p = str(tmp_path / "inline")
        idx = similarity.IvfpqLakeIndex(spark, p)
        idx.build(seed, cents, books=books)
        with pytest.raises(ValueError, match="partitioned-books"):
            idx.refresh_books(emb)

    def test_redelivery_after_refresh_bit_identical(
        self, spark, emb, split, tmp_path
    ):
        """Replay safety: _encode reads the books tree live, so a
        redelivered epoch AFTER a refresh re-encodes under the
        refreshed books and rewrites identical state."""
        cents, victim, _, batch = split
        idx, p = _build_drifted(spark, split, tmp_path)
        idx.refresh_books(emb)
        state = _rows(spark.read.parquet(f"{p}/codes"))
        idx.add_batch(batch, epoch=1)  # foreachBatch redelivery
        assert _rows(spark.read.parquet(f"{p}/codes")) == state


class TestCompactIntegration:
    def test_compact_with_refresh(self, spark, emb, split, tmp_path):
        """compact(refresh_corpus=...) merges epochs AND refreshes;
        the post-maintenance probe equals the refresh-only probe
        (epochs are invisible to results; refresh is epoch-agnostic)."""
        cents, victim, seed, batch = split
        idx, p = _build_drifted(spark, split, tmp_path)
        # a second appended epoch so compaction has history to merge;
        # the refresh corpus must hold the new ids' floats too
        shifted = (
            batch.orderBy("vec_id")
            .limit(5)
            .withColumn("vec_id", F.col("vec_id") + 1_000_000)
        )
        corpus = emb.unionByName(shifted)
        idx.add_batch(shifted)
        queries = emb.where(F.col("vec_id") < 6)
        twin_idx, _ = _build_drifted(spark, split, tmp_path / "twin")
        twin_idx.add_batch(shifted)
        twin_idx.refresh_books(corpus)
        want = _rows(twin_idx.probe(queries, k=5, nprobe=N_CELLS))

        out = idx.compact(refresh_corpus=corpus)
        assert out["refresh"]["refreshed_cells"] == [victim]
        eps = sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(f"{p}/codes")
            if d.startswith("epoch=")
        )
        assert len(eps) <= 2  # merged history + replayable head
        assert _rows(idx.probe(queries, k=5, nprobe=N_CELLS)) == want


class TestRefreshCrashSafety:
    def test_torn_codes_rewrite_rolls_back_and_converges(
        self, spark, emb, split, tmp_path
    ):
        """Simulated crash inside the step-4 dynamic-overwrite job
        commit (partition dir deleted, staged replacement not yet
        moved in, backup still present): the next refresh must first
        restore the pre-rewrite copy — no indexed row may be lost —
        then converge to the same state as a clean refresh.

        The hand-built crash state includes EVERYTHING a real
        mid-step-4 crash leaves behind (judged ADVICE r12 high — the
        old fixture omitted the step-3 books write, hiding the
        old-codes×new-books decode): the victim cell's NEW book dir
        is on disk, and the snapshot probe must still be
        bit-identical to the pre-rewrite baseline, i.e. decode the
        victim's zero-book codes against the ZERO book (the backup
        meta's pre-rewrite fitted set + the kernel's
        manifest-authoritative rule), never against the new book."""
        import json
        import shutil

        cents, victim, _, batch = split
        clean_idx, _ = _build_drifted(spark, split, tmp_path / "clean")
        clean_idx.refresh_books(emb)
        queries = emb.where(F.col("vec_id") < 6)
        want = _rows(clean_idx.probe(queries, k=5, nprobe=N_CELLS))

        idx, p = _build_drifted(spark, split, tmp_path / "torn")
        n_before = spark.read.parquet(f"{p}/codes").count()
        pre_rewrite = _rows(idx.probe(queries, k=5, nprobe=N_CELLS))
        # hand-build the torn state a mid-commit crash leaves behind:
        # backup complete (with the snapshot meta refresh records),
        # the victim's NEW book already written (step 3 precedes the
        # codes rewrite), the live codes partition deleted by the
        # commit but its replacement not yet moved in
        live = os.path.join(p, "codes", "epoch=1", f"cell={victim}")
        backup_root = os.path.join(p, "codes__refresh_backup")
        backup = os.path.join(backup_root, "epoch=1", f"cell={victim}")
        shutil.copytree(live, backup)
        with open(fsio_join_meta := os.path.join(
            backup_root, "__snapshot_meta.json"
        ), "w") as f:
            json.dump(
                {
                    "verb": "refresh_books",
                    "fitted_cells": sorted(
                        set(range(N_CELLS)) - {victim}
                    ),
                    "drifted": [victim],
                },
                f,
            )
        assert os.path.exists(fsio_join_meta)
        # step 3's books write: the NEW per-cell book for the victim
        # (a real crash always leaves this behind). Copy a DIFFERENT
        # fitted cell's book file in — if the snapshot probe reads it,
        # the scores diverge loudly from the pre-rewrite baseline.
        donor = next(
            c for c in range(N_CELLS) if c != victim
            and os.path.isdir(os.path.join(p, "books", f"cell={c}"))
        )
        shutil.copytree(
            os.path.join(p, "books", f"cell={donor}"),
            os.path.join(p, "books", f"cell={victim}"),
        )
        shutil.rmtree(live)  # the commit's delete landed, the move didn't
        assert spark.read.parquet(f"{p}/codes").count() < n_before
        # while the backup survives (torn, or a healthy rewrite in
        # flight) probing serves the pre-rewrite SNAPSHOT — backup ∪
        # untouched partitions — bit-identically (round 12; probes
        # used to refuse for the whole maintenance window), including
        # zero-book scoring for the drifted cell despite the new book
        # dir on disk (round 13)
        assert (
            _rows(idx.probe(queries, k=5, nprobe=N_CELLS)) == pre_rewrite
        )
        res = idx.refresh_books(emb)
        assert res["refreshed_cells"] == [victim]
        assert res["rows_reencoded"] == batch.count()  # nothing lost
        assert not os.path.isdir(os.path.join(p, "codes__refresh_backup"))
        assert spark.read.parquet(f"{p}/codes").count() == n_before
        assert _rows(idx.probe(queries, k=5, nprobe=N_CELLS)) == want

    def test_committed_refresh_with_surviving_backup_rolls_forward(
        self, spark, emb, split, tmp_path
    ):
        """Crash between the manifest extension and the window close
        (refresh steps 5 and 6): the backup survives but the rewrite
        fully committed. Recovery must roll FORWARD — drop the backup
        without restoring — because restoring would put the old
        zero-book codes under the NEW manifest (and discard a
        complete refresh). The next refresh is a no-op and the probe
        equals a clean refresh's."""
        import shutil

        cents, victim, _, batch = split
        clean_idx, _ = _build_drifted(spark, split, tmp_path / "clean")
        clean_idx.refresh_books(emb)
        queries = emb.where(F.col("vec_id") < 6)
        want = _rows(clean_idx.probe(queries, k=5, nprobe=N_CELLS))

        idx, p = _build_drifted(spark, split, tmp_path / "fwd")
        # run the real refresh, then re-install the backup the close
        # would have dropped (rename-close makes this exactly the
        # crash-between-5-and-6 state: complete backup + meta, new
        # books, new codes, extended manifest)
        import zikeiretsu_rs_spark.catalog.backup as backuplib

        orig_drop = backuplib.drop
        try:
            backuplib.drop = lambda root: None  # crash before close
            idx.refresh_books(emb)
        finally:
            backuplib.drop = orig_drop
        backup_root = os.path.join(p, "codes__refresh_backup")
        assert os.path.isdir(backup_root)  # the window never closed
        codes_after_commit = _rows(
            spark.read.parquet(f"{p}/codes").select("neighbor_id", "codes")
        )
        res = idx.refresh_books(emb)  # recovery runs first
        assert not os.path.isdir(backup_root)  # rolled forward
        assert res["refreshed_cells"] == []  # nothing re-done
        assert (
            _rows(
                spark.read.parquet(f"{p}/codes").select(
                    "neighbor_id", "codes"
                )
            )
            == codes_after_commit
        )
        assert _rows(idx.probe(queries, k=5, nprobe=N_CELLS)) == want

    def test_compact_refresh_rejects_before_merging(
        self, spark, emb, split, tmp_path
    ):
        """compact(refresh_corpus=...) on an ineligible store must
        fail BEFORE the epoch merge mutates anything."""
        from zikeiretsu_rs_spark.operators import similarity

        cents, _, seed, batch = split
        books = similarity.pq_codebook_residual_percell(
            seed, cents, m=M, ksub=KSUB
        )
        p = str(tmp_path / "inline")
        idx = similarity.IvfpqLakeIndex(spark, p)
        idx.build(seed, cents, books=books)
        idx.add_batch(batch.limit(10), epoch=1)
        idx.add_batch(batch.limit(10), epoch=2)
        epochs_before = sorted(os.listdir(os.path.join(p, "codes")))
        assert len(epochs_before) == 3
        with pytest.raises(ValueError, match="partitioned-books"):
            idx.compact(refresh_corpus=emb)
        assert sorted(os.listdir(os.path.join(p, "codes"))) == epochs_before

    def test_crash_mid_backup_copy_drops_tmp_and_proceeds(
        self, spark, emb, split, tmp_path
    ):
        """A crash mid backup COPY leaves only the __tmp sibling; the
        live partitions are intact (the rewrite never started), so
        recovery must drop the incomplete copy — never promote or
        restore it — and the refresh must run normally."""
        cents, victim, _, batch = split
        idx, p = _build_drifted(spark, split, tmp_path)
        tmp = os.path.join(
            p, "codes__refresh_backup__tmp", "epoch=1", f"cell={victim}"
        )
        os.makedirs(tmp)
        with open(os.path.join(tmp, "part-truncated.parquet"), "wb") as f:
            f.write(b"\x00\x01")  # a torn, unreadable copy
        res = idx.refresh_books(emb)
        assert res["refreshed_cells"] == [victim]
        assert res["rows_reencoded"] == batch.count()
        assert not os.path.isdir(os.path.join(p, "codes__refresh_backup__tmp"))
