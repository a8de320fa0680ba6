"""Cell-partitioned per-cell codebook storage (round 10) — the
beyond-~1k-cells regime `pq_codebook_residual_percell` documents:
books persist as `books/cell=<i>/` parquet beside the codes, the fit
and encode never materialize the (n_cells, m, ksub, dsub) tensor,
and a probe's scan tasks read only the probed cells' book files.

Invariants pinned here:

- a partitioned-books store encodes BIT-IDENTICAL codes to an inline
  store under the same model (the cogrouped encoder reuses the
  broadcast encoder's per-cell math exactly);
- partitioned probe ≡ inline probe ≡ in-memory search, row for row;
- the probe never drives the book tensor through the driver (every
  driver materialization primitive is monkeypatch-forbidden while
  the plan is built, except the sanctioned bounded probe-cell list);
- append batches (add_batch) under a partitioned store encode via
  the cogrouped path, including drift into a cell the seed corpus
  never populated (zero-book verdict, same as the inline tensor's
  padding);
- compaction leaves the books directory untouched and preserves
  probe results;
- one book file per cell (the repartition-by-cell write contract a
  probe's one-file-per-probed-cell read cost depends on).
"""

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def model(emb):
    from zikeiretsu_rs_spark.operators import similarity

    cents = similarity.head_centroids(emb, 8, "vec_id", "embedding")
    books = similarity.pq_codebook_residual_percell(
        emb, cents, m=16, ksub=16
    )
    return cents, books


@pytest.fixture(scope="module")
def stores(spark, emb, model, tmp_path_factory):
    """One inline store and one partitioned store over the SAME
    corpus and model."""
    from zikeiretsu_rs_spark.operators import similarity

    cents, books = model
    books_df = similarity.pq_codebook_residual_percell_df(
        emb, cents, m=16, ksub=16
    )
    base = str(tmp_path_factory.mktemp("percell_lakebooks"))
    p_inline = os.path.join(base, "inline")
    p_part = os.path.join(base, "part")
    similarity.ivfadc_percell_write_index(
        emb, p_inline, cents, books=books
    )
    similarity.ivfadc_percell_write_index(
        emb, p_part, cents, books_df=books_df, m=16, ksub=16
    )
    return p_inline, p_part


class TestPartitionedBooksLayout:
    def test_meta_carries_shape_not_model(self, spark, stores):
        from zikeiretsu_rs_spark.catalog import fsio

        _, p_part = stores
        meta = fsio.read_json(os.path.join(p_part, "index_meta.json"))
        assert meta["encoding"] == "ivfadc_percell"
        assert meta["books_storage"] == "partitioned"
        assert meta["m"] == 16 and meta["ksub"] == 16
        assert "books" not in meta  # the tensor never rides the meta

    def test_one_book_file_per_cell(self, stores):
        _, p_part = stores
        cell_dirs = glob.glob(os.path.join(p_part, "books", "cell=*"))
        assert len(cell_dirs) >= 2
        for d in cell_dirs:
            files = glob.glob(os.path.join(d, "*.parquet"))
            assert len(files) == 1, d

    def test_codes_bit_identical_to_inline(self, spark, stores):
        p_inline, p_part = stores
        cols = ["neighbor_id", "cell", "codes"]
        a = _rows(spark.read.parquet(f"{p_inline}/codes").select(*cols))
        b = _rows(spark.read.parquet(f"{p_part}/codes").select(*cols))
        assert len(a) > 0 and a == b


class TestPartitionedBooksProbe:
    def test_probe_parity_inline_partitioned_collect(
        self, spark, emb, model, stores
    ):
        from zikeiretsu_rs_spark.operators import similarity

        cents, books = model
        p_inline, p_part = stores
        queries = emb.where(F.col("vec_id") < 6)
        a = similarity.ivfadc_percell_probe_lake(
            spark, p_inline, queries, k=5, nprobe=3
        )
        b = similarity.ivfadc_percell_probe_lake(
            spark, p_part, queries, k=5, nprobe=3
        )
        c = similarity.ivfadc_percell_topk(
            emb, queries, books, k=5, nprobe=3, centroids=cents
        )
        ra, rb, rc = _rows(a), _rows(b), _rows(c)
        assert len(ra) > 0
        assert ra == rb, "inline vs partitioned probe diverged"
        assert rb == rc, "partitioned probe vs in-memory search diverged"

    def test_probe_never_collects_books_at_driver(
        self, spark, emb, stores
    ):
        """The partitioned probe's ONLY sanctioned driver
        materialization is the bounded probe-cell id list; the book
        tensor must reach scoring through the scan tasks' own reads.
        Every other collect-class primitive raises while the probe
        plan is constructed AND while its rows are fetched.

        Patches the CLASSIC DataFrame class — on Spark 4 instances
        resolve collect/toPandas/... there, so patching the
        `pyspark.sql.DataFrame` base never intercepts anything."""
        from pyspark.sql.classic.dataframe import DataFrame

        from zikeiretsu_rs_spark.operators import similarity

        _, p_part = stores
        queries = emb.where(F.col("vec_id") < 3)

        allowed = {"n": 0}
        saved_collect = DataFrame.collect

        def counted_collect(self):
            # the probe-cell list is a 1-column `cell` frame — anything
            # wider (books, codes, results) is a violation
            assert self.columns == ["cell"], (
                f"driver collect of {self.columns} during partitioned "
                "probe"
            )
            allowed["n"] += 1
            return saved_collect(self)

        def boom(*a, **k):
            raise AssertionError(
                "driver-side materialization during partitioned probe"
            )

        saved = {
            n: getattr(DataFrame, n)
            for n in ("toPandas", "first", "take", "head")
        }
        try:
            DataFrame.collect = counted_collect
            for n in saved:
                setattr(DataFrame, n, boom)
            df = similarity.ivfadc_percell_probe_lake(
                spark, p_part, queries, k=5, nprobe=3
            )
            rows = saved_collect(df)
        finally:
            DataFrame.collect = saved_collect
            for n, f in saved.items():
                setattr(DataFrame, n, f)
        assert allowed["n"] == 1  # exactly the probe-cell list
        assert len(rows) > 0


class TestPartitionedBooksAppend:
    def test_add_batch_parity_with_rebuilt_inline(
        self, spark, emb, model, tmp_path
    ):
        """seed + add_batch under a partitioned store ≡ one-shot
        inline store over the union — epochs and the cogrouped
        encoder are invisible to results."""
        from zikeiretsu_rs_spark.operators import similarity

        cents, books = model
        books_df = similarity.pq_codebook_residual_percell_df(
            emb, cents, m=16, ksub=16
        )
        seed = emb.where(F.col("vec_id") % 2 == 0)
        batch = emb.where(F.col("vec_id") % 2 == 1)
        queries = emb.where(F.col("vec_id") < 6)

        p_part = str(tmp_path / "part_inc")
        idx = similarity.IvfpqLakeIndex(spark, p_part)
        idx.build(seed, cents, books_df=books_df, m=16, ksub=16)
        idx.add_batch(batch)
        inc = idx.probe(queries, k=5, nprobe=3)

        p_full = str(tmp_path / "inline_full")
        similarity.ivfadc_percell_write_index(
            emb, p_full, cents, books=books
        )
        full = similarity.ivfadc_percell_probe_lake(
            spark, p_full, queries, k=5, nprobe=3
        )
        a, b = _rows(inc), _rows(full)
        assert len(a) > 0 and a == b

    def test_batch_drift_into_unfitted_cell_gets_zero_book(
        self, spark, emb, model, tmp_path
    ):
        """A later batch landing in a cell the seed never populated
        has no book row — the cogrouped encoder must produce the
        zero-book verdict (codes all 0), exactly what the inline
        tensor's zero-book padding yields."""
        from zikeiretsu_rs_spark.operators import similarity

        cents, _ = model
        # fit books ONLY over cell-0-assigned rows so other cells have
        # no book rows at all
        assigned = similarity.assign_cells_arrow(
            emb, cents, "vec_id", "embedding", metric="dot"
        )
        cell0_ids = assigned.where(F.col("cell") == 0).select("vec_id")
        seed = emb.join(cell0_ids, "vec_id")
        books_df = similarity.pq_codebook_residual_percell_df(
            seed, cents, m=16, ksub=16
        )
        p = str(tmp_path / "drift")
        idx = similarity.IvfpqLakeIndex(spark, p)
        idx.build(seed, cents, books_df=books_df, m=16, ksub=16)
        idx.add_batch(emb.join(cell0_ids, "vec_id", "left_anti"))
        codes = spark.read.parquet(f"{p}/codes")
        drifted = codes.where(F.col("cell") != 0)
        n_drift = drifted.count()
        assert n_drift > 0  # the fixture really does drift
        nonzero = drifted.where(
            F.exists("codes", lambda c: c != F.lit(0))
        ).count()
        assert nonzero == 0  # zero book => code 0 everywhere

        # and a PROBE whose nprobe covers the drifted cells must not
        # crash on the missing book rows — it scores them against the
        # zero book, row-identical to the inline tensor's zero
        # padding over the same seed-fit model (review finding,
        # round 10: the first cut raised instead)
        books_seed = similarity.pq_codebook_residual_percell(
            seed, cents, m=16, ksub=16
        )
        p_inline = str(tmp_path / "drift_inline")
        idx_i = similarity.IvfpqLakeIndex(spark, p_inline)
        idx_i.build(seed, cents, books=books_seed)
        idx_i.add_batch(emb.join(cell0_ids, "vec_id", "left_anti"))
        queries = emb.where(F.col("vec_id") < 6)
        got = _rows(idx.probe(queries, k=5, nprobe=len(cents)))
        want = _rows(idx_i.probe(queries, k=5, nprobe=len(cents)))
        assert len(got) > 0 and got == want

    def test_compact_preserves_books_and_probe(
        self, spark, emb, model, tmp_path
    ):
        from zikeiretsu_rs_spark.operators import similarity

        cents, _ = model
        books_df = similarity.pq_codebook_residual_percell_df(
            emb, cents, m=16, ksub=16
        )
        p = str(tmp_path / "compact")
        idx = similarity.IvfpqLakeIndex(spark, p)
        idx.build(emb.where(F.col("vec_id") % 3 == 0), cents,
                  books_df=books_df, m=16, ksub=16)
        idx.add_batch(emb.where(F.col("vec_id") % 3 == 1))
        idx.add_batch(emb.where(F.col("vec_id") % 3 == 2))
        queries = emb.where(F.col("vec_id") < 6)
        before_books = sorted(
            os.path.basename(d)
            for d in glob.glob(os.path.join(p, "books", "cell=*"))
        )
        before = _rows(idx.probe(queries, k=5, nprobe=3))
        stats = idx.compact()
        after_books = sorted(
            os.path.basename(d)
            for d in glob.glob(os.path.join(p, "books", "cell=*"))
        )
        after = _rows(idx.probe(queries, k=5, nprobe=3))
        assert stats["epochs_after"] == 2
        assert before_books == after_books  # books untouched
        assert len(before) > 0 and before == after


class TestProbeRefined:
    def test_refined_lake_probe_parity_both_layouts(
        self, spark, emb, model, stores
    ):
        """`IvfpqLakeIndex.probe_refined` (round 10 — the production
        two-stage shape over the stored index) must be row-identical
        to the in-memory `ivfadc_percell_topk_refined` under the same
        model, for BOTH book layouts: the proposals come from the
        (already parity-gated) lake probe and the exact re-score is
        the ONE shared `_exact_rescore` tail."""
        from zikeiretsu_rs_spark.operators import similarity

        cents, books = model
        queries = emb.where(F.col("vec_id") < 6)
        mem = similarity.ivfadc_percell_topk_refined(
            emb, queries, books, k=5, expand=3, nprobe=3,
            centroids=cents,
        )
        want = _rows(mem)
        assert len(want) > 0
        for path in stores:
            idx = similarity.IvfpqLakeIndex(spark, path)
            got = _rows(
                idx.probe_refined(queries, emb, k=5, expand=3, nprobe=3)
            )
            assert got == want, path


class TestBuildValidation:
    def test_exactly_one_model_form(self, spark, emb, model, tmp_path):
        from zikeiretsu_rs_spark.operators import similarity

        cents, books = model
        idx = similarity.IvfpqLakeIndex(spark, str(tmp_path / "x"))
        with pytest.raises(ValueError, match="exactly one"):
            idx.build(emb, cents)
        with pytest.raises(ValueError, match="exactly one"):
            idx.build(
                emb, cents, books=books,
                books_df=spark.range(0).selectExpr(
                    "0 as cell",
                    "array(array(array(0.0d))) as book",
                ),
                m=1, ksub=1,
            )

    def test_empty_books_df_rejected_store_intact(
        self, spark, emb, model, tmp_path
    ):
        """A bad books_df (here: empty) must reject BEFORE the old
        store is touched — the first cut validated after the
        meta/codes/books deletes, so the rejected rebuild destroyed
        the working index (review finding, round 10)."""
        from zikeiretsu_rs_spark.operators import similarity

        cents, _ = model
        p = str(tmp_path / "y")
        good = similarity.pq_codebook_residual_percell_df(
            emb, cents, m=16, ksub=16
        )
        idx = similarity.IvfpqLakeIndex(spark, p)
        idx.build(emb, cents, books_df=good, m=16, ksub=16)
        queries = emb.where(F.col("vec_id") < 3)
        before = _rows(idx.probe(queries, k=5, nprobe=3))

        empty = spark.createDataFrame(
            [],
            "cell int, book array<array<array<double>>>",
        )
        with pytest.raises(ValueError, match="empty"):
            idx.build(emb, cents, books_df=empty, m=16, ksub=16)
        after = _rows(idx.probe(queries, k=5, nprobe=3))
        assert len(before) > 0 and before == after  # store untouched

    def test_wrong_declared_m_rejected(self, spark, emb, model, tmp_path):
        """A wrong m with a right ksub is undetectable downstream —
        the flattened book length is ksub*dim, independent of m, so
        the cogrouped encoder's reshape succeeds and silently
        scrambles every code. build() must catch it against the
        written rows (review finding, round 10)."""
        from zikeiretsu_rs_spark.operators import similarity

        cents, _ = model
        books_df = similarity.pq_codebook_residual_percell_df(
            emb, cents, m=16, ksub=16
        )
        idx = similarity.IvfpqLakeIndex(spark, str(tmp_path / "z"))
        with pytest.raises(ValueError, match="shape mismatch"):
            idx.build(emb, cents, books_df=books_df, m=8, ksub=16)

    def test_shape_args_rejected_without_books_df(
        self, spark, emb, model, tmp_path
    ):
        from zikeiretsu_rs_spark.operators import similarity

        cents, books = model
        idx = similarity.IvfpqLakeIndex(spark, str(tmp_path / "w"))
        with pytest.raises(ValueError, match="only with books_df"):
            idx.build(emb, cents, books=books, m=8, ksub=32)


class TestBooksTreeCorruption:
    """Corruption vs drift: a probed FITTED cell whose book dir is
    gone is damage and must raise; a probed never-fitted cell is the
    drift case the scan legitimately zero-book-scores. The build's
    books_manifest.json is what tells them apart."""

    def _built(self, spark, emb, model, tmp_path):
        from zikeiretsu_rs_spark.operators import similarity

        cents, _ = model
        books_df = similarity.pq_codebook_residual_percell_df(
            emb, cents, m=16, ksub=16
        )
        p = str(tmp_path / "corrupt")
        idx = similarity.IvfpqLakeIndex(spark, p)
        idx.build(emb, cents, books_df=books_df, m=16, ksub=16)
        return idx, p, emb.where(F.col("vec_id") < 6), len(cents)

    def test_manifest_written_and_matches_dirs(
        self, spark, emb, model, tmp_path
    ):
        from zikeiretsu_rs_spark.catalog import fsio

        idx, p, _, _ = self._built(spark, emb, model, tmp_path)
        man = fsio.read_json(os.path.join(p, "books_manifest.json"))
        dirs = sorted(
            int(os.path.basename(d).split("=", 1)[1])
            for d in glob.glob(os.path.join(p, "books", "cell=*"))
        )
        assert man["cells"] == dirs and len(dirs) >= 2

    def test_missing_books_tree_raises(self, spark, emb, model, tmp_path):
        idx, p, queries, n_cells = self._built(
            spark, emb, model, tmp_path
        )
        shutil.rmtree(os.path.join(p, "books"))
        with pytest.raises(ValueError, match="rebuild the index"):
            idx.probe(queries, k=5, nprobe=3)

    def test_missing_fitted_cell_dir_raises(
        self, spark, emb, model, tmp_path
    ):
        idx, p, queries, n_cells = self._built(
            spark, emb, model, tmp_path
        )
        victim = sorted(glob.glob(os.path.join(p, "books", "cell=*")))[0]
        shutil.rmtree(victim)
        # nprobe = n_cells so the probe set definitely includes the
        # damaged cell
        with pytest.raises(ValueError, match="books tree is damaged"):
            idx.probe(queries, k=5, nprobe=n_cells)

    def test_fitted_cell_empty_dir_raises(
        self, spark, emb, model, tmp_path
    ):
        """Partial delete that spares the cell directory but loses the
        part file: the driver's directory-existence check cannot see
        it, so the TASK-side fitted-manifest verdict must raise
        instead of silently scoring the zero book (judged ADVICE
        r10 — the exact silent-degradation case the manifest exists
        to prevent)."""
        idx, p, queries, n_cells = self._built(
            spark, emb, model, tmp_path
        )
        victim = sorted(glob.glob(os.path.join(p, "books", "cell=*")))[0]
        for f in glob.glob(os.path.join(victim, "*")):
            os.unlink(f)
        assert os.path.isdir(victim)  # dir survives, content is gone
        with pytest.raises(Exception, match="missing or empty"):
            idx.probe(queries, k=5, nprobe=n_cells).collect()

    def test_rebuild_inline_clears_stale_manifest(
        self, spark, emb, model, tmp_path
    ):
        """Rebuilding a partitioned-books store as inline-books must
        not leave a stale books_manifest.json claiming fitted cells
        that no longer exist (judged ADVICE r10)."""
        from zikeiretsu_rs_spark.operators import similarity

        cents, books = model
        idx, p, queries, _ = self._built(spark, emb, model, tmp_path)
        assert os.path.exists(os.path.join(p, "books_manifest.json"))
        idx.build(emb, cents, books=books)
        assert not os.path.exists(os.path.join(p, "books_manifest.json"))
        # and the rebuilt inline store probes fine
        assert idx.probe(queries, k=5, nprobe=3).count() > 0
