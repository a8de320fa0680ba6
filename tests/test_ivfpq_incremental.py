"""IvfpqLakeIndex — incrementally maintained lake-resident IVFPQ
index (round 8): appends must be invisible to probe results (seed +
appends ≡ one-shot index ≡ in-memory join path), epochs must replay
idempotently, compaction must bound file counts without changing
results, and a crash mid-compaction must converge on re-run.
"""

import os

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
    book = similarity.pq_codebook(emb, m=16, ksub=16)
    return cents, book


def _thirds(emb):
    n = emb.count()
    a, b = n // 3, 2 * n // 3
    return (
        emb.where(F.col("vec_id") < a),
        emb.where((F.col("vec_id") >= a) & (F.col("vec_id") < b)),
        emb.where(F.col("vec_id") >= b),
    )


class TestIncrementalParity:
    def test_appends_equal_one_shot_and_memory(
        self, spark, emb, model, tmp_path
    ):
        from zikeiretsu_rs_spark.operators import similarity

        cents, book = model
        seed, b1, b2 = _thirds(emb)
        queries = emb.where(F.col("vec_id") < 4)

        idx = similarity.IvfpqLakeIndex(spark, str(tmp_path / "inc"))
        idx.build(seed, cents, book)
        idx.add_batch(b1)
        idx.add_batch(b2)
        inc = _rows(idx.probe(queries, k=3, nprobe=2))

        one_shot = str(tmp_path / "oneshot")
        similarity.ivfpq_write_index(emb, one_shot, cents, book)
        lake = _rows(
            similarity.ivfpq_probe_lake(spark, one_shot, queries, k=3, nprobe=2)
        )
        mem = _rows(
            similarity.ivfpq_topk(
                emb, queries, book, k=3, n_cells=8, nprobe=2, centroids=cents
            )
        )
        assert inc == lake == mem
        assert len(inc) > 0

    def test_epoch_replay_is_idempotent(self, spark, emb, model, tmp_path):
        from zikeiretsu_rs_spark.operators import similarity

        cents, book = model
        seed, b1, _ = _thirds(emb)
        queries = emb.where(F.col("vec_id") < 4)
        idx = similarity.IvfpqLakeIndex(spark, str(tmp_path / "inc"))
        idx.build(seed, cents, book)
        idx.add_batch(b1, epoch=1)
        before = _rows(idx.probe(queries, k=3, nprobe=2))
        idx.add_batch(b1, epoch=1)  # foreachBatch redelivery
        assert _rows(idx.probe(queries, k=3, nprobe=2)) == before
        assert idx._epochs() == [0, 1]

    def test_probe_prunes_partitions_across_epochs(
        self, spark, emb, model, tmp_path
    ):
        from zikeiretsu_rs_spark.operators import similarity

        cents, book = model
        seed, b1, b2 = _thirds(emb)
        queries = emb.where(F.col("vec_id") < 4)
        idx = similarity.IvfpqLakeIndex(spark, str(tmp_path / "inc"))
        idx.build(seed, cents, book)
        idx.add_batch(b1)
        idx.add_batch(b2)
        probe = idx.probe(queries, k=3, nprobe=2)
        plan = probe._jdf.queryExecution().executedPlan().toString()
        pf = [
            ln
            for ln in plan.splitlines()
            if "PartitionFilters" in ln and "codes" in ln
        ]
        assert pf and "cell#" in pf[0], plan[:4000]

    def test_guards(self, spark, emb, model, tmp_path):
        from zikeiretsu_rs_spark.operators import similarity

        cents, book = model
        idx = similarity.IvfpqLakeIndex(spark, str(tmp_path / "inc"))
        with pytest.raises(FileNotFoundError):
            idx.add_batch(emb)
        with pytest.raises(FileNotFoundError):
            idx.probe(emb.where(F.col("vec_id") < 2))
        idx.build(emb.where(F.col("vec_id") < 10), cents, book)
        with pytest.raises(ValueError):
            idx.add_batch(emb, epoch=0)

    def test_rebuild_in_place_clears_stale_epochs(
        self, spark, emb, model, tmp_path
    ):
        """The retrain-offline workflow the class docstring names:
        rebuilding an index that has appended epochs must CLEAR them —
        a rebuild that only overwrote epoch 0 would leave later
        epochs encoded under the old codebook, silently scored with
        the new lookup tables (round-8 judged review)."""
        from zikeiretsu_rs_spark.operators import similarity

        cents, book = model
        seed, b1, _ = _thirds(emb)
        queries = emb.where(F.col("vec_id") < 4)
        idx = similarity.IvfpqLakeIndex(spark, str(tmp_path / "inc"))
        idx.build(seed, cents, book)
        idx.add_batch(b1)
        assert idx._epochs() == [0, 1]
        # retrained model (different subspace count) + rebuild in place
        book2 = similarity.pq_codebook(emb, m=8, ksub=16)
        idx.build(seed.unionByName(b1), cents, book2)
        assert idx._epochs() == [0]
        rebuilt = similarity.IvfpqLakeIndex(spark, str(tmp_path / "ref"))
        rebuilt.build(seed.unionByName(b1), cents, book2)
        assert _rows(idx.probe(queries, k=3, nprobe=2)) == _rows(
            rebuilt.probe(queries, k=3, nprobe=2)
        )

    def test_pre_epoch_layout_is_refused(self, spark, emb, model, tmp_path):
        """A pre-round-8 one-shot store (cell=*/ parquet at the root,
        meta beside it) must raise on probe, not silently return
        empty results."""
        import pytest as _pytest

        from zikeiretsu_rs_spark.catalog import fsio
        from zikeiretsu_rs_spark.operators import similarity

        cents, book = model
        legacy = str(tmp_path / "legacy")
        # simulate the old layout: cell dirs at the root, meta at root
        emb.limit(20).select(
            F.col("vec_id").alias("neighbor_id"),
            F.lit(bytearray(16)).alias("codes"),
            (F.col("vec_id") % 4).alias("cell"),
        ).write.partitionBy("cell").parquet(legacy)
        fsio.write_json_atomic(
            f"{legacy}/index_meta.json",
            {"centroids": cents, "codebook": book},
        )
        with _pytest.raises(ValueError, match="pre-epoch"):
            similarity.ivfpq_probe_lake(
                spark, legacy, emb.where(F.col("vec_id") < 2), k=3
            )

    def test_empty_store_probes_empty(self, spark, emb, model, tmp_path):
        from zikeiretsu_rs_spark.catalog import fsio
        from zikeiretsu_rs_spark.operators import similarity

        cents, book = model
        idx = similarity.IvfpqLakeIndex(spark, str(tmp_path / "inc"))
        # crash window: meta written, epoch 0 not — probes as empty
        fsio.write_json_atomic(
            idx.meta_path, {"centroids": cents, "codebook": book}
        )
        out = idx.probe(emb.where(F.col("vec_id") < 2), k=3)
        assert out.count() == 0
        assert out.columns == ["query_id", "neighbor_id", "adc_cosine", "rank"]


class TestCompaction:
    def test_compact_preserves_results_and_bounds_files(
        self, spark, emb, model, tmp_path
    ):
        from zikeiretsu_rs_spark.operators import similarity

        cents, book = model
        seed, b1, b2 = _thirds(emb)
        queries = emb.where(F.col("vec_id") < 4)
        idx = similarity.IvfpqLakeIndex(spark, str(tmp_path / "inc"))
        idx.build(seed, cents, book)
        idx.add_batch(b1)
        idx.add_batch(b2)
        before = _rows(idx.probe(queries, k=3, nprobe=2))
        stats = idx.compact()
        # steady state is TWO epochs: compacted history + the
        # replayable head (the highest epoch is never absorbed)
        assert stats["epochs_before"] == 3 and stats["epochs_after"] == 2
        assert idx._epochs() == [1, 2]
        assert stats["files_after"] < stats["files_before"]
        assert _rows(idx.probe(queries, k=3, nprobe=2)) == before
        # idempotent when there is nothing to merge
        stats2 = idx.compact()
        assert stats2["epochs_after"] == 2
        assert _rows(idx.probe(queries, k=3, nprobe=2)) == before

    def test_redelivery_after_compaction_loses_nothing(
        self, spark, emb, model, tmp_path
    ):
        """The round-8 judged-review data-loss scenario: a micro-batch
        is processed (epoch written) but the checkpoint commit is
        lost; compact() runs in the maintenance window; the stream
        restarts and REDELIVERS the batch, whose per-epoch overwrite
        rewrites its epoch dir. Because compaction never absorbs the
        highest epoch, the rewrite touches only rows that batch
        already wrote — probe results must be identical, with no
        silent shrink to one batch."""
        from zikeiretsu_rs_spark.operators import similarity

        cents, book = model
        seed, b1, b2 = _thirds(emb)
        queries = emb.where(F.col("vec_id") < 4)
        idx = similarity.IvfpqLakeIndex(spark, str(tmp_path / "inc"))
        idx.build(seed, cents, book)
        idx.add_batch(b1, epoch=1)
        idx.add_batch(b2, epoch=2)  # checkpoint commit for this one is lost
        before = _rows(idx.probe(queries, k=3, nprobe=2))
        idx.compact()
        idx.add_batch(b2, epoch=2)  # redelivery
        assert _rows(idx.probe(queries, k=3, nprobe=2)) == before
        assert idx._epochs() == [1, 2]

    def test_crash_mid_swap_recovers(self, spark, emb, model, tmp_path):
        """Simulate the two crash points of the swap: (a) merged
        `_compact_` dir written but swap not started; (b) live target
        dir renamed to `_old_` but the merged dir not yet swapped in.
        The next compact() must roll state forward/back and converge
        to the same probe results. Three epochs [0,1,2] -> the merge
        target is epoch 1 (the second-highest)."""
        import shutil

        from zikeiretsu_rs_spark.operators import similarity

        cents, book = model
        seed, b1, b2 = _thirds(emb)
        queries = emb.where(F.col("vec_id") < 4)
        idx = similarity.IvfpqLakeIndex(spark, str(tmp_path / "inc"))
        idx.build(seed, cents, book)
        idx.add_batch(b1)
        idx.add_batch(b2)
        before = _rows(idx.probe(queries, k=3, nprobe=2))
        base = os.path.join(str(tmp_path / "inc"), "codes")

        # (a) stale _compact_ leftover
        os.makedirs(os.path.join(base, "_compact_epoch=1", "cell=0"))
        stats = idx.compact()
        assert stats["epochs_after"] == 2
        assert _rows(idx.probe(queries, k=3, nprobe=2)) == before

        # (b) live target epoch renamed away, no merged replacement:
        # recover must rename it back before the merge reads state
        idx2 = similarity.IvfpqLakeIndex(spark, str(tmp_path / "inc2"))
        idx2.build(seed, cents, book)
        idx2.add_batch(b1)
        idx2.add_batch(b2)
        base2 = os.path.join(str(tmp_path / "inc2"), "codes")
        os.replace(
            os.path.join(base2, "epoch=1"),
            os.path.join(base2, "_old_epoch=1"),
        )
        stats2 = idx2.compact()
        assert stats2["epochs_after"] == 2
        assert _rows(idx2.probe(queries, k=3, nprobe=2)) == before
        shutil.rmtree(str(tmp_path / "inc2"))


class TestStreamingIndexMaintenance:
    def test_streamed_appends_equal_one_shot(
        self, spark, emb, model, tmp_path
    ):
        """Embeddings streamed through start_streaming_ivfpq_index
        (one epoch per micro-batch) yield probe results identical to
        a one-shot index of the full corpus — the ANN half of the
        streaming crawl pipeline."""
        import shutil as sh

        from zikeiretsu_rs_spark.operators import similarity
        from zikeiretsu_rs_spark.streaming.neardup import (
            start_streaming_ivfpq_index,
        )

        cents, book = model
        seed, b1, b2 = _thirds(emb)
        queries = emb.where(F.col("vec_id") < 4)

        idx = similarity.IvfpqLakeIndex(spark, str(tmp_path / "inc"))
        idx.build(seed, cents, book)

        src = tmp_path / "src"
        src.mkdir()
        for i, batch in enumerate((b1, b2)):
            staged = tmp_path / f"s{i}"
            batch.coalesce(1).write.mode("overwrite").parquet(str(staged))
            for f in staged.glob("part-*.parquet"):
                sh.copy(f, src / f"b{i}.parquet")
        stream = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = start_streaming_ivfpq_index(stream, idx, str(tmp_path / "ckpt"))
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        one_shot = str(tmp_path / "oneshot")
        similarity.ivfpq_write_index(emb, one_shot, cents, book)
        assert _rows(idx.probe(queries, k=3, nprobe=2)) == _rows(
            similarity.ivfpq_probe_lake(spark, one_shot, queries, k=3, nprobe=2)
        )
        # one epoch per micro-batch, on top of the seed
        assert len(idx._epochs()) == 3

    def test_in_stream_compaction_bounds_epochs(
        self, spark, emb, model, tmp_path
    ):
        """compact_every=N runs the replay-safe compaction INSIDE
        foreachBatch — epoch count stays bounded while probe results
        remain identical to the one-shot index."""
        import shutil as sh

        from zikeiretsu_rs_spark.operators import similarity
        from zikeiretsu_rs_spark.streaming.neardup import (
            start_streaming_ivfpq_index,
        )

        cents, book = model
        seed, b1, b2 = _thirds(emb)
        queries = emb.where(F.col("vec_id") < 4)
        idx = similarity.IvfpqLakeIndex(spark, str(tmp_path / "inc"))
        idx.build(seed, cents, book)

        src = tmp_path / "src"
        src.mkdir()
        for i, batch in enumerate((b1, b2)):
            staged = tmp_path / f"s{i}"
            batch.coalesce(1).write.mode("overwrite").parquet(str(staged))
            for f in staged.glob("part-*.parquet"):
                sh.copy(f, src / f"b{i}.parquet")
        stream = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = start_streaming_ivfpq_index(
            stream, idx, str(tmp_path / "ckpt"), compact_every=2
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        # batch 1 triggered compact: [0,1,2] -> [1,2]
        assert idx._epochs() == [1, 2]
        one_shot = str(tmp_path / "oneshot")
        similarity.ivfpq_write_index(emb, one_shot, cents, book)
        assert _rows(idx.probe(queries, k=3, nprobe=2)) == _rows(
            similarity.ivfpq_probe_lake(spark, one_shot, queries, k=3, nprobe=2)
        )


class TestPercellEncoding:
    """Round 9: the same IvfpqLakeIndex serves the per-cell residual
    encoding (`encoding: ivfadc_percell` in the meta) — appends,
    probes, and compaction all dispatch on the stored tag."""

    @pytest.fixture(scope="class")
    def percell_model(self, emb):
        from zikeiretsu_rs_spark.operators import similarity

        cents = similarity.head_centroids(emb, 8, "vec_id", "embedding")
        books = similarity.pq_codebook_residual_percell(
            emb, cents, m=16, ksub=16
        )
        return cents, books

    def test_build_requires_exactly_one_model(
        self, spark, emb, model, percell_model, tmp_path
    ):
        from zikeiretsu_rs_spark.operators import similarity

        cents, book = model
        _, books = percell_model
        idx = similarity.IvfpqLakeIndex(spark, str(tmp_path / "bad"))
        with pytest.raises(ValueError, match="exactly one"):
            idx.build(emb, cents)
        with pytest.raises(ValueError, match="exactly one"):
            idx.build(emb, cents, book, books=books)

    def test_appends_equal_one_shot_and_memory(
        self, spark, emb, percell_model, tmp_path
    ):
        """seed + appends ≡ one-shot percell index ≡ in-memory join
        twin — the same invisibility contract as the pq encoding."""
        from zikeiretsu_rs_spark.operators import similarity

        cents, books = percell_model
        seed, b1, b2 = _thirds(emb)
        queries = emb.where(F.col("vec_id") < 4)

        idx = similarity.IvfpqLakeIndex(spark, str(tmp_path / "inc"))
        idx.build(seed, cents, books=books)
        idx.add_batch(b1)
        idx.add_batch(b2)
        inc = _rows(idx.probe(queries, k=3, nprobe=2))

        one_shot = str(tmp_path / "oneshot")
        similarity.ivfadc_percell_write_index(emb, one_shot, cents, books)
        assert inc == _rows(
            similarity.ivfadc_percell_probe_lake(
                spark, one_shot, queries, k=3, nprobe=2
            )
        )
        assert inc == _rows(
            similarity.ivfadc_percell_topk(
                emb, queries, books, k=3, nprobe=2, centroids=cents
            )
        )

    def test_compact_preserves_results(
        self, spark, emb, percell_model, tmp_path
    ):
        from zikeiretsu_rs_spark.operators import similarity

        cents, books = percell_model
        seed, b1, b2 = _thirds(emb)
        queries = emb.where(F.col("vec_id") < 4)
        idx = similarity.IvfpqLakeIndex(spark, str(tmp_path / "inc"))
        idx.build(seed, cents, books=books)
        idx.add_batch(b1)
        idx.add_batch(b2)
        before = _rows(idx.probe(queries, k=3, nprobe=2))
        stats = idx.compact()
        assert stats["epochs_before"] == 3 and stats["epochs_after"] == 2
        assert _rows(idx.probe(queries, k=3, nprobe=2)) == before

    def test_streaming_wrapper_serves_percell_stores(
        self, spark, emb, percell_model, tmp_path
    ):
        """start_streaming_ivfpq_index is encoding-agnostic by
        construction (it only calls add_batch, which dispatches on
        the stored meta) — pinned by streaming batches into a
        percell store and matching the one-shot index."""
        import shutil as sh

        from zikeiretsu_rs_spark.operators import similarity
        from zikeiretsu_rs_spark.streaming.neardup import (
            start_streaming_ivfpq_index,
        )

        cents, books = percell_model
        seed, b1, b2 = _thirds(emb)
        queries = emb.where(F.col("vec_id") < 4)
        idx = similarity.IvfpqLakeIndex(spark, str(tmp_path / "stream"))
        idx.build(seed, cents, books=books)

        src = tmp_path / "src"
        src.mkdir()
        for name, batch in (("b1", b1), ("b2", b2)):
            stage = tmp_path / f"_stage_{name}"
            batch.select("vec_id", "embedding").coalesce(1).write.mode(
                "overwrite"
            ).parquet(str(stage))
            for f in stage.glob("part-*.parquet"):
                sh.copy(f, src / f"{name}.parquet")
        stream = (
            spark.readStream.schema("vec_id long, embedding array<double>")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = start_streaming_ivfpq_index(
            stream, idx, str(tmp_path / "ckpt")
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        one_shot = str(tmp_path / "oneshot")
        similarity.ivfadc_percell_write_index(emb, one_shot, cents, books)
        assert _rows(idx.probe(queries, k=3, nprobe=2)) == _rows(
            similarity.ivfadc_percell_probe_lake(
                spark, one_shot, queries, k=3, nprobe=2
            )
        )
