"""Benchmark harness: runs the headline query suite at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is fully executed via the noop sink (computes every row,
no collect/serialization overhead), timed individually after a JVM
warm-up query.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from zikeiretsu_rs_spark import suite  # noqa: E402
from zikeiretsu_rs_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "ts_range_scan",
    "ts_head_limit",
    "ts_eq_day",
    "agg_time_bucket_1h",
    "sessionize_30m",
    "top_users_by_value",
    "tpch_q1",
    "tpch_q6",
    "revenue_by_nation",
    "semi_join_priority",
    "asof_purchase_click",
    "moving_avg_1h",
    "tpch_q3",
    "latest_event_per_user",
    "pivot_user_event_counts",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_ngram_jaccard_scaled",  # the guarded 100 TB formulation
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    "text_quality",
    "text_scrub",
    "doc_fingerprint",
    "multimodal_decode",
    "multimodal_png",
    "doc_repetition",
    "decontaminate_eval",
    "stratified_sample",
    # round-3 operator families
    "url_dedup",
    "text_gopher_rules",
    "doc_dup_spans",
    "semantic_dedup",
    "text_bm25",
    "doc_chunks",
    "dedup_clusters_scaled",
    # round-4 operator families (production paths only — the
    # verification twins with brute-force ground truth inside, e.g.
    # semantic_dedup_kmeans_check, run in the driver gate instead)
    "chunk_containment",
    "quality_weighted_sample",
    "source_mix_weights",
    "unigram_logprob",
    "source_overlap_matrix",  # banded pair path, not the exact twin
    "embedding_quantize",
    # round-4 second batch
    "dedup_jaccard_prefix",  # exact-recall prefix-filter scale path
    "phrase_search",
    "tpch_q5",
    "tpch_q14",
    "training_shards",
    "ewma_user",
    "multimodal_audio_frames",
    "bpe_learn",  # iterative vocabulary training (12 merge rounds)
    "events_mad_outliers",
    "semantic_decontaminate",
    "priority_sample",
    "asof_next_purchase",
    # round-4 third batch
    "multimodal_gif",
    "bpe_batch_learn",  # batched vocabulary training (24 merges, B=8)
    "line_dedup",
    "bloom_filtered_join",
    "quality_classifier",
    "cdc_chunks",
    "text_tfidf",
    "source_temperature_mix",
    "quality_rank_calibration",
    "events_cap_per_user",
    "remove_dup_spans",
    "text_char_entropy",
    "bigram_logprob",
    # round-5
    "tpch_q4",
    "tpch_q7",
    "tpch_q12",
    "tpch_q13",
    "tpch_q19",
    "pmi_collocations",
    "tpch_q8",
    "tpch_q15",
    "tpch_q17",
    "html_strip",
    "multimodal_sniff",
    "dedup_incremental",
    "corpus_diff",
    # round-6
    "dedup_incremental_lake",
    "tpch_q2",
    "tpch_q9",
    "tpch_q11",
    "tpch_q16",
    "tpch_q20",
    "tpch_q21",
    "tpch_q22",
    "domain_cap",
    "cluster_balanced_sample",
    # round-8
    "semantic_dedup_lake",
]
# embedding_neardup_lsh is deliberately NOT a headline query: the
# fixture corpus is near-uniform and the 0.40 mining threshold makes
# ~half of all pairs LSH candidates by construction (cos 0.4 = 66°,
# P(plane agrees) = 0.63) — a recall-stress case, not a throughput
# case. Its correctness/recall invariants run in the driver gate
# (embedding_neardup_lsh_check); on a real near-dup workload
# (threshold >= 0.9) the same operator prunes candidates massively.


# Ambient-band probe (VERDICT r08 item 5): the same 5 fixed queries
# timed at the START and at the END of the bench, so every full
# artifact carries the machine-load spread measured THAT day and
# cross-run deltas (e.g. the r08 95.9 s committed vs 116.9 s driver
# rerun) are self-describing instead of argued from a hardcoded band.
# The set spans the suite's shapes: parquet scan, hash-agg, broadcast
# join, expression-heavy text, and a shuffling groupBy dedup.
AMBIENT_PROBE = [
    "ts_range_scan",
    "tpch_q1",
    "revenue_by_nation",
    "text_quality",
    "dedup_exact",
]


def run_ambient_probe(spark, sf_dir: str) -> dict[str, float]:
    return {n: run_query(spark, n, sf_dir) for n in AMBIENT_PROBE}


def ambient_summary(
    start: dict[str, float], end: dict[str, float]
) -> dict:
    """Spread between the two probe passes: per-query worst ratio and
    the probe-total ratio. band >= 1; 1.0 means a perfectly quiet
    machine."""
    ratios = [
        max(end[q] / start[q], start[q] / end[q])
        for q in start
        if start[q] > 0 and end[q] > 0
    ]
    t0, t1 = sum(start.values()), sum(end.values())
    return {
        "probe_start": start,
        "probe_end": end,
        "band": round(max(ratios), 3) if ratios else None,
        "total_ratio": round(max(t1 / t0, t0 / t1), 3) if t0 and t1 else None,
    }


def run_query(spark, name: str, sf_dir: str) -> float:
    """Steady-state min-of-2 (same protocol as the skew/layout
    sections): a single-shot run_query measured 1.2-1.4x phantom
    'regressions' on untouched queries purely from first-execution
    codegen JIT + page-cache state — round-over-round comparisons need
    the steady-state floor, not one sample. (Protocol change in round
    4; CHANGES_r04 reports the r03-comparable single-shot delta too.)

    The BUILD call runs inside the timer: iterative operators
    (connected components, BPE merge rounds) execute driver-loop
    actions during query construction, and timing only the final
    noop write would report a near-zero number for exactly the
    queries that do the most work (second round-4 protocol fix;
    affects dedup_clusters_scaled and bpe_learn)."""
    return _timed(lambda: suite.QUERIES[name](spark, sf_dir))


# -- skew stress section ----------------------------------------------------
# Deliberately skewed inputs, measured before/after each mitigation
# (SCALE.md cites these numbers). Reported under a separate "skew" key
# so the headline total stays comparable across rounds.


def _timed(df_or_build, reps: int = 2) -> float:
    """Steady-state time: min over `reps` full executions (the first
    run of a new plan shape pays one-time whole-stage-codegen JIT cost
    — ~4s observed — which is noise for a throughput comparison).
    Accepts a DataFrame or a zero-arg builder; a builder re-runs any
    construction-time driver work (iterative algorithms) every rep so
    that work is measured, not hidden."""
    build = df_or_build if callable(df_or_build) else (lambda: df_or_build)
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        build().write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def _skewed_docs(spark, sf_dir):
    """80% of docs share one 10-word stop-phrase => eight shingles
    with doc frequency = 0.8·corpus (the stop-shingle skew case the
    df-cap guard exists for; quadratic in marked docs without it)."""
    from pyspark.sql import functions as F

    docs = suite.load(spark, sf_dir, "documents")
    phrase = " ".join(f"zz{i}" for i in range(10))
    return docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 != 0,
            F.concat_ws(" ", F.col("text"), F.lit(phrase)),
        ).otherwise(F.col("text")),
    )


def run_skew(spark, sf_dir: str) -> dict[str, float]:
    from pyspark.sql import functions as F

    from zikeiretsu_rs_spark.operators import dedup, joins

    out: dict[str, float] = {}

    # hot-key join: 90% of a 16x-multiplied fact (1.6M rows at sf0.1)
    # lands on ONE key; force shuffle joins (at 100 TB the dim side
    # exceeds broadcast) so the skew actually bites
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    prev_adaptive = spark.conf.get(
        "spark.sql.adaptive.autoBroadcastJoinThreshold", None
    )

    def _restore_broadcast_confs():
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        # unset means "track the regular threshold" — restoring a
        # pinned copy would freeze AQE broadcast decisions later
        if prev_adaptive is None:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        else:
            spark.conf.set(
                "spark.sql.adaptive.autoBroadcastJoinThreshold",
                prev_adaptive,
            )

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        base = suite.events_ts_long(spark, sf_dir).select("event_id", "user_id")
        fact = base.withColumn(
            "_r", F.explode(F.sequence(F.lit(0), F.lit(15)))
        ).select(
            (F.col("event_id") * 16 + F.col("_r")).alias("event_id"),
            F.when(F.col("user_id") % 10 < 9, F.lit(0))
            .otherwise(F.col("user_id"))
            .alias("hot_id"),
            (F.xxhash64("event_id", "_r") % 1000).alias("payload"),
        )
        dim = fact.groupBy("hot_id").agg(F.count("*").alias("dim_cnt"))
        cols = ["event_id", "hot_id", "dim_cnt", "payload"]
        out["skew_join_plain"] = _timed(fact.join(dim, "hot_id").select(*cols))
        out["skew_join_salted"] = _timed(
            joins.salted_join(fact, dim, ["hot_id"], n_salts=32).select(*cols)
        )
    finally:
        _restore_broadcast_confs()

    # bloom prefilter where it actually pays: broadcast DISABLED so
    # the join is a real shuffle (the 100 TB case — both sides
    # exchange). The bitmap prunes ~96% of lineitem rows map-side
    # BEFORE the sort-merge exchange; the broadcast-join headline
    # query can't show this because the dim side broadcasts anyway.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        li = suite.load(spark, sf_dir, "lineitem")
        brand = suite.load(spark, sf_dir, "part").where(
            F.col("p_brand") == "Brand#13"
        )
        out["skew_bloom_shuffle_plain"] = _timed(
            li.join(brand, li.l_partkey == brand.p_partkey).select(
                "l_orderkey", "l_quantity", "p_partkey"
            )
        )

        def bloom_build():
            import importlib

            jmod = importlib.import_module(
                "zikeiretsu_rs_spark.operators.joins"
            )
            # broadcast_small=False: the exact join shuffles like the
            # plain one — only the map-side prefilter differs
            filtered = jmod.bloom_filtered_join(
                li, "l_partkey", brand, "p_partkey", broadcast_small=False
            )
            return filtered.select("l_orderkey", "l_quantity", "p_partkey")

        out["skew_bloom_shuffle_prefiltered"] = _timed(bloom_build)
        # the scale-relevant number: rows REACHING the fact exchange.
        # At sf0.1 the fixed filter-build job (~1.5 s of scheduling)
        # dwarfs the 600k-row shuffle it saves, so wall-clock favors
        # plain — the crossover is where fact-shuffle cost exceeds
        # that fixed cost; the pruning ratio below is what grows.
        out["skew_bloom_rows_shuffled_plain"] = float(li.count())
        out["skew_bloom_rows_shuffled_prefiltered"] = float(
            joins.bloom_prefilter(li, "l_partkey", brand, "p_partkey")
            .select("l_orderkey")
            .count()
        )

        # BREAK-EVEN measurement (VERDICT r04 item 2): the claim
        # "pruning ratio grows with data, the build cost does not"
        # measured instead of argued. Fact side widened 16x with the
        # full lineitem payload (~9.6M rows at sf0.1 == the sf1.6 fact
        # scale); the BUILD side (one brand of part) is UNCHANGED, so
        # the bitmap-build job costs exactly what it costs above.
        wide = li.withColumn(
            "_r", F.explode(F.sequence(F.lit(0), F.lit(15)))
        ).select(
            "l_orderkey",
            "l_partkey",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            "_r",
        )
        out["skew_bloom_wide_shuffle_plain"] = _timed(
            wide.join(brand, wide.l_partkey == brand.p_partkey).select(
                "l_orderkey", "l_quantity", "l_extendedprice", "p_partkey"
            )
        )

        def bloom_wide_build():
            import importlib

            jmod = importlib.import_module(
                "zikeiretsu_rs_spark.operators.joins"
            )
            filtered = jmod.bloom_filtered_join(
                wide, "l_partkey", brand, "p_partkey", broadcast_small=False
            )
            return filtered.select(
                "l_orderkey", "l_quantity", "l_extendedprice", "p_partkey"
            )

        out["skew_bloom_wide_shuffle_prefiltered"] = _timed(bloom_wide_build)

        # and the decisive point well past break-even: 64x (~38.4M
        # fact rows at sf0.1 == the sf6.4 fact scale). Measured on
        # this machine: plain 8.9 s vs prefiltered 2.3 s (3.8x) —
        # the build cost is flat while the avoided shuffle grows.
        wide64 = li.withColumn(
            "_r", F.explode(F.sequence(F.lit(0), F.lit(63)))
        ).select(
            "l_orderkey",
            "l_partkey",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            "_r",
        )
        out["skew_bloom_wide64_shuffle_plain"] = _timed(
            wide64.join(brand, wide64.l_partkey == brand.p_partkey).select(
                "l_orderkey", "l_quantity", "l_extendedprice", "p_partkey"
            )
        )

        def bloom_wide64_build():
            import importlib

            jmod = importlib.import_module(
                "zikeiretsu_rs_spark.operators.joins"
            )
            filtered = jmod.bloom_filtered_join(
                wide64, "l_partkey", brand, "p_partkey",
                broadcast_small=False,
            )
            return filtered.select(
                "l_orderkey", "l_quantity", "l_extendedprice", "p_partkey"
            )

        out["skew_bloom_wide64_shuffle_prefiltered"] = _timed(
            bloom_wide64_build
        )
    finally:
        _restore_broadcast_confs()

    # stop-shingle skew: unguarded shingle self-join explodes
    # quadratically on the shared shingle; the df-cap guard drops it
    docs = _skewed_docs(spark, sf_dir)
    out["skew_shingle_unguarded"] = _timed(
        dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    )
    out["skew_shingle_guarded"] = _timed(
        dedup.ngram_jaccard_pairs(
            docs,
            "doc_id",
            "text",
            n=3,
            threshold=0.5,
            hash_shingles=True,
            max_shingle_doc_freq=64,
        )
    )
    # prefix filtering on the same skewed corpus: EXACT recall (no df
    # cap, no hashing loss) while the hot shingles drop out of every
    # prefix by the rare-first canonical order — the deterministic
    # alternative to the guarded join above
    out["skew_shingle_prefix_filter"] = _timed(
        dedup.prefix_filter_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.5
        )
    )

    # chunk-level pair: chunking multiplies the stop-phrase df (every
    # chunk overlapping the boilerplate carries its shingles), so the
    # containment operator's guarded default matters even more here
    from zikeiretsu_rs_spark.operators import curation

    out["skew_chunk_containment_unguarded"] = _timed(
        curation.chunk_containment(
            docs, "doc_id", "text",
            max_shingle_doc_freq=None, hash_shingles=False,
        )
    )
    out["skew_chunk_containment_guarded"] = _timed(
        curation.chunk_containment(docs, "doc_id", "text")
    )

    # semantic-dedup mega-cell (round 8): 80% of the embeddings
    # collapsed toward one direction, cell-assigned under ORIGINAL-
    # corpus centroids so ~82% of rows land in ONE cell — the skew
    # case the Arrow kernel's docstring addresses. Measured: the
    # kernel stays ~flat (one vectorized matmul in one task) while
    # the AQE-splittable expression pair join pays interpreted fold
    # cost per n² pair — skew does NOT favor the splittable twin;
    # only cell-vectors-exceed-task-memory does.
    from zikeiretsu_rs_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    skewed_emb = emb.withColumn(
        "embedding",
        F.when(
            F.col("vec_id") % 5 != 0,
            F.transform(F.col("embedding"), lambda x: x * 0.05 + F.lit(1.0)),
        ).otherwise(F.col("embedding")),
    )
    cents8 = sim.head_centroids(emb, 8, "vec_id", "embedding")
    out["skew_semantic_megacell_arrow"] = _timed(
        lambda: sim.semantic_dedup(
            skewed_emb, threshold=0.99, centroids=cents8, arrow_pairs=True
        )
    )
    out["skew_semantic_megacell_expr"] = _timed(
        lambda: sim.semantic_dedup(
            skewed_emb, threshold=0.99, centroids=cents8, arrow_pairs=False
        )
    )
    # IVFADC per-cell search under the SAME mega-cell fixture
    # (round 10, VERDICT r09 item 3 — measured, not assumed): ~82% of
    # the codes land in ONE cell, so the search's `cell` equi-join
    # lands ~82% of the corpus in one join partition, and every query
    # whose probe list contains the mega cell scans it. Measured both
    # ways against the balanced corpus (same rows, same model shape,
    # original cell distribution); the ADC scan is linear per probed
    # row and AQE's skew-join split applies to the oversized
    # partition, which is why this is expected to track the probed
    # row count rather than cliff — the rows exist to verify that.
    books_sk = sim.pq_codebook_residual_percell(
        skewed_emb, cents8, m=16, ksub=16
    )
    out["skew_ivfadc_megacell_join"] = _timed(
        sim.ivfadc_percell_topk(
            skewed_emb, skewed_emb.where(F.col("vec_id") < 10),
            books_sk, k=10, nprobe=2, centroids=cents8,
        )
    )
    books_bal = sim.pq_codebook_residual_percell(
        emb, cents8, m=16, ksub=16
    )
    out["skew_ivfadc_balanced_join"] = _timed(
        sim.ivfadc_percell_topk(
            emb, emb.where(F.col("vec_id") < 10),
            books_bal, k=10, nprobe=2, centroids=cents8,
        )
    )
    # the expression branch caches its assignment table internally
    # (no unpersist point in the operator) — drop it so the skewed
    # corpus doesn't pin executor storage through the remaining
    # sections (the tail-pressure failure mode the round notes track)
    spark.catalog.clearCache()
    return out


def run_layout(spark, sf_dir: str) -> dict[str, float]:
    """Small-file debris vs compacted layout, measured: the same rows
    written as 256 tiny files (streaming-ingest debris) and as 4
    compacted files, scanned with an identical aggregate. Quantifies
    what catalog/compact.py buys (per-file open/footer/task overhead
    vs useful work)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    ev = suite.events_ts_long(spark, sf_dir)
    base = tempfile.mkdtemp(prefix="zk_layout_")
    small, big = f"{base}/small", f"{base}/compacted"
    ev.repartition(256).write.mode("overwrite").parquet(small)
    ev.coalesce(4).write.mode("overwrite").parquet(big)

    def agg(path):
        return spark.read.parquet(path).agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("s"),
        )

    out = {
        "layout_small_files_256": _timed(agg(small)),
        "layout_compacted_4": _timed(agg(big)),
    }

    # Z-order vs single-key sort: row groups a (user_id AND ts) box
    # predicate must read, counted from the SAME parquet footer
    # min/max stats the scanner prunes with (counts, not seconds —
    # the corpus is too small for the IO delta to clear timing noise,
    # but the stats are exactly what scales).
    import duckdb

    from zikeiretsu_rs_spark.catalog import zorder as zo

    plain_p, z_p = f"{base}/plain64", f"{base}/zorder64"
    ev.repartitionByRange(64, "ts").sortWithinPartitions("ts").write.mode(
        "overwrite"
    ).parquet(plain_p)
    zo.zorder_write(ev, ["user_id", "ts"], z_p, n_files=64)
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    t1, t2 = lo + (hi - lo) // 4, lo + (hi - lo) // 3
    con = duckdb.connect()

    def rowgroups(path):
        return con.sql(f"""
        WITH rg AS (
          SELECT file_name, row_group_id,
                 max(CASE WHEN path_in_schema='user_id'
                     THEN stats_min_value::BIGINT END) AS umin,
                 max(CASE WHEN path_in_schema='user_id'
                     THEN stats_max_value::BIGINT END) AS umax,
                 max(CASE WHEN path_in_schema='ts'
                     THEN stats_min_value::BIGINT END) AS tmin,
                 max(CASE WHEN path_in_schema='ts'
                     THEN stats_max_value::BIGINT END) AS tmax
          FROM parquet_metadata('{path}/*.parquet')
          WHERE path_in_schema IN ('user_id','ts') GROUP BY 1,2)
        SELECT count(*) FILTER (umax >= 100 AND umin <= 140
                                AND tmax >= {t1} AND tmin <= {t2})
        FROM rg""").fetchone()[0]

    out["layout_box_rowgroups_plain64"] = float(rowgroups(plain_p))
    out["layout_box_rowgroups_zorder64"] = float(rowgroups(z_p))

    # IVF inverted lists as a LAKE layout (round-5, VERDICT r04 item
    # 7): the index written Parquet-partitioned by coarse cell, so a
    # probe's static `cell IN` predicate prunes partition DIRECTORIES
    # at file-listing time. Reported: files on disk vs files the
    # probe's scan lists — the ratio tracks nprobe/n_cells, which is
    # the whole IO story at 100 TB (a 4/64-cell probe reads ~6% of
    # the index regardless of corpus size).
    import glob

    from zikeiretsu_rs_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents16 = sim.head_centroids(emb, 16, "vec_id", "embedding")
    ivf_p = f"{base}/ivf_cells"
    sim.ivf_write_index(emb, ivf_p, cents16)
    qbatch = emb.where(F.col("vec_id") < 3)
    probe = sim.ivf_probe_lake(
        spark, ivf_p, qbatch, k=5, centroids=cents16, nprobe=2
    )
    out["layout_ivf_probe_lake"] = _timed(probe)
    # the probed-cell union IS the static partition filter the scan
    # lists (plan-pinned in tests/test_plan_shape.py), so the files
    # under those directories are the files the probe reads
    probed_cells = sim.ivf_probe_cells(qbatch, cents16, nprobe=2)
    out["layout_ivf_files_total"] = float(
        len(glob.glob(f"{ivf_p}/cells/cell=*/*.parquet"))
    )
    out["layout_ivf_files_probed"] = float(
        sum(
            len(glob.glob(f"{ivf_p}/cells/cell={c}/*.parquet"))
            for c in probed_cells
        )
    )

    # IVFPQ index at rest (round 8): the same cell-partitioned layout
    # storing m-byte PQ codes instead of float vectors — reported as
    # the on-disk byte ratio vs the float IVF index (the compression
    # the ADC scan buys at rest) plus the probe time through the
    # self-contained metadata path.
    book16 = sim.pq_codebook(emb, m=16, ksub=64)
    ivfpq_p = f"{base}/ivfpq_cells"
    sim.ivfpq_write_index(emb, ivfpq_p, cents16, book16)

    def _tree_bytes(root, pat):
        return sum(os.path.getsize(p) for p in glob.glob(f"{root}/{pat}"))

    ivf_bytes = _tree_bytes(ivf_p, "cells/cell=*/*.parquet")
    ivfpq_bytes = _tree_bytes(ivfpq_p, "codes/epoch=*/cell=*/*.parquet")
    out["layout_ivfpq_bytes_ratio"] = round(
        ivfpq_bytes / ivf_bytes, 4
    ) if ivf_bytes else 0.0
    out["layout_ivfpq_probe_lake"] = _timed(
        sim.ivfpq_probe_lake(spark, ivfpq_p, qbatch, k=5, nprobe=2)
    )

    # Cell-partitioned per-cell books (round 10, VERDICT r09 item 2):
    # the per-cell model sidecar lives as books/cell=<i>/ beside the
    # codes, and a probe's scan tasks read ONLY the probed cells'
    # book files — so the model IO a probe pays scales with nprobe
    # (bounded by |queries|*nprobe), NOT with n_cells. Reported as
    # bytes under the probed cells' book directories per nprobe vs
    # the total book bytes at rest: the inline-meta regime would pay
    # the total on EVERY probe regardless of nprobe (that broadcast
    # is exactly what stops scaling past ~1k cells).
    # ksub=128 is the round-11 headline per-cell config (was ksub=16
    # here through r10; the bytes rows are re-recorded at the adopted
    # config per the r10 verdict — the nprobe-not-n_cells scaling
    # SHAPE is ksub-independent, the absolute bytes are not).
    books_df16 = sim.pq_codebook_residual_percell_df(
        emb, cents16, m=16, ksub=128
    )
    pb_p = f"{base}/percell_books"
    sim.ivfadc_percell_write_index(
        emb, pb_p, cents16, books_df=books_df16, m=16, ksub=128
    )
    out["layout_percell_books_probe_lake"] = _timed(
        sim.ivfadc_percell_probe_lake(spark, pb_p, qbatch, k=5, nprobe=2)
    )
    out["layout_percell_books_bytes_total"] = float(
        _tree_bytes(pb_p, "books/cell=*/*.parquet")
    )
    for np_ in (1, 4, 16):
        # the same raw-dot probe assignment the percell probe pushes
        # as its static `cell IN` filter (ivf_probe_cells is that
        # list's one implementation)
        cells = sim.ivf_probe_cells(qbatch, cents16, nprobe=np_)
        out[f"layout_percell_books_bytes_nprobe{np_}"] = float(
            sum(
                _tree_bytes(pb_p, f"books/cell={c}/*.parquet")
                for c in cells
            )
        )
    # Two-stage probe over the STORED index (round 11, VERDICT r10
    # item 4): probe_refined = the one-stage probe's k*expand
    # proposals + bounded float read-back + exact re-score — the
    # production shape's cost as a number next to the one-stage probe
    # and the in-memory refined search. The expand sweep is the knob's cost
    # curve: each step doubles the candidate float reads
    # (n_q * k * expand rows) while the code-scan stage is shared.
    pb_idx = sim.IvfpqLakeIndex(spark, pb_p)
    for exp_ in (2, 4, 8):
        out[f"layout_percell_refined_probe_expand{exp_}"] = _timed(
            pb_idx.probe_refined(qbatch, emb, k=5, expand=exp_, nprobe=2)
        )
    # the in-memory search's tensor is the SAME model the store froze —
    # read the n_cells book rows back from the lake instead of
    # re-running the full per-cell Lloyd fit a second time (judged
    # review, round 11: the refit was duplicated work outside the
    # timed region; shape comes from the store's own meta)
    books_mem = sim.load_percell_books(spark, pb_p)
    out["layout_percell_refined_in_memory"] = _timed(
        sim.ivfadc_percell_topk_refined(
            emb, qbatch, books_mem, k=5, expand=4, nprobe=2,
            centroids=cents16,
        )
    )

    # Tombstone deletes (round 11): the live-view anti-join a probe
    # pays while tombstones exist, the physical purge (detection is
    # ONE full codes scan; the rewrite prunes to the dead rows'
    # partitions), and the post-purge probe back at the tombstone-
    # free cost. ~5% of ids tombstoned; compare probe_tombstoned /
    # probe_purged against layout_percell_books_probe_lake (the same
    # one-stage probe before any delete). Runs LAST against this
    # store — the purge mutates it.
    pb_idx.delete(emb.where(F.col("vec_id") % 20 == 7).select("vec_id"))
    out["layout_percell_probe_tombstoned"] = _timed(
        pb_idx.probe(qbatch, k=5, nprobe=2)
    )
    # Snapshot probe through a maintenance window (round 12): while a
    # rewrite's backup survives, probe serves backup ∪ untouched
    # partitions instead of refusing. The mid-state here is the
    # worst single-epoch case — HALF the cells replaced (backed up,
    # live dirs gone) — and the number to compare is
    # layout_percell_probe_tombstoned (same store, same tombstones,
    # no window): the snapshot's extra cost is one directory listing
    # plus the two-scan union. purge_deleted immediately after rolls
    # the window back and proceeds — its timing below therefore also
    # covers the recovery path.
    import os as _os
    import shutil as _sh

    _codes = f"{pb_p}/codes"
    _cells = sorted(
        d
        for d in _os.listdir(f"{_codes}/epoch=0")
        if d.startswith("cell=")
    )
    _bk = _codes + "__refresh_backup"
    _os.makedirs(f"{_bk}/epoch=0")
    for _c in _cells[::2]:
        _sh.copytree(f"{_codes}/epoch=0/{_c}", f"{_bk}/epoch=0/{_c}")
        _sh.rmtree(f"{_codes}/epoch=0/{_c}")
    out["layout_percell_probe_snapshot_window"] = _timed(
        pb_idx.probe(qbatch, k=5, nprobe=2)
    )
    # roll the window back OUTSIDE the timed purge so
    # layout_percell_purge_deleted stays comparable to the r11 row
    # (purge itself would recover first — same code path)
    pb_idx._recover_codes_backup(_codes)
    t0 = time.perf_counter()
    purged = pb_idx.purge_deleted()
    out["layout_percell_purge_deleted"] = round(time.perf_counter() - t0, 3)
    out["layout_percell_purge_rows"] = float(purged["purged_rows"])
    out["layout_percell_probe_purged"] = _timed(
        pb_idx.probe(qbatch, k=5, nprobe=2)
    )

    # Dedup history read through a forget-purge window (round 13 —
    # the dedup twin of layout_percell_probe_snapshot_window): while
    # a `__forget_backup` survives, `_snapshot_history_read` serves
    # backup ∪ untouched epoch partitions (path-selected for these
    # epoch-level tables — pure file pruning) instead of refusing.
    # The measured op is one full add_batch verdict pass; compare
    # layout_dedup_verdict_snapshot_window against
    # layout_dedup_verdict_live (same store, same batch, no window):
    # the window's extra cost is one backup walk + the re-listing
    # stability check. The torn state is the worst single-epoch case
    # — ALL of epoch 1's docs/sigs/prefix backed up, live dirs gone.
    import shutil as _sh2

    from zikeiretsu_rs_spark.streaming.neardup import (
        IncrementalDedupIndex as _IDI,
    )

    docs_all = suite.load(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    _dd = tempfile.mkdtemp(prefix="zk_layout_dedup_")
    _didx = _IDI(spark, f"{_dd}/idx", n=3, threshold=0.5)
    _didx.build(docs_all.where(F.col("doc_id") % 4 != 0))
    _didx.add_batch(docs_all.where(F.col("doc_id") % 8 == 0), epoch=1)
    _b2 = docs_all.where(F.col("doc_id") % 8 == 4)
    out["layout_dedup_verdict_live"] = _timed(
        lambda: _didx.add_batch(_b2, epoch=2)
    )
    _bk2 = f"{_dd}/idx/__forget_backup"
    for _t in ("docs", "sigs", "prefix"):
        _os.makedirs(f"{_bk2}/{_t}")
        _sh2.copytree(
            f"{_dd}/idx/{_t}/epoch=1", f"{_bk2}/{_t}/epoch=1"
        )
        _sh2.rmtree(f"{_dd}/idx/{_t}/epoch=1")
    out["layout_dedup_verdict_snapshot_window"] = _timed(
        lambda: _didx.add_batch(_b2, epoch=2)
    )

    # Takedown purge, rename-form vs pointer-form window (round 14 —
    # VERDICT r13 missing #1, the object-store purge): the SAME store
    # content and forget set purged through the local rename window
    # and through the file:// pointer window (the exact code path an
    # s3a/gs store takes: file-streamed backup copies + one atomic
    # JSON PUT per state transition, instead of copytree + two
    # renames). The pair quantifies what object-store capability
    # costs; one-shot timings like layout_percell_purge_deleted
    # (the purge mutates its store).
    def _purge_store(store):
        idx = _IDI(spark, store, n=3, threshold=0.5)
        idx.build(docs_all.where(F.col("doc_id") % 4 != 0))
        idx.add_batch(docs_all.where(F.col("doc_id") % 8 == 0), epoch=1)
        idx.forget(
            docs_all.where(
                (F.col("doc_id") % 4 != 0) & (F.col("doc_id") % 5 == 1)
            ).select("doc_id")
        )
        t0 = time.perf_counter()
        idx.purge_forgotten()
        return round(time.perf_counter() - t0, 3)

    out["layout_dedup_purge_local"] = _purge_store(f"{_dd}/purge_loc")
    out["layout_dedup_purge_uri"] = _purge_store(f"file://{_dd}/purge_uri")
    _sh2.rmtree(_dd, ignore_errors=True)

    # Bucketed co-located join (round 8): lineitem x orders written as
    # 16-bucket tables on the join key — the bucket-spec equi-join
    # runs with ZERO exchanges on the join itself (pre-bucketed,
    # pre-sorted scans feed the SortMergeJoin directly) vs the plain
    # parquet join's one-shuffle-per-side. Broadcast is disabled for
    # BOTH measurements: at 100 TB neither fact side is
    # broadcastable, and locally the broadcast would hide exactly the
    # exchange bucketing removes. Seconds are the local[32] echo; the
    # exchange counts are the structural fact that scales (the saved
    # shuffle is ~O(fact bytes) per query, bought once at write time).
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_extendedprice"
    )
    od = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderdate"
    )
    from zikeiretsu_rs_spark.catalog.bucketed import read_table, write_bucketed

    tli, tod = f"zk_bench_li_{os.getpid()}", f"zk_bench_od_{os.getpid()}"
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    prev_adaptive = spark.conf.get(
        "spark.sql.adaptive.autoBroadcastJoinThreshold", None
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(li, tli, "l_orderkey", 16, f"{base}/{tli}")
        write_bucketed(od, tod, "o_orderkey", 16, f"{base}/{tod}")
        bli, bod = read_table(spark, tli), read_table(spark, tod)

        def _join_plain():
            return li.join(od, li.l_orderkey == od.o_orderkey).groupBy(
                "o_orderdate"
            ).agg(F.sum("l_extendedprice").alias("rev"))

        def _join_bucketed():
            return bli.join(bod, bli.l_orderkey == bod.o_orderkey).groupBy(
                "o_orderdate"
            ).agg(F.sum("l_extendedprice").alias("rev"))

        def _exchanges(df):
            # the join's static plan carries the exchange count — no
            # execution needed to read it
            plan = df._jdf.queryExecution().executedPlan().toString()
            return float(plan.count("Exchange"))

        out["layout_join_shuffled"] = _timed(_join_plain)
        out["layout_join_bucketed"] = _timed(_join_bucketed)
        # join-only plans (no aggregate) isolate the join's exchanges
        out["layout_join_exchanges_plain"] = _exchanges(
            li.join(od, li.l_orderkey == od.o_orderkey)
        )
        out["layout_join_exchanges_bucketed"] = _exchanges(
            bli.join(bod, bli.l_orderkey == bod.o_orderkey)
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        # restore the adaptive threshold's OWN prior (unset means
        # "track the regular threshold" — pinning a stale copy would
        # silently freeze AQE broadcast decisions for later sections)
        if prev_adaptive is None:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        else:
            spark.conf.set(
                "spark.sql.adaptive.autoBroadcastJoinThreshold",
                prev_adaptive,
            )
        spark.sql(f"DROP TABLE IF EXISTS {tli}")
        spark.sql(f"DROP TABLE IF EXISTS {tod}")
    shutil.rmtree(base, ignore_errors=True)
    return out


def run_ann(spark, sf_dir: str) -> dict[str, float]:
    """Residual vs raw IVFPQ encoding on a CLUSTERED corpus — the
    fixture embeddings are near-uniform, which hides the residual
    win (VERDICT r03 / round-4 note), so this section synthesizes
    cluster structure: every vector is pulled 75% of the way toward
    its k-means centroid. Residual PQ then codes only the within-cell
    displacement (a ~4x smaller universe than absolute position at
    shrink 0.25), which is the entire point of the IVFADC
    formulation. Reports recall@10 of both encodings at the SAME
    byte budget and probe count."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from zikeiretsu_rs_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = sim.kmeans_centroids(emb, 16)
    cmat = np.array(cents, dtype=np.float64)

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType(), True),
            T.StructField("embedding", T.ArrayType(T.DoubleType()), True),
        ]
    )

    def shrink(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            vecs = np.array(list(pdf["embedding"]), dtype=np.float64)
            cells = np.argmax(vecs @ cmat.T, axis=1)
            out = cmat[cells] + 0.25 * (vecs - cmat[cells])
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "embedding": list(out)}
            )

    clustered = (
        sim.with_double_vec(emb, "embedding")
        .select("vec_id", F.col("_vec").alias("embedding"))
        .mapInPandas(shrink, schema)
        .localCheckpoint(eager=True)
    )
    queries = clustered.where(F.col("vec_id") < 10)
    exact = sim.cosine_topk(clustered, queries, k=10)
    cents_c = sim.kmeans_centroids(clustered, 16)

    def recall(approx):
        hits = approx.join(
            exact, ["query_id", "neighbor_id"], "left_semi"
        ).count()
        return round(hits / exact.count(), 4)

    book_raw = sim.pq_codebook(clustered, m=16, ksub=64)
    raw = sim.ivfpq_topk(
        clustered, queries, book_raw, k=10, n_cells=16, nprobe=4,
        centroids=cents_c,
    )
    book_res = sim.pq_codebook_residual(
        clustered, cents_c, m=16, ksub=64
    )
    res = sim.ivfpq_residual_topk(
        clustered, queries, book_res, k=10, n_cells=16, nprobe=4,
        centroids=cents_c,
    )
    # LEARNED residual codebook (VERDICT r06 item 5 / r07 item 3):
    # same encoding and byte budget, but each subspace's ksub
    # centroids come from distributed Lloyd iterations over the full
    # residual corpus instead of a hash-ordered seed sample. Measured
    # recall@10 at sf0.1: 0.46 raw / 0.55 residual-seeded / 0.60
    # learned — the lift this section exists to record.
    book_learned = sim.pq_codebook_residual_kmeans(
        clustered, cents_c, m=16, ksub=64
    )
    learned = sim.ivfpq_residual_topk(
        clustered, queries, book_learned, k=10, n_cells=16, nprobe=4,
        centroids=cents_c,
    )
    # IVFADC+R (round 8): exact re-scoring of the learned path's
    # k*expand proposals — float reads bounded at n_q*k*expand rows,
    # recall climbs to the cell-probe ceiling (1.0 on this corpus).
    # Measured at sf0.1: 0.60 ADC-only -> 0.97 refined.
    refined = sim.ivfadc_topk_refined(
        clustered, queries, book_learned, k=10, expand=4, n_cells=16,
        nprobe=4, centroids=cents_c,
    ).select(
        "query_id", "neighbor_id"
    )
    # PER-CELL residual codebooks (round 9, VERDICT r08 item 6): same
    # code budget (m*log2(ksub) bits/vector), n_cells-fold model; each
    # cell's book covers only that cell's displacement distribution.
    # An OPQ-style pre-rotation was prototyped and measured FLAT on
    # this corpus (0.59 vs 0.61 shared-learned — the residuals are
    # isotropic, so there is no variance imbalance for a rotation to
    # fix); per-cell books are where the headroom actually was.
    # Measured at sf0.1: 0.60 shared-learned -> 0.74 per-cell at
    # ksub=64 -> 0.87 at ksub=128 (the round-10 saturation probe,
    # adopted round 11 as the headline config: +0.13 unrefined recall
    # for 2 extra bytes/vector packed — m*log2(ksub) = 112 vs 96
    # bits). The ksub=64 row below keeps the old config measured.
    books_pc = sim.pq_codebook_residual_percell(
        clustered, cents_c, m=16, ksub=128
    )
    percell = sim.ivfadc_percell_topk(
        clustered, queries, books_pc, k=10, nprobe=4, centroids=cents_c,
    )
    percell_refined = sim.ivfadc_percell_topk_refined(
        clustered, queries, books_pc, k=10, expand=4, nprobe=4,
        centroids=cents_c,
    ).select("query_id", "neighbor_id")
    out = {
        "ann_clustered_recall_ivfpq_raw": recall(raw),
        "ann_clustered_recall_ivfadc_residual": recall(res),
        "ann_clustered_recall_ivfadc_residual_learned": recall(learned),
        "ann_clustered_recall_ivfadc_percell": recall(percell),
        "ann_clustered_recall_ivfadc_refined": recall(refined),
        "ann_clustered_recall_ivfadc_percell_refined": recall(
            percell_refined
        ),
    }
    # per-cell nprobe curve (round 10, VERDICT r09 item 5): the same
    # deployment knob the float-IVF sweep below records, under the
    # per-cell books — separates coarse-probe misses (nprobe-bound,
    # what the refined twin cannot recover either) from quantization
    # error (ksub-bound, what the ksub row below measures). The
    # nprobe=4 row is the headline percell number by construction.
    for np_ in (1, 16):
        out[f"ann_clustered_recall_ivfadc_percell_nprobe{np_}"] = recall(
            sim.ivfadc_percell_topk(
                clustered, queries, books_pc, k=10, nprobe=np_,
                centroids=cents_c,
            )
        )
    out["ann_clustered_recall_ivfadc_percell_nprobe4"] = out[
        "ann_clustered_recall_ivfadc_percell"
    ]
    # ksub comparison row (round 11 — headline flipped to 128 above,
    # per the r10 verdict's adoption of the measured saturation
    # lift): the OLD ksub=64 config re-measured each round so the
    # +0.13 delta stays a recorded fact, not a stale docstring. The
    # r10 rounds' `_ksub128` saturation-probe row is superseded by
    # the headline itself.
    books_pc64 = sim.pq_codebook_residual_percell(
        clustered, cents_c, m=16, ksub=64
    )
    out["ann_clustered_recall_ivfadc_percell_ksub64"] = recall(
        sim.ivfadc_percell_topk(
            clustered, queries, books_pc64, k=10, nprobe=4,
            centroids=cents_c,
        )
    )
    # nprobe sweep (round 8): the deployment knob — more probed cells
    # buy recall in exchange for linearly more scanned IO
    # (layout_ivf_files_probed / layout_ivf_files_total is the IO
    # side of the same curve). Swept on the ORIGINAL near-uniform
    # fixture with float IVF: uniform data scatters a query's true
    # neighbors across cells, which is exactly the regime where
    # nprobe matters (on the synthetic clustered corpus above, every
    # true neighbor shares the query's own cell and the sweep is
    # flat at the PQ-quantization ceiling — measured, not assumed).
    # Measured at sf0.01: 0.24 / 0.57 / 1.00 at nprobe 1/4/16.
    dim = len(emb.select("embedding").first()[0])
    q_u = emb.where(F.col("vec_id") < 10)
    exact_u = sim.cosine_topk(emb, q_u, k=10)
    n_exact_u = exact_u.count()
    for np_ in (1, 4, 16):
        swept = sim.ivf_topk(
            # `cents` from the top of the section IS this sweep's
            # model (same emb, same n_cells, deterministic fit) — no
            # second Lloyd training
            emb, q_u, k=10, dim=dim, n_cells=16, nprobe=np_,
            centroids=cents,
        )
        hits = swept.join(
            exact_u, ["query_id", "neighbor_id"], "left_semi"
        ).count()
        out[f"ann_uniform_recall_ivf_nprobe{np_}"] = round(
            hits / n_exact_u, 4
        )
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0)
    spark = get_spark(app_name="zikeiretsu-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm-up: JVM/codegen/file-listing
    suite.load(spark, sf_dir, "lineitem").count()
    suite.events_ts_long(spark, sf_dir).count()

    # Python-runtime warm-up (optimization round 14, declared
    # measurement fix): the session's FIRST Arrow stage pays the
    # Python worker-pool spawn — and since the decode operators chain
    # two mapInPandas in one stage (the round-14 removal of the
    # per-decode payload shuffle), that is up to 2 x defaultParallelism
    # interpreters forking and importing numpy/pandas at once.
    # multimodal_decode is the first Python-stage HEADLINE query, so
    # without this it absorbed the whole spawn storm into its own
    # min-of-2 (measured 0.98-1.25 s warm vs 2.2-5.4 s as the
    # session's first Python query; r13's pre-change bench did not
    # see it because the old exchange-separated stages spawned half
    # the workers, sequentially). The warm-up runs a TOY chained
    # double-mapInPandas over `range` — no HEADLINE query's plan or
    # data is touched, exactly like the JVM warm-up counts above;
    # every per-query timing below keeps the same min-of-2 protocol.
    def _py_ident(it):
        import numpy  # noqa: F401
        import pandas  # noqa: F401

        yield from it

    par = spark.sparkContext.defaultParallelism
    (
        spark.range(par * 4, numPartitions=par)
        .mapInPandas(_py_ident, "id long")
        .mapInPandas(_py_ident, "id long")
        .write.format("noop").mode("overwrite").save()
    )

    # warm the probe set untimed first: the probe exists to measure
    # AMBIENT drift between the two passes, and without this the
    # start pass pays one-time codegen JIT that the end pass doesn't
    # (first recorded run: ts_range_scan 0.33 s cold-probe vs 0.13 s
    # end-probe — a 2.5x "band" that was warm-up, not load)
    run_ambient_probe(spark, sf_dir)
    probe_start = run_ambient_probe(spark, sf_dir)

    timings: dict[str, float] = {}
    for name in HEADLINE:
        timings[name] = round(run_query(spark, name, sf_dir), 3)

    skew = run_skew(spark, sf_dir)
    layout = run_layout(spark, sf_dir)
    ann = run_ann(spark, sf_dir)

    probe_end = run_ambient_probe(spark, sf_dir)

    total = round(sum(timings.values()), 3)
    payload = {
        "metric": "headline_suite_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "skew": skew,
        "layout": layout,
        "ann": ann,
        "ambient": ambient_summary(probe_start, probe_end),
        "sf": sf,
    }
    # The driver captures only the stdout TAIL (BENCH_r5.json held a
    # truncated record with "parsed": null, so the headline total was
    # not in any committed artifact). Persist the FULL payload to a
    # file as well; the round's copy is committed as BENCH_r{N}_full.json
    # so round-over-round comparison works from the repo alone.
    #
    # SF-stamping guard (VERDICT r07 item 7): a mid-round sf0.01 run
    # once overwrote BENCH_full_latest.json and masqueraded as the
    # sf0.1 record. The default file name now carries the SF it was
    # measured at, and "latest" is refreshed ONLY when the caller set
    # SPARK_GRAFT_SF_DIR explicitly (tools/record_round.py does) —
    # an env-less smoke run can no longer restamp the round record.
    repo = os.path.dirname(os.path.abspath(__file__))
    explicit = os.environ.get("SPARK_GRAFT_BENCH_FULL")
    out_paths = [
        explicit
        if explicit
        else os.path.join(repo, f"BENCH_full_sf{sf}.json")
    ]
    if not explicit and "SPARK_GRAFT_SF_DIR" in os.environ:
        out_paths.append(os.path.join(repo, "BENCH_full_latest.json"))
    # The files are BYTE-IDENTICAL to the printed line (round 15,
    # VERDICT r14 item 7): the driver's stdout tail-capture truncated
    # r13's ~10 KB line mid-object and the round-over-round comparison
    # was lost; r14's driver evidently recovered it from the committed
    # full artifact. Keeping file == line means either source yields
    # the same parse, and the line stays the LAST stdout line.
    line = json.dumps(payload)
    for out_path in out_paths:
        with open(out_path, "w") as fh:
            fh.write(line)
            fh.write("\n")
    print(line)


if __name__ == "__main__":
    main()
