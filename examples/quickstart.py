"""End-to-end tour of zikeiretsu_rs_spark for a reference (zikeiretsu-rs)
user switching over: ingest -> dialect queries -> catalog metadata ->
retention -> remote serving -> the LLM-pipeline operator families.

Run:  python examples/quickstart.py
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from zikeiretsu_rs_spark import DBContext, Engine
from zikeiretsu_rs_spark.datamodel import DataPoint, FieldType
from zikeiretsu_rs_spark.session import get_spark

NS = 1_000_000_000


def main() -> None:
    spark = get_spark(app_name="quickstart", cpus=4, shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    engine = Engine(spark, DBContext(data_dir=tempfile.mkdtemp()))

    # -- ingest (WritableStore analog: push -> sorted, partitioned persist)
    store = engine.writable_store(
        "trades", [FieldType.BOOL, FieldType.FLOAT64, FieldType.FLOAT64]
    )
    base = 1_632_700_800 * NS  # 2021-09-27T00:00:00Z
    store.push_multi(
        [
            DataPoint.new(base + i * 1800 * NS, i % 3 == 0, 100.0 + i, 0.5 + i / 100)
            for i in range(96)  # two days, 30-min cadence
        ]
    )
    store.persist()

    # -- the reference dialect, verbatim
    print("== dialect query (tz-aware, accuracy-widened '=' match)")
    print(
        engine.execute(
            "with cols = [is_buy, price, size], tz = Asia/Tokyo "
            "select price, size from trades where ts = '2021-09-27 10:00'"
        )
    )

    print("== distinct-timestamp head limit (ts >=|n)")
    print(
        engine.execute(
            "with cols = [is_buy, price, size], format_datetime = false "
            "select price from trades where ts >=|3 '2021-09-27'"
        )
    )

    print("== catalog metadata")
    print(engine.execute("select * from .metrics"))
    print(engine.execute("select * from .describe"))

    # -- remote boundary: REAL Arrow Flight (gRPC via pyarrow.flight)
    from zikeiretsu_rs_spark.flight_server import (
        ZikeiretsuFlightServer,
        execute_flight,
    )

    fserver = ZikeiretsuFlightServer(engine)
    ftable, meta = execute_flight(
        fserver.location,
        "with cols = [is_buy, price, size], format_datetime = false "
        "select price from trades where ts in ('2021-09-27', '2021-09-28')",
    )
    print(
        f"== Flight do_get over {fserver.location}: {ftable.num_rows} rows; "
        f"output_condition={meta}"
    )
    fserver.shutdown()

    # -- LLM-pipeline operators over any DataFrame
    from pyspark.sql import functions as F

    from zikeiretsu_rs_spark.operators import dedup, sampling, text

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different content with its own words"),
            (4, "the quick brown fox jumps over the lazy dog"),
        ],
        ["doc_id", "text"],
    )
    print("== exact dedup (md5 groupBy)")
    dedup.exact_dedup(docs, "doc_id", "text").show(truncate=False)
    print("== near-dup pairs (exact n-gram Jaccard)")
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    pairs.show()
    print("== pairs -> clusters -> representatives")
    clusters = dedup.connected_components(pairs)
    dedup.dedup_by_clusters(docs, clusters, "doc_id").orderBy("doc_id").show(
        truncate=False
    )
    print("== quality + stable train/test split")
    q = text.quality_score(docs, "doc_id", "text").select("doc_id", "quality")
    sampling.train_test_split(docs, "doc_id").join(q, "doc_id").orderBy(
        "doc_id"
    ).select("doc_id", "split", F.round("quality", 3).alias("quality")).show()

    # -- round-4 additions: exact-recall prefix-filter dedup, heavy
    #    hitters, phrase search, BPE vocabulary training, PQ ANN codes
    from zikeiretsu_rs_spark.operators import bpe, search, similarity, sketches

    print("== prefix-filter exact Jaccard (AllPairs/PPJoin — no LSH miss)")
    dedup.prefix_filter_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5
    ).show()

    print("== heavy hitters (bounded-state Misra-Gries)")
    toks = docs.select(
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("term")
    )
    sketches.heavy_hitters(toks, "term", capacity=4).orderBy(
        F.desc("est")
    ).show(5)

    print("== positional phrase search")
    phrases = spark.createDataFrame(
        [(1, "quick brown fox")], ["phrase_id", "phrase"]
    )
    search.phrase_match(docs, phrases, "doc_id", "text").orderBy(
        "doc_id"
    ).show()

    print("== BPE vocabulary training (first 5 merges)")
    for left, right, freq in bpe.learn_merges(docs, "text", n_merges=5):
        print(f"   merge {left!r} + {right!r}  (weighted freq {freq})")

    print("== PQ codes + ADC search with exact refinement")
    import random

    rng = random.Random(7)
    emb = spark.createDataFrame(
        [(i, [rng.random() for _ in range(16)]) for i in range(30)],
        ["vec_id", "embedding"],
    )
    book = similarity.pq_codebook(emb, m=4, ksub=16)
    similarity.pq_topk_refined(
        emb, emb.where(F.col("vec_id") < 2), book, k=3
    ).show()

    # -- round-4 fourth batch: C4 line dedup, content-defined chunks,
    #    batched BPE, count-min, bloom join, quality classifier, TF-IDF
    from zikeiretsu_rs_spark.operators import curation, joins

    print("== C4-style line dedup (first occurrence wins)")
    dedup.line_dedup(docs, "doc_id", "text", line_words=4).orderBy(
        "doc_id"
    ).show()

    print("== content-defined chunking (edit-stable boundaries)")
    curation.cdc_chunks(docs, "doc_id", "text").orderBy(
        "doc_id", "chunk_idx"
    ).show(6)

    print("== batched BPE (top-B symbol-disjoint merges per round)")
    for rnd, sel in enumerate(
        bpe.learn_merges_batched(docs, "text", n_merges=6, batch_size=3)
    ):
        print(f"   round {rnd + 1}: " + ", ".join(
            f"{l!r}+{r!r}" for l, r, _ in sel
        ))

    print("== count-min sketch estimates for the top terms")
    cms = sketches.cms_build(toks, "term", depth=3, width=64)
    top = toks.groupBy("term").count().withColumnRenamed("count", "true_cnt")
    sketches.cms_estimate(cms, top, "term", depth=3, width=64).orderBy(
        F.desc("true_cnt")
    ).show(5)

    print("== bloom-prefiltered join (identical to the plain join)")
    small = docs.where(F.col("doc_id") == 1).select("doc_id")
    joins.bloom_filtered_join(
        docs.select(F.col("doc_id").alias("k"), "text"), "k", small, "doc_id"
    ).select("k").show()

    print("== hashed linear quality classifier (fastText skeleton)")
    text.quality_classifier_score(docs, "doc_id", "text").orderBy(
        "doc_id"
    ).show()

    print("== TF-IDF retrieval (lnc.ltc)")
    probes = docs.where(F.col("doc_id") == 1).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("query_text")
    )
    search.tfidf_topk(docs, probes, "doc_id", "text", k=3).show()

    spark.stop()


if __name__ == "__main__":
    main()
