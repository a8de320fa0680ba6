"""Deduplication operators for LLM-data-pipeline workloads.

Four families, all shuffle-conscious:

- exact_dedup: hash-groupBy on a content digest. One shuffle on the
  digest; at 100 TB this is the cheapest possible formulation (the
  digest is 16 bytes, not the document).
- ngram_jaccard_pairs: exact word-n-gram Jaccard via a shingle
  self-join. Exact but quadratic in colliding shingles — the oracle/
  ground-truth path. `max_shingle_doc_freq` drops ubiquitous shingles
  (stopword phrases) which is what keeps the join skew-free at scale.
- minhash_lsh_pairs: MinHash signatures + banded LSH bucketing — the
  100 TB path. Cost is linear in corpus size: k hash evaluations per
  shingle (map-side), one groupBy per doc, one join keyed on
  (band, band_signature) that only collides near-duplicates.
- simhash64: 64-bit SimHash fingerprints + banded candidate join for
  hamming-distance near-dups.

All hashing uses Spark's built-in murmur3 (`F.hash`) / `F.xxhash64` —
JVM-side, deterministic across runs and cluster sizes. No Python UDFs.

Cache lifecycle (ADVICE r05): several operators `.cache()` a shared
sub-plan (the minhash signature table, the ranked prefix table) that
feeds multiple branches of the RETURNED lazy DataFrame — they cannot
unpersist before the caller's action runs, so the lifecycle is
caller-owned by contract: entries persist at MEMORY_AND_DISK and are
LRU-evicted under pressure (bounded, never a correctness issue); a
long-lived session that interleaves many corpora can release them
explicitly with `spark.catalog.clearCache()` between pipelines, and
the iterative operators that DO consume their caches internally
(connected_components' localCheckpoints, the streaming index's
per-epoch batch prefixes) release them before returning.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group identical texts by md5 digest: representative = min id.

    Output: fingerprint, rep_id (min id), dup_count.
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("rep_id"), F.count("*").alias("dup_count"))
    )


def _spread_if_narrow(df: DataFrame) -> DataFrame:
    """Round-robin the rows to defaultParallelism when a map-only scan
    lineage has fewer splits than the session has cores (a
    single-row-group parquet file scans as ONE task, serializing every
    downstream explode). No-op at production split counts, and never
    probed on a lineage that already shuffled: partitioning there is
    >= shuffle.partitions already, and under AQE the `.rdd` probe
    itself would materialize every upstream shuffle stage — running
    real work twice (optimization round 14; same rule as multimodal's
    `_spread_for_decode`)."""
    plan = df._jdf.queryExecution().analyzed().toString()
    markers = (
        "Repartition",
        "Join",
        "Aggregate",
        "Sort",
        "Window",
        "Deduplicate",
        "Distinct",
    )
    if any(m in plan for m in markers):
        return df
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def word_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3,
    distinct: bool = True,
) -> DataFrame:
    """Word-n-gram shingles per document: (id, shingle), distinct by
    default. Tokenization = lowercase + whitespace split (matches the
    DuckDB oracle formulation in the test suite). `distinct=False` skips
    the corpus-wide dedup exchange for consumers whose downstream
    aggregate removes duplicates itself: a per-document `collect_set`
    (the Jaccard pair table and re-scorers) or a min (minhash
    minima)."""
    ws = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    shingles = F.expr(
        f"transform(sequence(0, size(_ws) - {n}), i -> "
        + "concat_ws(' ', "
        + ", ".join(f"_ws[i + {j}]" for j in range(n))
        + "))"
    )
    out = (
        df.select(F.col(id_col), ws.alias("_ws"))
        .where(F.size("_ws") >= n)
        .select(F.col(id_col), F.explode(shingles).alias("shingle"))
    )
    return out.distinct() if distinct else out


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_doc_freq: int | None = None,
    hash_shingles: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs (id_a < id_b, jaccard >=
    threshold). Jaccard = |A∩B| / (|A|+|B|−|A∩B|) from exact integer
    counts, so the resulting double is engine-independent.

    `max_shingle_doc_freq`: drop shingles occurring in more than this
    many documents before the self-join (skew guard; disabled for
    oracle-parity runs, essential at scale).

    `hash_shingles`: join on xxhash64(shingle) instead of the shingle
    string — 8-byte shuffle keys instead of ~n-word strings (the scale
    path; a 64-bit collision can merge two shingles, inflating one
    intersection count by 1 — negligible for dedup, but off by default
    for exact-oracle runs).
    """
    from pyspark.sql import Window

    sh = word_shingles(df, id_col, text_col, n, distinct=False)
    if hash_shingles:
        sh = sh.select(F.col(id_col), F.xxhash64("shingle").alias("shingle"))
    # per-doc set build instead of distinct + size window (optimization
    # round 15, guide §2.4): the former shape paid an (id, shingle)
    # exchange for the distinct PLUS an id exchange for the _sz window.
    # collect_set IS the distinct (in-doc duplicate shingles are
    # removed by the map-side partial aggregate, so they never ship),
    # the re-explode yields exactly the old distinct rows, and the set
    # size is the _sz value — one id-keyed exchange, no window. Sizes
    # are computed BEFORE any doc-freq filtering, as before — the
    # Jaccard denominator uses full set sizes. Memory bound: one
    # document's distinct shingles must fit in one task's memory (the
    # set is a single row; see SCALE.md's max-document-size line).
    sized = (
        sh.groupBy(id_col)
        .agg(F.collect_set("shingle").alias("_set"))
        .select(
            F.col(id_col),
            F.explode("_set").alias("shingle"),
            F.size("_set").alias("_sz"),
        )
    )
    if max_shingle_doc_freq is not None:
        # doc-frequency cap as a shingle-keyed WINDOW on the same
        # lineage, not a separate aggregate joined back (which would
        # re-scan and re-explode the corpus for the rare-shingle set).
        # Sizes are computed BEFORE this filter, so denominators keep
        # full set sizes. Bonus: the window leaves the data partitioned
        # by the shingle key — exactly what the self-join below needs.
        sized = (
            sized.withColumn(
                "_df", F.count("*").over(Window.partitionBy("shingle"))
            )
            .where(F.col("_df") <= max_shingle_doc_freq)
            .drop("_df")
        )
        # checkpointed ONCE (guarded path only): the capped table
        # feeds BOTH sides of the self-join, and physical planning
        # does not reuse the windowed exchange across the branches —
        # without this the shingle explode + both windows run twice.
        # Measured 0.91x (scaled) / 0.87x (chunk_containment) at
        # sf0.1; on the UNguarded oracle-parity path the same
        # checkpoint measured 1.04x (the uncapped table is bigger
        # than the work it saves), so that twin keeps the re-derive
        # (optimization round 14)
        sized = sized.localCheckpoint()
    a = sized.select(
        F.col(id_col).alias("id_a"), F.col("_sz").alias("_sz_a"), "shingle"
    )
    b = sized.select(
        F.col(id_col).alias("id_b"), F.col("_sz").alias("_sz_b"), "shingle"
    )
    inter = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "_sz_a", "_sz_b")
        .agg(F.count("*").alias("_inter"))
    )
    return (
        inter.withColumn(
            "jaccard",
            F.col("_inter") / (F.col("_sz_a") + F.col("_sz_b") - F.col("_inter")),
        )
        .where(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, k: int = 64
) -> DataFrame:
    """k-permutation MinHash signature per document.

    Permutation j is simulated by murmur3 seeded with j
    (`F.hash(lit(j), shingle)`); the signature component is the min over
    the document's shingles. Min is duplicate-insensitive, so the
    shingle rows feed the groupBy UN-deduplicated: the corpus-wide
    (id, shingle) distinct exchange the row form paid bought nothing —
    the k-min groupBy partial-aggregates map-side, so the only shuffle
    left is (id, k*4 bytes), independent of document length. The
    explode is spread first when the scan is narrower than the session
    (single-split fixture files; no-op at production split counts) —
    without that, dropping the distinct serializes the whole
    tokenize+hash pipeline into one task (measured 1.46x SLOWER;
    optimization round 14).

    Output: id, mh0..mh{k-1}.
    """
    sh = word_shingles(
        _spread_if_narrow(df), id_col, text_col, n, distinct=False
    )
    aggs = [
        F.min(F.hash(F.lit(j), F.col("shingle"))).alias(f"mh{j}") for j in range(k)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 64,
    bands: int = 16,
    sig: DataFrame | None = None,
) -> DataFrame:
    """Banded-LSH candidate pairs (id_a < id_b), BEFORE any scoring.

    k minhashes split into `bands` bands of r = k/bands rows; documents
    colliding on any band's signature become candidates (classic
    banding: P(candidate) = 1-(1-j^r)^b). The candidate join is keyed
    on (band, 64-bit band signature) — only near-duplicates collide, so
    the join output is ~linear in the number of true duplicate pairs.

    `sig` lets a caller share one materialized signature table across
    the candidate and scoring stages (see minhash_lsh_pairs) instead
    of re-deriving it from the corpus in every plan branch.

    Output: id_a, id_b (distinct).
    """
    assert k % bands == 0
    r = k // bands
    if sig is None:
        # the bucket table self-joins below: without materialization
        # both join branches re-run the shingle explode + k-min
        # aggregate over the corpus
        sig = minhash_signatures(df, id_col, text_col, n, k).cache()
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(*[F.col(f"mh{b * r + i}") for i in range(r)]).alias("bsig"),
        )
        for b in range(bands)
    ]
    buckets = sig.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.bsig").alias("bsig"))
    return (
        buckets.alias("x")
        .join(
            buckets.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bsig") == F.col("y.bsig"))
            & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")),
        )
        .select(
            F.col(f"x.{id_col}").alias("id_a"), F.col(f"y.{id_col}").alias("id_b")
        )
        .distinct()
    )


def exact_jaccard_for_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float | None = None,
    dense: bool = True,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """EXACT n-gram Jaccard, restricted to the given candidate pairs —
    the verification stage after any LSH candidate generator. Cost is
    linear in (candidate pairs × shingles per doc), never quadratic in
    the corpus: the shingle join fans out only over ids that appear in
    `pairs`.

    `threshold` filters on the RAW jaccard value BEFORE the display
    rounding — a caller that filters the returned rounded column
    instead can diverge from a raw-value oracle on .4999997-style
    boundary pairs (round-to-6 crosses the threshold). All in-repo
    consumers that threshold pass it here.

    `dense` picks the measured-best formulation for the candidate
    shape; both produce identical rows (pytest-pinned equal):
    - dense=True (candidates touch most docs — prefix/LSH pipelines):
      per-doc signature arrays + map-side array_intersect. One
      shingle derivation, but collect_list shuffles the full shingle
      payload (no map-side combine), so it only pays off when most
      docs are scored anyway. Measured 2.1x faster on the sf0.1
      prefix pipeline.
    - dense=False (sparse candidates — incremental crawls, <<1% dup
      rates): the pair-per-shared-shingle row join. Three shingle
      derivations, but inner joins fan out ONLY candidate ids and
      the size aggregate partial-aggregates map-side. Measured 1.5s
      faster on the sf0.1 incremental path, whose candidates touch a
      small slice of the corpus.

    Output: id_a, id_b, *keep_cols, jaccard (rounded 6) — one row per
    input pair (pairs with no shared shingles get jaccard 0.0,
    INCLUDING pairs whose doc has no shingles at all, e.g. text
    shorter than n words: the size lookups are left joins with size-0
    fill, so no pair is silently dropped). `keep_cols` carries extra
    `pairs` columns through (see jaccard_from_signatures).
    """
    if not dense:
        # sparse path: pair-per-shared-shingle row join; inner joins
        # fan out only candidate ids, sizes partial-aggregate. The
        # three shingle re-derivations are measured CHEAPER than
        # materializing the table once: an interleaved A/B at sf0.1
        # (4 runs each, alternating) put an eager localCheckpoint at
        # median 4.45 s vs 4.23 s as-is — the map-side explode is
        # cheaper than writing + reading the 50 MB block store, and
        # earlier one-directional measurements suggesting otherwise
        # were page-cache ordering artifacts.
        # spread the tokenize+shingle work when the source scan has
        # fewer splits than the session has cores (a single-row-group
        # parquet file scans as ONE task, serializing all three
        # explode passes below); shuffling the raw text once is
        # cheaper than 3x single-task shingling. At scale the scan
        # has >= defaultParallelism splits and this is a no-op
        # (optimization round 14; measured 1.03 -> 0.73 s per
        # derivation at sf0.1)
        src = _spread_if_narrow(df)
        # per-doc set derivation (optimization round 15, guide §2.4):
        # each of the three consumers below used to pay the distinct's
        # (id, shingle) exchange AND its own downstream exchange per
        # re-derivation. collect_set IS the distinct (map-side partial
        # aggregation), so every re-derivation now costs ONE id-keyed
        # exchange, the size is free (size(_set)), and the explodes
        # back to rows stay id-partitioned. Memory bound: one
        # document's distinct shingles must fit in one task's memory.
        sets = (
            word_shingles(src, id_col, text_col, n, distinct=False)
            .groupBy(id_col)
            .agg(F.collect_set("shingle").alias("_set"))
        )
        sz = sets.select(F.col(id_col), F.size("_set").alias("_sz"))
        p = pairs.select("id_a", "id_b", *keep_cols)
        slim = p.select("id_a", "id_b")
        a_sh = sets.select(
            F.col(id_col).alias("id_a"), F.explode("_set").alias("shingle")
        )
        b_sh = sets.select(
            F.col(id_col).alias("id_b"), F.explode("_set").alias("shingle")
        )
        inter = (
            slim.join(a_sh, "id_a")
            .join(b_sh, ["id_b", "shingle"])
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("_inter"))
        )
        scored = (
            p.join(inter, ["id_a", "id_b"], "left")
            .na.fill(0, ["_inter"])
            .join(
                sz.select(
                    F.col(id_col).alias("id_a"),
                    F.col("_sz").alias("_sz_a"),
                ),
                "id_a",
                "left",
            )
            .join(
                sz.select(
                    F.col(id_col).alias("id_b"),
                    F.col("_sz").alias("_sz_b"),
                ),
                "id_b",
                "left",
            )
            .na.fill(0, ["_sz_a", "_sz_b"])
            .withColumn(
                "_denom",
                F.col("_sz_a") + F.col("_sz_b") - F.col("_inter"),
            )
            .withColumn(
                "jaccard",
                F.when(
                    F.col("_denom") > 0, F.col("_inter") / F.col("_denom")
                ).otherwise(F.lit(0.0)),
            )
        )
        if threshold is not None:
            scored = scored.where(
                F.col("jaccard") >= F.lit(float(threshold))
            )
        return scored.select(
            "id_a", "id_b", *keep_cols,
            F.round("jaccard", 6).alias("jaccard"),
        )
    # dense path: per-doc signature arrays, map-side array_intersect.
    # A candidate-hot doc replicates its array across its pairs
    # exactly as it replicated its shingle rows in the sparse shape
    # (same shuffle bytes, far fewer rows).
    #
    # collect_set over the UN-deduplicated explode (optimization
    # round 15, guide §2.4): the former distinct().groupBy()
    # .collect_list() shape paid TWO full-shingle-table exchanges —
    # one keyed (id, shingle) for the distinct, one keyed id for the
    # array build. collect_set IS the distinct, partial-aggregated
    # map-side (in-doc duplicate shingles never leave their task), so
    # the same set arrays come out of ONE id-keyed exchange. Element
    # order differs (both formulations were unordered); consumers
    # take only size/array_intersect, which are order-free. Memory
    # bound: one document's distinct shingles must fit in one task's
    # memory.
    sets = (
        word_shingles(df, id_col, text_col, n, distinct=False)
        .groupBy(id_col)
        .agg(F.collect_set("shingle").alias("_set"))
    )
    return jaccard_from_signatures(
        sets, pairs, id_col=id_col, threshold=threshold,
        keep_cols=keep_cols,
    )


def doc_signatures(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Per-document shingle-set signature: (id, _set) where _set is
    the array of the doc's distinct word-n-gram shingles, xxhash64-
    hashed (8 bytes per shingle — the scale representation the
    candidate join already ships). The materialized input of
    `jaccard_from_signatures`; `write_prefix_index` persists it so
    recurring crawls never re-shingle corpus text (see the collision
    note there)."""
    return (
        word_shingles(df, id_col, text_col, n)
        .select(F.col(id_col), F.xxhash64("shingle").alias("shingle"))
        .groupBy(id_col)
        .agg(F.collect_list("shingle").alias("_set"))
    )


def _signatures_from_hashed(hashed_shingles: DataFrame, id_col: str) -> DataFrame:
    """`doc_signatures` tail over a precomputed (id, shingle-hash)
    table — lets a caller that already derived the hashed shingle
    table (e.g. for prefix ranking) build the signature arrays from
    it instead of re-tokenizing the text (optimization round 14).
    Jaccard consumers only take set sizes/intersections, so the
    collect_list element order is free."""
    return hashed_shingles.groupBy(id_col).agg(
        F.collect_list("shingle").alias("_set")
    )


def jaccard_from_signatures(
    sigs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    threshold: float | None = None,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Exact Jaccard for candidate pairs from precomputed per-doc
    signature arrays (`sigs` = (id, _set)) — the scoring tail shared
    by the dense in-memory formulation (string arrays) and the
    stored-signature lake/streaming paths (hashed arrays). Left joins
    + coalesce keep the contract for docs with no signature row at
    all (size(NULL) is NULL, filled to 0 -> jaccard 0.0, pair kept).

    Same raw-value-then-round threshold convention as
    `exact_jaccard_for_pairs`. `keep_cols` names extra `pairs`
    columns to carry through to the output (cheaper than the caller
    re-joining the pair table onto the scored rows)."""
    scored = (
        pairs.select("id_a", "id_b", *keep_cols)
        .join(
            sigs.select(
                F.col(id_col).alias("id_a"), F.col("_set").alias("_set_a")
            ),
            "id_a",
            "left",
        )
        .join(
            sigs.select(
                F.col(id_col).alias("id_b"), F.col("_set").alias("_set_b")
            ),
            "id_b",
            "left",
        )
        .withColumn(
            "_inter",
            F.coalesce(
                F.size(F.array_intersect("_set_a", "_set_b")), F.lit(0)
            ),
        )
        .withColumn(
            "_denom",
            F.coalesce(F.size("_set_a"), F.lit(0))
            + F.coalesce(F.size("_set_b"), F.lit(0))
            - F.col("_inter"),
        )
        .withColumn(
            "jaccard",
            F.when(
                F.col("_denom") > 0, F.col("_inter") / F.col("_denom")
            ).otherwise(F.lit(0.0)),
        )
    )
    if threshold is not None:
        scored = scored.where(F.col("jaccard") >= F.lit(float(threshold)))
    return scored.select(
        "id_a", "id_b", *keep_cols, F.round("jaccard", 6).alias("jaccard")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash + banded LSH near-duplicate pairs: candidates from
    `minhash_lsh_candidates`, scored by estimated Jaccard = fraction of
    equal signature components, filtered at `threshold`.

    The signature table is computed ONCE and cached — it feeds four
    plan branches (two sides of the bucket self-join, two sides of
    the scoring join), and without materialization each branch
    re-runs the shingle explode + k-min aggregate over the corpus
    (measured: 8 corpus scans -> 1, 3.3 s -> 2.0 s at sf0.1). The
    cache is (id, k×4 bytes) — thousands of times smaller than the
    corpus; at 100 TB this is the signature table you'd persist to
    the lake anyway (the IVF-index pattern).

    Output: id_a, id_b, est_jaccard.
    """
    sig = minhash_signatures(df, id_col, text_col, n, k).cache()
    sig_arr = sig.select(
        F.col(id_col), F.array(*[F.col(f"mh{j}") for j in range(k)]).alias("sig")
    )
    cand = minhash_lsh_candidates(df, id_col, text_col, n, k, bands, sig=sig)
    sa = sig_arr.select(F.col(id_col).alias("id_a"), F.col("sig").alias("_sig_a"))
    sb = sig_arr.select(F.col(id_col).alias("id_b"), F.col("sig").alias("_sig_b"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "est_jaccard",
            F.expr(
                "size(filter(zip_with(_sig_a, _sig_b, (x, y) -> x = y), v -> v))"
            )
            / F.lit(float(k)),
        )
        .where(F.col("est_jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard"))
    )


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash fingerprint from word-frequency vectors.

    Per document: for every word w with count c and h = xxhash64(w),
    each bit position b accumulates +c if bit b of h is set else -c;
    the fingerprint sets bit b where the accumulator is positive.
    Implemented as 64 conditional-sum aggregates over one word-count
    groupBy — two shuffles total, no UDF, no per-bit explode.

    Output: id, simhash (long).
    """
    ws = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    words = (
        df.select(F.col(id_col), F.explode(ws).alias("w"))
        .groupBy(id_col, "w")
        .agg(F.count("*").alias("c"))
        .withColumn("h", F.xxhash64("w"))
    )
    bit_aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, F.col("c"))
            .otherwise(-F.col("c"))
        ).alias(f"_b{b}")
        for b in range(64)
    ]
    acc = words.groupBy(id_col).agg(*bit_aggs)
    fp = reduce(
        lambda x, b: x + F.when(F.col(f"_b{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        ),
        range(63),  # bit 63 would overflow signed long via 1<<63; handle below
        F.lit(0).cast("long"),
    )
    fp = fp + F.when(
        F.col("_b63") > 0, F.lit(-(1 << 63)).cast("long")
    ).otherwise(F.lit(0).cast("long"))
    return acc.select(F.col(id_col), fp.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance <= max_hamming.

    Pigeonhole banding: split the 64-bit fingerprint into `bands`
    16-bit chunks; any pair within hamming distance < bands must agree
    on at least one chunk, so the candidate join is an equi-join on
    (chunk_index, chunk_value). Verification = popcount(xor) via the
    built-in bit_count.

    Output: id_a, id_b, hamming.
    """
    # the pigeonhole guarantee only covers hamming < bands: a pair
    # differing in exactly `bands` bits can place one flip per chunk
    # and agree on NO chunk — silently incomplete results, while the
    # brute oracle would return the pair
    if max_hamming >= bands:
        # ValueError, not assert: asserts are stripped under `python
        # -O`, which would silently re-enable the incomplete mode
        raise ValueError(
            f"pigeonhole banding is complete only for max_hamming < "
            f"bands (got max_hamming={max_hamming}, bands={bands}); "
            "raise bands"
        )
    fp = simhash64(df, id_col, text_col)
    width = 64 // bands
    mask = (1 << width) - 1
    chunks = fp.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("simhash"), b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("chunk"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "simhash", F.col("bk.band").alias("band"), F.col("bk.chunk").alias("chunk"))
    cand = (
        chunks.alias("x")
        .join(
            chunks.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.chunk") == F.col("y.chunk"))
            & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")),
        )
        .select(
            F.col(f"x.{id_col}").alias("id_a"),
            F.col(f"y.{id_col}").alias("id_b"),
            F.col("x.simhash").alias("_ha"),
            F.col("y.simhash").alias("_hb"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb")))
        )
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_pairs_brute(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """Brute-force hamming pairs over SimHash fingerprints — the O(n²)
    ground truth used ONLY to verify `simhash_pairs`' pigeonhole
    banding (candidate generation must be provably complete for
    hamming < bands). The join carries one 8-byte long per row, so even
    brute force is cheap at verification scale; never run at corpus
    scale.

    Output: id_a, id_b, hamming — identical schema to simhash_pairs.
    """
    fp = simhash64(df, id_col, text_col)
    a = fp.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("_ha"))
    b = fp.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("_hb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb"))))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Turn near-duplicate PAIRS into duplicate CLUSTERS: iterative
    min-label propagation (label(u) <- min over {u} ∪ neighbors), the
    last stage of the dedup pipeline (pairs -> clusters -> one
    representative per cluster).

    Converges in graph-diameter iterations — near-dup clusters are
    shallow (diameter ~2-4), so a handful of rounds suffice. The edge
    list carries a SELF-LOOP per node, so each round is exactly ONE
    join + ONE groupBy: min over neighbors-including-self IS
    least(own, neighbor-min), and the separate labels join-back that
    applied the least() is gone — at scale that join is a full labels
    exchange per round (billions of rows on a real dedup graph);
    locally the two formulations measure equal (interleaved A/B at
    sf0.1: 0.84 vs 0.79 s median — 477-node labels are pure job
    overhead), so this is a shuffle-count change, not a local-speed
    claim. Self-loops also make labels monotone non-increasing per
    node, so convergence is a scalar sum compare (any change strictly
    decreases the integer label sum; DECIMAL(38) accumulation, exact)
    on the checkpointed table — no join, no second pass.
    localCheckpoint truncates the lineage per round (an iterative
    plan otherwise grows exponentially). Checkpoints are LAZY
    (eager=False, optimization round 14): the convergence agg is the
    action that materializes each round's table, so a round costs ONE
    Spark job instead of two (checkpoint job + agg job) — the
    checkpointed rows are identical whichever action computes them.
    The pre-loop label-sum job is folded away the same way: `updated`
    carries exactly one row per node (every node has a self-loop, so
    the join can't drop it), hence sum(u) over round 1's table IS the
    initial sum(label) and both sums come out of round 1's single
    agg. For adversarially deep graphs swap in the
    large-star/small-star formulation; for dedup workloads this is
    the right cost.

    Output: (node, cluster_id) for every node appearing in `pairs`,
    cluster_id = min node id reachable through the pair graph.
    """
    fwd = pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
    edges = fwd.union(
        fwd.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct()
    nodes = edges.select("u").distinct()
    edges = edges.union(nodes.withColumn("v", F.col("u")))
    # checkpoint the edge list ONCE (lazily — round 1's agg is the
    # materializing action): `pairs` is typically an expensive
    # upstream (shingle self-join); without truncation every
    # iteration's join AND every convergence action re-runs that
    # whole pipeline (~2 actions x rounds). Edge rows are two longs —
    # tiny to persist, reused by every subsequent action.
    edges = edges.localCheckpoint(eager=False)
    labels = edges.where(F.col("u") == F.col("v")).select(
        "u", F.col("u").alias("label")
    )
    _decimal_sum = F.sum(F.col("label").cast("decimal(38,0)"))
    prev_sum = None  # folded into round 1's agg (sum(u) == initial sum)
    for r in range(max_iter):
        updated = (
            edges.join(
                labels.select(
                    F.col("u").alias("v"), F.col("label").alias("_nl")
                ),
                "v",
            )
            .groupBy("u")
            .agg(F.min("_nl").alias("label"))
        )
        updated = updated.localCheckpoint(eager=False)
        if r == 0:
            new_sum, prev_sum = updated.agg(
                _decimal_sum, F.sum(F.col("u").cast("decimal(38,0)"))
            ).first()
        else:
            new_sum = updated.agg(_decimal_sum).first()[0]
        labels = updated
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    else:
        # silent wrong labels are worse than an error: a graph whose
        # diameter exceeds max_iter (e.g. a 30-doc template-drift
        # chain) would report one component as several clusters and
        # dedup_by_clusters would keep spurious representatives with
        # no way for the caller to notice
        raise RuntimeError(
            f"connected_components did not converge within {max_iter} "
            "min-propagation rounds (graph diameter exceeds max_iter); "
            "raise max_iter or pre-contract long chains"
        )
    return labels.select(F.col("u").alias("node"), F.col("label").alias("cluster_id"))


def dedup_by_clusters(
    df: DataFrame, clusters: DataFrame, id_col: str
) -> DataFrame:
    """Keep one representative per duplicate cluster (the min-id
    member); rows not in any cluster pass through untouched."""
    non_rep = clusters.where(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias(id_col)
    )
    return df.join(non_rep, id_col, "left_anti")


def ranked_prefixes(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    hash_shingles: bool = False,
    extra_cols: tuple[str, ...] = (),
    skew_safe: bool = False,
) -> DataFrame:
    """The prefix table behind the prefix-filtering join: for each
    document, its (|A| - ceil(t·|A|) + 1) rarest shingles under the
    canonical (global doc-frequency ASC, shingle ASC) total order,
    plus the document's shingle count `_sz`. This is the table a lake
    deployment PERSISTS as the incremental-dedup index (see
    `incremental_dedup_lake` in suite.py): completeness of the prefix
    join only needs a total order COMMON to both sides, so a stored
    corpus-frozen order keeps working as new batches arrive.

    `extra_cols` are per-document columns carried through unchanged
    (they ride the shingle rows; the rank window is per-document, so
    they do not perturb the order).

    `skew_safe` switches the doc-frequency attach from a
    shingle-keyed WINDOW to a map-side-combined groupBy + join-back.
    The window is faster where shingle frequencies are sane (measured
    at sf0.1, uniform corpus: 3.7 vs 4.7 s for the full prefix-pair
    pipeline) because it costs one exchange instead of two — but a
    window partition is UNSPLITTABLE: a boilerplate shingle sitting
    in most of a 100 TB corpus funnels its rows through one task. The
    groupBy formulation partial-aggregates the hot key on every
    mapper and leaves the join-back as an AQE-skew-splittable
    exchange, so it has no straggler ceiling (same measured corpus,
    80%-stop-phrase skew: 5.6 vs 5.0 s — the crossover grows with
    real skew). Output identical either way (equality pytest-pinned).

    Output: id, shingle, _sz, *extra_cols.
    """
    from pyspark.sql import Window

    base = df.select(F.col(id_col), F.col(text_col), *extra_cols)
    # per-doc set build (optimization round 15, guide §2.4): collect_set
    # over the un-deduplicated explode IS the distinct — in-doc
    # duplicate shingles are removed by the map-side partial aggregate
    # — and the set size IS _sz, so the former count-per-id window
    # aggregate disappears; the re-explode yields exactly the old
    # distinct rows. (With hash_shingles a 64-bit in-doc collision now
    # also merges inside the set — the same "collision can only merge
    # two shingles" trade the docstring already makes for the join.)
    # Memory bound: one document's distinct shingles must fit in one
    # task's memory.
    sh = word_shingles(base, id_col, text_col, n, distinct=False)
    if hash_shingles:
        sh = sh.select(F.col(id_col), F.xxhash64("shingle").alias("shingle"))
    sh = (
        sh.groupBy(id_col)
        .agg(F.collect_set("shingle").alias("_set"))
        .select(
            F.col(id_col),
            F.explode("_set").alias("shingle"),
            F.size("_set").alias("_sz"),
        )
    )
    t = float(threshold)
    if skew_safe:
        dfreq = sh.groupBy("shingle").agg(F.count("*").alias("_df"))
        with_df = sh.join(dfreq, "shingle")
    else:
        # window order is exchange-count-load-bearing: doc-frequency
        # FIRST (one shingle-keyed exchange), then the per-doc rank
        # window on the id partitioning. The naive _rk -> _df order
        # would shuffle the full shingle table a third time.
        with_df = sh.withColumn(
            "_df", F.count("*").over(Window.partitionBy("shingle"))
        )
    ranked = (
        with_df
        .withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy(id_col).orderBy("_df", "shingle")
            ),
        )
        .where(
            # keep rank r iff overlap (sz - r + 1) could pass the
            # scorer: SAME double-division `>= t` the scorer uses, so
            # rounding is monotone-consistent with it. The former
            # ceil(sz*t) formulation could round UP on thresholds
            # where t*sz is integral (t=0.07, sz=100 -> ceil 8) and
            # silently shorten the prefix below the theorem's length
            # (judged ADVICE r06 medium).
            (F.col("_sz") - F.col("_rk") + F.lit(1)) / F.col("_sz")
            >= F.lit(t)
        )
        .select(id_col, "shingle", "_sz")
    )
    if extra_cols:
        # joined AFTER the prefix cut: only ~(1-t)·|shingles| rows
        # pick up the flags, not the full shingle table
        ranked = ranked.join(base.select(F.col(id_col), *extra_cols), id_col)
    return ranked


def prefix_filter_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    hash_shingles: bool = False,
) -> DataFrame:
    """AllPairs/PPJoin-style prefix-filtering candidate pairs for
    Jaccard >= threshold — the EXACT-recall alternative to banded LSH.

    Principle (Chaudhuri et al. SSJoin, Bayardo et al. AllPairs, Xiao
    et al. PPJoin): order the shingle universe canonically by
    (global doc-frequency ASC, shingle ASC) — rarest first. If
    J(A,B) >= t then |A∩B| >= ceil(t·max(|A|,|B|)), and any two sets
    with overlap >= α must share an element within the first
    (|set| - α + 1) elements of each under ANY common total order. So
    joining only on each document's PREFIX — its
    (|A| - ceil(t·|A|) + 1) rarest shingles — loses no qualifying
    pair, while skipping exactly the frequent shingles that make the
    naive shingle self-join quadratic. Rare-first ordering makes the
    retained join keys the LOW-fanout ones: completeness comes from
    the theorem, skew resistance from the ordering.

    A length filter (least(|A|,|B|)/greatest(|A|,|B|) >= t, implied by
    J >= t and evaluated with the scorer's own double-division
    comparison so no FP rounding can prune a scorer-passing pair)
    prunes size-incompatible collisions in the same join. Cost: one shingle doc-freq window, one per-doc rank window,
    one equi-join over ~(1-t)·|corpus shingles| prefix rows.

    With `hash_shingles`, prefixes join on xxhash64 keys (8-byte
    shuffle rows). A 64-bit collision can only MERGE two shingles,
    which can add a spurious candidate (harmless — candidates are
    exactly re-scored downstream) or, with probability ~2^-64 per
    shared-shingle collision, perturb the canonical order; the gated
    query runs both formulations hash-exact at every test sf.

    Output: id_a, id_b (distinct candidate pairs, id_a < id_b).
    """
    t = float(threshold)
    ranked = ranked_prefixes(
        df, id_col, text_col, n, threshold, hash_shingles
    ).cache()
    # the prefix table feeds BOTH sides of the candidate self-join;
    # without materialization each branch re-runs the doc-freq +
    # per-doc-rank window pipeline (two shuffles) over all corpus
    # shingles. The cached table holds only the ~(1-t)·|shingles|
    # prefix rows. Lifecycle: caller-owned — the cache must stay live
    # while the returned (lazy) DataFrame is consumed; Spark's storage
    # manager evicts LRU under memory pressure, and a long-lived
    # session can release it via spark.catalog.clearCache().
    a = ranked.select(
        F.col(id_col).alias("id_a"), F.col("_sz").alias("_sz_a"), "shingle"
    )
    b = ranked.select(
        F.col(id_col).alias("id_b"), F.col("_sz").alias("_sz_b"), "shingle"
    )
    return (
        a.join(b, "shingle")
        .where(
            (F.col("id_a") < F.col("id_b"))
            # J <= least/greatest, so the prune compares that ratio
            # with the scorer's own double `>= t` — never prunes a
            # scorer-passing pair (monotone rounding), unlike the
            # former FP-inflatable ceil(greatest*t) bound
            & (
                F.least("_sz_a", "_sz_b")
                / F.greatest("_sz_a", "_sz_b")
                >= F.lit(t)
            )
        )
        .select("id_a", "id_b")
        .distinct()
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    hash_shingles: bool = True,
) -> DataFrame:
    """EXACT n-gram Jaccard pairs at scale: prefix-filter candidates
    (complete by the prefix-filtering theorem — no LSH miss
    probability) re-scored with exact Jaccard and thresholded. Same
    output contract as `ngram_jaccard_pairs`, but the join touches
    only each document's rarest-(1-t) shingle prefix instead of every
    shingle — the quadratic hot-shingle blowup never materializes
    because ubiquitous shingles sort LAST in the canonical order and
    drop out of every prefix.

    Output: id_a, id_b, jaccard (rounded 6).
    """
    cand = prefix_filter_candidates(
        df, id_col, text_col, n, threshold, hash_shingles
    )
    # threshold applied on the RAW value inside (pre-rounding), so the
    # output matches ngram_jaccard_pairs on boundary pairs exactly.
    # The scorer is the shared signature-array formulation (one
    # shingle derivation, map-side array_intersect — measured 5.7 ->
    # ~2.7 s end-to-end at sf0.1 vs the former triple-explode
    # pair-per-shingle join). Scoring always uses STRING shingles, so
    # hashed candidate generation cannot perturb the score.
    return exact_jaccard_for_pairs(
        df, cand, id_col, text_col, n, threshold=threshold
    )


def line_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    line_words: int = 8,
) -> DataFrame:
    """C4-style duplicated-line removal (Raffel et al., "Exploring the
    Limits of Transfer Learning", JMLR'20 §2.2 — C4 drops any line
    occurring more than once in the corpus; cf. the reference README's
    "Record deduplication" upcoming feature). Documents here are
    single-line word streams, so a "line" is a non-overlapping
    `line_words`-word segment — the same convention as the chunker.

    Every duplicated line keeps exactly its FIRST occurrence (global
    (doc_id, line_idx) order) and loses the rest; unique lines always
    survive. Output per document: n_lines, n_kept, and the sum of the
    kept lines' hashes (content-verifying without shipping text).

    Scale shape: one posexplode, then ONE line-keyed shuffle computing
    both the duplicate count and the first-occurrence rank as keyed
    windows over the same Exchange (the groupBy+join-back formulation
    costs a second full-data shuffle — audited and rejected), then one
    groupBy(doc). All linear; the skew risk is a line duplicated
    across a large fraction of the corpus — a hot window partition
    (AQE cannot split a window partition), which is exactly the
    boilerplate case line dedup exists to REMOVE; cap pathological
    lines upstream with the same doc-frequency guard as the shingle
    joins if a corpus needs it.

    Output: doc_id, n_lines, n_kept, kept_hash_sum.
    """
    from pyspark.sql import Window
    words = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    # id kept AS-IS (no cast): a non-numeric id must order and group
    # under its own type, matching every other dedup operator here —
    # a silent cast-to-long would NULL string ids and collapse all
    # documents into one group
    lines = df.select(
        F.col(id_col).alias("doc_id"), words.alias("_w")
    ).select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(_w) / {line_words}.0)"
                f" as int) - 1), i -> array_join(slice(_w, i * {line_words}"
                f" + 1, {line_words}), ' '))"
            )
        ).alias("idx", "line"),
    )
    lines = lines.withColumn(
        "lhash", F.conv(F.substring(F.md5("line"), 1, 8), 16, 10).cast("long")
    )
    w_cnt = Window.partitionBy("line")
    w_first = Window.partitionBy("line").orderBy("doc_id", "idx")
    kept = lines.select(
        "doc_id",
        "lhash",
        (
            (F.count("*").over(w_cnt) == 1)
            | (F.row_number().over(w_first) == 1)
        ).alias("keep"),
    )
    return kept.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        F.sum(F.when(F.col("keep"), F.col("lhash")).otherwise(F.lit(0))).alias(
            "kept_hash_sum"
        ),
    )


def incremental_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    is_new_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Snapshot-incremental near-dup dedup — the shape every recurring
    crawl pipeline runs: a NEW batch arrives, the accumulated corpus
    is IMMUTABLE (already deduped and possibly already trained on),
    and only new documents may be dropped. Drop rule (the
    pairwise-to-earlier rule, the non-iterative form of keep-first
    dedup): a new document is dropped iff it has a near-duplicate
    (exact n-gram Jaccard >= threshold) among (a) ANY corpus document
    — regardless of id order — or (b) any NEW document with a smaller
    id. Old documents are never dropped, even when a new document
    bridges two of them.

    Candidate generation is the EXACT prefix-filter path
    (`ranked_prefixes`, AllPairs/PPJoin) — complete by theorem, so the
    keep/drop verdicts are exact vs the brute oracle, not
    probabilistic. (An earlier banded-MinHash formulation could miss a
    borderline pair at exactly J = 0.5 with probability
    (1-0.5^4)^16 ≈ 0.35, so verdicts only looked exact because fixture
    duplicates are high-similarity — judged ADVICE r05.) The candidate
    join is PROBE-SIDED: build side = every document's prefix, probe
    side = NEW documents' prefixes only, so every emitted pair touches
    a new document by construction and the corpus x corpus quadrant —
    which dominates pair volume on a mature corpus — is never
    generated at all (cheaper than generate-then-filter). Exact
    Jaccard re-scoring runs only on the surviving pairs.

    For the recurring-crawl deployment that must NOT re-shingle the
    corpus every run, persist the prefix table once
    (`write_prefix_index`) and use `incremental_dedup_lake`.

    Output: one row per NEW document — id, is_kept, dup_of (the
    smallest dropping-cause id, NULL if kept).
    """
    flagged = df.select(
        F.col(id_col), F.col(text_col), F.col(is_new_col).alias("_new")
    )
    # one prefix table over the union (common canonical order = union
    # doc-frequency order); cached — it feeds both join sides.
    # Lifecycle: caller-owned, evicted LRU / clearCache (see
    # prefix_filter_candidates).
    pref = ranked_prefixes(
        flagged, id_col, text_col, n, threshold,
        hash_shingles=True, extra_cols=("_new",),
    ).cache()
    build = pref.select(id_col, "shingle", "_sz", "_new")
    probe = pref.where(F.col("_new")).select(id_col, "shingle", "_sz")
    return _incremental_verdicts(
        flagged, build, probe, id_col, text_col, n, threshold
    )


def _incremental_verdicts(
    flagged: DataFrame,
    build: DataFrame,
    probe: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    threshold: float,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Shared tail of the incremental-dedup paths: prefix-join
    candidates (build x probe on shingle, size-compat pruned in-join),
    exact Jaccard re-score, pairwise-to-earlier verdicts. `flagged`
    must carry (id, text, _new); `build` must be a ranked-prefix
    table (id, shingle, _sz, _new) and `probe` one of (id, shingle,
    _sz) whose documents are ALL new (every call site probes the new
    batch) — carrying newness through the candidate join itself is
    what lets the verdict plan touch `flagged` only for the final
    new-doc id list instead of joining it back onto every candidate
    pair. Both prefix tables must be ranked under a COMMON total
    order.

    `sigs`: optional precomputed (id, _set) signature table covering
    every id that can appear in a candidate pair (stored corpus
    signatures + the new batch's). When given, the re-score runs
    against the signatures (`jaccard_from_signatures`) and NO corpus
    text is shingled — the lake/streaming scale path. Verdicts are
    exact up to 64-bit shingle-hash collisions (probability
    ~|A||B|/2^64 per pair — the `hash_shingles` trade the candidate
    join already makes); the string-shingled default stays the
    oracle-anchor formulation."""
    t = float(threshold)
    # the probe side is always-new by contract, so a pair's two
    # newness flags fall out of the join direction: whichever doc
    # came from the probe row is new, the build row carries its own
    # flag. (A both-new pair can arise from either direction; the
    # flags agree, so the distinct collapses them.)
    cand = (
        build.select(
            F.col(id_col).alias("_ba"),
            F.col("_sz").alias("_sza"),
            "shingle",
            F.col("_new").alias("_new_ba"),
        )
        .join(
            probe.select(
                F.col(id_col).alias("_bb"),
                F.col("_sz").alias("_szb"),
                "shingle",
            ),
            "shingle",
        )
        .where(
            (F.col("_ba") != F.col("_bb"))
            # J >= t implies size compatibility — prune in-join,
            # using the scorer's double-division convention (no
            # FP-inflatable ceil; ADVICE r06 medium)
            & (
                F.least("_sza", "_szb")
                / F.greatest("_sza", "_szb")
                >= F.lit(t)
            )
        )
        .select(
            F.least("_ba", "_bb").alias("id_a"),
            F.greatest("_ba", "_bb").alias("id_b"),
            F.when(F.col("_ba") < F.col("_bb"), F.col("_new_ba"))
            .otherwise(F.lit(True))
            .alias("_new_a"),
            F.when(F.col("_ba") < F.col("_bb"), F.lit(True))
            .otherwise(F.col("_new_ba"))
            .alias("_new_b"),
        )
        .distinct()
    )
    # raw-value threshold inside the scorer (pre-rounding): the
    # keep/drop boundary must agree with the raw-value DuckDB oracle.
    # The newness flags ride through the scorer (keep_cols) — no
    # join-back onto the candidate table.
    if sigs is not None:
        # stored-signature re-score: zero text shingling; the sparse
        # candidate set joins two array lookups (AQE broadcasts the
        # small pair side at runtime)
        near = jaccard_from_signatures(
            sigs, cand, id_col=id_col, threshold=t,
            keep_cols=("_new_a", "_new_b"),
        )
    else:
        # dense=False: incremental candidates touch only the new batch
        # and its corpus partners — a small slice of `flagged` — so the
        # sparse row-join formulation wins (measured 4.4 vs 5.9 s at
        # sf0.1 against the string-array signature shape)
        near = exact_jaccard_for_pairs(
            flagged, cand, id_col, text_col, n=n,
            threshold=t, dense=False, keep_cols=("_new_a", "_new_b"),
        )
    # victim/cause mapping (candidates emit id_a < id_b):
    #   (old a, new b) -> b dropped by a   (smaller-id corpus doc)
    #   (new a, old b) -> a dropped by b   (LARGER-id corpus doc)
    #   (new a, new b) -> b dropped by a   (earlier new doc)
    victims = near.select(
        F.when(F.col("_new_a") & ~F.col("_new_b"), F.col("id_a"))
        .otherwise(F.col("id_b"))
        .alias("_victim"),
        F.when(F.col("_new_a") & ~F.col("_new_b"), F.col("id_b"))
        .otherwise(F.col("id_a"))
        .alias("_cause"),
    )
    dup = victims.groupBy("_victim").agg(F.min("_cause").alias("dup_of"))
    new_docs = flagged.where(F.col("_new")).select(F.col(id_col))
    return (
        new_docs.join(dup, new_docs[id_col] == dup["_victim"], "left")
        .select(
            F.col(id_col),
            F.col("dup_of").isNull().alias("is_kept"),
            "dup_of",
        )
    )


def write_prefix_index(
    corpus: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> None:
    """Persist the incremental-dedup corpus index: the corpus prefix
    table (`<path>/prefix`, the ranked_prefixes output under the
    CORPUS-frozen doc-frequency order) and the corpus shingle
    doc-frequency table (`<path>/shingle_df`, needed to rank future
    NEW batches under the SAME order). Built once per corpus version,
    reused by every subsequent crawl — the reference analog of
    ivf_write_index for the dedup family. Prefix completeness needs
    only a total order common to both join sides, so freezing the
    order at corpus-build time is sound; unseen shingles in a new
    batch get doc-frequency 0 (they sort first, which is also the
    rarest-first intent).

    Shingles are stored xxhash64-hashed (8-byte keys on the lake,
    exactly what ships through the candidate join). The doc-frequency
    AGGREGATION is computed once — written as shingle_df and read back
    to rank the corpus prefixes (the same
    `rank_prefixes_under_stored_order` every probe uses, so the
    completeness-critical ranking has exactly one implementation);
    the cheap map-side shingle explode runs once per consumer.

    A third table, `<path>/signature` (id, _set: the doc's full
    hashed-shingle array), feeds the exact re-score, so a probe run
    touches NO corpus text at all — neither for candidates nor for
    scoring. Verdicts scored from hashed signatures are exact up to
    64-bit collisions (~|A||B|/2^64 per pair), the same documented
    trade `hash_shingles` makes on the candidate side; the in-memory
    `incremental_dedup` keeps string-exact scoring as the oracle
    anchor and the lake gate pins the two paths row-identical.
    `index_meta.json` records (n, threshold, hashed, sigs) so probes
    can refuse a mismatched index instead of silently generating
    incomplete candidates; metadata IO goes through `catalog.fsio`, so
    object-store index paths (s3a://, gs://) work like local ones."""
    t = float(threshold)
    sh = word_shingles(corpus, id_col, text_col, n).select(
        F.col(id_col), F.xxhash64("shingle").alias("shingle")
    )
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("_df"))
    dfreq.write.mode("overwrite").parquet(f"{path}/shingle_df")
    sh.groupBy(id_col).agg(
        F.collect_list("shingle").alias("_set")
    ).write.mode("overwrite").parquet(f"{path}/signature")
    spark = corpus.sparkSession
    stored_df = spark.read.parquet(f"{path}/shingle_df")
    rank_prefixes_under_stored_order(
        stored_df,
        corpus.select(F.col(id_col), F.col(text_col)),
        id_col,
        text_col,
        n,
        t,
    ).write.mode("overwrite").parquet(f"{path}/prefix")
    write_prefix_index_meta(path, n, t)


def write_prefix_index_meta(path: str, n: int, threshold: float) -> None:
    """Single serialization point for `index_meta.json` (the file
    `check_prefix_index_meta` parses) — shared by `write_prefix_index`
    and the streaming `IncrementalDedupIndex.build` so the schema
    cannot drift between writers. URI-safe via catalog.fsio."""
    from ..catalog import fsio

    fsio.write_json_atomic(
        fsio.join(path, "index_meta.json"),
        {
            "n": int(n),
            "threshold": float(threshold),
            "hashed": True,
            # index carries per-doc signature arrays: probes score
            # from the store, never from corpus text. Absent in
            # pre-round-8 indexes -> probes fall back to text scoring.
            "sigs": True,
        },
    )


def check_prefix_index_meta(path: str, n: int, threshold: float) -> None:
    """Refuse a prefix index built with different (n, threshold): a
    2-gram probe against a 3-gram index joins disjoint hash keys and
    silently finds NOTHING; a lower probe threshold needs longer
    prefixes than the index stored (completeness breaks). Indexes
    written before meta existed pass (best-effort back-compat).
    URI-safe via catalog.fsio (a local-only exists() would silently
    disable the guard exactly where indexes are shared across jobs)."""
    from ..catalog import fsio

    meta_path = fsio.join(path, "index_meta.json")
    if not fsio.exists(meta_path):
        return
    meta = fsio.read_json(meta_path)
    if meta.get("n") != int(n) or float(meta.get("threshold", -1)) != float(
        threshold
    ):
        raise ValueError(
            f"prefix index at {path} was built with n={meta.get('n')}, "
            f"threshold={meta.get('threshold')}; probe requested "
            f"n={n}, threshold={threshold} — rebuild the index or match "
            "the parameters (a mismatch silently breaks candidate "
            "completeness)"
        )


def incremental_dedup_lake(
    spark,
    index_path: str,
    df: DataFrame,
    id_col: str,
    text_col: str,
    is_new_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """`incremental_dedup` against a STORED corpus prefix index: the
    corpus side of the candidate join is a Parquet scan of
    `<index_path>/prefix` — no shingle explode, no doc-frequency
    window, no per-doc rank window over the old documents, run after
    run. Only the NEW batch is shingled: its prefixes are ranked under
    the stored corpus-frozen order by left-joining the stored
    shingle_df (unseen shingles -> df 0).

    With a round-8+ index (meta `sigs: true`) the exact re-score also
    reads the STORED `signature` table, so old documents' TEXT is
    never touched at all — the per-crawl cost is O(new batch +
    stored-index scan), the property that makes the operator viable
    when the corpus is 100 TB and the crawl is 100 GB. Pre-sigs
    indexes fall back to text re-scoring (restricted to candidate
    pairs), preserving back-compat.

    Candidate SETS can differ from the in-memory path (union-order vs
    corpus-order prefixes — both orders are valid common total orders,
    so both candidate sets are complete); the exact re-score makes the
    OUTPUT identical, which is what the `dedup_incremental_lake` gate
    asserts against the same oracle as `dedup_incremental` (signature
    scoring is exact up to 64-bit shingle-hash collisions — see
    `write_prefix_index`).

    Output: identical contract to `incremental_dedup`.
    """
    from ..catalog import fsio

    check_prefix_index_meta(index_path, n, threshold)
    flagged = df.select(
        F.col(id_col), F.col(text_col), F.col(is_new_col).alias("_new")
    )
    corpus_pref = spark.read.parquet(f"{index_path}/prefix")
    shingle_df = spark.read.parquet(f"{index_path}/shingle_df")
    new_batch = flagged.where(F.col("_new"))
    # the new batch's hashed shingle table feeds THREE consumers
    # (prefix ranking + both sides of the signature-score join);
    # derive it ONCE into an eager local checkpoint instead of
    # re-tokenizing the batch text per consumer branch (optimization
    # round 14: 7 Generates -> 1 in the plan). Spread the tokenize
    # pass first when the batch scan has fewer splits than the
    # session has cores (single-row-group files scan as one task) —
    # a no-op at production split counts, same rule as
    # exact_jaccard_for_pairs.
    src = _spread_if_narrow(new_batch)
    new_sh = (
        word_shingles(src, id_col, text_col, n)
        .select(F.col(id_col), F.xxhash64("shingle").alias("shingle"))
        .localCheckpoint(eager=True)
    )
    new_pref = rank_prefixes_under_stored_order(
        shingle_df, new_batch, id_col, text_col,
        n, threshold, hashed_shingles=new_sh,
    ).cache()
    build = (
        corpus_pref.select(id_col, "shingle", "_sz")
        .withColumn("_new", F.lit(False))
        .unionByName(new_pref.withColumn("_new", F.lit(True)))
    )
    sigs = None
    meta_path = fsio.join(index_path, "index_meta.json")
    if fsio.exists(meta_path) and fsio.read_json(meta_path).get("sigs"):
        sigs = spark.read.parquet(f"{index_path}/signature").unionByName(
            _signatures_from_hashed(new_sh, id_col)
        )
    return _incremental_verdicts(
        flagged, build, new_pref, id_col, text_col, n, threshold,
        sigs=sigs,
    )


def rank_prefixes_under_stored_order(
    shingle_df: DataFrame,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    hashed_shingles: DataFrame | None = None,
) -> DataFrame:
    """Rank a batch's prefixes under a STORED corpus-frozen shingle
    order (the `shingle_df` table `write_prefix_index` persists):
    shingle the batch, left-join the stored doc-frequencies (unseen
    shingles -> df 0, i.e. rarest-first), take each document's
    (|A| - ceil(t·|A|) + 1) lowest-(df, shingle) shingles. Because
    every consumer of the index ranks under this SAME frozen order,
    the prefix-filter completeness theorem applies across arbitrarily
    many later batches — the property that makes the index reusable
    by both the batch lake path (`incremental_dedup_lake`) and the
    streaming bridge (`streaming/neardup.py:IncrementalDedupIndex`).

    Output: id, shingle (xxhash64), _sz.
    """
    from pyspark.sql import Window

    t = float(threshold)
    # `hashed_shingles`: a precomputed (id, xxhash64-shingle) table
    # for `docs` — callers that need the same table for signature
    # building pass it so the tokenize+explode runs once (r14)
    sh = (
        hashed_shingles
        if hashed_shingles is not None
        else word_shingles(docs, id_col, text_col, n).select(
            F.col(id_col), F.xxhash64("shingle").alias("shingle")
        )
    )
    # stored-df join FIRST (shingle-keyed exchange), then both per-doc
    # windows on one id-keyed exchange — same two-exchange shape as
    # ranked_prefixes
    return (
        sh.join(shingle_df, "shingle", "left")
        .withColumn("_df", F.coalesce(F.col("_df"), F.lit(0)))
        .withColumn("_sz", F.count("*").over(Window.partitionBy(id_col)))
        .withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy(id_col).orderBy("_df", "shingle")
            ),
        )
        .where(
            # same scorer-consistent division cut as ranked_prefixes
            # (no FP-inflatable ceil; ADVICE r06 medium)
            (F.col("_sz") - F.col("_rk") + F.lit(1)) / F.col("_sz")
            >= F.lit(t)
        )
        .select(id_col, "shingle", "_sz")
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Snapshot diff by content digest — the CDC report between two
    corpus versions (what changed between crawl N and N+1, the input
    to incremental training-data refreshes): per id, `added` (only in
    new), `removed` (only in old), `changed` (both, digest differs),
    `unchanged`. One full-outer equi-join on the id, md5 digests
    compared in-join; map-side except the single id-keyed exchange
    per side.

    Output: id, status, old_digest, new_digest (NULL where absent).
    """
    # presence is detected with explicit per-side markers, NOT digest
    # nullity: md5(NULL text) is NULL, so digest-based presence would
    # misclassify a present-but-NULL-text row as absent (an old row
    # with NULL text would report 'added')
    o = old.select(
        F.col(id_col),
        F.md5(F.col(text_col)).alias("old_digest"),
        F.lit(True).alias("_in_old"),
    )
    nw = new.select(
        F.col(id_col),
        F.md5(F.col(text_col)).alias("new_digest"),
        F.lit(True).alias("_in_new"),
    )
    j = o.join(nw, id_col, "full")
    status = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(
            # NULL-safe digest compare: a text flipping to/from NULL
            # IS a change
            ~F.col("old_digest").eqNullSafe(F.col("new_digest")),
            F.lit("changed"),
        )
        .otherwise(F.lit("unchanged"))
    )
    return j.select(
        F.col(id_col), status.alias("status"), "old_digest", "new_digest"
    )
