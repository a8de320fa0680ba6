"""pipeline_batch: the LLM-data-pipeline operators from `suite.QUERIES`.

Each operation builds one suite query over a seeded corpus, executes it
and collects its answer with `toPandas`. Spark jobs and shuffles
dominate; these are the dedup, containment and nearest-neighbour
modules that the dedup scorer and ANN-twin rewrites touch. The answers
are a few hundred rows, so the collect adds little; timing the collect
rather than a noop-sink write means the warm-up pass compiles the plans
the timed passes run, and every timed answer can be checked. The JVM
keeps speeding up for several passes after the warm-up (14.5, 12.7 and
10.8 s for three passes on one seed), so the timed passes sit in that
drift, at the same place on every run.

Every answer, warm-up and timed, is checked after the timed region
against the suite's DuckDB oracle (row count and sorted values, as
tools/check_oracle.py compares them). `dedup_minhash_lsh` is an
estimator without an oracle; its answer must contain every exact
Jaccard pair at or above 0.8, which its banding finds with certainty
on this corpus.
"""

from __future__ import annotations

import os
import time

import duckdb
import pandas as pd

import fixtures
from eventlog import GroupCounters
from spans import union_ns
from stats import class_median_mean, class_median_sum, median, p90
from zikeiretsu_rs_spark import suite

QUERIES = (
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_clusters_scaled",
    "source_overlap_matrix",
    "chunk_containment",
    "semantic_dedup",
    "ann_cosine_topk",
    "dedup_incremental",
)
SURE_JACCARD = 0.8
MIN_PASSES = 2


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
    return pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)


class Oracle:
    """The suite's DuckDB oracle answers over the corpus, each computed
    once."""

    def __init__(self, corpus: str):
        self.sql = suite.oracle_sql()
        self.con = duckdb.connect()
        for t in ("documents", "embeddings"):
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus}/{t}.parquet'")
        self.frames: dict[str, pd.DataFrame] = {}

    def answer(self, name: str) -> pd.DataFrame:
        if name not in self.frames:
            self.frames[name] = self.con.execute(self.sql[name]).df()
        return self.frames[name]

    def check(self, name: str, got: pd.DataFrame) -> str | None:
        if name in self.sql:
            want = self.answer(name)
            if len(got) != len(want):
                return f"{len(got)} rows != oracle {len(want)}"
            try:
                pd.testing.assert_frame_equal(
                    _normalize(got), _normalize(want), check_dtype=False, check_exact=True
                )
            except AssertionError as e:
                return f"value mismatch: {str(e)[:200]}"
            return None
        exact = self.answer("dedup_ngram_jaccard")
        sure = set(map(tuple, exact.loc[exact.jaccard >= SURE_JACCARD, ["id_a", "id_b"]].values))
        missing = sure - set(map(tuple, got[["id_a", "id_b"]].values))
        if not sure or missing:
            return f"estimator missed {len(missing)} of {len(sure)} pairs with jaccard >= {SURE_JACCARD}"
        return None

    def close(self) -> None:
        self.con.close()


class PipelineRun:
    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.samples: dict[str, list[float]] = {q: [] for q in QUERIES}
        self.op_ids: dict[str, list[str]] = {q: [] for q in QUERIES}
        self.rows: dict[str, int] = {}
        self.answers: list[tuple[str, pd.DataFrame]] = []
        self.errors: list[str] = []
        self.attempted = 0

    def setup(self) -> None:
        """Write the corpus, then run every query once: the warm-up pass,
        outside the timed region."""
        self.corpus = os.path.join(self.ctx.scratch, "corpus")
        os.makedirs(self.corpus)
        fixtures.write_corpus(self.ctx.seed, self.corpus)
        for name in QUERIES:
            self.run_query(name, f"{name}#warmup")

    def close(self) -> None:
        pass

    def run_query(self, name: str, op_id: str) -> float | None:
        """Build, execute and collect one query; its wall time in ms, or
        None if it failed."""
        self.attempted += 1
        start = time.perf_counter()
        try:
            with self.tracer.span(f"operators.{name}", op_id):
                with self.tracer.span(f"operators.{name}.build", op_id):
                    df = suite.QUERIES[name](self.spark, self.corpus)
                with self.tracer.span(f"operators.{name}.execute", op_id):
                    got = df.toPandas()
        except Exception as e:  # a failed operation is counted, never skipped
            self.errors.append(f"{op_id}: {type(e).__name__}: {e}"[:300])
            return None
        ms = (time.perf_counter() - start) * 1e3
        self.answers.append((name, got))
        self.rows[name] = len(got)
        return ms

    def measure(self, seconds: float) -> None:
        """Whole passes over the queries: at least two, and more while
        less than `seconds` have elapsed. The JVM is still speeding up
        over the first passes, so a run that took a single pass would
        report a slower place in that drift than one that took two."""
        sc = self.spark.sparkContext
        t0 = time.perf_counter()
        k = 0
        while k < MIN_PASSES or time.perf_counter() - t0 < seconds:
            for name in QUERIES:
                op_id = f"{name}#{k}"
                if self.tracer.enabled:
                    sc.setJobGroup(op_id, name)
                try:
                    ms = self.run_query(name, op_id)
                finally:
                    if self.tracer.enabled:
                        sc.setLocalProperty("spark.jobGroup.id", None)
                if ms is not None:
                    self.samples[name].append(ms)
                    self.op_ids[name].append(op_id)
            k += 1

    def check(self) -> None:
        oracle = Oracle(self.corpus)
        try:
            for name, got in self.answers:
                err = oracle.check(name, got)
                if err is not None:
                    self.errors.append(f"{name}: {err}")
        finally:
            oracle.close()

    def outcome(self) -> tuple[int, list[str]]:
        return self.attempted, self.errors

    def end_to_end(self, setup_s: float, rss_mb: float) -> tuple[dict, dict]:
        samples = [ms for v in self.samples.values() for ms in v]
        tail_ms, beyond = p90(samples)
        rows = sum(self.rows.get(q, 0) * len(v) for q, v in self.samples.items())
        metrics = {
            "setup_s": setup_s,
            "query_p50_ms": class_median_mean(self.samples),
            "query_tail_ms": tail_ms,
            "rows_per_s": rows / (sum(samples) / 1e3) if samples else 0.0,
            "batch_wall_s": class_median_sum(self.samples) / 1e3,
            "peak_rss_mb": rss_mb,
        }
        extra = {
            "query_samples": len(samples),
            "query_samples_beyond_p90": beyond,
            "passes": max(len(v) for v in self.samples.values()),
            "class_p50_ms": {q: round(median(v), 1) for q, v in self.samples.items()},
        }
        return metrics, extra

    def per_layer(self, groups: dict[str, GroupCounters]) -> dict[str, float]:
        wall = {}
        for s, _ in self.tracer.self_ms():
            if s.name in (f"operators.{q}" for q in QUERIES):
                wall[s.op] = (s.end_ns - s.start_ns) / 1e6
        out = {}
        none = GroupCounters()
        for q in QUERIES:
            ops = self.op_ids[q]
            gs = [groups.get(o, none) for o in ops]
            driver = [
                wall[o] - union_ns([(a * 10**6, b * 10**6) for a, b in g.job_spans_ms]) / 1e6
                for o, g in zip(ops, gs)
            ]
            per_op = lambda f: sum(f(g) for g in gs) / len(gs) if gs else 0.0  # noqa: E731
            out.update(
                {
                    f"operators.{q}.wall_ms": median([wall[o] for o in ops]),
                    f"operators.{q}.driver_ms": median(driver),
                    f"operators.{q}.spark_jobs": per_op(lambda g: g.jobs),
                    f"operators.{q}.tasks": per_op(lambda g: g.tasks),
                    f"operators.{q}.executor_cpu_ms": per_op(lambda g: g.executor_cpu_ms),
                    f"operators.{q}.gc_ms": per_op(lambda g: g.gc_ms),
                    f"operators.{q}.shuffle_read_bytes": per_op(lambda g: g.shuffle_read_bytes),
                    f"operators.{q}.shuffle_write_bytes": per_op(lambda g: g.shuffle_write_bytes),
                    f"operators.{q}.spill_bytes": per_op(lambda g: g.spill_bytes),
                }
            )
        out["trace.batch_wall_s"] = class_median_sum(self.samples) / 1e3
        return out
