"""tsdb_mixed: dialect queries served over Arrow Flight beside writes.

The workload builds a seeded `trades` warehouse with
`WritableStore.persist_dataframe` (one block per UTC day), starts the
Flight server in this process and drives it from one client thread in a
closed loop: the next request goes out when the previous answer is in
hand. It sends a fixed round-robin of narrow queries, each over a
freshly drawn range, so nearly every query misses the translator's
32-slot scan cache; every 10th operation appends and persists a
500-point block, which also invalidates every cached range.

Every answer is checked after the timed region against DuckDB reading
the same Parquet files: row count plus an order-insensitive checksum.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass
from datetime import datetime, timezone

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa

import fixtures
from fixtures import EPOCH_START, NANOS_PER_SEC
from eventlog import GroupCounters
from stats import class_median_mean, class_median_sum, mean, median, p90
from zikeiretsu_rs_spark.catalog.manifest import Manifest
from zikeiretsu_rs_spark.datamodel import DataPoint, FieldType
from zikeiretsu_rs_spark.engine import DBContext, Engine
from zikeiretsu_rs_spark.flight_server import ZikeiretsuFlightServer, execute_flight
from zikeiretsu_rs_spark.query.analyzer import interpret
from zikeiretsu_rs_spark.query.executor import QueryExecutor
from zikeiretsu_rs_spark.query.parser import parse_query

METRICS = "trades"
FIELD_TYPES = [FieldType.BOOL, FieldType.FLOAT64, FieldType.FLOAT64]
DAYS = 4
ROWS_PER_DAY = 20_000
# raw user bytes of one row: 8-byte ts, 1-byte bool, two 8-byte doubles
USER_BYTES_PER_ROW = 8 + 1 + 8 + 8
WRITE_EVERY = 10
WRITE_POINTS = 500
LIMIT_N = 100
HOUR = 3_600 * NANOS_PER_SEC
SPAN_S = DAYS * 86_400
MIXED_CLASSES = ("range_1h", "head_limit", "tail_limit", "eq_hour_jst", "describe")
WARMUP_ROUNDS = 3


def _lit(nanos: int) -> str:
    return datetime.fromtimestamp(nanos // NANOS_PER_SEC, tz=timezone.utc).strftime(
        "%Y-%m-%d %H:%M:%S"
    )


@dataclass
class Query:
    """One dialect query and the answer it must produce: rows in
    [since, until), optionally cut to the first (head) or last (tail)
    `limit` distinct timestamps; `describe` queries expect the
    catalog state instead."""

    cls: str
    text: str
    since: int | None = None
    until: int | None = None
    limit: tuple[str, int] | None = None
    expect_blocks: int = 0
    expect_range_s: tuple[int, int] = (0, 0)


@dataclass
class Op:
    query: Query
    ms: float = 0.0
    rows: int = 0
    digest: tuple[int, int] | None = None
    error: str | None = None


@dataclass
class Warehouse:
    engine: Engine
    db_dir: str
    first_ts: int
    last_ts: int
    blocks: int


def build_warehouse(spark, data_dir: str, seed: int, tracer) -> Warehouse:
    engine = Engine(spark, DBContext(data_dir=data_dir))
    store = engine.writable_store(METRICS, FIELD_TYPES)
    rng = np.random.default_rng([seed, 1])
    first = last = None
    for day in range(DAYS):
        pdf = fixtures.trades_day(rng, day, ROWS_PER_DAY)
        first = int(pdf.ts.iloc[0]) if first is None else first
        last = int(pdf.ts.iloc[-1])
        df = spark.createDataFrame(pdf, schema="ts long, f0 boolean, f1 double, f2 double")
        with tracer.span("ingest.persist_dataframe", f"setup-{day}"):
            store.persist_dataframe(df)
    return Warehouse(engine, engine.ctx.db_dir(None), first, last, DAYS)


# -- query generation -------------------------------------------------------


def mixed_query(cls: str, rng: np.random.Generator) -> Query:
    """A fresh query of class `cls` whose answer is never empty: every
    drawn bound leaves at least an hour (~800 rows) of the initial
    warehouse on the side the query reads, and stays an hour clear of
    its end, where the writes append."""
    sec = lambda lo, hi: EPOCH_START + int(rng.integers(lo, hi)) * NANOS_PER_SEC  # noqa: E731
    if cls == "range_1h":
        a = sec(0, SPAN_S - 3_600)
        return Query(cls, f"select * from trades where ts in ('{_lit(a)}', '{_lit(a + HOUR)}')", a, a + HOUR)
    if cls == "head_limit":
        t = sec(0, SPAN_S - 3_600)
        return Query(cls, f"select * from trades where ts >=|{LIMIT_N} '{_lit(t)}'", t, None, ("head", LIMIT_N))
    if cls == "tail_limit":
        t = sec(3_600, SPAN_S - 3_600)
        return Query(cls, f"select * from trades where ts <=|{LIMIT_N} '{_lit(t)}'", None, t + 1, ("tail", LIMIT_N))
    if cls == "eq_hour_jst":
        # a local midnight ('... 00:00') would widen `=` to the whole day
        idx = int(rng.integers(0, SPAN_S // 3_600 - 1))
        idx += (idx + 9) % 24 == 0
        h = EPOCH_START + idx * HOUR
        local = _lit(h + 9 * HOUR)[:16]
        return Query(cls, f"with tz = +09:00 select * from trades where ts = '{local}'", h, h + HOUR)
    assert cls == "describe"
    return Query(cls, "select * from .describe")


# -- answers and their checks -----------------------------------------------

_K = [np.uint64(k) for k in (0x9E3779B97F4A7C15, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9, 0xD6E8FEB86659FD93)]


def digest(ts: np.ndarray, f0: np.ndarray, f1: np.ndarray, f2: np.ndarray) -> tuple[int, int]:
    """(rows, order-insensitive checksum) of a trades answer."""
    with np.errstate(over="ignore"):
        h = (
            ts.astype(np.int64).view(np.uint64) * _K[0]
            ^ f0.astype(np.uint64) * _K[1]
            ^ np.ascontiguousarray(f1, dtype=np.float64).view(np.uint64) * _K[2]
            ^ np.ascontiguousarray(f2, dtype=np.float64).view(np.uint64) * _K[3]
        )
        h ^= h >> np.uint64(31)
        h *= _K[0]
        h ^= h >> np.uint64(29)
    return len(ts), int(h.sum(dtype=np.uint64))


def answer_digest(table: pa.Table) -> tuple[int, int]:
    ts = table.column("ts")
    if pa.types.is_string(ts.type):
        ts = pd.to_datetime(ts.to_pandas(), format="ISO8601", utc=True).astype("int64")
    cols = [np.asarray(c) for c in (ts, table.column("f0"), table.column("f1"), table.column("f2"))]
    return digest(*cols)


def expected_digest(con, block_dir: str, q: Query) -> tuple[int, int]:
    conds = []
    if q.since is not None:
        conds.append(f"ts >= {q.since}")
    if q.until is not None:
        conds.append(f"ts < {q.until}")
    base = (
        f"SELECT ts, f0, f1, f2 FROM read_parquet('{block_dir}/*/*.parquet') "
        f"WHERE {' AND '.join(conds)}"
    )
    sql = base
    if q.limit is not None:
        kind, n = q.limit
        agg, order, cmp = ("max", "ASC", "<=") if kind == "head" else ("min", "DESC", ">=")
        sql = f"""
WITH base AS ({base}),
thr AS (SELECT {agg}(e) AS t FROM (
    SELECT DISTINCT ts AS e FROM base ORDER BY e {order} LIMIT {n}))
SELECT base.* FROM base, thr WHERE base.ts {cmp} thr.t"""
    r = con.execute(sql).fetchnumpy()
    return digest(r["ts"], r["f0"], r["f1"], r["f2"])


def check_describe(table: pa.Table, q: Query) -> str | None:
    got = table.to_pylist()
    want = {"metrics": METRICS, "block_num": q.expect_blocks, "from": q.expect_range_s[0], "end": q.expect_range_s[1]}
    if len(got) != 1 or any(got[0].get(k) != v for k, v in want.items()):
        return f"describe answer {got} != {want}"
    return None


# -- the workload -----------------------------------------------------------


class TsdbRun:
    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.ops: list[Op] = []
        self.writes_ms: list[float] = []
        self.flight_ms: dict[str, list[float]] = {}
        self.chain_ms: dict[str, list[float]] = {}
        self.kept_ratio: list[float] = []
        self.result_bytes: list[int] = []
        self.chain_ops: list[tuple[str, str]] = []
        self.timed_writes: set[str] = set()
        self.writes_attempted = 0
        self.write_errors: list[str] = []
        self.op_seq = 0

    # setup ------------------------------------------------------------
    def setup(self) -> None:
        ctx = self.ctx
        self.wh = build_warehouse(self.spark, os.path.join(ctx.scratch, "zdb"), ctx.seed, self.tracer)
        self.store = self.wh.engine.writable_store(METRICS, FIELD_TYPES)
        self.executor = QueryExecutor(self.spark, self.wh.engine.ctx)
        self.server = ZikeiretsuFlightServer(self.wh.engine)
        self.rng = np.random.default_rng([ctx.seed, 3])
        # Spark's planner and code generation keep speeding up over the
        # first rounds; warm-up rounds keep that drift out of the timed
        # region
        for r in range(WARMUP_ROUNDS):
            for cls in MIXED_CLASSES:
                self.run_query(self.next_query(cls), timed=False)
            if r == 0:
                self.write(timed=False)

    def close(self) -> None:
        self.server.shutdown()

    def next_query(self, cls: str) -> Query:
        q = mixed_query(cls, self.rng)
        if cls == "describe":
            q.expect_blocks = self.wh.blocks
            q.expect_range_s = (self.wh.first_ts // NANOS_PER_SEC, self.wh.last_ts // NANOS_PER_SEC)
        return q

    # operations -------------------------------------------------------
    def run_query(self, q: Query, timed: bool, in_process: bool = False) -> None:
        op = Op(q)
        op_id = f"q{self.op_seq}"
        self.op_seq += 1
        if in_process:
            self.chain_ops.append((op_id, q.cls))
            if q.limit is not None:
                self.probe_manifest(q, op_id)
        t0 = time.perf_counter()
        try:
            if in_process:
                table = self.in_process(q, op_id)
            else:
                with self.tracer.span("flight.round_trip", op_id):
                    table, _ = execute_flight(self.server.location, q.text)
            op.ms = (time.perf_counter() - t0) * 1e3
            op.rows = table.num_rows
            if q.cls == "describe":
                op.error = check_describe(table, q)
            else:
                op.digest = answer_digest(table)
            if self.tracer.enabled and not in_process:
                self.result_bytes.append(table.nbytes)
        except Exception as e:  # a failed operation is counted, never skipped
            op.error = f"{type(e).__name__}: {e}"[:300]
        self.ops.append(op)
        if timed and op.error is None:
            (self.chain_ms if in_process else self.flight_ms).setdefault(q.cls, []).append(op.ms)

    def in_process(self, q: Query, op_id: str) -> pa.Table:
        """The chain `do_get` runs, called directly with a span and a
        Spark job group around each layer."""
        tr, sc = self.tracer, self.spark.sparkContext
        try:
            with tr.span("tsdb.query", op_id):
                with tr.span("parser.parse", op_id):
                    parsed = parse_query(q.text)
                with tr.span("analyzer.interpret", op_id):
                    iq = interpret(parsed, time.time_ns())
                sc.setJobGroup(f"{op_id}/plan", q.cls)
                with tr.span("translator.plan", op_id):
                    df = self.executor.run(iq)
                sc.setJobGroup(f"{op_id}/collect", q.cls)
                with tr.span("exec.collect", op_id):
                    pdf = df.toPandas()
                with tr.span("output.arrow_convert", op_id):
                    table = pa.Table.from_pandas(pdf, preserve_index=False)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        if table.num_rows == 0:
            raise LookupError("no data found")  # do_get answers NOT_FOUND here
        return table

    def probe_manifest(self, q: Query, op_id: str) -> None:
        """Manifest read plus the block selection a limit query makes:
        `Manifest.search`, then `prune_for_limit`."""
        with self.tracer.span("manifest.load", op_id):
            entries = Manifest(self.wh.db_dir, METRICS).load()
        cand = Manifest.search(entries, q.since, q.until)
        kept = Manifest.prune_for_limit(cand, q.limit[1], tail=q.limit[0] == "tail")
        self.kept_ratio.append(len(kept) / len(entries))

    def write(self, timed: bool) -> None:
        """push_multi + persist of WRITE_POINTS points one second apart,
        after the newest timestamp."""
        start = self.wh.last_ts + NANOS_PER_SEC
        r = self.rng.random(WRITE_POINTS)
        points = [
            DataPoint.new(start + i * NANOS_PER_SEC, bool(r[i] < 0.5), 30_000.0 + i, float(r[i]))
            for i in range(WRITE_POINTS)
        ]
        op_id = f"w{self.op_seq}"
        self.op_seq += 1
        t0 = time.perf_counter()
        with self.tracer.span("ingest.write", op_id):
            with self.tracer.span("ingest.push_multi", op_id):
                self.store.push_multi(points)
            if self.tracer.enabled:
                self.spark.sparkContext.setJobGroup(f"{op_id}/persist", "persist")
            with self.tracer.span("ingest.persist", op_id):
                self.store.persist()
            if self.tracer.enabled:
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        ms = (time.perf_counter() - t0) * 1e3
        self.wh.last_ts = start + (WRITE_POINTS - 1) * NANOS_PER_SEC
        self.wh.blocks += 1
        if timed:
            self.writes_ms.append(ms)
            self.timed_writes.add(op_id)

    def measure(self, seconds: float) -> None:
        """Closed loop of whole rounds over the query classes until
        `seconds` have elapsed, so every class is sampled equally. In the
        traced run rounds alternate between Flight round trips and the
        traced in-process chain."""
        k = rounds = 0
        self.first_timed_op = len(self.ops)
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds:
            in_process = self.tracer.enabled and rounds % 2 == 1
            rounds += 1
            for cls in MIXED_CLASSES:
                k += 1
                if k % WRITE_EVERY == 0:
                    self.writes_attempted += 1
                    try:
                        self.write(timed=True)
                    except Exception as e:  # a failed operation is counted, never skipped
                        self.write_errors.append(f"write: {type(e).__name__}: {e}"[:300])
                self.run_query(self.next_query(cls), timed=True, in_process=in_process)

    # results ----------------------------------------------------------
    def check(self) -> None:
        """Compare every data answer with DuckDB over the final
        warehouse. Appended blocks lie after every queried range, so
        the final files answer each query as it stood when it ran."""
        block_dir = os.path.join(self.wh.db_dir, "block", METRICS)
        con = duckdb.connect()
        try:
            expected: dict[str, tuple[int, int]] = {}
            for op in self.ops:
                if op.error is not None or op.digest is None:
                    continue
                q = op.query
                if q.text not in expected:
                    expected[q.text] = expected_digest(con, block_dir, q)
                if op.digest != expected[q.text]:
                    op.error = f"answer {op.digest} != duckdb {expected[q.text]} for {q.text}"
        finally:
            con.close()

    def outcome(self) -> tuple[int, list[str]]:
        errors = [op.error for op in self.ops if op.error is not None]
        return len(self.ops) + self.writes_attempted, errors + self.write_errors

    def storage(self) -> dict[str, float]:
        user_bytes = 0
        for e in Manifest(self.wh.db_dir, METRICS).load():
            user_bytes += e.rows * USER_BYTES_PER_ROW
        block_bytes = block_files = total_bytes = 0
        for root, _, files in os.walk(self.wh.db_dir):
            for f in files:
                size = os.path.getsize(os.path.join(root, f))
                total_bytes += size
                if f.endswith(".parquet"):
                    block_bytes += size
                    block_files += 1
        return {
            "stored_bytes_per_user_byte": total_bytes / user_bytes,
            "block_bytes_per_user_byte": block_bytes / user_bytes,
            "files_per_persist": block_files / self.wh.blocks,
        }

    def end_to_end(self, setup_s: float, rss_mb: float) -> tuple[dict, dict]:
        samples = [ms for v in self.flight_ms.values() for ms in v]
        rows = sum(op.rows for op in self.ops[self.first_timed_op:] if op.error is None)
        tail_ms, beyond = p90(samples)
        classes = dict(self.flight_ms)
        if self.writes_ms:
            classes["write"] = self.writes_ms
        metrics = {
            "setup_s": setup_s,
            "query_p50_ms": class_median_mean(self.flight_ms),
            "query_tail_ms": tail_ms,
            "rows_per_s": rows / (sum(samples) / 1e3) if samples else 0.0,
            "batch_wall_s": class_median_sum(classes) / 1e3,
            "peak_rss_mb": rss_mb,
        }
        extra = {
            "query_samples": len(samples),
            "query_samples_beyond_p90": beyond,
            "persist_p50_ms": median(self.writes_ms),
            "persist_samples": len(self.writes_ms),
            "class_p50_ms": {c: round(median(v), 2) for c, v in classes.items()},
            **self.storage(),
        }
        return metrics, extra

    def per_layer(self, groups: dict[str, GroupCounters]) -> dict[str, float]:
        self_ms: dict[str, list[float]] = {}
        for s, ms in self.tracer.self_ms():
            if s.name.startswith("ingest.") and s.op.startswith("w") and s.op not in self.timed_writes:
                continue  # the warm-up write is set-up
            self_ms.setdefault(s.name, []).append(ms)
        med = lambda name: median(self_ms.get(name, []))  # noqa: E731
        none = GroupCounters()
        plan = [groups.get(f"{o}/plan", none) for o, _ in self.chain_ops]
        coll = [groups.get(f"{o}/collect", none) for o, _ in self.chain_ops]
        data = [(p, c) for (_, cls), p, c in zip(self.chain_ops, plan, coll) if cls != "describe"]
        files = [p.files_read + c.files_read for p, c in data]
        both = [c for c in self.flight_ms if c in self.chain_ms]
        storage = self.storage()
        writes = {"write": self.writes_ms} if self.writes_ms else {}
        return {
            "ingest.push_multi_ms": med("ingest.push_multi"),
            "ingest.persist_ms": med("ingest.persist"),
            "ingest.persist_dataframe_ms": med("ingest.persist_dataframe"),
            "ingest.files_per_persist": storage["files_per_persist"],
            "ingest.bytes_per_user_byte": storage["block_bytes_per_user_byte"],
            "manifest.load_ms": med("manifest.load"),
            "manifest.blocks_kept_ratio": mean(self.kept_ratio),
            "parser.parse_ms": med("parser.parse"),
            "analyzer.interpret_ms": med("analyzer.interpret"),
            "translator.plan_ms": med("translator.plan"),
            "translator.plan_spark_jobs": mean([p.jobs for p in plan]),
            "exec.collect_ms": med("exec.collect"),
            "exec.spark_jobs": mean([c.jobs for c in coll]),
            "exec.tasks": mean([c.tasks for c in coll]),
            "exec.input_bytes": mean([c.input_bytes for _, c in data]),
            "exec.files_read": mean(files),
            "scan_cache.hit_ratio": mean([1.0 if f == 0 else 0.0 for f in files]),
            "output.arrow_convert_ms": med("output.arrow_convert"),
            "flight.overhead_ms": mean(
                [median(self.flight_ms[c]) - median(self.chain_ms[c]) for c in both]
            ),
            "flight.result_bytes": mean(self.result_bytes),
            "trace.batch_wall_s": class_median_sum({**self.flight_ms, **writes}) / 1e3,
        }
