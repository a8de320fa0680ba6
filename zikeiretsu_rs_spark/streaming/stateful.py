"""Custom stateful streaming operators via applyInPandasWithState.

`session_window` + aggregate covers fixed-gap sessions; this module is
the template for stateful logic Spark has no built-in for: arbitrary
per-key state machines with explicit emit/keep decisions. State lives
in the state store (RocksDB-able via config), keyed by the groupBy
key, and crosses micro-batch boundaries — the Spark-native replacement
for the reference's long-lived in-memory WritableStore buffer
(store/writable_store/mod.rs:131-208), with durability from
checkpointing instead of the WAL.

Timeouts are EVENT-time (watermark-driven), not processing-time:
event-time timeouts are deterministic under replay/retry (the same
input stream always produces the same sessions), which is the only
sane contract for a 100 TB pipeline; processing-time timeouts are
wall-clock-dependent and additionally keep scheduling no-data cleanup
triggers, which never quiesces under processAllAvailable.

Scale notes: state is sharded by key hash across
`spark.sql.shuffle.partitions` state-store partitions; per-key state
here is O(1) (one open session tuple). Batches stream through the
Python worker as Arrow frames (pandas), never a whole partition at
once. The input iterator is always drained — the Arrow protocol
requires it.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..datamodel import nanos_to_timestamp

SESSION_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("session_start", T.LongType(), False),  # epoch nanos
        T.StructField("session_end", T.LongType(), False),
        T.StructField("n_events", T.LongType(), False),
        T.StructField("closed_by", T.StringType(), False),  # gap | timeout
    ]
)

SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("session_start", T.LongType(), False),
        T.StructField("last_ts", T.LongType(), False),
        T.StructField("n_events", T.LongType(), False),
    ]
)


def _make_session_fn(gap_nanos: int):
    gap_ms = gap_nanos // 1_000_000

    def update(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        closed: list[tuple[int, int, int, str]] = []

        if state.hasTimedOut:
            for _ in pdfs:  # drain — required by the Arrow protocol
                pass
            start, last, n = state.get
            closed.append((start, last, n, "timeout"))
            state.remove()
        else:
            ts_all = sorted(
                int(t) for pdf in pdfs for t in pdf["ts"].tolist()
            )
            if state.exists:
                start, last, n = state.get
            else:
                start = last = n = None
            for ts in ts_all:
                if start is None:
                    start, last, n = ts, ts, 1
                elif ts - last > gap_nanos:
                    closed.append((start, last, n, "gap"))
                    start, last, n = ts, ts, 1
                else:
                    last = max(last, ts)
                    n += 1
            if start is not None:
                state.update((start, last, n))
                # close when the event-time watermark passes
                # last_ts + gap (must stay above the current watermark)
                state.setTimeoutTimestamp(
                    max(
                        last // 1_000_000 + gap_ms,
                        state.getCurrentWatermarkMs() + 1,
                    )
                )

        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(closed),
                    "session_start": [c[0] for c in closed],
                    "session_end": [c[1] for c in closed],
                    "n_events": [c[2] for c in closed],
                    "closed_by": [c[3] for c in closed],
                }
            )

    return update


def stateful_sessionize(
    stream_df: DataFrame,
    gap_nanos: int,
    watermark: str = "0 seconds",
    user_col: str = "user_id",
) -> DataFrame:
    """Incremental sessionization on the LongType nano spine with
    explicit state: emits a row per CLOSED session — closed either by
    a follow-up event beyond the gap, or by the event-time watermark
    passing last_ts + gap (so sessions close without needing another
    event from the same user). Unlike `F.session_window` this keeps
    the nano spine in the output, reports the close reason, and is the
    template for richer per-key state machines (running aggregates,
    CEP-ish patterns, streaming dedup with TTL).

    Input schema: (user_col long, ts long nanos). Output:
    SESSION_OUTPUT_SCHEMA. `watermark` is the lateness bound on the
    derived event-time column.
    """
    with_et = stream_df.select(user_col, "ts").withColumn(
        "_et", nanos_to_timestamp(F.col("ts"))
    )
    return (
        with_et.withWatermark("_et", watermark)
        .groupBy(user_col)
        .applyInPandasWithState(
            _make_session_fn(gap_nanos),
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


DEDUP_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("fingerprint", T.LongType(), False),
        T.StructField("ts", T.LongType(), False),  # first-seen event time
        T.StructField("n_dups_so_far", T.LongType(), False),
    ]
)

DEDUP_STATE_SCHEMA = T.StructType(
    [
        T.StructField("first_ts", T.LongType(), False),
        T.StructField("n_seen", T.LongType(), False),
    ]
)


def _make_dedup_fn(ttl_nanos: int):
    ttl_ms = ttl_nanos // 1_000_000

    def update(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (fingerprint,) = key
        if state.hasTimedOut:
            for _ in pdfs:  # drain — required by the Arrow protocol
                pass
            state.remove()  # TTL expired: forget, bounding state size
            return
        ts_all = sorted(int(t) for pdf in pdfs for t in pdf["ts"].tolist())
        if not ts_all:
            return
        if state.exists:
            first_ts, n_seen = state.get
            state.update((first_ts, n_seen + len(ts_all)))
            emit = None  # duplicate: suppressed
        else:
            first_ts = ts_all[0]
            state.update((first_ts, len(ts_all)))
            emit = first_ts
        state.setTimeoutTimestamp(
            max(
                ts_all[-1] // 1_000_000 + ttl_ms,
                state.getCurrentWatermarkMs() + 1,
            )
        )
        if emit is not None:
            yield pd.DataFrame(
                {
                    "fingerprint": [fingerprint],
                    "ts": [emit],
                    "n_dups_so_far": [len(ts_all)],
                }
            )

    return update


def stateful_dedup_first_seen(
    stream_df: DataFrame,
    ttl_nanos: int,
    fingerprint_col: str = "fingerprint",
) -> DataFrame:
    """Streaming exact dedup with TTL: emit each fingerprint the FIRST
    time it is seen; suppress repeats until the event-time watermark
    passes last_seen + ttl, at which point the fingerprint is forgotten
    (so state stays bounded — the requirement that makes streaming
    dedup viable at 100 TB/day, unlike `dropDuplicates` on an unbounded
    stream whose state grows forever without a watermark).

    Input schema: (fingerprint_col long — e.g. xxhash64 of the content,
    ts long nanos). Output: DEDUP_OUTPUT_SCHEMA.
    """
    with_et = stream_df.select(
        F.col(fingerprint_col).alias("fingerprint"), "ts"
    ).withColumn("_et", nanos_to_timestamp(F.col("ts")))
    return (
        with_et.withWatermark("_et", "0 seconds")
        .groupBy("fingerprint")
        .applyInPandasWithState(
            _make_dedup_fn(ttl_nanos),
            outputStructType=DEDUP_OUTPUT_SCHEMA,
            stateStructType=DEDUP_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


HH_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.LongType(), False),
        T.StructField("item", T.StringType(), True),
        T.StructField("est", T.LongType(), False),
        T.StructField("bdelta", T.LongType(), False),
        T.StructField("batch_seq", T.LongType(), False),
    ]
)

HH_STATE_SCHEMA = T.StructType(
    [
        T.StructField("items", T.ArrayType(T.StringType()), False),
        T.StructField("counts", T.ArrayType(T.LongType()), False),
        T.StructField("delta", T.LongType(), False),
        T.StructField("seq", T.LongType(), False),
    ]
)


def _make_heavy_fn(capacity: int):
    def update(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (bucket,) = key
        if state.exists:
            items, counts, delta, seq = state.get
            counters = dict(zip(items, counts))
        else:
            counters, delta, seq = {}, 0, 0
        for pdf in pdfs:
            vc = pdf["item"].dropna().value_counts()
            for item, cnt in vc.items():
                counters[item] = counters.get(item, 0) + int(cnt)
            if len(counters) > capacity:
                cut = sorted(counters.values(), reverse=True)[capacity]
                delta += cut
                counters = {
                    k: v - cut for k, v in counters.items() if v > cut
                }
        seq += 1
        state.update((list(counters), list(counters.values()), delta, seq))
        items_now = list(counters)
        yield pd.DataFrame(
            {
                "bucket": [bucket] * (len(items_now) or 1),
                "item": items_now or [None],
                "est": [counters[i] for i in items_now] or [0],
                "bdelta": [delta] * (len(items_now) or 1),
                "batch_seq": [seq] * (len(items_now) or 1),
            }
        )

    return update


def streaming_heavy_hitters(
    stream_df: DataFrame,
    item_col: str,
    capacity: int = 64,
    n_buckets: int = 16,
) -> DataFrame:
    """Cross-batch heavy hitters: items shard by hash into `n_buckets`
    state buckets (each item lives in exactly ONE bucket, so no
    cross-bucket merge is ever needed); each bucket keeps a
    Misra-Gries summary of at most `capacity` counters in the state
    store, updated per micro-batch with the same mergeable batch rule
    as the batch operator (`operators.sketches.space_saving_summary`).

    Per-bucket invariants after any number of batches (theorems, any
    batch boundaries — replay/retry-stable):
      est(i) <= true(i) <= est(i) + bdelta(bucket(i))
      true(i) > bdelta(bucket(i))  =>  i is in the emitted summary

    Output ("update" semantics): each batch re-emits the bucket's
    CURRENT summary rows (item NULL when the bucket tracks nothing)
    tagged with batch_seq — downstream takes the latest batch_seq per
    bucket. State is bounded at n_buckets * capacity counters total.

    Input: any schema containing `item_col` (cast to string).
    """
    src = stream_df.select(
        F.col(item_col).cast("string").alias("item"),
        F.pmod(F.xxhash64(F.col(item_col).cast("string")), F.lit(n_buckets))
        .cast("long")
        .alias("bucket"),
    )
    return src.groupBy("bucket").applyInPandasWithState(
        _make_heavy_fn(capacity),
        outputStructType=HH_OUTPUT_SCHEMA,
        stateStructType=HH_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


CMS_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("j", T.IntegerType(), False),
        T.StructField("bucket", T.LongType(), False),
        T.StructField("cnt", T.LongType(), False),
        T.StructField("batch_seq", T.LongType(), False),
    ]
)

CMS_STATE_SCHEMA = T.StructType(
    [
        T.StructField("cnt", T.LongType(), False),
        T.StructField("seq", T.LongType(), False),
    ]
)


def _make_cms_fn():
    def update(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        j, bucket = key
        if state.exists:
            cnt, seq = state.get
        else:
            cnt, seq = 0, 0
        for pdf in pdfs:
            cnt += int(pdf["w"].sum())
        seq += 1
        state.update((cnt, seq))
        yield pd.DataFrame(
            {
                "j": [j],
                "bucket": [bucket],
                "cnt": [cnt],
                "batch_seq": [seq],
            }
        )

    return update


def streaming_cms(
    stream_df: DataFrame,
    item_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Cross-batch Count-Min sketch: each of the depth*width cells is
    an independent state-store counter keyed by (j, bucket) — cells
    add, so after ANY batch boundaries the state equals
    `sketches.cms_build` over the concatenated stream (exact
    equivalence, pinned in tests; replay/retry-stable because
    addition commutes). The hash rows are the same md5 arithmetic as
    the batch operator, so a batch-built sketch and a stream-built
    sketch are interchangeable artifacts.

    State is bounded at depth*width counters TOTAL, independent of
    stream length and item cardinality — the streaming answer to
    "term frequencies over an unbounded corpus feed".

    Output ("update" semantics): every touched cell re-emits its
    CURRENT count tagged with the cell's batch_seq; downstream keeps
    the latest (j, bucket, batch_seq) row per cell, unioning with
    zero for never-touched cells.
    """
    src = stream_df.select(
        F.col(item_col).cast("string").alias("item")
    ).withColumn("j", F.explode(F.expr(f"sequence(0, {depth - 1})")))
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("cms"),
                        F.col("j").cast("string"),
                        F.lit(":"),
                        F.col("item"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % width
    )
    cells = src.select(
        F.col("j").cast("int").alias("j"),
        bucket.alias("bucket"),
        F.lit(1).cast("long").alias("w"),
    )
    return cells.groupBy("j", "bucket").applyInPandasWithState(
        _make_cms_fn(),
        outputStructType=CMS_OUTPUT_SCHEMA,
        stateStructType=CMS_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
