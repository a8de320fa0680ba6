"""applyInPandasWithState sessionization: state must survive across
micro-batches, close sessions on in-stream gaps AND on event-time
watermark timeouts."""

import glob
import os
import shutil

from pyspark.sql import types as T

from zikeiretsu_rs_spark.datetime_util import NANOS_PER_SEC
from zikeiretsu_rs_spark.streaming.stateful import stateful_sessionize

from test_datetime_util import nanos

SCHEMA = T.StructType(
    [
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
    ]
)


def _write_flat(spark, tmp_path, name, rows):
    """One flat parquet FILE per micro-batch (maxFilesPerTrigger=1)."""
    stage = str(tmp_path / f"stage_{name}")
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(stage)
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    shutil.copy(glob.glob(f"{stage}/part-*.parquet")[0], f"{src}/{name}.parquet")
    return src


def test_sessions_close_by_gap_and_watermark(spark, tmp_path):
    base = nanos(2024, 1, 1)
    gap = 60 * NANOS_PER_SEC

    # batch 1: user 1 -> open session of 2 events; user 2 -> 1 event
    _write_flat(
        spark, tmp_path, "b1",
        [(base, 1), (base + 10 * NANOS_PER_SEC, 1), (base + 5 * NANOS_PER_SEC, 2)],
    )
    # batch 2: user 1 events past the gap -> closes batch-1 session
    # (close reason "gap"); also advances the watermark to +301s, so
    # user 2's idle session (timeout at +65s) closes by "timeout"
    src = _write_flat(
        spark, tmp_path, "b2",
        [(base + 300 * NANOS_PER_SEC, 1), (base + 301 * NANOS_PER_SEC, 1)],
    )

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = stateful_sessionize(stream, gap_nanos=gap)
    q = (
        out.writeStream.format("memory")
        .queryName("closed_sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    rows = {
        r["user_id"]: r
        for r in spark.sql("select * from closed_sessions").collect()
    }
    # user 1: first session closed by the in-stream gap
    assert rows[1]["session_start"] == base
    assert rows[1]["session_end"] == base + 10 * NANOS_PER_SEC
    assert rows[1]["n_events"] == 2
    assert rows[1]["closed_by"] == "gap"
    # user 2: closed by the watermark passing last_ts + gap
    assert rows[2]["session_start"] == base + 5 * NANOS_PER_SEC
    assert rows[2]["n_events"] == 1
    assert rows[2]["closed_by"] == "timeout"
    # user 1's second session (ends at +301s) is still open: the
    # watermark never passed +361s
    assert len(rows) == 2


def test_watermark_floors_a_ts_1ns_before_a_window_boundary(spark, tmp_path):
    """The event-time column floors nanos to the microsecond. User 2's
    session times out once the watermark passes T ms; an event 1 ns
    before the boundary T+1 ms holds the watermark at T and the session
    stays open (rounded up onto the boundary, it closed the session a
    batch early); the event at the boundary closes it."""
    base = nanos(2024, 1, 1)
    gap = 60 * NANOS_PER_SEC
    timeout_ms = (base + 5 * NANOS_PER_SEC) // 1_000_000 + gap // 1_000_000
    boundary = (timeout_ms + 1) * 1_000_000
    _write_flat(spark, tmp_path, "b1", [(base + 5 * NANOS_PER_SEC, 2)])
    src = _write_flat(spark, tmp_path, "b2", [(boundary - 1, 1)])

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stateful_sessionize(stream, gap_nanos=gap)
        .writeStream.format("memory")
        .queryName("boundary_sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )

    def closed():
        return {
            r["user_id"]: r["closed_by"]
            for r in spark.sql("select * from boundary_sessions").collect()
        }

    try:
        q.processAllAvailable()
        assert closed() == {}
        _write_flat(spark, tmp_path, "b3", [(boundary, 1)])
        q.processAllAvailable()
        assert closed() == {2: "timeout"}
    finally:
        q.stop()


def test_streaming_dedup_first_seen_with_ttl(spark, tmp_path):
    from zikeiretsu_rs_spark.streaming.stateful import stateful_dedup_first_seen

    base = nanos(2024, 6, 1)
    ttl = 60 * NANOS_PER_SEC
    dedup_schema = T.StructType(
        [
            T.StructField("ts", T.LongType()),
            T.StructField("fingerprint", T.LongType()),
        ]
    )

    import glob as g
    import os as o
    import shutil as sh

    src = str(tmp_path / "dsrc")
    o.makedirs(src)

    def write(name, rows):
        stage = str(tmp_path / f"dstage_{name}")
        spark.createDataFrame(rows, dedup_schema).coalesce(1).write.parquet(stage)
        sh.copy(g.glob(f"{stage}/part-*.parquet")[0], f"{src}/{name}.parquet")

    # batch 1: fp 100 twice (one emit), fp 200 once
    write("b1", [(base, 100), (base + NANOS_PER_SEC, 100), (base + 2 * NANOS_PER_SEC, 200)])
    # batch 2: fp 100 again within TTL -> suppressed (state crossed
    # batches); fp 300 new -> emitted. Advances watermark far past
    # fp 200's TTL, evicting it.
    write("b2", [(base + 10 * NANOS_PER_SEC, 100), (base + 500 * NANOS_PER_SEC, 300)])
    # batch 3: unrelated fp 400 — fp 200 gets NO data this batch, so
    # its expired timeout fires (keys with fresh input never get the
    # timeout call) and its state is evicted
    write("b3", [(base + 550 * NANOS_PER_SEC, 400)])
    # batch 4: fp 200 after eviction -> re-emitted as first-seen
    write("b4", [(base + 600 * NANOS_PER_SEC, 200)])

    stream = (
        spark.readStream.schema(dedup_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = stateful_dedup_first_seen(stream, ttl_nanos=ttl)
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "dckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    rows = sorted(
        (r["fingerprint"], r["ts"])
        for r in spark.sql("select * from dedup_out").collect()
    )
    assert rows == [
        (100, base),                         # first seen once, dups suppressed
        (200, base + 2 * NANOS_PER_SEC),     # original first-seen
        (200, base + 600 * NANOS_PER_SEC),   # re-emitted after TTL eviction
        (300, base + 500 * NANOS_PER_SEC),
        (400, base + 550 * NANOS_PER_SEC),
    ]


def test_streaming_url_dedup_composition(spark, tmp_path):
    """Composability proof: streaming URL-level dedup = canonical_url
    -> xxhash64 fingerprint -> TTL first-seen state machine. Variants
    of the same page (tracking params, case, trailing slash) arriving
    in LATER micro-batches are suppressed; genuinely new URLs emit."""
    import glob as g
    import os as o
    import shutil as sh

    from pyspark.sql import functions as F

    from zikeiretsu_rs_spark.operators.urls import canonical_url
    from zikeiretsu_rs_spark.streaming.stateful import stateful_dedup_first_seen

    base = nanos(2024, 6, 1)
    url_schema = T.StructType(
        [
            T.StructField("ts", T.LongType()),
            T.StructField("url", T.StringType()),
        ]
    )
    src = str(tmp_path / "usrc")
    o.makedirs(src)

    def write(name, rows):
        stage = str(tmp_path / f"ustage_{name}")
        spark.createDataFrame(rows, url_schema).coalesce(1).write.parquet(stage)
        sh.copy(g.glob(f"{stage}/part-*.parquet")[0], f"{src}/{name}.parquet")

    write("b1", [(base, "http://h.com/page"), (base + 1, "http://h.com/other")])
    # batch 2: the SAME page under tracking/case/slash variants + one new
    write(
        "b2",
        [
            (base + 2 * NANOS_PER_SEC, "HTTP://H.COM/page/"),
            (base + 3 * NANOS_PER_SEC, "http://h.com/page?utm_source=x"),
            (base + 4 * NANOS_PER_SEC, "http://h.com/fresh"),
        ],
    )

    stream = (
        spark.readStream.schema(url_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .select(
            "ts", F.xxhash64(canonical_url(F.col("url"))).alias("fingerprint")
        )
    )
    out = stateful_dedup_first_seen(stream, ttl_nanos=3600 * NANOS_PER_SEC)
    q = (
        out.writeStream.format("memory")
        .queryName("url_dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "uckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    rows = spark.sql("select * from url_dedup_out").collect()
    # exactly 3 first-seen emissions: page, other, fresh — the two
    # batch-2 variants of /page are suppressed by cross-batch state
    assert len(rows) == 3
    emitted_ts = sorted(r["ts"] for r in rows)
    assert emitted_ts == [base, base + 1, base + 4 * NANOS_PER_SEC]


def test_streaming_heavy_hitters_cross_batch(spark, tmp_path):
    """MG state must accumulate across micro-batches: the per-bucket
    bound and completeness theorems hold for the CONCATENATED stream,
    not just the last batch."""
    import collections

    from pyspark.sql import functions as F
    from zikeiretsu_rs_spark.streaming.stateful import streaming_heavy_hitters

    item_schema = T.StructType([T.StructField("item", T.StringType())])

    def write_items(name, items):
        stage = str(tmp_path / f"stage_{name}")
        spark.createDataFrame([(x,) for x in items], item_schema).coalesce(
            1
        ).write.parquet(stage)
        src = str(tmp_path / "hh_src")
        os.makedirs(src, exist_ok=True)
        shutil.copy(
            glob.glob(f"{stage}/part-*.parquet")[0], f"{src}/{name}.parquet"
        )
        return src

    b1 = ["hot"] * 50 + [f"t{i}" for i in range(40)]
    b2 = ["hot"] * 30 + ["warm"] * 25 + [f"u{i}" for i in range(40)]
    write_items("b1", b1)
    src = write_items("b2", b2)

    stream = (
        spark.readStream.schema(item_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = streaming_heavy_hitters(stream, "item", capacity=8, n_buckets=4)
    q = (
        out.writeStream.format("memory")
        .queryName("hh_stream")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "hh_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    rows = spark.sql("select * from hh_stream").collect()
    # keep only each bucket's LATEST summary (update semantics)
    latest = {}
    for r in rows:
        if (
            r["bucket"] not in latest
            or r["batch_seq"] > latest[r["bucket"]][0]["batch_seq"]
        ):
            latest[r["bucket"]] = [r]
        elif r["batch_seq"] == latest[r["bucket"]][0]["batch_seq"]:
            latest[r["bucket"]].append(r)

    # reconstruct the per-bucket summaries
    bucket_of = {
        r["item"]: r["bucket"]
        for r in spark.createDataFrame(
            [(x,) for x in set(b1 + b2)], item_schema
        )
        .select(
            "item",
            F.pmod(F.xxhash64(F.col("item")), F.lit(4)).cast("long").alias(
                "bucket"
            ),
        )
        .collect()
    }
    true = collections.Counter(b1 + b2)
    est = {}
    bdelta = {}
    for b, rs in latest.items():
        bdelta[b] = rs[0]["bdelta"]
        for r in rs:
            if r["item"] is not None:
                est[r["item"]] = r["est"]

    for item, cnt in true.items():
        b = bucket_of[item]
        d = bdelta.get(b, 0)
        if item in est:
            assert est[item] <= cnt <= est[item] + d, (item, est[item], cnt, d)
        else:
            assert cnt <= d, (item, cnt, d)
    # "hot" spans both batches (50 + 30): far above any bucket's
    # delta, so the cross-batch state MUST report it
    assert "hot" in est and est["hot"] <= 80
    # a single batch alone would cap hot's estimate at 50; the state
    # carrying over means the estimate exceeds that
    assert est["hot"] > 50 - bdelta[bucket_of["hot"]]


def test_streaming_cms_equals_batch_sketch(spark, tmp_path):
    """Cross-batch CMS state must equal the batch-built sketch over
    the concatenated stream — cells add, so the equivalence is EXACT
    for any batch boundaries."""
    from pyspark.sql import functions as F
    from zikeiretsu_rs_spark.operators.sketches import cms_build
    from zikeiretsu_rs_spark.streaming.stateful import streaming_cms

    item_schema = T.StructType([T.StructField("item", T.StringType())])

    def write_items(name, items):
        stage = str(tmp_path / f"stage_{name}")
        spark.createDataFrame([(x,) for x in items], item_schema).coalesce(
            1
        ).write.parquet(stage)
        src = str(tmp_path / "cms_src")
        os.makedirs(src, exist_ok=True)
        shutil.copy(
            glob.glob(f"{stage}/part-*.parquet")[0], f"{src}/{name}.parquet"
        )
        return src

    b1 = ["hot"] * 20 + [f"t{i}" for i in range(15)]
    b2 = ["hot"] * 10 + ["warm"] * 9 + [f"t{i}" for i in range(10)]
    write_items("b1", b1)
    src = write_items("b2", b2)

    stream = (
        spark.readStream.schema(item_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = streaming_cms(stream, "item", depth=3, width=32)
    q = (
        out.writeStream.format("memory")
        .queryName("cms_stream")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "cms_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    rows = spark.sql("select * from cms_stream").collect()
    latest = {}
    for r in rows:
        k = (r["j"], r["bucket"])
        if k not in latest or r["batch_seq"] > latest[k]["batch_seq"]:
            latest[k] = r
    stream_cells = {k: v["cnt"] for k, v in latest.items()}

    full = spark.createDataFrame([(x,) for x in b1 + b2], item_schema)
    batch_cells = {
        (r["j"], r["bucket"]): r["cnt"]
        for r in cms_build(full, "item", depth=3, width=32).collect()
    }
    assert stream_cells == batch_cells
    # and at least one cell was updated in both batches
    assert any(r["batch_seq"] == 2 for r in latest.values())
