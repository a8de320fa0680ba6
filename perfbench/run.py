"""Benchmark entry point: runs one workload and prints one JSON result.

    python3 perfbench/run.py --workload tsdb_mixed --seed 1 --seconds 16 --trace 0

Run it from the repository root. It imports the engine from that
checkout (and refuses to run without it), starts Spark local[N] with
N = min(4, cores) in this process, sets up the workload, measures for
`--seconds`, checks every answer, and prints as its last stdout line
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end metrics of BENCHMARK.json; with `--trace 1`
Spark's event log is on, spans are recorded around each layer call, and
the metrics are the per-layer metrics. A summary line with further
detail (sample counts, persist latency, storage
ratios) precedes the result. Spans are written to
perfbench/out/spans-<workload>-<seed>.jsonl.

All scratch state (Spark local dirs, warehouse, corpus, event log)
lives in a temporary directory under the checkout that is removed on
exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("tsdb_mixed", "pipeline_batch")
# per-layer metrics each workload measures; the rest read 0 there
LAYERS = {
    "tsdb_mixed": ("session.", "ingest.", "manifest.", "parser.", "analyzer.",
                   "translator.", "exec.", "scan_cache.", "output.", "flight.", "trace."),
    "pipeline_batch": ("session.", "operators.", "trace."),
}


class Context:
    def __init__(self, spark, scratch: str, seed: int, tracer):
        self.spark = spark
        self.scratch = scratch
        self.seed = seed
        self.tracer = tracer


def start_spark(scratch: str, trace: bool):
    from zikeiretsu_rs_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(scratch, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(scratch, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms2g -Djava.io.tmpdir={scratch} -Dderby.system.home={scratch}",
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(scratch, "eventlog")
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{log_dir}",
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark(
        app_name="perfbench", cpus=min(4, os.cpu_count() or 1),
        shuffle_partitions=4, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


def run(workload: str, seed: int, seconds: float, trace: bool, scratch: str) -> dict:
    import eventlog
    import stats
    from spans import Tracer

    tracer = Tracer(trace)
    t0 = time.perf_counter()
    with tracer.span("session.start", "setup"):
        spark = start_spark(scratch, trace)
    try:
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        ctx = Context(spark, scratch, seed, tracer)
        if workload == "pipeline_batch":
            from pipeline import PipelineRun

            w = PipelineRun(ctx)
        else:
            from tsdb import TsdbRun

            w = TsdbRun(ctx)
        try:
            w.setup()
            setup_s = time.perf_counter() - t0
            w.measure(seconds)
            rss_mb = stats.peak_rss_mb(jvm_pid)
            w.check()
        finally:
            w.close()
    finally:
        stop_spark(spark)
    attempted, errors = w.outcome()
    e2e, extra = w.end_to_end(setup_s, rss_mb)
    extra["ops_failed_ratio"] = len(errors) / attempted
    extra["errors"] = errors[:5]
    if not trace:
        return {"values": e2e, "summary": {**e2e, **extra}, "attempted": attempted, "failed": len(errors)}
    groups = eventlog.fold(eventlog.read_events(os.path.join(scratch, "eventlog")))
    layer = w.per_layer(groups)
    layer["session.start_ms"] = stats.median(
        [(s.end_ns - s.start_ns) / 1e6 for s in tracer.spans if s.name == "session.start"]
    )
    layer["trace.spans"] = len(tracer.spans)
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    tracer.write(os.path.join(out_dir, f"spans-{workload}-{seed}.jsonl"))
    return {"values": layer, "summary": {**layer, **extra}, "attempted": attempted, "failed": len(errors)}


def result_line(spec: dict, workload: str, trace: bool, r: dict) -> dict:
    wanted = spec["per_layer" if trace else "end_to_end"]
    covered = LAYERS[workload] if trace else ("",)
    metrics = {}
    for m in wanted:
        name = m["name"]
        if name in r["values"]:
            value = r["values"][name]
        elif not name.startswith(covered):
            value = 0
        else:
            raise KeyError(f"{workload} did not measure {name}")
        metrics[name] = {"value": value, "unit": m["unit"]}
    return {
        "correct": r["failed"] == 0,
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import zikeiretsu_rs_spark
    except ImportError as e:
        print(f"perfbench: no engine package in {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(zikeiretsu_rs_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: engine imported from outside {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    scratch = tempfile.mkdtemp(prefix=".perfbench-", dir=ROOT)
    os.environ["TMPDIR"] = scratch
    # no hsperfdata files in the system temp dir from the launcher or driver JVM
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    tempfile.tempdir = scratch
    try:
        r = run(args.workload, args.seed, args.seconds, bool(args.trace), scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    line = result_line(spec, args.workload, bool(args.trace), r)
    print("summary " + json.dumps(r["summary"], sort_keys=True))
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
