#!/usr/bin/env python3
"""Warehouse benchmark: one seeded workload against the package's public
functions on ``local[nproc]``, outputs checked against DuckDB.

    python3 perfbench/run.py --workload rt_pipeline --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It prints a human-readable report,
then, as the last line of stdout, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
It exits non-zero, printing no result, when a correctness check fails or
the package is missing. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "flink_real_time_data_warehouse_spark"
WORKLOADS = ("dws_batch", "rt_pipeline", "serve_mixed")
DRIVER_MEMORY = "1g"

E2E = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
    "throughput": "1/s",
    "success_ratio": "ratio",
    "rss_peak_mb": "MB",
}

DWS_QUERIES = (
    "order_wide", "payment_wide", "product_stats", "province_stats",
    "visitor_stats", "keyword_stats", "uv_daily", "bounce_events",
    "session_stats", "serving_gmv",
)

PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    **{f"plans.{q}_s": "s" for q in DWS_QUERIES},
    "operators.interval_join_s": "s",
    "operators.dim_enrich_s": "s",
    "operators.bounce_events_s": "s",
    "functions.mixed_tokens_s": "s",
    "streaming.router_cycle_s": "s",
    "streaming.dws_cycle_s": "s",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.rows_in": "count",
    "streaming.state_rows": "count",
    "streaming.state_mem_mb": "MB",
    "streaming.rows_late_dropped": "count",
    "streaming.empty_cycle_ratio": "ratio",
    "streaming.route_keep_ratio": "ratio",
    "sources.latest_offset_ms": "ms",
    "sources.get_batch_ms": "ms",
    "sources.lag_files": "count",
    "storage.sink_versions": "count",
    "storage.sink_files": "count",
    "storage.snapshot_read_s": "s",
    "serving.gmv_ms": "ms",
    "serving.topn_ms": "ms",
    "serving.trademark_ms": "ms",
    "serving.read_fail": "count",
    "serving.read_wrong": "count",
    "serving.materialize_s": "s",
    "proc.cpu_busy": "ratio",
    "proc.steal": "ratio",
    "bench.gen_s": "s",
    "bench.gen_late_s": "s",
    "bench.traced_latency_p50_ms": "ms",
}


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def pin_env(work: str) -> None:
    """Environment for the Spark driver, its JVM and its Python workers.
    Every file any of them writes lands under ``work``."""
    tmp = os.path.join(work, "tmp")
    scratch = os.path.join(work, "scratch")
    os.makedirs(tmp)
    os.makedirs(scratch)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update({
        # workers import the package (pandas UDFs, the txlog data source)
        "PYTHONPATH": os.pathsep.join(paths),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONWARNINGS": "ignore::FutureWarning",
        "SPARK_GRAFT_CPUS": str(cpu_count()),
        # get_spark defaults to a 24g heap, more than the machine may have
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_GRAFT_SCRATCH": scratch,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            # A heap committed from the start keeps the peak RSS from depending
            # on when the collector chose to grow it. The JIT stops at C1: the
            # C2 compiler otherwise keeps a core busy for the whole of a short
            # run, so timed work would race a compilation whose progress
            # follows the host's load; C1 finishes during the warm-up.
            f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData '
            f'-Xms{DRIVER_MEMORY} -XX:TieredStopAtLevel=1" '
            "pyspark-shell"
        ),
    })
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


class Context:
    """What a workload gets: the session, its own work directory, the
    seed, the run length and the tracer."""

    def __init__(self, spark, work: str, seed: int, seconds: float, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.report: list[str] = []

    def note(self, line: str) -> None:
        self.report.append(line)


def start_session(tracer):
    from pyspark import SparkContext

    t0 = time.perf_counter()
    with tracer.span("session.start"):
        from flink_real_time_data_warehouse_spark.session import get_spark

        spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, SparkContext._gateway.proc, time.perf_counter() - t0


def stop_session(spark, jvm) -> None:
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
    jvm.stdin.close()
    try:
        jvm.wait(timeout=60)
    except Exception:
        jvm.kill()
        jvm.wait()


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: package {PKG}/ not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    pin_env(work)
    sys.path.insert(0, ROOT)

    from oracle import CheckFailed
    from tracing import ProcStat, Tracer, median, percentile, vm_hwm_mb

    workload = importlib.import_module(args.workload)
    tracer = Tracer(enabled=bool(args.trace))
    spark, jvm, start_s = start_session(tracer)
    ctx = Context(spark, work, args.seed, args.seconds, tracer)
    proc = ProcStat()
    try:
        res = workload.run(ctx)
        busy, steal = proc.shares()
        rss_mb = vm_hwm_mb() + vm_hwm_mb(jvm.pid)
    except CheckFailed as e:
        print(f"perfbench: correctness check failed: {e}", file=sys.stderr)
        return 1
    finally:
        stop_session(spark, jvm)
        if tracer.enabled:
            tracer.dump(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.jsonl"))
        shutil.rmtree(work, ignore_errors=True)

    setup_s = start_s + res["warm_s"]
    lat = res["latencies_ms"]
    tail_q = res["tail_q"]
    e2e = {
        "setup_s": setup_s,
        "latency_p50_ms": median(lat),
        "latency_tail_ms": percentile(lat, tail_q),
        "throughput": res["throughput"],
        "success_ratio": (ctx.attempted - ctx.failed) / ctx.attempted,
        "rss_peak_mb": rss_mb,
    }
    print(f"== perfbench {args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace} cpus={cpu_count()}")
    for line in ctx.report:
        print(f"  {line}")
    print(f"  latency samples={len(lat)}  tail=p{tail_q:.4g}  busy={busy:.3f} steal={steal:.3f}")
    for name, unit in E2E.items():
        print(f"  {name:<28} {e2e[name]:.6g} {unit}")
    if tracer.enabled:
        layers = dict.fromkeys(PER_LAYER, 0.0)
        layers.update(res.get("layers", {}))
        layers["session.start_s"] = start_s
        layers["session.warmup_s"] = res["warm_s"]
        layers["proc.cpu_busy"] = busy
        layers["proc.steal"] = steal
        layers["bench.gen_s"] = res["gen_s"]
        layers["bench.traced_latency_p50_ms"] = e2e["latency_p50_ms"]
        unknown = set(layers) - set(PER_LAYER)
        if unknown:
            raise KeyError(f"undeclared per-layer metrics {sorted(unknown)}")
        for name, unit in PER_LAYER.items():
            print(f"  {name:<32} {layers[name]:.6g} {unit}")
        metrics = {n: {"value": layers[n], "unit": u} for n, u in PER_LAYER.items()}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in E2E.items()}
    print(json.dumps({"correct": True, "attempted": ctx.attempted,
                      "failed": ctx.failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
