#!/usr/bin/env python3
"""Time a subset of registered queries, split into build and execute, so
one query can be iterated on without a full sweep.

Per query and rep, three figures:
  build  seconds to build the DataFrame (``registry()[name].spark(...)``,
         no action) and the Spark jobs that build ran;
  exec   seconds to run the built plan through the ``noop`` sink (the
         whole plan executes, nothing is collected) and its Spark jobs.
Jobs are counted per phase with a job group, so a plan whose build runs a
job (schema inference, an eager checkpoint, a collect) shows it. The
reported seconds are the min over reps, after one warmup query.

Usage:
  python scripts/profile_queries.py name [name ...]
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_BENCH_REPS=3 \
      python scripts/profile_queries.py order_wide province_stats

Also dumps the formatted plan when --plans DIR is given:
  python scripts/profile_queries.py --plans /tmp/plans --suffix before order_wide
(writes /tmp/plans/order_wide_before.txt).
"""

from __future__ import annotations

import itertools
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_real_time_data_warehouse_spark.queries import registry  # noqa: E402
from flink_real_time_data_warehouse_spark.session import get_spark  # noqa: E402


def fmt_plan(df) -> str:
    jdf = df._jdf
    plan = df._sc._jvm.PythonSQLUtils.explainString(jdf.queryExecution(), "formatted")
    return "".join(
        c if c == "\n" or c == "\t" or ord(c) >= 32 else f"\\x{ord(c):02x}"
        for c in plan.rstrip()
    )


def main() -> None:
    args = sys.argv[1:]
    plans_dir = None
    suffix = "before"
    if "--plans" in args:
        i = args.index("--plans")
        plans_dir = args[i + 1]
        del args[i : i + 2]
    if "--suffix" in args:
        i = args.index("--suffix")
        suffix = args[i + 1]
        del args[i : i + 2]
    names = args
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2")))
    spark = get_spark("frtdw-profile")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    qs = registry()
    groups = itertools.count()

    def timed(fn):
        """(result, seconds, Spark jobs) of fn() under a fresh job group."""
        group = f"profile:{next(groups)}"
        sc.setJobGroup(group, group)
        try:
            t0 = time.perf_counter()
            out = fn()
            secs = time.perf_counter() - t0
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setJobDescription(None)
        return out, secs, len(sc.statusTracker().getJobIdsForGroup(group))

    def run(name: str) -> tuple[float, int, float, int]:
        df, build_s, build_jobs = timed(lambda: qs[name].spark(spark, sf_dir))
        _, exec_s, exec_jobs = timed(
            lambda: df.write.format("noop").mode("overwrite").save()
        )
        return build_s, build_jobs, exec_s, exec_jobs

    run("q1_pricing_summary")  # warmup
    for name in names:
        if name not in qs:
            print(f"{name}: NOT REGISTERED", flush=True)
            continue
        if plans_dir:
            os.makedirs(plans_dir, exist_ok=True)
            with open(os.path.join(plans_dir, f"{name}_{suffix}.txt"), "w") as f:
                f.write(fmt_plan(qs[name].spark(spark, sf_dir)) + "\n")
        rs = [run(name) for _ in range(reps)]
        build_s = min(r[0] for r in rs)
        exec_s = min(r[2] for r in rs)
        print(
            f"{name}: build={build_s:.3f}s jobs={rs[-1][1]}"
            f"  exec={exec_s:.3f}s jobs={rs[-1][3]}"
            f"  total={build_s + exec_s:.3f}s",
            flush=True,
        )


if __name__ == "__main__":
    main()
