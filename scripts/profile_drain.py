#!/usr/bin/env python3
"""Split rt_pipeline's backlog drains per leg: where does a drain's time go?

Drives the two ``perfbench/rt_pipeline.py`` legs (the DWD router over
``ods_base_db/`` and the DWS ``visitor_stats`` leg over ``ods_base_log/``)
the way the benchmark does: a cold cycle per leg, a short open loop at
the benchmark's file rate, then backlog drains of ``BACKLOG_FILES`` files
per leg landed while the consumer is stopped. For each drain and each
leg it prints:

  cycle     the wall time of each availableNow query the leg ran;
  batch     per micro-batch: rows in and the ``StreamingQueryProgress``
            ``durationMs`` entries (latestOffset, getBatch, queryPlanning,
            addBatch, walCommit, commitOffsets), in ms;
  jobs      the Spark jobs and tasks the leg's queries ran, counted by
            the query's job group (its ``runId``) in the driver's status
            store. Jobs in no leg's group are printed as ``other``.

Usage (from the root of a checkout; the session is perfbench's, with
its 1g heap and C1-only JIT):

    python3 scripts/profile_drain.py [--seed 7] [--seconds 4] [--drains 3]

Nothing is checked against DuckDB here; ``perfbench/run.py`` does that.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
DURATIONS = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")


def jobs_since(spark, after: int) -> list[tuple[int, str | None, int]]:
    """(job id, job group, tasks run) of every job with an id above
    ``after`` that the driver's status store still holds."""
    seq = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    out = []
    for i in range(seq.length()):
        j = seq.apply(i)
        if j.jobId() > after:
            group = j.jobGroup().get() if j.jobGroup().isDefined() else None
            out.append((j.jobId(), group, j.numCompletedTasks() + j.numFailedTasks()))
    return sorted(out)


def recording(cycle, cycles: list):
    """Wrap a leg's cycle so each call's wall time and every progress
    report (no-data batches included) are kept."""

    def run():
        t0 = time.perf_counter()
        progresses = cycle()
        cycles.append((time.perf_counter() - t0, progresses))
        return progresses

    return run


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=float, default=4.0, help="length of the open loop before the drains")
    ap.add_argument("--drains", type=int, default=3)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, BENCH]
    import gen
    import pyarrow.parquet as pq
    import rt_pipeline as rt
    import run as bench
    from tracing import Tracer

    work = os.path.join(ROOT, ".perfbench_work", f"profile_drain-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    bench.pin_env(work)
    tracer = Tracer(enabled=False)
    spark, jvm, _ = bench.start_session(tracer)
    try:
        from flink_real_time_data_warehouse_spark.storage import register_txlog_source

        register_txlog_source(spark)
        ctx = bench.Context(spark, work, args.seed, args.seconds, tracer)
        open_loop = max(1, int(rt.FILES_PER_S * args.seconds))
        stream = gen.OdsStream(args.seed, rt.DB_ROWS, rt.LOG_ROWS)
        staging = os.path.join(work, "staging")
        total = 1 + open_loop + args.drains * rt.BACKLOG_FILES
        staged = {kind: stream.stage(staging, kind, 0, total) for kind in rt.LEGS}
        pipe = rt.Pipeline(ctx, work)
        legs = list(pipe.legs.values())
        cycles = {leg.name: [] for leg in legs}
        for leg in legs:
            leg.cycle = recording(leg.cycle, cycles[leg.name])

        def target(kind: str, path: str) -> str:
            return os.path.join(pipe.legs[kind].src, os.path.basename(path))

        def rows(path: str) -> int:
            return pq.ParquetFile(path).metadata.num_rows

        def land(kind: str, paths: list[str]) -> int:
            total = 0
            for path in paths:
                n = rows(path)
                rt.land(path, target(kind, path))
                pipe.legs[kind].landed(n)
                total += n
            return total

        t0 = time.perf_counter()
        for kind in rt.LEGS:
            land(kind, staged[kind][:1])
        rt.run_legs(ctx, legs, lambda: True)
        print(f"cold cycles, both legs: {time.perf_counter() - t0:.2f} s")

        start = time.perf_counter() + 0.05
        plan = []
        for i in range(1, 1 + open_loop):
            for j, kind in enumerate(rt.LEGS):
                path = staged[kind][i]
                at = start + (i - 1 + j / len(rt.LEGS)) / rt.FILES_PER_S
                plan.append((at, path, target(kind, path), rows(path), pipe.legs[kind]))
        feeder = rt.Generator(plan)
        feeder.start()
        try:
            rt.run_legs(ctx, legs, lambda: not feeder.is_alive())
        finally:
            feeder.join()
        if feeder.error:
            raise feeder.error
        print(f"open loop: {open_loop} files per leg over {open_loop / rt.FILES_PER_S:g} s, "
              + ", ".join(f"{leg.name} {leg.cycles} cycles" for leg in legs))

        sums = {leg.name: [] for leg in legs}
        for d in range(args.drains):
            first = 1 + open_loop + d * rt.BACKLOG_FILES
            events = sum(land(kind, staged[kind][first:first + rt.BACKLOG_FILES]) for kind in rt.LEGS)
            seen = {leg.name: len(cycles[leg.name]) for leg in legs}
            last_job = max((j for j, _, _ in jobs_since(spark, -1)), default=-1)
            t0 = time.perf_counter()
            rt.run_legs(ctx, legs, lambda: True)
            wall = time.perf_counter() - t0
            jobs = jobs_since(spark, last_job)
            print(f"\ndrain {d + 1}: {rt.BACKLOG_FILES} files per leg, {events} events, "
                  f"{wall:.3f} s, {events / wall:.0f} events/s; {len(jobs)} jobs, "
                  f"{sum(t for _, _, t in jobs)} tasks")
            claimed = set()
            for leg in legs:
                runs = cycles[leg.name][seen[leg.name]:]
                groups = {str(p.runId) for _, progs in runs for p in progs}
                mine = [j for j in jobs if j[1] in groups]
                claimed.update(j[0] for j in mine)
                cycle_s = [s for s, _ in runs]
                get_batch = sum(p.durationMs.get("getBatch", 0) for _, progs in runs for p in progs)
                sums[leg.name].append((sum(cycle_s), get_batch, len(mine), sum(t for _, _, t in mine)))
                print(f"  {leg.name} leg: cycle " + ", ".join(f"{s:.3f}" for s in cycle_s)
                      + f" s; {len(mine)} jobs, {sum(t for _, _, t in mine)} tasks")
                for _, progs in runs:
                    for p in progs:
                        split = " ".join(f"{k} {p.durationMs.get(k, 0)}" for k in DURATIONS)
                        print(f"    batch {p.batchId} rows {p.numInputRows}: {split} ms")
            other = [j for j in jobs if j[0] not in claimed]
            if other:
                print(f"  other: {len(other)} jobs, {sum(t for _, _, t in other)} tasks")

        print("\nper leg over the drains (median): cycle s, getBatch ms, jobs, tasks")
        for name, per_drain in sums.items():
            med = [sorted(col)[len(col) // 2] for col in zip(*per_drain)]
            print(f"  {name}: {med[0]:.3f} s, {med[1]:.0f} ms, {med[2]:.0f} jobs, {med[3]:.0f} tasks")
    finally:
        bench.stop_session(spark, jvm)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
