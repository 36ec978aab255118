"""rt_pipeline: open loop, fixed event rate, then a timed backlog drain.

A generator thread (pyarrow files pre-serialised at set-up, no Spark)
lands ODS parquet files on a fixed schedule: CDC envelope files into
``ods_base_db/`` and behaviour-event files into ``ods_base_log/``. The
consumer drives two legs concurrently, one thread each, as the reference
runs each warehouse layer as its own job; each leg re-invokes its
availableNow query back to back:

* DWD: ``sources.streams.stream_dir`` -> ``streaming.router.start_router``
  with table-append and dim-MERGE sinks (TxLog tables);
* DWS: ``stream_dir`` -> ``streaming.pipelines.visitor_stats_stream``
  (1 h tumbling windows behind a watermark, append mode) ->
  ``streaming.ingest.start_txlog_sink`` (a TxLog table).

Latency sample: the freshness of one behaviour-log file, from its
*scheduled* landing time to the end of the first DWS cycle whose sink
commit covers it: the cycle has consumed the file's rows and its
watermark has closed the window of the file's newest event, so the
aggregate holding the file's events is in the sink. Files land in order,
so the consumed set is always a prefix, pinned by the cumulative
``numInputRows`` of ``StreamingQueryProgress``; the watermark is the one
the progress reports. ``FILLER_FILES`` more files land after the sampled
ones so that the watermark closes the last sampled windows. Throughput:
events per second drained from a fixed backlog landed while the consumer
is stopped, the median of ``DRAINS`` drains.
"""

from __future__ import annotations

import bisect
import datetime as dt
import os
import threading
import time

import gen
import oracle
from tracing import median, percentile

MIN_FILES = 40  # per directory: a tail with ten samples beyond it is p75 or higher
FILES_PER_S = 3  # per directory
DB_ROWS = 150  # envelope rows per file
LOG_ROWS = 300  # events per file
BACKLOG_FILES = 40  # per directory and drain
DRAINS = 3  # catch-up is the median drain: one drain is a single cycle per leg
WATERMARK = "2 hours"
# a log file spans 20 min of event time: ten files move the watermark past
# the window of the newest event of the file ten places back
FILLER_FILES = 10
HOUR_US = 3_600_000_000
LEGS = ("db", "log")


def watermark_us(progress) -> int:
    """The event-time watermark a progress report records, in µs (0 before
    the first one is set)."""
    wm = progress.eventTime.get("watermark")
    if not wm:
        return 0
    return int(dt.datetime.fromisoformat(wm.replace("Z", "+00:00")).timestamp() * 1e6)


class Leg:
    """One stream leg: its source directory, its cycle, and which landed
    files its micro-batches have consumed so far."""

    def __init__(self, name: str, src: str, cycle):
        self.name = name
        self.src = src
        self.cycle = cycle  # runs one availableNow query, returns its progress reports
        self.lock = threading.Lock()
        self.cum_rows = [0]  # cumulative rows of landed files, in landing order
        self.consumed_rows = 0
        self.batches: list[tuple[int, int, int]] = []  # (first file, end file, watermark µs)
        self.covered_at: list[float] = []  # per file: end of the cycle that consumed it
        self.watermarks: list[tuple[float, int]] = []  # per cycle: (end, watermark µs after it)
        self.final_wm_us = 0
        self.cycles = 0
        self.empty_cycles = 0
        self.cycle_s: list[float] = []  # per cycle: wall time
        self.cycle_rows: list[int] = []  # per cycle: rows consumed
        self.attempted = 0
        self.failed = 0
        self.progress: list = []

    def landed(self, rows: int) -> None:
        with self.lock:
            self.cum_rows.append(self.cum_rows[-1] + rows)

    def lag_files(self) -> int:
        with self.lock:
            return len(self.cum_rows) - 1 - len(self.covered_at)

    def absorb(self, progresses, start: float, end: float) -> None:
        """Fold one cycle's progress reports into the file coverage."""
        with self.lock:
            self.cycles += 1
            self.cycle_s.append(end - start)
            self.final_wm_us = max([self.final_wm_us] + [watermark_us(p) for p in progresses])
            self.watermarks.append((end, self.final_wm_us))
            rows = 0
            for p in progresses:
                n = p.numInputRows
                if n == 0:
                    continue
                rows += n
                first = len(self.covered_at)
                self.consumed_rows += n
                k = bisect.bisect_left(self.cum_rows, self.consumed_rows)
                if k >= len(self.cum_rows) or self.cum_rows[k] != self.consumed_rows:
                    raise oracle.CheckFailed(
                        f"{self.name}: {self.consumed_rows} rows consumed is not a whole number of files")
                self.covered_at.extend([end] * (k - first))
                self.batches.append((first, k, watermark_us(p)))
                self.progress.append(p)
            self.cycle_rows.append(rows)
            if rows == 0:
                self.empty_cycles += 1

    def drive(self, ctx, done) -> None:
        """Re-invoke the leg's query back to back until ``done()`` holds
        and every landed file is consumed. A failed cycle is counted; the
        next cycle starts from the checkpoint like any other."""
        while not (done() and self.lag_files() == 0):
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                progresses = self.cycle()
            except Exception as e:  # counted
                self.failed += 1
                ctx.note(f"FAILED {self.name} cycle: {type(e).__name__}: {str(e).splitlines()[0][:200]}")
                if done():
                    return  # no more input is coming: stop rather than spin
                continue
            self.absorb(progresses, t0, time.perf_counter())


def run_legs(ctx, legs: list[Leg], done) -> None:
    """Drive every leg concurrently, each on its own thread."""
    errors: list[BaseException] = []

    def body(leg: Leg) -> None:
        try:
            leg.drive(ctx, done)
        except BaseException as e:  # re-raised on the calling thread
            errors.append(e)

    threads = [threading.Thread(target=body, args=(leg,), name=f"leg-{leg.name}") for leg in legs]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]


class Generator(threading.Thread):
    """Lands staged files at their scheduled times; never waits on the
    consumer. A file lands by rename, so it appears whole."""

    def __init__(self, plan: list[tuple[float, str, str, int, Leg]]):
        super().__init__(name="ods-generator")
        self.plan = plan  # (due, staged path, target path, rows, leg), by due time
        self.late_s = 0.0
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            for due, staged, target, rows, leg in self.plan:
                wait = due - time.perf_counter()
                if wait > 0:
                    time.sleep(wait)
                land(staged, target)
                leg.landed(rows)
                self.late_s = max(self.late_s, time.perf_counter() - due)
        except BaseException as e:  # surfaced after the run
            self.error = e


def land(staged: str, target: str) -> None:
    os.replace(staged, target)
    os.utime(target)


class Pipeline:
    """The consumer side: both legs, their sinks and checkpoints."""

    def __init__(self, ctx, work: str):
        from flink_real_time_data_warehouse_spark.storage import TxLog
        from flink_real_time_data_warehouse_spark.streaming.router import RouteConfig

        self.ctx = ctx
        self.work = work
        self.dwd = os.path.join(work, "dwd")
        self.dws = TxLog(os.path.join(work, "dws_visitor_stats"))
        self.legs = {"db": Leg("db", os.path.join(work, "ods_base_db"), self.router_cycle),
                     "log": Leg("log", os.path.join(work, "ods_base_log"), self.dws_cycle)}
        for leg in self.legs.values():
            os.makedirs(leg.src)
        self.configs = [
            RouteConfig("order_info", "insert", "dwd_order_info",
                        ("id", "user_id", "total_amount"), "table"),
            RouteConfig("order_info", "update", "dwd_order_update",
                        ("id", "user_id", "total_amount"), "table"),
            RouteConfig("user_info", "insert", "dim_user_info", ("id", "name", "acct"), "dim", "id"),
            RouteConfig("user_info", "update", "dim_user_info", ("id", "name", "acct"), "dim", "id"),
        ]  # order deletes have no entry: the router drops them

    def router_cycle(self):
        from flink_real_time_data_warehouse_spark.sources.streams import stream_dir
        from flink_real_time_data_warehouse_spark.streaming.router import start_router

        with self.ctx.tracer.span("streaming.router_cycle"):
            h = start_router(stream_dir(self.ctx.spark, self.legs["db"].src, gen.ODS_DB_DDL),
                             lambda: self.configs, self.dwd,
                             os.path.join(self.work, "ck_router"), app_id="router")
            h.awaitTermination()
        return h.recentProgress

    def dws_cycle(self):
        from flink_real_time_data_warehouse_spark.sources.streams import stream_dir
        from flink_real_time_data_warehouse_spark.streaming.ingest import start_txlog_sink
        from flink_real_time_data_warehouse_spark.streaming.pipelines import visitor_stats_stream

        with self.ctx.tracer.span("streaming.dws_cycle"):
            events = stream_dir(self.ctx.spark, self.legs["log"].src, gen.ODS_LOG_DDL)
            q = start_txlog_sink(visitor_stats_stream(events, WATERMARK), self.dws,
                                 os.path.join(self.work, "ck_dws"), app_id="dws_visitor_stats")
            q.awaitTermination()
        return q.recentProgress


def check(ctx, pipe: Pipeline) -> dict[str, float]:
    """Sink snapshots against a DuckDB append/upsert recomputation over
    every landed ODS file, in the manner of the dwd_chain_stream oracle."""
    from flink_real_time_data_warehouse_spark.queries import registry
    from flink_real_time_data_warehouse_spark.streaming.router import read_sink

    spark = ctx.spark
    con = oracle.connect()
    db = sorted(os.path.join(pipe.legs["db"].src, f) for f in os.listdir(pipe.legs["db"].src))
    logs = sorted(os.path.join(pipe.legs["log"].src, f) for f in os.listdir(pipe.legs["log"].src))
    con.execute(f"CREATE VIEW env AS FROM read_parquet({db!r})")
    t0 = time.perf_counter()
    with ctx.tracer.span("storage.snapshot_read"):
        sinks = {
            "dwd_order_info": read_sink(spark, pipe.dwd, "dwd_order_info").toPandas(),
            "dwd_order_update": read_sink(spark, pipe.dwd, "dwd_order_update").toPandas(),
            "dim_user_info": read_sink(spark, pipe.dwd, "dim_user_info", "dim").toPandas(),
            "dws_visitor_stats": pipe.dws.snapshot(spark).toPandas(),
        }
    snapshot_s = time.perf_counter() - t0
    for name, op in (("dwd_order_info", "insert"), ("dwd_order_update", "update")):
        oracle.same_rows(con, name, sinks[name], f"""
            SELECT id, user_id, total_amount FROM env
            WHERE source_table = 'order_info' AND op = '{op}'""")
    oracle.same_rows(con, "dim_user_info", sinks["dim_user_info"], """
        WITH ins AS (SELECT id, name, acct FROM env WHERE source_table = 'user_info' AND op = 'insert'),
             upd AS (SELECT id, name, acct FROM env WHERE source_table = 'user_info' AND op = 'update')
        SELECT i.id, coalesce(u.name, i.name) AS name, coalesce(u.acct, i.acct) AS acct
        FROM ins i LEFT JOIN upd u USING (id)""")
    # visitor_stats: a micro-batch drops the rows whose window the watermark
    # it ran under had closed; a window reaches the sink once a watermark
    # passes its end. The registry's batch oracle over the rows kept and
    # the windows closed by the last watermark gives the sink's rows.
    log = pipe.legs["log"]
    con.execute("CREATE TABLE fb (filename VARCHAR, wm_us BIGINT)")
    con.executemany("INSERT INTO fb VALUES (?, ?)",
                    [(logs[f], wm) for first, end, wm in log.batches for f in range(first, end)])
    con.execute(f"""
        CREATE VIEW events AS
        WITH ev AS (SELECT e.*, epoch_us(date_trunc('hour', e.ts)) + {HOUR_US} AS win_end_us, fb.wm_us
                    FROM read_parquet({logs!r}, filename = true) e JOIN fb ON e.filename = fb.filename)
        SELECT * FROM ev WHERE (wm_us = 0 OR win_end_us > wm_us) AND win_end_us <= {log.final_wm_us}""")
    oracle.same_rows(con, "dws_visitor_stats", sinks["dws_visitor_stats"], registry()["visitor_stats"].oracle)
    con.close()
    routed = sum(len(sinks[n]) for n in ("dwd_order_info", "dwd_order_update", "dim_user_info"))
    return {"snapshot_s": snapshot_s, "routed_rows": routed}


def stream_layers(pipe: Pipeline, gen_late_s: float, lag_files: int, chk: dict) -> dict[str, float]:
    from flink_real_time_data_warehouse_spark.storage import TxLog
    from flink_real_time_data_warehouse_spark.streaming.router import sink_table_path

    legs = list(pipe.legs.values())
    progs = [p for leg in legs for p in leg.progress]

    def dur(key: str) -> float:
        vals = [p.durationMs.get(key, 0) for p in progs]
        return median(vals) if vals else 0.0

    dws = pipe.legs["log"].progress
    state = [op for p in dws[-1:] for op in p.stateOperators]
    dropped = sum(op.numRowsDroppedByWatermark for p in dws for op in p.stateOperators)
    versions = files = 0
    for path in (sink_table_path(pipe.dwd, "dwd_order_info"),
                 sink_table_path(pipe.dwd, "dwd_order_update"),
                 sink_table_path(pipe.dwd, "dim_user_info", "dim"), pipe.dws.path):
        st = TxLog(path).state()
        versions += st.version + 1
        files += len(st.files)
    tr = pipe.ctx.tracer
    return {
        "streaming.router_cycle_s": tr.median_s("streaming.router_cycle"),
        "streaming.dws_cycle_s": tr.median_s("streaming.dws_cycle"),
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.query_planning_ms": dur("queryPlanning"),
        "streaming.wal_commit_ms": dur("walCommit"),
        "streaming.rows_in": float(sum(leg.consumed_rows for leg in legs)),
        "streaming.state_rows": float(sum(op.numRowsTotal for op in state)),
        "streaming.state_mem_mb": sum(op.memoryUsedBytes for op in state) / 1e6,
        "streaming.rows_late_dropped": float(dropped),
        "streaming.empty_cycle_ratio": sum(leg.empty_cycles for leg in legs) / max(sum(leg.cycles for leg in legs), 1),
        "streaming.route_keep_ratio": chk["routed_rows"] / max(pipe.legs["db"].consumed_rows, 1),
        "sources.latest_offset_ms": dur("latestOffset"),
        "sources.get_batch_ms": dur("getBatch"),
        "sources.lag_files": float(lag_files),
        "storage.sink_versions": float(versions),
        "storage.sink_files": float(files),
        "storage.snapshot_read_s": chk["snapshot_s"],
        "bench.gen_late_s": gen_late_s,
    }


def run(ctx) -> dict:
    import pyarrow.parquet as pq

    from flink_real_time_data_warehouse_spark.storage import register_txlog_source

    register_txlog_source(ctx.spark)
    n_files = max(int(FILES_PER_S * ctx.seconds), MIN_FILES)
    tail_q = 100.0 * (1 - 10 / n_files)  # the highest with ten samples beyond it
    t0 = time.perf_counter()
    stream = gen.OdsStream(ctx.seed, DB_ROWS, LOG_ROWS)
    staging = os.path.join(ctx.work, "staging")
    open_loop = n_files + FILLER_FILES
    staged = {kind: stream.stage(staging, kind, 0, 1 + open_loop + DRAINS * BACKLOG_FILES) for kind in LEGS}
    # per sampled log file: the end of the window of its newest event
    closes_us = [(int(pq.read_table(path, columns=["ts"])["ts"].cast("int64").to_numpy().max())
                  // HOUR_US + 1) * HOUR_US for path in staged["log"][1:1 + n_files]]
    gen_s = time.perf_counter() - t0
    pipe = Pipeline(ctx, ctx.work)
    legs = list(pipe.legs.values())

    def target(kind: str, path: str) -> str:
        return os.path.join(pipe.legs[kind].src, os.path.basename(path))

    def rows(path: str) -> int:
        return pq.ParquetFile(path).metadata.num_rows

    def land_now(kind: str, paths: list[str]) -> int:
        total = 0
        for path in paths:
            n = rows(path)
            land(path, target(kind, path))
            pipe.legs[kind].landed(n)
            total += n
        return total

    # set-up: file 0 of each leg (base users, first events), one cold cycle each
    t0 = time.perf_counter()
    with ctx.tracer.span("session.warmup"):
        for kind in LEGS:
            land_now(kind, staged[kind][:1])
        run_legs(ctx, legs, lambda: True)
    warm_s = time.perf_counter() - t0

    # open loop: land files 1..open_loop of each leg at FILES_PER_S per leg
    start = time.perf_counter() + 0.05
    plan, due = [], {kind: [] for kind in LEGS}
    for i in range(1, 1 + open_loop):
        for j, kind in enumerate(LEGS):
            at = start + (i - 1 + j / len(LEGS)) / FILES_PER_S
            path = staged[kind][i]
            plan.append((at, path, target(kind, path), rows(path), pipe.legs[kind]))
            due[kind].append(at)
    gen_thread = Generator(plan)
    gen_thread.start()
    lag_at_end: list[int] = []
    lag_lock = threading.Lock()

    def window_over() -> bool:
        if gen_thread.is_alive():
            return False
        with lag_lock:  # the backlog at the instant the last file had landed
            if not lag_at_end:
                lag_at_end.append(sum(leg.lag_files() for leg in legs))
        return True

    try:
        run_legs(ctx, legs, window_over)
    finally:
        gen_thread.join()
    if gen_thread.error:
        raise gen_thread.error

    def closed_at(close_us: int) -> float:
        """End of the first DWS cycle whose watermark closed ``close_us``."""
        for end, wm in pipe.legs["log"].watermarks:
            if wm >= close_us:
                return end
        raise RuntimeError(f"the watermark never passed {close_us} µs")

    log_leg, db_leg = pipe.legs["log"], pipe.legs["db"]
    latencies = [(max(log_leg.covered_at[i], closed_at(closes_us[i - 1])) - due["log"][i - 1]) * 1000.0
                 for i in range(1, 1 + n_files)]
    dwd_fresh = [(db_leg.covered_at[i] - due["db"][i - 1]) * 1000.0 for i in range(1, 1 + n_files)]

    # backlog: land BACKLOG_FILES per leg with the consumer stopped, time the drain
    drains = []  # (events, seconds)
    for d in range(DRAINS):
        first = 1 + open_loop + d * BACKLOG_FILES
        backlog_rows = sum(land_now(kind, staged[kind][first:first + BACKLOG_FILES]) for kind in LEGS)
        t0 = time.perf_counter()
        run_legs(ctx, legs, lambda: True)
        drains.append((backlog_rows, time.perf_counter() - t0))
    catchup_eps = median([n / sec for n, sec in drains])
    ctx.attempted += sum(leg.attempted for leg in legs)
    ctx.failed += sum(leg.failed for leg in legs)

    chk = check(ctx, pipe)
    layers = stream_layers(pipe, gen_thread.late_s, lag_at_end[0], chk)
    ctx.note(f"offered rate: {FILES_PER_S} files/s per leg, {FILES_PER_S * (DB_ROWS + LOG_ROWS)} events/s; "
             f"{n_files} sampled + {FILLER_FILES} filler files per leg over {open_loop / FILES_PER_S:g} s; "
             f"generator late by {gen_thread.late_s:.3f} s at most")
    ctx.note(f"fresh_p50_s={median(latencies) / 1000:.4f} fresh_tail_s={percentile(latencies, tail_q) / 1000:.4f} "
             f"(DWS, p{tail_q:.4g} of {len(latencies)} files); DWD fresh_p50_s={median(dwd_fresh) / 1000:.4f}")
    ctx.note(f"lag_files when the last file landed={lag_at_end[0]}")
    ctx.note(f"catchup_eps={catchup_eps:.1f} (median of {DRAINS} drains of {drains[0][0]} events: "
             + ", ".join(f"{sec:.3f} s" for _, sec in drains) + ")")
    for leg in legs:
        busy = [(s, r) for s, r in zip(leg.cycle_s, leg.cycle_rows) if r]
        ctx.note(f"{leg.name} leg: {leg.cycles} cycles ({leg.empty_cycles} empty); non-empty cycles: "
                 f"median {median([s for s, _ in busy]) if busy else 0:.3f} s, "
                 f"median {median([r for _, r in busy]) if busy else 0:g} rows")
    ctx.note("correctness: DWD table, DWD dim and DWS visitor_stats sinks match DuckDB recomputation")
    return {
        "warm_s": warm_s,
        "gen_s": gen_s,
        "latencies_ms": latencies,
        "tail_q": tail_q,
        "throughput": catchup_eps,
        "layers": layers,
    }
