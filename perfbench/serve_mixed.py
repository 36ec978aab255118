"""serve_mixed: closed loop, three reader threads beside one refresh writer.

The readers call ``ServingAPI.gmv`` (a seeded day), ``product_stats_topn``
and ``trademark_revenue`` in a seeded mix, each thread sending its next
read when the previous one returns. One writer thread calls
``ServingAPI.materialize()`` -- the per-trigger refresh -- once in every
``REFRESH_EVERY_S`` seconds of the window on the same ServingAPI, so
reads and the refresh touch the same result tables at the same time.
Nothing here orders them: the benchmark measures the package's own
behaviour.

``materialize()`` overwrites the result parquet in place. A read that
overlaps it can raise (the table directory is empty or a file vanished)
or return a wrong answer (old and new files listed together: a top-N
answer with every row twice). Both are failed reads: counted, never
retried, and entered into the latency sample as the whole measurement
window, so they miss every latency limit. Throughput: correct reads per
second.

Every answer is compared with DuckDB over the generated inputs; the
inputs do not change, so every refresh must rebuild the same tables. The
warm reads before the window, and a read of each kind after the writer
stops and one more refresh has run alone, must be right, or the run
fails.
"""

from __future__ import annotations

import os
import random
import threading
import time

import gen
import oracle
from tracing import median, percentile, samples_for_tail

TAIL_Q = 75.0
READERS = 3
REFRESH_EVERY_S = 5.0
TOPN, TM_N = 10, 5
MIX = (("gmv", 0.5), ("topn", 0.3), ("trademark", 0.2))
PROBE_REPS = 3


def expected_answers(data: str) -> dict:
    """The serving answers computed by DuckDB from the raw inputs."""
    con = oracle.connect(data)
    try:
        gmv = dict(con.sql("""
            SELECT strftime(date_trunc('day', ts), '%Y-%m-%d'),
                   coalesce(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)), 0) / 100.0
            FROM events WHERE event_type = 'purchase' GROUP BY 1""").fetchall())
        rev = """
            SELECT l_partkey AS sku_id, p_name AS sku_name, p_brand AS tm_name,
                   sum(CAST(round(o_amount * 100) AS BIGINT)) AS amount_c
            FROM (SELECT l_partkey, date_trunc('week', l_shipdate) AS wk,
                         sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) / 100.0 AS o_amount
                  FROM lineitem GROUP BY 1, 2) w
            JOIN part ON l_partkey = p_partkey
            GROUP BY 1, 2, 3"""
        topn = [tuple(r) for r in con.sql(f"""
            SELECT sku_id, sku_name, amount_c / 100.0 AS amount FROM ({rev})
            ORDER BY amount DESC, sku_id LIMIT {TOPN}""").fetchall()]
        tm = [tuple(r) for r in con.sql(f"""
            SELECT tm_name, sum(amount_c) / 100.0 AS amount FROM ({rev})
            GROUP BY 1 ORDER BY amount DESC, tm_name LIMIT {TM_N}""").fetchall()]
    finally:
        con.close()
    return {"gmv": gmv, "topn": topn, "trademark": tm}


class Serve:
    def __init__(self, ctx, api, days: list[str], expected: dict):
        self.ctx = ctx
        self.api = api
        self.days = days
        self.expected = expected
        self.lock = threading.Lock()
        self.reads: list[tuple[str, float, str]] = []  # (op, ms, "ok" | "raised" | "wrong")
        self.refresh_s: list[float] = []
        self.refresh_fail = 0
        self.stop = threading.Event()
        self.errors: list[str] = []

    def read(self, op: str, rng: random.Random):
        if op == "gmv":
            day = rng.choice(self.days)
            return ("gmv", day), self.api.gmv(day)["data"]
        if op == "topn":
            return ("topn",), [(r["sku_id"], r["sku_name"], r["amount"])
                               for r in self.api.product_stats_topn(TOPN)]
        return ("trademark",), [(r["tm_name"], r["amount"]) for r in self.api.trademark_revenue(TM_N)]

    def wrong(self, op: str, ans) -> str | None:
        """Why an answer differs from DuckDB, or None when it is right."""
        key, got = ans
        want = self.expected["gmv"].get(key[1], 0.0) if op == "gmv" else self.expected[op]
        return None if got == want else f"serving {key}: {got!r} != DuckDB {want!r}"

    def reader(self, k: int) -> None:
        rng = random.Random(self.ctx.seed * 1000 + k)
        ops, weights = zip(*MIX)
        while not self.stop.is_set():
            op = rng.choices(ops, weights)[0]
            t0 = time.perf_counter()
            try:
                with self.ctx.tracer.span(f"serving.{op}"):
                    ans = self.read(op, rng)
                why = self.wrong(op, ans)
                outcome = "ok" if why is None else "wrong"
            except Exception as e:  # counted, never retried
                why = f"{op}: {type(e).__name__}: {str(e).splitlines()[0][:160]}"
                outcome = "raised"
            ms = (time.perf_counter() - t0) * 1000.0
            with self.lock:
                self.reads.append((op, ms, outcome))
                if why:
                    self.errors.append(why[:200])

    def writer(self, start: float) -> None:
        """Refreshes at the middle of each ``REFRESH_EVERY_S`` slot of the
        window, so every run makes the same number of them."""
        for k in range(int(self.ctx.seconds // REFRESH_EVERY_S)):
            due = start + (k + 0.5) * REFRESH_EVERY_S
            if self.stop.wait(max(0.0, due - time.perf_counter())):
                return
            t0 = time.perf_counter()
            try:
                with self.ctx.tracer.span("serving.materialize"):
                    self.api.materialize()
            except Exception as e:  # counted, never retried
                with self.lock:
                    self.refresh_fail += 1
                    self.errors.append(f"materialize: {type(e).__name__}: {str(e).splitlines()[0][:160]}")
                continue
            self.refresh_s.append(time.perf_counter() - t0)

    def check(self, rng: random.Random) -> None:
        """One read of each kind outside the window; it must be right."""
        for op, _ in MIX:
            why = self.wrong(op, self.read(op, rng))
            if why:
                raise oracle.CheckFailed(why)


def serving_probes(ctx, data: str) -> dict[str, float]:
    """Per-layer times of the serving calls, each run alone with nothing
    beside it (the traced run of a workload without concurrent serving)."""
    from flink_real_time_data_warehouse_spark.serving import ServingAPI

    api = ServingAPI(ctx.spark, data, store_dir=os.path.join(ctx.work, "serving_probe_store"))
    serve = Serve(ctx, api, sorted(expected_answers(data)["gmv"]), {})
    rng = random.Random(ctx.seed)
    for _ in range(PROBE_REPS):
        with ctx.tracer.span("serving.materialize"):
            api.materialize()
        for op, _ in MIX:
            with ctx.tracer.span(f"serving.{op}"):
                serve.read(op, rng)
    return {f"serving.{op}_ms": ctx.tracer.median_s(f"serving.{op}") * 1000.0
            for op in ("gmv", "topn", "trademark")} | {
        "serving.materialize_s": ctx.tracer.median_s("serving.materialize")}


def run(ctx) -> dict:
    from flink_real_time_data_warehouse_spark.serving import ServingAPI

    data = os.path.join(ctx.work, "data")
    t0 = time.perf_counter()
    gen.write_star_schema(data, ctx.seed)
    gen_s = time.perf_counter() - t0
    expected = expected_answers(data)
    days = sorted(expected["gmv"])

    api = ServingAPI(ctx.spark, data, store_dir=os.path.join(ctx.work, "serving_store"))
    serve = Serve(ctx, api, days, expected)
    t0 = time.perf_counter()
    with ctx.tracer.span("session.warmup"):
        api.materialize()  # the initial refresh
        serve.check(random.Random(ctx.seed))  # first touch of each read
    warm_s = time.perf_counter() - t0

    threads = [threading.Thread(target=serve.reader, args=(k,), name=f"reader-{k}")
               for k in range(READERS)]
    threads.append(threading.Thread(target=serve.writer, args=(time.perf_counter(),), name="refresh-writer"))
    need = samples_for_tail(TAIL_Q)
    t0 = time.perf_counter()
    for t in threads:
        t.start()
    try:
        while time.perf_counter() - t0 < ctx.seconds or len(serve.reads) < need:
            time.sleep(0.05)
    finally:
        serve.stop.set()
        for t in threads:
            t.join()
    wall = time.perf_counter() - t0

    reads = serve.reads
    raised = sum(1 for r in reads if r[2] == "raised")
    wrong = sum(1 for r in reads if r[2] == "wrong")
    ctx.attempted += len(reads) + len(serve.refresh_s) + serve.refresh_fail
    ctx.failed += raised + wrong + serve.refresh_fail
    # The store the window left behind can stay broken (a table marked
    # complete with no data files): read it once more, counted like a
    # window read; then one refresh with nothing beside it must be right.
    left_failed = 0
    rng = random.Random(ctx.seed + 1)
    for op, _ in MIX:
        try:
            left_failed += serve.wrong(op, serve.read(op, rng)) is not None
        except Exception:  # counted, never retried
            left_failed += 1
    ctx.attempted += len(MIX)
    ctx.failed += left_failed
    api.materialize()
    serve.check(random.Random(ctx.seed + 2))

    window_ms = wall * 1000.0
    latencies = [ms if outcome == "ok" else window_ms for _, ms, outcome in reads]
    layers = {
        "serving.gmv_ms": ctx.tracer.median_s("serving.gmv") * 1000.0,
        "serving.topn_ms": ctx.tracer.median_s("serving.topn") * 1000.0,
        "serving.trademark_ms": ctx.tracer.median_s("serving.trademark") * 1000.0,
        "serving.read_fail": float(raised),
        "serving.read_wrong": float(wrong),
        "serving.materialize_s": ctx.tracer.median_s("serving.materialize"),
    }
    ok = [ms for _, ms, outcome in reads if outcome == "ok"]
    ctx.note(f"reads: {len(reads)} by {READERS} readers, {raised} raised, {wrong} wrong; "
             f"refreshes: {len(serve.refresh_s)} ok, {serve.refresh_fail} failed, every {REFRESH_EVERY_S:g} s")
    if ok:
        ctx.note(f"serve_p50_ms={median(ok):.2f} (successful reads) serve_qps={len(ok) / wall:.2f}")
    ctx.note("read latency, failed reads as the window: " + " ".join(
        f"p{q:g}={percentile(latencies, q):.1f}" for q in (50, 200 / 3, 75, 90)))
    if serve.refresh_s:
        ctx.note(f"refresh_s={median(serve.refresh_s):.4f} (median materialize)")
    ctx.note(f"reads of the store left after the window: {left_failed} of {len(MIX)} failed")
    for e in sorted(set(serve.errors))[:5]:
        ctx.note(f"FAILED {e}")
    ctx.note("correctness: warm and final reads match DuckDB; window reads that do not are failed")
    return {
        "warm_s": warm_s,
        "gen_s": gen_s,
        "latencies_ms": latencies,
        "tail_q": TAIL_Q,
        "throughput": len(ok) / wall,
        "layers": layers,
    }
