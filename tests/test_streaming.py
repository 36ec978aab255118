"""Streaming/batch equivalence under true multi-micro-batch replay.

The registry's streaming queries run single-batch (one fixture file); these
tests split the fixture into time-ordered files and replay with
maxFilesPerTrigger=1, so keyed state genuinely crosses micro-batch
boundaries and event-time timers fire on watermark progress."""

from __future__ import annotations

import tempfile
import threading

import pytest
from pyspark.sql import functions as F

from flink_real_time_data_warehouse_spark.operators.stateful_batch import (
    BOUNCE_TIMEOUT_S,
    SESSION_GAP_S,
    bounce_events,
    daily_first_visit,
)
from flink_real_time_data_warehouse_spark.sources.streams import (
    replay_splits,
    stream_dir,
    stream_table,
)
from flink_real_time_data_warehouse_spark.storage import TxLog
from flink_real_time_data_warehouse_spark.streaming.ingest import start_txlog_sink
from flink_real_time_data_warehouse_spark.streaming.pipelines import (
    interval_join_stream,
    log_split,
    run_to_memory,
)
from flink_real_time_data_warehouse_spark.streaming.router import RouteConfig, route_micro_batch
from flink_real_time_data_warehouse_spark.streaming.state import bounce_stream, uv_dedup_stream
from flink_real_time_data_warehouse_spark.tables import table

from .conftest import TEST_SF_DIR

N_SPLITS = 6


@pytest.fixture(scope="module")
def event_splits(spark):
    with tempfile.TemporaryDirectory(prefix="ev_splits_") as d:
        yield replay_splits(spark, TEST_SF_DIR, "events", N_SPLITS, d)


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_uv_dedup_multibatch(spark, event_splits):
    schema = spark.read.parquet(event_splits).schema
    stream = stream_dir(spark, event_splits, schema, max_files_per_trigger=1).withWatermark(
        "ts", "1 second"
    )
    got = run_to_memory(uv_dedup_stream(stream), spark)
    want = daily_first_visit(table(spark, TEST_SF_DIR, "events")).select(
        "user_id", "visit_day", "first_ts"
    )
    assert _rows(got, got.columns) == _rows(want, got.columns)


def test_uv_state_bounded_and_evicted(spark, tmp_path):
    """T2/T8: per-key UV state is two longs and idle keys are evicted by
    the event-time timer — a multi-day replay ends with O(active keys)
    state rows, not one entry per (user, day) ever seen. Also covers
    cross-batch day disorder inside the mask horizon (a late day-1 event
    after day 2 was processed must still dedup, not re-emit)."""
    import os
    import time
    from datetime import datetime

    import pandas as pd

    d = tmp_path / "uv_days"
    d.mkdir()

    batches = [
        # batch 1: both users visit day 0; user 1 twice
        [(1, 1, datetime(2024, 1, 1, 1)), (2, 1, datetime(2024, 1, 1, 2)),
         (3, 2, datetime(2024, 1, 1, 3))],
        # batch 2: user 1 day 1, plus a LATE day-0 event (admitted by the
        # 10-day watermark; must be deduped via the mask, not re-emitted)
        [(4, 1, datetime(2024, 1, 2, 1)), (5, 1, datetime(2024, 1, 1, 5))],
        # batch 3: user 1 jumps far ahead -> watermark passes user 2's
        # eviction horizon; user 2's state row must be removed
        [(6, 1, datetime(2024, 10, 1, 1))],
    ]
    base = time.time() - 100
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "ts"])
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
        f = str(d / f"b{i}.parquet")
        pdf.to_parquet(f)
        os.utime(f, (base + i * 10, base + i * 10))

    schema = "event_id LONG, user_id LONG, ts TIMESTAMP"
    stream = (
        spark.readStream.format("parquet").schema(schema).option("maxFilesPerTrigger", "1")
        .load(str(d)).withWatermark("ts", "10 days")
    )
    out = uv_dedup_stream(stream)
    name = "uv_state_bound"
    q = (
        out.writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = sorted(
        (r["user_id"], r["visit_day"].isoformat(), r["first_ts"].isoformat())
        for r in spark.table(name).collect()
    )
    assert got == [
        (1, "2024-01-01T00:00:00", "2024-01-01T01:00:00"),
        (1, "2024-01-02T00:00:00", "2024-01-02T01:00:00"),
        (1, "2024-10-01T00:00:00", "2024-10-01T01:00:00"),
        (2, "2024-01-01T00:00:00", "2024-01-01T03:00:00"),
    ]
    state_rows = q.lastProgress["stateOperators"][0]["numRowsTotal"]
    assert state_rows == 1  # user 2 evicted; only user 1 (active) remains


def test_bounce_multibatch(spark, event_splits):
    schema = spark.read.parquet(event_splits).schema
    stream = stream_dir(spark, event_splits, schema, max_files_per_trigger=1).withWatermark(
        "ts", "1 second"
    )
    got = run_to_memory(bounce_stream(stream, SESSION_GAP_S, BOUNCE_TIMEOUT_S), spark)

    ev = table(spark, TEST_SF_DIR, "events")
    max_ts = ev.agg(F.max("ts")).collect()[0][0].timestamp()
    batch = bounce_events(ev).select("event_id", "user_id", "ts")
    # streaming can only emit timer-based bounces the final watermark passed
    want = batch.where(
        F.col("ts").cast("double") + BOUNCE_TIMEOUT_S <= F.lit(max_ts - 1.0)
    )
    assert _rows(got, ["event_id", "user_id"]) == _rows(want, ["event_id", "user_id"])


def test_stream_stream_interval_join(spark, event_splits):
    """J1-shaped stream-stream join: purchases join clicks of the same user
    within [0, 1h] — streaming result equals the batch join."""
    schema = spark.read.parquet(event_splits).schema
    ev = stream_dir(spark, event_splits, schema, max_files_per_trigger=2)
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_id"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"),
        F.col("event_id").alias("c_id"),
    )
    joined = interval_join_stream(
        purchases, clicks,
        keys=F.col("p_user") == F.col("c_user"),
        left_ts="p_ts", right_ts="c_ts",
        lower="INTERVAL 0 SECOND", upper="INTERVAL 1 HOUR",
        left_watermark="1 second", right_watermark="1 second",
    )
    got = run_to_memory(joined, spark)

    b = table(spark, TEST_SF_DIR, "events")
    bp = b.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"), F.col("event_id").alias("p_id")
    )
    bc = b.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"), F.col("event_id").alias("c_id")
    )
    want = bp.join(
        bc,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts"))
        & (F.col("c_ts") <= F.col("p_ts") + F.expr("INTERVAL 1 HOUR")),
    )
    assert _rows(got, ["p_id", "c_id"]) == _rows(want, ["p_id", "c_id"])


def test_product_stats_multibatch(spark):
    """The flagship DWS aggregation under true multi-micro-batch replay:
    windowed collect_set state must accumulate across batches and finalize
    only when the watermark passes the week end — equal to the batch
    product_stats restricted to watermark-closed windows."""
    from flink_real_time_data_warehouse_spark.queries import registry
    from flink_real_time_data_warehouse_spark.streaming.stream_queries import (
        product_stats_streaming,
    )

    with tempfile.TemporaryDirectory(prefix="li_splits_") as d:
        splits = replay_splits(spark, TEST_SF_DIR, "lineitem", 5, d, ts_col="l_shipdate")
        schema = spark.read.parquet(splits).schema
        li = (
            stream_dir(spark, splits, schema, max_files_per_trigger=1)
            .withColumn("ship_ts", F.col("l_shipdate").cast("timestamp"))
            .withWatermark("ship_ts", "1 second")
        )
        got = run_to_memory(
            product_stats_streaming(li, table(spark, TEST_SF_DIR, "part")), spark
        )

    li_b = table(spark, TEST_SF_DIR, "lineitem")
    cutoff = (
        li_b.agg(
            F.date_format(
                F.max(F.col("l_shipdate").cast("timestamp")) - F.expr("INTERVAL 1 SECOND"),
                "yyyy-MM-dd HH:mm:ss",
            )
        ).collect()[0][0]
    )
    want = registry()["product_stats"].spark(spark, TEST_SF_DIR).where(F.col("edt") <= cutoff)
    cols = ["stt", "sku_id", "order_ct", "paid_order_ct", "order_sku_num"]
    assert _rows(got, cols) == _rows(want, cols)


def test_log_split_partitions(spark):
    ev = table(spark, TEST_SF_DIR, "events")
    parts = log_split(ev)
    total = sum(p.count() for p in parts.values())
    assert total == ev.count()
    assert parts["error"].where(F.col("err_code").isNull()).count() == 0


def test_router_dynamic_sinks(spark, tmp_path):
    """R2/R3: micro-batch routed per config entry into dynamically created
    sink tables, with config-driven column pruning."""
    orders = table(spark, TEST_SF_DIR, "orders")
    envelope = orders.select(
        F.lit("order_info").alias("source_table"),
        F.when(F.col("o_orderkey") % 3 == 0, "update").otherwise("insert").alias("op"),
        F.col("o_orderkey").alias("id"),
        F.col("o_custkey").alias("user_id"),
        F.col("o_totalprice").alias("total_amount"),
    )
    configs = [
        RouteConfig("order_info", "insert", "dwd_order_info", ("id", "user_id", "total_amount")),
        RouteConfig("order_info", "update", "dim_order_info", ("id", "total_amount")),
    ]
    written = route_micro_batch(envelope, configs, str(tmp_path))
    assert set(written) == {"dwd_order_info", "dim_order_info"}

    from flink_real_time_data_warehouse_spark.streaming.router import read_sink

    inserts = read_sink(spark, str(tmp_path), "dwd_order_info")
    updates = read_sink(spark, str(tmp_path), "dim_order_info")
    assert inserts.columns == ["id", "user_id", "total_amount"]
    assert updates.columns == ["id", "total_amount"]
    n = orders.count()
    assert updates.count() == orders.where(F.col("o_orderkey") % 3 == 0).count()
    assert inserts.count() + updates.count() == n


def test_exact_dedup_stream_drops_cross_batch_copies(spark, tmp_path):
    """Dedup-on-ingest: a content hash seen in batch 1 must NOT re-emit when
    a copy arrives in a later micro-batch; keeper = min id of the first
    arrival batch."""
    from flink_real_time_data_warehouse_spark.streaming.state import exact_dedup_stream

    d = str(tmp_path / "docs")
    spark.createDataFrame(
        [(10, "alpha"), (11, "beta")], ["doc_id", "text"]
    ).coalesce(1).write.parquet(d)
    spark.createDataFrame(
        [(5, "alpha"), (12, "gamma")], ["doc_id", "text"]  # alpha is a late copy
    ).coalesce(1).write.mode("append").parquet(d)
    schema = spark.read.parquet(d).schema
    stream = (
        stream_dir(spark, d, schema, max_files_per_trigger=1)
        .select(F.md5("text").alias("text_hash"), "doc_id")
    )
    got = {r.text_hash: r.keep_id for r in run_to_memory(exact_dedup_stream(stream), spark).collect()}
    import hashlib

    h = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert set(got) == {h("alpha"), h("beta"), h("gamma")}
    # alpha kept its FIRST-batch keeper (10 or 5 depending on file order —
    # both files are legal first arrivals; assert it emitted exactly once
    # and the keeper comes from the batch that introduced it)
    assert got[h("beta")] == 11
    assert got[h("gamma")] == 12
    assert got[h("alpha")] in (5, 10)


def test_minhash_dedup_stream_cross_batch_collapse(spark, tmp_path):
    """Near-dup dedup-on-ingest: a document whose MinHash signature matches
    one seen in an earlier micro-batch must not re-emit — identical TEXT is
    the strongest case (signature is a pure function of text), and a
    genuinely different text must keep its own signature row."""
    from flink_real_time_data_warehouse_spark.datapipe.dedup import (
        NUM_HASHES,
        minhash_signature_frame,
    )
    from flink_real_time_data_warehouse_spark.streaming.state import exact_dedup_stream

    text_a = "the quick brown fox jumps over the lazy dog again and again"
    text_b = "an entirely different document about distributed query engines"
    d = str(tmp_path / "docs")
    spark.createDataFrame([(1, text_a), (2, text_b)], ["doc_id", "text"]).coalesce(
        1
    ).write.parquet(d)
    spark.createDataFrame([(3, text_a)], ["doc_id", "text"]).coalesce(1).write.mode(
        "append"
    ).parquet(d)

    schema = spark.read.parquet(d).schema
    stream = stream_dir(spark, d, schema, max_files_per_trigger=1)
    sigs = minhash_signature_frame(stream, "doc_id", "text")
    keyed = sigs.select(
        F.md5(F.concat_ws("|", *[F.col(f"sig_{i}") for i in range(NUM_HASHES)])).alias(
            "sig_hash"
        ),
        F.col("doc").alias("doc_id"),
    )
    rows = run_to_memory(exact_dedup_stream(keyed, hash_col="sig_hash"), spark).collect()
    # two distinct signatures survive; the doc-3 copy of text_a collapsed
    assert len(rows) == 2
    keepers = sorted(r.keep_id for r in rows)
    assert keepers in ([1, 2], [2, 3])  # whichever file replayed first owns text_a


def test_network_streaming_source_end_to_end(spark):
    """A REAL network streaming source (Spark's socket source over a
    localhost TCP server): records leave a socket, cross the network
    stack, and land in a streaming sink — the closest this sandbox can
    get to the Kafka consumer path (S1), whose wrapper builds plans but
    has no broker to move records through. Exercises source discovery,
    micro-batch scheduling, and stop semantics on a non-file source."""
    import socket
    import threading
    import time

    lines = [f"evt-{i}" for i in range(20)]
    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]

    def serve():
        conn, _ = srv.accept()
        with conn:
            conn.sendall(("\n".join(lines) + "\n").encode())
            time.sleep(8)  # keep the connection up while batches drain

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    stream = (
        spark.readStream.format("socket")
        .option("host", "127.0.0.1")
        .option("port", str(port))
        .load()
    )
    name = "socket_sink_test"
    q = (
        stream.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
    )
    try:
        deadline = time.time() + 30
        while time.time() < deadline:
            if spark.table(name).count() >= len(lines):
                break
            time.sleep(0.5)
        got = sorted(r["value"] for r in spark.table(name).collect())
        assert got == sorted(lines), "every record must cross the socket exactly once"
    finally:
        q.stop()
        srv.close()


def test_dedup_builtin_readmits_after_watermark_expiry(spark, tmp_path):
    """The documented divergence between the two streaming-dedup paths:
    dropDuplicatesWithinWatermark EXPIRES a key once the watermark passes
    its first-seen event time + delay, so a late duplicate re-emits; the
    custom seen-flag state (NoTimeout) holds keys forever and still drops
    it. Within the watermark window both paths drop the duplicate."""
    import os
    import time
    from datetime import datetime

    from flink_real_time_data_warehouse_spark.streaming.state import (
        exact_dedup_stream,
    )

    d = str(tmp_path / "docs")
    # epoch 1: key A at 10:00. epoch 2: key B at 10:05 — the watermark
    # (10:04:50) passes A's expiry (10:00:10). Expired state is removed
    # in END-of-batch cleanup, so the epoch-3 duplicate of A still sees
    # the stale entry and is dropped; cleanup then evicts A and the
    # epoch-4 duplicate is re-admitted (one batch of lag — the pinned
    # builtin semantics).
    e1 = [(1, "A", datetime(2024, 1, 1, 10, 0, 0))]
    e2 = [(2, "B", datetime(2024, 1, 1, 10, 5, 0))]
    e3 = [(3, "A", datetime(2024, 1, 1, 10, 5, 1))]
    e4 = [(4, "A", datetime(2024, 1, 1, 10, 5, 2))]
    for i, rows in enumerate([e1, e2, e3, e4], start=1):
        tmp = str(tmp_path / f"tmp{i}")
        spark.createDataFrame(
            rows, "doc_id long, text_hash string, ts timestamp"
        ).coalesce(1).write.parquet(tmp)
        part = next(
            f for f in os.listdir(tmp)
            if f.startswith("part-") and f.endswith(".parquet")
        )
        os.makedirs(d, exist_ok=True)
        dst = os.path.join(d, f"epoch{i}.parquet")
        os.replace(os.path.join(tmp, part), dst)
        os.utime(dst, (time.time() - 100 + i * 10,) * 2)

    schema = "doc_id long, text_hash string, ts timestamp"
    builtin = run_to_memory(
        stream_dir(spark, d, schema, max_files_per_trigger=1)
        .withWatermark("ts", "10 seconds")
        .dropDuplicatesWithinWatermark(["text_hash"]),
        spark,
    )
    got = sorted((r.text_hash, r.doc_id) for r in builtin.collect())
    # A emits twice: the original, then the POST-EVICTION duplicate
    # (doc 4 — doc 3 was still dropped by the stale pre-cleanup entry).
    assert got == [("A", 1), ("A", 4), ("B", 2)], got

    custom = run_to_memory(
        exact_dedup_stream(
            stream_dir(spark, d, schema, max_files_per_trigger=1)
        ),
        spark,
    )
    kept = {r.text_hash: r.keep_id for r in custom.collect()}
    assert kept == {"A": 1, "B": 2}  # forever-state: late copy still dropped


def test_line_dedup_stream_first_arrival_wins(spark, tmp_path):
    """Line-level dedup-on-ingest: a line seen in batch 1 must NOT
    re-emit when copies arrive later; the within-batch keeper is the
    lexicographic (doc, position) minimum — (3,1) beats (3,2) and
    (7,1) — so replay order inside a batch never changes the answer."""
    import hashlib

    from flink_real_time_data_warehouse_spark.streaming.state import (
        line_dedup_stream,
    )

    d = str(tmp_path / "lines")
    spark.createDataFrame(
        [(3, 2, "cookie banner."), (3, 1, "cookie banner."),
         (7, 1, "cookie banner."), (3, 3, "unique one.")],
        ["doc_id", "sent_idx", "sentence"],
    ).coalesce(1).write.parquet(d)
    spark.createDataFrame(
        [(1, 1, "cookie banner."), (9, 1, "unique two.")],  # late copy of banner
        ["doc_id", "sent_idx", "sentence"],
    ).coalesce(1).write.mode("append").parquet(d)
    schema = spark.read.parquet(d).schema
    stream = stream_dir(spark, d, schema, max_files_per_trigger=1).select(
        F.md5("sentence").alias("line_hash"), "doc_id", "sent_idx"
    )
    got = {
        r.line_hash: (r.keep_doc, r.keep_idx)
        for r in run_to_memory(line_dedup_stream(stream), spark).collect()
    }
    h = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert set(got) == {h("cookie banner."), h("unique one."), h("unique two.")}
    assert got[h("unique one.")] == (3, 3)
    assert got[h("unique two.")] == (9, 1)
    # banner emitted exactly once, keeper from whichever batch ran first,
    # and within that batch the lexicographic minimum
    assert got[h("cookie banner.")] in ((3, 1), (1, 1))


def test_concurrent_stream_starts_restore_session_conf(spark, tmp_path):
    """Two threads build and start availableNow queries on one session, as
    a router and a DWS leg do: each start sizes its own shuffle partitions
    from its own sources, and the session's value afterwards equals its
    value before, however the starts interleave."""
    before = spark.conf.get("spark.sql.shuffle.partitions")
    n_orders = table(spark, TEST_SF_DIR, "orders").count()
    errors = []

    def leg(k: int) -> None:
        try:
            for i in range(3):
                log = TxLog(str(tmp_path / f"sink_{k}_{i}"))
                q = start_txlog_sink(stream_table(spark, TEST_SF_DIR, "orders"), log,
                                     str(tmp_path / f"ck_{k}_{i}"), app_id=f"leg{k}")
                q.awaitTermination()
                assert log.snapshot(spark).count() == n_orders
        except Exception as e:  # recorded, asserted below
            errors.append(repr(e))

    threads = [threading.Thread(target=leg, args=(k,)) for k in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_stream_dir_backlog_lists_files_on_the_driver(spark, tmp_path):
    """A micro-batch over a 40-file backlog runs no Spark job of its own:
    past Spark's parallel-discovery threshold (32 paths by default) the
    file source's explicit path list would be listed by a job with one
    task per file; the session lists it on the driver instead."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_real_time_data_warehouse_spark.session import start_foreach_batch

    src = tmp_path / "src"
    src.mkdir()
    for i in range(40):
        pq.write_table(pa.table({"id": pa.array([i], pa.int64())}), str(src / f"f{i:02d}.parquet"))
    batches = []
    q = start_foreach_batch(stream_dir(spark, str(src), "id long"),
                            lambda df, epoch: batches.append(epoch), str(tmp_path / "ck"))
    q.awaitTermination()
    assert batches == [0]
    jobs = list(spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId)))
    assert jobs == [], f"the micro-batch ran {len(jobs)} Spark job(s)"


def test_tune_session_keeps_explicit_stock_shuffle_partitions(spark):
    """An explicit spark.sql.shuffle.partitions=200 is a caller's choice,
    not the unset stock default: tune_session must leave it alone."""
    from flink_real_time_data_warehouse_spark.session import tune_session

    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "200")
        tune_session(spark)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "200"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


EV_DDL = "event_id long, user_id long, ts timestamp"


def _event_file(directory, nbytes: int) -> str:
    """One parquet file of incompressible (event_id, user_id, ts) rows,
    about `nbytes` on disk, alone in `directory`."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    directory.mkdir()
    rng = np.random.default_rng(7)
    n = nbytes // 24
    path = directory / "part-0.parquet"
    pq.write_table(pa.table({
        "event_id": pa.array(rng.integers(0, 2**62, n), pa.int64()),
        "user_id": pa.array(rng.integers(0, 2**62, n), pa.int64()),
        "ts": pa.array(rng.integers(0, 2**62, n) // 4096, pa.timestamp("us")),
    }), str(path), compression="none", use_dictionary=False)
    assert 0.9 * nbytes < path.stat().st_size < 1.1 * nbytes
    return str(directory)


def _frozen_shuffle_partitions(stream, checkpoint: str) -> int:
    """Run `stream` to completion (each micro-batch counted, so stateful
    plans commit their state) and read the shuffle-partition count its
    first offset-log entry froze: the count every run of that checkpoint
    keeps."""
    import json
    import os

    from flink_real_time_data_warehouse_spark.session import start_foreach_batch

    start_foreach_batch(stream, lambda df, epoch: df.count(), checkpoint).awaitTermination()
    with open(os.path.join(checkpoint, "offsets", "0")) as f:
        meta = json.loads(f.read().splitlines()[1])
    return int(meta["conf"]["spark.sql.shuffle.partitions"])


def _few_events(spark, d):
    """The source over `d`, filtered to (almost) no rows: the plan keeps
    its source bytes, and a stateful operator above it runs in a blink."""
    return stream_dir(spark, d, EV_DDL).where(F.col("event_id") < 1024)


def _self_join(spark, d):
    a = _few_events(spark, d).withWatermark("ts", "1 minute")
    b = _few_events(spark, d).withWatermark("ts", "1 minute").select(
        F.col("event_id").alias("b_id"), F.col("ts").alias("b_ts"))
    return a.join(b, (a.event_id == b.b_id)
                  & b.b_ts.between(a.ts, a.ts + F.expr("INTERVAL 1 MINUTE")))


def _txlog_stream(spark, d):
    """A filter over a txlog-source stream of the rows of `d`."""
    from flink_real_time_data_warehouse_spark.storage import register_txlog_source

    log = TxLog(d + "_txlog")
    log.append(spark.read.parquet(d).coalesce(1))
    register_txlog_source(spark)
    return spark.readStream.format("txlog").option("path", log.path).load().where(F.col("event_id") >= 0)


MB = 1024 * 1024

#: (case, source file bytes, frame over the source directory, count chosen
#: at the test session's 4 shuffle partitions)
SIZING_CASES = [
    ("small stateless file source", 5 * MB // 2,
     lambda spark, d: stream_dir(spark, d, EV_DDL), 3),  # ceil(2.5 MB / 1 MB)
    ("source over 4 MB", 5 * MB,
     lambda spark, d: stream_dir(spark, d, EV_DDL), 4),  # session count
    ("pandas-stateful plan", 5 * MB // 2,
     lambda spark, d: bounce_stream(_few_events(spark, d).withWatermark("ts", "1 second"),
                                    SESSION_GAP_S, BOUNCE_TIMEOUT_S), 4),  # session count
    ("stream-stream join", 5 * MB // 2,
     _self_join, 2),  # ceil(2 x 2.5 MB / 32 MB), at least 2
    ("small txlog-source stream", 64 * 1024,
     _txlog_stream, 2),  # a Python data source leaf is no pandas operator
]


def test_stream_start_sizes_each_operator_class(spark, tmp_path):
    """The shuffle-partition count each class of streaming plan freezes
    at its start: stateless and stream-stream-join plans are sized to
    their source bytes, big sources and pandas-stateful plans keep the
    session's count."""
    assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
    got = {
        case: _frozen_shuffle_partitions(build(spark, _event_file(tmp_path / f"src{i}", nbytes)),
                                         str(tmp_path / f"ck{i}"))
        for i, (case, nbytes, build, _) in enumerate(SIZING_CASES)
    }
    assert got == {case: parts for case, _, _, parts in SIZING_CASES}


def test_unstarted_sources_do_not_size_the_next_start(spark, tmp_path):
    """Sources that are built and never started leave the next start's
    shuffle-partition count alone: each start sizes itself from its own
    plan."""
    from .conftest import ORACLE_SF_DIR

    clean = _frozen_shuffle_partitions(stream_table(spark, TEST_SF_DIR, "events"),
                                       str(tmp_path / "ck_clean"))
    for _ in range(2):
        stream_table(spark, ORACLE_SF_DIR, "lineitem")
    got = _frozen_shuffle_partitions(stream_table(spark, TEST_SF_DIR, "events"),
                                     str(tmp_path / "ck"))
    assert got == clean
