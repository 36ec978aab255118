"""End-to-end BaseDBApp path (SURVEY §3.2): CDC envelope -> parse/normalize
-> delete filter -> config-driven routing -> fact sink + dim table MERGE."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_real_time_data_warehouse_spark.sources.cdc import (
    cdc_initial_load,
    parse_cdc,
    simulate_cdc_batch,
)
from flink_real_time_data_warehouse_spark.storage import TxLog
from flink_real_time_data_warehouse_spark.streaming.router import (
    RouteConfig,
    read_sink,
    route_micro_batch,
)
from flink_real_time_data_warehouse_spark.tables import table

from .conftest import TEST_SF_DIR


def test_cdc_envelope_normalization(spark):
    env = simulate_cdc_batch(spark, TEST_SF_DIR)
    ops = {r["type"] for r in env.select("type").distinct().collect()}
    assert ops == {"insert", "update", "delete"}  # create was renamed
    deletes = env.where(F.col("type") == "delete")
    assert deletes.where(F.size(F.col("after")) > 0).count() == 0
    assert deletes.where(F.size(F.col("before")) == 0).count() == 0


def test_cdc_route_to_facts_and_dims(spark, tmp_path):
    env = simulate_cdc_batch(spark, TEST_SF_DIR)
    # BaseDBApp.java:50-58 — drop deletes before routing
    live = env.where(F.col("type") != "delete")
    flat = live.select(
        F.col("tableName").alias("source_table"),
        F.col("type").alias("op"),
        F.col("after")["id"].cast("long").alias("id"),
        F.col("after")["user_id"].cast("long").alias("user_id"),
        F.col("after")["total_amount"].cast("double").alias("total_amount"),
        F.col("after")["order_status"].alias("order_status"),
    )
    # dim entry declares its sink type + MERGE key in config — the router
    # drives the DimSinkFunction path itself (TableProcess.sinkType/sinkPk),
    # and every write commits through the TxLog (one commit layer).
    configs = [
        RouteConfig("order_info", "insert", "dwd_order_info", ("id", "user_id", "total_amount")),
        RouteConfig(
            "order_info", "update", "dim_order_info", ("id", "order_status"),
            sink_type="dim", sink_pk="id",
        ),
    ]
    sinks = str(tmp_path / "sinks")
    route_micro_batch(flat, configs, sinks, epoch_id=0)

    orders = table(spark, TEST_SF_DIR, "orders")
    n_total = orders.count()
    n_del = orders.where(F.col("o_orderkey") % 10 == 0).count()
    n_upd = orders.where(F.col("o_orderkey") % 10 == 1).count()
    facts = read_sink(spark, sinks, "dwd_order_info")
    assert facts.count() == n_total - n_del - n_upd
    assert read_sink(spark, sinks, "dim_order_info", "dim").count() == n_upd

    # replaying the same epoch (failed-batch retry) must not duplicate:
    # the table sink's (app_id, epoch) commit is skipped by the log, the
    # dim MERGE converges to the same keyed state
    route_micro_batch(flat, configs, sinks, epoch_id=0)
    assert read_sink(spark, sinks, "dwd_order_info").count() == facts.count()
    assert read_sink(spark, sinks, "dim_order_info", "dim").count() == n_upd

    # a NEW epoch of the same rows does append (at-least-once without
    # dedup is the caller's contract violation, not the router's)
    route_micro_batch(flat, configs[:1], sinks, epoch_id=1)
    assert read_sink(spark, sinks, "dwd_order_info").count() == 2 * facts.count()


@pytest.mark.xfail(
    strict=True,
    reason="the ODS envelope has no order column to pick a key's last update, "
    "so a batch with two updates of one dim key merges both rows",
)
def test_dim_sink_keeps_one_row_per_key_when_a_batch_updates_it_twice(spark, tmp_path):
    """Known router defect: `merge` takes one row per key, but a
    micro-batch carrying two `update` rows for one dim key hands it both,
    and the dim keeps both."""
    cols = ("id", "name")
    configs = [
        RouteConfig("user_info", op, "dim_user_info", cols, sink_type="dim", sink_pk="id")
        for op in ("insert", "update")
    ]
    schema = "source_table string, op string, id long, name string"
    sinks = str(tmp_path / "sinks")
    route_micro_batch(
        spark.createDataFrame([("user_info", "insert", 1, "a")], schema), configs, sinks,
        epoch_id=0,
    )
    route_micro_batch(
        spark.createDataFrame(
            [("user_info", "update", 1, "b"), ("user_info", "update", 1, "c")], schema
        ),
        configs, sinks, epoch_id=1,
    )
    rows = read_sink(spark, sinks, "dim_user_info", "dim").collect()
    assert len(rows) == 1, sorted(tuple(r) for r in rows)


USER_SCHEMA = "source_table string, op string, id long, name string, acct double"


def _user_rows(*rows):
    """ODS user_info rows: (op, id, name, acct)."""
    return [("user_info", op, i, name, acct) for op, i, name, acct in rows]


#: (case, update config's sink_columns, the batch routed after the seed
#: batch, the dim's rows afterwards as {(id, name, acct)})
DIM_SHARING_CASES = [
    ("same key in both configs: the update lands", ("id", "name", "acct"),
     _user_rows(("insert", 1, "a", 1.0), ("update", 1, "b", 2.0)),
     {(9, "s", 9.0), (None, "n0", 0.0), (1, "b", 2.0)}),
    ("update config without acct: acct reads null", ("id", "name"),
     _user_rows(("insert", 1, "a", 1.0), ("update", 1, "b", 2.0), ("update", 9, "t", 3.0)),
     {(None, "n0", 0.0), (1, "b", None), (9, "t", None)}),
    ("null keys in both configs: all land", ("id", "name", "acct"),
     _user_rows(("insert", None, "n1", 1.0), ("insert", 3, "c", 3.0),
                ("update", None, "n2", 2.0), ("update", 9, "u", 4.0)),
     {(None, "n0", 0.0), (None, "n1", 1.0), (3, "c", 3.0), (None, "n2", 2.0), (9, "u", 4.0)}),
    ("new keys only", ("id", "name", "acct"),
     _user_rows(("insert", 5, "e", 5.0), ("update", 6, "f", 6.0)),
     {(9, "s", 9.0), (None, "n0", 0.0), (5, "e", 5.0), (6, "f", 6.0)}),
]


@pytest.mark.parametrize(
    "update_cols, batch, want", [c[1:] for c in DIM_SHARING_CASES],
    ids=[c[0] for c in DIM_SHARING_CASES],
)
def test_dim_configs_sharing_a_table_land_as_sequential_merges(
    spark, tmp_path, update_cols, batch, want
):
    """An `insert` and an `update` dim config that share `dim_user_info`:
    one routed batch leaves the rows that merging the insert config's
    rows and then the update config's rows would leave."""
    configs = [
        RouteConfig("user_info", "insert", "dim_user_info", ("id", "name", "acct"),
                    sink_type="dim", sink_pk="id"),
        RouteConfig("user_info", "update", "dim_user_info", update_cols,
                    sink_type="dim", sink_pk="id"),
    ]
    sinks = str(tmp_path / "sinks")
    seed = _user_rows(("insert", 9, "s", 9.0), ("insert", None, "n0", 0.0))
    route_micro_batch(spark.createDataFrame(seed, USER_SCHEMA), configs, sinks, epoch_id=0)
    route_micro_batch(spark.createDataFrame(batch, USER_SCHEMA), configs, sinks, epoch_id=1)
    rows = read_sink(spark, sinks, "dim_user_info", "dim").collect()
    got = [(r["id"], r["name"], r["acct"]) for r in rows]
    assert len(got) == len(want) and set(got) == want, sorted(got, key=repr)


def test_router_micro_batch_job_count(spark, tmp_path):
    """The Spark jobs one router micro-batch runs over `rt_pipeline`'s four
    configs (two fact appends, an `insert` and an `update` dim config that
    share one dim table), pinned: the router's micro-batch is the long pole
    of a backlog drain. The shared dim table gets one merge, so one version
    per batch."""
    from .test_plan_shape import jobs_run_by

    schema = ("source_table string, op string, id long, user_id long, "
              "total_amount double, name string, acct double")
    cols = ("id", "user_id", "total_amount")
    configs = [
        RouteConfig("order_info", "insert", "dwd_order_info", cols),
        RouteConfig("order_info", "update", "dwd_order_update", cols),
        RouteConfig("user_info", "insert", "dim_user_info", ("id", "name", "acct"), "dim", "id"),
        RouteConfig("user_info", "update", "dim_user_info", ("id", "name", "acct"), "dim", "id"),
    ]
    sinks = str(tmp_path / "sinks")

    def batch(lo):
        return spark.createDataFrame(
            [("order_info", op, lo + i, i, 1.5 * i, None, None)
             for i, op in enumerate(("insert", "update", "delete"))]
            + [("user_info", op, lo + i, None, None, f"u{i}", float(i))
               for i, op in enumerate(("insert", "update"))]
            + [("user_info", "update", lo - 10, None, None, "old", 0.5)],
            schema,
        )

    route_micro_batch(batch(10), configs, sinks, epoch_id=0)
    dim = TxLog(str(tmp_path / "sinks" / "_dims" / "dim_user_info"))
    v = dim.state().version
    jobs = jobs_run_by(spark, "router:batch",
                       lambda: route_micro_batch(batch(20), configs, sinks, epoch_id=1))
    assert len(jobs) <= 7, f"a router micro-batch ran {len(jobs)} Spark jobs"
    assert dim.state().version == v + 1
    got = {r["id"]: (r["name"], r["acct"]) for r in dim.snapshot(spark).collect()}
    assert got == {0: ("old", 0.5), 10: ("old", 0.5), 11: ("u1", 1.0),
                   20: ("u0", 0.0), 21: ("u1", 1.0)}


def test_apply_cdc_changes_seq_guard_blocks_stale_writes(spark, tmp_path):
    """Replaying an OLDER log segment after a newer one must be a no-op:
    the per-key seq guard (WHEN MATCHED AND src.seq >= tgt.seq) drops
    stale upserts and stale deletes instead of regressing the key."""
    from flink_real_time_data_warehouse_spark.sources.cdc import apply_cdc_changes

    log = TxLog(str(tmp_path / "dims" / "t"))
    fresh = spark.createDataFrame([(1, "v1-new", 20, "insert"), (2, "v2", 21, "insert")],
                                  "id long, val string, seq long, op string")
    apply_cdc_changes(log, fresh)
    # stale update of key 1, stale delete of key 2 (both seq < stored seq)
    stale = spark.createDataFrame([(1, "v1-old", 10, "update"), (2, "v2", 11, "delete")],
                                  "id long, val string, seq long, op string")
    apply_cdc_changes(log, stale)
    state = {r["id"]: (r["val"], r["seq"]) for r in log.snapshot(spark).collect()}
    assert state == {1: ("v1-new", 20), 2: ("v2", 21)}
    # a genuinely newer change still applies
    newer = spark.createDataFrame([(1, "v1-newer", 30, "update"), (2, "v2", 31, "delete")],
                                  "id long, val string, seq long, op string")
    apply_cdc_changes(log, newer)
    state = {r["id"]: r["val"] for r in log.snapshot(spark).collect()}
    assert state == {1: "v1-newer"}


def test_apply_cdc_changes_is_one_commit(spark, tmp_path):
    """A batch with both upserts and deletes advances the dim log by
    exactly one version: no reader can see the upserts without the
    deletes."""
    from flink_real_time_data_warehouse_spark.sources.cdc import apply_cdc_changes

    log = TxLog(str(tmp_path / "dims" / "t"))
    schema = "id long, val string, seq long, op string"
    apply_cdc_changes(log, spark.createDataFrame(
        [(1, "a", 1, "insert"), (2, "b", 2, "insert"), (3, "c", 3, "insert")], schema))
    v = log.state().version
    max_seq = apply_cdc_changes(log, spark.createDataFrame(
        [(1, "a2", 4, "update"), (2, "b", 5, "delete"), (4, "d", 6, "insert")], schema))
    assert max_seq == 6
    assert log.state().version == v + 1
    state = {r["id"]: r["val"] for r in log.snapshot(spark).collect()}
    assert state == {1: "a2", 3: "c", 4: "d"}


def test_route_interleaved_epoch_replays_exactly_once(spark, tmp_path):
    """Replays interleaved across epochs (checkpoint rollback: epoch 1
    replayed AFTER epoch 2 committed, then epoch 2 again) must leave
    exactly one copy of every epoch's rows — the TxLog's app_version
    high-water mark skips BOTH stale and same-epoch replays."""
    cfg = [RouteConfig("t", "insert", "sink_t", ("id",))]
    sinks = str(tmp_path / "sinks")

    def batch(lo, hi):
        return spark.range(lo, hi).selectExpr(
            "'t' AS source_table", "'insert' AS op", "id"
        )

    route_micro_batch(batch(0, 50), cfg, sinks, epoch_id=1)
    route_micro_batch(batch(50, 80), cfg, sinks, epoch_id=2)
    # restart from an older checkpoint: epoch 1 then 2 replay in order
    route_micro_batch(batch(0, 50), cfg, sinks, epoch_id=1)
    route_micro_batch(batch(50, 80), cfg, sinks, epoch_id=2)
    got = sorted(r["id"] for r in read_sink(spark, sinks, "sink_t").collect())
    assert got == list(range(80))


def test_two_routers_distinct_app_ids_share_one_sink_table(spark, tmp_path):
    """THE unification payoff (r5 verdict task 1): two routers with
    distinct app_ids land epochs in the SAME sink table — the situation
    the old marker sink refused by construction — and every row lands
    exactly once, including when each router replays its own epoch."""
    cfg = [RouteConfig("t", "insert", "sink_t", ("id",))]
    sinks = str(tmp_path / "sinks")

    def batch(lo, hi):
        return spark.range(lo, hi).selectExpr(
            "'t' AS source_table", "'insert' AS op", "id"
        )

    route_micro_batch(batch(0, 40), cfg, sinks, epoch_id=0, app_id="router-a")
    route_micro_batch(batch(40, 90), cfg, sinks, epoch_id=0, app_id="router-b")
    # each router crash-replays its epoch 0: both skipped independently
    route_micro_batch(batch(0, 40), cfg, sinks, epoch_id=0, app_id="router-a")
    route_micro_batch(batch(40, 90), cfg, sinks, epoch_id=0, app_id="router-b")
    got = sorted(r["id"] for r in read_sink(spark, sinks, "sink_t").collect())
    assert got == list(range(90))

    from flink_real_time_data_warehouse_spark.storage import TxLog

    st = TxLog(str(tmp_path / "sinks" / "sink_t")).state()
    assert st.apps == {"router-a:t:insert": 0, "router-b:t:insert": 0}


def test_router_lock_refuses_second_live_writer(tmp_path):
    import pytest

    from flink_real_time_data_warehouse_spark.streaming.router import RouterLock, SinkLockError

    sink = str(tmp_path / "sinks")
    a = RouterLock(sink).acquire()
    with pytest.raises(SinkLockError, match="live router"):
        RouterLock(sink).acquire()
    a.check()  # still the owner
    a.release()
    b = RouterLock(sink).acquire()  # free after release
    b.release()


def test_router_lock_steals_stale_and_fences(tmp_path):
    """A lock owned by a dead pid is stale: the next router steals it. The
    fenced-out original then fails check() instead of writing on."""
    import json
    import os
    import subprocess
    import sys

    import pytest

    from flink_real_time_data_warehouse_spark.streaming.router import RouterLock, SinkLockError

    sink = str(tmp_path / "sinks")
    os.makedirs(sink)
    proc = subprocess.Popen([sys.executable, "-c", "pass"])
    proc.wait()  # reaped: the pid is dead (and not recycled within the test)
    stale = RouterLock(sink)
    stale.token = "stale-token"
    with open(stale.path, "w") as f:
        f.write(json.dumps({"pid": proc.pid, "token": stale.token}))

    b = RouterLock(sink).acquire()  # steals: owner pid is dead
    b.check()
    with pytest.raises(SinkLockError, match="lost ownership"):
        stale.check()  # the presumed-dead router is fenced out
    b.release()


def _envelope(op: str, _id: int, val: str, seq: int) -> str:
    import json

    payload = {"id": str(_id), "val": val, "seq": str(seq)}
    return json.dumps(
        {
            "database": "gmall",
            "tableName": "order_info",
            "before": payload if op == "delete" else {},
            "after": {} if op == "delete" else payload,
            "type": op,
        }
    )


def test_cdc_initial_snapshot_then_tail(spark, tmp_path):
    """S2 StartupOptions.initial: backfill the existing binlog, then tail —
    changes landing DURING the backfill are neither lost nor applied twice."""
    binlog = tmp_path / "binlog"
    binlog.mkdir()
    (binlog / "f1.jsonl").write_text(
        "\n".join(_envelope("create", i, f"v{i}", 10 + i) for i in range(1, 6))
    )
    (binlog / "f2.jsonl").write_text(
        "\n".join([_envelope("update", 2, "v2b", 20), _envelope("delete", 3, "v3", 21)])
    )

    def project(parsed):
        side = F.when(F.col("type") == "delete", F.col("before")).otherwise(F.col("after"))
        return parsed.select(
            side["id"].cast("long").alias("id"),
            side["val"].alias("val"),
            side["seq"].cast("long").alias("seq"),
            F.col("type").alias("op"),
        )

    def during_backfill():
        # concurrent writer: lands between snapshot apply and tail start
        (binlog / "f3.jsonl").write_text(
            "\n".join([_envelope("create", 6, "v6", 30), _envelope("update", 1, "v1b", 31)])
        )

    log = TxLog(str(tmp_path / "dims" / "order_info"))
    boundary = cdc_initial_load(
        spark, str(binlog), project, log,
        checkpoint=str(tmp_path / "ckpt"),
        on_snapshot_applied=during_backfill,
    )
    assert boundary == 0  # the snapshot phase is one commit

    snap = {r["id"]: r["val"] for r in log.snapshot(spark).collect()}
    # exactly-once in effect: 3 deleted, 1+2 updated, 6 inserted mid-backfill
    assert snap == {1: "v1b", 2: "v2b", 4: "v4", 5: "v5", 6: "v6"}
    assert log.snapshot(spark).count() == 5  # no duplicate rows
