"""Plan-shape regression tests: lock in the physical properties the engine
is designed around. A correctness-green query with a regressed plan (lost
broadcast, lost pushdown, reintroduced Expand) is a perf bug at 100 TB —
these tests fail it early."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_real_time_data_warehouse_spark.operators.bucketing import bucketed, write_bucketed
from flink_real_time_data_warehouse_spark.queries import registry
from flink_real_time_data_warehouse_spark.sources.streams import stream_table
from flink_real_time_data_warehouse_spark.tables import table

from .conftest import TEST_SF_DIR


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.mark.parametrize("name", ["province_stats", "order_wide", "product_stats", "top_customers"])
def test_dim_joins_are_broadcast(spark, name):
    df = registry()[name].spark(spark, TEST_SF_DIR)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan, f"{name}: dim join lost its broadcast"
    assert "SortMergeJoin" not in plan, f"{name}: unexpected shuffle join\n{plan}"


@pytest.mark.parametrize(
    ("name", "pinned_hints"),
    [
        ("province_stats", 2),  # nation + region pinned; customer unhinted
        ("rollup_sales", 2),  # nation + region
        ("top_customers", 0),  # customer is the only dim — no pin at all
        ("top_parts_per_nation", 0),
        ("local_supplier_volume", 3),  # supplier + nation + region
    ],
)
def test_customer_join_not_pinned(spark, name, pinned_hints):
    """fact x customer must NOT carry a broadcast hint: customer is O(users)
    (~15 M rows at TPC-H sf100, billions at 100 TB) and a pinned hint
    overrides Spark's size check — OOM at scale where an unhinted join lets
    AQE fall back to shuffle. Tiny dims (nation/region/supplier) keep their
    pins; we assert the optimized plan has EXACTLY the tiny-dim hint count.
    Catalyst may still broadcast customer from its size ESTIMATE at test SF
    (fine, adaptive); the customer join itself is asserted present via the
    query's correctness row, not its strategy."""
    df = registry()[name].spark(spark, TEST_SF_DIR)
    opt = optimized_of(df)
    assert opt.count("strategy=broadcast") == pinned_hints, (
        f"{name}: expected {pinned_hints} pinned broadcast hints "
        f"(tiny dims only, customer unhinted)\n{opt}"
    )


@pytest.mark.parametrize("name", ["province_stats", "product_stats", "visitor_stats"])
def test_no_expand_for_distinct(spark, name):
    """Two-level distinct shapes must not regress to Expand-based plans
    (visitor_stats has a single distinct agg — Expand there is acceptable
    only while it remains the lone aggregate; keep it expand-free too)."""
    if name == "visitor_stats":
        pytest.skip("single-pass countDistinct is intended here")
    plan = plan_of(registry()[name].spark(spark, TEST_SF_DIR))
    assert "Expand" not in plan, f"{name}: Expand reappeared\n{plan}"


def test_filter_pushdown_reaches_scan(spark):
    df = registry()["q1_pricing_summary"].spark(spark, TEST_SF_DIR)
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan or "PushedFilters: [" in plan
    # the shipdate predicate must appear in the scan's pushed filters
    scan_part = plan[plan.index("Scan parquet"):]
    assert "l_shipdate" in scan_part.split("ReadSchema")[0]


def test_column_pruning_reaches_scan(spark):
    """serving_gmv touches 3 of 6 event columns; the scan must not read more."""
    df = registry()["serving_gmv"].spark(spark, TEST_SF_DIR)
    plan = plan_of(df)
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "event_type" in read_schema and "value" in read_schema
    assert "props" not in read_schema and "event_id" not in read_schema


DWS_BATCH = (
    "order_wide", "payment_wide", "product_stats", "province_stats",
    "visitor_stats", "keyword_stats", "uv_daily", "bounce_events",
    "session_stats", "serving_gmv",
)


def jobs_run_by(spark, group, build):
    """Ids of the Spark jobs ``build()`` ran on this thread."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", DWS_BATCH)
def test_building_dws_plan_runs_no_job(spark, name):
    """Building a DWS plan runs no Spark job: table() passes the footer
    schema, so no schema-inference job runs before the plan executes."""
    jobs = jobs_run_by(spark, f"build:{name}", lambda: registry()[name].spark(spark, TEST_SF_DIR))
    assert jobs == [], f"{name}: building the plan ran {len(jobs)} Spark job(s)"


def test_building_stream_table_runs_no_job(spark):
    jobs = jobs_run_by(spark, "build:stream_table", lambda: stream_table(spark, TEST_SF_DIR, "events"))
    assert jobs == [], f"stream_table ran {len(jobs)} Spark job(s)"


def test_bucketed_join_has_no_exchange(spark):
    """Co-located join: bucketed tables sort-merge-join with zero shuffle
    exchanges (broadcast disabled to force the shuffle-capable path —
    at 100 TB neither fact side is broadcastable)."""
    orders = table(spark, TEST_SF_DIR, "orders")
    li = table(spark, TEST_SF_DIR, "lineitem")
    write_bucketed(orders, "b_orders", "o_orderkey", 8)
    write_bucketed(li, "b_lineitem", "l_orderkey", 8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = bucketed(spark, "b_orders").join(
            bucketed(spark, "b_lineitem"), F.col("o_orderkey") == F.col("l_orderkey")
        )
        plan = plan_of(j)
        assert "Exchange hashpartitioning" not in plan, f"bucketed join still shuffles:\n{plan}"
        assert "Bucketed: true" in plan
        assert j.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_partition_pruning(spark, tmp_path):
    """A filter on the partition column must become a PartitionFilter
    (directory skip), not a row filter."""
    from flink_real_time_data_warehouse_spark.operators.bucketing import (
        read_partitioned,
        write_partitioned,
    )

    ev = table(spark, TEST_SF_DIR, "events").withColumn(
        "dt", F.date_format("ts", "yyyy-MM-dd")
    )
    path = str(tmp_path / "events_by_day")
    write_partitioned(ev, path, ["dt"])
    df = read_partitioned(spark, path).where(F.col("dt") == "2024-01-05")
    plan = plan_of(df)
    assert "PartitionFilters: [isnotnull(dt" in plan or "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters: ")[1].split("]")[0]
    assert "dt" in pf and "2024-01-05" in pf
    assert df.count() == ev.where(F.col("dt") == "2024-01-05").count()


def test_embedding_pairs_no_cartesian(spark):
    """The LSH-bucketed near-dup query must never degrade to an all-pairs
    plan: candidates join hash-partitioned on (band_id, bucket), vectors
    fetched by equi-join — no nested-loop anywhere."""
    df = registry()["embedding_cosine_pairs"].spark(spark, TEST_SF_DIR)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan, f"all-pairs plan reappeared:\n{plan}"
    assert "BroadcastNestedLoopJoin" not in plan, f"nested-loop reappeared:\n{plan}"


def test_semantic_dedup_pairs_join_on_cluster(spark):
    """SemDeDup's pair comparison must stay cluster-scoped: the self-join
    keys on cid (hash/sort-merge), never a corpus-level cartesian. The only
    nested-loop allowed is the broadcast of the k tiny centroids for the
    assignment scan."""
    df = registry()["semantic_dedup"].spark(spark, TEST_SF_DIR)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan, f"all-pairs plan:\n{plan}"
    # each self-join side carries exactly two ONE-ROW broadcasts — the
    # 1-row corpus count (adaptive k) and the 1-row centroid array
    # (best_centroid's zero-shuffle assignment); formatted plans list
    # every operator twice (tree + details), so <= 2 sides x 2 crosses
    # x 2 listings. The pair join itself must be KEYED (equi-join on the
    # cluster id — hash or sort-merge; at test scale the planner may
    # broadcast one side, which is still keyed, never a cartesian).
    assert plan.count("BroadcastNestedLoopJoin") <= 8, plan
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    ), plan


def test_correlated_subquery_decorrelated(spark):
    """The Q17-shape correlated scalar subquery must be rewritten by
    Catalyst into a per-partkey aggregate + equi-join — no per-row subquery
    execution nodes, no cartesian."""
    df = registry()["small_qty_revenue"].spark(spark, TEST_SF_DIR)
    plan = plan_of(df)
    assert "Subquery" not in plan, f"undecorrelated subquery survived:\n{plan}"
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan and "Join" in plan


def test_kafka_plan_construction(spark):
    """S1/K1/K2 wrappers build valid plans/writers (connector jar absent, so
    no start); K2's per-row topic column is present for dynamic routing."""
    from flink_real_time_data_warehouse_spark.sources.kafka import kafka_sink
    from flink_real_time_data_warehouse_spark.sources.streams import stream_table

    df = stream_table(spark, TEST_SF_DIR, "events")
    writer = kafka_sink(
        df.withColumn("topic", F.concat(F.lit("dwd_"), F.col("event_type"))),
        brokers="localhost:9092", topic=None, checkpoint="/tmp/nope",
    )
    assert writer is not None  # plan constructed; start() needs the jar


def test_top_per_group_has_window_group_limit(spark):
    """Per-group Top-N must keep the WindowGroupLimit pushdown (map-side
    top-k pruning before the group exchange) — losing it means sorting
    every group's full contents at 100 TB."""
    plan = plan_of(registry()["top_parts_per_nation"].spark(spark, TEST_SF_DIR))
    assert "WindowGroupLimit" in plan, f"top-k pruning lost:\n{plan}"
    assert "Partial" in plan.split("WindowGroupLimit")[1] or plan.count("WindowGroupLimit") >= 2


def test_anti_join_is_hash_with_pushdown(spark):
    """NOT EXISTS must plan as a hash LeftAnti (never a nested loop) with
    the date predicate pushed into the probe-side scan."""
    plan = plan_of(registry()["dormant_customers"].spark(spark, TEST_SF_DIR))
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan, f"anti join degraded:\n{plan}"
    # the orders scan (the build side under the BroadcastExchange) must carry
    # the date predicate in its scan-level filters, before any join runs
    orders_scan = plan[plan.index("BroadcastExchange"):]
    assert "o_orderdate" in orders_scan.split("ReadSchema")[0], f"date filter not pushed:\n{plan}"


def test_quantiles_aggregate_is_partial(spark):
    """percentile_disc must run as a partial+final (mergeable) aggregate —
    a single-node sort-based percentile would not scale."""
    plan = plan_of(registry()["order_value_quantiles"].spark(spark, TEST_SF_DIR))
    assert "partial_percentile_disc" in plan, f"percentile not map-side partial:\n{plan}"


def test_dup_spans_single_shuffle_to_pairs(spark):
    """Span matching must generate pairs map-side from one shingle groupBy —
    no self-join of the positional set, no nested loop."""
    df = registry()["dup_spans"].spark(spark, TEST_SF_DIR)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan, f"positional self-join reappeared:\n{plan}"
    assert "ShuffledHashJoin" not in plan, f"positional self-join reappeared:\n{plan}"


def test_cumulate_window_runs_on_preagg(spark):
    """CUMULATE = hourly tumble pre-agg + per-day running sum: the window
    must partition by day (never SinglePartition) and run AFTER the hash
    aggregate — i.e. over O(24) hourly rows per day, not the detail."""
    df = registry()["visitor_stats_cumulate"].spark(spark, TEST_SF_DIR)
    plan = plan_of(df)
    assert "SinglePartition" not in plan, f"global window:\n{plan}"
    assert "hashpartitioning(day" in plan, f"window lost its day partitioning:\n{plan}"
    assert plan.index("Window") < plan.index("HashAggregate"), (
        f"window not above the pre-aggregate:\n{plan}"
    )


def test_incremental_dedup_semi_joins_only(spark):
    """New-vs-index dedup must probe via hash semi joins (digest + band
    bucket) — no nested loop and no pairwise join anywhere. Stronger: the
    probe direction is flipped so every join in the verdict plan is a
    BROADCAST join of batch-bounded keys — a sort-merge or shuffled-hash
    join here would mean the corpus-sized index is being shuffled per
    ingest."""
    df = registry()["dedup_incremental"].spark(spark, TEST_SF_DIR)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan, f"semi-join probe lost:\n{plan}"
    assert "SortMergeJoin" not in plan, f"index side shuffled:\n{plan}"
    assert "ShuffledHashJoin" not in plan, f"index side shuffled:\n{plan}"


def test_embedding_quantize_no_shuffle(spark):
    """int8 quantization is per-row column arithmetic — the plan must have
    no Exchange at all."""
    df = registry()["embedding_quantize"].spark(spark, TEST_SF_DIR)
    plan = plan_of(df)
    assert "Exchange" not in plan, f"quantization picked up a shuffle:\n{plan}"


def test_curation_pipeline_no_nested_loop(spark):
    """The composed funnel joins stages on the doc id and broadcasts only
    the benchmark shingle probe — never a nested loop over the corpus."""
    df = registry()["curation_pipeline"].spark(spark, TEST_SF_DIR)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_filter_funnel_fused_flag_scan(spark):
    """The funnel must be ONE scan, ONE digest shuffle, ZERO joins (r10
    verdict task 3 + the r11 keeper-as-group-property rewrite): the
    three per-row stage flags fuse into one Project, and the dedup
    keeper needs no join-back because a digest contributes to stage 4
    iff its group has any survivor. The 5-scan/3-join formulation this
    replaced would sort-merge corpus-sized flag tables at 100 TB."""
    df = registry()["filter_funnel"].spark(spark, TEST_SF_DIR)
    plan = plan_of(df)
    assert plan.count("Scan parquet") == 1, f"flag stages unfused:\n{plan}"
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in plan, f"keeper picked up a join again: {bad}\n{plan}"
    # the digest groupBy must partially aggregate map-side (hot-key-safe)
    assert plan.count("HashAggregate") >= 2, f"lost map-side combine:\n{plan}"


def test_ingest_pipeline_no_nested_loop(spark):
    """The incremental ingest funnel (dedup verdict + quality gate) must
    stay hash-join only end to end."""
    df = registry()["ingest_pipeline"].spark(spark, TEST_SF_DIR)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_topk_queries_use_take_ordered(spark):
    """Global top-N (vocab, tfidf) must plan as TakeOrderedAndProject —
    per-partition heaps merged — never a global range sort."""
    for name in ["vocab_topk", "tfidf_search"]:
        df = registry()[name].spark(spark, TEST_SF_DIR)
        plan = plan_of(df)
        assert "TakeOrderedAndProject" in plan, f"{name}: lost the top-k plan:\n{plan}"
        assert "Exchange rangepartitioning" not in plan, f"{name}: global sort:\n{plan}"


def test_token_budget_window_partitioned_by_lang(spark):
    """The running token sum must partition by language — a global-order
    window would serialize the corpus through one task."""
    df = registry()["token_budget_sample"].spark(spark, TEST_SF_DIR)
    plan = plan_of(df)
    assert "hashpartitioning(lang" in plan, f"window lost its lang partitioning:\n{plan}"
    assert "SinglePartition" not in plan, f"global single-partition window:\n{plan}"


def test_scd2_single_shuffle(spark):
    """All SCD2 window passes (change-detection lag, validity lead,
    current flag) must share one key partitioning: exactly one Exchange,
    and it hashes on the dimension key."""
    df = registry()["scd2_user_status"].spark(spark, TEST_SF_DIR)
    plan = plan_of(df)
    assert plan.count("Exchange") == 1, f"history build shuffles more than once:\n{plan}"
    assert "hashpartitioning(user_id" in plan
    assert "SinglePartition" not in plan


def test_q5_single_fact_shuffle(spark):
    """local_supplier_volume: the only non-broadcast join is the
    lineitem x orders equi-join — every dim must ride a broadcast, and
    the date filter must reach the orders scan."""
    df = registry()["local_supplier_volume"].spark(spark, TEST_SF_DIR)
    plan = plan_of(df)
    assert "SortMergeJoin" not in plan or plan.count("SortMergeJoin") <= 1, plan
    assert plan.count("BroadcastHashJoin") >= 4, f"dim broadcast lost:\n{plan}"
    scan_part = plan[plan.index("Scan parquet"):]
    assert "o_orderdate" in plan.split("PushedFilters")[1][:200] or "o_orderdate" in scan_part


def test_cluster_sample_quota_is_group_limited(spark):
    """Per-cluster quota must plan as WindowGroupLimit (map-side partial
    top-cap), and the only nested-loop join allowed is the broadcast of
    the k tiny centroids — an all-pairs vector join here would be the
    O(n^2) scale-killer."""
    df = registry()["cluster_balanced_sample"].spark(spark, TEST_SF_DIR)
    plan = plan_of(df)
    assert "WindowGroupLimit" in plan, f"quota lost its group limit:\n{plan}"
    assert "CartesianProduct" not in plan, f"non-broadcast all-pairs join:\n{plan}"
    # the quota window itself must be keyed by cid (both Window and its
    # WindowGroupLimit print their [cid] partition spec); the ONLY
    # single-partition exchange allowed is the k-row centroid-array
    # rollup feeding best_centroid's broadcast (1-row control frame,
    # not corpus data)
    assert "Window [row_number() windowspecdefinition(cid" in plan, plan
    assert plan.count("Exchange SinglePartition") <= 1, (
        f"global single-partition corpus work:\n{plan}"
    )


def test_lm_surprisal_no_expand_no_hint_pin(spark):
    """No Expand in the surprisal agg, and the vocab join must carry no
    broadcast HINT in the optimized plan — Catalyst may still pick
    broadcast from its size ESTIMATE (scale-adaptive, correct), but a
    hard hint would pin corpus-derived state as broadcast at 100 TB."""
    df = registry()["lm_surprisal"].spark(spark, TEST_SF_DIR)
    assert "Expand" not in plan_of(df)
    opt = optimized_of(df)
    # exactly one hinted broadcast: the 1-row corpus total; the token
    # counts side must be hint-free
    assert opt.count("JoinHint leftHint=none, rightHint=(strategy=broadcast)") <= 1, opt


def test_shaped_q17_prunes_bound_aggregate_input(spark):
    """small_qty_revenue_shaped must aggregate the per-partkey bound over
    brand-pruned lineitem (semi-join BELOW the bound aggregate), while the
    declared small_qty_revenue documents Catalyst's key-complete
    decorrelation (no semi-join anywhere — the bound agg runs over the
    bare scan). Losing the semi-join turns the shaped plan back into a
    full-lineitem aggregate — the exact 100 TB regression this guards."""
    qs = registry()
    declared = plan_of(qs["small_qty_revenue"].spark(spark, TEST_SF_DIR))
    shaped = plan_of(qs["small_qty_revenue_shaped"].spark(spark, TEST_SF_DIR))
    assert "LeftSemi" not in declared, "declared plan unexpectedly shaped"
    assert "LeftSemi" in shaped, "shaped plan lost its pruning semi-join"
    assert "SortMergeJoin" not in shaped, "semi-join probe lost its broadcast"
    lines = shaped.splitlines()
    agg_i = next(
        i for i, l in enumerate(lines) if "HashAggregate" in l and "l_partkey" in l
    )
    semi_is = [i for i, l in enumerate(lines) if "LeftSemi" in l]
    # Both consumers of the pruned lineitem (the bound aggregate's subtree
    # and the final join's probe side) carry the semi-join; the aggregate's
    # copy prints inside its subtree, i.e. after the aggregate line.
    assert any(i > agg_i for i in semi_is), (
        "bound aggregate is not above a semi-join (agg input not pruned)\n" + shaped
    )


def test_knn_label_noise_pairs_join_on_cluster(spark):
    """Label-noise kNN must stay cluster-scoped: the neighbor join keys on
    cid (hash/sort-merge), never a corpus-level cartesian; the only
    nested-loop allowed is the broadcast of the k tiny centroids per
    self-join side."""
    df = registry()["knn_label_noise"].spark(spark, TEST_SF_DIR)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan, f"all-pairs plan:\n{plan}"
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan
    # keyed join on cid — hash/sort-merge, or a size-based broadcast of
    # one side at test scale (still keyed, never a cartesian)
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    ), plan


def test_embedding_outliers_no_pairwise_work(spark):
    """The outlier pass is assignment + one window — it must never grow a
    pair join: no cartesian, no shuffle join, only the centroid broadcast."""
    df = registry()["embedding_outliers"].spark(spark, TEST_SF_DIR)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan
    assert "Window" in plan


def test_waiting_supplier_decorrelated_self_joins(spark):
    """The Q21-shape EXISTS/NOT EXISTS pair must decorrelate into keyed
    semi/anti self-joins of lineitem — no surviving Subquery nodes, no
    cartesian, no per-row re-scan."""
    df = registry()["waiting_supplier"].spark(spark, TEST_SF_DIR)
    plan = plan_of(df)
    assert "Subquery" not in plan, f"undecorrelated subquery survived:\n{plan}"
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan


def test_q13_agg_reuses_join_partitioning(spark):
    """order_count_distribution: the per-custkey count groups on the SAME
    key the outer join shuffled on, so it must add NO exchange — the plan
    carries exactly 3 (two join inputs + the tiny c_count re-agg) — and
    the ON-clause priority filter must reach the orders side below the
    join (an outer join must never push it as a post-join filter)."""
    from flink_real_time_data_warehouse_spark.plans.tpch import order_count_distribution

    p = plan_of(order_count_distribution(spark, TEST_SF_DIR))
    assert p.count("Exchange") == 3, p
    join_pos = p.find("LeftOuter")
    assert join_pos != -1 and "1-URGENT" in p[join_pos:], "filter below the join"


def test_q18_single_shuffle_two_broadcasts(spark):
    """large_volume_orders: lineitem shuffles once (the HAVING aggregate,
    now inside the persisted gate relation); the size-gated survivors
    broadcast into orders and the tiny join result broadcasts into
    customer — the JOINS add no exchange beyond the aggregate's own."""
    from flink_real_time_data_warehouse_spark.plans.tpch import large_volume_orders

    p = plan_of(large_volume_orders(spark, TEST_SF_DIR))
    assert p.count("BroadcastHashJoin") == 2, p
    # the only hash exchange(s) belong to the cached HAVING aggregate; the
    # join tree itself is exchange-free
    assert p.count("Exchange hashpartitioning") <= 2, p
    last_join = p.rindex("BroadcastHashJoin")
    assert "InMemoryTableScan" in p or "Exchange hashpartitioning" in p[last_join:], p


def test_q22_anti_join_filter_pushed(spark):
    """untapped_customers: the anti join's priority filter sits on the
    orders SCAN side (only urgent rows shuffle), and the scalar gate is a
    broadcast, not a shuffle."""
    from flink_real_time_data_warehouse_spark.plans.tpch import untapped_customers

    p = plan_of(untapped_customers(spark, TEST_SF_DIR))
    anti = p.find("LeftAnti")
    assert anti != -1 and "1-URGENT" in p[anti:], "urgent filter below the anti join"


def test_runtime_bloom_filter_injected(spark):
    """A selective filtered dim side of a SHUFFLE join injects a runtime
    bloom filter onto the fact scan (fact rows that cannot join are
    dropped BEFORE the exchange — the 100 TB shuffle-reduction path).
    Thresholds are lowered session-locally because the test fixture is
    tiny; the conf itself is pinned in session._RUNTIME_CONF."""
    old = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        big = table(spark, TEST_SF_DIR, "lineitem")
        dim = table(spark, TEST_SF_DIR, "part").where(F.col("p_brand") == "Brand#21")
        j = big.join(dim, big.l_partkey == dim.p_partkey)
        p = j._jdf.queryExecution().optimizedPlan().toString().lower()
        assert "bloom" in p or "might_contain" in p, "runtime filter not injected"
    finally:
        for k, v in old.items():
            if v is not None:
                spark.conf.set(k, v)


def test_q19_or_implications_pushed_to_both_scans(spark):
    """discounted_brand_revenue: the 3-branch OR spans both join sides,
    but its single-side implications must reach each scan — the part
    scan's pushed/filter section mentions p_brand, the lineitem side
    filters l_quantity BELOW the join."""
    from flink_real_time_data_warehouse_spark.plans.tpch import discounted_brand_revenue

    p = plan_of(discounted_brand_revenue(spark, TEST_SF_DIR))
    join_pos = max(p.find("BroadcastHashJoin"), p.find("SortMergeJoin"))
    assert join_pos != -1
    below = p[join_pos:]
    assert "p_brand" in below and "l_quantity" in below, "implications not pushed"


def test_q4_exists_is_semi_join_with_residual(spark):
    """late_shipment_priority: the cross-table-inequality EXISTS must be
    a LEFT SEMI join (each order at most once), with the inequality as
    the join residual — never an inner join + distinct."""
    from flink_real_time_data_warehouse_spark.plans.tpch import late_shipment_priority

    p = plan_of(late_shipment_priority(spark, TEST_SF_DIR))
    assert "LeftSemi" in p, p
    assert "Distinct" not in p and "deduplicate" not in p.lower(), p


def test_q20_window_reuses_aggregate_partitioning(spark):
    """excess_shippers: the per-part total is a window over the
    (part, supplier) aggregate — partitioned on the aggregate's own key
    prefix, so the window adds no exchange."""
    from flink_real_time_data_warehouse_spark.plans.tpch import excess_shippers

    p = plan_of(excess_shippers(spark, TEST_SF_DIR))
    win_pos = p.find("Window")
    part_exch = p.find("Exchange hashpartitioning(l_partkey")
    assert win_pos != -1 and part_exch != -1
    assert part_exch > win_pos, "the partkey exchange must sit BELOW the window"
    assert "Exchange hashpartitioning" not in p[win_pos:part_exch], (
        "an extra shuffle crept between the window and the shared partkey exchange"
    )
    assert p.count("Exchange hashpartitioning(l_partkey") == 1, (
        "agg and window must share ONE partkey exchange"
    )


def test_semantic_dedup_capped_joins_on_cluster_band(spark):
    """The capped twin's self-join must key on (cid, sub) — a hash/sort
    join whose group size is bounded by the cap in plan, never a
    cartesian; broadcasts stay limited to the count + centroid scans."""
    df = registry()["semantic_dedup_capped"].spark(spark, TEST_SF_DIR)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan, f"all-pairs plan:\n{plan}"
    assert plan.count("BroadcastNestedLoopJoin") <= 4, plan
    # keyed join on (cid, sub) — hash/sort-merge, or a size-based
    # broadcast of one side at test scale (still keyed)
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    ), plan
    # the band column must be a join key (both sides), not a filter
    assert "sub" in plan and "suba" in plan, plan


def test_dup_substring_bucketed_window_no_pairs(spark):
    """Exact-substring dedup (r7 verdict task 5): ZERO pair generation —
    one explode, one shuffle on the 8-token prefix bucket, one in-bucket
    window. No join of the suffix set against itself, no cartesian; the
    window is PARTITIONED (never a single-partition global sort)."""
    from flink_real_time_data_warehouse_spark.datapipe.dedup import (
        dup_substring_positions,
    )

    docs = table(spark, TEST_SF_DIR, "documents")
    df = dup_substring_positions(docs, "doc_id", "text")
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan
    # the suffix relation is never self-joined: the only join is the
    # hot-bucket anti-join guard
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1
    # partitioned window: the Window's partition spec names the bucket
    win = [ln for ln in plan.splitlines() if "Window" in ln]
    assert win and all("bucket" in ln for ln in win), win


def test_pq_adc_scan_joins_codes_to_broadcast_lut(spark):
    """PQ ANN (ann_pq_topk): the candidate scan must join the m-long CODE
    rows to a BROADCAST lookup table — never a cartesian of corpus
    against queries, and the corpus's float embeddings appear only in
    the top-cand re-rank joins."""
    df = registry()["ann_pq_topk"].spark(spark, TEST_SF_DIR)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    # tiny relations (codebooks, LUT, candidates, queries) broadcast
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan, f"ADC scan lost its broadcast:\n{plan}"


def test_multimodal_dimensions_zero_python(spark):
    """Header-level media parsing (r8 verdict task 5) is pure JVM column
    arithmetic: no Arrow/Python eval node anywhere in the plan, and the
    whole synth->parse chain stays inside whole-stage codegen."""
    df = registry()["multimodal_dimensions"].spark(spark, TEST_SF_DIR)
    plan = plan_of(df)
    for bad in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "FlatMapsInPandas"):
        assert bad not in plan, f"Python crossed into the plan: {bad}"
    assert "*(1)" in plan  # the codegen-stage marker: one fused stage


def test_header_parse_rejects_lookalike_text(spark):
    """The BMP sniffer must not claim text that merely starts with 'BM':
    the BITMAPINFOHEADER-size guard keeps lookalikes NULL."""
    from flink_real_time_data_warehouse_spark.datapipe.multimodal import (
        parse_header_py,
        parse_media_headers,
    )

    fake = b"BMW sales rose sharply in the third quarter of the year."
    assert parse_header_py(fake) is None
    df = spark.createDataFrame([(1, bytearray(fake))], "asset_id long, payload binary")
    row = parse_media_headers(df).first()
    assert row["container"] is None and row["width"] is None


def test_classifier_scoring_zero_shuffle(spark):
    """The learned-classifier SCORING pass (r8 verdict task 6) is one
    whole-stage-codegen Project over the scan: no Exchange, no join, no
    Python — the model rides as a plan literal."""
    from flink_real_time_data_warehouse_spark.datapipe.classifier import (
        N_BUCKETS,
        _W_HEX,
        score_with_model,
    )

    docs = table(spark, TEST_SF_DIR, "documents").select("doc_id", "text")
    model = "1f4" * N_BUCKETS  # any well-formed model: plan shape is model-free
    assert len(model) == N_BUCKETS * _W_HEX
    plan = plan_of(score_with_model(docs, model))
    for bad in ("Exchange", "Join", "ArrowEvalPython", "BatchEvalPython"):
        assert bad not in plan, f"scoring pass must not contain {bad}"
    assert "*(1)" in plan


def test_substring_incremental_probe_never_shuffles_index(spark, tmp_path):
    """The incremental ExactSubstr probe keeps `_incremental_verdicts`'
    flipped direction: every join against the stored seed table is a
    broadcast of batch-derived keys (no SortMergeJoin — the index is
    never shuffled), and there is no pair-generating cartesian."""
    from flink_real_time_data_warehouse_spark.datapipe.dedup import (
        incremental_substring_verdicts,
    )
    from flink_real_time_data_warehouse_spark.datapipe.signature_index import (
        PrefixIndex,
    )

    docs = table(spark, TEST_SF_DIR, "documents").select("doc_id", "text")
    idx = PrefixIndex(spark, str(tmp_path / "pidx"))
    idx.append(docs.where("doc_id % 2 = 0"), "doc_id", "text", batch_no="e0")
    v = incremental_substring_verdicts(
        idx.seeds(), docs.where("doc_id % 2 = 1"), "doc_id", "text"
    )
    plan = plan_of(v)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan, f"index got shuffled:\n{plan}"


def test_multimodal_dimensions_av_zero_python(spark):
    """The JPEG segment walk / MP3 syncsafe skip (round 9) stay pure JVM:
    no Arrow/Python eval node, and the staged projections fuse into ONE
    whole-stage-codegen stage (the staging exists to keep every byte read
    compiled once — see parse_av_headers' structure note)."""
    df = registry()["multimodal_dimensions_av"].spark(spark, TEST_SF_DIR)
    plan = plan_of(df)
    for bad in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "FlatMapsInPandas"):
        assert bad not in plan, f"Python crossed into the plan: {bad}"
    assert "*(1)" in plan
    assert "*(2)" not in plan  # staging must not split codegen


def test_wordpiece_vocab_join_is_broadcast(spark):
    """WordPiece encode (round 9): the substring-candidates x vocabulary
    join must BROADCAST the ~2k-piece vocab — a shuffle there would move
    the full substring explosion; and nothing in the plan may cross into
    Python."""
    from flink_real_time_data_warehouse_spark.datapipe.bpe import (
        wordpiece_piece_counts,
    )

    docs = table(spark, TEST_SF_DIR, "documents")
    df = wordpiece_piece_counts(docs, "doc_id", "text", [(1, "a", "b")])
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan
    for bad in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert bad not in plan, f"Python crossed into the plan: {bad}"


def test_unigram_cost_join_is_broadcast(spark):
    """Unigram Viterbi encode (round 9): the substring-candidates x
    piece-cost join must broadcast the small cost table, and the DP fold
    stays JVM-side — no Python eval node, no cartesian."""
    from flink_real_time_data_warehouse_spark.datapipe.bpe import (
        unigram_piece_counts,
    )

    docs = table(spark, TEST_SF_DIR, "documents")
    costs = spark.createDataFrame([("a", 10)], "piece string, cost long")
    df = unigram_piece_counts(docs, "doc_id", "text", [], costs=costs)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan
    for bad in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert bad not in plan, f"Python crossed into the plan: {bad}"


def test_span_corrupt_zero_shuffle(spark):
    """Objective prep (span_corrupt, fim_transform, text_normalize) is
    scan + project: the greedy span fold, PSM cuts and dirt/normalize
    chains all build in-expression — an Exchange or Python node in any
    of these plans means a per-row transform started shuffling the
    corpus."""
    for name in ("span_corrupt", "fim_transform", "text_normalize"):
        plan = plan_of(registry()[name].spark(spark, TEST_SF_DIR))
        assert "Exchange" not in plan, f"{name} shuffles:\n{plan}"
        for bad in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
            assert bad not in plan, f"{name}: Python crossed into the plan"


def test_multimodal_dimensions_mp4_zero_python(spark):
    """The ISO-BMFF box-tree walk (round 10) stays pure JVM: no Arrow/
    Python eval node, zero Exchange (per-row parse on the scan), and the
    three staged walks fuse into ONE whole-stage-codegen stage."""
    df = registry()["multimodal_dimensions_mp4"].spark(spark, TEST_SF_DIR)
    plan = plan_of(df)
    for bad in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "FlatMapsInPandas"):
        assert bad not in plan, f"Python crossed into the plan: {bad}"
    assert "Exchange" not in plan
    assert "*(1)" in plan
    assert "*(2)" not in plan  # staging must not split codegen


def test_multimodal_dimensions_tiff_zero_python(spark):
    """The TIFF IFD walk (round 10) stays pure JVM despite every integer
    read being endianness-conditional: no Python eval node, zero Exchange,
    ONE whole-stage-codegen stage."""
    df = registry()["multimodal_dimensions_tiff"].spark(spark, TEST_SF_DIR)
    plan = plan_of(df)
    for bad in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "FlatMapsInPandas"):
        assert bad not in plan, f"Python crossed into the plan: {bad}"
    assert "Exchange" not in plan
    assert "*(1)" in plan
    assert "*(2)" not in plan


def test_multimodal_dimensions_webp_zero_python(spark):
    """The WebP bitfield decode (round 10) stays pure JVM: no Python eval
    node, zero Exchange, ONE whole-stage-codegen stage."""
    df = registry()["multimodal_dimensions_webp"].spark(spark, TEST_SF_DIR)
    plan = plan_of(df)
    for bad in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "FlatMapsInPandas"):
        assert bad not in plan, f"Python crossed into the plan: {bad}"
    assert "Exchange" not in plan
    assert "*(1)" in plan
    assert "*(2)" not in plan


def test_compression_frame_info_zero_python(spark):
    """The zstd descriptor-driven layout decode (round 10) stays pure
    JVM: no Python eval node, zero Exchange, ONE codegen stage."""
    df = registry()["compression_frame_info"].spark(spark, TEST_SF_DIR)
    plan = plan_of(df)
    for bad in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "FlatMapsInPandas"):
        assert bad not in plan, f"Python crossed into the plan: {bad}"
    assert "Exchange" not in plan
    assert "*(1)" in plan
    assert "*(2)" not in plan


def test_tfrecord_varint_decode_zero_python(spark):
    """The varint field walk (round 10) stays pure JVM: no Python eval
    node, zero Exchange, ONE whole-stage-codegen stage."""
    df = registry()["tfrecord_varint_decode"].spark(spark, TEST_SF_DIR)
    plan = plan_of(df)
    for bad in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "FlatMapsInPandas"):
        assert bad not in plan, f"Python crossed into the plan: {bad}"
    assert "Exchange" not in plan
    assert "*(1)" in plan
    assert "*(2)" not in plan


def test_flac_stream_info_zero_python(spark):
    """The FLAC cross-byte bitfield decode (round-10 continuation) stays
    pure JVM: no Python eval node, zero Exchange, ONE codegen stage."""
    df = registry()["flac_stream_info"].spark(spark, TEST_SF_DIR)
    plan = plan_of(df)
    for bad in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "FlatMapsInPandas"):
        assert bad not in plan, f"Python crossed into the plan: {bad}"
    assert "Exchange" not in plan
    assert "*(1)" in plan
    assert "*(2)" not in plan


def test_parquet_footer_info_zero_python(spark):
    """The tail-anchored thrift-compact zigzag walk (round-10
    continuation) stays pure JVM: no Python eval node, zero Exchange,
    ONE codegen stage."""
    df = registry()["parquet_footer_info"].spark(spark, TEST_SF_DIR)
    plan = plan_of(df)
    for bad in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "FlatMapsInPandas"):
        assert bad not in plan, f"Python crossed into the plan: {bad}"
    assert "Exchange" not in plan
    assert "*(1)" in plan
    assert "*(2)" not in plan


def test_ogg_page_info_zero_python(spark):
    """The Ogg lacing-table reduce (round-10 continuation) stays JVM-side
    with zero Python and zero Exchange. Unlike the fixed-offset walks it
    is TWO codegen stages, not one: the higher-order aggregate over the
    data-dependent-length segment table is a CodegenFallback expression,
    so Spark splits the projection around it — the documented cost of
    the only construct that can sum a table whose length is itself data
    (fixed chains can't; a Python UDF would leave the JVM)."""
    df = registry()["ogg_page_info"].spark(spark, TEST_SF_DIR)
    plan = plan_of(df)
    for bad in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "FlatMapsInPandas"):
        assert bad not in plan, f"Python crossed into the plan: {bad}"
    assert "Exchange" not in plan
    assert "aggregate(sequence(" in plan  # the table reduce is in-plan
    assert "*(1)" in plan and "*(2)" in plan
    assert "*(3)" not in plan


def test_ebml_track_info_zero_python(spark):
    """The EBML vint walk (round-10 continuation) stays pure JVM: no
    Python eval node, zero Exchange, ONE codegen stage."""
    df = registry()["ebml_track_info"].spark(spark, TEST_SF_DIR)
    plan = plan_of(df)
    for bad in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "FlatMapsInPandas"):
        assert bad not in plan, f"Python crossed into the plan: {bad}"
    assert "Exchange" not in plan
    assert "*(1)" in plan
    assert "*(2)" not in plan


def test_avro_header_info_zero_python(spark):
    """The Avro varint-strided map walk (round-10 continuation) stays
    pure JVM: no Python eval node, zero Exchange, ONE codegen stage."""
    df = registry()["avro_header_info"].spark(spark, TEST_SF_DIR)
    plan = plan_of(df)
    for bad in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "FlatMapsInPandas"):
        assert bad not in plan, f"Python crossed into the plan: {bad}"
    assert "Exchange" not in plan
    assert "*(1)" in plan
    assert "*(2)" not in plan


def test_warc_records_zero_python_zero_shuffle(spark):
    """The WARC text-protocol framing walk (round-10 continuation) stays
    pure JVM: no Python eval node, zero Exchange — the record explode is
    the only stage split (Generate), never a shuffle."""
    df = registry()["warc_records"].spark(spark, TEST_SF_DIR)
    plan = plan_of(df)
    for bad in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "FlatMapsInPandas"):
        assert bad not in plan, f"Python crossed into the plan: {bad}"
    assert "Exchange" not in plan
    assert "Generate explode" in plan


def test_url_canonicalize_zero_shuffle(spark):
    """URL canonicalization is scan + project (regex rules in-expression):
    an Exchange or Python node means the per-row rules started shuffling.
    The domain rollup shuffles exactly once, on the domain key."""
    plan = plan_of(registry()["url_canonicalize"].spark(spark, TEST_SF_DIR))
    assert "Exchange" not in plan
    for bad in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert bad not in plan, f"Python crossed into the plan: {bad}"

    plan = plan_of(registry()["domain_stats"].spark(spark, TEST_SF_DIR))
    assert plan.count("Exchange hashpartitioning") <= 2  # agg + distinct-agg expand
    assert "HashAggregate" in plan


def test_c4_clean_zero_shuffle(spark):
    """C4 cleaning is per-row array arithmetic on the scan: zero
    Exchange, zero Generate (no explode), zero Python."""
    plan = plan_of(registry()["c4_clean"].spark(spark, TEST_SF_DIR))
    assert "Exchange" not in plan
    assert "Generate" not in plan
    for bad in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert bad not in plan, f"Python crossed into the plan: {bad}"


def test_safetensors_header_info_zero_python_zero_shuffle(spark):
    """The length-prefixed-JSON decode stays JVM-side (from_json is the
    engine's native parser, not a Python UDF): no Python eval node, zero
    Exchange."""
    df = registry()["safetensors_header_info"].spark(spark, TEST_SF_DIR)
    plan = plan_of(df)
    for bad in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "FlatMapsInPandas"):
        assert bad not in plan, f"Python crossed into the plan: {bad}"
    assert "Exchange" not in plan


def test_markdown_extract_zero_shuffle(spark):
    """Markdown extraction is scan + project regex chains: zero
    Exchange, zero Python."""
    plan = plan_of(registry()["markdown_extract"].spark(spark, TEST_SF_DIR))
    assert "Exchange" not in plan
    for bad in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert bad not in plan, f"Python crossed into the plan: {bad}"


def test_zip_central_dir_zero_python(spark):
    """The ZIP backward-discovery walk stays pure JVM: no Python eval
    node, zero Exchange before the member explode."""
    df = registry()["zip_central_dir"].spark(spark, TEST_SF_DIR)
    plan = plan_of(df)
    for bad in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "FlatMapsInPandas"):
        assert bad not in plan, f"Python crossed into the plan: {bad}"
    assert "Exchange" not in plan
    assert "Generate explode" in plan


def test_rrf_fusion_plan_shape(spark):
    """RRF fusion: both system rankings and the fused ranking plan as
    WindowGroupLimit (per-query heaps, never a global sort), the two
    candidate lists meet in exactly ONE Union, and nothing goes
    cartesian — the only nested-loop joins are the brute-force cosine
    probes broadcasting the tiny query set (the designed ANN shape)."""
    df = registry()["rrf_fusion_topk"].spark(spark, TEST_SF_DIR)
    plan = plan_of(df)
    assert plan.count("WindowGroupLimit") >= 3, f"lost a top-k plan:\n{plan}"
    assert plan.count("Union") == 1, f"fusion union shape changed:\n{plan}"
    assert "CartesianProduct" not in plan
    assert "Exchange rangepartitioning" not in plan, f"global sort:\n{plan}"


def test_tar_members_zero_python(spark):
    """The tar/WebDataset block walk stays pure JVM (the checksum
    byte-sums are higher-order array aggregates, not UDFs): no Python
    eval node, zero Exchange before the member explode."""
    df = registry()["tar_members"].spark(spark, TEST_SF_DIR)
    plan = plan_of(df)
    for bad in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "FlatMapsInPandas"):
        assert bad not in plan, f"Python crossed into the plan: {bad}"
    assert "Exchange" not in plan
    assert "Generate explode" in plan


def test_decode_family_compiles_under_no_fallback(spark):
    """Whole-stage codegen must actually COMPILE for the decode family —
    not silently fall back to the interpreter. `.explain` can't see
    runtime compile failures (the 64 KB janino limit hits after
    planning), so this runs the walks with spark.sql.codegen.fallback
    OFF, where a compile failure throws instead of degrading. Guards
    the avro/url regressions fixed this round (byte-read duplication,
    inferred-isnotnull pushdown inlining)."""
    names = [
        "avro_header_info", "tfrecord_varint_decode", "ebml_track_info",
        "safetensors_header_info", "zip_central_dir", "warc_records",
        "url_canonicalize", "dedup_url", "domain_stats", "tar_members",
    ]
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        for name in names:
            registry()[name].spark(spark, TEST_SF_DIR).collect()
    finally:
        spark.conf.set("spark.sql.codegen.fallback", "true")


def test_bm25_topk_plan_shape(spark):
    """BM25: the query-term set and per-term df broadcast (postings
    prune map-side before scoring), top-k per query plans as
    WindowGroupLimit, and nothing goes cartesian except the 1-row
    totals broadcast."""
    plan = plan_of(registry()["bm25_topk"].spark(spark, TEST_SF_DIR))
    assert "BroadcastExchange" in plan
    assert "WindowGroupLimit" in plan
    for bad in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert bad not in plan, f"Python crossed into the plan: {bad}"
    assert "CartesianProduct" not in plan
