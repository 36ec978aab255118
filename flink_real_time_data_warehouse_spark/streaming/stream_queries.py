"""Streaming-backed registry queries.

Each callable replays the fixture through Structured Streaming to
completion (availableNow trigger) and returns the materialized result, so
the driver's DuckDB oracle grades *streaming* execution — watermarks,
append-mode window finalization, keyed state — against batch SQL.

Oracle caveat encoded in the SQL: append mode only emits windows/timers the
final watermark (max event time − delay) has passed, so the oracles filter
to that closed set. Everything else is identical to the batch plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from ..functions.money import sql_money_sum
from ..operators.stateful_batch import BOUNCE_TIMEOUT_S, SESSION_GAP_S
from ..plans.gmall import (
    ORDER_WIDE_ORACLE,
    PAYMENT_WIDE_ORACLE,
    PRODUCT_STATS_ORACLE_BODY,
    SESSION_STATS_ORACLE_BODY,
    SLIDE_ORACLE_BODY,
    order_wide_select,
    payment_wide_agg,
)
from ..queries import register
from ..session import mkscratch
from ..sources.streams import stream_table
from ..streaming.pipelines import interval_join_stream, run_to_memory, visitor_stats_stream
from ..streaming.state import bounce_stream, new_user_fix_stream, uv_dedup_stream
from ..tables import table

WM_S = 1  # watermark delay used by the streaming queries (SQL apps use 1s, T6)


@register(
    "visitor_stats_stream",
    oracle=f"""
    SELECT * FROM (
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS stt,
             strftime(date_trunc('hour', ts) + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S') AS edt,
             count(*) FILTER (event_type = 'view') AS pv_ct,
             count(*) FILTER (event_type = 'click') AS click_ct,
             count(*) FILTER (event_type = 'error') AS err_ct,
             count(*) FILTER (event_type = 'purchase') AS purchase_ct,
             count(*) FILTER (event_type = 'signup') AS signup_ct,
             count(DISTINCT user_id) AS uv_ct,
             {sql_money_sum('value')} AS dur_sum
      FROM events
      GROUP BY 1, 2
    )
    WHERE edt <= strftime((SELECT max(ts) - INTERVAL {WM_S} SECOND FROM events),
                          '%Y-%m-%d %H:%M:%S')
    """,
    doc="A2 via Structured Streaming: watermark + tumble window, append mode; oracle = batch agg over watermark-closed windows",
)
def visitor_stats_stream_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_table(spark, sf_dir, "events")
    return run_to_memory(visitor_stats_stream(ev, f"{WM_S} second"), spark)


@register(
    "uv_stream",
    oracle="""
    SELECT user_id, date_trunc('day', ts) AS visit_day, min(ts) AS first_ts
    FROM events GROUP BY 1, 2
    """,
    doc="T2 via applyInPandasWithState: keyed daily-first-visit dedup, streaming replay equals batch min-per-day",
)
def uv_stream_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_table(spark, sf_dir, "events").withWatermark("ts", f"{WM_S} second")
    return run_to_memory(uv_dedup_stream(ev), spark)


@register(
    "new_user_stream",
    oracle="""
    SELECT event_id, user_id,
           CASE WHEN row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) = 1
                THEN 1 ELSE 0 END AS is_new
    FROM events
    """,
    doc="T1 via applyInPandasWithState: keyed first-seen state rewrites is_new",
)
def new_user_stream_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_table(spark, sf_dir, "events")
    return run_to_memory(new_user_fix_stream(ev), spark)


@register(
    "bounce_stream",
    oracle=f"""
    WITH ordered AS (
      SELECT event_id, user_id, ts,
             lag(ts)  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_ts
      FROM events
    )
    SELECT event_id, user_id, ts
    FROM ordered
    WHERE (prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > {SESSION_GAP_S})
      AND (
        (next_ts IS NOT NULL AND epoch(next_ts) - epoch(ts) > {BOUNCE_TIMEOUT_S})
        OR (next_ts IS NULL
            AND epoch(ts) + {BOUNCE_TIMEOUT_S} <= (SELECT epoch(max(ts)) - {WM_S} FROM events))
      )
    """,
    doc="T3 via applyInPandasWithState + event-time timer: match and timeout paths both emit; oracle = lag/lead bounce where the final watermark passed the timer",
)
def bounce_stream_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_table(spark, sf_dir, "events").withWatermark("ts", f"{WM_S} second")
    return run_to_memory(bounce_stream(ev, SESSION_GAP_S, BOUNCE_TIMEOUT_S), spark)


@register(
    "session_stats_stream",
    oracle=f"""
    SELECT * FROM ({SESSION_STATS_ORACLE_BODY})
    WHERE edt <= strftime((SELECT max(ts) - INTERVAL {WM_S} SECOND FROM events),
                          '%Y-%m-%d %H:%M:%S')
    """,
    doc="session windows via Structured Streaming: watermark + session_window in append mode; oracle = batch sessionization over watermark-closed sessions",
)
def session_stats_stream_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stateful_batch import SESSION_GAP_S
    from ..operators.windows import session_agg

    ev = stream_table(spark, sf_dir, "events").withWatermark("ts", f"{WM_S} second")
    from ..functions.money import money_sum

    out = session_agg(
        ev, "ts", f"{SESSION_GAP_S} seconds", [F.col("user_id")],
        [F.count("*").alias("event_ct"), money_sum(F.col("value")).alias("dur_sum")],
    )
    return run_to_memory(out, spark)


@register(
    "visitor_stats_sliding_stream",
    oracle=f"""
    SELECT * FROM ({SLIDE_ORACLE_BODY})
    WHERE edt <= strftime((SELECT max(ts) - INTERVAL {WM_S} SECOND FROM events),
                          '%Y-%m-%d %H:%M:%S')
    """,
    doc=(
        "HOP windows via Structured Streaming: watermark + F.window(size, "
        "slide) in append mode — overlapping windows finalize independently "
        "as the watermark passes each end; exact distinct via collect_set; "
        "oracle = batch sliding agg over watermark-closed windows"
    ),
)
def visitor_stats_sliding_stream_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.money import money_sum
    from ..operators.windows import TS_FMT
    from ..streaming.pipelines import run_to_memory as _rtm

    ev = stream_table(spark, sf_dir, "events").withWatermark("ts", f"{WM_S} second")
    g = ev.groupBy(F.window(F.col("ts"), "1 hour", "30 minutes").alias("win")).agg(
        F.count("*").alias("event_ct"),
        F.size(F.collect_set("user_id")).cast("long").alias("uv_ct"),
        money_sum(F.col("value")).alias("dur_sum"),
    )
    out = g.select(
        F.date_format("win.start", TS_FMT).alias("stt"),
        F.date_format("win.end", TS_FMT).alias("edt"),
        "event_ct", "uv_ct", "dur_sum",
    )
    return _rtm(out, spark)


@register(
    "keyword_stats_stream",
    oracle="""
    SELECT word, count(*) AS keyword_ct, count(DISTINCT doc_id) AS doc_ct
    FROM (
      SELECT doc_id, unnest(string_split_regex(lower(text), ' +')) AS word
      FROM documents
    )
    WHERE word <> ''
    GROUP BY word
    """,
    doc=(
        "A5+F9 via Structured Streaming in complete mode — the retracting "
        "global keyword count the reference's KeywordStatsApp emits "
        "(toRetractStream, C2); exact distinct docs via collect_set "
        "(the HashSet-union trick); oracle = the batch keyword count"
    ),
)
def keyword_stats_stream_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.pipelines import run_to_memory as _rtm

    docs = stream_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), " +")).alias("word")
    ).where(F.col("word") != "")
    agg = words.groupBy("word").agg(
        F.count("*").alias("keyword_ct"),
        F.size(F.collect_set("doc_id")).cast("long").alias("doc_ct"),
    )
    return _rtm(agg, spark, output_mode="complete")


@register(
    "dedup_exact_stream",
    oracle="""
    SELECT md5(text) AS text_hash, min(doc_id) AS keep_id
    FROM documents GROUP BY 1
    """,
    doc=(
        "dedup-on-ingest via applyInPandasWithState: first content arrival "
        "wins, later copies dropped by keyed seen-flag state — the streaming "
        "form of dedup_exact a pipeline runs as documents arrive; oracle = "
        "the batch keeper choice (min doc per digest)"
    ),
)
def dedup_exact_stream_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.state import exact_dedup_stream

    docs = stream_table(spark, sf_dir, "documents").select(
        F.md5(F.col("text")).alias("text_hash"), "doc_id"
    )
    return run_to_memory(exact_dedup_stream(docs), spark)


@register(
    "dedup_exact_stream_builtin",
    oracle="""
    SELECT md5(text) AS text_hash, min(doc_id) AS keep_id
    FROM documents GROUP BY 1
    """,
    doc=(
        "dedup-on-ingest via Spark's BUILT-IN dropDuplicatesWithinWatermark "
        "— the engine-native twin of dedup_exact_stream's custom seen-flag "
        "state, graded against the same batch-keeper oracle. The builtin's "
        "batch-internal keeper is processing-order-arbitrary, so the "
        "fixture arrives RANK-partitioned (epoch k = every content's k-th "
        "copy by ascending doc_id, one micro-batch per epoch): the first "
        "arrival is provably min(doc_id) and the cross-batch keyed state — "
        "the thing the builtin exists for — is what's exercised. State-"
        "size semantics differ by design: the builtin expires keys once "
        "the watermark passes first-seen event time + delay (bounded "
        "state, late duplicates re-admitted), the seen-flag path holds "
        "keys forever (exact forever-dedup) — divergence pinned in "
        "test_dedup_builtin_readmits_after_watermark_expiry"
    ),
)
def dedup_exact_stream_builtin_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from ..sources.streams import stream_dir, write_rank_epoch_files

    keyed = table(spark, sf_dir, "documents").select(
        F.md5(F.col("text")).alias("text_hash"),
        "doc_id",
        # constant event time: the watermark never advances past it, so no
        # key expires during the run — the regime in which the builtin and
        # the exact seen-flag path must agree
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("ts"),
    )
    work = mkscratch(prefix="dedup_builtin_")
    splits, _n = write_rank_epoch_files(
        keyed, "text_hash", "doc_id", os.path.join(work, "splits"), work
    )
    stream = stream_dir(
        spark, splits, "text_hash string, doc_id long, ts timestamp",
        max_files_per_trigger=1,
    )
    out = (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["text_hash"])
        .select("text_hash", F.col("doc_id").alias("keep_id"))
    )
    return run_to_memory(out, spark)


def _keyword_dict_oracle() -> str:
    from ..plans.gmall import _dict_oracle

    return _dict_oracle()


@register(
    "keyword_stats_dict_stream",
    oracle=_keyword_dict_oracle(),
    doc=(
        "the reference's ACTUAL KeywordStatsApp composition (app/dws/"
        "KeywordStatsApp.java:82-96: IK dictionary segmentation inside a "
        "streaming job feeding TUMBLE counts): dict_tokens — the Arrow-"
        "batched FMM pandas UDF — explodes inside Structured Streaming, "
        "complete-mode retracting counts (C2), exact distinct docs via "
        "collect_set; oracle = the same recursive-CTE greedy-match replay "
        "as keyword_stats_dict, proving the UDF path is batch/stream-"
        "equivalent"
    ),
)
def keyword_stats_dict_stream_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.tokenize import dict_tokens
    from ..plans.gmall import CJK_PHRASES
    from ..streaming.pipelines import run_to_memory as _rtm

    docs = stream_table(spark, sf_dir, "documents")
    phrase = F.element_at(
        F.array(*[F.lit(p) for p in CJK_PHRASES]),
        (F.col("doc_id") % len(CJK_PHRASES)).cast("int") + 1,
    )
    mixed = docs.select(
        "doc_id",
        F.concat(
            F.col("text"), F.when(F.col("lang") == "zh", phrase).otherwise(F.lit(""))
        ).alias("text"),
    )
    seg = dict_tokens()
    words = mixed.select("doc_id", F.explode(seg(F.col("text"))).alias("word"))
    agg = words.groupBy("word").agg(
        F.count("*").alias("keyword_ct"),
        F.size(F.collect_set("doc_id")).cast("long").alias("doc_ct"),
    )
    return _rtm(agg, spark, output_mode="complete")


def _minhash_sig_hash_sql() -> str:
    """DuckDB mirror of the streaming signature key: per-doc MinHash sigs
    (shingle group-by form — value-identical to the projection form) joined
    '|'-wise and digested."""
    from ..datapipe.dedup import NUM_HASHES, sql_minhash_hash
    from ..plans.datapipe import SH_CTE, TOKS_CTE

    sig_cols = ", ".join(
        f"min({sql_minhash_hash(i, 's')}) AS sig_{i}" for i in range(NUM_HASHES)
    )
    joined = " || '|' || ".join(f"sig_{i}" for i in range(NUM_HASHES))
    return f"""
    WITH {TOKS_CTE}, {SH_CTE},
    sig AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id)
    SELECT md5({joined}) AS sig_hash, min(doc_id) AS keep_id
    FROM sig GROUP BY 1
    """


@register(
    "dedup_minhash_stream",
    oracle=_minhash_sig_hash_sql(),
    doc=(
        "near-dup dedup-on-ingest: the MinHash signature computed as a "
        "pure per-row projection (zero shuffle — no aggregation may "
        "precede the keyed state op), docs with identical full signatures "
        "collapse to the first arrival via the same seen-flag state as "
        "dedup_exact_stream; the banded LSH variant relaxes 'identical "
        "signature' to 'any shared band' offline. Oracle = batch keeper "
        "per signature digest"
    ),
)
def dedup_minhash_stream_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..datapipe.dedup import NUM_HASHES, minhash_signature_frame
    from ..streaming.state import exact_dedup_stream

    docs = stream_table(spark, sf_dir, "documents")
    sigs = minhash_signature_frame(docs, "doc_id", "text")
    keyed = sigs.select(
        F.md5(
            F.concat_ws("|", *[F.col(f"sig_{i}") for i in range(NUM_HASHES)])
        ).alias("sig_hash"),
        F.col("doc").alias("doc_id"),
    )
    out = run_to_memory(exact_dedup_stream(keyed, hash_col="sig_hash"), spark)
    return out.select(F.col("text_hash").alias("sig_hash"), "keep_id")


@register(
    "province_stats_stream",
    oracle=f"""
    SELECT * FROM (
      SELECT strftime(date_trunc('day', o.o_orderdate), '%Y-%m-%d %H:%M:%S') AS stt,
             strftime(date_trunc('day', o.o_orderdate) + INTERVAL 1 DAY, '%Y-%m-%d %H:%M:%S') AS edt,
             n.n_name AS nation_name,
             r.r_name AS region_name,
             count(DISTINCT l.l_orderkey) AS order_ct,
             {sql_money_sum("l.l_extendedprice * (1 - l.l_discount)")} AS order_amount
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY 1, 2, 3, 4
    )
    WHERE edt <= strftime((SELECT max(o_orderdate) - INTERVAL {WM_S} SECOND FROM orders),
                          '%Y-%m-%d %H:%M:%S')
    """,
    doc=(
        "A4+J3 via Structured Streaming: the orders stream joins the static "
        "detail + broadcast dims (stream-static lookup), 1-day tumble on the "
        "stream's event time in append mode; exact distinct orders via "
        "collect_set per window; oracle = batch province_stats over "
        "watermark-closed windows"
    ),
)
def province_stats_stream_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.money import cents
    from ..operators.windows import TS_FMT
    from ..streaming.pipelines import run_to_memory as _rtm

    orders = (
        stream_table(spark, sf_dir, "orders")
        # parquet NTZ -> watermark-capable TIMESTAMP (session tz is UTC)
        .withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp"))
        .withWatermark("o_orderdate", f"{WM_S} second")
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_c"),
    )
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    # customer unhinted: O(users) at scale — stream-static joins still allow
    # Spark to broadcast the static side when it fits, without pinning.
    joined = orders.join(li, F.col("l_orderkey") == F.col("o_orderkey")).join(
        cust, F.col("o_custkey") == F.col("c_custkey")
    )
    agg = joined.groupBy(
        F.window(F.col("o_orderdate"), "1 day").alias("win"), F.col("c_nationkey")
    ).agg(
        F.size(F.collect_set("l_orderkey")).cast("long").alias("order_ct"),
        (F.sum("net_c") / F.lit(100.0)).alias("order_amount"),
    )
    out = (
        agg.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            F.date_format("win.start", TS_FMT).alias("stt"),
            F.date_format("win.end", TS_FMT).alias("edt"),
            F.col("n_name").alias("nation_name"),
            F.col("r_name").alias("region_name"),
            "order_ct",
            "order_amount",
        )
    )
    return _rtm(out, spark)


@register(
    "events_union_stats_stream",
    oracle=f"""
    SELECT * FROM (
      SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS dt,
             count(*) FILTER (event_type = 'view') AS pv_ct,
             count(*) FILTER (event_type IN ('click', 'purchase', 'signup')) AS action_ct,
             count(*) FILTER (event_type = 'error') AS err_ct
      FROM events GROUP BY 1
    )
    WHERE CAST(dt AS TIMESTAMP) + INTERVAL 1 DAY <=
          (SELECT max(ts) - INTERVAL {WM_S} SECOND FROM events)
    """,
    doc=(
        "U2+U3+R1 via Structured Streaming: the 3-way split runs as three "
        "filters on ONE watermarked stream, one-hot normalized and "
        "unionByName'd back (the 7-way ProductStats / 3-way VisitorStats "
        "union topology), then a daily tumble finalizes in append mode — "
        "union propagates the shared watermark; oracle = the batch union "
        "stats over watermark-closed days"
    ),
)
def events_union_stats_stream_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.pipelines import log_split

    ev = stream_table(spark, sf_dir, "events").withWatermark("ts", f"{WM_S} second")
    branches = log_split(ev)

    def onehot(df: DataFrame, pv: int, act: int, err: int) -> DataFrame:
        return df.select(
            "ts",
            F.lit(pv).alias("pv"), F.lit(act).alias("act"), F.lit(err).alias("err"),
        )

    unioned = (
        onehot(branches["page"], 1, 0, 0)
        .unionByName(onehot(branches["action"], 0, 1, 0))
        .unionByName(onehot(branches["error"], 0, 0, 1))
    )
    agg = unioned.groupBy(F.window(F.col("ts"), "1 day").alias("win")).agg(
        F.sum("pv").alias("pv_ct"),
        F.sum("act").alias("action_ct"),
        F.sum("err").alias("err_ct"),
    )
    out = agg.select(
        F.date_format("win.start", "yyyy-MM-dd").alias("dt"),
        "pv_ct", "action_ct", "err_ct",
    )
    return run_to_memory(out, spark)


def product_stats_streaming(li: DataFrame, part: DataFrame) -> DataFrame:
    """The streaming ProductStats plan over a watermarked lineitem stream
    (must carry a `ship_ts` event-time column) and a static part dim."""
    from ..functions.money import cents
    from ..operators.windows import TS_FMT
    from ..plans.gmall import _gross, _net

    src = li.select(
        "ship_ts",
        F.col("l_partkey").alias("sku_id"),
        "l_orderkey", "l_quantity",
        cents(_net()).alias("net_c"),
        F.when(F.col("l_linestatus") == "F", cents(_gross())).otherwise(F.lit(0)).alias("gross_c"),
        F.when(F.col("l_returnflag") == "R", cents(F.col("l_extendedprice"))).otherwise(F.lit(0)).alias("ref_c"),
        # null for non-matching rows: collect_set drops nulls, so these are
        # the filtered distinct sets (paid / refund orders) in one agg pass
        F.when(F.col("l_linestatus") == "F", F.col("l_orderkey")).alias("paid_ok"),
        F.when(F.col("l_returnflag") == "R", F.col("l_orderkey")).alias("ref_ok"),
    )
    # 1970-01-01 is a Thursday; startTime "4 days" shifts the 7-day tumble
    # grid to Mondays, matching date_trunc('week') in the batch oracle.
    agg = src.groupBy(
        F.window(F.col("ship_ts"), "7 days", "7 days", "4 days").alias("win"), "sku_id"
    ).agg(
        F.sum("l_quantity").alias("order_sku_num"),
        (F.sum("net_c") / F.lit(100.0)).alias("order_amount"),
        (F.sum("gross_c") / F.lit(100.0)).alias("payment_amount"),
        (F.sum("ref_c") / F.lit(100.0)).alias("refund_amount"),
        F.size(F.collect_set("l_orderkey")).cast("long").alias("order_ct"),
        F.size(F.collect_set("paid_ok")).cast("long").alias("paid_order_ct"),
        F.size(F.collect_set("ref_ok")).cast("long").alias("refund_order_ct"),
    )
    dim = part.select(
        "p_partkey", F.col("p_name").alias("sku_name"), F.col("p_brand").alias("tm_name")
    )
    return (
        agg.join(F.broadcast(dim), F.col("sku_id") == F.col("p_partkey"))
        .select(
            F.date_format("win.start", TS_FMT).alias("stt"),
            F.date_format("win.end", TS_FMT).alias("edt"),
            "sku_id", "order_sku_num", "order_amount", "payment_amount",
            "refund_amount", "order_ct", "paid_order_ct", "refund_order_ct",
            "sku_name", "tm_name",
        )
    )


@register(
    "product_stats_stream",
    oracle=f"""
    SELECT * FROM ({PRODUCT_STATS_ORACLE_BODY})
    WHERE edt <= strftime((SELECT max(l_shipdate) - INTERVAL {WM_S} SECOND FROM lineitem),
                          '%Y-%m-%d %H:%M:%S')
    """,
    doc=(
        "A1+A3+F10+J3 via Structured Streaming — the reference's flagship "
        "ProductStatsApp as one incremental query: weekly tumble on the "
        "lineitem stream (window startTime offset aligns to Monday like "
        "date_trunc('week')), the three distinct-order HashSet unions "
        "(ProductStatsApp.java:268-274) as collect_set aggregates, then "
        "stream-static broadcast dim join AFTER the agg; oracle = the batch "
        "product_stats SQL over watermark-closed windows"
    ),
)
def product_stats_stream_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        stream_table(spark, sf_dir, "lineitem")
        .withColumn("ship_ts", F.col("l_shipdate").cast("timestamp"))
        .withWatermark("ship_ts", f"{WM_S} second")
    )
    return run_to_memory(
        product_stats_streaming(li, table(spark, sf_dir, "part")), spark
    )


@register(
    "product_stats_stream_approx",
    oracle=f"""
    SELECT * FROM (
      SELECT strftime(date_trunc('week', l_shipdate), '%Y-%m-%d %H:%M:%S') AS stt,
             strftime(date_trunc('week', l_shipdate) + INTERVAL 7 DAY, '%Y-%m-%d %H:%M:%S') AS edt,
             l_partkey AS sku_id,
             {sql_money_sum('l_extendedprice * (1 - l_discount)')} AS order_amount,
             TRUE AS order_ct_ok
      FROM lineitem GROUP BY 1, 2, 3
    )
    WHERE edt <= strftime((SELECT max(l_shipdate) - INTERVAL {WM_S} SECOND FROM lineitem),
                          '%Y-%m-%d %H:%M:%S')
    """,
    doc=(
        "A3's 100 TB scale path via Structured Streaming: the distinct-order "
        "count runs as approx_count_distinct (HLL++ sketch, ~KB state per "
        "window+sku) instead of collect_set (O(distinct orders) state). "
        "Approx values differ per HLL implementation, so the graded contract "
        "is: exact columns hash-match the batch oracle AND the approx count "
        "lands within max(2, 5%) of the exact count computed batch-side from "
        "the same fixture (order_ct_ok TRUE per row, literal TRUE in the "
        "oracle) — the streaming run, watermark closure, and sketch accuracy "
        "are all graded end to end"
    ),
)
def product_stats_stream_approx_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.money import cents
    from ..operators.windows import TS_FMT
    from ..plans.gmall import _net

    li = (
        stream_table(spark, sf_dir, "lineitem")
        .withColumn("ship_ts", F.col("l_shipdate").cast("timestamp"))
        .withWatermark("ship_ts", f"{WM_S} second")
    )
    src = li.select(
        "ship_ts",
        F.col("l_partkey").alias("sku_id"),
        "l_orderkey",
        cents(_net()).alias("net_c"),
    )
    agg = src.groupBy(
        F.window(F.col("ship_ts"), "7 days", "7 days", "4 days").alias("win"), "sku_id"
    ).agg(
        (F.sum("net_c") / F.lit(100.0)).alias("order_amount"),
        F.approx_count_distinct("l_orderkey", 0.02).alias("order_ct_approx"),
    )
    streamed = run_to_memory(
        agg.select(
            F.date_format("win.start", TS_FMT).alias("stt"),
            F.date_format("win.end", TS_FMT).alias("edt"),
            "sku_id", "order_amount", "order_ct_approx",
        ),
        spark,
    )
    # batch-side exact counts from the same fixture: the tolerance judge
    exact = (
        table(spark, sf_dir, "lineitem")
        .groupBy(
            F.date_format(F.date_trunc("week", "l_shipdate"), TS_FMT).alias("stt"),
            F.col("l_partkey").alias("sku_id"),
        )
        .agg(F.countDistinct("l_orderkey").alias("order_ct_exact"))
    )
    tol = F.greatest(F.lit(2.0), F.col("order_ct_exact") * 0.05)
    return (
        streamed.join(exact, ["stt", "sku_id"])
        .select(
            "stt", "edt", "sku_id", "order_amount",
            (F.abs(F.col("order_ct_approx") - F.col("order_ct_exact")) <= tol).alias(
                "order_ct_ok"
            ),
        )
    )


def _order_detail_stream_join(spark: SparkSession, sf_dir: str, lower: str, upper: str) -> DataFrame:
    """J1/J2 stream-stream interval join of the orders and lineitem streams.

    The fixture's event times are dates, so each side watermarks a
    timestamp cast; the band condition on those event-time columns is what
    lets Spark expire join state (OrderWideApp.java:94-105's
    between(-4h, +4h) bounds, at day granularity here)."""
    orders = stream_table(spark, sf_dir, "orders").withColumn(
        "o_event_ts", F.col("o_orderdate").cast("timestamp")
    )
    li = stream_table(spark, sf_dir, "lineitem").withColumn(
        "l_event_ts", F.col("l_shipdate").cast("timestamp")
    )
    return interval_join_stream(
        orders, li,
        keys=F.col("l_orderkey") == F.col("o_orderkey"),
        left_ts="o_event_ts", right_ts="l_event_ts",
        lower=lower, upper=upper,
    )


@register(
    "order_wide_stream",
    oracle=ORDER_WIDE_ORACLE,
    doc="J1+J3 via Structured Streaming: stream-stream interval join + stream-static broadcast dim enrichment; oracle = the batch order_wide SQL (inner join emits every match once both sides arrive)",
)
def order_wide_stream_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    joined = _order_detail_stream_join(spark, sf_dir, "INTERVAL 0 DAY", "INTERVAL 90 DAY")
    wide = order_wide_select(
        joined,
        table(spark, sf_dir, "customer"),
        table(spark, sf_dir, "nation"),
        table(spark, sf_dir, "region"),
    )
    return run_to_memory(wide, spark)


@register(
    "payment_wide_stream",
    oracle=PAYMENT_WIDE_ORACLE,
    doc=(
        "J2 via Structured Streaming, two chained apps like the reference's "
        "topic-linked topology: stream-stream interval join lands in a DWD "
        "parquet layer (the dwm_payment_wide Kafka topic analog), a second "
        "streaming query aggregates it in complete mode (toRetractStream, C2); "
        "exact distinct via collect_set like the reference's HashSet union"
    ),
)
def payment_wide_stream_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from .pipelines import run_to_parquet

    joined = _order_detail_stream_join(spark, sf_dir, "INTERVAL -15 DAY", "INTERVAL 5 DAY")
    dwd_dir = mkscratch(prefix="dwd_payment_wide_")
    run_to_parquet(joined.select("o_orderdate", "o_orderkey", *[
        c for c in joined.columns if c.startswith("l_") and c != "l_event_ts"
    ]), dwd_dir)
    schema = spark.read.parquet(dwd_dir).schema
    dwd = spark.readStream.format("parquet").schema(schema).load(dwd_dir)
    return run_to_memory(payment_wide_agg(dwd, streaming=True), spark, output_mode="complete")


INGEST_STREAM_EPOCHS = 3


def _ingest_stream_oracle(n_epochs: int = INGEST_STREAM_EPOCHS) -> str:
    """Unrolled sequential oracle for `ingest_pipeline_stream`.

    The replay is exactly ``n_epochs`` deterministic ascending-id
    micro-batches (ntile over doc_id), so the stateful index growth CAN be
    batch-SQL-expressed by chaining one CTE pair per epoch — the same
    recursive-unroll trick as the FMM dictionary oracle
    (plans/gmall._dict_oracle): acc_e = epoch-e docs that pass quality and
    collide with neither the index-so-far (idx_{e-1}) nor a smaller-id doc
    of their own batch (digest OR LSH band bucket); idx_e = idx_{e-1} ∪
    acc_e. The key sequential semantic this pins (and the single-pass
    batch funnel lacks): a quality-REJECTED duplicate never enters the
    index, so a later identical doc reads novel.
    """
    from ..plans.datapipe import INC_NEW_MOD, QSCORE_SQL, _minhash_cand_ctes

    m = INC_NEW_MOD
    ctes = [
        f"""nd AS (
      SELECT doc_id, ntile({n_epochs}) OVER (ORDER BY doc_id) AS epoch
      FROM documents WHERE doc_id % {m} = 0
    )""",
        f"q AS (SELECT doc_id, {QSCORE_SQL} AS qs FROM toks WHERE doc_id % {m} = 0)",
        "dig AS (SELECT doc_id, md5(text) AS h FROM documents)",
        f"idx0 AS (SELECT doc_id FROM documents WHERE doc_id % {m} <> 0)",
    ]
    for e in range(1, n_epochs + 1):
        p = e - 1
        ctes.append(f"""acc{e} AS (
      SELECT n.doc_id FROM nd n
      JOIN q ON q.doc_id = n.doc_id
      JOIN dig dn ON dn.doc_id = n.doc_id
      WHERE n.epoch = {e} AND q.qs >= 2
        AND NOT EXISTS (SELECT 1 FROM dig d JOIN idx{p} i ON d.doc_id = i.doc_id
                        WHERE d.h = dn.h)
        AND NOT EXISTS (SELECT 1 FROM dig d2 JOIN nd n2 ON d2.doc_id = n2.doc_id
                        WHERE n2.epoch = {e} AND n2.doc_id < n.doc_id AND d2.h = dn.h)
        AND NOT EXISTS (SELECT 1 FROM bands nb JOIN bands ib
                          ON nb.band_id = ib.band_id AND nb.band_hash = ib.band_hash
                        JOIN idx{p} i ON ib.doc_id = i.doc_id
                        WHERE nb.doc_id = n.doc_id)
        AND NOT EXISTS (SELECT 1 FROM bands nb JOIN bands ib
                          ON nb.band_id = ib.band_id AND nb.band_hash = ib.band_hash
                        JOIN nd n2 ON ib.doc_id = n2.doc_id
                        WHERE nb.doc_id = n.doc_id
                          AND n2.epoch = {e} AND n2.doc_id < n.doc_id)
    )""")
        ctes.append(
            f"idx{e} AS (SELECT doc_id FROM idx{p}"
            f" UNION ALL SELECT doc_id FROM acc{e})"
        )
    final = " UNION ALL ".join(
        f"SELECT doc_id FROM acc{e}" for e in range(1, n_epochs + 1)
    )
    return f"WITH {_minhash_cand_ctes()},\n" + ",\n".join(ctes) + "\n" + final


@register(
    "ingest_pipeline_stream",
    oracle=_ingest_stream_oracle(),
    doc=(
        "the ingest funnel as a CONTINUOUS stream: three ascending-id "
        "micro-batches replay through streaming/ingest.start_ingest — each "
        "epoch probes the persisted SignatureIndex (storage, never corpus "
        "text), gates quality, lands accepted docs via the idempotent epoch "
        "commit, and appends them to the index so the NEXT epoch's dedup "
        "sees them. The sequential index growth is oracle-checked by "
        "unrolling the three epochs as chained CTEs (see "
        "_ingest_stream_oracle); epoch-replay idempotence and streaming≡"
        "batch-loop equivalence are pytest-asserted in "
        "tests/test_ingest_stream.py"
    ),
)
def ingest_pipeline_stream_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from ..datapipe.signature_index import SignatureIndex
    from ..plans.datapipe import INC_NEW_MOD
    from ..sources.streams import stream_dir, write_epoch_files
    from .ingest import start_ingest

    docs = table(spark, sf_dir, "documents")
    new = docs.where(F.col("doc_id") % INC_NEW_MOD == 0).select("doc_id", "text")
    index_docs = docs.where(F.col("doc_id") % INC_NEW_MOD != 0)

    work = mkscratch(prefix="ingest_stream_")
    idx = SignatureIndex(spark, os.path.join(work, "index"))
    idx.append(index_docs, "doc_id", "text")

    # Deterministic arrival order: epoch e = e-th ntile of ascending doc_id
    # (matches the oracle's nd CTE exactly); one file per epoch, mtimes
    # ascending, so maxFilesPerTrigger=1 replays them in order.
    splits = write_epoch_files(
        new, "doc_id", INGEST_STREAM_EPOCHS, os.path.join(work, "splits"), work
    )
    stream = stream_dir(spark, splits, "doc_id long, text string", max_files_per_trigger=1)
    accepted_dir = os.path.join(work, "accepted")
    q = start_ingest(stream, idx, accepted_dir, os.path.join(work, "ckpt"))
    q.awaitTermination()
    from ..storage import TxLog

    return TxLog(accepted_dir).snapshot(spark).select("doc_id")


from ..plans.datapipe import INC_NEW_MOD as VEC_NEW_MOD  # same new-vs-index split rule, applied to the embeddings fixture


def _ann_ingest_oracle(n_epochs: int = INGEST_STREAM_EPOCHS) -> str:
    """Unrolled sequential oracle for `ann_ingest_stream` — the vector
    sibling of `_ingest_stream_oracle`: acc_e = epoch-e vectors with NO
    stored vector of cosine >= threshold in their nprobe probed lists
    (index-so-far = idx_{e-1}) and no smaller-id same-epoch vector whose
    top-1 list is probed; idx_e = idx_{e-1} ∪ acc_e. Assignments replay
    the frozen-centroid rule of `_ivf_oracle` (centroids = first IVF_K of
    the BUILD corpus, i.e. vec_id % m <> 0 AND vec_id < IVF_K)."""
    from ..datapipe.similarity import IVF_K, IVF_NPROBE
    from ..plans.datapipe import COSINE_THRESHOLD

    m = VEC_NEW_MOD
    ctes = [
        f"""cents AS (
      SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings WHERE vec_id % {m} <> 0 AND vec_id < {IVF_K}
    )""",
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        """assign AS (
      SELECT e.vec_id, c.cid,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY list_cosine_similarity(e.v, c.cv) DESC,
                                         c.cid ASC) AS rn
      FROM e CROSS JOIN cents c
    )""",
        "top1 AS (SELECT vec_id, cid FROM assign WHERE rn = 1)",
        f"probes AS (SELECT vec_id, cid FROM assign WHERE rn <= {IVF_NPROBE})",
        f"""nd AS (
      SELECT vec_id, ntile({n_epochs}) OVER (ORDER BY vec_id) AS epoch
      FROM embeddings WHERE vec_id % {m} = 0
    )""",
        f"idx0 AS (SELECT vec_id FROM embeddings WHERE vec_id % {m} <> 0)",
    ]
    for ep in range(1, n_epochs + 1):
        p = ep - 1
        ctes.append(f"""acc{ep} AS (
      SELECT n.vec_id FROM nd n JOIN e ev ON ev.vec_id = n.vec_id
      WHERE n.epoch = {ep}
        AND NOT EXISTS (
          SELECT 1 FROM probes pr JOIN top1 t ON pr.cid = t.cid
          JOIN idx{p} i ON t.vec_id = i.vec_id
          JOIN e en ON en.vec_id = t.vec_id
          WHERE pr.vec_id = n.vec_id
            AND list_cosine_similarity(ev.v, en.v) >= {COSINE_THRESHOLD})
        AND NOT EXISTS (
          SELECT 1 FROM probes pr JOIN top1 t ON pr.cid = t.cid
          JOIN nd n2 ON t.vec_id = n2.vec_id
          JOIN e en ON en.vec_id = t.vec_id
          WHERE pr.vec_id = n.vec_id
            AND n2.epoch = {ep} AND n2.vec_id < n.vec_id
            AND list_cosine_similarity(ev.v, en.v) >= {COSINE_THRESHOLD})
    )""")
        ctes.append(
            f"idx{ep} AS (SELECT vec_id FROM idx{p}"
            f" UNION ALL SELECT vec_id FROM acc{ep})"
        )
    final = " UNION ALL ".join(
        f"SELECT vec_id FROM acc{ep}" for ep in range(1, n_epochs + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + final


@register(
    "ann_ingest_stream",
    oracle=_ann_ingest_oracle(),
    doc=(
        "continuous VECTOR ingest — the embedding twin of "
        "ingest_pipeline_stream, proving the dual-idempotent-commit "
        "pattern generalizes: three ascending-id micro-batches replay "
        "through streaming/ingest.start_vector_ingest; each epoch probes "
        "the persisted IvfIndex for near-duplicates (cosine >= threshold "
        "within the nprobe probed lists + within-batch min-id keeper), "
        "epoch-commits accepted vectors to the sink, and appends them to "
        "the index so the NEXT epoch's dedup sees them. Oracle: the same "
        "unrolled chained-CTE replay as the text funnel"
    ),
)
def ann_ingest_stream_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from ..datapipe.ivf_index import IvfIndex
    from ..plans.datapipe import COSINE_THRESHOLD
    from ..sources.streams import stream_dir, write_epoch_files
    from .ingest import start_vector_ingest

    emb = table(spark, sf_dir, "embeddings")
    new = emb.where(F.col("vec_id") % VEC_NEW_MOD == 0).select("vec_id", "embedding")
    corpus = emb.where(F.col("vec_id") % VEC_NEW_MOD != 0)

    work = mkscratch(prefix="ann_ingest_stream_")
    idx = IvfIndex(spark, os.path.join(work, "ivf"))
    idx.build(corpus)

    splits = write_epoch_files(
        new, "vec_id", INGEST_STREAM_EPOCHS, os.path.join(work, "splits"), work
    )
    stream = stream_dir(
        spark, splits, "vec_id long, embedding array<float>", max_files_per_trigger=1
    )
    accepted_dir = os.path.join(work, "accepted")
    q = start_vector_ingest(
        stream, idx, accepted_dir, os.path.join(work, "ckpt"), COSINE_THRESHOLD
    )
    q.awaitTermination()
    from ..storage import TxLog

    return TxLog(accepted_dir).snapshot(spark).select("vec_id")


@register(
    "txlog_stream_sink",
    oracle="SELECT doc_id, n_chars FROM documents",
    doc=(
        "streaming sink through the multi-writer transaction log "
        "(storage/txlog.TxLog): documents replay as three ascending-id "
        "micro-batches, each committing as (app_id, epoch) through the OCC "
        "version-claim protocol; then the ENTIRE stream replays again from "
        "a fresh checkpoint (the crash-retry worst case — every epoch "
        "re-delivered) and every replayed commit must be idempotently "
        "skipped. The snapshot read must reproduce the source table "
        "exactly: any lost, duplicated, or partial epoch changes the hash"
    ),
)
def txlog_stream_sink_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from ..sources.streams import stream_dir, write_epoch_files
    from ..storage import TxLog
    from .ingest import start_txlog_sink

    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    work = mkscratch(prefix="txlog_stream_")
    splits = write_epoch_files(
        docs, "doc_id", INGEST_STREAM_EPOCHS, os.path.join(work, "splits"), work
    )
    schema = "doc_id long, n_chars long"
    log = TxLog(os.path.join(work, "table"))
    q = start_txlog_sink(
        stream_dir(spark, splits, schema, max_files_per_trigger=1),
        log,
        os.path.join(work, "ckpt1"),
    )
    q.awaitTermination()
    # full-stream crash-retry replay: fresh checkpoint, same epochs — the
    # log's (app_id, app_version) idempotence must skip every commit
    q2 = start_txlog_sink(
        stream_dir(spark, splits, schema, max_files_per_trigger=1),
        log,
        os.path.join(work, "ckpt2"),
    )
    q2.awaitTermination()
    return log.snapshot(spark)


@register(
    "abandoned_orders_stream",
    oracle=f"""
    WITH wm AS (
      SELECT least((SELECT max(o_orderdate) FROM orders),
                   (SELECT max(l_shipdate) FROM lineitem))
             - INTERVAL {WM_S} SECOND AS w
    )
    SELECT o.o_orderkey, o.o_orderstatus, o.o_orderpriority
    FROM orders o, wm
    WHERE o.o_orderdate + INTERVAL 120 DAY < wm.w
      AND NOT EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate >= o.o_orderdate
                        AND l.l_shipdate <= o.o_orderdate + INTERVAL 120 DAY)
    """,
    doc=(
        "Stream-stream LEFT OUTER interval join — ABSENCE detection "
        "(orders with no shipment within 120 days), the streaming "
        "anti-join the reference would need a timer + keyed state pair "
        "for (the OrderWideApp intervalJoin is inner-only; CEP timeout "
        "branches like UserJumpDetailApp.java:breakBegin handle absence "
        "by timer): Spark's outer interval join emits the NULL-padded "
        "left row exactly when the watermark passes its band's upper "
        "bound, so join-state EXPIRY is the timeout timer — no custom "
        "state. The oracle is the equivalent batch anti-join gated on "
        "window closure (global watermark = min of both sides' maxima "
        "minus the delay): an early emission (window not yet closed), a "
        "missed expiry, or a false match all change the hash. Scale "
        "shape: state is bounded by the band width on both sides — left "
        "rows expire at +120d, right rows at watermark — exactly the "
        "bounded-state contract of the inner J1/J2 joins"
    ),
)
def abandoned_orders_stream_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = stream_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority",
        F.col("o_orderdate").alias("o_event_ts"),
    )
    li = stream_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_shipdate").alias("l_event_ts")
    )
    joined = interval_join_stream(
        orders, li,
        keys=F.col("l_orderkey") == F.col("o_orderkey"),
        left_ts="o_event_ts", right_ts="l_event_ts",
        lower="INTERVAL 0 DAY", upper="INTERVAL 120 DAY",
        left_watermark=f"{WM_S} second", right_watermark=f"{WM_S} second",
        how="left_outer",
    )
    out = joined.where(F.col("l_orderkey").isNull()).select(
        "o_orderkey", "o_orderstatus", "o_orderpriority"
    )
    return run_to_memory(out, spark)


@register(
    "fulfillment_stats_stream",
    oracle=f"""
    WITH wm AS (
      SELECT least((SELECT max(o_orderdate) FROM orders),
                   (SELECT max(l_shipdate) FROM lineitem))
             - INTERVAL {WM_S} SECOND - INTERVAL 120 DAY AS w
    ),
    j AS (
      SELECT date_trunc('week', o.o_orderdate) AS wk,
             {sql_money_sum("l.l_extendedprice * (1 - l.l_discount)")} AS revenue,
             count(*) AS line_ct
      FROM orders o JOIN lineitem l
        ON l.l_orderkey = o.o_orderkey
       AND l.l_shipdate >= o.o_orderdate
       AND l.l_shipdate <= o.o_orderdate + INTERVAL 120 DAY
      GROUP BY 1
    )
    SELECT strftime(wk, '%Y-%m-%d %H:%M:%S') AS stt,
           strftime(wk + INTERVAL 7 DAY, '%Y-%m-%d %H:%M:%S') AS edt,
           line_ct, revenue
    FROM j, wm WHERE wk + INTERVAL 7 DAY <= wm.w
    """,
    doc=(
        "CHAINED STATEFUL OPERATORS: stream-stream interval join feeding "
        "a tumbling-window aggregate in ONE streaming query (Spark 3.4+ "
        "multi-stateful-operator support) — the reference chains these "
        "across apps via Kafka topics (OrderWideApp -> dwm topic -> "
        "ProductStatsApp); here watermark PROPAGATION replaces the topic "
        "hop: the join's output watermark is the global watermark minus "
        "the band's upper bound (120d — a match can surface an order "
        "that old), so the window operator closes exactly the weeks "
        "provably complete. The oracle gates on that propagated bound "
        "(min of both maxima - delay - 120d), verified to match Spark's "
        "emission set exactly: a window emitted early (before its joined "
        "input could be complete) or held back changes the hash. Money "
        "as exact cents both sides"
    ),
)
def fulfillment_stats_stream_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.money import cents
    from ..operators.windows import TS_FMT

    orders = stream_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderdate").alias("o_event_ts")
    )
    li = stream_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_shipdate").alias("l_event_ts"),
        cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_c"),
    )
    joined = interval_join_stream(
        orders, li,
        keys=F.col("l_orderkey") == F.col("o_orderkey"),
        left_ts="o_event_ts", right_ts="l_event_ts",
        lower="INTERVAL 0 DAY", upper="INTERVAL 120 DAY",
        left_watermark=f"{WM_S} second", right_watermark=f"{WM_S} second",
        how="inner",
    )
    agg = joined.groupBy(
        F.window("o_event_ts", "7 days", "7 days", "4 days").alias("win")
    ).agg(
        F.count("*").alias("line_ct"),
        (F.sum("net_c") / F.lit(100.0)).alias("revenue"),
    )
    return run_to_memory(
        agg.select(
            F.date_format("win.start", TS_FMT).alias("stt"),
            F.date_format("win.end", TS_FMT).alias("edt"),
            "line_ct", "revenue",
        ),
        spark,
    )


@register(
    "txlog_cdc_stream",
    oracle=f"""
    WITH p AS (SELECT max(o_orderkey) AS mx FROM orders),
         w AS (SELECT mx // 3 AS b1, (2 * mx) // 3 AS b2,
                      mx // 8 AS ulo, mx // 8 + mx // 16 AS uhi,
                      b2 + (mx - b2) // 4 AS dlo,
                      b2 + (mx - b2) // 4 + mx // 16 AS dhi, mx
               FROM (SELECT mx, mx // 3 AS b1, (2 * mx) // 3 AS b2 FROM p))
    SELECT o_orderstatus, count(*) AS order_ct,
           {sql_money_sum("CASE WHEN o_orderkey BETWEEN w.ulo AND w.uhi "
                          "THEN o_totalprice * 2 ELSE o_totalprice END")} AS revenue
    FROM (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders, w
      WHERE o_orderkey NOT BETWEEN w.dlo AND w.dhi
      UNION ALL
      SELECT w.mx + s.i AS o_orderkey, 'X' AS o_orderstatus,
             10.0 AS o_totalprice
      FROM w, (SELECT unnest(generate_series(1, 5)) AS i) s
    ) t, w GROUP BY o_orderstatus
    """,
    doc=(
        "EXACTLY-ONCE STREAMING CDC APPLY (streaming/ingest.py "
        "start_cdc_sink + storage/txlog.py apply_cdc): the same envelope "
        "as txlog_cdc_apply — updates, deletes, inserts on disjoint key "
        "windows — replayed as a 3-epoch micro-batch stream through a "
        "foreachBatch sink that applies each batch ATOMICALLY keyed "
        "(app_id, epoch); then the WHOLE stream is replayed from a fresh "
        "checkpoint (total consumer crash) and every epoch must be "
        "skipped by the log's high-water mark, not re-applied — a "
        "re-applied update doubles a price twice, a re-applied insert "
        "duplicates rows, and either changes the hash. Per-key envelope "
        "rows are unique and op windows disjoint, so the final state is "
        "independent of how the epoch split partitions the envelope — "
        "which is what lets one batch oracle grade a streaming apply. "
        "The streaming end of reference DimSinkFunction.java:17-89"
    ),
)
def txlog_cdc_stream_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from ..functions.money import money_sum
    from ..sources.streams import stream_dir, write_epoch_files
    from ..storage import TxLog
    from .ingest import start_cdc_sink

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    work = mkscratch(prefix="txlog_cdc_stream_")
    log = TxLog(os.path.join(work, "table"))
    mx = orders.agg(F.max("o_orderkey")).first()[0]
    b1, b2 = mx // 3, (2 * mx) // 3
    for lo, hi in zip([0, b1, b2], [b1, b2, mx + 1]):
        log.append(
            orders.where((F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < hi))
            .coalesce(1),
            stats_cols=["o_orderkey"], app_id="load", app_version=lo,
        )
    ulo, uhi = mx // 8, mx // 8 + mx // 16
    dlo = b2 + (mx - b2) // 4
    dhi = dlo + mx // 16
    updates = orders.where(F.col("o_orderkey").between(ulo, uhi)).select(
        "o_orderkey", "o_orderstatus",
        (F.col("o_totalprice") * 2).alias("o_totalprice"), F.lit("u").alias("op"),
    )
    deletes = orders.where(F.col("o_orderkey").between(dlo, dhi)).select(
        "o_orderkey", F.lit(None).cast("string").alias("o_orderstatus"),
        F.lit(None).cast("double").alias("o_totalprice"), F.lit("d").alias("op"),
    )
    inserts = spark.range(1, 6).select(
        (F.lit(mx) + F.col("id")).alias("o_orderkey"),
        F.lit("X").alias("o_orderstatus"),
        F.lit(10.0).alias("o_totalprice"), F.lit("i").alias("op"),
    )
    envelope = updates.unionByName(deletes).unionByName(inserts)
    splits = write_epoch_files(
        envelope, "o_orderkey", 3, os.path.join(work, "splits"), work
    )
    schema = "o_orderkey long, o_orderstatus string, o_totalprice double, op string"
    for ckpt in ("ckpt1", "ckpt2"):  # second pass = total crash-replay
        q = start_cdc_sink(
            stream_dir(spark, splits, schema, max_files_per_trigger=1),
            log, os.path.join(work, ckpt), key="o_orderkey",
        )
        q.awaitTermination()
    return (
        log.snapshot(spark)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("order_ct"),
            money_sum(F.col("o_totalprice")).alias("revenue"),
        )
    )


@register(
    "txlog_source_stream",
    oracle=f"""
    WITH p AS (SELECT max(o_orderkey) AS mx FROM orders),
         w AS (SELECT mx, mx // 2 AS b1,
                      mx // 8 AS ulo, mx // 8 + mx // 16 AS uhi,
                      mx // 2 + mx // 8 AS dlo,
                      mx // 2 + mx // 8 + mx // 16 AS dhi
               FROM p)
    SELECT o_orderstatus, _change_type, count(*) AS change_ct,
           {sql_money_sum("o_totalprice")} AS revenue
    FROM (
      SELECT o_orderstatus, 'insert' AS _change_type, o_totalprice
      FROM orders
      UNION ALL
      SELECT o_orderstatus, 'upsert', o_totalprice * 2
      FROM orders, w WHERE o_orderkey BETWEEN w.ulo AND w.uhi
      UNION ALL
      SELECT NULL, 'delete', NULL
      FROM orders, w WHERE o_orderkey BETWEEN w.dlo AND w.dhi
      UNION ALL
      SELECT 'X', 'upsert', 10.0
      FROM w, (SELECT unnest(generate_series(1, 5)) AS i) s
    ) t GROUP BY o_orderstatus, _change_type
    """,
    doc=(
        "TXLOG AS A STREAMING SOURCE (storage/txlog_source.py, r6 verdict "
        "task 4): the storage counterpart of the reference's topic-linked "
        "apps (ProductStatsApp.java:61-77 reading a dwd topic another job "
        "produced) — here the TABLE is the topic. The fixture builds a "
        "TxLog table from two append slices plus one transactional "
        "apply_cdc envelope (doubled prices, a delete window, five "
        "inserts), then `readStream.format('txlog')` with cdf=true "
        "replays the WHOLE log — appends typed 'insert', the CDC commit "
        "served from its typed sidecar — into a grouped aggregate. The "
        "stream runs TWICE from independent checkpoints and both replays "
        "must agree row-for-row (offsets are versions and partitions() "
        "is a pure function of the immutable manifest range, so a "
        "crash-replayed batch is byte-identical); the oracle rebuilds "
        "the same change rows in SQL."
    ),
)
def txlog_source_stream_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from ..functions.money import money_sum
    from ..storage import TxLog, register_txlog_source

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    work = mkscratch(prefix="txlog_source_stream_")
    log = TxLog(os.path.join(work, "table"))
    mx = orders.agg(F.max("o_orderkey")).first()[0]
    b1 = mx // 2
    for lo, hi in ((0, b1), (b1, mx + 1)):
        log.append(
            orders.where((F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < hi))
            .coalesce(1),
            stats_cols=["o_orderkey"],
        )
    ulo, uhi = mx // 8, mx // 8 + mx // 16
    dlo, dhi = b1 + mx // 8, b1 + mx // 8 + mx // 16
    updates = orders.where(F.col("o_orderkey").between(ulo, uhi)).select(
        "o_orderkey", "o_orderstatus",
        (F.col("o_totalprice") * 2).alias("o_totalprice"), F.lit("u").alias("op"),
    )
    deletes = orders.where(F.col("o_orderkey").between(dlo, dhi)).select(
        "o_orderkey", F.lit(None).cast("string").alias("o_orderstatus"),
        F.lit(None).cast("double").alias("o_totalprice"), F.lit("d").alias("op"),
    )
    inserts = spark.range(1, 6).select(
        (F.lit(mx) + F.col("id")).alias("o_orderkey"),
        F.lit("X").alias("o_orderstatus"),
        F.lit(10.0).alias("o_totalprice"), F.lit("i").alias("op"),
    )
    log.apply_cdc(
        spark, updates.unionByName(deletes).unionByName(inserts), "o_orderkey"
    )
    register_txlog_source(spark)
    replays = []
    for _ in range(2):  # independent full replays must agree row-for-row
        src = (
            spark.readStream.format("txlog")
            .option("path", log.path)
            .option("cdf", "true")
            .load()
        )
        agg = src.groupBy("o_orderstatus", "_change_type").agg(
            F.count("*").alias("change_ct"),
            money_sum(F.col("o_totalprice")).alias("revenue"),
        )
        replays.append(run_to_memory(agg, spark, output_mode="complete"))
    a = sorted(map(tuple, replays[0].collect()), key=repr)  # repr: None-safe
    b = sorted(map(tuple, replays[1].collect()), key=repr)
    assert a == b, "txlog source replay diverged between independent runs"
    return replays[1]


@register(
    "cdc_route_materialized",
    oracle="""
    SELECT 'dwd_order_info' AS sink_table, o_orderkey AS id,
           o_custkey AS user_id,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) / 100.0 AS total_amount,
           CAST(NULL AS VARCHAR) AS name, CAST(NULL AS DOUBLE) AS acct
    FROM orders WHERE o_orderkey % 10 NOT IN (0, 1)
    UNION ALL
    SELECT 'dim_user_info', c_custkey, NULL, NULL, c_name,
           CASE WHEN c_custkey % 7 = 0
                THEN CAST(floor((c_acctbal + 1) * 100 + 0.5) AS BIGINT) / 100.0
                ELSE CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) / 100.0 END
    FROM customer
    """,
    doc=(
        "R2/R3 GRADED END-TO-END (r6 verdict task 7 — streaming/router.py "
        "route_micro_batch; reference TableProcessFunction.java:130-189 + "
        "DimSinkFunction.java:17-89): a mixed CDC envelope (order_info "
        "rows with insert/update/delete ops, user_info rows where a "
        "second 'update' wave revises 1-in-7 accounts) replays as 3 "
        "micro-batch epochs through the dynamic router. The config list "
        "routes order_info inserts to a TABLE sink (idempotent epoch "
        "appends), both user_info ops to a DIM sink (TxLog MERGE on id), "
        "and drops the unconfigured order ops (P4 pruning — keys "
        "%10 in (0,1) must be absent). The WHOLE stream then replays "
        "from a fresh checkpoint (total consumer crash): table epochs "
        "must be skipped by the app high-water mark and dim merges must "
        "be idempotent — any duplication or re-applied wave changes the "
        "hash. Result = the union of both sink snapshots; oracle = the "
        "equivalent DuckDB upsert/append."
    ),
)
def cdc_route_materialized_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from ..functions.money import money
    from ..sources.streams import stream_dir, write_epoch_files
    from ..streaming.router import RouteConfig, read_sink, start_router

    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    nul_s, nul_d = F.lit(None).cast("string"), F.lit(None).cast("double")
    op = (
        F.when(F.col("o_orderkey") % 10 == 0, "delete")
        .when(F.col("o_orderkey") % 10 == 1, "update")
        .otherwise("insert")
    )
    order_env = orders.select(
        F.lit("order_info").alias("source_table"), op.alias("op"),
        F.col("o_orderkey").alias("id"), F.col("o_custkey").alias("user_id"),
        money(F.col("o_totalprice")).alias("total_amount"),
        nul_s.alias("name"), nul_d.alias("acct"),
    )
    user_wave1 = cust.select(
        F.lit("user_info").alias("source_table"), F.lit("insert").alias("op"),
        F.col("c_custkey").alias("id"), F.lit(None).cast("long").alias("user_id"),
        nul_d.alias("total_amount"), F.col("c_name").alias("name"),
        money(F.col("c_acctbal")).alias("acct"),
    )
    user_wave2 = cust.where(F.col("c_custkey") % 7 == 0).select(
        F.lit("user_info").alias("source_table"), F.lit("update").alias("op"),
        F.col("c_custkey").alias("id"), F.lit(None).cast("long").alias("user_id"),
        nul_d.alias("total_amount"), F.col("c_name").alias("name"),
        money(F.col("c_acctbal") + 1).alias("acct"),
    )
    envelope = order_env.unionByName(user_wave1).unionByName(user_wave2)
    # Epoch sort key: a key's insert orders strictly before its update, so
    # an ntile boundary between them can only put the insert in an EARLIER
    # epoch — the dim MERGE then applies waves in envelope order.
    envelope = envelope.withColumn(
        "sort_key", F.col("id") * 2 + (F.col("op") == "update").cast("long")
    )
    configs = [
        RouteConfig("order_info", "insert", "dwd_order_info",
                    ("id", "user_id", "total_amount"), "table"),
        RouteConfig("user_info", "insert", "dim_user_info",
                    ("id", "name", "acct"), "dim", "id"),
        RouteConfig("user_info", "update", "dim_user_info",
                    ("id", "name", "acct"), "dim", "id"),
    ]
    work = mkscratch(prefix="cdc_route_mat_")
    splits = write_epoch_files(
        envelope, "sort_key", 3, os.path.join(work, "splits"), work
    )
    schema = (
        "source_table string, op string, id long, user_id long, "
        "total_amount double, name string, acct double"
    )
    sinks = os.path.join(work, "sinks")
    for ckpt in ("ckpt1", "ckpt2"):  # second pass = total crash-replay
        h = start_router(
            stream_dir(spark, splits, schema, max_files_per_trigger=1),
            lambda: configs, sinks, os.path.join(work, ckpt),
        )
        h.awaitTermination()
    dwd = read_sink(spark, sinks, "dwd_order_info").select(
        F.lit("dwd_order_info").alias("sink_table"), "id", "user_id",
        "total_amount", nul_s.alias("name"), nul_d.alias("acct"),
    )
    dim = read_sink(spark, sinks, "dim_user_info", "dim").select(
        F.lit("dim_user_info").alias("sink_table"), "id",
        F.lit(None).cast("long").alias("user_id"),
        nul_d.alias("total_amount"), "name", "acct",
    )
    return dwd.unionByName(dim)


@register(
    "dwd_chain_stream",
    oracle="""
    SELECT 'dwd_order_info' AS sink_table, o_orderkey AS id,
           o_custkey AS user_id,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) / 100.0 AS total_amount,
           CAST(NULL AS VARCHAR) AS name, CAST(NULL AS DOUBLE) AS acct
    FROM orders WHERE o_orderkey % 7 NOT IN (0, 1)
    UNION ALL
    SELECT 'dim_user_info', c_custkey, NULL, NULL, c_name,
           CASE WHEN c_custkey % 5 = 0
                THEN CAST(floor((c_acctbal + 2) * 100 + 0.5) AS BIGINT) / 100.0
                ELSE CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) / 100.0 END
    FROM customer
    """,
    doc=(
        "THE REFERENCE'S FULL DWD TOPOLOGY, storage edition (BaseDBApp."
        "java:49-58 consuming the ods_base_db topic that the CDC job "
        "produced, routing through TableProcessFunction into dwd topics "
        "and Phoenix dims): here the ODS layer is a TxLog table fed by "
        "three epoch appends of the raw CDC envelope, BaseDBApp is "
        "`readStream.format('txlog')` chained into the dynamic router, "
        "and the dwd/dim layers are TxLog sinks — table-as-topic "
        "chaining end-to-end across BOTH round-7 pieces. Three runs "
        "grade the contract cdc_route_materialized cannot: run 1 routes "
        "the first two ODS commits; a THIRD commit lands and the SAME "
        "checkpoint resumes, so run 2 must route ONLY the new commit "
        "(follow-the-log incrementality); run 3 replays everything from "
        "a fresh checkpoint and every already-applied epoch must be "
        "skipped by the sink log's app high-water mark — double-applied "
        "appends or re-ordered dim waves change the hash. Oracle = the "
        "equivalent DuckDB append/upsert over the source tables."
    ),
)
def dwd_chain_stream_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from pyspark.sql import Window

    from ..functions.money import money
    from ..storage import TxLog, register_txlog_source
    from ..streaming.router import RouteConfig, read_sink, start_router

    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    nul_s, nul_d = F.lit(None).cast("string"), F.lit(None).cast("double")
    op = (
        F.when(F.col("o_orderkey") % 7 == 0, "delete")
        .when(F.col("o_orderkey") % 7 == 1, "update")
        .otherwise("insert")
    )
    order_env = orders.select(
        F.lit("order_info").alias("source_table"), op.alias("op"),
        F.col("o_orderkey").alias("id"), F.col("o_custkey").alias("user_id"),
        money(F.col("o_totalprice")).alias("total_amount"),
        nul_s.alias("name"), nul_d.alias("acct"),
    )
    user_wave1 = cust.select(
        F.lit("user_info").alias("source_table"), F.lit("insert").alias("op"),
        F.col("c_custkey").alias("id"), F.lit(None).cast("long").alias("user_id"),
        nul_d.alias("total_amount"), F.col("c_name").alias("name"),
        money(F.col("c_acctbal")).alias("acct"),
    )
    user_wave2 = cust.where(F.col("c_custkey") % 5 == 0).select(
        F.lit("user_info").alias("source_table"), F.lit("update").alias("op"),
        F.col("c_custkey").alias("id"), F.lit(None).cast("long").alias("user_id"),
        nul_d.alias("total_amount"), F.col("c_name").alias("name"),
        money(F.col("c_acctbal") + 2).alias("acct"),
    )
    envelope = order_env.unionByName(user_wave1).unionByName(user_wave2)
    # Same wave-ordering contract as cdc_route_materialized: a key's
    # insert sorts strictly before its update, so an epoch boundary can
    # only put the insert in an EARLIER ODS commit.
    envelope = envelope.withColumn(
        "_epoch",
        F.ntile(3).over(
            Window.orderBy(F.col("id") * 2 + (F.col("op") == "update").cast("long"))
        ),
    )
    # Three ODS appends each filter this frame: materialize it once so the
    # single-partition ntile sort over the full envelope runs one time,
    # not once per append (guide §2.4 compute-once).
    envelope = envelope.localCheckpoint(eager=True)
    work = mkscratch(prefix="dwd_chain_")
    ods = TxLog(os.path.join(work, "ods_base_db"))
    for e in (1, 2):  # the first two ODS commits exist before the stream
        ods.append(envelope.where(F.col("_epoch") == e).drop("_epoch").coalesce(1))
    register_txlog_source(spark)
    configs = [
        RouteConfig("order_info", "insert", "dwd_order_info",
                    ("id", "user_id", "total_amount"), "table"),
        RouteConfig("user_info", "insert", "dim_user_info",
                    ("id", "name", "acct"), "dim", "id"),
        RouteConfig("user_info", "update", "dim_user_info",
                    ("id", "name", "acct"), "dim", "id"),
    ]
    sinks = os.path.join(work, "sinks")

    def run(ckpt: str) -> None:
        src = (
            spark.readStream.format("txlog")
            .option("path", ods.path)
            .load()
            .drop("_commit_version")
        )
        h = start_router(src, lambda: configs, sinks, os.path.join(work, ckpt))
        h.awaitTermination()

    run("ck_main")  # routes ODS commits 0-1
    ods.append(envelope.where(F.col("_epoch") == 3).drop("_epoch").coalesce(1))
    run("ck_main")  # SAME checkpoint: routes ONLY the new commit
    run("ck_replay")  # fresh checkpoint: full replay, all epochs skipped
    dwd = read_sink(spark, sinks, "dwd_order_info").select(
        F.lit("dwd_order_info").alias("sink_table"), "id", "user_id",
        "total_amount", nul_s.alias("name"), nul_d.alias("acct"),
    )
    dim = read_sink(spark, sinks, "dim_user_info", "dim").select(
        F.lit("dim_user_info").alias("sink_table"), "id",
        F.lit(None).cast("long").alias("user_id"),
        nul_d.alias("total_amount"), "name", "acct",
    )
    return dwd.unionByName(dim)


def _line_dedup_stream_oracle() -> str:
    from ..plans.datapipe import _sentence_ctes

    return f"""
    WITH {_sentence_ctes()},
    h AS (SELECT md5(sentence) AS line_hash, doc_id, sent_idx FROM e),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY line_hash
                                   ORDER BY doc_id, sent_idx) AS rn
      FROM h)
    SELECT line_hash, doc_id AS keep_doc, sent_idx AS keep_idx
    FROM r WHERE rn = 1
    """


@register(
    "line_dedup_stream",
    oracle=_line_dedup_stream_oracle(),
    doc=(
        "line-level dedup-on-ingest via applyInPandasWithState: the "
        "streaming form of line_dedup's first-occurrence choice — "
        "documents arrive, explode into the graded sentence pipeline, "
        "and each distinct line's first arrival (lexicographic "
        "(doc, position) minimum within a batch, keyed seen-flag across "
        "batches) wins; later copies drop. Oracle = the batch "
        "first-occurrence window over the replayed sentence pipeline"
    ),
)
def line_dedup_stream_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..datapipe.quality import sentence_segment
    from ..streaming.state import line_dedup_stream

    docs = stream_table(spark, sf_dir, "documents")
    lines = sentence_segment(docs, "doc_id", "text").select(
        F.md5(F.col("sentence")).alias("line_hash"), "doc_id", "sent_idx"
    )
    return run_to_memory(line_dedup_stream(lines), spark)


@register(
    "dedup_url_stream",
    oracle="""
    WITH u AS (
      SELECT doc_id,
        'site' || CAST(doc_id % 50 AS VARCHAR) || '.'
          || (CASE (doc_id % 5) % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'co.uk'
              ELSE 'org' END)
          || (CASE WHEN doc_id % 4 = 0 THEN '/'
              ELSE '/A/b' || CAST(doc_id % 10 AS VARCHAR) END) AS url_key
      FROM documents)
    SELECT url_key, min(doc_id) AS keep_id FROM u GROUP BY url_key
    """,
    doc=(
        "URL dedup-on-ingest: the streaming form of dedup_url — the raw "
        "messy URL is canonicalized in-stream (pure projections ride the "
        "micro-batch scan) and the coarse key (registrable_domain || "
        "path) feeds the same keyed seen-flag state as "
        "dedup_exact_stream; first arrival wins, later re-crawls of the "
        "same page drop at ingest. Oracle = the batch keeper choice "
        "(min doc per key)"
    ),
)
def dedup_url_stream_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..datapipe.urls import canonicalize_urls, synth_urls
    from ..streaming.state import exact_dedup_stream

    docs = stream_table(spark, sf_dir, "documents").select("doc_id")
    u = canonicalize_urls(synth_urls(docs))
    keyed = u.select(
        F.coalesce(
            F.concat(F.col("registrable_domain"), F.col("path")), F.lit("")
        ).alias("url_key"),
        "doc_id",
    )
    out = exact_dedup_stream(keyed, hash_col="url_key")
    return run_to_memory(out, spark).withColumnRenamed("text_hash", "url_key")


def _image_sig_stream_oracle() -> str:
    from ..plans.datapipe import _image_sig_ctes

    return f"""
    WITH {_image_sig_ctes()}
    SELECT CAST(sig_hi AS VARCHAR) || ':' || CAST(sig_lo AS VARCHAR)
             AS phash_key,
           min(doc_id) AS keep_id
    FROM sig GROUP BY 1
    """


@register(
    "image_phash_sig_stream",
    oracle=_image_sig_stream_oracle(),
    doc=(
        "image fingerprint dedup ON INGEST: the dHash walk (stateless "
        "pure-JVM decode) rides the micro-batch scan unchanged, and the "
        "exact 64-bit fingerprint keys the same seen-flag state as "
        "dedup_exact_stream — the first arrival of each perceptual hash "
        "wins, byte-identical re-encodes drop at the edge (the cheap "
        "ingest-side pass; Hamming-radius chaining stays the batch "
        "image_phash_clusters job). Oracle = min doc per replayed "
        "fingerprint"
    ),
)
def image_phash_sig_stream_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..datapipe.image_dedup import dhash_signatures, synth_pgm_payloads
    from ..streaming.state import exact_dedup_stream

    docs = stream_table(spark, sf_dir, "documents").select("doc_id")
    sig = dhash_signatures(synth_pgm_payloads(docs))
    keyed = sig.select(
        F.concat(
            F.col("sig_hi").cast("string"), F.lit(":"), F.col("sig_lo").cast("string")
        ).alias("phash_key"),
        "doc",
    )
    out = exact_dedup_stream(keyed, hash_col="phash_key", id_col="doc")
    return run_to_memory(out, spark).withColumnRenamed("text_hash", "phash_key")


def _alignment_gate_stream_oracle() -> str:
    from ..plans.datapipe import _sample_alignment_oracle

    return _sample_alignment_oracle()


@register(
    "alignment_gate_stream",
    oracle=_alignment_gate_stream_oracle(),
    doc=(
        "the STREAMING twin of sample_alignment_gate, WITHOUT the "
        "chained-streaming-aggregation shape Spark's global-watermark "
        "check rightly rejects (an r12 prototype needed the session-wide "
        "checkCorrectness bypass and was dropped for it): the stateless "
        "tar decode rides the micro-batch scan, and BOTH rollups "
        "(sample assembly + per-shard attrition) run batch-side in "
        "foreachBatch, committed idempotently through the TxLog keyed "
        "(app_id, epoch) — classifier_eval_stream's accepted shape. "
        "Correct because shards land whole per epoch file, so each "
        "epoch's per-shard rows are final at commit; the oracle is the "
        "batch gate oracle verbatim (every shard appears exactly once "
        "across the replay)"
    ),
)
def alignment_gate_stream_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from ..datapipe.multimodal import parse_tar_members, synth_tar_payloads
    from ..sources.streams import stream_dir, write_epoch_files
    from ..storage import TxLog
    from .ingest import start_alignment_gate

    docs = table(spark, sf_dir, "documents").select("doc_id")
    work = mkscratch(prefix="align_gate_stream_")
    splits = write_epoch_files(
        docs, "doc_id", INGEST_STREAM_EPOCHS, os.path.join(work, "splits"), work
    )
    stream = stream_dir(spark, splits, "doc_id long", max_files_per_trigger=1)
    members = parse_tar_members(synth_tar_payloads(stream))
    gate_dir = os.path.join(work, "gate")
    q = start_alignment_gate(
        members,
        table(spark, sf_dir, "embeddings"),
        gate_dir,
        os.path.join(work, "ckpt"),
    )
    q.awaitTermination()
    return TxLog(gate_dir).snapshot(spark)


@register(
    "warc_records_stream",
    oracle="""
    SELECT d.doc_id, CAST(t.k AS BIGINT) AS rec_idx,
           CASE (d.doc_id + t.k) % 3 WHEN 0 THEN 'response'
                WHEN 1 THEN 'request' ELSE 'metadata' END AS warc_type,
           'http://site' || CAST(d.doc_id % 97 AS VARCHAR)
             || '.example/p' || CAST(t.k AS VARCHAR) AS target_uri,
           md5(CAST(d.doc_id AS VARCHAR) || ':' || CAST(t.k AS VARCHAR))
             AS rec_id,
           CAST(10 + (d.doc_id * 7 + 13 * t.k) % 120 AS BIGINT)
             AS content_length,
           CAST(1 + d.doc_id % 3 AS BIGINT) AS n_records
    FROM documents d CROSS JOIN (VALUES (0), (1), (2)) t(k)
    WHERE t.k < 1 + d.doc_id % 3
    """,
    doc=(
        "WARC decode ON INGEST: the member walk (staged projections + "
        "record explode) rides the micro-batch scan unchanged — format "
        "decode is stateless, so the streaming plan IS the batch plan "
        "under a streaming source; graded against the same replayed-"
        "synthesis oracle as warc_records. This is the archive-ingest "
        "leg of a crawl pipeline: records parse as files land, bad "
        "members drop at the edge"
    ),
)
def warc_records_stream_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..datapipe.webarchive import parse_warc_records, synth_warc_payloads

    docs = stream_table(spark, sf_dir, "documents").select("doc_id")
    return run_to_memory(parse_warc_records(synth_warc_payloads(docs)), spark)


def _classifier_eval_stream_oracle(n_epochs: int = INGEST_STREAM_EPOCHS) -> str:
    """Oracle for `classifier_eval_stream`: replay the gate classifier's
    training (index side, doc_id % m <> 0 — exactly
    ingest_classifier_gate's cwt) and scoring of the deploy side, then
    group the confusion sums by the ntile arrival epoch. The model is
    FROZEN, so the per-epoch rows are a grouping of per-doc agreements —
    no sequential CTE chain needed; what the stream adds (and the
    checkpointed epoch commits pin) is the one-row-per-epoch contract."""
    from ..plans.datapipe import _CLF_H16, INC_NEW_MOD

    m = INC_NEW_MOD
    return f"""
    WITH nd AS (
      SELECT doc_id, ntile({n_epochs}) OVER (ORDER BY doc_id) AS epoch
      FROM documents WHERE doc_id % {m} = 0
    ),
    cbase AS MATERIALIZED (
      SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label,
             list_distinct(list_filter(
               string_split_regex(lower(text), '[^a-z]+'), x -> x <> ''
             )) AS toks
      FROM documents
    ),
    cfeat AS MATERIALIZED (
      SELECT doc_id, label, {_CLF_H16} AS h16
      FROM (SELECT doc_id, label, unnest(toks) AS tok FROM cbase)
    ),
    cwt AS MATERIALIZED (
      SELECT h16 % 1024 AS b,
             CAST((1000 * (CAST(sum(label) AS BIGINT) + 1))
                  // (count(*) + 2) AS BIGINT) AS w
      FROM cfeat WHERE doc_id % {m} <> 0 GROUP BY 1
    ),
    csc AS MATERIALIZED (
      SELECT f.doc_id, CAST(sum(coalesce(w.w, 500)) AS BIGINT) AS score,
             count(*) AS n_feats
      FROM cfeat f LEFT JOIN cwt w ON f.h16 % 1024 = w.b
      WHERE f.doc_id % {m} = 0 GROUP BY 1
    ),
    pr AS (
      SELECT n.epoch, b.label,
             CASE WHEN csc.n_feats > 0
                   AND csc.score // csc.n_feats > 500 THEN 1 ELSE 0 END AS pred
      FROM nd n
      JOIN cbase b ON b.doc_id = n.doc_id
      LEFT JOIN csc ON csc.doc_id = n.doc_id
    ),
    mrows AS (
      SELECT epoch, count(*) AS n_docs,
             sum(label * pred) AS tp, sum((1 - label) * pred) AS fp,
             sum(label * (1 - pred)) AS fn,
             sum((1 - label) * (1 - pred)) AS tn
      FROM pr GROUP BY epoch
    )
    SELECT CAST(epoch AS BIGINT) AS epoch,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
           CAST((tp + tn) * 100 // n_docs AS BIGINT) AS accuracy_pct,
           CAST(tp * 100 // (tp + fp) AS BIGINT) AS precision_pct,
           CAST(tp * 100 // (tp + fn) AS BIGINT) AS recall_pct
    FROM mrows
    """


@register(
    "classifier_eval_stream",
    oracle=_classifier_eval_stream_oracle(),
    doc=(
        "the STREAMING twin of classifier_eval — per-epoch agreement "
        "monitoring, the deployment companion every learned-filter "
        "rollout watches (retrain when the gate model's agreement "
        "decays): the classifier trains once on the accepted corpus "
        "(index side, ingest_classifier_gate's exact model), then each "
        "of three ascending-id micro-batches is scored with the FROZEN "
        "model and reduced to ONE integer confusion row, committed "
        "idempotently through the TxLog keyed (app_id, epoch). Oracle "
        "replays training + scoring (the registered classifier CTEs) "
        "grouped by the ntile arrival epoch; the coalesce-after-left-"
        "join NULL semantics match the batch evaluation exactly"
    ),
)
def classifier_eval_stream_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from ..datapipe.classifier import train_quality_classifier
    from ..plans.datapipe import INC_NEW_MOD
    from ..sources.streams import stream_dir, write_epoch_files
    from ..storage import TxLog
    from .ingest import start_classifier_eval

    docs = table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    new = docs.where(F.col("doc_id") % INC_NEW_MOD == 0)
    index_docs = docs.where(F.col("doc_id") % INC_NEW_MOD != 0)
    model = train_quality_classifier(index_docs, F.col("lang") == "en")

    work = mkscratch(prefix="clf_eval_stream_")
    splits = write_epoch_files(
        new, "doc_id", INGEST_STREAM_EPOCHS, os.path.join(work, "splits"), work
    )
    stream = stream_dir(
        spark, splits, "doc_id long, text string, lang string",
        max_files_per_trigger=1,
    )
    eval_dir = os.path.join(work, "eval")
    q = start_classifier_eval(stream, model, eval_dir, os.path.join(work, "ckpt"))
    q.awaitTermination()
    return TxLog(eval_dir).snapshot(spark)


def _tar_members_oracle() -> str:
    from ..queries import _REGISTRY

    return _REGISTRY["tar_members"].oracle


@register(
    "tar_members_stream",
    oracle=_tar_members_oracle(),
    doc=(
        "WebDataset shard listing ON INGEST — the shape the format "
        "exists for (Aizman et al. 2019: shards stream from object "
        "storage; readers index members as shards land): the tar block "
        "walk (octal fields, self-referential checksum, pad-to-block "
        "strides) is stateless per shard, so the streaming plan IS the "
        "batch plan under a streaming source; graded against the same "
        "replayed-synthesis oracle as tar_members. Corrupt shards drop "
        "whole at the edge, exactly like the batch walk"
    ),
)
def tar_members_stream_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..datapipe.multimodal import parse_tar_members, synth_tar_payloads

    docs = stream_table(spark, sf_dir, "documents").select("doc_id")
    return run_to_memory(parse_tar_members(synth_tar_payloads(docs)), spark)
