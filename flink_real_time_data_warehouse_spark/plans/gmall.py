"""Reference-derived query plans over the driver test tables.

Each query re-expresses one reference pipeline/operator (SURVEY.md §2) on the
TPC-H-ish fixtures: `orders`/`lineitem` stand in for the order/order-detail
fact streams, `events` for the behavior log, `customer/nation/region/part`
for the Phoenix dim tables, and the outputs mirror the ClickHouse DWS
tables (stt/edt window-bound strings etc.).

Determinism contract (driver hashes values): money flows as exact integer
cents (functions/money.py) so sums are order-independent and bit-identical
across engines; doubles are otherwise only passed through or touched by a
single per-row arithmetic op; quantity sums are integer-valued doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.money import cents, money, money_sum, sql_cents, sql_money, sql_money_sum
from ..operators.joins import dim_enrich, interval_join
from ..operators.stateful_batch import (
    BOUNCE_TIMEOUT_S,
    SESSION_GAP_S,
    bounce_events,
    daily_first_visit,
    first_seen_flag,
)
from ..operators.windows import tumble_bounds
from ..queries import register
from ..tables import table

# Reference money expressions on the fixtures (OrderWide split_total_amount ~
# extendedprice net of discount; PaymentWide amount additionally with tax).
NET = "l_extendedprice * (1 - l_discount)"
GROSS = "l_extendedprice * (1 - l_discount) * (1 + l_tax)"


def _net(c=F.col):
    return c("l_extendedprice") * (1 - c("l_discount"))


def _gross(c=F.col):
    return c("l_extendedprice") * (1 - c("l_discount")) * (1 + c("l_tax"))


# ---------------------------------------------------------------------------
# province_stats — SURVEY §2.5 A4 (ProvinceStatsSQLApp.java:112-132):
# tumble window × province dims, count(distinct order_id), sum(amount).
# Here: lineitem detail rows ⋈ orders ⋈ customer→nation→region (J3 dim
# enrichment), 1-day tumble on o_orderdate.
# ---------------------------------------------------------------------------
@register(
    "province_stats",
    oracle=f"""
    SELECT strftime(date_trunc('day', o.o_orderdate), '%Y-%m-%d %H:%M:%S') AS stt,
           strftime(date_trunc('day', o.o_orderdate) + INTERVAL 1 DAY, '%Y-%m-%d %H:%M:%S') AS edt,
           n.n_name AS nation_name,
           r.r_name AS region_name,
           count(DISTINCT l.l_orderkey) AS order_ct,
           {sql_money_sum(NET.replace('l_', 'l.l_'))} AS order_amount
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2, 3, 4
    """,
    doc="A4+J3: ProvinceStatsSQLApp.java:112-132 tumble+count distinct+sum; dims via broadcast join",
)
def province_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")

    # Aggregate on narrow native keys (day timestamp + nation int + order
    # id), then join the tiny name dims and format window-bound strings on
    # the aggregated rows only. Grouping 100 TB of detail by 19-char window
    # strings and carrying dim names through both agg levels would multiply
    # shuffle width for nothing — names are 1:1 with the nation key.
    # customer is O(users) (billions at 100 TB) — no pinned broadcast here;
    # AQE broadcasts it while small and falls back to a shuffle join at scale.
    detail = li.join(orders, li.l_orderkey == orders.o_orderkey).join(
        cust.select("c_custkey", "c_nationkey"),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    day = F.date_trunc("day", F.col("o_orderdate"))
    # Two-level aggregate: level 1 per order id (the distinct set), level 2
    # counts rows — equivalent to countDistinct without the Expand.
    per_order = (
        detail.select(day.alias("day"), "c_nationkey", "l_orderkey", cents(_net()).alias("net_c"))
        .groupBy("day", "c_nationkey", "l_orderkey")
        .agg(F.sum("net_c").alias("net_c"))
    )
    agg = per_order.groupBy("day", "c_nationkey").agg(
        F.count("*").alias("order_ct"),
        (F.sum("net_c") / F.lit(100.0)).alias("order_amount"),
    )
    stt, edt = tumble_bounds(F.col("day"), "day")
    return (
        agg.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            stt.alias("stt"), edt.alias("edt"),
            F.col("n_name").alias("nation_name"), F.col("r_name").alias("region_name"),
            "order_ct", "order_amount",
        )
    )


# ---------------------------------------------------------------------------
# visitor_stats — SURVEY §2.2 P8 + §2.5 A2 (VisitorStatsApp.java:65-198):
# one-hot normalization of behavior events, keyed tumble agg with distinct
# visitors and dwell-time sum. 1-hour tumble on events.ts.
# ---------------------------------------------------------------------------
@register(
    "visitor_stats",
    oracle=f"""
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
    """,
    doc="P8+A2: VisitorStatsApp.java:65-198 one-hot normalize + tumble agg (when/otherwise + groupBy window)",
)
def visitor_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    stt, edt = tumble_bounds(F.col("ts"), "hour")

    def ct(t: str, alias: str):
        return F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).alias(alias)

    return (
        ev.select(stt.alias("stt"), edt.alias("edt"), "event_type", "user_id", "value")
        .groupBy("stt", "edt")
        .agg(
            ct("view", "pv_ct"), ct("click", "click_ct"), ct("error", "err_ct"),
            ct("purchase", "purchase_ct"), ct("signup", "signup_ct"),
            F.countDistinct("user_id").alias("uv_ct"),
            money_sum(F.col("value")).alias("dur_sum"),
        )
    )


# ---------------------------------------------------------------------------
# product_stats — SURVEY §2.2 P7 + §2.5 A1/A3 + §2.4 J3 + §2.8 F10
# (ProductStatsApp.java:81-366): union of per-source normalized streams,
# keyed weekly tumble with distinct-order-set counters, then dim join.
# Branches derived from lineitem: all rows = "order", linestatus F = "paid",
# returnflag R = "refund" (the F10-style classifier).
# ---------------------------------------------------------------------------
PRODUCT_STATS_ORACLE_BODY = f"""
    WITH agg AS (
      SELECT strftime(date_trunc('week', l_shipdate), '%Y-%m-%d %H:%M:%S') AS stt,
             strftime(date_trunc('week', l_shipdate) + INTERVAL 7 DAY, '%Y-%m-%d %H:%M:%S') AS edt,
             l_partkey AS sku_id,
             sum(l_quantity) AS order_sku_num,
             {sql_money_sum(NET)} AS order_amount,
             coalesce(sum({'CAST(floor((' + GROSS + ') * 100 + 0.5) AS BIGINT)'}) FILTER (l_linestatus = 'F'), 0) / 100.0 AS payment_amount,
             coalesce(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) FILTER (l_returnflag = 'R'), 0) / 100.0 AS refund_amount,
             count(DISTINCT l_orderkey) AS order_ct,
             count(DISTINCT l_orderkey) FILTER (l_linestatus = 'F') AS paid_order_ct,
             count(DISTINCT l_orderkey) FILTER (l_returnflag = 'R') AS refund_order_ct
      FROM lineitem
      GROUP BY 1, 2, 3
    )
    SELECT agg.*, p.p_name AS sku_name, p.p_brand AS tm_name
    FROM agg JOIN part p ON agg.sku_id = p.p_partkey
"""


@register(
    "product_stats",
    oracle=PRODUCT_STATS_ORACLE_BODY,
    doc="P7+A1+A3+F10+J3: ProductStatsApp.java:81-366 union-normalize + tumble + distinct-order sets + dim join",
)
def product_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")

    # Two-level aggregate replacing the reference's per-source union + three
    # order-id HashSets (ProductStatsApp.java:231-301): level 1 pre-
    # aggregates per (window, sku, order) — the distinct-set membership —
    # then level 2 counts rows / sums flags. No Expand, no row triplication;
    # 2.1x faster than the union + conditional-countDistinct shape at sf0.1
    # and strictly better at scale (the expand multiplies shuffle volume).
    # The per-source union shape itself is covered by `events_union_stats`.
    per_order = (
        li.select(
            F.date_trunc("week", "l_shipdate").alias("wk"), F.col("l_partkey").alias("sku_id"),
            "l_orderkey", "l_quantity",
            cents(_net()).alias("net_c"),
            F.when(F.col("l_linestatus") == "F", cents(_gross())).otherwise(F.lit(0)).alias("gross_c"),
            F.when(F.col("l_returnflag") == "R", cents(F.col("l_extendedprice"))).otherwise(F.lit(0)).alias("ref_c"),
            (F.col("l_linestatus") == "F").cast("int").alias("is_paid"),
            (F.col("l_returnflag") == "R").cast("int").alias("is_ref"),
        )
        .groupBy("wk", "sku_id", "l_orderkey")
        .agg(
            F.sum("l_quantity").alias("qty"),
            F.sum("net_c").alias("net_c"),
            F.sum("gross_c").alias("gross_c"),
            F.sum("ref_c").alias("ref_c"),
            F.max("is_paid").alias("has_paid"),
            F.max("is_ref").alias("has_ref"),
        )
    )
    agg = (
        per_order.groupBy("wk", "sku_id")
        .agg(
            F.sum("qty").alias("order_sku_num"),
            (F.sum("net_c") / F.lit(100.0)).alias("order_amount"),
            (F.sum("gross_c") / F.lit(100.0)).alias("payment_amount"),
            (F.sum("ref_c") / F.lit(100.0)).alias("refund_amount"),
            F.count("*").alias("order_ct"),
            F.sum("has_paid").cast("long").alias("paid_order_ct"),
            F.sum("has_ref").cast("long").alias("refund_order_ct"),
        )
    )
    stt, edt = tumble_bounds(F.col("wk"), "week")
    enriched = dim_enrich(
        agg.withColumn("stt", stt).withColumn("edt", edt).drop("wk"),
        [(part, F.col("sku_id") == F.col("p_partkey"),
          [F.col("p_partkey"), F.col("p_name").alias("sku_name"), F.col("p_brand").alias("tm_name")])],
    ).drop("p_partkey")
    return enriched


# ---------------------------------------------------------------------------
# events_union_stats — SURVEY §2.7 U2/U3 + §2.3 R1 (ProductStatsApp.java:
# 231-238 7-way union; VisitorStatsApp.java:129 3-way union): split one log
# stream into branches, normalize each to a one-hot metric schema, union,
# aggregate. The oracle is the equivalent single-pass conditional agg.
# ---------------------------------------------------------------------------
@register(
    "events_union_stats",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS dt,
           count(*) FILTER (event_type = 'view') AS pv_ct,
           count(*) FILTER (event_type IN ('click', 'purchase', 'signup')) AS action_ct,
           count(*) FILTER (event_type = 'error') AS err_ct
    FROM events GROUP BY 1
    """,
    doc="U2+U3+R1: 3-way split -> per-branch one-hot normalize -> unionByName -> daily agg",
)
def events_union_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.pipelines import log_split

    branches = log_split(table(spark, sf_dir, "events"))

    def onehot(df: DataFrame, pv: int, act: int, err: int) -> DataFrame:
        return df.select(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("dt"),
            F.lit(pv).alias("pv"), F.lit(act).alias("act"), F.lit(err).alias("err"),
        )

    unioned = (
        onehot(branches["page"], 1, 0, 0)
        .unionByName(onehot(branches["action"], 0, 1, 0))
        .unionByName(onehot(branches["error"], 0, 0, 1))
    )
    return unioned.groupBy("dt").agg(
        F.sum("pv").alias("pv_ct"),
        F.sum("act").alias("action_ct"),
        F.sum("err").alias("err_ct"),
    )


# ---------------------------------------------------------------------------
# keyword_stats — SURVEY §2.8 F9 + §2.5 A5 (KeywordStatsApp.java:71-124 +
# SplitFunction.java): tokenize (UDTF ≡ explode of split), count per word.
# ---------------------------------------------------------------------------
@register(
    "keyword_stats",
    oracle="""
    SELECT word, count(*) AS keyword_ct, count(DISTINCT doc_id) AS doc_ct
    FROM (
      SELECT doc_id, unnest(string_split_regex(lower(text), ' +')) AS word
      FROM documents
    )
    WHERE word <> ''
    GROUP BY word
    """,
    doc="F9+A5: KeywordStatsApp.java:71-124 LATERAL TABLE(split_words) → explode(split()); count per keyword",
)
def keyword_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), " +")).alias("word")
    ).where(F.col("word") != "")
    return words.groupBy("word").agg(
        F.count("*").alias("keyword_ct"), F.countDistinct("doc_id").alias("doc_ct")
    )


# ---------------------------------------------------------------------------
# keyword_stats_cjk — SURVEY §2.8 F9 with real CJK segmentation. The
# reference's KeywordUtil.java:14-34 runs IK Analyzer over Chinese search
# text; whitespace splitting produces nothing on CJK. functions/tokenize
# provides latin-word + CJK-bigram segmentation (jieba where installed).
# The fixture documents are latin-only, so zh-tagged docs get a
# deterministic CJK phrase appended in-query (doc_id-keyed, mirrored in the
# oracle) — the tokenizer, not the fixture, is what's being graded.
# ---------------------------------------------------------------------------
# Phrases 5-8 are ambiguity-hard: overlapping lexicon entries at word
# junctions, where greedy FMM and CJK bigrams differ materially
# (研究生命起源 -> FMM 研究生|命|起源, the classic over-eat; 发展中国家 ->
# 发展|中国|家; 中国人工智能 -> 中国人|工|智能; 结合成分子 -> 结合|成分|子).
# tests/test_properties.py pins each against backward-MM to document the
# shipped greedy choice. The last two need VENDORED general-vocabulary
# words (cjk_lexicon_data) absent from the curated SEED_WORDS core
# (自然/语言/理解/技术; 计算机 out-lengthening seed's 计算) — the
# fixtures where growing the dictionary materially changes segmentation
# (pinned by test_vendored_lexicon_changes_segmentation).
CJK_PHRASES = (
    "实时数据仓库", "流处理引擎", "数据管道质量检测", "大规模机器学习",
    "研究生命起源", "发展中国家", "中国人工智能", "结合成分子",
    "自然语言理解技术", "计算机网络安全技术",
    # continuation-session tranches (14/15) exercised end-to-end:
    "天气预报准确", "演奏小提琴曲",
    # round-7 tranches (EXT18-23) exercised end-to-end:
    "公司领头羊", "医院心电图检查",
    # round-8 tranches (EXT24-28) exercised end-to-end: 歌剧院
    # out-lengthens the old dict's 歌剧|院, and 鱼竿/浮漂 assemble
    # from three singles (pinned by
    # test_vendored_lexicon_changes_segmentation).
    "歌剧院交响乐演出", "垂钓鱼竿浮漂",
)


def _cjk_oracle() -> str:
    phrases = ",".join(f"'{p}'" for p in CJK_PHRASES)
    return f"""
    WITH docs AS (
      SELECT doc_id,
             text || CASE WHEN lang = 'zh'
                          THEN ([{phrases}])[CAST(doc_id % {len(CJK_PHRASES)} AS INTEGER) + 1]
                          ELSE '' END AS text
      FROM documents
    ),
    lat AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word FROM docs
    ),
    runs AS (
      SELECT doc_id, unnest(regexp_extract_all(text, '[一-鿿]+')) AS run FROM docs
    ),
    cjk AS (
      SELECT doc_id,
             unnest(CASE WHEN length(run) = 1 THEN [run]
                         ELSE list_transform(range(1, length(run)),
                                             i -> substr(run, CAST(i AS INTEGER), 2))
                    END) AS word
      FROM runs
    )
    SELECT word, count(*) AS keyword_ct, count(DISTINCT doc_id) AS doc_ct
    FROM (SELECT * FROM lat UNION ALL SELECT * FROM cjk)
    GROUP BY word
    """


@register(
    "keyword_stats_cjk",
    oracle=_cjk_oracle(),
    doc=(
        "F9 with CJK-capable segmentation (KeywordUtil.java:14-34 IK Analyzer -> "
        "functions/tokenize.mixed_tokens: latin words + CJK bigrams; jieba path "
        "where installed); counts per keyword over mixed latin/CJK text"
    ),
)
def keyword_stats_cjk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.tokenize import mixed_tokens

    docs = table(spark, sf_dir, "documents")
    phrase = F.element_at(
        F.array(*[F.lit(p) for p in CJK_PHRASES]),
        (F.col("doc_id") % len(CJK_PHRASES)).cast("int") + 1,
    )
    mixed = docs.select(
        "doc_id",
        F.concat(F.col("text"), F.when(F.col("lang") == "zh", phrase).otherwise(F.lit(""))).alias(
            "text"
        ),
    )
    words = mixed.select("doc_id", F.explode(mixed_tokens(F.col("text"))).alias("word"))
    return words.groupBy("word").agg(
        F.count("*").alias("keyword_ct"), F.countDistinct("doc_id").alias("doc_ct")
    )


# ---------------------------------------------------------------------------
# visitor_stats_cumulate — CUMULATE windows (Flink 1.13 window TVF family,
# alongside the A7 session and A8 hop bonuses): expanding same-day windows
# [day, day+1h), [day, day+2h), ... — "metrics so far today, updated
# hourly", the canonical real-time dashboard shape. Scale-right Spark
# formulation: tumbling hourly pre-aggregate (one detail shuffle), then a
# running sum windowed per day over the TINY hourly rows — never an
# explode of detail rows into every later step. Additive metrics only
# (counts, money): a running DISTINCT is not cumulate's contract.
# ---------------------------------------------------------------------------
@register(
    "visitor_stats_cumulate",
    oracle=f"""
    WITH hourly AS (
      SELECT date_trunc('day', ts) AS day, date_trunc('hour', ts) AS hr,
             count(*) AS event_ct_h,
             coalesce(sum({sql_cents('value')}), 0) AS dur_c
      FROM events GROUP BY 1, 2
    )
    SELECT strftime(day, '%Y-%m-%d %H:%M:%S') AS stt,
           strftime(hr + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S') AS edt,
           CAST(sum(event_ct_h) OVER w AS BIGINT) AS event_ct,
           sum(dur_c) OVER w / 100.0 AS dur_sum
    FROM hourly
    WINDOW w AS (PARTITION BY day ORDER BY hr ROWS UNBOUNDED PRECEDING)
    """,
    doc=(
        "CUMULATE window TVF (Flink 1.13 windowing beyond the reference's "
        "TUMBLE apps): per-day expanding hourly steps via tumble pre-agg + "
        "running sum over the hourly rows (the window runs over O(24) rows "
        "per day, never the detail)"
    ),
)
def visitor_stats_cumulate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.windows import TS_FMT

    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.date_trunc("hour", F.col("ts")).alias("hr"),
    ).agg(
        F.count("*").alias("event_ct_h"),
        F.coalesce(F.sum(cents(F.col("value"))), F.lit(0)).alias("dur_c"),
    )
    w = Window.partitionBy("day").orderBy("hr").rowsBetween(Window.unboundedPreceding, 0)
    return hourly.select(
        F.date_format("day", TS_FMT).alias("stt"),
        F.date_format(F.col("hr") + F.expr("INTERVAL 1 HOUR"), TS_FMT).alias("edt"),
        F.sum("event_ct_h").over(w).cast("long").alias("event_ct"),
        (F.sum("dur_c").over(w) / F.lit(100.0)).alias("dur_sum"),
    )


# ---------------------------------------------------------------------------
# keyword_stats_dict — F9 with DICTIONARY segmentation (the reference's
# actual IK-Analyzer semantics, KeywordUtil.java:14-34): forward maximum
# matching over the vendored lexicon, so real multi-char words come out
# whole instead of as bigrams. The oracle replays the identical greedy
# matching with a DuckDB recursive CTE over the same inlined lexicon.
# ---------------------------------------------------------------------------
def _dict_oracle() -> str:
    from ..functions.cjk_lexicon import MAX_WORD_LEN, MIN_WORD_LEN, words_of_len

    phrases = ",".join(f"'{p}'" for p in CJK_PHRASES)
    arms_pos, arms_word = [], []
    # longest-first CASE arms == fmm_segment's longest-first probe order
    for length in range(MAX_WORD_LEN, MIN_WORD_LEN - 1, -1):
        ws = words_of_len(length)
        if not ws:
            continue
        inlist = ",".join(f"'{w}'" for w in ws)
        cond = f"substr(run, pos, {length}) IN ({inlist})"
        arms_pos.append(f"WHEN {cond} THEN {length}")
        arms_word.append(f"WHEN {cond} THEN substr(run, pos, {length})")
    return f"""
    WITH RECURSIVE docs AS (
      SELECT doc_id,
             text || CASE WHEN lang = 'zh'
                          THEN ([{phrases}])[CAST(doc_id % {len(CJK_PHRASES)} AS INTEGER) + 1]
                          ELSE '' END AS text
      FROM documents
    ),
    lat AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word FROM docs
    ),
    runs AS (
      SELECT doc_id, unnest(regexp_extract_all(text, '[一-鿿]+')) AS run FROM docs
    ),
    seg AS (
      SELECT doc_id, run, 1 AS pos, CAST(NULL AS VARCHAR) AS word FROM runs
      UNION ALL
      SELECT doc_id, run,
             pos + CASE {' '.join(arms_pos)} ELSE 1 END AS pos,
             CASE {' '.join(arms_word)} ELSE substr(run, pos, 1) END AS word
      FROM seg WHERE pos <= length(run)
    ),
    cjk AS (SELECT doc_id, word FROM seg WHERE word IS NOT NULL)
    SELECT word, count(*) AS keyword_ct, count(DISTINCT doc_id) AS doc_ct
    FROM (SELECT * FROM lat UNION ALL SELECT * FROM cjk)
    GROUP BY word
    """


@register(
    "keyword_stats_dict",
    oracle=_dict_oracle(),
    doc=(
        "F9 with dictionary segmentation (KeywordUtil.java:14-34 IK Analyzer -> "
        "functions/tokenize.dict_tokens: forward maximum matching over the "
        "vendored lexicon, Arrow-batched pandas UDF); oracle = recursive-CTE "
        "replay of the same greedy matching"
    ),
)
def keyword_stats_dict(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.tokenize import dict_tokens

    docs = table(spark, sf_dir, "documents")
    phrase = F.element_at(
        F.array(*[F.lit(p) for p in CJK_PHRASES]),
        (F.col("doc_id") % len(CJK_PHRASES)).cast("int") + 1,
    )
    mixed = docs.select(
        "doc_id",
        F.concat(F.col("text"), F.when(F.col("lang") == "zh", phrase).otherwise(F.lit(""))).alias(
            "text"
        ),
    )
    seg = dict_tokens()
    words = mixed.select("doc_id", F.explode(seg(F.col("text"))).alias("word"))
    return words.groupBy("word").agg(
        F.count("*").alias("keyword_ct"), F.countDistinct("doc_id").alias("doc_ct")
    )


# ---------------------------------------------------------------------------
# keyword_stats_smart — F9 SMART MODE (r6 verdict task 5): the IK-Analyzer
# useSmart=true tier (KeywordUtil.java:14-34) — FMM and BMM arbitrated by
# the published comparison heuristic (fewer words, then fewer single-char
# fragments, then BMM), resolving the pinned overlap-ambiguity divergences
# by RULE. The oracle replays BOTH matchers as recursive CTEs over the
# inlined lexicon and applies the identical arbitration per CJK run.
# ---------------------------------------------------------------------------
def _smart_oracle() -> str:
    from ..functions.cjk_lexicon import MAX_WORD_LEN, MIN_WORD_LEN, words_of_len

    phrases = ",".join(f"'{p}'" for p in CJK_PHRASES)
    arms_fp, arms_fw, arms_bp, arms_bw = [], [], [], []
    # longest-first CASE arms == the matchers' longest-first probe order
    for length in range(MAX_WORD_LEN, MIN_WORD_LEN - 1, -1):
        ws = words_of_len(length)
        if not ws:
            continue
        inlist = ",".join(f"'{w}'" for w in ws)
        fcond = f"substr(run, pos, {length}) IN ({inlist})"
        arms_fp.append(f"WHEN {fcond} THEN {length}")
        arms_fw.append(f"WHEN {fcond} THEN substr(run, pos, {length})")
        bcond = f"pos >= {length} AND substr(run, pos - {length - 1}, {length}) IN ({inlist})"
        arms_bp.append(f"WHEN {bcond} THEN {length}")
        arms_bw.append(f"WHEN {bcond} THEN substr(run, pos - {length - 1}, {length})")
    return f"""
    WITH RECURSIVE docs AS (
      SELECT doc_id,
             text || CASE WHEN lang = 'zh'
                          THEN ([{phrases}])[CAST(doc_id % {len(CJK_PHRASES)} AS INTEGER) + 1]
                          ELSE '' END AS text
      FROM documents
    ),
    lat AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word FROM docs
    ),
    runsx AS (
      SELECT doc_id, i AS run_ord, arr[i] AS run
      FROM (SELECT doc_id, regexp_extract_all(text, '[一-鿿]+') AS arr FROM docs) t,
           unnest(generate_series(1, len(arr))) AS u(i)
    ),
    segf AS (
      SELECT doc_id, run_ord, run, 1 AS pos, CAST(NULL AS VARCHAR) AS word FROM runsx
      UNION ALL
      SELECT doc_id, run_ord, run,
             pos + CASE {' '.join(arms_fp)} ELSE 1 END AS pos,
             CASE {' '.join(arms_fw)} ELSE substr(run, pos, 1) END AS word
      FROM segf WHERE pos <= length(run)
    ),
    segb AS (
      SELECT doc_id, run_ord, run, length(run) AS pos, CAST(NULL AS VARCHAR) AS word FROM runsx
      UNION ALL
      SELECT doc_id, run_ord, run,
             pos - CASE {' '.join(arms_bp)} ELSE 1 END AS pos,
             CASE {' '.join(arms_bw)} ELSE substr(run, pos, 1) END AS word
      FROM segb WHERE pos >= 1
    ),
    fw AS (SELECT doc_id, run_ord, word FROM segf WHERE word IS NOT NULL),
    bw AS (SELECT doc_id, run_ord, word FROM segb WHERE word IS NOT NULL),
    fstat AS (SELECT doc_id, run_ord, count(*) AS n,
                     sum(CASE WHEN length(word) = 1 THEN 1 ELSE 0 END) AS s
              FROM fw GROUP BY 1, 2),
    bstat AS (SELECT doc_id, run_ord, count(*) AS n,
                     sum(CASE WHEN length(word) = 1 THEN 1 ELSE 0 END) AS s
              FROM bw GROUP BY 1, 2),
    choice AS (
      SELECT f.doc_id, f.run_ord,
             CASE WHEN f.n < b.n THEN 'f' WHEN b.n < f.n THEN 'b'
                  WHEN f.s < b.s THEN 'f' ELSE 'b' END AS side
      FROM fstat f JOIN bstat b USING (doc_id, run_ord)
    ),
    cjk AS (
      SELECT w.doc_id, w.word FROM fw w
      JOIN choice c USING (doc_id, run_ord) WHERE c.side = 'f'
      UNION ALL
      SELECT w.doc_id, w.word FROM bw w
      JOIN choice c USING (doc_id, run_ord) WHERE c.side = 'b'
    )
    SELECT word, count(*) AS keyword_ct, count(DISTINCT doc_id) AS doc_ct
    FROM (SELECT * FROM lat UNION ALL SELECT * FROM cjk)
    GROUP BY word
    """


@register(
    "keyword_stats_smart",
    oracle=_smart_oracle(),
    doc=(
        "F9 SMART MODE (KeywordUtil.java:14-34 IK useSmart=true -> "
        "functions/tokenize.smart_tokens): FMM/BMM arbitrated by the "
        "published comparison heuristic — fewer words, then fewer "
        "single-char fragments, then BMM — resolving the four pinned "
        "overlap-ambiguity divergences by rule (研究生命起源 -> "
        "研究|生命|起源 etc.); oracle = dual recursive-CTE replay of both "
        "matchers plus the identical per-run arbitration"
    ),
)
def keyword_stats_smart(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.tokenize import smart_tokens

    docs = table(spark, sf_dir, "documents")
    phrase = F.element_at(
        F.array(*[F.lit(p) for p in CJK_PHRASES]),
        (F.col("doc_id") % len(CJK_PHRASES)).cast("int") + 1,
    )
    mixed = docs.select(
        "doc_id",
        F.concat(F.col("text"), F.when(F.col("lang") == "zh", phrase).otherwise(F.lit(""))).alias(
            "text"
        ),
    )
    seg = smart_tokens()
    words = mixed.select("doc_id", F.explode(seg(F.col("text"))).alias("word"))
    return words.groupBy("word").agg(
        F.count("*").alias("keyword_ct"), F.countDistinct("doc_id").alias("doc_ct")
    )


# ---------------------------------------------------------------------------
# session_stats — session windows as a first-class aggregate. The reference
# reaches for sessions via CEP gap patterns (UserJumpDetailApp.java:81-120);
# Flink also exposes EventTimeSessionWindows — this is that operator on
# Spark's session_window, batch and streaming (stream_queries).
# Boundary contract: Spark merges events whose gap is STRICTLY < gap, so
# the oracle starts a new session at diff >= gap.
# ---------------------------------------------------------------------------
SESSION_STATS_ORACLE_BODY = f"""
    WITH ordered AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                       >= {SESSION_GAP_S}
                  THEN 1 ELSE 0 END AS new_s
      FROM events
    ),
    sess AS (
      SELECT user_id, ts, value,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM ordered
    )
    SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS stt,
           strftime(max(ts) + INTERVAL {SESSION_GAP_S} SECOND, '%Y-%m-%d %H:%M:%S') AS edt,
           user_id, count(*) AS event_ct, {sql_money_sum('value')} AS dur_sum
    FROM sess GROUP BY user_id, sid
    """


@register(
    "session_stats",
    oracle=SESSION_STATS_ORACLE_BODY,
    doc="session-window aggregate (EventTimeSessionWindows analog via F.session_window); oracle sessionizes with lag + cumulative flags",
)
def session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import session_agg

    ev = table(spark, sf_dir, "events")
    return session_agg(
        ev, "ts", f"{SESSION_GAP_S} seconds", [F.col("user_id")],
        [F.count("*").alias("event_ct"), money_sum(F.col("value")).alias("dur_sum")],
    )


# ---------------------------------------------------------------------------
# visitor_stats_sliding — HOP (sliding) windows, the Flink windowing surface
# the reference's apps don't use but every Flink deployment has
# (SlidingEventTimeWindows / SQL HOP). 1-hour window sliding every 30 min:
# each event belongs to exactly size/slide = 2 windows. Spark expresses it
# natively: F.window(ts, size, slide) — the window assignment explodes
# map-side and the agg shuffles on the (window, key) hash, same as tumble.
# Oracle: each event contributes to time_bucket(30min, ts) and the bucket
# 30 min earlier (both always cover ts when size = 2 x slide).
# ---------------------------------------------------------------------------
SLIDE_ORACLE_BODY = f"""
    WITH w AS (
      SELECT unnest([time_bucket(INTERVAL 30 MINUTE, ts),
                     time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE]) AS ws,
             user_id, value
      FROM events
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS stt,
           strftime(ws + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S') AS edt,
           count(*) AS event_ct,
           count(DISTINCT user_id) AS uv_ct,
           {sql_money_sum('value')} AS dur_sum
    FROM w GROUP BY 1, 2
    """


@register(
    "visitor_stats_sliding",
    oracle=SLIDE_ORACLE_BODY,
    doc=(
        "HOP/sliding windows (SlidingEventTimeWindows, SQL HOP — Flink core "
        "windowing beyond the reference's TUMBLE-only apps): 1 h window, "
        "30 min slide via F.window(ts, size, slide); assignment explodes "
        "map-side (size/slide = 2 rows per event), agg shuffles on the "
        "(window, key) hash like tumble"
    ),
)
def visitor_stats_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import TS_FMT

    ev = table(spark, sf_dir, "events")
    g = ev.groupBy(F.window(F.col("ts"), "1 hour", "30 minutes").alias("win")).agg(
        F.count("*").alias("event_ct"),
        F.countDistinct("user_id").alias("uv_ct"),
        money_sum(F.col("value")).alias("dur_sum"),
    )
    return g.select(
        F.date_format("win.start", TS_FMT).alias("stt"),
        F.date_format("win.end", TS_FMT).alias("edt"),
        "event_ct", "uv_ct", "dur_sum",
    )


# ---------------------------------------------------------------------------
# uv_daily — SURVEY §2.6 T2 (UniqueVisitApp.java:53-102): keyed 24h-TTL state
# keeps each visitor's first visit per day. Batch formulation: min per
# (user, day).
# ---------------------------------------------------------------------------
@register(
    "uv_daily",
    oracle="""
    SELECT user_id, date_trunc('day', ts) AS visit_day,
           min(ts) AS first_ts, count(*) AS visit_ct
    FROM events GROUP BY 1, 2
    """,
    doc="T2: UniqueVisitApp.java:53-102 daily-first-visit dedup (streaming impl: streaming/state.py)",
)
def uv_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return daily_first_visit(table(spark, sf_dir, "events")).select(
        "user_id", "visit_day", "first_ts", "visit_ct"
    )


# ---------------------------------------------------------------------------
# new_user_fix — SURVEY §2.6 T1 (BaseLogApp.java:69-102): rewrite is_new
# using keyed first-seen state. Batch formulation: row_number == 1.
# ---------------------------------------------------------------------------
@register(
    "new_user_fix",
    oracle="""
    SELECT event_id, user_id,
           CASE WHEN row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) = 1
                THEN 1 ELSE 0 END AS is_new
    FROM events
    """,
    doc="T1: BaseLogApp.java:69-102 new-vs-returning correction via keyed first-seen state",
)
def new_user_fix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return first_seen_flag(table(spark, sf_dir, "events")).select("event_id", "user_id", "is_new")


# ---------------------------------------------------------------------------
# bounce_events — SURVEY §2.6 T3 (UserJumpDetailApp.java:81-120): CEP bounce
# detection. Batch semantics: session-start (gap > 6h) with no follow-up
# within the timeout. Streaming impl: streaming/state.py (applyInPandasWithState).
# ---------------------------------------------------------------------------
@register(
    "bounce_events",
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
      AND (next_ts IS NULL OR epoch(next_ts) - epoch(ts) > {BOUNCE_TIMEOUT_S})
    """,
    doc="T3: UserJumpDetailApp.java:81-120 bounce CEP; batch lag/lead formulation",
)
def bounce_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bounce_events(table(spark, sf_dir, "events")).select("event_id", "user_id", "ts")


# ---------------------------------------------------------------------------
# order_wide — SURVEY §2.4 J1 + J3, §2.2 P5/P6 (OrderWideApp.java): interval
# join order↔detail (detail ships within [0, 90d] of order) + 3-dim
# enrichment + derived date columns. Row-level wide output.
# ---------------------------------------------------------------------------
ORDER_WIDE_ORACLE = f"""
    SELECT o.o_orderkey AS order_id, l.l_linenumber AS detail_id,
           l.l_partkey AS sku_id, l.l_quantity AS sku_num,
           {sql_money(NET.replace('l_', 'l.l_'))} AS split_total_amount,
           strftime(o.o_orderdate, '%Y-%m-%d') AS create_date,
           date_diff('day', o.o_orderdate, l.l_shipdate) AS ship_delay_days,
           c.c_name AS user_name, n.n_name AS nation_name, r.r_name AS region_name
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      AND l.l_shipdate >= o.o_orderdate
      AND l.l_shipdate <= o.o_orderdate + INTERVAL 90 DAY
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    """


def order_wide_select(joined: DataFrame, cust: DataFrame, nation: DataFrame, region: DataFrame) -> DataFrame:
    """Dim enrichment + wide projection shared by the batch and streaming
    order_wide plans (the dims are broadcast either way — stream-static
    broadcast join in streaming, the J3 async-lookup replacement)."""
    wide = dim_enrich(
        joined,
        [
            (cust, F.col("o_custkey") == F.col("c_custkey"), [F.col("c_custkey"), F.col("c_name"), F.col("c_nationkey")]),
            (nation, F.col("c_nationkey") == F.col("n_nationkey"), [F.col("n_nationkey"), F.col("n_name"), F.col("n_regionkey")]),
            (region, F.col("n_regionkey") == F.col("r_regionkey"), [F.col("r_regionkey"), F.col("r_name")]),
        ],
    )
    return wide.select(
        F.col("o_orderkey").alias("order_id"),
        F.col("l_linenumber").alias("detail_id"),
        F.col("l_partkey").alias("sku_id"),
        F.col("l_quantity").alias("sku_num"),
        money(_net()).alias("split_total_amount"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("create_date"),
        F.datediff("l_shipdate", "o_orderdate").alias("ship_delay_days"),
        F.col("c_name").alias("user_name"),
        F.col("n_name").alias("nation_name"),
        F.col("r_name").alias("region_name"),
    )


@register(
    "order_wide",
    oracle=ORDER_WIDE_ORACLE,
    doc="J1+J3+P5+P6: OrderWideApp.java:94-105 interval join bounds; :123-233 dim enrichment; :51-64 derived cols",
)
def order_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")

    joined = interval_join(
        orders, li,
        keys=li.l_orderkey == orders.o_orderkey,
        left_ts=orders.o_orderdate, right_ts=li.l_shipdate,
        lower="INTERVAL 0 DAY", upper="INTERVAL 90 DAY",
    )
    return order_wide_select(joined, cust, nation, region)


# ---------------------------------------------------------------------------
# payment_wide — SURVEY §2.4 J2 (PaymentWideApp.java:85-94): asymmetric
# interval join (payment within [-15d, +5d] of order here), aggregated to
# a monthly payment summary.
# ---------------------------------------------------------------------------
PAYMENT_WIDE_ORACLE = f"""
    SELECT strftime(date_trunc('month', o.o_orderdate), '%Y-%m-%d') AS order_month,
           count(*) AS pay_ct,
           count(DISTINCT o.o_orderkey) AS pay_order_ct,
           {sql_money_sum(GROSS.replace('l_', 'l.l_'))} AS payment_amount
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      AND l.l_shipdate >= o.o_orderdate - INTERVAL 15 DAY
      AND l.l_shipdate <= o.o_orderdate + INTERVAL 5 DAY
    GROUP BY 1
    """


def payment_wide_agg(joined: DataFrame, streaming: bool = False) -> DataFrame:
    """Monthly payment summary over the joined order↔detail stream/batch.

    Streaming aggregations can't use countDistinct — the exact-set trick
    (collect_set size) mirrors the reference's HashSet union
    (ProductStatsApp.java:268-274); approx_count_distinct is the 100 TB
    swap (SURVEY §7.3)."""
    distinct_ct = (
        F.size(F.collect_set("o_orderkey")).cast("long")
        if streaming
        else F.countDistinct("o_orderkey")
    )
    return (
        joined.select(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("order_month"),
            "o_orderkey", _gross().alias("gross"),
        )
        .groupBy("order_month")
        .agg(
            F.count("*").alias("pay_ct"),
            distinct_ct.alias("pay_order_ct"),
            money_sum(F.col("gross")).alias("payment_amount"),
        )
    )


@register(
    "payment_wide",
    oracle=PAYMENT_WIDE_ORACLE,
    doc="J2: PaymentWideApp.java:85-94 asymmetric interval join (-15d/+5d analog of -15min/+5min)",
)
def payment_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    joined = interval_join(
        orders, li,
        keys=li.l_orderkey == orders.o_orderkey,
        left_ts=orders.o_orderdate, right_ts=li.l_shipdate,
        lower="INTERVAL -15 DAY", upper="INTERVAL 5 DAY",
    )
    return payment_wide_agg(joined)


# ---------------------------------------------------------------------------
# cdc_route — SURVEY §2.1 S3 + §2.2 P3/P4 + §2.3 R2 (CustomerDeserialization,
# BaseDBApp.java:49-58, TableProcessFunction.java:130-189): normalize a CDC
# envelope, drop deletes, and project to the config-driven sink-column list.
# The streaming router with dynamic sink tables lives in streaming/router.py.
# ---------------------------------------------------------------------------
@register(
    "cdc_route",
    oracle=f"""
    SELECT 'orders' AS source_table, 'dwd_order_info' AS sink_table,
           CASE o_orderkey % 10 WHEN 0 THEN 'delete' WHEN 1 THEN 'update' ELSE 'insert' END AS op,
           o_orderkey AS id, o_custkey AS user_id,
           {sql_money('o_totalprice')} AS total_amount
    FROM orders
    WHERE CASE o_orderkey % 10 WHEN 0 THEN 'delete' WHEN 1 THEN 'update' ELSE 'insert' END <> 'delete'
    """,
    doc="S3+P3+P4+R2: CDC envelope normalize (create→insert), delete filter (BaseDBApp.java:50-58), sinkColumns pruning (TableProcessFunction.java:171-189)",
)
def cdc_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    op = (
        F.when(F.col("o_orderkey") % 10 == 0, "delete")
        .when(F.col("o_orderkey") % 10 == 1, "update")
        .otherwise("insert")
    )
    envelope = orders.select(
        F.lit("orders").alias("source_table"),
        F.lit("dwd_order_info").alias("sink_table"),
        op.alias("op"),
        F.col("o_orderkey").alias("id"),
        F.col("o_custkey").alias("user_id"),
        money(F.col("o_totalprice")).alias("total_amount"),
    )
    return envelope.where(F.col("op") != "delete")


# ---------------------------------------------------------------------------
# scd2_user_status — the type-2 view of the dim layer (the reference's
# Phoenix upsert is type-1 overwrite, DimSinkFunction.java:17-89; this is
# the history-preserving variant a warehouse needs for as-of joins).
# ---------------------------------------------------------------------------
@register(
    "scd2_user_status",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type AS status, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_status,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ),
    kept AS (
      SELECT user_id, status, ts, event_id FROM ordered
      WHERE rn = 1 OR prev_status IS DISTINCT FROM status
    )
    SELECT user_id, status, ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
           CAST(CASE WHEN lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS INTEGER) AS is_current
    FROM kept
    """,
    doc=(
        "type-2 SCD history from a change stream: consecutive-duplicate "
        "suppression (null-safe lag compare), validity intervals via lead, "
        "open-interval current flag — all windows share one key "
        "partitioning, so the whole history build is a single shuffle "
        "(plan-shape-tested); the as-of-join consumer is "
        "operators/asof.py"
    ),
)
def scd2_user_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scd import scd2_history

    ev = table(spark, sf_dir, "events").select(
        "user_id", F.col("event_type").alias("status"), "ts", "event_id"
    )
    return scd2_history(ev, ["user_id"], "ts", ["status"], "event_id")


# ---------------------------------------------------------------------------
# dirty_split — SURVEY §2.2 P1 graded on BOTH sides (BaseLogApp.java:49-67
# side output): json_props grades the clean path; this grades the
# dead-letter routing itself under deterministic corruption.
# ---------------------------------------------------------------------------
@register(
    "dirty_split",
    oracle="""
    SELECT event_id,
           CAST(CASE WHEN event_id % 7 = 0 THEN 1 ELSE 0 END AS INTEGER) AS is_dirty,
           CASE WHEN event_id % 7 = 0 THEN -1
                ELSE CAST(props->>'$.k' AS INTEGER) END AS k
    FROM events
    """,
    doc=(
        "P1 dirty side output graded end-to-end: every 7th row's props is "
        "mangled with trailing garbage, the PERMISSIVE corrupt-record "
        "parse routes it to the dead-letter side (raw line preserved), "
        "clean rows carry the parsed field — both outputs from ONE scan "
        "and one from_json pass, unioned back for grading"
    ),
)
def dirty_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import IntegerType, StructField, StructType

    from ..operators.split import parse_json_logs

    ev = table(spark, sf_dir, "events").select(
        "event_id",
        # corruption = truncation (unterminated object) — Spark's Jackson
        # tolerates trailing garbage, so appending would not trip the parser
        F.when(
            F.col("event_id") % 7 == 0,
            F.substring(F.col("props"), 1, F.length("props") - F.lit(1)),
        ).otherwise(F.col("props")).alias("raw"),
    )
    schema = StructType([StructField("k", IntegerType())])
    clean, dirty = parse_json_logs(ev, "raw", schema)
    return clean.select(
        "event_id", F.lit(0).alias("is_dirty"), F.col("parsed.k").alias("k")
    ).unionByName(
        dirty.select(
            # -1 sentinel, not NULL: a nullable int column round-trips as
            # float64 through pandas and breaks cross-engine value hashing
            "event_id", F.lit(1).alias("is_dirty"), F.lit(-1).cast("int").alias("k")
        )
    )


# ---------------------------------------------------------------------------
# purchase_status_asof — the canonical SCD2 consumer: facts join the
# dimension AS OF their event time (what the reference's dim cache can
# never answer — it only has the current row).
# ---------------------------------------------------------------------------
@register(
    "purchase_status_asof",
    oracle="""
    WITH ch AS (
      SELECT user_id, event_type AS status, ts, event_id
      FROM events WHERE event_type IN ('signup', 'error')
    ),
    ordered AS (
      SELECT user_id, status, ts, event_id,
             lag(status) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_status,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM ch
    ),
    kept AS (
      SELECT user_id, status, ts, event_id FROM ordered
      WHERE rn = 1 OR prev_status IS DISTINCT FROM status
    ),
    hist AS (
      SELECT user_id, status, ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
      FROM kept
    ),
    live AS (SELECT * FROM hist WHERE valid_to IS NULL OR valid_to > valid_from),
    p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
    SELECT p.event_id, p.user_id, p.ts, live.status, live.valid_from
    FROM p ASOF LEFT JOIN live
      ON p.user_id = live.user_id AND p.ts >= live.valid_from
    """,
    doc=(
        "point-in-time dimension lookup: purchases as-of join the SCD2 "
        "status history (signup/error change stream) — each fact reads the "
        "interval containing its event time, not the current row. Runs "
        "through the union-merge as-of formulation (operators/asof.py): "
        "one |facts|+|changes| shuffle, no per-key blowup; zero-length "
        "intervals (two changes at one timestamp) are dropped so the "
        "match is unique. Oracle = DuckDB's native ASOF LEFT JOIN"
    ),
)
def purchase_status_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join
    from ..operators.scd import scd2_history

    ev = table(spark, sf_dir, "events")
    changes = ev.where(F.col("event_type").isin("signup", "error")).select(
        "user_id", F.col("event_type").alias("status"), "ts", "event_id"
    )
    hist = scd2_history(changes, ["user_id"], "ts", ["status"], "event_id")
    live = hist.where(
        F.col("valid_to").isNull() | (F.col("valid_to") > F.col("valid_from"))
    ).select("user_id", "status", "valid_from")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    return asof_join(
        purchases, live,
        key="user_id", left_ts="ts", right_ts="valid_from",
        right_cols=["status", "valid_from"],
    )


# ---------------------------------------------------------------------------
# json_props — SURVEY §2.2 P1/P9 + §2.8 F5 (BaseLogApp.java:49-67 dirty
# split; KeywordStatsApp.java:71-79 map access + predicate): parse the JSON
# props column, keep rows whose k survives the predicate.
# ---------------------------------------------------------------------------
@register(
    "json_props",
    oracle="""
    SELECT event_id, CAST(props->>'$.k' AS INTEGER) AS k
    FROM events
    WHERE CAST(props->>'$.k' AS INTEGER) > 25
    """,
    doc="P1+P9+F5: JSON parse + map-subscript access + predicate pushdown below the parse",
)
def json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return ev.select("event_id", k.alias("k")).where(F.col("k") > 25)


# ---------------------------------------------------------------------------
# asof_click_attribution — custom temporal operator beyond the reference
# surface (SURVEY §7.3 north-star): for each purchase, the same user's most
# recent click at or before it. Spark lacks ASOF JOIN; operators/asof.py is
# the scalable union-merge formulation; DuckDB's native ASOF JOIN is the
# oracle.
# ---------------------------------------------------------------------------
@register(
    "asof_click_attribution",
    oracle="""
    SELECT p.event_id, p.user_id, c.event_id AS click_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND c.ts <= p.ts
    """,
    doc="as-of join (operators/asof.py): union-merge last-value formulation; one shuffle+sort, no per-key blowup",
)
def asof_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join

    ev = table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts"), F.col("event_id").alias("click_id")
    )
    return asof_join(
        purchases, clicks, key="user_id", left_ts="ts", right_ts="c_ts",
        right_cols=["click_id"],
    ).select("event_id", "user_id", "click_id")


# ---------------------------------------------------------------------------
# datetime_funcs — SURVEY §2.8 F1/F2/F3/F7/F8 (DateTimeUtil, OrderWideApp
# derived columns, SQL TO_TIMESTAMP/FROM_UNIXTIME/DATE_FORMAT): exercise
# the scalar datetime function surface with an oracle.
# ---------------------------------------------------------------------------
@register(
    "datetime_funcs",
    oracle="""
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS create_time_str,
           strptime(strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S') AS parsed_ts,
           epoch_ms(CAST(epoch(o_orderdate) AS BIGINT) * 1000) AS from_millis_ts,
           strftime(o_orderdate, '%Y-%m-%d') AS create_date,
           CAST(hour(o_orderdate) AS INTEGER) AS create_hour,
           CAST(floor(date_diff('day', o_orderdate, TIMESTAMP '2005-01-01 00:00:00') / 365.25) AS BIGINT) AS age_years
    FROM orders
    """,
    doc="F1+F2+F3+F7+F8: to_ts/from_epoch_millis/fmt/split_date_hour/age_years (functions/datetime.py; DateTimeUtil.java:11-24, OrderWideApp.java:56-58,137-147)",
)
def datetime_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.datetime import age_years, fmt, from_epoch_millis, split_date_hour, to_ts

    orders = table(spark, sf_dir, "orders")
    d, h = split_date_hour(F.col("o_orderdate"))
    return orders.select(
        "o_orderkey",
        fmt(F.col("o_orderdate")).alias("create_time_str"),
        to_ts(fmt(F.col("o_orderdate"))).alias("parsed_ts"),
        from_epoch_millis(F.unix_timestamp("o_orderdate").cast("long") * 1000).alias("from_millis_ts"),
        d.alias("create_date"),
        h.alias("create_hour"),
        age_years(F.col("o_orderdate"), F.lit("2005-01-01 00:00:00").cast("timestamp")).alias("age_years"),
    )


# ---------------------------------------------------------------------------
# datetime_funcs_cst — SURVEY §7.3 Asia/Shanghai parity (r8 verdict task 4):
# the reference's DateTimeUtil hardcodes +8 (utils/DateTimeUtil.java:20-23);
# the engine normalizes to UTC everywhere EXCEPT this query, which runs its
# datetime surface under spark.sql.session.timeZone=Asia/Shanghai and
# hash-matches a DuckDB oracle doing the same +8 math. The session timezone
# is baked into the expressions at ANALYSIS time, so the conf is restored
# before returning and the rest of the registry stays UTC.
# ---------------------------------------------------------------------------
@register(
    "datetime_funcs_cst",
    oracle="""
    SELECT event_id,
           strftime(ts + INTERVAL 8 HOUR, '%Y-%m-%d %H:%M:%S') AS cst_time_str,
           CAST(floor(epoch(ts)) AS BIGINT) AS rt_epoch,
           strftime(ts + INTERVAL 8 HOUR, '%Y-%m-%d') AS cst_date,
           CAST(hour(ts + INTERVAL 8 HOUR) AS INTEGER) AS cst_hour
    FROM events
    """,
    doc=(
        "F6 Asia/Shanghai parity (DateTimeUtil.java:20-23 hardcodes +8): "
        "date_format / to_timestamp / unix_timestamp / split_date_hour "
        "under session.timeZone=Asia/Shanghai. cst_time_str/cst_date/"
        "cst_hour prove the +8 WALL-CLOCK rendering (UTC evenings roll "
        "into the next CST day — a real date-boundary test, not a "
        "constant shift of midnights); rt_epoch proves the string<->"
        "instant ROUND TRIP is lossless: formatting the instant in +8 "
        "and re-parsing the string under the same session zone returns "
        "the original epoch second. The conf is set/restored around "
        "ANALYSIS only — timezone-aware expressions capture the zone at "
        "resolution, so the returned plan stays +8 while the session "
        "reverts to UTC for every other registry entry"
    ),
)
def datetime_funcs_cst(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.datetime import fmt, split_date_hour, to_ts

    ev = table(spark, sf_dir, "events")
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Shanghai")
    try:
        d, h = split_date_hour(F.col("ts"))
        out = ev.select(
            "event_id",
            fmt(F.col("ts")).alias("cst_time_str"),
            F.unix_timestamp(to_ts(fmt(F.col("ts")))).alias("rt_epoch"),
            d.alias("cst_date"),
            h.alias("cst_hour"),
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    return out


# ---------------------------------------------------------------------------
# serving_gmv — SURVEY §2.5 A6 + §2.9 K6 (SugarController/ProductStatsMapper):
# serving-layer aggregate: GMV per day from purchase events.
# ---------------------------------------------------------------------------
@register(
    "serving_gmv",
    oracle=f"""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS dt,
           {sql_money_sum('value')} AS gmv
    FROM events WHERE event_type = 'purchase' GROUP BY 1
    """,
    doc="A6+K6: ProductStatsMapper.java:12-13 sum(order_amount) by day; serving query",
)
def serving_gmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("dt"))
        .agg(money_sum(F.col("value")).alias("gmv"))
    )


# ---------------------------------------------------------------------------
# serving_product_revenue — the publisher's SECOND endpoint family (§2.9 K6):
# per-trademark product_stats aggregation (gmall-publisher
# ProductStatsMapper `getGmvByTm`), served from the MATERIALIZED
# product_revenue table — the graded plan scans only the serving store,
# never the raw facts (the reference hits ClickHouse's result table, not
# the DWD layer).
# ---------------------------------------------------------------------------
_SERVING_CACHE: dict = {}


def _serving_api(spark: SparkSession, sf_dir: str):
    """Process-cached ServingAPI per (session, sf_dir), materialized once
    when it is created; reads answer from the store — the reference's
    pipeline-maintains / publisher-reads split."""
    from ..serving import ServingAPI

    key = (id(spark), sf_dir)
    api = _SERVING_CACHE.get(key)
    if api is None:
        api = ServingAPI(spark, sf_dir)
        api.materialize()
        _SERVING_CACHE[key] = api
    return api


@register(
    "serving_product_revenue",
    oracle=f"""
    SELECT p.p_brand AS tm_name, {sql_money_sum(NET)} AS amount
    FROM lineitem JOIN part p ON l_partkey = p.p_partkey
    GROUP BY 1
    """,
    doc=(
        "K6 second endpoint family: per-trademark net revenue served from "
        "the materialized product_revenue table (ProductStatsMapper "
        "getGmvByTm beyond the GMV query). The materialized table carries "
        "integer cents, so the serving re-aggregation is exact and "
        "order-independent; the graded plan reads ONLY the serving store"
    ),
)
def serving_product_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    api = _serving_api(spark, sf_dir)
    return (
        api.result_table("product_revenue")
        .groupBy("tm_name")
        .agg((F.sum("amount_c") / F.lit(100.0)).alias("amount"))
    )
