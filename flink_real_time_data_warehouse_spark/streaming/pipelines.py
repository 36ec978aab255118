"""Structured Streaming pipelines: the streaming side of the shared
transform layer.

Batch plans (plans/gmall.py) use date_trunc group keys; these wrappers use
`F.window` + watermarks so state is bounded and windows finalize in append
mode — same results, incremental execution. Watermark discipline follows
the reference (SURVEY §2.6 T4-T7): small bounded-out-of-orderness delays,
late rows dropped by the watermark.
"""

from __future__ import annotations

import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.windows import TS_FMT
from ..session import mkscratch, stream_start_conf


def tumble_agg_stream(
    events: DataFrame,
    ts_col: str,
    duration: str,
    keys: list,
    aggs: list,
    watermark: str = "1 second",
) -> DataFrame:
    """Keyed tumbling-window aggregate with watermark; stamps stt/edt
    strings like the reference window finishers (ProductStatsApp.java:282-301)."""
    w = events.withWatermark(ts_col, watermark)
    grouped = w.groupBy(F.window(F.col(ts_col), duration).alias("win"), *keys).agg(*aggs)
    return grouped.select(
        F.date_format("win.start", TS_FMT).alias("stt"),
        F.date_format("win.end", TS_FMT).alias("edt"),
        *[c for c in grouped.columns if c != "win"],
    )


def visitor_stats_stream(events: DataFrame, watermark: str = "1 second") -> DataFrame:
    """Streaming VisitorStats (SURVEY §2.5 A2): 1h tumble, one-hot metrics.
    Mirrors plans/gmall.visitor_stats exactly (same aliases) so the batch
    oracle applies to the closed windows."""

    def ct(t: str, alias: str):
        return F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).alias(alias)

    from ..functions.money import money_sum

    return tumble_agg_stream(
        events.select("ts", "event_type", "user_id", "value"),
        "ts",
        "1 hour",
        [],
        [
            ct("view", "pv_ct"), ct("click", "click_ct"), ct("error", "err_ct"),
            ct("purchase", "purchase_ct"), ct("signup", "signup_ct"),
            # exact distinct: countDistinct is unsupported in streaming aggs;
            # collect_set is the reference's own trick (ProductStats HashSet
            # union, ProductStatsApp.java:268-274). At 100 TB scale swap for
            # approx_count_distinct (SURVEY §7.3).
            F.size(F.collect_set("user_id")).cast("long").alias("uv_ct"),
            money_sum(F.col("value")).alias("dur_sum"),
        ],
        watermark,
    )


def log_split(events: DataFrame) -> dict[str, DataFrame]:
    """R1 three-way split (BaseLogApp.java:106-147): one parsed stream,
    three filtered branches — page views, actions, errors — the error
    branch carrying parsed props like the display-flatten adds page_id.
    Works on batch or streaming input identically."""
    page = events.where(F.col("event_type") == "view")
    action = events.where(F.col("event_type").isin("click", "purchase", "signup"))
    error = events.where(F.col("event_type") == "error").withColumn(
        "err_code", F.get_json_object("props", "$.k").cast("int")
    )
    return {"page": page, "action": action, "error": error}


def interval_join_stream(
    left: DataFrame,
    right: DataFrame,
    keys,
    left_ts: str,
    right_ts: str,
    lower: str,
    upper: str,
    left_watermark: str = "0 seconds",
    right_watermark: str = "0 seconds",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join (J1/J2, OrderWideApp.java:94-105):
    watermarks on both sides + a time-band condition lets Spark expire
    join state; identical join predicate to operators/joins.interval_join.
    `how="left_outer"` additionally emits each unmatched left row (NULL-
    padded) once the watermark passes its band's upper bound — the state
    expiry doubles as the emission trigger, so no separate timer state is
    needed for absence detection."""
    l = left.withWatermark(left_ts, left_watermark)
    r = right.withWatermark(right_ts, right_watermark)
    band = (F.col(right_ts) >= F.col(left_ts) + F.expr(lower)) & (
        F.col(right_ts) <= F.col(left_ts) + F.expr(upper)
    )
    return l.join(r, keys & band, how)


def to_console(df: DataFrame, mode: str = "append"):
    """K5 debug sink — the labeled `.print()` the reference sprinkles
    everywhere (BaseLogApp.java:150-152) is `console` format here."""
    return df.writeStream.format("console").outputMode(mode).option("truncate", "false")


def run_to_parquet(df: DataFrame, path: str) -> None:
    """Execute a streaming DataFrame to completion (availableNow) into a
    parquet directory — the DWD-layer handoff between chained streaming
    apps (the reference passes dwd_* Kafka topics between apps;
    OrderWideApp -> dwm_payment_wide consumers)."""
    with stream_start_conf(df):
        q = (
            df.writeStream.format("parquet")
            .option("path", path)
            .option("checkpointLocation", mkscratch(prefix="ckpt_pq_"))
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination()


def run_to_memory(df: DataFrame, spark: SparkSession, output_mode: str = "append") -> DataFrame:
    """Execute a streaming DataFrame to completion (availableNow) into a
    memory sink; return the materialized result as a batch DataFrame.

    HARNESS-ONLY: the memory sink collects every result row into driver
    memory — correct and convenient at grading scale (sf0.01), never the
    shape for a production pipeline. Real deployments run the same
    streaming frames through the foreachBatch router / txlog sinks
    (`streaming/router.py`, `storage/txlog.py`), which keep results
    distributed and transactional. Do not lift this into a pipeline."""
    name = "mem_" + uuid.uuid4().hex[:12]
    # Stream shuffle/state partitions sized to this query's source volume
    # (session.stream_start_conf — guide §2.1/§2.2 for micro-batches).
    with stream_start_conf(df):
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", mkscratch(prefix=f"ckpt_{name}_"))
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination()
    return spark.table(name)
