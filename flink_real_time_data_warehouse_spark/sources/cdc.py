"""CDC envelope source (SURVEY §2.1 S2/S3).

Spark has no built-in MySQL binlog source, so CDC arrives as a stream of
Debezium-style envelope records (exactly what the reference's
CustomerDeserialization.java:30-90 produces into Kafka):

    {database, tableName, before: {...}, after: {...}, type}

with the op normalization `create`->`insert` (:74-79) and read→filtered.

- cdc_schema / parse_cdc: envelope StructType + from_json normalization for
  a string stream (Kafka value or file lines).
- simulate_cdc_batch: fixture generator — derives a deterministic envelope
  stream from the `orders` table (inserts/updates/deletes by key mod) for
  tests and the end-to-end demo; `StartupOptions.initial` ≡ running the
  same generator as a batch backfill first.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import MapType, StringType, StructField, StructType

from ..session import mkscratch, start_foreach_batch
from ..storage import TxLog


def cdc_schema() -> StructType:
    return StructType(
        [
            StructField("database", StringType()),
            StructField("tableName", StringType()),
            StructField("before", MapType(StringType(), StringType())),
            StructField("after", MapType(StringType(), StringType())),
            StructField("type", StringType()),
        ]
    )


def parse_cdc(raw: DataFrame, raw_col: str = "value") -> DataFrame:
    """Parse envelope JSON strings; normalize op names; drop read events.

    Works identically on batch and streaming input."""
    parsed = raw.select(F.from_json(F.col(raw_col), cdc_schema()).alias("e")).select("e.*")
    op = F.when(F.col("type") == "create", "insert").otherwise(F.col("type"))
    return parsed.withColumn("type", op).where(F.col("type") != "read")


def apply_cdc_changes(
    log: TxLog,
    changes: DataFrame,
    key: str = "id",
    op_col: str = "op",
    seq_col: str = "seq",
):
    """Apply one batch of flattened CDC changes to the keyed dim table.

    Reduces to the last op per key first (ordered by seq_col — Debezium's
    ts_ms/binlog position), then lands the batch as ONE ``TxLog.apply_cdc``
    commit: insert/update upsert, delete removes. A reader never sees a
    batch's upserts without its deletes, and a crash leaves either the
    whole batch or none of it. Re-applying a batch whose effects are
    already in the table is a no-op — the idempotence the snapshot→tail
    handoff relies on.

    Seq guard (the `WHEN MATCHED AND src.seq >= tgt.seq` of a SQL MERGE):
    when the stored rows carry seq_col, a change older than the stored
    row's seq is dropped instead of applied — so replaying old log
    segments out of order can never regress a key to a stale value, no
    matter how micro-batches split the log. Without the guard, last-write
    -wins holds only WITHIN a batch and correctness would depend on
    cross-batch arrival order.

    Returns the max ``seq_col`` over the rows this call actually applied
    (``None`` for an empty batch). The reduced per-key frame is cached for
    the duration of the call, so the input lineage (file listing + JSON
    parse for the snapshot phase) evaluates ONCE and the returned floor
    provably reflects exactly the rows that were applied — callers must
    never recompute it from the un-materialized input, where a re-resolved
    file listing could include rows that were not part of this apply.
    """
    w = Window.partitionBy(key).orderBy(F.col(seq_col).desc())
    last = changes.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")
    spark = changes.sparkSession
    if log.state().version >= 0:
        cur = log.snapshot(spark)
        if seq_col in cur.columns:
            tgt = cur.select(F.col(key), F.col(seq_col).alias("_tgt_seq"))
            last = (
                last.join(tgt, on=key, how="left")
                .where(F.col("_tgt_seq").isNull() | (F.col(seq_col) >= F.col("_tgt_seq")))
                .drop("_tgt_seq")
            )
    # One materialization serves the floor agg and the apply's key
    # collection, staging and change feed (each would otherwise re-run the
    # whole read/parse/window lineage).
    last = last.persist()
    try:
        max_seq = last.agg(F.max(seq_col).alias("m")).collect()[0]["m"]
        log.apply_cdc(spark, last, key, op_col=op_col, delete_ops=("delete",))
    finally:
        last.unpersist()
    return max_seq


def cdc_initial_load(
    spark: SparkSession,
    cdc_dir: str,
    project: Callable[[DataFrame], DataFrame],
    log: TxLog,
    key: str = "id",
    seq_col: str = "seq",
    checkpoint: str | None = None,
    on_snapshot_applied: Callable[[], None] | None = None,
) -> int:
    """S2 `StartupOptions.initial` (app/ods/FlinkCDC.java:30-42): atomic
    snapshot-backfill then binlog-tail, exactly-once in effect.

    1. Snapshot phase: batch-read every envelope file currently in
       `cdc_dir`, apply as one keyed CDC commit to `log`.
    2. Tail phase: a file-source stream over the same directory re-applies
       from the beginning, filtered to seq > the snapshot's max applied
       seq (binlog positions are monotonic per source, so the global floor
       is exact). Already-applied envelopes are skipped outright — no
       transient regression to older values visible to concurrent dim
       readers, and a key deleted by the snapshot cannot be resurrected by
       a replayed earlier insert. Envelopes that landed *during* the
       backfill have seq above the floor and are simply part of the tail —
       so no change is lost and none double-applies. The per-key seq guard
       in apply_cdc_changes backs this up for any out-of-order split, and
       the stream's checkpoint then owns exactly-once for the rest of the
       tail (T9).

    `project` flattens the parsed envelope into (key, ..., seq, op)
    columns — the per-table schema mapping TableProcessFunction keeps in
    config. `on_snapshot_applied` is the hand-off hook (tests inject
    concurrent writes there). Returns the log version at the boundary
    (-1 when the snapshot phase applied nothing).
    """
    snapshot_raw = spark.read.text(cdc_dir)
    snapshot_changes = project(parse_cdc(snapshot_raw))
    # The floor comes back from the SAME materialized pass that applied the
    # snapshot (cdc_dir is listed + parsed once): it cannot drift from what
    # was actually merged, even if envelope files land during the backfill.
    seq_floor = apply_cdc_changes(log, snapshot_changes, key, seq_col=seq_col)
    boundary = log.state().version
    if on_snapshot_applied is not None:
        on_snapshot_applied()

    def on_batch(b: DataFrame, _epoch: int) -> None:
        changes = project(parse_cdc(b))
        if seq_floor is not None:
            changes = changes.where(F.col(seq_col) > F.lit(seq_floor))
        apply_cdc_changes(log, changes, key, seq_col=seq_col)

    src = spark.readStream.text(cdc_dir)
    start_foreach_batch(
        src, on_batch, checkpoint or mkscratch(prefix="ckpt_cdc_")
    ).awaitTermination()
    return boundary


def simulate_cdc_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic envelope rows derived from `orders`: key%10==0 ->
    delete (before set), %10==1 -> update, else insert. All values strings,
    like the reference's all-varchar dim columns."""
    from ..tables import table

    orders = table(spark, sf_dir, "orders")
    payload = F.create_map(
        F.lit("id"), F.col("o_orderkey").cast("string"),
        F.lit("user_id"), F.col("o_custkey").cast("string"),
        F.lit("total_amount"), F.col("o_totalprice").cast("string"),
        F.lit("order_status"), F.col("o_orderstatus"),
    )
    op = (
        F.when(F.col("o_orderkey") % 10 == 0, "delete")
        .when(F.col("o_orderkey") % 10 == 1, "update")
        .otherwise("create")  # parse_cdc normalizes create -> insert
    )
    return parse_cdc(
        orders.select(
            F.to_json(
                F.struct(
                    F.lit("gmall").alias("database"),
                    F.lit("order_info").alias("tableName"),
                    F.when(op == "delete", payload).otherwise(
                        F.create_map().cast("map<string,string>")
                    ).alias("before"),
                    F.when(op != "delete", payload).otherwise(
                        F.create_map().cast("map<string,string>")
                    ).alias("after"),
                    op.alias("type"),
                )
            ).alias("value")
        )
    )
