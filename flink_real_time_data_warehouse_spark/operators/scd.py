"""Type-2 slowly-changing-dimension history builder.

The reference's dim layer is type-1 (Phoenix upsert overwrites in place —
DimSinkFunction.java:17-89; our dim tables' `storage.TxLog` MERGE /
CDC apply is the same semantics). A warehouse also needs the type-2 view: every attribute
change opens a new validity interval instead of overwriting, so facts can
join the dimension *as of* their event time. This operator derives that
history from any timestamped change stream (CDC envelopes, event logs).

Scale shape: all three window passes (change-detection lag, validity
lead, current flag) partition by the same key columns, so Catalyst plans
ONE Exchange and reuses the sort — the history build costs a single
shuffle of the change stream regardless of how many windows the logic
reads (plan-shape-tested). No driver-side state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def scd2_history(
    changes: DataFrame,
    key_cols: list[str],
    ts_col: str,
    attr_cols: list[str],
    tiebreak_col: str,
) -> DataFrame:
    """Collapse a change stream into type-2 validity intervals.

    1. Order changes per key by (ts, tiebreak).
    2. Drop rows whose tracked attributes equal the previous row's
       (consecutive-duplicate suppression — a re-emitted unchanged record
       must not split an interval). Null-safe comparison.
    3. valid_from = change ts; valid_to = next change's ts (NULL = open
       interval); is_current flags the open row.

    Returns (keys..., attrs..., valid_from, valid_to, is_current).
    """
    order = [F.col(ts_col), F.col(tiebreak_col)]
    w = Window.partitionBy(*key_cols).orderBy(*order)

    changed = None
    for a in attr_cols:
        neq = ~F.lag(F.col(a)).over(w).eqNullSafe(F.col(a))
        changed = neq if changed is None else (changed | neq)
    first = F.row_number().over(w) == 1
    kept = (
        changes.withColumn("_keep", first | changed)
        .where(F.col("_keep"))
        .drop("_keep")
    )

    # Re-rank over the kept rows only: the validity chain links surviving
    # changes, not raw records. Same partitioning — no new exchange.
    w2 = Window.partitionBy(*key_cols).orderBy(*order)
    valid_to = F.lead(F.col(ts_col)).over(w2)
    return kept.select(
        *key_cols,
        *attr_cols,
        F.col(ts_col).alias("valid_from"),
        valid_to.alias("valid_to"),
        valid_to.isNull().cast("int").alias("is_current"),
    )
