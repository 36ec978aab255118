"""Keyed-state streaming operators via applyInPandasWithState.

The reference's three keyed-state operators (SURVEY §2.6), re-expressed on
Spark's stateful API:

- T1 new-vs-returning fix (BaseLogApp.java:69-102): ValueState<seen> per mid.
- T2 daily-first-visit UV dedup (UniqueVisitApp.java:53-102): ValueState
  <last date> with 24h TTL per mid.
- T3 CEP bounce detection (UserJumpDetailApp.java:81-120): Flink CEP pattern
  (two consecutive session starts / 10s timeout) → here a pending-start
  ValueState plus an event-time timer; match and timeout both emit, the
  union the reference builds explicitly (:120) falls out of one processor.

Implementation notes:
- Every pandas function is fully self-contained (imports inside, no module
  globals) — Spark pickles them to Python workers that don't have this
  package importable.
- State bounds: T2 keeps two longs per key and evicts idle keys by
  event-time timer (the reference's StateTtlConfig bound,
  UniqueVisitApp.java:66-73); T3 bounds pending state by its timer. T1's
  first-seen-ever flag is semantically permanent — the reference keeps it
  forever too (BaseLogApp has no TTL); at 100 TB scale that state is one
  int per user, and a production deployment would back it with a compacted
  store or periodic snapshot rather than dropping it.
- Rows inside a micro-batch are processed in (ts, id) order inside the
  processor, making results independent of shuffle order; across batches
  ordering is guaranteed by the event-time watermark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENT_OUT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("ts", TimestampType()),
    ]
)

NEW_USER_OUT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("is_new", IntegerType()),
    ]
)

UV_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("visit_day", TimestampType()),
        StructField("first_ts", TimestampType()),
    ]
)


def new_user_fix_stream(events: DataFrame) -> DataFrame:
    """T1: emit every event with is_new=1 only on the key's first-ever event."""

    def fix(key, pdfs, state):
        import pandas as pd

        seen = state.get[0] if state.exists else 0
        rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        flags = []
        for _ in range(len(rows)):
            flags.append(0 if seen else 1)
            seen = 1
        state.update((1,))
        yield pd.DataFrame(
            {"event_id": rows["event_id"].values, "user_id": rows["user_id"].values, "is_new": flags}
        )

    return events.select("event_id", "user_id", "ts").groupBy("user_id").applyInPandasWithState(
        fix,
        outputStructType=NEW_USER_OUT_SCHEMA,
        stateStructType=StructType([StructField("seen", IntegerType())]),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def uv_dedup_stream(events: DataFrame, evict_after_days: int = 2) -> DataFrame:
    """T2: first visit per (user, day).

    Per-key state is exactly two longs — the newest seen epoch-day plus a
    63-day seen-bitmask ending at that day — so state size is O(keys) with
    a constant row width no matter how long the stream runs. This is the
    bound the reference gets from its 24 h StateTtlConfig ValueState
    (UniqueVisitApp.java:66-73), but exact for out-of-orderness up to
    62 days (the TTL state wrongly re-emits a day when late data
    interleaves days; the bitmask doesn't). Days older than the mask
    horizon are treated as seen — the same drop-late tradeoff as TTL.

    Keys idle `evict_after_days` past the watermark are removed by an
    event-time timer (requires a watermark on ts): once the watermark is a
    day beyond a key's newest day, any admissible future event necessarily
    opens a new day, so the state carries no information worth keeping.
    """

    def dedup(key, pdfs, state, _evict=evict_after_days):
        import pandas as pd

        if state.hasTimedOut:
            # watermark passed the eviction horizon: drop the key entirely
            state.remove()
            yield pd.DataFrame(columns=["user_id", "visit_day", "first_ts"])
            return

        max_day, mask = state.get if state.exists else (None, 0)
        rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        days = rows["ts"].dt.floor("D")
        out = []
        for day, grp in rows.groupby(days):
            epoch_day = int(day.timestamp()) // 86400
            if max_day is None or epoch_day > max_day:
                shift = 63 if max_day is None else min(63, epoch_day - max_day)
                mask = ((mask << shift) & ((1 << 63) - 1)) | 1  # bit 0 = newest day
                max_day = epoch_day
            else:
                delta = max_day - epoch_day
                if delta >= 63 or (mask >> delta) & 1:
                    continue  # seen (or beyond the horizon: treated as seen)
                mask |= 1 << delta
            first = grp.iloc[0]
            out.append((key[0], day, first["ts"]))
        state.update((max_day, mask))
        if state.getCurrentWatermarkMs() >= 0:
            evict_ms = (max_day + 1 + _evict) * 86_400_000
            state.setTimeoutTimestamp(max(evict_ms, state.getCurrentWatermarkMs() + 1))
        yield pd.DataFrame(out, columns=["user_id", "visit_day", "first_ts"])

    return events.select("event_id", "user_id", "ts").groupBy("user_id").applyInPandasWithState(
        dedup,
        outputStructType=UV_OUT_SCHEMA,
        stateStructType=StructType(
            [StructField("max_day", LongType()), StructField("mask", LongType())]
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


KEEPER_OUT_SCHEMA = StructType(
    [
        StructField("text_hash", StringType()),
        StructField("keep_id", LongType()),
    ]
)


def exact_dedup_stream(docs: DataFrame, hash_col: str = "text_hash", id_col: str = "doc_id") -> DataFrame:
    """Dedup-on-ingest: first content arrival wins, later copies are dropped
    — the streaming form of datapipe/dedup.exact_dedup (a training pipeline
    runs this as documents arrive, not as a nightly batch).

    Keyed state = one int per content hash (seen flag); within a micro-batch
    the keeper is min(id) so replay order never changes the answer. State is
    O(distinct contents) with 16-byte keys — the same footprint the batch
    hash-groupBy shuffles, held across triggers instead.

    Emits (text_hash, keep_id) once per distinct content, append mode.
    """

    def keep(key, pdfs, state):
        import pandas as pd

        if state.exists:
            yield pd.DataFrame(columns=["text_hash", "keep_id"])
            return
        rows = pd.concat(list(pdfs))
        state.update((1,))
        yield pd.DataFrame({"text_hash": [key[0]], "keep_id": [int(rows["id"].min())]})

    return (
        docs.select(F.col(hash_col).alias("h"), F.col(id_col).alias("id"))
        .groupBy("h")
        .applyInPandasWithState(
            keep,
            outputStructType=KEEPER_OUT_SCHEMA,
            stateStructType=StructType([StructField("seen", IntegerType())]),
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def bounce_stream(
    events: DataFrame, gap_s: int, timeout_s: int
) -> DataFrame:
    """T3 bounce CEP: emit session-start events with no follow-up within
    timeout_s. Match path (a later event arrives with a big gap) and
    timeout path (event-time timer fires) both emit — the reference unions
    these two CEP outputs (UserJumpDetailApp.java:103-120).

    Requires a watermark on `ts` (for the event-time timer), and
    timeout_s <= gap_s (same reduction-validity constraint as
    operators/stateful_batch.bounce_events — a follow-up inside the timeout
    must not itself be a session start)."""
    if timeout_s > gap_s:
        raise ValueError(
            f"bounce timeout_s ({timeout_s}) must be <= session gap_s ({gap_s})"
        )

    def detect(key, pdfs, state, _gap=gap_s, _timeout=timeout_s):
        import pandas as pd

        prev_us, pending, pending_id = state.get if state.exists else (None, 0, None)
        out = []

        if state.hasTimedOut:
            # timer fired: the pending start had no follow-up within timeout
            if pending and pending_id is not None:
                out.append((pending_id, key[0], pd.Timestamp(prev_us, unit="us")))
            state.update((prev_us, 0, None))  # keep prev_us for future gap calc
            yield pd.DataFrame(out, columns=["event_id", "user_id", "ts"])
            return

        rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        for r in rows.itertuples(index=False):
            ts_us = r.ts.value // 1000  # pandas ns -> us
            if pending:
                if ts_us - prev_us > _timeout * 1_000_000:
                    out.append((pending_id, key[0], pd.Timestamp(prev_us, unit="us")))
                pending, pending_id = 0, None
            is_start = prev_us is None or ts_us - prev_us > _gap * 1_000_000
            if is_start:
                pending, pending_id = 1, int(r.event_id)
            prev_us = ts_us
        state.update((prev_us, pending, pending_id))
        if pending:
            # event-time timer; must stay above the current watermark
            wm = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(max(prev_us // 1000 + _timeout * 1000, wm + 1))
        yield pd.DataFrame(out, columns=["event_id", "user_id", "ts"])

    return events.select("event_id", "user_id", "ts").groupBy("user_id").applyInPandasWithState(
        detect,
        outputStructType=EVENT_OUT_SCHEMA,
        stateStructType=StructType(
            [
                StructField("prev_us", LongType()),
                StructField("pending", IntegerType()),
                StructField("pending_id", LongType()),
            ]
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


LINE_KEEPER_OUT_SCHEMA = StructType(
    [
        StructField("line_hash", StringType()),
        StructField("keep_doc", LongType()),
        StructField("keep_idx", LongType()),
    ]
)


def line_dedup_stream(
    lines: DataFrame,
    hash_col: str = "line_hash",
    doc_col: str = "doc_id",
    idx_col: str = "sent_idx",
) -> DataFrame:
    """Line/sentence-level dedup-on-ingest: the streaming form of
    datapipe/dedup.line_dedup's first-occurrence choice — the first
    arrival of each line wins, where "first" within a micro-batch is the
    lexicographic (doc, position) minimum, so replay order never changes
    the answer (same determinism contract as exact_dedup_stream one
    granularity up). Keyed state = one int per distinct line; emits
    (line_hash, keep_doc, keep_idx) once per distinct line, append mode.

    At 100 TB the state is O(distinct lines) — larger than document
    state by the lines-per-doc factor; the production mitigation is the
    same watermark-bounded variant dedup_exact_stream_builtin grades
    (bounded state, late duplicates re-admitted)."""

    def keep(key, pdfs, state):
        import pandas as pd

        if state.exists:
            yield pd.DataFrame(columns=["line_hash", "keep_doc", "keep_idx"])
            return
        rows = pd.concat(list(pdfs)).sort_values(["d", "i"])
        state.update((1,))
        yield pd.DataFrame(
            {
                "line_hash": [key[0]],
                "keep_doc": [int(rows["d"].iloc[0])],
                "keep_idx": [int(rows["i"].iloc[0])],
            }
        )

    return (
        lines.select(
            F.col(hash_col).alias("h"),
            F.col(doc_col).alias("d"),
            F.col(idx_col).alias("i"),
        )
        .groupBy("h")
        .applyInPandasWithState(
            keep,
            outputStructType=LINE_KEEPER_OUT_SCHEMA,
            stateStructType=StructType([StructField("seen", IntegerType())]),
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
