"""Persisted signature index for incremental dedup (the stored side of
`incremental_dedup_indexed`).

A continuously-growing corpus must not recompute its own digests and
MinHash bands on every ingest — at 100 TB that is a full-corpus text scan
per batch. This index persists exactly the two probe tables the
incremental path needs:

- ``digests``: (doc, h)           — md5 content digest per accepted doc
- ``bands``  : (doc, band_id, band_hash) — MinHash LSH bucket keys

Round 6: the storage layer is the repo's ONE transactional commit path —
a `storage.TxLog` table whose files are partitioned by ``(tbl, batch)``:

- Both probe tables commit in a SINGLE manifest version per batch
  (``partition_by=["tbl", "batch"]`` lifts each file's table and batch
  label into the manifest), so a crash can never expose a digest batch
  without its bands — the atomicity the old hand-rolled ``_batch_N_done``
  marker provided, now inherited from the log instead of reimplemented.
- Batch replay is idempotent via the log's ``(app_id, app_version)``
  contract (``app_id="batch:<label>"``): a streaming epoch retried after
  a crash — or replayed from an OLD checkpoint after a compaction —
  commits nothing. (The marker protocol re-appended after compaction;
  the log's app high-water marks persist through it.)
- ``digests()``/``bands()`` read a PARTITION-PRUNED snapshot: only the
  requested sub-table's files ever reach Spark's listing.
- ``compact()`` folds every batch into one under the disjoint-file
  conflict rule (concurrent appends never conflict with it).

Scale shape: append cost is O(batch) — one signature pass over the new
docs, never a rewrite of history (unlike a dim-table MERGE, which rewrites
the files it touches). Probe tables carry ~40 bytes/doc — the index for a
10^10-doc corpus is ~hundreds of GB, scanned only by digest/bucket
semi-joins that reduce map-side.

Writers: explicit-label appends (the streaming funnels' ``e<epoch>``)
commit LOCK-FREE — the log's OCC version claim serializes them, and two
racers on one label resolve to exactly one commit. AUTO-numbered labels
need the next free number, so auto appends and compact() hold the
advisory single-writer fence (`streaming/router.RouterLock` via
:func:`index_write_lock` — pid-liveness, atomic stale-steal) for the
mutation's duration; two live concurrent auto-writers fail fast instead
of racing the label counter.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..storage import TxLog
from .dedup import band_rows, minhash_signatures


@contextmanager
def index_write_lock(base_dir: str):
    """Advisory single-writer fence for one index mutation: acquire the
    router's lock (pid-liveness check, atomic stale-steal) for the
    duration of an append/compact. Shared by SignatureIndex and IvfIndex."""
    from ..streaming.router import RouterLock

    lock = RouterLock(base_dir).acquire()
    try:
        yield lock
    finally:
        lock.release()


def _label_key(label: str):
    # auto-numbered labels sort numerically first, named labels (e.g. the
    # streaming path's "e<epoch>") after, lexicographically
    return (0, int(label), "") if label.isdigit() else (1, 0, label)


_UNIFIED_SCHEMA = (
    "doc long, h string, band_id int, band_hash string, tbl string, batch string"
)


class SignatureIndex:
    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir
        self.log = TxLog(base_dir)

    # -- commit bookkeeping -------------------------------------------------
    def committed_batches(self) -> list[str]:
        """Committed batch labels (from manifest partition metadata only —
        no data I/O): auto-numbered appends get "0", "1", ...; callers may
        pass their own labels (the streaming ingest uses "e<epoch>" so
        epoch commits can never collide with seed batches). A batch that
        contributed zero rows has no files and does not appear."""
        st = self.log.state()
        labels = {pv["batch"] for pv in st.parts.values() if "batch" in pv}
        return sorted(labels, key=_label_key)

    def _all_labels(self) -> set[str]:
        """Every label ever committed — including zero-row batches, whose
        (app_id, version) survives in the log even though they own no
        files. Auto-numbering must skip these or a reused label's append
        would be swallowed by the idempotence check."""
        st = self.log.state()
        labels = {pv["batch"] for pv in st.parts.values() if "batch" in pv}
        labels |= {a[len("batch:"):] for a in st.apps if a.startswith("batch:")}
        return labels

    def is_empty(self) -> bool:
        return not self.committed_batches()

    # -- append (one signature pass over the NEW docs only) -----------------
    def _unified(self, docs: DataFrame, id_col: str, text_col: str, label: str) -> DataFrame:
        dig = docs.select(
            F.col(id_col).alias("doc"),
            F.md5(F.col(text_col)).alias("h"),
            F.lit(None).cast("int").alias("band_id"),
            F.lit(None).cast("string").alias("band_hash"),
            F.lit("digests").alias("tbl"),
        )
        bands = band_rows(minhash_signatures(docs, id_col, text_col)).select(
            F.col("doc"),
            F.lit(None).cast("string").alias("h"),
            "band_id",
            "band_hash",
            F.lit("bands").alias("tbl"),
        )
        return dig.unionByName(bands).withColumn("batch", F.lit(label))

    def append(
        self, docs: DataFrame, id_col: str, text_col: str, batch_no: int | str | None = None
    ) -> str:
        """Add a batch of accepted documents to the index; returns the
        committed batch label. Both probe tables land in ONE transactional
        commit — crash-retry safe by the log's protocol.

        Pass ``batch_no`` (e.g. ``f"e{epoch}"`` from foreachBatch) to make
        replays idempotent: the log's ``(app_id="batch:<label>",
        app_version=0)`` high-water mark skips an already-committed label
        outright — including replays from an old checkpoint AFTER a
        compaction — so a streaming ingest that retries an epoch cannot
        grow the index twice. The label must be stable across query
        restarts — derive it from the epoch id only.

        Locking: EXPLICIT labels commit lock-free — the log's OCC version
        claim serializes concurrent writers, and two racers on the SAME
        label resolve to exactly one commit (the loser's retry sees the
        winner's app mark and skips). Only AUTO-numbered appends take the
        advisory fence, to serialize the label counter."""
        if batch_no is None:
            with index_write_lock(self.base_dir):
                seen = self._all_labels()
                ints = [int(b) for b in seen if b.isdigit()]
                n = str(max(ints) + 1) if ints else "0"
                return self._commit_batch(docs, id_col, text_col, n)
        n = str(batch_no)
        if not n.isalnum():
            raise ValueError(f"batch label must be alphanumeric, got {n!r}")
        if n in self._all_labels():
            return n  # epoch replay: already committed, exactly-once
        return self._commit_batch(docs, id_col, text_col, n)

    def _commit_batch(self, docs: DataFrame, id_col: str, text_col: str, n: str) -> str:
        self.log.append(
            self._unified(docs, id_col, text_col, n),
            app_id=f"batch:{n}",
            app_version=0,
            partition_by=["tbl", "batch"],
        )
        return n

    # -- compaction ---------------------------------------------------------
    def compact(self) -> str | None:
        """Merge every committed batch into one — the small-file fix a
        long-running ingest needs (per-epoch appends leave files per
        trigger; readers pay per-file open cost forever otherwise).

        One log commit under the DISJOINT-FILE conflict rule: the merged
        files replace exactly the files read, so a concurrent append
        neither blocks nor is lost (it conflicts with nothing); a
        concurrent remover of the same files (another compact) raises and
        this one retries via the advisory lock serialization. Replayed
        epochs from before the compaction stay skipped — their app
        high-water marks survive in the log."""
        with index_write_lock(self.base_dir):
            committed = self.committed_batches()
            if len(committed) <= 1:
                return committed[0] if committed else None
            ints = [int(b) for b in self._all_labels() if b.isdigit()]
            n = str(max(ints) + 1) if ints else "0"
            st = self.log.state()
            # same-package use of the log's staging internals: the rewrite
            # must pair removes with adds in one commit (snapshot+append
            # would double rows; overwrite would conflict with appends)
            merged = self.log._read_files(self.spark, list(st.files), st).withColumn(
                "batch", F.lit(n)
            )
            names, schema_json, stats, parts = self.log._stage(
                merged, None, ["tbl", "batch"]
            )
            self.log.commit_files(
                names, op="optimize", schema_json=schema_json,
                removes=list(st.files), stats=stats, parts=parts,
                app_id=f"batch:{n}", app_version=0,
            )
            return n

    # -- probe tables (the only thing an ingest ever reads) -----------------
    def _read(self, tbl: str, cols: list[str]) -> DataFrame:
        if self.log.state().version < 0:
            return self.spark.createDataFrame([], _UNIFIED_SCHEMA).select(*cols)
        snap = self.log.snapshot(self.spark, partitions={"tbl": [tbl]})
        return snap.where(F.col("tbl") == tbl).select(*cols)

    def digests(self) -> DataFrame:
        return self._read("digests", ["doc", "h"])

    def bands(self) -> DataFrame:
        return self._read("bands", ["doc", "band_id", "band_hash"])


class PrefixIndex:
    """Persisted window-seed index for INCREMENTAL exact-substring dedup
    (r8 verdict task 8): the SignatureIndex pattern applied to
    `dedup.window_seed_rows` — one (doc, pos, seed) row per
    min_tokens-token window of every accepted document, appended per
    batch into a TxLog table partitioned by batch label.

    Same commit protocol as SignatureIndex: explicit labels (``e<epoch>``
    from foreachBatch) are exactly-once via the log's (app_id, version)
    high-water mark — a replayed epoch appends nothing — and
    auto-numbered appends serialize on the advisory lock. `seeds()` is
    the only probe surface an ingest reads; the accepted documents' TEXT
    is never rescanned after acceptance, the 100 TB contract."""

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir
        self.log = TxLog(base_dir)

    def _all_labels(self) -> set[str]:
        st = self.log.state()
        labels = {pv["batch"] for pv in st.parts.values() if "batch" in pv}
        labels |= {a[len("batch:"):] for a in st.apps if a.startswith("batch:")}
        return labels

    def append(
        self,
        docs: DataFrame,
        id_col: str,
        text_col: str,
        batch_no: int | str | None = None,
        min_tokens: int | None = None,
        seed_rows: DataFrame | None = None,
    ) -> str:
        """``seed_rows`` (doc, pos, seed) — a caller that already holds
        the batch's window seeds (the verdict pass computes them) passes
        them here so the tokenize+hash walk is not re-run from text
        (guide §2.4 compute-once); rows must cover exactly ``docs``."""
        from .dedup import SUFFIX_MIN_TOKENS, window_seed_rows

        mt = SUFFIX_MIN_TOKENS if min_tokens is None else min_tokens
        rows = (
            seed_rows.select("doc", "pos", "seed")
            if seed_rows is not None
            else window_seed_rows(docs, id_col, text_col, mt)
        )
        if batch_no is None:
            with index_write_lock(self.base_dir):
                seen = self._all_labels()
                ints = [int(b) for b in seen if b.isdigit()]
                n = str(max(ints) + 1) if ints else "0"
                return self._commit(rows, n)
        n = str(batch_no)
        if not n.isalnum():
            raise ValueError(f"batch label must be alphanumeric, got {n!r}")
        if n in self._all_labels():
            return n  # epoch replay: already committed, exactly-once
        return self._commit(rows, n)

    def _commit(self, rows: DataFrame, n: str) -> str:
        self.log.append(
            rows.withColumn("batch", F.lit(n)),
            app_id=f"batch:{n}",
            app_version=0,
            partition_by=["batch"],
        )
        return n

    def seeds(self) -> DataFrame:
        """(doc, seed) probe table over every committed batch. The
        snapshot pins the file list at call time, so a verdict plan built
        before a later append keeps probing the index AS OF its epoch."""
        if self.log.state().version < 0:
            return self.spark.createDataFrame(
                [], "doc long, pos long, seed long, batch string"
            ).select("doc", "seed")
        return self.log.snapshot(self.spark).select("doc", "seed")
