"""Config-driven dynamic routing (SURVEY §2.3 R2/R3).

The reference routes CDC records per config-table entry — broadcast state
keyed `sourceTable-operateType`, facts to per-record Kafka topics, dims to
Phoenix tables created on the fly (BaseDBApp.java:76-107,
TableProcessFunction.java:42-165). Spark-first replacement:

- the config is a small DataFrame re-read at every micro-batch (the
  broadcast-state maintenance of R3 becomes "fresh snapshot per trigger");
- a foreachBatch harness partitions the micro-batch by (source_table, op),
  prunes to each entry's sink_columns, and writes to the entry's sink:
  `table` sinks APPEND into a `storage.TxLog` table, `dim` sinks MERGE
  into a TxLog table keyed on the config's sink_pk — the
  DimSinkFunction.java:17-89 upsert path, driven by the router itself
  rather than wired by the caller. Sink tables are created on first write
  (the dynamic CREATE TABLE of TableProcessFunction.checkTable:70-127 is
  implicit in TxLog's first commit).

ONE transactional write path: every sink commit goes through the
multi-writer OCC transaction log (storage/txlog.py — the same layer
`streaming/ingest.py` commits through), matching the reference's single
transactional producer path (MyKafkaUtil.java:29-43 +
DimSinkFunction.java:17-89):

- Exactly-once under crash-retry: each (config entry, epoch) commits as
  an idempotent `(app_id, app_version)` epoch — a replayed micro-batch is
  skipped by the log itself.
- Multi-writer: TWO routers with distinct `app_id`s can land in the SAME
  sink table concurrently, their commits serialized by the version-claim
  protocol; dim MERGEs serialize lock-free via OCC retry. (The r5
  hand-rolled epoch-marker sink refused a second writer by construction;
  that whole protocol is deleted in favor of the log.)

:class:`RouterLock` is a single-owner advisory fence on a directory. The
router itself never takes it (correctness never needs it); it is the
mutation fence of the non-TxLog SignatureIndex
(datapipe/signature_index.py).

The routing loop is per *config entry*, not per record — each entry is
one declarative filter+project that Catalyst optimizes; with N config
entries the micro-batch is scanned at most N times (cached once when N is
large). Each `table` entry is one append; the `dim` entries that share a
sink table are unioned into ONE merge per micro-batch, the last entry
winning per key (see :func:`route_micro_batch`).
"""

from __future__ import annotations

import json
import os
import tempfile
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import start_foreach_batch
from ..storage import TxLog


class SinkLockError(RuntimeError):
    """Raised when a second concurrent router targets an owned sink dir,
    or when a fenced-out router attempts to keep writing."""


class RouterLock:
    """Single-writer advisory guard for a directory tree.

    TxLog sinks never need it (concurrent writers serialize through the
    log); it is the mutation fence of the marker-based SignatureIndex.

    An owner file (`_router_lock`, JSON `{pid, token}`) is created before
    the first epoch; a second acquirer finds it, sees a live owner pid,
    and REFUSES fast. A lock whose owner pid is dead (crashed router) is
    stale and is stolen atomically, so crash -> restart needs no manual
    cleanup.

    Fencing: `check()` re-reads the file and raises unless it still holds
    this instance's token — called before every epoch, so a router wrongly
    presumed dead (e.g. paused, its lock stolen) fails its next write
    instead of interleaving with the new owner. Same pid-liveness +
    fence-token design as HDFS lease recovery, scoped to single-host
    filesystems (the pid check is per-host)."""

    FILENAME = "_router_lock"

    def __init__(self, base_dir: str):
        self.base_dir = base_dir
        self.path = os.path.join(base_dir, self.FILENAME)
        self.token = f"{os.getpid()}-{uuid.uuid4().hex}"

    @staticmethod
    def _pid_alive(pid: int) -> bool:
        try:
            os.kill(pid, 0)
        except ProcessLookupError:
            return False
        except PermissionError:
            return True  # exists, owned by someone else
        return True

    def _read_owner(self) -> dict | None:
        try:
            with open(self.path) as f:
                return json.loads(f.read())
        except (FileNotFoundError, json.JSONDecodeError):
            return None  # gone, or torn write from a crashed owner => stale

    def acquire(self) -> "RouterLock":
        """Take ownership, or raise SinkLockError if a LIVE owner holds it.

        The whole read-owner/decide/steal sequence runs under an OS-level
        flock on a sidecar guard file: without it, two processes that both
        observe a dead owner both "win" the steal (each os.replace
        succeeds) and run concurrently. flock serializes acquirers on one
        host and auto-releases if an acquirer dies mid-decision."""
        import fcntl

        os.makedirs(self.base_dir, exist_ok=True)
        payload = json.dumps({"pid": os.getpid(), "token": self.token})
        guard = os.open(self.path + ".guard", os.O_CREAT | os.O_RDWR)
        try:
            fcntl.flock(guard, fcntl.LOCK_EX)
            owner = self._read_owner()
            if owner is not None and self._pid_alive(int(owner.get("pid", -1))):
                if owner.get("token") == self.token:
                    return self  # re-acquire by the current owner: no-op
                raise SinkLockError(
                    f"sink {self.base_dir!r} is owned by a live router "
                    f"(pid {owner['pid']}); refusing a second concurrent writer"
                )
            # free, or stale (owner crashed): take it atomically
            fd, tmp = tempfile.mkstemp(dir=self.base_dir, prefix="_lock_")
            with os.fdopen(fd, "w") as f:
                f.write(payload)
            os.replace(tmp, self.path)
            return self
        finally:
            fcntl.flock(guard, fcntl.LOCK_UN)
            os.close(guard)

    def check(self) -> None:
        """Fence: raise unless this instance still owns the sink."""
        owner = self._read_owner()
        if owner is None or owner.get("token") != self.token:
            raise SinkLockError(
                f"router lost ownership of sink {self.base_dir!r} "
                "(lock stolen after presumed death); refusing to write"
            )

    def release(self) -> None:
        owner = self._read_owner()
        if owner is not None and owner.get("token") == self.token:
            try:
                os.remove(self.path)
            except FileNotFoundError:
                pass


@dataclass(frozen=True)
class RouteConfig:
    """One row of the reference's `table_process` config
    (bean/TableProcess.java:12-27 — sinkType/sinkTable/sinkColumns/sinkPk/
    sinkExtend all carried)."""

    source_table: str
    operate_type: str  # insert | update | delete
    sink_table: str
    sink_columns: tuple[str, ...]  # the csv list of TableProcessFunction.filterColumn
    sink_type: str = "table"  # table (TxLog append) | dim (TxLog MERGE) | kafka
    sink_pk: str = "id"  # dim MERGE key (TableProcessFunction.checkTable pk)
    sink_extend: str = ""  # passthrough DDL extras (SALT_BUCKETS etc. in Phoenix)


def sink_table_path(base_dir: str, sink_table: str, sink_type: str = "table") -> str:
    """Where a config entry's TxLog table lives (dims under _dims/)."""
    if sink_type == "dim":
        return os.path.join(base_dir, "_dims", sink_table)
    return os.path.join(base_dir, sink_table)


def read_sink(
    spark: SparkSession, base_dir: str, sink_table: str, sink_type: str = "table"
) -> DataFrame:
    """Committed snapshot of a routed sink table."""
    return TxLog(sink_table_path(base_dir, sink_table, sink_type)).snapshot(spark)


def route_micro_batch(
    batch: DataFrame,
    configs: list[RouteConfig],
    base_dir: str,
    table_col: str = "source_table",
    op_col: str = "op",
    epoch_id: int | None = None,
    app_id: str = "router",
) -> list[str]:
    """Route one micro-batch per the config list; returns sink tables written.

    Mirrors TableProcessFunction.processElement:130-165: records whose
    (source_table, op) has no config entry are dropped (logged there,
    dropped here). Every write is a TxLog commit: `table` entries append
    idempotently under ``(app_id:source:op, epoch_id)`` (a replayed epoch
    is skipped by the log); two table configs may share a sink_table,
    their distinct per-entry app_ids commit independently.

    `dim` entries MERGE keyed by their sink_pk (idempotent by
    construction: replaying the same updates yields the same keyed
    state), ONE merge per dim table per micro-batch: the configs sharing
    a (sink table, sink_pk) — e.g. a source table's `insert` and `update`
    entries — are unioned, and for each key only the rows of the LAST
    such config in list order are kept (null-key rows all land). That is
    what merging each config's rows in turn leaves, but the dim gets one
    version per batch, not one per config, so a CDF-enabled dim shows a
    batch's net change in one version. (One difference: merged alone, a
    config whose rows all have null keys landed nothing; now its rows
    land whenever another config of the group carries a key.)

    Known defect: `merge` takes one row per key, but a micro-batch that
    carries two `update` rows for one dim key hands it both, and the dim
    keeps both rows. The ODS envelope has no order column to pick the
    key's last change by, so the fix waits for one
    (tests/test_cdc_pipeline.py, the strict-xfail dim test)."""
    if len(configs) > 2:
        batch = batch.persist()
    written = []
    dims: dict[tuple[str, str], list[DataFrame]] = {}
    try:
        for i, cfg in enumerate(configs):
            sub = batch.where(
                (F.col(table_col) == cfg.source_table) & (F.col(op_col) == cfg.operate_type)
            ).select(*cfg.sink_columns)
            path = sink_table_path(base_dir, cfg.sink_table, cfg.sink_type)
            if cfg.sink_type == "dim":
                dims.setdefault((path, cfg.sink_pk), []).append(
                    sub.withColumn(_CFG_COL, F.lit(i))
                )
            elif epoch_id is not None:
                TxLog(path).append(
                    sub,
                    app_id=f"{app_id}:{cfg.source_table}:{cfg.operate_type}",
                    app_version=epoch_id,
                )
            else:
                TxLog(path).append(sub)
            written.append(cfg.sink_table)
        for (path, key), subs in dims.items():
            # the merge's key probe and its write both scan these rows:
            # cache them so the window's shuffle runs once
            rows = _last_config_wins(subs, key).persist()
            try:
                TxLog(path).merge(batch.sparkSession, rows, key=key)
            finally:
                rows.unpersist()
    finally:
        if len(configs) > 2:
            batch.unpersist()
    return written


_CFG_COL = "_route_cfg"  # the config index a dim row was routed by
_LAST_COL = "_route_last"  # the highest such index among its key's rows


def _last_config_wins(subs: list[DataFrame], key: str) -> DataFrame:
    """The rows of one dim table's configs (each tagged with its config
    index in `_CFG_COL`) that merging them config by config would leave:
    per key, the rows of the highest index; every null-key row."""
    rows = subs[0]
    for s in subs[1:]:
        rows = rows.unionByName(s, allowMissingColumns=True)
    if len(subs) > 1:
        rows = rows.withColumn(_LAST_COL, F.max(_CFG_COL).over(Window.partitionBy(key)))
        rows = rows.where(F.col(key).isNull() | (F.col(_CFG_COL) == F.col(_LAST_COL)))
    return rows.drop(_CFG_COL, _LAST_COL)


def start_router(
    stream: DataFrame,
    config_provider,
    base_dir: str,
    checkpoint: str,
    app_id: str = "router",
):
    """Attach the router to a streaming DataFrame.

    `config_provider()` is called every micro-batch — the Spark analog of
    the reference's broadcast-state updates (R3): config changes take
    effect on the next trigger without restarting the query. The epoch id
    Spark hands foreachBatch keys each sink's idempotent TxLog commit.

    Multi-writer: routers with DISTINCT `app_id`s may share sink tables;
    the log serializes their commits. Returns the StreamingQuery."""

    def on_batch(batch: DataFrame, epoch: int) -> None:
        route_micro_batch(
            batch, list(config_provider()), base_dir, epoch_id=epoch, app_id=app_id
        )

    return start_foreach_batch(stream, on_batch, checkpoint)
