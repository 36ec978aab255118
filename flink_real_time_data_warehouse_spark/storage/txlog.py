"""Optimistic-concurrency transaction log for parquet tables — MULTI-writer
arbitration, the one transactional write path every sink in this repo
commits through (streaming/router.py, streaming/ingest.py).

This is the Delta Lake commit protocol (Armbrust et al., "Delta Lake:
High-Performance ACID Table Storage over Cloud Object Stores", VLDB 2020 —
public paper) re-implemented over a small :class:`LogStore` primitive,
replacing the reference's transactional stores (Phoenix upserts /
ClickHouse ReplacingMergeTree dedup) with a table format every engine can
read:

- A table = immutable data files + an ordered log of JSON manifests
  ``_txlog/<10-digit version>.json``. Readers never see a data file that
  is not named by a committed manifest.
- Writers STAGE uniquely-named parquet files under ``data/`` first —
  invisible until committed, so a crash mid-stage leaves only orphans
  (collected by :meth:`vacuum`, which also sweeps abandoned
  ``_staging-*`` directories).
- Commit = atomically CLAIMING the next log version via
  :meth:`LogStore.put_if_absent` — exactly one winner per version, and
  the claim only succeeds with fully-written content, so a torn/partial
  manifest is impossible by construction.
- A loser re-reads the log and RETRIES at the next version. Blind appends
  conflict with nothing, so append retries always succeed; commits that
  carry ``expected_version`` (REPLACE, MERGE) validate that the table
  version they read is still current and raise :class:`TxConflictError`
  otherwise — serializable semantics, the caller re-derives its output
  from the new state and tries again.
- Readers take a SNAPSHOT: one log listing resolves to a fixed file list;
  commits that land afterwards are invisible (snapshot isolation), and
  since data files are immutable a held snapshot stays readable until
  vacuumed.
- Streaming exactly-once: a commit may carry ``(app_id, app_version)``;
  if the table already holds a version >= for that app the commit is
  SKIPPED and its staged files deleted — the ``txnAppId``/``txnVersion``
  idempotence contract a foreachBatch sink needs under crash-retry.
- ``checkpoint()`` folds the manifest chain into one
  ``<v>.checkpoint.json``; readers start from the newest checkpoint, so
  manifests at or below it can be deleted (log truncation) without
  affecting any state derived at or after it.

Data skipping, three levels (all manifest-only, no file opens):

- per-file ``[min, max]`` column stats harvested from the parquet footers
  at stage time (``stats_cols=...``) and pruned with
  ``snapshot(prune=(col, lo, hi))``;
- per-file PARTITION values recorded at commit (``partition_by=...`` —
  Hive-style directory partitioning folded into the manifest) and pruned
  with ``snapshot(partitions={col: [values]})`` — the Delta/Iceberg
  partition-pruning counterpart of the reference's per-table routing
  (TableProcessFunction.java:130-165);
- per-file BLOOM membership filters (``bloom_cols=...`` — Delta's bloom
  filter index, public docs) pruned with ``snapshot(bloom=(col,
  [values]))`` — the point-lookup prune for hash-distributed columns
  where every file's [min,max] spans the whole domain.

Arbitration primitive scope: the claim step is everything that is
storage-specific, so it lives behind :class:`LogStore`.
:class:`PosixLogStore` claims with ``link(2)`` (correct on local POSIX and
HDFS-like filesystems); :class:`MemoryLogStore` implements the S3-profile
conditional PUT (``If-None-Match: *``) over an in-process dict — the same
protocol logic runs unchanged over both (the race tests parameterize over
them). A real object-store impl swaps HTTP calls into that class only.

Scale shape: commits move METADATA only (a few KB of JSON per commit, one
listing per snapshot) — data-file bytes never rewrite on append; state
reconstruction cost is bounded by checkpoint interval, not table age;
MERGE rewrites only the data files whose recorded key range intersects
the update keys (O(touched bytes), not O(table)); DELETE of a key range
drops fully-covered files as pure metadata and rewrites only partially-
covered ones — a retention purge on a fact table moves no data at all
when files are range-clustered.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import threading
import time
import uuid
from bisect import bisect_left
from dataclasses import dataclass, field
from functools import cache, cached_property, reduce
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType


class TxConflictError(RuntimeError):
    """A conflicting commit lost to a concurrent one (or retries were
    exhausted): the state the writer derived its output from is no longer
    current."""


class TxVersionTruncatedError(ValueError):
    """A requested historical version predates the oldest reconstructable
    state (its manifests were deleted by log truncation)."""


_V_DIGITS = 10


# ---------------------------------------------------------------------------
# LogStore: the storage-specific arbitration + durability primitive
# ---------------------------------------------------------------------------


class LogStore:
    """What the commit protocol needs from manifest storage — Delta's
    LogStore abstraction: atomic all-or-nothing publish of fully-written
    content, conditional on the name not existing (the version claim),
    plus list/read/delete for replay and truncation. Everything above this
    class is storage-agnostic protocol logic."""

    def list(self) -> list[str]:  # manifest/checkpoint names, no tmp files
        raise NotImplementedError

    def read(self, name: str) -> dict:  # raises FileNotFoundError if absent
        raise NotImplementedError

    def put_if_absent(self, name: str, payload: dict) -> bool:
        """Publish `payload` at `name` iff `name` does not exist, atomically
        and with fully-written content. True iff this caller won."""
        raise NotImplementedError

    def put(self, name: str, payload: dict) -> None:
        """Idempotent overwrite-ok publish (checkpoints: deterministic
        content per version, so a concurrent duplicate is harmless)."""
        raise NotImplementedError

    def delete(self, name: str) -> bool:  # True if it existed
        raise NotImplementedError


class PosixLogStore(LogStore):
    """POSIX/HDFS profile: the claim is ``link(2)`` — it both fails with
    EEXIST if the name is taken (exactly one winner) AND makes the
    fully-written tmp content appear atomically (the
    O_EXCL-create-then-write alternative can crash between create and
    write, leaving a poisoned empty manifest). The tmp file is removed in
    ``finally`` even when serialization fails, so a bad payload cannot
    leak ``.tmp-*`` litter (ADVICE r5)."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def list(self) -> list[str]:
        return [n for n in os.listdir(self.root) if not n.startswith(".")]

    def read(self, name: str) -> dict:
        with open(os.path.join(self.root, name)) as f:
            return json.load(f)

    def _write_tmp(self, payload: dict) -> str:
        tmp = os.path.join(self.root, f".tmp-{uuid.uuid4().hex}")
        try:
            with open(tmp, "w") as f:
                json.dump(payload, f)
                f.flush()
                os.fsync(f.fileno())
        except BaseException:
            try:
                os.remove(tmp)
            except FileNotFoundError:
                pass
            raise
        return tmp

    def put_if_absent(self, name: str, payload: dict) -> bool:
        tmp = self._write_tmp(payload)
        try:
            os.link(tmp, os.path.join(self.root, name))
            return True
        except FileExistsError:
            return False
        finally:
            os.remove(tmp)

    def put(self, name: str, payload: dict) -> None:
        tmp = self._write_tmp(payload)
        os.replace(tmp, os.path.join(self.root, name))

    def delete(self, name: str) -> bool:
        try:
            os.remove(os.path.join(self.root, name))
            return True
        except FileNotFoundError:
            return False


class MemoryLogStore(LogStore):
    """Object-store (S3) profile mock: a conditional PUT
    (``If-None-Match: *``) against an in-process dict. The dict+lock pair
    stands in for the object store's own atomicity guarantee — the
    protocol code above never assumes anything beyond the LogStore
    contract, which is exactly what this class proves (the txlog race
    tests run the full multi-writer protocol over it). A real S3 impl
    replaces the dict operations with HTTP calls; payloads are stored as
    serialized bytes so a non-serializable payload fails BEFORE the
    conditional PUT, same as the POSIX profile."""

    def __init__(self):
        self._objects: dict[str, str] = {}
        self._lock = threading.Lock()

    def list(self) -> list[str]:
        with self._lock:
            return list(self._objects)

    def read(self, name: str) -> dict:
        with self._lock:
            if name not in self._objects:
                raise FileNotFoundError(name)
            return json.loads(self._objects[name])

    def put_if_absent(self, name: str, payload: dict) -> bool:
        data = json.dumps(payload)  # serialize outside the critical section
        with self._lock:
            if name in self._objects:
                return False
            self._objects[name] = data
            return True

    def put(self, name: str, payload: dict) -> None:
        data = json.dumps(payload)
        with self._lock:
            self._objects[name] = data

    def delete(self, name: str) -> bool:
        with self._lock:
            return self._objects.pop(name, None) is not None


# ---------------------------------------------------------------------------
# footer stats
# ---------------------------------------------------------------------------


def _footer_minmax(path: str, cols: list[str]) -> dict:
    """[min, max] per requested column from parquet row-group footers —
    metadata only, no data read. Only JSON-safe stat types (int/float/str)
    are recorded; columns whose stats are bytes/datetime/Decimal are
    omitted (readers keep such files, which is always safe) so a stats
    commit can never fail manifest serialization (ADVICE r5)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    out = {}
    for col in cols:
        if col not in idx:
            continue
        lo = hi = None
        ok = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx[col]).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        if (
            ok
            and lo is not None
            and isinstance(lo, (int, float, str))
            and isinstance(hi, (int, float, str))
        ):
            out[col] = [lo, hi]
    return out


def _footer_rows(path: str) -> int:
    """Row count of a parquet file, from its footer."""
    import pyarrow.parquet as pq

    return pq.read_metadata(path).num_rows


_BLOOM_FPP = 0.01
_BLOOM_MAX_KEYS = 100_000  # beyond this a file gets no bloom (kept conservatively)


def _bloom_key(v) -> bytes:
    """Canonical hash input for a bloom value — int/str round-trip exactly
    between commit-side (pyarrow python values) and query-side (caller
    literals); floats are not supported as bloom keys (str rounding)."""
    return str(v).encode("utf-8")


def _bloom_build(values, fpp: float = _BLOOM_FPP) -> dict | None:
    """Standard Bloom filter over the distinct non-null values: m sized
    for `fpp`, k = m/n·ln2 double-hashed positions from one md5 per key
    (h1 + i·h2 mod m — Kirsch-Mitzenmacher). JSON-safe (base64 bits)."""
    import base64
    import hashlib
    import math

    vals = {v for v in values if v is not None}
    if not vals or len(vals) > _BLOOM_MAX_KEYS:
        return None
    n = len(vals)
    m = max(64, int(-n * math.log(fpp) / (math.log(2) ** 2)))
    m = (m + 7) // 8 * 8
    k = max(1, round(m / n * math.log(2)))
    bits = bytearray(m // 8)
    for v in vals:
        h = hashlib.md5(_bloom_key(v)).digest()
        h1 = int.from_bytes(h[:8], "big")
        h2 = int.from_bytes(h[8:], "big") | 1
        for i in range(k):
            pos = (h1 + i * h2) % m
            bits[pos >> 3] |= 1 << (pos & 7)
    return {"m": m, "k": k, "b64": base64.b64encode(bytes(bits)).decode()}


def _bloom_might_contain(bloom: dict, v) -> bool:
    import base64
    import hashlib

    m, k = bloom["m"], bloom["k"]
    bits = base64.b64decode(bloom["b64"])
    h = hashlib.md5(_bloom_key(v)).digest()
    h1 = int.from_bytes(h[:8], "big")
    h2 = int.from_bytes(h[8:], "big") | 1
    for i in range(k):
        pos = (h1 + i * h2) % m
        if not (bits[pos >> 3] >> (pos & 7)) & 1:
            return False
    return True


def _in_range(lo, hi):
    """``overlaps(mn, mx)`` of the key range [lo, hi]."""
    return lambda mn, mx: mn <= hi and mx >= lo


@dataclass(frozen=True)
class _State:
    version: int  # -1 => empty table, no commits yet
    files: tuple[str, ...]  # data file names (relative to data/), committed
    apps: dict  # app_id -> highest committed app_version
    schema_json: str | None  # schema of the latest commit
    # Per-file SKIPPING METADATA: {col: [min, max]} footer stats, plus
    # {"bloom:<col>": {m, k, b64}} membership filters for files committed
    # with bloom_cols — both replay/checkpoint/remove together.
    stats: dict
    parts: dict  # file name -> {col: str(value)} (only partition_by commits)
    # DELETION VECTORS: data file name -> sidecar file name holding that
    # file's CUMULATIVE deleted row positions (a newer DV for a file
    # replaces the older one wholesale — Delta's DV semantics). Sidecars
    # are small parquet files (file string, pos long) under data/.
    dvs: dict
    # COLUMN MAPPING (Delta's column-mapping name mode): logical column
    # name -> the stable PHYSICAL name data files carry. Identity for
    # unmapped columns; populated only by rename_column. Writes translate
    # logical->physical before staging, reads translate back — which is
    # what makes RENAME/DROP COLUMN metadata-only commits.
    cmap: dict = field(default_factory=dict)
    # TABLE PROPERTIES (Delta's TBLPROPERTIES): name -> value, latest
    # full map wins (set_property commits a metadata-only manifest).
    # Behavior keys: "enableChangeDataFeed" = "true" makes
    # update/delete/delete_to_dv/merge/merge_into stage typed CDF sidecars.
    props: dict = field(default_factory=dict)

    @cached_property
    def schema(self) -> StructType | None:
        """`schema_json` parsed, once per state."""
        if self.schema_json is None:
            return None
        return StructType.fromJson(json.loads(self.schema_json))


class TxLog:
    """One transactional parquet table rooted at ``path``.

    `store` overrides the manifest-log storage profile (default:
    :class:`PosixLogStore` under ``<path>/_txlog``); data files always
    live under ``<path>/data`` in this repo's deployments.
    """

    LOG_DIR = "_txlog"
    DATA_DIR = "data"

    def __init__(self, path: str, store: LogStore | None = None):
        self.path = path
        self.log_path = os.path.join(path, self.LOG_DIR)
        self.data_path = os.path.join(path, self.DATA_DIR)
        os.makedirs(self.data_path, exist_ok=True)
        self.store = store if store is not None else PosixLogStore(self.log_path)

    # -- log reading ---------------------------------------------------

    def _manifest_name(self, version: int) -> str:
        return f"{version:0{_V_DIGITS}d}.json"

    def _list_log(self) -> tuple[list[int], list[int]]:
        """(sorted manifest versions, sorted checkpoint versions)."""
        manifests, checkpoints = [], []
        for name in self.store.list():
            if name.endswith(".checkpoint.json"):
                checkpoints.append(int(name.split(".")[0]))
            elif name.endswith(".json"):
                manifests.append(int(name.split(".")[0]))
        return sorted(manifests), sorted(checkpoints)

    def state(self, at_version: int | None = None) -> _State:
        """Reconstruct table state from the newest checkpoint <= target,
        then replay later manifests. One log listing; no data I/O.

        Concurrent ``truncate_log()`` can delete a listed manifest before
        this reader opens it — that read raises FileNotFoundError and the
        reconstruction retries against a fresh listing (the checkpoint
        that justified the truncation is in the new listing, so the retry
        succeeds). A requested `at_version` whose manifests are already
        truncated raises :class:`TxVersionTruncatedError` instead of
        silently reconstructing an empty table (ADVICE r5)."""
        last_err: FileNotFoundError | None = None
        for _ in range(5):
            try:
                return self._state_once(at_version)
            except FileNotFoundError as e:  # racing truncation: re-list
                last_err = e
        raise last_err  # persistent listing/content mismatch: surface it

    def _state_once(self, at_version: int | None) -> _State:
        all_manifests, all_checkpoints = self._list_log()
        manifests, checkpoints = all_manifests, all_checkpoints
        if at_version is not None:
            manifests = [v for v in manifests if v <= at_version]
            checkpoints = [v for v in checkpoints if v <= at_version]
        files: list[str] = []
        apps: dict = {}
        stats: dict = {}
        parts: dict = {}
        dvs: dict = {}
        cmap: dict = {}
        props: dict = {}
        schema_json: str | None = None
        version = -1
        start = 0
        if checkpoints:
            cp_v = checkpoints[-1]
            cp = self.store.read(f"{cp_v:0{_V_DIGITS}d}.checkpoint.json")
            files = list(cp["files"])
            apps = dict(cp["apps"])
            stats = dict(cp.get("stats", {}))
            parts = dict(cp.get("parts", {}))
            dvs = dict(cp.get("dvs", {}))
            cmap = dict(cp.get("cmap", {}))
            props = dict(cp.get("props", {}))
            schema_json = cp.get("schema_json")
            version = cp_v
            start = cp_v + 1
        elif at_version is not None and (all_manifests or all_checkpoints):
            # No checkpoint at or below the target: the replay must start
            # from version 0 or the target's history is gone (truncated).
            if not manifests or manifests[0] != 0:
                raise TxVersionTruncatedError(
                    f"version {at_version} of {self.path!r} predates the oldest "
                    "reconstructable state (manifests truncated past a checkpoint)"
                )
        for v in manifests:
            if v < start:
                continue
            m = self.store.read(self._manifest_name(v))
            if m["op"] in ("replace", "restore"):
                files = []
                stats = {}
                parts = {}
                dvs = {}
            removed = set(m.get("removes", []))
            files = [n for n in files if n not in removed]
            for r in removed:
                stats.pop(r, None)
                parts.pop(r, None)
                dvs.pop(r, None)  # a rewritten file's rows are DV-applied
            files.extend(m["adds"])
            stats.update(m.get("stats") or {})
            parts.update(m.get("parts") or {})
            dvs.update(m.get("dvs") or {})
            if m.get("app_id") is not None:
                apps[m["app_id"]] = max(apps.get(m["app_id"], -1), m["app_version"])
            if m.get("schema_json"):
                schema_json = m["schema_json"]
            if m.get("column_mapping") is not None:
                cmap = dict(m["column_mapping"])  # full map, latest wins
            if m.get("properties") is not None:
                props = dict(m["properties"])  # full map, latest wins
            version = v
        if at_version is not None and version != at_version:
            # A future (or otherwise nonexistent) version must raise, not
            # silently resolve to the latest — Delta raises for time travel
            # to a version that does not exist (ADVICE r6).
            raise ValueError(
                f"version {at_version} of {self.path!r} does not exist "
                f"(latest committed version: {version})"
            )
        return _State(
            version, tuple(files), apps, schema_json, stats, parts, dvs, cmap,
            props,
        )

    # -- commit --------------------------------------------------------

    def commit_files(
        self,
        adds: list[str],
        op: str = "append",
        schema_json: str | None = None,
        app_id: str | None = None,
        app_version: int | None = None,
        expected_version: int | None = None,
        removes: list[str] | None = None,
        stats: dict | None = None,
        parts: dict | None = None,
        cdf: list[str] | None = None,
        dvs: dict | None = None,
        column_mapping: dict | None = None,
        properties: dict | None = None,
        staged_cleanup: bool = True,
        max_retries: int = 100,
        conflict_ok=None,
    ) -> int:
        """Commit already-staged data files. Returns the committed (or, for
        an idempotent skip, the current) table version.

        `op="append"` conflicts with nothing and retries until it wins a
        version. `expected_version` (REPLACE/MERGE) additionally requires
        the table version to still be that at the moment the commit wins;
        a concurrent commit in between raises :class:`TxConflictError`
        (staged files are cleaned up). `removes` without
        `expected_version` follows the disjoint-file rule (OPTIMIZE).
        `cdf` names CHANGE-DATA-FEED sidecar files staged alongside the
        commit (Delta's cdc files): not part of table state, but named by
        the manifest so `changes()` can replay the commit's logical
        changes and `vacuum` spares them while their manifest lives.
        `dvs` maps data-file names to DELETION-VECTOR sidecar names
        (staged alongside): the file's cumulative deleted row positions;
        replay makes the newest mapping per file win. `staged_cleanup=
        False` marks the named files as ALREADY-LIVE (RESTORE re-commits
        an old version's files): a failed commit must not delete them.

        `conflict_ok` (with `expected_version`) is the Delta-paper
        LOGICAL conflict re-validation: when the table moved past
        `expected_version`, each intervening manifest is passed to the
        callback; if EVERY one returns True (the winner's file changes
        provably cannot affect this commit's read set — e.g. an append
        whose key range is disjoint from a merge's keys), the commit
        re-targets the new head and proceeds WITHOUT re-deriving —
        disjoint writers stop serializing behind each other. Any False
        (or unreadable manifest) falls back to TxConflictError and the
        caller's re-derive loop. (Delta VLDB-2020 §3.2, the
        WriteSerializable conflict check.) A commit carrying
        `properties` (e.g. an advanced identity watermark) is never
        re-targeted past a manifest that also carries them: the map is
        latest-wins, so committing ours would revert the winner's.
        """
        staged_all = (
            list(adds) + list(cdf or []) + sorted(set((dvs or {}).values()))
            if staged_cleanup
            else []
        )
        try:
            for _ in range(max_retries):
                st = self.state()
                if (
                    app_id is not None
                    and app_version is not None
                    and st.apps.get(app_id, -1) >= app_version
                ):
                    # Replayed epoch (crash-retry): already committed once;
                    # drop this attempt's staged files and report current state.
                    self._delete_staged(staged_all)
                    return st.version
                if expected_version is not None and st.version != expected_version:
                    benign = conflict_ok is not None
                    if benign:
                        for v in range(expected_version + 1, st.version + 1):
                            try:
                                m = self.store.read(self._manifest_name(v))
                            except FileNotFoundError:
                                benign = False
                                break
                            if not conflict_ok(m) or (
                                properties is not None
                                and m.get("properties") is not None
                            ):
                                benign = False
                                break
                    if benign:
                        expected_version = st.version  # re-target, don't re-derive
                    else:
                        self._delete_staged(staged_all)
                        raise TxConflictError(
                            f"{op} derived from v{expected_version} but table is at v{st.version}"
                        )
                if removes is not None:
                    # Disjoint-file conflict rule (Delta's OPTIMIZE semantics):
                    # this commit only conflicts if some file it wants to
                    # remove is no longer live (a concurrent commit removed or
                    # replaced it); concurrent APPENDS land disjoint files and
                    # never conflict, so compaction runs alongside ingestion.
                    missing = set(removes) - set(st.files)
                    if missing:
                        self._delete_staged(staged_all)
                        raise TxConflictError(
                            f"files to remove are no longer live: {sorted(missing)[:3]}..."
                        )
                manifest = {
                    "op": op,
                    "adds": adds,
                    "removes": list(removes or []),
                    "stats": stats or {},
                    "parts": parts or {},
                    "cdf": list(cdf or []),
                    "dvs": dvs or {},
                    "schema_json": schema_json,
                    "app_id": app_id,
                    "app_version": app_version,
                    "ts": time.time(),
                }
                if column_mapping is not None:
                    manifest["column_mapping"] = column_mapping
                if properties is not None:
                    manifest["properties"] = properties
                if self.store.put_if_absent(self._manifest_name(st.version + 1), manifest):
                    return st.version + 1
                # lost the race: someone committed st.version+1 first — re-read
                # state (idempotence/conflict re-checked against it) and retry
        except TxConflictError:
            raise  # staged files already cleaned at the raise site
        except BaseException:
            self._delete_staged(staged_all)  # e.g. manifest serialization failure
            raise
        self._delete_staged(staged_all)
        raise TxConflictError(f"commit lost {max_retries} consecutive version races")

    def _delete_staged(self, names: list[str]) -> None:
        for n in names:
            try:
                os.remove(os.path.join(self.data_path, n))
            except FileNotFoundError:
                pass

    # -- the read-modify-write core ------------------------------------

    def _occ(self, op: str, max_retries: int, attempt) -> int:
        """The OCC re-derive loop every read-modify-write verb runs:
        ``attempt(state)`` derives its output from a fresh state and
        commits it with ``expected_version`` (plus its benign-manifest
        predicate); a :class:`TxConflictError` — a lost race the commit
        could not re-validate as benign — re-derives from the new state.
        Returns the attempt's version."""
        for _ in range(max_retries):
            try:
                return attempt(self.state())
            except TxConflictError:
                continue
        raise TxConflictError(f"{op} lost {max_retries} consecutive OCC races")

    _CDC_KEYS_MAX = 10_000  # above this, the key probe is a [min, max] range

    def _key_probe(self, keyed: DataFrame, key: str):
        """``(key_rows, overlaps)`` for the keyed verbs (merge,
        merge_into, apply_cdc, apply_scd2): the distinct non-null keys of
        `keyed`, and ``overlaps(mn, mx)`` — whether a file whose recorded
        key range is [mn, mx] can hold one of them. Up to `_CDC_KEYS_MAX`
        keys are collected sorted and each range is probed by binary
        search, so a batch touching low and high keys does not rewrite
        every file between; `key_rows` is then a local relation of the
        collected keys (built from their Arrow batch, so every key type
        round-trips exactly), and the rewrite's joins against it re-derive
        nothing. The cap keeps the driver-side collect at micro-batch size
        (a router dim batch, a CDC epoch); past it — a fact-scale merge —
        the probe is the keys' true [min, max], one aggregate, and
        `key_rows` stays the distinct over `keyed`. ``overlaps`` is None
        when `keyed` holds no non-null key."""
        key_rows = keyed.where(F.col(key).isNotNull()).select(key).distinct()
        collected = key_rows.limit(self._CDC_KEYS_MAX + 1).toArrow()
        keys = sorted(collected.column(0).to_pylist())
        if not keys:
            return key_rows, None
        if len(keys) > self._CDC_KEYS_MAX:
            # the collected keys are an arbitrary subset: bound the whole set
            return key_rows, _in_range(*key_rows.agg(F.min(key), F.max(key)).first())
        key_rows = keyed.sparkSession.createDataFrame(collected, key_rows.schema)

        def overlaps(mn, mx) -> bool:
            i = bisect_left(keys, mn)
            return i < len(keys) and keys[i] <= mx

        return key_rows, overlaps

    @staticmethod
    def _classify(st: _State, key: str, overlaps, covers=None) -> tuple[list, list]:
        """Split the live files by their recorded `key` [min, max]:
        files ``overlaps(mn, mx)`` rules out are untouched (in neither
        list); files ``covers(mn, mx)`` proves wholly matched go to
        `drop` (a metadata-only removal); the rest, and every file
        without `key` stats, go to `touched`. Returns (drop, touched)."""
        pkey = st.cmap.get(key, key)  # stats are keyed by physical name
        drop: list[str] = []
        touched: list[str] = []
        for n in st.files:
            mm = st.stats.get(n, {}).get(pkey)
            if mm is not None and not overlaps(mm[0], mm[1]):
                continue
            if mm is not None and covers is not None and covers(mm[0], mm[1]):
                drop.append(n)
            else:
                touched.append(n)
        return drop, touched

    @staticmethod
    def _range_pred(key: str, lo, hi, condition) -> F.Column:
        """`key` in [lo, hi], AND `condition` (a Column or SQL string)."""
        pred = F.col(key).between(F.lit(lo), F.lit(hi))
        if condition is not None:
            pred = pred & (F.expr(condition) if isinstance(condition, str) else condition)
        return pred

    @staticmethod
    def _refuse_identity(df: DataFrame, id_specs: dict, what: str) -> None:
        for c in id_specs:
            if c in df.columns:
                raise ValueError(
                    f"identity column {c!r} is GENERATED ALWAYS: {what} "
                    "must not supply it"
                )

    # -- DataFrame API -------------------------------------------------

    def _stage(
        self,
        df: DataFrame,
        stats_cols: list[str] | None = None,
        partition_by: str | list[str] | None = None,
        bloom_cols: list[str] | None = None,
        cmap: dict | None = None,
    ) -> tuple[list[str], str, dict, dict]:
        """Write df's parts as uniquely-named files under data/ (invisible
        until a manifest names them). With `stats_cols`, per-file [min,max]
        of those columns is read from the parquet FOOTERS just written (no
        data re-scan). With `partition_by` (one column or a list), the
        write runs through Spark's engine-side dynamic partitioning (one
        job regardless of value count) and each file's partition values
        are lifted from the nested Hive-style directory names into the
        manifest — directory layout becomes metadata, which is what lets
        `snapshot()` prune by partition without listing anything. Returns
        (names, schema_json, stats, parts).

        With `cmap` (the table's logical->physical column mapping), the
        frame is written under PHYSICAL names — stats/bloom/partition
        columns translated too, per-file stats recorded under physical
        keys — while the returned schema_json stays LOGICAL (the read
        path translates back). Sidecar stagings (DV/CDF) pass no cmap."""
        logical_schema_json = df.schema.json()
        if cmap:
            for lg, ph in cmap.items():
                if ph != lg and lg in df.columns:
                    df = df.withColumnRenamed(lg, ph)

            def tr(cols):
                return [cmap.get(c, c) for c in cols] if cols else cols

            stats_cols = tr(stats_cols)
            bloom_cols = tr(bloom_cols)
            if isinstance(partition_by, str):
                partition_by = cmap.get(partition_by, partition_by)
            elif partition_by:
                partition_by = tr(list(partition_by))
        prefix = uuid.uuid4().hex
        tmp = os.path.join(self.path, f"_staging-{prefix}")
        names: list[str] = []
        stats: dict = {}
        parts: dict = {}
        pcols = (
            [partition_by] if isinstance(partition_by, str) else list(partition_by or [])
        )
        counter = [0]

        def take(src_dir: str, part_vals: dict | None) -> None:
            for name in sorted(os.listdir(src_dir)):
                if not name.endswith(".parquet"):
                    continue
                tag = f"p{counter[0]:04d}-" if part_vals else ""
                counter[0] += 1
                staged = f"{prefix}-{tag}{name}"
                dest = os.path.join(self.data_path, staged)
                os.replace(os.path.join(src_dir, name), dest)
                names.append(staged)
                # per-file byte size rides the stats dict (manifest-level
                # metadata): the streaming source's max_bytes_per_batch
                # pacing plans batches from it without stat()ing files
                stats.setdefault(staged, {})["__bytes"] = os.path.getsize(dest)
                if part_vals:
                    parts[staged] = dict(part_vals)
                if stats_cols:
                    fs = _footer_minmax(dest, stats_cols)
                    if fs:
                        # merge, don't replace: the __bytes entry above
                        # (and any bloom entries) must survive alongside
                        # footer min/max, or byte-paced streaming falls
                        # back to driver-side stat() calls (ADVICE r8)
                        stats.setdefault(staged, {}).update(fs)
                if bloom_cols:
                    import pyarrow.parquet as pq

                    # Hive-style layout drops partition columns from the
                    # data files, so a bloom there would crash the read —
                    # and is redundant anyway: `parts` metadata gives EXACT
                    # per-file pruning on partition columns (ADVICE r6).
                    tbl = pq.read_table(dest, columns=[
                        c for c in bloom_cols if c in df.columns and c not in pcols
                    ])
                    for c in tbl.column_names:
                        bl = _bloom_build(tbl.column(c).to_pylist())
                        if bl is not None:
                            stats.setdefault(staged, {})[f"bloom:{c}"] = bl

        def walk(src_dir: str, remaining: list[str], acc: dict) -> None:
            if not remaining:
                take(src_dir, acc or None)
                return
            col = remaining[0]
            for entry in sorted(os.listdir(src_dir)):
                if not entry.startswith(f"{col}="):
                    continue
                # Hive-style dir names URL-escape special chars; store the
                # decoded value string in the manifest. NULL partition
                # values land in Hive's default dir — record None so the
                # read path re-attaches a typed NULL, not the marker.
                val = unquote(entry.split("=", 1)[1])
                if val == "__HIVE_DEFAULT_PARTITION__":
                    val = None
                walk(os.path.join(src_dir, entry), remaining[1:], {**acc, col: val})

        if not pcols:
            df.write.mode("overwrite").parquet(tmp)
            take(tmp, None)
        else:
            df.write.mode("overwrite").partitionBy(*pcols).parquet(tmp)
            walk(tmp, pcols, {})
        shutil.rmtree(tmp, ignore_errors=True)
        return names, logical_schema_json, stats, parts

    def append(
        self,
        df: DataFrame,
        app_id: str | None = None,
        app_version: int | None = None,
        stats_cols: list[str] | None = None,
        partition_by: str | list[str] | None = None,
        bloom_cols: list[str] | None = None,
        identity_order_by: list[str] | None = None,
        max_retries: int = 10,
    ) -> int:
        """Transactional append; with (app_id, app_version) it is an
        idempotent streaming-epoch commit (replays skip). `stats_cols`
        records per-file [min,max] footer stats, `partition_by` records
        per-file partition values, and `bloom_cols` records a per-file
        Bloom membership filter (Delta's bloom filter index) — all three
        are manifest-level data skipping. Blooms are what prune POINT
        lookups on columns whose values are hash-distributed across
        files, where every file's [min,max] spans the whole domain and
        range stats can never drop anything. `identity_order_by` picks
        the deterministic allocation mode for identity columns (see
        :meth:`add_identity_column`). A frame with no rows commits its
        version (and epoch) and schema with no data file, so a streaming
        sink's empty epochs leave no schema-only files behind."""
        # Idempotence fast path: skip the stage write entirely on replay.
        if app_id is not None and app_version is not None:
            st = self.state()
            if st.apps.get(app_id, -1) >= app_version:
                return st.version

        def attempt(st: _State) -> int:
            self._check_logical_names(df, st)
            out, props = self._apply_identity(df, st.props, identity_order_by)
            out = self._apply_generated(out)
            self._validate(out)
            names, schema_json, stats, parts = self._stage(
                out, stats_cols, partition_by, bloom_cols, cmap=st.cmap
            )
            empty = {n for n in names if _footer_rows(os.path.join(self.data_path, n)) == 0}
            if empty:  # Spark writes one schema-only file for a frame with no rows
                self._delete_staged(sorted(empty))
                names = [n for n in names if n not in empty]
                stats = {n: s for n, s in stats.items() if n not in empty}
                parts = {n: p for n, p in parts.items() if n not in empty}
            # Appends conflict with nothing EXCEPT an intervening
            # rename/drop (ADVICE r7): the staged files and schema_json
            # carry the logical names and cmap AT DERIVE TIME, and replay
            # is latest-schema-wins, so committing them past a rename
            # would revert it (and write the wrong physical names).
            # Re-derive: the fresh cmap restages correctly. Identity
            # appends also serialize on the watermark their properties
            # carry (commit_files' properties rule).
            return self.commit_files(
                names, "append", schema_json, app_id=app_id,
                app_version=app_version, stats=stats, parts=parts,
                properties=props, expected_version=st.version,
                conflict_ok=lambda m: m.get("column_mapping") is None,
            )

        return self._occ("append", max_retries, attempt)

    def overwrite(
        self,
        df: DataFrame,
        expected_version: int | None = None,
        stats_cols: list[str] | None = None,
        partition_by: str | list[str] | None = None,
    ) -> int:
        """Replace the table contents, serializably: if `expected_version`
        is given (the version the caller derived `df` from), any concurrent
        commit in between fails this replace with TxConflictError. Identity
        columns keep allocating past the old mark (Delta: REPLACE does not
        reset the identity watermark)."""
        st = self.state()
        if expected_version is None:
            expected_version = st.version
        self._check_logical_names(df, st)
        df, props = self._apply_identity(df, st.props, None)
        df = self._apply_generated(df)
        self._validate(df)
        names, schema_json, stats, parts = self._stage(
            df, stats_cols, partition_by, cmap=st.cmap
        )
        return self.commit_files(
            names, "replace", schema_json, expected_version=expected_version,
            stats=stats, parts=parts, properties=props,
        )

    @staticmethod
    def _check_logical_names(df: DataFrame, st: "_State") -> None:
        """Refuse a write frame addressed by PHYSICAL (pre-rename) names:
        after ``rename_column(a, b)`` the data files keep ``a`` but
        writers must supply ``b`` — a frame still carrying ``a`` would
        commit a schema with TWO logical columns sharing one physical
        name and corrupt every later read (ADVICE r7). Loud refusal,
        exactly like Delta rejecting writes against a stale schema."""
        for lg, ph in st.cmap.items():
            if ph != lg and ph in df.columns and lg not in df.columns:
                raise ValueError(
                    f"column {ph!r} was renamed to {lg!r}: write frames "
                    "must use the current logical name"
                )
            if ph != lg and ph in df.columns and lg in df.columns:
                # a frame carrying BOTH names would pass the staleness
                # check above, and _stage's withColumnRenamed(lg, ph)
                # would then stage two columns sharing one physical name
                # — the exact corruption this guard exists to prevent
                # (ADVICE r8)
                raise ValueError(
                    f"write frame carries both {lg!r} and its stale "
                    f"physical name {ph!r}: drop or rename {ph!r}"
                )

    def _read_files(
        self,
        spark: SparkSession,
        files: list[str],
        st: _State,
        merge_schema: bool = False,
        positions: bool = False,
    ) -> DataFrame:
        """One DataFrame over a committed-file subset. Files committed with
        partition values re-attach the partition column (dropped from the
        data files by Hive-style layout) as a typed literal per group, then
        union by name with the flat files — no extra shuffle, N parquet
        scans unioned in one plan.

        Every file is read with the LOG's schema (``st.schema``, the
        latest commit's, under the physical names of ``st.cmap``, all
        fields nullable), as Delta reads every data file with the table
        schema: a column a file lacks reads as null, whichever files the
        subset holds, and building the frame runs no schema-inference
        job. `merge_schema` instead resolves the union of all files'
        schemas from their footers (Delta's mergeSchema read), as does a
        log that records no schema.

        Files carrying a DELETION VECTOR (``st.dvs``) scan with the
        parquet ``_metadata`` row index and broadcast-anti-join their
        sidecar's (file, pos) set, so deleted positions never surface —
        Delta's DV read path. Sidecars are tiny (positions only), so the
        anti-join is a broadcast, never a shuffle of the data side.

        ``positions=True`` is the scan the DV writer classifies positions
        from: every row keeps its ``_dv_file``/``_dv_pos`` columns, NO
        vector is applied (the writer folds prior vectors itself), and
        schemas merge across evolved file sets."""
        if not files:
            if st.schema is None:
                raise ValueError(f"txlog table {self.path!r} has no commits")
            return spark.createDataFrame([], st.schema)
        merge_schema = merge_schema or positions
        if merge_schema:
            reader = spark.read.option("mergeSchema", "true")
        elif st.schema is None:
            reader = spark.read
        else:
            reader = spark.read.schema(StructType([
                StructField(st.cmap.get(f.name, f.name), f.dataType, True, f.metadata)
                for f in st.schema.fields
            ]))

        def parquet(names: list[str]) -> DataFrame:
            return reader.parquet(*[os.path.join(self.data_path, n) for n in names])

        def with_pos(names: list[str]) -> DataFrame:
            g = parquet(names)
            return g.select(
                *g.columns,  # _metadata is hidden: capture the data columns
                F.element_at(
                    F.split(F.col("_metadata.file_path"), "/"), -1
                ).alias("_dv_file"),
                F.col("_metadata.row_index").alias("_dv_pos"),
            )

        def scan(names: list[str]) -> list[DataFrame]:
            """Scans over `names`, DV-applied where a vector is recorded."""
            if positions:
                return [with_pos(names)]
            out: list[DataFrame] = []
            plain = [n for n in names if n not in st.dvs]
            dvd = [n for n in names if n in st.dvs]
            if plain:
                out.append(parquet(plain))
            if dvd:
                side = spark.read.parquet(
                    *sorted({os.path.join(self.data_path, st.dvs[n]) for n in dvd})
                ).select(
                    F.col("file").alias("_dv_file"), F.col("pos").alias("_dv_pos")
                )
                out.append(
                    with_pos(dvd)
                    .join(F.broadcast(side), ["_dv_file", "_dv_pos"], "left_anti")
                    .drop("_dv_file", "_dv_pos")
                )
            return out

        flat = [n for n in files if n not in st.parts]
        groups: dict[tuple, list[str]] = {}
        for n in files:
            pv = st.parts.get(n)
            if pv is not None:
                groups.setdefault(tuple(sorted(pv.items())), []).append(n)
        dfs = []
        if flat:
            dfs.extend(scan(flat))
        for key, names in sorted(groups.items(), key=repr):
            for g in scan(names):
                for col, val in key:
                    g = g.withColumn(col, F.lit(val).cast(st.schema[col].dataType))
                dfs.append(g)
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d, allowMissingColumns=merge_schema)
        return self._logical(out, st, ("_dv_file", "_dv_pos") if positions else ())

    @staticmethod
    def _logical(df: DataFrame, st: _State, extra: tuple = ()) -> DataFrame:
        """COLUMN MAPPING on read: files (and CDF sidecars) carry stable
        physical names; present the LOGICAL schema — renames applied,
        dropped columns projected away, `extra` columns kept — the read
        half of metadata-only RENAME/DROP COLUMN."""
        for lg, ph in st.cmap.items():
            if ph != lg and ph in df.columns and lg not in df.columns:
                df = df.withColumnRenamed(ph, lg)
        if st.schema is not None:
            keep = [c for c in st.schema.fieldNames() if c in df.columns]
            keep += [c for c in extra if c in df.columns]
            if set(df.columns) - set(keep):  # e.g. a dropped column
                df = df.select(*keep)
        return df

    def snapshot(
        self,
        spark: SparkSession,
        version: int | None = None,
        prune: tuple | None = None,
        partitions: dict | None = None,
        bloom: tuple | None = None,
        merge_schema: bool = False,
    ) -> DataFrame:
        """The table as of `version` (default: now). One log listing fixes
        the file list; later commits are invisible to the returned frame.

        Manifest-level data skipping — files are dropped from the listing
        before Spark ever sees them (at 100 TB this, not the parquet
        footer check, is what bounds a selective query's task count):

        - `prune=(col, lo, hi)` — or a LIST of such triples, ANDed —
          drops files whose recorded [min,max] for `col` cannot
          intersect [lo, hi];
        - `partitions={col: [v1, v2]}`: drop files whose recorded
          partition value for `col` is not in the list (values compared as
          their string form, the manifest encoding);
        - `bloom=(col, [v1, v2])` — a POINT-lookup prune: drop files
          whose recorded Bloom filter for `col` (committed with
          ``bloom_cols``) proves NONE of the values can be present.
          This is what skips files when the column is hash-distributed
          (every file's [min,max] spans the domain); a false positive
          keeps a file needlessly (fpp ~1%), never drops a true hit.

        Files committed without the relevant metadata are conservatively
        kept; the caller still applies the row-level filter.

        `merge_schema=True` enables ADDITIVE schema evolution on read:
        the scan resolves the union of all committed files' schemas, and
        columns a file predates read as null — appends may add columns
        without rewriting history (Delta's mergeSchema)."""
        st = self.state(version)
        files = list(st.files)
        if prune is not None and files:
            preds = [prune] if isinstance(prune, tuple) else list(prune)
            for col, lo, hi in preds:
                pcol = st.cmap.get(col, col)  # stats keyed by physical name
                files = [
                    n for n in files
                    if (mm := st.stats.get(n, {}).get(pcol)) is None
                    or (mm[0] <= hi and mm[1] >= lo)
                ]
        if partitions and files:
            for col, vals in partitions.items():
                allowed = {str(v) for v in vals}
                files = [
                    n for n in files
                    if (pv := st.parts.get(n, {}).get(col)) is None or pv in allowed
                ]
        if bloom is not None and files:
            col, vals = bloom
            pcol = st.cmap.get(col, col)
            files = [
                n for n in files
                if (bl := st.stats.get(n, {}).get(f"bloom:{pcol}")) is None
                or any(_bloom_might_contain(bl, v) for v in vals)
            ]
        return self._read_files(spark, files, st, merge_schema=merge_schema)

    def merge(
        self,
        spark: SparkSession,
        updates: DataFrame,
        key: str,
        max_retries: int = 10,
        stats_cols: list[str] | None = None,
    ) -> int:
        """Type-1 upsert (MERGE) as lock-free OCC read-modify-write with
        FILE-LEVEL rewrite — the upsert-only case of :meth:`apply_cdc`'s
        keyed-upsert core: only data files whose recorded [min, max] for
        `key` holds one of the update keys (:meth:`_key_probe`) are
        read (with the log's schema: no inference job), anti-joined
        against the update keys the probe holds, and rewritten; other
        files survive the commit untouched (same names in the manifest)
        — O(touched bytes) per merge, not O(table), which is what lets a
        narrow-key upsert land on a fact-scale table. Files committed
        without `key` stats are conservatively rewritten. Update rows
        win on key equality (caller supplies one row per key). The first
        commit to a table without files is a plain ``overwrite``.

        Serializable with LOGICAL conflict re-validation (Delta VLDB-2020
        §3.2): the commit carries ``expected_version`` plus a benign-
        manifest predicate, so a concurrent commit whose file changes
        provably cannot contain the merge's keys (an append to a disjoint
        key range / partition, a constraint registration) does NOT force
        a re-derive — the merge re-targets the new head and commits in
        the same attempt. Only a winner that touched the merge's read
        set (removed/DV'd a touched file, added a file whose key range
        intersects, or rewrote the table) raises, and the merge then
        re-derives from fresh state and retries — concurrent mergers
        serialize without a lock, the multi-writer form of the
        reference's dim upsert (DimSinkFunction.java:17-89).

        Pass `stats_cols=[key]` on every append AND merge to keep the
        file-level pruning effective across the table's life."""
        updates = self._apply_generated(updates)
        self._validate(updates)
        probe = cache(lambda: self._key_probe(updates, key))

        def attempt(st: _State) -> int:
            if not st.files:
                return self.overwrite(
                    updates, expected_version=st.version,
                    stats_cols=stats_cols if stats_cols is not None else [key],
                )
            key_rows, overlaps = probe()
            if overlaps is None:  # no update key: nothing to merge
                return st.version

            def cdf_rows(base: DataFrame | None) -> DataFrame | None:
                # Delta's CDF on MERGE: pre/post-image for keys that were
                # present, plain inserts for new keys — typed in a sidecar.
                if not self._cdf_enabled(st):
                    return None
                if base is None:
                    return updates.withColumn("_change_type", F.lit("insert")).coalesce(1)
                base_keys = base.select(key).distinct()
                pre = base.join(key_rows, key, "left_semi").withColumn(
                    "_change_type", F.lit("update_preimage")
                )
                post = updates.join(base_keys, key, "left_semi").withColumn(
                    "_change_type", F.lit("update_postimage")
                )
                ins = updates.join(base_keys, key, "left_anti").withColumn(
                    "_change_type", F.lit("insert")
                )
                return pre.unionByName(post).unionByName(ins).coalesce(1)

            return self._upsert(
                spark, st, "merge", updates, key, key_rows, overlaps, stats_cols, cdf_rows
            )

        return self._occ("merge", max_retries, attempt)

    def _upsert(
        self,
        spark: SparkSession,
        st: _State,
        op: str,
        upserts: DataFrame,
        key: str,
        key_rows: DataFrame,
        overlaps,
        stats_cols: list[str] | None,
        cdf_rows,
        app_id: str | None = None,
        app_version: int | None = None,
    ) -> int:
        """The keyed-upsert core of :meth:`merge` and :meth:`apply_cdc`,
        one OCC attempt against `st`: the files the key probe cannot rule
        out are read, their rows whose key is in `key_rows` (the batch's
        upserted AND deleted keys) are dropped, `upserts` are unioned in,
        and the result replaces exactly those files — untouched files
        survive by name. Identity columns keep an existing key's id and
        allocate past the watermark for new keys. ``cdf_rows(base)``
        (``base`` is None when no file was touched) returns the rows to
        stage as the commit's change-feed sidecar, or None. The commit
        re-validates intervening manifests against the touched files and
        the batch's keys."""
        id_specs = self._identity_specs(st.props)
        self._refuse_identity(upserts, id_specs, f"{op} rows")
        _, touched = self._classify(st, key, overlaps)
        base = self._read_files(spark, touched, st) if touched else None
        merged = upserts
        if base is not None:
            id_cols = [c for c in sorted(id_specs) if c in base.columns]
            if id_cols:
                # surrogate-key continuity: an upsert of an existing key
                # keeps that key's current id (broadcast of the touched
                # keys' id map — bounded by the batch). min(id) per key:
                # duplicate keys from plain appends must not fan an
                # upsert out into one row per id (ADVICE r8).
                ids = (
                    base.join(F.broadcast(key_rows), key, "left_semi")
                    .groupBy(key)
                    .agg(*[F.min(c).alias(c) for c in id_cols])
                )
                merged = merged.join(F.broadcast(ids), key, "left")
            merged = base.join(key_rows, key, "left_anti").unionByName(
                merged, allowMissingColumns=True
            )
        merged, id_props = self._apply_identity(merged, st.props, None, fill_nulls=True)
        # Rewrite volume ~= touched volume: keep file granularity stable
        # (no per-commit small-file explosion from shuffle partitioning);
        # a merge that touches no file (new keys only) lands one file.
        if touched or op == "merge":
            merged = merged.coalesce(max(1, len(touched)))
        names, schema_json, stats, parts = self._stage(
            merged, stats_cols if stats_cols is not None else [key], cmap=st.cmap
        )
        cdf = cdf_rows(base)
        cdf_names = self._stage(cdf)[0] if cdf is not None else None
        return self.commit_files(
            names, op=op, schema_json=schema_json, removes=touched,
            expected_version=st.version, stats=stats, parts=parts,
            cdf=cdf_names, app_id=app_id, app_version=app_version,
            properties=id_props,
            conflict_ok=self._disjoint_range_ok(
                set(touched), st.cmap.get(key, key), hits=overlaps
            ),
        )

    @staticmethod
    def _disjoint_range_ok(touched: set, key: str | None = None, lo=None, hi=None, hits=None):
        """Benign-manifest predicate of the read-modify-write verbs: an
        intervening commit cannot affect a write derived over `touched`
        iff it (a) is not a table rewrite, (b) changed no column mapping
        (a rename/drop landed after the derive: the staged files and
        schema_json carry the OLD logical names, and replay is
        latest-schema-wins), (c) neither removed nor attached a deletion
        vector to any touched file — a DV'd file rewritten from its
        pre-DV read would resurrect the concurrently-deleted rows
        (ADVICE r7) — and, with `key`, (d) every file it added carries
        `key` stats proving it holds none of the write's keys: via the
        key probe `hits` when given, else the range [lo, hi].

        With `key` it serves merge/cdc/scd2/delete_to_dv, whose read set
        includes the ABSENCE of keys. Without it, it serves UPDATE /
        DELETE / OPTIMIZE — verbs that only modify rows they READ — so a
        concurrent APPEND is benign whatever its keys: the result is as
        if the rewrite committed first and the append after (Delta's
        WriteSerializable rule). Anything unprovable is NOT benign
        (falls back to re-derive), so correctness never leans on the
        stats being present."""
        overlaps = hits if hits is not None else _in_range(lo, hi)

        def ok(m: dict) -> bool:
            if m["op"] in ("replace", "restore"):
                return False
            if m.get("column_mapping") is not None:
                return False
            if touched & set(m.get("removes") or []):
                return False
            if touched & set((m.get("dvs") or {}).keys()):
                return False
            if key is None:
                return True
            for n in m.get("adds") or []:
                mm = (m.get("stats") or {}).get(n, {}).get(key)
                if mm is None or overlaps(mm[0], mm[1]):
                    return False
            return True

        return ok

    def merge_into(
        self,
        spark: SparkSession,
        source: DataFrame,
        key: str,
        when_matched: list[tuple] | None = None,
        when_not_matched: list[tuple] | None = None,
        when_not_matched_by_source: list[tuple] | None = None,
        max_retries: int = 10,
        stats_cols: list[str] | None = None,
        identity_order_by: list[str] | None = None,
        schema_evolution: bool = False,
    ) -> int:
        """Full multi-clause MERGE INTO (Delta's MERGE, public docs/SQL):

        - ``when_matched``: ordered ``("update", cond, {col: expr})`` /
          ``("delete", cond)`` clauses; conditions and set-expressions are
          SQL strings over the aliases ``t`` (target row) and ``s``
          (source row), e.g. ``"t.qty + s.qty"``. ``cond=None`` means
          always. FIRST matching clause wins (Delta clause-order
          semantics); a matched row no clause accepts carries unchanged.
        - ``when_not_matched``: ``("insert", cond)`` clauses (INSERT *:
          the source must carry every target column); an unmatched source
          row no clause accepts is dropped.
        - ``when_not_matched_by_source``: ``("update", cond, {col: expr})``
          / ``("delete", cond)`` over target-only rows (``t.`` only).

        SCHEMA EVOLUTION (Delta's merge autoMerge): with
        ``schema_evolution=True``, source columns absent from the target
        schema EVOLVE it in the same commit — inserted rows carry them,
        matched/carried rows serve NULL, and files the merge did not
        touch read null-filled afterwards via
        ``snapshot(merge_schema=True)`` (additive evolution on read).
        Evolution is insert-driven only: UPDATE clauses still cannot
        assign columns outside the current schema. Without the flag,
        extra source columns are ignored (Delta's default).

        IDENTITY COLUMNS (Delta allocates identity on MERGE INSERT too):
        a source carrying a registered identity column, or an UPDATE
        clause assigning one, is refused (GENERATED ALWAYS); NOT-MATCHED
        inserts get fresh ids past the watermark (``identity_order_by``
        picks the deterministic allocation mode, as on append), matched/
        carried rows keep theirs, and the advanced mark commits
        atomically with the data. CDF insert images stage BEFORE
        allocation, so their identity column is NULL in the feed — the
        committed snapshot carries the allocated values (documented
        divergence; the feed's key/payload columns are complete).

        FILE-LEVEL like :meth:`merge`: only files whose [min, max] for
        `key` holds a source key (the same key probe) are read and
        rewritten — unless ``when_not_matched_by_source`` is given,
        which (exactly as in Delta) forces a full-table read because ANY
        target row may be affected. Conflict rule: without NOT-MATCHED-BY-SOURCE clauses the
        benign-manifest re-validation applies (disjoint appends commit
        alongside); with them the read set is the whole table, so any
        intervening commit forces a re-derive. Updates evaluate against
        the PRE-merge target row; the result is constraint-checked and
        generated-column-checked. With CDF enabled, update pre/post
        images, deleted rows, and inserts are staged typed, same as
        update()/delete()/merge().

        Reference analog: the keyed dim upsert (DimSinkFunction.java:17-89)
        is the degenerate form (unconditional matched-update +
        not-matched-insert) — :meth:`merge` keeps that fast path; this is
        the general verb."""
        when_matched = list(when_matched or [])
        when_not_matched = list(when_not_matched or [])
        when_not_matched_by_source = list(when_not_matched_by_source or [])
        if not (when_matched or when_not_matched or when_not_matched_by_source):
            raise ValueError("merge_into requires at least one WHEN clause")
        for cl in when_matched + when_not_matched_by_source:
            if cl[0] not in ("update", "delete"):
                raise ValueError(f"bad clause verb {cl[0]!r}")
            if cl[0] == "update" and (len(cl) < 3 or not cl[2]):
                raise ValueError("update clause needs {col: expr} assignments")
        for cl in when_not_matched:
            if cl[0] != "insert":
                raise ValueError(f"NOT MATCHED supports insert, got {cl[0]!r}")
        full_scan = bool(when_not_matched_by_source)
        probe = cache(lambda: self._key_probe(source, key))

        def attempt(st: _State) -> int:
            if st.schema is None:
                # First commit: an empty target — every source row is
                # NOT MATCHED. Delta allows MERGE as the initial load.
                tcols = list(source.columns)
                base = spark.createDataFrame([], source.schema)
            else:
                tcols = st.schema.fieldNames()
                base = None  # read after pruning below
            id_specs = self._identity_specs(st.props)
            self._refuse_identity(source, id_specs, "merge sources")
            for cl in when_matched + when_not_matched_by_source:
                if cl[0] == "update":
                    unknown = set(cl[2]) - set(tcols)
                    if unknown:
                        raise ValueError(
                            f"UPDATE assigns unknown columns: {sorted(unknown)}"
                        )
                    if bad := set(cl[2]) & set(id_specs):
                        raise ValueError(
                            f"identity columns are GENERATED ALWAYS: UPDATE "
                            f"must not assign {sorted(bad)}"
                        )
            if when_not_matched and (
                missing := set(tcols) - set(source.columns) - set(id_specs)
            ):
                raise ValueError(
                    f"INSERT * needs every target column in the source; "
                    f"missing {sorted(missing)}"
                )
            new_cols: list[str] = []
            src_types: dict[str, str] = {}
            if schema_evolution and when_not_matched:
                new_cols = [c for c in source.columns if c not in tcols]
                src_types = dict(source.dtypes)
            out_cols = tcols + new_cols
            _, overlaps = probe()
            if overlaps is None and not full_scan:
                return st.version  # empty source can only touch via NMBS
            touched = list(st.files) if full_scan else self._classify(st, key, overlaps)[1]
            if base is None:
                base = self._read_files(spark, touched, st)
            # Delta's nondeterministic-MERGE guard (ADVICE r7): several
            # source rows matching ONE target key would each independently
            # carry/update/insert the full_outer-joined target row —
            # silent target duplication. Delta raises 'multiple source
            # rows matched'; so do we. One small job: duplicate source
            # keys (tiny by construction) broadcast-semi-probed against
            # the pruned target — any file holding a matching target key
            # intersects the source key range, so `base` suffices.
            dup_keys = (
                source.where(F.col(key).isNotNull())
                .groupBy(key).agg(F.count(F.lit(1)).alias("__n"))
                .where(F.col("__n") > 1)
                .select(key)
            )
            dup_hit = (
                base.select(key)
                .join(F.broadcast(dup_keys), key, "left_semi")
                .limit(1)
                .collect()
            )
            if dup_hit:
                raise ValueError(
                    f"MERGE INTO: multiple source rows match target key "
                    f"{dup_hit[0][0]!r} — nondeterministic merge refused "
                    "(Delta's 'multiple source rows matched' semantics)"
                )
            j = (
                base.withColumn("__tp", F.lit(True)).alias("t")
                .join(
                    source.withColumn("__sp", F.lit(True)).alias("s"),
                    F.expr(f"t.{key} = s.{key}"),
                    "full_outer",
                )
            )

            def cond(c) -> F.Column:
                return F.expr(c).eqNullSafe(F.lit(True)) if c is not None else F.lit(True)

            def chain(clauses: list[tuple], prefix: str, default: str) -> F.Column:
                out = F.lit(default)
                for i, cl in reversed(list(enumerate(clauses))):
                    out = F.when(cond(cl[1]), F.lit(f"{prefix}{i}")).otherwise(out)
                return out

            action = (
                F.when(
                    F.col("t.__tp").isNotNull() & F.col("s.__sp").isNotNull(),
                    chain(when_matched, "m", "carry"),
                )
                .when(F.col("s.__sp").isNotNull(), chain(when_not_matched, "i", "drop"))
                .otherwise(chain(when_not_matched_by_source, "n", "carry"))
            )
            upd_acts = {
                f"{p}{i}": cl[2]
                for p, cls in (("m", when_matched), ("n", when_not_matched_by_source))
                for i, cl in enumerate(cls)
                if cl[0] == "update"
            }
            del_acts = {
                f"{p}{i}"
                for p, cls in (("m", when_matched), ("n", when_not_matched_by_source))
                for i, cl in enumerate(cls)
                if cl[0] == "delete"
            }
            ins_acts = {f"i{i}" for i in range(len(when_not_matched))}

            def value(c: str) -> F.Column:
                # schema-evolved columns have no target side: NULL unless
                # an insert clause fires (typed from the source)
                v = (
                    F.lit(None).cast(src_types[c]) if c in new_cols
                    else F.col(f"t.{c}")
                )
                for act, sets in upd_acts.items():
                    if c in sets:
                        v = F.when(action == act, F.expr(sets[c])).otherwise(v)
                for act in ins_acts:
                    # inserted rows leave identity columns NULL here; the
                    # fill_nulls allocation below issues their ids
                    ins_v = (
                        F.lit(None).cast("long") if c in id_specs
                        else F.col(f"s.{c}")
                    )
                    v = F.when(action == act, ins_v).otherwise(v)
                return v.alias(c)

            keep = F.lit(True)
            for a in del_acts | {"drop"}:
                keep = keep & (action != a)
            merged = j.where(keep).select(*[value(c) for c in out_cols])
            merged, id_props = self._apply_identity(
                merged, st.props, identity_order_by, fill_nulls=True
            )
            merged = self._apply_generated(merged)
            self._validate(merged)
            cdf_names: list[str] | None = None
            if self._cdf_enabled(st):
                upd = F.lit(False)
                for a in upd_acts:
                    upd = upd | (action == a)
                dele = F.lit(False)
                for a in del_acts:
                    dele = dele | (action == a)
                ins = F.lit(False)
                for a in ins_acts:
                    ins = ins | (action == a)
                t_row = [
                    (
                        F.lit(None).cast(src_types[c]) if c in new_cols
                        else F.col(f"t.{c}")
                    ).alias(c)
                    for c in out_cols
                ]
                pre = j.where(upd).select(*t_row).withColumn(
                    "_change_type", F.lit("update_preimage")
                )
                post = j.where(upd).select(*[value(c) for c in out_cols]).withColumn(
                    "_change_type", F.lit("update_postimage")
                )
                deleted = j.where(dele).select(*t_row).withColumn(
                    "_change_type", F.lit("delete")
                )
                inserted = j.where(ins).select(*[value(c) for c in out_cols]).withColumn(
                    "_change_type", F.lit("insert")
                )
                cdf_rows = pre.unionByName(post).unionByName(deleted).unionByName(inserted)
                cdf_names, _, _, _ = self._stage(cdf_rows.coalesce(1))
            merged = merged.coalesce(max(1, len(touched)))
            sc = stats_cols if stats_cols is not None else [key]
            adds, schema_json, stats, parts = self._stage(merged, sc, cmap=st.cmap)
            return self.commit_files(
                adds, op="merge_into", schema_json=schema_json,
                removes=touched, expected_version=st.version,
                stats=stats, parts=parts, cdf=cdf_names,
                properties=id_props,
                conflict_ok=None if full_scan else self._disjoint_range_ok(
                    set(touched), st.cmap.get(key, key), hits=overlaps
                ),
            )

        return self._occ("merge_into", max_retries, attempt)

    def delete(
        self,
        spark: SparkSession,
        key: str,
        lo,
        hi,
        condition=None,
        max_retries: int = 10,
        stats_cols: list[str] | None = None,
    ) -> int:
        """DELETE rows whose `key` lies in [lo, hi] (AND `condition`, if
        given — a Column or SQL string), with FILE-LEVEL granularity
        (Delta's DELETE): per the manifest's recorded [min, max] for `key`,

        - files DISJOINT from [lo, hi] survive untouched (same names);
        - files fully INSIDE [lo, hi] are dropped as pure metadata when
          the delete is the bare range (no `condition`) — no read, no
          rewrite, O(0) data bytes: the retention/purge fast path;
        - everything else (partial overlap, missing stats, or a
          `condition` that needs row inspection) is rewritten minus the
          matching rows.

        Rows where the predicate is NULL (e.g. NULL key) are KEPT — SQL
        DELETE removes only rows where the predicate is TRUE. Rewritten
        files re-record stats for `stats_cols` (default [key]); partition
        values, like in :meth:`merge`, are not re-recorded on rewrite
        (partition pruning keeps such files conservatively).

        Conflict rule: disjoint-file (WriteSerializable, Delta's default
        isolation) — concurrent APPENDS never conflict and their rows are
        NOT deleted (they serialize after this delete); a concurrent
        commit that removed a file this delete targets loses it the race,
        and the delete re-derives from fresh state and retries. A
        range-free full-predicate delete is `overwrite(snapshot.where(~p),
        expected_version=...)` — deliberately not this method, which
        exists for the stats-prunable case that survives fact scale."""
        pred = self._range_pred(key, lo, hi, condition)

        def attempt(st: _State) -> int:
            drop, rewrite = self._classify(
                st, key, _in_range(lo, hi),
                covers=None if condition is not None
                else lambda mn, mx: lo <= mn and mx <= hi,
            )
            if not drop and not rewrite:
                return st.version
            adds: list[str] = []
            schema_json, stats, parts = st.schema_json, {}, {}
            cdf_names: list[str] | None = None
            if self._cdf_enabled(st):
                # Delta's CDF on DELETE: the deleted rows, typed. Note the
                # metadata-drop fast path must READ its files for this —
                # the documented cost of enabling CDF (Delta pays it too).
                cdf_names = self._stage(
                    self._deleted(spark, drop + rewrite, st, pred).coalesce(1)
                )[0]
            if rewrite:
                kept = self._read_files(spark, rewrite, st).where(
                    ~pred.eqNullSafe(F.lit(True))
                )
                # Rewrite volume ~= touched volume (same rule as merge).
                kept = kept.coalesce(max(1, len(rewrite)))
                sc = stats_cols if stats_cols is not None else [key]
                adds, schema_json, stats, parts = self._stage(kept, sc, cmap=st.cmap)
            # Appends are benign and their rows are NOT deleted (they
            # serialize after this delete); a concurrent delete_to_dv on
            # a rewritten file is not (its rows would resurrect).
            return self.commit_files(
                adds, op="delete", schema_json=schema_json,
                removes=drop + rewrite, stats=stats, parts=parts,
                cdf=cdf_names, expected_version=st.version,
                conflict_ok=self._disjoint_range_ok(set(drop) | set(rewrite)),
            )

        return self._occ("delete", max_retries, attempt)

    def _deleted(
        self, spark: SparkSession, files: list[str], st: _State, pred: F.Column
    ) -> DataFrame:
        """The change-feed rows of a delete: `files`' rows `pred` holds
        for, typed ``delete``."""
        return (
            self._read_files(spark, files, st)
            .where(pred.eqNullSafe(F.lit(True)))
            .withColumn("_change_type", F.lit("delete"))
        )

    def delete_to_dv(
        self,
        spark: SparkSession,
        key: str,
        lo,
        hi,
        condition=None,
        max_retries: int = 10,
    ) -> int:
        """DELETE via DELETION VECTORS (Delta's DV write path, public
        docs): rows whose `key` lies in [lo, hi] (AND `condition`, if
        given) are marked deleted by POSITION in a tiny sidecar — the
        data files themselves are never rewritten. The rewrite-based
        :meth:`delete` moves O(touched bytes); this moves O(matched
        rows * ~12 bytes), which is what makes a narrow predicate delete
        (GDPR erasure, bad-batch retraction) on a fact-scale table an
        eventless commit. The read path (:meth:`_read_files`) anti-joins
        the sidecar broadcast-side, so snapshots pay one hash probe per
        DV'd file, and :meth:`optimize`/:meth:`merge` naturally fold DVs
        away when they eventually rewrite the file.

        File classification mirrors :meth:`delete`: key-range-disjoint
        files untouched; fully-covered files (bare range, no condition)
        drop as pure metadata — cheaper than a DV of every row; the rest
        get a sidecar holding their matched positions, CUMULATIVE with
        any prior DV (a newer vector replaces the older wholesale, so
        the old positions are carried forward). Positions come from the
        same parquet ``_metadata.row_index`` the read path keys on.
        Predicate semantics match delete(): NULL predicate keeps the row.

        Serializable with logical re-validation: the commit carries
        ``expected_version`` plus the disjoint-range predicate, so a
        racing append outside [lo, hi] commits both writers first-try;
        anything touching the classified files re-derives."""
        pred = self._range_pred(key, lo, hi, condition)

        def attempt(st: _State) -> int:
            # A wholly-matched file drops as metadata: a prior DV rides
            # out with the removed file — same outcome, cheaper than a DV
            # of every remaining position.
            drop, dv_targets = self._classify(
                st, key, _in_range(lo, hi),
                covers=None if condition is not None
                else lambda mn, mx: lo <= mn and mx <= hi,
            )
            if not drop and not dv_targets:
                return st.version
            dvs: dict = {}
            if dv_targets:
                matched = self._read_files(spark, dv_targets, st, positions=True).where(
                    pred.eqNullSafe(F.lit(True))
                )
                prior = sorted({st.dvs[n] for n in dv_targets if n in st.dvs})
                carried = None
                if prior:
                    carried = spark.read.parquet(
                        *[os.path.join(self.data_path, s) for s in prior]
                    ).where(F.col("file").isin(dv_targets))
                    # rows a prior vector already deleted are not NEW
                    # deletions: they must not re-enter the change feed
                    matched = matched.join(
                        F.broadcast(
                            carried.select(
                                F.col("file").alias("_dv_file"),
                                F.col("pos").alias("_dv_pos"),
                            )
                        ),
                        ["_dv_file", "_dv_pos"],
                        "left_anti",
                    )
                hits = matched.select(
                    F.col("_dv_file").alias("file"), F.col("_dv_pos").alias("pos")
                )
                if carried is not None:
                    hits = hits.unionByName(carried).distinct()
                # one shared sidecar per commit: the read path keys the
                # anti-join on (file, pos), so sharing is free
                hit_files = {r[0] for r in hits.select("file").distinct().collect()}
                if hit_files:
                    sidecar = self._stage(hits.coalesce(1))[0][0]
                    dvs = {n: sidecar for n in sorted(hit_files)}
            if not drop and not dvs:
                return st.version  # predicate matched nothing
            cdf_names: list[str] | None = None
            if self._cdf_enabled(st):
                # the dropped files are read once for the feed — the
                # documented cost of CDF
                gone = [self._deleted(spark, drop, st, pred)] if drop else []
                if dv_targets:
                    gone.append(
                        matched.drop("_dv_file", "_dv_pos")
                        .withColumn("_change_type", F.lit("delete"))
                    )
                cdf_names = self._stage(reduce(DataFrame.unionByName, gone).coalesce(1))[0]
            return self.commit_files(
                [], op="delete", schema_json=st.schema_json,
                removes=drop, dvs=dvs, cdf=cdf_names,
                expected_version=st.version,
                conflict_ok=self._disjoint_range_ok(
                    set(drop) | set(dv_targets), st.cmap.get(key, key), lo, hi
                ),
            )

        return self._occ("delete_to_dv", max_retries, attempt)

    def update(
        self,
        spark: SparkSession,
        key: str,
        lo,
        hi,
        set_exprs: dict,
        condition=None,
        max_retries: int = 10,
        stats_cols: list[str] | None = None,
    ) -> int:
        """UPDATE rows whose `key` lies in [lo, hi] (AND `condition`, if
        given), assigning each column in `set_exprs` its expression (a
        Column or SQL string, evaluated against the PRE-update row — so
        ``{"price": "price * 2"}`` doubles, and multiple assignments all
        see the old values, SQL UPDATE semantics). File-level granularity
        (Delta's UPDATE, public docs): files whose recorded [min, max]
        for `key` cannot intersect [lo, hi] survive the commit untouched
        (same manifest names — zero bytes moved); intersecting files (or
        files with no `key` stats) are rewritten with matching rows
        transformed and non-matching rows byte-carried. Rows where the
        predicate is NULL are NOT updated (SQL: only predicate-TRUE rows
        change). Assigning a column not in the schema raises; CHECK
        constraints validate the rewritten portion, so an update cannot
        smuggle in a violating value.

        Conflict rule: disjoint-file (WriteSerializable) — concurrent
        appends never conflict and their rows are NOT updated (they
        serialize after); a concurrent commit that removed a targeted
        file wins it, and the update re-derives and retries. At fact
        scale a key-clustered update therefore rewrites only the files
        that actually hold the window — O(touched bytes), not O(table).
        Reference analog: dim upserts (DimSinkFunction.java:17-89) are
        key-targeted UPDATEs; this is the multi-writer table-format form."""
        def attempt(st: _State) -> int:
            if not st.files:
                return st.version
            unknown = set(set_exprs) - set(st.schema.fieldNames())
            if unknown:
                raise ValueError(f"UPDATE assigns unknown columns: {sorted(unknown)}")
            _, rewrite = self._classify(st, key, _in_range(lo, hi))
            if not rewrite:
                return st.version
            matched = self._range_pred(key, lo, hi, condition).eqNullSafe(F.lit(True))
            assigned = {
                c: (F.expr(e) if isinstance(e, str) else e) for c, e in set_exprs.items()
            }
            base = self._read_files(spark, rewrite, st)
            updated = base.select(
                *[
                    F.when(matched, assigned[c]).otherwise(F.col(c)).alias(c)
                    if c in assigned
                    else F.col(c)
                    for c in base.columns
                ]
            )
            self._validate(updated)
            cdf_names: list[str] | None = None
            if self._cdf_enabled(st):
                # Delta's CDF on UPDATE: pre- and post-image of exactly
                # the rows the predicate matched, typed in a sidecar.
                changed = base.where(matched)
                pre = changed.withColumn(
                    "_change_type", F.lit("update_preimage")
                )
                post = changed.select(
                    *[
                        assigned[c].alias(c) if c in assigned else F.col(c)
                        for c in base.columns
                    ]
                ).withColumn("_change_type", F.lit("update_postimage"))
                cdf_names = self._stage(pre.unionByName(post).coalesce(1))[0]
            # Rewrite volume ~= touched volume (same rule as merge/delete).
            updated = updated.coalesce(max(1, len(rewrite)))
            sc = stats_cols if stats_cols is not None else [key]
            adds, schema_json, stats, parts = self._stage(updated, sc, cmap=st.cmap)
            return self.commit_files(
                adds, op="update", schema_json=schema_json,
                removes=rewrite, stats=stats, parts=parts, cdf=cdf_names,
                expected_version=st.version,
                conflict_ok=self._disjoint_range_ok(set(rewrite)),
            )

        return self._occ("update", max_retries, attempt)

    def restore(self, version: int, expected_version: int | None = None) -> int:
        """RESTORE TABLE TO VERSION (Delta's RESTORE, public docs): commit
        the target version's exact file list — stats, partition values,
        deletion vectors, and schema included — as a NEW version. History
        is preserved (the interim versions still time-travel; this is an
        append to the log, not a rollback), data files are RE-REFERENCED,
        never copied, and app high-water marks are untouched (an
        exactly-once sink's epoch ledger must survive a restore, same as
        Delta's txn actions). Raises :class:`TxVersionTruncatedError` /
        ``ValueError`` when the target predates the oldest
        reconstructable state or never existed; a restore whose files
        vacuum already collected fails loudly at first SCAN (the
        retention contract, see :meth:`vacuum`). Serializable: any
        commit landing after `expected_version` (default: now) fails it
        with :class:`TxConflictError`."""
        old = self.state(at_version=version)
        cur = self.state()
        if expected_version is None:
            expected_version = cur.version
        # Table properties restore with the files (Delta RESTORE) — with
        # ONE exception: identity watermarks are MONOTONE across restore
        # (Delta's documented behavior: RESTORE does not rewind the
        # identity high-water mark, so already-issued ids are never
        # re-issued by post-restore appends). For each identity column,
        # keep whichever mark is FURTHER along its step direction; a
        # column registered after the target version keeps its current
        # registration (dropping it would orphan the allocated ids).
        props = dict(old.props)
        for k, v in cur.props.items():
            if not k.startswith(self._IDENTITY_PREFIX):
                continue
            curspec = json.loads(v)
            if k not in props:
                props[k] = v
                continue
            oldspec = json.loads(props[k])
            oh, ch = oldspec.get("high"), curspec.get("high")
            if oh is None:
                high = ch
            elif ch is None:
                high = oh
            else:
                high = max(oh, ch) if curspec["step"] > 0 else min(oh, ch)
            props[k] = json.dumps({**oldspec, "high": high})
        # op='restore' resets files/stats/parts/dvs in replay before the
        # adds apply, so no removes list is needed; staged_cleanup=False
        # because the named files are ALREADY LIVE data of an old version
        # — a failed commit must not delete them.
        return self.commit_files(
            list(old.files), op="restore", schema_json=old.schema_json,
            stats=old.stats, parts=old.parts, dvs=old.dvs,
            column_mapping=old.cmap,  # restore the mapping with the files
            properties=props,
            expected_version=expected_version, staged_cleanup=False,
        )

    # -- column mapping (metadata-only RENAME/DROP COLUMN) -------------

    def rename_column(self, old: str, new: str, max_retries: int = 10) -> int:
        """RENAME COLUMN as a METADATA-ONLY commit (Delta's column-mapping
        name mode, public docs): data files keep the column under its
        stable PHYSICAL name (its name when first written); only the
        logical schema and the logical->physical mapping change — zero
        data bytes move at any table size. Reads translate physical ->
        logical, writes logical -> physical, stats/bloom pruning keys
        translate on lookup, so every verb (merge/delete/update/cdc/
        scd2/optimize/clone/restore) keeps working across the rename and
        file-skipping metadata recorded before it stays effective.

        Refused (ValueError) when: `old` is not in the schema; `new`
        already is; `old` is a partition column (partition directory
        names are physical layout — Delta likewise restricts partition
        schema changes); `old` appears in a CHECK constraint expression
        (Delta blocks this too — the constraint would silently stop
        binding); or `new` collides with another column's PHYSICAL name
        (our physical names are human-readable originals, not UUIDs, so
        a swap-style rename would make the mapping ambiguous — refused
        loudly rather than corrupting reads).

        Change-feed note: rename commits carry no file changes, so
        ``changes()``/the streaming source skip them; ranges read after
        a rename serve the CURRENT logical names (Delta CDF with column
        mapping behaves the same)."""
        def attempt(st: _State) -> int:
            names = self._alterable(st, old, "rename")
            if new in names:
                raise ValueError(f"column {new!r} already exists")
            physical = {c: st.cmap.get(c, c) for c in names}
            if new in {ph for c, ph in physical.items() if c != old}:
                raise ValueError(
                    f"{new!r} collides with another column's physical name"
                )
            cmap = dict(st.cmap)
            cmap[new] = cmap.pop(old, old)
            if cmap[new] == new:
                cmap.pop(new)  # renamed back to its physical name: identity
            new_schema = StructType(
                [
                    StructField(new, f.dataType, f.nullable, f.metadata)
                    if f.name == old
                    else f
                    for f in st.schema.fields
                ]
            )
            return self.commit_files(
                [], op="rename", schema_json=new_schema.json(),
                column_mapping=cmap, expected_version=st.version,
            )

        # a racing commit may have evolved the schema: re-derive
        return self._occ("rename", max_retries, attempt)

    def _alterable(self, st: _State, name: str, verb: str) -> list[str]:
        """The table's logical column names, after refusing a RENAME/DROP
        of `name` that is absent, a partition column, or referenced by a
        CHECK constraint."""
        if st.schema is None:
            raise ValueError(f"txlog table {self.path!r} has no commits")
        names = st.schema.fieldNames()
        if name not in names:
            raise ValueError(f"no such column: {name!r}")
        if any(name in (pv or {}) for pv in st.parts.values()):
            raise ValueError(f"cannot {verb} partition column {name!r}")
        for cname, expr in self.constraints().items():
            if re.search(rf"\b{re.escape(name)}\b", expr):
                raise ValueError(
                    f"column {name!r} is referenced by CHECK constraint "
                    f"{cname!r} ({expr}); drop the constraint first"
                )
        return names

    def drop_column(self, name: str, max_retries: int = 10) -> int:
        """DROP COLUMN as a METADATA-ONLY commit (Delta column mapping):
        the physical data stays in the files until they are naturally
        rewritten (merge/optimize fold it away); reads project the
        column out immediately. Same restrictions as rename: partition
        and constraint-referenced columns are refused.

        Caveat (divergence from Delta, where physical names are UUIDs):
        our physical names are the human-readable originals, so
        RE-ADDING a column under a dropped column's name would read the
        dropped values back out of pre-drop files. Run
        :meth:`optimize` (a full rewrite) after a drop before reusing
        the name."""
        def attempt(st: _State) -> int:
            if len(self._alterable(st, name, "drop")) == 1:
                raise ValueError("cannot drop the only column")
            cmap = dict(st.cmap)
            cmap.pop(name, None)
            new_schema = StructType([f for f in st.schema.fields if f.name != name])
            return self.commit_files(
                [], op="drop_column", schema_json=new_schema.json(),
                column_mapping=cmap, expected_version=st.version,
            )

        return self._occ("drop_column", max_retries, attempt)

    # -- table properties ----------------------------------------------

    CDF_PROPERTY = "enableChangeDataFeed"

    def set_property(self, name: str, value: str, max_retries: int = 10) -> int:
        """SET TBLPROPERTIES (Delta's table properties): a metadata-only
        commit carrying the full updated map, latest wins; replayed and
        checkpointed with the log, restored by RESTORE, carried by CLONE.
        Behavior key: ``enableChangeDataFeed`` = "true" makes
        update/delete/delete_to_dv/merge/merge_into stage typed CHANGE-DATA-FEED
        sidecars (Delta's delta.enableChangeDataFeed), which is what lets
        ``changes(cdf=True)``/the streaming source follow those commits
        instead of demanding a re-sync."""
        def attempt(st: _State) -> int:
            if st.props.get(name) == value:
                return st.version
            # a lost race re-derives from whatever map the winner committed
            return self.commit_files(
                [], op="property", schema_json=st.schema_json,
                properties={**st.props, name: value}, expected_version=st.version,
            )

        return self._occ("set_property", max_retries, attempt)

    def properties(self) -> dict:
        """Active table properties (name -> value)."""
        return dict(self.state().props)

    def _cdf_enabled(self, st: _State) -> bool:
        return str(st.props.get(self.CDF_PROPERTY, "")).lower() == "true"

    # -- generated columns ---------------------------------------------

    _GENERATED_PREFIX = "generated:"

    def add_generated_column(self, name: str, expr: str) -> int:
        """GENERATED ALWAYS AS column (Delta's generated columns, public
        docs): register `expr` (SQL over the other columns) for `name`.
        On the ingest write paths (append / overwrite / merge), a batch
        MISSING the column gets it
        computed automatically; a batch SUPPLYING it is validated to
        match the expression row-for-row (LIMIT-1 mismatch probe, same
        discipline as CHECK constraints) — a writer can never commit a
        value the expression disagrees with. The canonical use is a
        derived partition key (`o_month` from a timestamp): callers
        append raw facts, the table computes and partitions, and
        `snapshot(partitions=...)` prunes — Delta applies the same
        pattern for date-partition pruning. Stored in table properties
        (latest-wins metadata; restore/clone/checkpoint-aware)."""
        return self.set_property(f"{self._GENERATED_PREFIX}{name}", expr)

    def generated_columns(self) -> dict[str, str]:
        """Active generated columns, name -> SQL expression."""
        p = self._GENERATED_PREFIX
        return {
            k[len(p):]: v for k, v in self.state().props.items()
            if k.startswith(p)
        }

    def _apply_generated(self, df: DataFrame) -> DataFrame:
        """Compute absent generated columns; verify supplied ones."""
        for name, expr in sorted(self.generated_columns().items()):
            if name not in df.columns:
                df = df.withColumn(name, F.expr(expr))
            else:
                bad = df.where(
                    ~F.col(name).eqNullSafe(F.expr(expr))
                ).limit(1).collect()
                if bad:
                    raise ValueError(
                        f"generated column {name!r} = ({expr}) violated by "
                        f"supplied value, e.g.: {bad[0]}"
                    )
        return df

    # -- identity columns ----------------------------------------------

    _IDENTITY_PREFIX = "generated.identity."

    def add_identity_column(self, name: str, start: int = 1, step: int = 1) -> int:
        """GENERATED ALWAYS AS IDENTITY (Delta's identity columns, public
        docs): `name` is allocated by the TABLE on the ingest write paths
        (append / overwrite), never supplied by writers — a batch that
        carries the column is refused, exactly Delta's GENERATED ALWAYS
        contract. The high-water mark lives in table properties and
        advances IN THE SAME COMMIT as the data (atomic: a crash between
        allocation and commit leaves no gap, a lost OCC race re-derives
        from the winner's mark), so concurrent identity appends serialize
        on the watermark and ids are unique table-wide. Values are
        ``start, start+step, ...`` dense in allocation order.

        Two allocation modes per append:
        - ``identity_order_by=[cols]``: ids follow ``row_number()`` over
          that ordering — DETERMINISTIC (replayable, oracle-checkable) at
          the cost of a global sort of the batch.
        - default: per-partition contiguous ranges (one small count job
          for the offsets, one window partitioned BY the existing
          partitioning — no global sort, Delta's task-range strategy):
          unique and dense, but order depends on physical partitioning.

        The mark is MONOTONE across :meth:`restore` (Delta's documented
        behavior — ids issued after the restore target are never
        re-issued); :meth:`clone` carries it as of the cloned version.
        MERGE INTO NOT-MATCHED inserts and :meth:`apply_cdc` new keys
        allocate too (existing keys keep their surrogate id); supplying
        the column is refused on every write path."""
        if step == 0:
            raise ValueError("identity step must be nonzero")
        st = self.state()
        if st.schema is not None:
            if name in st.schema.fieldNames():
                raise ValueError(
                    f"identity column {name!r} already exists in the schema; "
                    "register it before the first data commit"
                )
        return self.set_property(
            f"{self._IDENTITY_PREFIX}{name}",
            json.dumps({"start": int(start), "step": int(step), "high": None}),
        )

    def identity_columns(self) -> dict[str, dict]:
        """Active identity columns, name -> {start, step, high}."""
        p = self._IDENTITY_PREFIX
        return {
            k[len(p):]: json.loads(v)
            for k, v in self.state().props.items()
            if k.startswith(p)
        }

    @staticmethod
    def _identity_specs(props: dict) -> dict[str, dict]:
        p = TxLog._IDENTITY_PREFIX
        return {
            k[len(p):]: json.loads(v) for k, v in props.items() if k.startswith(p)
        }

    def _apply_identity(
        self,
        df: DataFrame,
        props: dict,
        order_by: list[str] | None,
        fill_nulls: bool = False,
    ) -> tuple[DataFrame, dict | None]:
        """Allocate identity values for `df`; returns (df, updated full
        props map or None if the table has no identity columns).

        ``fill_nulls=True`` is the MERGE/CDC mode (Delta allocates
        identity on MERGE INSERT too): the column may already exist on
        the frame — rows carrying a value keep it (they are pre-existing
        target rows riding through a rewrite), and only NULL slots (the
        inserted rows) allocate fresh ids past the watermark. The ingest
        paths (append/overwrite) keep ``fill_nulls=False``: a writer
        supplying the column at all is refused (GENERATED ALWAYS)."""
        specs = self._identity_specs(props)
        if not specs:
            return df, None
        from pyspark.sql.window import Window

        new_props = dict(props)
        for name, spec in sorted(specs.items()):
            keep = None
            if name in df.columns:
                if not fill_nulls:
                    raise ValueError(
                        f"identity column {name!r} is GENERATED ALWAYS: "
                        "writers must not supply it"
                    )
                keep = df.where(F.col(name).isNotNull())
                df = df.where(F.col(name).isNull()).drop(name)
            step = spec["step"]
            base = spec["high"] if spec["high"] is not None else spec["start"] - step
            if order_by:
                n = df.count()
                rn = F.row_number().over(Window.orderBy(*order_by))
                df = df.withColumn(name, F.lit(base) + F.lit(step) * rn)
            else:
                # Per-partition range reservation (Delta's strategy): pin
                # the partitioning first so the offset map and the window
                # see the same pids, then one tiny count job + one window
                # that reuses the EXISTING partitioning (no global sort).
                # Pin the partition layout, then MATERIALIZE the pid as a
                # data column in the map stage (evaluating
                # spark_partition_id() again after the window's exchange
                # would see the post-shuffle partitioning and mismatch
                # the offset map).
                df = df.localCheckpoint(eager=True).withColumn(
                    "__pid", F.spark_partition_id()
                )
                counts = {
                    r["__pid"]: r["c"]
                    for r in df.groupBy("__pid").agg(F.count("*").alias("c")).collect()
                }
                off, offsets = 0, {}
                for p in sorted(counts):
                    offsets[p] = off
                    off += counts[p]
                n = off
                omap = F.create_map(
                    *[F.lit(x) for kv in sorted(offsets.items()) for x in kv]
                ) if offsets else F.create_map()
                rn = F.row_number().over(
                    Window.partitionBy("__pid").orderBy(
                        F.monotonically_increasing_id()
                    )
                )
                df = df.withColumn(
                    name,
                    F.lit(base)
                    + F.lit(step) * (F.element_at(omap, F.col("__pid")) + rn),
                ).drop("__pid")
            if keep is not None:
                df = keep.unionByName(df)
            new_props[f"{self._IDENTITY_PREFIX}{name}"] = json.dumps(
                {**spec, "high": base + step * n}
            )
        return df, new_props

    # -- constraints ---------------------------------------------------

    _CONSTRAINTS_KEY = "_constraints"

    def clone(
        self,
        target_path: str,
        shallow: bool = True,
        version: int | None = None,
    ) -> "TxLog":
        """CLONE TABLE (Delta's CLONE, public docs): create a NEW table at
        `target_path` whose first commit captures this table's state as of
        `version` (default: now).

        `shallow=True` (default) references the source's live data files
        by ABSOLUTE path — zero data bytes move, the clone is a metadata
        commit, O(files) regardless of table size. Stats, partition
        values, deletion vectors, CHECK-constraint registrations, and the
        schema are all carried, so pruning and DV reads work on the clone
        exactly as on the source. The clone's own writes (append / merge /
        update / delete / optimize) land under the CLONE's directory and
        never touch the source; a rewrite that retires a referenced file
        simply stops referencing it. Divergence is bidirectional-free:
        source commits after the clone are invisible to it, and vice
        versa. Delta's documented shallow-clone caveat applies verbatim:
        VACUUM on the SOURCE can collect files a shallow clone still
        references (the source doesn't know its clones) — the clone then
        fails loudly at scan time, never returns a silently-smaller
        result. Clone commits are served by neither ``changes()`` nor the
        streaming source (like Delta, CDF starts after the clone commit).

        `shallow=False` (deep clone) copies every live data file (plus DV
        sidecars) into the clone's data directory under the same names —
        independent of source retention, O(table bytes).

        The target must have no commits (raises ValueError otherwise);
        a concurrent first-commit race on the target loses to OCC.
        The app ledger (exactly-once epochs) is deliberately NOT carried:
        a clone is a new table and sinks restart their epoch history
        (Delta clones likewise reset txn app state). Returns the clone's
        :class:`TxLog`. At 100 TB a shallow clone is what makes
        dev/test-against-prod and table-level branching free."""
        st = self.state(version)
        if st.version < 0:
            raise ValueError(f"cannot clone {self.path!r}: no commits")
        target = TxLog(target_path)
        if target.state().version >= 0:
            raise ValueError(f"clone target {target_path!r} already has commits")

        def src_abs(name: str) -> str:
            return os.path.abspath(os.path.join(self.data_path, name))

        if shallow:
            ident = src_abs
        else:
            def ident(name: str) -> str:  # deep: copy bytes, keep the name
                base = os.path.basename(name)
                shutil.copy2(src_abs(name), os.path.join(target.data_path, base))
                return base

        adds = [ident(n) for n in st.files]
        name_map = dict(zip(st.files, adds))
        dv_map = {s: ident(s) for s in sorted(set(st.dvs.values()))}
        target.commit_files(
            adds,
            op="clone",
            schema_json=st.schema_json,
            expected_version=-1,
            stats={name_map[n]: s for n, s in st.stats.items() if n in name_map},
            parts={name_map[n]: p for n, p in st.parts.items() if n in name_map},
            dvs={name_map[n]: dv_map[s] for n, s in st.dvs.items() if n in name_map},
            column_mapping=st.cmap or None,  # clone carries the mapping
            properties=st.props or None,  # and the table properties
            staged_cleanup=False,  # a lost race must never delete source files
        )
        pref = f"{self._CONSTRAINTS_KEY}:"
        for app in sorted(st.apps):  # constraints AS OF the cloned version
            if app.startswith(pref):
                cname, expr_json = app[len(pref):].split(":", 1)
                target.add_constraint(cname, json.loads(expr_json))
        return target

    @classmethod
    def convert(
        cls,
        spark: SparkSession,
        source_dir: str,
        table_path: str,
        stats_cols: list[str] | None = None,
        link: bool = True,
    ) -> "TxLog":
        """CONVERT an existing parquet directory into a txlog table
        (Delta's ``CONVERT TO DELTA``, public docs): ONE directory walk
        discovers the data files — flat or Hive-partitioned
        (``col=value`` directories become per-file partition values in
        the manifest, exactly as :meth:`_stage` records them) — and ONE
        commit (op='convert') names them all, with per-file footer
        [min, max] stats for `stats_cols` read from the parquet footers
        (no data scan). ``link=True`` hardlinks the files into the
        table's data dir (zero bytes copied on the same filesystem —
        the conversion is O(files) metadata at any table size, which is
        the whole point of CONVERT); ``link=False`` copies. The source
        directory is never modified. Refused when the target already
        has commits. The schema comes from ONE Spark parquet-scan
        schema resolution over the source (mergeSchema, so evolved
        file sets convert; partition columns typed by Spark's own
        partition discovery). NULL/default partition dirs convert like
        :meth:`_stage` records them (typed NULL on read)."""
        log = cls(table_path)
        if log.state().version >= 0:
            raise ValueError(
                f"convert target {table_path!r} already has commits"
            )
        # Spark's reader resolves the unified schema AND partition-column
        # types from the directory layout — reuse it instead of guessing.
        df = spark.read.option("mergeSchema", "true").parquet(source_dir)
        schema_json = df.schema.json()
        pcol_types = {
            f.name: f.dataType for f in df.schema.fields
        }
        adds: list[str] = []
        stats: dict = {}
        parts: dict = {}
        src_root = os.path.abspath(source_dir)

        def ingest(dir_path: str, pvals: dict) -> None:
            for entry in sorted(os.listdir(dir_path)):
                full = os.path.join(dir_path, entry)
                if os.path.isdir(full):
                    if "=" in entry:
                        col, val = entry.split("=", 1)
                        val = unquote(val)
                        ingest(
                            full,
                            {**pvals, col: None if val == "__HIVE_DEFAULT_PARTITION__" else val},
                        )
                    continue
                if not entry.endswith(".parquet"):
                    continue
                staged = f"cv-{uuid.uuid4().hex}-{entry}"
                dest = os.path.join(log.data_path, staged)
                if link:
                    try:
                        os.link(full, dest)
                    except OSError:  # cross-device: fall back to copy
                        shutil.copy2(full, dest)
                else:
                    shutil.copy2(full, dest)
                adds.append(staged)
                fs = {"__bytes": os.path.getsize(dest)}
                if stats_cols:
                    fs.update(_footer_minmax(dest, list(stats_cols)) or {})
                stats[staged] = fs
                if pvals:
                    parts[staged] = dict(pvals)

        ingest(src_root, {})
        if not adds:
            raise ValueError(f"no parquet files under {source_dir!r}")
        # partition columns discovered by Spark are typed in schema_json;
        # unused here beyond documentation, but assert they exist
        for pv in parts.values():
            for col in pv:
                if col not in pcol_types:
                    raise ValueError(
                        f"partition directory column {col!r} missing from "
                        "the resolved schema"
                    )
        # staged_cleanup default: a lost race deletes only the LINKS in
        # the table's data dir — the source files are never touched
        log.commit_files(
            adds, op="convert", schema_json=schema_json,
            stats=stats, parts=parts,
        )
        return log

    def add_constraint(self, name: str, expr: str) -> int:
        """Register a CHECK constraint (Delta's ALTER TABLE ADD CONSTRAINT,
        public docs): a SQL boolean expression every row of every LATER
        write must satisfy. Stored in the app high-water map under a
        reserved key (so it replays/checkpoints/truncates with the log for
        free); existing data is NOT retro-validated (Delta's rule: the
        ADD itself validates in a real deployment — here the caller opts
        in by adding before loading). Enforced by :meth:`_validate` in
        the DataFrame write paths; a violating batch raises BEFORE
        staging, so nothing is committed and nothing leaks. Constraints
        are immutable per (name, expr) — re-adding the same pair is an
        idempotent no-op; redefining a name is not supported."""
        return self.commit_files(
            [], op="constraint",
            app_id=f"{self._CONSTRAINTS_KEY}:{name}:{json.dumps(expr)}",
            app_version=0,
        )

    def constraints(self) -> dict[str, str]:
        """Active CHECK constraints, name -> SQL expression."""
        pref = f"{self._CONSTRAINTS_KEY}:"
        out = {}
        for app in self.state().apps:
            if app.startswith(pref):
                name, expr_json = app[len(pref):].split(":", 1)
                out[name] = json.loads(expr_json)
        return out

    def _validate(self, df: DataFrame) -> DataFrame:
        """Raise if any row violates an active constraint. One pass over
        the batch (a LIMIT-1 scan per constraint on the unwritten plan);
        NULL predicate results count as violations, same as Delta."""
        for name, expr in self.constraints().items():
            bad = df.where(~F.expr(expr).eqNullSafe(F.lit(True))).limit(1)
            row = bad.collect()
            if row:
                raise ValueError(
                    f"CHECK constraint {name!r} ({expr}) violated, e.g.: {row[0]}"
                )
        return df


    def apply_cdc(
        self,
        spark: SparkSession,
        changes: DataFrame,
        key: str,
        op_col: str = "op",
        delete_ops: tuple = ("d",),
        max_retries: int = 10,
        stats_cols: list[str] | None = None,
        app_id: str | None = None,
        app_version: int | None = None,
    ) -> int:
        """Apply one CDC batch — upserts AND deletes — in ONE atomic
        commit (the MySQL-CDC envelope of sources/cdc.py landed at fact
        scale; reference analog: DimSinkFunction.java:17-89 applying the
        Maxwell envelope row-at-a-time to Phoenix). Rows whose `op_col`
        is in `delete_ops` delete their key; every other row upserts
        (type-1, op column dropped). A reader can never observe the
        deletes without the upserts or vice versa — both land in the
        same manifest.

        File-level, classified against the EXACT change-key set, not its
        [min,max] envelope (:meth:`_key_probe`, up to `_CDC_KEYS_MAX`
        keys — a CDC batch touching low and high keys would otherwise
        rewrite every file between).
        Files no change key lands in survive untouched (same names).
        Serializable via expected_version, retried on conflict. With
        (app_id, app_version) the apply is an idempotent streaming-epoch
        commit: a crash-retry replay of the same epoch is SKIPPED — the
        exactly-once contract a foreachBatch CDC sink needs.

        IDENTITY COLUMNS (surrogate keys at sink time — the reference's
        dim upsert assigns them the same way, DimSinkFunction.java:17-89):
        a change batch carrying a registered identity column is refused
        (GENERATED ALWAYS); upserts of EXISTING keys keep the key's
        current id (it is a surrogate, stable across type-1 updates), new
        keys allocate past the watermark, and the advanced mark commits
        atomically with the batch. The CDF sidecar stages the raw
        envelope (no identity column; readers union it null-filled)."""
        if app_id is not None and app_version is not None:
            st0 = self.state()
            if st0.apps.get(app_id, -1) >= app_version:
                return st0.version
        # A NULL op is a malformed envelope, not a delete and not an upsert:
        # ~isin(NULL) is NULL so the row would silently vanish from the
        # upsert set while its key still anti-joins the base — a silent
        # delete (ADVICE r6). Reject the batch before anything stages.
        bad_op = changes.where(F.col(op_col).isNull()).limit(1).collect()
        if bad_op:
            raise ValueError(
                f"apply_cdc: NULL {op_col!r} in change batch (malformed CDC "
                f"envelope), e.g.: {bad_op[0]}"
            )
        op_is_delete = F.col(op_col).isin(*delete_ops)
        upserts = changes.where(~op_is_delete).drop(op_col)
        self._validate(upserts)
        key_rows, overlaps = self._key_probe(changes, key)
        if overlaps is None:
            return self.state().version

        def cdf_rows(base: DataFrame | None) -> DataFrame:
            # CHANGE-DATA-FEED sidecar (Delta's cdc files): the commit's
            # logical changes — upserts with payload, deletes as key +
            # null payload — typed and staged alongside, so downstream
            # consumers read the delta instead of re-syncing a snapshot.
            return changes.withColumn(
                "_change_type",
                F.when(op_is_delete, F.lit("delete")).otherwise(F.lit("upsert")),
            ).drop(op_col)

        def attempt(st: _State) -> int:
            if app_id is not None and app_version is not None:
                if st.apps.get(app_id, -1) >= app_version:
                    return st.version
            return self._upsert(
                spark, st, "cdc", upserts, key, key_rows, overlaps, stats_cols,
                cdf_rows, app_id=app_id, app_version=app_version,
            )

        return self._occ("apply_cdc", max_retries, attempt)

    def apply_scd2(
        self,
        spark: SparkSession,
        updates: DataFrame,
        key: str,
        from_col: str = "valid_from",
        to_col: str = "valid_to",
        current_col: str = "is_current",
        max_retries: int = 10,
        stats_cols: list[str] | None = None,
    ) -> int:
        """Slowly-Changing-Dimension TYPE 2 maintenance in ONE atomic
        commit: for every update row (key + new attribute values +
        `from_col` effective stamp), the key's CURRENT row is CLOSED
        (`to_col` set to the new effective stamp, `current_col` false)
        and the update lands as the new current row (`to_col` NULL,
        `current_col` true) — full history preserved, never observable
        half-applied. Unseen keys simply insert. One update row per key
        per batch (caller contract, like merge).

        The reference's dim layer is type-1 overwrite
        (DimSinkFunction.java:17-89); this is the history-keeping
        companion, with the batch SCD2 derivation graded separately
        (operators/scd.py scd2_user_status). File-level like apply_cdc
        (same key probe): only files whose [min,max] for `key` contain
        an update key are rewritten — historical rows ride along
        untouched inside touched files, files with no updated key
        survive by name. Serializable via expected_version, retried on
        conflict."""
        stamp_type = dict(updates.dtypes)[from_col]  # to_col shares its domain
        new_rows = updates.withColumn(to_col, F.lit(None).cast(stamp_type)).withColumn(
            current_col, F.lit(True)
        )
        self._validate(new_rows)
        _, overlaps = self._key_probe(updates, key)
        if overlaps is None:
            return self.state().version

        def attempt(st: _State) -> int:
            _, touched = self._classify(st, key, overlaps)
            merged = new_rows
            if touched:
                base = self._read_files(spark, touched, st)
                stamp = updates.select(key, F.col(from_col).alias("_new_from"))
                joined = base.join(stamp, key, "left")
                closing = F.col(current_col) & F.col("_new_from").isNotNull()
                rewritten = joined.select(
                    *[
                        F.when(closing, F.col("_new_from")).otherwise(F.col(c)).alias(c)
                        if c == to_col
                        else F.when(closing, F.lit(False)).otherwise(F.col(c)).alias(c)
                        if c == current_col
                        else F.col(c)
                        for c in base.columns
                    ]
                )
                merged = rewritten.unionByName(new_rows).coalesce(len(touched))
            names, schema_json, stats, parts = self._stage(
                merged, stats_cols if stats_cols is not None else [key], cmap=st.cmap
            )
            return self.commit_files(
                names, op="scd2", schema_json=schema_json, removes=touched,
                expected_version=st.version, stats=stats, parts=parts,
                conflict_ok=self._disjoint_range_ok(
                    set(touched), st.cmap.get(key, key), hits=overlaps
                ),
            )

        return self._occ("apply_scd2", max_retries, attempt)

    def changes(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: int | None = None,
        cdf: bool = False,
    ) -> DataFrame:
        """CHANGE FEED over ``(from_version, to_version]``, each row
        tagged with its ``_commit_version`` — what an incremental
        consumer reads per sync instead of diffing snapshots. O(changed
        bytes): only the named files are read, never the table.

        Default mode is Delta CDF's insert case: append commits only —
        a feed crossing any other commit raises :class:`TxConflictError`
        (the consumer re-syncs from a snapshot), which keeps the feed
        exact instead of silently wrong.

        ``cdf=True`` additionally adds a ``_change_type`` column and
        serves every commit that staged CHANGE-DATA-FEED sidecar files
        (Delta's cdc files, staged at commit time) from them: append
        rows come back as ``insert``; ``apply_cdc`` commits (always) as
        ``upsert`` with full payload and ``delete`` with the key and NULL
        payload; ``update``, ``delete``, ``delete_to_dv``, ``merge`` and
        ``merge_into`` commits — staged only while the table has
        ``enableChangeDataFeed=true`` — as ``update_preimage`` /
        ``update_postimage`` / ``delete`` / ``insert`` rows. Rewrites
        without sidecars (replace, optimize, scd2, and the verbs above
        while the property is off) still raise — they carry no
        logical-change record. A range whose manifests were truncated
        raises :class:`TxVersionTruncatedError`."""
        st = self.state()  # schema fallback + existence check
        hi = st.version if to_version is None else to_version
        manifests, _ = self._list_log()
        have = set(manifests)
        frames = []
        for v in range(from_version + 1, hi + 1):
            if v not in have:
                raise TxVersionTruncatedError(
                    f"change feed needs manifest v{v} of {self.path!r}, "
                    "but it was truncated — re-sync from a snapshot"
                )
            m = self.store.read(self._manifest_name(v))
            if cdf and m.get("cdf"):
                # Any commit that staged typed CDF sidecars serves them:
                # apply_cdc always; update/delete/delete_to_dv/merge/
                # merge_into when the table has enableChangeDataFeed=true
                # (Delta's CDF).
                cdf_df = spark.read.option("mergeSchema", "true").parquet(
                    *[os.path.join(self.data_path, n) for n in m["cdf"]]
                )
                # Sidecars are staged under the LOGICAL names current AT
                # COMMIT TIME — which for a later-renamed column is its
                # stable physical name, so the physical->logical rename
                # translates pre-rename sidecars and leaves post-rename
                # ones untouched (ADVICE r7: without this a range
                # crossing a rename served NULLs for the renamed column
                # in old change rows).
                cdf_df = self._logical(cdf_df, st, ("_change_type",))
                frames.append(
                    cdf_df.withColumn("_commit_version", F.lit(v).cast("long"))
                )
                continue
            if m["op"] not in ("append", "convert"):
                if not m["adds"] and not m.get("removes") and not m.get("dvs"):
                    # Metadata-only commit (e.g. op='constraint'): zero file
                    # changes means zero logical row changes — skipping it
                    # keeps incremental consumers alive across an
                    # add_constraint landing mid-range (ADVICE r6). A
                    # deletion-vector attach is NOT metadata-only: it
                    # changes logical rows, so it must raise like any
                    # other rewrite.
                    continue
                raise TxConflictError(
                    f"v{v} is a {m['op']} commit (file rewrite, not inserts); "
                    "the change feed cannot reconstruct it — re-sync from a "
                    "snapshot"
                )
            if not m["adds"]:
                continue
            vst = _State(
                v, tuple(m["adds"]), {}, st.schema_json,
                m.get("stats") or {}, m.get("parts") or {}, {}, st.cmap,
            )
            frame = self._read_files(spark, list(m["adds"]), vst).withColumn(
                "_commit_version", F.lit(v).cast("long")
            )
            if cdf:
                frame = frame.withColumn("_change_type", F.lit("insert"))
            frames.append(frame)
        if not frames:
            if st.schema is None:
                raise ValueError(f"txlog table {self.path!r} has no commits")
            empty = spark.createDataFrame([], st.schema).withColumn(
                "_commit_version", F.lit(None).cast("long")
            )
            if cdf:
                empty = empty.withColumn("_change_type", F.lit(None).cast("string"))
            return empty
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f, allowMissingColumns=True)
        return out

    def history(self) -> list[dict]:
        """Commit audit trail (Delta's DESCRIBE HISTORY), newest first:
        one row per still-present manifest with version, op, file add/
        remove counts, app identity, and timestamp. Versions folded into
        a checkpoint by `truncate_log` appear as one `checkpoint` row —
        history is bounded by log retention, matching Delta."""
        manifests, checkpoints = self._list_log()
        out = []
        for v in sorted(manifests, reverse=True):
            try:
                m = self.store.read(self._manifest_name(v))
            except FileNotFoundError:
                continue  # concurrent truncation
            out.append({
                "version": v,
                "op": m["op"],
                "n_added": len(m["adds"]),
                "n_removed": len(m.get("removes", [])),
                "app_id": m.get("app_id"),
                "app_version": m.get("app_version"),
                "ts": m.get("ts"),
            })
        covered = {m["version"] for m in out}
        for v in sorted(checkpoints, reverse=True):
            if v not in covered:
                out.append({
                    "version": v, "op": "checkpoint", "n_added": None,
                    "n_removed": None, "app_id": None, "app_version": None,
                    "ts": None,
                })
        return sorted(out, key=lambda r: -r["version"])

    # -- maintenance ---------------------------------------------------

    def optimize(
        self,
        spark: SparkSession,
        max_files: int = 8,
        max_retries: int = 10,
        stats_cols: list[str] | None = None,
        cluster_by: str | list[str] | None = None,
    ) -> int:
        """Bin-pack the table's committed files into at most `max_files`
        (the small-files fix for per-epoch streaming appends). Runs under
        the DISJOINT-FILE conflict rule: concurrent appends land new files
        and never conflict with this commit; only a concurrent removal of
        the same files (another optimize/replace) does, in which case the
        compaction re-derives from fresh state and retries. Returns the
        committed version (or current version if nothing to do).

        `stats_cols` defaults to the columns already carrying stats in the
        manifest, so compaction PRESERVES data-skipping metadata instead
        of silently erasing it. `cluster_by` with ONE column range-
        partitions the rewrite on it: each output file covers a DISJOINT
        value range, so the recorded [min,max] stay tight and a selective
        `snapshot(prune=...)` keeps skipping files after compaction —
        without clustering, bin-packing mixes ranges and every file
        intersects every predicate.

        `cluster_by` with SEVERAL (numeric/timestamp) columns Z-ORDERS
        the rewrite (Delta's OPTIMIZE ZORDER BY): each column is
        normalized to a k-bit integer and the bits INTERLEAVED into one
        Z-value the rewrite range-partitions on — multidimensional
        locality, so a selective prune on ANY clustered column skips
        ~files^(1-1/d) of the files instead of helping only the leading
        sort column. Normalization is LINEAR between the column's min and
        max (one small agg over the victims — no per-column global sort,
        which is what keeps the rewrite one shuffle at any scale);
        heavily skewed columns get uneven Z-cells and prune less tightly
        — the standing trade of linear vs sampled range IDs, documented
        not hidden. All computed JVM-side (shiftleft/bitwiseOR column
        arithmetic), no UDF."""
        cluster_cols = (
            [cluster_by] if isinstance(cluster_by, str) else list(cluster_by or [])
        )

        def attempt(st: _State) -> int:
            if len(st.files) <= max_files and not cluster_cols:
                return st.version
            victims = list(st.files)
            sc = stats_cols
            # bloom metadata rides the stats dict under "bloom:<col>" keys:
            # compaction RE-COMPUTES those filters for the packed files so
            # point-lookup skipping survives optimize (dropping them would
            # be safe but lossy — every packed file would be kept forever).
            # Manifest stats are keyed by PHYSICAL column names; _stage
            # takes LOGICAL ones, so map back through the inverse cmap
            # (dropped columns have no logical name and lose their stats
            # with the rewrite, correctly — their data is gone too).
            inv = {ph: lg for lg, ph in st.cmap.items()}
            logical_cols = set(st.schema.fieldNames()) if st.schema else set()

            def to_logical(c: str) -> str | None:
                lg = inv.get(c, c)
                return lg if (not logical_cols or lg in logical_cols) else None

            seen = {c for fs in st.stats.values() for c in fs}
            bloom_cols = sorted(
                lg for c in seen if c.startswith("bloom:")
                if (lg := to_logical(c[len("bloom:"):])) is not None
            )
            if sc is None:
                plain = {
                    lg for c in seen if not c.startswith("bloom:")
                    if (lg := to_logical(c)) is not None
                }
                plain.update(cluster_cols)
                sc = sorted(plain) or None
            # MAINTENANCE SESSION (ADVICE r10 #5): the rewrite below wants
            # a 10x range-sampling budget, and raising it on the CALLER's
            # session would leak to every concurrent query on it (and two
            # concurrent optimize() calls could interleave a set/restore
            # on the shared conf). spark.newSession() shares the
            # SparkContext — same executors, same files — but owns an
            # isolated SQLConf, so the raised sample size is visible only
            # to plans built here. Builder-time confs propagate to new
            # sessions; runtime confs set later on the caller's session do
            # not, which is fine: the rewrite reads only the log's own
            # parquet files and carries its partitioning explicitly.
            maint = spark.newSession()
            # Range boundaries for the clustered rewrite come from
            # RESERVOIR SAMPLING (repartitionByRange), so the file
            # layout — and with it pruning effectiveness — varies run
            # to run at the default 100 samples/partition. 10x the
            # sample budget for the rewrite: boundary noise drops
            # ~sqrt(10)x for a one-off maintenance cost that is
            # negligible next to the rewrite itself.
            maint.conf.set(
                "spark.sql.execution.rangeExchange.sampleSizePerPartition",
                "1000",
            )
            base = self._read_files(maint, victims, st)
            # PARTITION-AWARE compaction (Delta's OPTIMIZE on a
            # partitioned table compacts WITHIN partitions): when the
            # manifest records partition values, the rewrite goes back
            # through Hive-style dynamic partitioning so the packed
            # files RE-RECORD their partition values — without this,
            # compaction silently erased `parts` metadata and partition
            # pruning stopped skipping anything. The hash repartition on
            # the partition columns co-locates each value into one task
            # (≈1 file per value); clustering then orders within them.
            pcols = sorted({c for pv in st.parts.values() for c in (pv or {})})
            if pcols:
                packed = base.repartition(max(1, max_files), *pcols)
                if cluster_cols:
                    packed = packed.sortWithinPartitions(*cluster_cols)
            elif len(cluster_cols) == 1:
                packed = base.repartitionByRange(max_files, F.col(cluster_cols[0]))
                packed = packed.sortWithinPartitions(cluster_cols[0])
            elif cluster_cols:
                zcol = self._zvalue(base, cluster_cols)
                packed = (
                    base.withColumn("_z", zcol)
                    .repartitionByRange(max_files, F.col("_z"))
                    .sortWithinPartitions("_z")
                    .drop("_z")
                )
            else:
                packed = base.coalesce(max_files)
            names, schema_json, stats, parts = self._stage(
                packed, sc, bloom_cols=bloom_cols or None, cmap=st.cmap,
                partition_by=pcols or None,
            )
            # DV-race guard (ADVICE r7): compaction folds DVs away by
            # rewriting from the files' read-time contents, so a DV
            # attached AFTER the read must conflict or its deletions would
            # resurrect in the packed files. Appends stay benign —
            # compaction runs alongside ingestion.
            return self.commit_files(
                names, op="optimize", schema_json=schema_json, removes=victims,
                stats=stats, parts=parts, expected_version=st.version,
                conflict_ok=self._disjoint_range_ok(set(victims)),
            )

        return self._occ("optimize", max_retries, attempt)

    @staticmethod
    def _zvalue(df: DataFrame, cols: list[str]) -> "F.Column":
        """Interleaved-bit Z-value column over `cols` (Morton order).

        Each column is linearly normalized to `bits`-bit rank space using
        its own [min, max] (one tiny agg — the only extra pass), then bit
        i of every column lands at position i*d + column_index, msb-first
        interleaving so high-order bits of all dimensions dominate the
        ordering equally. bits*d <= 60 keeps the Z-value in a long. NULLs
        normalize to 0 (cluster together at the low corner)."""
        d = len(cols)
        bits = min(16, 60 // d)
        lo_hi = df.agg(
            *[F.min(F.col(c).cast("double")).alias(f"lo_{i}") for i, c in enumerate(cols)],
            *[F.max(F.col(c).cast("double")).alias(f"hi_{i}") for i, c in enumerate(cols)],
        ).first()
        top = (1 << bits) - 1
        ranks = []
        for i, c in enumerate(cols):
            lo, hi = lo_hi[f"lo_{i}"], lo_hi[f"hi_{i}"]
            if lo is None or hi is None or hi <= lo:
                ranks.append(F.lit(0).cast("long"))
                continue
            scaled = (F.col(c).cast("double") - F.lit(float(lo))) / F.lit(
                float(hi) - float(lo)
            ) * F.lit(float(top))
            ranks.append(
                F.least(F.lit(top), F.greatest(F.lit(0), F.coalesce(
                    F.floor(scaled), F.lit(0)
                ))).cast("long")
            )
        z = F.lit(0).cast("long")
        for bit in range(bits):
            for i, r in enumerate(ranks):
                pos = (bits - 1 - bit) * d + (d - 1 - i)
                z = z.bitwiseOR(
                    F.shiftleft(
                        F.shiftrightunsigned(r, bits - 1 - bit).bitwiseAND(F.lit(1)),
                        pos,
                    )
                )
        return z

    def checkpoint(self) -> int:
        """Fold the log into `<v>.checkpoint.json`. Manifests <= v can then
        be deleted (truncate_log). Deterministic content per version, so a
        concurrent duplicate checkpoint is harmless (overwrite-ok put,
        same bytes)."""
        st = self.state()
        if st.version < 0:
            return st.version
        cp = {
            "files": list(st.files),
            "apps": st.apps,
            "stats": st.stats,
            "parts": st.parts,
            "dvs": st.dvs,
            "cmap": st.cmap,
            "props": st.props,
            "schema_json": st.schema_json,
        }
        self.store.put(f"{st.version:0{_V_DIGITS}d}.checkpoint.json", cp)
        return st.version

    def truncate_log(self) -> int:
        """Delete manifests covered by the newest checkpoint. Returns the
        number removed."""
        manifests, checkpoints = self._list_log()
        if not checkpoints:
            return 0
        cp_v = checkpoints[-1]
        n = 0
        for v in manifests:
            if v <= cp_v and self.store.delete(self._manifest_name(v)):
                n += 1
        return n

    def vacuum(self, grace_seconds: float = 24 * 3600.0) -> int:
        """Delete data files the LATEST state does not reference (crash
        orphans, replaced/rewritten files) and abandoned ``_staging-*``
        directories (a crash mid-stage, before any file moved to data/),
        both older than `grace_seconds` — the grace window protects
        in-flight stages and held snapshots, exactly Delta's VACUUM
        contract (`deletedFileRetentionDuration`). Returns the number of
        files/directories removed.

        RETENTION CONTRACT vs time travel and the change feed (the
        four-way interplay, pinned by
        tests/test_txlog.py::test_vacuum_retention_vs_time_travel_and_cdf):

        - Within the grace window nothing a manifest can reach is
          touched: every still-listed version time-travels and every
          still-listed range replays through ``changes()``.
        - Past the grace window, a version whose files were REWRITTEN
          away (merge/delete/optimize/replace) still RECONSTRUCTS
          (``state(at_version)`` is metadata-only and manifests are not
          vacuum's concern) but READING it fails loudly at scan time
          with the missing path — never a silently-smaller result. Same
          for a ``changes()`` range that needs a collected file. This is
          Delta's documented behavior: vacuum bounds time-travel/CDF
          retention; ``truncate_log`` is what bounds reconstruction.
        - CDF sidecars and deletion-vector sidecars are live while their
          manifest (respectively their data file) is live, regardless of
          age; only ``truncate_log`` orphans cdc sidecars, after which
          the range raises :class:`TxVersionTruncatedError` and the next
          vacuum collects them."""
        st = self.state()
        live = set(st.files)
        # A live file's deletion-vector sidecar is as live as the file:
        # the read path needs it for every snapshot that can see the file.
        live.update(st.dvs.values())
        # CDF sidecars are referenced by manifests, not table state: keep
        # them while their manifest lives (after truncation the manifest
        # is gone, changes() raises TxVersionTruncatedError for the range,
        # and the sidecar becomes a collectible orphan).
        manifests, _ = self._list_log()
        for v in manifests:
            try:
                live.update(self.store.read(self._manifest_name(v)).get("cdf") or [])
            except FileNotFoundError:
                pass
        now = time.time()
        n = 0
        for name in os.listdir(self.data_path):
            if name in live:
                continue
            p = os.path.join(self.data_path, name)
            try:
                if now - os.path.getmtime(p) >= grace_seconds:
                    os.remove(p)
                    n += 1
            except FileNotFoundError:
                pass
        for name in os.listdir(self.path):
            if not name.startswith("_staging-"):
                continue
            p = os.path.join(self.path, name)
            try:
                if now - os.path.getmtime(p) >= grace_seconds:
                    shutil.rmtree(p, ignore_errors=True)
                    n += 1
            except FileNotFoundError:
                pass
        return n
