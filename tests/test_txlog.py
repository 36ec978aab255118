"""Multi-writer transaction log (storage/txlog.py): commit arbitration,
snapshot isolation, idempotent epoch commits, checkpoint truncation,
vacuum. The commit layer is pure filesystem logic, so the race tests run
many concurrent writers through the REAL protocol (staged pyarrow files +
atomic link claims); Spark is used where DataFrames enter or leave."""

from __future__ import annotations

import json
import os
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from flink_real_time_data_warehouse_spark.storage import (
    MemoryLogStore,
    TxConflictError,
    TxLog,
    TxVersionTruncatedError,
)


def _stage_rows(log: TxLog, ids: list[int]) -> list[str]:
    """Stage one parquet file holding `ids` (bypassing Spark for speed)."""
    name = f"t-{ids[0]}-{os.urandom(8).hex()}.parquet"
    pq.write_table(pa.table({"id": pa.array(ids, pa.int64())}), os.path.join(log.data_path, name))
    return [name]


def _make_log(tmp_path, store_kind: str) -> TxLog:
    """The LogStore seam: the same protocol logic over the POSIX link(2)
    claim or the S3-profile conditional-PUT mock."""
    store = MemoryLogStore() if store_kind == "memory" else None
    return TxLog(str(tmp_path / "t"), store=store)


_SCHEMA_JSON = '{"fields":[{"metadata":{},"name":"id","nullable":true,"type":"long"}],"type":"struct"}'


@pytest.mark.parametrize("store_kind", ["posix", "memory"])
def test_concurrent_appends_all_commit_exactly_once(tmp_path, store_kind):
    """W writers x C commits racing on one table: every commit wins a
    distinct version, the final state contains every row exactly once —
    over BOTH LogStore profiles (POSIX link claim / conditional PUT)."""
    log = _make_log(tmp_path, store_kind)
    W, C = 8, 5

    def writer(w: int) -> list[int]:
        versions = []
        for c in range(C):
            ids = [w * 1000 + c]
            versions.append(
                log.commit_files(_stage_rows(log, ids), schema_json=_SCHEMA_JSON)
            )
        return versions

    with ThreadPoolExecutor(max_workers=W) as ex:
        all_versions = [v for vs in ex.map(writer, range(W)) for v in vs]

    assert sorted(all_versions) == list(range(W * C)), "each commit wins a distinct version"
    st = log.state()
    assert st.version == W * C - 1
    assert len(st.files) == W * C
    # every staged row is in exactly one committed file
    ids = []
    for n in st.files:
        ids.extend(pq.read_table(os.path.join(log.data_path, n)).column("id").to_pylist())
    assert sorted(ids) == sorted(w * 1000 + c for w in range(W) for c in range(C))


@pytest.mark.parametrize("store_kind", ["posix", "memory"])
def test_replace_conflicts_with_concurrent_commit(tmp_path, store_kind):
    """Serializable REPLACE: deriving from v0, a concurrent append moves
    the table to v1, so the replace must fail AND clean its staged file."""
    log = _make_log(tmp_path, store_kind)
    log.commit_files(_stage_rows(log, [1]), schema_json=_SCHEMA_JSON)  # v0
    base = log.state().version
    staged = _stage_rows(log, [99])
    log.commit_files(_stage_rows(log, [2]), schema_json=_SCHEMA_JSON)  # concurrent v1
    with pytest.raises(TxConflictError):
        log.commit_files(
            staged, op="replace", schema_json=_SCHEMA_JSON, expected_version=base
        )
    assert not os.path.exists(os.path.join(log.data_path, staged[0])), "staged file cleaned"
    # retry from the new state succeeds and drops the old files
    staged2 = _stage_rows(log, [99])
    v = log.commit_files(
        staged2, op="replace", schema_json=_SCHEMA_JSON, expected_version=log.state().version
    )
    st = log.state()
    assert st.version == v and list(st.files) == staged2


@pytest.mark.parametrize("store_kind", ["posix", "memory"])
def test_epoch_commit_idempotent_under_replay(tmp_path, store_kind):
    """(app_id, app_version) replay: the second commit of the same epoch is
    skipped, its staged file is deleted, and rows are not duplicated —
    the foreachBatch txnAppId/txnVersion contract."""
    log = _make_log(tmp_path, store_kind)
    v1 = log.commit_files(
        _stage_rows(log, [1]), schema_json=_SCHEMA_JSON, app_id="ing", app_version=0
    )
    replay = _stage_rows(log, [1])
    v2 = log.commit_files(replay, schema_json=_SCHEMA_JSON, app_id="ing", app_version=0)
    assert v2 == v1, "replayed epoch returns current version, commits nothing"
    assert len(log.state().files) == 1
    assert not os.path.exists(os.path.join(log.data_path, replay[0]))
    # a LATER epoch still commits
    v3 = log.commit_files(
        _stage_rows(log, [2]), schema_json=_SCHEMA_JSON, app_id="ing", app_version=1
    )
    assert v3 == v1 + 1 and log.state().apps["ing"] == 1


def test_crash_artifacts_invisible(tmp_path):
    """A crash mid-stage (data file, no manifest) or mid-claim (tmp
    manifest, never linked) must be invisible to state/snapshot."""
    log = TxLog(str(tmp_path / "t"))
    log.commit_files(_stage_rows(log, [1]), schema_json=_SCHEMA_JSON)
    _stage_rows(log, [666])  # staged, never committed
    with open(os.path.join(log.log_path, ".tmp-crashed"), "w") as f:
        f.write(json.dumps({"op": "append", "adds": ["ghost.parquet"]}))
    st = log.state()
    assert st.version == 0 and len(st.files) == 1
    # vacuum(0) collects the orphan, leaves the committed file
    assert log.vacuum(grace_seconds=0.0) == 1
    assert len(os.listdir(log.data_path)) == 1


def test_checkpoint_truncation_and_snapshot(tmp_path, spark):
    """After checkpoint() + truncate_log(), old manifests are GONE yet
    state and snapshot reads are unchanged; commits after the checkpoint
    replay on top of it."""
    log = TxLog(str(tmp_path / "t"))
    df = spark.range(0, 10).selectExpr("id")
    log.append(df)
    log.append(spark.range(10, 20).selectExpr("id"))
    cp_v = log.checkpoint()
    assert log.truncate_log() == cp_v + 1  # manifests 0..cp_v removed
    log.append(spark.range(20, 25).selectExpr("id"))
    st = log.state()
    assert st.version == cp_v + 1
    got = sorted(r["id"] for r in log.snapshot(spark).collect())
    assert got == list(range(25))


def test_snapshot_isolation(tmp_path, spark):
    """A snapshot taken at version v keeps reading v's files even after
    later commits (files are immutable; the listing is fixed once)."""
    log = TxLog(str(tmp_path / "t"))
    log.append(spark.range(0, 5).selectExpr("id"))
    snap = log.snapshot(spark)
    log.append(spark.range(5, 9).selectExpr("id"))
    assert sorted(r["id"] for r in snap.collect()) == list(range(5))
    assert sorted(r["id"] for r in log.snapshot(spark).collect()) == list(range(9))


def test_append_idempotent_via_dataframe_api(tmp_path, spark):
    """DataFrame-level epoch append: replaying (app, epoch) is a no-op and
    the snapshot holds one copy."""
    log = TxLog(str(tmp_path / "t"))
    df = spark.range(0, 7).selectExpr("id")
    v1 = log.append(df, app_id="sink", app_version=3)
    v2 = log.append(df, app_id="sink", app_version=3)
    assert v1 == v2 == 0
    assert sorted(r["id"] for r in log.snapshot(spark).collect()) == list(range(7))


def test_two_concurrent_streaming_sinks_one_table(tmp_path, spark):
    """THE multi-writer payoff: two Structured Streaming sinks (distinct
    app_ids, disjoint slices) run CONCURRENTLY into one TxLog table — the
    situation RouterLock exists to refuse for the marker sink. Both
    succeed, commits interleave via the version-claim protocol, and the
    final snapshot holds every row exactly once."""
    from flink_real_time_data_warehouse_spark.sources.streams import (
        stream_dir,
        write_epoch_files,
    )
    from flink_real_time_data_warehouse_spark.streaming.ingest import start_txlog_sink

    base = str(tmp_path)
    df = spark.range(0, 60).selectExpr("id")
    a = df.where("id % 2 = 0")
    b = df.where("id % 2 = 1")
    sa = write_epoch_files(a, "id", 3, f"{base}/sa", f"{base}/wa")
    sb = write_epoch_files(b, "id", 3, f"{base}/sb", f"{base}/wb")
    log = TxLog(f"{base}/table")
    qa = start_txlog_sink(
        stream_dir(spark, sa, "id long", max_files_per_trigger=1),
        log, f"{base}/cka", app_id="sink-a",
    )
    qb = start_txlog_sink(
        stream_dir(spark, sb, "id long", max_files_per_trigger=1),
        log, f"{base}/ckb", app_id="sink-b",
    )
    qa.awaitTermination()
    qb.awaitTermination()
    st = log.state()
    assert st.apps == {"sink-a": 2, "sink-b": 2}, st.apps
    assert st.version == 5, "six interleaved commits, each a distinct version"
    got = sorted(r["id"] for r in log.snapshot(spark).collect())
    assert got == list(range(60))


def test_merge_upsert_semantics(tmp_path, spark):
    """Type-1 MERGE through the log: updates win on key equality, new keys
    insert, untouched keys survive; each merge is one REPLACE version."""
    log = TxLog(str(tmp_path / "t"))
    log.append(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    v = log.merge(spark, spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string"), "k")
    got = {r["k"]: r["v"] for r in log.snapshot(spark).collect()}
    assert got == {1: "a", 2: "B", 3: "c"} and v == 1


def test_concurrent_merges_serialize_without_lock(tmp_path, spark):
    """Lock-free OCC: four mergers race on one table (disjoint keys). The
    REPLACE conflicts force losers to re-derive and retry; every update
    must land exactly once."""
    log = TxLog(str(tmp_path / "t"))
    log.append(spark.createDataFrame([(0, -1)], "k long, v long"))

    def do_merge(w: int) -> int:
        df = spark.createDataFrame([(100 + w, w)], "k long, v long")
        return log.merge(spark, df, "k", max_retries=30)

    with ThreadPoolExecutor(max_workers=4) as ex:
        versions = list(ex.map(do_merge, range(4)))
    assert sorted(versions) == [1, 2, 3, 4], "each merge serialized to its own version"
    got = {r["k"]: r["v"] for r in log.snapshot(spark).collect()}
    assert got == {0: -1, 100: 0, 101: 1, 102: 2, 103: 3}


def test_optimize_disjoint_file_conflict_rule(tmp_path):
    """Delta's OPTIMIZE conflict semantics at the commit layer: removing
    live files succeeds even after an interleaved append (disjoint files
    never conflict); removing a file that is no longer live conflicts."""
    log = TxLog(str(tmp_path / "t"))
    f1 = _stage_rows(log, [1]); log.commit_files(f1, schema_json=_SCHEMA_JSON)
    f2 = _stage_rows(log, [2]); log.commit_files(f2, schema_json=_SCHEMA_JSON)
    f3 = _stage_rows(log, [3]); log.commit_files(f3, schema_json=_SCHEMA_JSON)  # interleaved append
    packed = _stage_rows(log, [1, 2])
    v = log.commit_files(packed, op="optimize", schema_json=_SCHEMA_JSON, removes=f1 + f2)
    st = log.state()
    assert v == 3 and sorted(st.files) == sorted(packed + f3)
    # f1 is gone now: a second remover of it must conflict and clean up
    ghost = _stage_rows(log, [9])
    with pytest.raises(TxConflictError):
        log.commit_files(ghost, op="optimize", schema_json=_SCHEMA_JSON, removes=f1)
    assert not os.path.exists(os.path.join(log.data_path, ghost[0]))


def test_optimize_packs_files_rows_unchanged(tmp_path, spark):
    """End-to-end OPTIMIZE: six single-file appends bin-pack to <=2 files,
    rows unchanged; vacuum collects the replaced files; a later append
    still works."""
    log = TxLog(str(tmp_path / "t"))
    for i in range(6):
        log.append(spark.createDataFrame([(i,)], "id long").coalesce(1))
    assert len(log.state().files) == 6
    v = log.optimize(spark, max_files=2)
    st = log.state()
    assert v == 6 and len(st.files) <= 2
    assert sorted(r["id"] for r in log.snapshot(spark).collect()) == list(range(6))
    assert log.vacuum(grace_seconds=0.0) == 6, "six replaced small files collected"
    log.append(spark.createDataFrame([(6,)], "id long"))
    assert sorted(r["id"] for r in log.snapshot(spark).collect()) == list(range(7))


def test_stats_based_file_skipping(tmp_path, spark):
    """Manifest-level data skipping: appends committed with stats_cols
    record [min,max] per file from the parquet footers; a pruned snapshot
    lists ONLY intersecting files (checked via inputFiles), survives
    checkpoint/truncate, and files without stats are conservatively kept."""
    log = TxLog(str(tmp_path / "t"))
    for lo in (0, 100, 200):
        log.append(
            spark.range(lo, lo + 50).selectExpr("id").coalesce(1), stats_cols=["id"]
        )
    log.append(spark.createDataFrame([(999,)], "id long").coalesce(1))  # NO stats: always kept
    full = log.snapshot(spark)
    assert len(full.inputFiles()) == 4
    pruned = log.snapshot(spark, prune=("id", 110, 120))
    assert len(pruned.inputFiles()) == 2, "one matching stats file + the stats-less file"
    got = sorted(r["id"] for r in pruned.where("id BETWEEN 110 AND 120").collect())
    assert got == list(range(110, 121))
    # stats survive checkpoint + log truncation
    log.checkpoint()
    log.truncate_log()
    assert len(log.snapshot(spark, prune=("id", 0, 10)).inputFiles()) == 2
    # disjoint range: only the stats-less file remains
    assert len(log.snapshot(spark, prune=("id", 500, 600)).inputFiles()) == 1


def test_file_level_merge_leaves_disjoint_files_untouched(tmp_path, spark):
    """Narrow-key MERGE rewrites ONLY files whose [min,max] for the key
    intersects the update keys: non-intersecting data files keep their
    exact names in the manifest (byte-identical, never read), touched
    files are replaced, and the merged state is the type-1 upsert."""
    log = TxLog(str(tmp_path / "t"))
    for lo in (0, 100, 200):
        log.append(
            spark.range(lo, lo + 50).selectExpr("id AS k", "id * 10 AS v").coalesce(1),
            stats_cols=["k"],
        )
    before = log.state()
    assert len(before.files) == 3
    # updates touch only the middle file's key range [100, 149]
    ups = spark.createDataFrame([(110, -1), (120, -2), (150 + 1000, -3)], "k long, v long")
    ups = ups.where("k < 1000")  # keys 110, 120
    v = log.merge(spark, ups, "k")
    after = log.state()
    untouched = [n for n in before.files if "100" not in n]  # names are opaque; compare sets
    kept = set(before.files) & set(after.files)
    # exactly the two non-intersecting files survive with the same names
    assert len(kept) == 2, (before.files, after.files)
    assert v == 3 and len(after.files) == 3
    got = {r["k"]: r["v"] for r in log.snapshot(spark).collect()}
    assert got[110] == -1 and got[120] == -2 and got[119] == 1190
    assert len(got) == 150 and got[0] == 0 and got[249] == 2490
    del untouched


def test_merge_stats_survive_for_next_merge(tmp_path, spark):
    """merge() records fresh key stats on the files it writes, so a LATER
    narrow merge still prunes: after merging key 10, merging key 210
    touches only the third range's rewrite."""
    log = TxLog(str(tmp_path / "t"))
    for lo in (0, 100, 200):
        log.append(
            spark.range(lo, lo + 50).selectExpr("id AS k", "id AS v").coalesce(1),
            stats_cols=["k"],
        )
    log.merge(spark, spark.createDataFrame([(10, -1)], "k long, v long"), "k")
    before = set(log.state().files)
    log.merge(spark, spark.createDataFrame([(210, -2)], "k long, v long"), "k")
    after = set(log.state().files)
    assert len(before & after) >= 2, "files outside key 210's range survived the second merge"
    got = {r["k"]: r["v"] for r in log.snapshot(spark).collect()}
    assert got[10] == -1 and got[210] == -2 and len(got) == 150


def test_partition_pruned_snapshot(tmp_path, spark):
    """partition_by commits record per-file partition values in the
    manifest; snapshot(partitions=...) drops non-matching files from the
    listing (checked via inputFiles), re-attaches the partition column
    with its declared type, and conservatively keeps files committed
    without partition metadata."""
    log = TxLog(str(tmp_path / "t"))
    df = spark.range(0, 90).selectExpr("id", "CAST(id % 3 AS LONG) AS bucket")
    log.append(df, partition_by="bucket")
    log.append(spark.createDataFrame([(999, 7)], "id long, bucket long").coalesce(1))  # no parts
    full = log.snapshot(spark)
    assert full.count() == 91
    assert set(full.columns) == {"id", "bucket"}
    pruned = log.snapshot(spark, partitions={"bucket": [1]})
    # one partition's file(s) + the metadata-less file
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    got = pruned.where("bucket = 1")
    assert got.count() == 30
    assert dict(got.dtypes)["bucket"] == "bigint", "partition column type restored"
    # partition metadata survives checkpoint + truncation
    log.checkpoint()
    log.truncate_log()
    again = log.snapshot(spark, partitions={"bucket": [2]})
    assert again.where("bucket = 2").count() == 30
    assert len(again.inputFiles()) < len(full.inputFiles())


def test_stats_on_timestamp_column_commit_succeeds(tmp_path, spark):
    """A stats_cols column whose parquet stats are not JSON-safe
    (timestamp) must not poison the commit: the column's stats are
    omitted, the commit lands, no .tmp-* or staged litter remains
    (ADVICE r5)."""
    log = TxLog(str(tmp_path / "t"))
    df = spark.sql(
        "SELECT id, timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id) AS ts "
        "FROM range(5)"
    )
    v = log.append(df.coalesce(1), stats_cols=["ts", "id"])
    assert v == 0
    st = log.state()
    stats = st.stats[st.files[0]]
    assert "id" in stats and "ts" not in stats
    assert [n for n in os.listdir(log.log_path) if n.startswith(".tmp")] == []
    assert log.snapshot(spark).count() == 5


def test_vacuum_sweeps_abandoned_staging_dirs(tmp_path, spark):
    """A crash mid-stage (before any file moved to data/) leaves a
    _staging-* directory under the table root; vacuum collects it after
    the grace window."""
    log = TxLog(str(tmp_path / "t"))
    log.append(spark.range(3).selectExpr("id"))
    ghost = os.path.join(log.path, "_staging-deadbeef")
    os.makedirs(ghost)
    with open(os.path.join(ghost, "part-0.parquet"), "wb") as f:
        f.write(b"torn")
    assert log.vacuum(grace_seconds=1e9) == 0, "grace window protects fresh stages"
    assert log.vacuum(grace_seconds=0.0) == 1
    assert not os.path.exists(ghost)
    assert log.snapshot(spark).count() == 3


def test_state_raises_on_truncated_version(tmp_path):
    """state(at_version) below the newest checkpoint after truncation must
    raise TxVersionTruncatedError, not silently reconstruct an empty
    table (ADVICE r5)."""
    log = TxLog(str(tmp_path / "t"))
    for i in range(4):
        log.commit_files(_stage_rows(log, [i]), schema_json=_SCHEMA_JSON)
    log.checkpoint()  # checkpoint at v3
    assert log.truncate_log() == 4
    assert log.state(at_version=3).version == 3  # from the checkpoint
    with pytest.raises(TxVersionTruncatedError):
        log.state(at_version=1)
    # un-truncated prefix still replays fine on a fresh table
    log2 = TxLog(str(tmp_path / "t2"))
    log2.commit_files(_stage_rows(log2, [0]), schema_json=_SCHEMA_JSON)
    log2.commit_files(_stage_rows(log2, [1]), schema_json=_SCHEMA_JSON)
    assert log2.state(at_version=0).version == 0


def test_state_retries_through_concurrent_truncation(tmp_path):
    """A reader that listed manifests just before truncate_log() deleted
    them must retry against the fresh listing instead of crashing with
    FileNotFoundError (ADVICE r5). Simulated by deleting a listed
    manifest between the listing and the read via a hooked store."""
    log = TxLog(str(tmp_path / "t"))
    for i in range(3):
        log.commit_files(_stage_rows(log, [i]), schema_json=_SCHEMA_JSON)
    log.checkpoint()

    real_list = log.store.list
    fired = {"n": 0}

    def racing_list():
        names = real_list()
        if fired["n"] == 0:
            fired["n"] += 1
            log.truncate_log()  # deletes manifests the listing just returned
        return names

    log.store.list = racing_list
    st = log.state()
    assert st.version == 2 and len(st.files) == 3
    assert fired["n"] == 1


def test_snapshot_multi_predicate_prune(tmp_path, spark):
    """snapshot(prune=[...]) ANDs several [min,max] predicates: files must
    survive every predicate to stay in the listing."""
    log = TxLog(str(tmp_path / "t"))
    for lo in (0, 100, 200):
        log.append(
            spark.range(lo, lo + 50)
            .selectExpr("id AS a", "CAST(1000 - id AS LONG) AS b")
            .coalesce(1),
            stats_cols=["a", "b"],
        )
    # a in [0, 120] keeps files 1+2; b in [0, 910] keeps files 2+3 -> AND = file 2
    pruned = log.snapshot(spark, prune=[("a", 0, 120), ("b", 0, 910)])
    assert len(pruned.inputFiles()) == 1
    got = pruned.where("a BETWEEN 100 AND 120 AND b <= 910")
    assert got.count() == 21


def test_optimize_preserves_stats_by_default(tmp_path, spark):
    """Compaction must not silently erase data-skipping metadata: with no
    stats_cols argument, optimize re-harvests stats for every column the
    manifest already tracked."""
    log = TxLog(str(tmp_path / "t"))
    for lo in range(0, 120, 20):
        log.append(
            spark.range(lo, lo + 20).selectExpr("id").coalesce(1), stats_cols=["id"]
        )
    log.optimize(spark, max_files=2)
    st = log.state()
    assert len(st.files) <= 2
    assert all("id" in st.stats.get(n, {}) for n in st.files), st.stats


def test_optimize_cluster_by_keeps_pruning_effective(tmp_path, spark):
    """Clustered compaction (range-partitioned rewrite): after shuffled
    appends whose per-file ranges all overlap, a plain bin-pack leaves
    every file intersecting every predicate, while cluster_by yields
    disjoint per-file ranges — a narrow prune keeps ONE file again."""
    log = TxLog(str(tmp_path / "t"))
    # interleaved appends: each file spans nearly the full key domain
    for r in range(3):
        log.append(
            spark.range(0, 300).where(f"id % 3 = {r}").coalesce(1),
            stats_cols=["id"],
        )
    assert len(log.snapshot(spark, prune=("id", 10, 20)).inputFiles()) == 3, (
        "interleaved appends: nothing prunable before clustering"
    )
    log.optimize(spark, max_files=3, cluster_by="id")
    st = log.state()
    assert len(st.files) == 3
    pruned = log.snapshot(spark, prune=("id", 10, 20))
    assert len(pruned.inputFiles()) == 1, st.stats
    got = sorted(r["id"] for r in pruned.where("id BETWEEN 10 AND 20").collect())
    assert got == list(range(10, 21))
    # rows survived the rewrite intact
    assert log.snapshot(spark).count() == 300


def test_schema_evolution_merge_schema_read(tmp_path, spark):
    """Additive schema evolution: a later append carries an extra column;
    snapshot(merge_schema=True) resolves the union schema with nulls for
    the rows that predate the column, without rewriting history."""
    log = TxLog(str(tmp_path / "t"))
    log.append(spark.createDataFrame([(1, "a")], "k long, v string"))
    log.append(spark.createDataFrame([(2, "b", 9.5)], "k long, v string, score double"))
    evolved = log.snapshot(spark, merge_schema=True)
    assert set(evolved.columns) == {"k", "v", "score"}
    got = {r["k"]: r["score"] for r in evolved.collect()}
    assert got == {1: None, 2: 9.5}
    # without merge_schema the scan resolves one file's schema (legacy)
    assert log.snapshot(spark).count() == 2


def test_history_audit_trail(tmp_path, spark):
    """history() = DESCRIBE HISTORY: newest-first rows with op and file
    counts; truncated versions collapse into one checkpoint row."""
    log = TxLog(str(tmp_path / "t"))
    log.append(spark.createDataFrame([(1,)], "k long"), app_id="ing", app_version=0)
    log.append(spark.createDataFrame([(2,)], "k long").coalesce(1))
    log.overwrite(spark.createDataFrame([(3,)], "k long").coalesce(1))
    h = log.history()
    assert [r["version"] for r in h] == [2, 1, 0]
    assert h[0]["op"] == "replace" and h[0]["n_removed"] == 0
    assert h[2]["app_id"] == "ing" and h[2]["app_version"] == 0
    log.checkpoint()
    log.truncate_log()
    log.append(spark.createDataFrame([(4,)], "k long").coalesce(1))
    h2 = log.history()
    assert [(r["version"], r["op"]) for r in h2] == [(3, "append"), (2, "checkpoint")]


def test_multi_column_partition_pruning(tmp_path, spark):
    """partition_by accepts a column list: nested Hive dirs lift into
    per-file {col: val} metadata; snapshot(partitions=...) prunes on any
    subset of the columns and re-attaches each with its declared type."""
    log = TxLog(str(tmp_path / "t"))
    df = spark.range(0, 120).selectExpr(
        "id", "CAST(id % 2 AS LONG) AS a", "CASE WHEN id % 3 = 0 THEN 'x' ELSE 'y' END AS b"
    )
    log.append(df, partition_by=["a", "b"])
    full = log.snapshot(spark)
    assert full.count() == 120 and set(full.columns) == {"id", "a", "b"}
    one = log.snapshot(spark, partitions={"a": [1], "b": ["x"]})
    assert len(one.inputFiles()) < len(full.inputFiles())
    got = one.where("a = 1 AND b = 'x'")
    assert got.count() == df.where("a = 1 AND b = 'x'").count()
    assert dict(got.dtypes)["a"] == "bigint"
    # pruning on ONE of the two columns also works
    half = log.snapshot(spark, partitions={"b": ["y"]})
    assert half.where("b = 'y'").count() == df.where("b = 'y'").count()


def test_change_feed_incremental_reads(tmp_path, spark):
    """changes(from, to] returns exactly the appended rows per commit with
    their _commit_version; a non-append commit in the range raises (feed
    consumers must re-sync); truncated ranges raise."""
    log = TxLog(str(tmp_path / "t"))
    for lo in (0, 10, 20):
        log.append(spark.range(lo, lo + 10).selectExpr("id"))
    feed = log.changes(spark, from_version=0)
    got = {(r["id"], r["_commit_version"]) for r in feed.collect()}
    assert got == {(i, 1) for i in range(10, 20)} | {(i, 2) for i in range(20, 30)}
    assert log.changes(spark, 2).count() == 0  # caught up
    # replace at v3 poisons feeds crossing it, not feeds before it
    log.overwrite(spark.range(5).selectExpr("id"))
    with pytest.raises(TxConflictError, match="replace"):
        log.changes(spark, 0).collect()
    assert log.changes(spark, 0, to_version=2).count() == 20
    # truncation below the requested range raises
    log.checkpoint()
    log.truncate_log()
    with pytest.raises(TxVersionTruncatedError):
        log.changes(spark, 0, to_version=2)


def test_delete_file_level_classification(tmp_path, spark):
    """Range DELETE is file-granular: a window strictly inside one file's
    key range rewrites ONLY that file (the two disjoint files keep their
    exact manifest names), and a range fully covering a file drops it as
    pure metadata — zero adds in the commit, the file is never read."""
    log = TxLog(str(tmp_path / "t"))
    for lo in (0, 100, 200):
        log.append(
            spark.range(lo, lo + 50).selectExpr("id AS k", "id * 10 AS v").coalesce(1),
            stats_cols=["k"],
        )
    before = set(log.state().files)
    # partial overlap: [110, 120] sits strictly inside the middle file
    log.delete(spark, "k", 110, 120)
    after = set(log.state().files)
    assert len(before & after) == 2, "disjoint files must survive untouched"
    got = sorted(r["k"] for r in log.snapshot(spark).collect())
    live = set(range(0, 50)) | set(range(100, 150)) | set(range(200, 250))
    assert got == sorted(live - set(range(110, 121)))
    assert 109 in got and 121 in got
    # full cover: [0, 99] swallows the first file whole -> metadata-only drop
    mid = set(log.state().files)
    log.delete(spark, "k", 0, 99)
    h = log.history()[0]
    assert h["op"] == "delete" and h["n_added"] == 0 and h["n_removed"] == 1
    assert set(log.state().files) < mid
    assert log.snapshot(spark).where("k < 100").count() == 0
    assert log.snapshot(spark).count() == (50 - 11) + 50


def test_delete_with_condition_and_null_keys(tmp_path, spark):
    """A `condition` forces row inspection (no whole-file metadata drop
    even when the range covers the file), and NULL-key rows are KEPT —
    DELETE removes only rows where the predicate is TRUE."""
    log = TxLog(str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "a"), (None, "a")], "k long, tag string"
    ).coalesce(1)
    log.append(df, stats_cols=["k"])
    # range [1,3] covers the file's [min,max], but condition gates the drop
    log.delete(spark, "k", 1, 3, condition="tag = 'a'")
    h = log.history()[0]
    assert h["op"] == "delete" and h["n_added"] >= 1, "condition => rewrite, not drop"
    got = {(r["k"], r["tag"]) for r in log.snapshot(spark).collect()}
    assert got == {(2, "b"), (None, "a")}, "k=2 fails cond; NULL k never matches"


def test_delete_noop_and_stats_survive(tmp_path, spark):
    """A delete range disjoint from every file commits nothing (version
    unchanged); rewritten files re-record key stats so a LATER pruned
    snapshot still skips."""
    log = TxLog(str(tmp_path / "t"))
    for lo in (0, 100):
        log.append(
            spark.range(lo, lo + 50).selectExpr("id AS k").coalesce(1),
            stats_cols=["k"],
        )
    v = log.state().version
    assert log.delete(spark, "k", 500, 600) == v, "disjoint range is a no-op"
    log.delete(spark, "k", 120, 130)  # rewrites the second file
    pruned = log.snapshot(spark, prune=("k", 0, 10))
    assert len(pruned.inputFiles()) == 1, "rewritten file must carry fresh stats"


def test_zorder_multi_column_clustering_prunes_both_dims(tmp_path, spark):
    """optimize(cluster_by=[x, y]) Z-orders the rewrite: a narrow prune on
    EITHER column must skip most files (multidimensional locality), where
    1-column clustering only ever helps its own column — and the
    clustered table is byte-equal to the original rows."""
    df = spark.range(0, 4096).selectExpr("id % 64 AS x", "id DIV 64 AS y", "id AS v")
    log = TxLog(str(tmp_path / "z"))
    log.append(df.repartition(4), stats_cols=["x", "y"])
    log.optimize(spark, max_files=16, cluster_by=["x", "y"])
    assert len(log.state().files) <= 16
    kept_x = len(log.snapshot(spark, prune=("x", 0, 7)).inputFiles())
    kept_y = len(log.snapshot(spark, prune=("y", 0, 7)).inputFiles())
    assert kept_x <= 8 and kept_y <= 8, (kept_x, kept_y)
    # correctness: pruned scan + row filter == direct filter
    got = sorted(
        r["v"]
        for r in log.snapshot(spark, prune=("x", 0, 7)).where("x <= 7").collect()
    )
    assert got == sorted(r["v"] for r in df.where("x <= 7").collect())
    # contrast: 1-column clustering cannot prune the other dimension
    lin = TxLog(str(tmp_path / "lin"))
    lin.append(df.repartition(4), stats_cols=["x", "y"])
    lin.optimize(spark, max_files=16, cluster_by="x")
    assert len(lin.snapshot(spark, prune=("y", 0, 7)).inputFiles()) == len(
        lin.state().files
    ), "every x-clustered file spans the full y range"


def test_bloom_point_lookup_skips_hash_distributed_files(tmp_path, spark):
    """Files split by key HASH span the full key range each — [min,max]
    stats can never prune them — but per-file Bloom filters must: a
    point lookup keeps only files that may hold the key, never drops a
    true hit, and blooms survive checkpoint/truncation and removal."""
    log = TxLog(str(tmp_path / "t"))
    for r in range(3):
        log.append(
            spark.range(0, 3000).selectExpr("id AS k", "id * 2 AS v")
            .where(f"k % 3 = {r}").coalesce(1),
            stats_cols=["k"], bloom_cols=["k"],
        )
    st = log.state()
    # range stats are useless here: every file intersects [100, 110]
    kept_range = len(log.snapshot(spark, prune=("k", 100, 110)).inputFiles())
    assert kept_range == 3
    # bloom prune: key 601 (= 1 mod 3) lives in exactly one file
    snap = log.snapshot(spark, bloom=("k", [601]))
    assert len(snap.inputFiles()) <= 2, "bloom must drop non-candidate files"
    assert [r["v"] for r in snap.where("k = 601").collect()] == [1202]
    # multi-value: residues 0 and 1 -> at least the two holding files kept
    snap2 = log.snapshot(spark, bloom=("k", [600, 601]))
    got = sorted(r["k"] for r in snap2.where("k IN (600, 601)").collect())
    assert got == [600, 601]
    # blooms survive checkpoint + truncation
    log.checkpoint()
    log.truncate_log()
    assert len(log.snapshot(spark, bloom=("k", [601])).inputFiles()) <= 2
    # absent key: may keep fpp files but the row filter yields nothing
    assert log.snapshot(spark, bloom=("k", [99999])).where("k = 99999").count() == 0
    del st


def test_bloom_absent_metadata_is_conservative(tmp_path, spark):
    """Files committed without bloom_cols are always kept by a bloom
    prune (never wrongly skipped)."""
    log = TxLog(str(tmp_path / "t"))
    log.append(spark.range(0, 10).selectExpr("id AS k").coalesce(1))  # no bloom
    log.append(
        spark.range(10, 20).selectExpr("id AS k").coalesce(1), bloom_cols=["k"]
    )
    snap = log.snapshot(spark, bloom=("k", [5]))
    assert len(snap.inputFiles()) >= 1
    assert snap.where("k = 5").count() == 1


def test_apply_cdc_atomic_upserts_and_deletes(tmp_path, spark):
    """One CDC batch with updates, deletes, and inserts lands in ONE
    manifest; files no change key touches survive by name (exact key-set
    classification — a batch spanning low AND high keys must not rewrite
    the disjoint middle file the [min,max] envelope would)."""
    log = TxLog(str(tmp_path / "t"))
    for lo in (0, 100, 200):
        log.append(
            spark.range(lo, lo + 50).selectExpr("id AS k", "id * 10 AS v").coalesce(1),
            stats_cols=["k"],
        )
    before = set(log.state().files)
    # updates at the LOW end, deletes at the HIGH end, one brand-new key:
    # the middle file [100,149] is inside the batch's [min,max] envelope
    # but holds no change key — exact classification must skip it.
    changes = spark.createDataFrame(
        [(5, -5, "u"), (7, -7, "u"), (230, None, "d"), (240, None, "d"),
         (999, 42, "i")],
        "k long, v long, op string",
    )
    v = log.apply_cdc(spark, changes, "k")
    h = log.history()[0]
    assert h["op"] == "cdc" and h["version"] == v
    kept = before & set(log.state().files)
    assert len(kept) == 1, "middle file must survive untouched"
    got = {r["k"]: r["v"] for r in log.snapshot(spark).collect()}
    assert got[5] == -5 and got[7] == -7 and got[999] == 42
    assert 230 not in got and 240 not in got
    assert got[125] == 1250 and len(got) == 150 - 2 + 1


def test_apply_cdc_insert_only_batch_touches_nothing(tmp_path, spark):
    """A pure-insert CDC batch (keys beyond every file's range) rewrites
    no existing file."""
    log = TxLog(str(tmp_path / "t"))
    log.append(
        spark.range(0, 50).selectExpr("id AS k", "id AS v").coalesce(1),
        stats_cols=["k"],
    )
    before = set(log.state().files)
    ins = spark.createDataFrame([(100, 1, "i"), (101, 2, "i")], "k long, v long, op string")
    log.apply_cdc(spark, ins, "k")
    assert before <= set(log.state().files)
    assert log.snapshot(spark).count() == 52


def test_concurrent_cdc_appliers_serialize_without_lock(tmp_path, spark):
    """Two CDC appliers race on one table (disjoint key windows): OCC
    must serialize them — both batches land, neither clobbers the other,
    and the loser re-derives from the winner's state."""
    log = TxLog(str(tmp_path / "t"))
    log.append(
        spark.range(0, 100).selectExpr("id AS k", "id AS v").coalesce(1),
        stats_cols=["k"],
    )
    a = spark.createDataFrame([(5, -5, "u"), (6, None, "d")], "k long, v long, op string")
    b = spark.createDataFrame([(90, -90, "u"), (91, None, "d")], "k long, v long, op string")

    def apply(ch):
        return log.apply_cdc(spark, ch, "k")

    with ThreadPoolExecutor(max_workers=2) as ex:
        va, vb = ex.map(apply, [a, b])
    assert {va, vb} == {1, 2}, "each apply wins its own version"
    got = {r["k"]: r["v"] for r in log.snapshot(spark).collect()}
    assert got[5] == -5 and got[90] == -90
    assert 6 not in got and 91 not in got
    assert got[50] == 50 and len(got) == 98


def test_delete_conflicts_with_concurrent_optimize(tmp_path, spark):
    """DELETE runs under the disjoint-file rule: an optimize that rewrote
    the files mid-delete forces the delete to re-derive and retry — final
    state = compacted MINUS deleted, regardless of interleaving."""
    log = TxLog(str(tmp_path / "t"))
    for lo in (0, 30, 60):
        log.append(
            spark.range(lo, lo + 30).selectExpr("id AS k").coalesce(1),
            stats_cols=["k"],
        )

    def compact():
        return log.optimize(spark, max_files=1, cluster_by="k")

    def purge():
        return log.delete(spark, "k", 10, 19)

    with ThreadPoolExecutor(max_workers=2) as ex:
        fc, fp = ex.submit(compact), ex.submit(purge)
        fc.result(), fp.result()
    got = sorted(r["k"] for r in log.snapshot(spark).collect())
    assert got == [k for k in range(90) if not 10 <= k <= 19]


def test_check_constraints_enforced_on_every_write_path(tmp_path, spark):
    """ADD CONSTRAINT survives the log (replay + checkpoint) and gates
    append, overwrite, merge, and apply_cdc upserts — a violating batch
    raises BEFORE anything commits, a clean batch passes, and NULL
    predicate results count as violations."""
    log = TxLog(str(tmp_path / "t"))
    log.add_constraint("v_nonneg", "v >= 0")
    assert log.constraints() == {"v_nonneg": "v >= 0"}
    ok = spark.createDataFrame([(1, 10), (2, 0)], "k long, v long")
    log.append(ok, stats_cols=["k"])
    v_before = log.state().version
    bad = spark.createDataFrame([(3, -1)], "k long, v long")
    with pytest.raises(ValueError, match="v_nonneg"):
        log.append(bad)
    with pytest.raises(ValueError, match="v_nonneg"):
        log.overwrite(bad)
    with pytest.raises(ValueError, match="v_nonneg"):
        log.merge(spark, bad, "k")
    with pytest.raises(ValueError, match="v_nonneg"):
        log.apply_cdc(
            spark,
            spark.createDataFrame([(3, -1, "u")], "k long, v long, op string"),
            "k",
        )
    # NULL counts as a violation (same as Delta)
    with pytest.raises(ValueError, match="v_nonneg"):
        log.append(spark.createDataFrame([(4, None)], "k long, v long"))
    assert log.state().version == v_before, "no violating write committed"
    # deletes in a CDC batch are exempt (their payload is null by design)
    log.apply_cdc(
        spark,
        spark.createDataFrame([(1, None, "d")], "k long, v long, op string"),
        "k",
    )
    assert sorted(r["k"] for r in log.snapshot(spark).collect()) == [2]
    # constraints survive checkpoint + truncation
    log.checkpoint()
    log.truncate_log()
    assert log.constraints() == {"v_nonneg": "v >= 0"}
    with pytest.raises(ValueError, match="v_nonneg"):
        log.append(bad)
    # idempotent re-add commits nothing new
    v = log.state().version
    assert log.add_constraint("v_nonneg", "v >= 0") == v


def test_bloom_filters_survive_optimize(tmp_path, spark):
    """Compaction re-computes bloom filters for the packed files, so a
    point-lookup prune keeps skipping after optimize — and the [min,max]
    stats path is untouched by the bloom bookkeeping."""
    log = TxLog(str(tmp_path / "t"))
    for r in range(4):
        log.append(
            spark.range(0, 4000).selectExpr("id AS k")
            .where(f"k % 4 = {r}").coalesce(1),
            bloom_cols=["k"],
        )
    log.optimize(spark, max_files=2)
    st = log.state()
    assert len(st.files) <= 2
    assert all("bloom:k" in st.stats.get(n, {}) for n in st.files), st.stats.keys()
    snap = log.snapshot(spark, bloom=("k", [17]))
    assert snap.where("k = 17").count() == 1


def test_apply_scd2_history_and_file_classification(tmp_path, spark):
    """SCD2 apply: current rows close (valid_to = new stamp), updates
    become the new current rows, history rides along, unseen keys
    insert, and files holding no updated key survive by name."""
    log = TxLog(str(tmp_path / "t"))
    init = spark.createDataFrame(
        [(k, "old", 0, None, True) for k in range(0, 100)],
        "k long, seg string, valid_from long, valid_to long, is_current boolean",
    )
    for lo in (0, 50):
        log.append(
            init.where(f"k >= {lo} AND k < {lo + 50}").coalesce(1), stats_cols=["k"]
        )
    before = set(log.state().files)
    # batch 1: keys 10..19 -> A at t=1 (touches only the first file)
    u1 = spark.createDataFrame(
        [(k, "A", 1) for k in range(10, 20)] + [(200, "NEW", 1)],
        "k long, seg string, valid_from long",
    )
    log.apply_scd2(spark, u1, "k")
    kept = before & set(log.state().files)
    assert len(kept) == 1, "second file holds no updated key: must survive"
    # batch 2: keys 15..24 -> B at t=2 (overlaps batch 1's window)
    u2 = spark.createDataFrame(
        [(k, "B", 2) for k in range(15, 25)], "k long, seg string, valid_from long"
    )
    log.apply_scd2(spark, u2, "k")
    rows = {
        (r["k"], r["seg"], r["valid_from"]): (r["valid_to"], r["is_current"])
        for r in log.snapshot(spark).collect()
    }
    assert rows[(5, "old", 0)] == (None, True)         # untouched key
    assert rows[(12, "old", 0)] == (1, False)          # closed by batch 1
    assert rows[(12, "A", 1)] == (None, True)          # still current
    assert rows[(17, "old", 0)] == (1, False)          # closed by batch 1
    assert rows[(17, "A", 1)] == (2, False)            # closed by batch 2
    assert rows[(17, "B", 2)] == (None, True)
    assert rows[(22, "old", 0)] == (2, False)          # closed by batch 2 only
    assert rows[(22, "B", 2)] == (None, True)
    assert rows[(200, "NEW", 1)] == (None, True)       # insert
    # exactly one current row per live key
    cur = log.snapshot(spark).where("is_current").groupBy("k").count()
    assert cur.where("count > 1").count() == 0


def test_concurrent_scd2_appliers_serialize_without_lock(tmp_path, spark):
    """Two SCD2 appliers race on one dim (disjoint key windows): OCC must
    serialize them — both histories land, exactly one current row per
    key, and neither batch clobbers the other's closes."""
    log = TxLog(str(tmp_path / "t"))
    init = spark.createDataFrame(
        [(k, "old", 0, None, True) for k in range(0, 40)],
        "k long, seg string, valid_from long, valid_to long, is_current boolean",
    )
    log.append(init.coalesce(1), stats_cols=["k"])
    a = spark.createDataFrame([(k, "A", 1) for k in range(0, 5)],
                              "k long, seg string, valid_from long")
    b = spark.createDataFrame([(k, "B", 1) for k in range(30, 35)],
                              "k long, seg string, valid_from long")

    def apply(u):
        return log.apply_scd2(spark, u, "k")

    with ThreadPoolExecutor(max_workers=2) as ex:
        va, vb = ex.map(apply, [a, b])
    assert {va, vb} == {1, 2}
    snap = log.snapshot(spark)
    cur = snap.where("is_current").groupBy("k").count()
    assert cur.where("count > 1").count() == 0
    rows = {(r["k"], r["seg"]): (r["valid_to"], r["is_current"]) for r in snap.collect()}
    assert rows[(2, "A")] == (None, True) and rows[(2, "old")] == (1, False)
    assert rows[(32, "B")] == (None, True) and rows[(32, "old")] == (1, False)
    assert rows[(20, "old")] == (None, True)


def test_zorder_three_columns(tmp_path, spark):
    """Z-order generalizes past two dimensions: with three independent
    columns, a narrow prune on EACH skips files (bits_per_col drops to
    60//3 but the interleave math must stay correct and lossless)."""
    df = spark.range(0, 4096).selectExpr(
        "id % 16 AS x", "(id DIV 16) % 16 AS y", "id DIV 256 AS z2", "id AS v"
    )
    log = TxLog(str(tmp_path / "z3"))
    log.append(df.repartition(4), stats_cols=["x", "y", "z2"])
    log.optimize(spark, max_files=8, cluster_by=["x", "y", "z2"])
    n = len(log.state().files)
    for col in ("x", "y", "z2"):
        kept = len(log.snapshot(spark, prune=(col, 0, 1)).inputFiles())
        assert kept < n, f"{col}: no files skipped ({kept}/{n})"
    got = sorted(r["v"] for r in log.snapshot(spark).collect())
    assert got == list(range(4096)), "clustering must be lossless"


def test_delete_on_bloom_only_files_is_conservative(tmp_path, spark):
    """A file committed with bloom_cols but NO [min,max] stats has no
    range metadata: a range delete must conservatively rewrite it (never
    skip it as disjoint, never drop it whole)."""
    log = TxLog(str(tmp_path / "t"))
    log.append(
        spark.range(0, 50).selectExpr("id AS k").coalesce(1), bloom_cols=["k"]
    )
    log.delete(spark, "k", 10, 19)
    got = sorted(r["k"] for r in log.snapshot(spark).collect())
    assert got == [k for k in range(50) if not 10 <= k <= 19]


def test_cdf_feed_serves_cdc_commits(tmp_path, spark):
    """changes(cdf=True) replays a CDC commit from its sidecar files:
    inserts typed 'insert', upserts with payload, deletes as key+NULL —
    while the default feed still refuses the cdc commit (exactness
    contract unchanged). Sidecars survive a replayed epoch without
    duplication and vacuum spares them while their manifest lives."""
    log = TxLog(str(tmp_path / "t"))
    log.append(
        spark.createDataFrame([(k, k * 10) for k in range(5)], "k long, v long")
        .coalesce(1),
        stats_cols=["k"],
    )
    ch = spark.createDataFrame(
        [(1, -1, "u"), (3, None, "d"), (100, 5, "i")], "k long, v long, op string"
    )
    log.apply_cdc(spark, ch, "k", app_id="cdc", app_version=0)
    log.apply_cdc(spark, ch, "k", app_id="cdc", app_version=0)  # replay: skipped
    feed = log.changes(spark, from_version=-1, cdf=True)
    got = {
        (r["k"], r["_change_type"], r["_commit_version"]): r["v"]
        for r in feed.collect()
    }
    assert got[(1, "upsert", 1)] == -1 and got[(100, "upsert", 1)] == 5
    assert got[(3, "delete", 1)] is None
    assert got[(0, "insert", 0)] == 0 and len(got) == 5 + 3
    with pytest.raises(TxConflictError, match="cdc"):
        log.changes(spark, from_version=-1)  # default feed: exactness holds
    # a grace-window vacuum collects nothing: full feed still readable
    assert log.vacuum() == 0
    assert log.changes(spark, -1, cdf=True).count() == 8
    # zero-grace vacuum collects the cdc-REPLACED data file — v0's insert
    # rows are gone with it (vacuum bounds feed retention, same as Delta)
    # but the SIDECAR survives: the cdc commit's slice still replays
    assert log.vacuum(grace_seconds=0.0) == 1
    assert log.changes(spark, from_version=0, cdf=True).count() == 3
    # after checkpoint+truncation the manifest is gone: the range raises
    # and the orphaned sidecar becomes collectible
    log.checkpoint()
    log.truncate_log()
    with pytest.raises(TxVersionTruncatedError):
        log.changes(spark, -1, cdf=True)
    assert log.vacuum(grace_seconds=0.0) >= 1
    # table state itself is untouched throughout
    got2 = {r["k"]: r["v"] for r in log.snapshot(spark).collect()}
    assert got2 == {0: 0, 1: -1, 2: 20, 4: 40, 100: 5}


def test_deletion_vectors_read_checkpoint_vacuum(tmp_path, spark):
    """DELETION VECTORS end-to-end (ADVICE r6 — the read path): a commit
    carrying dvs={file: sidecar} hides the sidecar's (file, pos) rows from
    every snapshot; the mapping survives checkpoint+truncate_log; vacuum
    treats a live file's sidecar as live; a newer DV replaces the older
    wholesale; removing the file drops its DV and orphans the sidecar."""
    log = TxLog(str(tmp_path / "t"))
    name = _stage_rows(log, list(range(10)))[0]

    def stage_dv(positions: list[int]) -> str:
        dv = f"dv-{os.urandom(6).hex()}.parquet"
        pq.write_table(
            pa.table({"file": [name] * len(positions),
                      "pos": pa.array(positions, pa.int64())}),
            os.path.join(log.data_path, dv),
        )
        return dv

    dv1 = stage_dv([1, 3])
    log.commit_files([name], schema_json=_SCHEMA_JSON, dvs={name: dv1})
    assert sorted(r["id"] for r in log.snapshot(spark).collect()) == [
        0, 2, 4, 5, 6, 7, 8, 9
    ]
    # survives checkpoint + truncation (dvs is part of the checkpoint)
    log.checkpoint()
    log.truncate_log()
    assert sorted(r["id"] for r in log.snapshot(spark).collect()) == [
        0, 2, 4, 5, 6, 7, 8, 9
    ]
    # a live file's sidecar is live: zero-grace vacuum collects nothing
    assert log.vacuum(grace_seconds=0.0) == 0
    assert log.snapshot(spark).count() == 8
    # newer DV replaces the older WHOLESALE (cumulative positions)
    dv2 = stage_dv([1, 3, 5, 7])
    log.commit_files([], schema_json=_SCHEMA_JSON, dvs={name: dv2})
    assert sorted(r["id"] for r in log.snapshot(spark).collect()) == [0, 2, 4, 6, 8, 9]
    # dv1 is now unreferenced: exactly the old sidecar is collected
    assert log.vacuum(grace_seconds=0.0) == 1
    assert not os.path.exists(os.path.join(log.data_path, dv1))
    # rewriting the file away drops its DV mapping with it
    repl = _stage_rows(log, [100])
    log.commit_files(repl, schema_json=_SCHEMA_JSON, removes=[name])
    assert sorted(r["id"] for r in log.snapshot(spark).collect()) == [100]
    assert log.state().dvs == {}
    assert log.vacuum(grace_seconds=0.0) == 2  # old data file + dv2


def test_apply_cdc_rejects_null_op(tmp_path, spark):
    """A NULL op_col row is a malformed envelope: apply_cdc raises before
    staging anything instead of silently deleting the row's key
    (ADVICE r6)."""
    log = TxLog(str(tmp_path / "t"))
    log.append(
        spark.createDataFrame([(1, 10), (2, 20)], "k long, v long").coalesce(1),
        stats_cols=["k"],
    )
    bad = spark.createDataFrame(
        [(1, 11, "u"), (2, 22, None)], "k long, v long, op string"
    )
    with pytest.raises(ValueError, match="NULL 'op'"):
        log.apply_cdc(spark, bad, "k")
    assert log.state().version == 0  # nothing committed
    got = {r["k"]: r["v"] for r in log.snapshot(spark).collect()}
    assert got == {1: 10, 2: 20}  # key 2 NOT silently deleted


def test_change_feed_skips_metadata_only_commits(tmp_path, spark):
    """An add_constraint landing mid-range (zero adds, zero removes) no
    longer forces incremental consumers into a full re-sync: changes()
    skips it (ADVICE r6); real rewrite commits still raise."""
    log = TxLog(str(tmp_path / "t"))
    log.commit_files(_stage_rows(log, [1, 2]), schema_json=_SCHEMA_JSON)
    log.add_constraint("pos", "id > 0")  # v1: metadata-only
    log.commit_files(_stage_rows(log, [3]), schema_json=_SCHEMA_JSON)  # v2
    feed = log.changes(spark, from_version=-1)
    assert sorted(r["id"] for r in feed.collect()) == [1, 2, 3]
    assert sorted(set(r["_commit_version"] for r in feed.collect())) == [0, 2]


def test_state_raises_on_nonexistent_future_version(tmp_path, spark):
    """Time travel to a version that does not exist raises instead of
    silently serving the latest state (ADVICE r6, Delta's contract)."""
    log = TxLog(str(tmp_path / "t"))
    log.commit_files(_stage_rows(log, [1]), schema_json=_SCHEMA_JSON)  # v0
    assert log.state(at_version=0).version == 0
    with pytest.raises(ValueError, match="does not exist"):
        log.state(at_version=5)
    with pytest.raises(ValueError, match="does not exist"):
        log.snapshot(spark, version=5)


def test_bloom_col_overlapping_partition_col(tmp_path, spark):
    """bloom_cols ∩ partition_by no longer crashes the stage (ADVICE r6):
    the partition column is excluded from the bloom pass (parts metadata
    already prunes it exactly); blooms on the remaining columns and
    partition pruning both stay effective."""
    log = TxLog(str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(p, k) for p in ("a", "b") for k in range(50)], "p string, k long"
    ).repartition(2, "p")
    log.append(df, partition_by="p", bloom_cols=["p", "k"], stats_cols=["k"])
    st = log.state()
    assert all("bloom:p" not in s for s in st.stats.values())
    assert any("bloom:k" in s for s in st.stats.values())
    snap = log.snapshot(spark, partitions={"p": ["a"]})
    assert snap.count() == 50 and set(r["p"] for r in snap.collect()) == {"a"}


def _stage_keyed(log: TxLog, ids: list[int]) -> tuple[list[str], dict]:
    """Stage one file + its [min,max] 'id' stats (as append would record)."""
    names = _stage_rows(log, ids)
    return names, {names[0]: {"id": [min(ids), max(ids)]}}


def test_conflict_revalidation_disjoint_append_commits_first_try(tmp_path):
    """Delta-paper logical conflict check (r6 verdict task 3): a commit
    derived at v1 that races a DISJOINT append (keys provably outside the
    merge's range) re-targets the new head and commits WITHOUT raising —
    one attempt each; an OVERLAPPING (or stats-less) append still raises."""
    log = TxLog(str(tmp_path / "t"))
    a, sa = _stage_keyed(log, list(range(10)))       # v0: keys 0-9
    log.commit_files(a, schema_json=_SCHEMA_JSON, stats=sa)
    b, sb = _stage_keyed(log, list(range(100, 110)))  # v1: keys 100-109
    log.commit_files(b, schema_json=_SCHEMA_JSON, stats=sb)

    # merge-shaped commit derived at v1, touching file a (keys 0-9) ...
    m1, sm1 = _stage_keyed(log, [0, 1, 2])
    # ... races a disjoint append that lands v2 first
    c, sc = _stage_keyed(log, list(range(500, 510)))
    log.commit_files(c, schema_json=_SCHEMA_JSON, stats=sc)
    ok = TxLog._disjoint_range_ok(set(a), "id", 0, 9)
    v = log.commit_files(
        m1, op="merge", schema_json=_SCHEMA_JSON, removes=a,
        expected_version=1, stats=sm1, conflict_ok=ok,
    )
    assert v == 3  # re-targeted past the benign append, no TxConflictError
    st = log.state()
    assert set(st.files) == set(b) | set(c) | set(m1)

    # an OVERLAPPING append is NOT benign: same shape raises
    m2, sm2 = _stage_keyed(log, [100, 101])
    d, sd = _stage_keyed(log, [105, 106])  # overlaps merge range 100-109
    log.commit_files(d, schema_json=_SCHEMA_JSON, stats=sd)
    with pytest.raises(TxConflictError):
        log.commit_files(
            m2, op="merge", schema_json=_SCHEMA_JSON, removes=b,
            expected_version=3, stats=sm2,
            conflict_ok=TxLog._disjoint_range_ok(set(b), "id", 100, 109),
        )
    # a STATS-LESS append is unprovable, hence not benign either
    # (m3 derived at v4 — the failed m2 attempt committed nothing)
    m3, sm3 = _stage_keyed(log, [0])
    e = _stage_rows(log, [900])
    log.commit_files(e, schema_json=_SCHEMA_JSON)  # v5, no stats recorded
    with pytest.raises(TxConflictError):
        log.commit_files(
            m3, op="merge", schema_json=_SCHEMA_JSON, removes=m1,
            expected_version=4, stats=sm3,
            conflict_ok=TxLog._disjoint_range_ok(set(m1), "id", 0, 2),
        )


def test_merge_races_disjoint_append_one_attempt_each(tmp_path, spark):
    """End-to-end: merge() racing a disjoint-key append derives its output
    exactly ONCE (no retry re-derive) and both commits land — the
    disjoint-writer throughput shape that matters at fact scale."""
    log = TxLog(str(tmp_path / "t"))
    log.append(
        spark.createDataFrame([(k, 0) for k in range(10)], "k long, v long")
        .coalesce(1),
        stats_cols=["k"],
    )
    derives = []
    orig_stage = log._stage

    def stage_spy(df, *a, **kw):
        out = orig_stage(df, *a, **kw)
        if not derives:  # after merge derives+stages, land a disjoint append
            derives.append(1)
            log.append(
                spark.createDataFrame([(k, 9) for k in range(1000, 1010)],
                                      "k long, v long").coalesce(1),
                stats_cols=["k"],
            )
        return out

    log._stage = stage_spy
    upd = spark.createDataFrame([(3, 33), (7, 77)], "k long, v long")
    log.merge(spark, upd, "k")
    log._stage = orig_stage
    assert len(derives) == 1  # one derive: conflict re-validated as benign
    got = {r["k"]: r["v"] for r in log.snapshot(spark).collect()}
    assert got[3] == 33 and got[7] == 77 and got[1000] == 9 and len(got) == 20


def test_cdc_races_overlapping_append_rederives(tmp_path, spark):
    """The guard rail: a concurrent append whose keys DO intersect the CDC
    batch forces a re-derive, and the re-derived output includes the
    appended rows in its base — no lost update, no resurrection."""
    log = TxLog(str(tmp_path / "t"))
    log.append(
        spark.createDataFrame([(k, 0) for k in range(10)], "k long, v long")
        .coalesce(1),
        stats_cols=["k"],
    )
    fired = []
    orig_stage = log._stage

    def stage_spy(df, *a, **kw):
        out = orig_stage(df, *a, **kw)
        if not fired:  # overlapping key 3 lands after the cdc derives
            fired.append(1)
            log.append(
                spark.createDataFrame([(3, -3)], "k long, v long").coalesce(1),
                stats_cols=["k"],
            )
        return out

    log._stage = stage_spy
    ch = spark.createDataFrame([(3, 333, "u"), (5, None, "d")],
                               "k long, v long, op string")
    log.apply_cdc(spark, ch, "k")
    log._stage = orig_stage
    got = {r["k"]: r["v"] for r in log.snapshot(spark).collect()}
    assert got[3] == 333  # upsert won over BOTH the original and the racer
    assert 5 not in got and len(got) == 9


def test_vacuum_retention_vs_time_travel_and_cdf(tmp_path, spark):
    """The four-way retention interplay (r6 verdict task 9), matching
    Delta's deletedFileRetentionDuration semantics: inside the grace
    window vacuum touches nothing reachable (time travel + CDF fully
    readable); past it, a version whose files were rewritten away still
    RECONSTRUCTS but fails loudly at SCAN time; a CDF range needing a
    collected file fails the same way; truncate_log (not vacuum) is what
    kills reconstruction, and only then do cdc sidecars become garbage."""
    log = TxLog(str(tmp_path / "t"))
    log.append(
        spark.createDataFrame([(k, k * 10) for k in range(6)], "k long, v long")
        .coalesce(1),
        stats_cols=["k"],
    )  # v0
    log.append(
        spark.createDataFrame([(10, 100)], "k long, v long").coalesce(1),
        stats_cols=["k"],
    )  # v1
    log.apply_cdc(
        spark,
        spark.createDataFrame([(1, -1, "u"), (3, None, "d")],
                              "k long, v long, op string"),
        "k",
    )  # v2: rewrites v0's file, stages a cdf sidecar

    # (a) within the grace window: nothing reachable is collected
    assert log.vacuum() == 0
    assert sorted(r["k"] for r in log.snapshot(spark, version=0).collect()) == list(range(6))
    assert log.changes(spark, -1, cdf=True).count() == 7 + 2

    # (b) past the window: v0's rewritten-away file is collected
    assert log.vacuum(grace_seconds=0.0) == 1
    # reconstruction is metadata-only and still works ...
    assert log.state(at_version=0).version == 0
    # ... but SCANNING v0 (or a CDF range needing the file) fails loudly
    with pytest.raises(Exception, match="(?i)path|exist|found"):
        log.snapshot(spark, version=0).collect()
    with pytest.raises(Exception, match="(?i)path|exist|found"):
        log.changes(spark, -1, cdf=True).collect()
    # narrower ranges that skip the collected file still replay exactly
    assert log.changes(spark, 0, cdf=True).count() == 1 + 2
    # latest snapshot is of course untouched
    assert log.snapshot(spark).count() == 6

    # (c) truncate_log, not vacuum, bounds reconstruction; it orphans the
    # cdc sidecar, which the NEXT vacuum collects
    log.checkpoint()
    log.truncate_log()
    with pytest.raises(TxVersionTruncatedError):
        log.state(at_version=0)
    with pytest.raises(TxVersionTruncatedError):
        log.changes(spark, -1, cdf=True)
    # collects exactly the now-orphaned cdc sidecar parts: afterwards the
    # data dir holds nothing but the live files
    assert log.vacuum(grace_seconds=0.0) >= 1
    assert sorted(os.listdir(log.data_path)) == sorted(log.state().files)
    assert log.snapshot(spark).count() == 6  # table state never at risk


def test_delete_to_dv_rewrites_nothing(tmp_path, spark):
    """DV-based DELETE (Delta's deletion-vector write path): matched rows
    vanish from every later snapshot while the data files stay
    byte-identical; disjoint files untouched, fully-covered files still
    drop as metadata; a second DV delete on the same file carries the
    prior positions forward (cumulative wholesale replace); the change
    feed refuses the commit (logical rows changed, no insert record)."""
    log = TxLog(str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(k, k % 3) for k in range(20)], "k long, grp long"
    ).coalesce(1)
    log.append(df, stats_cols=["k"])  # file A: k 0-19
    log.append(
        spark.createDataFrame([(k, 0) for k in range(100, 110)],
                              "k long, grp long").coalesce(1),
        stats_cols=["k"],
    )  # file B: k 100-109 (disjoint)
    log.append(
        spark.createDataFrame([(k, 0) for k in range(200, 205)],
                              "k long, grp long").coalesce(1),
        stats_cols=["k"],
    )  # file C: k 200-204 (fully covered by the second delete)
    files_before = set(log.state().files)

    # conditioned delete inside file A: must DV, not rewrite
    log.delete_to_dv(spark, "k", 5, 12, condition="grp = 0")
    st = log.state()
    assert set(st.files) == files_before  # NOTHING rewritten or dropped
    assert len(st.dvs) == 1
    got = sorted(r["k"] for r in log.snapshot(spark).collect())
    gone = [k for k in range(5, 13) if k % 3 == 0]
    assert got == sorted(set(range(20)) - set(gone)) + list(range(100, 110)) + list(range(200, 205))

    # bare-range delete: file C drops as metadata, file A gets a
    # CUMULATIVE second vector (prior positions carried forward)
    log.delete_to_dv(spark, "k", 0, 2)
    log.delete_to_dv(spark, "k", 200, 204)
    st2 = log.state()
    got2 = sorted(r["k"] for r in log.snapshot(spark).collect())
    assert got2 == sorted(set(range(3, 20)) - set(gone)) + list(range(100, 110))
    # file A still never rewritten; C gone; B untouched
    assert len(st2.files) == 2
    # checkpoint + truncate: the cumulative DV still applies
    log.checkpoint()
    log.truncate_log()
    assert sorted(r["k"] for r in log.snapshot(spark).collect()) == got2
    # change feed refuses the dv commit instead of serving it wrong
    with pytest.raises((TxConflictError, TxVersionTruncatedError)):
        log.changes(spark, -1)


def test_delete_to_dv_races_disjoint_append(tmp_path, spark):
    """A DV delete racing a disjoint-key append commits without
    re-deriving (logical conflict re-validation), and neither writer's
    rows leak into the other's outcome."""
    log = TxLog(str(tmp_path / "t"))
    log.append(
        spark.createDataFrame([(k, 0) for k in range(10)], "k long, v long")
        .coalesce(1),
        stats_cols=["k"],
    )
    orig_commit = log.commit_files
    fired = []

    def commit_spy(*a, **kw):
        if not fired and kw.get("dvs"):
            fired.append(1)
            log.append(
                spark.createDataFrame([(1000, 9)], "k long, v long").coalesce(1),
                stats_cols=["k"],
            )
        return orig_commit(*a, **kw)

    log.commit_files = commit_spy
    log.delete_to_dv(spark, "k", 3, 5)
    log.commit_files = orig_commit
    got = sorted(r["k"] for r in log.snapshot(spark).collect())
    assert got == [0, 1, 2, 6, 7, 8, 9, 1000]
    assert log.state().version == 2  # append v1, dv delete v2 — no retries


def test_optimize_folds_deletion_vectors(tmp_path, spark):
    """Compaction reads through DVs (via _read_files), so deleted
    positions never resurrect: after OPTIMIZE the vectors are gone from
    state, the rows stay deleted, and the orphaned sidecar is
    vacuumable."""
    log = TxLog(str(tmp_path / "t"))
    for lo in (0, 10):
        log.append(
            spark.createDataFrame([(k, k) for k in range(lo, lo + 10)],
                                  "k long, v long").coalesce(1),
            stats_cols=["k"],
        )
    log.delete_to_dv(spark, "k", 3, 5)
    log.delete_to_dv(spark, "k", 12, 12)
    assert len(log.state().dvs) == 2
    log.optimize(spark, max_files=1)
    st = log.state()
    assert st.dvs == {} and len(st.files) == 1
    got = sorted(r["k"] for r in log.snapshot(spark).collect())
    assert got == [0, 1, 2, 6, 7, 8, 9, 10, 11] + list(range(13, 20))
    # both sidecars + both originals are now orphans
    assert log.vacuum(grace_seconds=0.0) == 4


def test_restore_reverts_content_preserves_history_and_apps(tmp_path, spark):
    """RESTORE TO VERSION: content reverts exactly (deletion vectors and
    stats included), history is append-only (interim versions still
    time-travel), app high-water marks survive (an exactly-once sink's
    ledger must not roll back), and a post-restore vacuum collects the
    now-unreferenced interim files while sparing the restored ones."""
    log = TxLog(str(tmp_path / "t"))
    log.append(
        spark.createDataFrame([(k, k) for k in range(10)], "k long, v long")
        .coalesce(1),
        stats_cols=["k"], app_id="sink", app_version=7,
    )  # v0
    log.delete_to_dv(spark, "k", 2, 3)  # v1: DV attach
    v1 = sorted(r["k"] for r in log.snapshot(spark).collect())
    log.merge(spark, spark.createDataFrame([(5, -5)], "k long, v long"), "k")  # v2
    log.append(
        spark.createDataFrame([(100, 1)], "k long, v long").coalesce(1),
        stats_cols=["k"],
    )  # v3
    v = log.restore(1)  # back to the DV'd state
    assert v == 4
    assert sorted(r["k"] for r in log.snapshot(spark).collect()) == v1
    assert log.state().dvs != {}  # the vector came back with the files
    # history preserved: interim v3 still time-travels
    # (10 rows - 2 DV-deleted + 1 appended = 9)
    assert log.snapshot(spark, version=3).count() == 9
    assert log.history()[0]["op"] == "restore"
    # exactly-once ledger untouched by the restore
    assert log.state().apps["sink"] == 7
    # stats restored: a disjoint-range merge still prunes (nothing touched)
    st = log.state()
    assert any("k" in s for s in st.stats.values())
    # vacuum: interim files (merge rewrite + the appended file) are now
    # unreferenced; everything the restored state needs survives
    n = log.vacuum(grace_seconds=0.0)
    assert n >= 2
    assert sorted(r["k"] for r in log.snapshot(spark).collect()) == v1
    with pytest.raises(ValueError, match="does not exist"):
        log.restore(99)


def test_update_file_level_classification(tmp_path, spark):
    """UPDATE is file-granular (Delta's UPDATE): a key window strictly
    inside one file's range rewrites ONLY that file — the two disjoint
    files keep their exact manifest names (zero bytes moved for them) —
    and the set expression is evaluated against the PRE-update row."""
    log = TxLog(str(tmp_path / "t"))
    for lo in (0, 100, 200):
        log.append(
            spark.range(lo, lo + 50).selectExpr("id AS k", "id * 10 AS v").coalesce(1),
            stats_cols=["k"],
        )
    before = set(log.state().files)
    log.update(spark, "k", 110, 120, {"v": "v + 1"})
    after = set(log.state().files)
    assert len(before & after) == 2, "disjoint files must survive untouched"
    assert log.history()[0]["op"] == "update"
    got = {r["k"]: r["v"] for r in log.snapshot(spark).collect()}
    assert len(got) == 150, "UPDATE must not add or drop rows"
    for k in range(100, 150):
        assert got[k] == k * 10 + (1 if 110 <= k <= 120 else 0)
    assert got[0] == 0 and got[249] == 2490


def test_update_sees_pre_update_values_and_condition(tmp_path, spark):
    """Multiple assignments all read the OLD row (SQL UPDATE): swapping
    a=b, b=a actually swaps. A `condition` gates matching, and NULL-key
    rows are never updated (predicate NULL is not TRUE)."""
    log = TxLog(str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(1, 10, 100), (2, 20, 200), (3, 30, 300), (None, 40, 400)],
        "k long, a long, b long",
    ).coalesce(1)
    log.append(df, stats_cols=["k"])
    log.update(spark, "k", 1, 3, {"a": "b", "b": "a"}, condition="a <> 20")
    got = {r["k"]: (r["a"], r["b"]) for r in log.snapshot(spark).collect()}
    assert got[1] == (100, 10) and got[3] == (300, 30), "swap reads old values"
    assert got[2] == (20, 200), "condition-failing row untouched"
    assert got[None] == (40, 400), "NULL key never matches"


def test_update_rejects_unknown_column_and_constraint_violation(tmp_path, spark):
    """Assigning a column not in the schema raises before any write, and
    an update whose result violates a CHECK constraint fails the commit
    (the table is unchanged either way)."""
    log = TxLog(str(tmp_path / "t"))
    log.append(
        spark.createDataFrame([(1, 5)], "k long, v long").coalesce(1),
        stats_cols=["k"],
    )
    log.add_constraint("v_pos", "v >= 0")
    v = log.state().version
    with pytest.raises(ValueError, match="unknown columns"):
        log.update(spark, "k", 1, 1, {"nope": "1"})
    with pytest.raises(Exception, match="v_pos|constraint"):
        log.update(spark, "k", 1, 1, {"v": "-1"})
    assert log.state().version == v
    assert log.snapshot(spark).first()["v"] == 5


def test_update_folds_deletion_vector_and_noop_disjoint(tmp_path, spark):
    """Updating a DV'd file folds the vector (deleted rows stay deleted,
    never resurrected, and the rewritten file carries no DV); an update
    range disjoint from every file is a version-unchanged no-op."""
    log = TxLog(str(tmp_path / "t"))
    log.append(
        spark.range(0, 10).selectExpr("id AS k", "id AS v").coalesce(1),
        stats_cols=["k"],
    )
    log.delete_to_dv(spark, "k", 2, 3)
    v = log.state().version
    assert log.update(spark, "k", 500, 600, {"v": "0"}) == v, "disjoint no-op"
    log.update(spark, "k", 0, 9, {"v": "v * 2"})
    assert log.state().dvs == {}, "rewrite folds the vector away"
    got = sorted((r["k"], r["v"]) for r in log.snapshot(spark).collect())
    assert got == [(k, k * 2) for k in range(10) if k not in (2, 3)]


def test_shallow_clone_zero_copy_and_isolation(tmp_path, spark):
    """SHALLOW CLONE references the source's files by absolute path —
    zero parquet bytes land under the clone — carrying stats (pruning
    works), constraints, and schema; and the two tables diverge freely:
    source mutations after the clone are invisible to it and clone
    mutations never touch the source."""
    src = TxLog(str(tmp_path / "src"))
    for lo in (0, 100):
        src.append(
            spark.range(lo, lo + 50).selectExpr("id AS k", "id * 10 AS v").coalesce(1),
            stats_cols=["k"],
        )
    src.add_constraint("v_pos", "v >= 0")
    cl = src.clone(str(tmp_path / "cl"))
    assert cl.history()[-1]["op"] == "clone"
    assert not [
        f for f in os.listdir(cl.data_path) if f.endswith(".parquet")
    ], "shallow clone must copy zero data files"
    assert sorted(r["k"] for r in cl.snapshot(spark).collect()) == list(range(0, 50)) + list(range(100, 150))
    # stats carried: pruned read touches one (source) file
    assert len(cl.snapshot(spark, prune=("k", 0, 10)).inputFiles()) == 1
    # constraints carried
    assert cl.constraints() == {"v_pos": "v >= 0"}
    with pytest.raises(ValueError, match="v_pos"):
        cl.append(spark.createDataFrame([(999, -1)], "k long, v long"))
    # divergence: source mutations invisible to the clone...
    src.delete(spark, "k", 0, 99)
    src.append(spark.range(200, 210).selectExpr("id AS k", "id AS v").coalesce(1))
    assert cl.snapshot(spark).count() == 100
    # ...and clone mutations (file-level delete: stats carried make it
    # metadata-only) invisible to the source
    cl.delete(spark, "k", 0, 99)
    assert cl.history()[0]["n_added"] == 0, "carried stats => metadata drop"
    assert cl.snapshot(spark).count() == 50
    assert src.snapshot(spark).count() == 50 + 10
    # vacuum on the clone never collects source-referenced files
    assert cl.vacuum(grace_seconds=0.0) == 0
    assert src.snapshot(spark).count() == 60


def test_clone_carries_dvs_versioned_and_deep(tmp_path, spark):
    """A clone of `version=N` captures that state exactly (DV included);
    deep clone copies the bytes so it survives source vacuum; cloning
    onto a non-empty target raises."""
    src = TxLog(str(tmp_path / "src"))
    src.append(
        spark.range(0, 10).selectExpr("id AS k", "id AS v").coalesce(1),
        stats_cols=["k"],
    )  # v0
    src.delete_to_dv(spark, "k", 2, 3)  # v1
    src.append(spark.range(50, 60).selectExpr("id AS k", "id AS v").coalesce(1))  # v2
    cl1 = src.clone(str(tmp_path / "cl1"), version=1)
    assert sorted(r["k"] for r in cl1.snapshot(spark).collect()) == [
        k for k in range(10) if k not in (2, 3)
    ], "versioned clone applies the DV, excludes the later append"
    deep = src.clone(str(tmp_path / "deep"), shallow=False)
    # deep clone owns its bytes: source vacuum after a source rewrite
    # cannot break it
    src.overwrite(spark.createDataFrame([(1, 1)], "k long, v long"))
    src.vacuum(grace_seconds=0.0)
    assert sorted(r["k"] for r in deep.snapshot(spark).collect()) == [
        k for k in range(10) if k not in (2, 3)
    ] + list(range(50, 60))
    with pytest.raises(ValueError, match="already has commits"):
        src.clone(str(tmp_path / "deep"))
    # the shallow clone now fails LOUDLY (source files vacuumed), never
    # returns a silently-smaller result
    with pytest.raises(Exception):
        cl1.snapshot(spark).count()


def test_rename_column_metadata_only_across_verbs(tmp_path, spark):
    """RENAME COLUMN is a metadata-only commit (Delta column mapping,
    name mode): zero adds/removes, files byte-untouched — and every verb
    keeps working across it under the NEW name: reads translate, writes
    land under the stable physical name, stats recorded before the
    rename still prune, and merge/update/delete classify files by the
    renamed key."""
    log = TxLog(str(tmp_path / "t"))
    for lo in (0, 100):
        log.append(
            spark.range(lo, lo + 50).selectExpr("id AS k", "id * 10 AS v").coalesce(1),
            stats_cols=["k"],
        )
    before = set(log.state().files)
    log.rename_column("k", "key_id")
    h = log.history()[0]
    assert h["op"] == "rename" and h["n_added"] == 0 and h["n_removed"] == 0
    assert set(log.state().files) == before, "rename must not touch files"
    assert log.snapshot(spark).columns == ["key_id", "v"]
    # pre-rename stats prune under the NEW name
    assert len(log.snapshot(spark, prune=("key_id", 0, 10)).inputFiles()) == 1
    # writes after the rename: appended file carries the PHYSICAL name,
    # and a mixed old/new-file read is uniform
    log.append(
        spark.createDataFrame([(500, 1)], "key_id long, v long").coalesce(1),
        stats_cols=["key_id"],
    )
    assert log.snapshot(spark).where("key_id = 500").count() == 1
    assert len(log.snapshot(spark, prune=("key_id", 490, 510)).inputFiles()) == 1
    # merge / update / delete keyed on the new name, file-granular
    log.merge(
        spark, spark.createDataFrame([(1, -1)], "key_id long, v long"), "key_id"
    )
    assert {r["v"] for r in log.snapshot(spark).where("key_id = 1").collect()} == {-1}
    log.update(spark, "key_id", 100, 110, {"v": "v + 5"})
    assert log.snapshot(spark).where("key_id = 100").first()["v"] == 1005
    log.delete(spark, "key_id", 100, 149)
    assert log.snapshot(spark).where("key_id >= 100 AND key_id < 200").count() == 0
    # time travel BEFORE the rename shows the OLD name (schema as-of)
    assert log.snapshot(spark, version=1).columns == ["k", "v"]


def test_rename_column_refusals(tmp_path, spark):
    """Refused renames: unknown source, existing target, partition
    column, constraint-referenced column, physical-name collision
    (swap)."""
    log = TxLog(str(tmp_path / "t"))
    log.append(
        spark.createDataFrame(
            [(1, 2, 3, "x")], "a long, b long, c long, p string"
        ).coalesce(1),
        partition_by="p",
    )
    log.add_constraint("b_pos", "b >= 0")
    with pytest.raises(ValueError, match="no such column"):
        log.rename_column("zz", "y")
    with pytest.raises(ValueError, match="already exists"):
        log.rename_column("a", "b")
    with pytest.raises(ValueError, match="partition column"):
        log.rename_column("p", "q")
    with pytest.raises(ValueError, match="CHECK constraint"):
        log.rename_column("b", "b2")
    log.rename_column("a", "a2")
    with pytest.raises(ValueError, match="physical name"):
        log.rename_column("c", "a")  # "a" is a2's physical name: ambiguous
    # rename back to the original physical name: mapping collapses to identity
    log.rename_column("a2", "a")
    assert log.state().cmap == {}
    assert sorted(log.snapshot(spark).columns) == ["a", "b", "c", "p"]


def test_drop_column_metadata_only_then_rewrite_folds(tmp_path, spark):
    """DROP COLUMN projects immediately with zero file changes; a later
    OPTIMIZE rewrite physically removes the data; checkpoint + restore
    round-trip the mapping state."""
    log = TxLog(str(tmp_path / "t"))
    log.append(
        spark.range(0, 20).selectExpr("id AS k", "id AS v", "id AS w").coalesce(1),
        stats_cols=["k"],
    )
    files_before = set(log.state().files)
    v_drop = log.drop_column("w")
    assert set(log.state().files) == files_before
    assert log.snapshot(spark).columns == ["k", "v"]
    assert log.snapshot(spark, version=v_drop - 1).columns == ["k", "v", "w"]
    with pytest.raises(ValueError, match="no such column"):
        log.drop_column("w")
    # physical data still in the file until a rewrite folds it
    import pyarrow.parquet as pq

    f = os.path.join(log.data_path, next(iter(files_before)))
    assert "w" in pq.read_schema(f).names
    log.optimize(spark, max_files=1, cluster_by="k")  # force the rewrite
    newf = [n for n in log.state().files]
    assert "w" not in pq.read_schema(os.path.join(log.data_path, newf[0])).names
    # restore to the pre-drop version brings the old schema AND mapping back
    log.restore(0)
    assert log.snapshot(spark).columns == ["k", "v", "w"]
    # rename + checkpoint/truncate: cmap survives log folding
    log.rename_column("v", "val")
    log.checkpoint()
    log.truncate_log()
    assert log.snapshot(spark).columns == ["k", "val", "w"]
    assert log.state().cmap == {"val": "v"}


def test_rename_with_cdc_scd2_and_streaming_source(tmp_path, spark):
    """apply_cdc works keyed on a renamed column, and the txlog
    streaming source serves renamed logical names for files written
    both before and after the rename."""
    from flink_real_time_data_warehouse_spark.storage.txlog_source import (
        register_txlog_source,
    )

    log = TxLog(str(tmp_path / "t"))
    log.append(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, tag string").coalesce(1),
        stats_cols=["k"],
    )
    log.rename_column("k", "kid")
    log.apply_cdc(
        spark,
        spark.createDataFrame(
            [(2, "b2", "u"), (3, "c", "u"), (1, None, "d")],
            "kid long, tag string, op string",
        ),
        "kid",
    )
    got = {(r["kid"], r["tag"]) for r in log.snapshot(spark).collect()}
    assert got == {(2, "b2"), (3, "c")}
    # streaming source: renamed schema, pre- and post-rename files
    log2 = TxLog(str(tmp_path / "s"))
    log2.append(spark.createDataFrame([(1, 10)], "a long, v long").coalesce(1))
    log2.rename_column("a", "aa")
    log2.append(spark.createDataFrame([(2, 20)], "aa long, v long").coalesce(1))
    register_txlog_source(spark)
    src = spark.readStream.format("txlog").option("path", log2.path).load()
    assert "aa" in src.columns
    q = (
        src.writeStream.format("memory")
        .queryName("cmap_src_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {
        (r["aa"], r["v"]) for r in spark.sql("select * from cmap_src_out").collect()
    }
    assert rows == {(1, 10), (2, 20)}, "both eras under the logical name"


def test_table_properties_lifecycle(tmp_path, spark):
    """SET TBLPROPERTIES: latest-wins metadata commits that survive
    checkpoint+truncate, revert with RESTORE, and are carried by CLONE."""
    log = TxLog(str(tmp_path / "t"))
    log.append(spark.createDataFrame([(1, 1)], "k long, v long").coalesce(1))  # v0
    log.set_property("owner", "team-a")  # v1
    log.set_property("enableChangeDataFeed", "true")  # v2
    log.set_property("owner", "team-b")  # v3
    assert log.properties() == {
        "owner": "team-b", "enableChangeDataFeed": "true"
    }
    assert log.set_property("owner", "team-b") == 3, "idempotent set is a no-op"
    cl = log.clone(str(tmp_path / "cl"))
    assert cl.properties()["owner"] == "team-b"
    log.restore(1)
    assert log.properties() == {"owner": "team-a"}, "RESTORE reverts properties"
    log.checkpoint()
    log.truncate_log()
    assert log.properties() == {"owner": "team-a"}, "props survive log folding"


def test_cdf_on_update_delete_merge(tmp_path, spark):
    """enableChangeDataFeed=true makes UPDATE/DELETE/MERGE stage typed
    CDF sidecars — changes(cdf=True) then serves those commits instead
    of raising: update as pre/post-image pairs, delete as the deleted
    rows, merge as pre/post + insert. Without the property the same
    commits still fail the feed (no silent gaps)."""
    log = TxLog(str(tmp_path / "t"))
    log.append(
        spark.range(0, 10).selectExpr("id AS k", "id * 10 AS v").coalesce(1),
        stats_cols=["k"],
    )  # v0
    log.set_property(TxLog.CDF_PROPERTY, "true")  # v1
    log.update(spark, "k", 2, 3, {"v": "v + 1"})  # v2
    log.delete(spark, "k", 8, 9)  # v3
    log.merge(
        spark,
        spark.createDataFrame([(5, -5), (100, 0)], "k long, v long"),
        "k",
    )  # v4
    feed = log.changes(spark, from_version=1, cdf=True)
    got = {
        (r["_commit_version"], r["_change_type"], r["k"], r["v"])
        for r in feed.collect()
    }
    assert (2, "update_preimage", 2, 20) in got
    assert (2, "update_postimage", 2, 21) in got
    assert (2, "update_preimage", 3, 30) in got and (2, "update_postimage", 3, 31) in got
    assert (3, "delete", 8, 80) in got and (3, "delete", 9, 90) in got
    assert (4, "update_preimage", 5, 50) in got
    assert (4, "update_postimage", 5, -5) in got
    assert (4, "insert", 100, 0) in got
    assert len(got) == 9, f"no extra change rows: {sorted(got)}"
    # a feed crossing the same commits WITHOUT cdf mode still raises
    with pytest.raises(Exception, match="rewrite|re-sync"):
        log.changes(spark, from_version=1).collect()


def test_cdf_dv_delete_excludes_prior_deletions(tmp_path, spark):
    """delete_to_dv under CDF emits ONLY newly-deleted rows: positions a
    prior vector already covered never re-enter the feed, and a
    metadata-drop file's rows are read once to feed it."""
    log = TxLog(str(tmp_path / "t"))
    log.append(
        spark.range(0, 10).selectExpr("id AS k", "id AS v").coalesce(1),
        stats_cols=["k"],
    )  # v0
    log.delete_to_dv(spark, "k", 2, 3)  # v1: pre-property, no sidecar feed
    log.set_property(TxLog.CDF_PROPERTY, "true")  # v2
    log.delete_to_dv(spark, "k", 2, 5)  # v3: 2,3 already gone -> only 4,5 new
    feed = log.changes(spark, from_version=2, cdf=True)
    got = {(r["_change_type"], r["k"]) for r in feed.collect()}
    assert got == {("delete", 4), ("delete", 5)}
    # metadata-drop path (bare range over the whole file) also feeds
    log2 = TxLog(str(tmp_path / "t2"))
    log2.append(
        spark.range(0, 4).selectExpr("id AS k", "id AS v").coalesce(1),
        stats_cols=["k"],
    )
    log2.set_property(TxLog.CDF_PROPERTY, "true")
    v = log2.delete_to_dv(spark, "k", 0, 3)
    assert log2.history()[0]["n_removed"] == 1, "still the metadata drop path"
    feed2 = log2.changes(spark, from_version=v - 1, cdf=True)
    assert {r["k"] for r in feed2.collect()} == {0, 1, 2, 3}


def test_cdf_streaming_source_follows_update(tmp_path, spark):
    """The txlog streaming source in cdf mode follows an UPDATE commit
    (pre/post rows) instead of failing the stream."""
    from flink_real_time_data_warehouse_spark.storage.txlog_source import (
        register_txlog_source,
    )

    log = TxLog(str(tmp_path / "t"))
    log.append(
        spark.range(0, 5).selectExpr("id AS k", "id AS v").coalesce(1),
        stats_cols=["k"],
    )
    log.set_property(TxLog.CDF_PROPERTY, "true")
    log.update(spark, "k", 1, 1, {"v": "99"})
    register_txlog_source(spark)
    src = (
        spark.readStream.format("txlog")
        .option("path", log.path)
        .option("cdf", "true")
        .load()
    )
    q = (
        src.writeStream.format("memory")
        .queryName("cdf_upd_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {
        (r["_change_type"], r["k"], r["v"])
        for r in spark.sql("select * from cdf_upd_out").collect()
    }
    assert ("update_preimage", 1, 1) in rows
    assert ("update_postimage", 1, 99) in rows
    assert ("insert", 0, 0) in rows  # the initial append, typed insert
    assert len(rows) == 5 + 2


def test_generated_columns_compute_validate_partition(tmp_path, spark):
    """GENERATED ALWAYS AS: a batch missing the column gets it computed;
    a batch supplying a wrong value is refused; the canonical derived
    partition key composes with partition pruning."""
    log = TxLog(str(tmp_path / "t"))
    log.append(spark.createDataFrame([(0, 0)], "k long, bucket long"))
    log.add_generated_column("bucket", "k % 3")
    # computed when absent (partitioned by the generated column)
    log.append(
        spark.range(1, 10).selectExpr("id AS k").coalesce(1),
        partition_by="bucket",
    )
    got = {(r["k"], r["bucket"]) for r in log.snapshot(spark).collect()}
    assert got == {(k, k % 3) for k in range(10)}
    # pruning on the generated partition column: the partitioned files
    # prune exactly; the v0 file predates partitioning (no parts
    # metadata) and is conservatively KEPT, contributing its k=0 row
    pruned = log.snapshot(spark, partitions={"bucket": [1]})
    assert {r["k"] for r in pruned.collect()} == {0, 1, 4, 7}
    # supplying a matching value is fine; a mismatch is refused
    log.append(spark.createDataFrame([(30, 0)], "k long, bucket long"))
    v = log.state().version
    with pytest.raises(ValueError, match="generated column"):
        log.append(spark.createDataFrame([(31, 2)], "k long, bucket long"))
    assert log.state().version == v
    # merge computes it too
    log.merge(spark, spark.createDataFrame([(4,)], "k long"), "k")
    assert log.snapshot(spark).where("k = 4").first()["bucket"] == 1
    # clone carries the definition (it lives in table properties)
    cl = log.clone(str(tmp_path / "cl"))
    assert cl.generated_columns() == {"bucket": "k % 3"}


def test_merge_into_clause_matrix(tmp_path, spark):
    """Multi-clause MERGE INTO (Delta MERGE semantics): ordered WHEN
    MATCHED clauses with FIRST-match-wins, conditional NOT MATCHED
    insert, and update expressions reading BOTH aliases (t./s.) against
    the PRE-merge target row."""
    log = TxLog(str(tmp_path / "t"))
    log.append(
        spark.range(0, 100).selectExpr("id AS k", "id * 10 AS v").coalesce(1),
        stats_cols=["k"],
    )
    src = spark.range(50, 150).selectExpr("id AS k", "id AS v")
    log.merge_into(
        spark, src, "k",
        when_matched=[
            ("update", "t.k % 2 = 0", {"v": "t.v + s.v"}),
            ("delete", "s.v >= 90"),
        ],
        when_not_matched=[("insert", "s.v % 3 != 0")],
    )
    got = {r["k"]: r["v"] for r in log.snapshot(spark).collect()}
    for k in range(0, 50):  # untouched by source
        assert got[k] == k * 10
    for k in range(50, 100):
        if k % 2 == 0:  # clause 1 wins even when clause 2 also matches
            assert got[k] == k * 10 + k
        elif k >= 90:  # clause 2: deleted
            assert k not in got
        else:  # matched, no clause accepted: carries
            assert got[k] == k * 10
    for k in range(100, 150):  # NOT MATCHED: conditional insert
        assert (k in got) == (k % 3 != 0)
        if k in got:
            assert got[k] == k
    assert log.history()[0]["op"] == "merge_into"


def test_merge_into_nmbs_and_file_level(tmp_path, spark):
    """Without NOT-MATCHED-BY-SOURCE clauses the merge is file-granular
    (disjoint files keep their manifest names); with them the whole
    table is the read set and target-only rows obey the clause."""
    log = TxLog(str(tmp_path / "t"))
    for lo in (0, 100, 200):
        log.append(
            spark.range(lo, lo + 50).selectExpr("id AS k", "id AS v").coalesce(1),
            stats_cols=["k"],
        )
    before = set(log.state().files)
    log.merge_into(
        spark,
        spark.range(110, 120).selectExpr("id AS k", "id * 2 AS v"),
        "k",
        when_matched=[("update", None, {"v": "s.v"})],
    )
    assert len(before & set(log.state().files)) == 2, (
        "disjoint files must survive a NMBS-free merge untouched"
    )
    # NMBS delete: prune target-only rows outside the source's view
    log.merge_into(
        spark,
        spark.range(100, 150).selectExpr("id AS k", "id AS v"),
        "k",
        when_matched=[("update", None, {"v": "s.v"})],
        when_not_matched_by_source=[("delete", "t.k >= 200")],
    )
    got = {r["k"]: r["v"] for r in log.snapshot(spark).collect()}
    assert set(got) == set(range(0, 50)) | set(range(100, 150)), (
        "k>=200 rows NMBS-deleted, matched+carried rows kept"
    )
    assert got[115] == 115 and got[110] == 110  # second merge overwrote
    assert got[0] == 0
    # NMBS update with t.-only expression
    log.merge_into(
        spark,
        spark.createDataFrame([(0, 0)], "k long, v long"),
        "k",
        when_matched=[("delete", None)],
        when_not_matched_by_source=[("update", "t.k < 3", {"v": "t.v + 1000"})],
    )
    got = {r["k"]: r["v"] for r in log.snapshot(spark).collect()}
    assert 0 not in got and got[1] == 1001 and got[2] == 1002 and got[3] == 3
    assert got[10] == 10  # NMBS rows failing the condition carry


def test_merge_into_initial_load_empty_source_and_errors(tmp_path, spark):
    """MERGE into a never-committed table is the initial load; an empty
    source is a version-unchanged no-op without NMBS clauses; malformed
    clause lists are refused loudly."""
    log = TxLog(str(tmp_path / "t"))
    src = spark.range(0, 5).selectExpr("id AS k", "id AS v")
    log.merge_into(spark, src, "k", when_not_matched=[("insert", None)])
    assert log.snapshot(spark).count() == 5
    v = log.state().version
    empty = src.where("k < 0")
    assert log.merge_into(
        spark, empty, "k", when_matched=[("delete", None)]
    ) == v, "empty source without NMBS is a no-op"
    # empty source WITH a NMBS clause still sweeps the table
    log.merge_into(
        spark, empty, "k",
        when_matched=[("delete", None)],
        when_not_matched_by_source=[("delete", "t.k >= 3")],
    )
    assert log.snapshot(spark).count() == 3
    with pytest.raises(ValueError, match="at least one WHEN"):
        log.merge_into(spark, src, "k")
    with pytest.raises(ValueError, match="unknown columns"):
        log.merge_into(
            spark, src, "k", when_matched=[("update", None, {"nope": "1"})]
        )
    with pytest.raises(ValueError, match="INSERT"):
        log.merge_into(
            spark, src.select("k"), "k", when_not_matched=[("insert", None)]
        )
    with pytest.raises(ValueError, match="clause verb"):
        log.merge_into(spark, src, "k", when_matched=[("insert", None)])


def test_merge_into_cdf_typed_changes(tmp_path, spark):
    """With enableChangeDataFeed, merge_into stages typed pre/post
    images for updates, deleted rows, and inserts — same contract as
    update()/delete()/merge()."""
    log = TxLog(str(tmp_path / "t"))
    log.set_property("enableChangeDataFeed", "true")
    log.append(
        spark.range(0, 6).selectExpr("id AS k", "id AS v").coalesce(1),
        stats_cols=["k"],
    )
    v0 = log.state().version
    log.merge_into(
        spark,
        spark.range(4, 9).selectExpr("id AS k", "id * 100 AS v"),
        "k",
        when_matched=[
            ("update", "t.k = 4", {"v": "s.v"}),
            ("delete", None),
        ],
        when_not_matched=[("insert", None)],
    )
    ch = log.changes(spark, v0, cdf=True)
    got = {(r["k"], r["v"], r["_change_type"]) for r in ch.collect()}
    assert got == {
        (4, 4, "update_preimage"),
        (4, 400, "update_postimage"),
        (5, 5, "delete"),
        (6, 600, "insert"),
        (7, 700, "insert"),
        (8, 800, "insert"),
    }


def test_identity_column_deterministic_and_refusal(tmp_path, spark):
    """GENERATED ALWAYS AS IDENTITY: the table allocates start/start+step/
    ... in identity_order_by order, the watermark continues across
    appends AND an overwrite (Delta: REPLACE keeps the mark), and a
    writer supplying the column is refused."""
    log = TxLog(str(tmp_path / "t"))
    log.add_identity_column("sid", start=10, step=2)
    log.append(
        spark.range(0, 5).selectExpr("id AS k").coalesce(1),
        identity_order_by=["k"],
    )
    log.append(
        spark.range(5, 8).selectExpr("id AS k").coalesce(1),
        identity_order_by=["k"],
    )
    got = {r["k"]: r["sid"] for r in log.snapshot(spark).collect()}
    assert got == {k: 10 + 2 * k for k in range(8)}
    assert log.identity_columns()["sid"]["high"] == 10 + 2 * 7
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        log.append(spark.createDataFrame([(99, 0)], "k long, sid long"))
    # overwrite keeps allocating past the mark
    log.overwrite(spark.range(100, 103).selectExpr("id AS k").coalesce(1))
    got = {r["k"]: r["sid"] for r in log.snapshot(spark).collect()}
    assert set(got) == {100, 101, 102}
    assert set(got.values()) == {26, 28, 30}
    # registering over an existing data column is refused
    with pytest.raises(ValueError, match="already exists"):
        log.add_identity_column("k")


def test_identity_column_distributed_mode_unique_dense(tmp_path, spark):
    """Default (no order_by) allocation: per-partition ranges — ids are
    unique and DENSE over a multi-partition batch, and the clone carries
    the watermark (it lives in table properties)."""
    log = TxLog(str(tmp_path / "t"))
    log.add_identity_column("sid")
    log.append(spark.range(0, 100).selectExpr("id AS k").repartition(8))
    sids = [r["sid"] for r in log.snapshot(spark).collect()]
    assert sorted(sids) == list(range(1, 101))
    assert log.identity_columns()["sid"]["high"] == 100
    cl = log.clone(str(tmp_path / "cl"))
    assert cl.identity_columns()["sid"]["high"] == 100
    cl.append(spark.range(0, 3).selectExpr("id AS k"))
    assert sorted(
        r["sid"] for r in cl.snapshot(spark).collect()
    ) == list(range(1, 104))
    assert log.identity_columns()["sid"]["high"] == 100  # source untouched


def test_identity_appends_race_unique(tmp_path, spark):
    """Concurrent identity appends serialize on the watermark: every id
    unique, the final mark equals the total row count."""
    log = TxLog(str(tmp_path / "t"))
    log.add_identity_column("sid")

    def writer(w: int):
        log.append(
            spark.range(w * 10, w * 10 + 10).selectExpr("id AS k").coalesce(1)
        )

    with ThreadPoolExecutor(max_workers=4) as ex:
        list(ex.map(writer, range(4)))
    sids = [r["sid"] for r in log.snapshot(spark).collect()]
    assert sorted(sids) == list(range(1, 41))
    assert log.identity_columns()["sid"]["high"] == 40


# -- ADVICE r7 regression tests ------------------------------------------


def test_update_conflicts_with_concurrent_dv_attach(tmp_path, spark):
    """ADVICE r7 (high): update() rewrites files from their pre-DV read,
    so a delete_to_dv landing between derive and commit on a touched file
    must force a re-derive — otherwise the concurrently-deleted rows
    (e.g. a GDPR erasure) silently resurrect in the rewritten file."""
    log = TxLog(str(tmp_path / "t"))
    log.append(
        spark.createDataFrame([(k, 0) for k in range(10)], "k long, v long")
        .coalesce(1),
        stats_cols=["k"],
    )
    fired = []
    orig_stage = log._stage

    def stage_spy(df, *a, **kw):
        out = orig_stage(df, *a, **kw)
        if not fired:  # DV-erase k=2 after the update derived its rewrite
            fired.append(1)
            log.delete_to_dv(spark, "k", 2, 2)
        return out

    log._stage = stage_spy
    log.update(spark, "k", 0, 9, {"v": "v + 100"})
    log._stage = orig_stage
    got = {r["k"]: r["v"] for r in log.snapshot(spark).collect()}
    assert 2 not in got, "DV-deleted row resurrected through the update rewrite"
    assert got[3] == 100 and len(got) == 9


def test_delete_conflicts_with_concurrent_dv_attach(tmp_path, spark):
    """Same DV-race guard for delete(): the rewrite that drops keys 5-9
    must not resurrect the concurrently DV-erased key 2."""
    log = TxLog(str(tmp_path / "t"))
    log.append(
        spark.createDataFrame([(k, 0) for k in range(10)], "k long, v long")
        .coalesce(1),
        stats_cols=["k"],
    )
    fired = []
    orig_stage = log._stage

    def stage_spy(df, *a, **kw):
        out = orig_stage(df, *a, **kw)
        if not fired:
            fired.append(1)
            log.delete_to_dv(spark, "k", 2, 2)
        return out

    log._stage = stage_spy
    # condition forces the rewrite path (not the metadata-only drop)
    log.delete(spark, "k", 5, 9, condition="v = 0")
    log._stage = orig_stage
    got = sorted(r["k"] for r in log.snapshot(spark).collect())
    assert got == [0, 1, 3, 4], f"expected DV'd 2 and deleted 5-9 gone, got {got}"


def test_optimize_conflicts_with_concurrent_dv_attach(tmp_path, spark):
    """Compaction folds DVs by rewriting read-time contents: a DV attached
    AFTER the read must conflict (re-derive), not resurrect its rows."""
    log = TxLog(str(tmp_path / "t"))
    for lo in (0, 5):
        log.append(
            spark.createDataFrame([(k, 0) for k in range(lo, lo + 5)],
                                  "k long, v long").coalesce(1),
            stats_cols=["k"],
        )
    fired = []
    orig_stage = log._stage

    def stage_spy(df, *a, **kw):
        out = orig_stage(df, *a, **kw)
        if not fired:
            fired.append(1)
            log.delete_to_dv(spark, "k", 7, 7)
        return out

    log._stage = stage_spy
    log.optimize(spark, max_files=1)
    log._stage = orig_stage
    got = sorted(r["k"] for r in log.snapshot(spark).collect())
    assert got == [0, 1, 2, 3, 4, 5, 6, 8, 9]
    assert len(log.state().files) == 1  # compaction did land


def test_merge_into_multiple_source_rows_matched_raises(tmp_path, spark):
    """ADVICE r7 (medium): several source rows matching ONE target key is
    a nondeterministic merge — Delta raises 'multiple source rows
    matched'; we refuse with ValueError and commit nothing. Duplicate
    keys that match NO target row are fine (each row inserts)."""
    log = TxLog(str(tmp_path / "t"))
    log.append(
        spark.createDataFrame([(k, 0) for k in range(5)], "k long, v long")
        .coalesce(1),
        stats_cols=["k"],
    )
    v = log.state().version
    dup = spark.createDataFrame([(3, 1), (3, 2)], "k long, v long")
    with pytest.raises(ValueError, match="multiple source rows"):
        log.merge_into(
            spark, dup, "k", when_matched=[("update", None, {"v": "s.v"})]
        )
    assert log.state().version == v, "refused merge must not commit"
    # even a pure-insert merge must refuse: the matched target row would
    # be duplicated by the full-outer join regardless of clauses
    with pytest.raises(ValueError, match="multiple source rows"):
        log.merge_into(spark, dup, "k", when_not_matched=[("insert", None)])
    # duplicates among UNMATCHED keys are legal: both rows insert
    new = spark.createDataFrame([(100, 1), (100, 2)], "k long, v long")
    log.merge_into(spark, new, "k", when_not_matched=[("insert", None)])
    got = sorted(
        (r["k"], r["v"]) for r in log.snapshot(spark).where("k = 100").collect()
    )
    assert got == [(100, 1), (100, 2)]


def test_cdf_across_rename_translates_column_names(tmp_path, spark):
    """ADVICE r7 (medium): CDF sidecars staged BEFORE a rename carry the
    old (physical) name; a change feed crossing the rename must translate
    them to the current logical name instead of null-filling."""
    log = TxLog(str(tmp_path / "t"))
    log.set_property(TxLog.CDF_PROPERTY, "true")
    log.append(
        spark.createDataFrame([(k, k) for k in range(5)], "k long, v long")
        .coalesce(1),
        stats_cols=["k"],
    )  # v1
    log.update(spark, "k", 1, 1, {"v": "v + 50"})  # v2: sidecar under 'v'
    log.rename_column("v", "w")  # v3: metadata-only
    log.update(spark, "k", 2, 2, {"w": "w + 70"})  # v4: sidecar under 'w'
    ch = log.changes(spark, 1, cdf=True)
    rows = {
        (r["_change_type"], r["k"]): r["w"] for r in ch.collect()
    }
    assert rows[("update_preimage", 1)] == 1
    assert rows[("update_postimage", 1)] == 51, "pre-rename sidecar null-filled"
    assert rows[("update_preimage", 2)] == 2
    assert rows[("update_postimage", 2)] == 72
    assert len(rows) == 4


def test_cdf_streaming_source_across_rename(tmp_path, spark):
    """The txlog streaming source in cdf mode serves pre-rename sidecars
    under the CURRENT logical name (physical-name fallback in read())."""
    from flink_real_time_data_warehouse_spark.storage.txlog_source import (
        register_txlog_source,
    )

    log = TxLog(str(tmp_path / "t"))
    log.set_property(TxLog.CDF_PROPERTY, "true")
    log.append(
        spark.range(0, 3).selectExpr("id AS k", "id AS v").coalesce(1),
        stats_cols=["k"],
    )
    log.update(spark, "k", 1, 1, {"v": "99"})  # sidecar under 'v'
    log.rename_column("v", "w")
    register_txlog_source(spark)
    src = (
        spark.readStream.format("txlog")
        .option("path", log.path)
        .option("cdf", "true")
        .load()
    )
    q = (
        src.writeStream.format("memory")
        .queryName("cdf_ren_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {
        (r["_change_type"], r["k"], r["w"])
        for r in spark.sql("select * from cdf_ren_out").collect()
    }
    assert ("update_preimage", 1, 1) in rows
    assert ("update_postimage", 1, 99) in rows, "pre-rename sidecar null-filled"
    assert ("insert", 0, 0) in rows
    assert len(rows) == 3 + 2


def test_stale_named_append_refused_and_rename_race_safe(tmp_path, spark):
    """ADVICE r7 (medium): an append addressed by a PRE-RENAME column name
    is refused loudly (it would commit a schema with two logical columns
    sharing one physical name); an append racing a rename re-derives and
    hits the same refusal instead of silently reverting the rename."""
    log = TxLog(str(tmp_path / "t"))
    log.append(
        spark.createDataFrame([(0, 0)], "k long, v long").coalesce(1),
        stats_cols=["k"],
    )
    log.rename_column("v", "w")
    v = log.state().version
    # direct stale write: refused before anything stages
    with pytest.raises(ValueError, match="renamed"):
        log.append(spark.createDataFrame([(1, 1)], "k long, v long"))
    assert log.state().version == v
    # correctly-named append still lands (physical name 'v' in the file)
    log.append(spark.createDataFrame([(2, 2)], "k long, w long").coalesce(1))
    assert {(r["k"], r["w"]) for r in log.snapshot(spark).collect()} == {
        (0, 0), (2, 2)
    }
    # race: rename w->u lands between the append's derive and its commit;
    # the conflict rule re-derives and the stale name is refused
    log2 = TxLog(str(tmp_path / "t2"))
    log2.append(
        spark.createDataFrame([(0, 0)], "k long, v long").coalesce(1),
        stats_cols=["k"],
    )
    fired = []
    orig_stage = log2._stage

    def stage_spy(df, *a, **kw):
        out = orig_stage(df, *a, **kw)
        if not fired:
            fired.append(1)
            log2.rename_column("v", "w")
        return out

    log2._stage = stage_spy
    with pytest.raises(ValueError, match="renamed"):
        log2.append(spark.createDataFrame([(9, 9)], "k long, v long").coalesce(1))
    log2._stage = orig_stage
    st = log2.state()
    assert json.loads(st.schema_json)["fields"][1]["name"] == "w", (
        "racing append must not revert the rename's logical schema"
    )
    assert {(r["k"], r["w"]) for r in log2.snapshot(spark).collect()} == {(0, 0)}


def test_delete_to_dv_with_partition_column_predicate(tmp_path, spark):
    """ADVICE r7 (low): delete_to_dv's position scan re-attaches partition
    values, so its predicate may reference a partition column (Hive
    layout drops it from the data files)."""
    log = TxLog(str(tmp_path / "t"))
    log.append(
        spark.createDataFrame(
            [(k, "a" if k % 2 == 0 else "b") for k in range(10)],
            "k long, p string",
        ).repartition(1),
        partition_by="p",
        stats_cols=["k"],
    )
    log.delete_to_dv(spark, "k", 0, 99, condition="p = 'a'")
    got = sorted((r["k"], r["p"]) for r in log.snapshot(spark).collect())
    assert got == [(k, "b") for k in range(10) if k % 2 == 1]
    assert len(log.state().files) == 2, "DV path must not rewrite files"


def test_identity_through_merge_into_cdc_restore_clone(tmp_path, spark):
    """Identity columns as a first-class verb surface (r7 verdict task 4):
    MERGE INTO NOT-MATCHED inserts and apply_cdc new keys allocate past
    the watermark; existing keys KEEP their surrogate id; supplying the
    column is refused on every path; RESTORE does not rewind the mark
    (Delta's documented behavior); CLONE carries it."""
    log = TxLog(str(tmp_path / "t"))
    log.add_identity_column("sid", start=1, step=1)  # v0
    log.append(
        spark.createDataFrame([(k, 0) for k in range(5)], "k long, v long")
        .coalesce(1),
        stats_cols=["k"],
        identity_order_by=["k"],
    )  # v1: sid 1..5 for k 0..4
    src = spark.createDataFrame([(1, 100), (10, 10), (11, 11)], "k long, v long")
    log.merge_into(
        spark, src, "k",
        when_matched=[("update", None, {"v": "s.v"})],
        when_not_matched=[("insert", None)],
        identity_order_by=["k"],
    )  # v2
    got = {r["k"]: (r["sid"], r["v"]) for r in log.snapshot(spark).collect()}
    assert got[1] == (2, 100), "updated row must keep its surrogate id"
    assert got[10] == (6, 10) and got[11] == (7, 11), "inserts allocate in order"
    assert log.identity_columns()["sid"]["high"] == 7
    # GENERATED ALWAYS refusals on the merge family
    bad = spark.createDataFrame([(1, 1, 99)], "k long, v long, sid long")
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        log.merge_into(spark, bad, "k", when_not_matched=[("insert", None)])
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        log.merge(spark, bad, "k")
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        log.merge_into(
            spark, src, "k", when_matched=[("update", None, {"sid": "0"})]
        )
    # apply_cdc: upsert keeps sid, insert allocates, delete drops, refusal
    ch = spark.createDataFrame(
        [(0, -1, "u"), (20, 20, "i"), (4, None, "d")],
        "k long, v long, op string",
    )
    log.apply_cdc(spark, ch, "k")  # v3
    got = {r["k"]: r["sid"] for r in log.snapshot(spark).collect()}
    assert got[0] == 1 and got[20] == 8 and 4 not in got
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        log.apply_cdc(
            spark,
            spark.createDataFrame(
                [(0, 1, 9, "u")], "k long, v long, sid long, op string"
            ),
            "k",
        )
    # merge (type-1 fast path): same continuity
    log.merge(spark, spark.createDataFrame([(0, 5), (30, 30)], "k long, v long"), "k")
    got = {r["k"]: r["sid"] for r in log.snapshot(spark).collect()}
    assert got[0] == 1 and got[30] == 9
    # RESTORE is watermark-MONOTONE: back to v1, mark stays at 9
    log.restore(1)
    assert log.identity_columns()["sid"]["high"] == 9
    assert {r["k"] for r in log.snapshot(spark).collect()} == set(range(5))
    log.append(
        spark.createDataFrame([(40, 40)], "k long, v long").coalesce(1),
        identity_order_by=["k"],
    )
    sids = [r["sid"] for r in log.snapshot(spark).collect()]
    assert sorted(sids) == [1, 2, 3, 4, 5, 10], "post-restore id re-issued"
    # CLONE carries the mark as of the cloned version
    cl = log.clone(str(tmp_path / "cl"))
    assert cl.identity_columns()["sid"]["high"] == 10


def test_merge_into_schema_evolution(tmp_path, spark):
    """MERGE autoMerge (r7 verdict task 8): NOT-MATCHED inserts carrying
    a NEW column evolve the target schema in the same commit — inserted
    rows carry it, matched rewrites serve typed NULL, files the merge
    never touched read null-filled via merge_schema; without the flag,
    extra source columns are ignored (Delta's default)."""
    log = TxLog(str(tmp_path / "t"))
    for lo, hi in ((0, 5), (10, 15)):
        log.append(
            spark.createDataFrame(
                [(k, k * 10) for k in range(lo, hi)], "k long, v long"
            ).coalesce(1),
            stats_cols=["k"],
        )
    src = spark.createDataFrame(
        [(12, 120, 1), (20, 200, 2)], "k long, v long, w long"
    )
    clauses = dict(
        when_matched=[("update", None, {"v": "s.v"})],
        when_not_matched=[("insert", None)],
    )
    log.merge_into(spark, src, "k", **clauses)  # v2: default ignores w
    assert "w" not in log.snapshot(spark).columns
    log.restore(1)  # v3: back to the two appends
    before = set(log.state().files)
    log.merge_into(spark, src, "k", schema_evolution=True, **clauses)  # v4
    assert len(before & set(log.state().files)) == 1  # file1 untouched
    snap = log.snapshot(spark, merge_schema=True)
    rows = {r["k"]: (r["v"], r["w"]) for r in snap.collect()}
    assert rows[20] == (200, 2), "insert must carry the evolved column"
    assert rows[12] == (120, None), "matched rewrite serves typed NULL"
    assert rows[0] == (0, None), "untouched file null-fills on read"
    assert len(rows) == 11
    # evolution is insert-driven only: UPDATE of an unknown column refused
    with pytest.raises(ValueError, match="unknown"):
        log.merge_into(
            spark, src, "k",
            when_matched=[("update", None, {"w2": "1"})],
            schema_evolution=True,
        )


def test_optimize_preserves_partition_metadata_and_pruning(tmp_path, spark):
    """OPTIMIZE on a partitioned table compacts WITHIN partitions (Delta
    semantics): the packed files RE-RECORD their partition values, so
    partition pruning keeps skipping after compaction — previously the
    rewrite silently erased `parts` and every file survived every
    partition filter. NULL partition values round-trip as typed NULLs
    (never the Hive default-dir marker string)."""
    log = TxLog(str(tmp_path / "t"))
    for batch in range(3):  # 3 commits x 2 partition values = 6 files
        log.append(
            spark.createDataFrame(
                [(batch * 10 + k, "a" if k % 2 == 0 else "b") for k in range(6)]
                + ([(batch * 10 + 9, None)] if batch == 0 else []),
                "k long, p string",
            ).repartition(1),
            partition_by="p",
            stats_cols=["k"],
        )
    assert len(log.state().files) >= 6
    log.optimize(spark, max_files=4)
    st = log.state()
    assert all(n in st.parts for n in st.files), "compaction erased parts"
    vals = {pv.get("p") for pv in st.parts.values()}
    assert vals == {"a", "b", None}
    got_a = {r["k"] for r in log.snapshot(spark, partitions={"p": ["a"]}).collect()}
    # k=9 rides along: its file's recorded value is NULL, which partition
    # pruning keeps conservatively (same contract as files with no parts
    # metadata — prune is file-level, callers still filter rows)
    assert got_a == {0, 2, 4, 9, 10, 12, 14, 20, 22, 24}
    # the null-partition row reads back with a typed NULL, not a marker
    rows = {r["k"]: r["p"] for r in log.snapshot(spark).collect()}
    assert rows[9] is None and len(rows) == 19
    # pruning actually SKIPS files: only the p=a file(s) are scanned
    pruned_files = [
        n for n in st.files
        if st.parts.get(n, {}).get("p") in ("a",) or st.parts.get(n, {}).get("p") is None
    ]
    assert len(pruned_files) < len(st.files)


def test_convert_parquet_dir_to_table(tmp_path, spark):
    """CONVERT TO txlog (Delta's CONVERT TO DELTA): one directory walk +
    one commit turns an existing Hive-partitioned parquet dir into a
    table — files HARDLINKED (zero bytes copied), partition dirs become
    manifest partition values (NULLs included), footer stats recorded,
    the source dir untouched, streams serve the convert commit as the
    initial insert load, and a second convert is refused."""
    src = str(tmp_path / "raw")
    df = spark.createDataFrame(
        [(k, "a" if k % 2 == 0 else None) for k in range(10)],
        "k long, p string",
    )
    df.repartition(1).write.partitionBy("p").parquet(src)
    import os as _os

    n_src = sum(len(fs) for _, _, fs in _os.walk(src))
    log = TxLog.convert(
        spark, src, str(tmp_path / "t"), stats_cols=["k"]
    )
    st = log.state()
    assert st.version == 0 and log.history()[0]["op"] == "convert"
    rows = {r["k"]: r["p"] for r in log.snapshot(spark).collect()}
    assert rows == {k: ("a" if k % 2 == 0 else None) for k in range(10)}
    assert all("k" in s and "__bytes" in s for s in st.stats.values())
    assert {pv.get("p") for pv in st.parts.values()} == {"a", None}
    # source untouched (same file count), links share inodes
    assert sum(len(fs) for _, _, fs in _os.walk(src)) == n_src
    # partition pruning works off the converted metadata
    got = {r["k"] for r in log.snapshot(spark, partitions={"p": ["a"]}).collect()}
    assert {0, 2, 4, 6, 8} <= got
    # the convert commit streams as the initial insert load
    from flink_real_time_data_warehouse_spark.storage.txlog_source import (
        register_txlog_source,
    )

    register_txlog_source(spark)
    q = (
        spark.readStream.format("txlog")
        .option("path", log.path)
        .load()
        .writeStream.format("memory")
        .queryName("cv_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert spark.sql("select count(*) c from cv_out").first()["c"] == 10
    with pytest.raises(ValueError, match="already has commits"):
        TxLog.convert(spark, src, str(tmp_path / "t"))


def test_stage_stats_merge_bytes_with_footer_minmax(tmp_path, spark):
    """_stage must MERGE footer min/max into the stats dict, not replace
    it: __bytes (the streaming source's byte-pacing input) and footer
    stats coexist on every file staged with stats_cols (ADVICE r8 — the
    assignment form silently dropped __bytes, degrading pacing to
    driver-side stat() calls)."""
    log = TxLog(str(tmp_path / "t"))
    log.append(
        spark.createDataFrame([(k, k * 2) for k in range(10)], "k long, v long")
        .coalesce(2),
        stats_cols=["k"],
    )
    st = log.state()
    assert st.files, "append staged files"
    for n in st.files:
        s = st.stats.get(n, {})
        assert "__bytes" in s and s["__bytes"] > 0, f"{n} lost __bytes"
        assert "k" in s, f"{n} lost footer min/max"


def test_identity_merge_duplicate_base_key_no_fanout(tmp_path, spark):
    """Identity continuity with a DUPLICATED base key (possible via plain
    appends — identity does not enforce key uniqueness): the id map must
    collapse to one deterministic id per key (min), so a single update
    row commits as ONE row, not one per existing id (ADVICE r8)."""
    log = TxLog(str(tmp_path / "t"))
    log.add_identity_column("sid", start=1, step=1)
    log.append(
        spark.createDataFrame([(1, 0), (1, 1), (2, 2)], "k long, v long")
        .coalesce(1),
        identity_order_by=["v"],
    )  # sid 1,2 both carry k=1; sid 3 carries k=2
    log.merge(spark, spark.createDataFrame([(1, 99)], "k long, v long"), "k")
    rows = log.snapshot(spark).collect()
    k1 = [r for r in rows if r["k"] == 1]
    assert len(k1) == 1, f"update fanned out: {k1}"
    assert k1[0]["sid"] == 1 and k1[0]["v"] == 99
    # same rule on the CDC path
    ch = spark.createDataFrame([(2, -1, "u")], "k long, v long, op string")
    log.append(
        spark.createDataFrame([(2, 5)], "k long, v long").coalesce(1),
        identity_order_by=["v"],
    )  # k=2 now duplicated (sid 3 and 4)
    log.apply_cdc(spark, ch, "k")
    k2 = [r for r in log.snapshot(spark).collect() if r["k"] == 2]
    assert len(k2) == 1 and k2[0]["sid"] == 3 and k2[0]["v"] == -1


def test_write_frame_with_both_logical_and_physical_name_refused(tmp_path, spark):
    """After rename(a->b), a frame carrying BOTH a and b passes the
    stale-name check but would stage two columns sharing one physical
    name — refuse loud (ADVICE r8)."""
    log = TxLog(str(tmp_path / "t"))
    log.append(spark.createDataFrame([(1, 2)], "a long, v long").coalesce(1))
    log.rename_column("a", "b")
    both = spark.createDataFrame([(3, 4, 5)], "a long, b long, v long")
    with pytest.raises(ValueError, match="both"):
        log.append(both.coalesce(1))
    with pytest.raises(ValueError, match="both"):
        log.overwrite(both.coalesce(1))


def test_stream_writer_refuses_truncating_output_mode():
    """The txlog streaming sink is append-only: a truncating (complete)
    output mode must be refused at construction, not silently treated as
    append (ADVICE r8)."""
    from pyspark.sql.types import LongType, StructField, StructType

    from flink_real_time_data_warehouse_spark.storage.txlog_writer import (
        TxLogStreamWriter,
    )

    schema = StructType([StructField("k", LongType())])
    with pytest.raises(ValueError, match="append-only"):
        TxLogStreamWriter(schema, {"path": "/tmp/x", "app_id": "a"}, overwrite=True)


def test_optimize_sample_conf_never_leaks_to_caller(tmp_path, spark):
    """The clustered rewrite's 10x range-sampling budget is scoped to a
    maintenance session (ADVICE r10 #5): a concurrent reader of the
    CALLER's session conf must never observe it — not even mid-rewrite —
    and the caller's value is untouched afterwards."""
    import threading
    import time as _time

    CONF = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
    log = TxLog(str(tmp_path / "t"))
    for i in range(4):
        log.append(
            spark.range(i * 2000, (i + 1) * 2000)
            .selectExpr("id", "id % 7 AS k")
            .coalesce(1)
        )
    before = spark.conf.get(CONF, "100")
    seen: set[str] = set()
    stop = threading.Event()

    def poll():
        while not stop.is_set():
            seen.add(spark.conf.get(CONF, "100"))
            _time.sleep(0.002)

    t = threading.Thread(target=poll)
    t.start()
    try:
        log.optimize(spark, max_files=2, cluster_by="id")
    finally:
        stop.set()
        t.join()
    assert seen == {before}, f"sample conf leaked to caller session: {seen}"
    assert spark.conf.get(CONF, "100") == before
    assert sorted(r["id"] for r in log.snapshot(spark).collect()) == list(
        range(8000)
    )


def test_row_level_verbs_job_counts(tmp_path, spark):
    """The Spark jobs one append, one merge and one apply_cdc run on a
    small stats-keyed table, pinned: the router's dim merge and the CDC
    sink run these verbs every micro-batch, so a job added to the
    shared commit core (the key probe, the upsert rewrite) shows here."""
    from .test_plan_shape import jobs_run_by

    log = TxLog(str(tmp_path / "t"))
    rows = spark.createDataFrame([(k, 0) for k in range(10)], "k long, v long").coalesce(1)
    upd = spark.createDataFrame([(3, 33), (20, 1)], "k long, v long")
    ch = spark.createDataFrame([(5, 55, "u"), (7, None, "d")], "k long, v long, op string")
    jobs = [
        len(jobs_run_by(spark, "txlog:append", lambda: log.append(rows, stats_cols=["k"]))),
        len(jobs_run_by(spark, "txlog:merge", lambda: log.merge(spark, upd, "k"))),
        len(jobs_run_by(spark, "txlog:apply_cdc", lambda: log.apply_cdc(spark, ch, "k"))),
    ]
    assert jobs == [1, 7, 10], f"append/merge/apply_cdc ran {jobs} Spark jobs"
    got = {r["k"]: r["v"] for r in log.snapshot(spark).collect()}
    assert got == {**{k: 0 for k in range(10) if k != 7}, 3: 33, 5: 55, 20: 1}


def test_snapshot_of_many_files_lists_them_on_the_driver(tmp_path, spark):
    """Building a snapshot over 40 data files runs one Spark job, the
    read's schema inference. Past Spark's parallel-discovery threshold
    (32 paths by default) an explicit path list is listed by a job with
    one task per path; the session lists it on the driver instead."""
    from .test_plan_shape import jobs_run_by

    log = TxLog(str(tmp_path / "t"))
    for i in range(40):
        log.commit_files(_stage_rows(log, [i]), schema_json=_SCHEMA_JSON)
    holder = {}
    jobs = jobs_run_by(spark, "txlog:snapshot40", lambda: holder.setdefault("df", log.snapshot(spark)))
    assert len(jobs) == 1, f"snapshot over 40 files ran {len(jobs)} Spark jobs"
    assert sorted(r["id"] for r in holder["df"].collect()) == list(range(40))


def test_key_probe_past_the_cap_bounds_every_key(tmp_path, spark):
    """Past `_CDC_KEYS_MAX` the key probe degrades to a range, and that
    range must bound EVERY change key, not only the collected ones: with
    a cap of 0 a single key is collected, yet the changes to keys held
    by the other files must still replace or delete their rows."""
    log = TxLog(str(tmp_path / "t"))
    for lo in (0, 10, 20):
        log.append(
            spark.range(lo, lo + 10).selectExpr("id AS k", "0L AS v").coalesce(1),
            stats_cols=["k"],
        )
    log._CDC_KEYS_MAX = 0
    ch = spark.createDataFrame(
        [(5, 5, "u"), (25, 25, "u"), (15, None, "d")], "k long, v long, op string"
    )
    log.apply_cdc(spark, ch, "k")
    got = sorted((r["k"], r["v"]) for r in log.snapshot(spark).collect())
    assert got == [(k, k if k in (5, 25) else 0) for k in range(30) if k != 15]
