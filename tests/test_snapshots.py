"""Atomic snapshot commits: crash injection, reader isolation,
single-winner concurrency, partition-granular carry-forward, GC."""

from __future__ import annotations

import json
import os

import pytest

from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import (
    ConcurrentCommit, latest_version, read_snapshot, snapshot_delete,
    snapshot_prune, snapshot_upsert, snapshot_write,
)
from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import snapshots as snapmod


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_snapshot_upsert_delete_semantics(spark, tmp_path):
    """Same merge semantics as the in-place path: highest order_col
    wins, stale replays lose, deletes drop rows and emptied partitions
    vanish from the manifest (no directory-drop step to crash in)."""
    path = str(tmp_path / "tbl")
    v0 = snapshot_write(
        spark, path,
        spark.createDataFrame(
            [(1, "d1", "a", 1), (2, "d1", "b", 1), (3, "d2", "c", 1)],
            "id long, day string, val string, ver int"),
        partition_cols=["day"])
    assert v0 == 0

    ups = spark.createDataFrame([(1, "d1", "a2", 2), (4, "d2", "d", 2)],
                                "id long, day string, val string, ver int")
    v1 = snapshot_upsert(spark, path, ups, ["id"],
                         partition_cols=["day"], order_col="ver")
    assert v1 == 1
    got = _rows(read_snapshot(spark, path).select("id", "day", "val"))
    assert got == {(1, "d1", "a2"), (2, "d1", "b"),
                   (3, "d2", "c"), (4, "d2", "d")}

    # stale replay loses to the newer rows already committed
    stale = spark.createDataFrame([(1, "d1", "old", 1)],
                                  "id long, day string, val string, ver int")
    snapshot_upsert(spark, path, stale, ["id"],
                    partition_cols=["day"], order_col="ver")
    assert _rows(read_snapshot(spark, path)
                 .where("id = 1").select("val")) == {("a2",)}

    # delete all of d2 -> partition disappears entirely
    dels = spark.createDataFrame([(3,), (4,)], "id long")
    snapshot_delete(spark, path, dels, ["id"], partition_cols=["day"])
    got = _rows(read_snapshot(spark, path).select("id", "day"))
    assert got == {(1, "d1"), (2, "d1")}
    m = snapmod._load_manifest(spark, path,
                               latest_version(spark, path))
    assert all(e["partition"] != "day=d2" for e in m["files"])

    # deleting absent keys is a version-preserving no-op
    v_before = latest_version(spark, path)
    assert snapshot_delete(spark, path,
                           spark.createDataFrame([(99,)], "id long"),
                           ["id"], partition_cols=["day"]) == v_before


def test_snapshot_untouched_partitions_carried_by_reference(spark,
                                                            tmp_path):
    """An upsert touching d1 must carry d2's file entries forward
    verbatim — commit cost is the affected partitions only."""
    path = str(tmp_path / "tbl")
    snapshot_write(
        spark, path,
        spark.createDataFrame([(1, "d1", "a"), (2, "d2", "b")],
                              "id long, day string, val string"),
        partition_cols=["day"])
    m0 = snapmod._load_manifest(spark, path, 0)
    d2_files = sorted(e["path"] for e in m0["files"]
                      if e["partition"] == "day=d2")
    snapshot_upsert(spark, path,
                    spark.createDataFrame([(1, "d1", "a2")],
                                          "id long, day string, val string"),
                    ["id"], partition_cols=["day"])
    m1 = snapmod._load_manifest(spark, path, 1)
    assert sorted(e["path"] for e in m1["files"]
                  if e["partition"] == "day=d2") == d2_files
    assert sorted(e["path"] for e in m1["files"]
                  if e["partition"] == "day=d1") != \
        sorted(e["path"] for e in m0["files"]
               if e["partition"] == "day=d1")


def test_snapshot_crash_between_write_and_publish(spark, tmp_path,
                                                  monkeypatch):
    """Kill the writer after data files land but before the manifest
    rename: readers still resolve the old consistent snapshot, and a
    retry commits cleanly."""
    path = str(tmp_path / "tbl")
    snapshot_write(
        spark, path,
        spark.createDataFrame([(1, "d1", "a")],
                              "id long, day string, val string"),
        partition_cols=["day"])

    real_commit = snapmod._commit_manifest

    def crash(*a, **k):
        raise RuntimeError("injected crash before publish")

    monkeypatch.setattr(snapmod, "_commit_manifest", crash)
    ups = spark.createDataFrame([(1, "d1", "a2")],
                                "id long, day string, val string")
    with pytest.raises(RuntimeError, match="injected"):
        snapshot_upsert(spark, path, ups, ["id"],
                        partition_cols=["day"])
    # old snapshot untouched and fully readable
    assert latest_version(spark, path) == 0
    assert _rows(read_snapshot(spark, path).select("val")) == {("a",)}

    # retry succeeds; the crashed attempt's orphan files are invisible
    monkeypatch.setattr(snapmod, "_commit_manifest", real_commit)
    v = snapshot_upsert(spark, path, ups, ["id"],
                        partition_cols=["day"])
    assert v == 1
    assert _rows(read_snapshot(spark, path).select("val")) == {("a2",)}
    # ... and GC collects them
    stats = snapshot_prune(spark, path, keep_latest=1,
                           orphan_grace_seconds=0)
    assert stats["files_deleted"] >= 1
    assert _rows(read_snapshot(spark, path).select("val")) == {("a2",)}


def test_commit_writes_data_files_in_one_job(spark, tmp_path,
                                            count_jobs):
    """Every commit writes its data files in ONE Spark job, each task
    straight to its final name under data/ with its zone map and
    bloom masks computed in the task: no scratch copy, no read-back
    per stats or bloom column, no _tmp dir left behind."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import (
        scan_pruning_stats, snapshot_append,
    )
    path = str(tmp_path / "tbl")
    schema = "scene_id string, start_time double, n long, day string"
    rows = [(f"s{i}", float(i), i * 10, f"d{i % 2}") for i in range(40)]
    # a local relation: reading the frame itself runs no extra job
    df = spark.createDataFrame(rows, schema)

    def write():
        snapshot_write(spark, path, df, partition_cols=["day"])

    assert count_jobs(write) == 1
    assert not os.path.exists(f"{path}/_tmp")

    def append():
        snapshot_append(spark, path, df, stats_cols=["start_time"],
                        bloom_cols=["scene_id", "n"])

    assert count_jobs(append) == 1
    assert sorted(os.listdir(path)) == ["_manifests", "data"]
    m = json.load(open(f"{path}/_manifests/1.json"))
    new = [e for e in m["files"] if "stats" in e]
    assert new and all(
        {"start_time", "scene_id", "n"} <= set(e["stats"])
        and os.path.getsize(f"{path}/data/{e['path']}") == e["bytes"]
        for e in new)
    assert read_snapshot(spark, path).count() == 80
    st = scan_pruning_stats(spark, path, [("scene_id", "=", "s3")])
    assert st["files_pruned"] >= 1


def test_empty_write_publishes_schema_without_files(spark, tmp_path):
    """An empty frame (the landing ledger's initial commit) still
    publishes its schema, with 0 data files."""
    path = str(tmp_path / "tbl")
    v = snapshot_write(spark, path,
                       spark.createDataFrame([], "id long, day string"),
                       partition_cols=["day"])
    m = json.load(open(f"{path}/_manifests/{v}.json"))
    assert m["files"] == [] and m["segments"] == []
    got = read_snapshot(spark, path)
    assert got.schema.simpleString() == "struct<id:bigint,day:string>"
    assert got.count() == 0


def test_unadapted_scheme_fails_before_any_job(spark, count_jobs):
    """Data files go through the spark-less filesystem seam: a schemed
    path with no registered adapter fails with the seam's message
    before any Spark job runs."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import snapshot_append
    df = spark.createDataFrame([(1, "d1")], "id long, day string")
    updates = df.groupBy("day").count()

    def commit(fn):
        with pytest.raises(ValueError,
                           match="no snapshot filesystem adapter"):
            fn()

    assert count_jobs(lambda: commit(lambda: snapshot_append(
        spark, "s3a://bucket/tbl", df, partition_cols=["day"]))) == 0
    assert count_jobs(lambda: commit(lambda: snapshot_upsert(
        spark, "s3a://bucket/tbl", updates, ["day"],
        partition_cols=["day"]))) == 0


def test_upsert_on_boolean_partition_replaces_the_row(spark, tmp_path):
    """Boolean partition dirs are Spark's lowercase ``flag=true``; the
    upsert's affected-partition names must match them, or the old row
    survives next to its replacement."""
    path = str(tmp_path / "tbl")
    schema = "id long, flag boolean, v string"
    snapshot_write(spark, path, spark.createDataFrame(
        [(1, True, "a"), (2, False, "b")], schema), partition_cols=["flag"])
    snapshot_upsert(spark, path, spark.createDataFrame(
        [(1, True, "a2")], schema), ["id"], partition_cols=["flag"])
    assert sorted(tuple(r) for r in
                  read_snapshot(spark, path).select("id", "v").collect()) \
        == [(1, "a2"), (2, "b")]


def test_snapshot_concurrent_reader_sees_pinned_version(spark, tmp_path):
    """A reader that resolved version N keeps reading N's files even
    after a newer version commits mid-query (files are immutable and
    survive until pruned past retention)."""
    path = str(tmp_path / "tbl")
    snapshot_write(
        spark, path,
        spark.createDataFrame([(1, "d1", "a"), (2, "d1", "b")],
                              "id long, day string, val string"),
        partition_cols=["day"])
    reader = read_snapshot(spark, path)        # pins version 0's files
    snapshot_upsert(spark, path,
                    spark.createDataFrame([(1, "d1", "changed")],
                                          "id long, day string, val string"),
                    ["id"], partition_cols=["day"])
    assert _rows(reader.select("id", "val")) == {(1, "a"), (2, "b")}
    assert _rows(read_snapshot(spark, path).select("id", "val")) == \
        {(1, "changed"), (2, "b")}


def test_snapshot_concurrent_commit_single_winner(spark, tmp_path):
    """Two writers racing to publish the same version: the second
    rename hits an existing manifest and raises ConcurrentCommit
    instead of interleaving state."""
    path = str(tmp_path / "tbl")
    snapshot_write(
        spark, path,
        spark.createDataFrame([(1, "d1", "a")],
                              "id long, day string, val string"),
        partition_cols=["day"])
    snapshot_upsert(spark, path,
                    spark.createDataFrame([(1, "d1", "w1")],
                                          "id long, day string, val string"),
                    ["id"], partition_cols=["day"])   # publishes v1
    with pytest.raises(ConcurrentCommit):
        snapmod._commit_manifest(spark, path, 1, {"version": 1,
                                                  "partition_cols": ["day"],
                                                  "files": []})
    # winner's state intact
    assert _rows(read_snapshot(spark, path).select("val")) == {("w1",)}


def test_snapshot_prune_retention_and_gc(spark, tmp_path):
    path = str(tmp_path / "tbl")
    snapshot_write(
        spark, path,
        spark.createDataFrame([(1, "d1", "v0")],
                              "id long, day string, val string"),
        partition_cols=["day"])
    for k in range(1, 4):
        snapshot_upsert(
            spark, path,
            spark.createDataFrame([(1, "d1", f"v{k}")],
                                  "id long, day string, val string"),
            ["id"], partition_cols=["day"])
    assert latest_version(spark, path) == 3
    stats = snapshot_prune(spark, path, keep_latest=2,
                           orphan_grace_seconds=0)
    assert stats["manifests_dropped"] == 2
    assert stats["files_deleted"] >= 2
    # retained versions still read
    assert _rows(read_snapshot(spark, path).select("val")) == {("v3",)}
    assert _rows(read_snapshot(spark, path, version=2)
                 .select("val")) == {("v2",)}
    with pytest.raises(Exception):
        read_snapshot(spark, path, version=0).collect()
    # only retained files remain under data/
    m2 = snapmod._load_manifest(spark, path, 2)
    m3 = snapmod._load_manifest(spark, path, 3)
    kept = {e["path"] for e in m2["files"]} | \
        {e["path"] for e in m3["files"]}
    on_disk = set()
    for root, _, names in os.walk(str(tmp_path / "tbl" / "data")):
        for n in names:
            if not n.startswith(("_", ".")):
                rel = os.path.relpath(os.path.join(root, n),
                                      str(tmp_path / "tbl" / "data"))
                on_disk.add(rel)
    assert on_disk == kept


def test_snapshot_schema_evolution(spark, tmp_path):
    """Snapshot tables evolve without the in-place path's mergeSchema
    caveat: the manifest carries the evolved schema, so carried-forward
    partitions (whose files predate the new column) read it as NULL."""
    path = str(tmp_path / "tbl")
    snapshot_write(
        spark, path,
        spark.createDataFrame([(1, "d1", "a"), (2, "d2", "b")],
                              "id long, day string, val string"),
        partition_cols=["day"])
    with_new = spark.createDataFrame(
        [(1, "d1", "a2", 9.5)],
        "id long, day string, val string, score double")
    with pytest.raises(ValueError, match="score"):
        snapshot_upsert(spark, path, with_new, ["id"],
                        partition_cols=["day"])
    snapshot_upsert(spark, path, with_new, ["id"],
                    partition_cols=["day"], schema_evolution=True)
    # d2 was untouched (carried by reference) yet exposes the new
    # column as NULL — no mergeSchema option anywhere
    got = _rows(read_snapshot(spark, path).select("id", "val", "score"))
    assert got == {(1, "a2", 9.5), (2, "b", None)}

    # a later batch missing the evolved column still merges (rows win
    # with NULL), and the schema keeps the column
    older = spark.createDataFrame([(2, "d2", "b2")],
                                  "id long, day string, val string")
    snapshot_upsert(spark, path, older, ["id"], partition_cols=["day"],
                    schema_evolution=True)
    got = _rows(read_snapshot(spark, path).select("id", "val", "score"))
    assert got == {(1, "a2", 9.5), (2, "b2", None)}


def test_snapshot_mutable_partition_key_and_null_partition(spark,
                                                           tmp_path):
    """immutable_partitions=False merges away a moved key's stale copy;
    NULL partition values round-trip through the hive dir naming."""
    path = str(tmp_path / "tbl")
    snapshot_write(
        spark, path,
        spark.createDataFrame([(1, "d1", "a", 1), (2, None, "b", 1)],
                              "id long, day string, val string, ver int"),
        partition_cols=["day"])
    moved = spark.createDataFrame([(1, "d2", "a2", 2)],
                                  "id long, day string, val string, ver int")
    snapshot_upsert(spark, path, moved, ["id"], partition_cols=["day"],
                    order_col="ver", immutable_partitions=False)
    got = _rows(read_snapshot(spark, path).select("id", "day", "val"))
    assert got == {(1, "d2", "a2"), (2, None, "b")}


def test_snapshot_rollback_publishes_forward_copy(spark, tmp_path):
    """Rollback = a NEW version with the old version's file list —
    history stays linear and auditable; the bad version remains
    readable inside the retention window."""
    path = str(tmp_path / "tbl")
    snapshot_write(
        spark, path,
        spark.createDataFrame([(1, "d1", "good")],
                              "id long, day string, val string"),
        partition_cols=["day"])
    snapshot_upsert(spark, path,
                    spark.createDataFrame([(1, "d1", "poisoned")],
                                          "id long, day string, val string"),
                    ["id"], partition_cols=["day"])
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import (
        snapshot_rollback,
    )
    v = snapshot_rollback(spark, path, to_version=0)
    assert v == 2 and latest_version(spark, path) == 2
    assert _rows(read_snapshot(spark, path).select("val")) == {("good",)}
    # the mistake is still auditable
    assert _rows(read_snapshot(spark, path, version=1)
                 .select("val")) == {("poisoned",)}
    m = snapmod._load_manifest(spark, path, 2)
    assert m["rolled_back_from"] == 0


def test_snapshot_compact_merges_fragments(spark, tmp_path):
    """Repeated upserts fragment a partition into per-commit files;
    compaction rewrites affected partitions into few files in ONE new
    version, carrying untouched partitions by reference."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import (
        snapshot_compact,
    )

    path = str(tmp_path / "tbl")
    # fragment d1 at write time: 6 writer tasks each hold d1 rows, so
    # the commit lands ~6 small files in that partition dir (the same
    # sprawl a wide-parallelism job or streaming sink produces)
    frag = spark.createDataFrame(
        [(i, "d1", f"v{i}") for i in range(60)] + [(1000, "d2", "w")],
        "id long, day string, val string").repartition(6)
    snapshot_write(spark, path, frag, partition_cols=["day"])
    before = snapmod._load_manifest(spark, path,
                                    latest_version(spark, path))
    d1_before = [e for e in before["files"] if e["partition"] == "day=d1"]
    d2_before = [e for e in before["files"] if e["partition"] == "day=d2"]
    rows_before = _rows(read_snapshot(spark, path))

    v = snapshot_compact(spark, path, partitions=["day=d1"])
    after = snapmod._load_manifest(spark, path, v)
    d1_after = [e for e in after["files"] if e["partition"] == "day=d1"]
    d2_after = [e for e in after["files"] if e["partition"] == "day=d2"]
    assert len(d1_after) < len(d1_before) and len(d1_after) >= 1
    # d2 carried by reference, data identical
    assert sorted(e["path"] for e in d2_after) == \
        sorted(e["path"] for e in d2_before)
    assert _rows(read_snapshot(spark, path)) == rows_before

    import pytest
    with pytest.raises(ValueError, match="unknown partitions"):
        snapshot_compact(spark, path, partitions=["day=nope"])


def test_snapshot_prune_grace_protects_inflight_commit(spark, tmp_path,
                                                       monkeypatch):
    """A prune racing a writer mid-commit must NOT delete the writer's
    freshly-written (not-yet-referenced) data files: young orphans are
    protected by the grace window; with grace 0 they are collected."""
    path = str(tmp_path / "tbl")
    snapshot_write(
        spark, path,
        spark.createDataFrame([(1, "d1", "a")],
                              "id long, day string, val string"),
        partition_cols=["day"])
    # simulate mid-commit: data files written, manifest not yet
    monkeypatch.setattr(snapmod, "_commit_manifest",
                        lambda *a, **k: (_ for _ in ()).throw(
                            RuntimeError("pause before publish")))
    with pytest.raises(RuntimeError):
        snapshot_upsert(spark, path,
                        spark.createDataFrame([(1, "d1", "a2")],
                                              "id long, day string,"
                                              " val string"),
                        ["id"], partition_cols=["day"])
    # default grace: the in-flight files survive the prune
    stats = snapshot_prune(spark, path, keep_latest=1)
    assert stats["files_deleted"] == 0
    # grace 0 (explicit "no writers running"): they are collected
    stats = snapshot_prune(spark, path, keep_latest=1,
                           orphan_grace_seconds=0)
    assert stats["files_deleted"] >= 1
    assert _rows(read_snapshot(spark, path).select("val")) == {("a",)}


def test_snapshot_delete_preserves_evolved_schema(spark, tmp_path):
    """r7 regression (ADVICE r6, high): snapshot_delete must read the
    affected partitions with the MANIFEST schema. After a schema
    evolution, a delete spanning an old-schema and an evolved
    partition used to infer the schema from one footer and silently
    null the evolved column's surviving values in the rewrite."""
    path = str(tmp_path / "tbl")
    snapshot_write(
        spark, path,
        spark.createDataFrame([(1, "d1", "a"), (2, "d2", "b")],
                              "id long, day string, val string"),
        partition_cols=["day"])
    # evolve: new column `extra`, written only into d2
    snapshot_upsert(
        spark, path,
        spark.createDataFrame([(3, "d2", "c", "KEEP")],
                              "id long, day string, val string, extra string"),
        ["id"], partition_cols=["day"], schema_evolution=True)
    # delete one key from EACH partition: the rewrite now spans an
    # old-schema partition (d1) and an evolved one (d2)
    snapshot_delete(spark, path,
                    spark.createDataFrame([(1,), (2,)], "id long"),
                    ["id"], partition_cols=["day"])
    got = _rows(read_snapshot(spark, path).select("id", "extra"))
    assert got == {(3, "KEEP")}


# ---------------------------------------------------------------------------
# Pluggable commit strategies (r7): the CAS point is one overridable
# method, so stores where rename overwrites get LockFileCommit and
# tests can inject misbehaving-filesystem shims.
# ---------------------------------------------------------------------------


class _OverwritingRename(snapmod.RenameCommit):
    """Shim emulating RawLocalFileSystem-style rename: silently
    replaces an existing destination."""

    def _rename(self, fs, src, dst) -> bool:
        if fs.exists(dst):
            fs.delete(dst, False)
        return bool(fs.rename(src, dst))


class _RacingOverwritingRename(_OverwritingRename):
    """Worst-case interleaving for RenameCommit: another writer
    publishes BETWEEN this writer's exists() check and its rename
    (the classic TOCTOU window), on a store whose rename overwrites."""

    def __init__(self, spark, path):
        self._spark, self._path, self.raced = spark, path, False

    def _rename(self, fs, src, dst) -> bool:
        if not self.raced:
            self.raced = True
            snapmod.RenameCommit().publish(
                self._spark, self._path, 1,
                {"version": 1, "partition_cols": [], "schema": None,
                 "files": [], "writer": "other"})
        return super()._rename(fs, src, dst)


@pytest.fixture
def _strategy_guard():
    prev = snapmod.set_commit_strategy(snapmod.RenameCommit())
    yield
    snapmod.set_commit_strategy(prev)


def test_lockfile_commit_end_to_end(spark, tmp_path, _strategy_guard):
    """The full upsert/delete/read flow is strategy-independent: under
    LockFileCommit every existing semantic holds, and a same-version
    double publish yields one winner + ConcurrentCommit."""
    snapmod.set_commit_strategy(snapmod.LockFileCommit())
    path = str(tmp_path / "tbl")
    snapshot_write(spark, path, spark.createDataFrame(
        [(1, "d1", "a"), (2, "d2", "b")], "id long, day string, v string"),
        partition_cols=["day"])
    snapshot_upsert(spark, path, spark.createDataFrame(
        [(2, "d2", "B"), (3, "d2", "c")], "id long, day string, v string"),
        ["id"], partition_cols=["day"])
    snapshot_delete(spark, path,
                    spark.createDataFrame([(1,)], "id long"), ["id"],
                    partition_cols=["day"])
    assert _rows(read_snapshot(spark, path).select("id", "v")) == {
        (2, "B"), (3, "c")}
    with pytest.raises(ConcurrentCommit):
        snapmod._commit_manifest(spark, path, 2, {
            "version": 2, "partition_cols": ["day"], "schema": None,
            "files": []})
    # no lock left behind after wins OR losses
    assert not os.path.exists(f"{path}/_manifests/.commit-lock")


def test_lockfile_commit_single_winner_even_when_rename_overwrites(
        spark, tmp_path, _strategy_guard):
    """On an overwriting-rename store, LockFileCommit still produces
    one winner per version: the exists() check runs UNDER the lock, so
    no interleaving can slip a second manifest past it."""
    snapmod.set_commit_strategy(snapmod.LockFileCommit())
    strat = _OverwritingRename()
    path = str(tmp_path / "tbl")
    snapshot_write(spark, path, spark.createDataFrame(
        [(1, "d1", "a")], "id long, day string, v string"),
        partition_cols=["day"])

    class _LockWithOverwrite(snapmod.LockFileCommit):
        _rename = strat._rename

    snapmod.set_commit_strategy(_LockWithOverwrite())
    v1 = snapshot_upsert(spark, path, spark.createDataFrame(
        [(2, "d1", "b")], "id long, day string, v string"),
        ["id"], partition_cols=["day"])
    assert v1 == 1
    with pytest.raises(ConcurrentCommit):
        snapmod._commit_manifest(spark, path, 1, {
            "version": 1, "partition_cols": ["day"], "schema": None,
            "files": [], "writer": "loser"})
    m = json.loads(open(f"{path}/_manifests/1.json").read())
    assert m.get("writer") != "loser" and m["files"]


def test_rename_commit_toctou_documented_unsafe_on_overwriting_store(
        spark, tmp_path, _strategy_guard):
    """The failure matrix's [1] reproduced: with overwrite-semantics
    rename, a competing commit landing inside RenameCommit's
    exists→rename window is silently replaced (last-writer-wins) —
    exactly why LockFileCommit exists. Under LockFileCommit the same
    interleaved competitor cannot even acquire the lock."""
    path = str(tmp_path / "tbl")
    racing = _RacingOverwritingRename(spark, path)
    racing.publish(spark, path, 1, {
        "version": 1, "partition_cols": [], "schema": None,
        "files": [], "writer": "toctou-loser-should-have-failed"})
    m = json.loads(open(f"{path}/_manifests/1.json").read())
    # documented data-loss shape: the second writer overwrote the first
    assert m["writer"] == "toctou-loser-should-have-failed"

    # same interleave under the lock: the racing competitor (a
    # LockFileCommit writer this time) hits the held lock and loses
    # cleanly instead of overwriting
    path2 = str(tmp_path / "tbl2")

    class _RacingUnderLock(snapmod.LockFileCommit):
        raced = False

        def _rename(self, fs, src, dst) -> bool:
            if not _RacingUnderLock.raced:
                _RacingUnderLock.raced = True
                with pytest.raises(ConcurrentCommit):
                    snapmod.LockFileCommit().publish(
                        spark, path2, 1,
                        {"version": 1, "partition_cols": [],
                         "schema": None, "files": [], "writer": "other"})
            if fs.exists(dst):
                fs.delete(dst, False)
            return bool(fs.rename(src, dst))

    _RacingUnderLock().publish(spark, path2, 1, {
        "version": 1, "partition_cols": [], "schema": None,
        "files": [], "writer": "lock-holder"})
    m2 = json.loads(open(f"{path2}/_manifests/1.json").read())
    assert m2["writer"] == "lock-holder"


def test_lockfile_commit_breaks_stale_lock_and_respects_fresh_one(
        spark, tmp_path, _strategy_guard):
    """A crashed writer's abandoned lock is broken after the timeout
    (publish succeeds); a FRESH lock (live writer) makes the publish
    lose cleanly."""
    import time
    path = str(tmp_path / "tbl")
    mdir = f"{path}/_manifests"
    os.makedirs(mdir)
    lock = f"{mdir}/.commit-lock"
    open(lock, "w").write("crashed-writer")
    os.utime(lock, (time.time() - 3600, time.time() - 3600))
    snapmod.LockFileCommit(lock_timeout_seconds=60).publish(
        spark, path, 0, {"version": 0, "partition_cols": [],
                         "schema": None, "files": []})
    assert os.path.exists(f"{mdir}/0.json")
    assert not os.path.exists(lock)

    open(lock, "w").write("live-writer")           # fresh → respected
    with pytest.raises(ConcurrentCommit):
        snapmod.LockFileCommit(lock_timeout_seconds=60).publish(
            spark, path, 1, {"version": 1, "partition_cols": [],
                             "schema": None, "files": []})
    assert not os.path.exists(f"{mdir}/1.json")


def test_lockfile_takeover_marker_expires_after_crashed_breaker(
        spark, tmp_path):
    """A breaker that crashed between creating and deleting its
    .takeover marker must not wedge stale-lock recovery forever: the
    marker has the same age-based expiry as the lock, so a later
    writer expires it, completes the takeover, and publishes."""
    import time
    path = str(tmp_path / "tbl")
    mdir = f"{path}/_manifests"
    os.makedirs(mdir)
    old = time.time() - 3600
    lock = f"{mdir}/.commit-lock"
    marker = f"{lock}.takeover"
    open(lock, "w").write("crashed-writer")
    open(marker, "w").write("crashed-breaker")
    os.utime(lock, (old, old))
    os.utime(marker, (old, old))
    snapmod.LockFileCommit(lock_timeout_seconds=60).publish(
        spark, path, 0, {"version": 0, "partition_cols": [],
                         "schema": None, "files": []})
    assert os.path.exists(f"{mdir}/0.json")
    assert not os.path.exists(lock) and not os.path.exists(marker)

    # a FRESH marker (live breaker mid-takeover) is respected
    open(lock, "w").write("crashed-writer")
    os.utime(lock, (old, old))
    open(marker, "w").write("live-breaker")
    with pytest.raises(ConcurrentCommit):
        snapmod.LockFileCommit(lock_timeout_seconds=60).publish(
            spark, path, 1, {"version": 1, "partition_cols": [],
                             "schema": None, "files": []})
    assert not os.path.exists(f"{mdir}/1.json")
    assert os.path.exists(marker)


def test_lockfile_fencing_stalled_holder_cannot_clobber_successor(
        spark, tmp_path):
    """ADVICE r7 (medium): a holder stalled past lock_timeout_seconds
    whose lock was broken must NOT rename its manifest over the
    successor's state. The token fence catches both shapes: (a) the
    successor already RELEASED (lock gone) and published our version
    — the absence re-check fires; (b) the successor still HOLDS the
    lock (different token) — the ownership re-check fires, and our
    conditional release leaves the successor's lock in place."""
    path = str(tmp_path / "tbl")
    mdir = f"{path}/_manifests"

    class _StallsThenResumes(snapmod.LockFileCommit):
        """Simulates the GC/NFS stall INSIDE the guarded section: by
        the time this holder reaches its rename, a breaker has expired
        its lock and published the same version."""

        def _publish_under_lock(self, spark_, fs, jvm, mdir_, version,
                                manifest, lock, token):
            import time
            old = time.time() - 3600
            os.utime(lock, (old, old))
            snapmod.LockFileCommit(lock_timeout_seconds=60).publish(
                spark_, path, version,
                {"version": version, "partition_cols": [],
                 "schema": None, "files": [], "writer": "successor"})
            return super()._publish_under_lock(
                spark_, fs, jvm, mdir_, version, manifest, lock, token)

    with pytest.raises(ConcurrentCommit):
        _StallsThenResumes(lock_timeout_seconds=60).publish(
            spark, path, 0, {"version": 0, "partition_cols": [],
                             "schema": None, "files": [],
                             "writer": "stalled-holder"})
    m = json.loads(open(f"{mdir}/0.json").read())
    assert m["writer"] == "successor"          # not clobbered

    # shape (b): successor still holds the lock when we resume
    path2 = str(tmp_path / "tbl2")
    mdir2 = f"{path2}/_manifests"
    live = snapmod.LockFileCommit(lock_timeout_seconds=60)

    class _StallsUnderLiveSuccessor(snapmod.LockFileCommit):
        def _publish_under_lock(self, spark_, fs, jvm, mdir_, version,
                                manifest, lock, token):
            import time
            old = time.time() - 3600
            os.utime(lock, (old, old))
            # successor breaks the stale lock and HOLDS it (no release
            # yet — mid-publish), publishing a different version
            self.successor = live._acquire(spark_, fs, jvm, mdir_)
            return super()._publish_under_lock(
                spark_, fs, jvm, mdir_, version, manifest, lock, token)

    strat = _StallsUnderLiveSuccessor(lock_timeout_seconds=60)
    with pytest.raises(ConcurrentCommit):
        strat.publish(spark, path2, 0,
                      {"version": 0, "partition_cols": [],
                       "schema": None, "files": []})
    assert not os.path.exists(f"{mdir2}/0.json")
    # the stalled holder's conditional release left the successor's
    # lock (and token) intact — it did not unlock a live writer
    _, succ_token = strat.successor
    assert open(f"{mdir2}/.commit-lock").read() == succ_token


def test_exists_error_classification_is_class_based():
    """ADVICE r7 (low): FileAlreadyExists is recognized by Java
    exception CLASS through the cause chain, not message wording —
    unusual wording still reads as contention, and an unrelated error
    that merely mentions 'exists' does not."""

    class _JCls:
        def __init__(self, name):
            self._n = name

        def getName(self):
            return self._n

    class _JExc:
        def __init__(self, name, cause=None):
            self._cls, self._cause = _JCls(name), cause

        def getClass(self):
            return self._cls

        def getCause(self):
            return self._cause

    class _Py4JError(Exception):
        def __init__(self, je):
            super().__init__("An error occurred while calling o1.create")
            self.java_exception = je

    direct = _Py4JError(_JExc(
        "org.apache.hadoop.fs.FileAlreadyExistsException"))
    wrapped = _Py4JError(_JExc(
        "java.io.IOException",
        cause=_JExc("java.nio.file.FileAlreadyExistsException")))
    misleading = _Py4JError(_JExc(
        "java.io.IOException"))   # suppose its message said "exists"
    assert snapmod._is_exists_error(direct)
    assert snapmod._is_exists_error(wrapped)
    assert not snapmod._is_exists_error(misleading)
    assert snapmod._is_exists_error(FileExistsError("shim"))
    assert not snapmod._is_exists_error(
        RuntimeError("checking whether path exists failed"))


# ---------------------------------------------------------------------------
# ConditionalPutCommit (r8): the S3-proper strategy — the CAS is the
# store's own atomic create-if-absent, exercised against a shim where
# BOTH filesystem primitives are unsafe (rename overwrites, create is
# HEAD-then-PUT) and only the conditional-PUT endpoint is atomic.
# ---------------------------------------------------------------------------


def _atomic_put_if_absent(path, body):
    """The service-side primitive, modeled locally with O_EXCL (on S3
    this is the `If-None-Match: *` PUT — atomic at the service)."""
    try:
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        return False
    with os.fdopen(fd, "w") as f:
        f.write(body)
    return True


def test_conditional_put_commit_end_to_end(spark, tmp_path,
                                           _strategy_guard):
    """The full upsert/delete/read flow under ConditionalPutCommit:
    every semantic holds, a same-version double publish yields one
    winner + ConcurrentCommit, and a transport failure mid-commit
    leaves the previous version fully readable (no temp/lock residue
    exists to leak — the strategy writes exactly one object)."""
    snapmod.set_commit_strategy(
        snapmod.ConditionalPutCommit(_atomic_put_if_absent))
    path = str(tmp_path / "tbl")
    snapshot_write(spark, path, spark.createDataFrame(
        [(1, "d1", "a"), (2, "d2", "b")],
        "id long, day string, v string"), partition_cols=["day"])
    snapshot_upsert(spark, path, spark.createDataFrame(
        [(2, "d2", "B"), (3, "d2", "c")],
        "id long, day string, v string"), ["id"],
        partition_cols=["day"])
    snapshot_delete(spark, path,
                    spark.createDataFrame([(1,)], "id long"), ["id"],
                    partition_cols=["day"])
    assert _rows(read_snapshot(spark, path).select("id", "v")) == {
        (2, "B"), (3, "c")}
    with pytest.raises(ConcurrentCommit):
        snapmod._commit_manifest(spark, path, 2, {
            "version": 2, "partition_cols": ["day"], "schema": None,
            "files": []})

    def _broken_transport(p, body):
        raise IOError("503 SlowDown")

    snapmod.set_commit_strategy(
        snapmod.ConditionalPutCommit(_broken_transport))
    before = _rows(read_snapshot(spark, path).select("id", "v"))
    with pytest.raises(IOError):
        snapshot_upsert(spark, path, spark.createDataFrame(
            [(9, "d2", "z")], "id long, day string, v string"),
            ["id"], partition_cols=["day"])
    assert latest_version(spark, path) == 2
    assert _rows(read_snapshot(spark, path).select("id", "v")) == before


def test_conditional_put_single_winner_where_both_primitives_fail(
        spark, tmp_path, _strategy_guard):
    """The failure matrix's S3 row, reproduced then fixed. On a store
    whose rename overwrites AND whose exclusive create is a
    HEAD-then-PUT race: (a) LockFileCommit loses a committed version
    when the competitor lands in its irreducible rename window —
    documented-unsafe, the reason [2] exists; (b) ConditionalPutCommit
    under the SAME adversarial interleave keeps exactly one winner,
    because the competitor's publish makes OUR conditional PUT fail
    atomically."""
    path = str(tmp_path / "tbl")

    class _HeadThenPutLock(snapmod.LockFileCommit):
        """Object-store shim: non-exclusive create (HEAD then PUT),
        overwriting rename, competitor publishes inside the window."""
        raced = False

        def _try_create(self, spark_, path_, text) -> bool:
            if os.path.exists(path_):           # HEAD
                return False
            os.makedirs(os.path.dirname(path_), exist_ok=True)
            open(path_, "w").write(text)        # PUT (not atomic)
            return True

        def _rename(self, fs, src, dst) -> bool:
            if not _HeadThenPutLock.raced:
                _HeadThenPutLock.raced = True
                # competitor commits the same version NOW — inside the
                # post-fence window no lock emulation can close
                _atomic_put_if_absent(
                    dst.toUri().getPath(),
                    json.dumps({"version": 1, "partition_cols": [],
                                "schema": None, "files": [],
                                "writer": "competitor"}))
            if fs.exists(dst):
                fs.delete(dst, False)           # rename overwrites
            return bool(fs.rename(src, dst))

    _HeadThenPutLock().publish(spark, path, 1, {
        "version": 1, "partition_cols": [], "schema": None,
        "files": [], "writer": "lock-believer"})
    m = json.loads(open(f"{path}/_manifests/1.json").read())
    # documented data loss: the competitor's committed version is gone
    assert m["writer"] == "lock-believer"

    # same interleave through the conditional primitive: one winner
    path2 = str(tmp_path / "tbl2")
    state = {"raced": False}

    def _racing_put(p, body):
        if not state["raced"]:
            state["raced"] = True
            assert _atomic_put_if_absent(p, json.dumps(
                {"version": 1, "partition_cols": [], "schema": None,
                 "files": [], "writer": "competitor"}))
        return _atomic_put_if_absent(p, body)

    with pytest.raises(ConcurrentCommit):
        snapmod.ConditionalPutCommit(_racing_put).publish(
            spark, path2, 1, {"version": 1, "partition_cols": [],
                              "schema": None, "files": [],
                              "writer": "loser"})
    m2 = json.loads(open(f"{path2}/_manifests/1.json").read())
    assert m2["writer"] == "competitor"        # winner survived


# ---------------------------------------------------------------------------
# Metadata scaling (r7): _latest_hint pointer + manifest segments.
# ---------------------------------------------------------------------------


def test_latest_hint_resolution_and_fallbacks(spark, tmp_path):
    """The hint is advisory: fresh → O(1) resolve; stale → forward
    probe finds the true head; corrupt/missing → full-listing
    fallback. All paths return the same answer."""
    path = str(tmp_path / "tbl")
    for v in range(5):
        snapmod._commit_manifest(spark, path, v, {
            "version": v, "partition_cols": [], "schema": None,
            "files": []})
    mdir = f"{path}/_manifests"
    assert latest_version(spark, path) == 4
    assert int(open(f"{mdir}/_latest_hint").read()) == 4

    open(f"{mdir}/_latest_hint", "w").write("1")       # stale → probe
    assert latest_version(spark, path) == 4
    open(f"{mdir}/_latest_hint", "w").write("junk")    # corrupt → list
    assert latest_version(spark, path) == 4
    os.remove(f"{mdir}/_latest_hint")                  # missing → list
    assert latest_version(spark, path) == 4
    # hint ahead of reality (torn write): exists check rejects it
    open(f"{mdir}/_latest_hint", "w").write("99")
    assert latest_version(spark, path) == 4


def test_thousand_commit_resolve_stays_flat(spark, tmp_path):
    """10³ commits: resolve cost with the hint is a handful of exists
    calls, independent of commit count (the judge's r7 scale ask)."""
    import time
    path = str(tmp_path / "tbl")
    for v in range(1000):
        snapmod._commit_manifest(spark, path, v, {
            "version": v, "partition_cols": [], "schema": None,
            "files": []})
    t0 = time.perf_counter()
    for _ in range(20):
        assert latest_version(spark, path) == 999
    hinted = (time.perf_counter() - t0) / 20
    # generous absolute bound: 2 exists() + 1 small read per resolve;
    # a full 1000-file listing + parse per resolve would not fit it
    # on a loaded box either way this stays order-of-magnitude safe
    assert hinted < 0.05, f"hinted resolve {hinted:.4f}s not flat"
    # and read_snapshot itself resolves + loads one manifest in O(1)
    t0 = time.perf_counter()
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, path)        # empty manifest, no schema
    assert time.perf_counter() - t0 < 0.5


def test_segment_carry_by_reference_bounds_manifest_size(spark, tmp_path,
                                                         monkeypatch):
    """With many partitions, per-commit manifest JSON stays O(affected
    + roll threshold): untouched partitions ride in segment files
    carried by REFERENCE (same segment names across versions), reads
    resolve the full list, and prune GCs only orphaned segments."""
    monkeypatch.setattr(snapmod, "_SEGMENT_ROLL", 10)
    path = str(tmp_path / "tbl")
    rows = [(i, f"p{i % 40}", i) for i in range(400)]
    # one input partition, so one file per table partition whatever the
    # core count: 40 files roll into 4 full groups, no inline tail
    snapshot_write(spark, path,
                   spark.createDataFrame(rows, "id long, part string, v long")
                   .repartition(1),
                   partition_cols=["part"])
    m0 = json.loads(open(f"{path}/_manifests/0.json").read())
    assert m0["segments"] and not m0["files"], \
        "initial load should roll into a segment"

    # touch ONE partition; 39 others must carry by reference
    v1 = snapshot_upsert(spark, path,
                         spark.createDataFrame([(7, "p7", 999)],
                                               "id long, part string, v long"),
                         ["id"], partition_cols=["part"])
    m1 = json.loads(open(f"{path}/_manifests/{v1}.json").read())
    seg_names0 = {s["path"] for s in m0["segments"]}
    seg_names1 = {s["path"] for s in m1["segments"]}
    # the broken segment (containing p7) was inlined; all segments
    # disjoint from p7 are the SAME file references
    assert seg_names1 & seg_names0 or m1["files"], "nothing carried"
    inline_parts = {e["partition"] for e in m1["files"]}
    assert all("part=p7" not in s["partitions"] or s["path"] not in
               seg_names0 for s in m1["segments"])
    got = _rows(read_snapshot(spark, path).select("id", "v"))
    want = {(i, 999 if i == 7 else i) for i in range(400)}
    assert got == want

    # a second single-partition commit: manifest inline list stays
    # bounded (roll threshold), not O(total files)
    v2 = snapshot_upsert(spark, path,
                         spark.createDataFrame([(8, "p8", 888)],
                                               "id long, part string, v long"),
                         ["id"], partition_cols=["part"])
    m2 = json.loads(open(f"{path}/_manifests/{v2}.json").read())
    assert len(m2["files"]) <= 10 + len(inline_parts) * 2

    res = snapshot_prune(spark, path, keep_latest=1,
                         orphan_grace_seconds=0.0)
    live = {s["path"] for s in m2["segments"]}
    on_disk = {n for n in os.listdir(f"{path}/_manifests")
               if n.endswith(".segment")}
    assert on_disk == live, "prune must GC exactly the orphan segments"
    assert _rows(read_snapshot(spark, path).select("id", "v")) == {
        (i, 999 if i == 7 else 888 if i == 8 else i) for i in range(400)}


def test_in_place_maintenance_warns_toward_snapshots(spark, tmp_path):
    """merge_upsert / delete_keys emit InPlaceMaintenanceWarning
    pointing at the snapshot path (r7 API unification) — semantics
    unchanged, single-writer users can filter it off."""
    import warnings as _w

    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import (
        InPlaceMaintenanceWarning, delete_keys, merge_upsert,
    )
    path = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1, "d1", "a"), (2, "d1", "b")],
                               "id long, day string, v string")
    df.write.partitionBy("day").parquet(path)
    with pytest.warns(InPlaceMaintenanceWarning, match="snapshot_upsert"):
        merge_upsert(spark, path,
                     spark.createDataFrame([(2, "d1", "B")],
                                           "id long, day string, v string"),
                     ["id"], partition_cols=["day"])
    with pytest.warns(InPlaceMaintenanceWarning, match="snapshot_delete"):
        delete_keys(spark, path,
                    spark.createDataFrame([(1,)], "id long"), ["id"],
                    partition_cols=["day"])
    assert _rows(spark.read.parquet(path).select("id", "v")) == {(2, "B")}
    # and it is silenceable — the documented single-writer opt-out
    with _w.catch_warnings():
        _w.simplefilter("error", InPlaceMaintenanceWarning)
        _w.filterwarnings("ignore", category=InPlaceMaintenanceWarning)
        merge_upsert(spark, path,
                     spark.createDataFrame([(3, "d1", "c")],
                                           "id long, day string, v string"),
                     ["id"], partition_cols=["day"])


# -- append commits (r7) ------------------------------------------------------


def test_snapshot_append_carries_everything_by_reference(spark, tmp_path):
    """Append is the zero-read commit: every previous entry survives
    verbatim in the next manifest and only the batch's files are new."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import snapshot_append
    path = str(tmp_path / "tbl")
    snapshot_write(
        spark, path,
        spark.createDataFrame([(1, "d1", "a"), (2, "d2", "b")],
                              "id long, day string, val string"),
        partition_cols=["day"])
    m0 = snapmod._load_manifest(spark, path, 0)
    prev_paths = {e["path"] for e in m0["files"]}

    v1 = snapshot_append(
        spark, path,
        spark.createDataFrame([(3, "d1", "c"), (4, "d3", "d")],
                              "id long, day string, val string"))
    assert v1 == 1
    got = _rows(read_snapshot(spark, path).select("id", "day", "val"))
    assert got == {(1, "d1", "a"), (2, "d2", "b"),
                   (3, "d1", "c"), (4, "d3", "d")}
    m1 = snapmod._load_manifest(spark, path, 1)
    new_paths = {e["path"] for e in
                 snapmod._manifest_entries(spark, path, m1)}
    assert prev_paths <= new_paths, \
        "append must carry every previous file by reference"
    # readers of v0 stay pinned
    assert _rows(read_snapshot(spark, path, version=0)
                 .select("id")) == {(1,), (2,)}


def test_snapshot_append_schema_contract(spark, tmp_path):
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import snapshot_append
    path = str(tmp_path / "tbl")
    with pytest.raises(ValueError, match="partition_cols"):
        snapshot_append(spark, path, spark.range(1))
    snapshot_write(
        spark, path,
        spark.createDataFrame([(1, "d1", "a")],
                              "id long, day string, val string"),
        partition_cols=["day"])
    # drifted columns raise without opt-in
    drifted = spark.createDataFrame([(2, "d1", 7)],
                                    "id long, day string, extra int")
    with pytest.raises(ValueError, match="drifted"):
        snapshot_append(spark, path, drifted)
    # partition column can never be missing
    with pytest.raises(ValueError, match="never be evolved"):
        snapshot_append(spark, path,
                        spark.createDataFrame([(2,)], "id long"),
                        schema_evolution=True)
    # with evolution: union schema, NULL-filled both directions
    v = snapshot_append(spark, path, drifted, schema_evolution=True)
    assert v == 1, "failed appends must not consume versions"
    got = _rows(read_snapshot(spark, path)
                .select("id", "val", "extra"))
    assert got == {(1, "a", None), (2, None, 7)}
    # wrong partition spec still raises
    with pytest.raises(ValueError, match="do not match"):
        snapshot_append(spark, path, drifted, partition_cols=["id"])


# -- file-skipping zone maps (r7) --------------------------------------------


def test_prune_entries_semantics():
    """Pure zone-map logic: boundary inclusivity per op, missing stats
    kept, all-null files pruned, unknown ops rejected."""
    e = {"path": "f", "partition": "", "stats": {"x": {"min": 10,
                                                       "max": 20}}}
    keep = snapmod._conj_may_match
    assert keep(e, [("x", "=", 10)]) and keep(e, [("x", "=", 20)])
    assert not keep(e, [("x", "=", 9)]) and not keep(e, [("x", "=", 21)])
    assert keep(e, [("x", "<", 11)]) and not keep(e, [("x", "<", 10)])
    assert keep(e, [("x", "<=", 10)]) and not keep(e, [("x", "<=", 9)])
    assert keep(e, [("x", ">", 19)]) and not keep(e, [("x", ">", 20)])
    assert keep(e, [("x", ">=", 20)]) and not keep(e, [("x", ">=", 21)])
    # conjunction: any disproving predicate prunes
    assert not keep(e, [("x", ">=", 15), ("x", "<", 12)])
    # stats absent for the column -> must keep
    assert keep({"path": "f", "partition": ""}, [("x", "=", 0)])
    assert keep({"path": "f", "partition": "",
                 "stats": {"y": {"min": 1, "max": 2}}}, [("x", "=", 0)])
    # all-null file: no non-null value can satisfy any comparison
    e_null = {"path": "f", "partition": "",
              "stats": {"x": {"min": None, "max": None, "nulls": 7,
                              "rows": 7}}}
    assert not keep(e_null, [("x", ">=", 0)])
    # r8 ops: IN against the range, null-count-driven IS [NOT] NULL
    assert keep(e, [("x", "in", [1, 15])])
    assert not keep(e, [("x", "in", [1, 25])])
    assert not keep(e, [("x", "in", [])])
    assert not keep(e_null, [("x", "in", [1])])
    e_nn = {"path": "f", "partition": "",
            "stats": {"x": {"min": 10, "max": 20, "nulls": 0,
                            "rows": 7}}}
    assert not keep(e_nn, [("x", "is_null", None)])
    assert keep(e_nn, [("x", "is_not_null", None)])
    assert keep(e_null, [("x", "is_null", None)])
    assert not keep(e_null, [("x", "is_not_null", None)])
    # legacy stats without null counts must stay conservative
    assert keep(e, [("x", "is_null", None)])
    assert keep(e, [("x", "is_not_null", None)])
    # DNF: kept iff ANY disjunct may match
    assert snapmod._entry_may_match(e, [[("x", "=", 9)],
                                        [("x", "=", 15)]])
    assert not snapmod._entry_may_match(e, [[("x", "=", 9)],
                                            [("x", "=", 25)]])
    with pytest.raises(ValueError, match="unsupported predicate"):
        snapmod._prune_entries([e], [("x", "!=", 3)])


def test_snapshot_scan_skips_files_and_matches_plain_filter(spark,
                                                            tmp_path):
    """On a value-sorted layout a selective scan must hand Spark only
    the intersecting files, and the result must equal the unpruned
    read + filter exactly."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import snapshot_scan
    path = str(tmp_path / "tbl")
    df = (spark.range(0, 1000)
          .selectExpr("id", "cast(id as double) as score",
                      "concat('u', lpad(cast(id as string), 4, '0')) "
                      "as name"))
    # range-partition on id so each of the 8 files owns a disjoint slab
    snapshot_write(spark, path, df.repartitionByRange(8, "id"),
                   partition_cols=[], stats_cols=["id", "score", "name"])
    m = snapmod._load_manifest(spark, path, 0)
    entries = snapmod._manifest_entries(spark, path, m)
    assert len(entries) == 8
    assert all(set(e["stats"]) == {"id", "score", "name"}
               for e in entries)

    scanned = snapshot_scan(spark, path, [("id", ">=", 900)])
    assert len(scanned.inputFiles()) < len(entries), \
        "selective scan must not hand Spark the whole file list"
    expect = _rows(read_snapshot(spark, path).where("id >= 900"))
    assert _rows(scanned) == expect

    # string zone maps prune too (u0050 sits deep inside the first
    # slab — range-partitioner boundaries are sampled, not exact)
    s2 = snapshot_scan(spark, path, [("name", "<", "u0050")])
    assert len(s2.inputFiles()) == 1
    assert s2.count() == 50

    # conjunction across columns, empty result still schema-stable
    s3 = snapshot_scan(spark, path,
                       [("score", ">=", 990.0), ("id", "<", 10)])
    assert s3.count() == 0 and s3.columns == ["id", "score", "name"]


def test_snapshot_scan_stats_survive_maintenance(spark, tmp_path):
    """Carried-by-reference entries keep their zone maps; rewritten
    partitions get fresh ones; appends inherit the table's stats_cols;
    files predating stats are kept (never wrongly pruned)."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import (
        snapshot_append, snapshot_scan,
    )
    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(i, "d1" if i < 50 else "d2", float(i)) for i in range(100)],
        "id long, day string, score double")
    snapshot_write(spark, path, base, partition_cols=["day"],
                   stats_cols=["id", "score"])
    # upsert rewrites d1 only; d2's entries carry with stats intact
    ups = spark.createDataFrame([(1, "d1", 1000.0)],
                                "id long, day string, score double")
    snapshot_upsert(spark, path, ups, ["id"], partition_cols=["day"])
    m = snapmod._load_manifest(spark, path,
                               latest_version(spark, path))
    es = snapmod._manifest_entries(spark, path, m)
    assert all("stats" in e for e in es), \
        "both carried and rewritten entries must keep zone maps"
    got = snapshot_scan(spark, path, [("score", ">=", 999.0)])
    assert _rows(got.select("id", "score")) == {(1, 1000.0)}

    # append inherits stats_cols without restating them
    snapshot_append(spark, path,
                    spark.createDataFrame([(200, "d3", 2000.0)],
                                          "id long, day string, "
                                          "score double"))
    m2 = snapmod._load_manifest(spark, path,
                                latest_version(spark, path))
    d3 = [e for e in snapmod._manifest_entries(spark, path, m2)
          if e["partition"] == "day=d3"]
    assert d3 and all("stats" in e for e in d3)

    # a table that enabled stats mid-life keeps unstatted files
    path2 = str(tmp_path / "tbl2")
    snapshot_write(spark, path2, base, partition_cols=["day"])
    snapshot_append(spark, path2,
                    spark.createDataFrame([(500, "d1", 9.0)],
                                          "id long, day string, "
                                          "score double"),
                    stats_cols=["id"])
    got = snapshot_scan(spark, path2, [("id", "<=", 3)])
    assert got.count() == 4, \
        "files without stats must be kept, not wrongly pruned"


def test_snapshot_stats_validation(spark, tmp_path):
    path = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1, "d1", [1.0])],
                               "id long, day string, vec array<double>")
    with pytest.raises(ValueError, match="partition column"):
        snapshot_write(spark, path, df, partition_cols=["day"],
                       stats_cols=["day"])
    with pytest.raises(ValueError, match="not in the frame"):
        snapshot_write(spark, path, df, partition_cols=["day"],
                       stats_cols=["nope"])
    with pytest.raises(ValueError, match="numeric and string"):
        snapshot_write(spark, path, df, partition_cols=["day"],
                       stats_cols=["vec"])


def test_zone_maps_not_cross_wired_across_partitions(spark, tmp_path):
    """One write job emits IDENTICALLY-NAMED part files into every
    hive partition dir; stats must key on the full relative path —
    a basename-keyed map cross-wires partitions' stats and silently
    prunes files that contain matching rows (caught live on the
    streamed-ingest drive, r7)."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import snapshot_scan
    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, "a" if i < 100 else "b", float(i)) for i in range(200)],
        "id long, grp string, v double")
    # repartition(4) → every task writes one same-named file per grp
    snapshot_write(spark, path, df.repartition(4),
                   partition_cols=["grp"], stats_cols=["id"])
    got = snapshot_scan(spark, path, [("id", "<", 100)])
    assert got.count() == 100, \
        "cross-wired zone maps would prune grp=a files"
    got2 = snapshot_scan(spark, path, [("id", ">=", 150)])
    assert _rows(got2.select("id")) == {(i,) for i in range(150, 200)}


def test_append_stats_cols_empty_list_disables(spark, tmp_path):
    """ADVICE r7 (low): `stats_cols=[]` must be an explicit disable,
    distinct from None (= inherit the table's recorded stats cols) —
    `or`-folding the two made stats impossible to turn off."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import snapshot_append
    path = str(tmp_path / "tbl")
    snapshot_write(spark, path, spark.createDataFrame(
        [(1, "d1", 10.0)], "id long, day string, v double"),
        partition_cols=["day"], stats_cols=["v"])
    # None inherits: the appended files carry v stats
    v1 = snapshot_append(spark, path, spark.createDataFrame(
        [(2, "d1", 20.0)], "id long, day string, v double"))
    m1 = snapmod._load_manifest(spark, path, v1)
    assert m1["stats_cols"] == ["v"]
    assert all("stats" in e and "v" in e["stats"]
               for e in snapmod._manifest_entries(spark, path, m1))
    # [] disables from this commit on
    v2 = snapshot_append(spark, path, spark.createDataFrame(
        [(3, "d1", 30.0)], "id long, day string, v double"),
        stats_cols=[])
    m2 = snapmod._load_manifest(spark, path, v2)
    assert m2["stats_cols"] is None
    v3 = snapshot_append(spark, path, spark.createDataFrame(
        [(4, "d1", 40.0)], "id long, day string, v double"))
    m3 = snapmod._load_manifest(spark, path, v3)
    assert m3["stats_cols"] is None          # stays off
    assert read_snapshot(spark, path).count() == 4


def test_append_schema_evolution_skips_absent_stats_col(spark,
                                                        tmp_path):
    """A batch that legitimately drops a stats column under
    schema_evolution=True must append (recording no stats for it),
    not raise — and files without stats are never pruned."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import (
        snapshot_append, snapshot_scan,
    )
    path = str(tmp_path / "tbl")
    snapshot_write(spark, path, spark.createDataFrame(
        [(1, "d1", 10.0)], "id long, day string, v double"),
        partition_cols=["day"], stats_cols=["v"])
    v1 = snapshot_append(spark, path, spark.createDataFrame(
        [(2, "d1")], "id long, day string"), schema_evolution=True)
    m1 = snapmod._load_manifest(spark, path, v1)
    assert m1["stats_cols"] == ["v"]         # contract kept
    entries = snapmod._manifest_entries(spark, path, m1)
    assert any("v" in (e.get("stats") or {}) for e in entries)
    assert any("v" not in (e.get("stats") or {}) for e in entries)
    # without schema_evolution the same drop still raises (drift gate)
    with pytest.raises(ValueError):
        snapshot_append(spark, path, spark.createDataFrame(
            [(3, "d1")], "id long, day string"))
    # the stats-less file survives a v-predicate scan (id=2 has v NULL)
    got = snapshot_scan(spark, path, [("v", ">=", 0.0)])
    assert _rows(got.select("id")) == {(1,)}
    assert _rows(read_snapshot(spark, path).select("id")) == {(1,),
                                                              (2,)}


def test_sql_predicates_catalyst_walk(spark):
    """SQL predicates parse into the zone-map DNF through Spark's own
    parser; unprunable subexpressions widen soundly — dropped under
    AND, collapsing under OR — and an all-unprunable expression
    returns None."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import sql_predicates as P
    assert P(spark, "v >= 10") == [[("v", ">=", 10)]]
    assert P(spark, "10 < v") == [[("v", ">", 10)]]
    assert P(spark, "lang in ('en', 'de')") == \
        [[("lang", "in", ["en", "de"])]]
    assert P(spark, "v is null") == [[("v", "is_null", None)]]
    assert P(spark, "v is not null") == [[("v", "is_not_null", None)]]
    assert P(spark, "not (v is null)") == [[("v", "is_not_null", None)]]
    assert P(spark, "v >= 1 and v < 5") == \
        [[("v", ">=", 1), ("v", "<", 5)]]
    assert P(spark, "v < 1 or v > 5") == \
        [[("v", "<", 1)], [("v", ">", 5)]]
    # distribution: (a or b) and c
    assert P(spark, "(v < 1 or v > 5) and lang = 'en'") == \
        [[("v", "<", 1), ("lang", "=", "en")],
         [("v", ">", 5), ("lang", "=", "en")]]
    # unprunable conjunct dropped (sound), unprunable disjunct widens
    assert P(spark, "some_udf(v) > 2 and v >= 10") == \
        [[("v", ">=", 10)]]
    assert P(spark, "some_udf(v) > 2 or v >= 10") is None
    assert P(spark, "a = b") is None
    assert P(spark, "some_udf(v) > 2") is None
    # float/decimal literals
    assert P(spark, "score > 1.5") == [[("score", ">", 1.5)]]


def test_snapshot_scan_in_or_null_pruning(spark, tmp_path):
    """IN / OR(DNF) / IS [NOT] NULL predicates prune files on the
    same range-sorted layout the r7 tests use, and every pruned scan
    equals the unpruned filtered read exactly."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import (
        scan_pruning_stats, snapshot_scan,
    )
    path = str(tmp_path / "tbl")
    df = (spark.range(0, 1000)
          .selectExpr("id",
                      "case when id < 100 then null "
                      "else cast(id as double) end as score"))
    snapshot_write(spark, path, df.repartitionByRange(8, "id"),
                   partition_cols=[], stats_cols=["id", "score"])
    total = len(snapmod._manifest_entries(
        spark, path, snapmod._load_manifest(spark, path, 0)))
    assert total == 8

    def check(preds, where):
        got = snapshot_scan(spark, path, preds)
        exp = _rows(read_snapshot(spark, path).where(where))
        assert _rows(got) == exp, preds
        return len(got.inputFiles())

    # IN: two ids from opposite ends -> 2 files
    n = check([("id", "in", [5, 995])], "id in (5, 995)")
    assert n == 2
    # DNF: OR of two ranges
    n = check([[("id", "<", 50)], [("id", ">=", 950)]],
              "id < 50 or id >= 950")
    assert n == 2
    # IS NULL: only the files holding ids < 100 have null scores
    n = check([("score", "is_null", None)], "score is null")
    assert n < total
    # IS NOT NULL keeps everything here (no all-null file), still equal
    check([("score", "is_not_null", None)], "score is not null")
    # conjunction of IN with a contradicting range prunes to zero
    st = scan_pruning_stats(spark, path,
                            [("id", "in", [5]), ("id", ">=", 900)])
    assert st == {"files_total": 8, "files_read": 0,
                  "files_pruned": 8}
    st2 = scan_pruning_stats(spark, path, [("id", ">=", 900)])
    assert st2["files_read"] < 8 and st2["files_pruned"] >= 1


def test_read_snapshot_where_auto_routes_through_zone_maps(spark,
                                                          tmp_path):
    """read_snapshot(where=...) prunes files automatically from a SQL
    string — including the unprunable-subexpression degradation — and
    always equals the plain filtered read."""
    path = str(tmp_path / "tbl")
    df = spark.range(0, 1000).selectExpr(
        "id", "cast(id as double) as score")
    snapshot_write(spark, path, df.repartitionByRange(8, "id"),
                   partition_cols=[], stats_cols=["id", "score"])
    plain = read_snapshot(spark, path)
    total = len(plain.inputFiles())

    routed = read_snapshot(spark, path, where="id >= 900")
    assert len(routed.inputFiles()) < total
    assert _rows(routed) == _rows(plain.where("id >= 900"))

    ored = read_snapshot(spark, path,
                         where="id < 50 or (id >= 950 and score > 0)")
    assert len(ored.inputFiles()) == 2
    assert _rows(ored) == _rows(
        plain.where("id < 50 or (id >= 950 and score > 0)"))

    # unprunable expression: full read, same rows
    fuzzy = read_snapshot(spark, path, where="id % 7 = 0")
    assert len(fuzzy.inputFiles()) == total
    assert _rows(fuzzy) == _rows(plain.where("id % 7 = 0"))


def test_snapshot_append_retry_rebases_on_concurrent_commit(
        spark, tmp_path, monkeypatch):
    """Two concurrent appenders both land (r8): the loser's
    already-written files restack on the winner's head — no data
    rewrite, linear history, winner's files carried by reference in
    the rebased manifest. With retries=0 the same race surfaces
    ConcurrentCommit (the pre-r8 contract)."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import snapshot_append
    schema = "id long, day string, v double"
    path = str(tmp_path / "tbl")
    snapshot_write(spark, path, spark.createDataFrame(
        [(0, "d0", 0.0)], schema), partition_cols=["day"])

    real = snapmod._commit_manifest
    state = {"raced": False}

    def racing(spark_, p, version, manifest):
        if not state["raced"]:
            state["raced"] = True
            monkeypatch.setattr(snapmod, "_commit_manifest", real)
            try:
                # competitor appends and wins this version
                snapshot_append(spark_, path, spark_.createDataFrame(
                    [(100, "d1", 1.0)], schema))
            finally:
                monkeypatch.setattr(snapmod, "_commit_manifest", racing)
        return real(spark_, p, version, manifest)

    monkeypatch.setattr(snapmod, "_commit_manifest", racing)
    v = snapshot_append(spark, path, spark.createDataFrame(
        [(200, "d2", 2.0)], schema))
    monkeypatch.setattr(snapmod, "_commit_manifest", real)
    assert v == 2, "rebased onto the competitor's head"
    assert _rows(read_snapshot(spark, path).select("id")) == {
        (0,), (100,), (200,)}
    # linear history: every version readable, each a superset
    assert _rows(read_snapshot(spark, path, 1).select("id")) == {
        (0,), (100,)}
    # the competitor's data files are carried BY REFERENCE (identical
    # entry paths), not rewritten
    m1 = snapmod._load_manifest(spark, path, 1)
    m2 = snapmod._load_manifest(spark, path, 2)
    p1 = {e["path"] for e in m1["files"]}
    p2 = {e["path"] for e in m2["files"]}
    assert p1 < p2

    # retries=0 keeps the old raise-only contract
    state["raced"] = False
    monkeypatch.setattr(snapmod, "_commit_manifest", racing)
    with pytest.raises(ConcurrentCommit):
        snapshot_append(spark, path, spark.createDataFrame(
            [(300, "d3", 3.0)], schema), retries=0)
    monkeypatch.setattr(snapmod, "_commit_manifest", real)
    # the competitor's concurrent append from the failed race landed
    assert (400 not in
            {r[0] for r in read_snapshot(spark, path)
             .select("id").collect()})


def test_snapshot_append_retry_replay_admitted_by_competitor(
        spark, tmp_path, monkeypatch):
    """If the competitor that won the race already admitted OUR
    source_batch (same source, replayed), the rebase detects it on
    the reloaded head and returns as a no-op instead of
    double-appending."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import snapshot_append
    schema = "id long, day string, v double"
    path = str(tmp_path / "tbl")
    snapshot_write(spark, path, spark.createDataFrame(
        [(0, "d0", 0.0)], schema), partition_cols=["day"])

    real = snapmod._commit_manifest
    state = {"raced": False}

    def racing(spark_, p, version, manifest):
        if not state["raced"]:
            state["raced"] = True
            monkeypatch.setattr(snapmod, "_commit_manifest", real)
            try:
                snapshot_append(spark_, path, spark_.createDataFrame(
                    [(100, "d1", 1.0)], schema),
                    source_batch=("s1", 7))
            finally:
                monkeypatch.setattr(snapmod, "_commit_manifest", racing)
        return real(spark_, p, version, manifest)

    monkeypatch.setattr(snapmod, "_commit_manifest", racing)
    v = snapshot_append(spark, path, spark.createDataFrame(
        [(999, "d9", 9.0)], schema), source_batch=("s1", 7))
    monkeypatch.setattr(snapmod, "_commit_manifest", real)
    assert v == 1, "no-op: competitor already admitted batch (s1, 7)"
    assert _rows(read_snapshot(spark, path).select("id")) == {
        (0,), (100,)}


def test_snapshot_history_and_as_of_time_travel(spark, tmp_path,
                                                monkeypatch):
    """Commit timestamps power AS-OF reads: each version records its
    wall clock, snapshot_history lists the audit log, and
    read_snapshot(as_of=) resolves the latest version at or before
    the cutoff (epoch or ISO-8601). Clock pinned via monkeypatch so
    the resolution boundaries are exact."""
    import time as _time
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import (
        snapshot_append, snapshot_history,
    )
    schema = "id long, day string"
    path = str(tmp_path / "tbl")
    clock = {"t": 1000.0}
    monkeypatch.setattr(_time, "time", lambda: clock["t"])

    snapshot_write(spark, path, spark.createDataFrame(
        [(0, "d0")], schema), partition_cols=["day"])     # t=1000
    clock["t"] = 2000.0
    snapshot_append(spark, path, spark.createDataFrame(
        [(1, "d0")], schema))                             # t=2000
    clock["t"] = 3000.0
    snapshot_append(spark, path, spark.createDataFrame(
        [(2, "d0")], schema))                             # t=3000

    hist = snapshot_history(spark, path)
    assert [h["version"] for h in hist] == [0, 1, 2]
    assert [h["committed_at"] for h in hist] == [1000.0, 2000.0,
                                                 3000.0]

    ids = lambda df: {r[0] for r in df.select("id").collect()}  # noqa: E731
    assert ids(read_snapshot(spark, path, as_of=2500)) == {0, 1}
    assert ids(read_snapshot(spark, path, as_of=2000)) == {0, 1}
    assert ids(read_snapshot(spark, path, as_of=1999.9)) == {0}
    assert ids(read_snapshot(spark, path, as_of=9999)) == {0, 1, 2}
    iso = "1970-01-01T00:41:40+00:00"                     # 2500 s
    assert ids(read_snapshot(spark, path, as_of=iso)) == {0, 1}
    with pytest.raises(FileNotFoundError, match="existed at or"):
        read_snapshot(spark, path, as_of=10)
    with pytest.raises(ValueError, match="at most one"):
        read_snapshot(spark, path, 1, as_of=2500)
    # as_of composes with zone-map routing
    got = read_snapshot(spark, path, as_of=2500, where="id >= 1")
    assert ids(got) == {1}


def test_as_of_commit_time_authority_under_clock_skew(
        spark, tmp_path, monkeypatch):
    """r9 VERDICT item 5: the recorded stamp is max(prev + 1 µs,
    now) at publish, so a second writer whose wall clock runs BEHIND
    the first's cannot produce a history where timestamps disagree
    with commit order — as_of resolves by commit order, and
    snapshot_history stamps are strictly monotone."""
    import time as _time
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import (
        snapshot_append, snapshot_history,
    )
    schema = "id long, day string"
    path = str(tmp_path / "tbl")
    clock = {"t": 5000.0}
    monkeypatch.setattr(_time, "time", lambda: clock["t"])

    snapshot_write(spark, path, spark.createDataFrame(
        [(0, "d0")], schema), partition_cols=["day"])  # stamp 5000
    # writer 2's clock is 2000 s BEHIND writer 1's
    clock["t"] = 3000.0
    snapshot_append(spark, path, spark.createDataFrame(
        [(1, "d0")], schema))          # naive stamp 3000 < 5000!
    clock["t"] = 3001.0
    snapshot_append(spark, path, spark.createDataFrame(
        [(2, "d0")], schema))

    hist = snapshot_history(spark, path)
    stamps = [h["committed_at"] for h in hist]
    assert stamps[0] == 5000.0
    assert stamps == sorted(stamps) and len(set(stamps)) == 3, \
        "stamps must be strictly increasing in version"
    ids = lambda df: {r[0] for r in df.select("id").collect()}  # noqa: E731
    # as_of at the first stamp sees ONLY version 0 — the skewed
    # writers' commits resolve after it, never before
    assert ids(read_snapshot(spark, path, as_of=5000.0)) == {0}
    assert ids(read_snapshot(spark, path,
                             as_of=stamps[1])) == {0, 1}
    assert ids(read_snapshot(spark, path, as_of=6000)) == {0, 1, 2}

    # the DS sink's commit path applies the same discipline
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import register_snapshot_source
    register_snapshot_source(spark)
    clock["t"] = 10.0                  # absurdly-behind clock
    (spark.createDataFrame([(3, "d0")], schema)
     .write.format("snapshot").mode("append").save(path))
    hist2 = snapshot_history(spark, path)
    stamps2 = [h["committed_at"] for h in hist2]
    assert stamps2 == sorted(stamps2) and len(set(stamps2)) == 4


def test_pruning_type_mismatch_keeps_file():
    """A predicate value that doesn't compare with the stat's type
    (auto-routed SQL can produce these) must KEEP the file — pruning
    may only remove what it can prove irrelevant."""
    e = {"path": "f", "partition": "",
         "stats": {"s": {"min": "aa", "max": "zz", "nulls": 0,
                         "rows": 5}}}
    assert snapmod._conj_may_match(e, [("s", ">=", 10)])
    assert snapmod._conj_may_match(e, [("s", "in", [1, 2])])
    # well-typed predicates on the same entry still prune
    assert not snapmod._conj_may_match(e, [("s", ">", "zz")])


def test_as_of_respects_explicit_timezone_offset(spark, tmp_path,
                                                 monkeypatch):
    """An ISO cutoff with an explicit offset is interpreted AT that
    offset (not clobbered to UTC): 03:00+02:00 == 01:00Z."""
    import time as _time
    schema = "id long, day string"
    path = str(tmp_path / "tbl")
    clock = {"t": 3600.0}                      # 01:00:00Z epoch
    monkeypatch.setattr(_time, "time", lambda: clock["t"])
    snapshot_write(spark, path, spark.createDataFrame(
        [(0, "d0")], schema), partition_cols=["day"])
    # 03:00 at +02:00 == exactly the commit instant
    assert read_snapshot(
        spark, path, as_of="1970-01-01T03:00:00+02:00").count() == 1
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, path, as_of="1970-01-01T02:59:59+02:00")
    # naive string reads as UTC
    assert read_snapshot(
        spark, path, as_of="1970-01-01T01:00:00").count() == 1
    # numeric-string epoch
    assert read_snapshot(spark, path, as_of="3600").count() == 1


def test_append_retry_survives_transient_lock_contention(
        spark, tmp_path, monkeypatch):
    """ConcurrentCommit WITHOUT a version advance (a lock briefly held
    by a writer that hasn't published) retries the same commit after a
    backoff instead of giving up — the ingest-loop shape."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import snapshot_append
    schema = "id long, day string"
    path = str(tmp_path / "tbl")
    snapshot_write(spark, path, spark.createDataFrame(
        [(0, "d0")], schema), partition_cols=["day"])
    real = snapmod._commit_manifest
    state = {"fails": 2}

    def flaky(spark_, p, version, manifest):
        if state["fails"] > 0:
            state["fails"] -= 1
            raise ConcurrentCommit("commit lock held; retry")
        return real(spark_, p, version, manifest)

    monkeypatch.setattr(snapmod, "_commit_manifest", flaky)
    v = snapshot_append(spark, path, spark.createDataFrame(
        [(1, "d0")], schema))
    assert v == 1 and state["fails"] == 0
    assert _rows(read_snapshot(spark, path).select("id")) == {(0,),
                                                              (1,)}


def test_sql_predicates_between_and_not_in(spark):
    """BETWEEN distributes into the two range triples via Spark's own
    parse; NOT IN is not interval-expressible and widens soundly."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import sql_predicates as P
    assert P(spark, "v between 2 and 9") == \
        [[("v", ">=", 2), ("v", "<=", 9)]]
    assert P(spark, "v not in (1, 2)") is None
    assert P(spark, "v not in (1, 2) and v > 5") == [[("v", ">", 5)]]


def test_manifest_level_partition_pruning(spark, tmp_path):
    """Predicates on hive partition columns prune at the MANIFEST
    level — the skipped files are never listed or existence-checked
    (proven by deleting them), coercion failures keep files (sound),
    and the pruned result equals the unpruned filtered read."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import (
        read_snapshot, scan_pruning_stats, snapshot_scan,
        snapshot_write,
    )
    path = str(tmp_path / "tbl")
    rows = [(i, i % 5, f"v{i}") for i in range(50)]
    snapshot_write(spark, path,
                   spark.createDataFrame(rows,
                                         "id long, b long, val string"),
                   partition_cols=["b"])
    full = {(r["id"], r["val"]) for r in
            read_snapshot(spark, path).where("b in (1, 3)").collect()}

    st = scan_pruning_stats(spark, path, [("b", "in", [1, 3])])
    assert st["files_read"] < st["files_total"]
    st_eq = scan_pruning_stats(spark, path, [("b", "=", 2)])
    assert st_eq["files_read"] < st["files_total"]
    # range ops prune on partition values too
    st_rng = scan_pruning_stats(spark, path, [("b", ">=", 4)])
    assert st_rng["files_read"] < st_rng["files_total"]
    # a string literal against the numeric partition column cannot
    # prove anything -> keeps every file
    st_bad = scan_pruning_stats(spark, path, [("b", "=", "x")])
    assert st_bad["files_read"] == st_bad["files_total"]

    # destroy every file outside b=1/b=3: the pruned scan still runs
    for f in read_snapshot(spark, path).inputFiles():
        if "b=1" not in f and "b=3" not in f:
            os.remove(f.removeprefix("file:"))
    got = {(r["id"], r["val"]) for r in
           snapshot_scan(spark, path, [("b", "in", [1, 3])]).collect()}
    assert got == full
    # and the SQL route prunes the same way
    got2 = {(r["id"], r["val"]) for r in
            read_snapshot(spark, path, where="b in (1, 3)").collect()}
    assert got2 == full


def test_partition_prune_integral_exact_past_2_53():
    """Integral partition values compare as Python ints — a bigint
    boundary one past 2^53 must NOT be pruned by float rounding."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources.snapshots import (
        _partition_rejects,
    )
    big = (1 << 53) + 1
    pv = {"b": str(big)}
    # true integer compare: big > 2^53 keeps the file
    assert not _partition_rejects(pv, "b", ">", 1 << 53, "long")
    assert _partition_rejects(pv, "b", "<=", 1 << 53, "long")
    assert not _partition_rejects(pv, "b", "=", big, "long")
    assert _partition_rejects(pv, "b", "=", big - 1, "long")
    # float literal against an integral column stays exact too
    assert not _partition_rejects(pv, "b", ">", float(1 << 53),
                                  "long")


def test_snapshot_compact_zorder_clusters_both_axes(spark, tmp_path):
    """r9: snapshot_compact(zorder_cols=) re-clusters on the Morton
    interleave, so zone-map pruning engages on EVERY listed axis —
    a user slice AND a time slice both skip files after ONE rewrite
    (single-axis sorting can only serve one of them)."""
    from pyspark.sql import functions as F

    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import (
        scan_pruning_stats, snapshot_compact, snapshot_scan,
        snapshot_write,
    )
    path = str(tmp_path / "tbl")
    # 4k rows over a 64x64 (u, t) grid, written SHUFFLED so the
    # initial files' stats are wide on both axes
    df = (spark.range(4096)
          .select((F.col("id") % 64).alias("u"),
                  (F.floor(F.col("id") / 64)).alias("t"),
                  (F.col("id") * 1.5).alias("v"))
          .repartition(8))
    snapshot_write(spark, path, df, partition_cols=[],
                   stats_cols=["u", "t"])
    wide_u = scan_pruning_stats(spark, path,
                                [("u", "<=", 3)])["files_read"]
    wide_t = scan_pruning_stats(spark, path,
                                [("t", "<=", 3)])["files_read"]
    assert wide_u == 8 and wide_t == 8, "shuffled layout: no skipping"

    v1 = snapshot_compact(spark, path, target_file_bytes=8 << 10,
                          zorder_cols=["u", "t"])
    n_files = scan_pruning_stats(spark, path, [])["files_total"]
    assert n_files >= 4
    st_u = scan_pruning_stats(spark, path, [("u", "<=", 3)])
    st_t = scan_pruning_stats(spark, path, [("t", "<=", 3)])
    assert st_u["files_read"] < n_files, "u-slice must skip files"
    assert st_t["files_read"] < n_files, "t-slice must skip files"
    # correctness: the pruned scans equal the full filtered read
    got_u = {tuple(r) for r in
             snapshot_scan(spark, path, [("u", "<=", 3)],
                           version=v1).collect()}
    want_u = {tuple(r) for r in
              read_snapshot(spark, path).where("u <= 3").collect()}
    assert got_u == want_u

    with pytest.raises(ValueError, match="not both"):
        snapshot_compact(spark, path, sort_cols=["u"],
                         zorder_cols=["t"])
