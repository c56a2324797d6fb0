"""Snapshot tables as a native Spark data source (r9):
spark.read.format('snapshot') with version/tag time travel,
manifest-level + zone-map file skipping through Spark's own filter
pushdown, schema-evolution alignment, hive partition-value injection,
and the append-feed streaming source with version offsets."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import (
    read_snapshot, register_snapshot_source, snapshot_append,
    snapshot_delete, snapshot_tag, snapshot_upsert, snapshot_write,
)

SCHEMA = "id long, day string, val string"


@pytest.fixture()
def registered(spark):
    register_snapshot_source(spark)
    return spark


def _base(spark, path):
    return snapshot_write(
        spark, path,
        spark.createDataFrame(
            [(1, "d1", "a"), (2, "d1", "b"), (3, "d2", "c")], SCHEMA),
        partition_cols=["day"])


def test_batch_read_latest_and_time_travel(registered, tmp_path):
    spark = registered
    path = str(tmp_path / "tbl")
    v0 = _base(spark, path)
    snapshot_append(spark, path, spark.createDataFrame(
        [(4, "d2", "d")], SCHEMA))
    snapshot_tag(spark, path, "first", version=v0)

    latest = spark.read.format("snapshot").load(path)
    # the source declares the MANIFEST order (partition discovery
    # appends hive columns last on the library read — same fields)
    assert sorted((f.name, f.dataType) for f in latest.schema) == \
        sorted((f.name, f.dataType)
               for f in read_snapshot(spark, path).schema)
    assert {(r["id"], r["day"], r["val"]) for r in latest.collect()} \
        == {(1, "d1", "a"), (2, "d1", "b"), (3, "d2", "c"),
            (4, "d2", "d")}
    pinned = (spark.read.format("snapshot")
              .option("version", v0).load(path))
    assert pinned.count() == 3
    tagged = (spark.read.format("snapshot")
              .option("tag", "first").load(path))
    assert tagged.count() == 3


def test_filter_pushdown_prunes_partitions_and_zone_maps(
        registered, tmp_path):
    """Destructive proof through SPARK'S OWN pushdown: delete the
    files a predicate excludes; the filtered read still answers."""
    spark = registered
    # hive partition pruning
    p1 = str(tmp_path / "hive")
    _base(spark, p1)
    doomed = [f for f in read_snapshot(spark, p1).inputFiles()
              if "day=d2" not in f]
    for f in doomed:
        os.remove(f.removeprefix("file:"))
    got = (spark.read.format("snapshot").load(p1)
           .where(F.col("day") == "d2").collect())
    assert {tuple(r) for r in got} == {(3, "d2", "c")}

    # zone-map pruning on an unpartitioned range-sorted table
    p2 = str(tmp_path / "zoned")
    df = (spark.range(100).select(
        F.col("id"), (F.col("id") * 2).alias("v"))
        .repartitionByRange(4, "id").sortWithinPartitions("id"))
    snapshot_write(spark, p2, df, partition_cols=[],
                   stats_cols=["id"])
    files = read_snapshot(spark, p2).inputFiles()
    assert len(files) == 4
    import duckdb as _d
    for f in files:
        lo, hi = _d.sql("select min(id), max(id) from '%s'"
                        % f.removeprefix("file:")).fetchone()
        if not (lo <= 5 <= hi):
            os.remove(f.removeprefix("file:"))
    got = (spark.read.format("snapshot").load(p2)
           .where(F.col("id") == 5).collect())
    assert [tuple(r) for r in got] == [(5, 10)]


def test_schema_evolution_and_null_partition_alignment(
        registered, tmp_path):
    spark = registered
    path = str(tmp_path / "tbl")
    snapshot_write(spark, path, spark.createDataFrame(
        [(1, "d1", "a"), (2, None, "b")], SCHEMA),
        partition_cols=["day"])
    snapshot_upsert(spark, path, spark.createDataFrame(
        [(3, "d3", "c", 9.5)], SCHEMA + ", extra double"),
        ["id"], partition_cols=["day"], schema_evolution=True)
    got = {r["id"]: (r["day"], r["val"], r["extra"]) for r in
           spark.read.format("snapshot").load(path).collect()}
    assert got[1] == ("d1", "a", None)     # pre-evolution file: NULL
    assert got[2] == (None, "b", None)     # NULL partition value
    assert got[3] == ("d3", "c", 9.5)
    # equality with the library read
    lib = {r["id"]: (r["day"], r["val"], r["extra"]) for r in
           read_snapshot(spark, path).collect()}
    assert got == lib


def test_numeric_partition_values_typed(registered, tmp_path):
    spark = registered
    path = str(tmp_path / "tbl")
    snapshot_write(spark, path, spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b")], "id long, bucket int, v string"),
        partition_cols=["bucket"])
    df = spark.read.format("snapshot").load(path)
    assert dict(df.dtypes)["bucket"] == "int"
    assert {(r["id"], r["bucket"]) for r in df.collect()} == \
        {(1, 10), (2, 20)}


def test_streaming_append_feed(registered, tmp_path):
    spark = registered
    path = str(tmp_path / "tbl")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    _base(spark, path)   # before the stream starts: not delivered

    def run():
        q = (spark.readStream.format("snapshot").load(path)
             .writeStream.format("parquet")
             .option("path", sink)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    run()
    assert not os.path.exists(sink) or \
        spark.read.parquet(sink).count() == 0

    snapshot_append(spark, path, spark.createDataFrame(
        [(4, "d2", "d"), (5, "d1", "e")], SCHEMA))
    snapshot_append(spark, path, spark.createDataFrame(
        [(6, "d3", "f")], SCHEMA))
    run()
    got = {tuple(r) for r in spark.read.parquet(sink).collect()}
    assert got == {(4, "d2", "d"), (5, "d1", "e"), (6, "d3", "f")}

    # restart with nothing new: no duplicates
    run()
    assert spark.read.parquet(sink).count() == 3


def test_streaming_refuses_rewrites_by_default(registered, tmp_path):
    spark = registered
    path = str(tmp_path / "tbl")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    _base(spark, path)
    snapshot_delete(spark, path,
                    spark.createDataFrame([(1,)], "id long"),
                    ["id"], partition_cols=["day"])

    q = (spark.readStream.format("snapshot")
         .option("startVersion", 0).load(path)
         .writeStream.format("parquet")
         .option("path", sink)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    with pytest.raises(Exception, match="not an append"):
        q.awaitTermination(120)
        raise RuntimeError(q.exception() or "no error")


def test_local_path_contract(registered, tmp_path):
    """Unadapted schemes fail loudly at plan time, naming
    register_snapshot_filesystem."""
    spark = registered
    with pytest.raises(Exception,
                       match="no snapshot filesystem adapter"):
        (spark.read.format("snapshot")
         .load("s3a://bucket/tbl").collect())


def test_batch_write_append_and_overwrite(registered, tmp_path):
    """df.write.format('snapshot'): overwrite replaces like
    snapshot_write, append carries the previous files BY REFERENCE
    like snapshot_append; the result reads back identically through
    the library AND the data source, with stats recorded for
    zone-map pruning."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources.snapshots import (
        _manifest, latest_version,
    )
    spark = registered
    path = str(tmp_path / "tbl")
    df1 = spark.createDataFrame(
        [(1, "d1", "a"), (2, "d2", "b"), (3, None, "c")], SCHEMA)
    (df1.write.format("snapshot")
     .option("partitionCols", "day")
     .option("statsCols", "id")
     .mode("overwrite").save(path))
    assert latest_version(spark, path) == 0
    lib = read_snapshot(spark, path)
    assert {(r["id"], r["day"], r["val"]) for r in lib.collect()} == \
        {(1, "d1", "a"), (2, "d2", "b"), (3, None, "c")}

    m0 = _manifest(path, 0)
    files_v0 = {e["path"] for e in m0["files"]}
    assert all("stats" in e and "id" in e["stats"]
               for e in m0["files"])

    df2 = spark.createDataFrame([(4, "d1", "d")], SCHEMA)
    (df2.write.format("snapshot")
     .option("partitionCols", "day")
     .option("statsCols", "id")
     .mode("append").save(path))
    assert latest_version(spark, path) == 1
    m1 = _manifest(path, 1)
    assert files_v0 <= {e["path"] for e in m1["files"]}, \
        "append must carry the previous files by reference"
    assert read_snapshot(spark, path).count() == 4
    # the append commit participates in the change feed as an append
    assert m1["operation"] == "append"

    # zone maps recorded by the sink prune the library scan
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import scan_pruning_stats
    st = scan_pruning_stats(spark, path, [("id", "=", 4)])
    assert st["files_pruned"] >= 1


def test_batch_write_schema_drift_refused(registered, tmp_path):
    spark = registered
    path = str(tmp_path / "tbl")
    spark.createDataFrame([(1, "d1", "a")], SCHEMA) \
        .write.format("snapshot").option("partitionCols", "day") \
        .mode("overwrite").save(path)
    # r10: the append inherits the table's partition layout upfront,
    # so the missing partition column fails at planning time
    with pytest.raises(Exception, match="not in the frame"):
        (spark.createDataFrame([(2, "x")], "id long, other string")
         .write.format("snapshot").mode("append").save(path))
    with pytest.raises(Exception, match="schema drift"):
        (spark.createDataFrame([(2, "d2", "x")],
                               "id long, day string, other string")
         .write.format("snapshot").option("partitionCols", "day")
         .mode("append").save(path))


def test_batch_append_partition_layout_validated_upfront(
        registered, tmp_path):
    """r9 advisor finding: a mismatched partitionCols append must
    fail BEFORE any task writes data files (the same upfront
    discipline as stats/bloom cols), and an option-less append
    inherits the table's layout instead of failing at commit."""
    spark = registered
    path = str(tmp_path / "tbl")
    spark.createDataFrame([(1, "d1", "a")], SCHEMA) \
        .write.format("snapshot").option("partitionCols", "day") \
        .mode("overwrite").save(path)
    with pytest.raises(Exception, match="inherits the table's"):
        (spark.createDataFrame([(2, "d2", "b")], SCHEMA)
         .write.format("snapshot").option("partitionCols", "val")
         .mode("append").save(path))
    # no stray task files from the refused append
    import pathlib
    stray = [p for p in pathlib.Path(path).rglob("*.parquet")
             if "day=d2" in str(p)]
    assert not stray, stray
    # option-less append inherits day-partitioning
    (spark.createDataFrame([(2, "d2", "b")], SCHEMA)
     .write.format("snapshot").mode("append").save(path))
    got = spark.read.format("snapshot").load(path)
    assert got.where("day = 'd2'").count() == 1
    assert (pathlib.Path(path) / "data" / "day=d2").exists()


def test_streaming_sink_exactly_once(registered, tmp_path):
    """writeStream.format('snapshot'): each micro-batch is ONE append
    commit with the batch id as replay marker — a restart with no new
    input publishes nothing, and the landing table serves the change
    feed / IVM family directly."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources.snapshots import latest_version
    spark = registered
    src = str(tmp_path / "in")
    path = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    spark.createDataFrame([(1, "d1", "a"), (2, "d2", "b")], SCHEMA) \
        .coalesce(1).write.mode("append").parquet(src)

    def run():
        q = (spark.readStream.schema(SCHEMA).parquet(src)
             .writeStream.format("snapshot")
             .option("partitionCols", "day")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start(path))
        q.awaitTermination(120)

    run()
    assert {(r["id"], r["day"]) for r in
            read_snapshot(spark, path).select("id", "day").collect()} \
        == {(1, "d1"), (2, "d2")}
    v = latest_version(spark, path)
    run()                                     # nothing new
    assert latest_version(spark, path) == v
    spark.createDataFrame([(3, "d1", "c")], SCHEMA) \
        .coalesce(1).write.mode("append").parquet(src)
    run()
    assert read_snapshot(spark, path).count() == 3


def test_roundtrip_source_to_sink(registered, tmp_path):
    """spark.read.format('snapshot') -> transform ->
    write.format('snapshot'): the full native loop."""
    spark = registered
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    _base(spark, a)
    (spark.read.format("snapshot").load(a)
     .where(F.col("day") == "d1")
     .write.format("snapshot").mode("overwrite").save(b))
    assert {r["id"] for r in read_snapshot(spark, b).collect()} == \
        {1, 2}


def test_sql_front_door_via_temp_view(registered, tmp_path):
    """SQL over snapshot tables: a temp view on the loaded frame
    (catalog DDL tables don't forward options to Python data-source
    scans in this Spark version — documented)."""
    spark = registered
    path = str(tmp_path / "tbl")
    _base(spark, path)
    spark.read.format("snapshot").load(path) \
        .createOrReplaceTempView("snap_docs")
    try:
        got = spark.sql(
            "SELECT day, count(*) AS n FROM snap_docs "
            "GROUP BY day ORDER BY day").collect()
        assert [(r["day"], r["n"]) for r in got] == \
            [("d1", 2), ("d2", 1)]
    finally:
        spark.catalog.dropTempView("snap_docs")


# ------------------------------------------------- r9 review regressions

def test_fully_pruned_read_returns_empty(registered, tmp_path):
    """A filter that prunes EVERY file must return zero rows, not
    crash on the planner's placeholder partition."""
    spark = registered
    path = str(tmp_path / "tbl")
    _base(spark, path)
    got = (spark.read.format("snapshot").load(path)
           .where(F.col("day") == "no-such-day").collect())
    assert got == []


def test_boolean_partition_roundtrip(registered, tmp_path):
    """Writer normalizes boolean partition dirs to Spark's lowercase
    form; reader parses case-insensitively — True stays True."""
    spark = registered
    path = str(tmp_path / "tbl")
    (spark.createDataFrame([(1, True), (2, False)],
                           "id long, flag boolean")
     .write.format("snapshot").option("partitionCols", "flag")
     .mode("overwrite").save(path))
    got = {r["id"]: r["flag"] for r in
           spark.read.format("snapshot").load(path).collect()}
    assert got == {1: True, 2: False}
    lib = {r["id"]: r["flag"] for r in
           read_snapshot(spark, path).collect()}
    assert lib == got


def test_overwrite_preserves_replay_markers(registered, tmp_path):
    """mode('overwrite') carries append_sources forward (library
    parity): a replayed old stream batch stays a no-op after the
    replace."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources.snapshots import (
        _manifest, latest_version,
    )
    spark = registered
    path = str(tmp_path / "tbl")
    snapshot_write(spark, path,
                   spark.createDataFrame([(1, "a")],
                                         "id long, v string"),
                   partition_cols=[],
                   _append_sources={"sinkx": 7})
    (spark.createDataFrame([(2, "b")], "id long, v string")
     .write.format("snapshot").mode("overwrite").save(path))
    m = _manifest(path, latest_version(spark, path))
    assert (m.get("append_sources") or {}).get("sinkx") == 7


def test_stats_col_type_validated_upfront(registered, tmp_path):
    spark = registered
    path = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1,)], "id long") \
        .select("id", F.current_timestamp().alias("ts"))
    with pytest.raises(Exception, match="epoch numbers"):
        (df.write.format("snapshot").option("statsCols", "ts")
         .mode("overwrite").save(path))


def test_nan_rows_survive_zone_map_pruning(registered, tmp_path):
    """Spark orders NaN above every double, so ``x > 5`` matches NaN
    rows. A file holding ``[1.0, NaN]`` and an all-NaN file must both
    survive pruning on the data source and on the library read."""
    import json
    import math
    spark = registered
    path = str(tmp_path / "tbl")
    nan = float("nan")
    (spark.createDataFrame([(1.0,), (nan,)], "x double").coalesce(1)
     .write.format("snapshot").option("statsCols", "x")
     .mode("overwrite").save(path))
    (spark.createDataFrame([(nan,)], "x double")
     .write.format("snapshot").mode("append").save(path))
    got = spark.read.format("snapshot").load(path).where("x > 5")
    assert got.count() == 2
    assert read_snapshot(spark, path).where("x > 5").count() == 2
    assert read_snapshot(spark, path, where="x > 5").count() == 2
    # the recorded bounds are Spark's: max NaN; min NaN when all-NaN
    files = json.load(open(f"{path}/_manifests/1.json"))["files"]
    mins = sorted((e["stats"]["x"]["min"] for e in files), key=str)
    assert mins[0] == 1.0 and math.isnan(mins[1])
    assert all(math.isnan(e["stats"]["x"]["max"]) for e in files)


def test_unpinned_load_reads_one_version(registered, tmp_path):
    """schema() pins the version; a commit landing between load and
    an action never changes what the frame reads."""
    spark = registered
    path = str(tmp_path / "tbl")
    _base(spark, path)
    df = spark.read.format("snapshot").load(path)
    snapshot_append(spark, path, spark.createDataFrame(
        [(9, "d9", "z")], SCHEMA))
    assert df.count() == 3, "the load-time version is pinned"
    assert spark.read.format("snapshot").load(path).count() == 4


def test_writer_segment_naming_matches_library_gc():
    """The one segment roll, called with the data source's plain root
    path, writes .segment files that snapshot_prune's GC recognizes."""
    import tempfile

    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources.snapshots import _roll_segments
    root = tempfile.mkdtemp()
    os.makedirs(os.path.join(root, "_manifests"), exist_ok=True)
    entries = [{"path": f"f{i}.parquet", "partition": ""}
               for i in range(600)]
    segments, inline = _roll_segments(root, entries)
    assert segments and all(
        s["path"].startswith("seg-") and s["path"].endswith(".segment")
        for s in segments)
    assert len(inline) + sum(s["n_entries"] for s in segments) == 600


def test_sink_inherits_table_stats_and_bloom_config(registered,
                                                    tmp_path):
    """Appending through the write faces keeps the table's recorded
    zone-map AND bloom contract: sink-written files carry stats +
    masks (pure-python CRC parity), so point-lookup pruning keeps
    skipping them; conflicting options refuse."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import scan_pruning_stats
    spark = registered
    path = str(tmp_path / "tbl")
    snapshot_write(spark, path,
                   spark.createDataFrame(
                       [(i, f"k{i}") for i in range(50)],
                       "id long, key string"),
                   partition_cols=[], stats_cols=["id"],
                   bloom_cols=["key"])
    # sink append with NO options: inherits id-stats + key-blooms
    (spark.createDataFrame([(100 + i, f"x{i}") for i in range(50)],
                           "id long, key string")
     .coalesce(1)
     .write.format("snapshot").mode("append").save(path))
    st = scan_pruning_stats(spark, path, [("key", "=", "k3")])
    assert st["files_pruned"] >= 1, \
        "the sink-written file's bloom must prune a miss lookup"
    st2 = scan_pruning_stats(spark, path, [("id", ">=", 100)])
    assert st2["files_read"] < st2["files_total"], \
        "the sink-written file's zone map must serve range pruning"
    # pruned read equals the plain filtered read (bloom correctness)
    got = {tuple(r) for r in
           read_snapshot(spark, path, where="key = 'x3'").collect()}
    assert got == {(103, "x3")}
    with pytest.raises(Exception, match="conflict"):
        (spark.createDataFrame([(999, "y")], "id long, key string")
         .write.format("snapshot").option("statsCols", "key")
         .mode("append").save(path))


def test_streaming_source_retention_error(registered, tmp_path):
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import snapshot_prune
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources.spark_source import (
        SnapshotAppendsStreamReader,
    )
    spark = registered
    path = str(tmp_path / "tbl")
    _base(spark, path)
    for i in range(4):
        snapshot_append(spark, path, spark.createDataFrame(
            [(10 + i, "d1", "x")], SCHEMA))
    snapshot_prune(spark, path, keep_latest=2,
                   orphan_grace_seconds=0)
    rdr = SnapshotAppendsStreamReader({"path": path,
                                       "startversion": "0"})
    with pytest.raises(ValueError, match="retention"):
        list(rdr._rows_between(0, 4))


# ------------------------------------------------ catalog registration (r10)

def test_register_snapshot_table_catalog_persisted(
        registered, tmp_path):
    """r9 VERDICT item 2: register_snapshot_table creates a REAL
    catalog table (not a temp view) over the pinned version's exact
    file list — resolvable from a different session sharing the
    catalog, partition-pruned, and immune to later commits until
    re-registration."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import (
        register_snapshot_table,
    )
    spark = registered
    path = str(tmp_path / "tbl")
    _base(spark, path)                                          # v0
    info = register_snapshot_table(spark, "cat_tbl", path)
    assert info["version"] == 0 and info["files"] >= 2
    got = spark.sql(
        "SELECT id, day, val FROM cat_tbl ORDER BY id").collect()
    assert [tuple(r) for r in got] == [
        (1, "d1", "a"), (2, "d1", "b"), (3, "d2", "c")]
    # a DIFFERENT session (fresh temp-view namespace, shared
    # catalog) resolves it — proving it's not a temp view
    other = spark.newSession()
    assert other.sql("SELECT count(*) AS n FROM cat_tbl"
                     ).first()["n"] == 3
    # the registration is PINNED: later commits don't leak in
    snapshot_append(spark, path, spark.createDataFrame(
        [(9, "d9", "z")], SCHEMA))                              # v1
    assert spark.sql("SELECT count(*) AS n FROM cat_tbl"
                     ).first()["n"] == 3
    # refresh re-points name -> newest and removes the old export
    import os
    old_loc = info["location"]
    info2 = register_snapshot_table(spark, "cat_tbl", path)
    assert info2["version"] == 1
    assert spark.sql("SELECT count(*) AS n FROM cat_tbl"
                     ).first()["n"] == 4
    assert not os.path.isdir(old_loc)
    # partition pruning through the catalog table: the scan of one
    # day must read fewer files than the whole table carries
    plan = spark.sql(
        "SELECT * FROM cat_tbl WHERE day = 'd1'"
    )._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_register_snapshot_table_time_travel_and_protect(
        registered, tmp_path):
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import (
        register_snapshot_table, snapshot_prune, snapshot_tag,
        snapshot_tags,
    )
    spark = registered
    path = str(tmp_path / "tbl")
    _base(spark, path)                                          # v0
    snapshot_tag(spark, path, "rel")
    for i in range(3):
        snapshot_append(spark, path, spark.createDataFrame(
            [(10 + i, "d1", "x")], SCHEMA))                  # v1-v3
    register_snapshot_table(spark, "cat_v0", path, version=0,
                            protect=True)
    register_snapshot_table(spark, "cat_rel", path, tag="rel")
    assert spark.sql("SELECT count(*) AS n FROM cat_v0"
                     ).first()["n"] == 3
    assert spark.sql("SELECT count(*) AS n FROM cat_rel"
                     ).first()["n"] == 3
    # the protect tag carries the collision-proof hash-suffixed dir
    # name (r10 review fix)
    tags = snapshot_tags(spark, path)
    assert any(t.startswith("registered-cat_v0") and v == 0
               for t, v in tags.items()), tags
    # protect=True means retention can't break the registration:
    # prune keeps the tagged version's manifest and files
    snapshot_prune(spark, path, keep_latest=1,
                   orphan_grace_seconds=0)
    assert spark.sql(
        "SELECT sum(id) AS s FROM cat_v0").first()["s"] == 6


def test_register_snapshot_table_evolved_schema_and_null_parts(
        registered, tmp_path):
    """Pre-evolution files read their missing column as NULL through
    the declared catalog schema; null partition values round-trip via
    the hive default-partition dir name."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import (
        register_snapshot_table, snapshot_upsert,
    )
    spark = registered
    path = str(tmp_path / "tbl")
    snapshot_write(spark, path, spark.createDataFrame(
        [(1, "d1", "a"), (2, None, "b")], SCHEMA),
        partition_cols=["day"])                                 # v0
    snapshot_upsert(spark, path, spark.createDataFrame(
        [(3, "d1", "c", 7.5)],
        "id long, day string, val string, score double"),
        ["id"], partition_cols=["day"], schema_evolution=True)  # v1
    register_snapshot_table(spark, "cat_evo", path)
    rows = {r["id"]: (r["day"], r["score"]) for r in
            spark.sql("SELECT id, day, score FROM cat_evo"
                      ).collect()}
    assert rows[1] == ("d1", None)      # pre-evolution file -> NULL
    assert rows[2] == (None, None)      # null partition round-trips
    assert rows[3] == ("d1", 7.5)
    assert spark.sql(
        "SELECT count(*) AS n FROM cat_evo WHERE day IS NULL"
    ).first()["n"] == 1


# ------------------------------------- partitioned stream reader (r10)

def test_partitioned_stream_reader_is_default_and_plans_per_file(
        registered, tmp_path):
    """r9 VERDICT item 6: the default streaming face is the
    partition-parallel DataSourceStreamReader — offsets stay
    snapshot versions, each batch plans ONE input partition per
    appended data file (executor-side pyarrow reads), and the
    simpleReader option falls back to the driver-side face through
    Spark's documented NOT_IMPLEMENTED protocol."""
    from pyspark.errors import PySparkNotImplementedError
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources.spark_source import (
        SnapshotDataSource, SnapshotPartitionedStreamReader,
    )
    spark = registered
    path = str(tmp_path / "tbl")
    _base(spark, path)                                          # v0
    snapshot_append(spark, path, spark.createDataFrame(
        [(4, "d2", "d"), (5, "d9", "e")], SCHEMA))              # v1
    snapshot_append(spark, path, spark.createDataFrame(
        [(6, "d3", "f")], SCHEMA))                              # v2

    ds = SnapshotDataSource({"path": path})
    rdr = ds.streamReader(None)
    assert isinstance(rdr, SnapshotPartitionedStreamReader)
    assert rdr.latestOffset() == {"version": 2}
    # v1 wrote two partitions (d2, d9) -> 2 files; v2 one file
    parts = rdr.partitions({"version": 0}, {"version": 2})
    assert len(parts) == 3
    assert all(p.file_path.endswith(".parquet") for p in parts)
    # empty range plans nothing
    assert rdr.partitions({"version": 2}, {"version": 2}) == []
    # executor-side read: one file's rows come back aligned
    import pyarrow as pa
    rows = []
    for p in parts:
        for batch in rdr.read(p):
            assert isinstance(batch, pa.RecordBatch)
            rows += batch.to_pylist()
    assert {(r["id"], r["day"], r["val"]) for r in rows} == \
        {(4, "d2", "d"), (5, "d9", "e"), (6, "d3", "f")}
    # simpleReader=true falls back via the documented protocol
    with pytest.raises(PySparkNotImplementedError):
        SnapshotDataSource({"path": path,
                            "simplereader": "true"}).streamReader(
            None)


def test_partitioned_stream_reader_end_to_end_and_simple_parity(
        registered, tmp_path):
    """The same append feed lands identically through the default
    partitioned reader and the simpleReader fallback — the existing
    matrix's exactly-once/no-duplicates contract holds on both."""
    spark = registered
    path = str(tmp_path / "tbl")
    _base(spark, path)

    def run(tag, extra_opts):
        sink = str(tmp_path / f"sink_{tag}")
        ckpt = str(tmp_path / f"ckpt_{tag}")
        # exclusive-start offsets; v0 is an initial WRITE (not an
        # append), so the feed starts after it
        rs = (spark.readStream.format("snapshot")
              .option("startVersion", 0))
        for k, v in extra_opts.items():
            rs = rs.option(k, v)
        q = (rs.load(path)
             .writeStream.format("parquet")
             .option("path", sink)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return {tuple(r) for r in spark.read.parquet(sink).collect()}

    snapshot_append(spark, path, spark.createDataFrame(
        [(4, "d2", "d"), (5, "d1", "e")], SCHEMA))
    want = {(4, "d2", "d"), (5, "d1", "e")}
    assert run("part", {}) == want
    assert run("simple", {"simpleReader": "true"}) == want


def test_partitioned_stream_reader_nonappend_and_retention(
        registered, tmp_path):
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import snapshot_prune
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources.spark_source import (
        SnapshotPartitionedStreamReader,
    )
    spark = registered
    path = str(tmp_path / "tbl")
    _base(spark, path)                                          # v0
    snapshot_delete(spark, path,
                    spark.createDataFrame([(1,)], "id long"),
                    ["id"], partition_cols=["day"])             # v1
    snapshot_append(spark, path, spark.createDataFrame(
        [(7, "d7", "g")], SCHEMA))                              # v2
    rdr = SnapshotPartitionedStreamReader({"path": path,
                                           "startversion": "0"})
    with pytest.raises(ValueError, match="not an append"):
        rdr.partitions({"version": 0}, {"version": 2})
    rdr2 = SnapshotPartitionedStreamReader(
        {"path": path, "startversion": "0",
         "onnonappend": "skip"})
    parts = rdr2.partitions({"version": 0}, {"version": 2})
    assert len(parts) == 1              # the delete is skipped
    # retention outrunning the offset is a loud error
    for i in range(3):
        snapshot_append(spark, path, spark.createDataFrame(
            [(10 + i, "d1", "x")], SCHEMA))
    snapshot_prune(spark, path, keep_latest=2,
                   orphan_grace_seconds=0)
    with pytest.raises(ValueError, match="retention"):
        rdr2.partitions({"version": 0}, {"version": 5})


def test_register_snapshot_table_names_validated_and_isolated(
        registered, tmp_path):
    """Review fix (r10): invalid catalog names fail UPFRONT (no
    orphan link tree left behind); distinct names never share an
    export dir (the hash suffix), so refreshing one registration
    cannot delete another's backing files."""
    import pathlib
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import (
        register_snapshot_table,
    )
    spark = registered
    path = str(tmp_path / "tbl")
    _base(spark, path)                                          # v0
    for bad in ("weird name", "weird|name", "", "a..b"):
        with pytest.raises(ValueError, match="invalid catalog"):
            register_snapshot_table(spark, bad, path)
    assert not (pathlib.Path(path) / "_registrations").exists(), \
        "a refused name must not leave an orphan link tree"
    i1 = register_snapshot_table(spark, "tbl_a", path, version=0)
    snapshot_append(spark, path, spark.createDataFrame(
        [(9, "d9", "z")], SCHEMA))                              # v1
    i2 = register_snapshot_table(spark, "tbl_b", path)
    assert i1["location"] != i2["location"]
    # refreshing one registration leaves the other serving
    register_snapshot_table(spark, "tbl_b", path)
    assert spark.sql("SELECT count(*) AS n FROM tbl_a"
                     ).first()["n"] == 3
    assert spark.sql("SELECT count(*) AS n FROM tbl_b"
                     ).first()["n"] == 4


def test_register_snapshot_table_protect_lifecycle_and_casefold(
        registered, tmp_path):
    """Review fixes (r10): the protect tag follows the registration
    (refresh without protect removes it; refresh with protect
    re-points it), names are casefolded like the catalog resolves
    them (Tbl == tbl: one registration, one export dir), and
    non-ASCII names are refused upfront."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import (
        register_snapshot_table, snapshot_tags,
    )
    spark = registered
    path = str(tmp_path / "tbl")
    _base(spark, path)                                          # v0
    with pytest.raises(ValueError, match="invalid catalog"):
        register_snapshot_table(spark, "tablé", path)
    i1 = register_snapshot_table(spark, "Cat_T", path,
                                 protect=True)
    tags0 = {t: v for t, v in snapshot_tags(spark, path).items()
             if t.startswith("registered-")}
    assert tags0 and set(tags0.values()) == {0}
    snapshot_append(spark, path, spark.createDataFrame(
        [(9, "d9", "z")], SCHEMA))                              # v1
    # casefolded: 'cat_t' refreshes the SAME registration
    i2 = register_snapshot_table(spark, "cat_t", path,
                                 protect=True)
    import os as _os
    assert (_os.path.dirname(i2["location"])
            == _os.path.dirname(i1["location"]))
    tags1 = {t: v for t, v in snapshot_tags(spark, path).items()
             if t.startswith("registered-")}
    assert set(tags1) == set(tags0), "tag re-pointed, not duplicated"
    assert set(tags1.values()) == {1}
    # refresh WITHOUT protect drops the registration's tag
    register_snapshot_table(spark, "cat_t", path)
    tags2 = [t for t in snapshot_tags(spark, path)
             if t.startswith("registered-")]
    assert not tags2, tags2


# ------------------------------------------ admission control (r11)

def test_admission_offsets_split_one_big_commit(registered, tmp_path):
    """r10 VERDICT item 1: maxFilesPerTrigger splits a single large
    append commit across micro-batches — offsets become sub-version
    (version, file-index) positions over the deterministic manifest
    order, and partitions(start, end) plans exactly the slice."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources.spark_source import (
        SnapshotPartitionedStreamReader,
    )
    spark = registered
    path = str(tmp_path / "tbl")
    _base(spark, path)                                          # v0
    # one append commit carrying FIVE files (five partitions)
    snapshot_append(spark, path, spark.createDataFrame(
        [(10 + i, f"p{i}", "x") for i in range(5)], SCHEMA))    # v1
    rdr = SnapshotPartitionedStreamReader(
        {"path": path, "startversion": "0",
         "maxfilespertrigger": "2"})
    assert rdr.initialOffset() == {"version": 0}
    o1 = rdr.latestOffset()
    assert o1 == {"version": 1, "index": 2}
    p1 = rdr.partitions({"version": 0}, o1)
    o2 = rdr.latestOffset()
    assert o2 == {"version": 1, "index": 4}
    p2 = rdr.partitions(o1, o2)
    o3 = rdr.latestOffset()
    assert o3 == {"version": 1, "index": 5}
    p3 = rdr.partitions(o2, o3)
    assert [len(p1), len(p2), len(p3)] == [2, 2, 1]
    # all five files, no dupes, no losses
    files = [p.file_path for p in p1 + p2 + p3]
    assert len(set(files)) == 5
    # drained: the SAME offset object comes back (json-equality is
    # Spark's no-new-data check)
    assert rdr.latestOffset() == o3
    assert rdr.partitions(o3, o3) == []
    # a fresh reader replaying a mid-commit range plans the SAME
    # slice (manifest order is deterministic) — exactly-once across
    # restart
    rdr2 = SnapshotPartitionedStreamReader(
        {"path": path, "startversion": "0",
         "maxfilespertrigger": "2"})
    again = rdr2.partitions(o1, o2)
    assert [p.file_path for p in again] == [p.file_path for p in p2]
    # ...and the replay re-teaches the position: the NEXT planned
    # batch continues from o2, still throttled
    assert rdr2.latestOffset() == {"version": 1, "index": 5}


def test_admission_bytes_cap_and_legacy_offsets(registered, tmp_path):
    """maxBytesPerTrigger is a soft cap (at least one file per batch)
    fed by the manifest's per-entry byte sizes; legacy offsets
    without an index keep their fully-consumed meaning."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources.spark_source import (
        SnapshotPartitionedStreamReader,
    )
    spark = registered
    path = str(tmp_path / "tbl")
    _base(spark, path)                                          # v0
    snapshot_append(spark, path, spark.createDataFrame(
        [(10 + i, f"p{i}", "x" * 50) for i in range(3)], SCHEMA))
    rdr = SnapshotPartitionedStreamReader(
        {"path": path, "startversion": "0",
         "maxbytespertrigger": "1"})   # < one file: still admits one
    rdr.initialOffset()
    offs = [rdr.latestOffset() for _ in range(3)]
    assert [o["index"] for o in offs] == [1, 2, 3]
    # legacy {"version": v} start offset == fully consumed v
    parts = rdr.partitions({"version": 0}, {"version": 1})
    assert len(parts) == 3
    # option validation
    with pytest.raises(ValueError, match=">= 1"):
        SnapshotPartitionedStreamReader(
            {"path": path, "maxfilespertrigger": "0"})
    # the simple reader refuses the caps instead of ignoring them
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources.spark_source import (
        SnapshotAppendsStreamReader,
    )
    with pytest.raises(ValueError, match="partitioned reader"):
        SnapshotAppendsStreamReader(
            {"path": path, "maxfilespertrigger": "2"})


def test_admission_rolls_over_row_neutral_versions(
        registered, tmp_path):
    """Compactions and skipped rewrites advance the throttled offset
    without planning ghost batches forever."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import snapshot_compact
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources.spark_source import (
        SnapshotPartitionedStreamReader,
    )
    spark = registered
    path = str(tmp_path / "tbl")
    _base(spark, path)                                          # v0
    snapshot_append(spark, path, spark.createDataFrame(
        [(4, "d1", "d")], SCHEMA))                              # v1
    snapshot_compact(spark, path)                               # v2
    snapshot_append(spark, path, spark.createDataFrame(
        [(5, "d2", "e")], SCHEMA))                              # v3
    rdr = SnapshotPartitionedStreamReader(
        {"path": path, "startversion": "0",
         "maxfilespertrigger": "10"})
    rdr.initialOffset()
    o1 = rdr.latestOffset()
    parts = rdr.partitions({"version": 0}, o1)
    assert o1 == {"version": 3, "index": 1}
    assert len(parts) == 2               # v1's file + v3's file
    assert rdr.latestOffset() == o1      # drained, stable offset


def test_admission_end_to_end_restart_mid_commit(
        registered, tmp_path):
    """A real throttled query over one multi-file commit: stopped
    mid-commit, restarted on the same checkpoint — every row lands
    exactly once, and the admission log reports admitted/deferred
    per batch (no silent caps)."""
    import json as _json
    import time
    spark = registered
    path = str(tmp_path / "tbl")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    log = str(tmp_path / "admission.jsonl")
    _base(spark, path)                                          # v0
    snapshot_append(spark, path, spark.createDataFrame(
        [(10 + i, f"p{i}", "x") for i in range(4)], SCHEMA))    # v1

    def start():
        return (spark.readStream.format("snapshot")
                .option("startVersion", 0)
                .option("maxFilesPerTrigger", 1)
                .option("admissionLog", log)
                .load(path)
                .writeStream.format("parquet")
                .option("path", sink).option("checkpointLocation", ckpt)
                .trigger(processingTime="0 seconds").start())

    q = start()
    deadline = time.time() + 120
    # stop mid-commit: after at least one row, before all four
    while time.time() < deadline:
        try:
            if spark.read.parquet(sink).count() >= 1:
                break
        except Exception:
            pass
        time.sleep(0.2)
    q.stop()
    q.awaitTermination(60)
    q2 = start()
    while time.time() < deadline:
        try:
            if spark.read.parquet(sink).count() >= 4:
                break
        except Exception:
            pass
        time.sleep(0.2)
    q2.stop()
    q2.awaitTermination(60)
    rows = [tuple(r) for r in spark.read.parquet(sink).collect()]
    assert sorted(rows) == [(10 + i, f"p{i}", "x") for i in range(4)], \
        f"exactly-once violated: {sorted(rows)}"
    with open(log, encoding="utf-8") as f:
        entries = [_json.loads(ln) for ln in f if ln.strip()]
    assert entries and all(e["files_admitted"] == 1 for e in entries)
    # the first planned batch saw the remaining 3 files deferred
    assert entries[0]["files_deferred"] == 3
    assert entries[0]["bytes_admitted"] > 0


# ------------------------------------------- filesystem adapters (r11)

class _MockFS:
    """Test adapter: maps mock://... onto a local shadow dir through
    the documented adapter protocol — proving every I/O site in the
    data source dispatches through the seam."""

    def __init__(self, shadow):
        self.shadow = shadow
        self.calls = []

    def _p(self, p):
        assert p.startswith("mock://"), p
        return os.path.join(self.shadow, p[len("mock://"):])

    def open_in(self, p):
        self.calls.append(("open_in", p))
        return open(self._p(p), "rb")

    def write_bytes(self, p, data):
        self.calls.append(("write_bytes", p))
        lp = self._p(p)
        os.makedirs(os.path.dirname(lp), exist_ok=True)
        import uuid
        tmp = f"{lp}.tmp-{uuid.uuid4().hex}"
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, lp)

    def listdir(self, p):
        lp = self._p(p)
        return os.listdir(lp) if os.path.isdir(lp) else []

    def exists(self, p):
        return os.path.exists(self._p(p))

    def getsize(self, p):
        return os.path.getsize(self._p(p))

    def create_exclusive(self, p, data):
        lp = self._p(p)
        os.makedirs(os.path.dirname(lp), exist_ok=True)
        fd = os.open(lp, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        with os.fdopen(fd, "wb") as f:
            f.write(data)

    def replace_bytes(self, p, data):
        self.write_bytes(p, data)

    def delete(self, p):
        try:
            os.unlink(self._p(p))
        except FileNotFoundError:
            pass

    def delete_tree(self, p):
        import shutil
        shutil.rmtree(self._p(p), ignore_errors=True)


def _mock_fs(tmp_path):
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import (
        register_snapshot_filesystem,
    )
    fs = _MockFS(str(tmp_path / "shadow"))
    register_snapshot_filesystem("mock", fs)
    return fs


def test_mock_scheme_write_read_roundtrip_sparkless(tmp_path):
    """The whole DS write->commit->read loop over a registered
    adapter scheme, WITHOUT a Spark session — the adapter is the
    only I/O route (the shadow dir is reachable solely through it),
    so any un-dispatched os/open call would fail loudly."""
    import pyarrow as pa
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources.spark_source import (
        ConcurrentCommit, SnapshotBatchWriter,
        SnapshotPartitionedStreamReader, SnapshotReader,
        _commit_manifest, _manifest,
    )
    fs = _mock_fs(tmp_path)
    root = "mock://bucket/tbl"
    schema = StructType([StructField("id", LongType()),
                         StructField("day", StringType()),
                         StructField("val", StringType())])
    opts = {"path": root, "partitioncols": "day"}
    w = SnapshotBatchWriter(opts, schema, overwrite=True)
    msg = w.write(iter([pa.record_batch(
        {"id": [1, 2, 3], "day": ["d1", "d1", "d2"],
         "val": ["a", "b", "c"]})]))
    assert all(e["bytes"] > 0 for e in msg.entries)
    w.commit([msg])                                             # v0
    w2 = SnapshotBatchWriter(opts, schema, overwrite=False)
    msg2 = w2.write(iter([pa.record_batch(
        {"id": [4], "day": ["d3"], "val": ["d"]})]))
    w2.commit([msg2])                                           # v1
    # batch reader through the adapter
    rdr = SnapshotReader({"path": root})
    rows = []
    for p in rdr.partitions():
        for b in rdr.read(p):
            rows += b.to_pylist()
    assert {(r["id"], r["day"], r["val"]) for r in rows} == {
        (1, "d1", "a"), (2, "d1", "b"), (3, "d2", "c"),
        (4, "d3", "d")}
    # time travel still resolves through the adapter
    r0 = SnapshotReader({"path": root, "version": "0"})
    assert len(r0.partitions()) == 2
    # TAG resolution dispatches through the adapter too (r11 review
    # fix: a plain os.path.exists on a schemed ref path is always
    # False — every tag on an adapter store read as missing)
    import json as _json
    fs.write_bytes(f"{root}/_refs/rel.json",
                   _json.dumps({"version": 0}).encode())
    rt = SnapshotReader({"path": root, "tag": "rel"})
    assert len(rt.partitions()) == 2
    with pytest.raises(FileNotFoundError, match="no tag"):
        SnapshotReader({"path": root, "tag": "nope"})
    # throttled STREAMING face over the adapter (per-entry bytes
    # recorded by the task write feed maxBytesPerTrigger)
    srdr = SnapshotPartitionedStreamReader(
        {"path": root, "startversion": "0",
         "maxbytespertrigger": "1"})
    srdr.initialOffset()
    assert srdr.latestOffset() == {"version": 1, "index": 1}
    # the CAS is the adapter's conditional create: losing the race
    # is the same loud ConcurrentCommit as on local stores
    m = _manifest(root, 1)
    with pytest.raises(ConcurrentCommit):
        _commit_manifest(root, 1, dict(m))
    # every byte moved through the adapter, none around it
    assert any(c[0] == "write_bytes" for c in fs.calls)
    assert any(c[0] == "open_in" for c in fs.calls)


def test_unregistered_scheme_fails_loudly(tmp_path):
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources.spark_source import (
        SnapshotReader,
    )
    with pytest.raises(ValueError, match="no snapshot filesystem"):
        SnapshotReader({"path": "s3x://bucket/tbl"})


def test_register_snapshot_table_adapter_export_path(
        registered, tmp_path):
    """r10 VERDICT item 2: a table on an adapter-scheme store
    registers into the SQL catalog by COPYING the pinned files to a
    local export_path — the catalog table reads without the store."""
    import pyarrow as pa
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import (
        register_snapshot_table, snapshot_tags,
    )
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources.spark_source import (
        SnapshotBatchWriter,
    )
    spark = registered
    _mock_fs(tmp_path)
    root = "mock://bucket/regtbl"
    schema = StructType([StructField("id", LongType()),
                         StructField("day", StringType())])
    w = SnapshotBatchWriter({"path": root, "partitioncols": "day"},
                            schema, overwrite=True)
    w.commit([w.write(iter([pa.record_batch(
        {"id": [1, 2], "day": ["d1", "d2"]})]))])
    exp = str(tmp_path / "exports")
    with pytest.raises(ValueError, match="export_path"):
        register_snapshot_table(spark, "cat_mock", root)
    # protect=True tags the pinned version through the adapter
    info = register_snapshot_table(spark, "cat_mock", root,
                                   export_path=exp, protect=True)
    tag = "registered-" + os.path.basename(os.path.dirname(
        info["location"]))
    assert snapshot_tags(spark, root) == {tag: 0}
    assert info["link_mode"] == "copy"
    assert info["location"].startswith(exp)
    got = spark.sql("SELECT id, day FROM cat_mock ORDER BY id"
                    ).collect()
    assert [tuple(r) for r in got] == [(1, "d1"), (2, "d2")]
    spark.sql("DROP TABLE cat_mock")


def test_file_scheme_end_to_end(registered, tmp_path):
    """file:// table paths serve the DS batch read AND catalog
    registration without any adapter (scheme stripped)."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import (
        register_snapshot_table,
    )
    spark = registered
    plain = str(tmp_path / "tbl")
    furi = "file://" + plain
    snapshot_write(spark, furi, spark.createDataFrame(
        [(1, "d1", "a"), (2, "d2", "b")], SCHEMA),
        partition_cols=["day"])
    got = spark.read.format("snapshot").load(furi)
    assert {(r["id"], r["day"]) for r in got.collect()} == {
        (1, "d1"), (2, "d2")}
    info = register_snapshot_table(spark, "cat_furi", furi)
    assert info["files"] == 2
    assert spark.sql("SELECT count(*) AS n FROM cat_furi"
                     ).first()["n"] == 2
    spark.sql("DROP TABLE cat_furi")


# --------------------------------------------- registration auto-refresh (r11)

def test_registration_sync_follows_commits(registered, tmp_path):
    """r10 VERDICT item 3: registration_sync re-points the catalog
    table exactly once per table commit — including compactions
    (they rewrite the FILE list the registration links) — folds a
    backlog into one head refresh, replays idempotently, and keeps
    the protect tag on the currently registered version."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import (
        snapshot_compact, snapshot_tags,
    )
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.streaming import (
        registration_sync, sync_status,
    )
    spark = registered
    path = str(tmp_path / "tbl")
    state = str(tmp_path / "regstate")
    _base(spark, path)                                          # v0

    # initial sync registers the head
    out = registration_sync(spark, path, name="cat_sync",
                            state_path=state, protect=True)
    assert out["steps"] == 1 and out["registration"]["version"] == 0
    assert spark.sql("SELECT count(*) AS n FROM cat_sync"
                     ).first()["n"] == 3
    # already current -> no-op (no fresh export tree, no DDL)
    loc = out["registration"]["location"]
    out = registration_sync(spark, path, name="cat_sync",
                            state_path=state, protect=True)
    assert out["steps"] == 0 and out["registration"] is None
    assert os.path.isdir(loc)

    # two commits, synced one at a time -> one refresh each
    for i in range(2):                                       # v1, v2
        snapshot_append(spark, path, spark.createDataFrame(
            [(10 + i, "d1", "x")], SCHEMA))
        st = sync_status(spark, path, state)
        assert st["lag_commits"] == 1
        out = registration_sync(spark, path, name="cat_sync",
                                state_path=state, protect=True)
        assert out["steps"] == 1 and out["folded"] == 0
        assert spark.sql("SELECT count(*) AS n FROM cat_sync"
                         ).first()["n"] == 4 + i
    # protect tag re-pointed to the registered head
    tags = snapshot_tags(spark, path)
    assert any(t.startswith("registered-cat_sync") and v == 2
               for t, v in tags.items()), tags

    # a compaction is NOT skipped: the catalog must re-link the
    # compacted files even though no row changed
    snapshot_compact(spark, path)                               # v3
    out = registration_sync(spark, path, name="cat_sync",
                            state_path=state, protect=True)
    assert out["steps"] == 1 and out["registration"]["version"] == 3
    assert spark.sql("SELECT count(*) AS n FROM cat_sync"
                     ).first()["n"] == 5

    # backlog folds into ONE refresh at the head, reported not silent
    snapshot_append(spark, path, spark.createDataFrame(
        [(20, "d2", "y")], SCHEMA))                             # v4
    snapshot_append(spark, path, spark.createDataFrame(
        [(21, "d2", "z")], SCHEMA))                             # v5
    st = sync_status(spark, path, state)
    assert st["lag_commits"] == 2
    out = registration_sync(spark, path, name="cat_sync",
                            state_path=state, protect=True)
    assert out["steps"] == 1 and out["folded"] == 1
    assert out["registration"]["version"] == 5
    assert spark.sql("SELECT count(*) AS n FROM cat_sync"
                     ).first()["n"] == 7

    # replay: crash between register and marker re-runs ONE refresh
    # of the same head, converging to the identical catalog state
    import shutil
    shutil.rmtree(os.path.join(state, "_snapshot_sync"))
    out = registration_sync(spark, path, name="cat_sync",
                            state_path=state, protect=True)
    assert out["steps"] == 1 and out["registration"]["version"] == 5
    assert spark.sql("SELECT count(*) AS n FROM cat_sync"
                     ).first()["n"] == 7
    out = registration_sync(spark, path, name="cat_sync",
                            state_path=state, protect=True)
    assert out["steps"] == 0

    # a refresh WITHOUT protect drops the registration's tag
    snapshot_append(spark, path, spark.createDataFrame(
        [(22, "d2", "w")], SCHEMA))                             # v6
    registration_sync(spark, path, name="cat_sync",
                      state_path=state)
    assert not any(t.startswith("registered-cat_sync")
                   for t in snapshot_tags(spark, path))
    spark.sql("DROP TABLE cat_sync")


def test_registration_sync_rebuilt_table_detected(
        registered, tmp_path):
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.streaming import registration_sync
    spark = registered
    path = str(tmp_path / "tbl")
    state = str(tmp_path / "regstate")
    _base(spark, path)
    snapshot_append(spark, path, spark.createDataFrame(
        [(9, "d9", "z")], SCHEMA))                              # v1
    registration_sync(spark, path, name="cat_rb", state_path=state)
    # simulate a table rebuilt from scratch at a LOWER version
    import shutil
    shutil.rmtree(path)
    _base(spark, path)                                          # v0
    with pytest.raises(ValueError, match="rebuilt"):
        registration_sync(spark, path, name="cat_rb",
                          state_path=state)
    spark.sql("DROP TABLE cat_rb")
