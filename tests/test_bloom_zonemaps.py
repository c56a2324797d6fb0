"""Bloom-filter zone maps: point lookups on high-cardinality unsorted
columns prune files min/max can't, the executor-side and driver-side
hash agree bit-for-bit, cross-type literals never prune, and masks
survive every commit type."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import (
    read_snapshot, scan_pruning_stats, snapshot_append,
    snapshot_compact, snapshot_scan, snapshot_upsert, snapshot_write,
)
from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import snapshots as snapmod


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _table(spark, path, n_parts=8):
    """High-cardinality string keys hashed across files: every file's
    [min,max] spans nearly the whole key space, so min/max alone
    cannot prune a point lookup."""
    rows = [(f"user-{i * 7919 % 1000:03d}-{i}", i, "d1")
            for i in range(400)]
    df = (spark.createDataFrame(rows, "key string, n long, day string")
          .repartition(n_parts, "key"))
    snapshot_write(spark, path, df, partition_cols=["day"],
                   stats_cols=["n"], bloom_cols=["key"])
    return rows


def test_point_lookup_prunes_files_minmax_cannot(spark, tmp_path):
    path = str(tmp_path / "tbl")
    rows = _table(spark, path)
    key = rows[123][0]

    # min/max alone would keep ~every file; the bloom keeps ~1
    st = scan_pruning_stats(spark, path, [("key", "=", key)])
    assert st["files_total"] >= 8
    assert st["files_read"] <= 2
    assert st["files_pruned"] >= st["files_total"] - 2

    got = snapshot_scan(spark, path, [("key", "=", key)])
    want = read_snapshot(spark, path).where(F.col("key") == key)
    assert _rows(got) == _rows(want) and got.count() == 1


def test_in_lookup_prunes_and_matches(spark, tmp_path):
    path = str(tmp_path / "tbl")
    rows = _table(spark, path)
    keys = [rows[3][0], rows[200][0]]
    st = scan_pruning_stats(spark, path, [("key", "in", keys)])
    assert st["files_read"] <= 4 < st["files_total"]
    got = snapshot_scan(spark, path, [("key", "in", keys)])
    want = read_snapshot(spark, path).where(F.col("key").isin(keys))
    assert _rows(got) == _rows(want) and got.count() == 2

    # absent key: every file bloom-rejected, result empty
    st = scan_pruning_stats(spark, path, [("key", "=", "nope")])
    assert st["files_read"] == 0
    assert snapshot_scan(spark, path, [("key", "=", "nope")]).count() \
        == 0


def test_cross_type_literal_never_prunes(spark, tmp_path):
    """An int literal against the string bloom column must keep every
    file (Spark's row-level coercion might still match), and the
    result must equal the unpruned filtered read."""
    path = str(tmp_path / "tbl")
    _table(spark, path)
    st = scan_pruning_stats(spark, path, [("key", "=", 5)])
    assert st["files_pruned"] == 0


def test_executor_driver_hash_parity(spark):
    """Masks are written and probed with one Python hash; pin that
    Spark's own F.crc32 gives the same positions for the SAME
    canonical string, so an engine reading the manifest from the JVM
    side can probe them too — over strings and integers."""
    vals = ["", "a", "user-042-7", "Ünïcodé ✓", "-17", "0", " x "]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    s = F.col("v")
    h1 = F.crc32(F.encode(s, "UTF-8"))
    h2 = F.crc32(F.encode(F.concat(s, F.lit(snapmod._BLOOM_SALT)),
                          "UTF-8"))
    arr = F.array(*[((h1 + F.lit(i) * h2) % F.lit(snapmod._BLOOM_BITS))
                    .cast("int") for i in range(snapmod._BLOOM_K)])
    got = {r["v"]: list(r["p"]) for r in
           df.select("v", arr.alias("p")).collect()}
    for v in vals:
        assert got[v] == snapmod._bloom_positions(
            v, snapmod._BLOOM_BITS), v

    ints = [-5, 0, 7, 123456789012345]
    di = spark.createDataFrame([(i,) for i in ints], "v long")
    s = F.col("v").cast("string")
    h1 = F.crc32(F.encode(s, "UTF-8"))
    h2 = F.crc32(F.encode(F.concat(s, F.lit(snapmod._BLOOM_SALT)),
                          "UTF-8"))
    arr = F.array(*[((h1 + F.lit(i) * h2) % F.lit(snapmod._BLOOM_BITS))
                    .cast("int") for i in range(snapmod._BLOOM_K)])
    got = {r["v"]: list(r["p"]) for r in
           di.select("v", arr.alias("p")).collect()}
    for v in ints:
        assert got[v] == snapmod._bloom_positions(
            v, snapmod._BLOOM_BITS), v


def test_blooms_survive_append_upsert_compact(spark, tmp_path):
    path = str(tmp_path / "tbl")
    rows = _table(spark, path)

    extra = spark.createDataFrame([("fresh-key-1", 1000, "d1")],
                                  "key string, n long, day string")
    snapshot_append(spark, path, extra)
    st = scan_pruning_stats(spark, path, [("key", "=", "fresh-key-1")])
    assert st["files_read"] <= 2
    assert snapshot_scan(
        spark, path, [("key", "=", "fresh-key-1")]).count() == 1

    up = spark.createDataFrame([(rows[0][0], -1, "d1")],
                               "key string, n long, day string")
    snapshot_upsert(spark, path, up, ["key"], partition_cols=["day"])
    got = snapshot_scan(spark, path, [("key", "=", rows[0][0])])
    assert [r["n"] for r in got.collect()] == [-1]

    snapshot_compact(spark, path, target_file_bytes=1 << 30)
    # after compaction everything lives in ~1 file; the lookup still
    # answers correctly and absent keys still prune to zero files
    assert snapshot_scan(spark, path,
                         [("key", "=", rows[0][0])]).count() == 1
    st = scan_pruning_stats(spark, path, [("key", "=", "nope")])
    assert st["files_read"] == 0


def test_all_null_bloom_file_prunes_point_lookups(spark, tmp_path):
    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(None, 1, "d1"), (None, 2, "d1")],
        "key string, n long, day string").coalesce(1)
    snapshot_write(spark, path, df, partition_cols=["day"],
                   bloom_cols=["key"])
    st = scan_pruning_stats(spark, path, [("key", "=", "anything")])
    assert st["files_read"] == 0
    # but IS NULL keeps the file (bloom-only entries record no null
    # counts; pruning must stay conservative)
    assert snapshot_scan(spark, path,
                         [("key", "is_null", None)]).count() == 2


def test_bloom_type_validation(spark, tmp_path):
    path = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1.5, "d1")], "x double, day string")
    with pytest.raises(ValueError, match="integral"):
        snapshot_write(spark, path, df, partition_cols=["day"],
                       bloom_cols=["x"])
    with pytest.raises(ValueError, match="partition column"):
        snapshot_write(spark, path, df, partition_cols=["day"],
                       bloom_cols=["day"])


def test_where_routing_uses_blooms(spark, tmp_path):
    """read_snapshot(where=...) auto-routes SQL point predicates
    through the bloom masks too."""
    path = str(tmp_path / "tbl")
    rows = _table(spark, path)
    key = rows[42][0]
    dnf = snapmod.sql_predicates(spark, f"key = '{key}'")
    assert dnf is not None
    m = snapmod._manifest(path, 0)
    entries = snapmod._entries(path, m)
    kept = snapmod._prune_entries(entries, dnf)
    assert len(kept) <= 2 < len(entries)
    got = read_snapshot(spark, path, where=f"key = '{key}'")
    assert got.count() == 1
