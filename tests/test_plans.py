"""Physical-plan contracts: the scale-critical properties SURVEY §4
commits to, asserted on the real plans of the driver-contract queries.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark import (
    forward_fill, resample_asof,
)
from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.plans import (
    broadcast_join_count, count_exchanges, count_window_ops, pushed_filters,
    read_schema_columns, shuffle_join_count,
)

SF_DIR = "/root/testdata/sf0.001"


def test_q1_filter_pushed_to_scan(spark):
    df = entry.q1_pricing_summary(spark, SF_DIR)
    assert any("l_shipdate" in f for f in pushed_filters(df)), \
        "shipdate predicate must reach the parquet scan"


def test_q1_column_pruning(spark):
    df = entry.q1_pricing_summary(spark, SF_DIR)
    scans = read_schema_columns(df)
    assert scans, "expected a parquet scan"
    cols = scans[0]
    # 16-column lineitem pruned to the 7 columns the query touches
    assert "l_comment" not in cols and "l_partkey" not in cols
    assert {"l_quantity", "l_extendedprice", "l_discount", "l_shipdate"} <= cols


def test_q3_broadcasts_customer_dim(spark):
    df = entry.q3_shipping_priority(spark, SF_DIR)
    assert broadcast_join_count(df) >= 1, \
        "filtered customer dim must broadcast, not shuffle"


def test_q5_star_join_broadcasts_small_dims(spark):
    df = entry.q5_local_supplier(spark, SF_DIR)
    assert broadcast_join_count(df) >= 3  # supplier, nation, region


def test_forward_fill_single_window_pass(spark):
    """N same-spec LOCF columns must collapse into ONE Window operator
    (SURVEY §4 'W-columns window stack')."""
    raw = spark.read.parquet(f"{SF_DIR}/events.parquet")
    ev = raw.select("user_id", entry._ts_us(raw).alias("t"), "value",
                    (F.col("value") * 2).alias("v2"), (F.col("value") * 3).alias("v3"))
    filled = forward_fill(ev, ["user_id"], "t", ["value", "v2", "v3"])
    assert count_window_ops(filled) == 1


def test_resample_locf_no_extra_shuffles(spark):
    """Spine + union + fill is 1 window pass; no global sort appears."""
    raw = spark.read.parquet(f"{SF_DIR}/events.parquet")
    ev = raw.select("user_id", entry._ts_us(raw).alias("t"), "value")
    out = resample_asof(ev, ["user_id"], "t", 3_600_000_000, ["value"])
    assert count_window_ops(out) == 1
    assert "rangepartitioning" not in out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted")


def test_grid_locf_one_exchange_one_window(spark):
    """The grid fill is one window pass over one hash(keys) shuffle:
    no spine aggregate, no pivot aggregate — for resample_asof and for
    synchronize_topics, whatever the number of topics."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.pipeline import (
        synchronize_topics,
    )
    raw = spark.read.parquet(f"{SF_DIR}/events.parquet")
    ev = raw.select("user_id", entry._ts_us(raw).alias("t"), "value",
                    "event_type")
    locf = resample_asof(ev, ["user_id"], "t", 3_600_000_000, ["value"])
    topics = {typ: ev.where(F.col("event_type") == typ)
              .select("user_id", "t", "value")
              for typ in ("click", "view", "purchase")}
    synced = synchronize_topics(topics, ["user_id"], time_col="t",
                                step=3_600_000_000)
    for df in (locf, synced):
        assert count_exchanges(df) == 1
        assert count_window_ops(df) == 1


def test_window_running_one_exchange_two_frames(spark):
    """The folded rows+range+chunked query's exchange budget: the two
    classic frames share ONE hash(user_id) exchange and the r6 chunked
    running_n adds exactly its contracted three (data on
    (user_id, chunk); partial-aggregated totals; per-chunk offsets on
    user_id — see test_running_agg_chunked_shuffles_data_once). Four
    windows total: intra-chunk count, chunk offsets, rows frame, range
    frame."""
    df = entry.q_window_running(spark, SF_DIR)
    assert count_window_ops(df) == 4
    assert count_exchanges(df) == 4
    # the two classic frames still share one hash(user_id) exchange
    # (they'd be 2 extra exchanges otherwise, 5 total)
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.plans.inspect import (
        formatted_plan,
    )
    plan = formatted_plan(df)
    data_parts = [h for h in
                  re.findall(r"hashpartitioning\([^)]*\)", plan)
                  if "_chunk" not in h]
    assert len(data_parts) == 2           # offsets key + shared frames key


def test_asof_nearest_chain_reuses_partitioning(spark):
    """Chained forward + nearest as-of joins both key on user_id: that
    branch of the folded q_asof_variants union must stay at two
    exchanges and three window passes (forward; nearest backward +
    forward candidates) — a per-join re-shuffle of the left side would
    show more. Isolate the nearest branch by filtering the union tag
    (the filter prunes the tolerance branch out of the plan)."""
    df = entry.q_asof_variants(spark, SF_DIR).where("kind = 'nearest'")
    assert count_window_ops(df) == 3


def test_scene_geometry_is_one_arrow_stage(spark, count_jobs):
    """The per-row object-in-lane test plans as one narrow stage: one
    ArrowEvalPython over the input, no Exchange, and writing its output
    runs exactly one Spark job."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.pipeline import (
        objects_in_lane_by_key,
    )
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.plans.inspect import (
        formatted_plan,
    )
    det = {"x": 2.0, "y": 2.0, "width": 4.0, "height": 4.0, "Class": "person"}
    lanes = [{"image_points": [{"x": -3.0, "y": 0.0}]},
             {"image_points": [{"x": 10.0, "y": 0.0}]}]
    df = spark.createDataFrame(
        [(k, float(t), [det], lanes) for k in ("a", "b") for t in range(20)],
        "bag_file string, t double, dets array<struct<x:double,y:double,"
        "width:double,height:double,Class:string>>, "
        "lanes array<struct<image_points:array<struct<x:double,y:double>>>>")
    out = objects_in_lane_by_key(df, "dets", "lanes", ["bag_file", "t"])
    plan = formatted_plan(out)
    assert "Exchange" not in plan
    assert len(re.findall(r"\(\d+\) ArrowEvalPython\b", plan)) == 1
    assert count_jobs(
        lambda: out.write.format("noop").mode("overwrite").save()) == 1


def test_tfidf_broadcast_is_adaptive_not_hinted(spark):
    """The vocabulary (df-table) join carries no broadcast hint — on a
    web-scale corpus the vocabulary is 10^8+ terms and must be allowed
    to stay a shuffle join keyed on term. At test scale AQE's runtime
    size estimate still converts it to broadcast on its own."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.plans.inspect import (
        formatted_plan,
    )
    df = entry.q_tfidf(spark, SF_DIR)
    # exactly FIVE hint SITES in the logical plan, each a deliberately
    # bounded relation: tfidf's n_docs (1 row), bm25_topk's corpus
    # totals (1 row), and the r7 bm25_del probe's dfreq (≤ |query
    # terms| rows AFTER bucket pruning — unlike the corpus-wide
    # vocabulary) + summed totals (1 row) + the rrf branch's single
    # query vector. The analyzed tree holds SIX hint nodes because the
    # rrf branch reuses the bm25 ranking subtree (its totals hint
    # appears under both union arms). The vocabulary-sized dfreq joins
    # of the tfidf and bm25_topk branches carry none.
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 6
    # after execution, AQE's final physical plan picks broadcast for the
    # small vocabulary anyway
    df.write.format("noop").mode("overwrite").save()
    assert "BroadcastHashJoin" in formatted_plan(df)


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Two tables bucketed on the join key must sort-merge-join with
    ZERO exchanges — the co-located layout that amortizes the shuffle
    across every later join/agg on that key (sources/tables.py
    write_bucketed)."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.plans.inspect import (
        count_exchanges,
    )
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import (
        write_bucketed,
    )
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet") \
        .select("o_orderkey", "o_custkey", "o_totalprice")
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet") \
        .select("l_orderkey", "l_quantity")
    write_bucketed(orders, "t_orders_b", ["o_orderkey"], 4,
                   sort_cols=["o_orderkey"])
    write_bucketed(li, "t_lineitem_b", ["l_orderkey"], 4,
                   sort_cols=["l_orderkey"])
    try:
        a = spark.table("t_orders_b")
        b = spark.table("t_lineitem_b")
        joined = a.join(b, a.o_orderkey == b.l_orderkey) \
                  .groupBy("o_orderkey").agg(F.sum("l_quantity"))
        # join AND the post-join agg on the same key: no exchange anywhere
        assert count_exchanges(joined) == 0
        assert joined.count() > 0
    finally:
        spark.sql("drop table if exists t_orders_b")
        spark.sql("drop table if exists t_lineitem_b")


def test_minhash_index_bucketed_probe_join(spark):
    """The incremental-dedup docstring's scale claim, proven on the
    plan: with the corpus index persisted BUCKETED on (band, bh), the
    per-batch probe join reads the index with no index-side exchange —
    only the (small) arriving batch shuffles."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark import (
        minhash_index, minhash_match_pairs,
    )
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.plans.inspect import (
        formatted_plan,
    )
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import (
        write_bucketed,
    )
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.plans.inspect import (
        count_exchanges,
    )
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    idx = minhash_index(docs.where("doc_id % 2 = 0"), "text", "doc_id")
    write_bucketed(idx, "t_mh_index", ["band", "bh"], 8)
    idx.write.mode("overwrite").saveAsTable("t_mh_index_plain")
    # at corpus scale the index outgrows broadcast; force the
    # sort-merge path the claim is about (a tiny test index would
    # otherwise broadcast and hide the layout difference)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        batch = docs.where("doc_id % 2 = 1")
        bucketed = minhash_match_pairs(batch, spark.table("t_mh_index"),
                                       "text", "doc_id", threshold=0.5)
        plain = minhash_match_pairs(batch, spark.table("t_mh_index_plain"),
                                    "text", "doc_id", threshold=0.5)
        # bucketed: probe-side exchange + dropDuplicates only; plain
        # pays one more to shuffle the index on every probe
        assert count_exchanges(bucketed) == 2
        assert count_exchanges(plain) == 3
        assert "SortMergeJoin" in formatted_plan(bucketed)
        assert bucketed.count() == plain.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("drop table if exists t_mh_index")
        spark.sql("drop table if exists t_mh_index_plain")


def test_time_sorted_layout_prunes_row_groups(spark, tmp_path):
    """Zone-map pruning proof (the 100 TB complement to partition
    pruning): the SAME time-range predicate over the SAME rows reads a
    small fraction of the data from the time-sorted layout but nearly
    all of it from a time-shuffled layout — measured on the scan's own
    numOutputRows metric, i.e. rows surviving parquet row-group min/max
    skipping, not post-scan filtering."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.plans import (
        scan_output_rows,
    )
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import (
        write_time_sorted,
    )
    raw = spark.read.parquet(f"{SF_DIR}/events.parquet")
    ev = raw.select("user_id", entry._ts_us(raw).alias("t"), "value")
    total = ev.count()
    t_lo, t_hi = ev.agg(F.min("t"), F.max("t")).first()
    # a ~5% slice of the time span
    lo = t_lo + (t_hi - t_lo) * 50 // 100
    hi = t_lo + (t_hi - t_lo) * 55 // 100

    sorted_path = str(tmp_path / "sorted")
    shuffled_path = str(tmp_path / "shuffled")
    write_time_sorted(ev, sorted_path, "t", num_files=16, mode="overwrite")
    # adversarial layout: every file spans the whole time range
    ev.repartition(16).write.mode("overwrite").parquet(shuffled_path)

    def rows_scanned(path):
        df = spark.read.parquet(path).where(F.col("t").between(lo, hi))
        assert any("t" in f for f in pushed_filters(df)), \
            "time predicate must reach the parquet scan"
        matched = df.count()
        df.collect()
        return matched, scan_output_rows(df)

    matched_s, scanned_sorted = rows_scanned(sorted_path)
    matched_r, scanned_shuffled = rows_scanned(shuffled_path)
    assert matched_s == matched_r > 0          # same answer either way
    # shuffled layout: every row group overlaps the range -> full scan
    assert scanned_shuffled >= total * 0.9
    # sorted layout: only the row groups covering the 5% slice are read
    assert scanned_sorted <= total * 0.25
    assert scanned_sorted < scanned_shuffled / 3


def test_zordered_layout_prunes_both_columns(spark, tmp_path):
    """Z-order gives zone-map pruning on BOTH clustered columns — the
    multi-dimensional property a single-column sort cannot have: the
    time-sorted layout prunes time slices but reads everything for a
    user slice, while the z-ordered layout prunes both. Measured on
    the scan's numOutputRows (rows surviving parquet row-group min/max
    skipping), same method as the time-sorted proof above."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.plans import (
        scan_output_rows,
    )
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import (
        write_zordered,
    )
    raw = spark.read.parquet(f"{SF_DIR}/events.parquet")
    ev = raw.select("user_id", entry._ts_us(raw).alias("t"), "value")
    total = ev.count()
    u_lo, u_hi, t_lo, t_hi = ev.agg(
        F.min("user_id"), F.max("user_id"), F.min("t"), F.max("t")).first()

    z_path = str(tmp_path / "zordered")
    write_zordered(ev, z_path, ["user_id", "t"],
                   ranges={"user_id": (u_lo, u_hi), "t": (t_lo, t_hi)},
                   num_files=64, mode="overwrite")
    shuffled_path = str(tmp_path / "shuffled")
    ev.repartition(64).write.mode("overwrite").parquet(shuffled_path)

    # ~10% slice along each dimension
    u_a = u_lo + (u_hi - u_lo) * 45 // 100
    u_b = u_lo + (u_hi - u_lo) * 55 // 100
    t_a = t_lo + (t_hi - t_lo) * 45 // 100
    t_b = t_lo + (t_hi - t_lo) * 55 // 100

    def rows_scanned(path, pred):
        df = spark.read.parquet(path).where(pred)
        matched = df.count()
        df.collect()
        return matched, scan_output_rows(df)

    for pred in (F.col("user_id").between(u_a, u_b),
                 F.col("t").between(t_a, t_b)):
        matched_z, scanned_z = rows_scanned(z_path, pred)
        matched_r, scanned_r = rows_scanned(shuffled_path, pred)
        assert matched_z == matched_r > 0       # same answer either way
        # random layout: every row group overlaps either slice
        assert scanned_r >= total * 0.9
        # z-order: most row groups are outside the slice on this axis
        assert scanned_z <= total * 0.6
        assert scanned_z < scanned_r / 2


def test_zorder_key_validates_inputs(spark):
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import (
        zorder_key,
    )
    with pytest.raises(ValueError):
        zorder_key(["a", "b"], ranges=None)
    with pytest.raises(ValueError):
        zorder_key(["a", "b"], bits=32, ranges={"a": (0, 1), "b": (0, 1)})
    with pytest.raises(ValueError):
        zorder_key(["a"], ranges={"a": (1, 1)})


def test_dedup_text_pipeline_is_python_free(spark):
    """MinHash signatures + banding are pure Catalyst expressions."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.plans.inspect import (
        formatted_plan,
    )
    df = entry.q_minhash_dedup(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_funnel_plan_is_hash_joins_only(spark):
    """funnel's chained earliest-occurrence joins never degrade to a
    nested loop / cartesian product, and each step's event filter is
    pushed into the scan."""
    from tests.conftest import SF_DIR
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark import funnel
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.plans.inspect import (
        formatted_plan,
    )

    ev = (spark.read.parquet(f"{SF_DIR}/events.parquet")
          .select("user_id", "event_type",
                  F.unix_micros(F.col("ts").cast("timestamp")).alias("t")))
    plan = formatted_plan(funnel(ev, ["user_id"], "t", "event_type",
                                 ["view", "click", "purchase"],
                                 horizon=10_000_000))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "PushedFilters" in plan


def test_running_agg_chunked_shuffles_data_once(spark):
    """The two-phase chunked plan's scale contract: the DATA shuffles
    exactly once (the (key, chunk) window exchange); the other two
    exchanges carry map-side partial aggregates and per-chunk totals —
    metadata, not data — and the offsets side joins back broadcast,
    never sort-merge."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark import running_agg
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.plans import count_exchanges
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.plans.inspect import (
        formatted_plan,
    )

    df = spark.range(10_000).select(
        (F.col("id") % 5).alias("k"),
        (F.col("id") % 997).cast("double").alias("t"),
        F.lit(1.0).alias("v"))
    ch = running_agg(df, ["k"], "t", {"rs": ("sum", "v")},
                     chunk_width=100.0)
    plan = formatted_plan(ch)
    assert count_exchanges(ch) == 3
    # totals shuffle is map-side combined (partial aggregate below it)
    assert "partial_sum" in plan
    # offsets join back broadcast — no second sort-merge of the data
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_read_snapshot_pushes_filters_to_scan(spark, tmp_path):
    """Snapshot reads are plain parquet scans under the hood: the
    declared manifest schema and explicit file list must not defeat
    predicate pushdown or partition pruning."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.plans.inspect import (
        formatted_plan, pushed_filters,
    )
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import (
        read_snapshot, snapshot_write,
    )

    path = str(tmp_path / "tbl")
    snapshot_write(
        spark, path,
        spark.range(1000).select(
            F.col("id"), (F.col("id") % 4).cast("string").alias("day"),
            (F.col("id") * 2.0).alias("v")),
        partition_cols=["day"])
    snap = read_snapshot(spark, path).where(F.col("v") > 100.0)
    pf = " ".join(pushed_filters(snap))
    assert "GreaterThan(v" in pf
    # partition pruning on the hive column survives the explicit list
    pruned = read_snapshot(spark, path).where(F.col("day") == "2")
    assert pruned.count() == 250
    plan = formatted_plan(pruned)
    assert "PartitionFilters" in plan


def test_detect_anomalies_single_window_pass(spark):
    """All three baseline aggregates (count/sum/sumsq) share one frame:
    exactly one Window op, one exchange, and the arithmetic stays in
    whole-stage codegen (no Python in the plan)."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark import detect_anomalies
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.plans.inspect import (
        count_exchanges, count_window_ops, formatted_plan,
    )

    raw = spark.read.parquet(f"{SF_DIR}/events.parquet")
    ev = raw.select("user_id", entry._ts_us(raw).alias("t"), "value")
    out = detect_anomalies(ev, ["user_id"], "t", "value",
                           width=3_600_000_000)
    # consume every operator output so pruning can't fake the contract
    probe = out.select("user_id", "zscore", "baseline_mean",
                       "baseline_std", "is_anomaly")
    assert count_window_ops(probe) == 1
    assert count_exchanges(probe) == 1
    assert "Python" not in formatted_plan(probe)
