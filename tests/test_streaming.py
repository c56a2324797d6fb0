"""Structured Streaming layer tests (SURVEY §2.8 #45-#51).

Streams are driven with ``Trigger.AvailableNow`` over parquet directories
written by the tests, results land in memory sinks, and batch equivalents
(or hand-computed expectations) pin the semantics.
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.streaming import (
    CompletenessGate, change_points_stateful, dedup_stream, file_stream,
    interval_join_stream, sessionize_stream, windowed_agg,
)

US = 1_000_000
EVENT_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("t", T.LongType()),
    T.StructField("value", T.DoubleType()),
])


def _write_events(spark, path, rows):
    spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(path)


def _run_available_now(stream_df, output_mode="append"):
    """Drain a stream into a memory sink; return collected rows."""
    name = "m" + uuid.uuid4().hex[:12]
    q = (stream_df.writeStream.format("memory").queryName(name)
         .outputMode(output_mode)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = stream_df.sparkSession.sql(f"select * from {name}").collect()
    q.stop()
    return rows


def test_file_stream_discovers_and_filters(spark, tmp_path):
    path = str(tmp_path / "in")
    _write_events(spark, path, [(1, 1, 10 * US, 1.0), (2, 1, 20 * US, 2.0)])
    rows = _run_available_now(
        file_stream(spark, path, EVENT_SCHEMA).where(F.col("t") >= 15 * US))
    assert [(r.event_id, r.value) for r in rows] == [(2, 2.0)]


def test_dedup_stream_drops_watermark_duplicates(spark, tmp_path):
    path = str(tmp_path / "in")
    # event 1 appears twice (same id) within the watermark; event 3 once
    _write_events(spark, path, [(1, 1, 10 * US, 1.0), (1, 1, 10 * US, 1.0),
                                (3, 2, 12 * US, 3.0)])
    rows = _run_available_now(
        dedup_stream(file_stream(spark, path, EVENT_SCHEMA),
                     ["event_id"], "t", watermark="1 hour"))
    assert sorted(r.event_id for r in rows) == [1, 3]


def test_sessionize_stream_matches_batch_gaps(spark, tmp_path):
    path = str(tmp_path / "in")
    # user 1: events at 0s, 60s (same 5-min session), 1000s (new session)
    _write_events(spark, path, [
        (1, 1, 0, 1.0), (2, 1, 60 * US, 1.0), (3, 1, 1000 * US, 1.0),
        (4, 2, 0, 1.0),
    ])
    rows = _run_available_now(
        sessionize_stream(file_stream(spark, path, EVENT_SCHEMA),
                          ["user_id"], "t", gap="5 minutes",
                          watermark="0 seconds"))
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(
            (r.start_time, r.end_time, r.n_events))
    # append mode emits only sessions closed by the watermark (max event
    # time = 1000s): user 1's (0,60s) closed at 360s, user 2's at 300s;
    # the session starting at 1000s is still open and correctly withheld.
    assert sorted(by_user[1]) == [(0, 60 * US, 2)]
    assert by_user[2] == [(0, 0, 1)]


def test_windowed_agg_tumbling_counts(spark, tmp_path):
    path = str(tmp_path / "in")
    _write_events(spark, path, [
        (1, 1, 10 * US, 2.0), (2, 1, 20 * US, 4.0),        # window [0, 60)
        (3, 1, 70 * US, 8.0),                              # window [60, 120)
    ])
    rows = _run_available_now(
        windowed_agg(file_stream(spark, path, EVENT_SCHEMA),
                     ["user_id"], "t",
                     {"n": F.count(F.lit(1)), "total": F.sum("value")},
                     window="1 minute", watermark="0 seconds"))
    got = sorted((r.window_start, r.n, r.total) for r in rows)
    # watermark reaches 70s: window [0,60) closes and is emitted; the
    # [60,120) window is still open in append mode (correctly withheld).
    assert got == [(0, 2, 6.0)]


def test_interval_join_stream_matches_batch(spark, tmp_path):
    lpath, rpath = str(tmp_path / "l"), str(tmp_path / "r")
    # B: arbitrary nonzero epoch base — event time 0 sits exactly on
    # Spark's initial watermark and is treated as late on the first batch
    B = 1_700_000_000 * US
    _write_events(spark, lpath, [(1, 1, B, 1.0), (2, 1, B + 100 * US, 2.0),
                                 (3, 2, B, 3.0)])
    # user 1 @+50s matches only left@B (within 60s); @+130s only left@+100s;
    # user 2 @+400s matches nothing
    _write_events(spark, rpath, [(10, 1, B + 50 * US, 1.0),
                                 (11, 1, B + 130 * US, 1.0),
                                 (12, 2, B + 400 * US, 1.0)])
    joined = interval_join_stream(
        file_stream(spark, lpath, EVENT_SCHEMA),
        file_stream(spark, rpath, EVENT_SCHEMA),
        ["user_id"], "t", 60 * US, watermark="10 minutes")
    rows = _run_available_now(joined)
    got = sorted((r.user_id, r.l_event_id, r.r_event_id) for r in rows)
    assert got == [(1, 1, 10), (1, 2, 11)]
    # non-key columns come back l_/r_-prefixed, keys unprefixed
    assert {"user_id", "l_event_id", "l_t", "l_value",
            "r_event_id", "r_t", "r_value"} <= set(rows[0].asDict())
    # batch equivalence: the same operator semantics as a plain range join
    l, r = spark.read.parquet(lpath).alias("a"), \
        spark.read.parquet(rpath).alias("b")
    batch = l.join(r, (F.col("a.user_id") == F.col("b.user_id"))
                   & (F.col("b.t") >= F.col("a.t"))
                   & (F.col("b.t") <= F.col("a.t") + F.lit(60 * US))) \
        .select(F.col("a.user_id"), F.col("a.event_id").alias("l_event_id"),
                F.col("b.event_id").alias("r_event_id")).collect()
    assert sorted((x.user_id, x.l_event_id, x.r_event_id)
                  for x in batch) == got


def test_change_points_stateful_across_microbatches(spark, tmp_path):
    path = str(tmp_path / "in")
    # state rises at t=20, falls at t=40 → one interval (20, 40).
    # second rise at t=50 stays open (no falling edge) → not emitted.
    _write_events(spark, path, [
        (1, 1, 10 * US, 0.0), (2, 1, 20 * US, 9.0),
        (3, 1, 30 * US, 9.0), (4, 1, 40 * US, 0.0),
        (5, 1, 50 * US, 9.0),
    ])
    stream = (file_stream(spark, path, EVENT_SCHEMA)
              .withColumn("hot", (F.col("value") >= 5.0).cast("int")))
    rows = _run_available_now(
        change_points_stateful(stream.select("user_id", "t", "hot"),
                               ["user_id"], "t", "hot"))
    assert [(r.user_id, r.start_time, r.end_time, r.interval_length)
            for r in rows] == [(1, 20 * US, 40 * US, 20 * US)]


def test_completeness_gate_semantics(tmp_path):
    released = []
    gate = CompletenessGate({"camera", "lidar"}, min_bags=2,
                            on_release=lambda eid, bags: released.append(bags),
                            state_path=str(tmp_path / "gate.json"))
    # bag A complete, but only 1 complete bag < min_bags → hold
    assert gate.observe([("A", "camera"), ("A", "lidar")]) is None
    # bag B partial → still hold
    assert gate.observe([("B", "camera")]) is None
    # bag B completes → 2 complete bags → release both
    assert gate.observe([("B", "lidar")]) == ["A", "B"]
    # released bags leave the ledger — a third bag alone doesn't re-fire
    assert gate.observe([("C", "camera"), ("C", "lidar")]) is None

    # restart from checkpoint: ledger and release history survive
    gate2 = CompletenessGate({"camera", "lidar"}, min_bags=2,
                             state_path=str(tmp_path / "gate.json"))
    assert gate2.released == [["A", "B"]]
    assert set(gate2.seen) == {"C"}
    assert gate2.observe([("D", "camera"), ("D", "lidar")]) == ["C", "D"]


def _reference_trigger_fires(events, num_topics,
                             min_num_bags_to_process=2):
    """Faithful replay of the reference's firing rule
    (trigger.py:150-165 `should_lambda_trigger_pipeline` +
    process_sns_message's per-file state): after each S3 file event it
    checks (a) the latest-arrived bag's DEDUPED topic list covers
    NUM_TOPICS and (b) total files / NUM_TOPICS >= 2. Returns the
    0-based event index of the first fire, or None."""
    bag_topics: dict[str, list] = {}
    num_files = 0
    for i, (bag, topic) in enumerate(events):
        bag_topics.setdefault(bag, []).append(topic)
        num_files += 1
        all_topics = len(set(bag_topics[bag])) == num_topics
        if all_topics and num_files / num_topics >= min_num_bags_to_process:
            return i
    return None


def test_completeness_gate_parity_with_reference_rule(tmp_path):
    """Replay the reference's canonical event sequence (two bags, each
    delivering its full topic set file-by-file) through BOTH rules:
    the gate must release the same bag group at the same event index
    the reference's trigger fires — identical batch boundaries."""
    topics = {"camera", "lidar", "gps"}
    events = [("bag1", "camera"), ("bag1", "lidar"), ("bag2", "camera"),
              ("bag1", "gps"), ("bag2", "lidar"), ("bag2", "gps")]

    ref_fire = _reference_trigger_fires(events, num_topics=len(topics))
    gate = CompletenessGate(topics, min_bags=2)
    gate_fire, group = None, None
    for i, ev in enumerate(events):
        released = gate.observe([ev])
        if released is not None:
            gate_fire, group = i, released
            break
    # both fire on the 6th event, releasing exactly the two bags
    assert ref_fire == gate_fire == 5
    assert group == ["bag1", "bag2"]


def test_completeness_gate_rejects_reference_misfire(tmp_path):
    """The reference's NumFiles/NUM_TOPICS proxy (trigger.py:161-165,
    its own FIXME) counts duplicate-topic files as progress: one bag
    re-delivering topics reaches files/num_topics >= 2 and fires with
    only ONE complete bag. The gate counts COMPLETE BAGS, so it holds —
    an intentional, documented divergence from the reference bug."""
    topics = {"camera", "lidar", "gps"}
    events = [("bag1", "camera"), ("bag1", "camera"), ("bag1", "lidar"),
              ("bag1", "lidar"), ("bag1", "gps"), ("bag1", "gps")]
    assert _reference_trigger_fires(events, len(topics)) == 5  # misfire
    gate = CompletenessGate(topics, min_bags=2)
    assert all(gate.observe([ev]) is None for ev in events)
    # ... and completes correctly once a second bag really lands
    for ev in [("bag2", "camera"), ("bag2", "lidar")]:
        assert gate.observe([ev]) is None
    assert gate.observe([("bag2", "gps")]) == ["bag1", "bag2"]


def test_completeness_gate_foreach_batch(spark, tmp_path):
    """End-to-end: file stream of (bag_file, topic) arrivals drives the
    gate inside foreachBatch — the reference's trigger.py:205-251 loop."""
    schema = T.StructType([
        T.StructField("bag_file", T.StringType()),
        T.StructField("topic", T.StringType()),
    ])
    path = str(tmp_path / "arrivals")
    spark.createDataFrame(
        [("bagA", "camera"), ("bagA", "lidar"),
         ("bagB", "camera"), ("bagB", "lidar")], schema) \
        .coalesce(1).write.parquet(path)

    released = []
    gate = CompletenessGate({"camera", "lidar"}, min_bags=2,
                            on_release=lambda eid, bags: released.append(bags))
    q = (file_stream(spark, path, schema).writeStream
         .foreachBatch(gate.foreach_batch())
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    q.stop()
    assert released == [["bagA", "bagB"]]


@pytest.mark.parametrize("provider", ["hdfs", "rocksdb"])
def test_stateful_streaming_under_both_state_stores(spark, tmp_path, provider):
    """The same watermark-dedup + windowed-agg pipeline produces
    identical results under the default HDFS-backed store and RocksDB
    (the large-state provider a 100 TB ingest dedup horizon needs —
    state spills to disk instead of executor heap)."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark import set_state_store

    path = str(tmp_path / f"in_{provider}")
    _write_events(spark, path, [
        (1, 1, 10 * US, 1.0), (1, 1, 10 * US, 1.0),    # dup within watermark
        (3, 1, 20 * US, 4.0), (4, 1, 70 * US, 8.0),
    ])
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass",
                          None)
    set_state_store(spark, provider)
    try:
        assert provider[:4] in spark.conf.get(
            "spark.sql.streaming.stateStore.providerClass").lower()
        deduped = _run_available_now(
            dedup_stream(file_stream(spark, path, EVENT_SCHEMA),
                         ["event_id"], "t", watermark="1 hour"))
        assert sorted(r.event_id for r in deduped) == [1, 3, 4]
        agg = _run_available_now(
            windowed_agg(file_stream(spark, path, EVENT_SCHEMA),
                         ["user_id"], "t",
                         {"n": F.count(F.lit(1)), "total": F.sum("value")},
                         window="1 minute", watermark="0 seconds"))
        # watermark reaches 70s; [0,60) closes: 3 rows (dup NOT dropped
        # here — dedup and agg are separate queries), total 6.0
        assert sorted((r.window_start, r.n, r.total) for r in agg) == \
            [(0, 3, 6.0)]
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev)


DOC_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
])

_DOC_BASE = ("the quick brown fox jumps over the lazy dog while the cat "
             "watches from the warm window sill in the morning sun")


def _doc_batches():
    """Three batches with dup structure WITHIN batches and ACROSS them:
    0≡1 (same batch), 0≈4 (batch 0 vs 1), 4≈8 (batch 1 vs 2), and
    unrelated filler everywhere."""
    near = _DOC_BASE.replace("morning", "evening")
    other = ("completely different text about spark query engines and "
             "shuffle partitions at terabyte scale with adaptive plans")
    return [
        [(0, _DOC_BASE), (1, _DOC_BASE), (2, other), (3, other + " x")],
        [(4, near), (5, "short unrelated text about nothing in common"),
         (6, other.replace("spark", "flink"))],
        [(8, near.replace("cat", "bird")), (9, _DOC_BASE + " extended"),
         (10, "yet another filler row with unique words entirely")],
    ]


def test_incremental_dedup_stream_matches_full_mining(spark, tmp_path):
    """The streaming ingest loop (per-micro-batch intra pairs + index
    probe + index append) finds EXACTLY the pair set full re-mining
    finds over everything ingested — the batch-equivalence contract of
    the incremental dedup design, now proven through the real
    Structured Streaming path (maxFilesPerTrigger=1 so each parquet
    file is its own micro-batch)."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark import minhash_lsh_pairs
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.streaming import (
        incremental_dedup_stream,
    )
    src = str(tmp_path / "docs")
    for batch in _doc_batches():
        spark.createDataFrame(batch, DOC_SCHEMA).coalesce(1) \
            .write.mode("append").parquet(src)
    q = incremental_dedup_stream(
        file_stream(spark, src, DOC_SCHEMA, max_files_per_trigger=1),
        "text", "doc_id",
        index_path=str(tmp_path / "index"),
        pairs_path=str(tmp_path / "pairs"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        threshold=0.5)
    q.awaitTermination(180)

    got = {(min(r.new_id, r.corpus_id), max(r.new_id, r.corpus_id),
            round(r.jaccard, 6))
           for r in spark.read.parquet(str(tmp_path / "pairs")).collect()}
    all_docs = spark.createDataFrame(
        [r for b in _doc_batches() for r in b], DOC_SCHEMA)
    want = {(r.id_a, r.id_b, round(r.jaccard, 6))
            for r in minhash_lsh_pairs(all_docs, "text", "doc_id",
                                       threshold=0.5).collect()}
    assert got == want and len(want) >= 3
    # the index now covers every ingested doc (ids 0-6 and 8-10)
    idx = spark.read.parquet(str(tmp_path / "index"))
    assert idx.select("doc_id").distinct().count() == 10
    spark.catalog.clearCache()


def test_incremental_dedup_batch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch replays a batch after failure: re-running the same
    batch_id must overwrite its own output partition, not append
    duplicates (dynamic partition overwrite keyed by _batch_id)."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.streaming import (
        incremental_dedup_batch,
    )
    b0, b1 = _doc_batches()[0], _doc_batches()[1]
    kw = dict(index_path=str(tmp_path / "index"),
              pairs_path=str(tmp_path / "pairs"), threshold=0.5)
    incremental_dedup_batch(spark.createDataFrame(b0, DOC_SCHEMA), 0,
                            "text", "doc_id", **kw)
    incremental_dedup_batch(spark.createDataFrame(b1, DOC_SCHEMA), 1,
                            "text", "doc_id", **kw)
    pairs_once = sorted((r.new_id, r.corpus_id) for r in
                        spark.read.parquet(kw["pairs_path"]).collect())
    idx_once = spark.read.parquet(kw["index_path"]).count()
    # replay batch 1 (as after a post-write pre-commit crash)
    incremental_dedup_batch(spark.createDataFrame(b1, DOC_SCHEMA), 1,
                            "text", "doc_id", **kw)
    pairs_again = sorted((r.new_id, r.corpus_id) for r in
                         spark.read.parquet(kw["pairs_path"]).collect())
    assert pairs_again == pairs_once
    assert spark.read.parquet(kw["index_path"]).count() == idx_once
    spark.catalog.clearCache()


def test_continuous_cascade_stream_matches_batch_rebuild(spark, tmp_path):
    """Streaming continuous aggregates: after draining N micro-batches,
    the latest tiers version equals downsample_cascade over ALL raw
    rows — including a late batch landing in earlier buckets. Then a
    replayed batch id rewrites its snapshot instead of double-counting."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark import downsample_cascade
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.streaming import (
        continuous_cascade_batch, continuous_cascade_stream,
    )
    res = [10.0, 60.0]
    src = str(tmp_path / "ev")
    batches = [
        [(1, 1, 5 * US, 2.0), (2, 1, 15 * US, 4.0), (3, 2, 70 * US, 6.0)],
        [(4, 1, 65 * US, 8.0), (5, 2, 75 * US, 1.0)],
        [(6, 1, 7 * US, 3.0)],                    # late: bucket [0, 10)
    ]
    for b in batches:
        _write_events(spark, src, b)
    ev = file_stream(spark, src, EVENT_SCHEMA, max_files_per_trigger=1) \
        .withColumn("ts", F.col("t") / F.lit(US))
    q = continuous_cascade_stream(
        ev, ["user_id"], "ts", "value", res,
        tiers_path=str(tmp_path / "tiers"),
        checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(180)

    tiers = spark.read.parquet(str(tmp_path / "tiers"))
    latest = tiers.agg(F.max("_version")).first()[0]
    got = {(r.user_id, r.resolution, r.bucket): (r.n, r.sum, r.min, r.max)
           for r in tiers.where(F.col("_version") == latest).collect()}
    all_ev = spark.createDataFrame([r for b in batches for r in b],
                                   EVENT_SCHEMA) \
        .withColumn("ts", F.col("t") / F.lit(US))
    want = {(r.user_id, r.resolution, r.bucket): (r.n, r.sum, r.min, r.max)
            for r in downsample_cascade(all_ev, ["user_id"], "ts",
                                        "value", res).collect()}
    assert got == want
    # replay the LAST batch id with the same data: snapshot rewritten,
    # totals unchanged (no double count)
    continuous_cascade_batch(
        spark.createDataFrame(batches[-1], EVENT_SCHEMA)
        .withColumn("ts", F.col("t") / F.lit(US)),
        latest, ["user_id"], "ts", "value", res,
        tiers_path=str(tmp_path / "tiers"))
    again = {(r.user_id, r.resolution, r.bucket): (r.n, r.sum, r.min, r.max)
             for r in spark.read.parquet(str(tmp_path / "tiers"))
             .where(F.col("_version") == latest).collect()}
    assert again == want
    spark.catalog.clearCache()


def test_embedding_dedup_stream_matches_full_mining(spark, tmp_path):
    """The cosine-space streaming ingest loop finds exactly the pair
    set embedding_dup_pairs mines over everything ingested — clones
    within a batch and across batches both caught, via the real
    streaming path with one micro-batch per file."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark import embedding_dup_pairs
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.streaming import (
        embedding_dedup_stream,
    )
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
    ])
    import random
    rng = random.Random(3)

    def vec(seed=None):
        r = random.Random(seed) if seed is not None else rng
        return [r.uniform(-1, 1) for _ in range(64)]

    batches = [
        [(0, vec(100)), (1, vec(100)), (2, vec())],     # 0≡1 intra
        [(3, vec(100)), (4, vec())],                    # 3≡0,1 cross
        [(5, vec(200)), (6, vec(200)), (7, vec(100))],  # 5≡6 intra, 7 cross
    ]
    src = str(tmp_path / "vecs")
    for b in batches:
        spark.createDataFrame(b, schema).coalesce(1) \
            .write.mode("append").parquet(src)
    q = embedding_dedup_stream(
        file_stream(spark, src, schema, max_files_per_trigger=1),
        "vec_id", "embedding",
        index_path=str(tmp_path / "idx"),
        corpus_path=str(tmp_path / "corpus"),
        pairs_path=str(tmp_path / "pairs"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        threshold=0.99)
    q.awaitTermination(180)

    got = {(min(r.new_id, r.corpus_id), max(r.new_id, r.corpus_id))
           for r in spark.read.parquet(str(tmp_path / "pairs")).collect()}
    all_vecs = spark.createDataFrame([r for b in batches for r in b],
                                     schema)
    want = {(r.id_a, r.id_b)
            for r in embedding_dup_pairs(all_vecs, "vec_id", "embedding",
                                         threshold=0.99).collect()}
    assert got == want
    assert {(0, 1), (0, 3), (1, 3), (5, 6), (0, 7)} <= got
    spark.catalog.clearCache()


def test_upsert_stream_maintains_keyed_table(spark, tmp_path):
    """CDC apply through real Structured Streaming: three change
    batches (inserts, updates, intra-batch duplicate keys) converge to
    the keyed latest-wins table, and replaying a stale batch after a
    newer one is a no-op (version semantics, not bookkeeping)."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.streaming import (
        upsert_batch, upsert_stream,
    )

    schema = "id long, day string, val string, ver long"
    batches = [
        [(1, "d1", "a0", 1), (2, "d1", "b0", 1), (3, "d2", "c0", 1)],
        # update 1, insert 4; intra-batch dup for id=4 (ver 3 wins)
        [(1, "d1", "a1", 2), (4, "d2", "x0", 2), (4, "d2", "x1", 3)],
        [(2, "d1", "b1", 4)],
    ]
    src = str(tmp_path / "changes")
    for b in batches:
        spark.createDataFrame(b, schema).coalesce(1) \
            .write.mode("append").parquet(src)
    path = str(tmp_path / "table")
    q = upsert_stream(
        file_stream(spark, src, schema, max_files_per_trigger=1),
        ["id"], path=path, partition_cols=["day"], order_col="ver",
        checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(180)

    expect = {(1, "d1", "a1", 2), (2, "d1", "b1", 4),
              (3, "d2", "c0", 1), (4, "d2", "x1", 3)}
    got = {(r.id, r.day, r.val, r.ver)
           for r in spark.read.parquet(path).collect()}
    assert got == expect

    # stale replay AFTER newer data applied: batch 2's rows all lose
    stale = spark.createDataFrame(batches[1], schema)
    upsert_batch(stale, ["id"], path=path, partition_cols=["day"],
                 order_col="ver")
    got = {(r.id, r.day, r.val, r.ver)
           for r in spark.read.parquet(path).collect()}
    assert got == expect


def test_quarantine_stream_routes_rows(spark, tmp_path):
    """Validated ingest through real micro-batches: clean rows reach
    the good sink, violating rows reach quarantine tagged with every
    rule they broke; non-row-level rules are rejected."""
    import pytest

    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.streaming import (
        quarantine_batch, quarantine_stream,
    )

    schema = "id long, v double, email string"
    batches = [
        [(1, 10.0, "a@b.com"), (2, -5.0, "c@d.org")],        # 2: range
        [(3, 20.0, "nope"), (4, 200.0, None), (5, 7.0, "e@f.io")],
    ]
    src = str(tmp_path / "in")
    for b in batches:
        spark.createDataFrame(b, schema).coalesce(1) \
            .write.mode("append").parquet(src)
    rules = [
        {"type": "range", "col": "v", "min": 0.0, "max": 100.0},
        {"type": "matches", "col": "email", "pattern": "^[^@]+@[^@]+$"},
        {"type": "not_null", "col": "email"},
    ]
    q = quarantine_stream(
        file_stream(spark, src, schema, max_files_per_trigger=1),
        rules, good_path=str(tmp_path / "good"),
        quarantine_path=str(tmp_path / "quar"),
        checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(180)

    good = {r.id for r in
            spark.read.parquet(str(tmp_path / "good")).collect()}
    quar = {r.id: sorted(r._violations) for r in
            spark.read.parquet(str(tmp_path / "quar")).collect()}
    assert good == {1, 5}
    assert quar[2] == ["range:v"]
    assert quar[3] == ["matches:email"]
    assert quar[4] == ["not_null:email", "range:v"]

    with pytest.raises(ValueError):
        batch = spark.createDataFrame(batches[0], schema)
        quarantine_batch(batch, 0, [{"type": "unique", "cols": ["id"]}],
                         good_path=str(tmp_path / "g2"),
                         quarantine_path=str(tmp_path / "q2"))


def test_batch_helpers_restore_overwrite_mode(spark, tmp_path):
    """Every foreachBatch helper scopes partitionOverwriteMode=dynamic
    to its own writes (save/restore) — a leaked setting would silently
    change the semantics of later unrelated overwrite writes on the
    shared session."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.streaming import (
        incremental_dedup_batch, quarantine_batch,
    )

    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, "static")
    spark.conf.set(key, "static")
    try:
        batch = spark.createDataFrame([(1, 10.0)], "id long, v double")
        quarantine_batch(batch, 0,
                         [{"type": "not_null", "col": "v"}],
                         good_path=str(tmp_path / "good"),
                         quarantine_path=str(tmp_path / "quar"))
        assert spark.conf.get(key) == "static"
        docs = spark.createDataFrame([(1, "some text here")],
                                     "doc_id long, body string")
        incremental_dedup_batch(docs, 0, "body", "doc_id",
                                index_path=str(tmp_path / "idx"),
                                pairs_path=str(tmp_path / "pairs"))
        assert spark.conf.get(key) == "static"
    finally:
        spark.conf.set(key, prev)


def test_delete_stream_propagates_erasure(spark, tmp_path):
    """A stream of deletion keys erases rows batch by batch; replaying
    the same keys is a no-op (deletion is idempotent by nature)."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import (
        delete_keys,
    )
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.streaming import (
        delete_stream,
    )

    path = str(tmp_path / "tbl")
    spark.createDataFrame(
        [(i, f"d{i % 3}", f"v{i}") for i in range(30)],
        "id long, day string, val string") \
        .write.partitionBy("day").parquet(path)

    src = str(tmp_path / "dels")
    for batch in ([(0,), (3,)], [(6,), (9,), (12,)]):
        spark.createDataFrame(batch, "id long").coalesce(1) \
            .write.mode("append").parquet(src)
    q = delete_stream(
        file_stream(spark, src, "id long", max_files_per_trigger=1),
        ["id"], path=path, partition_cols=["day"],
        checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(180)

    left = {r.id for r in spark.read.parquet(path).collect()}
    assert left == set(range(30)) - {0, 3, 6, 9, 12}
    # replay the same keys directly: no-op
    delete_keys(spark, path,
                spark.createDataFrame([(0,), (6,)], "id long"),
                ["id"], partition_cols=["day"])
    assert {r.id for r in spark.read.parquet(path).collect()} == left


def test_delete_stream_survives_emptied_and_missing_target(spark, tmp_path):
    """A batch that empties the table (or a replay against a missing
    target) must be a no-op, not a crash — a foreachBatch crash wedges
    the stream in a permanent replay loop."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.streaming import (
        delete_stream,
    )

    path = str(tmp_path / "tbl")
    spark.createDataFrame([(1, "d1"), (2, "d1")], "id long, day string") \
        .write.partitionBy("day").parquet(path)
    src = str(tmp_path / "dels")
    # batch 1 empties the table; batch 2 runs against the empty table
    spark.createDataFrame([(1,), (2,)], "id long").coalesce(1) \
        .write.mode("append").parquet(src)
    spark.createDataFrame([(3,)], "id long").coalesce(1) \
        .write.mode("append").parquet(src)
    q = delete_stream(
        file_stream(spark, src, "id long", max_files_per_trigger=1),
        ["id"], path=path, partition_cols=["day"],
        checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(180)
    assert q.exception() is None
    # stream against a never-created target: also a clean no-op
    q2 = delete_stream(
        file_stream(spark, src, "id long", max_files_per_trigger=1),
        ["id"], path=str(tmp_path / "nope"), partition_cols=["day"],
        checkpoint_dir=str(tmp_path / "ckpt2"))
    q2.awaitTermination(180)
    assert q2.exception() is None


def test_snapshot_upsert_stream_atomic_cdc_apply(spark, tmp_path):
    """The crash-safe CDC apply: micro-batches publish snapshot
    versions; the final table matches the keyed merge of all changes,
    and every intermediate version remains readable."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import (
        latest_version, read_snapshot,
    )
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.streaming import (
        snapshot_upsert_stream,
    )

    schema = "id long, day string, val string, ver long"
    batches = [
        [(1, "d1", "a", 1), (2, "d2", "b", 1)],
        [(1, "d1", "a2", 2), (3, "d1", "c", 2)],
        [(2, "d2", "b3", 3), (1, "d1", "stale", 0)],
    ]
    src = str(tmp_path / "in")
    for b in batches:
        spark.createDataFrame(b, schema).coalesce(1) \
            .write.mode("append").parquet(src)
    path = str(tmp_path / "tbl")
    q = snapshot_upsert_stream(
        file_stream(spark, src, schema, max_files_per_trigger=1),
        ["id"], path=path, partition_cols=["day"], order_col="ver",
        checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(180)

    got = {(r.id, r.val) for r in read_snapshot(spark, path).collect()}
    assert got == {(1, "a2"), (2, "b3"), (3, "c")}
    assert latest_version(spark, path) >= 1


def test_ivf_append_stream_maintains_index(spark, tmp_path):
    """Streaming IVF maintenance: batches append through real
    micro-batches; the accumulated index equals a full rebuild and the
    advisory callback sees every batch."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark import (
        ivf_index, kmeans_pivots,
    )
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.streaming import (
        ivf_append_stream, read_ivf_index,
    )
    from tests.conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    piv = kmeans_pivots(emb, "vec_id", "embedding", nlist=4, iters=3)
    src = str(tmp_path / "in")
    for k in range(3):
        emb.where(f"vec_id % 3 = {k}") \
           .select("vec_id", F.col("embedding").cast("array<double>")
                   .alias("embedding")) \
           .coalesce(1).write.mode("append").parquet(src)
    idx_path = str(tmp_path / "ivf")
    advisories = []
    q = ivf_append_stream(
        file_stream(spark, src, "vec_id long, embedding array<double>",
                    max_files_per_trigger=1),
        "vec_id", "embedding", pivots=piv, index_path=idx_path,
        checkpoint_dir=str(tmp_path / "ckpt"),
        on_advisory=lambda b, s: advisories.append((b, s)))
    q.awaitTermination(180)

    assert len(advisories) == 3
    assert advisories[-1][1]["total"] == emb.count()
    got = sorted((r.vec_id, r.cell) for r in
                 read_ivf_index(spark, idx_path)
                 .select("vec_id", "cell").collect())
    want = sorted((r.vec_id, r.cell) for r in
                  ivf_index(emb.select("vec_id",
                                       F.col("embedding")
                                       .cast("array<double>")
                                       .alias("embedding")),
                            "vec_id", "embedding", piv)
                  .select("vec_id", "cell").collect())
    assert got == want


def test_snapshot_enrich_stream_uses_latest_published_version(
        spark, tmp_path):
    """Each micro-batch enriches against ONE consistent published
    dimension version; a dimension commit between runs takes effect at
    the next batch — never a torn half-old/half-new read."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import (
        snapshot_upsert, snapshot_write,
    )
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.streaming import (
        snapshot_enrich_stream,
    )

    dim_path = str(tmp_path / "dim")
    snapshot_write(
        spark, dim_path,
        spark.createDataFrame([(1, "d", "bronze"), (2, "d", "silver")],
                              "user_id long, part string, tier string"),
        partition_cols=["part"])

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = "event_id long, user_id long"

    def run(rows):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(src)
        q = snapshot_enrich_stream(
            file_stream(spark, src, schema, max_files_per_trigger=1),
            snapshot_path=dim_path, on=["user_id"], out_path=out,
            checkpoint_dir=ckpt)
        q.awaitTermination(180)

    run([(100, 1), (101, 2)])
    # dimension evolves BETWEEN runs; earlier enriched rows keep the
    # version they saw, new batches see the new version
    snapshot_upsert(spark, dim_path,
                    spark.createDataFrame([(1, "d", "gold")],
                                          "user_id long, part string,"
                                          " tier string"),
                    ["user_id"], partition_cols=["part"])
    run([(102, 1)])

    got = {r.event_id: r.tier for r in spark.read.parquet(out).collect()}
    assert got == {100: "bronze", 101: "silver", 102: "gold"}


def test_anomalies_stateful_matches_batch_across_microbatches(spark, tmp_path):
    """Streaming trailing-baseline anomaly scores equal the batch
    detect_anomalies(n=) output when the feed is in order — including
    a spike, a null, and the warm-up — with state carried across THREE
    real micro-batches (maxFilesPerTrigger=1)."""
    import random

    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark import detect_anomalies
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.streaming import anomalies_stateful

    rng = random.Random(5)
    vals = [rng.gauss(20.0, 3.0) for _ in range(30)]
    vals[17] = 200.0
    vals[8] = None
    rows = [(i, 1 + (i % 2), (i + 1) * US, vals[i]) for i in range(30)]
    path = str(tmp_path / "in")
    for lo, hi in ((0, 10), (10, 20), (20, 30)):     # one file per batch
        _write_events(spark, path, rows[lo:hi])
    stream = file_stream(spark, path, EVENT_SCHEMA,
                         max_files_per_trigger=1)
    got = _run_available_now(anomalies_stateful(
        stream.select("user_id", "t", "value"), ["user_id"], "t",
        "value", n=6, threshold=3.0))
    batch = detect_anomalies(
        spark.createDataFrame(rows, EVENT_SCHEMA)
        .select("user_id", "t", "value"),
        ["user_id"], "t", "value", n=6, threshold=3.0).collect()

    def norm(rs):
        return sorted(
            (r.user_id, r.t,
             None if r.zscore is None else round(r.zscore, 9),
             bool(r.is_anomaly)) for r in rs)
    assert norm(got) == norm(batch)
    assert any(r.is_anomaly for r in got)            # the spike fired
    assert sum(r.zscore is None for r in got) > 4    # warm-up + null


def test_bm25_index_stream_matches_direct_and_replay_idempotent(spark, tmp_path):
    """Three micro-batches of documents build the same index a direct
    one-shot scoring sees (probe == bm25_topk on the full corpus), and
    replaying a batch (same _batch_id) changes nothing."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark import bm25_probe, bm25_topk
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.streaming import (
        bm25_index_batch, bm25_index_stream, file_stream, read_bm25_index,
    )

    from tests.conftest import SF_DIR

    docs = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .select("doc_id", "text").limit(120).cache())
    src = str(tmp_path / "docs_in")
    for m in range(3):                              # one file per batch
        docs.where(F.col("doc_id") % 3 == m).coalesce(1) \
            .write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    idx = str(tmp_path / "bm25")
    q = bm25_index_stream(
        file_stream(spark, src, schema, max_files_per_trigger=1),
        "doc_id", "text", index_path=idx,
        checkpoint_dir=str(tmp_path / "ckpt"), buckets=16)
    q.awaitTermination(120)
    q.stop()

    query = ["spark", "window", "merge"]
    got = bm25_probe(*read_bm25_index(spark, idx), query, k=10,
                     buckets=16).collect()
    want = bm25_topk(docs, "doc_id", "text", query, k=10).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))

    # replay: re-apply one batch's docs under an already-used batch id
    bm25_index_batch(docs.where(F.col("doc_id") % 3 == 1), 1,
                     "doc_id", "text", index_path=idx, buckets=16)
    again = bm25_probe(*read_bm25_index(spark, idx), query, k=10,
                       buckets=16).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, got))
    docs.unpersist()


def test_snapshot_append_batch_exactly_once_replay(spark, tmp_path):
    """The replay marker rides the manifest commit: re-applying a
    batch id is a version-preserving no-op, markers survive
    interleaved maintenance commits, and distinct sources keep
    independent counters."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import (
        latest_version, read_snapshot, snapshot_upsert,
    )
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.streaming import (
        snapshot_append_batch,
    )
    schema = "id long, day string, val string"
    path = str(tmp_path / "tbl")
    b0 = spark.createDataFrame([(1, "d1", "a"), (2, "d2", "b")], schema)
    v = snapshot_append_batch(b0, 0, path=path, partition_cols=["day"])
    assert v == 0
    # crash-replay of batch 0: no new version, no duplicate rows
    assert snapshot_append_batch(b0, 0, path=path,
                                 partition_cols=["day"]) == 0
    assert read_snapshot(spark, path).count() == 2

    b1 = spark.createDataFrame([(3, "d1", "c")], schema)
    assert snapshot_append_batch(b1, 1, path=path) == 1
    # an interleaved upsert must CARRY the replay markers
    snapshot_upsert(spark, path,
                    spark.createDataFrame([(1, "d1", "a2")], schema),
                    ["id"], partition_cols=["day"])
    v_now = latest_version(spark, path)
    assert snapshot_append_batch(b1, 1, path=path) == v_now, \
        "replayed batch after maintenance must still be skipped"
    assert read_snapshot(spark, path).count() == 3
    # a different source has its own counter
    b_other = spark.createDataFrame([(9, "d2", "z")], schema)
    assert snapshot_append_batch(b_other, 0, path=path,
                                 source="other") == v_now + 1
    assert {r.id for r in read_snapshot(spark, path).collect()} \
        == {1, 2, 3, 9}


def test_snapshot_append_stream_exactly_once(spark, tmp_path):
    """End-to-end streaming ingest into a snapshot table: one commit
    per micro-batch, the final table is the union of all batches, a
    restart with the same checkpoint and no new input publishes
    nothing, and late input appends only itself."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import (
        latest_version, read_snapshot,
    )
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.streaming import (
        snapshot_append_stream,
    )
    schema = "id long, day string, val double"
    src = str(tmp_path / "in")
    for k in range(3):
        spark.createDataFrame([(k * 10 + i, f"d{i % 2}", float(k))
                               for i in range(4)], schema) \
            .coalesce(1).write.mode("append").parquet(src)
    path = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    q = snapshot_append_stream(
        file_stream(spark, src, schema, max_files_per_trigger=1),
        path=path, partition_cols=["day"], checkpoint_dir=ckpt)
    q.awaitTermination(180)
    assert read_snapshot(spark, path).count() == 12
    v_after = latest_version(spark, path)
    assert v_after == 2, "one commit per micro-batch"

    # restart on the same checkpoint with nothing new: no commit
    q2 = snapshot_append_stream(
        file_stream(spark, src, schema, max_files_per_trigger=1),
        path=path, partition_cols=["day"], checkpoint_dir=ckpt)
    q2.awaitTermination(180)
    assert latest_version(spark, path) == v_after

    # one late file: exactly one more commit, only its rows added
    spark.createDataFrame([(100, "d0", 9.0)], schema) \
        .coalesce(1).write.mode("append").parquet(src)
    q3 = snapshot_append_stream(
        file_stream(spark, src, schema, max_files_per_trigger=1),
        path=path, partition_cols=["day"], checkpoint_dir=ckpt)
    q3.awaitTermination(180)
    assert latest_version(spark, path) == v_after + 1
    assert read_snapshot(spark, path).count() == 13


def test_snapshot_append_stream_builds_prunable_zone_maps(spark,
                                                          tmp_path):
    """A streaming-built snapshot table is a first-class zone-mapped
    table (r8): stats_cols on the FIRST stream establish the contract,
    later streams inherit it with stats_cols=None, scans prune files
    the per-batch stats disprove, and scan_pruning_stats surfaces
    files read/pruned as a metric (the storage layer's 'no silent
    caps' observability)."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import (
        read_snapshot, scan_pruning_stats, snapshot_scan,
    )
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import snapshots as snapmod
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.streaming import (
        snapshot_append_stream,
    )
    schema = "id long, day string, v double"
    src = str(tmp_path / "in")
    # three disjoint id slabs, one per micro-batch file
    for k in range(3):
        spark.createDataFrame(
            [(k * 100 + i, "d0", float(k * 100 + i)) for i in range(20)],
            schema).coalesce(1).write.mode("append").parquet(src)
    path = str(tmp_path / "tbl")
    q = snapshot_append_stream(
        file_stream(spark, src, schema, max_files_per_trigger=1),
        path=path, partition_cols=["day"],
        checkpoint_dir=str(tmp_path / "ckpt"), stats_cols=["v"])
    q.awaitTermination(180)

    m = snapmod._manifest(path, snapmod.latest_version(spark, path))
    assert m["stats_cols"] == ["v"]
    entries = snapmod._entries(path, m)
    assert all("v" in (e.get("stats") or {}) for e in entries)

    st = scan_pruning_stats(spark, path, [("v", ">=", 200.0)])
    assert st["files_total"] == len(entries)
    assert st["files_pruned"] >= 1, \
        "a streaming-built table must prune like a batch-built one"
    got = snapshot_scan(spark, path, [("v", ">=", 200.0)])
    assert len(got.inputFiles()) == st["files_read"]
    rows = lambda d: {tuple(r) for r in d.collect()}  # noqa: E731
    assert rows(got.select("id")) == rows(
        read_snapshot(spark, path).where("v >= 200").select("id"))

    # a second stream with stats_cols=None inherits the contract
    src2 = str(tmp_path / "in2")
    spark.createDataFrame([(900 + i, "d0", float(900 + i))
                           for i in range(5)], schema) \
        .coalesce(1).write.mode("append").parquet(src2)
    q2 = snapshot_append_stream(
        file_stream(spark, src2, schema, max_files_per_trigger=1),
        path=path, partition_cols=["day"],
        checkpoint_dir=str(tmp_path / "ckpt2"), source="s2")
    q2.awaitTermination(180)
    m2 = snapmod._manifest(path, snapmod.latest_version(spark, path))
    assert m2["stats_cols"] == ["v"]
    st2 = scan_pruning_stats(spark, path, [("v", ">=", 900.0)])
    assert st2["files_read"] == 1
