"""Property-based tests (SURVEY §5 rebuild strategy): invariants of
forward fill, sessionization, as-of joins, and dedup on random inputs.

Hypothesis drives small random event sets through the operators; the
properties hold for ANY input, which catches edge cases (empty groups,
single rows, duplicate timestamps) that example tests miss.
"""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark import (
    asof_join, forward_fill, minhash_lsh_pairs, ngram_jaccard_pairs,
    sessionize,
)

SETTINGS = settings(max_examples=12, deadline=None,
                    suppress_health_check=list(HealthCheck))

events_strategy = st.lists(
    st.tuples(st.integers(0, 2),                       # key
              st.integers(0, 50),                      # t
              st.one_of(st.none(), st.floats(0, 100,   # value
                                             allow_nan=False))),
    min_size=0, max_size=30)


@pytest.fixture(scope="module")
def mk_df(spark):
    def make(rows):
        return spark.createDataFrame(rows, "k int, t int, v double") \
            if rows else spark.createDataFrame([], "k int, t int, v double")
    return make


@SETTINGS
@given(rows=events_strategy)
def test_forward_fill_invariants(mk_df, rows):
    df = mk_df(rows)
    filled = forward_fill(df, ["k"], "t", ["v"]).collect()
    # idempotence: filling an already-filled frame changes nothing
    refilled = forward_fill(
        mk_df([(r.k, r.t, r.v) for r in filled]), ["k"], "t", ["v"]).collect()
    key = lambda row: (row[0], row[1], row[2] is not None, row[2] or 0.0)  # noqa: E731
    assert sorted(((r.k, r.t, r.v) for r in refilled), key=key) == \
        sorted(((r.k, r.t, r.v) for r in filled), key=key)
    # no nulls after each key's first non-null observation (ties on t
    # make the boundary tick ambiguous, so compare strictly after it)
    by_key = {}
    for k, t, v in rows:
        if v is not None:
            by_key.setdefault(k, []).append(t)
    for r in filled:
        firsts = by_key.get(r.k)
        if firsts and r.t > min(firsts):
            assert r.v is not None


@SETTINGS
@given(rows=events_strategy)
def test_sessionize_invariants(mk_df, rows):
    df = mk_df(rows).where(F.col("t").isNotNull())
    gap = 5
    out = sessionize(df, ["k"], "t", gap).collect()
    n_rows = df.count()
    # every event lands in exactly one session
    assert sum(r.n_events for r in out) == n_rows
    by_key = {}
    for r in out:
        assert r.start_time <= r.end_time
        by_key.setdefault(r.k, []).append(r)
    for sess in by_key.values():
        sess.sort(key=lambda r: r.start_time)
        for a, b in zip(sess, sess[1:]):
            # non-overlapping and separated by more than the gap
            assert b.start_time - a.end_time > gap


@SETTINGS
@given(rows=events_strategy, probes=st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 50)), max_size=15))
def test_asof_join_matches_python_oracle(spark, mk_df, rows, probes):
    right = mk_df([r for r in rows if r[2] is not None])
    left = (spark.createDataFrame(probes, "k int, t int")
            if probes else spark.createDataFrame([], "k int, t int"))
    out_rows = asof_join(left, right, "t", ["k"], value_cols=["v"]).collect()
    got = {(r.k, r.t): r.v for r in out_rows}
    # python oracle: latest right value at or before each probe time;
    # ties on t take the largest value (matching the window's
    # last-over-ties-sorted-input only when unique, so dedup times first)
    rr = {}
    for k, t, v in rows:
        if v is not None:
            rr.setdefault(k, {})[t] = v  # last write wins per (k, t)
    assert len(out_rows) == len(probes)  # left rows preserved 1:1
    for k, t in probes:
        cands = [(rt, rv) for rt, rv in rr.get(k, {}).items() if rt <= t]
        expect = max(cands)[1] if cands else None
        assert got[(k, t)] == expect


@SETTINGS
@given(rows=events_strategy, probes=st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 50)), max_size=15))
def test_asof_join_null_values_come_from_matched_row(spark, mk_df, rows,
                                                     probes):
    """Right rows KEEP their NULL values: the join must emit the matched
    (latest at-or-before) row's value even when it is NULL — never
    backfill from an older non-null row (the r3 column-mixing defect).
    Right (k, t) keys are deduped so the matched row is unambiguous."""
    uniq = {}
    for k, t, v in rows:
        uniq[(k, t)] = v  # last write wins; v may be None
    right = mk_df([(k, t, v) for (k, t), v in uniq.items()])
    left = (spark.createDataFrame(probes, "k int, t int")
            if probes else spark.createDataFrame([], "k int, t int"))
    got = {(r.k, r.t): r.v
           for r in asof_join(left, right, "t", ["k"],
                              value_cols=["v"]).collect()}
    for k, t in probes:
        cands = [(rt, rv) for (rk, rt), rv in uniq.items()
                 if rk == k and rt <= t]
        expect = max(cands)[1] if cands else None
        assert got[(k, t)] == expect


@SETTINGS
@given(rows=events_strategy, probes=st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 50)), max_size=15))
def test_asof_nearest_matches_python_oracle(spark, mk_df, rows, probes):
    """nearest = whichever right row is closer in time (ties prefer
    backward), value taken from THAT row even when NULL."""
    uniq = {}
    for k, t, v in rows:
        uniq[(k, t)] = v
    right = mk_df([(k, t, v) for (k, t), v in uniq.items()])
    left = (spark.createDataFrame(probes, "k int, t int")
            if probes else spark.createDataFrame([], "k int, t int"))
    got = {(r.k, r.t): r.v
           for r in asof_join(left, right, "t", ["k"], value_cols=["v"],
                              direction="nearest").collect()}
    for k, t in probes:
        cands = [(rt, rv) for (rk, rt), rv in uniq.items() if rk == k]
        back = [(rt, rv) for rt, rv in cands if rt <= t]
        fwd = [(rt, rv) for rt, rv in cands if rt >= t]
        b = max(back) if back else None
        f = min(fwd) if fwd else None
        if b is not None and (f is None or t - b[0] <= f[0] - t):
            expect = b[1]
        elif f is not None:
            expect = f[1]
        else:
            expect = None
        assert got[(k, t)] == expect


# ---------- object-in-lane geometry ----------
# Coordinates sit mostly on a coarse grid, so distance ties, bracketing
# corners and the exact 1000.0 cutoff (a 600/800/1000 triangle) come up
# often; None and NaN ride along. A lane is None (null struct),
# "null_points" (null image_points) or a point list.
_coord = st.one_of(
    st.sampled_from([0.0, 2.0, 4.0, 6.0, -3.0, 3.0, 600.0, 800.0,
                     1000.0, -1000.0, 999.9999]),
    st.floats(-20, 20, allow_nan=False),
    st.sampled_from([None, math.nan]))
_det = st.one_of(st.none(), st.tuples(
    _coord, _coord, _coord, _coord,
    st.sampled_from(["person", "car", None])))
_point = st.one_of(st.none(), st.tuples(_coord, _coord))
_lane = st.one_of(st.sampled_from([None, "null_points"]),
                  st.lists(_point, max_size=4))
scene_rows = st.lists(
    st.tuples(st.integers(0, 2),
              st.one_of(st.none(), st.lists(_det, max_size=4)),
              st.one_of(st.none(), st.lists(_lane, max_size=4))),
    max_size=6)

_BOX = (2.0, 2.0, 4.0, 4.0)  # corners (0,0) (4,0) (0,4) (4,4)
SCENE_EDGES = [
    # equal distances from corner (0,0): the first point (-3) wins
    (0, [(*_BOX, "person")], [[(-3.0, 0.0), (3.0, 0.0)], [(10.0, 0.0)]]),
    # d == 1000.0 exactly is out, just inside is in
    (1, [(*_BOX, "car")], [[(-1000.0, 0.0)], [(999.9999, 0.0)]]),
    (1, [(*_BOX, "car")], [[(-999.9999, 0.0)], [(999.9999, 0.0)]]),
    # point-free, null and null-points lanes; a null point struct
    (2, [(*_BOX, "person")], [[], None, "null_points", [None, (5.0, 0.0)],
                              [(-5.0, 0.0)]]),
    # null detection struct, null and NaN fields, null Class
    (0, [None, (None, 2.0, 4.0, 4.0, "person"),
         (math.nan, 2.0, 4.0, 4.0, "car"), (2.0, 2.0, math.nan, 4.0, "car"),
         (*_BOX, None)], [[(-3.0, 0.0)], [(10.0, 0.0)]]),
    # a lane with no point in reach never brackets, even where the
    # other lane's x equals the corner's
    (1, [(*_BOX, "car")], [[], [(0.0, 1.0)]]),
    # both pairs bracket every corner: the first pair wins
    (2, [(*_BOX, "person")], [[(-5.0, 0.0)], [(9.0, 0.0)], [(-5.0, 0.0)]]),
    # empty detections, null detections, null lanes
    (0, [], [[(-3.0, 0.0)], [(10.0, 0.0)]]),
    (1, None, [[(-3.0, 0.0)], [(10.0, 0.0)]]),
    (1, [(*_BOX, "person")], None),
]


def _spark_lane(lane):
    if lane is None or lane == "null_points":
        return None if lane is None else {"image_points": None}
    return {"image_points": [None if p is None else {"x": p[0], "y": p[1]}
                             for p in lane]}


def _oracle_lane(lane):
    return None if lane in (None, "null_points") else lane


def test_scene_oracle_edge_answers():
    """The oracle's own answers on the edge rows, written out."""
    from tests.scene_oracle import oracle_objects_in_lane

    got = [oracle_objects_in_lane(
        dets, None if lanes is None else [_oracle_lane(ln) for ln in lanes])
        for _, dets, lanes in SCENE_EDGES]
    lbl = ["between_0_and_1"]
    # with the second tied point (3) winning, corners at x=0 would miss
    assert got[0] == [(*_BOX, "person", 4, lbl)]
    assert got[1] == []
    assert got[2] == [(*_BOX, "car", 1, lbl)]
    assert got[3] == [(*_BOX, "person", 4, ["between_3_and_4"])]
    assert got[4] == [(*_BOX, None, 4, lbl)]
    assert got[5] == []
    assert got[6] == [(*_BOX, "person", 4, lbl)]
    assert got[7] == [] and got[8] is None and got[9] is None


@SETTINGS
@example(rows=SCENE_EDGES)
@given(rows=scene_rows)
def test_objects_in_lane_forms_match_python_oracle(spark, rows):
    """``objects_in_lane`` and ``objects_in_lane_by_key`` against the
    pure-Python port of detect_scenes.py:13-112, row by row. Rows that
    share a key stay separate."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.pipeline import (
        objects_in_lane, objects_in_lane_by_key,
    )
    from tests.scene_oracle import as_tuples, oracle_objects_in_lane

    df = spark.createDataFrame(
        [(i, k,
          None if dets is None else [
              None if d is None else dict(zip(
                  ("x", "y", "width", "height", "Class"), d))
              for d in dets],
          None if lanes is None else [_spark_lane(ln) for ln in lanes])
         for i, (k, dets, lanes) in enumerate(rows)],
        "id int, k int, dets array<struct<x:double,y:double,width:double,"
        "height:double,Class:string>>, "
        "lanes array<struct<image_points:array<struct<x:double,y:double>>>>")
    out = objects_in_lane_by_key(df, "dets", "lanes", ["k"],
                                 out_col="by_key").select(
        "id", "by_key", objects_in_lane("dets", "lanes").alias("col"))
    got = {r.id: (as_tuples(r.by_key), as_tuples(r.col))
           for r in out.collect()}
    assert len(got) == len(rows)
    for i, (_, dets, lanes) in enumerate(rows):
        expect = oracle_objects_in_lane(
            dets, None if lanes is None else [_oracle_lane(ln) for ln in lanes])
        assert got[i] == (expect, expect), f"row {i}"


TEXTS = st.lists(
    st.text(alphabet="ab cd", min_size=0, max_size=40),
    min_size=0, max_size=12)


# one topic stream: a sample period and (key, sample index, value)
# rows, unique per (key, index) — no duplicate timestamps in a topic
topic_stream = st.tuples(
    st.integers(1, 9),
    st.lists(st.tuples(st.integers(0, 2), st.integers(0, 12),
                       st.integers(-50, 50)),
             max_size=12, unique_by=lambda r: (r[0], r[1])))


@SETTINGS
@given(streams=st.lists(topic_stream, min_size=3, max_size=3),
       step=st.sampled_from([1, 3, 5]), scale=st.sampled_from([1, 0.25]))
def test_synchronize_topics_matches_python_locf_oracle(spark, streams,
                                                        step, scale):
    """Random multi-key, multi-rate topics vs a pure-Python grid LOCF:
    per key, ticks ``floor(min t/step) .. floor(max t/step)`` over all
    topics; each tick carries every topic's latest sample at or before
    ``tick·step`` (NULL before the topic's first sample). ``scale=1``
    runs long times on an integer step, ``0.25`` double times on a
    fractional one (dyadic, so the oracle's float arithmetic is exact).
    """
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.pipeline import (
        synchronize_topics,
    )

    ttype = "long" if scale == 1 else "double"
    step = step * scale
    topics = {}
    for name, (period, rows) in zip(("gps", "imu", "steer"), streams):
        samples = [(k, i * period * scale, v) for k, i, v in rows]
        topics[name] = spark.createDataFrame(
            samples, f"k int, t {ttype}, {name}_v long")
    out = synchronize_topics(topics, ["k"], time_col="t", step=step)
    got = {(r.k, r.t): tuple(r[n] and r[n][f"{n}_v"] for n in sorted(topics))
           for r in out.collect()}

    expect = {}
    for key in range(3):
        per_topic = {n: sorted((i * p * scale, v) for k, i, v in rows
                               if k == key)
                     for n, (p, rows) in zip(("gps", "imu", "steer"),
                                             streams)}
        times = [t for obs in per_topic.values() for t, _ in obs]
        if not times:
            continue
        for tick in range(math.floor(min(times) / step),
                          math.floor(max(times) / step) + 1):
            at = tick * step
            expect[(key, at)] = tuple(
                next((v for t, v in reversed(per_topic[n]) if t <= at),
                     None)
                for n in sorted(topics))
    assert got == expect


@SETTINGS
@given(texts=TEXTS)
def test_incremental_minhash_equals_full_remine_cross_pairs(spark, texts):
    """For ANY corpus/batch split (evens/odds), index-then-probe must
    surface exactly the cross pairs full re-mining finds — the
    incremental path may never lose or invent a match."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark import (
        minhash_index, minhash_match_pairs,
    )
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string") \
        if texts else spark.createDataFrame([], "doc_id long, text string")
    idx = minhash_index(docs.where("doc_id % 2 = 0"), "text", "doc_id")
    got = {(r.new_id, r.corpus_id): r.jaccard for r in
           minhash_match_pairs(docs.where("doc_id % 2 = 1"), idx,
                               "text", "doc_id", threshold=0.5).collect()}
    expect = {}
    for r in minhash_lsh_pairs(docs, "text", "doc_id",
                               threshold=0.5).collect():
        if r.id_a % 2 != r.id_b % 2:
            new_id = r.id_a if r.id_a % 2 == 1 else r.id_b
            expect[(new_id, r.id_a + r.id_b - new_id)] = r.jaccard
    assert got == expect


@SETTINGS
@given(texts=TEXTS)
def test_lsh_pairs_subset_of_exact_pairs(spark, texts):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string") \
        if texts else spark.createDataFrame([], "doc_id long, text string")
    exact = {(r.id_a, r.id_b)
             for r in ngram_jaccard_pairs(docs, "text", "doc_id",
                                          threshold=0.5).collect()}
    lsh = {(r.id_a, r.id_b)
           for r in minhash_lsh_pairs(docs, "text", "doc_id",
                                      threshold=0.5).collect()}
    # every LSH-surfaced pair is verified with exact Jaccard, so LSH
    # results are always a subset of the exact all-pairs answer
    assert lsh <= exact


@SETTINGS
@given(edges=st.lists(st.tuples(st.integers(0, 25), st.integers(0, 25)),
                      min_size=1, max_size=40))
def test_dup_clusters_matches_union_find(spark, edges):
    """Connected components from iterative min-label propagation must
    equal a driver-side union-find on any random graph (self-loops,
    parallel edges, chains, cliques)."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark import dup_clusters

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    expected = {n: find(n) for n in parent}

    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.id: r.cluster_id for r in dup_clusters(pairs).collect()}
    assert got == expected


@SETTINGS
@given(tau=st.floats(0.2, 0.95), rho=st.floats(0.5, 0.99),
       kind=st.sampled_from(["jaccard", "cosine"]))
def test_banding_for_recall_meets_analytic_target(tau, rho, kind):
    """The derived (bands, rows_per_band) must satisfy the S-curve
    recall bound at the threshold and fit the permutation budget, for
    ANY (threshold, target, kind)."""
    import math

    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark import banding_for_recall

    try:
        b, r = banding_for_recall(tau, rho, kind=kind, max_perm=512)
    except ValueError:
        return  # infeasible within budget is a legal, explicit outcome
    p1 = tau if kind == "jaccard" else 1 - math.acos(tau) / math.pi
    assert 1 - (1 - p1 ** r) ** b >= rho - 1e-12
    assert 1 <= b * r <= 512


def test_banding_for_recall_rejects_bad_inputs():
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark import banding_for_recall
    with pytest.raises(ValueError):
        banding_for_recall(0.0, 0.9)
    with pytest.raises(ValueError):
        banding_for_recall(0.5, 1.0)
    with pytest.raises(ValueError):
        banding_for_recall(0.5, 0.9, kind="hamming")
    with pytest.raises(ValueError, match="max_perm"):
        # 99.9% recall at tau=0.1 cannot fit 16 hash slots
        banding_for_recall(0.1, 0.999, max_perm=16)


def test_minhash_target_recall_on_corpus(spark):
    """target_recall-derived banding meets the target empirically:
    exact n-gram Jaccard is ground truth, minhash candidates are
    exact-verified (precision 1 by construction), so recall is the
    only free variable. Deterministic: xxhash64 families are seeded."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark import minhash_lsh_pairs as mlp

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    truth = {(r.id_a, r.id_b) for r in
             ngram_jaccard_pairs(docs, "text", "doc_id",
                                 threshold=0.5).collect()}
    assert len(truth) >= 10
    found = {(r.id_a, r.id_b) for r in
             mlp(docs, "text", "doc_id", threshold=0.5,
                 target_recall=0.9, max_perm=64).collect()}
    spark.catalog.clearCache()
    assert found <= truth                      # exact verify: no FPs
    assert len(found & truth) / len(truth) >= 0.9


def test_embedding_target_recall_on_corpus(spark):
    """Same contract for hyperplane-LSH cosine near-dup: at the r4
    fixed operating point recall was 0.69; with target_recall=0.9 the
    derived banding reaches >=0.9 against brute-force truth.
    Deterministic: plane components are hash-derived."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark import embedding_dup_pairs as edp

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    truth = {(r.id_a, r.id_b) for r in
             edp(emb, "vec_id", "embedding", threshold=0.4,
                 exact=True).collect()}
    assert len(truth) >= 20
    found = {(r.id_a, r.id_b) for r in
             edp(emb, "vec_id", "embedding", threshold=0.4,
                 target_recall=0.9, max_perm=96).collect()}
    assert found <= truth
    assert len(found & truth) / len(truth) >= 0.9


@SETTINGS
@given(fracs=st.lists(st.floats(0.01, 0.5, allow_nan=False),
                      min_size=1, max_size=4),
       n=st.integers(1, 300))
def test_hash_split_partition_properties(spark, fracs, n):
    """For ANY fraction map (sum <= 1) and corpus: every row gets at
    most one label, labeled fractions are disjoint by construction,
    assignment depends only on the row key (subset stability), and
    NULL rows are exactly the remainder mass."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark import hash_split

    total = sum(fracs)
    if total > 1.0:
        fracs = [f / total for f in fracs]
    labels = {f"s{i}": f for i, f in enumerate(fracs)}
    df = spark.range(n).select(F.col("id").alias("doc_id"))
    rows = hash_split(df, "doc_id", labels).collect()
    assert len(rows) == n                          # no row lost or duped
    assigned = {r.doc_id: r.split for r in rows}
    assert set(assigned.values()) - {None} <= set(labels)
    # subset stability: any sub-corpus gets identical labels
    sub = hash_split(df.where("doc_id % 3 = 0"), "doc_id",
                     labels).collect()
    assert all(assigned[r.doc_id] == r.split for r in sub)


@SETTINGS
@given(vals=st.lists(st.floats(-100, 100, allow_nan=False,
                               allow_infinity=False),
                     min_size=0, max_size=40))
def test_distinct_sketch_never_misses_by_much(spark, vals):
    """HLL estimate of ANY small value set lands within the 3σ
    envelope of the exact distinct count (at small n the sketch is in
    sparse mode and typically exact)."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark import (
        distinct_sketch, rollup_distinct,
    )
    df = spark.createDataFrame([(v,) for v in vals] or [(None,)],
                               "v double")
    est = rollup_distinct(
        distinct_sketch(df.withColumn("g", F.lit(1)), ["g"], "v"),
        [], estimate_col="n").first()["n"]
    exact = df.agg(F.countDistinct("v")).first()[0]
    assert abs(est - exact) <= max(1, 0.025 * exact)


@SETTINGS
@given(texts=st.lists(st.text(alphabet="abc ", max_size=12),
                      min_size=0, max_size=25),
       k=st.integers(1, 3))
def test_edit_distance_pairs_equals_brute_force(spark, texts, k):
    """Pigeonhole blocking is EXACT for any corpus and any max_dist:
    the pair set equals the all-pairs levenshtein answer."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark import edit_distance_pairs

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    rows = list(enumerate(texts))
    df = (spark.createDataFrame(rows, "id long, s string") if rows
          else spark.createDataFrame([], "id long, s string"))
    got = {(r.id_a, r.id_b, r.distance) for r in
           edit_distance_pairs(df, "s", "id", max_dist=k).collect()}
    want = {(i, j, lev(texts[i], texts[j]))
            for i in range(len(texts)) for j in range(i + 1, len(texts))
            if lev(texts[i], texts[j]) <= k}
    assert got == want


@SETTINGS
@given(vals=st.lists(st.text(alphabet="xyz", min_size=1, max_size=3),
                     min_size=1, max_size=60))
def test_cm_sketch_one_sided_for_any_stream(spark, vals):
    """Count-min never undercounts, never exceeds true + eps*N, and
    per-partition builds merged == direct build, for ANY value stream."""
    from collections import Counter

    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark import (
        freq_estimate, freq_sketch, rollup_freq,
    )

    df = spark.createDataFrame([(v, i % 3) for i, v in enumerate(vals)],
                               "v string, p int")
    sk = freq_sketch(df, [], "v", depth=3, width=64)
    merged = rollup_freq(freq_sketch(df, ["p"], "v", depth=3, width=64), [])
    assert sk.exceptAll(merged).count() == 0
    assert merged.exceptAll(sk).count() == 0
    truth = Counter(vals)
    est = {r.v: r.approx_count for r in
           freq_estimate(sk, df, "v", depth=3, width=64).collect()}
    n = len(vals)
    for v, c in truth.items():
        assert c <= est[v] <= c + (2.718281828 / 64) * n + 1


@SETTINGS
@given(vals=st.lists(st.floats(-50, 150, allow_nan=False),
                     min_size=1, max_size=80),
       p=st.floats(0.0, 1.0))
def test_histogram_quantile_rank_property(spark, vals, p):
    """For ANY data and prob, the histogram estimate is bounded by the
    bin edges of a value whose rank is within 1 of the target rank
    (clamped to the grid)."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark import (
        histogram_sketch, quantile_estimate,
    )

    lo, hi, bins = 0.0, 100.0, 20
    binw = (hi - lo) / bins
    df = spark.createDataFrame([(float(v),) for v in vals], "v double")
    sk = histogram_sketch(df, [], "v", lo=lo, hi=hi, bins=bins)
    est = quantile_estimate(sk, [], [p], lo=lo, hi=hi,
                            bins=bins).first().quantile_est
    clipped = sorted(min(max(v, lo), hi) for v in vals)
    n = len(clipped)
    rank = max(1.0, p * n)
    idx = int(rank) - 1
    candidates = clipped[max(0, idx - 1):min(n, idx + 2)]
    assert any(v - binw - 1e-9 <= est <= v + binw + 1e-9
               for v in candidates), (est, candidates)


# --- model-based snapshot table check --------------------------------
# a random sequence of upsert / delete / rollback operations applied to
# BOTH the snapshot table and a plain-dict model; after every op the
# published snapshot must equal the model exactly. This is the
# strongest correctness artifact a storage layer can have short of a
# formal spec: any atomicity, carry-forward, emptied-partition, or
# rollback bug surfaces as a model divergence.

snapshot_ops = st.lists(
    st.one_of(
        st.tuples(st.just("upsert"),
                  st.lists(st.tuples(st.integers(0, 6),      # key
                                     st.integers(0, 2),      # partition
                                     st.integers(0, 99),     # value
                                     st.integers(0, 9)),     # version
                           min_size=1, max_size=4)),
        st.tuples(st.just("delete"),
                  st.lists(st.integers(0, 6), min_size=1, max_size=3)),
        st.tuples(st.just("rollback"), st.just(None)),
    ),
    min_size=1, max_size=6)


@SETTINGS
@given(ops=snapshot_ops)
def test_snapshot_table_matches_dict_model(spark, tmp_path_factory, ops):
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import (
        latest_version, read_snapshot, snapshot_delete,
        snapshot_rollback, snapshot_upsert, snapshot_write,
    )

    path = str(tmp_path_factory.mktemp("snap") / "tbl")
    schema = "id long, part string, val long, ver long"
    base = [(k, str(k % 2), -1, 0) for k in range(3)]
    snapshot_write(spark, path,
                   spark.createDataFrame(base, schema),
                   partition_cols=["part"])
    model = {k: (str(k % 2), -1, 0) for k in range(3)}
    states = {0: dict(model)}     # model snapshot BY PUBLISHED VERSION

    for op, arg in ops:
        if op == "upsert":
            # one row per key within a batch (the documented contract);
            # partition derives from the key (immutable partitions)
            batch = {}
            for k, _, val, ver in arg:
                batch[k] = (k, str(k % 2), val, ver)
            snapshot_upsert(
                spark, path,
                spark.createDataFrame(list(batch.values()), schema),
                ["id"], partition_cols=["part"], order_col="ver")
            for k, (_, part, val, ver) in ((k, (k, str(k % 2), v, ve))
                                           for k, (_, _, v, ve)
                                           in batch.items()):
                if k not in model or ver >= model[k][2]:
                    model[k] = (part, val, ver)
        elif op == "delete":
            snapshot_delete(spark, path,
                            spark.createDataFrame([(k,) for k in arg],
                                                  "id long"),
                            ["id"], partition_cols=["part"])
            for k in arg:
                model.pop(k, None)
        else:
            target = max(0, latest_version(spark, path) - 1)
            snapshot_rollback(spark, path, to_version=target)
            model = dict(states[target])
        states[latest_version(spark, path)] = dict(model)

        got = {r.id: (r.part, r.val, r.ver)
               for r in read_snapshot(spark, path).collect()}
        assert got == model, f"diverged after {op}"


@SETTINGS
@given(rows=events_strategy, width=st.sampled_from([1.0, 3.0, 17.0, 1e6]))
def test_running_agg_chunked_equivalence_property(mk_df, rows, width):
    """For ANY event set (ties, nulls, negative-free ints as order) and
    ANY chunk width, the two-phase plan equals the single-window plan
    on every monotone aggregation — 'last' included when the order is
    unique per key (dedupe (k,t) first, the documented contract).

    The float running sum ``rs`` is compared with isclose tolerance,
    not ``==``: the chunked plan reassociates float addition (the
    documented within-ULP contract in running_agg's docstring), and
    hypothesis did find a genuine last-ULP divergence under bit-exact
    comparison. count/min/max/last stay exactly equal."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark import running_agg

    df = mk_df(rows).groupBy("k", "t").agg(F.max("v").alias("v"))
    aggs = {"rs": ("sum", "v"), "rmin": ("min", "v"),
            "rmax": ("max", "v"), "rc": ("count", None),
            "locf": ("last", "v")}

    def snap(d):
        return sorted(((r.k, r.t, r.v, r.rs, r.rmin, r.rmax, r.rc,
                        r.locf) for r in d.collect()),
                      key=lambda x: (x[0], x[1]))

    chunked = snap(running_agg(df, ["k"], "t", aggs, chunk_width=width))
    plain = snap(running_agg(df, ["k"], "t", aggs))
    assert len(chunked) == len(plain)
    for c, p in zip(chunked, plain):
        # exact for key/order/value and the exactly-associative aggs
        assert c[:3] == p[:3] and c[4:] == p[4:], (c, p)
        # float running sum: within-ULP, not bit-exact (reassociation)
        cs, ps = c[3], p[3]
        if cs is None or ps is None:
            assert cs == ps, (c, p)
        else:
            assert math.isclose(cs, ps, rel_tol=1e-12, abs_tol=1e-9), (c, p)


def _anomaly_oracle(series, n, min_points):
    """Pure-Python leave-one-out trailing rows-frame baseline."""
    import math

    out = []
    for i, (t, v) in enumerate(series):
        base = [x for _, x in series[max(0, i - n):i] if x is not None]
        cnt = len(base)
        z = None
        if v is not None and cnt >= min_points:
            mean = sum(base) / cnt
            var = max((sum(x * x for x in base) - cnt * mean * mean)
                      / (cnt - 1), 0.0)
            std = math.sqrt(var)
            if std > 0:
                z = (v - mean) / std
        out.append((t, z))
    return out


@SETTINGS
@given(rows=events_strategy, n=st.integers(2, 12),
       min_points=st.integers(2, 6))
def test_detect_anomalies_rows_mode_matches_brute_force(mk_df, rows, n,
                                                        min_points):
    """detect_anomalies(n=) equals the pure-Python trailing baseline
    for arbitrary series with nulls, any frame length, any warm-up —
    ties in t are excluded (rows frames need a total order)."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark import detect_anomalies

    dedup = {}
    for k, t, v in rows:
        dedup[(k, t)] = v                      # unique (key, t)
    rows = sorted((k, t, v) for (k, t), v in dedup.items())
    got = {(r.k, r.t): r.zscore for r in detect_anomalies(
        mk_df(rows), ["k"], "t", "v", n=n,
        min_points=min_points).collect()}
    for k in {r[0] for r in rows}:
        series = [(t, v) for kk, t, v in rows if kk == k]
        for t, z in _anomaly_oracle(series, n, min_points):
            g = got[(k, t)]
            if z is None:
                assert g is None, (k, t, g)
            else:
                assert g is not None and abs(g - z) < 1e-9, (k, t, g, z)


@SETTINGS
@given(lag=st.integers(-4, 4), seed=st.integers(0, 10**6))
def test_estimate_lag_recovers_any_planted_skew(spark, lag, seed):
    """For ANY integer skew in [-4, 4] (including 0), estimate_lag
    finds it exactly on a scaled+offset copy of a random walk."""
    import random

    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark import estimate_lag

    rng = random.Random(seed)
    a = [0.0]
    for _ in range(59):
        a.append(a[-1] + rng.gauss(0, 1))
    rows = []
    for t in range(60):
        src = t - lag
        b = 3.0 * a[src] - 5.0 if 0 <= src < 60 else None
        rows.append(("k", float(t), a[t], b))
    df = spark.createDataFrame(rows, "k string, t double, a double, b double")
    got = estimate_lag(df, ["k"], "t", "a", "b", max_lag=4).collect()
    assert len(got) == 1 and got[0].best_lag == lag, (lag, got)


# -- r8: zone-map auto-routing soundness --------------------------------


@pytest.fixture(scope="module")
def _pruning_table(spark, tmp_path_factory):
    """A range-sorted stats table with nulls and NaNs, shared across
    the pruning property's examples (one write, many reads) — HIVE
    PARTITIONED by grp, so every grammar example also exercises
    manifest-level partition pruning (r8c) alongside the zone
    maps. Most files hold a NaN score, which Spark orders above every
    double: their recorded max must be NaN, and pruning must treat it
    as the top of the range."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import snapshot_write
    path = str(tmp_path_factory.mktemp("prop") / "tbl")
    df = (spark.range(0, 400)
          .selectExpr("id",
                      "case when id % 7 = 0 then null "
                      "when id % 11 = 0 then double('NaN') "
                      "else cast(id as double) end as score",
                      "concat('g', cast(id % 5 as string)) as grp"))
    snapshot_write(spark, path, df.repartitionByRange(8, "id"),
                   partition_cols=["grp"],
                   stats_cols=["id", "score"])
    return path


_pred_atom = st.sampled_from([
    "id < {i}", "id >= {i}", "id = {i}", "id between {i} and {j}",
    "id in ({i}, {j})", "score is null", "score is not null",
    "score > {i}.5", "score < {i}.5", "score in ({i}.0, {j}.0)",
    "grp = 'g{g}'", "grp in ('g{g}', 'g0')",
    "id % 3 = {g}",                       # unprunable — must degrade
])


@st.composite
def _pred_exprs(draw):
    def atom():
        t = draw(_pred_atom)
        return t.format(i=draw(st.integers(0, 400)),
                        j=draw(st.integers(0, 400)),
                        g=draw(st.integers(0, 5)))
    n = draw(st.integers(1, 4))
    parts = [atom() for _ in range(n)]
    ops = [draw(st.sampled_from([" and ", " or "]))
           for _ in range(n - 1)]
    expr = parts[0]
    for op, p in zip(ops, parts[1:]):
        expr = f"({expr}){op}({p})"
    return expr


@SETTINGS
@given(expr=_pred_exprs())
@example(expr="score in (1.0, 7.0)")   # a file whose max is NaN
@example(expr="score > 390.5")         # NaN rows match any >
def test_where_routing_soundness_property(spark, _pruning_table,
                                         expr):
    """For ANY predicate the grammar can build — prunable, partially
    prunable, or not at all — the auto-routed read returns EXACTLY
    the rows of the plain filtered read: pruning may skip files, never
    rows."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import read_snapshot
    def rows(df):
        # NaN != NaN: compare the rows by their printed form
        return sorted(repr(tuple(r)) for r in df.collect())

    plain = read_snapshot(spark, _pruning_table)
    exp = rows(plain.where(expr))
    got = rows(read_snapshot(spark, _pruning_table, where=expr))
    assert got == exp, expr


@settings(max_examples=150, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(blob=st.binary(max_size=400),
       seed=st.binary(max_size=40))
def test_warc_parser_total_on_hostile_bytes(blob, seed):
    """parse_warc_bytes is TOTAL on arbitrary bytes: never raises,
    always terminates, every emitted error carries a valid offset,
    and clean records reconstruct exactly from their reported
    offsets."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import parse_warc_bytes
    # half the examples get a valid record embedded in the noise
    payload = b"HTTP/1.1 200 OK\r\n\r\n" + seed
    rec = (b"WARC/1.0\r\nWARC-Type: response\r\n"
           + b"Content-Length: " + str(len(payload)).encode()
           + b"\r\n\r\n" + payload + b"\r\n\r\n")
    data = blob + rec
    out = parse_warc_bytes(data)
    assert isinstance(out, list)
    for off, headers, pl, err in out:
        assert 0 <= off <= len(data)
        if err is None:
            assert headers.get("warc-type") == "response"
            assert data[off:off + 5] == b"WARC/"
    # the embedded clean record is always recovered
    assert any(err is None and pl == payload
               for _, _, pl, err in out)


# -- r8c: IVM aggregate views vs recompute, model-based ------------------

_ivm_cmds = st.lists(
    st.tuples(st.sampled_from(["append", "upsert", "delete",
                               "compact"]),
              st.integers(0, 10 ** 6)),
    min_size=1, max_size=4)


@settings(max_examples=8, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(cmds=_ivm_cmds, minmax=st.booleans(),
       sync_each=st.booleans(), data=st.data())
def test_aggregate_view_matches_recompute_property(spark, cmds,
                                                   minmax,
                                                   sync_each, data):
    """Model-based IVM: ANY sequence of append/upsert/delete/compact
    commits, synced per-commit or in one catch-up, leaves the view
    equal to a from-scratch groupBy — across both maintenance
    disciplines (pure-additive count/sum/avg, and the semi-additive
    min branch whose delete steps recompute)."""
    import math
    import shutil
    import tempfile

    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import (
        read_snapshot, snapshot_append, snapshot_compact,
        snapshot_delete, snapshot_upsert, snapshot_write,
    )
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.streaming import (
        aggregate_sync_snapshot,
    )
    schema = "id long, g string, p string, val double"
    meas = {"n": ("count", None), "s": ("sum", "val"),
            "a": ("avg", "val")}
    if minmax:
        meas["mx"] = ("max", "val")

    def rows(seed, n, lo):
        # the NULL group is a real group — generate it too
        return [(lo + i,
                 None if (seed + i) % 4 == 0 else
                 f"g{(seed + i) % 3}", f"p{i % 2}",
                 None if (seed + i) % 5 == 0 else
                 float((seed * 7 + i) % 23)) for i in range(n)]

    d = tempfile.mkdtemp(prefix="ivm_prop_")
    tbl, vw = f"{d}/t", f"{d}/v"
    try:
        snapshot_write(spark, tbl,
                       spark.createDataFrame(rows(1, 12, 0), schema),
                       partition_cols=["p"])
        next_id = 12

        def sync():
            aggregate_sync_snapshot(spark, tbl, vw,
                                    group_by=["g", "p"],
                                    measures=meas,
                                    view_partition_cols=["p"])

        def check():
            aggs = [F.count("*").alias("n"),
                    F.sum("val").alias("s"),
                    F.avg("val").alias("a")]
            if minmax:
                aggs.append(F.max("val").alias("mx"))
            cols = ["n", "s", "a"] + (["mx"] if minmax else [])
            want = {(r["g"], r["p"]): tuple(r[c] for c in cols)
                    for r in read_snapshot(spark, tbl)
                    .groupBy("g", "p").agg(*aggs).collect()}
            got = {(r["g"], r["p"]): tuple(r[c] for c in cols)
                   for r in read_snapshot(spark, vw).collect()}
            assert set(got) == set(want), (sorted(got), sorted(want))
            for k in want:
                for x, y in zip(got[k], want[k]):
                    assert (x is None) == (y is None), (k, got, want)
                    assert x is None or math.isclose(
                        x, y, rel_tol=1e-9), (k, got[k], want[k])

        sync()
        check()
        existing_ids = set(range(12))
        for op, seed in cmds:
            if op == "append":
                n = 1 + seed % 6
                snapshot_append(spark, tbl, spark.createDataFrame(
                    rows(seed, n, next_id), schema))
                existing_ids |= set(range(next_id, next_id + n))
                next_id += n
            elif op == "upsert":
                ids = data.draw(st.lists(
                    st.sampled_from(sorted(existing_ids)),
                    min_size=1, max_size=4, unique=True))
                snapshot_upsert(spark, tbl, spark.createDataFrame(
                    [(i,
                      None if (i + seed) % 4 == 0 else
                      f"g{(i + seed) % 3}", f"p{i % 2}",
                      float(seed % 31)) for i in ids], schema),
                    ["id"], partition_cols=["p"])
            elif op == "delete" and existing_ids:
                ids = data.draw(st.lists(
                    st.sampled_from(sorted(existing_ids)),
                    min_size=1, max_size=6, unique=True))
                snapshot_delete(spark, tbl,
                                spark.createDataFrame(
                                    [(i,) for i in ids], "id long"),
                                ["id"], partition_cols=["p"])
                existing_ids -= set(ids)
            else:
                snapshot_compact(spark, tbl,
                                 target_file_bytes=1 << 30)
            if sync_each:
                sync()
                check()
        sync()
        check()
    finally:
        shutil.rmtree(d, ignore_errors=True)


_join_cmds = st.lists(
    st.tuples(st.sampled_from(["l", "r"]),
              st.sampled_from(["append", "upsert", "delete"]),
              st.integers(0, 10 ** 6)),
    min_size=1, max_size=4)


@settings(max_examples=8, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(cmds=_join_cmds,
       how=st.sampled_from(["inner", "left", "right", "full"]),
       sync_each=st.booleans(), data=st.data())
def test_join_view_matches_recompute_property(spark, cmds, how,
                                              sync_each, data):
    """Model-based join IVM: ANY sequence of commits on EITHER
    table, inner/left/right/full (full r9), synced per-commit or in
    one catch-up, leaves the view equal to a from-scratch join —
    including join-value re-keys and the null-extension flips in
    both directions."""
    import shutil
    import tempfile

    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import (
        read_snapshot, snapshot_append, snapshot_delete,
        snapshot_upsert, snapshot_write,
    )
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.streaming import (
        join_sync_snapshot,
    )
    d = tempfile.mkdtemp(prefix="jv_prop_")
    lt, rt, vw = f"{d}/l", f"{d}/r", f"{d}/v"
    L = "lk long, attr string, lp string"
    R = "rk long, lk long, amt long, rp string"
    try:
        snapshot_write(spark, lt, spark.createDataFrame(
            [(k, f"a{k}", f"p{k % 2}") for k in range(4)], L),
            partition_cols=["lp"])
        snapshot_write(spark, rt, spark.createDataFrame(
            [(100 + j, j % 5, 10 * j, f"q{j % 2}")
             for j in range(6)], R),      # lk=4 unmatched, rk->lk 0..4
            partition_cols=["rp"])
        l_ids, r_ids = set(range(4)), set(range(100, 106))
        next_l, next_r = 4, 106
        kw = dict(on=["lk"], left_keys=["lk"], right_keys=["rk"],
                  how=how)

        def sync():
            join_sync_snapshot(spark, lt, rt, vw, **kw)

        def check():
            want = {(r["lk"], r["rk"]): (r["attr"], r["amt"])
                    for r in read_snapshot(spark, lt)
                    .join(read_snapshot(spark, rt), "lk", how)
                    .collect()}
            got = {(r["lk"], r["rk"]): (r["attr"], r["amt"])
                   for r in read_snapshot(spark, vw)
                   .select("lk", "rk", "attr", "amt").collect()}
            assert got == want, (sorted(got.items()),
                                 sorted(want.items()))

        sync()
        check()
        for side, op, seed in cmds:
            if side == "l":
                if op == "append":
                    snapshot_append(spark, lt, spark.createDataFrame(
                        [(next_l, f"a{seed % 9}",
                          f"p{next_l % 2}")], L))
                    l_ids.add(next_l)
                    next_l += 1
                elif op == "upsert":
                    k = data.draw(st.sampled_from(sorted(l_ids)))
                    snapshot_upsert(spark, lt,
                                    spark.createDataFrame(
                                        [(k, f"u{seed % 9}",
                                          f"p{k % 2}")], L),
                                    ["lk"], partition_cols=["lp"])
                elif l_ids:
                    k = data.draw(st.sampled_from(sorted(l_ids)))
                    snapshot_delete(spark, lt,
                                    spark.createDataFrame(
                                        [(k,)], "lk long"),
                                    ["lk"], partition_cols=["lp"])
                    l_ids.discard(k)
            else:
                if op == "append":
                    snapshot_append(spark, rt, spark.createDataFrame(
                        [(next_r, seed % 6, seed % 50,
                          f"q{next_r % 2}")], R))
                    r_ids.add(next_r)
                    next_r += 1
                elif op == "upsert":
                    j = data.draw(st.sampled_from(sorted(r_ids)))
                    # re-key half the time: the hard flip
                    snapshot_upsert(spark, rt,
                                    spark.createDataFrame(
                                        [(j, seed % 6, seed % 50,
                                          f"q{j % 2}")], R),
                                    ["rk"], partition_cols=["rp"])
                elif r_ids:
                    j = data.draw(st.sampled_from(sorted(r_ids)))
                    snapshot_delete(spark, rt,
                                    spark.createDataFrame(
                                        [(j,)], "rk long"),
                                    ["rk"], partition_cols=["rp"])
                    r_ids.discard(j)
            if sync_each:
                sync()
                check()
        sync()
        check()
    finally:
        shutil.rmtree(d, ignore_errors=True)
