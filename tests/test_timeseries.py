"""Unit tests for the alignment operators (SURVEY §2.3 #25-#30, §2.5).

Small in-memory frames with hand-computable expected output; property
checks for forward-fill (no nulls after first observation, idempotence)
and as-of join (match is the latest at-or-before right row).
"""

from pyspark.sql import functions as F

import pytest

from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark import (
    asof_join, downsample_cascade, forward_fill, resample_asof,
)


def test_forward_fill_basic(spark):
    df = spark.createDataFrame(
        [("a", 1, None), ("a", 2, 10.0), ("a", 3, None), ("a", 4, None),
         ("b", 1, 5.0), ("b", 2, None)],
        "k string, t int, v double")
    got = forward_fill(df, ["k"], "t", ["v"])
    vals = {(r.k, r.t): r.v for r in got.collect()}
    assert vals[("a", 1)] is None          # nothing to carry yet
    assert vals[("a", 3)] == 10.0 and vals[("a", 4)] == 10.0
    assert vals[("b", 2)] == 5.0
    # idempotence
    again = forward_fill(got, ["k"], "t", ["v"])
    assert {(r.k, r.t): r.v for r in again.collect()} == vals


def test_resample_asof_locf(spark):
    df = spark.createDataFrame(
        [("a", 0.0, 1.0), ("a", 0.25, 2.0), ("a", 0.61, 3.0)],
        "k string, t double, v double")
    got = {round(r.t, 1): r.v for r in
           resample_asof(df, ["k"], "t", 0.1, ["v"]).collect()}
    # t=0.61 lands after tick 0.6, so LOCF at 0.6 still sees v=2.0
    assert got == {0.0: 1.0, 0.1: 1.0, 0.2: 1.0, 0.3: 2.0, 0.4: 2.0,
                   0.5: 2.0, 0.6: 2.0}


def test_asof_join_backward_with_tolerance(spark):
    left = spark.createDataFrame(
        [("a", 10.0), ("a", 20.0), ("a", 30.0)], "k string, t double")
    right = spark.createDataFrame(
        [("a", 9.0, 100.0), ("a", 19.5, 200.0)], "k string, t double, v double")
    got = {r.t: r.v for r in asof_join(left, right, "t", ["k"]).collect()}
    assert got == {10.0: 100.0, 20.0: 200.0, 30.0: 200.0}
    tol = {r.t: r.v for r in
           asof_join(left, right, "t", ["k"], tolerance=2.0).collect()}
    assert tol == {10.0: 100.0, 20.0: 200.0, 30.0: None}


def test_asof_join_null_in_matched_row(spark):
    """A NULL value in the matched right row must be emitted as NULL —
    not backfilled from an older right row (column mixing: value from
    one row, match time from another)."""
    left = spark.createDataFrame(
        [("a", 10.0), ("a", 20.0)], "k string, t double")
    right = spark.createDataFrame(
        [("a", 5.0, 100.0, 1.0), ("a", 19.0, None, 2.0)],
        "k string, t double, v double, u double")
    # backward: left@20 matches right@19 whose v IS NULL; u comes along
    got = {r.t: (r.v, r.u) for r in
           asof_join(left, right, "t", ["k"]).collect()}
    assert got[10.0] == (100.0, 1.0)
    assert got[20.0] == (None, 2.0)      # NOT (100.0, 2.0)
    # tolerance must be judged against the matched row's time, so the
    # NULL-v row@19 (gap 1) is inside tol=2 while row@5 is not
    tol = {r.t: (r.v, r.u) for r in
           asof_join(left, right, "t", ["k"], tolerance=2.0).collect()}
    assert tol[20.0] == (None, 2.0)
    assert tol[10.0] == (None, None)     # gap 5 > 2 -> no match at all
    # nearest: same contract through the backward/forward pick
    near = {r.t: (r.v, r.u) for r in
            asof_join(left, right, "t", ["k"],
                      direction="nearest").collect()}
    assert near[20.0] == (None, 2.0)


def test_asof_join_forward(spark):
    left = spark.createDataFrame([("a", 10.0)], "k string, t double")
    right = spark.createDataFrame(
        [("a", 9.0, 1.0), ("a", 12.0, 2.0)], "k string, t double, v double")
    got = asof_join(left, right, "t", ["k"], direction="forward").collect()
    assert got[0].v == 2.0


def test_asof_join_nearest(spark):
    left = spark.createDataFrame(
        [("a", 10.0), ("a", 14.0), ("a", 16.0), ("a", 30.0),
         ("b", 5.0), ("c", 1.0)],
        "k string, t double")
    right = spark.createDataFrame(
        [("a", 9.0, 1.0), ("a", 20.0, 2.0),
         ("b", 8.0, 3.0)],            # only a forward match for b
        "k string, t double, v double")
    got = {(r.k, r.t): r.v for r in
           asof_join(left, right, "t", ["k"], direction="nearest").collect()}
    assert got[("a", 10.0)] == 1.0    # 1 behind vs 10 ahead
    assert got[("a", 14.0)] == 1.0    # tie (5 vs 6) -> closer backward
    assert got[("a", 16.0)] == 2.0    # 7 behind vs 4 ahead
    assert got[("a", 30.0)] == 2.0    # nothing ahead -> backward
    assert got[("b", 5.0)] == 3.0     # nothing behind -> forward
    assert got[("c", 1.0)] is None    # no right rows at all
    # equal-distance tie prefers backward
    tie = {r.t: r.v for r in asof_join(
        spark.createDataFrame([("a", 15.0)], "k string, t double"),
        spark.createDataFrame([("a", 10.0, 1.0), ("a", 20.0, 2.0)],
                              "k string, t double, v double"),
        "t", ["k"], direction="nearest").collect()}
    assert tie[15.0] == 1.0
    # tolerance applies to the chosen gap
    tol = {(r.k, r.t): r.v for r in
           asof_join(left, right, "t", ["k"], direction="nearest",
                     tolerance=4.0).collect()}
    assert tol[("a", 16.0)] == 2.0    # gap 4 <= 4 kept
    assert tol[("a", 30.0)] is None   # gap 10 dropped
    assert tol[("b", 5.0)] == 3.0     # gap 3 kept


def test_downsample_cascade_matches_direct_aggregation(spark):
    """Every cascaded tier must equal aggregating the RAW rows directly
    at that resolution — re-aggregating finer partials loses nothing
    for composable stats (sum/count/min/max; avg derived at the end)."""
    import random

    rng = random.Random(11)
    rows = [(k, rng.uniform(0, 1000), rng.uniform(-50, 50))
            for k in ("a", "b") for _ in range(300)]
    df = spark.createDataFrame(rows, "k string, t double, v double")
    got = downsample_cascade(df, ["k"], "t", "v", [10.0, 60.0, 600.0])

    from pyspark.sql import functions as F
    for step in (10.0, 60.0, 600.0):
        direct = (df.groupBy(
            "k", (F.floor(F.round(F.col("t") / step, 6)).cast("long")
                  * F.lit(step)).alias("bucket"))
            .agg(F.count("v").alias("n"), F.sum("v").alias("sum"),
                 F.min("v").alias("min"), F.max("v").alias("max")))
        d = {(r.k, r.bucket): (r.n, round(r.sum, 6), r.min, r.max)
             for r in direct.collect()}
        g = {(r.k, r.bucket): (r.n, round(r.sum, 6), r.min, r.max)
             for r in got.where(F.col("resolution") == step).collect()}
        assert g == d, f"tier {step} diverges from direct aggregation"
    # avg is sum/count, never an average of tier averages
    r = got.where("resolution = 600.0").first()
    assert abs(r.avg - r.sum / r.n) < 1e-12


def test_downsample_cascade_caches_intermediate_tiers(spark):
    """Coarser tiers must read the persisted finer partials, not
    re-execute the raw lineage per union branch (the plan shows
    InMemoryTableScan reads; without the cache it showed one raw
    parquet scan PER tier)."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.plans.inspect import (
        formatted_plan,
    )
    df = spark.read.parquet(
        "/root/testdata/sf0.001/events.parquet").selectExpr(
        "user_id as k", "cast(value as double) as v",
        "cast(event_id as double) as t")
    out = downsample_cascade(df, ["k"], "t", "v", [10.0, 100.0])
    plan = formatted_plan(out)
    assert "InMemoryTableScan" in plan
    spark.catalog.clearCache()


def test_downsample_cascade_validates_nesting(spark):
    df = spark.createDataFrame([("a", 1.0, 1.0)], "k string, t double, v double")
    with pytest.raises(ValueError, match="integer multiple"):
        downsample_cascade(df, ["k"], "t", "v", [10.0, 25.0])
    with pytest.raises(ValueError, match="non-empty"):
        downsample_cascade(df, ["k"], "t", "v", [])


def test_cascade_update_equals_full_rebuild(spark):
    """Folding a new batch into persisted tiers (cascade_update) equals
    rebuilding the cascade over old+new raw — including a LATE batch
    whose rows land inside the historical time range. Integer-valued
    doubles keep float sums exactly associative so equality is exact."""
    import random

    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark import cascade_update

    rng = random.Random(23)
    res = [10.0, 60.0, 600.0]
    old_rows = [(k, float(rng.randrange(0, 1000)),
                 float(rng.randrange(-50, 50)))
                for k in ("a", "b") for _ in range(200)]
    # late + new-range + new-key rows
    new_rows = ([("a", float(rng.randrange(0, 1000)),
                  float(rng.randrange(-50, 50))) for _ in range(50)]
                + [("c", float(rng.randrange(1000, 1500)),
                    float(rng.randrange(0, 10))) for _ in range(30)])
    schema = "k string, t double, v double"
    old = spark.createDataFrame(old_rows, schema)
    new = spark.createDataFrame(new_rows, schema)

    tiers = downsample_cascade(old, ["k"], "t", "v", res)
    got = {(r.k, r.resolution, r.bucket):
           (r.n, r.sum, r.min, r.max, round(r.avg, 9))
           for r in cascade_update(tiers, new, ["k"], "t", "v",
                                   res).collect()}
    want = {(r.k, r.resolution, r.bucket):
            (r.n, r.sum, r.min, r.max, round(r.avg, 9))
            for r in downsample_cascade(old.unionByName(new),
                                        ["k"], "t", "v", res).collect()}
    assert got == want
    # updates compose: a second batch folds into the updated tiers
    third = spark.createDataFrame(
        [("b", 42.0, 7.0), ("c", 1400.0, 3.0)], schema)
    got2 = {(r.k, r.resolution, r.bucket): (r.n, r.sum)
            for r in cascade_update(
                cascade_update(tiers, new, ["k"], "t", "v", res),
                third, ["k"], "t", "v", res).collect()}
    want2 = {(r.k, r.resolution, r.bucket): (r.n, r.sum)
             for r in downsample_cascade(
                 old.unionByName(new).unionByName(third),
                 ["k"], "t", "v", res).collect()}
    assert got2 == want2
    spark.catalog.clearCache()


def test_merge_intervals_against_duckdb_oracle(spark, duck):
    """Gaps-and-islands merge: random intervals vs the identical SQL on
    DuckDB (touching intervals coalesce, distinct islands stay apart)."""
    import random

    from tests.conftest import assert_df_matches_oracle
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark import merge_intervals

    rng = random.Random(7)
    rows = [(k, float(s), float(s + rng.randrange(1, 15)))
            for k in ("x", "y") for s in rng.sample(range(100), 40)]
    df = spark.createDataFrame(rows, "k string, s double, e double")
    df.createOrReplaceTempView("iv_spark")
    duck.sql("drop table if exists iv")
    duck.sql("create table iv as select * from (values "
             + ",".join(f"('{k}', {s}, {e})" for k, s, e in rows)
             + ") t(k, s, e)")
    got = merge_intervals(df, ["k"], "s", "e")
    assert_df_matches_oracle(got, duck, """
        with w as (
          select k, s, e,
                 max(e) over (partition by k order by s, e
                              rows between unbounded preceding
                              and 1 preceding) as pm
          from iv),
        isl as (
          select k, s, e,
                 sum(case when pm is null or s > pm then 1 else 0 end)
                   over (partition by k order by s, e
                         rows between unbounded preceding
                         and current row) as island
          from w)
        select k, min(s) as s, max(e) as e, count(*) as n_merged
        from isl group by k, island
    """)
    # sanity: merged spans are disjoint and ordered per key
    spans = {}
    for r in got.collect():
        spans.setdefault(r.k, []).append((r.s, r.e))
    for v in spans.values():
        v.sort()
        assert all(a_e < b_s for (_, a_e), (b_s, _) in zip(v, v[1:]))


def test_funnel_ordered_horizon_and_stalls(spark):
    """funnel: strict ordering (same-timestamp doesn't count), horizon
    anchored at step 1, stalls leave NULL tails, keys without step 1
    are absent."""
    import pytest

    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark import funnel

    rows = [
        # u1 completes in order
        (1, 10.0, "view"), (1, 20.0, "click"), (1, 30.0, "buy"),
        # u2: click BEFORE view -> stalls at step 1
        (2, 10.0, "click"), (2, 20.0, "view"),
        # u3: click at the SAME time as view -> strict > means stall
        (3, 10.0, "view"), (3, 10.0, "click"),
        # u4: completes but outside horizon
        (4, 10.0, "view"), (4, 500.0, "click"),
        # u5: never views -> no row
        (5, 10.0, "click"), (5, 20.0, "buy"),
        # u6: earliest view counts, later duplicate views ignored
        (6, 10.0, "view"), (6, 50.0, "view"), (6, 60.0, "click"),
    ]
    df = spark.createDataFrame(rows, "user long, t double, e string")
    out = {r.user: r for r in
           funnel(df, ["user"], "t", "e", ["view", "click", "buy"],
                  horizon=100.0).collect()}
    assert set(out) == {1, 2, 3, 4, 6}
    assert (out[1].step_1_t, out[1].step_2_t, out[1].step_3_t) == (10, 20, 30)
    assert out[1].steps_completed == 3
    assert out[2].step_2_t is None and out[2].steps_completed == 1
    assert out[3].step_2_t is None
    assert out[4].step_2_t is None  # 500 > 10 + 100 horizon
    assert out[6].step_1_t == 10.0 and out[6].step_2_t == 60.0
    with pytest.raises(ValueError):
        funnel(df, ["user"], "t", "e", ["view"])


def test_funnel_per_session_counts_restarted_attempts(spark):
    """The docstring's restart example: the greedy single-anchor funnel
    reports a stall, the per-session funnel finds the converted second
    attempt."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark import (
        funnel, funnel_per_session,
    )

    day = 86_400.0
    rows = [(1, 0.0, "view"), (1, 4 * day, "view"), (1, 5 * day, "click")]
    df = spark.createDataFrame(rows, "user long, t double, e string")
    greedy = funnel(df, ["user"], "t", "e", ["view", "click"],
                    horizon=3 * day).first()
    assert greedy.steps_completed == 1            # anchored at day 0
    per = {r.session_id: r.steps_completed for r in
           funnel_per_session(df, ["user"], "t", "e", ["view", "click"],
                              gap=2 * day, horizon=3 * day).collect()}
    assert per == {0: 1, 1: 2}                    # attempt 2 converts


def test_windowed_agg_batch_against_duckdb(spark, duck):
    """Tumbling AND hopping batch windows vs the equivalent SQL on
    DuckDB (hopping = generate_series of covering window starts)."""
    import random

    from tests.conftest import assert_df_matches_oracle
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark import windowed_agg_batch

    rng = random.Random(3)
    rows = [(k, rng.randrange(0, 1000), float(rng.randrange(100)))
            for k in ("a", "b") for _ in range(300)]
    df = spark.createDataFrame(rows, "k string, t long, v double")
    duck.sql("drop table if exists wev")
    duck.sql("create table wev as select * from (values "
             + ",".join(f"('{k}', {t}, {v})" for k, t, v in rows)
             + ") t(k, t, v)")
    aggs = {"n": F.count(F.lit(1)), "sum_v": F.round(F.sum("v"), 6)}

    tumb = windowed_agg_batch(df, ["k"], "t", aggs, width=100)
    assert_df_matches_oracle(tumb, duck, """
        select k, cast(floor(t / 100.0) * 100 as bigint) as window_start,
               cast(floor(t / 100.0) * 100 + 100 as bigint) as window_end,
               count(*) as n, round(sum(v)::DOUBLE, 6) as sum_v
        from wev group by 1, 2, 3
    """)

    hop = windowed_agg_batch(df, ["k"], "t", aggs, width=100, slide=40)
    assert_df_matches_oracle(hop, duck, """
        with cov as (
          select k, t, v, ws
          from wev, unnest(generate_series(
                 (cast(floor((t - 100.0) / 40) as bigint) + 1) * 40,
                 cast(floor(t / 40.0) as bigint) * 40, 40)) u(ws))
        select k, ws as window_start, ws + 100 as window_end,
               count(*) as n, round(sum(v)::DOUBLE, 6) as sum_v
        from cov group by 1, 2, 3
    """)

    import pytest
    with pytest.raises(ValueError):
        windowed_agg_batch(df, ["k"], "t", aggs, width=100, slide=200)
    with pytest.raises(ValueError):
        windowed_agg_batch(df, ["k"], "t", aggs, width=0)


def test_windowed_agg_batch_fractional_width(spark):
    """Fractional width/slide produce correct fractional window bounds
    (a long-cast here once merged distinct windows silently)."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark import windowed_agg_batch

    df = spark.createDataFrame([(0.6, 10.0), (1.2, 100.0), (1.7, 1000.0)],
                               "t double, v double")
    got = {(r.window_start, r.window_end): r.s
           for r in windowed_agg_batch(df, [], "t",
                                       {"s": F.sum("v")},
                                       width=0.5).collect()}
    assert got == {(0.5, 1.0): 10.0, (1.0, 1.5): 100.0,
                   (1.5, 2.0): 1000.0}


def test_running_agg_chunked_matches_plain(spark):
    """The two-phase chunked plan is observationally identical to the
    single-window plan — including RANGE-frame tie semantics (equal
    order values aggregate together) and negative order values."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark import running_agg

    df = spark.range(5000).select(
        (F.col("id") % 7).alias("k"),
        # ties: every third row shares its order value; negatives too
        ((F.col("id") * 13 % 400) - 50).cast("double").alias("t"),
        ((F.col("id") * 31) % 97).cast("double").alias("v"))
    aggs = {"rsum": ("sum", "v"), "rmin": ("min", "v"),
            "rmax": ("max", "v"), "rcnt": ("count", None)}

    def rows(d):
        return sorted(tuple(r) for r in
                      d.select("k", "t", "v", "rsum", "rmin", "rmax",
                               "rcnt").collect())

    plain = rows(running_agg(df, ["k"], "t", aggs))
    for width in (7.0, 100.0, 1000.0):
        assert rows(running_agg(df, ["k"], "t", aggs,
                                chunk_width=width)) == plain

    import pytest
    with pytest.raises(ValueError, match="unsupported"):
        running_agg(df, ["k"], "t", {"a": ("avg", "v")})
    with pytest.raises(ValueError, match="chunk_width"):
        running_agg(df, ["k"], "t", aggs, chunk_width=0)


def test_running_agg_chunked_measured_skew_spread(spark):
    """Measured evidence for the chunking rationale (mirrors
    test_salted_join_measured_skew_spread): with one bot key carrying
    ~90% of the rows, the plain window lands that key's entire stream
    on ONE task, while the chunked plan bounds every task by the
    per-chunk row count. Partition row counts are the deterministic
    cause of task-time spread; wall-clock itself is box noise."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark import running_agg

    n_hot, n_cold, n_keys = 60_000, 500, 14
    hot = spark.range(n_hot).select(
        F.lit(0).alias("k"), F.col("id").cast("double").alias("t"),
        F.lit(1.0).alias("v"))
    cold = spark.range(n_cold * (n_keys - 1)).select(
        (F.col("id") % (n_keys - 1) + 1).alias("k"),
        (F.col("id") * 3).cast("double").alias("t"), F.lit(1.0).alias("v"))
    df = hot.unionAll(cold)
    aggs = {"rsum": ("sum", "v")}

    prev_coalesce = spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
                   "false")
    try:
        def partition_shares(d):
            # the aggregate must CONSUME the running column: otherwise
            # column pruning deletes the unused window (and its
            # exchange) and _pid would reflect the raw scan layout
            sizes = [r.cnt for r in
                     d.withColumn("_pid", F.spark_partition_id())
                      .groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt"),
                                           F.sum("rsum"))
                      .collect()]
            return max(sizes) / sum(sizes)

        plain = running_agg(df, ["k"], "t", aggs)
        chunked = running_agg(df, ["k"], "t", aggs, chunk_width=1000.0)
        # same answers on the hot key's tail
        assert plain.where("k = 0 and t = 59999").collect()[0]["rsum"] \
            == chunked.where("k = 0 and t = 59999").collect()[0]["rsum"] \
            == float(n_hot)
        # plain: the bot key (~90% of rows) is one task
        assert partition_shares(plain) >= 0.8
        # chunked: the bot's 60 chunks hash across the 32 reducers; a
        # reducer holds a handful of 1000-row chunks, never the key
        # (bound leaves room for hash clumping, still 4x under plain)
        assert partition_shares(chunked) <= 0.2
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
                       prev_coalesce)


def test_running_agg_last_is_chunked_locf(spark):
    """fn='last' = running LOCF: the chunked plan must reproduce the
    plain window's last-non-null exactly (unique order per key, nulls
    interleaved, leading nulls stay null across chunk boundaries)."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark import running_agg

    df = spark.range(4000).select(
        (F.col("id") % 5).alias("k"),
        (F.col("id") * 7 % 7919).cast("double").alias("t"),
        F.when((F.col("id") % 3) == 0,
               (F.col("id") % 89).cast("double")).alias("v"))

    def rows(d):
        return sorted(
            ((r.k, r.t, r.v, r.locf) for r in d.collect()),
            key=lambda x: (x[0], x[1]))

    plain = rows(running_agg(df, ["k"], "t", {"locf": ("last", "v")}))
    # sanity: LOCF really fills gaps and leaves leading nulls
    assert any(v is None and f is not None for _, _, v, f in plain)
    assert any(f is None for _, _, _, f in plain)
    for width in (50.0, 500.0, 100000.0):
        assert rows(running_agg(df, ["k"], "t", {"locf": ("last", "v")},
                                chunk_width=width)) == plain
    # mixed with the other aggs in one call
    mixed = running_agg(df, ["k"], "t",
                        {"locf": ("last", "v"), "rc": ("count", None)},
                        chunk_width=100.0)
    assert mixed.where("rc is null").count() == 0


def _loo_oracle(vals, idx, lo, hi):
    """Leave-one-out mean/std of vals[lo:hi] excluding index idx."""
    import math
    base = [v for j, v in enumerate(vals[lo:hi], start=lo)
            if j != idx and v is not None]
    n = len(base)
    if n < 2:
        return n, None, None
    mean = sum(base) / n
    var = max((sum(v * v for v in base) - n * mean * mean) / (n - 1), 0.0)
    return n, mean, math.sqrt(var)


def test_detect_anomalies_rows_mode_matches_python_oracle(spark):
    """n= mode: zscore equals the hand-computed leave-one-out trailing
    baseline (the frame excludes the current row by construction)."""
    import random

    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark import detect_anomalies

    rng = random.Random(11)
    vals = [rng.gauss(10.0, 2.0) for _ in range(60)]
    vals[30] = 60.0                               # planted spike
    vals[12] = None                               # null observation
    rows = [("k", float(i), v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k string, t double, v double")
    got = {r.t: r for r in detect_anomalies(
        df, ["k"], "t", "v", n=8, threshold=5.0).collect()}
    for i, v in enumerate(vals):
        r = got[float(i)]
        n, mean, std = _loo_oracle(vals, -1, max(0, i - 8), i)
        if v is None or mean is None or n < 5 or std == 0:
            if v is None or n < 5:
                assert r.zscore is None
            assert not r.is_anomaly or r.zscore is not None
            continue
        assert abs(r.baseline_mean - mean) < 1e-9
        assert abs(r.zscore - (v - mean) / std) < 1e-9
    assert got[30.0].is_anomaly
    assert sum(1 for r in got.values() if r.is_anomaly) == 1


def test_detect_anomalies_range_mode_leave_one_out(spark):
    """width= mode subtracts the current row from the range frame: a
    spike's baseline stats equal the neighbours-only computation, so
    the spike cannot mask itself."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark import detect_anomalies

    vals = [5.0, 5.2, 4.8, 5.1, 4.9, 5.0, 100.0, 5.05, 4.95]
    rows = [("k", float(i), v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k string, t double, v double")
    got = {r.t: r for r in detect_anomalies(
        df, ["k"], "t", "v", width=6.0, threshold=4.0).collect()}
    spike = got[6.0]
    n, mean, std = _loo_oracle(vals, 6, 0, 7)
    assert abs(spike.baseline_mean - mean) < 1e-9
    assert abs(spike.baseline_std - std) < 1e-9
    assert spike.is_anomaly and abs(spike.zscore) > 4.0
    # the two rows after the spike inherit it in THEIR baseline: huge
    # std -> not anomalous, but never None once warm
    assert not got[7.0].is_anomaly and got[7.0].zscore is not None
    # warm-up rows (fewer than min_points in baseline) are unflagged
    assert got[0.0].zscore is None and not got[0.0].is_anomaly


def test_detect_anomalies_against_duckdb_window_oracle(spark, duck):
    """Range-frame leave-one-out arithmetic reproduced verbatim as an
    ANSI window query on the events table (sf0.001)."""
    from tests.conftest import SF_DIR, assert_df_matches_oracle
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark import detect_anomalies
    import __spark_entry__ as e

    raw = spark.read.parquet(f"{SF_DIR}/events.parquet")
    e.prepare_session(spark)
    ev = raw.select("user_id", (e._ts_us(raw) / 1e6).alias("t"), "value")
    got = (detect_anomalies(ev, ["user_id"], "t", "value",
                            width=86400.0, threshold=2.5)
           .where(F.col("zscore").isNotNull())
           .select("user_id", "t", F.round("zscore", 3).alias("z"),
                   "is_anomaly"))
    assert_df_matches_oracle(got, duck, """
        with ev as (
          select user_id, epoch_us(ts)/1e6 as t, value from events),
        w as (
          select user_id, t, value,
            count(value) over fr - case when value is not null
                                        then 1 else 0 end as cnt,
            sum(value) over fr - coalesce(value, 0) as s1,
            sum(value*value) over fr - coalesce(value*value, 0) as s2
          from ev
          window fr as (partition by user_id order by t
                        range between 86400.0 preceding and current row)),
        z as (
          select user_id, t, value, cnt, s1/cnt as mean,
            sqrt(greatest((s2 - cnt*(s1/cnt)*(s1/cnt))/(cnt-1), 0)) as std
          from w)
        select user_id, t,
               round((value - mean)/std, 3) as z,
               abs((value - mean)/std) > 2.5 as is_anomaly
        from z
        where value is not null and cnt >= 5 and std > 0
    """)


def test_detect_anomalies_multi_matches_per_channel_and_rms(spark):
    """r7 multichannel anomalies: each channel's zscore_<c> equals the
    single-channel operator's zscore on that channel (identical
    arithmetic, both frame modes), and the joint score is the RMS over
    valid channels — NULL when no channel has a valid baseline."""
    import math

    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark import (
        detect_anomalies, detect_anomalies_multi,
    )
    rows = []
    for k in range(2):
        for t in range(30):
            va = float(t % 5) + k
            vb = None if (k == 1 and t == 7) else float((t * 3) % 7)
            if t == 20:
                va, vb = 50.0, -40.0          # joint spike
            rows.append((k, float(t), va, vb))
    df = spark.createDataFrame(rows, "k int, t double, va double, vb double")

    for kw in (dict(n=8), dict(width=8.0)):
        got = {(r.k, r.t): r for r in
               detect_anomalies_multi(df, ["k"], "t", ["va", "vb"],
                                      min_points=4, **kw).collect()}
        for c in ("va", "vb"):
            single = {(r.k, r.t): r.zscore for r in
                      detect_anomalies(df, ["k"], "t", c,
                                       min_points=4, **kw).collect()}
            for key, r in got.items():
                zc = getattr(r, f"zscore_{c}")
                if single[key] is None:
                    assert zc is None, (key, c)
                else:
                    assert zc is not None and \
                        abs(zc - single[key]) < 1e-9, (key, c)
        for key, r in got.items():
            zs = [z for z in (r.zscore_va, r.zscore_vb) if z is not None]
            if not zs:
                assert r.score is None and not r.is_anomaly
            else:
                rms = math.sqrt(sum(z * z for z in zs) / len(zs))
                assert abs(r.score - rms) < 1e-9
                assert r.is_anomaly == (rms > 3.0)
        # the planted joint spike is flagged in both keys
        assert got[(0, 20.0)].is_anomaly and got[(1, 20.0)].is_anomaly


def test_detect_anomalies_multi_plan_single_window(spark):
    """All 3*d aggregates share one frame in one projection → ONE
    Window node, one exchange — channels widen the plan, never
    multiply it."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark import detect_anomalies_multi
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.plans.inspect import (
        count_exchanges, formatted_plan,
    )
    df = spark.createDataFrame(
        [(0, float(t), float(t), float(t * 2), float(t % 3))
         for t in range(20)],
        "k int, t double, a double, b double, c double")
    out = detect_anomalies_multi(df, ["k"], "t", ["a", "b", "c"], n=5)
    plan = formatted_plan(out)
    n_windows = len([ln for ln in plan.splitlines()
                     if ln.strip().startswith("(") and "Window" in ln])
    assert n_windows == 1, plan
    assert count_exchanges(out) == 1


# --------------------------------------------------- r13: pose interpolation


def _slerp_numpy(qa, qb, a):
    """Independent shortest-path slerp oracle (unit quaternions)."""
    import numpy as np
    qa, qb = np.asarray(qa, float), np.asarray(qb, float)
    d = float(qa @ qb)
    if d < 0:
        qb, d = -qb, -d
    d = min(d, 1.0)
    if d > 1.0 - 1e-9:
        q = (1 - a) * qa + a * qb
        return q / np.linalg.norm(q)
    th = np.arccos(d)
    return (np.sin((1 - a) * th) * qa + np.sin(a * th) * qb) / np.sin(th)


def test_interpolate_poses_matches_numpy_slerp(spark):
    import numpy as np

    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark import (
        interpolate_poses,
    )
    rng = np.random.default_rng(13)
    # 5 pose samples at t = 0, 10, 20, 30, 40 with random unit quats
    times = [0.0, 10.0, 20.0, 30.0, 40.0]
    quats = rng.standard_normal((5, 4))
    quats /= np.linalg.norm(quats, axis=1, keepdims=True)
    trans = rng.uniform(-10, 10, (5, 3))
    poses = spark.createDataFrame(
        [("a", t, *map(float, q), *map(float, tr))
         for t, q, tr in zip(times, quats, trans)],
        "k string, t double, qw double, qx double, qy double, "
        "qz double, tx double, ty double, tz double")
    # query times: interior, exact sample hits, and out-of-range
    qts = [3.0, 10.0, 17.5, 25.0, 39.999, -5.0, 55.0]
    pts = spark.createDataFrame([("a", float(t), i)
                                 for i, t in enumerate(qts)],
                                "k string, t double, i int")
    got = {r["i"]: r for r in
           interpolate_poses(pts, poses, on="t", by=["k"]).collect()}
    for i, t in enumerate(qts):
        j = int(np.searchsorted(times, t, side="right")) - 1
        if t <= times[0]:
            wq, wt = quats[0], trans[0]           # clamped
        elif t >= times[-1]:
            wq, wt = quats[-1], trans[-1]
        else:
            a = (t - times[j]) / (times[j + 1] - times[j])
            wq = _slerp_numpy(quats[j], quats[j + 1], a)
            wt = trans[j] + a * (trans[j + 1] - trans[j])
        g = got[i]
        gq = np.array([g["qw"], g["qx"], g["qy"], g["qz"]])
        # q and -q are the same rotation: compare up to sign
        if gq @ wq < 0:
            gq = -gq
        assert np.allclose(gq, wq, atol=1e-9), (i, t)
        assert np.allclose([g["tx"], g["ty"], g["tz"]], wt,
                           atol=1e-9), (i, t)
    # endpoint continuity: exact sample times reproduce the samples
    g = got[1]
    assert np.allclose([g["qw"], g["qx"], g["qy"], g["qz"]],
                       quats[1], atol=1e-12)


def test_interpolate_poses_double_cover_and_nulls(spark):
    """A negated bracketing quaternion (same rotation, opposite sign)
    must slerp the SHORT way; groups with no poses yield NULLs."""
    import numpy as np

    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark import (
        interpolate_poses,
    )
    # identity -> 90-degree yaw, stored with flipped sign
    q0 = np.array([1.0, 0.0, 0.0, 0.0])
    q1 = -np.array([np.cos(np.pi / 4), 0.0, 0.0, np.sin(np.pi / 4)])
    poses = spark.createDataFrame(
        [("a", 0.0, *map(float, q0), 0.0, 0.0, 0.0),
         ("a", 1.0, *map(float, q1), 2.0, 4.0, 6.0)],
        "k string, t double, qw double, qx double, qy double, "
        "qz double, tx double, ty double, tz double")
    pts = spark.createDataFrame([("a", 0.5, 0), ("orphan", 0.5, 1)],
                                "k string, t double, i int")
    got = {r["i"]: r for r in
           interpolate_poses(pts, poses, on="t", by=["k"]).collect()}
    g = got[0]
    gq = np.array([g["qw"], g["qx"], g["qy"], g["qz"]])
    want = _slerp_numpy(q0, q1, 0.5)     # 45-degree yaw (short path)
    if gq @ want < 0:
        gq = -gq
    assert np.allclose(gq, want, atol=1e-12)
    # the short path passes through 45 deg, not 135: |qw| = cos(22.5)
    assert abs(abs(g["qw"]) - np.cos(np.pi / 8)) < 1e-12
    assert np.allclose([g["tx"], g["ty"], g["tz"]], [1.0, 2.0, 3.0])
    orphan = got[1]
    assert orphan["qw"] is None and orphan["tx"] is None


def test_interpolate_poses_single_exchange_and_composes(spark):
    """One hash partitioning serves both window directions (same
    exchange budget as asof_join nearest); composes with
    transform_points so interpolated poses drive the transform."""
    import numpy as np

    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark import (
        interpolate_poses,
    )
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.operators.sensors import (
        transform_points,
    )
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.plans import (
        count_exchanges, formatted_plan,
    )
    poses = spark.createDataFrame(
        [("a", 0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0),
         ("a", 2.0, 1.0, 0.0, 0.0, 0.0, 10.0, 0.0, 0.0)],
        "k string, t double, qw double, qx double, qy double, "
        "qz double, tx double, ty double, tz double")
    pts = spark.createDataFrame(
        [("a", 1.0, 1.0, 2.0, 3.0)],
        "k string, t double, x double, y double, z double")
    posed = interpolate_poses(pts, poses, on="t", by=["k"])
    n_asof = count_exchanges(asof_join(pts, poses, on="t", by=["k"],
                                       direction="nearest"))
    assert count_exchanges(posed) <= n_asof
    plan = formatted_plan(posed)
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    out = transform_points(posed).collect()[0]
    # identity rotation, translation lerped to (5, 0, 0) at t=1
    assert np.allclose((out["x_t"], out["y_t"], out["z_t"]),
                       (6.0, 2.0, 3.0), atol=1e-12)
