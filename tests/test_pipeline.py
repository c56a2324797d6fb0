"""Pipeline parity tests.

The geometry tests check the Arrow kernel against an independent
pure-Python oracle of the documented reference semantics
(detect_scenes.py:13-112 — nearest lane point with strict 1000 cutoff,
x-only between-ness over adjacent lane pairs, 4 bbox corners, first pair
wins; ``tests/scene_oracle.py``) on seeded random scenes.
"""

import random

import pytest
from pyspark.sql import functions as F

from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.pipeline import (
    detect_scenes, objects_in_lane, objects_in_lane_by_key,
    parse_reference_json, people_in_scene,
    summarize_person_scenes,
    synchronize_topics,
)
from tests.conftest import SF_DIR, assert_df_matches_oracle
from tests.scene_oracle import as_tuples, oracle_objects_in_lane

KEYS = ["bag_file"]


def _random_scene(rng):
    lanes = [[(rng.uniform(0, 100) + 40 * k, rng.uniform(0, 100))
              for _ in range(rng.randint(0, 5))] for k in range(rng.randint(0, 4))]
    objects = [(rng.uniform(0, 200), rng.uniform(0, 100),
                rng.uniform(1, 30), rng.uniform(1, 30),
                rng.choice(["person", "car", "bicycle"]))
               for _ in range(rng.randint(0, 5))]
    return objects, lanes


def test_objects_in_lane_matches_python_oracle(spark):
    rng = random.Random(7)
    scenes = [_random_scene(rng) for _ in range(60)]
    rows = [
        (i,
         [{"x": x, "y": y, "width": w, "height": h, "Class": c}
          for x, y, w, h, c in objs],
         [{"image_points": [{"x": px, "y": py} for px, py in lane]}
          for lane in lanes])
        for i, (objs, lanes) in enumerate(scenes)
    ]
    df = spark.createDataFrame(
        rows,
        "id long, dets array<struct<x:double,y:double,width:double,"
        "height:double,Class:string>>, "
        "lanes array<struct<image_points:array<struct<x:double,y:double>>>>")
    got = {r.id: r.oil for r in
           df.select("id", objects_in_lane("dets", "lanes").alias("oil")).collect()}
    for i, (objs, lanes) in enumerate(scenes):
        assert as_tuples(got[i]) == oracle_objects_in_lane(objs, lanes), \
            f"scene {i}"


def test_objects_in_lane_null_inputs(spark):
    df = spark.createDataFrame(
        [(1, None, None)],
        "id long, dets array<struct<x:double,y:double,width:double,"
        "height:double,Class:string>>, "
        "lanes array<struct<image_points:array<struct<x:double,y:double>>>>")
    got = df.select(objects_in_lane("dets", "lanes").alias("o")).collect()
    assert got[0].o is None


def test_objects_in_lane_by_key_matches_oracle_and_expression(spark):
    """The frame form must agree with the Python oracle on random scenes,
    including empty/point-free lanes, empty detections, and null rows."""
    rng = random.Random(13)
    scenes = [_random_scene(rng) for _ in range(60)]
    rows = [
        (i,
         [{"x": x, "y": y, "width": w, "height": h, "Class": c}
          for x, y, w, h, c in objs],
         [{"image_points": [{"x": px, "y": py} for px, py in lane]}
          for lane in lanes])
        for i, (objs, lanes) in enumerate(scenes)
    ]
    rows.append((len(scenes), None, None))  # null row → null output
    schema = ("id long, dets array<struct<x:double,y:double,width:double,"
              "height:double,Class:string>>, "
              "lanes array<struct<image_points:array<struct<x:double,y:double>>>>")
    df = spark.createDataFrame(rows, schema)
    got = {r.id: r.oil for r in
           objects_in_lane_by_key(df, "dets", "lanes", ["id"],
                                  out_col="oil").collect()}
    assert got[len(scenes)] is None
    for i, (objs, lanes) in enumerate(scenes):
        assert as_tuples(got[i]) == oracle_objects_in_lane(objs, lanes), \
            f"scene {i}"


@pytest.mark.parametrize("null_at", ["image_points", "lane"])
def test_kernel_skips_child_values_under_null_slots(null_at):
    """Arrow lets a null list or struct slot span child values. The
    kernel must not read them: row 0's detections are null over a
    detection that would hit, and row 1's middle lane is null over a
    point at x=1 that would bracket every corner."""
    import pyarrow as pa

    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.pipeline.scenes import (
        _objects_in_lane_kernel,
    )
    box = {"x": 2.0, "y": 2.0, "width": 4.0, "height": 4.0, "Class": "person"}
    det_t = pa.struct([(c, pa.float64()) for c in ("x", "y", "width", "height")]
                      + [("Class", pa.string())])
    dets = pa.ListArray.from_arrays(
        pa.array([0, 1, 2], pa.int32()), pa.array([box, box], det_t),
        mask=pa.array([True, False]))
    pts = pa.array([{"x": px, "y": 0.0} for px in (-3.0, 10.0, -3.0, 1.0, 10.0)],
                   pa.struct([("x", pa.float64()), ("y", pa.float64())]))
    null = pa.array([False, False, False, True, False])
    ip = pa.ListArray.from_arrays(
        pa.array(range(6), pa.int32()), pts,
        mask=null if null_at == "image_points" else None)
    lane_structs = pa.StructArray.from_arrays(
        [ip], names=["image_points"], mask=null if null_at == "lane" else None)
    lanes = pa.ListArray.from_arrays(pa.array([0, 2, 5], pa.int32()),
                                     lane_structs)
    assert _objects_in_lane_kernel(dets, lanes).to_pylist() == [None, []]


def test_q_scene_geometry_matches_duckdb_oracle(spark, duck):
    """The contract query's rows against its DuckDB mirror."""
    import __spark_entry__ as entry

    assert_df_matches_oracle(entry.q_scene_geometry(spark, SF_DIR), duck,
                             entry.oracle_sql()["q_scene_geometry"])


# ---------- synchronize ----------

@pytest.fixture(scope="module")
def topic_dfs(spark):
    steering = spark.createDataFrame(
        [("b1", 0.00, 0.1), ("b1", 0.10, 0.2), ("b1", 0.32, 0.3),
         ("b2", 5.00, 9.0), ("b2", 5.25, 9.5)],
        "bag_file string, Time double, angle double")
    gps = spark.createDataFrame(
        [("b1", 0.05, 10.0), ("b1", 0.31, 11.0)],
        "bag_file string, Time double, x double")
    return {"steering": steering, "gps": gps}


def test_synchronize_topics_grid_and_locf(topic_dfs):
    out = synchronize_topics(topic_dfs, KEYS, step=0.1)
    rows = {(r.bag_file, round(r.Time, 1)): r for r in out.collect()}
    # b1 spans ticks 0.0..0.3, b2 5.0..5.2
    assert {k for k in rows} == {("b1", 0.0), ("b1", 0.1), ("b1", 0.2),
                                 ("b1", 0.3), ("b2", 5.0), ("b2", 5.1),
                                 ("b2", 5.2)}
    assert rows[("b1", 0.0)].steering.angle == 0.1
    assert rows[("b1", 0.0)].gps is None          # gps starts at 0.05
    assert rows[("b1", 0.1)].gps.x == 10.0        # carried from 0.05
    assert rows[("b1", 0.2)].steering.angle == 0.2  # carried from 0.10
    assert rows[("b1", 0.3)].steering.angle == 0.2  # 0.32 lands after tick
    assert rows[("b1", 0.3)].gps.x == 10.0          # 0.31 lands after tick
    assert rows[("b2", 5.2)].steering.angle == 9.0  # 5.25 lands after tick
    assert rows[("b2", 5.0)].gps is None          # never observed in b2


def test_synchronize_topics_json_mode(topic_dfs):
    out = synchronize_topics(topic_dfs, KEYS, step=0.1, as_json=True)
    r = [x for x in out.collect() if x.bag_file == "b1" and round(x.Time, 1) == 0.0][0]
    assert r.steering == '{"angle":0.1}'


def test_synchronize_topics_columns_keep_own_fields(spark):
    """Each synced column is its own topic's payload struct — no
    superset struct merged from the other topics' fields."""
    gps = spark.createDataFrame([("b1", 0.0, 1.0, 2.0)],
                                "bag_file string, Time double, lat double, lon double")
    imu = spark.createDataFrame([("b1", 0.05, [1.0, 2.0], 7)],
                                "bag_file string, Time double, acc array<double>, seq int")
    steer = spark.createDataFrame([("b1", 0.1, "left")],
                                  "bag_file string, Time double, mode string")
    out = synchronize_topics({"steering": steer, "imu": imu, "gps": gps},
                             KEYS, step=0.1)
    assert out.columns == ["bag_file", "Time", "gps", "imu", "steering"]
    fields = {c: [(f.name, f.dataType.simpleString())
                  for f in out.schema[c].dataType.fields]
              for c in ("gps", "imu", "steering")}
    assert fields == {"gps": [("lat", "double"), ("lon", "double")],
                      "imu": [("acc", "array<double>"), ("seq", "int")],
                      "steering": [("mode", "string")]}
    rows = {round(r.Time, 1): r for r in out.collect()}
    assert rows[0.1].gps.lat == 1.0 and rows[0.1].imu.seq == 7
    assert rows[0.1].steering.mode == "left"
    assert rows[0.0].imu is None and rows[0.0].steering is None


def test_synchronize_topics_grid_edge_cases(spark):
    a = spark.createDataFrame(
        [("b1", 0.05, 1.0),                 # first observation off-grid
         ("b1", 0.30000000000000004, 2.0),  # == 3 * 0.1 exactly
         ("b1", 0.4, 3.0),                  # 0.4 / 0.1 float artifact
         ("b1", 0.47, 4.0)],                # after the last tick (0.4)
        "bag_file string, Time double, va double")
    b = spark.createDataFrame(
        [("b1", 0.2, 10.0),                 # exactly on a tick
         ("b1", 0.4, 20.0)],                # same instant as a's 0.4
        "bag_file string, Time double, vb double")
    out = synchronize_topics({"a": a, "b": b}, KEYS, step=0.1)
    got = sorted((r.Time, r.a and r.a.va, r.b and r.b.vb)
                 for r in out.collect())
    assert [round(t, 9) for t, _, _ in got] == [0.0, 0.1, 0.2, 0.3, 0.4]
    assert [(va, vb) for _, va, vb in got] == [
        (None, None),     # pre-tick before the first observation
        (1.0, None),
        (1.0, 10.0),      # b on the tick lands on it
        (2.0, 10.0),      # 0.30000000000000004 lands on tick 3
        (3.0, 20.0),      # both topics at 0.4 land together; 0.47 is past
    ]


def test_synchronize_topics_time_ns_integer_step(spark):
    step = 100_000_000
    t0 = 1_700_000_000_000_000_000
    a = spark.createDataFrame(
        [("b1", t0 + 50_000_000, 1.0), ("b1", t0 + 200_000_000, 2.0),
         ("b1", t0 + 200_000_001, 3.0)],
        "bag_file string, time_ns long, v double")
    b = spark.createDataFrame([("b1", t0 + 100_000_000, 5)],
                              "bag_file string, time_ns long, n int")
    out = synchronize_topics({"a": a, "b": b}, KEYS, time_col="time_ns",
                             step=step)
    assert out.schema["time_ns"].dataType.simpleString() == "bigint"
    got = sorted((r.time_ns, r.a and r.a.v, r.b and r.b.n)
                 for r in out.collect())
    assert got == [(t0, None, None), (t0 + step, 1.0, 5),
                   (t0 + 2 * step, 2.0, 5)]


@pytest.mark.parametrize("ttype,step,expect", [
    ("double", 0.1, "double"), ("float", 0.1, "double"),
    ("bigint", 100, "bigint"), ("int", 100, "bigint"),
    ("bigint", 0.5, "double"),
])
def test_synchronize_topics_time_type_unchanged(spark, ttype, step, expect):
    """The grid time column keeps the type the signals ∪ ``tick·step``
    union gives: long times with an integer step stay long, a
    fractional step makes them double."""
    df = spark.createDataFrame([("b1", 1, 1.0), ("b1", 2, 2.0)],
                               "bag_file string, Time int, v double") \
        .withColumn("Time", F.col("Time").cast(ttype))
    out = synchronize_topics({"a": df, "b": df}, KEYS, step=step)
    assert out.schema["Time"].dataType.simpleString() == expect
    assert out.count() == round(1 / step) + 1


# ---------- scene summarization ----------

def test_summarize_person_scenes(spark):
    person = {"x": 1.0, "y": 1.0, "width": 1.0, "height": 1.0,
              "Class": "person", "corners_in_lane": 1, "lanes": ["between_0_and_1"]}
    rows = [
        ("b1", 0.0, []), ("b1", 0.1, [person]), ("b1", 0.2, [person]),
        ("b1", 0.3, []), ("b1", 0.4, None), ("b1", 0.5, [person]),
    ]
    df = spark.createDataFrame(
        rows,
        "bag_file string, Time double, objects_in_lane array<struct<"
        "x:double,y:double,width:double,height:double,Class:string,"
        "corners_in_lane:int,lanes:array<string>>>")
    got = summarize_person_scenes(df, KEYS, topics_analyzed="a,b").collect()
    scenes = sorted((r.start_time, r.end_time) for r in got)
    # null row at 0.4 is dropped from the state stream; scene 2 never closes
    assert scenes == [(0.1, 0.3), (0.5, None)]
    r0 = [r for r in got if r.start_time == 0.1][0]
    assert r0.scene_id == "b1_PersonInLane_0.1"
    assert r0.scene_length == pytest.approx(0.2)
    assert r0.num_people_in_scene_start == 1
    assert r0.topics_analyzed == "a,b"


def test_reference_pseudo_json_end_to_end(spark):
    """Reference-shaped payloads all the way through detect_scenes →
    summarize_person_scenes: the *_clean cells are single-quoted Python
    reprs with None literals (the actual on-disk shape produced by
    main.py:51-58,110-113), wrapped once more in the to_json payload of
    synchronize_topics (detect_scenes.py:96's double json.loads)."""
    import json

    def det_payload(dets):
        return json.dumps({"detections_bboxes_clean": repr(dets)})

    def lane_payload(lanes):
        return json.dumps(
            {"lanes_clean": repr([{"image_points": lane} for lane in lanes])})

    person = {"x": 100.0, "y": 50.0, "width": 10.0, "height": 10.0,
              "Class": "person"}
    far = {"x": 500.0, "y": 50.0, "width": 4.0, "height": 4.0,
           "Class": "person"}
    # a None-valued field inside the repr must normalize to null, not
    # poison the whole array
    nulled = {"x": 100.0, "y": 50.0, "width": 10.0, "height": 10.0,
              "Class": None}
    lanes = [[{"x": 60.0, "y": 0.0}, {"x": 60.0, "y": 250.0}],
             [{"x": 140.0, "y": 0.0}, {"x": 140.0, "y": 250.0}]]
    rows = [
        ("b1", 0.0, det_payload([far]), lane_payload(lanes)),
        ("b1", 0.1, det_payload([person, far]), lane_payload(lanes)),
        ("b1", 0.2, det_payload([nulled]), lane_payload(lanes)),
        ("b1", 0.3, det_payload([]), lane_payload(lanes)),
    ]
    df = spark.createDataFrame(
        rows, "bag_file string, Time double, det string, lane string")
    parsed = parse_reference_json(df, "det", "lane")
    detected = detect_scenes(parsed, "_detections", "_lanes",
                             keep_cols=["bag_file", "Time"])
    got = {r.Time: r.objects_in_lane for r in detected.collect()}
    assert [o.Class for o in got[0.0]] == []          # x=500 outside lanes
    assert [o.Class for o in got[0.1]] == ["person"]  # x=100 between 60,140
    assert [o.Class for o in got[0.2]] == [None]      # None -> null Class
    assert got[0.3] == []
    scenes = summarize_person_scenes(detected, KEYS).collect()
    assert [(r.start_time, r.end_time) for r in scenes] == [(0.1, 0.2)]


def test_parse_reference_json_strict_first_keeps_apostrophes(spark):
    """Clean-JSON payloads whose string values contain apostrophes (or
    a literal 'None' string) must parse via the strict branch and never
    be rewritten by the pseudo-JSON normalizer — while repr-shaped rows
    in the same column still parse via the fallback."""
    import json

    clean_det = [{"x": 100.0, "y": 50.0, "width": 10.0, "height": 10.0,
                  "Class": "driver's door"}]
    none_str_det = [{"x": 1.0, "y": 2.0, "width": 3.0, "height": 4.0,
                     "Class": "None"}]
    repr_det = [{"x": 5.0, "y": 6.0, "width": 7.0, "height": 8.0,
                 "Class": None}]
    lanes = json.dumps({"lanes_clean": json.dumps(
        [{"image_points": [{"x": 0.0, "y": 0.0}]}])})
    rows = [
        ("clean", json.dumps({"detections_bboxes_clean":
                              json.dumps(clean_det)}), lanes),
        ("none_str", json.dumps({"detections_bboxes_clean":
                                 json.dumps(none_str_det)}), lanes),
        ("reprd", json.dumps({"detections_bboxes_clean":
                              repr(repr_det)}), lanes),
    ]
    df = spark.createDataFrame(rows, "tag string, det string, lane string")
    got = {r.tag: r._detections
           for r in parse_reference_json(df, "det", "lane").collect()}
    assert got["clean"][0].Class == "driver's door"   # not corrupted to null
    assert got["none_str"][0].Class == "None"         # stays the string
    assert got["reprd"][0].Class is None              # fallback still works


def test_people_in_scene_counts_only_persons(spark):
    objs = [{"x": 0.0, "y": 0.0, "width": 1.0, "height": 1.0,
             "Class": "car", "corners_in_lane": 1, "lanes": []},
            {"x": 0.0, "y": 0.0, "width": 1.0, "height": 1.0,
             "Class": "person", "corners_in_lane": 2, "lanes": []}]
    df = spark.createDataFrame(
        [(objs,), (None,)],
        "objects_in_lane array<struct<x:double,y:double,width:double,"
        "height:double,Class:string,corners_in_lane:int,lanes:array<string>>>")
    got = [r.n for r in df.select(people_in_scene().alias("n")).collect()]
    assert sorted(got, key=lambda v: (v is None, v)) == [1, None]
