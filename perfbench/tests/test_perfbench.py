"""Fast checks of the benchmark's own parts at tiny sizes (no Spark).

    python3 -m pytest perfbench/tests -q
"""

import filecmp
import os
import random
import struct
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

import baggen  # noqa: E402
import check  # noqa: E402
from spans import Tracer, covered  # noqa: E402

from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources.rosbag import (  # noqa: E402
    _lz4_frame_decompress, parse_bag_bytes,
)


@pytest.mark.parametrize("family", sorted(baggen.FAMILIES))
def test_generator_is_deterministic(tmp_path, family):
    a = baggen.generate(str(tmp_path / "a"), family, 11, bags=2, seconds=3)
    b = baggen.generate(str(tmp_path / "b"), family, 11, bags=2, seconds=3)
    c = baggen.generate(str(tmp_path / "c"), family, 12, bags=2, seconds=3)
    assert a == b
    names = sorted(a["bags"])
    match, mismatch, errors = filecmp.cmpfiles(
        tmp_path / "a", tmp_path / "b", names, shallow=False)
    assert match == names and not mismatch and not errors
    assert [s for x in c["bags"].values() for s in x["scenes"]] != \
        [s for x in a["bags"].values() for s in x["scenes"]]


@pytest.mark.parametrize("compression", ["none", "bz2", "lz4"])
def test_bags_round_trip(compression):
    fam = dict(baggen.FAMILIES["highrate"], seconds=3, compression=compression)
    image, truth = baggen.make_bag("x.bag", 5, 10**12, fam)
    rows = list(parse_bag_bytes("x.bag", image))
    assert len(rows) == truth["messages"]
    by_topic = {}
    for r in rows:
        by_topic[r[1]] = by_topic.get(r[1], 0) + 1
    assert by_topic == {baggen.TOPICS[t][0]: n
                        for t, n in truth["topics"].items()}


def test_lz4_blocks_carry_matches():
    data = b"".join(baggen._message(1, 10**12 + i, struct.pack("<d", i * 0.5))
                    for i in range(500))
    block = baggen.lz4_compress_block(data)
    assert len(block) < len(data) // 2          # back-references, not literals
    assert _lz4_frame_decompress(baggen.lz4_frame(data)) == data
    rnd = random.Random(0).randbytes(70_000)    # incompressible: stored block
    assert _lz4_frame_decompress(baggen.lz4_frame(rnd)) == rnd


def test_scenes_from_counts_semantics():
    t = [0, 1, 2, 3, 4, 5, 6]
    got = baggen.scenes_from_counts("b", t, [2, 1, 0, 0, 3, 3, 1])
    assert got == [[0, 2, 2, "b_PersonInLane_0"],
                   [4, None, 3, "b_PersonInLane_4"]]


def _truth():
    return {"bags": {
        "a.bag": {"t0_ns": 0, "t1_ns": 100, "scenes": [[10, 20, 1, "a_10"],
                                                       [60, None, 2, "a_60"]]},
        "b.bag": {"t0_ns": 200, "t1_ns": 300, "scenes": [[210, 220, 3, "b_210"]]},
    }}


def test_checker_flags_wrong_scene():
    truth = _truth()
    good = check.scene_truth(truth, ["a.bag", "b.bag"])
    assert check.check_rows("scenes", good, list(good)) == []
    bad = list(good)
    bad[0] = ("a.bag", 10, 21, 1, "a_10")      # wrong end_time
    assert check.check_rows("scenes", good, bad)
    assert check.check_rows("scenes", good, good[:-1])


def test_checker_flags_wrong_query_row():
    truth = _truth()
    for q in check.query_mix(truth, ["a.bag", "b.bag"], random.Random(3)):
        want = q["want"]
        assert check.check_rows(q["name"], want, list(want)) == []
        wrong = list(want) + [("z.bag", 1, 2, 3, "z_1")]
        assert check.check_rows(q["name"], want, wrong)
        if want:
            assert check.check_rows(q["name"], want, want[1:])


def test_checker_flags_wrong_stage_count():
    truth = {"bags": {"a.bag": {
        "topics": {"steering": 5}, "ticks": 3, "dets_examined": 4,
        "dets_in_lane": 2, "scenes": [[1, None, 1, "a_1"]]}}}
    counts = {"topics": {"steering": 5}, "sync_rows_in": 5, "synced": 3,
              "detections": 3, "dets_examined": 4, "dets_in_lane": 2,
              "scenes": 1}
    rows = [("a.bag", 1, None, 1, "a_1")]
    assert check.check_pass(truth, ["a.bag"], ["steering"], counts, rows) == []
    assert check.check_pass(truth, ["a.bag"], ["steering"],
                            dict(counts, synced=4), rows)


def test_covered_takes_the_union():
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(1, 3)], 2, 10) == 1
    assert covered([], 0, 1) == 0


def test_self_time_subtracts_children():
    t = Tracer()
    t.spans = [
        {"id": 0, "name": "root", "parent": None, "pass": 0, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "a", "parent": 0, "pass": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "b", "parent": 0, "pass": 0, "start": 5.0, "end": 6.0},
        {"id": 3, "name": "a", "parent": 1, "pass": 0, "start": 2.0, "end": 3.0},
        {"id": 4, "name": "b", "parent": None, "pass": 1, "start": 20.0, "end": 22.0},
    ]
    assert t.self_time(t.spans[0]) == pytest.approx(6.0)
    assert t.self_time(t.spans[1]) == pytest.approx(2.0)
    assert t.self_times() == pytest.approx({"root": 6.0, "a": 3.0, "b": 3.0})


def test_spans_nest_and_close():
    t = Tracer()
    with t.span("outer"):
        with t.span("inner"):
            pass
    outer, inner = t.spans
    assert inner["parent"] == outer["id"]
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    assert sum(t.self_times().values()) == pytest.approx(
        outer["end"] - outer["start"])
