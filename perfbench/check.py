"""Output checker: every pass and every query against generator truth.

A check returns a list of mismatch descriptions; an empty list means the
output is correct. The runner counts an operation that raised or came
back with any mismatch as failed and never records its time as a
success sample.
"""

from __future__ import annotations

import random


def scene_truth(truth: dict, bags: list[str]) -> list[tuple]:
    """Expected scene rows ``(bag_file, start, end, people, scene_id)``."""
    return sorted((b, *s[:3], s[3]) for b in bags
                  for s in truth["bags"][b]["scenes"])


def expected_counts(truth: dict, bags: list[str], topics: list[str]) -> dict:
    per = [truth["bags"][b] for b in bags]
    return {
        "topics": {t: sum(p["topics"][t] for p in per) for t in topics},
        "sync_rows_in": sum(p["topics"][t] for p in per for t in topics),
        "synced": sum(p["ticks"] for p in per),
        "detections": sum(p["ticks"] for p in per),
        "dets_examined": sum(p["dets_examined"] for p in per),
        "dets_in_lane": sum(p["dets_in_lane"] for p in per),
        "scenes": sum(len(p["scenes"]) for p in per),
    }


def check_pass(truth: dict, bags: list[str], topics: list[str],
               counts: dict, scene_rows: list[tuple]) -> list[str]:
    """Stage row counts and the scene table against ground truth."""
    problems = []
    want = expected_counts(truth, bags, topics)
    for key, val in want.items():
        if counts.get(key) != val:
            problems.append(f"{key}: got {counts.get(key)!r}, want {val!r}")
    problems += check_rows("scenes", scene_truth(truth, bags), scene_rows)
    return problems


def check_rows(what: str, want: list[tuple], got: list[tuple]) -> list[str]:
    got = sorted(tuple(r) for r in got)
    if got == want:
        return []
    missing = [r for r in want if r not in got]
    extra = [r for r in got if r not in want]
    return [f"{what}: {len(got)} rows, want {len(want)}; "
            f"missing {missing[:2]} extra {extra[:2]}"]


# ------------------------------------------------------------ query mix

def query_mix(truth: dict, bags: list[str], rng: random.Random) -> list[dict]:
    """The fixed query mix over the committed ``bags``: a time range,
    one bag, a ``scene_id`` point lookup, a per-bag aggregate and a
    filter on a column without zone maps. Each query carries its SQL
    predicate and its expected rows. The kinds' latencies form separate
    clusters; with an odd number of kinds the median of a run's samples
    falls inside one cluster instead of in the gap between two."""
    scenes = scene_truth(truth, bags)
    b = rng.choice(bags)
    info = truth["bags"][b]
    span = info["t1_ns"] - info["t0_ns"]
    lo = info["t0_ns"] + rng.randrange(0, span // 2)
    hi = lo + span // 2
    one = rng.choice(bags)
    point = rng.choice(scenes)[4] if scenes else f"{b}_PersonInLane_0"
    agg_lo = truth["bags"][rng.choice(bags)]["t0_ns"]
    agg = {}
    for r in scenes:
        if r[1] >= agg_lo:
            n, p = agg.get(r[0], (0, 0))
            agg[r[0]] = (n + 1, p + r[3])
    return [
        {"name": "time_range", "where": f"start_time >= {lo} AND start_time < {hi}",
         "agg": False, "want": [r for r in scenes if lo <= r[1] < hi]},
        {"name": "one_bag", "where": f"bag_file = '{one}'",
         "agg": False, "want": [r for r in scenes if r[0] == one]},
        {"name": "point", "where": f"scene_id = '{point}'",
         "agg": False, "want": [r for r in scenes if r[4] == point]},
        {"name": "per_bag", "where": f"start_time >= {agg_lo}",
         "agg": True, "want": sorted((k, *v) for k, v in agg.items())},
        {"name": "crowded", "where": "num_people_in_scene_start >= 2",
         "agg": False, "want": [r for r in scenes if r[3] >= 2]},
    ]
