"""Seeded ROS1 v2.0 bag generator with ground truth.

Writes drive recordings shaped like the reference pipeline's inputs:
vehicle signals (IMU, steering, GPS) plus 10 Hz perception (2-D
detections and lane polylines). Chunks are stored uncompressed, bz2- or
LZ4-compressed; the LZ4 path uses the small greedy block compressor
below, so chunks carry real back-references and the decoder's match
path runs, not only its literal path.

Beside each bag set it writes ``truth.json``: per-bag topic counts, the
10 Hz grid ticks the synchronize hop must emit, the person-in-lane
scene intervals the generator planted, and the geometry work counts
(detection x lane-point pairs, detections examined / in lane).

The planted geometry follows the reference's object-in-lane test: lanes
are near-vertical polylines at well separated x positions, an in-lane
person has every bbox corner strictly between two adjacent lanes, and
an out-of-lane person sits wholly left or right of all lanes, so the
expected result never depends on a borderline distance.

Format reference: http://wiki.ros.org/Bags/Format/2.0 and the public
LZ4 frame and block format descriptions.
"""

from __future__ import annotations

import bz2
import json
import os
import random
import struct

STEP_NS = 100_000_000  # the 10 Hz synchronize grid
SEP = "=" * 80

HEADER_SECTION = f"""{SEP}
MSG: std_msgs/Header
uint32 seq
time stamp
string frame_id
"""

IMU_DEF = """Header header
float64[4] orientation
float64[9] orientation_covariance
float64[3] angular_velocity
float64[9] angular_velocity_covariance
float64[3] linear_acceleration
float64[9] linear_acceleration_covariance
""" + HEADER_SECTION

STEERING_DEF = """float64 steering_wheel_angle
float64 speed
bool enabled
"""

GPS_DEF = """Header header
float64 latitude
float64 longitude
float64 altitude
string status
""" + HEADER_SECTION

DETECTIONS_DEF = f"""perception_msgs/Detection2D[] detections
{SEP}
MSG: perception_msgs/Detection2D
float64 x
float64 y
float64 width
float64 height
string Class
"""

LANES_DEF = f"""perception_msgs/Lane[] lanes
{SEP}
MSG: perception_msgs/Lane
perception_msgs/Point2D[] image_points
{SEP}
MSG: perception_msgs/Point2D
float64 x
float64 y
"""

#: table name -> (topic, type, definition, payload columns kept downstream)
TOPICS = {
    "imu": ("/imu/data", "sensor_msgs/Imu", IMU_DEF,
            ["orientation", "orientation_covariance", "angular_velocity",
             "angular_velocity_covariance", "linear_acceleration",
             "linear_acceleration_covariance"]),
    "steering": ("/vehicle/steering_report", "dbw_mkz_msgs/SteeringReport",
                 STEERING_DEF, ["steering_wheel_angle", "speed", "enabled"]),
    "gps": ("/vehicle/gps/fix", "sensor_msgs/NavSatFix", GPS_DEF,
            ["latitude", "longitude", "altitude", "status"]),
    "detections": ("/perception/detections",
                   "perception_msgs/Detection2DArray", DETECTIONS_DEF,
                   ["detections"]),
    "lanes": ("/perception/lanes", "perception_msgs/LaneArray", LANES_DEF,
              ["lanes"]),
}

#: Input families. ``rates`` are the signal topics' Hz; perception runs
#: at 10 Hz on every family. ``bags`` x ``seconds`` is one pass (dense)
#: or one landing batch (highrate); see README.md for the sizes' cost.
FAMILIES = {
    # LZ4 chunks, high-rate vehicle signals, sparse perception
    "highrate": dict(bags=2, seconds=40, compression="lz4",
                     rates={"imu": 200, "steering": 50, "gps": 10},
                     max_dets=2, lanes=2, lane_points=4),
    # uncompressed, perception only, dense geometry
    "dense": dict(bags=2, seconds=20, compression="none", rates={},
                  max_dets=16, lanes=4, lane_points=40),
}

IMAGE_W, IMAGE_H = 1280.0, 720.0
IMU_COV = struct.pack("<9d", 0.01, 0, 0, 0, 0.01, 0, 0, 0, 0.01)
CLASSES_OTHER = ("car", "truck", "bicycle")


# ------------------------------------------------------------ bag records

def _field(name: str, value: bytes) -> bytes:
    payload = name.encode() + b"=" + value
    return struct.pack("<I", len(payload)) + payload


def _record(fields: dict[str, bytes], data: bytes) -> bytes:
    header = b"".join(_field(k, v) for k, v in fields.items())
    return (struct.pack("<I", len(header)) + header
            + struct.pack("<I", len(data)) + data)


def _connection(cid: int, topic: str, msg_type: str, defn: str) -> bytes:
    data = (_field("topic", topic.encode())
            + _field("type", msg_type.encode())
            + _field("md5sum", f"{cid:032x}".encode())
            + _field("message_definition", defn.encode()))
    return _record({"op": b"\x07", "conn": struct.pack("<I", cid),
                    "topic": topic.encode()}, data)


def _message(cid: int, t_ns: int, payload: bytes) -> bytes:
    secs, nsecs = divmod(t_ns, 1_000_000_000)
    return _record({"op": b"\x02", "conn": struct.pack("<I", cid),
                    "time": struct.pack("<II", secs, nsecs)}, payload)


def _string(s: str) -> bytes:
    b = s.encode()
    return struct.pack("<I", len(b)) + b


def _header(seq: int, t_ns: int, frame: str) -> bytes:
    secs, nsecs = divmod(t_ns, 1_000_000_000)
    return struct.pack("<III", seq, secs, nsecs) + _string(frame)


# ------------------------------------------------------------------ LZ4

def lz4_compress_block(src: bytes) -> bytes:
    """Greedy LZ4 block compressor (public block format): a hash of
    4-byte sequences finds the most recent earlier occurrence, the
    match is extended forward, and one sequence (literals + match) is
    emitted. Like the reference compressor it skips ahead faster the
    longer it goes without a match, so incompressible stretches cost
    little. Honours the end-of-block rules: the last match starts at
    least 12 bytes before the end and the last 5 bytes are literals."""
    n = len(src)
    out = bytearray()
    table: dict[bytes, int] = {}
    anchor = i = misses = 0
    limit = n - 12

    def length_bytes(v: int) -> bytes:
        b = bytearray()
        while v >= 255:
            b.append(255)
            v -= 255
        b.append(v)
        return bytes(b)

    while i < limit:
        key = src[i:i + 4]
        cand = table.get(key)
        table[key] = i
        if cand is None or i - cand > 0xFFFF:
            misses += 1
            i += 1 + (misses >> 4)
            continue
        misses = 0
        m = 4
        max_m = n - 5 - i
        while m < max_m and src[cand + m] == src[i + m]:
            m += 1
        lit = i - anchor
        ml = m - 4
        out.append((min(lit, 15) << 4) | min(ml, 15))
        if lit >= 15:
            out += length_bytes(lit - 15)
        out += src[anchor:i]
        out += struct.pack("<H", i - cand)
        if ml >= 15:
            out += length_bytes(ml - 15)
        i += m
        anchor = i
    lit = n - anchor
    out.append(min(lit, 15) << 4)
    if lit >= 15:
        out += length_bytes(lit - 15)
    out += src[anchor:]
    return bytes(out)


LZ4_BLOCK = 64 * 1024


def lz4_frame(data: bytes) -> bytes:
    """LZ4 frame: magic, FLG (v1, independent blocks), BD (64 KB max
    block), header-checksum byte (not computed; readers here skip it),
    data blocks (high bit = stored), EndMark."""
    out = bytearray(struct.pack("<I", 0x184D2204) + bytes([0x60, 0x40, 0x00]))
    for off in range(0, len(data), LZ4_BLOCK):
        raw = data[off:off + LZ4_BLOCK]
        comp = lz4_compress_block(raw)
        if len(comp) < len(raw):
            out += struct.pack("<I", len(comp)) + comp
        else:
            out += struct.pack("<I", len(raw) | 0x80000000) + raw
    out += struct.pack("<I", 0)
    return bytes(out)


def _chunk(records: bytes, compression: str) -> bytes:
    if compression == "bz2":
        body = bz2.compress(records)
    elif compression == "lz4":
        body = lz4_frame(records)
    elif compression == "none":
        body = records
    else:
        raise ValueError(f"unknown chunk compression {compression!r}")
    return _record({"op": b"\x05", "compression": compression.encode(),
                    "size": struct.pack("<I", len(records))}, body)


# ------------------------------------------------------------- one drive

def _lane_xs(n_lanes: int) -> list[float]:
    """Lane x positions, spread across the image with wide gaps."""
    lo, hi = 400.0, 1000.0
    if n_lanes == 1:
        return [(lo + hi) / 2]
    return [lo + i * (hi - lo) / (n_lanes - 1) for i in range(n_lanes)]


def _plan_people(rng: random.Random, frames: int, max_in: int) -> list[int]:
    """Persons in lane per frame: alternating planted off/on stretches."""
    counts, k, on = [], 0, rng.random() < 0.3
    while k < frames:
        length = rng.randint(3, 25) if on else rng.randint(5, 40)
        n = rng.randint(1, max_in) if on else 0
        for _ in range(min(length, frames - k)):
            if on and max_in > 1 and rng.random() < 0.1:
                n = rng.randint(1, max_in)   # count changes inside a scene
            counts.append(n)
        k += length
        on = not on
    return counts


def _frame_detections(rng: random.Random, lane_xs: list[float],
                      n_in: int, max_dets: int) -> tuple[list, int]:
    """(detections, n_in_lane): ``n_in`` persons in lane plus other
    objects; persons outside the lanes never count, cars may be in
    lane. Returns the number of detections with a corner in a lane."""
    dets, in_lane = [], 0
    gap = lane_xs[1] - lane_xs[0] if len(lane_xs) > 1 else 0.0

    def inside_x():
        i = rng.randrange(len(lane_xs) - 1)
        return rng.uniform(lane_xs[i] + 40, lane_xs[i] + gap - 40)

    def outside_x(w):
        if rng.random() < 0.5:
            return rng.uniform(w, lane_xs[0] - 60 - w)
        return rng.uniform(lane_xs[-1] + 60 + w, IMAGE_W - w)

    for _ in range(n_in):
        w, h = rng.uniform(8, 30), rng.uniform(20, 80)
        dets.append((inside_x(), rng.uniform(h, IMAGE_H - h), w, h, "person"))
        in_lane += 1
    extra = rng.randint(max(0, max_dets // 2 - n_in), max(0, max_dets - n_in))
    for _ in range(extra):
        cls = rng.choice(CLASSES_OTHER + ("person",))
        w, h = rng.uniform(8, 30), rng.uniform(20, 80)
        y = rng.uniform(h, IMAGE_H - h)
        if cls != "person" and len(lane_xs) > 1 and rng.random() < 0.5:
            dets.append((inside_x(), y, w, h, cls))
            in_lane += 1
        else:
            dets.append((outside_x(w), y, w, h, cls))
    rng.shuffle(dets)
    return dets, in_lane


def _detections_payload(dets) -> bytes:
    out = [struct.pack("<I", len(dets))]
    for x, y, w, h, cls in dets:
        out.append(struct.pack("<dddd", x, y, w, h) + _string(cls))
    return b"".join(out)


def _lanes_payload(rng: random.Random, lane_xs: list[float],
                   points: int) -> bytes:
    out = [struct.pack("<I", len(lane_xs))]
    for x in lane_xs:
        out.append(struct.pack("<I", points))
        for j in range(points):
            y = IMAGE_H * (1 - j / max(1, points - 1))
            out.append(struct.pack("<dd", x + rng.uniform(-2, 2), y))
    return b"".join(out)


def scenes_from_counts(bag: str, tick_times: list[int],
                       counts: list[int]) -> list[list]:
    """Person-in-lane intervals from per-tick person counts, with the
    reference's semantics: a scene starts on a tick whose count is > 0
    after a tick with 0 (or at the first tick), ends at the next tick
    with 0, stays open (end None) at end of bag. Rows are
    ``[start_time, end_time, num_people_in_scene_start, scene_id]``."""
    out, prev = [], None
    for t, c in zip(tick_times, counts):
        s = c > 0
        if s and not prev:
            out.append([t, None, c, f"{bag}_PersonInLane_{t}"])
        elif not s and prev:
            out[-1][1] = t
        prev = s
    return out


def topics(fam: dict) -> list[str]:
    """Table names of a family's topics, in connection-id order."""
    return sorted(fam["rates"]) + ["detections", "lanes"]


def make_bag(name: str, seed: int, t0_ns: int, fam: dict) -> tuple[bytes, dict]:
    """One bag image plus its ground truth."""
    rng = random.Random(f"{seed}/{name}")
    frames = fam["seconds"] * 10
    lane_xs = _lane_xs(fam["lanes"])
    names = topics(fam)
    cids = {t: i for i, t in enumerate(names)}
    msgs: list[tuple[int, int, bytes]] = []   # (t_ns, cid, payload)

    dur_ns = fam["seconds"] * 1_000_000_000
    for topic, hz in fam["rates"].items():
        period = 1_000_000_000 // hz
        cid = cids[topic]
        for i in range(fam["seconds"] * hz):
            t = t0_ns + i * period + rng.randrange(1, period // 4)
            if topic == "imu":
                vec = [rng.random() - 0.5 for _ in range(10)]
                payload = (_header(i, t, "imu_link")
                           + struct.pack("<4d", *vec[:4]) + IMU_COV
                           + struct.pack("<3d", *vec[4:7]) + IMU_COV
                           + struct.pack("<3d", *vec[7:]) + IMU_COV)
            elif topic == "steering":
                payload = struct.pack("<dd?", rng.uniform(-0.5, 0.5),
                                      rng.uniform(0, 30), True)
            elif topic == "gps":
                payload = (_header(i, t, "gps")
                           + struct.pack("<3d", 47.6 + rng.random() * 1e-3,
                                         -122.3 + rng.random() * 1e-3,
                                         rng.uniform(10, 40))
                           + _string("FIX"))
            else:
                raise ValueError(f"no payload generator for topic {topic!r}")
            msgs.append((t, cid, payload))

    max_in = min(3, fam["max_dets"])
    counts = _plan_people(rng, frames, max_in)
    ticks = [t0_ns + k * STEP_NS for k in range(frames)]
    pairs = examined = in_lane = 0
    lane_pts = fam["lanes"] * fam["lane_points"]
    for k, t in enumerate(ticks):
        dets, n_in_lane = _frame_detections(rng, lane_xs, counts[k],
                                            fam["max_dets"])
        msgs.append((t, cids["detections"], _detections_payload(dets)))
        msgs.append((t, cids["lanes"],
                     _lanes_payload(rng, lane_xs, fam["lane_points"])))
        pairs += len(dets) * lane_pts
        examined += len(dets)
        in_lane += n_in_lane
    msgs.sort(key=lambda m: (m[0], m[1]))

    conns = {cid: _connection(cid, TOPICS[t][0], TOPICS[t][1], TOPICS[t][2])
             for t, cid in cids.items()}
    chunks, buf, seen = [], bytearray(), set()
    for t, cid, payload in msgs:
        if cid not in seen:
            buf += conns[cid]
            seen.add(cid)
        buf += _message(cid, t, payload)
        if len(buf) >= 128 * 1024:
            chunks.append(_chunk(bytes(buf), fam["compression"]))
            buf = bytearray()
    if buf:
        chunks.append(_chunk(bytes(buf), fam["compression"]))
    bag_header = _record({"op": b"\x03",
                          "index_pos": struct.pack("<Q", 0),
                          "conn_count": struct.pack("<I", len(conns)),
                          "chunk_count": struct.pack("<I", len(chunks))},
                         b" " * 64)
    image = b"#ROSBAG V2.0\n" + bag_header + b"".join(chunks)

    topic_counts = {t: 0 for t in names}
    for _, cid, _ in msgs:
        topic_counts[names[cid]] += 1
    truth = {
        "bytes": len(image),
        "topics": topic_counts,
        "messages": len(msgs),
        "ticks": frames,
        "t0_ns": t0_ns,
        "t1_ns": t0_ns + dur_ns,
        "scenes": scenes_from_counts(name, ticks, counts),
        "det_lane_point_pairs": pairs,
        "dets_examined": examined,
        "dets_in_lane": in_lane,
    }
    return image, truth


def generate(out_dir: str, family: str, seed: int, bags: int | None = None,
             seconds: int | None = None, first: int = 0) -> dict:
    """Write bags ``first .. first+bags-1`` of a family under ``out_dir``
    and return their truth, also written to ``out_dir/truth.json``. Each
    bag covers its own disjoint time span, so time-range queries select
    whole bags."""
    fam = dict(FAMILIES[family])
    if bags is not None:
        fam["bags"] = bags
    if seconds is not None:
        fam["seconds"] = seconds
    os.makedirs(out_dir, exist_ok=True)
    truth = {"family": family, "seed": seed, "bags": {}}
    base_s = 1_000 + (seed % 1000) * 100_000
    for i in range(first, first + fam["bags"]):
        name = f"drive_{seed}_{i:03d}.bag"
        t0 = (base_s + i * (fam["seconds"] + 10)) * 1_000_000_000
        image, bag_truth = make_bag(name, seed, t0, fam)
        with open(os.path.join(out_dir, name), "wb") as f:
            f.write(image)
        truth["bags"][name] = bag_truth
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f)
    return truth
