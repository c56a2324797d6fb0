"""Spark-free timer of the ROS1 extract kernels on the benchmark's bags.

Usage: python tools/time_extract.py [seed] [repeats]

Builds each bag of ``perfbench/baggen.py``'s ``highrate`` and ``dense``
families in memory (seed default 1) and reports the median over
``repeats`` (default 5) runs of:

- ``lz4_s``: decompressing every chunk of the bag (0 for uncompressed
  families);
- ``walk_s``: the record reader (``_bag_batches``: record walk plus Arrow
  batch assembly) over the same bag with uncompressed chunks;
- ``decode_s`` per topic: the compiled decoder over all of the topic's
  payloads, Arrow arrays included.

Every topic's decoded rows are also checked against the pure-Python
oracle (``tests/rosbag_oracle.py``); a mismatch exits non-zero. Prints
one line per bag and per topic and, last, one JSON object with the
same figures.
"""

from __future__ import annotations

import json
import os
import statistics
import struct
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import baggen  # noqa: E402

from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources.rosbag import (  # noqa: E402
    MAGIC, OP_CHUNK, _bag_batches, _compile_decoder, _decompress_chunk,
    _parse_header, parse_definition_sections,
)
from tests.rosbag_oracle import decode_payload  # noqa: E402


def _median_s(fn, repeats: int) -> float:
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return round(statistics.median(times), 4)


def _chunks(image: bytes) -> list[tuple[dict, bytes]]:
    """The bag's top-level chunk records."""
    out, off = [], len(MAGIC)
    while off + 8 <= len(image):
        (hlen,) = struct.unpack_from("<I", image, off)
        header = _parse_header(image[off + 4:off + 4 + hlen])
        off += 4 + hlen
        (dlen,) = struct.unpack_from("<I", image, off)
        if header["op"][0] == OP_CHUNK:
            out.append((header, image[off + 4:off + 4 + dlen]))
        off += 4 + dlen
    return out


def main() -> None:
    seed = int(sys.argv[1]) if len(sys.argv) > 1 else 1
    repeats = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    report, ok = {}, True
    for family in ("highrate", "dense"):
        fam = dict(baggen.FAMILIES[family])
        for i in range(fam["bags"]):
            name = f"drive_{seed}_{i:03d}.bag"
            image, _ = baggen.make_bag(name, seed, 10**12, fam)
            plain, _ = baggen.make_bag(name, seed, 10**12,
                                       dict(fam, compression="none"))
            chunks = _chunks(image)
            lz4_s = (_median_s(lambda: [_decompress_chunk(h, d) for h, d in chunks],
                               repeats) if fam["compression"] == "lz4" else 0.0)
            walk_s = _median_s(lambda: list(_bag_batches(name, plain)), repeats)
            batches = list(_bag_batches(name, plain))
            msgs = sum(b.num_rows for b in batches)
            print(f"{family:8s} {name} {msgs} msgs  lz4 {lz4_s:.4f} s  "
                  f"walk {walk_s:.4f} s", flush=True)
            row = {"messages": msgs, "lz4_s": lz4_s, "walk_s": walk_s}
            for topic_name, (topic, _, defn, _) in baggen.TOPICS.items():
                payloads = [p for b in batches
                            for t, p in zip(b.column("topic").to_pylist(),
                                            b.column("data").to_pylist())
                            if t == topic]
                if not payloads:
                    continue
                decode = _compile_decoder(defn)
                decode_s = _median_s(lambda: decode(payloads), repeats)
                names = [n for _, n in parse_definition_sections(defn)[""]]
                got = [dict(zip(names, vals)) for vals in
                       zip(*(a.to_pylist() for a in decode(payloads)))]
                same = got == [decode_payload(defn, p) for p in payloads]
                ok &= same
                print(f"    {topic_name:10s} {len(payloads):6d} msgs  decode "
                      f"{decode_s:.4f} s  oracle {'ok' if same else 'MISMATCH'}",
                      flush=True)
                row[f"{topic_name}.decode_s"] = decode_s
            report[f"{family}/{name}"] = row
    print(json.dumps(report))
    if not ok:
        sys.exit(1)


if __name__ == "__main__":
    main()
