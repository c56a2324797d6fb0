"""Pure-Python ROS1 message interpreter: the test oracle for the
generated decoders of ``sources/rosbag.py``.

It walks a definition field by field (public ROS1 serialization: packed
little-endian, nested messages inline with no length prefix, fixed
arrays as N inline elements, strings and var arrays as a uint32 count +
elements) and returns plain Python values: dicts for nested messages,
lists for arrays, ``bytes`` for byte arrays, nanoseconds for
time/duration. ``decode_payload(defn, payload)`` is one message's row.
"""

from __future__ import annotations

import struct

from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources.rosbag import (
    _BYTE_ARRAYS, _PRIMITIVES, _parse_ftype, _resolve_type,
    parse_definition_sections,
)


def _decode_scalar(data: bytes, off: int, base: str,
                   sections: dict[str, list]):
    if base in _PRIMITIVES:
        fmt, size, _ = _PRIMITIVES[base]
        return struct.unpack_from(fmt, data, off)[0], off + size
    if base == "string":
        (slen,) = struct.unpack_from("<I", data, off)
        return data[off + 4:off + 4 + slen].decode("utf-8", "replace"), off + 4 + slen
    if base in ("time", "duration"):
        # time is (uint32, uint32), duration (int32, int32)
        fmt = "<II" if base == "time" else "<ii"
        secs, nsecs = struct.unpack_from(fmt, data, off)
        return secs * 1_000_000_000 + nsecs, off + 8
    name = _resolve_type(base, sections)
    out = {}
    for ftype, nm in sections[name]:
        out[nm], off = _decode_value(data, off, ftype, sections)
    return out, off


def _decode_value(data: bytes, off: int, ftype: str,
                  sections: dict[str, list]):
    base, is_arr, n = _parse_ftype(ftype)
    if not is_arr:
        return _decode_scalar(data, off, base, sections)
    if n is None:
        (n,) = struct.unpack_from("<I", data, off)
        off += 4
    if base in _BYTE_ARRAYS:
        return bytes(data[off:off + n]), off + n
    out = []
    for _ in range(n):
        v, off = _decode_scalar(data, off, base, sections)
        out.append(v)
    return out, off


def decode_payload(defn: str, payload: bytes) -> dict:
    """One serialized message → ``{field: value}`` for its top-level
    fields, in definition order."""
    sections = parse_definition_sections(defn)
    row, off = {}, 0
    for ftype, name in sections[""]:
        row[name], off = _decode_value(payload, off, ftype, sections)
    return row
