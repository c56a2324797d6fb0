"""ROS2 / MCAP source: distributed extraction without leaving Spark.

The reference reads ROS1 ``.bag`` via bagpy in a per-bag container
(service/app/main.py:87); modern AV stacks ship ROS2 logs as MCAP
(the public spec at https://mcap.dev/spec — magic-framed records with
embedded schema/channel metadata). This is the MCAP twin of
``sources/rosbag.py``: whole files fan out over ``binaryFile`` +
``mapInPandas`` (file-level parallelism, zero driver involvement), the
record walk runs executor-side, and message payloads decode into typed
columns driven by the file's OWN embedded ``ros2msg`` schema records —
the same definition-driven decode discipline as the ROS1 reader
(``rosbag.decode_messages``), but over CDR (XCDR1) wire format with its
alignment rules instead of ROS1's packed serialization.

Supported: top-level and chunked records (compression ``""``,
``"lz4"`` — liblz4 through the ROS1 reader's frame helper —
and ``"zstd"``, the default ``ros2 bag record`` MCAP preset, decoded
builtin by :mod:`..functions.zstd` (RFC 8878 from-spec; the optional
``zstandard`` package is used at C speed when installed)).
Corrupt files follow the ROS1 reader's salvage contract: MCAP records
carry no per-record magic to resync on (unlike WARC), so
``on_error='skip'`` keeps every message parsed BEFORE the corruption
point, drops the rest of that file only, and emits one marker row.

Format reference: https://mcap.dev/spec (public). CDR: OMG DDS-XTypes
XCDR1 encoding (public spec).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .rosbag import _lz4_frame_decompress, parse_definition_sections

MCAP_MAGIC = b"\x89MCAP0\r\n"

OP_HEADER = 0x01
OP_FOOTER = 0x02
OP_SCHEMA = 0x03
OP_CHANNEL = 0x04
OP_MESSAGE = 0x05
OP_CHUNK = 0x06
OP_DATA_END = 0x0F

MCAP_MESSAGE_SCHEMA = T.StructType([
    T.StructField("mcap_file", T.StringType()),
    T.StructField("topic", T.StringType()),
    T.StructField("schema_name", T.StringType()),
    T.StructField("schema_encoding", T.StringType()),
    T.StructField("message_encoding", T.StringType()),
    T.StructField("message_definition", T.StringType()),
    T.StructField("sequence", T.LongType()),
    T.StructField("log_time_ns", T.LongType()),
    T.StructField("publish_time_ns", T.LongType()),
    T.StructField("data", T.BinaryType()),
])


# ------------------------------------------------------------- record layer

def _read_str(buf: bytes, off: int) -> tuple[str, int]:
    (n,) = struct.unpack_from("<I", buf, off)
    off += 4
    return buf[off:off + n].decode("utf-8"), off + n


def _iter_mcap_records(buf: bytes, off: int,
                       end: int) -> Iterator[tuple[int, bytes]]:
    """(opcode, content) for each record in ``buf[off:end]``."""
    while off < end:
        if off + 9 > end:
            raise ValueError("truncated MCAP record header")
        op = buf[off]
        (n,) = struct.unpack_from("<Q", buf, off + 1)
        off += 9
        if off + n > end:
            raise ValueError("truncated MCAP record body")
        yield op, buf[off:off + n]
        off += n


def _decompress_chunk(content: bytes) -> bytes:
    off = 8 + 8  # message_start_time, message_end_time
    (unc_size,) = struct.unpack_from("<Q", content, off)
    off += 8
    off += 4     # uncompressed_crc (0 = absent; not verified here)
    compression, off = _read_str(content, off)
    (rec_len,) = struct.unpack_from("<Q", content, off)
    off += 8
    records = content[off:off + rec_len]
    if len(records) != rec_len:
        raise ValueError("truncated MCAP chunk records")
    if compression == "":
        out = records
    elif compression == "lz4":
        out = _lz4_frame_decompress(records, unc_size or None)
    elif compression == "zstd":
        # builtin RFC 8878 decoder (r14) — zstd is the DEFAULT
        # `ros2 bag record` chunk compression; decompress() prefers
        # the optional zstandard package (C speed) when installed
        from ..functions.zstd import decompress as _zstd
        out = _zstd(records, max_output=unc_size or 1 << 31)
    else:
        raise ValueError(
            f"unknown MCAP chunk compression {compression!r}")
    if unc_size and len(out) != unc_size:
        raise ValueError(
            f"MCAP chunk decompressed to {len(out)} bytes, header "
            f"says {unc_size}")
    return out


def parse_mcap_bytes(mcap_file: str, buf: bytes) -> Iterator[tuple]:
    """Yield MCAP_MESSAGE_SCHEMA tuples from one in-memory MCAP image.

    Schema (op=0x03) and Channel (op=0x04) records map channel-id →
    (topic, encodings, definition); Message records (op=0x05) carry
    channel_id + sequence + log/publish time + the serialized payload.
    Records at top level and inside (decompressed) chunks are handled
    identically, mirroring the ROS1 walker (``rosbag._walk``)."""
    if buf[:len(MCAP_MAGIC)] != MCAP_MAGIC:
        raise ValueError(f"{mcap_file}: not an MCAP file")
    schemas: dict[int, tuple[str, str, str]] = {}
    channels: dict[int, tuple[str, str, int]] = {}

    def walk(records):
        for op, content in records:
            if op == OP_CHUNK:
                sub = _decompress_chunk(content)
                yield from walk(_iter_mcap_records(sub, 0, len(sub)))
            elif op == OP_SCHEMA:
                (sid,) = struct.unpack_from("<H", content, 0)
                name, o = _read_str(content, 2)
                enc, o = _read_str(content, o)
                (dn,) = struct.unpack_from("<I", content, o)
                data = content[o + 4:o + 4 + dn]
                schemas[sid] = (name, enc,
                                data.decode("utf-8", "replace"))
            elif op == OP_CHANNEL:
                cid, sid = struct.unpack_from("<HH", content, 0)
                topic, o = _read_str(content, 4)
                menc, o = _read_str(content, o)
                channels[cid] = (topic, menc, sid)
            elif op == OP_MESSAGE:
                cid, seq, lt, pt = struct.unpack_from("<HIQQ",
                                                      content, 0)
                topic, menc, sid = channels.get(cid, ("", "", -1))
                sname, senc, sdefn = schemas.get(sid, ("", "", ""))
                yield (mcap_file, topic, sname, senc, menc, sdefn,
                       seq, lt, pt, content[22:])
            elif op == OP_DATA_END:
                return               # summary section: indexes only

    yield from walk(_iter_mcap_records(buf, len(MCAP_MAGIC),
                                       len(buf)))


# ------------------------------------------------------------- Spark source

def read_mcap_messages(spark: SparkSession, path: str,
                       glob: str = "*.mcap",
                       on_error: str = "fail") -> DataFrame:
    """Long message table ``(mcap_file, topic, schema_name,
    schema_encoding, message_encoding, message_definition, sequence,
    log_time_ns, publish_time_ns, data)`` for every message in every
    MCAP file under ``path`` — the ROS2 twin of
    :func:`~.rosbag.read_bag_messages`, with the identical
    ``on_error`` salvage contract (``'skip'`` keeps the
    pre-corruption prefix of a bad file, drops the rest of that file
    only, and emits one ``error``-marked row; decoder BUGS still
    propagate)."""
    files = (spark.read.format("binaryFile")
             .option("pathGlobFilter", glob).load(path)
             .select("path", "content"))
    return mcap_messages_frame(files, on_error=on_error)


def mcap_messages_frame(files: DataFrame,
                        on_error: str = "fail") -> DataFrame:
    """The extraction transform behind :func:`read_mcap_messages`,
    usable over ANY ``(path, content)`` frame — in particular a
    streaming ``binaryFile`` micro-batch
    (:func:`~..streaming.ingest.mcap_ingest_batch`)."""
    if on_error not in ("fail", "skip"):
        raise ValueError(
            f"on_error must be 'fail' or 'skip', got {on_error!r}")
    files = files.select("path", "content")
    out_schema = MCAP_MESSAGE_SCHEMA
    if on_error == "skip":
        out_schema = T.StructType(
            list(MCAP_MESSAGE_SCHEMA.fields)
            + [T.StructField("error", T.StringType())])
    input_errors = (ValueError, KeyError, IndexError, EOFError,
                    struct.error, OSError, NotImplementedError)

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in out_schema.fields]
        skip = on_error == "skip"
        for pdf in batches:
            for fpath, content in zip(pdf["path"], pdf["content"]):
                name = fpath.rsplit("/", 1)[-1]
                rows: list[tuple] = []
                try:
                    for row in parse_mcap_bytes(name, bytes(content)):
                        rows.append(row + (None,) if skip else row)
                except input_errors as e:
                    if not skip:
                        raise
                    rows.append((name,) + (None,) * 9
                                + (f"{type(e).__name__}: {e}",))
                yield pd.DataFrame(rows, columns=cols)

    return files.mapInPandas(extract, out_schema)


def mcap_topic_metadata(messages: DataFrame) -> DataFrame:
    """Per-(file, topic) stats — parity with
    :func:`~.rosbag.topic_metadata` (the reference's DynamoDB metadata
    item, main.py:61-74) over the MCAP message table."""
    span_s = (F.max("log_time_ns") - F.min("log_time_ns")) / 1e9
    return (messages
            .where(F.col("topic").isNotNull())
            .groupBy("mcap_file", "topic",
                     F.col("schema_name").alias("msg_type"))
            .agg(F.count(F.lit(1)).alias("message_count"),
                 (F.min("log_time_ns") / 1e9).alias("t_min"),
                 (F.max("log_time_ns") / 1e9).alias("t_max"),
                 F.when(span_s > 0,
                        (F.count(F.lit(1)) - 1) / span_s)
                 .alias("frequency_hz")))


# ---------------------------------------------------------------- CDR decode

_CDR_FMT = {
    "bool": ("?", 1), "byte": ("B", 1), "char": ("B", 1),
    "int8": ("b", 1), "uint8": ("B", 1),
    "int16": ("h", 2), "uint16": ("H", 2),
    "int32": ("i", 4), "uint32": ("I", 4),
    "int64": ("q", 8), "uint64": ("Q", 8),
    "float32": ("f", 4), "float64": ("d", 8),
}
_BYTE_ELEMS = ("uint8", "char", "byte")


def _align(off: int, n: int) -> int:
    return (off + n - 1) // n * n


class _Cdr:
    """XCDR1 reader: 4-byte encapsulation header picks endianness;
    primitives align to their own size relative to the body start."""

    def __init__(self, data: bytes):
        if len(data) < 4:
            raise ValueError("CDR payload shorter than its header")
        rep = struct.unpack_from(">H", data, 0)[0]
        if rep == 0x0000:
            self.e = ">"
        elif rep == 0x0001:
            self.e = "<"
        else:
            raise ValueError(
                f"unsupported CDR representation id 0x{rep:04x} "
                f"(only plain XCDR1 BE/LE)")
        self.buf = data[4:]
        self.off = 0

    def prim(self, base: str):
        fmt, n = _CDR_FMT[base]
        self.off = _align(self.off, n)
        (v,) = struct.unpack_from(self.e + fmt, self.buf, self.off)
        self.off += n
        return v

    def u32(self) -> int:
        return self.prim("uint32")

    def string(self) -> str:
        n = self.u32()                   # includes the NUL terminator
        s = self.buf[self.off:self.off + max(n - 1, 0)]
        if len(s) != max(n - 1, 0):
            raise ValueError("truncated CDR string")
        self.off += n
        return s.decode("utf-8", "replace")

    def raw(self, n: int) -> bytes:
        b = self.buf[self.off:self.off + n]
        if len(b) != n:
            raise ValueError("truncated CDR bytes")
        self.off += n
        return b


def _ros2_ftype(ftype: str) -> tuple[str, bool, int | None]:
    """(base, is_array, fixed_len). ROS2 grammar adds bounded strings
    ``string<=N`` (wire-identical to string) and bounded sequences
    ``T[<=N]`` (wire-identical to unbounded). ``wstring`` (UTF-16)
    raises an honest guard at decode time."""
    base, arr, fixed = ftype, False, None
    if "[" in ftype:
        base, rest = ftype.split("[", 1)
        arr = True
        inner = rest.rstrip("]")
        if inner and not inner.startswith("<="):
            fixed = int(inner)
    if base.startswith("string<=") or base.startswith("wstring<="):
        base = base.split("<=", 1)[0]
    return base, arr, fixed


_TIME_TYPES = ("time", "duration", "builtin_interfaces/Time",
               "builtin_interfaces/Duration")


def _nested_key(base: str, sections: dict) -> str | None:
    """Resolve a nested message type to its definition section, or
    None for the time builtins when their section wasn't shipped
    (the wire layout is fixed by the public spec either way)."""
    from .rosbag import _resolve_type
    try:
        return _resolve_type(base, sections)
    except ValueError:
        if base in _TIME_TYPES:
            return None
        raise


def _decode_cdr_value(r: _Cdr, ftype: str, sections: dict):
    base, arr, fixed = _ros2_ftype(ftype)
    if arr:
        n = fixed if fixed is not None else r.u32()
        if base in _BYTE_ELEMS:
            return r.raw(n)
        return [_decode_cdr_value(r, base, sections)
                for _ in range(n)]
    if base in _CDR_FMT:
        v = r.prim(base)
        if base == "bool":
            return bool(v)
        if base == "uint64" and v >= 1 << 63:
            # Spark has no unsigned 64-bit: reinterpret two's-
            # complement into LongType (bijective — recover with
            # `v & 0xFFFF...` downstream) instead of crashing the
            # Arrow conversion on spec-valid hash-style ids
            return v - (1 << 64)
        return v
    if base == "string":
        return r.string()
    if base == "wstring":
        raise NotImplementedError(
            "CDR wstring is UTF-16 on the wire and is not supported "
            "by the builtin decoder (decoding it as bytes would be "
            "silently wrong); re-declare the field as string")
    key = _nested_key(base, sections)
    if key is None:                       # time builtin, no section
        return {"sec": r.prim("int32"), "nanosec": r.prim("uint32")}
    return {fname: _decode_cdr_value(r, ft, sections)
            for ft, fname in sections[key]}


def _ros2_spark_type(ftype: str, sections: dict) -> T.DataType:
    base, arr, _ = _ros2_ftype(ftype)
    if arr and base in _BYTE_ELEMS:
        return T.BinaryType()
    if base in _CDR_FMT:
        kind = _CDR_FMT[base][0]
        if kind == "?":
            elem: T.DataType = T.BooleanType()
        elif kind in "fd":
            elem = T.DoubleType() if kind == "d" else T.FloatType()
        elif kind in "qQI":
            elem = T.LongType()
        else:
            elem = T.IntegerType()
    elif base == "string":
        elem = T.StringType()
    elif base == "wstring":
        raise NotImplementedError(
            "CDR wstring is UTF-16 on the wire and is not supported "
            "by the builtin decoder; re-declare the field as string")
    else:
        key = _nested_key(base, sections)
        if key is None:                   # time builtin, no section
            elem = T.StructType([
                T.StructField("sec", T.IntegerType()),
                T.StructField("nanosec", T.LongType())])
        else:
            elem = T.StructType([
                T.StructField(nm, _ros2_spark_type(ft, sections))
                for ft, nm in sections[key]])
    return T.ArrayType(elem) if arr else elem


def decode_cdr_messages(messages: DataFrame, defn: str,
                        drop_data: bool = True) -> DataFrame:
    """Decode one topic's CDR payloads into typed columns using its
    ``ros2msg`` definition (normally
    ``messages.select("message_definition").first()`` — the schema
    record embedded in the file). The ROS2 twin of
    :func:`~.rosbag.decode_messages`: same definition-section
    resolution, CDR alignment rules instead of packed layout."""
    sections = parse_definition_sections(defn)
    fields = sections[""]
    out_fields = [T.StructField(n, _ros2_spark_type(ft, sections))
                  for ft, n in fields]
    schema = T.StructType(out_fields)

    @F.pandas_udf(schema)
    def decode(data: pd.Series) -> pd.DataFrame:
        recs = []
        for blob in data:
            r = _Cdr(bytes(blob))
            recs.append({n: _decode_cdr_value(r, ft, sections)
                         for ft, n in fields})
        return pd.DataFrame(recs,
                            columns=[f.name for f in out_fields])

    out = messages.withColumn("_m", decode(F.col("data")))
    # drop the RAW payload column BEFORE unpacking the decoded struct:
    # messages whose own schema has a field literally named ``data``
    # (sensor_msgs PointCloud2/Image — the reference's lidar and
    # camera topics) would otherwise have their decoded field dropped
    # with the raw bytes (r12 fix, caught by the CDR PointCloud2
    # composition test)
    if drop_data:
        out = out.drop("data")
    elif any(n == "data" for _, n in fields):
        raise ValueError(
            "decode_cdr_messages: this message type defines its own "
            "'data' field, which collides with the raw payload "
            "column — call with drop_data=True")
    for f in out_fields:
        out = out.withColumn(f.name, F.col(f"_m.{f.name}"))
    return out.drop("_m")


def extract_mcap_topics(messages: DataFrame) -> dict[str, DataFrame]:
    """Per-topic typed DataFrames — the MCAP face of the reference's
    bag → per-topic tables hop (main.py:77-127). Definitions come from
    the embedded schema records; column names are sanitized the same
    way (``.`` → ``_``, main.py:100).

    A topic may carry MORE THAN ONE distinct definition across the
    scanned files (schema evolution in a log set): each definition
    group is decoded with ITS OWN schema — never an arbitrarily
    chosen one — and the results are unioned when the decoded Spark
    schemas agree; differing decoded schemas raise, naming the topic
    (silent misparse is worse than a loud stop)."""
    pairs = (messages.select("topic", "message_definition")
             .where(F.col("topic").isNotNull())
             .dropDuplicates(["topic", "message_definition"])
             .collect())
    by_topic: dict[str, list[str]] = {}
    for r in pairs:
        by_topic.setdefault(r["topic"], []).append(
            r["message_definition"])
    out = {}
    for topic, defns in by_topic.items():
        parts = []
        for defn in defns:
            if defn is None:
                # caller-built frames can carry NULL definitions; a
                # null-unsafe == would silently drop those rows from
                # every group — loud failure is the module contract
                raise ValueError(
                    f"topic {topic!r} has messages with a NULL "
                    f"message_definition — no schema to decode them "
                    f"with; fill message_definition upstream or "
                    f"filter those rows explicitly")
            one = messages.where(
                (F.col("topic") == topic)
                & F.col("message_definition").eqNullSafe(F.lit(defn)))
            parts.append(decode_cdr_messages(one, defn))
        schemas = {p.schema.json() for p in parts}
        if len(schemas) > 1:
            raise ValueError(
                f"topic {topic!r} carries {len(defns)} distinct "
                f"message definitions that decode to DIFFERENT "
                f"schemas — decode each group explicitly with "
                f"decode_cdr_messages and reconcile upstream")
        dec = parts[0]
        for p in parts[1:]:
            dec = dec.unionByName(p)
        out[topic] = dec.toDF(
            *[c.replace(".", "_") for c in dec.columns])
    return out
