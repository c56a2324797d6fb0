"""ROS1 ``.bag`` source: distributed extraction without leaving Spark.

The reference extracts bags in a single Fargate container with bagpy —
bag → per-topic CSV → pandas → parquet (service/app/main.py:77-127); one
process per bag, the bag downloaded to local disk first. Here the bag
*format* (the public ROS1 "rosbag V2.0" container: length-prefixed
records with key=value headers, messages grouped into optionally
compressed chunks) is parsed executor-side over ``spark.read.format
("binaryFile")`` + ``mapInArrow``: N bags fan out across the cluster
with no driver involvement, and extraction becomes just another
DataFrame transform feeding the synchronize pipeline. Rows stay Arrow
from the bag to the decoded columns; no pandas frame is built.

Supported: uncompressed, bz2 (stdlib) and lz4 chunks (liblz4 through
pyarrow's frame codec), connection records, message records, and full
message decoding driven by the connection's own ``message_definition``
— primitives, strings, time/duration, fixed/var-length arrays, and
(arrays of) nested message types resolved from the definition's
dependent sections, so the reference's detection/lane topics
(array-of-struct, detect_scenes.py:96, :31-44) decode into typed
``array<struct<...>>`` columns. Each definition compiles once per task
into a generated Python decoder that unpacks every maximal run of
fixed-size fields with one precompiled ``struct.Struct``, the way ROS's
genpy-generated message classes deserialize.

Format reference: http://wiki.ros.org/Bags/Format/2.0 (public spec).
"""

from __future__ import annotations

import bz2
import struct
from collections.abc import Callable, Iterator
from operator import itemgetter

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

MAGIC = b"#ROSBAG V2.0\n"

OP_MESSAGE = 0x02
OP_BAG_HEADER = 0x03
OP_CHUNK = 0x05
OP_CONNECTION = 0x07

MESSAGE_SCHEMA = T.StructType([
    T.StructField("bag_file", T.StringType()),
    T.StructField("topic", T.StringType()),
    T.StructField("msg_type", T.StringType()),
    T.StructField("md5sum", T.StringType()),
    T.StructField("message_definition", T.StringType()),
    T.StructField("time_ns", T.LongType()),
    T.StructField("data", T.BinaryType()),
])

#: A message batch is yielded once it holds this many rows or payload
#: bytes, so one bag never sits in a worker as a single batch.
BATCH_ROWS = 8192
BATCH_BYTES = 16 << 20

_U32 = struct.Struct("<I")


# --------------------------------------------------------------- bag parsing

def _parse_header(buf: bytes) -> dict[str, bytes]:
    """One record header: concatenated ``len(4) || name=value`` fields."""
    fields, off = {}, 0
    while off < len(buf):
        (flen,) = _U32.unpack_from(buf, off)
        off += 4
        name, _, value = buf[off:off + flen].partition(b"=")
        fields[name.decode()] = value
        off += flen
    return fields


LZ4_MAGIC = 0x184D2204
_XXH_P1, _XXH_P2, _XXH_P3, _XXH_P4, _XXH_P5 = (
    2654435761, 2246822519, 3266489917, 668265263, 374761393)


def _xxh32_short(data: bytes) -> int:
    """XXH32 with seed 0 of fewer than 16 bytes (public xxHash spec):
    the input sizes an LZ4 frame descriptor can have."""
    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (32 - r))) & 0xFFFFFFFF

    h = (_XXH_P5 + len(data)) & 0xFFFFFFFF
    i = 0
    while i + 4 <= len(data):
        (k,) = _U32.unpack_from(data, i)
        h = rotl((h + k * _XXH_P3) & 0xFFFFFFFF, 17) * _XXH_P4 & 0xFFFFFFFF
        i += 4
    for byte in data[i:]:
        h = rotl((h + byte * _XXH_P5) & 0xFFFFFFFF, 11) * _XXH_P1 & 0xFFFFFFFF
    h = (h ^ (h >> 15)) * _XXH_P2 & 0xFFFFFFFF
    h = (h ^ (h >> 13)) * _XXH_P3 & 0xFFFFFFFF
    return h ^ (h >> 16)


def _lz4_frame_decompress(src: bytes, size: int | None = None) -> bytes:
    """One LZ4 frame (public frame format; the container roslz4 writes
    for bag chunks and MCAP uses for ``lz4`` chunks), decoded by liblz4.

    Writers without xxHash leave the descriptor's header-checksum byte
    arbitrary, so it is recomputed, ``(XXH32(descriptor) >> 8) & 0xFF``,
    before liblz4 (which rejects a wrong one) sees the frame; block and
    content checksums, when the frame declares them, are still checked.
    ``size`` is the decompressed size the container records; a frame
    that decodes to any other size is corrupt."""
    (magic,) = _U32.unpack_from(src, 0)
    if magic != LZ4_MAGIC:
        raise ValueError(f"lz4: bad frame magic {magic:#x}")
    flg = src[4]
    hc = 6 + (8 if flg & 0x08 else 0) + (4 if flg & 0x01 else 0)
    if hc >= len(src):
        raise ValueError("lz4: truncated frame descriptor")
    check = (_xxh32_short(bytes(src[4:hc])) >> 8) & 0xFF
    frame = pa.py_buffer(b"".join((src[:hc], bytes((check,)), src[hc + 1:])))
    # the stream returns exactly the frame's content; the one-shot codec
    # would pad a short frame out to ``size`` without saying so
    with pa.CompressedInputStream(frame, "lz4") as stream:
        out = stream.read() if size is None else stream.read(size + 1)
    if size is not None and len(out) != size:
        raise ValueError(f"lz4: frame decoded to {len(out)} bytes, "
                         f"the container says {size}")
    return out


def _decompress_chunk(header: dict, data: bytes) -> bytes:
    comp = header.get("compression", b"none").decode()
    if comp == "none":
        return data
    if comp == "bz2":
        return bz2.decompress(data)
    if comp == "lz4":
        size = header.get("size")
        return _lz4_frame_decompress(
            data, None if size is None else _U32.unpack(size)[0])
    raise NotImplementedError(f"chunk compression {comp!r} is not supported")


_ARROW_MESSAGES = pa.schema([
    (f.name, to_arrow_type(f.dataType)) for f in MESSAGE_SCHEMA.fields])
_ARROW_MESSAGES_SKIP = _ARROW_MESSAGES.append(pa.field("error", pa.string()))


class _MessageColumns:
    """One bag's message rows, collected as columns in record order.

    Each row keeps the index of its connection in a table that grows as
    connection records arrive (index 0 = unknown connection, empty
    strings), so the four per-connection string columns are one
    ``take`` each, not one Python string per row."""

    def __init__(self, bag_file: str, with_error: bool):
        self.bag_file, self.with_error = bag_file, with_error
        self.conn_index: dict[bytes, int] = {}
        self.conns: list[tuple[str, str, str, str]] = [("", "", "", "")]
        self._reset()

    def _reset(self) -> None:
        self.idx: list[int] = []
        self.times: list[bytes] = []
        self.payloads: list[bytes] = []
        self.nbytes = 0

    def connection(self, header: dict, data: bytes) -> None:
        _U32.unpack(header["conn"])  # a malformed id is a corrupt record
        dfields = _parse_header(data)
        self.conn_index[header["conn"]] = len(self.conns)
        self.conns.append((
            dfields.get("topic", header.get("topic", b"")).decode(),
            dfields.get("type", b"").decode(),
            dfields.get("md5sum", b"").decode(),
            dfields.get("message_definition", b"").decode()))

    def message(self, header: dict, data: bytes) -> bool:
        """Add one message; True once the batch is full."""
        conn, time = header["conn"], header["time"]
        i = self.conn_index.get(conn)
        if i is None:
            _U32.unpack(conn)
            i = 0
        if len(time) != 8:
            raise struct.error(f"message time field of {len(time)} bytes")
        self.idx.append(i)
        self.times.append(time)
        self.payloads.append(data)
        self.nbytes += len(data)
        return len(self.idx) >= BATCH_ROWS or self.nbytes >= BATCH_BYTES

    def __len__(self) -> int:
        return len(self.idx)

    def batch(self) -> pa.RecordBatch:
        """The collected rows as one batch; starts the next one."""
        n = len(self.idx)
        take = pa.array(self.idx, pa.int32())
        conns = [pa.array(col, pa.string()).take(take)
                 for col in zip(*self.conns)]
        t = np.frombuffer(b"".join(self.times), "<u4").reshape(n, 2)
        time_ns = t[:, 0].astype(np.int64) * 1_000_000_000 + t[:, 1]
        cols = [pa.array([self.bag_file] * n, pa.string()), *conns,
                pa.array(time_ns), pa.array(self.payloads, pa.binary())]
        if self.with_error:
            cols.append(pa.nulls(n, pa.string()))
        self._reset()
        return pa.RecordBatch.from_arrays(
            cols, schema=_ARROW_MESSAGES_SKIP if self.with_error
            else _ARROW_MESSAGES)

    def marker(self, error: str) -> pa.RecordBatch:
        """The one row that names a bag the reader gave up on."""
        row = {f.name: None for f in _ARROW_MESSAGES_SKIP}
        row.update(bag_file=self.bag_file, error=error)
        return pa.RecordBatch.from_pylist([row], schema=_ARROW_MESSAGES_SKIP)


def _walk(buf: bytes, off: int, cols: _MessageColumns) -> Iterator[None]:
    """Add every message record in ``buf[off:]`` to ``cols``, descending
    into chunks; yields whenever ``cols`` holds a full batch.

    Bounds-checked: a truncated/corrupt bag (partial upload) raises
    instead of silently yielding short message payloads."""
    n = len(buf)
    unpack_from = _U32.unpack_from
    while off + 8 <= n:
        (hlen,) = unpack_from(buf, off)
        if off + 4 + hlen + 4 > n:
            raise ValueError(f"truncated record header at offset {off} "
                             f"(need {hlen} bytes, have {n - off - 4})")
        header = _parse_header(buf[off + 4:off + 4 + hlen])
        off += 4 + hlen
        (dlen,) = unpack_from(buf, off)
        if off + 4 + dlen > n:
            raise ValueError(f"truncated record data at offset {off} "
                             f"(need {dlen} bytes, have {n - off - 4})")
        data = buf[off + 4:off + 4 + dlen]
        off += 4 + dlen
        op = header.get("op", b"\x00")[0]
        if op == OP_MESSAGE:
            if cols.message(header, data):
                yield
        elif op == OP_CHUNK:
            yield from _walk(_decompress_chunk(header, data), 0, cols)
        elif op == OP_CONNECTION:
            cols.connection(header, data)


# corrupt/truncated/unsupported INPUT raises these from the parse path;
# anything else is a decoder defect and must propagate
_INPUT_ERRORS = (ValueError, KeyError, IndexError, EOFError,
                 struct.error, OSError, NotImplementedError)


def _bag_batches(bag_file: str, buf: bytes,
                 skip: bool = False) -> Iterator[pa.RecordBatch]:
    """Message batches of one in-memory bag image, in record order.

    Connection records (op=0x07) map conn-id → (topic, type, md5,
    definition); message records (op=0x02) carry conn-id + 8-byte
    (secs, nsecs) time + the serialized payload. Records at top level
    and inside chunks are handled identically. With ``skip``, an input
    error ends the bag: the rows read before it are kept, followed by
    one marker row (see :func:`read_bag_messages`)."""
    cols = _MessageColumns(bag_file, skip)
    error = None
    try:
        if buf[:len(MAGIC)] != MAGIC:
            raise ValueError(f"{bag_file}: not a ROS1 v2.0 bag")
        for _ in _walk(buf, len(MAGIC), cols):
            yield cols.batch()
    except _INPUT_ERRORS as e:
        if not skip:
            raise
        error = f"{type(e).__name__}: {e}"
    if len(cols):
        yield cols.batch()
    if error is not None:
        yield cols.marker(error)


def parse_bag_bytes(bag_file: str, buf: bytes) -> Iterator[tuple]:
    """Yield MESSAGE_SCHEMA tuples from one in-memory bag image."""
    for batch in _bag_batches(bag_file, buf):
        yield from zip(*(c.to_pylist() for c in batch.columns))


# --------------------------------------------------------------- Spark source

def read_bag_messages(spark: SparkSession, path: str,
                      glob: str = "*.bag",
                      on_error: str = "fail") -> DataFrame:
    """Long message table ``(bag_file, topic, msg_type, md5sum,
    message_definition, time_ns, data)`` for every message in every bag
    under ``path``.

    ``binaryFile`` distributes whole-bag payloads to executors (one row
    per bag — bag-level parallelism, matching the reference's
    one-container-per-bag unit of work, ecs_stack.py:293-318); the parse
    is a ``mapInArrow`` generator that yields a batch every
    ``BATCH_ROWS`` messages or ``BATCH_BYTES`` of payload, so a bag's
    messages stream out without materializing in one list.

    ``on_error``: ``'fail'`` (default) propagates any parse error and
    kills the job — right for curated inputs; ``'skip'`` salvages every
    message parsed BEFORE the corruption point of a truncated/corrupt
    bag and drops the rest of that bag only. At fleet scale one bad
    upload among tens of thousands of bags should cost one bag, not
    the batch — the reference's per-bag containers got this isolation
    for free (ecs_stack.py:293-318); a single Spark job must opt into
    it.

    In skip mode the output gains an ``error`` string column: null on
    every message row, and each salvaged bag additionally emits ONE
    marker row (``bag_file`` + ``error`` set, message fields null) so
    callers can quarantine bad inputs with
    ``where("error is not null")`` instead of re-listing files. Only
    *input*-shaped failures are skipped (truncation, bad lengths,
    missing header fields, codec/decompression errors, unsupported
    chunk compression); a decoder BUG (TypeError, AttributeError, …)
    still fails the job — silently truncating every bag on a code
    defect would be indistinguishable from corruption.
    """
    if on_error not in ("fail", "skip"):
        raise ValueError(f"on_error must be 'fail' or 'skip', got {on_error!r}")
    bags = (spark.read.format("binaryFile")
            .option("pathGlobFilter", glob).load(path)
            .select("path", "content"))
    skip = on_error == "skip"
    out_schema = MESSAGE_SCHEMA
    if skip:
        out_schema = T.StructType(
            list(MESSAGE_SCHEMA.fields)
            + [T.StructField("error", T.StringType())])

    def extract(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for path_, content in zip(batch.column(0).to_pylist(),
                                      batch.column(1).to_pylist()):
                yield from _bag_batches(path_.rsplit("/", 1)[-1], content, skip)

    return bags.mapInArrow(extract, out_schema)


def topic_metadata(messages: DataFrame) -> DataFrame:
    """Per-(bag, topic) stats — the reference's DynamoDB metadata item
    (main.py:61-74: message count, frequency) as a DataFrame."""
    span_s = (F.max("time_ns") - F.min("time_ns")) / 1e9
    return (messages.groupBy("bag_file", "topic", "msg_type")
            .agg(F.count(F.lit(1)).alias("n_messages"),
                 F.min("time_ns").alias("first_time_ns"),
                 F.max("time_ns").alias("last_time_ns"),
                 F.round(F.count(F.lit(1)) / span_s, 3).alias("frequency_hz")))


# --------------------------------------------------------- message decoding

_PRIMITIVES: dict[str, tuple[str, int, str]] = {
    # ros type -> (struct fmt, size, spark type)
    "bool": ("<?", 1, "boolean"),
    "int8": ("<b", 1, "int"), "uint8": ("<B", 1, "int"),
    "byte": ("<b", 1, "int"), "char": ("<B", 1, "int"),
    "int16": ("<h", 2, "int"), "uint16": ("<H", 2, "int"),
    "int32": ("<i", 4, "int"), "uint32": ("<I", 4, "long"),
    "int64": ("<q", 8, "long"), "uint64": ("<Q", 8, "long"),
    "float32": ("<f", 4, "double"), "float64": ("<d", 8, "double"),
}
#: time is (uint32 secs, uint32 nsecs), duration (int32 secs, int32
#: nsecs); both decode to nanoseconds
_TIMES = {"time": "II", "duration": "ii"}


def parse_definition_sections(defn: str) -> dict[str, list[tuple[str, str]]]:
    """Full gendeps-concatenated definition → ``{type_name: fields}``.

    The top-level message's own fields live under key ``""``; each
    dependent section (after a ``===`` separator, introduced by a
    ``MSG: pkg/Type`` line — the public gendeps format the reference's
    bags carry, main.py:101-113 consumes its output via bagpy) is keyed
    by its declared type name. Constants (``TYPE NAME=VALUE``) are not
    serialized and are skipped everywhere.
    """
    sections: dict[str, list[tuple[str, str]]] = {"": []}
    current: str | None = ""
    for line in defn.splitlines():
        if line.startswith("==="):
            current = None
            continue
        if current is None:
            if line.strip().startswith("MSG:"):
                current = line.split(":", 1)[1].strip()
                sections[current] = []
            continue
        line = line.split("#", 1)[0].strip()
        if not line:
            continue
        parts = line.split(None, 1)
        if len(parts) != 2 or "=" in parts[1]:
            continue
        sections[current].append((parts[0], parts[1].strip()))
    return sections


def _parse_ftype(ftype: str) -> tuple[str, bool, int | None]:
    """``base[N]`` / ``base[]`` / ``base`` → (base, is_array, fixed_n)."""
    if ftype.endswith("]"):
        base, _, rest = ftype.partition("[")
        n = rest[:-1]
        return base, True, (int(n) if n else None)
    return ftype, False, None


def _resolve_type(base: str, sections: dict[str, list]) -> str:
    """Message-type reference → section key. ``Header`` is the special
    unqualified alias for std_msgs/Header (public msg-spec rule);
    otherwise an unqualified name matches any section ``*/base``."""
    if base == "Header":
        base = "std_msgs/Header"
    if base in sections:
        return base
    if "/" not in base:
        for cand in sections:
            if cand.endswith("/" + base):
                return cand
    raise ValueError(
        f"message type {base!r} is not defined in this definition's "
        "dependent sections — the bag's message_definition is incomplete "
        "(msg-IDL requires every referenced type after the === separators)")


_SPARK_TYPES = {
    "boolean": T.BooleanType(), "int": T.IntegerType(),
    "long": T.LongType(), "double": T.DoubleType(),
}
_BYTE_ARRAYS = ("uint8", "char", "byte", "int8")  # arrays arrive as bytes


def _spark_field_type(ftype: str, sections: dict[str, list]) -> T.DataType:
    base, is_arr, _ = _parse_ftype(ftype)
    if is_arr and base in _BYTE_ARRAYS:
        return T.BinaryType()
    if base in _PRIMITIVES:
        elem: T.DataType = _SPARK_TYPES[_PRIMITIVES[base][2]]
    elif base == "string":
        elem = T.StringType()
    elif base in _TIMES:
        elem = T.LongType()
    else:
        name = _resolve_type(base, sections)
        elem = T.StructType([
            T.StructField(nm, _spark_field_type(ft, sections))
            for ft, nm in sections[name]])
    return T.ArrayType(elem) if is_arr else elem


class _DecoderSource:
    """Generates the Python source of one definition's batch decoder.

    ROS1 serialization is packed little-endian: nested messages inline
    with no length prefix, fixed arrays as N inline elements, strings
    and var arrays as a uint32 count + elements. The generated code
    walks that layout with an offset ``o`` into each payload ``b``. Every
    maximal run of fixed-size fields, across nested-message and
    fixed-array boundaries and including the count that ends it, is one
    ``Struct.unpack_from``; arrays of fixed-size structs are one
    ``iter_unpack``. Values are appended to one list per Arrow leaf
    column (plus one count list per var array) in wire order.

    A column node is ``("leaf", list_no, code, fixed_n)`` (``code`` is a
    struct code, ``"string"`` or ``"bytes"``), ``("struct", [nodes])`` or
    ``("list", counts_list_no | None, fixed_n, elem_node)``.
    """

    def __init__(self, sections: dict[str, list]):
        self.sections = sections
        self.ns: dict[str, object] = {"_unpack_from": struct.unpack_from}
        self.n_lists = 0
        self.lines: list[str] = []
        self.indent = 2
        self.n_vars = 0
        self.fmt = ""                # the open run's struct format
        self.n_values = 0            # values it unpacks
        self.sinks: dict[str, tuple[str, list[int]]] = {}

    # -- names
    def _list(self) -> int:
        self.n_lists += 1
        return self.n_lists - 1

    def _const(self, prefix: str, value) -> str:
        name = f"_{prefix}{len(self.ns)}"
        self.ns[name] = value
        return name

    def _var(self) -> str:
        self.n_vars += 1
        return f"n{self.n_vars}"

    def emit(self, line: str) -> None:
        self.lines.append("    " * self.indent + line)

    # -- column nodes and their fixed wire size
    def node(self, ftype: str):
        base, is_arr, n = _parse_ftype(ftype)
        if is_arr and base in _BYTE_ARRAYS:
            return ("leaf", self._list(), "bytes", n)
        if is_arr:
            counts = None if n is not None else self._list()
            return ("list", counts, n, self.node(base))
        if base in _PRIMITIVES:
            return ("leaf", self._list(), _PRIMITIVES[base][0][1], None)
        if base in _TIMES:
            return ("leaf", self._list(), _TIMES[base], None)
        if base == "string":
            return ("leaf", self._list(), "string", None)
        name = _resolve_type(base, self.sections)
        return ("struct", [self.node(ft) for ft, _ in self.sections[name]])

    def fixed_size(self, node) -> int | None:
        if node[0] == "struct":
            sizes = [self.fixed_size(ch) for ch in node[1]]
            return None if None in sizes else sum(sizes)
        if node[0] == "list":
            elem = self.fixed_size(node[3])
            return None if node[2] is None or elem is None else node[2] * elem
        _, _, code, n = node
        if code == "string" or (code == "bytes" and n is None):
            return None
        return n if code == "bytes" else struct.calcsize("<" + code)

    # -- the open run
    def take(self, code: str, list_no: int | str, kind: str = "v") -> None:
        """One fixed-size value joins the open run; it is stored into
        ``list_no`` (kind ``v``), converted from (secs, nsecs) first
        (kind ``t``), or bound to the count variable ``list_no`` (``n``)."""
        self.sinks.setdefault(str(list_no), (kind, []))[1].append(self.n_values)
        self.fmt += code
        self.n_values += 1 if code.endswith("s") else len(code)

    def _sink_actions(self, t: str) -> None:
        """Store the open run's values from tuple ``t``; closes the run."""
        for target, (kind, pos) in self.sinks.items():
            if kind == "n":
                self.emit(f"{target} = {t}[{pos[0]}]")
            elif kind == "t":
                for p in pos:
                    self.emit(f"a{target}({t}[{p}] * 1000000000 + {t}[{p + 1}])")
            elif len(pos) == 1:
                self.emit(f"a{target}({t}[{pos[0]}])")
            else:
                self.emit(f"x{target}({self._const('G', itemgetter(*pos))}({t}))")
        self.fmt, self.n_values, self.sinks = "", 0, {}

    def flush(self) -> None:
        if not self.fmt:
            return
        run = struct.Struct("<" + self.fmt)
        self.emit(f"t = {self._const('S', run)}.unpack_from(b, o)")
        self.emit(f"o += {run.size}")
        self._sink_actions("t")

    def count(self) -> str:
        """Read a uint32 count as the end of the open run."""
        var = self._var()
        self.take("I", var, "n")
        self.flush()
        return var

    # -- reading one value of a node
    def read(self, node) -> None:
        kind = node[0]
        if kind == "struct":
            for ch in node[1]:
                self.read(ch)
        elif kind == "list":
            self.read_list(node)
        else:
            _, no, code, n = node
            if code == "string":
                var = self.count()
                self.emit(f"a{no}(b[o:o + {var}].decode('utf-8', 'replace'))")
                self.emit(f"o += {var}")
            elif code == "bytes" and n is None:
                var = self.count()
                self.emit(f"a{no}(b[o:o + {var}])")
                self.emit(f"o += {var}")
            elif code == "bytes":
                self.take(f"{n}s", no)
            else:
                self.take(code, no, "t" if code in _TIMES.values() else "v")

    def read_list(self, node) -> None:
        _, counts, n, elem = node
        size = self.fixed_size(elem)
        if n is not None and size is not None:
            for _ in range(n):      # fixed array of fixed size: inline
                self.read(elem)
            return
        if n is None:
            n = self.count()
            self.emit(f"a{counts}({n})")
        self.flush()
        if size and elem[0] == "leaf" and elem[2] not in _TIMES.values():
            code = elem[2]
            self.emit(f"x{elem[1]}(_unpack_from('<%d{code}' % {n}, b, o))")
            self.emit(f"o += {size} * {n}")
        elif size:
            run = _DecoderSource(self.sections)
            run.read(elem)
            s = self._const("S", struct.Struct("<" + run.fmt))
            self.emit(f"for t in {s}.iter_unpack(b[o:o + {size} * {n}]):")
            self.indent += 1
            self.sinks = run.sinks
            self._sink_actions("t")
            self.indent -= 1
            self.emit(f"o += {size} * {n}")
        else:
            self.emit(f"for _ in range({n}):")
            self.indent += 1
            body = len(self.lines)
            self.read(elem)
            self.flush()
            if len(self.lines) == body:   # an empty message type
                self.emit("pass")
            self.indent -= 1


def _to_arrow(node, lists: list[list], rows: int, atype: pa.DataType) -> pa.Array:
    """Assemble one decoded column from the decoder's value lists."""
    if node[0] == "leaf":
        return pa.array(lists[node[1]], type=atype)
    if node[0] == "struct":
        fields = [atype.field(i) for i in range(atype.num_fields)]
        if not fields:
            return pa.array([{}] * rows, type=atype)
        return pa.StructArray.from_arrays(
            [_to_arrow(ch, lists, rows, f.type) for ch, f in zip(node[1], fields)],
            fields=fields)
    _, counts, n, elem = node
    if counts is None:
        offsets = np.arange(rows + 1, dtype=np.int32) * n
    else:
        offsets = np.zeros(rows + 1, np.int32)
        np.cumsum(lists[counts], out=offsets[1:])
    values = _to_arrow(elem, lists, int(offsets[-1]), atype.value_type)
    return pa.ListArray.from_arrays(pa.array(offsets), values, type=atype)


def _compile_decoder(defn: str) -> Callable[[list[bytes]], list[pa.Array]]:
    """``decode(payloads)`` → one Arrow array per top-level field of the
    message ``defn`` describes, typed as :func:`decode_messages` declares.

    The decoder is generated Python (see :class:`_DecoderSource`), so it
    is built inside each task: a ``struct.Struct`` does not pickle."""
    sections = parse_definition_sections(defn)
    gen = _DecoderSource(sections)
    fields = [(gen.node(ft), to_arrow_type(_spark_field_type(ft, sections)))
              for ft, _ in sections[""]]
    for node, _ in fields:
        gen.read(node)
    gen.flush()
    names = [f"c{i}" for i in range(gen.n_lists)]
    src = "\n".join(
        ["def decode(payloads):",
         *(f"    {c} = []; a{i} = {c}.append; x{i} = {c}.extend"
           for i, c in enumerate(names)),
         "    for b in payloads:",
         "        o = 0",
         *gen.lines,
         f"    return [{', '.join(names)}]"])
    exec(compile(src, "<ros1 decoder>", "exec"), gen.ns)
    gen_decode = gen.ns["decode"]

    def decode(payloads: list[bytes]) -> list[pa.Array]:
        lists = gen_decode(payloads)
        return [_to_arrow(node, lists, len(payloads), atype)
                for node, atype in fields]

    return decode


def decode_messages(messages: DataFrame, defn: str,
                    keep_cols: list[str] | None = None) -> DataFrame:
    """Decode serialized payloads of one topic into typed columns, driven
    by the full message definition: primitives, strings, time/duration,
    fixed/var-length arrays, and (arrays of) nested message types —
    nested structs become real ``StructType`` columns, byte arrays
    become ``binary``.

    The reference gets this decode from bagpy's CSV dump + YAML re-parse
    at the cost of single-node pandas and stringly-typed nested fields
    (main.py:93-113); here it is an Arrow-batched transform that scales
    with executors and yields typed ``array<struct<...>>`` columns that
    feed ``pipeline.scenes`` directly (no JSON round trip). Only
    ``keep_cols`` and the payload enter the ``mapInArrow``; each task
    compiles the definition once (:func:`_compile_decoder`).
    """
    sections = parse_definition_sections(defn)
    keep = keep_cols if keep_cols is not None else ["bag_file", "topic", "time_ns"]
    msg_fields = {f.name: f for f in MESSAGE_SCHEMA.fields}
    decoded = [T.StructField(name, _spark_field_type(ftype, sections))
               for ftype, name in sections[""]]
    out_schema = T.StructType([msg_fields[k] for k in keep] + decoded)
    names = out_schema.fieldNames()

    def decode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        dec = _compile_decoder(defn)
        for batch in batches:
            arrays = dec(batch.column(len(keep)).to_pylist())
            yield pa.RecordBatch.from_arrays(
                batch.columns[:len(keep)] + arrays, names=names)

    return messages.select(*keep, "data").mapInArrow(decode, out_schema)


def extract_topics(messages: DataFrame, defns: dict[str, str]) -> dict[str, DataFrame]:
    """Per-topic typed DataFrames — the reference's per-topic parquet
    tables (main.py:117-125) as in-plan transforms keyed by topic."""
    return {
        topic: decode_messages(messages.where(F.col("topic") == topic), defn)
        for topic, defn in defns.items()
    }
