"""Multimodal columns: image/audio/video as opaque ``binary`` + typed metadata.

Beyond-reference surface (SURVEY §7.2 step 6). The design rule: media
payloads ride through the engine as ``binary`` columns with a typed
metadata struct; compute that must look inside the bytes runs as
Arrow-batched ``mapInPandas`` (one Python round-trip per ~10k-row batch,
never per row — unlike the reference's ``df.rdd.map`` pattern,
detect_scenes.py:115-117).

Decoders: :func:`decode_image` is REAL for PPM (P6) / PGM (P5),
24-bit uncompressed BMP, — via stdlib ``zlib`` inflate plus per-row
Sub/Up/Average/Paeth unfiltering — 8-bit AND 16-bit PNG, plain or
Adam7-interlaced (gray / gray+alpha / RGB / RGBA / 8-bit palette;
16-bit gray is the AV depth-map format), and — r8/r10, via the
numpy codec in :mod:`.jpeg` — baseline sequential AND progressive
JPEG (4:4:4 / 4:2:2 / 4:2:0, grayscale, restart markers, spectral
selection + successive approximation), all with no external
library. Pillow handles anything else when present; PyAV decodes
real video codecs (H.264/HEVC) when present (r10). Payloads no
available path can decode RAISE by default;
callers may opt into the clearly-marked **deterministic fake
decoder** (pixels derived from a rolling hash of the payload) with
``allow_fake=True``, and every output row carries a ``codec``
provenance column ("ppm" / "bmp" / "png" / "jpeg" / "pillow" /
"fake") so fake pixels can never silently masquerade as real ones.
:func:`decode_audio` likewise decodes RIFF/WAVE PCM for real with a
builtin parser; compressed audio (mp3/flac/ogg/aac) rides the PyAV
seam when present and raises otherwise.

Scale notes: media rows are wide (MBs); ``repartition_for_media`` sizes
partitions by *bytes*, not rows, so a 100 TB corpus doesn't produce
2 GB Arrow batches. ``spark.sql.files.maxPartitionBytes`` governs the
scan side; ``target_partition_bytes`` governs the shuffle side.
"""

from __future__ import annotations

import hashlib
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

try:  # real decoder if the environment has it
    from PIL import Image  # noqa: F401
    _HAS_PIL = True
except Exception:  # pragma: no cover - container has no Pillow
    _HAS_PIL = False

try:  # real-codec video seam (H.264/HEVC/...) if the environment
    # has it — same optional-import discipline as Pillow above
    import av as _av  # noqa: F401
    _HAS_PYAV = True
except Exception:  # pragma: no cover - container has no PyAV
    _HAS_PYAV = False

MEDIA_META_SCHEMA = T.StructType([
    T.StructField("format", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("channels", T.IntegerType()),
    T.StructField("n_frames", T.IntegerType()),
    T.StructField("sample_rate", T.IntegerType()),
])


def pack_media(df: DataFrame, binary_col: str, fmt: str,
               width: int | None = None, height: int | None = None,
               channels: int = 3, n_frames: int = 1,
               sample_rate: int | None = None,
               meta_col: str = "media_meta") -> DataFrame:
    """Attach the typed metadata struct next to an opaque binary column."""
    return df.withColumn(meta_col, F.struct(
        F.lit(fmt).alias("format"),
        F.lit(width).cast("int").alias("width"),
        F.lit(height).cast("int").alias("height"),
        F.lit(channels).cast("int").alias("channels"),
        F.lit(n_frames).cast("int").alias("n_frames"),
        F.lit(sample_rate).cast("int").alias("sample_rate"),
    ))


def repartition_for_media(df: DataFrame, binary_col: str, *,
                          total_bytes: int,
                          target_partition_bytes: int = 128 << 20) -> DataFrame:
    """Repartition so each partition carries ~``target_partition_bytes``
    of payload — byte-aware sizing for wide binary rows.

    ``total_bytes`` is REQUIRED and keyword-only (an earlier signature
    took ``target_partition_bytes`` in this position — keyword-only
    makes stale positional call sites fail loudly instead of silently
    collapsing the corpus to one partition): pass the corpus payload size from
    metadata the caller already has — file-listing sizes, a manifest, or
    table statistics (``spark.sql("DESCRIBE EXTENDED ...")`` /
    ``df.inputFiles()`` + filesystem stats). An operator must not embed
    a driver action: the previous ``head(1)`` + ``count()`` fallback ran
    two jobs at plan-building time, which surprises callers composing
    lazy plans (and the earlier ``sum(length(payload))`` variant scanned
    the whole binary corpus)."""
    if total_bytes is None or total_bytes < 0:
        raise ValueError(
            "repartition_for_media requires total_bytes (payload size "
            "from file listing / manifest / table stats); it will not "
            "run driver actions at plan time to estimate it")
    n = max(1, int(total_bytes / target_partition_bytes) + 1)
    return df.repartition(n)


def byte_histogram_features(df: DataFrame, binary_col: str,
                            bins: int = 64,
                            out_col: str = "features") -> DataFrame:
    """L1-normalized byte histogram as an ``array<float>`` feature vector.

    A *real* (no-codec) feature extractor: useful as the embedding input
    for :func:`~.similarity.brute_force_topk` / dedup over media corpora.
    Arrow-batched ``mapInPandas``; numpy vectorized inside the batch.
    """
    fields = df.schema.fields
    out_schema = T.StructType(
        list(fields) + [T.StructField(out_col, T.ArrayType(T.FloatType()))])

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for payload in pdf[binary_col]:
                if payload is None or len(payload) == 0:
                    feats.append(None)
                    continue
                arr = np.frombuffer(payload, dtype=np.uint8)
                hist = np.bincount(arr >> (8 - bins.bit_length() + 1),
                                   minlength=bins)[:bins]
                feats.append((hist / hist.sum()).astype(np.float32))
            pdf = pdf.copy()
            pdf[out_col] = feats
            yield pdf

    return df.mapInPandas(extract, out_schema)


def _decode_ppm(payload: bytes) -> np.ndarray:
    """Pure-Python decoder for binary netpbm rasters — PPM (P6, RGB)
    and PGM (P5, grayscale), maxval ≤ 255 — a REAL image decode path
    that needs no external library. Returns (height, width, 3)
    uint8 RGB for P6, (height, width, 1) uint8 for P5."""
    if payload.startswith(b"P6"):
        channels = 3
    elif payload.startswith(b"P5"):
        channels = 1
    else:
        raise ValueError("not a P5/P6 netpbm payload")
    # header = magic <ws> width <ws> height <ws> maxval <single ws>
    # data; '#' comments may appear between tokens
    pos, tokens = 2, []
    while len(tokens) < 3:
        while pos < len(payload) and payload[pos:pos + 1].isspace():
            pos += 1
        if payload[pos:pos + 1] == b"#":
            while pos < len(payload) and payload[pos] not in (10, 13):
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos:pos + 1].isspace():
            pos += 1
        tokens.append(int(payload[start:pos]))
    pos += 1  # the single whitespace byte after maxval
    w, h, maxval = tokens
    if maxval > 255:
        raise ValueError("16-bit netpbm not supported by the builtin "
                         "decoder")
    n = w * h * channels
    data = np.frombuffer(payload, dtype=np.uint8, count=n, offset=pos)
    return data.reshape(h, w, channels)


def _decode_bmp(payload: bytes) -> np.ndarray:
    """Pure-Python decoder for uncompressed 24-bit BMP (BI_RGB,
    BITMAPINFOHEADER) — a REAL image decode path that needs no external
    library. Returns (height, width, 3) uint8, RGB."""
    if not payload.startswith(b"BM"):
        raise ValueError("not a BMP payload")
    data_off = int.from_bytes(payload[10:14], "little")
    w = int.from_bytes(payload[18:22], "little", signed=True)
    h = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    compression = int.from_bytes(payload[30:34], "little")
    if bpp != 24 or compression != 0:
        raise ValueError(
            f"builtin BMP decoder handles 24-bit BI_RGB only "
            f"(got bpp={bpp}, compression={compression})")
    bottom_up = h > 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3  # rows padded to 4 bytes
    rows = np.frombuffer(payload, dtype=np.uint8, count=stride * h,
                         offset=data_off).reshape(h, stride)
    img = rows[:, :w * 3].reshape(h, w, 3)
    if bottom_up:
        img = img[::-1]
    return img[:, :, ::-1].copy()  # BGR -> RGB


_PNG_SIG = b"\x89PNG\r\n\x1a\n"

#: Adam7 pass layout: (x_start, y_start, x_step, y_step) — public
#: PNG spec, the interlaced pixel schedule
_ADAM7 = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))


def _png_unfilter(raw: bytes, h: int, stride: int, bpp: int) -> np.ndarray:
    """Reverse PNG per-row filtering (types 0 None, 1 Sub, 2 Up,
    3 Average, 4 Paeth) over the inflated scanline stream."""
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    pos = 0
    for y in range(h):
        ftype = raw[pos]
        pos += 1
        row = np.frombuffer(raw, dtype=np.uint8, count=stride,
                            offset=pos).copy()
        pos += stride
        if ftype == 0:
            pass
        elif ftype == 1:  # Sub: + reconstructed byte bpp to the left
            for i in range(bpp, stride):
                row[i] = (int(row[i]) + int(row[i - bpp])) & 0xFF
        elif ftype == 2:  # Up: + reconstructed byte above (vectorizable)
            row += prev
        elif ftype == 3:  # Average: + floor((left + above) / 2)
            for i in range(stride):
                left = int(row[i - bpp]) if i >= bpp else 0
                row[i] = (int(row[i]) + ((left + int(prev[i])) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth predictor
            for i in range(stride):
                a = int(row[i - bpp]) if i >= bpp else 0
                b = int(prev[i])
                c = int(prev[i - bpp]) if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[i] = (int(row[i]) + pred) & 0xFF
        else:
            raise ValueError(f"PNG: unknown filter type {ftype}")
        out[y] = row
        prev = row
    return out


def _decode_png(payload: bytes) -> np.ndarray:
    """Pure-stdlib PNG decoder — ``zlib`` inflate of the IDAT stream plus
    per-row unfiltering; no external library. Handles 8-bit AND
    16-bit (r10 — the depth-map format AV pipelines store lidar/
    stereo ranges in) gray (1ch), gray+alpha (2ch), RGB (3ch),
    RGBA (4ch), plus 8-bit paletted images, plain or
    Adam7-INTERLACED (r10 — seven per-pass-filtered sub-images
    scattered by the pass schedule). PNG filtering is byte-wise
    whatever the depth, so the same unfilter pass serves both —
    16-bit rows just view as big-endian uint16 afterwards. Returns
    (height, width, channels), uint8 for 8-bit, uint16 for 16-bit."""
    if not payload.startswith(_PNG_SIG):
        raise ValueError("not a PNG payload")
    pos, ihdr, plte, idat = 8, None, None, []
    while pos + 8 <= len(payload):
        size = int.from_bytes(payload[pos:pos + 4], "big")
        cid = payload[pos + 4:pos + 8]
        body = payload[pos + 8:pos + 8 + size]
        if cid == b"IHDR":
            ihdr = body
        elif cid == b"PLTE":
            plte = body
        elif cid == b"IDAT":
            idat.append(body)
        elif cid == b"IEND":
            break
        pos += 12 + size  # length + type + body + CRC
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT chunk")
    w = int.from_bytes(ihdr[0:4], "big")
    h = int.from_bytes(ihdr[4:8], "big")
    bit_depth, color_type, _comp, _filt, interlace = ihdr[8:13]
    if bit_depth not in (8, 16) or interlace not in (0, 1):
        raise ValueError(
            f"builtin PNG decoder handles 8/16-bit only "
            f"(got bit_depth={bit_depth}, interlace={interlace})")
    if bit_depth == 16 and color_type == 3:
        raise ValueError("PNG: 16-bit palette is not a legal "
                         "combination")
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color_type)
    if channels is None:
        raise ValueError(f"PNG: invalid color type {color_type}")
    raw = zlib.decompress(b"".join(idat))
    bytes_per = bit_depth // 8
    px = channels * bytes_per             # bytes per pixel
    if interlace == 1:
        # Adam7 (r10): seven independent sub-images, each filtered
        # like a tiny non-interlaced stream (per-pass prev-row state,
        # empty passes contribute NO scanlines), scattered back onto
        # the full grid by the pass schedule
        samp = np.zeros((h, w, px), dtype=np.uint8)
        pos = 0
        for (x0, y0, dx, dy) in _ADAM7:
            wp = max(0, -(-(w - x0) // dx))
            hp = max(0, -(-(h - y0) // dy))
            if wp == 0 or hp == 0:
                continue
            stride_p = wp * px
            need = hp * (stride_p + 1)
            if pos + need > len(raw):
                raise ValueError("PNG: truncated Adam7 scanline "
                                 "stream")
            sub = _png_unfilter(raw[pos:pos + need], hp, stride_p,
                                px)
            pos += need
            samp[np.ix_(y0 + np.arange(hp) * dy,
                        x0 + np.arange(wp) * dx)] = \
                sub.reshape(hp, wp, px)
        if pos != len(raw):
            raise ValueError(
                f"PNG: Adam7 stream is {len(raw)} bytes, consumed "
                f"{pos}")
    else:
        stride = w * px
        if len(raw) != h * (stride + 1):
            raise ValueError(
                f"PNG: scanline stream is {len(raw)} bytes, "
                f"expected {h * (stride + 1)}")
        samp = _png_unfilter(raw, h, stride, px).reshape(h, w, px)
    if bit_depth == 16:
        img = samp.reshape(h, w, channels, 2).astype(np.uint16)
        img = ((img[..., 0] << 8) | img[..., 1])     # big-endian
    else:
        img = samp.reshape(h, w, channels)
    if color_type == 3:  # palette indices -> RGB
        if plte is None:
            raise ValueError("paletted PNG missing PLTE chunk")
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        img = pal[img[:, :, 0]]
    return img


_GIF_INTERLACE = ((0, 8), (4, 8), (2, 4), (1, 2))


def _gif_lzw_decode(mcs: int, data: bytes, npix: int) -> bytes:
    """GIF-variant LZW: variable-width codes (LSB-first bit packing,
    ``mcs+1`` .. 12 bits), clear/end codes, dictionary capped at 4096
    entries (a full dictionary without a clear code freezes growth —
    the 'deferred clear' the spec allows). Returns exactly ``npix``
    index bytes or raises."""
    if not 2 <= mcs <= 11:
        raise ValueError(f"GIF: invalid LZW min code size {mcs}")
    clear, end = 1 << mcs, (1 << mcs) + 1
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    width = mcs + 1
    out = bytearray()
    prev: bytes | None = None
    bitpos, total = 0, len(data) * 8
    while len(out) < npix:
        if bitpos + width > total:
            raise ValueError("GIF: LZW stream ended before the "
                             "frame's pixels were produced")
        i = bitpos >> 3
        chunk = int.from_bytes(data[i:i + 3], "little")
        code = (chunk >> (bitpos & 7)) & ((1 << width) - 1)
        bitpos += width
        if code == clear:
            table = list(base)
            width = mcs + 1
            prev = None
            continue
        if code == end:
            raise ValueError("GIF: LZW end code before the frame's "
                             "pixels were produced")
        if code < len(table) and code not in (clear, end):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]      # the KwKwK special case
        else:
            raise ValueError(f"GIF: LZW code {code} out of range")
        out += entry
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    return bytes(out[:npix])


def _gif_subblocks(payload: bytes, pos: int) -> tuple[bytes, int]:
    """Concatenate a GIF sub-block chain starting at ``pos``; returns
    (data, position after the 0x00 terminator)."""
    parts = []
    while True:
        if pos >= len(payload):
            raise ValueError("GIF: truncated sub-block chain")
        n = payload[pos]
        pos += 1
        if n == 0:
            return b"".join(parts), pos
        blk = payload[pos:pos + n]
        if len(blk) != n:
            raise ValueError("GIF: truncated sub-block")
        parts.append(blk)
        pos += n


def _gif_iter_frames(payload: bytes):
    """Walk a GIF87a/89a image, yielding ``(canvas, delay_cs)`` per
    animation frame — ``canvas`` is the COMPOSED logical screen
    (h, w, 3 uint8 RGB, valid until the next iteration: disposal
    mutates it in place) and ``delay_cs`` the frame's GCE delay in
    centiseconds (0 when absent). Disposal methods per the spec:
    0/1 leave in place, 2 restore background, 3 restore previous;
    GCE state (delay/transparency/disposal) applies to exactly ONE
    image. Strict-loud on out-of-palette indices, truncated LZW
    streams/sub-blocks, frames exceeding the screen, and unknown
    block types (misparse is worse than an error)."""
    if not payload.startswith((b"GIF87a", b"GIF89a")):
        raise ValueError("not a GIF payload")

    def u16(o: int) -> int:
        if o + 2 > len(payload):
            raise ValueError("GIF: truncated header")
        return int.from_bytes(payload[o:o + 2], "little")

    w, h = u16(6), u16(8)
    if w == 0 or h == 0 or len(payload) < 13:
        raise ValueError("GIF: empty logical screen")
    packed, bg = payload[10], payload[11]
    pos, gct = 13, None
    if packed & 0x80:
        n = 2 << (packed & 7)
        tbl = payload[pos:pos + 3 * n]
        if len(tbl) != 3 * n:
            raise ValueError("GIF: truncated global color table")
        gct = np.frombuffer(tbl, dtype=np.uint8).reshape(-1, 3)
        pos += 3 * n
    bg_rgb = (gct[bg] if gct is not None and bg < len(gct)
              else np.zeros(3, dtype=np.uint8))
    # allocated at the first decoded frame: the header alone may claim
    # a 65535x65535 screen (12.9 GB) that no frame ever backs
    canvas = None
    transparent = None
    disposal = 0
    delay_cs = 0
    n_frames = 0
    while True:
        if pos >= len(payload):
            raise ValueError("GIF: ran out of bytes before the "
                             "trailer")
        b = payload[pos]
        if b == 0x3B:
            if n_frames == 0:
                raise ValueError("GIF: trailer before any image data")
            return
        if b == 0x21:                     # extension
            if pos + 2 > len(payload):
                raise ValueError("GIF: truncated extension")
            label = payload[pos + 1]
            body, pos = _gif_subblocks(payload, pos + 2)
            if label == 0xF9 and len(body) >= 4:
                disposal = (body[0] >> 2) & 0x7
                delay_cs = int.from_bytes(body[1:3], "little")
                transparent = body[3] if body[0] & 1 else None
            continue
        if b != 0x2C:
            raise ValueError(f"GIF: unknown block type 0x{b:02x}")
        left, top = u16(pos + 1), u16(pos + 3)
        fw, fh = u16(pos + 5), u16(pos + 7)
        if pos + 10 > len(payload):
            raise ValueError("GIF: truncated image descriptor")
        ipacked = payload[pos + 9]
        pos += 10
        lct = None
        if ipacked & 0x80:
            n = 2 << (ipacked & 7)
            tbl = payload[pos:pos + 3 * n]
            if len(tbl) != 3 * n:
                raise ValueError("GIF: truncated local color table")
            lct = np.frombuffer(tbl, dtype=np.uint8).reshape(-1, 3)
            pos += 3 * n
        if fw == 0 or fh == 0 or left + fw > w or top + fh > h:
            raise ValueError(
                f"GIF: frame ({left},{top})+{fw}x{fh} exceeds the "
                f"{w}x{h} logical screen")
        if pos >= len(payload):
            raise ValueError("GIF: missing LZW min code size")
        mcs = payload[pos]
        data, pos = _gif_subblocks(payload, pos + 1)
        idx = np.frombuffer(_gif_lzw_decode(mcs, data, fw * fh),
                            dtype=np.uint8)
        if (ipacked & 0x40):              # interlaced: 4-pass rows
            rows = np.concatenate(
                [np.arange(start, fh, step)
                 for start, step in _GIF_INTERLACE])
            deint = np.empty((fh, fw), dtype=np.uint8)
            deint[rows] = idx.reshape(fh, fw)
            idx = deint
        else:
            idx = idx.reshape(fh, fw)
        pal = lct if lct is not None else gct
        if pal is None:
            raise ValueError("GIF: image has neither a local nor a "
                             "global color table")
        if int(idx.max(initial=0)) >= len(pal):
            raise ValueError(
                f"GIF: pixel index {int(idx.max())} outside the "
                f"{len(pal)}-entry palette")
        if canvas is None:
            canvas = np.empty((h, w, 3), dtype=np.uint8)
            canvas[...] = bg_rgb
        region = canvas[top:top + fh, left:left + fw]
        prev_region = region.copy() if disposal == 3 else None
        frame = pal[idx]
        if transparent is not None:
            keep = idx != transparent
            region[keep] = frame[keep]
        else:
            region[...] = frame
        yield canvas, delay_cs
        if disposal == 2:                 # restore to background
            canvas[top:top + fh, left:left + fw] = bg_rgb
        elif disposal == 3:               # restore to previous
            canvas[top:top + fh, left:left + fw] = prev_region
        transparent, disposal, delay_cs = None, 0, 0
        n_frames += 1


def _decode_gif(payload: bytes) -> np.ndarray:
    """Pure-stdlib GIF87a/89a decoder — LZW, global/local palettes,
    interlace, first frame of animations composed onto the logical
    screen (background-filled; the first frame's transparent pixels
    show the background, exactly what a renderer presents for frame
    1). Returns (screen_height, screen_width, 3) uint8 RGB. For the
    LATER frames of an animation — disposal/delay semantics included
    — use :func:`parse_gif_frames` / :func:`sample_frames`;
    GIF-as-image means frame 1."""
    canvas, _ = next(_gif_iter_frames(payload))
    return canvas


def parse_gif_frames(payload: bytes, *,
                     _sample_every: int = 1) -> dict:
    """Animated-GIF face of the video demux contract
    (:func:`parse_avi` / :func:`parse_mp4`): ``{"width", "height",
    "us_per_frame", "codec", "frames"}`` with every frame a
    PPM-wrapped RGB payload of the COMPOSED canvas at that point of
    the animation (disposal methods 0-3 honored, transparency over
    the live canvas — the frames a renderer actually presents).
    ``us_per_frame`` comes from the first frame's GCE delay
    (centiseconds → µs; ``None`` when the file carries no delay).
    Decode is inherently sequential (frame k composes onto the
    canvas frame k-1 left behind), but with ``_sample_every > 1``
    only the sampled canvases materialize as payloads — the same
    decode-sequential/materialize-sampled split as the PyAV seam,
    reported via ``"sampled_every"``."""
    frames: list[bytes] = []
    first_delay = None
    n = 0
    for canvas, delay_cs in _gif_iter_frames(payload):
        if first_delay is None:
            first_delay = delay_cs
        if n % _sample_every == 0:
            frames.append(_rgb_to_ppm(canvas))
        n += 1
    h, w = (int.from_bytes(payload[8:10], "little"),
            int.from_bytes(payload[6:8], "little"))
    out = {"width": w, "height": h,
           "us_per_frame": (first_delay * 10_000
                            if first_delay else None),
           "codec": "gif", "frames": frames}
    if _sample_every > 1:
        out["sampled_every"] = _sample_every
    return out


def _fake_decode_bytes(payload: bytes, width: int, height: int,
                       channels: int) -> np.ndarray:
    """DETERMINISTIC FAKE DECODER (no codec in this container).

    Produces a (height, width, channels) uint8 array whose values are a
    keyed hash stream of the payload — stable across runs/machines, so
    tests can pin outputs. Replace with a real codec via Pillow when
    available (see :func:`decode_image`).
    """
    n = width * height * channels
    out = np.empty(n, dtype=np.uint8)
    seed = payload[:64]
    filled = 0
    counter = 0
    while filled < n:
        block = hashlib.md5(seed + counter.to_bytes(4, "big")).digest()
        take = min(len(block), n - filled)
        out[filled:filled + take] = np.frombuffer(block[:take], dtype=np.uint8)
        filled += take
        counter += 1
    return out.reshape(height, width, channels)


def _decode_image_bytes(payload: bytes) -> tuple[np.ndarray | None, str | None]:
    """Codec dispatch for one payload: builtin PPM/BMP/PNG parsers first
    (real decodes, no dependency), Pillow for other formats when
    present. Returns ``(pixels, codec)``; ``(None, None)`` when no real
    decoder applies (caller decides whether to fake or raise)."""
    if payload.startswith((b"P6", b"P5")):
        return _decode_ppm(payload), "ppm"
    if payload.startswith(b"BM"):
        return _decode_bmp(payload), "bmp"
    if payload.startswith(_PNG_SIG):
        return _decode_png(payload), "png"
    if payload.startswith(b"\xFF\xD8\xFF"):
        from .jpeg import decode_jpeg, is_progressive_jpeg
        # progressive decodes natively (r10), but the pure-Python
        # multi-scan path is orders of magnitude slower than a C
        # decoder on big images — when Pillow is present, route
        # progressive payloads to it and keep the native path as
        # the no-dependency fallback
        if not (_HAS_PIL and is_progressive_jpeg(payload)):
            try:
                return decode_jpeg(payload), "jpeg"
            except NotImplementedError:
                # arithmetic/hierarchical variants: Pillow handles
                # them when present, else the honest guard propagates
                if not _HAS_PIL:
                    raise
    if payload.startswith((b"GIF87a", b"GIF89a")) and not _HAS_PIL:
        # builtin GIF (r11): real first-frame decode with no
        # dependency; when Pillow is present it serves the same
        # payload at C speed (pure-Python LZW is the no-dep fallback,
        # same split as progressive JPEG above)
        return _decode_gif(payload), "gif"
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP" \
            and not _HAS_PIL:
        # builtin WebP lossless (r12): real VP8L decode with no
        # dependency (vp8l.py); with Pillow present the whole family
        # (incl. quirky trailing chunks the strict walk would refuse)
        # goes to the C path below instead — the builtin walk only
        # runs, and only enforces strictness, when it IS the decoder
        from .vp8l import decode_vp8l, parse_webp_container
        info = parse_webp_container(payload)
        if info["vp8l"] is not None:
            return decode_vp8l(info["vp8l"]), "vp8l"
        if info["vp8"] is not None:
            # builtin lossy VP8 keyframe (r13, vp8.py): byte-exact
            # against libwebp incl. loop filter + fancy upsampling.
            # Lossy-with-alpha (VP8X+ALPH+VP8, the WebPEncodeRGBA
            # layout) composites the ALPH plane so the decoded
            # channel count matches the probed media_meta channels=4.
            from .vp8 import decode_vp8
            from .vp8l import decode_alpha_chunk
            rgb = decode_vp8(info["vp8"])
            if info.get("alph") is not None:
                a = decode_alpha_chunk(info["alph"], rgb.shape[1],
                                       rgb.shape[0])
                return (np.concatenate([rgb, a[..., None]], axis=-1),
                        "vp8")
            return rgb, "vp8"
        raise ValueError(
            f"WEBP: {info['codec']} container carries no VP8/VP8L "
            f"bitstream to decode")
    if _HAS_PIL:  # pragma: no cover - exercised only when Pillow exists
        import io

        from PIL import Image as _I
        im = _I.open(io.BytesIO(payload))
        if im.mode in ("L", "I", "I;16", "I;16B", "I;16L", "I;16N"):
            # preserve single-channel payloads AND their bit depth
            # (grayscale progressive JPEG, gray TIFF, 16/32-bit
            # depth maps): a blind convert("RGB") would break the
            # media_meta channels==1 dims check and quantize 16-bit
            # values the builtin PNG path preserves (advisor fix)
            return np.asarray(im)[..., None], "pillow"
        if im.mode == "LA":
            # gray+alpha stays 2-channel — alpha is data, not a
            # rendering hint, for training-corpus provenance
            return np.asarray(im), "pillow"
        return np.asarray(im.convert("RGB")), "pillow"
    return None, None


def decode_image(df: DataFrame, binary_col: str, meta_col: str = "media_meta",
                 out_col: str = "pixels", codec_col: str = "codec",
                 allow_fake: bool = False) -> DataFrame:
    """Decode image bytes to a flat ``array<int>`` pixel buffer
    (row-major, ``height × width × channels``) plus a ``codec``
    provenance column. PPM (P6) / PGM (P5), 24-bit BMP, 8-bit AND
    16-bit PNG — plain or Adam7-interlaced (16-bit gray = the
    depth-map format; the pixel ints carry the full 16-bit values),
    GIF87a/89a (LZW, interlace, local/global palettes, first frame
    of animations — r11), and JPEG —
    baseline sequential, multi-scan sequential, and progressive —
    decode for REAL with the builtin parsers (PNG via stdlib zlib,
    JPEG via the numpy codec in :mod:`.jpeg`); other formats use
    Pillow when present, which also serves as the fast C path for
    large progressive JPEGs and GIFs.

    A payload no real path can decode **raises** unless
    ``allow_fake=True``, in which case the deterministic fake decoder
    runs and the row is marked ``codec="fake"`` — downstream consumers
    can (and should) filter on it. Real decodes are validated against
    the ``media_meta`` dims so a swapped width/height or wrong channel
    count fails here, with a clear message, instead of scrambling
    pixels in a later ``reshape``.

    The output schema, batching, and downstream ops are identical
    whichever codec path runs — the codec is the only swappable piece.
    """
    fields = df.schema.fields
    out_schema = T.StructType(
        list(fields)
        + [T.StructField(out_col, T.ArrayType(T.IntegerType())),
           T.StructField(codec_col, T.StringType())])

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pixels, codecs = [], []
            for payload, meta in zip(pdf[binary_col], pdf[meta_col]):
                if payload is None:
                    pixels.append(None)
                    codecs.append(None)
                    continue
                w, h, c = (int(meta["width"]), int(meta["height"]),
                           int(meta["channels"]))
                arr, codec = _decode_image_bytes(bytes(payload))
                if arr is None:
                    if not allow_fake:
                        raise NotImplementedError(
                            "decode_image: payload is not PPM/BMP/PNG/GIF and "
                            "Pillow is unavailable; pass allow_fake=True to "
                            "substitute the deterministic fake decoder "
                            "(output will NOT reflect real pixels and is "
                            "marked codec='fake')")
                    arr, codec = (_fake_decode_bytes(bytes(payload), w, h, c),
                                  "fake")
                elif arr.shape != (h, w, c):
                    raise ValueError(
                        f"decode_image: decoded {codec} payload has dims "
                        f"(h, w, c)={arr.shape} but media_meta says "
                        f"(height={h}, width={w}, channels={c}) — fix the "
                        f"pack_media metadata (a mismatch would scramble "
                        f"pixels downstream)")
                pixels.append(arr.reshape(-1).astype(np.int32))
                codecs.append(codec)
            pdf = pdf.copy()
            pdf[out_col] = pixels
            pdf[codec_col] = codecs
            yield pdf

    return df.mapInPandas(decode, out_schema)


def resize_pixels(df: DataFrame, pixels_col: str, meta_col: str,
                  new_width: int, new_height: int,
                  out_col: str = "pixels_resized") -> DataFrame:
    """Nearest-neighbor resize of a decoded pixel buffer — pure numpy
    index arithmetic (real, codec-free), Arrow-batched."""
    fields = df.schema.fields
    out_schema = T.StructType(
        list(fields) + [T.StructField(out_col, T.ArrayType(T.IntegerType()))])

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for px, meta in zip(pdf[pixels_col], pdf[meta_col]):
                if px is None:
                    out.append(None)
                    continue
                w, h, c = (int(meta["width"]), int(meta["height"]),
                           int(meta["channels"]))
                img = np.asarray(px, dtype=np.int32).reshape(h, w, c)
                ys = (np.arange(new_height) * h) // new_height
                xs = (np.arange(new_width) * w) // new_width
                out.append(img[np.ix_(ys, xs)].reshape(-1))
            pdf = pdf.copy()
            pdf[out_col] = out
            yield pdf

    return df.mapInPandas(resize, out_schema)


def _wrap_dib_as_bmp(frame: bytes, w: int, h: int,
                     bpp: int = 24) -> bytes:
    """Prefix a raw AVI DIB frame (bottom-up padded BGR rows — the
    same pixel layout BMP uses) with BITMAPFILEHEADER +
    BITMAPINFOHEADER so the existing builtin BMP decoder reads it."""
    import struct
    ih = struct.pack("<IiiHHIIiiII", 40, w, h, 1, bpp, 0, len(frame),
                     0, 0, 0, 0)
    fh = b"BM" + struct.pack("<IHHI", 14 + 40 + len(frame), 0, 0, 54)
    return fh + ih + frame


def parse_avi(payload: bytes, *,
              _sample_every: int = 1,
              keyframes_only: bool = False) -> dict:
    """REAL RIFF/AVI demux (r8) — the video-container twin of the
    builtin WAVE parser: walks the chunk tree (hdrl → avih/strh/strf,
    movi → per-frame chunks) and returns ``{"width", "height",
    "us_per_frame", "codec", "frames"}`` where every frame is ALREADY
    a decodable image payload: MJPG frames are JPEGs as stored
    (→ the builtin JPEG decoder), raw-DIB frames are wrapped into BMPs
    (→ the builtin BMP decoder). Codecs beyond MJPG/raw raise the
    honest ``NotImplementedError`` naming the fourcc.

    The ``idx1`` index chunk's AVIIF_KEYFRAME flags (0x10) surface as
    ``keyframes`` (0-based frame indexes; None when the file carries
    no index — every MJPG/DIB frame is intra anyway).
    ``keyframes_only=True`` materializes only those frames and adds
    ``indexes`` mapping list positions back to real frame numbers
    (r12 — real video corpus profiling samples seekable frames, not
    every_n)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")
    info = {"width": None, "height": None, "us_per_frame": None,
            "codec": None}
    frames: list[bytes] = []
    state = {"in_vids": False, "compression": None, "idx1": None}

    def walk(pos: int, end: int) -> None:
        while pos + 8 <= end:
            cid = payload[pos:pos + 4]
            sz = int.from_bytes(payload[pos + 4:pos + 8], "little")
            dpos = pos + 8
            if cid == b"LIST":
                walk(dpos + 4, dpos + sz)
            elif cid == b"avih":
                info["us_per_frame"] = int.from_bytes(
                    payload[dpos:dpos + 4], "little")
                info["width"] = int.from_bytes(
                    payload[dpos + 32:dpos + 36], "little")
                info["height"] = int.from_bytes(
                    payload[dpos + 36:dpos + 40], "little")
            elif cid == b"strh":
                state["in_vids"] = payload[dpos:dpos + 4] == b"vids"
            elif cid == b"strf" and state["in_vids"]:
                state["compression"] = payload[dpos + 16:dpos + 20]
            elif len(cid) == 4 and cid[2:4] in (b"db", b"dc") \
                    and cid[:2].isdigit():
                frames.append(payload[dpos:dpos + sz])
            elif cid == b"idx1":
                # AVIIF_KEYFRAME (0x10) per video entry, in stream
                # order — 16-byte entries (ckid, flags, off, size)
                flags = []
                for p in range(dpos, min(dpos + sz,
                                         len(payload)) - 15, 16):
                    ckid = payload[p:p + 4]
                    if ckid[2:4] in (b"db", b"dc") \
                            and ckid[:2].isdigit():
                        f = int.from_bytes(payload[p + 4:p + 8],
                                           "little")
                        flags.append(bool(f & 0x10))
                state["idx1"] = flags
            pos = dpos + sz + (sz & 1)

    walk(12, len(payload))
    comp = state["compression"] or b"\x00\x00\x00\x00"
    keyflags = state["idx1"]
    keyframes = (None if keyflags is None or len(keyflags)
                 != len(frames)
                 else [i for i, k in enumerate(keyflags) if k])
    if comp == b"\x00\x00\x00\x00":
        info["codec"] = "rawdib"
        frames = [_wrap_dib_as_bmp(f, info["width"], info["height"])
                  for f in frames]
    elif comp in (b"MJPG", b"mjpg"):
        info["codec"] = "mjpeg"
    elif _HAS_PYAV:  # pragma: no cover - container has no PyAV
        return _pyav_demux(payload, _sample_every, keyframes_only)
    else:
        raise NotImplementedError(
            f"AVI codec {comp!r} is not supported by the builtin "
            f"demux (MJPG and uncompressed DIB are); install PyAV "
            f"for other codecs (the optional seam decodes them when "
            f"present)")
    info["keyframes"] = keyframes
    if keyframes_only and keyframes is not None:
        info["indexes"] = keyframes
        frames = [frames[i] for i in keyframes]
    info["frames"] = frames
    return info


def parse_ivf(payload: bytes, *,
              _sample_every: int = 1,
              keyframes_only: bool = False) -> dict:
    """IVF (``DKIF``) raw-VP8 video demux+decode (r14 — the consumer
    surface for the builtin VP8 inter-frame decoder, VERDICT r13
    item 4): the simple container libvpx tooling writes — a 32-byte
    header (fourcc, dims, timebase, frame count) and per-frame
    ``u32 size + u64 pts`` records. Frames decode through
    :class:`..vp8.VP8Decoder` (keyframes re-arm the reference
    buffers; inter frames motion-compensate against last/golden/
    altref) and come back PPM-wrapped in the :func:`parse_avi`
    contract. ``keyframes_only=True`` decodes ONLY keyframes (the
    frame tag's type bit makes them skippable without reconstruction
    — the genuine keyframe-sweep economy); ``_sample_every`` still
    decodes sequentially (inter chains require it) but materializes
    every n-th shown frame. Invisible (``show=0``) altref-update
    frames refresh their buffers and are never counted."""
    from .vp8 import VP8Decoder

    if payload[:4] != b"DKIF":
        raise ValueError("not an IVF (DKIF) payload")
    if len(payload) < 32:
        raise ValueError("IVF: truncated file header")
    hdr_size = int.from_bytes(payload[6:8], "little")
    fourcc = payload[8:12]
    if fourcc != b"VP80":
        raise NotImplementedError(
            f"IVF fourcc {fourcc!r} is not supported by the builtin "
            f"demux (VP80 is)")
    w = int.from_bytes(payload[12:14], "little")
    h = int.from_bytes(payload[14:16], "little")
    den = int.from_bytes(payload[16:20], "little")
    num = int.from_bytes(payload[20:24], "little")
    us = (int(1_000_000 * num / den) if den and num else None)
    dec = VP8Decoder()
    frames: list[bytes] = []
    kept: list[int] = []
    shown = 0
    pos = hdr_size if hdr_size >= 32 else 32
    while pos + 12 <= len(payload):
        sz = int.from_bytes(payload[pos:pos + 4], "little")
        body = payload[pos + 12:pos + 12 + sz]
        if len(body) < sz:
            raise ValueError("IVF: frame record overruns the file")
        pos += 12 + sz
        if not body:
            raise ValueError("IVF: empty frame record")
        keyframe = not (body[0] & 1)
        show = (body[0] >> 4) & 1
        if keyframes_only and not keyframe:
            shown += show       # skipped without reconstruction
            continue
        rgb = dec.decode_frame(body)
        if rgb is None:         # invisible altref update
            continue
        if keyframes_only or shown % _sample_every == 0:
            frames.append(_rgb_to_ppm(rgb))
            kept.append(shown)
        shown += 1
    if not frames:
        raise ValueError("IVF: no decodable shown frames")
    out = {"width": w, "height": h, "us_per_frame": us,
           "codec": "vp8", "frames": frames}
    if keyframes_only or _sample_every > 1:
        out["indexes"] = kept
    return out


def _rgb_to_ppm(arr: np.ndarray) -> bytes:
    """Wrap an (h, w, 3) uint8 RGB array as a binary PPM (P6) payload
    — the builtin :func:`_decode_ppm` reads it back losslessly, so
    PyAV-decoded video frames flow through the SAME downstream
    contract (``frames`` are decodable image payloads) as the builtin
    MJPEG/raw-DIB demux paths."""
    h, w = arr.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + np.ascontiguousarray(
        arr, dtype=np.uint8).tobytes()


def _pyav_demux(payload: bytes, every_n: int = 1,
                keyframes_only: bool = False) -> dict:
    """Real-codec demux+decode through the optional PyAV seam (r10,
    r9 VERDICT item 1): any container/codec ffmpeg knows (H.264,
    HEVC, VP9, ...) comes back in the :func:`parse_avi`/
    :func:`parse_mp4` contract — ``{"width", "height",
    "us_per_frame", "codec", "frames"}`` with every frame a
    PPM-wrapped RGB payload ready for :func:`decode_image`. The
    ``codec`` key carries the SOURCE codec name (``h264``/``hevc``)
    as provenance. Only called when ``_HAS_PYAV``.

    ``every_n`` keeps only every n-th decoded frame (inter-frame
    codecs must still DECODE sequentially, but only the sampled
    frames materialize as raw RGB — a 1080p hour of video held fully
    decoded would be ~100s of GB). When ``every_n > 1`` the result
    carries ``"sampled_every"`` so callers can map list positions
    back to real frame indexes. A stream yielding ZERO decodable
    frames raises (the builtin parsers' loud-at-parse-time
    contract), never returns None dimensions."""
    import io

    with _av.open(io.BytesIO(payload)) as container:
        stream = next((s for s in container.streams
                       if s.type == "video"), None)
        if stream is None:
            raise ValueError("container has no video track")
        codec = stream.codec_context.name
        frames: list[bytes] = []
        w = h = None
        kept: list[int] = []
        if keyframes_only:
            # the codec skips non-key frames entirely — the decoder
            # never reconstructs inter frames, so a keyframe sweep
            # over an hour of H.264 costs I-frame decode only (r12).
            # Decode delay (B-frame reorder) means frames emerge
            # AFTER later packets were demuxed, so a running packet
            # counter would mislabel them — instead collect every
            # packet's timestamp and rank each decoded frame's PTS
            # among them: that rank IS the presentation-order frame
            # number (r13 review fix), and an explicit drain recovers
            # keyframes still buffered at EOF.
            stream.codec_context.skip_frame = "NONKEY"
            pkt_ts: list[int] = []
            decoded: list[tuple] = []     # (pts, rgb ppm bytes)

            def _take(frame):
                nonlocal w, h
                arr = frame.to_ndarray(format="rgb24")
                h, w = arr.shape[:2]
                ts = frame.pts if frame.pts is not None else frame.dts
                decoded.append((ts, _rgb_to_ppm(arr)))

            for packet in container.demux(stream):
                if packet.size:
                    ts = (packet.pts if packet.pts is not None
                          else packet.dts)
                    if ts is not None:
                        pkt_ts.append(ts)
                for frame in packet.decode():
                    _take(frame)
            try:
                # PyAV's demux already yields a flush packet at EOF
                # in current versions; a second drain on a flushed
                # decoder raises EOFError — swallow it.
                for frame in stream.codec_context.decode(None):
                    _take(frame)
            except Exception:
                pass
            import bisect
            pkt_ts.sort()
            decoded.sort(key=lambda t: (t[0] is None,
                                        t[0] if t[0] is not None
                                        else 0))
            taken = set()
            for ts, ppm in decoded:
                frames.append(ppm)
                if ts is not None and pkt_ts:
                    idx = bisect.bisect_left(pkt_ts, ts)
                    taken.add(idx)
                    kept.append(idx)
                else:
                    kept.append(None)     # placeholder, filled below
            # frames with no timestamp at all (rare raw streams):
            # give each the smallest index not already claimed by a
            # real PTS rank so frame_index stays unique per payload
            nxt = 0
            for i, idx in enumerate(kept):
                if idx is None:
                    while nxt in taken:
                        nxt += 1
                    taken.add(nxt)
                    kept[i] = nxt
        else:
            for i, frame in enumerate(container.decode(stream)):
                if i % every_n:
                    continue              # decoded, not materialized
                arr = frame.to_ndarray(format="rgb24")
                h, w = arr.shape[:2]
                frames.append(_rgb_to_ppm(arr))
        if w is None:
            raise ValueError(
                f"video stream ({codec}) yielded no decodable "
                f"frames — corrupt or unsupported packets")
        rate = stream.average_rate
        us = (int(1_000_000 / float(rate))
              if rate else None)
        out = {"width": w, "height": h, "us_per_frame": us,
               "codec": codec, "frames": frames}
        if keyframes_only:
            out["indexes"] = kept         # real frame numbers
        elif every_n > 1:
            out["sampled_every"] = every_n
        return out


def _mp4_boxes(payload: bytes, pos: int, end: int):
    """(type, body_start, body_end) for each ISO-BMFF box in
    ``payload[pos:end]`` — 32-bit size, ``size==1`` largesize,
    ``size==0`` to-end, per ISO/IEC 14496-12 (public spec)."""
    while pos + 8 <= end:
        size = int.from_bytes(payload[pos:pos + 4], "big")
        btype = payload[pos + 4:pos + 8]
        body = pos + 8
        if size == 1:
            if pos + 16 > end:
                raise ValueError("truncated MP4 largesize box")
            size = int.from_bytes(payload[pos + 8:pos + 16], "big")
            body = pos + 16
        elif size == 0:
            size = end - pos
        if size < 8 or pos + size > end:
            raise ValueError("truncated/invalid MP4 box")
        yield btype, body, pos + size
        pos += size


def _mp4_find(payload: bytes, pos: int, end: int, *path: bytes):
    """Descend a box path; yields (body_start, body_end) of every
    terminal match (tracks repeat, so this is a generator)."""
    head, rest = path[0], path[1:]
    for btype, b, e in _mp4_boxes(payload, pos, end):
        if btype != head:
            continue
        if not rest:
            yield b, e
        else:
            yield from _mp4_find(payload, b, e, *rest)


def parse_mp4(payload: bytes, *,
              _sample_every: int = 1,
              keyframes_only: bool = False) -> dict:
    """REAL ISO-BMFF/MP4 demux (r9) — the camera-export shape the
    reference's AV domain overwhelmingly ships (parse_avi:435 is the
    RIFF twin; r8 VERDICT item 7). Walks moov → trak → mdia → minf →
    stbl of the first VIDEO track (``hdlr`` = ``vide``) and resolves
    every sample's file offset from the sample tables (stsc
    sample-to-chunk runs, stco/co64 chunk offsets, stsz sizes), so
    ``frames`` are the stored sample payloads sliced straight out of
    ``mdat``. MJPEG-family sample entries (``jpeg``/``mjpa``/
    ``MJPG``) are ALREADY decodable JPEGs (→ the builtin decoder);
    every other codec routes through the optional **PyAV seam**
    (r10: H.264/HEVC camera exports decode to PPM-wrapped RGB frames
    when the ``av`` package is present — reference README.md:83-113,
    compressed camera topics) and raises the honest
    ``NotImplementedError`` naming the fourcc otherwise. Returns
    ``{"width", "height", "us_per_frame", "codec", "frames"}`` —
    the same contract as :func:`parse_avi`.

    The ``stss`` sync-sample table surfaces as ``keyframes``
    (0-based; None when the box is absent — ISO-BMFF then defines
    EVERY sample as sync). ``keyframes_only=True`` slices only the
    sync samples out of ``mdat`` (the non-sync bytes are never
    materialized) and adds ``indexes`` mapping list positions to
    real sample numbers (r12)."""
    if len(payload) < 12 or payload[4:8] != b"ftyp":
        raise ValueError("not an ISO-BMFF/MP4 payload")
    n = len(payload)
    for trak_b, trak_e in _mp4_find(payload, 0, n, b"moov", b"trak"):
        handlers = [payload[b + 8:b + 12] for b, e in
                    _mp4_find(payload, trak_b, trak_e,
                              b"mdia", b"hdlr")]
        if b"vide" not in handlers:
            continue
        timescale = None
        for b, e in _mp4_find(payload, trak_b, trak_e,
                              b"mdia", b"mdhd"):
            ver = payload[b]
            timescale = int.from_bytes(
                payload[b + (20 if ver == 1 else 12):
                        b + (24 if ver == 1 else 16)], "big")
        stbl = next(_mp4_find(payload, trak_b, trak_e, b"mdia",
                              b"minf", b"stbl"), None)
        if stbl is None:
            raise ValueError("MP4 video track missing stbl box")
        boxes = {t: (b, e) for t, b, e in _mp4_boxes(payload, *stbl)}
        for need in (b"stsd", b"stsz", b"stsc"):
            if need not in boxes:
                raise ValueError(
                    f"MP4 video track missing {need.decode()} box")
        # stsd: first sample entry's fourcc + dimensions
        b, e = boxes[b"stsd"]
        entry = b + 8                      # version/flags + count
        fourcc = payload[entry + 4:entry + 8]
        width = int.from_bytes(payload[entry + 32:entry + 34], "big")
        height = int.from_bytes(payload[entry + 34:entry + 36], "big")
        if fourcc not in (b"jpeg", b"mjpa", b"MJPG", b"mjpg"):
            if _HAS_PYAV:  # pragma: no cover - container has no PyAV
                return _pyav_demux(payload, _sample_every,
                                   keyframes_only)
            raise NotImplementedError(
                f"MP4 video codec {fourcc!r} is not supported by the "
                f"builtin demux (MJPEG-family is); install PyAV for "
                f"H.264/HEVC (the optional seam decodes them when "
                f"present)")
        # stsz: per-sample sizes
        b, e = boxes[b"stsz"]
        fixed = int.from_bytes(payload[b + 4:b + 8], "big")
        count = int.from_bytes(payload[b + 8:b + 12], "big")
        sizes = ([fixed] * count if fixed else
                 [int.from_bytes(payload[b + 12 + 4 * i:
                                         b + 16 + 4 * i], "big")
                  for i in range(count)])
        # stco/co64: chunk offsets (absolute)
        if b"stco" in boxes:
            b, e = boxes[b"stco"]
            nc = int.from_bytes(payload[b + 4:b + 8], "big")
            offs = [int.from_bytes(payload[b + 8 + 4 * i:
                                           b + 12 + 4 * i], "big")
                    for i in range(nc)]
        elif b"co64" in boxes:
            b, e = boxes[b"co64"]
            nc = int.from_bytes(payload[b + 4:b + 8], "big")
            offs = [int.from_bytes(payload[b + 8 + 8 * i:
                                           b + 16 + 8 * i], "big")
                    for i in range(nc)]
        else:
            raise ValueError("MP4 video track missing stco/co64 box")
        # stsc: (first_chunk, samples_per_chunk) runs
        b, e = boxes[b"stsc"]
        ne = int.from_bytes(payload[b + 4:b + 8], "big")
        runs = [(int.from_bytes(payload[b + 8 + 12 * i:
                                        b + 12 + 12 * i], "big"),
                 int.from_bytes(payload[b + 12 + 12 * i:
                                        b + 16 + 12 * i], "big"))
                for i in range(ne)]
        # stts: average frame duration
        us_per_frame = None
        if b"stts" in boxes and timescale:
            b, e = boxes[b"stts"]
            if int.from_bytes(payload[b + 4:b + 8], "big") >= 1:
                delta = int.from_bytes(payload[b + 12:b + 16], "big")
                us_per_frame = int(delta * 1_000_000 / timescale)
        # stss: sync samples (1-based in the box). Absent box = every
        # sample is a sync sample (ISO-BMFF 8.6.2)
        sync = None
        if b"stss" in boxes:
            b, e = boxes[b"stss"]
            ns = int.from_bytes(payload[b + 4:b + 8], "big")
            sync = {int.from_bytes(payload[b + 8 + 4 * i:
                                           b + 12 + 4 * i],
                                   "big") - 1
                    for i in range(ns)}
        frames: list[bytes] = []
        kept: list[int] = []
        si = 0
        for ci, coff in enumerate(offs, start=1):
            spc = 0
            for fc, n_s in runs:
                if fc <= ci:
                    spc = n_s
                else:
                    break
            pos = coff
            for _ in range(spc):
                if si >= count:
                    break
                sz = sizes[si]
                if pos + sz > n:
                    raise ValueError("MP4 sample extends past EOF")
                if not (keyframes_only and sync is not None
                        and si not in sync):
                    frames.append(payload[pos:pos + sz])
                    kept.append(si)
                pos += sz
                si += 1
        out = {"width": width, "height": height,
               "us_per_frame": us_per_frame, "codec": "mjpeg",
               "frames": frames,
               "keyframes": (sorted(sync) if sync is not None
                             else None)}
        if keyframes_only and sync is not None:
            out["indexes"] = kept
        return out
    raise ValueError("MP4 has no video track")


def sample_frames(df: DataFrame, binary_col: str, meta_col: str = "media_meta",
                  every_n: int = 10, frame_col: str = "frame",
                  index_col: str = "frame_index",
                  demux_col: str = "demux",
                  keyframes_only: bool = False) -> DataFrame:
    """Explode a video payload into every ``every_n``-th frame row.

    Framing: RIFF/AVI payloads demux for REAL (:func:`parse_avi` —
    MJPG frames come out as JPEG payloads, raw DIB frames as BMPs, so
    the exploded ``frame`` column feeds :func:`decode_image` directly;
    rows carry ``demux="avi"``), and so do ISO-BMFF/MP4 payloads
    (:func:`parse_mp4`, MJPEG tracks, ``demux="mp4"`` — r9) and
    ANIMATED GIFs (:func:`parse_gif_frames`, r11 — composed canvases
    with disposal honored, PPM-wrapped, ``demux="gif"``).
    Anything else falls back to
    fixed-size byte slices of ``len(payload) / n_frames`` (the
    documented DETERMINISTIC FAKE of the demux step, ``demux="slice"``
    — a real build swaps in PyAV for other containers). The explode
    itself — one output row per sampled frame, metadata preserved,
    frame index attached — is the scale-relevant plumbing: fan-out
    happens executor-side, so a 1-hour video never materializes on
    the driver.

    ``keyframes_only=True`` (r12) samples the SEEKABLE frames instead
    of every ``every_n``-th: MP4 ``stss`` sync samples / AVI ``idx1``
    keyframe flags select the set builtin (non-sync bytes never
    materialize), and the PyAV seam sets ``skip_frame=NONKEY`` so
    inter frames aren't even reconstructed. ``every_n`` then strides
    over the keyframe sequence; ``frame_index`` stays the REAL frame
    number. Files with no index (or all-intra codecs) keep every
    frame eligible — for MJPEG/GIF/raw-DIB the two modes coincide,
    which is correct: every frame there IS a keyframe.
    """
    keep = [f for f in df.schema.fields if f.name != binary_col]
    out_schema = T.StructType(keep + [
        T.StructField(index_col, T.IntegerType()),
        T.StructField(frame_col, T.BinaryType()),
        T.StructField(demux_col, T.StringType()),
    ])
    keep_names = [f.name for f in keep]

    def emit(rows, kv, info, tag):
        fr = info["frames"]
        idx = info.get("indexes")
        step = info.get("sampled_every")
        if idx is not None:
            # keyframes-only demux: positions carry their REAL frame
            # numbers; every_n strides over the keyframe sequence
            for j in range(0, len(fr), every_n):
                rows.append(kv + (idx[j], fr[j], tag))
        elif step:
            # the PyAV seam already kept only every_n-th frame
            # (decode stayed sequential, memory didn't): positions
            # map back to REAL frame indexes via the step
            for j, f in enumerate(fr):
                rows.append(kv + (j * step, f, tag))
        else:
            for i in range(0, len(fr), every_n):
                rows.append(kv + (i, fr[i], tag))

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            # column zip, not iterrows() — each "row" here is an
            # entire media file, but the Arrow-stage discipline is
            # uniform across the package (r13 cleanup)
            for payload, meta, *kvl in zip(
                    pdf[binary_col], pdf[meta_col],
                    *(pdf[k] for k in keep_names)):
                if payload is None or meta is None:
                    continue
                kv = tuple(kvl)
                pb = bytes(payload)
                if pb[:4] == b"RIFF" and pb[8:12] == b"AVI ":
                    emit(rows, kv,
                         parse_avi(pb, _sample_every=every_n,
                                   keyframes_only=keyframes_only),
                         "avi")
                    continue
                if len(pb) >= 12 and pb[4:8] == b"ftyp":
                    emit(rows, kv,
                         parse_mp4(pb, _sample_every=every_n,
                                   keyframes_only=keyframes_only),
                         "mp4")
                    continue
                if pb[:4] == b"DKIF":
                    # raw VP8 video in IVF (r14): keyframes AND inter
                    # frames decode builtin (vp8.VP8Decoder) —
                    # keyframes_only skips inter reconstruction
                    # entirely via the frame tag's type bit
                    emit(rows, kv,
                         parse_ivf(pb, _sample_every=every_n,
                                   keyframes_only=keyframes_only),
                         "ivf")
                    continue
                if pb[:4] == b"\x1a\x45\xdf\xa3" and _HAS_PYAV:
                    # Matroska/WebM: only the PyAV seam reads it;
                    # without the package this falls through to the
                    # documented slice fake  # pragma: no cover
                    emit(rows, kv,
                         _pyav_demux(pb, every_n, keyframes_only),
                         "pyav")
                    continue
                if pb[:6] in (b"GIF87a", b"GIF89a"):
                    # animated GIF demuxes for REAL builtin (r11):
                    # composed canvases per frame, disposal honored
                    emit(rows, kv,
                         parse_gif_frames(pb, _sample_every=every_n),
                         "gif")
                    continue
                if pb[:4] == b"RIFF" and pb[8:12] == b"WEBP":
                    # animated WebP (r12): ANMF frames composed
                    # builtin when VP8L-coded (blend/dispose
                    # honored); every composed frame is a keyframe,
                    # so keyframes_only is a no-op like GIF
                    from .vp8l import parse_webp_frames
                    emit(rows, kv,
                         parse_webp_frames(pb,
                                           _sample_every=every_n),
                         "webp")
                    continue
                n_frames = max(1, int(meta["n_frames"]))
                size = max(1, len(pb) // n_frames)
                for i in range(0, n_frames, every_n):
                    frame = pb[i * size:(i + 1) * size]
                    rows.append(kv + (i, frame, "slice"))
            yield pd.DataFrame(rows, columns=keep_names
                               + [index_col, frame_col, demux_col])

    return df.mapInPandas(sample, out_schema)


_MEDIA_INFO_SCHEMA = T.StructType([
    T.StructField("format", T.StringType()),
    T.StructField("codec", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("channels", T.IntegerType()),
    T.StructField("bit_depth", T.IntegerType()),
    T.StructField("n_frames", T.IntegerType()),
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("duration_s", T.DoubleType()),
    T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
    T.StructField("error", T.StringType()),
])

_JPEG_SOF = {0xC0: "baseline", 0xC1: "extended", 0xC2: "progressive",
             0xC3: "lossless", 0xC5: "diff", 0xC6: "diff-prog",
             0xC7: "diff-lossless", 0xC9: "arith", 0xCA: "arith-prog",
             0xCB: "arith-lossless", 0xCD: "diff-arith",
             0xCE: "diff-arith-prog", 0xCF: "diff-arith-lossless"}


def _probe_media_bytes(pb: bytes) -> dict:
    """Header-only metadata for one payload — the decode-free probe
    behind :func:`media_metadata`. Never raises: malformed payloads
    come back with ``format`` from the magic plus an ``error``;
    unrecognized magics come back ``format='unknown'``."""
    out = {k.name: None for k in _MEDIA_INFO_SCHEMA.fields}
    out["tags"] = {}

    def ppm():
        out["format"] = "ppm" if pb[:2] == b"P6" else "pgm"
        pos, toks = 2, []
        while len(toks) < 3:
            while pb[pos:pos + 1].isspace():
                pos += 1
            if pb[pos:pos + 1] == b"#":
                while pos < len(pb) and pb[pos] not in (10, 13):
                    pos += 1
                continue
            start = pos
            while pos < len(pb) and not pb[pos:pos + 1].isspace():
                pos += 1
            if pos == start:
                raise ValueError("truncated netpbm header")
            toks.append(int(pb[start:pos]))
        out["width"], out["height"], maxval = toks
        out["channels"] = 3 if pb[:2] == b"P6" else 1
        out["bit_depth"] = 16 if maxval > 255 else 8
        out["n_frames"] = 1

    def bmp():
        out["format"] = "bmp"
        out["width"] = int.from_bytes(pb[18:22], "little",
                                      signed=True)
        out["height"] = abs(int.from_bytes(pb[22:26], "little",
                                           signed=True))
        bpp = int.from_bytes(pb[28:30], "little")
        out["bit_depth"] = 8
        out["channels"] = max(bpp // 8, 1)
        out["n_frames"] = 1

    def png():
        out["format"] = "png"
        if pb[12:16] != b"IHDR":
            raise ValueError("PNG missing IHDR")
        out["width"] = int.from_bytes(pb[16:20], "big")
        out["height"] = int.from_bytes(pb[20:24], "big")
        out["bit_depth"] = pb[24]
        ctype = pb[25]
        out["channels"] = {0: 1, 2: 3, 3: 3, 4: 2, 6: 4}.get(ctype)
        if out["channels"] is None:
            raise ValueError(f"PNG invalid color type {ctype}")
        out["n_frames"] = 1

    def gif():
        out["format"] = "gif"
        out["width"] = int.from_bytes(pb[6:8], "little")
        out["height"] = int.from_bytes(pb[8:10], "little")
        out["channels"], out["bit_depth"] = 3, 8
        pos = 13
        if pb[10] & 0x80:
            pos += 3 * (2 << (pb[10] & 7))
        frames, delay_cs = 0, 0
        while pos < len(pb) and pb[pos] != 0x3B:
            b = pb[pos]
            if b == 0x21:
                label = pb[pos + 1]
                body, pos = _gif_subblocks(pb, pos + 2)
                if label == 0xF9 and len(body) >= 3:
                    delay_cs += int.from_bytes(body[1:3], "little")
            elif b == 0x2C:
                frames += 1
                if pb[pos + 9] & 0x80:
                    pos += 3 * (2 << (pb[pos + 9] & 7))
                pos += 10
                _, pos = _gif_subblocks(pb, pos + 1)
            else:
                raise ValueError(f"GIF unknown block 0x{b:02x}")
        out["n_frames"] = frames
        if frames == 0:
            raise ValueError("GIF carries no image data")
        if delay_cs:
            out["duration_s"] = delay_cs / 100.0

    def jpeg():
        from .jpeg import is_progressive_jpeg
        out["format"] = "jpeg"
        pos = 2
        while pos + 4 <= len(pb):
            if pb[pos] != 0xFF:
                pos += 1
                continue
            m = pb[pos + 1]
            if m in (0xFF, 0x00) or 0xD0 <= m <= 0xD8:
                pos += 2
                continue
            seg = int.from_bytes(pb[pos + 2:pos + 4], "big")
            if m in _JPEG_SOF:
                out["bit_depth"] = pb[pos + 4]
                out["height"] = int.from_bytes(pb[pos + 5:pos + 7],
                                               "big")
                out["width"] = int.from_bytes(pb[pos + 7:pos + 9],
                                              "big")
                out["channels"] = pb[pos + 9]
                out["n_frames"] = 1
                out["codec"] = ("progressive"
                                if is_progressive_jpeg(pb)
                                else _JPEG_SOF[m])
                return
            pos += 2 + seg
        raise ValueError("JPEG missing SOF marker")

    def riff():
        kind = pb[8:12]
        if kind == b"WEBP":
            # WebP (r12): dims/alpha from the codec payload header,
            # ANMF frames counted — all header-only (vp8l.py)
            from .vp8l import parse_webp_container
            out["format"] = "webp"
            info = parse_webp_container(pb)
            out["codec"] = info["codec"]
            out["width"] = info["width"]
            out["height"] = info["height"]
            out["channels"] = 4 if info["has_alpha"] else 3
            out["bit_depth"] = 8
            out["n_frames"] = info["n_frames"] or None
            return
        if kind == b"WAVE":
            out["format"] = "wav"
            pos, fmt, data_len = 12, None, None
            while pos + 8 <= len(pb):
                cid = pb[pos:pos + 4]
                size = int.from_bytes(pb[pos + 4:pos + 8], "little")
                if cid == b"fmt ":
                    fmt = pb[pos + 8:pos + 8 + size]
                elif cid == b"data":
                    data_len = size
                pos += 8 + size + (size & 1)
            if fmt is None:
                raise ValueError("WAV missing fmt chunk")
            code = int.from_bytes(fmt[0:2], "little")
            out["codec"] = {1: "pcm", 3: "float", 6: "alaw",
                            7: "ulaw"}.get(code, f"fmt-{code}")
            out["channels"] = int.from_bytes(fmt[2:4], "little")
            out["sample_rate"] = int.from_bytes(fmt[4:8], "little")
            out["bit_depth"] = int.from_bytes(fmt[14:16], "little")
            if data_len is not None and out["channels"]:
                frame = max(out["channels"] * out["bit_depth"] // 8,
                            1)
                out["n_frames"] = data_len // frame
                if out["sample_rate"]:
                    out["duration_s"] = (out["n_frames"]
                                         / out["sample_rate"])
        elif kind == b"AVI ":
            out["format"] = "avi"
            pos = 12
            stack = [(pos, len(pb))]
            while stack:
                p, end = stack.pop()
                while p + 8 <= end:
                    cid = pb[p:p + 4]
                    size = int.from_bytes(pb[p + 4:p + 8], "little")
                    if cid == b"LIST":
                        stack.append((p + 12, p + 8 + size))
                    elif cid == b"avih":
                        us = int.from_bytes(pb[p + 8:p + 12],
                                            "little")
                        out["n_frames"] = int.from_bytes(
                            pb[p + 24:p + 28], "little")
                        out["width"] = int.from_bytes(
                            pb[p + 40:p + 44], "little")
                        out["height"] = int.from_bytes(
                            pb[p + 44:p + 48], "little")
                        if us and out["n_frames"]:
                            out["duration_s"] = (us * out["n_frames"]
                                                 / 1e6)
                    p += 8 + size + (size & 1)
        else:
            out["format"] = "riff"
            raise ValueError(f"unrecognized RIFF form {kind!r}")

    def mp4():
        out["format"] = "mp4"
        n = len(pb)
        for b, e in _mp4_find(pb, 0, n, b"moov", b"mvhd"):
            ver = pb[b]
            if ver == 1:
                ts = int.from_bytes(pb[b + 20:b + 24], "big")
                dur = int.from_bytes(pb[b + 24:b + 32], "big")
            else:
                ts = int.from_bytes(pb[b + 12:b + 16], "big")
                dur = int.from_bytes(pb[b + 16:b + 20], "big")
            if ts:
                out["duration_s"] = dur / ts
        for trak_b, trak_e in _mp4_find(pb, 0, n, b"moov", b"trak"):
            handlers = [pb[b + 8:b + 12] for b, e in
                        _mp4_find(pb, trak_b, trak_e,
                                  b"mdia", b"hdlr")]
            if b"vide" not in handlers:
                continue
            for b, e in _mp4_find(pb, trak_b, trak_e, b"mdia",
                                  b"minf", b"stbl", b"stsd"):
                entry = b + 8
                out["codec"] = pb[entry + 4:entry + 8].decode(
                    "ascii", "replace").strip()
                out["width"] = int.from_bytes(
                    pb[entry + 32:entry + 34], "big")
                out["height"] = int.from_bytes(
                    pb[entry + 34:entry + 36], "big")
            for b, e in _mp4_find(pb, trak_b, trak_e, b"mdia",
                                  b"minf", b"stbl", b"stsz"):
                out["n_frames"] = int.from_bytes(pb[b + 8:b + 12],
                                                 "big")
            break

    def flac():
        from .flac import parse_flac_metadata
        out["format"] = "flac"          # before the parse: a torn
        meta = parse_flac_metadata(pb)  # stream keeps its format tag
        out["codec"] = "flac"
        out["channels"] = meta["channels"]
        out["bit_depth"] = meta["bps"]
        out["sample_rate"] = meta["rate"]
        out["n_frames"] = (meta["total_samples"]
                           if meta["total_samples"]
                           < 2**31 else None)
        out["duration_s"] = meta["duration_s"]
        out["tags"] = meta["comments"]

    def mp3():
        """MPEG audio (public MPEG-1/2 header layout): skip ID3v2,
        parse the first frame header for layer/rate/channels, read a
        Xing/Info VBR frame count when present (accurate duration),
        else estimate from the CBR bitrate."""
        out["format"] = "mp3"
        pos = 0
        if pb[:3] == b"ID3" and len(pb) >= 10:
            sz = ((pb[6] & 0x7F) << 21) | ((pb[7] & 0x7F) << 14) \
                | ((pb[8] & 0x7F) << 7) | (pb[9] & 0x7F)
            pos = 10 + sz
        while pos + 4 <= len(pb):
            if pb[pos] == 0xFF and (pb[pos + 1] & 0xE0) == 0xE0:
                break
            pos += 1
        else:
            raise ValueError("MP3: no frame sync after ID3")
        h1, h2, h3 = pb[pos + 1], pb[pos + 2], pb[pos + 3]
        ver = (h1 >> 3) & 3                # 3=MPEG1 2=MPEG2 0=2.5
        layer = (h1 >> 1) & 3              # 3=I 2=II 1=III
        if ver == 1 or layer == 0:
            raise ValueError("MP3: reserved version/layer bits")
        br_idx = (h2 >> 4) & 0xF
        sr_idx = (h2 >> 2) & 3
        if sr_idx == 3 or br_idx in (0, 15):
            raise ValueError("MP3: free-format or reserved "
                             "bitrate/samplerate")
        base = [44100, 48000, 32000][sr_idx]
        rate = base if ver == 3 else base // (2 if ver == 2 else 4)
        mono = ((h3 >> 6) & 3) == 3
        # MPEG1 bitrate rows per layer; MPEG2/2.5 use the low rows
        _BR = {
            (3, 3): [0, 32, 64, 96, 128, 160, 192, 224, 256, 288,
                     320, 352, 384, 416, 448],
            (3, 2): [0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192,
                     224, 256, 320, 384],
            (3, 1): [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160,
                     192, 224, 256, 320],
            (2, 3): [0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160,
                     176, 192, 224, 256],
            (2, 2): [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112,
                     128, 144, 160],
            (2, 1): [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112,
                     128, 144, 160],
        }
        kbps = _BR[(3 if ver == 3 else 2, layer)][br_idx]
        spf = (384 if layer == 3
               else 1152 if layer == 2
               else (1152 if ver == 3 else 576))
        out["codec"] = (f"mpeg{'1' if ver == 3 else '2'}-layer"
                        f"{4 - layer}")
        out["sample_rate"] = rate
        out["channels"] = 1 if mono else 2
        # Xing/Info (VBR) frame count sits after the side info
        side = (17 if mono else 32) if ver == 3 else \
            (9 if mono else 17)
        xp = pos + 4 + side
        if pb[xp:xp + 4] in (b"Xing", b"Info") and \
                len(pb) >= xp + 12:
            flags = int.from_bytes(pb[xp + 4:xp + 8], "big")
            if flags & 1:
                frames = int.from_bytes(pb[xp + 8:xp + 12], "big")
                out["n_frames"] = frames
                out["duration_s"] = frames * spf / rate
                return
        if kbps:
            out["duration_s"] = (len(pb) - pos) * 8 / (kbps * 1000)

    def ogg():
        """Ogg container (public spec): codec id from the first
        packet (Vorbis identification header / OpusHead), duration
        from the LAST page's granule position."""
        out["format"] = "ogg"
        nseg = pb[26]
        body = 27 + nseg
        lace = sum(pb[27:27 + nseg])
        first = pb[body:body + lace]
        rate = None
        if first[:7] == b"\x01vorbis" and len(first) >= 28:
            out["codec"] = "vorbis"
            out["channels"] = first[11]
            rate = int.from_bytes(first[12:16], "little")
            out["sample_rate"] = rate
            pre = 0
        elif first[:8] == b"OpusHead" and len(first) >= 19:
            out["codec"] = "opus"
            out["channels"] = first[9]
            pre = int.from_bytes(first[10:12], "little")
            out["sample_rate"] = int.from_bytes(first[12:16],
                                                "little")
            rate = 48000                   # granules are 48 kHz
        else:
            out["codec"] = "ogg-unknown"
            return
        tail = pb[-65536:]
        gp = None
        i = tail.rfind(b"OggS")
        while i != -1:
            if len(tail) - i >= 14:
                g = int.from_bytes(tail[i + 6:i + 14], "little")
                if g != 0xFFFFFFFFFFFFFFFF:
                    gp = g
                    break
            i = tail.rfind(b"OggS", 0, i)
        if gp is not None and rate:
            out["duration_s"] = max(gp - pre, 0) / rate

    try:
        if pb[:2] in (b"P6", b"P5"):
            ppm()
        elif pb[:2] == b"BM":
            bmp()
        elif pb.startswith(_PNG_SIG):
            png()
        elif pb[:6] in (b"GIF87a", b"GIF89a"):
            gif()
        elif pb[:3] == b"\xFF\xD8\xFF":
            jpeg()
        elif pb[:4] == b"RIFF":
            riff()
        elif len(pb) >= 12 and pb[4:8] == b"ftyp":
            mp4()
        elif _is_flac(pb):
            flac()
        elif pb[:4] == b"OggS":
            ogg()
        elif pb[:3] == b"ID3" or (
                len(pb) >= 2 and pb[0] == 0xFF
                and (pb[1] & 0xE0) == 0xE0          # frame sync
                and ((pb[1] >> 1) & 3) != 0         # valid layer
                and ((pb[1] >> 3) & 3) != 1):       # valid version
            mp3()
        elif pb[:8] == b"\x89MCAP0\r\n":
            out["format"] = "mcap"
        elif pb[:13] == b"#ROSBAG V2.0\n":
            out["format"] = "rosbag"
        elif pb[:16] == b"SQLite format 3\x00":
            out["format"] = "db3"
        else:
            out["format"] = "unknown"
    except (ValueError, IndexError, KeyError, OverflowError) as e:
        out["error"] = f"{type(e).__name__}: {e}"
    return out


def media_metadata(df: DataFrame, binary_col: str,
                   out_col: str = "media_info") -> DataFrame:
    """Decode-free media profiling (r11): one header-only probe per
    payload producing a typed ``media_info`` struct — format, codec,
    dims, channels, bit depth, frame/sample counts, duration, and
    embedded tags (FLAC Vorbis comments) — WITHOUT decoding a single
    pixel or sample. This is the 100 TB corpus-profiling pass: the
    probe reads a few hundred bytes of structure per payload, so a
    metadata sweep costs I/O, not codec CPU; route on ``format`` /
    ``error`` afterwards (e.g. quarantine ``error`` rows, group by
    codec, histogram durations). TOTAL by contract: malformed
    payloads yield ``error`` (with ``format`` from the magic),
    unknown magics yield ``format='unknown'`` — a profiling sweep
    must never die on one bad blob, unlike the decoders, which stay
    loud. Covers the whole builtin family: netpbm, BMP, PNG, GIF
    (frame count + total delay), JPEG (SOF variant as codec), WAV
    (G.711 included), AVI, ISO-BMFF/MP4, FLAC (+ID3-prefixed), and
    labels MCAP / ROS1 bag / sqlite db3 containers."""
    fields = df.schema.fields
    out_schema = T.StructType(
        list(fields) + [T.StructField(out_col, _MEDIA_INFO_SCHEMA)])

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            infos = []
            for payload in pdf[binary_col]:
                infos.append(None if payload is None
                             else _probe_media_bytes(bytes(payload)))
            pdf = pdf.copy()
            pdf[out_col] = infos
            yield pdf

    return df.mapInPandas(probe, out_schema)


def _decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """Pure-Python decoder for RIFF/WAVE PCM (8/16/32-bit int and
    32-bit float) — a REAL audio decode path that needs no external
    library. Returns ``(samples, sample_rate)`` with samples as
    float32 in [-1, 1], channel-interleaved exactly as stored."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos:pos + 4]
        size = int.from_bytes(payload[pos + 4:pos + 8], "little")
        body = payload[pos + 8:pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_format = int.from_bytes(fmt[0:2], "little")
    sample_rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if audio_format == 3 and bits == 32:  # IEEE float
        samples = np.frombuffer(data, dtype="<f4").astype(np.float32)
    elif audio_format == 1 and bits == 16:
        samples = np.frombuffer(data, dtype="<i2").astype(np.float32) / 32768.0
    elif audio_format == 1 and bits == 32:
        samples = (np.frombuffer(data, dtype="<i4").astype(np.float32)
                   / 2147483648.0)
    elif audio_format == 1 and bits == 8:  # unsigned in WAV
        samples = (np.frombuffer(data, dtype=np.uint8).astype(np.float32)
                   - 128.0) / 128.0
    elif audio_format in (6, 7) and bits == 8:
        # G.711 A-law (6) / µ-law (7) — the telephony companding
        # formats (public ITU-T G.711; r11). 256-entry LUT from the
        # standard expansion formulas, byte-exact vs stdlib audioop
        # (pinned in tests/test_multimodal.py)
        lut = (_alaw_table() if audio_format == 6
               else _ulaw_table())
        samples = lut[np.frombuffer(data, dtype=np.uint8)]
    else:
        raise ValueError(
            f"builtin WAV decoder handles PCM 8/16/32, float32, and "
            f"G.711 a-law/mu-law only "
            f"(got format={audio_format}, bits={bits})")
    return samples, sample_rate


def _ulaw_table() -> np.ndarray:
    out = np.empty(256, dtype=np.float32)
    for b in range(256):
        u = ~b & 0xFF
        t = ((((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 7)) - 0x84
        out[b] = (-t if u & 0x80 else t) / 32768.0
    return out


def _alaw_table() -> np.ndarray:
    out = np.empty(256, dtype=np.float32)
    for b in range(256):
        a = b ^ 0x55
        exp, man = (a >> 4) & 7, a & 0x0F
        t = ((man << 4) + 8 if exp == 0
             else ((man << 4) + 0x108) << (exp - 1))
        # G.711 A-law: a SET sign bit means positive (the opposite of
        # µ-law) — pinned byte-exact against audioop in the tests
        out[b] = (t if a & 0x80 else -t) / 32768.0
    return out


def _is_flac(payload: bytes) -> bool:
    """FLAC sniffing for the decode_audio dispatch — bare streams
    AND the common ID3v2-prefixed form (an ID3-prefixed mp3 comes
    back False and stays on the PyAV seam)."""
    if payload.startswith(b"fLaC"):
        return True
    if payload[:3] != b"ID3":
        return False
    from .flac import _strip_id3
    try:
        return _strip_id3(payload)[:4] == b"fLaC"
    except ValueError:
        return False


def _pyav_decode_audio(payload: bytes) -> np.ndarray:
    """Compressed-audio decode through the optional PyAV seam (r10):
    any codec ffmpeg knows (mp3/flac/ogg/aac) comes back as float32
    samples in [-1, 1], channel-interleaved — the same contract as
    the builtin WAV path. Only called when ``_HAS_PYAV``."""
    import io

    with _av.open(io.BytesIO(payload)) as container:
        stream = next((s for s in container.streams
                       if s.type == "audio"), None)
        if stream is None:
            raise ValueError("container has no audio track")
        chunks = []
        for frame in container.decode(stream):
            arr = frame.to_ndarray()      # (channels, n) or packed
            if arr.ndim == 2:
                arr = arr.T.reshape(-1)   # interleave channels
            if arr.dtype.kind == "i":
                arr = arr.astype(np.float32) / float(
                    np.iinfo(arr.dtype).max + 1)
            elif arr.dtype.kind == "u":
                # unsigned PCM (pcm_u8): midpoint offset, then scale
                # — the WAV path's convention (review fix)
                half = float(np.iinfo(arr.dtype).max + 1) / 2.0
                arr = (arr.astype(np.float32) - half) / half
            chunks.append(arr.astype(np.float32))
        if not chunks:
            raise ValueError("audio stream yielded no decodable "
                             "frames — corrupt or unsupported")
        return np.concatenate(chunks)


def decode_audio(df: DataFrame, binary_col: str,
                 meta_col: str = "media_meta",
                 out_col: str = "samples") -> DataFrame:
    """Decode audio bytes to ``array<float>`` PCM samples in [-1, 1].

    RIFF/WAVE PCM decodes for REAL via the builtin :func:`_decode_wav`
    and FLAC via the builtin :mod:`.flac` decoder (r11 — CRC-checked
    frames, all subframe types, stereo decorrelation; no dependency);
    the remaining compressed containers (mp3/ogg/aac) route
    through the optional **PyAV seam** when the ``av`` package is
    present (r10 — the audio face of the video seam) and raise a
    clear ``NotImplementedError`` naming the seam otherwise — the
    Arrow plumbing (schema, batching) is identical either way. Use
    :func:`byte_histogram_features` for codec-free fingerprinting of
    compressed audio."""
    fields = df.schema.fields
    out_schema = T.StructType(
        list(fields) + [T.StructField(out_col, T.ArrayType(T.FloatType()))])

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for payload in pdf[binary_col]:
                if payload is None:
                    out.append(None)
                    continue
                payload = bytes(payload)
                if payload.startswith(b"RIFF"):
                    samples, _ = _decode_wav(payload)
                elif _is_flac(payload):
                    # builtin FLAC (r11): exact lossless decode with
                    # no dependency — deterministic across
                    # environments, so it outranks the PyAV seam
                    from .flac import decode_flac
                    samples, _ = decode_flac(payload)
                elif _HAS_PYAV:  # pragma: no cover - no PyAV here
                    samples = _pyav_decode_audio(payload)
                else:
                    raise NotImplementedError(
                        "decode_audio: only RIFF/WAVE PCM and FLAC "
                        "decode without a codec library; install "
                        "PyAV for mp3/ogg/aac (the optional seam "
                        "decodes them when present)")
                out.append(samples)
            pdf = pdf.copy()
            pdf[out_col] = out
            yield pdf

    return df.mapInPandas(decode, out_schema)
