"""Multimodal binary-column plumbing tests.

Payloads are derived from the documents table (text encoded to bytes),
so the Spark-side schemas/batching are exercised on real distributed
data even though the codecs are deterministic fakes.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.operators.multimodal import (
    byte_histogram_features, decode_audio, decode_image, pack_media,
    parse_avi,
    repartition_for_media, resize_pixels, sample_frames,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def media(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(20)
    df = docs.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    return pack_media(df, "payload", fmt="fake", width=8, height=6,
                      channels=3, n_frames=12)


def test_pack_media_schema(media):
    meta = dict(media.dtypes)["media_meta"]
    assert "format:string" in meta.replace(" ", "")
    row = media.first()
    assert row.media_meta.width == 8 and row.media_meta.n_frames == 12


def test_byte_histogram_features_shape_and_norm(media):
    out = byte_histogram_features(media, "payload", bins=64).collect()
    assert len(out) == 20
    for r in out:
        assert len(r.features) == 64
        assert abs(sum(r.features) - 1.0) < 1e-3


def test_byte_histogram_deterministic(media):
    a = {r.doc_id: r.features
         for r in byte_histogram_features(media, "payload").collect()}
    b = {r.doc_id: r.features
         for r in byte_histogram_features(media, "payload").collect()}
    assert a == b


def test_decode_image_fake_codec_shape_and_determinism(spark, media):
    decoded = decode_image(media, "payload", allow_fake=True)
    rows = decoded.limit(3).collect()
    for r in rows:
        assert len(r.pixels) == 8 * 6 * 3
        assert r.codec == "fake"  # provenance column marks the fake path
        # pinned to the fake decoder: first byte = md5(payload[:64] || 0)[0]
        seed = bytes(r.payload)[:64]
        expect = hashlib.md5(seed + (0).to_bytes(4, "big")).digest()[0]
        assert r.pixels[0] == expect


def test_decode_image_refuses_fake_by_default(spark, media):
    """Undecodable payloads raise unless the caller opts into the fake
    decoder — fake pixels can't silently masquerade as real ones."""
    with pytest.raises(Exception, match="allow_fake"):
        decode_image(media, "payload").collect()


def test_resize_pixels_nearest_neighbor(spark, media):
    decoded = decode_image(media, "payload", allow_fake=True)
    resized = resize_pixels(decoded, "pixels", "media_meta", 4, 3)
    r = resized.first()
    img = np.asarray(r.pixels, dtype=np.int32).reshape(6, 8, 3)
    small = np.asarray(r.pixels_resized, dtype=np.int32).reshape(3, 4, 3)
    ys = (np.arange(3) * 6) // 3
    xs = (np.arange(4) * 8) // 4
    assert (small == img[np.ix_(ys, xs)]).all()


def test_sample_frames_explodes_executor_side(media):
    sampled = sample_frames(media, "payload", every_n=5)
    rows = sampled.collect()
    # 12 fake frames sampled every 5 → indices 0, 5, 10 per doc
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r.frame_index)
    assert all(sorted(v) == [0, 5, 10] for v in by_doc.values())
    assert "payload" not in sampled.columns  # original blob not duplicated
    # frame payloads are non-overlapping byte slices
    r0 = [r for r in rows if r.frame_index == 0][0]
    assert isinstance(bytes(r0.frame), bytes) and len(r0.frame) > 0


def test_repartition_for_media_partition_count(media):
    total = media.select(F.sum(F.length("payload"))).first()[0]
    small = repartition_for_media(media, "payload", total_bytes=total,
                                  target_partition_bytes=1 << 10)
    assert small.rdd.getNumPartitions() == total // (1 << 10) + 1
    # total_bytes is required — the operator must never run driver
    # actions at plan time to estimate it
    with pytest.raises((ValueError, TypeError)):
        repartition_for_media(media, "payload", total_bytes=None)
    # keyword-only: a stale positional call (old signature had
    # target_partition_bytes third) must fail loudly, not reinterpret
    with pytest.raises(TypeError):
        repartition_for_media(media, "payload", 64 << 20)


def _wav_bytes(samples: np.ndarray, rate: int = 16000,
               bits: int = 16) -> bytes:
    """Minimal RIFF/WAVE writer (PCM16 or float32) for round-trips."""
    if bits == 16:
        data = (np.clip(samples, -1, 1) * 32767).astype("<i2").tobytes()
        audio_format, block = 1, 2
    else:
        data = samples.astype("<f4").tobytes()
        audio_format, block = 3, 4
    fmt = (audio_format.to_bytes(2, "little") + (1).to_bytes(2, "little")
           + rate.to_bytes(4, "little")
           + (rate * block).to_bytes(4, "little")
           + block.to_bytes(2, "little") + bits.to_bytes(2, "little"))
    return (b"RIFF" + (36 + len(data)).to_bytes(4, "little") + b"WAVE"
            + b"fmt " + (16).to_bytes(4, "little") + fmt
            + b"data" + len(data).to_bytes(4, "little") + data)


def test_decode_audio_real_wav_pcm16(spark):
    """The REAL audio decode branch: PCM16 WAV through the mapInPandas
    path reproduces the waveform within 16-bit quantization."""
    t = np.arange(800, dtype=np.float32)
    wave = (0.5 * np.sin(2 * np.pi * 440 * t / 16000)).astype(np.float32)
    df = pack_media(
        spark.createDataFrame([(1, bytearray(_wav_bytes(wave)))],
                              "doc_id long, payload binary"),
        "payload", fmt="audio/wav", sample_rate=16000)
    r = decode_audio(df, "payload").first()
    got = np.asarray(r.samples, dtype=np.float32)
    assert got.shape == wave.shape
    # encoder rounds at 32767 full-scale, decoder divides by 32768 —
    # worst case ~1.5 LSB
    assert np.abs(got - wave).max() < 2.0 / 32768


def test_decode_audio_real_wav_float32(spark):
    wave = np.linspace(-1, 1, 64, dtype=np.float32)
    df = pack_media(
        spark.createDataFrame([(1, bytearray(_wav_bytes(wave, bits=32)))],
                              "doc_id long, payload binary"),
        "payload", fmt="audio/wav", sample_rate=8000)
    r = decode_audio(df, "payload").first()
    assert np.array_equal(np.asarray(r.samples, dtype=np.float32), wave)


def test_decode_audio_compressed_raises(spark, media):
    """Non-WAV payloads (no codec library here) raise a clear
    NotImplementedError from the executor batch."""
    from py4j.protocol import Py4JJavaError
    with pytest.raises((Py4JJavaError, Exception)):
        decode_audio(media, "payload").collect()


def _ppm_bytes(img: np.ndarray) -> bytes:
    h, w, _ = img.shape
    return (f"P6\n# test comment\n{w} {h}\n255\n".encode("ascii")
            + img.astype(np.uint8).tobytes())


def _bmp_bytes(img: np.ndarray) -> bytes:
    """Minimal 24-bit BI_RGB BMP: bottom-up rows, 4-byte padded, BGR."""
    h, w, _ = img.shape
    stride = (w * 3 + 3) & ~3
    bgr = img[:, :, ::-1].astype(np.uint8)
    rows = b"".join(
        bgr[y].tobytes() + b"\x00" * (stride - w * 3)
        for y in range(h - 1, -1, -1))
    data_off = 14 + 40
    header = (b"BM" + (data_off + len(rows)).to_bytes(4, "little")
              + b"\x00" * 4 + data_off.to_bytes(4, "little"))
    dib = ((40).to_bytes(4, "little")
           + w.to_bytes(4, "little", signed=True)
           + h.to_bytes(4, "little", signed=True)
           + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
           + (0).to_bytes(4, "little") + len(rows).to_bytes(4, "little")
           + b"\x00" * 16)
    return header + dib + rows


@pytest.fixture(scope="module")
def rgb_img():
    rng = np.random.default_rng(7)
    return rng.integers(0, 256, size=(5, 7, 3), dtype=np.uint8)


def test_decode_image_real_ppm(spark, rgb_img):
    """The REAL decode branch, no external lib: P6 PPM bytes through the
    full mapInPandas path must reproduce the exact pixel buffer."""
    df = pack_media(
        spark.createDataFrame([(1, bytearray(_ppm_bytes(rgb_img)))],
                              "doc_id long, payload binary"),
        "payload", fmt="image/ppm", width=7, height=5)
    r = decode_image(df, "payload").first()
    got = np.asarray(r.pixels, dtype=np.int32).reshape(5, 7, 3)
    assert (got == rgb_img).all()


def test_decode_image_real_bmp(spark, rgb_img):
    """24-bit uncompressed BMP: bottom-up row order, row padding, and
    BGR→RGB conversion all verified against the source array."""
    df = pack_media(
        spark.createDataFrame([(1, bytearray(_bmp_bytes(rgb_img)))],
                              "doc_id long, payload binary"),
        "payload", fmt="image/bmp", width=7, height=5)
    r = decode_image(df, "payload").first()
    got = np.asarray(r.pixels, dtype=np.int32).reshape(5, 7, 3)
    assert (got == rgb_img).all()


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(cid: bytes, body: bytes) -> bytes:
    import zlib as _z
    return (len(body).to_bytes(4, "big") + cid + body
            + _z.crc32(cid + body).to_bytes(4, "big"))


def _png_bytes(img: np.ndarray, filters=(0,)) -> bytes:
    """Minimal PNG writer that applies the given per-row filter types
    (cycled), so the decoder's Sub/Up/Average/Paeth unfiltering is
    exercised against ground truth."""
    import zlib as _z
    h, w, c = img.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    raw = bytearray()
    prev = np.zeros(w * c, dtype=np.int64)
    for y in range(h):
        row = img[y].reshape(-1).astype(np.int64)
        ft = filters[y % len(filters)]
        left = np.concatenate([np.zeros(c, dtype=np.int64), row[:-c]])
        upleft = np.concatenate([np.zeros(c, dtype=np.int64), prev[:-c]])
        if ft == 0:
            enc = row
        elif ft == 1:
            enc = (row - left) % 256
        elif ft == 2:
            enc = (row - prev) % 256
        elif ft == 3:
            enc = (row - ((left + prev) >> 1)) % 256
        else:  # Paeth
            p = left + prev - upleft
            pa, pb, pc = (np.abs(p - left), np.abs(p - prev),
                          np.abs(p - upleft))
            pred = np.where((pa <= pb) & (pa <= pc), left,
                            np.where(pb <= pc, prev, upleft))
            enc = (row - pred) % 256
        raw.append(ft)
        raw.extend(enc.astype(np.uint8).tobytes())
        prev = row
    ihdr = (w.to_bytes(4, "big") + h.to_bytes(4, "big")
            + bytes([8, color_type, 0, 0, 0]))
    return (_PNG_SIG + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", _z.compress(bytes(raw)))
            + _png_chunk(b"IEND", b""))


def _decode_one(spark, payload: bytes, w: int, h: int, c: int):
    df = pack_media(
        spark.createDataFrame([(1, bytearray(payload))],
                              "doc_id long, payload binary"),
        "payload", fmt="image/png", width=w, height=h, channels=c)
    return decode_image(df, "payload").first()


def test_decode_image_real_png_all_filters(spark):
    """The stdlib-zlib PNG path: every filter type (None/Sub/Up/Average/
    Paeth) unfilters back to the exact source pixels."""
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(10, 9, 3), dtype=np.uint8)
    r = _decode_one(spark, _png_bytes(img, filters=(0, 1, 2, 3, 4)),
                    9, 10, 3)
    got = np.asarray(r.pixels, dtype=np.int32).reshape(10, 9, 3)
    assert (got == img).all()
    assert r.codec == "png"


def test_decode_image_real_png_gray_and_rgba(spark):
    rng = np.random.default_rng(13)
    gray = rng.integers(0, 256, size=(6, 5, 1), dtype=np.uint8)
    r = _decode_one(spark, _png_bytes(gray, filters=(1, 4)), 5, 6, 1)
    assert (np.asarray(r.pixels, dtype=np.int32).reshape(6, 5, 1)
            == gray).all()
    rgba = rng.integers(0, 256, size=(4, 7, 4), dtype=np.uint8)
    r = _decode_one(spark, _png_bytes(rgba, filters=(3, 2)), 7, 4, 4)
    assert (np.asarray(r.pixels, dtype=np.int32).reshape(4, 7, 4)
            == rgba).all()


def test_decode_image_real_png_palette(spark):
    """Paletted PNG (color type 3): indices resolve through PLTE."""
    import zlib as _z
    pal = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255], [7, 8, 9]],
                   dtype=np.uint8)
    idx = np.array([[0, 1, 2, 3], [3, 2, 1, 0]], dtype=np.uint8)
    raw = b"".join(b"\x00" + idx[y].tobytes() for y in range(2))
    ihdr = ((4).to_bytes(4, "big") + (2).to_bytes(4, "big")
            + bytes([8, 3, 0, 0, 0]))
    payload = (_PNG_SIG + _png_chunk(b"IHDR", ihdr)
               + _png_chunk(b"PLTE", pal.tobytes())
               + _png_chunk(b"IDAT", _z.compress(raw))
               + _png_chunk(b"IEND", b""))
    r = _decode_one(spark, payload, 4, 2, 3)
    got = np.asarray(r.pixels, dtype=np.int32).reshape(2, 4, 3)
    assert (got == pal[idx]).all()


def test_decode_image_meta_mismatch_fails_at_decode(spark, rgb_img):
    """Swapped width/height in media_meta must fail at decode time with
    a clear message, not scramble pixels in a later reshape."""
    df = pack_media(
        spark.createDataFrame([(1, bytearray(_ppm_bytes(rgb_img)))],
                              "doc_id long, payload binary"),
        "payload", fmt="image/ppm", width=5, height=7)  # swapped!
    with pytest.raises(Exception, match="media_meta"):
        decode_image(df, "payload").collect()


def test_decode_image_codec_provenance(spark, rgb_img):
    for payload, codec in ((_ppm_bytes(rgb_img), "ppm"),
                           (_bmp_bytes(rgb_img), "bmp")):
        r = _decode_one(spark, payload, 7, 5, 3)
        assert r.codec == codec


def test_decode_image_pillow_roundtrip(spark, rgb_img):
    """Compressed-format branch — runs only where Pillow exists."""
    PIL = pytest.importorskip("PIL.Image")
    import io
    buf = io.BytesIO()
    PIL.fromarray(rgb_img).save(buf, format="PNG")
    df = pack_media(
        spark.createDataFrame([(1, bytearray(buf.getvalue()))],
                              "doc_id long, payload binary"),
        "payload", fmt="image/png", width=7, height=5)
    r = decode_image(df, "payload").first()
    got = np.asarray(r.pixels, dtype=np.int32).reshape(5, 7, 3)
    assert (got == rgb_img).all()


def _avi_chunk(cid: bytes, data: bytes) -> bytes:
    return cid + len(data).to_bytes(4, "little") + data \
        + (b"\x00" if len(data) & 1 else b"")


def _avi_list(ltype: bytes, *subs: bytes) -> bytes:
    return _avi_chunk(b"LIST", ltype + b"".join(subs))


def _build_avi(frames: list[bytes], w: int, h: int,
               compression: bytes,
               key_flags: list[bool] | None = None) -> bytes:
    import struct
    avih = struct.pack("<14I", 40_000, 0, 0, 0, len(frames), 0, 1, 0,
                       w, h, 0, 0, 0, 0)
    strh = b"vids" + compression.ljust(4, b"\x00") + b"\x00" * 48
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24,
                       int.from_bytes(compression.ljust(4, b"\x00"),
                                      "little"),
                       w * h * 3, 0, 0, 0, 0)
    hdrl = _avi_list(b"hdrl", _avi_chunk(b"avih", avih),
                     _avi_list(b"strl", _avi_chunk(b"strh", strh),
                               _avi_chunk(b"strf", strf)))
    fid = b"00dc" if compression != b"\x00\x00\x00\x00" else b"00db"
    movi = _avi_list(b"movi", *[_avi_chunk(fid, f) for f in frames])
    idx1 = b""
    if key_flags is not None:
        entries = b"".join(
            fid + (0x10 if k else 0).to_bytes(4, "little")
            + (0).to_bytes(4, "little")
            + len(f).to_bytes(4, "little")
            for f, k in zip(frames, key_flags))
        idx1 = _avi_chunk(b"idx1", entries)
    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def test_sample_frames_real_avi_mjpeg_demux(spark):
    """A real MJPEG AVI demuxes to its JPEG frames (every_n honored,
    demux='avi'), and the exploded frames decode through decode_image
    with codec='jpeg' to the builtin JPEG decoder's exact pixels —
    container parse + codec composing end to end with no external
    library."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.operators.jpeg import (
        decode_jpeg, encode_jpeg,
    )
    h, w = 16, 24
    imgs = [np.full((h, w, 3), 40 * (i + 1), dtype=np.uint8)
            for i in range(5)]
    jpegs = [encode_jpeg(im, quality=95) for im in imgs]
    avi = _build_avi(jpegs, w, h, b"MJPG")
    parsed = parse_avi(avi)
    assert parsed["codec"] == "mjpeg" and len(parsed["frames"]) == 5
    assert parsed["frames"][0] == jpegs[0]

    df = spark.createDataFrame([(1, bytearray(avi))],
                               "vid long, payload binary")
    packed = pack_media(df, "payload", "avi", width=w, height=h,
                        channels=3, n_frames=5)
    sampled = sample_frames(packed, "payload", every_n=2)
    rows = sampled.collect()
    assert sorted(r["frame_index"] for r in rows) == [0, 2, 4]
    assert all(r["demux"] == "avi" for r in rows)
    dec = decode_image(sampled, "frame").collect()
    for r in dec:
        assert r["codec"] == "jpeg"
        exp = decode_jpeg(jpegs[r["frame_index"]])
        got = np.array(r["pixels"]).reshape(h, w, 3)
        assert np.array_equal(got, exp.astype(np.int64))


def test_sample_frames_raw_dib_avi_wraps_to_bmp(spark):
    """Uncompressed-DIB AVI frames wrap into BMPs the builtin BMP
    decoder reads back to the EXACT source pixels (raw path is
    lossless)."""
    h, w = 8, 12
    rng = np.random.default_rng(5)
    imgs = [rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
            for _ in range(3)]

    def dib(img):
        stride = (w * 3 + 3) & ~3
        rows = np.zeros((h, stride), dtype=np.uint8)
        rows[:, :w * 3] = img[::-1, :, ::-1].reshape(h, w * 3)
        return rows.tobytes()

    avi = _build_avi([dib(i) for i in imgs], w, h,
                     b"\x00\x00\x00\x00")
    parsed = parse_avi(avi)
    assert parsed["codec"] == "rawdib"
    df = spark.createDataFrame([(1, bytearray(avi))],
                               "vid long, payload binary")
    packed = pack_media(df, "payload", "avi", width=w, height=h,
                        channels=3, n_frames=3)
    dec = decode_image(sample_frames(packed, "payload", every_n=1),
                       "frame").collect()
    assert len(dec) == 3
    for r in dec:
        assert r["codec"] == "bmp"
        got = np.array(r["pixels"]).reshape(h, w, 3)
        assert np.array_equal(got, imgs[r["frame_index"]]
                              .astype(np.int64))


def test_parse_avi_guards(spark):
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.operators.multimodal import _HAS_PYAV
    with pytest.raises(ValueError, match="RIFF/AVI"):
        parse_avi(b"nope")
    if not _HAS_PYAV:
        avi = _build_avi([b"xx"], 4, 4, b"H264")
        with pytest.raises(NotImplementedError, match="H264"):
            parse_avi(avi)


# --------------------------------------------------------- MP4 (r9)

def _mbox(btype: bytes, body: bytes) -> bytes:
    return (len(body) + 8).to_bytes(4, "big") + btype + body


def _mp4_video_entry(fourcc: bytes, w: int, h: int) -> bytes:
    body = (b"\x00" * 6 + (1).to_bytes(2, "big")   # reserved + dri
            + b"\x00" * 16                          # pre_defined
            + w.to_bytes(2, "big") + h.to_bytes(2, "big")
            + b"\x00" * 50)                         # res/compressor/…
    return _mbox(fourcc, body)


def _build_mp4(frames: list[bytes], w: int, h: int,
               fourcc: bytes = b"jpeg", co64: bool = False,
               with_audio_track: bool = True,
               stss: list[int] | None = None) -> bytes:
    import struct
    ftyp = _mbox(b"ftyp", b"isom" + b"\x00" * 4 + b"isom")
    mdat = _mbox(b"mdat", b"".join(frames))
    base = len(ftyp) + 8                 # mdat body file offset
    # chunk layout: first chunk 2 samples, then 1 per chunk — makes
    # the stsc run table non-trivial
    sizes = [len(f) for f in frames]
    chunks, i = [], 0
    while i < len(frames):
        n = 2 if i == 0 else 1
        chunks.append((base + sum(sizes[:i]), min(n, len(frames) - i)))
        i += n
    stsd = _mbox(b"stsd", b"\x00" * 4 + (1).to_bytes(4, "big")
                 + _mp4_video_entry(fourcc, w, h))
    stts = _mbox(b"stts", b"\x00" * 4 + (1).to_bytes(4, "big")
                 + struct.pack(">II", len(frames), 1))
    stsc_entries = [(1, 2, 1)] + ([(2, 1, 1)] if len(frames) > 2
                                  else [])
    stsc = _mbox(b"stsc", b"\x00" * 4
                 + len(stsc_entries).to_bytes(4, "big")
                 + b"".join(struct.pack(">III", *t)
                            for t in stsc_entries))
    stsz = _mbox(b"stsz", b"\x00" * 4 + (0).to_bytes(4, "big")
                 + len(frames).to_bytes(4, "big")
                 + b"".join(s.to_bytes(4, "big") for s in sizes))
    if co64:
        stco = _mbox(b"co64", b"\x00" * 4
                     + len(chunks).to_bytes(4, "big")
                     + b"".join(o.to_bytes(8, "big")
                                for o, _ in chunks))
    else:
        stco = _mbox(b"stco", b"\x00" * 4
                     + len(chunks).to_bytes(4, "big")
                     + b"".join(o.to_bytes(4, "big")
                                for o, _ in chunks))
    sync = b""
    if stss is not None:                  # 1-based sync samples
        sync = _mbox(b"stss", b"\x00" * 4
                     + len(stss).to_bytes(4, "big")
                     + b"".join(s.to_bytes(4, "big") for s in stss))
    stbl = _mbox(b"stbl", stsd + stts + stsc + stsz + stco + sync)
    mdhd = _mbox(b"mdhd", b"\x00" * 4 + b"\x00" * 8
                 + (30).to_bytes(4, "big") + b"\x00" * 8)
    hdlr_v = _mbox(b"hdlr", b"\x00" * 8 + b"vide" + b"\x00" * 12)
    minf = _mbox(b"minf", stbl)
    mdia_v = _mbox(b"mdia", mdhd + hdlr_v + minf)
    traks = b""
    if with_audio_track:
        hdlr_a = _mbox(b"hdlr", b"\x00" * 8 + b"soun" + b"\x00" * 12)
        traks += _mbox(b"trak", _mbox(b"mdia", hdlr_a))
    traks += _mbox(b"trak", mdia_v)
    moov = _mbox(b"moov", traks)
    return ftyp + mdat + moov


def test_parse_mp4_golden_and_track_selection(spark):
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.operators.jpeg import encode_jpeg
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.operators.multimodal import parse_mp4
    h, w = 16, 24
    jpegs = [encode_jpeg(np.full((h, w, 3), 40 * (i + 1),
                                 dtype=np.uint8), quality=95)
             for i in range(5)]
    for co64 in (False, True):
        mp4 = _build_mp4(jpegs, w, h, co64=co64)
        parsed = parse_mp4(mp4)
        assert parsed["codec"] == "mjpeg"
        assert parsed["width"] == w and parsed["height"] == h
        assert parsed["us_per_frame"] == 33333
        assert parsed["frames"] == jpegs   # byte-exact, chunk walk OK


def test_sample_frames_real_mp4_mjpeg_demux(spark):
    """An MJPEG MP4 demuxes to its JPEG frames (every_n honored,
    demux='mp4') and the frames decode through decode_image to the
    builtin JPEG decoder's exact pixels — ISO-BMFF container parse +
    codec composing end to end with no external library."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.operators.jpeg import (
        decode_jpeg, encode_jpeg,
    )
    h, w = 16, 24
    imgs = [np.full((h, w, 3), 40 * (i + 1), dtype=np.uint8)
            for i in range(5)]
    jpegs = [encode_jpeg(im, quality=95) for im in imgs]
    mp4 = _build_mp4(jpegs, w, h)
    df = spark.createDataFrame([(1, bytearray(mp4))],
                               "vid long, payload binary")
    packed = pack_media(df, "payload", "mp4", width=w, height=h,
                        channels=3, n_frames=5)
    sampled = sample_frames(packed, "payload", every_n=2)
    rows = sampled.collect()
    assert sorted(r["frame_index"] for r in rows) == [0, 2, 4]
    assert all(r["demux"] == "mp4" for r in rows)
    dec = decode_image(sampled, "frame").collect()
    for r in dec:
        assert r["codec"] == "jpeg"
        exp = decode_jpeg(jpegs[r["frame_index"]])
        got = np.array(r["pixels"]).reshape(h, w, 3)
        assert np.array_equal(got, exp.astype(np.int64))


def test_parse_mp4_guards(spark):
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.operators.multimodal import (
        _HAS_PYAV, parse_mp4,
    )
    with pytest.raises(ValueError, match="not an ISO-BMFF"):
        parse_mp4(b"RIFF....AVI ....")
    if not _HAS_PYAV:
        # honest guard names the fourcc AND the seam package
        mp4 = _build_mp4([b"x" * 10], 4, 4, fourcc=b"avc1")
        with pytest.raises(NotImplementedError,
                           match="avc1.*PyAV"):
            parse_mp4(mp4)
    # no-video case: an mp4 whose moov holds only an audio trak
    ftyp = _mbox(b"ftyp", b"isom" + b"\x00" * 4 + b"isom")
    hdlr_a = _mbox(b"hdlr", b"\x00" * 8 + b"soun" + b"\x00" * 12)
    moov = _mbox(b"moov", _mbox(b"trak", _mbox(b"mdia", hdlr_a)))
    with pytest.raises(ValueError, match="no video track"):
        parse_mp4(ftyp + moov)


def test_rgb_to_ppm_roundtrips_through_builtin_decoder():
    """The PyAV seam's frame wrapper: PPM-wrapped RGB must read back
    byte-exact through the builtin PPM decoder, so seam-decoded
    frames satisfy the demux contract (frames feed decode_image)."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.operators.multimodal import (
        _decode_ppm, _rgb_to_ppm,
    )
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(9, 13, 3), dtype=np.uint8)
    assert np.array_equal(_decode_ppm(_rgb_to_ppm(img)), img)


def test_pyav_seam_decodes_h264_when_present(spark):
    """r9 VERDICT item 1 done-criterion: a golden H.264 MP4 decodes
    to pixel-checked frames when the `av` package exists (encoded
    here with the same package); every_n honored on REAL sample
    indexes; codec provenance names the source codec."""
    av = pytest.importorskip("av")
    import io
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.operators.multimodal import parse_mp4
    h, w, n = 48, 64, 6
    # solid-color frames, distinct luma per frame
    buf = io.BytesIO()
    with av.open(buf, "w", format="mp4") as out:
        vs = out.add_stream("h264", rate=30)
        vs.width, vs.height, vs.pix_fmt = w, h, "yuv420p"
        for i in range(n):
            img = np.full((h, w, 3), 30 * (i + 1), dtype=np.uint8)
            frame = av.VideoFrame.from_ndarray(img, format="rgb24")
            for pkt in vs.encode(frame):
                out.mux(pkt)
        for pkt in vs.encode():
            out.mux(pkt)
    payload = buf.getvalue()
    parsed = parse_mp4(payload)
    assert parsed["codec"] == "h264"
    assert parsed["width"] == w and parsed["height"] == h
    assert len(parsed["frames"]) == n
    # pixel check: each decoded PPM frame is near its solid color
    # (lossy codec -> tolerance)
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.operators.multimodal import _decode_ppm
    for i, fr in enumerate(parsed["frames"]):
        img = _decode_ppm(fr).astype(np.int32)
        assert img.shape == (h, w, 3)
        assert abs(img.mean() - 30 * (i + 1)) < 8, i
    # every_n over REAL sample indexes through sample_frames
    df = spark.createDataFrame([(1, bytearray(payload))],
                               "vid long, payload binary")
    packed = pack_media(df, "payload", "mp4", width=w, height=h,
                        channels=3, n_frames=n)
    rows = sample_frames(packed, "payload", every_n=3).collect()
    assert sorted(r["frame_index"] for r in rows) == [0, 3]


def test_pyav_audio_seam_decodes_when_present(spark):
    """r10 audio face of the PyAV seam: a compressed payload
    (encoded with the package itself) decodes through decode_audio
    to samples matching the source signal."""
    av = pytest.importorskip("av")
    import io
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.operators.multimodal import _pyav_decode_audio
    sr, n = 8000, 8000
    t = np.arange(n) / sr
    sig = (0.5 * np.sin(2 * np.pi * 440 * t)).astype(np.float32)
    buf = io.BytesIO()
    with av.open(buf, "w", format="flac") as out:
        st = out.add_stream("flac", rate=sr)
        st.layout = "mono"
        frame = av.AudioFrame.from_ndarray(
            (sig * 32767).astype(np.int16)[None, :],
            format="s16", layout="mono")
        frame.sample_rate = sr
        for pkt in st.encode(frame):
            out.mux(pkt)
        for pkt in st.encode():
            out.mux(pkt)
    payload = buf.getvalue()
    got = _pyav_decode_audio(payload)
    assert abs(len(got) - n) < sr // 10
    m = min(len(got), n)
    assert np.abs(got[:m] - sig[:m]).mean() < 0.01
    df = spark.createDataFrame([(1, bytearray(payload))],
                               "id long, payload binary")
    packed = pack_media(df, "payload", "flac", sample_rate=sr)
    r = decode_audio(packed, "payload").first()
    assert r["samples"] is not None and len(r["samples"]) > 0


def test_decode_image_real_pgm_p5(spark):
    """P5 (grayscale netpbm) decodes through the same builtin parser
    as P6 — the README's PGM claim, now real (r10)."""
    rng = np.random.default_rng(13)
    img = rng.integers(0, 256, size=(6, 9, 1), dtype=np.uint8)
    payload = (b"P5\n# c\n9 6\n255\n" + img.tobytes())
    r = _decode_one(spark, payload, 9, 6, 1)
    assert r["codec"] == "ppm"
    assert np.array_equal(
        np.asarray(r["pixels"], dtype=np.uint8).reshape(6, 9, 1), img)


def test_decode_image_real_png_16bit_depth_map(spark):
    """16-bit PNG (r10) — the depth-map format: filtering is
    byte-wise, samples big-endian; all filter types unfilter back to
    the exact 16-bit values (filters computed on the BYTE stream, as
    the spec requires)."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.operators.multimodal import _decode_png
    import zlib as _z
    rng = np.random.default_rng(17)
    h, w = 7, 5
    depth = rng.integers(0, 65536, size=(h, w), dtype=np.uint16)
    # byte stream per row: big-endian u16 -> bytes, then per-row
    # filters over BYTES with bpp = 2
    rows16 = depth[:, :, None].astype(">u2")
    raw = bytearray()
    prev = np.zeros(w * 2, dtype=np.int64)
    for y in range(h):
        row = np.frombuffer(rows16[y].tobytes(),
                            dtype=np.uint8).astype(np.int64)
        ft = (0, 1, 2, 3, 4)[y % 5]
        bpp = 2
        left = np.concatenate([np.zeros(bpp, dtype=np.int64),
                               row[:-bpp]])
        upleft = np.concatenate([np.zeros(bpp, dtype=np.int64),
                                 prev[:-bpp]])
        if ft == 0:
            enc = row
        elif ft == 1:
            enc = (row - left) % 256
        elif ft == 2:
            enc = (row - prev) % 256
        elif ft == 3:
            enc = (row - ((left + prev) >> 1)) % 256
        else:
            p = left + prev - upleft
            pa, pb, pc = (np.abs(p - left), np.abs(p - prev),
                          np.abs(p - upleft))
            pred = np.where((pa <= pb) & (pa <= pc), left,
                            np.where(pb <= pc, prev, upleft))
            enc = (row - pred) % 256
        raw.append(ft)
        raw.extend(enc.astype(np.uint8).tobytes())
        prev = row
    ihdr = (w.to_bytes(4, "big") + h.to_bytes(4, "big")
            + bytes([16, 0, 0, 0, 0]))          # 16-bit gray
    payload = (_PNG_SIG + _png_chunk(b"IHDR", ihdr)
               + _png_chunk(b"IDAT", _z.compress(bytes(raw)))
               + _png_chunk(b"IEND", b""))
    got = _decode_png(payload)
    assert got.dtype == np.uint16 and got.shape == (h, w, 1)
    assert np.array_equal(got[:, :, 0], depth)
    # through the Spark plumbing: pixels carry full 16-bit values
    r = _decode_one(spark, payload, w, h, 1)
    assert r["codec"] == "png"
    assert np.array_equal(
        np.asarray(r["pixels"], dtype=np.uint16).reshape(h, w),
        depth)


def _filter_rows(sub: np.ndarray, filters, bpp: int) -> bytes:
    """Per-row PNG filtering of a (hp, stride)-byte sub-image."""
    hp, stride = sub.shape
    out = bytearray()
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(hp):
        row = sub[y].astype(np.int64)
        ft = filters[y % len(filters)]
        left = np.concatenate([np.zeros(bpp, dtype=np.int64),
                               row[:-bpp]])
        upleft = np.concatenate([np.zeros(bpp, dtype=np.int64),
                                 prev[:-bpp]])
        if ft == 0:
            enc = row
        elif ft == 1:
            enc = (row - left) % 256
        elif ft == 2:
            enc = (row - prev) % 256
        elif ft == 3:
            enc = (row - ((left + prev) >> 1)) % 256
        else:
            p = left + prev - upleft
            pa, pb, pc = (np.abs(p - left), np.abs(p - prev),
                          np.abs(p - upleft))
            pred = np.where((pa <= pb) & (pa <= pc), left,
                            np.where(pb <= pc, prev, upleft))
            enc = (row - pred) % 256
        out.append(ft)
        out.extend(enc.astype(np.uint8).tobytes())
        prev = row
    return bytes(out)


def _adam7_png_bytes(samp: np.ndarray, bit_depth: int,
                     color_type: int, filters=(0, 1, 2, 3, 4)) -> bytes:
    """Interlaced PNG writer: samp is (h, w, channels*bytes_per)
    BYTES (16-bit already big-endian-packed)."""
    import zlib as _z
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.operators.multimodal import _ADAM7
    h, w, px = samp.shape
    raw = bytearray()
    for (x0, y0, dx, dy) in _ADAM7:
        wp = max(0, -(-(w - x0) // dx))
        hp = max(0, -(-(h - y0) // dy))
        if wp == 0 or hp == 0:
            continue
        sub = samp[np.ix_(y0 + np.arange(hp) * dy,
                          x0 + np.arange(wp) * dx)]
        raw += _filter_rows(sub.reshape(hp, wp * px), filters, px)
    ihdr = (w.to_bytes(4, "big") + h.to_bytes(4, "big")
            + bytes([bit_depth, color_type, 0, 0, 1]))  # interlace=1
    return (_PNG_SIG + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", _z.compress(bytes(raw)))
            + _png_chunk(b"IEND", b""))


def test_decode_image_adam7_interlaced_png(spark):
    """Adam7 interlacing (r10): each of the seven passes unfilters
    independently and scatters back by the pass schedule — 8-bit RGB
    with mixed per-row filters, odd dims (some passes empty/narrow),
    and 16-bit gray all reconstruct exactly."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.operators.multimodal import _decode_png
    rng = np.random.default_rng(23)
    # 8-bit RGB, odd dims
    img = rng.integers(0, 256, size=(11, 7, 3), dtype=np.uint8)
    payload = _adam7_png_bytes(img, 8, 2)
    assert np.array_equal(_decode_png(payload), img)
    # through the Spark plumbing
    r = _decode_one(spark, payload, 7, 11, 3)
    assert r["codec"] == "png"
    assert np.array_equal(
        np.asarray(r["pixels"], dtype=np.uint8).reshape(11, 7, 3),
        img)
    # 16-bit gray (depth map), even dims
    depth = rng.integers(0, 65536, size=(8, 10), dtype=np.uint16)
    packed = np.frombuffer(depth.astype(">u2").tobytes(),
                           dtype=np.uint8).reshape(8, 10, 2)
    payload16 = _adam7_png_bytes(packed, 16, 0)
    got = _decode_png(payload16)
    assert got.dtype == np.uint16
    assert np.array_equal(got[:, :, 0], depth)
    # tiny image where late passes are empty
    tiny = rng.integers(0, 256, size=(1, 1, 1), dtype=np.uint8)
    assert np.array_equal(
        _decode_png(_adam7_png_bytes(tiny, 8, 0)), tiny)


def test_wav_g711_matches_audioop_exactly():
    """G.711 µ-law and A-law WAV decode: the builtin 256-entry LUTs
    must match the stdlib audioop expansion BYTE-FOR-BYTE (the
    independent oracle this Python still ships)."""
    import audioop

    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.operators.multimodal import (
        _alaw_table, _decode_wav, _ulaw_table,
    )
    allb = bytes(range(256))
    want_u = np.frombuffer(audioop.ulaw2lin(allb, 2), dtype="<i2")
    want_a = np.frombuffer(audioop.alaw2lin(allb, 2), dtype="<i2")
    assert np.array_equal(_ulaw_table() * 32768.0, want_u)
    assert np.array_equal(_alaw_table() * 32768.0, want_a)

    def wav(fmt, data):
        return (b"RIFF" + (36 + len(data)).to_bytes(4, "little")
                + b"WAVE" + b"fmt " + (16).to_bytes(4, "little")
                + fmt.to_bytes(2, "little") + (1).to_bytes(2, "little")
                + (8000).to_bytes(4, "little")
                + (8000).to_bytes(4, "little")
                + (1).to_bytes(2, "little") + (8).to_bytes(2, "little")
                + b"data" + len(data).to_bytes(4, "little") + data)

    s_u, r = _decode_wav(wav(7, allb))
    assert r == 8000 and np.array_equal(s_u * 32768.0, want_u)
    s_a, _ = _decode_wav(wav(6, allb))
    assert np.array_equal(s_a * 32768.0, want_a)


def test_media_metadata_probe_all_formats(spark):
    """The decode-free corpus-profiling pass (r11): one header probe
    per payload, every builtin family member recognized with the
    right dims/codec/duration, malformed payloads marked with an
    error instead of dying, unknown magics labeled."""
    import os
    import sys

    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark import media_metadata

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from tests.test_flac import _flac, _sine16, _sub_verbatim
    from tests.test_gif import _gif_file, _palette

    rng = np.random.default_rng(9)
    img = rng.integers(0, 256, size=(4, 6, 3), dtype=np.uint8)
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.operators.jpeg import encode_jpeg

    pal = _palette(4)
    gif = _gif_file(6, 4, [
        (0, 0, np.zeros((4, 6), dtype=np.uint8), None, False,
         (1, 7, None)),
        (0, 0, np.ones((4, 6), dtype=np.uint8), None, False,
         (1, 3, None))], pal)
    flac = _flac(8000, 2, 16, [
        (16, 1, lambda w: (_sub_verbatim(w, _sine16(16, 1), 16),
                           _sub_verbatim(w, _sine16(16, 2), 16)))])
    wav = (b"RIFF" + (36 + 64).to_bytes(4, "little") + b"WAVE"
           + b"fmt " + (16).to_bytes(4, "little")
           + (7).to_bytes(2, "little") + (1).to_bytes(2, "little")
           + (8000).to_bytes(4, "little")
           + (8000).to_bytes(4, "little")
           + (1).to_bytes(2, "little") + (8).to_bytes(2, "little")
           + b"data" + (64).to_bytes(4, "little") + bytes(64))
    rows = [
        (1, bytearray(_ppm_bytes(img))),
        (2, bytearray(_bmp_bytes(img))),
        (3, bytearray(_png_bytes(img))),
        (4, bytearray(gif)),
        (5, bytearray(encode_jpeg(img, quality=90))),
        (6, bytearray(wav)),
        (7, bytearray(flac)),
        (8, bytearray(b"\x89MCAP0\r\n rest")),
        (9, bytearray(b"totally unknown bytes")),
        (10, bytearray(_png_bytes(img)[:14])),   # torn PNG
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r["media_info"].asDict() for r in
           media_metadata(df, "payload").collect()}
    assert (got[1]["format"], got[1]["width"], got[1]["height"],
            got[1]["channels"]) == ("ppm", 6, 4, 3)
    assert (got[2]["format"], got[2]["width"], got[2]["height"]) == \
        ("bmp", 6, 4)
    assert (got[3]["format"], got[3]["bit_depth"],
            got[3]["channels"]) == ("png", 8, 3)
    assert (got[4]["format"], got[4]["n_frames"],
            got[4]["duration_s"]) == ("gif", 2, 0.10)
    assert (got[5]["format"], got[5]["codec"], got[5]["width"],
            got[5]["height"]) == ("jpeg", "baseline", 6, 4)
    assert (got[6]["format"], got[6]["codec"], got[6]["sample_rate"],
            got[6]["n_frames"]) == ("wav", "ulaw", 8000, 64)
    assert (got[7]["format"], got[7]["channels"],
            got[7]["sample_rate"], got[7]["n_frames"],
            got[7]["duration_s"]) == ("flac", 2, 8000, 16, 16 / 8000)
    assert got[8]["format"] == "mcap"
    assert got[9]["format"] == "unknown" and got[9]["error"] is None
    assert got[10]["format"] == "png" and got[10]["error"]
    assert all(v["error"] is None for k, v in got.items() if k != 10)


def test_media_metadata_total_on_hostile_bytes():
    """The probe is TOTAL: arbitrary bytes behind every magic yield a
    dict (format + error), never an exception."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.operators.multimodal import (
        _probe_media_bytes,
    )
    rng = np.random.default_rng(0)
    magics = [b"P6", b"BM", b"\x89PNG\r\n\x1a\n", b"GIF89a",
              b"\xFF\xD8\xFF", b"RIFF", b"fLaC", b"ID3",
              b"\x00\x00\x00\x18ftyp", b""]
    for m in magics:
        for n in (0, 3, 17, 120):
            blob = m + bytes(rng.integers(0, 256, n, dtype=np.uint8))
            info = _probe_media_bytes(blob)
            assert info["format"] is not None


# ------------------------------------------- keyframe sampling (r12)

def test_mp4_stss_keyframes_only():
    """A golden MP4 with a known stss table materializes exactly those
    samples and maps positions back to real sample numbers."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.operators.jpeg import encode_jpeg
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.operators.multimodal import parse_mp4
    h, w = 16, 24
    jpegs = [encode_jpeg(np.full((h, w, 3), 30 * (i + 1),
                                 dtype=np.uint8), quality=95)
             for i in range(5)]
    mp4 = _build_mp4(jpegs, w, h, stss=[1, 4])     # 1-based
    full = parse_mp4(mp4)
    assert full["keyframes"] == [0, 3]
    assert len(full["frames"]) == 5                # full demux intact
    keyed = parse_mp4(mp4, keyframes_only=True)
    assert keyed["indexes"] == [0, 3]
    assert keyed["frames"] == [jpegs[0], jpegs[3]]
    # no stss box -> every sample is sync (ISO-BMFF 8.6.2)
    plain = parse_mp4(_build_mp4(jpegs, w, h), keyframes_only=True)
    assert plain["keyframes"] is None
    assert len(plain["frames"]) == 5


def test_avi_idx1_keyframes_only():
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.operators.jpeg import encode_jpeg
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.operators.multimodal import parse_avi
    h, w = 16, 24
    jpegs = [encode_jpeg(np.full((h, w, 3), 25 * (i + 1),
                                 dtype=np.uint8), quality=95)
             for i in range(4)]
    avi = _build_avi(jpegs, w, h, b"MJPG",
                     key_flags=[True, False, False, True])
    full = parse_avi(avi)
    assert full["keyframes"] == [0, 3]
    assert len(full["frames"]) == 4
    keyed = parse_avi(avi, keyframes_only=True)
    assert keyed["indexes"] == [0, 3]
    assert keyed["frames"] == [jpegs[0], jpegs[3]]
    # no idx1 -> None (MJPG is all-intra anyway)
    noidx = parse_avi(_build_avi(jpegs, w, h, b"MJPG"),
                      keyframes_only=True)
    assert noidx["keyframes"] is None
    assert len(noidx["frames"]) == 4


def test_sample_frames_keyframes_only_spark(spark):
    """keyframes_only through the Spark operator: frame_index carries
    REAL sample numbers and the exploded frames decode."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.operators.jpeg import encode_jpeg
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.operators.multimodal import (
        decode_image, pack_media, sample_frames,
    )
    h, w = 16, 24
    jpegs = [encode_jpeg(np.full((h, w, 3), 30 * (i + 1),
                                 dtype=np.uint8), quality=95)
             for i in range(5)]
    mp4 = _build_mp4(jpegs, w, h, stss=[1, 3, 5])
    df = spark.createDataFrame([(1, mp4)],
                               "doc_id long, payload binary")
    media = pack_media(df, "payload", fmt="video/mp4",
                       width=w, height=h, n_frames=5)
    got = sample_frames(media, "payload", every_n=1,
                        keyframes_only=True) \
        .orderBy("frame_index").collect()
    assert [r["frame_index"] for r in got] == [0, 2, 4]
    assert all(r["demux"] == "mp4" for r in got)
    # every_n strides over the KEYFRAME sequence
    got2 = sample_frames(media, "payload", every_n=2,
                         keyframes_only=True) \
        .orderBy("frame_index").collect()
    assert [r["frame_index"] for r in got2] == [0, 4]
    # the sampled frames are decodable JPEGs
    frames = spark.createDataFrame(
        [(r["frame_index"], bytes(r["frame"])) for r in got],
        "idx long, payload binary")
    fmedia = pack_media(frames, "payload", fmt="image/jpeg",
                        width=w, height=h)
    dec = decode_image(fmedia, "payload").collect()
    assert all(r["codec"] == "jpeg" for r in dec)


def _mp3_frame_header(ver=3, layer=1, br_idx=9, sr_idx=0,
                      mono=False) -> bytes:
    b1 = 0xE0 | (ver << 3) | (layer << 1) | 1      # sync + no CRC
    b2 = (br_idx << 4) | (sr_idx << 2)
    b3 = (0xC0 if mono else 0x00)
    return bytes([0xFF, b1, b2, b3])


def test_probe_mp3_cbr_and_xing():
    """MPEG-audio probe: ID3v2 skip, header fields, CBR duration
    estimate, and the Xing VBR frame count (exact duration)."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.operators.multimodal import (
        _probe_media_bytes,
    )
    # CBR: MPEG1 Layer III, 128 kbps, 44100 Hz, stereo, ~1 s of data
    pay = _mp3_frame_header() + b"\x00" * (16000 - 4)
    id3 = b"ID3\x04\x00\x00" + bytes([0, 0, 0, 10]) + b"\x00" * 10
    info = _probe_media_bytes(id3 + pay)
    assert info["format"] == "mp3"
    assert info["codec"] == "mpeg1-layer3"
    assert info["sample_rate"] == 44100 and info["channels"] == 2
    assert abs(info["duration_s"] - 1.0) < 0.01
    assert info["error"] is None
    # Xing: frame count 100 -> 100 * 1152 / 44100 s exactly
    side = b"\x00" * 32
    xing = (b"Xing" + (1).to_bytes(4, "big")
            + (100).to_bytes(4, "big"))
    vbr = _mp3_frame_header() + side + xing + b"\x00" * 400
    info = _probe_media_bytes(vbr)
    assert info["n_frames"] == 100
    assert abs(info["duration_s"] - 100 * 1152 / 44100) < 1e-9
    # mono MPEG2 Layer III: 576 samples/frame, halved rate
    m2 = (_mp3_frame_header(ver=2, layer=1, sr_idx=0, mono=True)
          + b"\x00" * 1000)
    info = _probe_media_bytes(m2)
    assert info["codec"] == "mpeg2-layer3"
    assert info["sample_rate"] == 22050 and info["channels"] == 1


def _ogg_page(body: bytes, granule=0, first=False, serial=7,
              seq=0) -> bytes:
    segs = []
    n = len(body)
    while n >= 255:
        segs.append(255)
        n -= 255
    segs.append(n)
    return (b"OggS\x00" + (b"\x02" if first else b"\x04")
            + granule.to_bytes(8, "little")
            + serial.to_bytes(4, "little")
            + seq.to_bytes(4, "little") + b"\x00" * 4
            + bytes([len(segs)]) + bytes(segs) + body)


def test_probe_ogg_vorbis_and_opus():
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.operators.multimodal import (
        _probe_media_bytes,
    )
    vid = (b"\x01vorbis" + (0).to_bytes(4, "little") + bytes([2])
           + (44100).to_bytes(4, "little") + b"\x00" * 12 + b"\x01")
    blob = (_ogg_page(vid, first=True)
            + _ogg_page(b"\x00" * 20, granule=44100 * 3, seq=1))
    info = _probe_media_bytes(blob)
    assert (info["format"], info["codec"]) == ("ogg", "vorbis")
    assert info["channels"] == 2 and info["sample_rate"] == 44100
    assert abs(info["duration_s"] - 3.0) < 1e-9
    assert info["error"] is None

    opus = (b"OpusHead\x01" + bytes([1])
            + (312).to_bytes(2, "little")
            + (16000).to_bytes(4, "little") + b"\x00" * 3)
    blob = (_ogg_page(opus, first=True)
            + _ogg_page(b"\x00" * 10, granule=48000 * 2 + 312,
                        seq=1))
    info = _probe_media_bytes(blob)
    assert (info["format"], info["codec"]) == ("ogg", "opus")
    assert info["channels"] == 1 and info["sample_rate"] == 16000
    assert abs(info["duration_s"] - 2.0) < 1e-9

    # hostile: truncated page stays total (error recorded, no raise)
    info = _probe_media_bytes(b"OggS\x00\x02" + b"\x01")
    assert info["format"] == "ogg" and (info["error"] is not None
                                        or info["codec"]
                                        == "ogg-unknown")
