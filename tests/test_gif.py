"""Builtin GIF decoder (r11): hand-pinned uncompressed golden bytes,
LZW roundtrips through a spec-built test encoder (dictionary growth,
code-width widening, clear-code resets), interlace, local-vs-global
palettes, animated first-frame composition with transparency over the
background, loud guards, hostile-bytes totality, and the decode_image
integration with codec provenance. GIF images are built here from the
public GIF89a specification — the same synthetic-golden-file
discipline as tests/test_jpeg.py."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.operators.multimodal import (
    _decode_gif, _GIF_INTERLACE, _HAS_PIL,
)

# ------------------------------------------------------------ file builders


def _lzw_encode(mcs: int, indices: bytes) -> bytes:
    """Spec GIF-LZW encoder with non-early-change width sync: the
    code width grows AFTER the entry 2^width-1 is created (mirroring
    the decoder's grow-after-append rule), clear first, end last."""
    clear, end = 1 << mcs, (1 << mcs) + 1
    table = {bytes([i]): i for i in range(clear)}
    next_code, width = end + 1, mcs + 1
    bits: list[int] = []

    def emit(code: int) -> None:
        for i in range(width):
            bits.append((code >> i) & 1)

    emit(clear)
    wbuf = b""
    for px in indices:
        nxt = wbuf + bytes([px])
        if nxt in table:
            wbuf = nxt
            continue
        emit(table[wbuf])
        if next_code < 4096:
            table[nxt] = next_code
            next_code += 1
            if next_code - 1 == (1 << width) and width < 12:
                width += 1
        wbuf = bytes([px])
    if wbuf:
        emit(table[wbuf])
        next_code += 1
        if next_code - 1 == (1 << width) and width < 12:
            width += 1
    emit(end)
    out = bytearray((len(bits) + 7) // 8)
    for i, b in enumerate(bits):
        out[i >> 3] |= b << (i & 7)
    return bytes(out)


def _subblocks(data: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(data), 255):
        blk = data[i:i + 255]
        out += bytes([len(blk)]) + blk
    return bytes(out + b"\x00")


def _palette(n: int) -> np.ndarray:
    rng = np.random.default_rng(11)
    return rng.integers(0, 256, size=(n, 3), dtype=np.uint8)


def _gif_file(w: int, h: int, frames, gct: np.ndarray | None,
              bg: int = 0, transparent: int | None = None) -> bytes:
    """frames = [(left, top, idx2d, lct_or_None, interlaced)] or
    6-tuples with a trailing (disposal, delay_cs, transparent) GCE."""
    out = bytearray(b"GIF89a")
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    if gct is not None:
        size_bits = max((len(gct) - 1).bit_length() - 1, 0)
        assert len(gct) == 2 << size_bits
        out += bytes([0x80 | size_bits, bg, 0]) + gct.tobytes()
    else:
        out += bytes([0, bg, 0])
    for spec in frames:
        left, top, idx, lct, interlaced = spec[:5]
        gce = spec[5] if len(spec) > 5 else (
            None if transparent is None else (0, 0, transparent))
        fh, fw = idx.shape
        if gce is not None:
            disposal, delay_cs, trans = gce
            packed_g = (disposal & 7) << 2 | (trans is not None)
            out += (bytes([0x21, 0xF9, 4, packed_g])
                    + delay_cs.to_bytes(2, "little")
                    + bytes([trans if trans is not None else 0, 0]))
        out += (b"\x2C" + left.to_bytes(2, "little")
                + top.to_bytes(2, "little")
                + fw.to_bytes(2, "little") + fh.to_bytes(2, "little"))
        packed = 0
        if lct is not None:
            size_bits = max((len(lct) - 1).bit_length() - 1, 0)
            assert len(lct) == 2 << size_bits
            packed |= 0x80 | size_bits
        if interlaced:
            packed |= 0x40
            rows = np.concatenate(
                [np.arange(start, fh, step)
                 for start, step in _GIF_INTERLACE])
            idx = idx[rows]
        out += bytes([packed])
        if lct is not None:
            out += lct.tobytes()
        pal_n = lct if lct is not None else gct
        mcs = (max(2, (len(pal_n) - 1).bit_length())
               if pal_n is not None else 2)
        out += bytes([mcs])
        out += _subblocks(_lzw_encode(mcs, idx.reshape(-1).tobytes()))
    return bytes(out + b"\x3B")


# -------------------------------------------------------------------- tests


def test_hand_pinned_bytes():
    """A 2x2 GIF whose LZW stream was bit-packed BY HAND from the
    spec (codes [clear,1,0,0,1,end], width 3 then 4 after the
    grow-after-append point) — pins the decoder against the spec
    itself, not against the test encoder."""
    blob = (b"GIF89a" + b"\x02\x00\x02\x00" + bytes([0x81, 0, 0])
            + bytes([0, 0, 255, 255, 0, 0, 0, 255, 0, 255, 255, 255])
            + b"\x2C" + b"\x00\x00\x00\x00\x02\x00\x02\x00" + b"\x00"
            + bytes([2]) + bytes([3]) + b"\x0c\x10\x05" + b"\x00"
            + b"\x3B")
    img = _decode_gif(blob)
    assert img.shape == (2, 2, 3)
    red, blue = [255, 0, 0], [0, 0, 255]
    assert img.tolist() == [[red, blue], [blue, red]]


@pytest.mark.parametrize("interlaced", [False, True])
def test_lzw_roundtrip_plain_and_interlaced(interlaced):
    """A 32x31 16-color image with long runs AND noise: exercises
    dictionary growth across several width increases, the KwKwK
    special case (runs), and the interlace row schedule."""
    rng = np.random.default_rng(3)
    idx = rng.integers(0, 16, size=(32, 31), dtype=np.uint8)
    idx[4:12] = 7                          # long runs -> KwKwK
    pal = _palette(16)
    blob = _gif_file(31, 32, [(0, 0, idx, None, interlaced)], pal)
    assert (_decode_gif(blob) == pal[idx]).all()


def test_clear_code_reset_mid_stream():
    """Enough distinct material to overflow a tiny starting width
    repeatedly — the encoder/decoder table stays in sync through
    width growth; also checks a 4-entry palette (mcs=2)."""
    idx = (np.arange(97 * 41, dtype=np.int64) * 7 % 4).astype(
        np.uint8).reshape(97, 41)
    pal = _palette(4)
    blob = _gif_file(41, 97, [(0, 0, idx, None, False)], pal)
    assert (_decode_gif(blob) == pal[idx]).all()


def test_animation_first_frame_composed_on_background():
    """First frame of an animation: composed at its (left, top)
    offset onto a background-filled logical screen; the SECOND frame
    must not leak in; transparent pixels show the background."""
    pal = _palette(8)
    f1 = np.full((2, 3), 5, dtype=np.uint8)
    f1[0, 1] = 2                           # transparent index below
    f2 = np.full((4, 5), 1, dtype=np.uint8)
    blob = _gif_file(5, 4, [(1, 1, f1, None, False),
                            (0, 0, f2, None, False)],
                     pal, bg=3, transparent=2)
    img = _decode_gif(blob)
    want = np.broadcast_to(pal[3], (4, 5, 3)).copy()
    want[1:3, 1:4] = pal[f1]
    want[1, 2] = pal[3]                    # transparent -> background
    assert (img == want).all()


def test_local_palette_overrides_global():
    gct, lct = _palette(4), _palette(4)[::-1].copy()
    idx = np.array([[0, 1], [2, 3]], dtype=np.uint8)
    blob = _gif_file(2, 2, [(0, 0, idx, lct, False)], gct)
    assert (_decode_gif(blob) == lct[idx]).all()


def test_guards_loud():
    pal = _palette(4)
    idx = np.zeros((2, 2), dtype=np.uint8)
    good = _gif_file(2, 2, [(0, 0, idx, None, False)], pal)
    with pytest.raises(ValueError, match="not a GIF"):
        _decode_gif(b"PNG?")
    with pytest.raises(ValueError, match="trailer before"):
        _decode_gif(good[:13 + 12] + b"\x3B")
    with pytest.raises(ValueError, match="truncated sub-block"):
        _decode_gif(good[:-2])
    # out-of-palette index: 2-entry palette, index 3 in the stream
    small = _palette(2)
    bad_idx = np.array([[0, 1], [1, 3]], dtype=np.uint8)
    blob = bytearray(_gif_file(2, 2, [(0, 0, bad_idx, None, False)],
                               _palette(4)))
    # shrink the declared GCT to 2 entries: drop 6 palette bytes
    blob[10] = (blob[10] & ~0x07) | 0x00
    blob = (bytes(blob[:13]) + small.tobytes()
            + bytes(blob[13 + 12:]))
    with pytest.raises(ValueError, match="outside"):
        _decode_gif(blob)
    # frame exceeding the logical screen
    with pytest.raises(ValueError, match="exceeds"):
        _decode_gif(_gif_file(2, 2, [(1, 0, idx, None, False)], pal))
    # no color table anywhere
    with pytest.raises(ValueError, match="neither"):
        _decode_gif(_gif_file(2, 2, [(0, 0, idx, None, False)], None))


@settings(max_examples=120, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(blob=st.binary(max_size=300))
def test_decoder_total_on_hostile_bytes(blob):
    """Arbitrary bytes after a GIF header either decode or raise a
    clean ValueError — never hang, never crash the interpreter."""
    try:
        _decode_gif(b"GIF89a" + blob)
    except (ValueError, IndexError):
        pass


def test_header_screen_size_allocates_nothing_without_a_frame():
    """The logical screen is allocated only once a frame decodes: a
    header claiming a 4096x4096 screen and no image (or a broken one)
    raises without touching 50 MB."""
    import tracemalloc

    header = b"GIF89a" + (4096).to_bytes(2, "little") * 2 + b"\x00\x00\x00"
    tracemalloc.start()
    try:
        for tail in (b"\x3b", b"\x2c" + bytes(9) + b"\x02\x00"):
            with pytest.raises(ValueError):
                _decode_gif(header + tail)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 1 << 20


def test_decode_image_dispatch_and_provenance(spark):
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark import decode_image, pack_media

    pal = _palette(16)
    idx = (np.add.outer(np.arange(6), np.arange(9)) % 16).astype(
        np.uint8)
    blob = _gif_file(9, 6, [(0, 0, idx, None, True)], pal)
    df = pack_media(
        spark.createDataFrame([(1, bytearray(blob))],
                              "media_id long, payload binary"),
        "payload", fmt="image/gif", width=9, height=6)
    r = decode_image(df, "payload").first()
    want_codec = "pillow" if _HAS_PIL else "gif"
    assert r.codec == want_codec
    got = np.asarray(r.pixels, dtype=np.int32).reshape(6, 9, 3)
    assert (got == pal[idx]).all()


@pytest.mark.skipif(not _HAS_PIL, reason="Pillow not installed")
def test_pillow_cross_decode():  # pragma: no cover - gated
    """When Pillow exists, its first-frame RGB decode of our golden
    file equals the builtin decoder pixel-for-pixel."""
    import io

    from PIL import Image

    pal = _palette(16)
    rng = np.random.default_rng(5)
    idx = rng.integers(0, 16, size=(12, 17), dtype=np.uint8)
    blob = _gif_file(17, 12, [(0, 0, idx, None, False)], pal)
    im = Image.open(io.BytesIO(blob)).convert("RGB")
    assert (np.asarray(im) == _decode_gif(blob)).all()


def test_animation_frames_disposal_semantics():
    """parse_gif_frames composes successive canvases with the spec's
    disposal methods: 1 leaves the frame in place, 2 restores the
    background region, 3 restores the pre-frame canvas."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark import parse_gif_frames

    pal = _palette(8)
    base = np.full((4, 4), 6, dtype=np.uint8)
    patch = np.full((2, 2), 1, dtype=np.uint8)
    last = np.full((1, 1), 4, dtype=np.uint8)
    blob = _gif_file(4, 4, [
        (0, 0, base, None, False, (1, 5, None)),    # leave in place
        (1, 1, patch, None, False, (2, 3, None)),   # then restore bg
        (2, 2, patch, None, False, (3, 0, None)),   # then restore prev
        (0, 0, last, None, False, (0, 0, None)),
    ], pal, bg=3)
    out = parse_gif_frames(blob)
    assert (out["width"], out["height"]) == (4, 4)
    assert out["codec"] == "gif" and out["us_per_frame"] == 50_000
    assert len(out["frames"]) == 4
    f = [_decode_ppm_test(p) for p in out["frames"]]
    want0 = np.broadcast_to(pal[6], (4, 4, 3)).copy()
    assert (f[0] == want0).all()
    want1 = want0.copy()
    want1[1:3, 1:3] = pal[1]
    assert (f[1] == want1).all()
    # disposal 2 after frame 2: its region went back to BACKGROUND
    want2 = want0.copy()
    want2[1:3, 1:3] = pal[3]
    want2[2:4, 2:4] = pal[1]
    assert (f[2] == want2).all()
    # disposal 3 after frame 2: ITS region reverts to the pre-frame-2
    # canvas (base color, except (2,2) which frame 1's disposal-2 had
    # already reset to background) — frame 2's patch is GONE in f[3]
    want3 = want2.copy()
    want3[2:4, 2:4] = pal[6]
    want3[2, 2] = pal[3]
    want3[0, 0] = pal[4]
    assert (f[3] == want3).all()


def _decode_ppm_test(p: bytes) -> np.ndarray:
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.operators.multimodal import _decode_ppm
    return _decode_ppm(p)


def test_animation_sampling_materializes_only_sampled():
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark import parse_gif_frames

    pal = _palette(4)
    frames = [(0, 0, np.full((2, 2), i % 4, dtype=np.uint8), None,
               False, (1, 0, None)) for i in range(5)]
    blob = _gif_file(2, 2, frames, pal)
    out = parse_gif_frames(blob, _sample_every=2)
    assert out["sampled_every"] == 2 and len(out["frames"]) == 3
    # sampled canvases are frames 0, 2, 4 (each fully overpaints)
    for j, want_i in enumerate((0, 2, 4)):
        got = _decode_ppm_test(out["frames"][j])
        assert (got == pal[np.full((2, 2), want_i % 4)]).all()
    assert out["us_per_frame"] is None     # delay 0 -> unknown rate


def test_sample_frames_gif_integration(spark):
    """The Spark face: an animated GIF through sample_frames explodes
    into PPM frame rows (demux='gif', real composed canvases), and
    decode_image reads them back exactly."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark import (
        decode_image, pack_media, sample_frames,
    )
    pal = _palette(4)
    frames = [(0, 0, np.full((3, 5), i % 4, dtype=np.uint8), None,
               False, (1, 2, None)) for i in range(4)]
    blob = _gif_file(5, 3, frames, pal)
    df = pack_media(
        spark.createDataFrame([(1, bytearray(blob))],
                              "media_id long, payload binary"),
        "payload", fmt="image/gif", width=5, height=3, n_frames=4)
    ex = sample_frames(df, "payload", every_n=2,
                       frame_col="frame").withColumnRenamed(
        "frame", "payload")
    rows = ex.orderBy("frame_index").collect()
    assert [r["frame_index"] for r in rows] == [0, 2]
    assert all(r["demux"] == "gif" for r in rows)
    dec = decode_image(
        pack_media(ex.select("media_id", "frame_index", "payload"),
                   "payload", fmt="image/ppm", width=5, height=3),
        "payload").orderBy("frame_index").collect()
    for r, want_i in zip(dec, (0, 2)):
        got = np.asarray(r.pixels, dtype=np.int32).reshape(3, 5, 3)
        assert (got == pal[np.full((3, 5), want_i % 4)]).all()
