"""WebP/VP8L codec: byte-exact roundtrips (lossless), bit-exact decode of
real libwebp-encoded streams (transforms, palettes, color cache, backward
references), container probing, documented lossy scope, chaos corpus."""

from __future__ import annotations

import ctypes
import struct

import numpy as np
import pytest

from space_launch_telemetry_analyzer_spark.operators import multimodal as M
from space_launch_telemetry_analyzer_spark.operators import webp as W


def _rgb(d):
    return np.stack([(d["argb"] >> 16) & 0xFF, (d["argb"] >> 8) & 0xFF,
                     d["argb"] & 0xFF], axis=2).astype(np.uint8)


def test_roundtrip_exact():
    rng = np.random.default_rng(7)
    for shape in [(1, 1), (3, 5), (17, 9), (16, 16, 3), (33, 31, 3)]:
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        d = W.decode_webp(W.encode_webp(img), return_luma=True)
        rgb = np.stack([img] * 3, axis=2) if img.ndim == 2 else img
        assert np.array_equal(_rgb(d), rgb)
        assert (d["width"], d["height"]) == (rgb.shape[1], rgb.shape[0])


def test_rle_backward_refs():
    """Flat regions go through the encoder's dist=1 LZ77 path; the stream
    must shrink and still roundtrip exactly."""
    flat = np.full((80, 80), 7, dtype=np.uint8)
    enc = W.encode_webp(flat)
    noise = W.encode_webp(
        np.random.default_rng(0).integers(0, 256, (80, 80), dtype=np.uint8))
    assert len(enc) < len(noise) / 20
    d = W.decode_webp(enc, return_luma=True)
    assert bool(np.all(d["luma"] == 7.0))
    assert d["luma_sum"] == 7 * 80 * 80


def test_dimensions_probe():
    img = np.zeros((21, 34), dtype=np.uint8)
    w, h, fmt = W.webp_dimensions(W.encode_webp(img))
    assert (w, h, fmt) == (34, 21, "vp8l")
    with pytest.raises(ValueError, match="RIFF"):
        W.webp_dimensions(b"nope")


def test_truncated_chunk_rejected_by_probe_and_decoder():
    """A chunk whose body is cut short (RIFF length consistent with the
    cut) fails the same way in the dimensions probe as in the decoder."""
    cut = W.encode_webp(np.zeros((21, 34), dtype=np.uint8))[:-7]
    cut = cut[:4] + struct.pack("<I", len(cut) - 8) + cut[8:]
    for fn in (W.webp_dimensions, W.decode_webp):
        with pytest.raises(ValueError, match="truncated WebP chunk"):
            fn(cut)


def test_lossy_vp8_decodes_through_container():
    """The lossy half is real since r5 (operators/vp8.py): decode_webp
    routes 'VP8 ' chunks through the RFC 6386 keyframe decoder and emits
    the shared luma_features contract straight from the Y plane; the cheap
    dimensions probe still reads only the frame header."""
    from space_launch_telemetry_analyzer_spark.operators.vp8 import (
        encode_webp_lossy_flat)
    payload = encode_webp_lossy_flat(142, 99, 77)
    d = W.decode_webp(payload, return_luma=True)
    assert (d["width"], d["height"], d["channels"]) == (99, 77, 3)
    assert d["luma_sum"] == 142 * 99 * 77
    assert bool(np.all(d["luma"] == 142.0))
    w, h, fmt = W.webp_dimensions(payload)
    assert (w, h, fmt) == (99, 77, "vp8")


def test_distance_map_shape():
    """The 2D distance map was extracted from this system's libwebp
    packed table (byte = y<<4 | 8-x): 120 entries, x in [-7,8], y in
    [0,7], spec-known leading diagonal."""
    assert len(W._DIST_MAP) == 120
    assert W._DIST_MAP[:8] == [(0, 1), (1, 0), (1, 1), (-1, 1),
                               (0, 2), (2, 0), (1, 2), (-1, 2)]
    assert all(-7 <= dx <= 8 and 0 <= dy <= 7 for dx, dy in W._DIST_MAP)
    assert len(set(W._DIST_MAP)) == 120
    assert W._plane_dist(1, 100) == 100  # (0,1): one row up
    assert W._plane_dist(2, 100) == 1    # (1,0): previous pixel
    assert W._plane_dist(121, 100) == 1  # plain distance


def _libwebp():
    try:
        lib = ctypes.CDLL("libwebp.so.7")
    except OSError:
        return None
    lib.WebPEncodeLosslessRGB.restype = ctypes.c_size_t
    lib.WebPEncodeLosslessRGB.argtypes = [
        ctypes.c_char_p, ctypes.c_int, ctypes.c_int, ctypes.c_int,
        ctypes.POINTER(ctypes.POINTER(ctypes.c_uint8))]
    return lib


@pytest.mark.skipif(_libwebp() is None, reason="system libwebp unavailable")
def test_decodes_real_libwebp_streams_bit_exact():
    """The decode paths our own encoder never emits — predictor + color
    transforms, color-indexing at every packing width, color cache, 2D
    distance map, meta groups — validated against streams produced by the
    reference implementation itself."""
    lib = _libwebp()

    def enc(rgb):
        h, w, _ = rgb.shape
        out = ctypes.POINTER(ctypes.c_uint8)()
        n = lib.WebPEncodeLosslessRGB(rgb.tobytes(), w, h, w * 3,
                                      ctypes.byref(out))
        assert n > 0
        data = bytes(bytearray(
            ctypes.cast(out, ctypes.POINTER(ctypes.c_uint8 * n)).contents))
        lib.WebPFree(out)
        return data

    rng = np.random.default_rng(3)
    y, x = np.mgrid[0:64, 0:48]
    smooth = np.clip(128 + 60 * np.sin(x / 10) * np.cos(y / 8),
                     0, 255).astype(np.uint8)
    pal2 = np.zeros((30, 30, 3), dtype=np.uint8)
    pal2[::2, :] = 255
    cases = [
        np.stack([(x * 3 + y) % 256, (x + y * 2) % 256,
                  (x * 2 + y * 3) % 256], axis=2).astype(np.uint8),
        np.stack([smooth, np.roll(smooth, 3, 0), np.roll(smooth, 5, 1)],
                 axis=2),
        rng.integers(0, 256, (32, 32, 3), dtype=np.uint8),
        np.full((50, 50, 3), 77, dtype=np.uint8),
        pal2,
        np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255], [255, 255, 0]],
                 dtype=np.uint8)[rng.integers(0, 4, (40, 40))],
        rng.integers(0, 256, (16, 3), dtype=np.uint8)[
            rng.integers(0, 16, (25, 37))],
        rng.integers(0, 256, (200, 3), dtype=np.uint8)[
            rng.integers(0, 200, (31, 29))],
    ]
    # repeated-region photo: triggers long backward refs + meta groups
    big = np.zeros((120, 160, 3), dtype=np.uint8)
    yy, xx = np.mgrid[0:120, 0:160]
    big[:, :, 0] = np.clip(100 + 80 * np.sin(xx / 13) + 40 * np.cos(yy / 7), 0, 255)
    big[:, :, 1] = np.clip(120 + 70 * np.sin((xx + yy) / 17), 0, 255)
    big[:, :, 2] = np.clip(90 + 90 * np.cos(xx / 9) * np.sin(yy / 11), 0, 255)
    big[30:60, 40:80] = big[20:50, 20:60]
    cases.append(big)

    for img in cases:
        d = W.decode_webp(enc(np.ascontiguousarray(img)), return_luma=True)
        assert np.array_equal(_rgb(d), img)


def test_decode_image_routing_and_magic():
    img = np.arange(64, dtype=np.uint8).reshape(8, 8)
    enc = W.encode_webp(img)
    assert M.sniff_magic(enc) == "webp"
    assert M.sniff_magic(b"RIFF\x00\x00\x00\x00WAVE") == "wav"
    assert M.sniff_magic(b"RIFF\x00\x00\x00\x00AVI ") == "riff"
    d = M.decode_image(enc, fake=False)
    assert (d["width"], d["height"], d["channels"]) == (8, 8, 3)
    # lossless: exact equality with the PNG decode of the same pixels
    p = M.decode_image(M.encode_png(img), fake=False)
    assert d["luma_sum"] == p["luma_sum"]
    assert d["mean_luma"] == pytest.approx(p["mean_luma"], abs=1e-12)


def test_chaos_corpus():
    img = np.arange(16 * 13, dtype=np.uint8).reshape(16, 13) % 251
    good = W.encode_webp(img)
    rng = np.random.default_rng(42)
    for trial in range(300):
        mut = bytearray(good)
        mode = trial % 3
        if mode == 0:
            mut[rng.integers(0, len(mut))] = rng.integers(0, 256)
        elif mode == 1:
            del mut[rng.integers(0, len(mut))]
        else:
            mut = mut[: rng.integers(0, len(mut))]
        try:
            d = W.decode_webp(bytes(mut))
            assert set(d) >= {"width", "height", "channels", "luma_sum"}
        except ValueError:
            pass


def test_image_features_webp_through_spark(spark):
    img = np.arange(144, dtype=np.uint8).reshape(12, 12)
    rows = [
        (1, W.encode_webp(img)),
        (2, M.encode_png(img)),
        (3, b"RIFF\x10\x00\x00\x00WEBPjunkjunk"),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r["media_id"]: r for r in
           M.image_features(df, "media_id", "payload", fake=False).collect()}
    assert out[1]["error"] is None and out[1]["width"] == 12
    # lossless twins agree exactly
    assert out[1]["mean_luma"] == pytest.approx(out[2]["mean_luma"], abs=1e-12)
    assert out[3]["error"] is not None


def test_adversarial_dimension_cap():
    """A tiny well-formed VP8L header can declare huge dimensions and,
    with 0-bit codes + backward references, buy unbounded per-pixel
    Python work from a ~40-byte payload — the 16.7MP cap sends it to the
    error channel instead (review r5)."""
    from space_launch_telemetry_analyzer_spark.operators.webp import _LSBWriter

    bw = _LSBWriter()
    bw.write(16383, 14)  # w-1 -> 16384
    bw.write(16383, 14)  # h-1 -> 16384
    bw.write(0, 1)
    bw.write(0, 3)
    stream = b"\x2f" + bw.finish() + b"\x00" * 8
    chunk = b"VP8L" + struct.pack("<I", len(stream)) + stream
    payload = b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk
    with pytest.raises(ValueError, match="16.7MP"):
        W.decode_webp(payload)


# ---------------------------------------------------------------------------
# ALPH alpha planes (r5): raw + all four filters, libwebp cross-validation
# ---------------------------------------------------------------------------


def _filter_forward(plane: np.ndarray, filt: int) -> np.ndarray:
    """Reference forward filter (test-side twin of the decoder's inverse):
    emit delta = value - prediction mod 256, container-spec borders."""
    h, w = plane.shape
    p = plane.astype(np.int64)
    out = np.zeros_like(p)
    for y in range(h):
        for x in range(w):
            a = p[y, x - 1] if x else 0
            b = p[y - 1, x] if y else 0
            c = p[y - 1, x - 1] if x and y else 0
            if y == 0 and x == 0:
                pred = 0
            elif x == 0:
                pred = b
            elif y == 0:
                pred = a
            elif filt == 1:
                pred = a
            elif filt == 2:
                pred = b
            else:
                pred = min(255, max(0, a + b - c))
            out[y, x] = (p[y, x] - pred) & 0xFF
    return out.astype(np.uint8)


def _wrap_vp8x_alpha(vp8_chunk_body: bytes, alph_body: bytes,
                     w: int, h: int) -> bytes:
    """Build a VP8X container: VP8X header (alpha flag) + ALPH + VP8."""
    vp8x = bytes([0x10, 0, 0, 0]) + struct.pack("<I", w - 1)[:3] + \
        struct.pack("<I", h - 1)[:3]
    chunks = b"VP8X" + struct.pack("<I", len(vp8x)) + vp8x
    chunks += b"ALPH" + struct.pack("<I", len(alph_body)) + alph_body
    if len(alph_body) & 1:
        chunks += b"\x00"
    chunks += b"VP8 " + struct.pack("<I", len(vp8_chunk_body)) + \
        vp8_chunk_body
    if len(vp8_chunk_body) & 1:
        chunks += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WEBP" + chunks


def _vp8_chunk_of(payload: bytes) -> bytes:
    """Extract the raw VP8 chunk body from an encode_webp_lossy_flat RIFF."""
    assert payload[12:16] == b"VP8 "
    n = struct.unpack("<I", payload[16:20])[0]
    return payload[20:20 + n]


def test_alph_raw_all_filters():
    from space_launch_telemetry_analyzer_spark.operators.vp8 import (
        encode_webp_lossy_flat)
    rng = np.random.default_rng(11)
    w, h = 23, 9
    vp8 = _vp8_chunk_of(encode_webp_lossy_flat(90, w, h))
    alpha = rng.integers(0, 256, (h, w), dtype=np.uint8)
    for filt in range(4):
        deltas = _filter_forward(alpha, filt) if filt else alpha
        body = bytes([filt << 2]) + deltas.tobytes()
        d = W.decode_webp(_wrap_vp8x_alpha(vp8, body, w, h),
                          return_luma=True)
        assert d["channels"] == 4
        assert d["luma_sum"] == 90 * w * h
        assert np.array_equal(d["alpha"], alpha), f"filter {filt}"


def test_alph_bad_header_rejected():
    from space_launch_telemetry_analyzer_spark.operators.vp8 import (
        encode_webp_lossy_flat)
    vp8 = _vp8_chunk_of(encode_webp_lossy_flat(10, 4, 4))
    for hdr in (0x40, 0x03, 0x30):  # reserved bits, method>1, pre>1
        body = bytes([hdr]) + bytes(16)
        with pytest.raises(ValueError, match="ALPH"):
            W.decode_webp(_wrap_vp8x_alpha(vp8, body, 4, 4),
                          return_luma=True)
    with pytest.raises(ValueError, match="truncated raw ALPH"):
        W.decode_webp(_wrap_vp8x_alpha(vp8, b"\x00" + bytes(3), 4, 4),
                      return_luma=True)


@pytest.mark.skipif(_libwebp() is None, reason="system libwebp unavailable")
def test_alph_vs_libwebp_rgba():
    """Lossy RGBA through libwebp produces VP8X+ALPH+VP8; our alpha plane
    must match libwebp's own RGBA decode bit-exactly (alpha is coded
    losslessly even in lossy files)."""
    lib = _libwebp()
    lib.WebPEncodeRGBA.restype = ctypes.c_size_t
    lib.WebPEncodeRGBA.argtypes = [
        ctypes.c_char_p, ctypes.c_int, ctypes.c_int, ctypes.c_int,
        ctypes.c_float, ctypes.POINTER(ctypes.POINTER(ctypes.c_uint8))]
    lib.WebPDecodeRGBA.restype = ctypes.POINTER(ctypes.c_uint8)
    lib.WebPDecodeRGBA.argtypes = [
        ctypes.c_char_p, ctypes.c_size_t,
        ctypes.POINTER(ctypes.c_int), ctypes.POINTER(ctypes.c_int)]
    rng = np.random.default_rng(23)
    for (h, w) in [(16, 16), (21, 37)]:
        rgba = rng.integers(0, 256, (h, w, 4), dtype=np.uint8)
        # smooth the alpha a little so the encoder picks a filter
        rgba[..., 3] = np.minimum(255, np.add.outer(
            np.arange(h) * 3, np.arange(w) * 2) % 256).astype(np.uint8)
        out = ctypes.POINTER(ctypes.c_uint8)()
        n = lib.WebPEncodeRGBA(rgba.tobytes(), w, h, w * 4,
                               ctypes.c_float(75.0), ctypes.byref(out))
        assert n > 0
        data = bytes(bytearray(ctypes.cast(
            out, ctypes.POINTER(ctypes.c_uint8 * n)).contents))
        lib.WebPFree(out)
        assert b"ALPH" in data[:64]
        W2, H2 = ctypes.c_int(), ctypes.c_int()
        ref = lib.WebPDecodeRGBA(data, len(data), ctypes.byref(W2),
                                 ctypes.byref(H2))
        ref_rgba = np.array(bytearray(ctypes.cast(
            ref, ctypes.POINTER(
                ctypes.c_uint8 * (W2.value * H2.value * 4))).contents),
            dtype=np.uint8).reshape(H2.value, W2.value, 4)
        lib.WebPFree(ref)
        d = W.decode_webp(data, return_luma=True)
        assert (d["width"], d["height"], d["channels"]) == (w, h, 4)
        assert np.array_equal(d["alpha"], ref_rgba[..., 3])


@pytest.mark.skipif(_libwebp() is None, reason="system libwebp unavailable")
def test_vp8l_alpha_flag_channels():
    """Lossless RGBA: VP8L's own has_alpha bit must surface channels=4 and
    the ARGB alpha byte must match libwebp's decode."""
    lib = _libwebp()
    lib.WebPEncodeLosslessRGBA.restype = ctypes.c_size_t
    lib.WebPEncodeLosslessRGBA.argtypes = [
        ctypes.c_char_p, ctypes.c_int, ctypes.c_int, ctypes.c_int,
        ctypes.POINTER(ctypes.POINTER(ctypes.c_uint8))]
    rng = np.random.default_rng(5)
    h, w = 13, 29
    rgba = rng.integers(0, 256, (h, w, 4), dtype=np.uint8)
    out = ctypes.POINTER(ctypes.c_uint8)()
    n = lib.WebPEncodeLosslessRGBA(rgba.tobytes(), w, h, w * 4,
                                   ctypes.byref(out))
    assert n > 0
    data = bytes(bytearray(ctypes.cast(
        out, ctypes.POINTER(ctypes.c_uint8 * n)).contents))
    lib.WebPFree(out)
    d = W.decode_webp(data, return_luma=True)
    assert (d["width"], d["height"], d["channels"]) == (w, h, 4)
    assert np.array_equal(((d["argb"] >> 24) & 0xFF).astype(np.uint8),
                          rgba[..., 3])


# ---------------------------------------------------------------------------
# Animated WebP (r5): ANIM/ANMF walk, first-frame features, n_frames
# ---------------------------------------------------------------------------


def _anmf(frame_payload_chunks: bytes, w: int, h: int,
          x: int = 0, y: int = 0, dur: int = 40) -> bytes:
    hdr = (x // 2).to_bytes(3, "little") + (y // 2).to_bytes(3, "little") + \
        (w - 1).to_bytes(3, "little") + (h - 1).to_bytes(3, "little") + \
        dur.to_bytes(3, "little") + b"\x00"
    body = hdr + frame_payload_chunks
    out = b"ANMF" + struct.pack("<I", len(body)) + body
    return out + (b"\x00" if len(body) & 1 else b"")


def test_animated_webp_first_frame_and_count():
    from space_launch_telemetry_analyzer_spark.operators.vp8 import (
        encode_webp_lossy_flat)
    w, h = 18, 12
    frames = []
    for i, val in enumerate([55, 99, 180]):
        riff = encode_webp_lossy_flat(val, w, h)
        chunk = b"VP8 " + struct.pack("<I", len(riff) - 20) + \
            _vp8_chunk_of(riff)
        frames.append(_anmf(chunk, w, h, dur=40 + i))
    vp8x = bytes([0x02, 0, 0, 0]) + (w - 1).to_bytes(3, "little") + \
        (h - 1).to_bytes(3, "little")
    anim = b"ANIM" + struct.pack("<I", 6) + bytes(6)
    chunks = b"VP8X" + struct.pack("<I", len(vp8x)) + vp8x + anim + \
        b"".join(frames)
    payload = b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WEBP" + chunks
    d = W.decode_webp(payload, return_luma=True)
    assert (d["width"], d["height"], d["channels"]) == (w, h, 3)
    assert d["n_frames"] == 3
    assert d["luma_sum"] == 55 * w * h  # first frame only, GIF contract
    assert bool(np.all(d["luma"] == 55.0))
    # canvas probe still works without pixel decode
    assert W.webp_dimensions(payload) == (w, h, "vp8x")


def test_still_webp_reports_one_frame():
    img = np.full((5, 9), 31, dtype=np.uint8)
    d = W.decode_webp(W.encode_webp(img))
    assert d["n_frames"] == 1


# --- animated WebP: encode_webp_anim / webp_frames / operator -------------------

def _anim():
    """8x4 canvas, gray bg 100: opaque band, disposed band, then a
    half-alpha full-canvas blend."""
    f0 = np.full((4, 2), 200, np.uint8)
    f1 = np.full((4, 2), 50, np.uint8)
    f2 = np.full((4, 8), 150, np.uint8)
    return W.encode_webp_anim(8, 4, [
        {"pixels": f0, "x": 0, "duration_ms": 10},
        {"pixels": f1, "x": 4, "duration_ms": 20, "dispose": True},
        {"pixels": f2, "x": 0, "duration_ms": 30, "alpha": 128,
         "blend": True},
    ], bg_bgra=(100, 100, 100, 255))


def test_webp_frames_compositing_blend_and_dispose():
    frames = W.webp_frames(_anim())
    assert [f["frame_index"] for f in frames] == [0, 1, 2]
    assert [f["duration_ms"] for f in frames] == [10, 20, 30]
    assert [f["dispose"] for f in frames] == [False, True, False]
    # frame 0: 24 bg px of 100 + 8 of 200; frame 1 adds 8 of 50
    assert frames[0]["luma_sum"] == 24 * 100 + 8 * 200
    assert frames[1]["luma_sum"] == 16 * 100 + 8 * 200 + 8 * 50
    # frame 2: the disposed rect reverted to bg, then a=128/255 blend of
    # 150 over the whole canvas — exact float math per pixel
    c = np.full((4, 8), 100.0)
    c[:, 0:2] = 200.0
    blended = (128 / 255) * 150 + (1 - 128 / 255) * c
    assert frames[2]["luma_sum"] == int(
        np.rint(blended).astype(np.int64).sum())
    assert all(f["n_frames"] == 3 for f in frames)
    assert all((f["width"], f["height"]) == (8, 4) for f in frames)


def test_webp_frames_no_blend_overwrites_with_alpha():
    # blend=False writes the frame's (luma, alpha) verbatim over the rect
    f0 = np.full((2, 2), 30, np.uint8)
    p = W.encode_webp_anim(2, 2, [
        {"pixels": f0, "alpha": 128, "blend": False, "duration_ms": 1},
    ], bg_bgra=(200, 200, 200, 255))
    fr = W.webp_frames(p)[0]
    assert fr["luma_sum"] == 4 * 30


def test_webp_frames_sampling_grid_and_still_images():
    p = _anim()
    assert [f["frame_index"] for f in W.webp_frames(p, sample_rate=2)] == [0, 2]
    got = W.webp_frames(p, start_frame=1, max_frames=1)
    assert [f["frame_index"] for f in got] == [1] and got[0]["n_frames"] == 3
    assert W.webp_frames(p, start_frame=7) == []
    with pytest.raises(ValueError, match="sample_rate"):
        W.webp_frames(p, sample_rate=0)
    # a still VP8L image is one frame with the still decoder's features
    still = W.encode_webp(np.full((3, 5), 77, np.uint8))
    fr = W.webp_frames(still)
    assert len(fr) == 1 and fr[0]["n_frames"] == 1
    assert fr[0]["luma_sum"] == W.decode_webp(still)["luma_sum"]
    assert W.webp_frames(still, start_frame=1) == []


def test_webp_frames_malformed():
    p = bytearray(_anim())
    with pytest.raises(ValueError, match="RIFF/WEBP"):
        W.webp_frames(b"RIFF....NOPE")
    # frame exceeding the canvas
    big = np.full((4, 8), 1, np.uint8)
    q = W.encode_webp_anim(4, 4, [{"pixels": big}])
    with pytest.raises(ValueError, match="exceeds canvas"):
        W.webp_frames(q)


def test_webp_animation_frames_operator_error_channel(spark):
    rows = [(1, bytearray(_anim())),
            (2, bytearray(b"RIFF\x04\x00\x00\x00WEBP")),
            (3, None)]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = M.webp_animation_frames(df, "media_id", "payload", sample_rate=2)
    got = {(r["media_id"], r["frame_index"]): r for r in out.collect()}
    assert got[(1, 0)]["luma_sum"] == 24 * 100 + 8 * 200
    assert (1, 1) not in got and (1, 2) in got
    assert got[(2, None)]["error"] is not None
    assert got[(3, None)]["error"] == "ValueError: null payload"


def test_webp_frames_blend_over_transparent_background():
    # src-over with a FULLY TRANSPARENT destination must yield the source
    # color regardless of source alpha (premultiplied math), not a lerp
    # toward the invisible background luma
    f0 = np.full((2, 2), 200, np.uint8)
    p = W.encode_webp_anim(2, 2, [
        {"pixels": f0, "alpha": 128, "blend": True, "duration_ms": 1},
    ], bg_bgra=(0, 0, 0, 0))  # transparent black background
    fr = W.webp_frames(p)[0]
    assert fr["luma_sum"] == 4 * 200


def test_webp_frames_anmf_without_anim_chunk_still_animates():
    # strip the ANIM chunk: ANMF presence decides animation, and the two
    # twins must agree on n_frames
    p = bytearray(_anim())
    i = p.find(b"ANIM")
    size = struct.unpack("<I", p[i + 4:i + 8])[0]
    del p[i - 0:i + 8 + size + (size & 1)]
    # fix the RIFF size
    p[4:8] = struct.pack("<I", len(p) - 8)
    frames = W.webp_frames(bytes(p))
    assert [f["frame_index"] for f in frames] == [0, 1, 2]
    assert all(f["n_frames"] == 3 for f in frames)
    assert W.decode_webp(bytes(p))["n_frames"] == 3
