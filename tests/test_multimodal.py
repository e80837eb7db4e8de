"""Multimodal plumbing: binary columns, stubbed decode, frame fan-out."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from space_launch_telemetry_analyzer_spark.operators import multimodal as M


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (1, b"\x89PNG\r\n" + b"x" * 5000),
        (2, b"\xff\xd8\xff\xe0" + b"y" * 9000),
        (3, b"plain bytes payload"),
        (4, None),
        (5, b""),
    ]
    return spark.createDataFrame(rows, "media_id long, payload binary")


def test_media_metadata(media):
    out = {r["media_id"]: r for r in M.media_metadata(media, "media_id", "payload").collect()}
    assert out[1]["magic"] == "png" and out[1]["n_bytes"] == 5006
    assert out[2]["magic"] == "jpeg"
    assert out[3]["magic"] == "unknown"
    assert out[4]["magic"] == "empty" and out[5]["magic"] == "empty"
    assert out[3]["sha256"] == hashlib.sha256(b"plain bytes payload").hexdigest()


def test_decode_stub_raises_without_fake():
    with pytest.raises(NotImplementedError):
        M.decode_image(b"\x89PNG", fake=False)


def test_image_features_fake_decoder(media):
    out = {r["media_id"]: r for r in M.image_features(media, "media_id", "payload").collect()}
    ok = out[1]
    assert ok["error"] is None and 64 <= ok["width"] < 256 and len(ok["feature"]) == 16
    # deterministic: same payload -> same features
    again = {r["media_id"]: r for r in M.image_features(media, "media_id", "payload").collect()}
    assert again[1]["feature"] == ok["feature"]
    # null payload -> error row, not task failure
    assert out[4]["error"] is not None and out[4]["width"] is None


def test_sample_frames_fanout(media):
    out = M.sample_frames(media, "media_id", "payload", every_n_bytes=1024, max_frames=4)
    rows = out.collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["media_id"], []).append(r["frame_idx"])
    assert sorted(by_id[1]) == [0, 1, 2, 3]  # 5006 bytes -> capped at 4 frames
    assert by_id[3] == [0]  # small payload -> 1 frame
    assert 4 not in by_id  # null payload skipped


# ---- real PNG codec (pure stdlib) ------------------------------------------

import struct
import zlib

import numpy as np


def _chunk(ctype: bytes, data: bytes) -> bytes:
    return (struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))


def _gray(h, w, seed=3):
    y, x = np.mgrid[0:h, 0:w]
    return ((7 * x + 13 * y + seed) % 256).astype(np.uint8)


def test_png_roundtrip_gray():
    arr = _gray(5, 7)
    d = M.decode_png(M.encode_png(arr))
    assert (d["width"], d["height"], d["channels"]) == (7, 5, 1)
    assert d["luma_sum"] == int(arr.sum())
    assert abs(d["mean_luma"] - arr.mean() / 255.0) < 1e-12
    assert len(d["feature"]) == 16


def test_png_roundtrip_rgb_luma():
    h, w = 6, 4
    rgb = np.stack([_gray(h, w, s) for s in (1, 2, 3)], axis=2)
    d = M.decode_png(M.encode_png(rgb))
    assert (d["width"], d["height"], d["channels"]) == (w, h, 3)
    luma = rgb.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    assert abs(d["mean_luma"] - luma.mean() / 255.0) < 1e-12
    assert d["luma_sum"] == int(np.rint(luma).astype(np.int64).sum())


def test_png_all_five_filters_unfilter():
    """Hand-filter known grayscale rows with filters 0..4 (forward per the
    PNG spec) and check the decoder reconstructs the exact pixels."""
    h, w = 5, 9
    recon = _gray(h, w, seed=11)
    lines = bytearray()
    prev = np.zeros(w, dtype=np.int64)
    for y in range(h):
        row = recon[y].astype(np.int64)
        f = y % 5
        filt = np.zeros(w, dtype=np.int64)
        for x in range(w):
            a = row[x - 1] if x else 0
            b = prev[x]
            c = prev[x - 1] if x else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            filt[x] = (row[x] - pred) % 256
        lines += bytes([f]) + bytes(filt.astype(np.uint8))
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    png = (b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
           + _chunk(b"IDAT", zlib.compress(bytes(lines))) + _chunk(b"IEND", b""))
    d = M.decode_png(png)
    assert d["luma_sum"] == int(recon.sum())
    assert (d["width"], d["height"]) == (w, h)


def test_png_palette():
    """Color type 3: indices map through PLTE to RGB, channels reported 3."""
    w, h = 4, 2
    pal = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])  # red green blue
    idx = bytes([0, 1, 2, 0])
    lines = (b"\x00" + idx) * h
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)
    png = (b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr) + _chunk(b"PLTE", pal)
           + _chunk(b"IDAT", zlib.compress(lines)) + _chunk(b"IEND", b""))
    d = M.decode_png(png)
    assert (d["width"], d["height"], d["channels"]) == (w, h, 3)
    luma = np.array([0.299 * 255, 0.587 * 255, 0.114 * 255, 0.299 * 255] * h)
    assert abs(d["mean_luma"] - luma.mean() / 255.0) < 1e-12


def test_png_unsupported_and_malformed():
    arr = _gray(3, 3)
    good = M.encode_png(arr)
    # r5: 16-bit and Adam7 now DECODE; genuinely invalid combos still raise
    ihdr3 = struct.pack(">IIBBBBB", 3, 3, 3, 0, 0, 0, 0)
    bad = (b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr3)
           + _chunk(b"IDAT", zlib.compress(b"\x00" * 21)) + _chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="bit depth"):
        M.decode_png(bad)
    ihdr16p = struct.pack(">IIBBBBB", 3, 3, 16, 3, 0, 0, 0)
    bad16p = (b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr16p)
              + _chunk(b"IDAT", zlib.compress(b"\x00" * 21)) + _chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="palette"):
        M.decode_png(bad16p)
    ihdr_i2 = struct.pack(">IIBBBBB", 3, 3, 8, 0, 0, 0, 2)
    bad_i = (b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr_i2)
             + _chunk(b"IDAT", zlib.compress(b"\x00" * 12)) + _chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="interlace"):
        M.decode_png(bad_i)
    # truncated: drop the tail
    with pytest.raises(Exception):
        M.decode_png(good[: len(good) - 20])
    # short IDAT for declared dims
    ihdr = struct.pack(">IIBBBBB", 9, 9, 8, 0, 0, 0, 0)
    short = (b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
             + _chunk(b"IDAT", zlib.compress(b"\x00" * 5)) + _chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="too short"):
        M.decode_png(short)


def test_decode_image_routes_real_png_even_with_fake():
    """A genuine PNG decodes for real (fake flag or not); the fake decoder
    only serves non-PNG payloads."""
    arr = _gray(4, 4)
    png = M.encode_png(arr)
    for fake in (True, False):
        d = M.decode_image(png, fake=fake)
        assert (d["width"], d["height"]) == (4, 4)
        assert d["luma_sum"] == int(arr.sum())


def test_image_features_real_png_through_spark(spark):
    """image_features runs the REAL decoder on PNG rows and the error
    channel on corrupt PNG rows — in one distributed pass."""
    arr = _gray(8, 8)
    good = M.encode_png(arr)
    corrupt = good[:40] + b"garbage" + good[40:]
    df = spark.createDataFrame(
        [(1, good), (2, corrupt)], "media_id long, payload binary"
    )
    out = {r["media_id"]: r for r in
           M.image_features(df, "media_id", "payload", fake=False).collect()}
    assert out[1]["error"] is None and out[1]["width"] == 8
    assert abs(out[1]["mean_luma"] - arr.mean() / 255.0) < 1e-9
    assert out[2]["error"] is not None


# ---- real GIF codec (pure stdlib LZW) --------------------------------------


def test_gif_roundtrip_gray_indices():
    arr = _gray(7, 11, seed=5)
    d = M.decode_gif(M.encode_gif(arr))
    # grayscale identity palette: luma == index value exactly
    assert (d["width"], d["height"], d["channels"]) == (11, 7, 3)
    assert d["luma_sum"] == int(arr.astype(np.int64).sum())
    assert d["n_frames"] == 1
    assert abs(d["mean_luma"] - arr.mean() / 255.0) < 1e-12


def test_gif_palette_mapping():
    pal = bytearray(768)
    pal[3:6] = (255, 0, 0)   # index 1 = red
    pal[6:9] = (0, 255, 0)   # index 2 = green
    arr = np.array([[1, 2], [2, 1]], dtype=np.uint8)
    d = M.decode_gif(M.encode_gif(arr, bytes(pal)))
    lum_r, lum_g = 0.299 * 255, 0.587 * 255
    want = (2 * lum_r + 2 * lum_g) / 4 / 255.0
    assert abs(d["mean_luma"] - want) < 1e-12


def test_gif_large_frame_crosses_clear_boundaries():
    """>253 pixels forces periodic CLEAR codes in the encoder and table
    resets in the decoder — indices must survive exactly."""
    arr = _gray(40, 40, seed=9)  # 1600 px -> several CLEAR resets
    d = M.decode_gif(M.encode_gif(arr))
    assert d["luma_sum"] == int(arr.astype(np.int64).sum())


def test_gif_interlaced_rows_reordered():
    """Hand-build an interlaced frame: rows stored in pass order must come
    back in display order."""
    h, w = 8, 3
    arr = np.arange(h, dtype=np.uint8).repeat(w).reshape(h, w) * 10
    # pass order for h=8: rows 0, 4, 2, 6, then odd rows
    order = [0, 4, 2, 6, 1, 3, 5, 7]
    stored = arr[np.array(order)]
    plain = M.encode_gif(stored)
    # flip the interlace bit in the image descriptor packed byte
    # (structural offset: 6 header + 7 LSD + 768 GCT = 781 — byte 0x2c
    # also occurs inside the grayscale palette, so no index() search)
    idesc = 781
    assert plain[idesc] == 0x2C
    packed_at = idesc + 9
    interlaced = plain[:packed_at] + bytes((plain[packed_at] | 0x40,)) + plain[packed_at + 1:]
    d = M.decode_gif(interlaced)
    ref = M.decode_gif(M.encode_gif(arr))
    assert d["feature"] == ref["feature"] and d["luma_sum"] == ref["luma_sum"]


def test_gif_animation_frame_count():
    a = M.encode_gif(_gray(4, 4, 1))
    b = M.encode_gif(_gray(4, 4, 2))
    # splice: header+LSD+GCT+frame of a, then frame blocks of b, trailer
    # structural offsets: 6 header + 7 LSD + 768 GCT = 781 = image desc;
    # keep each frame's own sub-block terminator, drop only the 0x3b
    a_body = a[: len(a) - 1]
    assert b[781] == 0x2C
    b_frame = b[781: len(b) - 1]
    anim = a_body + b_frame + b"\x3b"
    d = M.decode_gif(anim)
    assert d["n_frames"] == 2
    # first frame wins
    assert d["luma_sum"] == M.decode_gif(a)["luma_sum"]


def test_gif_malformed():
    with pytest.raises(ValueError, match="signature"):
        M.decode_gif(b"GIF90a" + b"\x00" * 20)
    good = M.encode_gif(_gray(5, 5))
    with pytest.raises(ValueError):
        M.decode_gif(good[: len(good) - 10])
    with pytest.raises(ValueError, match="no image frame"):
        M.decode_gif(good[:13] + good[13:13 + 768] + b"\x3b")


def test_decode_image_routes_gif():
    arr = _gray(6, 6)
    gif = M.encode_gif(arr)
    for fake in (True, False):
        d = M.decode_image(gif, fake=fake)
        assert (d["width"], d["height"]) == (6, 6)
        assert d["luma_sum"] == int(arr.astype(np.int64).sum())


def test_png_palette_index_out_of_range_clamps():
    """r4 review: an index past the PLTE must clamp (best-effort decode),
    never raise IndexError."""
    w, h = 3, 1
    pal = bytes([10, 10, 10, 250, 250, 250])  # 2 entries
    idx = bytes([0, 1, 5])                    # 5 is out of range -> clamps to 1
    lines = b"\x00" + idx
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)
    png = (b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr) + _chunk(b"PLTE", pal)
           + _chunk(b"IDAT", zlib.compress(lines)) + _chunk(b"IEND", b""))
    d = M.decode_png(png)
    assert d["luma_sum"] == 10 + 250 + 250


def test_gif_truncated_local_color_table_raises_valueerror():
    """r4 review: truncation inside a local color table must surface as
    ValueError (the error-channel contract), not IndexError."""
    good = M.encode_gif(_gray(3, 3))
    # build a frame that claims a local color table then ends
    head = good[:781]  # header + LSD + GCT
    idesc = b"\x2c" + struct.pack("<HHHH", 0, 0, 3, 3) + bytes((0x80,))  # LCT flag, 4 entries
    bad = head + idesc + b"\x01\x02"  # far less than 12 LCT bytes
    with pytest.raises(ValueError, match="local color table|truncated"):
        M.decode_gif(bad)


def test_luma_features_shared_contract():
    """All three codecs emit through ONE helper — identical keys and grid
    math by construction."""
    arr = _gray(8, 8)
    png = M.decode_png(M.encode_png(arr))
    gif = M.decode_gif(M.encode_gif(arr))
    assert png["feature"] == gif["feature"]
    assert png["luma_sum"] == gif["luma_sum"] == int(arr.astype(np.int64).sum())
    assert set(png) == {"width", "height", "channels", "mean_luma",
                        "luma_sum", "feature"}


# ---- r5: PNG bit depths 1/2/4/16 + Adam7 interlace --------------------------


def _make_png(width, height, depth, ctype, raw, plte=None, interlace=0):
    import struct, zlib

    ihdr = struct.pack(">IIBBBBB", width, height, depth, ctype, 0, 0, interlace)
    out = M._PNG_SIG + _chunk(b"IHDR", ihdr)
    if plte is not None:
        out += _chunk(b"PLTE", plte)
    out += _chunk(b"IDAT", zlib.compress(raw)) + _chunk(b"IEND", b"")
    return out


_ADAM7_SPEC = [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
               (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]


def test_png_16bit_gray():
    vals = np.array([[0, 257, 65535], [32896, 514, 771]], dtype=np.uint16)
    raw = b"".join(b"\x00" + r.astype(">u2").tobytes() for r in vals)
    d = M.decode_png(_make_png(3, 2, 16, 0, raw))
    assert (d["width"], d["height"], d["channels"]) == (3, 2, 1)
    assert d["luma_sum"] == int(np.rint(vals / 257.0).astype(np.int64).sum())


def test_png_sub_byte_depths():
    # depth 4 gray (values scale by 17) and depth 1 palette
    v4 = np.array([[1, 2, 3, 4, 5], [15, 0, 7, 8, 9]])
    raw = b""
    for row in v4:
        packed = bytearray()
        for i in range(0, 5, 2):
            packed.append((row[i] << 4) | (row[i + 1] if i + 1 < 5 else 0))
        raw += b"\x00" + bytes(packed)
    d = M.decode_png(_make_png(5, 2, 4, 0, raw))
    assert d["luma_sum"] == int((v4 * 17).sum())

    v1 = (np.arange(30).reshape(3, 10) % 2).astype(np.uint8)
    raw = b"".join(b"\x00" + np.packbits(r).tobytes() for r in v1)
    d = M.decode_png(_make_png(10, 3, 1, 3, raw,
                               plte=b"\x00\x00\x00\xff\xff\xff"))
    assert d["luma_sum"] == int(v1.sum()) * 255


def test_png_adam7_interlaced():
    """Pass data built from an independent walk of the spec's pass grid
    (not the decoder's) must reassemble to the original image — 8-bit gray
    and 16-bit RGB, odd dimensions so empty/ragged passes are exercised."""
    img = ((np.arange(81).reshape(9, 9) * 31) % 256).astype(np.uint8)
    raw = b""
    for x0, y0, dx, dy in _ADAM7_SPEC:
        sub = img[y0::dy, x0::dx]
        if sub.size:
            raw += b"".join(b"\x00" + r.tobytes() for r in sub)
    d = M.decode_png(_make_png(9, 9, 8, 0, raw, interlace=1))
    assert d["luma_sum"] == int(img.astype(np.int64).sum())

    rgb = ((np.arange(60).reshape(4, 5, 3) * 997) % 65536).astype(np.uint16)
    raw = b""
    for x0, y0, dx, dy in _ADAM7_SPEC:
        sub = rgb[y0::dy, x0::dx]
        if sub.size:
            raw += b"".join(b"\x00" + r.astype(">u2").tobytes() for r in sub)
    d = M.decode_png(_make_png(5, 4, 16, 2, raw, interlace=1))
    lum = (rgb.astype(np.float64) / 257.0) @ np.array([0.299, 0.587, 0.114])
    assert d["luma_sum"] == int(np.rint(lum).astype(np.int64).sum())


def _libpng_rgb(payload):
    """Decode any PNG to 8-bit RGB via the system libpng simplified API
    (test oracle only); returns None when libpng is unavailable."""
    import ctypes

    try:
        lib = ctypes.CDLL("libpng16.so.16")
    except OSError:
        return None

    class PngImage(ctypes.Structure):
        _fields_ = [("opaque", ctypes.c_void_p), ("version", ctypes.c_uint32),
                    ("width", ctypes.c_uint32), ("height", ctypes.c_uint32),
                    ("format", ctypes.c_uint32), ("flags", ctypes.c_uint32),
                    ("colormap_entries", ctypes.c_uint32),
                    ("warning_or_error", ctypes.c_uint32),
                    ("message", ctypes.c_char * 64)]

    img = PngImage()
    img.version = 1  # PNG_IMAGE_VERSION
    ok = lib.png_image_begin_read_from_memory(
        ctypes.byref(img), payload, len(payload))
    assert ok, img.message
    img.format = 2  # PNG_FORMAT_RGB
    buf = (ctypes.c_uint8 * (img.width * img.height * 3))()
    ok = lib.png_image_finish_read(ctypes.byref(img), None, buf, 0, None)
    assert ok, img.message
    return np.frombuffer(buf, dtype=np.uint8).reshape(img.height, img.width, 3)


def test_png_interlaced_against_system_libpng():
    """The handcrafted Adam7/sub-byte fixtures decode identically through
    the system libpng — proving the fixtures are REAL PNGs and our
    reassembly matches the reference implementation."""
    img = ((np.arange(121).reshape(11, 11) * 37) % 256).astype(np.uint8)
    raw = b""
    for x0, y0, dx, dy in _ADAM7_SPEC:
        sub = img[y0::dy, x0::dx]
        if sub.size:
            raw += b"".join(b"\x00" + r.tobytes() for r in sub)
    payload = _make_png(11, 11, 8, 0, raw, interlace=1)
    ref = _libpng_rgb(payload)
    if ref is None:
        pytest.skip("system libpng unavailable")
    assert np.array_equal(ref[:, :, 0], img)  # gray -> equal RGB channels
    d = M.decode_png(payload)
    assert d["luma_sum"] == int(img.astype(np.int64).sum())

    v1 = (np.arange(88).reshape(8, 11) % 2).astype(np.uint8)
    raw = b""
    for x0, y0, dx, dy in _ADAM7_SPEC:
        sub = v1[y0::dy, x0::dx]
        if sub.size:
            raw += b"".join(b"\x00" + np.packbits(r).tobytes() for r in sub)
    payload = _make_png(11, 8, 1, 0, raw, interlace=1)
    ref = _libpng_rgb(payload)
    assert np.array_equal(ref[:, :, 0], v1 * 255)
    d = M.decode_png(payload)
    assert d["luma_sum"] == int(v1.sum()) * 255


# --- animated GIF: encode_gif_anim / gif_frames / animation_frames -------------

def _anim_payload():
    """6x4 canvas, 3 frames exercising offsets, transparency, disposal 2/3."""
    f0 = np.full((4, 6), 100, np.uint8)
    f1 = np.full((2, 3), 200, np.uint8)
    f1[0, 0] = 7  # transparent index
    f2 = np.full((1, 2), 50, np.uint8)
    return M.encode_gif_anim(6, 4, [
        {"indices": f0, "delay_cs": 4, "disposal": 1},
        {"indices": f1, "left": 2, "top": 1, "delay_cs": 5, "disposal": 3,
         "transparent": 7},
        {"indices": f2, "delay_cs": 6, "disposal": 2},
    ])


def test_gif_frames_compositing_transparency_and_disposal():
    frames = M.gif_frames(_anim_payload())
    # frame 0: 24 px of 100; frame 1: 5 opaque px of 200 painted over it
    # (the transparent px leaves 100); frame 2: disposal 3 restored the
    # frame-1 rect first, then 2 px of 50 overwrite
    assert [f["luma_sum"] for f in frames] == [2400, 2900, 2300]
    assert [f["frame_index"] for f in frames] == [0, 1, 2]
    assert [f["delay_cs"] for f in frames] == [4, 5, 6]
    assert [f["disposal"] for f in frames] == [1, 3, 2]
    assert all(f["n_frames"] == 3 for f in frames)
    assert all((f["width"], f["height"]) == (6, 4) for f in frames)


def test_gif_frames_disposal2_restores_background():
    # disposal 2 on frame 0 restores its rect to the background color
    # (GCT entry 0 = (0,0,0) in the grayscale identity palette) before
    # frame 1, whose 1x1 overwrite leaves the rest of the canvas black
    f0 = np.full((2, 2), 100, np.uint8)
    f1 = np.full((1, 1), 9, np.uint8)
    p = M.encode_gif_anim(2, 2, [
        {"indices": f0, "disposal": 2},
        {"indices": f1, "disposal": 1},
    ])
    frames = M.gif_frames(p)
    assert [f["luma_sum"] for f in frames] == [400, 9]


def test_gif_frames_sampling_grid_matches_reference_semantics():
    p = _anim_payload()
    # range(0, frame_count, sample_rate) like the reference's create_batches
    assert [f["frame_index"] for f in M.gif_frames(p, sample_rate=2)] == [0, 2]
    assert [f["frame_index"] for f in M.gif_frames(p, sample_rate=3)] == [0]
    # start/end/max knobs of iterate_through_frames
    got = M.gif_frames(p, start_frame=1, max_frames=1)
    assert [f["frame_index"] for f in got] == [1]
    assert got[0]["n_frames"] == 3  # header scan continues past the cutoff
    assert [f["frame_index"]
            for f in M.gif_frames(p, start_frame=1, end_frame=3,
                                  sample_rate=2)] == [1]
    assert M.gif_frames(p, start_frame=9) == []
    with pytest.raises(ValueError, match="sample_rate"):
        M.gif_frames(p, sample_rate=0)


def test_gif_frames_single_frame_agrees_with_decode_gif():
    arr = _gray(5, 7)
    single = M.encode_gif(arr)
    a, b = M.decode_gif(single), M.gif_frames(single)[0]
    for k in ("width", "height", "luma_sum", "mean_luma"):
        assert a[k] == b[k]


def test_gif_frames_out_of_bounds_frame_raises():
    f = np.full((3, 3), 1, np.uint8)
    p = M.encode_gif_anim(2, 2, [{"indices": f}])
    with pytest.raises(ValueError, match="exceeds logical screen"):
        M.gif_frames(p)


def test_animation_frames_operator_and_error_channel(spark):
    rows = [(1, bytearray(_anim_payload())),
            (2, bytearray(b"GIF89a" + b"\x00" * 4)),  # truncated header
            (3, None)]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = M.animation_frames(df, "media_id", "payload", sample_rate=2)
    got = {(r["media_id"], r["frame_index"]): r for r in out.collect()}
    assert got[(1, 0)]["luma_sum"] == 2400
    assert got[(1, 2)]["luma_sum"] == 2300
    assert (1, 1) not in got
    assert got[(2, None)]["error"].startswith("ValueError")
    assert got[(3, None)]["error"] == "ValueError: null payload"
    assert got[(1, 0)]["error"] is None


def test_gif_frames_frameless_file_raises_and_error_rows(spark):
    frameless = bytes(M.encode_gif(_gray(2, 2))[:13]) + \
        bytes(M.encode_gif(_gray(2, 2))[13:13 + 768]) + b"\x3b"
    with pytest.raises(ValueError, match="no image frame"):
        M.gif_frames(frameless)
    # the distributed operator turns it into an error ROW (id never vanishes)
    df = spark.createDataFrame([(5, bytearray(frameless))],
                               "media_id long, payload binary")
    rows = M.animation_frames(df, "media_id", "payload").collect()
    assert len(rows) == 1 and rows[0]["error"].startswith("ValueError")


def test_gif_frames_large_end_bound_is_cheap():
    p = _anim_payload()
    # a huge 'to the end' sentinel must not materialize an index set
    got = M.gif_frames(p, sample_rate=2, end_frame=10**12)
    assert [f["frame_index"] for f in got] == [0, 2]


def test_decode_gif_and_gif_frames_walk_the_same_frames():
    """One walker serves both: the frame count agrees even when
    gif_frames stops pixel work after its last sampled frame."""
    p = _anim_payload()
    assert M.decode_gif(p)["n_frames"] == 3
    for kw in ({}, {"max_frames": 1}, {"sample_rate": 2}):
        got = M.gif_frames(p, **kw)
        assert {f["n_frames"] for f in got} == {3}


def test_truncated_gif_extension_raises_in_both_decoders():
    p = _anim_payload()
    head = p[:781]  # header + LSD + 256-entry GCT
    for bad in (head + b"\x21", head + b"\x21\xf9"):
        for decode in (M.decode_gif, M.gif_frames):
            with pytest.raises(ValueError, match="truncated GIF"):
                decode(bad)
