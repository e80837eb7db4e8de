"""Baseline JPEG codec: T.81 constants, roundtrip fidelity, per-pixel
error bounds, malformed/unsupported rejection, and decode_image routing.
JPEG is lossy — roundtrips assert closeness, flat blocks assert exactness.
"""

from __future__ import annotations

import numpy as np
import pytest

from space_launch_telemetry_analyzer_spark.operators import jpeg as J
from space_launch_telemetry_analyzer_spark.operators import multimodal as M


def _grad(h, w, seed=0):
    y, x = np.mgrid[0:h, 0:w]
    return ((x * 7 + y * 3 + seed) % 256).astype(np.uint8)


def test_spec_constants_sanity():
    """The literal T.81 tables must be internally coherent: zigzag is a
    permutation; Huffman BITS sum to the symbol counts; canonical codes
    fit their lengths."""
    assert sorted(J.ZIGZAG.tolist()) == list(range(64))
    # first zigzag diagonal straight from the spec
    assert J.ZIGZAG[:8].tolist() == [0, 1, 8, 16, 9, 2, 3, 10]
    for bits, vals in ((J.DC_LUMA_BITS, J.DC_LUMA_VALS),
                       (J.AC_LUMA_BITS, J.AC_LUMA_VALS),
                       (J.DC_CHROMA_BITS, J.DC_CHROMA_VALS),
                       (J.AC_CHROMA_BITS, J.AC_CHROMA_VALS)):
        assert sum(bits) == len(vals)
        enc = J._build_encode_table(bits, vals)
        for sym, (code, ln) in enc.items():
            assert code < (1 << ln)
        # decode table inverts the encode table exactly
        dec = J._build_decode_table(bits, vals)
        assert {v: k for k, v in dec.items()} == {s: (ln, c) for s, (c, ln) in enc.items()}


def test_dct_orthonormal():
    """IDCT(FDCT(x)) == x to machine precision (the basis is orthonormal)."""
    rng = np.random.RandomState(7)
    b = rng.uniform(-128, 127, (8, 8))
    assert np.abs(J._idct2(J._fdct2(b)) - b).max() < 1e-9
    flat = np.full((8, 8), 57.0)
    c = J._fdct2(flat)
    assert abs(c[0, 0] - 57.0 * 8) < 1e-9  # DC = 8 * mean
    assert np.abs(c).sum() - abs(c[0, 0]) < 1e-9  # all AC zero


def test_flat_image_roundtrips_exactly():
    for v in (0, 57, 128, 255):
        flat = np.full((16, 24), v, dtype=np.uint8)
        d = J.decode_jpeg(J.encode_jpeg(flat), return_luma=True)
        assert (d["width"], d["height"], d["channels"]) == (24, 16, 1)
        assert np.abs(d["luma"] - float(v)).max() < 0.51  # DC quant exact-ish


def test_gray_gradient_per_pixel_error_bounded():
    img = _grad(24, 33)
    d = J.decode_jpeg(J.encode_jpeg(img, quality=90), return_luma=True)
    assert d["luma"].shape == (24, 33)
    err = np.abs(d["luma"] - img.astype(np.float64))
    # q=90 on a smooth gradient: small per-pixel error, tiny mean error
    assert err.max() < 16.0 and err.mean() < 2.0


def test_rgb_roundtrip_and_features():
    y, x = np.mgrid[0:17, 0:30]
    rgb = np.stack([(x * 5 + y * 2) % 256, (x * 2 + y * 9) % 256,
                    (x * 11 + y) % 256], axis=2).astype(np.uint8)
    d = J.decode_jpeg(J.encode_jpeg(rgb, quality=90), return_luma=True)
    assert (d["width"], d["height"], d["channels"]) == (30, 17, 3)
    luma_in = rgb.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    err = np.abs(d["luma"] - luma_in)
    assert err.mean() < 3.0
    assert len(d["feature"]) == 16
    assert abs(d["mean_luma"] - luma_in.mean() / 255.0) < 0.01


def test_quality_monotone_in_size():
    img = _grad(32, 32, seed=3)
    sizes = [len(J.encode_jpeg(img, quality=q)) for q in (30, 60, 90)]
    assert sizes[0] < sizes[1] < sizes[2]


def test_odd_dimensions_padding_cropped():
    img = _grad(9, 13)
    d = J.decode_jpeg(J.encode_jpeg(img, quality=95), return_luma=True)
    assert d["luma"].shape == (9, 13)


def test_unsupported_and_malformed():
    good = J.encode_jpeg(_grad(8, 8))
    with pytest.raises(ValueError, match="SOI"):
        J.decode_jpeg(b"not a jpeg")
    # flip SOF0 -> SOF2: the stream becomes a MALFORMED progressive JPEG
    # (its baseline scan header has Se=63 with Ss=0) — still ValueError,
    # now from the progressive scan-header validation
    sof = good.index(b"\xff\xc0")
    prog = good[:sof + 1] + b"\xc2" + good[sof + 2:]
    with pytest.raises(ValueError, match="Se=0"):
        J.decode_jpeg(prog)
    # flip SOF0 -> SOF9 (arithmetic): unsupported frame type
    arith = good[:sof + 1] + b"\xc9" + good[sof + 2:]
    with pytest.raises(ValueError, match="SOF9"):
        J.decode_jpeg(arith)
    with pytest.raises(ValueError):
        J.decode_jpeg(good[:40])  # truncated before any scan
    # entropy data truncated mid-scan
    with pytest.raises(ValueError):
        J.decode_jpeg(good[: len(good) - 20] )


def test_malformed_headers_raise_valueerror_not_indexerror():
    """ADVICE r4: decode_jpeg's error contract is ValueError for ALL
    structurally malformed headers — an SOF0 declaring 3 components in a
    segment holding 1 must not leak IndexError to direct callers."""
    good = J.encode_jpeg(_grad(8, 8))
    sof = good.index(b"\xff\xc0")
    # SOF seglen covers 1 component but nc byte claims 3
    seglen = int.from_bytes(good[sof + 2:sof + 4], "big")
    mut = bytearray(good)
    mut[sof + 2 + 2 + 5] = 3  # nc byte (after len, prec, h, w)
    with pytest.raises(ValueError, match="truncated JPEG SOF"):
        J.decode_jpeg(bytes(mut))
    # DHT whose BITS counts exceed the segment
    dht = good.index(b"\xff\xc4")
    mut = bytearray(good)
    mut[dht + 2 + 2 + 1 + 10] = 255  # inflate one BITS count
    with pytest.raises(ValueError, match="truncated JPEG DHT"):
        J.decode_jpeg(bytes(mut))
    # SOS claiming more components than its segment holds
    sos = good.index(b"\xff\xda")
    mut = bytearray(good)
    mut[sos + 4] = 4  # ns byte
    with pytest.raises(ValueError, match="truncated JPEG SOS"):
        J.decode_jpeg(bytes(mut))
    assert seglen >= 8  # sanity: the fixture had a real SOF


def test_decode_image_routes_jpeg():
    img = _grad(16, 16)
    enc = J.encode_jpeg(img)
    for fake in (True, False):
        d = M.decode_image(enc, fake=fake)
        assert (d["width"], d["height"]) == (16, 16)
    # garbage with a JPEG magic goes to the real decoder -> ValueError
    with pytest.raises(ValueError):
        M.decode_image(b"\xff\xd8\xff\xe0" + b"y" * 100, fake=True)


def test_image_features_jpeg_through_spark(spark):
    """The distributed path runs the real JPEG decoder alongside PNG/GIF
    and the error channel, one mapInArrow pass."""
    from pyspark.sql import functions as F

    img = _grad(12, 12)
    rows = [
        (1, J.encode_jpeg(img, quality=90)),
        (2, M.encode_png(img)),
        (3, M.encode_gif(img)),
        (4, b"\xff\xd8\xff" + b"junk" * 10),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r["media_id"]: r for r in
           M.image_features(df, "media_id", "payload", fake=False).collect()}
    for mid in (1, 2, 3):
        assert out[mid]["error"] is None and out[mid]["width"] == 12
    # lossless twins agree exactly; jpeg within tolerance
    assert out[2]["mean_luma"] == pytest.approx(out[3]["mean_luma"], abs=1e-12)
    assert out[1]["mean_luma"] == pytest.approx(out[2]["mean_luma"], abs=0.01)
    assert out[4]["error"] is not None


def test_420_subsampling_roundtrip():
    """The decoder's 4:2:0 MCU path (4 Y blocks + downsampled chroma +
    2x upsample) against the encoder's real 4:2:0 output."""
    y, x = np.mgrid[0:37, 0:45]
    rgb = np.stack([(x * 5 + y * 2) % 256, (x * 2 + y * 9) % 256,
                    (x * 11 + y) % 256], axis=2).astype(np.uint8)
    enc = J.encode_jpeg(rgb, quality=90, subsample="420")
    d = J.decode_jpeg(enc, return_luma=True)
    assert (d["width"], d["height"], d["channels"]) == (45, 37, 3)
    luma_in = rgb.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    # luma is full-res in 4:2:0: mean error stays small even though chroma
    # is quartered on this deliberately chroma-busy pattern
    assert np.abs(d["luma"] - luma_in).mean() < 3.0
    # 4:2:0 must be smaller than 4:4:4 at equal quality
    assert len(enc) < len(J.encode_jpeg(rgb, quality=90, subsample="444"))
    with pytest.raises(ValueError, match="subsample"):
        J.encode_jpeg(rgb, subsample="422x")


def test_restart_markers_roundtrip_and_reset():
    """DRI + RSTn: byte-aligned markers every N MCUs with DC predictor
    resets — gray, 4:4:4 color, and 4:2:0 all decode identically to their
    marker-free twins."""
    y, x = np.mgrid[0:24, 0:40]
    g = ((x * 7 + y * 3) % 256).astype(np.uint8)
    rgb = np.stack([g, ((x + 3 * y) % 256).astype(np.uint8), g[::-1]], axis=2)

    for kwargs in ({}, {"subsample": "420"}):
        base = J.decode_jpeg(J.encode_jpeg(rgb, quality=85, **kwargs),
                             return_luma=True)
        rst = J.decode_jpeg(
            J.encode_jpeg(rgb, quality=85, restart_interval=2, **kwargs),
            return_luma=True)
        assert np.array_equal(base["luma"], rst["luma"])
    b1 = J.decode_jpeg(J.encode_jpeg(g, quality=85), return_luma=True)
    b2 = J.decode_jpeg(J.encode_jpeg(g, quality=85, restart_interval=1),
                       return_luma=True)
    assert np.array_equal(b1["luma"], b2["luma"])
    # the stream genuinely contains RST markers
    enc = J.encode_jpeg(g, quality=85, restart_interval=1)
    assert any(bytes((0xFF, 0xD0 + i)) in enc for i in range(8))


def test_bit_reader_acc_stays_bounded():
    """r4 review: the entropy reader must not accumulate every byte ever
    read into its bigint (that made decode quadratic in scan size)."""
    br = J._BitReaderMSB(bytes(range(1, 250)) * 40, 0)
    for _ in range(8 * 9000):
        br.read_bit()
    assert br.acc.bit_length() <= 16
    # and a big busy image decodes in sane time (was ~minutes before)
    import time
    rng = np.random.RandomState(3)
    big = rng.randint(0, 256, (320, 480), dtype=np.uint8)  # noise = max entropy
    enc = J.encode_jpeg(big, quality=95)
    t0 = time.time()
    d = J.decode_jpeg(enc)
    assert time.time() - t0 < 30.0  # generous CI bound; quadratic took minutes
    assert (d["width"], d["height"]) == (480, 320)


# ---------------------------------------------------------------------------
# progressive (SOF2) — decode paths: DC first/refine, AC first/refine,
# EOB runs, spectral bands, restarts; encoder twin equality vs baseline
# ---------------------------------------------------------------------------


def test_progressive_equals_baseline_pixels():
    """encode_jpeg and encode_jpeg_progressive share quantization, so the
    decoded pixels must match exactly (the progressive scans transmit the
    same coefficients, just reordered into bands + bit-planes)."""
    rng = np.random.default_rng(11)
    for shape, sub in [((8, 8), "444"), ((17, 9), "444"), ((1, 1), "444"),
                       ((16, 16, 3), "444"), ((33, 31, 3), "420")]:
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        for q in (25, 50, 85, 95):
            db = J.decode_jpeg(J.encode_jpeg(img, quality=q, subsample=sub),
                               return_luma=True)
            dp = J.decode_jpeg(
                J.encode_jpeg_progressive(img, quality=q, subsample=sub),
                return_luma=True)
            assert (db["width"], db["height"], db["channels"]) == \
                (dp["width"], dp["height"], dp["channels"])
            assert np.abs(db["luma"] - dp["luma"]).max() < 1e-8


def test_progressive_smooth_image_long_eob_runs():
    """A smooth image makes most high-frequency bands all-zero, driving
    EOB runs far above 1 — the EOBn path the flat 9-bit table exists for."""
    y, x = np.mgrid[0:64, 0:64]
    img = np.clip(128 + 40 * np.sin(x / 20) + 30 * np.cos(y / 15),
                  0, 255).astype(np.uint8)
    db = J.decode_jpeg(J.encode_jpeg(img, quality=60), return_luma=True)
    dp = J.decode_jpeg(J.encode_jpeg_progressive(img, quality=60),
                       return_luma=True)
    assert np.abs(db["luma"] - dp["luma"]).max() < 1e-8


def test_progressive_restart_markers():
    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, size=(33, 31, 3), dtype=np.uint8)
    payload = J.encode_jpeg_progressive(img, quality=75, subsample="420",
                                        restart_interval=2)
    assert b"\xff\xdd" in payload  # DRI present
    assert any(bytes((0xFF, 0xD0 + i)) in payload for i in range(8))
    db = J.decode_jpeg(J.encode_jpeg(img, quality=75, subsample="420"),
                       return_luma=True)
    dp = J.decode_jpeg(payload, return_luma=True)
    assert np.abs(db["luma"] - dp["luma"]).max() < 1e-8


def test_progressive_flat_tiles_exact():
    """8x8-aligned flat tiles with even offsets from 128 quantize exactly
    at quality 50 (q0=16, DC = 8*(v-128) divisible) — decode reproduces
    every pixel and the integer luma sum analytically (the jpeg_decode
    driver oracle leans on this)."""
    tiles = np.array([[130, 200], [78, 128], [226, 140]])
    img = np.repeat(np.repeat(tiles, 8, axis=0), 8, axis=1).astype(np.uint8)
    d = J.decode_jpeg(J.encode_jpeg_progressive(img, quality=50),
                      return_luma=True)
    assert np.abs(d["luma"] - img.astype(np.float64)).max() < 1e-9
    assert d["luma_sum"] == int(img.astype(np.int64).sum())


def test_progressive_truncated_decodes_coarse():
    """Dropping the tail scans of a progressive stream still decodes — the
    format's point is coarse-to-fine delivery. The result keeps the frame
    dimensions and lands near the full-precision image."""
    img = _grad(24, 24, seed=9)
    full = J.encode_jpeg_progressive(img, quality=85)
    # cut at the 4th SOS: keeps DC + first AC band scans only
    cut = full
    for _ in range(3):
        cut = cut[:cut.rindex(b"\xff\xda")]
    d = J.decode_jpeg(cut, return_luma=True)
    assert (d["width"], d["height"]) == (24, 24)
    # coarse but recognizable: mean error bounded
    assert np.abs(d["luma"] - img.astype(np.float64)).mean() < 32.0


def test_progressive_decode_image_routing():
    img = _grad(16, 16)
    enc = J.encode_jpeg_progressive(img)
    d = M.decode_image(enc, fake=False)
    assert (d["width"], d["height"], d["channels"]) == (16, 16, 1)


def test_progressive_chaos_corpus():
    """Byte-level mutations of a progressive stream must raise ValueError
    (the row-level error-channel contract) or decode to a sane dict —
    never IndexError/struct.error/infinite loop."""
    img = _grad(17, 13, seed=4)
    good = J.encode_jpeg_progressive(img, quality=70)
    rng = np.random.default_rng(99)
    for trial in range(300):
        mut = bytearray(good)
        mode = trial % 3
        if mode == 0:
            mut[rng.integers(2, len(mut))] = rng.integers(0, 256)
        elif mode == 1:
            del mut[rng.integers(2, len(mut))]
        else:
            mut = mut[: rng.integers(2, len(mut))]
        try:
            d = J.decode_jpeg(bytes(mut))
            assert set(d) >= {"width", "height", "channels", "luma_sum"}
        except ValueError:
            pass
