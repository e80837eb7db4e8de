"""VP8 (lossy WebP) keyframe decoder + encoder twin, pure stdlib+numpy.

Closes the last real-web image-codec gap (r4 verdict #2 follow-up: VP8L
lossless landed in r5; this adds the lossy half, which is the majority of
webp bytes on the real web).  Reference analog: the cv2 frame decode in
/root/reference/processing/video_processing/batch_processing.py:59-69 that
this codec layer replaces for crawl payloads.

Written from the public VP8 specification (RFC 6386): boolean arithmetic
decoder (§7), keyframe header layout (§9), intra mode trees (§8/§11),
DCT/WHT token decoding with the default probability tables (§13),
dequantization (§14.1), inverse WHT/DCT with the 20091/35468 fixed-point
constants (§14.3-14.5), intra prediction incl. the 127/129 edge
conventions and the above-right replication rules (§12), and the normal +
simple in-loop deblocking filters (§15).  The large constant tables
(default/update coefficient probabilities, keyframe B-mode probabilities,
dequantization lookups) live in vp8_tables.py, extracted from the system
libwebp binary by scripts/extract_vp8_tables.py — they are public RFC 6386
constants, not creative content.

Scope: keyframes only (a still WebP *is* a single VP8 keyframe — interframe
features never occur in 'VP8 ' chunks).  Correctness bar: Y/U/V planes are
bit-exact against libwebp's WebPDecodeYUV for real libwebp-encoded streams
(tests/test_vp8.py), including the loop filter.

encode_webp_lossy_flat is the sink twin: a minimal but fully conformant
keyframe encoder (big-integer boolean range coder, default probabilities,
all-DC_PRED modes) that encodes a flat-luma frame through the Y2/WHT path
so the decoded value follows a closed-form integer formula — which is what
lets the vp8_decode driver query carry an exact DuckDB oracle despite the
codec being lossy.  Its output is real VP8: libwebp decodes it to the same
flat frame (cross-checked in tests).

Per-pixel Python decode: fine for crawl-image payloads (images are small
relative to page text); the distributed path batches via mapInArrow like
PNG/GIF/JPEG.
"""

from __future__ import annotations

import struct

import numpy as np

from .vp8_tables import (
    AC_QLOOKUP,
    COEF_BANDS,
    COEF_PROBS,
    COEF_UPDATE_PROBS,
    DC_QLOOKUP,
    KF_BMODE_PROBS,
)

# ---------------------------------------------------------------------------
# mode enums (RFC 6386 §8.2 / §11.2)
# ---------------------------------------------------------------------------

DC_PRED, V_PRED, H_PRED, TM_PRED, B_PRED = 0, 1, 2, 3, 4

(B_DC, B_TM, B_VE, B_HE, B_LD, B_RD, B_VR, B_VL, B_HD, B_HU) = range(10)

# keyframe luma mode tree + probs (RFC 6386 §11.2: kf_ymode_tree)
KF_YMODE_TREE = (-B_PRED, 2, 4, 6, -DC_PRED, -V_PRED, -H_PRED, -TM_PRED)
KF_YMODE_PROBS = (145, 156, 163, 128)
# chroma mode tree + keyframe probs (§11.2: uv_mode_tree / kf_uv_mode_prob)
UV_MODE_TREE = (-DC_PRED, 2, -V_PRED, 4, -H_PRED, -TM_PRED)
KF_UV_PROBS = (142, 114, 183)
# intra 4x4 subblock mode tree (§11.2: bmode_tree); probs are contexted on
# (above, left) submodes via KF_BMODE_PROBS
BMODE_TREE = (-B_DC, 2, -B_TM, 4, -B_VE, 6, 8, 12, -B_HE, 10, -B_RD,
              -B_VR, -B_LD, 14, -B_VL, 16, -B_HD, -B_HU)
# 16x16 mode of a non-B_PRED neighbor, as seen by bmode contexting (§11.4)
MODE_TO_BMODE = {DC_PRED: B_DC, V_PRED: B_VE, H_PRED: B_HE, TM_PRED: B_TM}

SEGMENT_TREE = (2, 4, -0, -1, -2, -3)

# DCT token extra-bit probabilities (§13.2: Pcat1..Pcat6) and bases
CAT_PROBS = (
    (159,),
    (165, 145),
    (173, 148, 140),
    (176, 155, 140, 135),
    (180, 157, 141, 134, 130),
    (254, 254, 243, 230, 196, 177, 153, 140, 133, 130, 129),
)
CAT_BASE = (5, 7, 11, 19, 35, 67)

ZIGZAG = (0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)

_C1, _C2 = 20091, 35468  # §14.3 cospi8sqrt2minus1 / sinpi8sqrt2


# ---------------------------------------------------------------------------
# boolean arithmetic decoder (RFC 6386 §7.2)
# ---------------------------------------------------------------------------


class BoolDecoder:
    """Classic two-byte-lookahead bool decoder.  Reads up to 4 virtual zero
    bytes past the end (encoder flush slack, and 0-byte partitions are
    legal); beyond that the stream is truncated and we raise."""

    __slots__ = ("data", "pos", "value", "range", "bit_count", "virtual")

    def __init__(self, data: bytes):
        self.data = data
        b0 = data[0] if len(data) > 0 else 0
        b1 = data[1] if len(data) > 1 else 0
        self.value = (b0 << 8) | b1
        self.pos = 2
        self.range = 255
        self.bit_count = 0
        self.virtual = max(0, 2 - len(data))

    def get_bool(self, prob: int) -> int:
        split = 1 + (((self.range - 1) * prob) >> 8)
        big = split << 8
        if self.value >= big:
            bit = 1
            self.range -= split
            self.value -= big
        else:
            bit = 0
            self.range = split
        while self.range < 128:
            self.value <<= 1
            self.range <<= 1
            self.bit_count += 1
            if self.bit_count == 8:
                self.bit_count = 0
                if self.pos < len(self.data):
                    self.value |= self.data[self.pos]
                else:
                    self.virtual += 1
                    if self.virtual > 4:
                        raise ValueError("VP8 bool stream exhausted")
                self.pos += 1
        return bit

    def get_literal(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.get_bool(128)
        return v

    def get_signed(self, n: int) -> int:
        v = self.get_literal(n)
        return -v if self.get_bool(128) else v

    def get_tree(self, tree, probs, start: int = 0) -> int:
        i = start
        while True:
            i = tree[i + self.get_bool(probs[i >> 1])]
            if i <= 0:
                return -i


# ---------------------------------------------------------------------------
# boolean arithmetic encoder (twin; big-integer low => carries are free)
# ---------------------------------------------------------------------------


class BoolEncoder:
    """Exact range coder twin of BoolDecoder.  `low` is kept as an
    arbitrary-precision integer at scale 2^(8+shift): the invariant
    low + range <= 2^(8+shift) holds by induction, so emitting the bits of
    `low` (zero-padded to a byte boundary) always lands inside the final
    interval and carry propagation is just big-int addition."""

    __slots__ = ("low", "range", "shift")

    def __init__(self):
        self.low = 0
        self.range = 255
        self.shift = 0

    def put_bool(self, prob: int, bit: int) -> None:
        split = 1 + (((self.range - 1) * prob) >> 8)
        if bit:
            self.low += split
            self.range -= split
        else:
            self.range = split
        while self.range < 128:
            self.low <<= 1
            self.range <<= 1
            self.shift += 1

    def put_literal(self, n: int, v: int) -> None:
        for i in range(n - 1, -1, -1):
            self.put_bool(128, (v >> i) & 1)

    def put_tree(self, tree, probs, leaf: int) -> None:
        # walk the tree to the leaf, recording (prob_index, bit) pairs
        path = []

        def walk(i):
            for bit in (0, 1):
                t = tree[i + bit]
                if t == -leaf and t <= 0:
                    path.append((i >> 1, bit))
                    return True
                if t > 0:
                    path.append((i >> 1, bit))
                    if walk(t):
                        return True
                    path.pop()
            return False

        if not walk(0):
            raise ValueError(f"leaf {leaf} not in tree")
        for pi, bit in path:
            self.put_bool(probs[pi], bit)

    def flush(self) -> bytes:
        nbits = self.shift + 8
        nbytes = (nbits + 7) // 8
        out = self.low << (nbytes * 8 - nbits)
        b = out.to_bytes(nbytes, "big")
        return b if len(b) >= 2 else b + b"\x00" * (2 - len(b))


# ---------------------------------------------------------------------------
# inverse transforms (RFC 6386 §14.3-14.5)
# ---------------------------------------------------------------------------


def inverse_wht(coeffs) -> list:
    """4x4 inverse Walsh-Hadamard for the Y2 block; returns the 16 DC
    values in raster order."""
    tmp = [0] * 16
    for i in range(4):
        a1 = coeffs[i] + coeffs[12 + i]
        b1 = coeffs[4 + i] + coeffs[8 + i]
        c1 = coeffs[4 + i] - coeffs[8 + i]
        d1 = coeffs[i] - coeffs[12 + i]
        tmp[i] = a1 + b1
        tmp[4 + i] = c1 + d1
        tmp[8 + i] = a1 - b1
        tmp[12 + i] = d1 - c1
    out = [0] * 16
    for i in range(4):
        r = 4 * i
        a1 = tmp[r] + tmp[r + 3]
        b1 = tmp[r + 1] + tmp[r + 2]
        c1 = tmp[r + 1] - tmp[r + 2]
        d1 = tmp[r] - tmp[r + 3]
        out[r] = (a1 + b1 + 3) >> 3
        out[r + 1] = (c1 + d1 + 3) >> 3
        out[r + 2] = (a1 - b1 + 3) >> 3
        out[r + 3] = (d1 - c1 + 3) >> 3
    return out


def inverse_dct(coeffs) -> list:
    """4x4 inverse DCT (§14.3), exact integer arithmetic; Python's >> on
    negative ints is arithmetic shift, matching the spec's C semantics."""
    tmp = [0] * 16
    for i in range(4):
        ip0, ip4 = coeffs[i], coeffs[4 + i]
        ip8, ip12 = coeffs[8 + i], coeffs[12 + i]
        a1 = ip0 + ip8
        b1 = ip0 - ip8
        t1 = (ip4 * _C2) >> 16
        t2 = ip12 + ((ip12 * _C1) >> 16)
        c1 = t1 - t2
        t1 = ip4 + ((ip4 * _C1) >> 16)
        t2 = (ip12 * _C2) >> 16
        d1 = t1 + t2
        tmp[i] = a1 + d1
        tmp[12 + i] = a1 - d1
        tmp[4 + i] = b1 + c1
        tmp[8 + i] = b1 - c1
    out = [0] * 16
    for i in range(4):
        r = 4 * i
        ip0, ip1, ip2, ip3 = tmp[r], tmp[r + 1], tmp[r + 2], tmp[r + 3]
        a1 = ip0 + ip2
        b1 = ip0 - ip2
        t1 = (ip1 * _C2) >> 16
        t2 = ip3 + ((ip3 * _C1) >> 16)
        c1 = t1 - t2
        t1 = ip1 + ((ip1 * _C1) >> 16)
        t2 = (ip3 * _C2) >> 16
        d1 = t1 + t2
        out[r] = (a1 + d1 + 4) >> 3
        out[r + 3] = (a1 - d1 + 4) >> 3
        out[r + 1] = (b1 + c1 + 4) >> 3
        out[r + 2] = (b1 - c1 + 4) >> 3
    return out


# ---------------------------------------------------------------------------
# dequantization (§14.1)
# ---------------------------------------------------------------------------


def _clamp_q(q: int) -> int:
    return 0 if q < 0 else (127 if q > 127 else q)


def dequant_factors(qi: int, deltas) -> dict:
    """Per-segment quantizer -> the six dequantization factors."""
    y1dc_d, y2dc_d, y2ac_d, uvdc_d, uvac_d = deltas
    y2ac = (AC_QLOOKUP[_clamp_q(qi + y2ac_d)] * 155) // 100
    if y2ac < 8:
        y2ac = 8
    uvdc = DC_QLOOKUP[_clamp_q(qi + uvdc_d)]
    if uvdc > 132:
        uvdc = 132
    return {
        "y1dc": DC_QLOOKUP[_clamp_q(qi + y1dc_d)],
        "y1ac": AC_QLOOKUP[_clamp_q(qi)],
        "y2dc": DC_QLOOKUP[_clamp_q(qi + y2dc_d)] * 2,
        "y2ac": y2ac,
        "uvdc": uvdc,
        "uvac": AC_QLOOKUP[_clamp_q(qi + uvac_d)],
    }


# ---------------------------------------------------------------------------
# DCT token decoding (§13.2-13.3)
# ---------------------------------------------------------------------------


def _coef_probs_index(btype: int, band: int, ctx: int) -> int:
    return ((btype * 8) + band) * 33 + ctx * 11


def decode_coeffs(bd: BoolDecoder, probs, btype: int, ctx: int,
                  first: int, dq_dc: int, dq_ac: int):
    """Decode one 4x4 block's tokens into a 16-coeff raster-order list
    (already dequantized + de-zigzagged).  Returns (coeffs, eob) where
    eob > first means the block carried coefficients (the entropy-context
    and loop-filter rule both key off that)."""
    out = [0] * 16
    n = first
    base = _coef_probs_index(btype, COEF_BANDS[n], ctx)
    check_eob = True
    while n < 16:
        if check_eob and not bd.get_bool(probs[base]):
            break
        if not bd.get_bool(probs[base + 1]):
            # zero coefficient: the token after a zero cannot be EOB
            n += 1
            if n == 16:
                break
            base = _coef_probs_index(btype, COEF_BANDS[n], 0)
            check_eob = False
            continue
        check_eob = True
        if not bd.get_bool(probs[base + 2]):
            v = 1
            nctx = 1
        else:
            nctx = 2
            if not bd.get_bool(probs[base + 3]):
                if not bd.get_bool(probs[base + 4]):
                    v = 2
                else:
                    v = 3 + bd.get_bool(probs[base + 5])
            else:
                if not bd.get_bool(probs[base + 6]):
                    cat = bd.get_bool(probs[base + 7])        # cat1 / cat2
                elif not bd.get_bool(probs[base + 8]):
                    cat = 2 + bd.get_bool(probs[base + 9])    # cat3 / cat4
                else:
                    cat = 4 + bd.get_bool(probs[base + 10])   # cat5 / cat6
                extra = 0
                for p in CAT_PROBS[cat]:
                    extra = (extra << 1) | bd.get_bool(p)
                v = CAT_BASE[cat] + extra
        if bd.get_bool(128):
            v = -v
        out[ZIGZAG[n]] = v * (dq_dc if n == 0 else dq_ac)
        n += 1
        if n == 16:
            break
        base = _coef_probs_index(btype, COEF_BANDS[n], nctx)
    return out, n


# ---------------------------------------------------------------------------
# intra prediction (§12)
# ---------------------------------------------------------------------------


def _clip255(x: int) -> int:
    return 0 if x < 0 else (255 if x > 255 else x)


def predict_block_dc(above, left, has_above: bool, has_left: bool,
                     size: int) -> int:
    """DC predictor for 16x16 luma / 8x8 chroma."""
    if has_above and has_left:
        s = int(sum(above[:size])) + int(sum(left[:size]))
        return (s + size) >> (5 if size == 16 else 4)
    if has_above:
        return (int(sum(above[:size])) + (size >> 1)) >> (4 if size == 16
                                                          else 3)
    if has_left:
        return (int(sum(left[:size])) + (size >> 1)) >> (4 if size == 16
                                                         else 3)
    return 128


def predict_mb(mode: int, above, left, al: int, size: int) -> np.ndarray:
    """Whole-block intra prediction (DC/V/H/TM) used for 16x16 luma and
    8x8 chroma.  `above`/`left` are length-`size` int arrays (already
    substituted with 127/129 at frame borders), `al` the above-left sample.
    has_above/has_left for the DC special cases are passed via sentinel:
    callers pass None for a missing side."""
    has_above, has_left = above is not None, left is not None
    a = above if has_above else np.full(size, 127, np.int32)
    lft = left if has_left else np.full(size, 129, np.int32)
    if mode == DC_PRED:
        return np.full((size, size),
                       predict_block_dc(a, lft, has_above, has_left, size),
                       np.int32)
    if mode == V_PRED:
        return np.tile(a[:size], (size, 1)).astype(np.int32)
    if mode == H_PRED:
        return np.tile(lft[:size, None], (1, size)).astype(np.int32)
    if mode == TM_PRED:
        p = lft[:size, None].astype(np.int32) + a[:size][None, :] - al
        return np.clip(p, 0, 255)
    raise ValueError(f"bad 16x16/8x8 intra mode {mode}")


def predict_b(mode: int, a, al: int, lft) -> np.ndarray:
    """4x4 subblock intra prediction.  `a` = 8 above samples (incl. the 4
    above-right), `al` = above-left, `lft` = 4 left samples; all ints."""
    p = np.zeros((4, 4), np.int32)
    A = [int(x) for x in a]
    L = [int(x) for x in lft]
    X = int(al)
    avg3 = lambda x, y, z: (x + 2 * y + z + 2) >> 2
    avg2 = lambda x, y: (x + y + 1) >> 1
    if mode == B_DC:
        dc = (sum(A[:4]) + sum(L) + 4) >> 3
        p[:, :] = dc
    elif mode == B_TM:
        for r in range(4):
            for c in range(4):
                p[r, c] = _clip255(L[r] + A[c] - X)
    elif mode == B_VE:
        row = [avg3(X, A[0], A[1]), avg3(A[0], A[1], A[2]),
               avg3(A[1], A[2], A[3]), avg3(A[2], A[3], A[4])]
        p[:, :] = np.array(row, np.int32)[None, :]
    elif mode == B_HE:
        col = [avg3(X, L[0], L[1]), avg3(L[0], L[1], L[2]),
               avg3(L[1], L[2], L[3]), avg3(L[2], L[3], L[3])]
        p[:, :] = np.array(col, np.int32)[:, None]
    elif mode == B_LD:
        for r in range(4):
            for c in range(4):
                i = r + c
                if i < 6:
                    p[r, c] = avg3(A[i], A[i + 1], A[i + 2])
                else:
                    p[r, c] = avg3(A[6], A[7], A[7])
    elif mode == B_RD:
        e = [L[3], L[2], L[1], L[0], X, A[0], A[1], A[2], A[3]]
        for r in range(4):
            for c in range(4):
                i = 4 + c - r
                p[r, c] = avg3(e[i - 1], e[i], e[i + 1])
    elif mode == B_VR:
        p[0, 0] = avg2(X, A[0])
        p[0, 1] = avg2(A[0], A[1])
        p[0, 2] = avg2(A[1], A[2])
        p[0, 3] = avg2(A[2], A[3])
        p[1, 0] = avg3(L[0], X, A[0])
        p[1, 1] = avg3(X, A[0], A[1])
        p[1, 2] = avg3(A[0], A[1], A[2])
        p[1, 3] = avg3(A[1], A[2], A[3])
        p[2, 0] = avg3(L[1], L[0], X)
        p[2, 1] = p[0, 0]
        p[2, 2] = p[0, 1]
        p[2, 3] = p[0, 2]
        p[3, 0] = avg3(L[2], L[1], L[0])
        p[3, 1] = p[1, 0]
        p[3, 2] = p[1, 1]
        p[3, 3] = p[1, 2]
    elif mode == B_VL:
        p[0, 0] = avg2(A[0], A[1])
        p[0, 1] = avg2(A[1], A[2])
        p[0, 2] = avg2(A[2], A[3])
        p[0, 3] = avg2(A[3], A[4])
        p[1, 0] = avg3(A[0], A[1], A[2])
        p[1, 1] = avg3(A[1], A[2], A[3])
        p[1, 2] = avg3(A[2], A[3], A[4])
        p[1, 3] = avg3(A[3], A[4], A[5])
        p[2, 0] = p[0, 1]
        p[2, 1] = p[0, 2]
        p[2, 2] = p[0, 3]
        p[2, 3] = avg3(A[4], A[5], A[6])
        p[3, 0] = p[1, 1]
        p[3, 1] = p[1, 2]
        p[3, 2] = p[1, 3]
        p[3, 3] = avg3(A[5], A[6], A[7])
    elif mode == B_HD:
        p[0, 0] = avg2(X, L[0])
        p[0, 1] = avg3(A[0], X, L[0])
        p[0, 2] = avg3(X, A[0], A[1])
        p[0, 3] = avg3(A[0], A[1], A[2])
        p[1, 0] = avg2(L[0], L[1])
        p[1, 1] = avg3(X, L[0], L[1])
        p[1, 2] = p[0, 0]
        p[1, 3] = p[0, 1]
        p[2, 0] = avg2(L[1], L[2])
        p[2, 1] = avg3(L[0], L[1], L[2])
        p[2, 2] = p[1, 0]
        p[2, 3] = p[1, 1]
        p[3, 0] = avg2(L[2], L[3])
        p[3, 1] = avg3(L[1], L[2], L[3])
        p[3, 2] = p[2, 0]
        p[3, 3] = p[2, 1]
    elif mode == B_HU:
        p[0, 0] = avg2(L[0], L[1])
        p[0, 1] = avg3(L[0], L[1], L[2])
        p[0, 2] = avg2(L[1], L[2])
        p[0, 3] = avg3(L[1], L[2], L[3])
        p[1, 0] = p[0, 2]
        p[1, 1] = p[0, 3]
        p[1, 2] = avg2(L[2], L[3])
        p[1, 3] = avg3(L[2], L[3], L[3])
        p[2, 0] = p[1, 2]
        p[2, 1] = p[1, 3]
        p[2, 2] = L[3]
        p[2, 3] = L[3]
        p[3, :] = L[3]
    else:
        raise ValueError(f"bad 4x4 intra mode {mode}")
    return p


# ---------------------------------------------------------------------------
# in-loop deblocking filter (§15)
# ---------------------------------------------------------------------------


def _sclamp(x):
    return np.clip(x, -128, 127)


def _filter_mask(p3, p2, p1, p0, q0, q1, q2, q3, elimit, ilimit):
    m = (np.abs(p0 - q0) * 2 + np.abs(p1 - q1) // 2) <= elimit
    for a, b in ((p3, p2), (p2, p1), (p1, p0), (q1, q0), (q2, q1), (q3, q2)):
        m &= np.abs(a - b) <= ilimit
    return m


def _hev_mask(p1, p0, q0, q1, thresh):
    return (np.abs(p1 - p0) > thresh) | (np.abs(q1 - q0) > thresh)


def _subblock_filter(p1, p0, q0, q1, mask, hev):
    """§15.3 normal sub-block edge filter (libvpx vp8_filter semantics)."""
    ps1, ps0 = p1 - 128, p0 - 128
    qs0, qs1 = q0 - 128, q1 - 128
    fv = _sclamp(ps1 - qs1)
    fv = np.where(hev, fv, 0)
    fv = _sclamp(fv + 3 * (qs0 - ps0))
    fv = np.where(mask, fv, 0)
    f1 = _sclamp(fv + 4) >> 3
    f2 = _sclamp(fv + 3) >> 3
    qs0 = _sclamp(qs0 - f1)
    ps0 = _sclamp(ps0 + f2)
    u = (f1 + 1) >> 1
    u = np.where(hev, 0, u)
    qs1 = _sclamp(qs1 - u)
    ps1 = _sclamp(ps1 + u)
    return ps1 + 128, ps0 + 128, qs0 + 128, qs1 + 128


def _mb_filter(p2, p1, p0, q0, q1, q2, mask, hev):
    """§15.2 normal macroblock edge filter (libvpx vp8_mbfilter)."""
    ps2, ps1, ps0 = p2 - 128, p1 - 128, p0 - 128
    qs0, qs1, qs2 = q0 - 128, q1 - 128, q2 - 128
    fv = _sclamp(ps1 - qs1)
    fv = _sclamp(fv + 3 * (qs0 - ps0))
    fv = np.where(mask, fv, 0)
    fhev = np.where(hev, fv, 0)
    f1 = _sclamp(fhev + 4) >> 3
    f2 = _sclamp(fhev + 3) >> 3
    qs0 = _sclamp(qs0 - f1)
    ps0 = _sclamp(ps0 + f2)
    fv = np.where(hev, 0, fv)
    u = _sclamp((27 * fv + 63) >> 7)
    qs0 = _sclamp(qs0 - u)
    ps0 = _sclamp(ps0 + u)
    u = _sclamp((18 * fv + 63) >> 7)
    qs1 = _sclamp(qs1 - u)
    ps1 = _sclamp(ps1 + u)
    u = _sclamp((9 * fv + 63) >> 7)
    qs2 = _sclamp(qs2 - u)
    ps2 = _sclamp(ps2 + u)
    return ps2 + 128, ps1 + 128, ps0 + 128, qs0 + 128, qs1 + 128, qs2 + 128


def _simple_filter(p1, p0, q0, q1, elimit):
    """§15.1 simple filter: luma only, adjusts p0/q0."""
    mask = (np.abs(p0 - q0) * 2 + np.abs(p1 - q1) // 2) <= elimit
    ps1, ps0, qs0, qs1 = p1 - 128, p0 - 128, q0 - 128, q1 - 128
    fv = _sclamp(_sclamp(ps1 - qs1) + 3 * (qs0 - ps0))
    fv = np.where(mask, fv, 0)
    f1 = _sclamp(fv + 4) >> 3
    f2 = _sclamp(fv + 3) >> 3
    return _sclamp(ps0 + f2) + 128, _sclamp(qs0 - f1) + 128


def _edge_vectors(plane, horiz: bool, pos: int, start: int, length: int,
                  taps: int):
    """Return the 2*taps pixel vectors [p_taps-1..p0, q0..q_taps-1] along an
    edge as int32 arrays, plus a writeback closure."""
    if horiz:
        sl = [plane[pos + o, start:start + length].astype(np.int32)
              for o in range(-taps, taps)]

        def write(vecs):
            for o, v in zip(range(-taps, taps), vecs):
                plane[pos + o, start:start + length] = v.astype(plane.dtype)
    else:
        sl = [plane[start:start + length, pos + o].astype(np.int32)
              for o in range(-taps, taps)]

        def write(vecs):
            for o, v in zip(range(-taps, taps), vecs):
                plane[start:start + length, pos + o] = v.astype(plane.dtype)
    return sl, write


def _apply_normal_mb_edge(plane, horiz, pos, start, length, elimit, ilimit,
                          hev_t):
    v, write = _edge_vectors(plane, horiz, pos, start, length, 4)
    p3, p2, p1, p0, q0, q1, q2, q3 = v
    mask = _filter_mask(p3, p2, p1, p0, q0, q1, q2, q3, elimit, ilimit)
    hev = _hev_mask(p1, p0, q0, q1, hev_t)
    np2, np1, np0, nq0, nq1, nq2 = _mb_filter(p2, p1, p0, q0, q1, q2, mask,
                                              hev)
    write([p3, np2, np1, np0, nq0, nq1, nq2, q3])


def _apply_normal_sub_edge(plane, horiz, pos, start, length, elimit, ilimit,
                           hev_t):
    v, write = _edge_vectors(plane, horiz, pos, start, length, 4)
    p3, p2, p1, p0, q0, q1, q2, q3 = v
    mask = _filter_mask(p3, p2, p1, p0, q0, q1, q2, q3, elimit, ilimit)
    hev = _hev_mask(p1, p0, q0, q1, hev_t)
    np1, np0, nq0, nq1 = _subblock_filter(p1, p0, q0, q1, mask, hev)
    write([p3, p2, np1, np0, nq0, nq1, q2, q3])


def _apply_simple_edge(plane, horiz, pos, start, length, elimit):
    v, write = _edge_vectors(plane, horiz, pos, start, length, 2)
    p1, p0, q0, q1 = v
    np0, nq0 = _simple_filter(p1, p0, q0, q1, elimit)
    write([p1, np0, nq0, q1])


def _mb_filter_level(hdr, segment: int, is_b_pred: bool) -> int:
    level = hdr["filter_level"]
    if hdr["seg_enabled"]:
        sv = hdr["seg_lf"][segment]
        level = sv if hdr["seg_abs"] else level + sv
        level = 0 if level < 0 else (63 if level > 63 else level)
    if hdr["lf_delta_enabled"]:
        level += hdr["ref_lf_deltas"][0]          # intra frame
        if is_b_pred:
            level += hdr["mode_lf_deltas"][0]     # B_PRED
        level = 0 if level < 0 else (63 if level > 63 else level)
    return level


def _filter_limits(level: int, sharpness: int, keyframe: bool = True):
    ilimit = level
    if sharpness > 0:
        ilimit >>= 2 if sharpness > 4 else 1
        if ilimit > 9 - sharpness:
            ilimit = 9 - sharpness
    if ilimit < 1:
        ilimit = 1
    if level >= 40:
        hev_t = 2 if keyframe else 3
    elif level >= 15:
        hev_t = 1 if keyframe else 2
    elif level >= 1 and not keyframe:
        hev_t = 1
    else:
        hev_t = 0
    mb_elimit = (level + 2) * 2 + ilimit
    sub_elimit = level * 2 + ilimit
    return mb_elimit, sub_elimit, ilimit, hev_t


def loop_filter_frame(y, u, v, hdr, mb_info, mb_w: int, mb_h: int) -> None:
    """In-place whole-frame deblocking, raster MB order, vertical edges
    before horizontal (§15).  mb_info[i] = (filter_level, f_inner)."""
    simple = hdr["filter_type"] == 1
    sharp = hdr["sharpness"]
    for mby in range(mb_h):
        for mbx in range(mb_w):
            level, f_inner = mb_info[mby * mb_w + mbx]
            if level == 0:
                continue
            mb_el, sub_el, il, hev_t = _filter_limits(level, sharp)
            yx, yy = mbx * 16, mby * 16
            cx, cy = mbx * 8, mby * 8
            if simple:
                if mbx > 0:
                    _apply_simple_edge(y, False, yx, yy, 16, mb_el)
                if f_inner:
                    for o in (4, 8, 12):
                        _apply_simple_edge(y, False, yx + o, yy, 16, sub_el)
                if mby > 0:
                    _apply_simple_edge(y, True, yy, yx, 16, mb_el)
                if f_inner:
                    for o in (4, 8, 12):
                        _apply_simple_edge(y, True, yy + o, yx, 16, sub_el)
                continue
            if mbx > 0:
                _apply_normal_mb_edge(y, False, yx, yy, 16, mb_el, il, hev_t)
                _apply_normal_mb_edge(u, False, cx, cy, 8, mb_el, il, hev_t)
                _apply_normal_mb_edge(v, False, cx, cy, 8, mb_el, il, hev_t)
            if f_inner:
                for o in (4, 8, 12):
                    _apply_normal_sub_edge(y, False, yx + o, yy, 16, sub_el,
                                           il, hev_t)
                _apply_normal_sub_edge(u, False, cx + 4, cy, 8, sub_el, il,
                                       hev_t)
                _apply_normal_sub_edge(v, False, cx + 4, cy, 8, sub_el, il,
                                       hev_t)
            if mby > 0:
                _apply_normal_mb_edge(y, True, yy, yx, 16, mb_el, il, hev_t)
                _apply_normal_mb_edge(u, True, cy, cx, 8, mb_el, il, hev_t)
                _apply_normal_mb_edge(v, True, cy, cx, 8, mb_el, il, hev_t)
            if f_inner:
                for o in (4, 8, 12):
                    _apply_normal_sub_edge(y, True, yy + o, yx, 16, sub_el,
                                           il, hev_t)
                _apply_normal_sub_edge(u, True, cy + 4, cx, 8, sub_el, il,
                                       hev_t)
                _apply_normal_sub_edge(v, True, cy + 4, cx, 8, sub_el, il,
                                       hev_t)

# ---------------------------------------------------------------------------
# frame header parsing (RFC 6386 §9)
# ---------------------------------------------------------------------------


def parse_frame_header(data: bytes) -> dict:
    """Parse the uncompressed chunk header + the compressed keyframe header
    of a 'VP8 ' chunk body.  Returns a dict with everything the frame
    decoder needs, including the positioned header BoolDecoder (for the
    per-MB mode records that follow in the first partition) and the token
    partition BoolDecoders."""
    if len(data) < 10:
        raise ValueError("VP8 chunk too short for frame header")
    tag = int.from_bytes(data[:3], "little")
    if tag & 1:
        raise ValueError("VP8 interframe: no reference context (still "
                         "WebP must be a keyframe)")
    version = (tag >> 1) & 7
    if version > 3:
        raise ValueError(f"bad VP8 version {version}")
    first_part_size = tag >> 5
    if data[3:6] != b"\x9d\x01\x2a":
        raise ValueError("VP8 keyframe start code missing")
    wr, hr = struct.unpack("<HH", data[6:10])
    width, height = wr & 0x3FFF, hr & 0x3FFF
    if width == 0 or height == 0:
        raise ValueError("VP8 frame with zero dimension")
    part1 = data[10:10 + first_part_size]
    if len(part1) < first_part_size:
        raise ValueError("VP8 first partition truncated")
    bd = BoolDecoder(part1)

    hdr: dict = {"width": width, "height": height}
    bd.get_literal(1)  # color_space (0 = YCbCr as always in WebP)
    bd.get_literal(1)  # clamping_type (pixel clamp is unconditional here)

    # -- segmentation (§9.3)
    seg_enabled = bd.get_bool(128)
    update_map = False
    seg_q = [0, 0, 0, 0]
    seg_lf = [0, 0, 0, 0]
    seg_abs = False
    tree_probs = [255, 255, 255]
    if seg_enabled:
        update_map = bool(bd.get_bool(128))
        update_data = bd.get_bool(128)
        if update_data:
            seg_abs = bool(bd.get_bool(128))
            for i in range(4):
                if bd.get_bool(128):
                    seg_q[i] = bd.get_signed(7)
            for i in range(4):
                if bd.get_bool(128):
                    seg_lf[i] = bd.get_signed(6)
        if update_map:
            for i in range(3):
                if bd.get_bool(128):
                    tree_probs[i] = bd.get_literal(8)
    hdr.update(seg_enabled=seg_enabled, seg_update_map=update_map,
               seg_q=seg_q, seg_lf=seg_lf, seg_abs=seg_abs,
               seg_tree_probs=tree_probs)

    # -- loop filter (§9.4)
    hdr["filter_type"] = bd.get_literal(1)
    hdr["filter_level"] = bd.get_literal(6)
    hdr["sharpness"] = bd.get_literal(3)
    ref_lf = [0, 0, 0, 0]
    mode_lf = [0, 0, 0, 0]
    lf_delta = bd.get_bool(128)
    if lf_delta:
        if bd.get_bool(128):  # mode_ref_lf_delta_update
            for i in range(4):
                if bd.get_bool(128):
                    ref_lf[i] = bd.get_signed(6)
            for i in range(4):
                if bd.get_bool(128):
                    mode_lf[i] = bd.get_signed(6)
    hdr.update(lf_delta_enabled=bool(lf_delta), ref_lf_deltas=ref_lf,
               mode_lf_deltas=mode_lf)

    # -- token partitions (§9.5)
    nparts = 1 << bd.get_literal(2)
    rest = data[10 + first_part_size:]
    parts = []
    if nparts > 1:
        table = rest[:3 * (nparts - 1)]
        if len(table) < 3 * (nparts - 1):
            raise ValueError("VP8 partition size table truncated")
        body = rest[3 * (nparts - 1):]
        off = 0
        for i in range(nparts - 1):
            sz = int.from_bytes(table[3 * i:3 * i + 3], "little")
            if off + sz > len(body):
                raise ValueError("VP8 token partition truncated")
            parts.append(body[off:off + sz])
            off += sz
        parts.append(body[off:])
    else:
        parts.append(rest)
    hdr["nparts"] = nparts

    # -- dequantization indices (§9.6)
    y_ac_qi = bd.get_literal(7)
    deltas = []
    for _ in range(5):  # y1dc, y2dc, y2ac, uvdc, uvac
        deltas.append(bd.get_signed(4) if bd.get_bool(128) else 0)
    hdr.update(y_ac_qi=y_ac_qi, q_deltas=tuple(deltas))

    # -- refresh_entropy_probs (stateless still decode: value unused)
    bd.get_literal(1)

    # -- DCT token probability updates (§9.9/§13.4)
    probs = list(COEF_PROBS)
    for i in range(1056):
        if bd.get_bool(COEF_UPDATE_PROBS[i]):
            probs[i] = bd.get_literal(8)
    hdr["coef_probs"] = probs

    # -- mb_no_coeff_skip (§9.10)
    hdr["mb_no_skip"] = bd.get_bool(128)
    hdr["prob_skip_false"] = bd.get_literal(8) if hdr["mb_no_skip"] else 0

    hdr["header_bd"] = bd
    hdr["parts"] = parts
    return hdr


def _segment_qi(hdr: dict, segment: int) -> int:
    qi = hdr["y_ac_qi"]
    if hdr["seg_enabled"]:
        sv = hdr["seg_q"][segment]
        qi = sv if hdr["seg_abs"] else qi + sv
    return _clamp_q(qi)


def parse_mb_modes(hdr: dict, mb_w: int, mb_h: int) -> list:
    """Per-MB mode records from the first partition (keyframe layout §10):
    segment_id?, skip?, ymode (+ 16 contexted submodes if B_PRED), uvmode.
    Returns a flat raster list of dicts."""
    bd = hdr["header_bd"]
    above_sub = [[B_DC] * 4 for _ in range(mb_w)]
    modes = []
    for mby in range(mb_h):
        left_sub = [B_DC] * 4
        for mbx in range(mb_w):
            segment = 0
            if hdr["seg_update_map"]:
                segment = bd.get_tree(SEGMENT_TREE, hdr["seg_tree_probs"])
            skip = bool(bd.get_bool(hdr["prob_skip_false"])) \
                if hdr["mb_no_skip"] else False
            ymode = bd.get_tree(KF_YMODE_TREE, KF_YMODE_PROBS)
            bmodes = None
            if ymode == B_PRED:
                cur = [0] * 16
                for r in range(4):
                    for c in range(4):
                        a = above_sub[mbx][c] if r == 0 else cur[(r - 1) * 4 + c]
                        l = left_sub[r] if c == 0 else cur[r * 4 + c - 1]
                        base = (a * 10 + l) * 9
                        cur[r * 4 + c] = bd.get_tree(
                            BMODE_TREE, KF_BMODE_PROBS[base:base + 9])
                bmodes = cur
                above_sub[mbx] = cur[12:16]
                left_sub = [cur[3], cur[7], cur[11], cur[15]]
            else:
                bm = MODE_TO_BMODE[ymode]
                above_sub[mbx] = [bm] * 4
                left_sub = [bm] * 4
            uvmode = bd.get_tree(UV_MODE_TREE, KF_UV_PROBS)
            modes.append({"ymode": ymode, "uvmode": uvmode, "bmodes": bmodes,
                          "segment": segment, "skip": skip})
    return modes

# ---------------------------------------------------------------------------
# frame reconstruction
# ---------------------------------------------------------------------------


def _mb_above_left(plane, px: int, py: int, size: int):
    """(above, left, above_left) for whole-block prediction with the §12.2
    frame-border conventions (above row -> 127, left column -> 129)."""
    above = plane[py - 1, px:px + size].astype(np.int32) if py > 0 else None
    left = plane[py:py + size, px - 1].astype(np.int32) if px > 0 else None
    if py > 0 and px > 0:
        al = int(plane[py - 1, px - 1])
    elif py == 0:
        al = 127
    else:
        al = 129
    return above, left, al


def _reconstruct_4x4(y, py: int, px: int, mode: int, coeffs, ar4) -> None:
    """Predict + add one luma subblock in place.  `ar4` = the 4 above-right
    samples for right-column subblocks (MB-level rule, §12.3); interior
    columns read the working buffer directly."""
    if py > 0:
        a4 = y[py - 1, px:px + 4].astype(np.int32)
        ar = ar4 if ar4 is not None else y[py - 1, px + 4:px + 8].astype(np.int32)
        a = np.concatenate([a4, ar])
    else:
        a = np.full(8, 127, np.int32)
    lft = y[py:py + 4, px - 1].astype(np.int32) if px > 0 \
        else np.full(4, 129, np.int32)
    if py > 0 and px > 0:
        al = int(y[py - 1, px - 1])
    elif py == 0:
        al = 127
    else:
        al = 129
    pred = predict_b(mode, a, al, lft)
    if coeffs is not None:
        pred = pred + np.asarray(coeffs, np.int32).reshape(4, 4)
    y[py:py + 4, px:px + 4] = np.clip(pred, 0, 255).astype(y.dtype)


def decode_vp8(data: bytes):
    """Decode a 'VP8 ' chunk body (keyframe) to (y, u, v) uint8 planes,
    loop-filtered and cropped to the frame dimensions.  Bit-exact vs
    libwebp's WebPDecodeYUV (tests/test_vp8.py)."""
    try:
        return _decode_vp8_inner(data)
    except (IndexError, struct.error) as e:
        # contract: malformed streams raise ValueError into the row-level
        # error channel (ADVICE r4: don't leak foreign exception types)
        raise ValueError(f"malformed VP8 stream: {type(e).__name__}: {e}")


def _decode_vp8_inner(data: bytes):
    hdr = parse_frame_header(data)
    w, h = hdr["width"], hdr["height"]
    mb_w, mb_h = (w + 15) // 16, (h + 15) // 16
    modes = parse_mb_modes(hdr, mb_w, mb_h)
    probs = hdr["coef_probs"]

    # per-segment dequant factor sets
    nseg = 4 if hdr["seg_enabled"] else 1
    dqf = [dequant_factors(_segment_qi(hdr, s), hdr["q_deltas"])
           for s in range(nseg)]

    y = np.zeros((mb_h * 16, mb_w * 16), np.uint8)
    u = np.zeros((mb_h * 8, mb_w * 8), np.uint8)
    v = np.zeros((mb_h * 8, mb_w * 8), np.uint8)

    # entropy contexts: per-4x4-block "has nonzero coeffs" flags
    above_y = np.zeros((mb_w, 4), np.uint8)
    above_u = np.zeros((mb_w, 2), np.uint8)
    above_v = np.zeros((mb_w, 2), np.uint8)
    above_y2 = np.zeros(mb_w, np.uint8)

    mb_info = []
    for mby in range(mb_h):
        bd = hdr["parts"][mby % hdr["nparts"]]
        if isinstance(bd, (bytes, bytearray)):
            bd = BoolDecoder(bytes(bd))
            hdr["parts"][mby % hdr["nparts"]] = bd
        left_y = [0, 0, 0, 0]
        left_u = [0, 0]
        left_v = [0, 0]
        left_y2 = 0
        for mbx in range(mb_w):
            mb = modes[mby * mb_w + mbx]
            ymode, uvmode = mb["ymode"], mb["uvmode"]
            dq = dqf[mb["segment"] if hdr["seg_enabled"] else 0]
            has_y2 = ymode != B_PRED
            luma_coeffs = [None] * 16
            u_coeffs = [None] * 4
            v_coeffs = [None] * 4
            has_coeffs = False

            if mb["skip"]:
                # §13.1: skipped MB resets Y/U/V contexts; the Y2 context
                # only when the mode actually has a Y2 block
                above_y[mbx][:] = 0
                left_y[:] = [0, 0, 0, 0]
                above_u[mbx][:] = 0
                left_u[:] = [0, 0]
                above_v[mbx][:] = 0
                left_v[:] = [0, 0]
                if has_y2:
                    above_y2[mbx] = 0
                    left_y2 = 0
            else:
                dcs = None
                if has_y2:
                    ctx = int(above_y2[mbx]) + left_y2
                    c2, eob = decode_coeffs(bd, probs, 1, ctx, 0,
                                            dq["y2dc"], dq["y2ac"])
                    nz = 1 if eob > 0 else 0
                    above_y2[mbx] = nz
                    left_y2 = nz
                    has_coeffs = has_coeffs or bool(nz)
                    dcs = inverse_wht(c2)
                first = 1 if has_y2 else 0
                btype = 0 if has_y2 else 3
                for r in range(4):
                    for c in range(4):
                        ctx = int(above_y[mbx][c]) + left_y[r]
                        cf, eob = decode_coeffs(bd, probs, btype, ctx, first,
                                                dq["y1dc"], dq["y1ac"])
                        nz = 1 if eob > first else 0
                        above_y[mbx][c] = nz
                        left_y[r] = nz
                        has_coeffs = has_coeffs or bool(nz)
                        if dcs is not None:
                            cf[0] = dcs[r * 4 + c]
                        luma_coeffs[r * 4 + c] = cf
                for plane_ctx_a, plane_ctx_l, dest in (
                        (above_u, left_u, u_coeffs),
                        (above_v, left_v, v_coeffs)):
                    for r in range(2):
                        for c in range(2):
                            ctx = int(plane_ctx_a[mbx][c]) + plane_ctx_l[r]
                            cf, eob = decode_coeffs(bd, probs, 2, ctx, 0,
                                                    dq["uvdc"], dq["uvac"])
                            nz = 1 if eob > 0 else 0
                            plane_ctx_a[mbx][c] = nz
                            plane_ctx_l[r] = nz
                            has_coeffs = has_coeffs or bool(nz)
                            dest[r * 2 + c] = cf

            # ---- reconstruction
            yy, yx = mby * 16, mbx * 16
            cy, cx = mby * 8, mbx * 8
            if ymode == B_PRED:
                # MB-level above-right for the right-column subblocks
                if mby == 0:
                    ar4 = np.full(4, 127, np.int32)
                elif mbx == mb_w - 1:
                    ar4 = np.full(4, int(y[yy - 1, yx + 15]), np.int32)
                else:
                    ar4 = y[yy - 1, yx + 16:yx + 20].astype(np.int32)
                for r in range(4):
                    for c in range(4):
                        cf = None if mb["skip"] else luma_coeffs[r * 4 + c]
                        if cf is not None:
                            cf = inverse_dct(cf)
                        _reconstruct_4x4(y, yy + 4 * r, yx + 4 * c,
                                         mb["bmodes"][r * 4 + c], cf,
                                         ar4 if c == 3 else None)
            else:
                a, lft, al = _mb_above_left(y, yx, yy, 16)
                pred = predict_mb(ymode, a, lft, al, 16)
                if not mb["skip"]:
                    for r in range(4):
                        for c in range(4):
                            res = inverse_dct(luma_coeffs[r * 4 + c])
                            pred[4 * r:4 * r + 4, 4 * c:4 * c + 4] += \
                                np.asarray(res, np.int32).reshape(4, 4)
                y[yy:yy + 16, yx:yx + 16] = np.clip(pred, 0, 255)

            for plane, dest in ((u, u_coeffs), (v, v_coeffs)):
                a, lft, al = _mb_above_left(plane, cx, cy, 8)
                pred = predict_mb(uvmode, a, lft, al, 8)
                if not mb["skip"]:
                    for r in range(2):
                        for c in range(2):
                            res = inverse_dct(dest[r * 2 + c])
                            pred[4 * r:4 * r + 4, 4 * c:4 * c + 4] += \
                                np.asarray(res, np.int32).reshape(4, 4)
                plane[cy:cy + 8, cx:cx + 8] = np.clip(pred, 0, 255)

            level = _mb_filter_level(hdr, mb["segment"], ymode == B_PRED)
            f_inner = has_coeffs or ymode == B_PRED
            mb_info.append((level, f_inner))

    if hdr["filter_level"] > 0:
        loop_filter_frame(y, u, v, hdr, mb_info, mb_w, mb_h)

    cw, ch = (w + 1) // 2, (h + 1) // 2
    return y[:h, :w], u[:ch, :cw], v[:ch, :cw]

# ---------------------------------------------------------------------------
# encoder twin: flat-luma keyframe (sink side of the vp8_decode oracle)
# ---------------------------------------------------------------------------


def _put_dc_token(be: BoolEncoder, probs, btype: int, val: int) -> None:
    """Encode a DC-only 4x4 block (coefficient `val` at position 0, ctx 0)
    followed by EOB — the §13.2 token sequence mirrored from decode_coeffs."""
    base = _coef_probs_index(btype, COEF_BANDS[0], 0)
    be.put_bool(probs[base], 1)       # not EOB
    be.put_bool(probs[base + 1], 1)   # not zero
    mag = abs(val)
    if mag == 1:
        be.put_bool(probs[base + 2], 0)
        nctx = 1
    else:
        be.put_bool(probs[base + 2], 1)
        nctx = 2
        if mag <= 4:
            be.put_bool(probs[base + 3], 0)
            if mag == 2:
                be.put_bool(probs[base + 4], 0)
            else:
                be.put_bool(probs[base + 4], 1)
                be.put_bool(probs[base + 5], mag - 3)
        else:
            be.put_bool(probs[base + 3], 1)
            for cat in range(6):
                hi = CAT_BASE[cat] + (1 << len(CAT_PROBS[cat])) - 1
                if mag <= hi:
                    break
            else:
                raise ValueError(f"coefficient {mag} exceeds cat6 range")
            if cat < 2:
                be.put_bool(probs[base + 6], 0)
                be.put_bool(probs[base + 7], cat)
            elif cat < 4:
                be.put_bool(probs[base + 6], 1)
                be.put_bool(probs[base + 8], 0)
                be.put_bool(probs[base + 9], cat - 2)
            else:
                be.put_bool(probs[base + 6], 1)
                be.put_bool(probs[base + 8], 1)
                be.put_bool(probs[base + 10], cat - 4)
            extra = mag - CAT_BASE[cat]
            nb = len(CAT_PROBS[cat])
            for i in range(nb - 1, -1, -1):
                be.put_bool(CAT_PROBS[cat][nb - 1 - i], (extra >> i) & 1)
    be.put_bool(128, 1 if val < 0 else 0)  # sign
    # position 1: EOB under the context set by the magnitude
    be.put_bool(probs[_coef_probs_index(btype, COEF_BANDS[1], nctx)], 0)


def _put_empty_block(be: BoolEncoder, probs, btype: int, first: int) -> None:
    be.put_bool(probs[_coef_probs_index(btype, COEF_BANDS[first], 0)], 0)


def encode_webp_lossy_flat(value: int, width: int, height: int,
                           nparts: int = 1) -> bytes:
    """Minimal conformant VP8 keyframe inside a RIFF/WEBP container whose
    decoded luma plane is exactly `value` everywhere (chroma 128).

    Construction: qi=0 (y2dc factor = 2*DC_QLOOKUP[0] = 8), all MBs
    DC_PRED/DC_PRED.  Only MB(0,0) carries coefficients: a single Y2 DC
    token v = 8*(value-128), which the WHT maps to per-block DC (8v+3)>>3
    = v and the IDCT to a flat residual (v+4)>>3 = value-128 on top of the
    128 border predictor; every other MB is skip-flagged and DC-predicts
    the already-flat neighbors.  Loop filter level 0.  The closed-form
    integer path is what gives the vp8_decode driver query an exact DuckDB
    oracle despite VP8 being a lossy codec; libwebp decodes these bytes to
    the same planes (tests/test_vp8.py)."""
    value = int(value)
    if not 0 <= value <= 255:
        raise ValueError("flat luma value out of range")
    if not (0 < width <= 0x3FFF and 0 < height <= 0x3FFF):
        raise ValueError("bad dimensions")
    if nparts not in (1, 2, 4, 8):
        raise ValueError("nparts must be 1, 2, 4 or 8")
    d = value - 128
    mb_w, mb_h = (width + 15) // 16, (height + 15) // 16

    be = BoolEncoder()
    be.put_literal(1, 0)   # color_space
    be.put_literal(1, 0)   # clamping_type
    be.put_literal(1, 0)   # segmentation_enabled
    be.put_literal(1, 0)   # filter_type
    be.put_literal(6, 0)   # filter_level
    be.put_literal(3, 0)   # sharpness
    be.put_literal(1, 0)   # lf_delta_enable
    be.put_literal(2, {1: 0, 2: 1, 4: 2, 8: 3}[nparts])
    be.put_literal(7, 0)   # y_ac_qi
    for _ in range(5):
        be.put_literal(1, 0)  # quantizer delta flags
    be.put_literal(1, 1)   # refresh_entropy_probs
    for p in COEF_UPDATE_PROBS:
        be.put_bool(p, 0)  # no token prob updates
    be.put_literal(1, 1)   # mb_no_coeff_skip
    be.put_literal(8, 128)  # prob_skip_false
    for i in range(mb_w * mb_h):
        skip = 0 if (i == 0 and d != 0) else 1
        be.put_bool(128, skip)
        be.put_tree(KF_YMODE_TREE, KF_YMODE_PROBS, DC_PRED)
        be.put_tree(UV_MODE_TREE, KF_UV_PROBS, DC_PRED)
    part1 = be.flush()

    # token partitions: MB row r -> partition r % nparts; only row 0's
    # partition carries tokens (MB(0,0)); the rest are empty (legal: a
    # 0-byte partition decodes as virtual zero bytes)
    te = BoolEncoder()
    if d != 0:
        probs = COEF_PROBS
        _put_dc_token(te, probs, 1, 8 * d)          # Y2
        for _ in range(16):
            _put_empty_block(te, probs, 0, 1)       # luma, first=1
        for _ in range(8):
            _put_empty_block(te, probs, 2, 0)       # chroma
    tparts = [te.flush()] + [BoolEncoder().flush()] * (nparts - 1)
    size_table = b"".join(len(tp).to_bytes(3, "little")
                          for tp in tparts[:-1])

    tag = (0) | (0 << 1) | (1 << 4) | (len(part1) << 5)
    body = (tag.to_bytes(3, "little") + b"\x9d\x01\x2a" +
            struct.pack("<HH", width, height) + part1 + size_table +
            b"".join(tparts))
    pad = b"\x00" if len(body) & 1 else b""
    riff_size = 4 + 8 + len(body) + len(pad)
    return (b"RIFF" + struct.pack("<I", riff_size) + b"WEBP" +
            b"VP8 " + struct.pack("<I", len(body)) + body + pad)
