"""Baseline + progressive JPEG codec, pure stdlib + numpy — no image libs.

Closes the last common-web-format gap in the multimodal decode layer
(reference analog: the pixel kernels fuel_level_extraction.py:45-140 read
frames via OpenCV; this engine reads crawl image payloads with its own
codecs). Scope: baseline sequential DCT (SOF0) and progressive DCT (SOF2,
spectral selection + successive approximation per T.81 Annex G, interleaved
and non-interleaved scans, EOB runs, restart markers), 8-bit, grayscale or
YCbCr with 4:4:4 / 4:2:2 / 4:2:0 sampling, standard Huffman and quantization
tables or in-stream ones. Arithmetic coding, hierarchical (SOF5+), and
12-bit raise ValueError into the row-level error channel.

The encoders are the matching sinks: encode_jpeg (baseline, Annex K
Huffman) and encode_jpeg_progressive (libjpeg-style standard scan script;
AC scans use an in-stream flat 9-bit Huffman table so EOB-run symbols
EOB1..EOB14 exist — Annex K's baseline AC alphabet has no EOBn>0). Both
quantize identically, so progressive-encode→decode must reproduce
baseline-encode→decode pixel-for-pixel (tested). JPEG is lossy, so
roundtrips assert closeness (and exactness for flat blocks), not byte
identity; the zigzag and table constants are written literally from
ITU-T T.81 so they can be checked against the spec rather than against
this module's own inverse.
"""

from __future__ import annotations

import struct

import numpy as np

from .bits import PrefixCode

# ---------------------------------------------------------------------------
# ITU-T T.81 constants (written literally from the spec, Annex K)
# ---------------------------------------------------------------------------

ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int32)

# Annex K.1 luminance / K.2 chrominance quantization tables (natural order)
QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int32)
QUANT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int32)

# Annex K.3 typical Huffman tables: (bits[1..16] counts, symbol values)
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROMA_VALS = list(range(12))
AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]
AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
    0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
    0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

# 8x8 type-II DCT basis: C[k, n] = c(k) * cos((2n+1) k pi / 16)
_N = np.arange(8)
_DCT = np.cos((2 * _N[None, :] + 1) * _N[:, None] * np.pi / 16) * 0.5
_DCT[0, :] *= 1 / np.sqrt(2)


def _fdct2(block: np.ndarray) -> np.ndarray:
    return _DCT @ block @ _DCT.T


def _idct2(coef: np.ndarray) -> np.ndarray:
    return _DCT.T @ coef @ _DCT


# ---------------------------------------------------------------------------
# Huffman machinery
# ---------------------------------------------------------------------------


def _build_decode_table(bits: list[int], vals: list[int]) -> PrefixCode:
    """T.81 BITS (code counts per length 1..16) and HUFFVAL -> the
    canonical code, symbols assigned in HUFFVAL order."""
    lengths = [ln for ln in range(1, 17) for _ in range(bits[ln - 1])]
    return PrefixCode(zip(lengths, vals))


def _build_encode_table(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, code_length)."""
    return _build_decode_table(bits, vals).codes


class _BitReaderMSB:
    """MSB-first reader over entropy-coded data with FF00 unstuffing;
    stops at any real marker (FF xx, xx != 0) and reports it."""

    __slots__ = ("data", "pos", "acc", "nbits", "marker")

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.marker: int | None = None

    def _fill(self) -> bool:
        d = self.data
        if self.pos >= len(d):
            return False
        b = d[self.pos]
        if b == 0xFF:
            nxt = d[self.pos + 1] if self.pos + 1 < len(d) else None
            if nxt == 0x00:
                self.pos += 2
            else:
                self.marker = nxt
                return False  # real marker: stop
        else:
            self.pos += 1
        # mask to the live bits before shifting: without this the acc
        # bigint keeps every byte ever read and decode goes quadratic in
        # scan size (review r4: 47 KB of entropy data took 2.6 s)
        self.acc = ((self.acc & ((1 << self.nbits) - 1)) << 8) | b
        self.nbits += 8
        return True

    def read_bit(self) -> int:
        if self.nbits == 0 and not self._fill():
            raise ValueError("JPEG entropy stream exhausted")
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align_to_marker(self) -> int | None:
        """Drop partial byte, consume an RST marker if next; returns it."""
        self.acc = 0
        self.nbits = 0
        d = self.data
        while self.pos + 1 < len(d) and d[self.pos] == 0xFF:
            m = d[self.pos + 1]
            if 0xD0 <= m <= 0xD7:
                self.pos += 2
                self.marker = None
                return m
            break
        return None


def _mcu_grid(frame) -> tuple[int, int, int, int]:
    """(max h sampling, max v sampling, MCUs across, MCUs down) of a frame
    (T.81 A.2.4: an MCU covers 8*hmax x 8*vmax pixels)."""
    _, h, w, comps = frame
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    return hmax, vmax, -(-w // (8 * hmax)), -(-h // (8 * vmax))


def _extend(v: int, t: int) -> int:
    """T.81 F.2.2.1 sign extension of a t-bit magnitude."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


def decode_jpeg(payload: bytes, return_luma: bool = False) -> dict:
    """Baseline JPEG -> same feature dict contract as decode_png.
    return_luma=True adds the full float64 luma plane under "luma"
    (tests/QA; production callers keep the fixed-size contract)."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG: missing SOI")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    dc_tables: dict[int, PrefixCode] = {}
    ac_tables: dict[int, PrefixCode] = {}
    frame = None  # (precision, h, w, comps)
    restart_interval = 0
    progressive = False
    coefs: dict[int, np.ndarray] | None = None  # cid -> (bh, bw, 64) zigzag
    scans_done = 0

    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"JPEG marker expected at {pos}")
        while pos + 2 < len(payload) and payload[pos + 1] == 0xFF:
            pos += 1  # fill bytes before a marker
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue  # standalone
        (seglen,) = struct.unpack(">H", payload[pos:pos + 2])
        seg = payload[pos + 2:pos + seglen]
        if len(seg) != seglen - 2:
            raise ValueError("truncated JPEG segment")
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0x0F
                p += 1
                need = 128 if pq else 64
                if p + need > len(seg):
                    raise ValueError("truncated JPEG DQT segment")
                if pq == 0:
                    tbl = np.frombuffer(seg[p:p + 64], dtype=np.uint8).astype(np.int32)
                    p += 64
                else:
                    tbl = np.frombuffer(seg[p:p + 128], dtype=">u2").astype(np.int32)
                    p += 128
                nat = np.empty(64, dtype=np.int32)
                nat[ZIGZAG] = tbl  # stored zigzag -> natural order
                qtables[tq] = nat
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                if p + 17 > len(seg):
                    raise ValueError("truncated JPEG DHT segment")
                tc, th = seg[p] >> 4, seg[p] & 0x0F
                bits = list(seg[p + 1:p + 17])
                n = sum(bits)
                if p + 17 + n > len(seg):
                    raise ValueError("truncated JPEG DHT segment")
                vals = list(seg[p + 17:p + 17 + n])
                p += 17 + n
                t = _build_decode_table(bits, vals)
                (dc_tables if tc == 0 else ac_tables)[th] = t
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            if len(seg) < 6:
                raise ValueError("truncated JPEG SOF segment")
            prec, h, w, nc = seg[0], struct.unpack(">H", seg[1:3])[0], \
                struct.unpack(">H", seg[3:5])[0], seg[5]
            if prec != 8:
                raise ValueError(f"unsupported JPEG precision {prec}")
            if len(seg) < 6 + 3 * nc:
                raise ValueError("truncated JPEG SOF segment")
            if h == 0 or w == 0 or nc == 0:
                raise ValueError("JPEG SOF with zero dimension")
            comps = []
            for i in range(nc):
                cid, samp, tq = seg[6 + 3 * i], seg[7 + 3 * i], seg[8 + 3 * i]
                sh, sv = samp >> 4, samp & 0x0F
                if not (1 <= sh <= 4 and 1 <= sv <= 4):
                    raise ValueError("JPEG SOF sampling factor out of range")
                comps.append({"id": cid, "h": sh, "v": sv, "tq": tq})
            frame = (prec, h, w, comps)
            if marker == 0xC2:
                progressive = True
                _, _, mcux, mcuy = _mcu_grid(frame)
                coefs = {
                    c["id"]: np.zeros(
                        (mcuy * c["v"], mcux * c["h"], 64), dtype=np.int32)
                    for c in comps
                }
        elif marker in (0xC1,):
            raise ValueError("extended sequential JPEG (SOF1) unsupported")
        elif 0xC3 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            raise ValueError(f"unsupported JPEG frame type SOF{marker - 0xC0}")
        elif marker == 0xDD:  # DRI
            if len(seg) < 2:
                raise ValueError("truncated JPEG DRI segment")
            restart_interval = struct.unpack(">H", seg[:2])[0]
        elif marker == 0xDA:  # SOS -> entropy data follows
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            if len(seg) < 1:
                raise ValueError("truncated JPEG SOS segment")
            ns = seg[0]
            if len(seg) < 1 + 2 * ns + 3:
                raise ValueError("truncated JPEG SOS segment")
            scan = []
            for i in range(ns):
                cs, tt = seg[1 + 2 * i], seg[2 + 2 * i]
                scan.append((cs, tt >> 4, tt & 0x0F))
            spectral = (seg[1 + 2 * ns], seg[2 + 2 * ns],
                        seg[3 + 2 * ns] >> 4, seg[3 + 2 * ns] & 0x0F)
            pos += seglen
            if not progressive:
                return _decode_scan(payload, pos, frame, scan, qtables,
                                    dc_tables, ac_tables, restart_interval,
                                    return_luma)
            pos = _decode_prog_scan(payload, pos, frame, scan, spectral,
                                    coefs, dc_tables, ac_tables,
                                    restart_interval)
            scans_done += 1
            continue
        pos += seglen
    if progressive and scans_done:
        # liberal on a missing EOI: truncated progressive crawl payloads
        # still decode from whatever scans arrived (coarse-to-fine is the
        # format's whole point)
        return _finish_progressive(frame, coefs, qtables, return_luma)
    raise ValueError("JPEG has no scan data")


def _decode_scan(payload, pos, frame, scan, qtables, dc_tables, ac_tables,
                 restart_interval, return_luma=False) -> dict:
    _, h, w, comps = frame
    hmax, vmax, mcux, mcuy = _mcu_grid(frame)
    by_id = {c["id"]: c for c in comps}
    order = []
    for cs, td, ta in scan:
        c = by_id.get(cs)
        if c is None:
            raise ValueError(f"scan references unknown component {cs}")
        c["td"], c["ta"] = td, ta
        order.append(c)

    planes = {
        c["id"]: np.zeros((mcuy * c["v"] * 8, mcux * c["h"] * 8), dtype=np.float64)
        for c in comps
    }
    pred = {c["id"]: 0 for c in comps}
    br = _BitReaderMSB(payload, pos)
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                if br.align_to_marker() is None:
                    raise ValueError("missing JPEG restart marker")
                for k in pred:
                    pred[k] = 0
            for c in order:
                q = qtables.get(c["tq"])
                dct = dc_tables.get(c["td"])
                act = ac_tables.get(c["ta"])
                if q is None or dct is None or act is None:
                    raise ValueError("JPEG scan uses an undefined table")
                for vy in range(c["v"]):
                    for vx in range(c["h"]):
                        zz = np.zeros(64, dtype=np.int32)
                        t = dct.decode(br)
                        diff = _extend(br.read_bits(t), t)
                        pred[c["id"]] += diff
                        zz[0] = pred[c["id"]]
                        k = 1
                        while k < 64:
                            rs = act.decode(br)
                            r, s = rs >> 4, rs & 0x0F
                            if s == 0:
                                if r == 15:
                                    k += 16  # ZRL
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("JPEG AC run overflows block")
                            zz[k] = _extend(br.read_bits(s), s)
                            k += 1
                        coef = np.zeros(64, dtype=np.float64)
                        coef[ZIGZAG] = zz  # zigzag -> natural
                        block = _idct2((coef * q).reshape(8, 8)) + 128.0
                        py = (my * c["v"] + vy) * 8
                        px = (mx * c["h"] + vx) * 8
                        planes[c["id"]][py:py + 8, px:px + 8] = block
            mcu_count += 1

    # assemble: upsample chroma to full res, crop padding
    full = []
    for c in comps:
        pl = planes[c["id"]]
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            pl = np.repeat(np.repeat(pl, ry, axis=0), rx, axis=1)
        full.append(pl[:h, :w])
    if len(full) == 1:
        luma = np.clip(full[0], 0, 255)
        channels = 1
    else:
        y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
        r = y + 1.402 * cr
        g = y - 0.344136 * cb - 0.714136 * cr
        b = y + 1.772 * cb
        rgb = np.clip(np.stack([r, g, b], axis=2), 0, 255)
        from .multimodal import REC601

        luma = rgb @ REC601
        channels = 3

    from .multimodal import luma_features

    out = luma_features(luma, channels)
    if return_luma:
        out["luma"] = luma
    return out


# ---------------------------------------------------------------------------
# progressive decoding (T.81 Annex G.2): each SOS deposits partial
# coefficients into per-component zigzag-order arrays; the IDCT runs once
# at the end over whatever precision the scans delivered
# ---------------------------------------------------------------------------


def _nonint_grid(frame, c) -> tuple[int, int]:
    """Block grid of one component in a NON-interleaved scan (T.81 A.2.2:
    ceil(ceil(dim * sampling / max_sampling) / 8), no MCU padding)."""
    _, h, w, _ = frame
    hmax, vmax, _, _ = _mcu_grid(frame)
    cw = -(-w * c["h"] // hmax)
    ch = -(-h * c["v"] // vmax)
    return -(-ch // 8), -(-cw // 8)


def _refine_nonzero(br: _BitReaderMSB, zz: np.ndarray, k: int, p1: int) -> None:
    """G.1.2.3 correction bit for an already-nonzero coefficient: move its
    magnitude toward the next level if the bit says so and the bit at the
    current approximation position is still 0 (two's-complement & matches
    the C semantics for negatives)."""
    if br.read_bit():
        v = int(zz[k])
        if (v & p1) == 0:
            zz[k] = v + p1 if v >= 0 else v - p1


def _decode_prog_scan(payload, pos, frame, scan, spectral, coefs,
                      dc_tables, ac_tables, restart_interval) -> int:
    """Decode one progressive scan into coefs; returns the payload offset
    of the next marker's 0xFF."""
    ss, se, ah, al = spectral
    comps = frame[3]
    _, _, mcux, mcuy = _mcu_grid(frame)
    by_id = {c["id"]: c for c in comps}
    order = []
    for cs, td, ta in scan:
        c = by_id.get(cs)
        if c is None:
            raise ValueError(f"scan references unknown component {cs}")
        order.append((c, td, ta))
    if se > 63 or ss > se:
        raise ValueError("JPEG progressive spectral band out of range")
    if ss == 0 and se != 0:
        raise ValueError("JPEG progressive DC scan must have Se=0")
    if ss > 0 and len(order) != 1:
        raise ValueError("JPEG progressive AC scan must be single-component")

    br = _BitReaderMSB(payload, pos)
    p1 = 1 << al
    eobrun = 0
    unit = 0  # restart counting: MCUs (interleaved) or blocks (otherwise)
    pred = {c["id"]: 0 for c, _, _ in order}

    def maybe_restart() -> None:
        nonlocal eobrun
        if restart_interval and unit and unit % restart_interval == 0:
            if br.align_to_marker() is None:
                raise ValueError("missing JPEG restart marker")
            for key in pred:
                pred[key] = 0
            eobrun = 0

    if ss == 0:
        # DC scan: interleaved MCU traversal when Ns > 1, else the
        # component's own non-interleaved block grid
        tables = {}
        for c, td, _ in order:
            if ah == 0:
                t = dc_tables.get(td)
                if t is None:
                    raise ValueError("JPEG scan uses an undefined table")
                tables[c["id"]] = t

        def dc_block(c, by_, bx_):
            zz = coefs[c["id"]][by_, bx_]
            if ah == 0:
                t = tables[c["id"]].decode(br)
                diff = _extend(br.read_bits(t), t)
                pred[c["id"]] += diff
                zz[0] = pred[c["id"]] << al
            else:
                if br.read_bit():
                    zz[0] = int(zz[0]) | p1

        if len(order) > 1:
            for my in range(mcuy):
                for mx in range(mcux):
                    maybe_restart()
                    for c, _, _ in order:
                        for vy in range(c["v"]):
                            for vx in range(c["h"]):
                                dc_block(c, my * c["v"] + vy, mx * c["h"] + vx)
                    unit += 1
        else:
            c = order[0][0]
            bh_, bw_ = _nonint_grid(frame, c)
            for by_ in range(bh_):
                for bx_ in range(bw_):
                    maybe_restart()
                    dc_block(c, by_, bx_)
                    unit += 1
    else:
        c, _, ta = order[0]
        act = ac_tables.get(ta)
        if act is None:
            raise ValueError("JPEG scan uses an undefined table")
        plane = coefs[c["id"]]
        bh_, bw_ = _nonint_grid(frame, c)
        for by_ in range(bh_):
            for bx_ in range(bw_):
                maybe_restart()
                unit += 1
                zz = plane[by_, bx_]
                if ah == 0:
                    # G.1.2.2 first scan of this band at this precision
                    if eobrun:
                        eobrun -= 1
                        continue
                    k = ss
                    while k <= se:
                        rs = act.decode(br)
                        r, s = rs >> 4, rs & 0x0F
                        if s == 0:
                            if r == 15:
                                k += 16  # ZRL
                                continue
                            eobrun = (1 << r) - 1
                            if r:
                                eobrun += br.read_bits(r)
                            break  # EOBn covers this block too
                        k += r
                        if k > se:
                            raise ValueError("JPEG AC run overflows band")
                        zz[k] = _extend(br.read_bits(s), s) << al
                        k += 1
                else:
                    # G.1.2.3 refinement: correction bits for known-nonzero
                    # coefficients interleaved with newly-significant +-p1
                    k = ss
                    if eobrun == 0:
                        while k <= se:
                            rs = act.decode(br)
                            r, s = rs >> 4, rs & 0x0F
                            if s == 0:
                                if r < 15:
                                    # unlike the first-scan convention, the
                                    # run INCLUDES the current block: its
                                    # remaining correction bits are consumed
                                    # by the tail walk below (G.1.2.3)
                                    eobrun = 1 << r
                                    if r:
                                        eobrun += br.read_bits(r)
                                    break
                                newval = 0  # ZRL: skip 16 zero-history slots
                            elif s == 1:
                                newval = p1 if br.read_bit() else -p1
                            else:
                                raise ValueError(
                                    "JPEG AC refinement magnitude must be 1")
                            while k <= se:
                                if zz[k] != 0:
                                    _refine_nonzero(br, zz, k, p1)
                                else:
                                    if r == 0:
                                        break
                                    r -= 1
                                k += 1
                            if newval and k <= se:
                                zz[k] = newval
                            k += 1
                    if eobrun > 0:
                        while k <= se:
                            if zz[k] != 0:
                                _refine_nonzero(br, zz, k, p1)
                            k += 1
                        eobrun -= 1

    # skip any trailing entropy bytes/RSTs to the next true marker
    p = br.pos
    d = payload
    while p < len(d):
        if d[p] == 0xFF and p + 1 < len(d) and d[p + 1] != 0x00:
            if 0xD0 <= d[p + 1] <= 0xD7:
                p += 2
                continue
            break
        p += 1
    return p


def _finish_progressive(frame, coefs, qtables, return_luma=False) -> dict:
    _, h, w, comps = frame
    hmax, vmax, _, _ = _mcu_grid(frame)
    full = []
    for c in comps:
        q = qtables.get(c["tq"])
        if q is None:
            raise ValueError("JPEG scan uses an undefined table")
        arr = coefs[c["id"]].astype(np.float64)
        bh_, bw_ = arr.shape[:2]
        nat = np.zeros_like(arr)
        nat[..., ZIGZAG] = arr * q[ZIGZAG].astype(np.float64)
        blocks = nat.reshape(bh_, bw_, 8, 8)
        # one vectorized IDCT over every block: out = DCT.T @ C @ DCT
        pix = np.einsum("ni,bcij,jm->bcnm", _DCT.T, blocks, _DCT,
                        optimize=True) + 128.0
        plane = pix.transpose(0, 2, 1, 3).reshape(bh_ * 8, bw_ * 8)
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
        full.append(plane[:h, :w])
    if len(full) == 1:
        luma = np.clip(full[0], 0, 255)
        channels = 1
    else:
        from .multimodal import REC601

        y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
        r = y + 1.402 * cr
        g = y - 0.344136 * cb - 0.714136 * cr
        b = y + 1.772 * cb
        rgb = np.clip(np.stack([r, g, b], axis=2), 0, 255)
        luma = rgb @ REC601
        channels = 3
    from .multimodal import luma_features

    out = luma_features(luma, channels)
    if return_luma:
        out["luma"] = luma
    return out


# ---------------------------------------------------------------------------
# encoder (baseline, 4:4:4, Annex K tables scaled by quality)
# ---------------------------------------------------------------------------


def _scaled_quant(base: np.ndarray, quality: int) -> np.ndarray:
    quality = min(100, max(1, quality))
    scale = 5000 // quality if quality < 50 else 200 - quality * 2
    q = (base * scale + 50) // 100
    return np.clip(q, 1, 255).astype(np.int32)


def _prepare_planes(pixels, quality: int, subsample: str):
    """Shared by the baseline and progressive encoders so both quantize
    byte-identically (the progressive-vs-baseline pixel-equality test
    depends on it): validates input, converts RGB->YCbCr, scales tables."""
    arr = np.ascontiguousarray(pixels, dtype=np.uint8)
    gray = arr.ndim == 2
    if not gray and (arr.ndim != 3 or arr.shape[2] != 3):
        raise ValueError("encode_jpeg wants (h,w) gray or (h,w,3) rgb uint8")
    if subsample not in ("444", "420"):
        raise ValueError("subsample must be '444' or '420'")
    h, w = arr.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("zero-dimension image")
    ql = _scaled_quant(QUANT_LUMA, quality)
    qc = _scaled_quant(QUANT_CHROMA, quality)
    if gray:
        planes = [arr.astype(np.float64)]
    else:
        rgbf = arr.astype(np.float64)
        r, g, b = rgbf[:, :, 0], rgbf[:, :, 1], rgbf[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        planes = [y, cb, cr]
    return gray, h, w, planes, ql, qc


def _pad_plane(pl: np.ndarray, th: int, tw: int) -> np.ndarray:
    pp = np.empty((th, tw), dtype=np.float64)
    sh, sw = pl.shape
    pp[:sh, :sw] = pl
    pp[sh:, :sw] = pl[sh - 1:sh, :]  # edge-replicate padding
    pp[:, sw:] = pp[:, sw - 1:sw]
    return pp


class _BitWriterMSB:
    __slots__ = ("out", "acc", "nbits")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1s per spec

    def restart_marker(self, n: int) -> None:
        """Byte-align and emit RSTn — raw marker bytes, never stuffed."""
        self.flush()
        self.out += bytes((0xFF, 0xD0 + (n & 7)))


def _encode_block(bw, block, q, dc_enc, ac_enc, pred):
    coef = _fdct2(block - 128.0)
    # natural -> zigzag scan, quantized against the zigzag-ordered table
    qz = np.rint(coef.reshape(-1)[ZIGZAG] / q[ZIGZAG]).astype(np.int64)
    diff = int(qz[0]) - pred
    t = int(diff).bit_length() if diff else 0
    code, ln = dc_enc[t]
    bw.write(code, ln)
    if t:
        v = diff if diff > 0 else diff + (1 << t) - 1
        bw.write(v, t)
    run = 0
    last_nz = int(np.nonzero(qz[1:])[0][-1]) + 1 if np.any(qz[1:]) else 0
    for k in range(1, last_nz + 1):
        v = int(qz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_enc[0xF0]
            bw.write(code, ln)
            run -= 16
        s = abs(v).bit_length()
        code, ln = ac_enc[(run << 4) | s]
        bw.write(code, ln)
        bw.write(v if v > 0 else v + (1 << s) - 1, s)
        run = 0
    if last_nz < 63:
        code, ln = ac_enc[0x00]
        bw.write(code, ln)
    return int(qz[0])


def encode_jpeg(pixels: "np.ndarray", quality: int = 85,
                subsample: str = "444", restart_interval: int = 0) -> bytes:
    """(h, w) uint8 gray or (h, w, 3) uint8 RGB -> baseline JFIF bytes,
    Annex K Huffman tables. subsample: '444' (one 8x8 MCU per component)
    or '420' (color only: 16x16 MCUs, 4 Y blocks + 2x2-mean-downsampled
    Cb/Cr — the dominant web encoding). restart_interval > 0 emits a DRI
    segment and byte-aligned RSTn markers every that-many MCUs (and
    resets the DC predictors), exercising the decoder's restart path."""
    gray, h, w, planes, ql, qc = _prepare_planes(pixels, quality, subsample)
    sub420 = subsample == "420" and not gray
    qmap = [ql] if gray else [ql, qc, qc]

    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" + \
        struct.pack(">HH", 1, 1) + b"\x00\x00"
    for tq, q in ((0, ql),) + (((1, qc),) if not gray else ()):
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes((tq,)) + \
            bytes(int(x) for x in q[ZIGZAG])
    nc = 1 if gray else 3
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for i in range(nc):
        samp = 0x22 if (sub420 and i == 0) else 0x11
        sof += bytes((i + 1, samp, 0 if i == 0 else 1))
    out += b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    hts = [(0x00, DC_LUMA_BITS, DC_LUMA_VALS), (0x10, AC_LUMA_BITS, AC_LUMA_VALS)]
    if not gray:
        hts += [(0x01, DC_CHROMA_BITS, DC_CHROMA_VALS),
                (0x11, AC_CHROMA_BITS, AC_CHROMA_VALS)]
    for tc_th, bits, vals in hts:
        body = bytes((tc_th,)) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", len(body) + 2) + body
    sos = bytes((nc,))
    for i in range(nc):
        sos += bytes((i + 1, 0x00 if i == 0 else 0x11))
    sos += b"\x00\x3f\x00"
    out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos

    dc_l = _build_encode_table(DC_LUMA_BITS, DC_LUMA_VALS)
    ac_l = _build_encode_table(AC_LUMA_BITS, AC_LUMA_VALS)
    dc_c = _build_encode_table(DC_CHROMA_BITS, DC_CHROMA_VALS)
    ac_c = _build_encode_table(AC_CHROMA_BITS, AC_CHROMA_VALS)
    encs = [(dc_l, ac_l)] + ([(dc_c, ac_c), (dc_c, ac_c)] if not gray else [])

    mcu = 16 if sub420 else 8
    ph, pw = -(-h // mcu) * mcu, -(-w // mcu) * mcu

    if sub420:
        ypad = _pad_plane(planes[0], ph, pw)
        # 2x2 mean downsample of the padded chroma
        cbp = _pad_plane(planes[1], ph, pw).reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
        crp = _pad_plane(planes[2], ph, pw).reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
        padded = [ypad, cbp, crp]
    else:
        padded = [_pad_plane(pl, ph, pw) for pl in planes]

    bw = _BitWriterMSB()
    preds = [0] * nc
    mcu_count = 0
    for by in range(0, ph, mcu):
        for bx in range(0, pw, mcu):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                bw.restart_marker(mcu_count // restart_interval - 1)
                preds = [0] * nc
            if sub420:
                for vy in (0, 8):
                    for vx in (0, 8):
                        preds[0] = _encode_block(
                            bw, padded[0][by + vy:by + vy + 8, bx + vx:bx + vx + 8],
                            qmap[0], encs[0][0], encs[0][1], preds[0])
                cy, cx = by // 2, bx // 2
                for ci in (1, 2):
                    preds[ci] = _encode_block(
                        bw, padded[ci][cy:cy + 8, cx:cx + 8], qmap[1],
                        encs[ci][0], encs[ci][1], preds[ci])
            else:
                for ci in range(nc):
                    preds[ci] = _encode_block(
                        bw, padded[ci][by:by + 8, bx:bx + 8], qmap[min(ci, 1)],
                        encs[ci][0], encs[ci][1], preds[ci],
                    )
            mcu_count += 1
    bw.flush()
    out += bw.out
    out += b"\xff\xd9"
    return bytes(out)


# ---------------------------------------------------------------------------
# progressive encoder (T.81 Annex G.1): the sink twin for SOF2 decode.
# Quantizes byte-identically to encode_jpeg (shared _prepare_planes /
# _pad_plane / _fdct2 arithmetic), then emits a libjpeg-style standard
# scan script. AC scans use an in-stream FLAT 9-bit Huffman table (all 256
# symbols, canonical codes 0..255) because Annex K's baseline AC alphabet
# has no EOBn>0 symbols; flat-9 is a valid incomplete code (Kraft sum 0.5,
# all-ones codeword unused) that trades size for exercising every decoder
# path including EOB runs up to 0x7FFF.
# ---------------------------------------------------------------------------

# DHT bits counts are single bytes, so a flat 256@9 table is unrepresentable:
# 255 symbols at 9 bits + 0xFF (r=15,s=15, never emitted) at 10 bits.
_AC_FLAT_BITS = [0] * 8 + [255, 1] + [0] * 6
_AC_FLAT_VALS = list(range(256))


def _default_progressive_scans(nc: int) -> list[tuple]:
    """(comp_indices, Ss, Se, Ah, Al) per scan — the libjpeg standard
    simple progression (jcparam.c): DC at Al=1 first, low-frequency luma
    band, full chroma bands, luma remainder, then refinements."""
    if nc == 1:
        return [
            ([0], 0, 0, 0, 1),
            ([0], 1, 5, 0, 2),
            ([0], 6, 63, 0, 2),
            ([0], 1, 63, 2, 1),
            ([0], 0, 0, 1, 0),
            ([0], 1, 63, 1, 0),
        ]
    return [
        ([0, 1, 2], 0, 0, 0, 1),
        ([0], 1, 5, 0, 2),
        ([2], 1, 63, 0, 1),
        ([1], 1, 63, 0, 1),
        ([0], 6, 63, 0, 2),
        ([0], 1, 63, 2, 1),
        ([0, 1, 2], 0, 0, 1, 0),
        ([2], 1, 63, 1, 0),
        ([1], 1, 63, 1, 0),
        ([0], 1, 63, 1, 0),
    ]


def _quantize_component(plane: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Padded plane -> (bh, bw, 64) int32 quantized coefficients in zigzag
    order, per-block _fdct2 so the arithmetic matches _encode_block bit for
    bit (einsum would associate sums differently and could flip an rint)."""
    hh, ww = plane.shape
    bh, bw_ = hh // 8, ww // 8
    out = np.empty((bh, bw_, 64), dtype=np.int32)
    qz = q[ZIGZAG]
    for by in range(bh):
        for bx in range(bw_):
            coef = _fdct2(plane[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] - 128.0)
            out[by, bx] = np.rint(coef.reshape(-1)[ZIGZAG] / qz).astype(np.int64)
    return out


class _ProgACState:
    """Per-AC-scan EOB-run accumulator with the buffered correction bits
    that must be emitted together with the run (G.1.2.3)."""

    __slots__ = ("bw", "enc", "eobrun", "bitbuf")

    def __init__(self, bw: _BitWriterMSB, enc: dict):
        self.bw = bw
        self.enc = enc
        self.eobrun = 0
        self.bitbuf: list[int] = []

    def emit_sym(self, sym: int) -> None:
        code, ln = self.enc[sym]
        self.bw.write(code, ln)

    def flush(self) -> None:
        if self.eobrun > 0:
            nbits = self.eobrun.bit_length() - 1
            self.emit_sym(nbits << 4)
            if nbits:
                self.bw.write(self.eobrun & ((1 << nbits) - 1), nbits)
            self.eobrun = 0
        for bit in self.bitbuf:
            self.bw.write(bit, 1)
        self.bitbuf = []


def _emit_ac_first(st: _ProgACState, zz: np.ndarray, ss: int, se: int,
                   al: int) -> None:
    r = 0
    wrote = False
    for k in range(ss, se + 1):
        c = int(zz[k])
        t = (abs(c) >> al)
        if t == 0:
            r += 1
            continue
        st.flush()
        wrote = True
        while r > 15:
            st.emit_sym(0xF0)
            r -= 16
        v = t if c > 0 else -t
        s = t.bit_length()
        st.emit_sym((r << 4) | s)
        st.bw.write(v if v > 0 else v + (1 << s) - 1, s)
        r = 0
    if r > 0 or not wrote:
        st.eobrun += 1
        if st.eobrun == 0x7FFF:
            st.flush()


def _emit_ac_refine(st: _ProgACState, zz: np.ndarray, ss: int, se: int,
                    al: int) -> None:
    absv = [(abs(int(zz[k])) >> al) for k in range(ss, se + 1)]
    eob_rel = -1  # index (relative) of the last newly-significant coef
    for i, t in enumerate(absv):
        if t == 1:
            eob_rel = i
    r = 0
    pending: list[int] = []
    for i, t in enumerate(absv):
        if t == 0:
            r += 1
            continue
        while r > 15 and i <= eob_rel:
            st.flush()
            st.emit_sym(0xF0)
            r -= 16
            for bit in pending:
                st.bw.write(bit, 1)
            pending = []
        if t > 1:
            pending.append(t & 1)
            continue
        st.flush()
        st.emit_sym((r << 4) | 1)
        r = 0
        st.bw.write(1 if int(zz[ss + i]) > 0 else 0, 1)
        for bit in pending:
            st.bw.write(bit, 1)
        pending = []
    if r > 0 or pending:
        st.eobrun += 1
        st.bitbuf.extend(pending)
        if st.eobrun == 0x7FFF or len(st.bitbuf) > 900:
            st.flush()


def encode_jpeg_progressive(pixels: "np.ndarray", quality: int = 85,
                            subsample: str = "444", restart_interval: int = 0,
                            scans: list[tuple] | None = None) -> bytes:
    """(h, w) uint8 gray or (h, w, 3) uint8 RGB -> progressive (SOF2) JFIF
    bytes. Same quantization as encode_jpeg at the same quality/subsample,
    so decode of both yields the same pixels. scans overrides the default
    (comp_indices, Ss, Se, Ah, Al) script; successive-approximation
    refinements must step Al down by exactly 1 with Ah = previous Al.
    restart_interval > 0 emits DRI + RSTn every that-many MCUs/blocks in
    every scan (flushing EOB runs first, as the spec requires)."""
    gray, h, w, planes, ql, qc = _prepare_planes(pixels, quality, subsample)
    sub420 = subsample == "420" and not gray
    nc = 1 if gray else 3
    mcu = 16 if sub420 else 8
    ph, pw = -(-h // mcu) * mcu, -(-w // mcu) * mcu
    if sub420:
        padded = [
            _pad_plane(planes[0], ph, pw),
            _pad_plane(planes[1], ph, pw).reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3)),
            _pad_plane(planes[2], ph, pw).reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3)),
        ]
    else:
        padded = [_pad_plane(pl, ph, pw) for pl in planes]
    qmap = [ql] if gray else [ql, qc, qc]
    coefs = [_quantize_component(p, qmap[min(i, 1)])
             for i, p in enumerate(padded)]
    samp = [(2, 2) if (sub420 and i == 0) else (1, 1) for i in range(nc)]
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))

    def nonint_grid(i: int) -> tuple[int, int]:
        cw = -(-w * samp[i][0] // hmax)
        ch = -(-h * samp[i][1] // vmax)
        return -(-ch // 8), -(-cw // 8)

    # ---- header ----------------------------------------------------------
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" + \
        struct.pack(">HH", 1, 1) + b"\x00\x00"
    for tq, q in ((0, ql),) + (((1, qc),) if not gray else ()):
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes((tq,)) + \
            bytes(int(x) for x in q[ZIGZAG])
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for i in range(nc):
        sof += bytes((i + 1, (samp[i][0] << 4) | samp[i][1], 0 if i == 0 else 1))
    out += b"\xff\xc2" + struct.pack(">H", len(sof) + 2) + sof
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    hts = [(0x00, DC_LUMA_BITS, DC_LUMA_VALS),
           (0x10, _AC_FLAT_BITS, _AC_FLAT_VALS)]
    if not gray:
        hts.append((0x01, DC_CHROMA_BITS, DC_CHROMA_VALS))
    for tc_th, bits, vals in hts:
        body = bytes((tc_th,)) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", len(body) + 2) + body
    dc_encs = [_build_encode_table(DC_LUMA_BITS, DC_LUMA_VALS),
               _build_encode_table(DC_CHROMA_BITS, DC_CHROMA_VALS)]
    ac_enc = _build_encode_table(_AC_FLAT_BITS, _AC_FLAT_VALS)

    # ---- scans -----------------------------------------------------------
    for comp_idx, ss, se, ah, al in (scans or _default_progressive_scans(nc)):
        sos = bytes((len(comp_idx),))
        for i in comp_idx:
            td = 0 if i == 0 else 1
            sos += bytes((i + 1, (td << 4) | 0))
        sos += bytes((ss, se, (ah << 4) | al))
        out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos

        bw = _BitWriterMSB()
        rst = 0
        unit = 0
        st = _ProgACState(bw, ac_enc)

        def maybe_restart(preds=None):
            nonlocal rst, unit
            if restart_interval and unit and unit % restart_interval == 0:
                st.flush()
                bw.restart_marker(rst)
                rst += 1
                if preds is not None:
                    for j in range(len(preds)):
                        preds[j] = 0

        if ss == 0:
            preds = [0] * nc

            def dc_block(i: int, by: int, bx: int) -> None:
                c0 = int(coefs[i][by, bx, 0])
                if ah == 0:
                    v = c0 >> al
                    diff = v - preds[i]
                    preds[i] = v
                    t = abs(diff).bit_length()
                    code, ln = dc_encs[min(i, 1)][t]
                    bw.write(code, ln)
                    if t:
                        bw.write(diff if diff > 0 else diff + (1 << t) - 1, t)
                else:
                    bw.write((c0 >> al) & 1, 1)

            if len(comp_idx) > 1:
                for my in range(mcuy):
                    for mx in range(mcux):
                        maybe_restart(preds)
                        for i in comp_idx:
                            hv, vv = samp[i]
                            for vy in range(vv):
                                for vx in range(hv):
                                    dc_block(i, my * vv + vy, mx * hv + vx)
                        unit += 1
            else:
                i = comp_idx[0]
                bh_, bw2 = nonint_grid(i)
                for by in range(bh_):
                    for bx in range(bw2):
                        maybe_restart(preds)
                        dc_block(i, by, bx)
                        unit += 1
        else:
            i = comp_idx[0]
            bh_, bw2 = nonint_grid(i)
            emit = _emit_ac_first if ah == 0 else _emit_ac_refine
            for by in range(bh_):
                for bx in range(bw2):
                    maybe_restart()
                    emit(st, coefs[i][by, bx], ss, se, al)
                    unit += 1
            st.flush()
        bw.flush()
        out += bw.out
    out += b"\xff\xd9"
    return bytes(out)
