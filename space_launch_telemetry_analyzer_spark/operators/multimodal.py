"""Multimodal column plumbing: image/audio/video as opaque binary + metadata.

The Spark-side machinery — schema, partitioning, Arrow batch shape, UDF
signatures — is real and tested. The codec layer decodes the common web
formats FOR REAL, pure stdlib+numpy: PNG (`decode_png`: 8-bit gray/RGB/
palette/alpha, all five scanline filters), GIF (`decode_gif`: LZW,
palettes, interlace), JPEG (operators.jpeg: baseline SOF0 + progressive
SOF2), and WebP (operators.webp: VP8L lossless incl. every transform
plus the VP8 lossy keyframe decoder in operators.vp8,
validated bit-exact against libwebp streams). Each has an encoder sink
twin. TIFF decodes for real too (operators.tiff: strips, LZW/PackBits/Deflate,
predictor 2, palette/gray/RGB — cross-validated both directions against
the system libtiff). Animations composite fully: GIF89a via gif_frames
(transparency + disposal) and animated WebP via operators.webp.webp_frames
(ANMF blend/dispose on a luma+alpha canvas). MP4/ISO-BMFF containers
PROBE for real (operators.mp4 + media_probe: duration/dims/track/codec
from the box grammar; sample decode stays out of scope). Remaining
formats (fax TIFF, mp4 sample data, ...) raise
NotImplementedError/ValueError unless `fake=True`, in which case a
deterministic fake decoder produces stable per-payload features so the
distributed plumbing can be exercised end-to-end.

Scale notes: binary payloads dominate row size, so the operators here
aggressively column-prune before the Python stage, rely on the session-wide
Arrow batch byte cap (ARROW_MAX_BYTES in session.py, next to the row cap) so
a batch of large payloads stays ~32 MB, and emit fixed-size feature vectors
so downstream joins/aggs never carry the blobs.
"""

from __future__ import annotations

import hashlib
import struct as _struct
import zlib
from typing import Iterator, NamedTuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bits import LSBReader, LSBWriter
from .rows import map_rows

MEDIA_META_DDL = (
    "media_id long, kind string, n_bytes long, sha256 string, magic string"
)
IMAGE_FEATURES_DDL = (
    "media_id long, width int, height int, channels int, mean_luma double, "
    "feature array<float>, error string"
)
FRAME_SAMPLE_DDL = "media_id long, frame_idx int, frame_sha256 string"
ANIMATION_FRAMES_DDL = (
    "media_id long, frame_index int, n_frames int, delay_cs int, "
    "disposal int, width int, height int, mean_luma double, luma_sum long, "
    "error string"
)

_MAGIC = {
    b"\x89PNG": "png", b"\xff\xd8\xff": "jpeg", b"GIF8": "gif",
    b"RIFF": "riff", b"\x00\x00\x00": "mp4ish", b"ID3": "mp3", b"OggS": "ogg",
    b"%PDF": "pdf", b"II*\x00": "tiff", b"MM\x00*": "tiff",
    b"BM": "bmp", b"\x00\x00\x01\x00": "ico",
}


def sniff_magic(payload: bytes | None) -> str:
    if not payload:
        return "empty"
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        return "webp"
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return "wav"
    for prefix, name in _MAGIC.items():
        if payload[: len(prefix)] == prefix:
            return name
    return "unknown"


# the ONE Rec.601 luma vector every codec's feature path uses — keep the
# formats' outputs aligned by construction (decode_png/gif here, jpeg.py,
# webp.py, tiff.py all import it)
REC601 = np.array([0.299, 0.587, 0.114])

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# channels per PNG color type (3 = palette: 1 index byte -> 3 RGB via PLTE)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_chunks(payload: bytes):
    """(type, data) chunks of a PNG byte string; validates signature and
    framing (length fields), not CRCs (corrupt data fails in zlib/shape
    checks anyway — CRC-strictness buys nothing for a feature pipeline)."""
    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG: bad signature")
    pos = 8
    while pos + 8 <= len(payload):
        (length,) = _struct.unpack(">I", payload[pos:pos + 4])
        ctype = payload[pos + 4:pos + 8]
        data = payload[pos + 8:pos + 8 + length]
        if len(data) < length:
            raise ValueError("truncated PNG chunk")
        yield ctype, data
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IEND":
            return
    raise ValueError("PNG missing IEND")


def _png_unfilter(raw: bytes, width: int, height: int, bpp: int,
                  stride: int | None = None) -> np.ndarray:
    """Reverse PNG scanline filtering -> (height, stride) uint8 array.
    Filters 0/2 are pure numpy; 1 (Sub) is a per-byte-lane cumsum; 3/4
    (Average/Paeth) fall back to a per-byte loop — row-local, and rare in
    practice for the small fixtures this in-sandbox path serves.
    stride defaults to width*bpp (8-bit pixels); sub-byte and 16-bit
    callers pass the packed byte stride with bpp = the FILTER bpp
    (ceil(depth/8)*channels, min 1, per the spec)."""
    if stride is None:
        stride = width * bpp
    if len(raw) < height * (1 + stride):
        raise ValueError("IDAT too short for declared dimensions")
    out = np.zeros((height, stride), dtype=np.uint8)
    zero_row = np.zeros(stride, dtype=np.uint8)
    for y in range(height):
        base = y * (1 + stride)
        ftype = raw[base]
        line = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=base + 1)
        prev = out[y - 1] if y else zero_row
        if ftype == 0:  # None
            out[y] = line
        elif ftype == 2:  # Up
            out[y] = line + prev  # uint8 arithmetic wraps mod 256
        elif ftype == 1:  # Sub: recon[x] = line[x] + recon[x-bpp]
            for k in range(bpp):
                out[y, k::bpp] = np.cumsum(line[k::bpp], dtype=np.uint64) & 0xFF
        elif ftype == 3:  # Average
            row = out[y]
            for x in range(stride):
                a = int(row[x - bpp]) if x >= bpp else 0
                row[x] = (int(line[x]) + ((a + int(prev[x])) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            row = out[y]
            for x in range(stride):
                a = int(row[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[x] = (int(line[x]) + pred) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
    return out


def luma_features(luma: "np.ndarray", channels: int) -> dict:
    """The ONE fixed-size feature contract every real codec (PNG/GIF/JPEG)
    emits: dimensions, Rec.601 mean luma, exact integer luma sum, and a
    4x4 block-mean grid padded to 16 floats — shared so the per-format
    decoders cannot drift apart (cross-format equality is tested)."""
    h, w = luma.shape
    ys = np.array_split(np.arange(h), min(4, h))
    xs = np.array_split(np.arange(w), min(4, w))
    grid = [float(luma[np.ix_(yb, xb)].mean() / 255.0) for yb in ys for xb in xs]
    grid += [0.0] * (16 - len(grid))
    return {
        "width": int(w), "height": int(h), "channels": int(channels),
        "mean_luma": float(luma.mean() / 255.0),
        "luma_sum": int(np.rint(luma).astype(np.int64).sum()),
        "feature": [float(np.float32(g)) for g in grid],
    }


# Adam7 pass grid: (x0, y0, dx, dy) per pass, PNG spec section 4.5.2
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def decode_png(payload: bytes) -> dict:
    """Real pure-stdlib PNG decode: dimensions, channels, Rec.601 mean
    luma, and a 4x4 block-mean luma grid as the 16-dim feature vector.
    Supports bit depths 1/2/4/8/16, color types 0/2/3/4/6, and both
    non-interlaced and Adam7 interlaced layouts (r5 — validated against
    the system libpng's simplified read API in tests). 16-bit samples map
    to 0..255 as v/257 (65535 -> 255 exactly); sub-byte gray scales by
    255/(2^d-1). Returns the same dict shape as decode_image's fake path
    plus 'luma_sum' (exact integer sum of the rounded per-pixel luma —
    integer, so oracles can check it bitwise)."""
    ihdr = None
    plte = None
    idat = bytearray()
    for ctype, data in _png_chunks(payload):
        if ctype == b"IHDR":
            ihdr = data
        elif ctype == b"PLTE":
            plte = data
        elif ctype == b"IDAT":
            idat += data
    if ihdr is None or len(ihdr) < 13:
        raise ValueError("PNG missing IHDR")
    width, height, depth, color_type, comp, filt, interlace = _struct.unpack(
        ">IIBBBBB", ihdr[:13]
    )
    if depth not in (1, 2, 4, 8, 16):
        raise ValueError(f"invalid PNG bit depth {depth}")
    if color_type not in _PNG_CHANNELS:
        raise ValueError(f"unknown PNG color type {color_type}")
    if depth < 8 and color_type not in (0, 3):
        raise ValueError(f"PNG depth {depth} invalid for color type {color_type}")
    if depth == 16 and color_type == 3:
        raise ValueError("PNG depth 16 invalid for palette color type")
    if comp != 0 or filt != 0:
        raise ValueError("nonstandard PNG compression/filter method")
    if interlace not in (0, 1):
        raise ValueError(f"unknown PNG interlace method {interlace}")
    if width == 0 or height == 0:
        raise ValueError("zero-dimension PNG")
    nch = _PNG_CHANNELS[color_type]
    fbpp = max(1, nch * depth // 8)  # filter bpp per spec (floor, min 1)
    raw = zlib.decompress(bytes(idat))

    def region(buf: bytes, w: int, h: int) -> np.ndarray:
        """Filtered bytes of one w x h (sub)image -> (h, w, nch) samples
        (uint8, or uint16 for depth 16)."""
        stride = (w * nch * depth + 7) // 8
        rows = _png_unfilter(buf, w, h, fbpp, stride=stride)
        if depth == 8:
            return rows[:, : w * nch].reshape(h, w, nch)
        if depth == 16:
            b2 = rows[:, : w * nch * 2].reshape(h, w * nch, 2)
            v = (b2[:, :, 0].astype(np.uint16) << 8) | b2[:, :, 1]
            return v.reshape(h, w, nch)
        bits = np.unpackbits(rows, axis=1)
        vals = bits.reshape(h, -1, depth)
        weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
        v = (vals * weights).sum(axis=2).astype(np.uint8)
        return v[:, : w * nch].reshape(h, w, nch)

    if interlace == 0:
        samples = region(raw, width, height)
    else:
        samples = np.zeros((height, width, nch),
                           dtype=np.uint16 if depth == 16 else np.uint8)
        pos = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            stride = (pw * nch * depth + 7) // 8
            need = ph * (1 + stride)
            samples[y0::dy, x0::dx] = region(raw[pos:pos + need], pw, ph)
            pos += need

    if color_type == 3:
        if plte is None:
            raise ValueError("palette PNG without PLTE")
        pal = np.frombuffer(plte, dtype=np.uint8)
        pal = pal[: (len(pal) // 3) * 3].reshape(-1, 3)
        if len(pal) == 0:
            raise ValueError("palette PNG with empty PLTE")
        # clamp out-of-palette indices (corrupt-but-framed data) instead
        # of IndexError — the contract is ValueError or a best-effort
        # decode, never a foreign exception type
        idx = np.minimum(samples[:, :, 0].astype(np.int64), len(pal) - 1)
        rgb = pal[idx].astype(np.float64)
        luma = rgb @ REC601
        channels = 3
    else:
        if depth == 16:
            px = samples.astype(np.float64) / 257.0
        elif depth < 8:
            px = samples.astype(np.float64) * (255.0 / ((1 << depth) - 1))
        else:
            px = samples.astype(np.float64)
        channels = nch
        if color_type in (0, 4):
            luma = px[:, :, 0]
        else:  # 2 (RGB) / 6 (RGBA): luma from the color channels
            luma = px[:, :, :3] @ REC601

    return luma_features(luma, channels)


def encode_png(pixels: "np.ndarray") -> bytes:
    """Minimal PNG encoder (the sink twin of decode_png): (h, w) uint8 ->
    8-bit grayscale, (h, w, 3) -> 8-bit RGB; filter-0 scanlines, one IDAT.
    Output round-trips through decode_png and any standard viewer."""
    arr = np.ascontiguousarray(pixels, dtype=np.uint8)
    if arr.ndim == 2:
        color_type, h, w = 0, arr.shape[0], arr.shape[1]
        flat = arr
    elif arr.ndim == 3 and arr.shape[2] == 3:
        color_type, h, w = 2, arr.shape[0], arr.shape[1]
        flat = arr.reshape(h, w * 3)
    else:
        raise ValueError("encode_png wants (h,w) gray or (h,w,3) rgb uint8")
    scanlines = b"".join(b"\x00" + flat[y].tobytes() for y in range(h))

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (_struct.pack(">I", len(data)) + ctype + data
                + _struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))

    ihdr = _struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (_PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(scanlines))
            + chunk(b"IEND", b""))


# ---------------------------------------------------------------------------
# GIF (87a/89a): the other fully-stdlib-decodable web format — LZW inflate,
# global/local palettes, interlace, frame counting for animations.
# ---------------------------------------------------------------------------


def _gif_subblocks(payload: bytes, pos: int) -> tuple[bytes, int]:
    """Concatenate data sub-blocks starting at pos; returns (data, new_pos
    past the 0 terminator)."""
    out = bytearray()
    while True:
        if pos >= len(payload):
            raise ValueError("truncated GIF sub-blocks")
        n = payload[pos]
        pos += 1
        if n == 0:
            return bytes(out), pos
        if pos + n > len(payload):
            raise ValueError("truncated GIF sub-block")
        out += payload[pos:pos + n]
        pos += n


def _lzw_decode(data: bytes, min_code_size: int, n_pixels: int) -> bytearray:
    """GIF-variant LZW: variable code width, CLEAR/END codes, table reset."""
    clear = 1 << min_code_size
    end = clear + 1
    br = LSBReader(data)
    out = bytearray()
    base = [bytes((i,)) for i in range(clear)] + [b"", b""]
    table: list[bytes] = []
    width = min_code_size + 1
    prev: bytes | None = None
    while len(out) < n_pixels:
        code = br.read(width)
        if code == clear:
            table = list(base)
            width = min_code_size + 1
            prev = None
            continue
        if code == end:
            break
        if not table:  # stream must open with CLEAR; tolerate writers that don't
            table = list(base)
        if code < len(table) and (code < clear or table[code]):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]  # the KwKwK case
        else:
            raise ValueError(f"bad LZW code {code}")
        out += entry
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    return out


_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


class _GifFrame(NamedTuple):
    left: int
    top: int
    width: int
    height: int
    interlaced: bool
    palette: "np.ndarray | None"  # (n, 3) uint8: local table, else global
    min_code_size: int
    data: bytes  # the image's LZW sub-blocks, concatenated
    gce: tuple | None  # (disposal, delay_cs, transparent index | None)


def _gif_color_table(payload: bytes, pos: int, packed: int,
                     which: str) -> tuple["np.ndarray | None", int]:
    """The color table a packed-fields byte announces at pos, as (n, 3)
    uint8, and the offset past it."""
    if not packed & 0x80:
        return None, pos
    n = 2 << (packed & 0x07)
    table = payload[pos:pos + 3 * n]
    if len(table) < 3 * n:
        raise ValueError(f"truncated GIF {which} color table")
    return np.frombuffer(table, dtype=np.uint8).reshape(n, 3), pos + 3 * n


def _gif_walk(payload: bytes):
    """Check a GIF's header and read its global color table; returns
    (screen_w, screen_h, bg_index, global_table, frames), where `frames`
    walks the block stream lazily and yields one _GifFrame per image
    descriptor. Extensions are skipped; a Graphic Control Extension
    attaches to the next frame. Structural errors raise ValueError when
    the walk reaches them."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF: bad signature")
    if len(payload) < 13:
        raise ValueError("truncated GIF header")
    sw, sh = _struct.unpack_from("<HH", payload, 6)
    gct, pos = _gif_color_table(payload, 13, payload[10], "global")
    return sw, sh, payload[11], gct, _gif_blocks(payload, pos, gct)


def _gif_blocks(payload: bytes, pos: int, gct) -> Iterator[_GifFrame]:
    gce = None
    while pos < len(payload):
        b = payload[pos]
        pos += 1
        if b == 0x3B:  # trailer
            return
        if b == 0x21:  # extension: label + sub-blocks
            if pos >= len(payload):
                raise ValueError("truncated GIF extension")
            label = payload[pos]
            data, pos = _gif_subblocks(payload, pos + 1)
            if label == 0xF9 and len(data) >= 4:
                gce = ((data[0] >> 2) & 0x07, data[1] | (data[2] << 8),
                       data[3] if data[0] & 0x01 else None)
            continue
        if b != 0x2C:
            raise ValueError(f"unknown GIF block 0x{b:02x}")
        if pos + 9 > len(payload):
            raise ValueError("truncated GIF image descriptor")
        left, top, w, h = _struct.unpack_from("<HHHH", payload, pos)
        ipacked = payload[pos + 8]
        lct, pos = _gif_color_table(payload, pos + 9, ipacked, "local")
        if pos >= len(payload):
            raise ValueError("truncated GIF image data")
        mcs = payload[pos]
        data, pos = _gif_subblocks(payload, pos + 1)
        yield _GifFrame(left, top, w, h, bool(ipacked & 0x40),
                        gct if lct is None else lct, mcs, data, gce)
        gce = None


def _gif_pixels(fr: _GifFrame) -> tuple[np.ndarray, np.ndarray]:
    """A frame's (h, w) palette indices and (h, w, 3) uint8 colors: LZW,
    underrun check, interlace reordering, palette lookup (indices past
    the table clamp to its last entry)."""
    w, h = fr.width, fr.height
    if w == 0 or h == 0:
        raise ValueError("zero-dimension GIF frame")
    idx = _lzw_decode(fr.data, fr.min_code_size, w * h)
    if len(idx) < w * h:
        raise ValueError("GIF frame underruns declared dimensions")
    arr = np.frombuffer(bytes(idx[: w * h]), dtype=np.uint8).reshape(h, w)
    if fr.interlaced:  # rows arrive in 4 passes
        order = [y for start, step in _GIF_INTERLACE_PASSES
                 for y in range(start, h, step)]
        de = np.empty_like(arr)
        de[np.array(order)] = arr
        arr = de
    pal = fr.palette
    if pal is None:
        raise ValueError("GIF frame without any color table")
    return arr, pal[np.minimum(arr, len(pal) - 1)]


def decode_gif(payload: bytes) -> dict:
    """Real pure-stdlib GIF decode: first frame -> palette-mapped RGB with
    the same feature contract as decode_png (dimensions, channels=3,
    Rec.601 mean/sum luma, 4x4 block-mean grid), plus `n_frames` counting
    every image descriptor (animations). Handles 87a/89a, global and local
    color tables, interlaced frames, and skips extensions."""
    *_, frames = _gif_walk(payload)
    rgb = None
    n_frames = 0
    for fr in frames:
        n_frames += 1
        if rgb is None:
            _, rgb = _gif_pixels(fr)
    if rgb is None:
        raise ValueError("GIF contains no image frame")
    out = luma_features(rgb.astype(np.float64) @ REC601, 3)
    out["n_frames"] = int(n_frames)
    return out


def encode_gif(indices: "np.ndarray", palette: bytes | None = None) -> bytes:
    """Minimal GIF89a encoder (the sink twin of decode_gif): (h, w) uint8
    index array + 256-entry RGB palette (default: grayscale identity).
    Emits literal 9-bit LZW codes with periodic CLEARs (the standard
    'uncompressed GIF' technique) — larger output, bit-exact indices."""
    arr = np.ascontiguousarray(indices, dtype=np.uint8)
    if arr.ndim != 2:
        raise ValueError("encode_gif wants an (h, w) uint8 index array")
    h, w = arr.shape
    if palette is None:
        palette = bytes(v for i in range(256) for v in (i, i, i))
    if len(palette) != 768:
        raise ValueError("palette must be 256 RGB entries (768 bytes)")

    out = bytearray(b"GIF89a")
    out += _struct.pack("<HH", w, h)
    out += bytes((0x80 | 0x07, 0, 0))  # GCT present, 256 entries
    out += palette
    out += b"\x2c" + _struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
    out += _gif_lzw_image_data(arr)
    out += b"\x3b"
    return bytes(out)


def _gif_lzw_image_data(arr: "np.ndarray") -> bytes:
    """LZW min-code-size byte + sub-block-wrapped literal 9-bit code stream
    for one (h, w) uint8 index frame (the 'uncompressed GIF' technique —
    larger output, bit-exact indices). Shared by encode_gif and
    encode_gif_anim so the single- and multi-frame sinks cannot drift."""
    bw = LSBWriter()
    CLEAR, END = 256, 257
    bw.write(CLEAR, 9)
    flat = np.ascontiguousarray(arr, dtype=np.uint8).reshape(-1)
    for i, v in enumerate(flat):
        bw.write(int(v), 9)
        # decoder table grows by one per literal after the first; reset
        # before the code width would have to widen past 9 bits
        if (i + 1) % 253 == 0:
            bw.write(CLEAR, 9)
    bw.write(END, 9)
    br_out = bw.finish()

    out = bytearray((8,))  # min LZW code size
    for off in range(0, len(br_out), 255):
        chunk = br_out[off:off + 255]
        out += bytes((len(chunk),)) + chunk
    out += b"\x00"
    return bytes(out)


def encode_gif_anim(
    width: int,
    height: int,
    frames: list,
    palette: bytes | None = None,
    loop: bool = True,
) -> bytes:
    """Animated-GIF89a encoder (the sink twin of gif_frames). `frames` is a
    list of dicts: {"indices": (h, w) uint8 array, "left": int, "top": int,
    "delay_cs": int, "disposal": 0..3, "transparent": palette index or
    None}; missing keys default to a full-rate opaque frame at (0, 0) with
    disposal 1. One Graphic Control Extension precedes every image
    descriptor; a NETSCAPE2.0 loop block follows the GCT when `loop`.
    Palette defaults to the 256-entry grayscale identity."""
    if palette is None:
        palette = bytes(v for i in range(256) for v in (i, i, i))
    if len(palette) != 768:
        raise ValueError("palette must be 256 RGB entries (768 bytes)")
    if not frames:
        raise ValueError("encode_gif_anim needs at least one frame")

    out = bytearray(b"GIF89a")
    out += _struct.pack("<HH", width, height)
    out += bytes((0x80 | 0x07, 0, 0))  # GCT present, 256 entries; bg idx 0
    out += palette
    if loop:
        out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    for fr in frames:
        arr = np.ascontiguousarray(fr["indices"], dtype=np.uint8)
        if arr.ndim != 2:
            raise ValueError("frame indices must be an (h, w) uint8 array")
        fh, fw = arr.shape
        left = int(fr.get("left", 0))
        top = int(fr.get("top", 0))
        transparent = fr.get("transparent")
        packed = ((int(fr.get("disposal", 1)) & 0x07) << 2) | (
            1 if transparent is not None else 0
        )
        out += b"\x21\xf9\x04" + bytes((packed,))
        out += _struct.pack("<H", int(fr.get("delay_cs", 0)))
        out += bytes((int(transparent or 0), 0))
        out += b"\x2c" + _struct.pack("<HHHH", left, top, fw, fh) + b"\x00"
        out += _gif_lzw_image_data(arr)
    out += b"\x3b"
    return bytes(out)


class FrameGrid:
    """The sampled frame indices ``range(start_frame, end_frame or n,
    sample_rate)[:max_frames]`` of an animation with n frames, the frame
    grid of the reference's video iteration
    (processing/video_processing/batch_processing.py:31 there:
    ``range(0, frame_count, sample_rate)`` with the start/end/max knobs of
    main_processing.iterate_through_frames). Pure arithmetic, never a
    materialized index set: `stop` is exclusive and `last` is the largest
    on-grid index below it (None = sample to the end of the file)."""

    __slots__ = ("start", "step", "stop", "last")

    def __init__(self, sample_rate: int, start_frame: int | None,
                 end_frame: int | None, max_frames: int | None):
        if sample_rate < 1:
            raise ValueError("sample_rate must be >= 1")
        self.start = start = start_frame or 0
        self.step = sample_rate
        self.stop = self.last = None
        if end_frame is not None or max_frames is not None:
            stop = end_frame if end_frame is not None else (1 << 31)
            if max_frames is not None:
                stop = min(stop, start + max_frames * sample_rate)
            self.stop = stop
            self.last = (start + ((stop - 1 - start) // sample_rate)
                         * sample_rate) if stop > start else -1

    def sampled(self, fi: int) -> bool:
        return (fi >= self.start and (fi - self.start) % self.step == 0
                and (self.stop is None or fi < self.stop))

    def past(self, fi: int) -> bool:
        """True once `fi` lies beyond the last sampled frame."""
        return self.last is not None and fi > self.last


def gif_frames(
    payload: bytes,
    sample_rate: int = 1,
    start_frame: int | None = None,
    end_frame: int | None = None,
    max_frames: int | None = None,
) -> list:
    """Full animated-GIF decode with GIF89a compositing: every frame is
    rendered onto the logical-screen canvas honoring frame offsets, local
    palettes, interlace, GCE transparency (transparent pixels leave the
    canvas untouched) and disposal methods 0/1 (leave), 2 (restore frame
    rect to the background color) and 3 (restore rect to the previous
    canvas). Returns one dict per frame that FrameGrid samples:
    frame_index, delay_cs, disposal, plus the shared luma_features
    contract of the composited canvas. Every frame up to the last sampled
    one is still decoded — compositing is sequential, exactly like video
    group-of-pictures decode — but pixel work stops there, while header
    scanning continues so n_frames is the file's true frame count.

    The initial canvas is the background color (GCT entry at the header's
    background index; black without a GCT) — a documented deviation from
    browsers, which treat the background as transparent; features need a
    concrete color."""
    sw, sh, bg_index, gpal, frames = _gif_walk(payload)
    grid = FrameGrid(sample_rate, start_frame, end_frame, max_frames)
    if sw == 0 or sh == 0:
        raise ValueError("zero-dimension GIF logical screen")
    if gpal is not None:
        bg_rgb = gpal[min(bg_index, len(gpal) - 1)]
    else:
        bg_rgb = np.zeros(3, dtype=np.uint8)

    canvas = np.empty((sh, sw, 3), dtype=np.uint8)
    canvas[:] = bg_rgb
    out: list = []
    n_frames = 0
    for fi, fr in enumerate(frames):
        n_frames = fi + 1
        if grid.past(fi):
            continue  # keep scanning headers for n_frames only
        disposal, delay_cs, transparent = fr.gce or (0, 0, None)
        top, left, h, w = fr.top, fr.left, fr.height, fr.width
        if left + w > sw or top + h > sh:
            raise ValueError("GIF frame exceeds logical screen")
        arr, frame_rgb = _gif_pixels(fr)

        rect = canvas[top:top + h, left:left + w]
        saved = rect.copy() if disposal == 3 else None
        if transparent is not None:
            opaque = arr != transparent
            rect[opaque] = frame_rgb[opaque]
        else:
            rect[:] = frame_rgb

        if grid.sampled(fi):
            luma = canvas.astype(np.float64) @ REC601
            feat = luma_features(luma, 3)
            feat["frame_index"] = fi
            feat["delay_cs"] = int(delay_cs)
            feat["disposal"] = int(disposal)
            out.append(feat)

        if disposal == 2:
            rect[:] = bg_rgb
        elif disposal == 3:
            rect[:] = saved

    if n_frames == 0:
        # same contract as decode_gif: a structurally valid but frameless
        # file is an error row, never a silently vanishing id
        raise ValueError("GIF contains no image frame")
    for feat in out:
        feat["n_frames"] = int(n_frames)
    return out


def _payload(payload: bytes | None) -> bytes:
    """A blob cell, or ValueError into the row-level error channel."""
    if payload is None:
        raise ValueError("null payload")
    return payload


def animation_frames(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    sample_rate: int = 1,
    start_frame: int | None = None,
    end_frame: int | None = None,
    max_frames: int | None = None,
) -> DataFrame:
    """Distributed frame iteration: one input row (id, animated-GIF blob) ->
    one output row per sampled composited frame, the Spark twin of the
    reference's iterate_through_frames batch loop
    (/root/reference/processing/video_processing/main_processing.py:17 —
    batch_size there is an executor tuning knob; here Arrow batch sizing
    plays that role). Column-prunes to (id, payload) before the Python
    boundary; per-row decode failures land in `error` with frame_index
    NULL (the engine's row-level error channel), never as task failures."""
    narrow = df.select(
        F.col(id_col).alias("media_id"), F.col(payload_col).alias("payload")
    )
    return map_rows(narrow, lambda p: gif_frames(
        _payload(p), sample_rate=sample_rate, start_frame=start_frame,
        end_frame=end_frame, max_frames=max_frames,
    ), ANIMATION_FRAMES_DDL)


def decode_image(payload: bytes, fake: bool = False) -> dict:
    """PNG, GIF, JPEG (baseline SOF0 + progressive SOF2), WebP (VP8L
    lossless incl. all transforms), and TIFF payloads decode FOR REAL
    (decode_png / decode_gif here, operators.jpeg.decode_jpeg,
    operators.webp.decode_webp (both VP8L lossless and, via
    operators.vp8, VP8 lossy keyframes), operators.tiff.decode_tiff —
    all pure stdlib+numpy; WebP/TIFF are cross-validated against the
    system libwebp/libtiff). Formats with no codec here (mp4, ogg,
    fax TIFF, ...) raise NotImplementedError/ValueError unless fake=True,
    where a deterministic fake derives stable pseudo-features from the
    payload hash so tests can exercise the distributed path."""
    if payload[:8] == _PNG_SIG:
        return decode_png(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif(payload)
    if payload[:2] == b"\xff\xd8":
        from .jpeg import decode_jpeg

        return decode_jpeg(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        from .webp import decode_webp

        return decode_webp(payload)
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        from .tiff import decode_tiff

        return decode_tiff(payload)
    if payload[:2] == b"BM":
        from .bmp import decode_bmp

        return decode_bmp(payload)
    if payload[:4] == b"\x00\x00\x01\x00":
        from .bmp import decode_ico

        return decode_ico(payload)
    if not fake:
        raise NotImplementedError(
            "image decode for this format requires an imaging library "
            "(Pillow/opencv); not available in this environment — pass "
            "fake=True for the deterministic test decoder"
        )
    h = hashlib.sha256(payload).digest()
    width = 64 + h[0] % 192
    height = 64 + h[1] % 192
    rng = np.frombuffer(h, dtype=np.uint8).astype(np.float64)
    feature = (rng[:16] / 255.0).astype(np.float32)
    return {
        "width": int(width), "height": int(height), "channels": 3,
        "mean_luma": float(rng.mean() / 255.0), "feature": feature.tolist(),
    }


def media_metadata(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """Typed metadata WITHOUT touching Python: size, hash, magic-sniff are
    all JVM expressions, so this runs at scan speed and the blobs never
    cross the Arrow boundary."""
    p = F.col(payload_col)
    magic = (
        F.when(p.isNull() | (F.octet_length(p) == 0), F.lit("empty"))
        .when(F.startswith(p, F.lit(b"\x89PNG")), F.lit("png"))
        .when(F.startswith(p, F.lit(b"\xff\xd8\xff")), F.lit("jpeg"))
        .when(F.startswith(p, F.lit(b"GIF8")), F.lit("gif"))
        .when(F.startswith(p, F.lit(b"RIFF")) &
              (F.substring(p, 9, 4) == F.lit(b"WEBP")), F.lit("webp"))
        .when(F.startswith(p, F.lit(b"RIFF")) &
              (F.substring(p, 9, 4) == F.lit(b"WAVE")), F.lit("wav"))
        .when(F.startswith(p, F.lit(b"RIFF")), F.lit("riff"))
        .when(F.startswith(p, F.lit(b"II*\x00")) |
              F.startswith(p, F.lit(b"MM\x00*")), F.lit("tiff"))
        .when(F.startswith(p, F.lit(b"ID3")), F.lit("mp3"))
        .when(F.startswith(p, F.lit(b"OggS")), F.lit("ogg"))
        .when(F.startswith(p, F.lit(b"%PDF")), F.lit("pdf"))
        .otherwise(F.lit("unknown"))
    )
    return df.select(
        F.col(id_col).alias("media_id"),
        magic.alias("magic"),
        F.octet_length(p).cast("long").alias("n_bytes"),
        F.sha2(F.coalesce(p, F.lit(b"")), 256).alias("sha256"),
    )


def image_features(df: DataFrame, id_col: str, payload_col: str, fake: bool = True) -> DataFrame:
    """decode/feature-extract in one Arrow pass: blobs in, fixed-size features
    out. Column-prunes to (id, payload) before the Python boundary; per-row
    failures land in `error` (the engine's row-level error channel)."""
    narrow = df.select(F.col(id_col).alias("media_id"), F.col(payload_col).alias("payload"))
    return map_rows(narrow, lambda p: [decode_image(_payload(p), fake=fake)],
                    IMAGE_FEATURES_DDL)


def sample_frames(df: DataFrame, id_col: str, payload_col: str, every_n_bytes: int = 4096,
                  max_frames: int = 8) -> DataFrame:
    """Video frame-sample analog: slice the payload at fixed offsets ("key
    frames") and hash each slice — real video decode is stubbed, but the
    fan-out shape (1 row -> N frame rows, explode after mapInPandas) is the
    production shape."""
    narrow = df.select(F.col(id_col).alias("media_id"), F.col(payload_col).alias("payload"))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, hashes = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                data = bytes(payload)
                for fi in range(min(max_frames, max(1, len(data) // every_n_bytes))):
                    chunk = data[fi * every_n_bytes : (fi + 1) * every_n_bytes]
                    ids.append(mid); idxs.append(fi)
                    hashes.append(hashlib.sha256(chunk).hexdigest())
            yield pd.DataFrame({"media_id": ids, "frame_idx": idxs, "frame_sha256": hashes})

    return narrow.mapInPandas(kernel, schema=FRAME_SAMPLE_DDL)


WEBP_ANIMATION_FRAMES_DDL = (
    "media_id long, frame_index int, n_frames int, duration_ms int, "
    "blend boolean, dispose boolean, width int, height int, "
    "mean_luma double, luma_sum long, error string"
)


def webp_animation_frames(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    sample_rate: int = 1,
    start_frame: int | None = None,
    end_frame: int | None = None,
    max_frames: int | None = None,
) -> DataFrame:
    """WebP twin of animation_frames: one (id, animated-WebP blob) row ->
    one row per sampled ANMF-composited canvas frame (operators.webp.
    webp_frames does the ANIM/ANMF blend/dispose compositing; still WebPs
    yield one frame). Same reference frame-grid semantics, same
    column-prune + row-level error channel contract."""
    from .webp import webp_frames

    narrow = df.select(
        F.col(id_col).alias("media_id"), F.col(payload_col).alias("payload")
    )
    return map_rows(narrow, lambda p: webp_frames(
        _payload(p), sample_rate=sample_rate, start_frame=start_frame,
        end_frame=end_frame, max_frames=max_frames,
    ), WEBP_ANIMATION_FRAMES_DDL)


MEDIA_PROBE_DDL = (
    "media_id long, major_brand string, timescale long, duration_ms long, "
    "n_tracks int, video_codec string, audio_codec string, "
    "width int, height int, n_frames long, fps double, error string"
)


def media_probe(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """Container-structure probe for video blobs (MP4/ISO-BMFF): duration,
    dimensions, track layout, codec fourccs — the reference's
    cv2 property read (CAP_PROP_FPS/FRAME_COUNT,
    /root/reference/processing/video_processing/main_processing.py:56-58)
    re-expressed as a header-cost scan over binary columns. No codec
    decode, no shuffle; per-row failures land in `error`."""
    from .mp4 import parse_mp4

    narrow = df.select(
        F.col(id_col).alias("media_id"), F.col(payload_col).alias("payload")
    )
    return map_rows(narrow, lambda p: [parse_mp4(_payload(p))],
                    MEDIA_PROBE_DDL)
