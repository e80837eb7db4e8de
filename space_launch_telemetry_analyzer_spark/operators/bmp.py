"""BMP/DIB + ICO codecs: real decode + encoder sink twin, pure stdlib+numpy.

Legacy-web raster coverage beyond PNG/GIF/JPEG/WebP/TIFF (reference analog:
the cv2 frame reads in /root/reference/processing/video_processing/
batch_processing.py:59-69 that the codec layer replaces for crawl
payloads — cv2.imread handles .bmp/.ico transparently, so a crawl pipeline
parity story needs them too). Written from the public Windows BMP file
format (BITMAPFILEHEADER/BITMAPCOREHEADER/BITMAPINFOHEADER+V4/V5) and the
ICO resource format.

Coverage:
- DIB headers: 12-byte BITMAPCOREHEADER and 40/52/56/64/108/124-byte
  BITMAPINFOHEADER family.
- Bit depths 1/4/8 (palette), 16 (XRGB555 default or BI_BITFIELDS masks),
  24 (BGR), 32 (BGRX default or BI_BITFIELDS masks incl. alpha).
- BI_RLE8 and BI_RLE4 compression (encoded runs, absolute runs, EOL, EOF,
  delta moves), bottom-up AND top-down (negative height) row orders,
  4-byte row padding.
- ICO: directory walk, per-entry PNG payloads (routed to decode_png) or
  DIB payloads (doubled-height XOR+AND mask), `n_images` count; features
  from the FIRST directory entry, mirroring the GIF/animated-WebP
  first-frame contract.

encode_bmp is the sink twin (24-bit BI_RGB, bottom-up); encode_ico wraps
encoded BMPs (or a PNG) into a valid directory. BMP is lossless, so
roundtrips assert byte-exact pixels.

Decode is numpy-vectorized per image (row de-padding via reshape, palette
gather, mask shifts); only RLE runs loop in Python, bounded by payload
size. The distributed path (multimodal.image_features) batches via
mapInArrow like PNG/GIF.
"""

from __future__ import annotations

import struct

import numpy as np

_MAX_PIXELS = 1 << 24  # same 16.7MP adversarial cap as PNG/VP8L/TIFF


def _mask_shift(mask: int) -> tuple[int, int]:
    """(shift, width) of a contiguous bitfield mask; (0, 0) for mask 0."""
    if mask == 0:
        return 0, 0
    shift = (mask & -mask).bit_length() - 1
    width = (mask >> shift).bit_length()
    return shift, width


def _scale_to_8(vals: np.ndarray, width: int) -> np.ndarray:
    """Scale a width-bit channel to 8 bits (round-half-up replication,
    the conventional 255*v/(2^w-1) rounding)."""
    if width == 0:
        return np.zeros_like(vals, dtype=np.uint8)
    if width == 8:
        return vals.astype(np.uint8)
    maxv = (1 << width) - 1
    return ((vals.astype(np.uint32) * 255 + maxv // 2) // maxv).astype(
        np.uint8)


def _decode_rle(data: bytes, w: int, h: int, four_bit: bool) -> np.ndarray:
    """BI_RLE8/BI_RLE4 -> (h, w) palette indices, bottom-up rows already
    flipped to top-down. Escape codes: 0,0 = end of line; 0,1 = end of
    bitmap; 0,2 = delta (dx, dy up in file order = down in image order)."""
    out = np.zeros((h, w), dtype=np.uint8)
    x, y = 0, h - 1  # file order is bottom-up
    pos = 0
    n = len(data)
    while pos + 1 < n:
        cnt, val = data[pos], data[pos + 1]
        pos += 2
        if cnt > 0:  # encoded run
            if four_bit:
                pix = [(val >> 4) & 0xF, val & 0xF] * ((cnt + 1) // 2)
                run = pix[:cnt]
            else:
                run = [val] * cnt
            end = min(x + cnt, w)
            if 0 <= y < h:
                out[y, x:end] = run[: end - x]
            x += cnt
            continue
        if val == 0:  # end of line
            x, y = 0, y - 1
            continue
        if val == 1:  # end of bitmap
            break
        if val == 2:  # delta
            if pos + 1 >= n:
                raise ValueError("truncated BMP RLE delta")
            x += data[pos]
            y -= data[pos + 1]
            pos += 2
            continue
        # absolute run of `val` pixels, padded to 16-bit boundary
        if four_bit:
            nbytes = (val + 1) // 2
            chunk = data[pos:pos + nbytes]
            if len(chunk) < nbytes:
                raise ValueError("truncated BMP RLE absolute run")
            pix = []
            for b in chunk:
                pix.append((b >> 4) & 0xF)
                pix.append(b & 0xF)
            run = pix[:val]
            pos += nbytes + (nbytes & 1)
        else:
            run = list(data[pos:pos + val])
            if len(run) < val:
                raise ValueError("truncated BMP RLE absolute run")
            pos += val + (val & 1)
        end = min(x + val, w)
        if 0 <= y < h:
            out[y, x:end] = run[: end - x]
        x += val
    return out


def decode_dib(payload: bytes, offset: int, pixel_offset: int | None,
               ico_mask: bool = False) -> tuple[np.ndarray, int]:
    """Decode a DIB (header + palette + pixels) starting at `offset`.
    Returns ((h, w, 4) uint8 RGBA, channels) where channels is 4 when the
    source carries alpha (32bpp or an ICO AND mask), else 3.  For ICO
    payloads the header's height is doubled (XOR image + AND mask) and
    `pixel_offset` is None (pixels follow the palette directly)."""
    if offset + 4 > len(payload):
        raise ValueError("truncated BMP DIB header")
    hsize = struct.unpack_from("<I", payload, offset)[0]
    if hsize == 12:  # BITMAPCOREHEADER
        if offset + 12 > len(payload):
            raise ValueError("truncated BMP core header")
        w, h, _planes, bpp = struct.unpack_from("<HHHH", payload, offset + 4)
        compression, clr_used = 0, 0
        pal_entry = 3
        top_down = False
    else:
        if hsize < 40 or offset + 40 > len(payload):
            raise ValueError(f"unsupported BMP DIB header size {hsize}")
        w, h = struct.unpack_from("<ii", payload, offset + 4)
        _planes, bpp = struct.unpack_from("<HH", payload, offset + 12)
        compression = struct.unpack_from("<I", payload, offset + 16)[0]
        clr_used = struct.unpack_from("<I", payload, offset + 32)[0]
        pal_entry = 4
        top_down = h < 0
        h = abs(h)
    if ico_mask:
        if h % 2:
            raise ValueError("ICO DIB height must be doubled (XOR+AND)")
        h //= 2
    if w <= 0 or h <= 0:
        raise ValueError("non-positive BMP dimensions")
    if w * h > _MAX_PIXELS:
        raise ValueError("BMP dimensions exceed the 16.7MP decode cap")
    if bpp not in (1, 4, 8, 16, 24, 32):
        raise ValueError(f"unsupported BMP bit depth {bpp}")
    if compression not in (0, 1, 2, 3):
        raise ValueError(f"unsupported BMP compression {compression}")

    # bitfield masks: BI_BITFIELDS stores them in the header (>=52-byte
    # headers) or as 3 DWORDs right after a 40-byte header
    pal_pos = offset + hsize
    if compression == 3:
        if bpp not in (16, 32):
            raise ValueError("BI_BITFIELDS requires 16/32 bpp")
        if hsize >= 52:
            masks = struct.unpack_from("<III", payload, offset + 40)
            amask = struct.unpack_from("<I", payload, offset + 52)[0] \
                if hsize >= 56 else 0
        else:
            masks = struct.unpack_from("<III", payload, pal_pos)
            amask = 0
            pal_pos += 12
        rmask, gmask, bmask = masks
    elif bpp == 16:
        rmask, gmask, bmask, amask = 0x7C00, 0x03E0, 0x001F, 0
    else:
        rmask, gmask, bmask, amask = 0xFF0000, 0x00FF00, 0x0000FF, 0

    palette = None
    if bpp <= 8:
        n_colors = clr_used or (1 << bpp)
        if n_colors > 256:
            raise ValueError("BMP palette too large")
        raw = payload[pal_pos:pal_pos + n_colors * pal_entry]
        if len(raw) < n_colors * pal_entry:
            raise ValueError("truncated BMP palette")
        arr = np.frombuffer(raw, dtype=np.uint8).reshape(-1, pal_entry)
        palette = arr[:, [2, 1, 0]]  # BGR(A) -> RGB
        pal_pos += n_colors * pal_entry

    data_pos = pixel_offset if pixel_offset is not None else pal_pos
    if compression in (1, 2):
        if (compression == 1 and bpp != 8) or \
                (compression == 2 and bpp != 4):
            raise ValueError("BMP RLE mode does not match bit depth")
        idx = _decode_rle(payload[data_pos:], w, h, four_bit=(bpp == 4))
        if top_down:
            idx = idx[::-1]
        rgb = palette[np.minimum(idx, len(palette) - 1)]
        rgba = np.dstack([rgb, np.full((h, w), 255, dtype=np.uint8)])
        return rgba, 3

    stride = ((w * bpp + 31) // 32) * 4
    need = stride * h
    rows = payload[data_pos:data_pos + need]
    if len(rows) < need:
        raise ValueError("truncated BMP pixel data")
    raw = np.frombuffer(rows, dtype=np.uint8).reshape(h, stride)
    if not top_down:
        raw = np.ascontiguousarray(raw[::-1])

    channels = 3
    if bpp <= 8:
        bits = np.unpackbits(raw, axis=1)  # MSB-first within each byte
        if bpp == 1:
            idx = bits[:, :w]
        else:
            grouped = bits.reshape(h, -1, bpp)
            weights = 1 << np.arange(bpp - 1, -1, -1)
            idx = (grouped * weights).sum(axis=2)[:, :w]
        rgb = palette[np.minimum(idx.astype(np.intp), len(palette) - 1)]
        alpha = np.full((h, w), 255, dtype=np.uint8)
    elif bpp == 16:
        px = raw.view(np.uint16)[:, :w]
        rs, rw = _mask_shift(rmask)
        gs, gw = _mask_shift(gmask)
        bs, bw = _mask_shift(bmask)
        rgb = np.dstack([
            _scale_to_8((px >> rs) & ((1 << rw) - 1 if rw else 0), rw),
            _scale_to_8((px >> gs) & ((1 << gw) - 1 if gw else 0), gw),
            _scale_to_8((px >> bs) & ((1 << bw) - 1 if bw else 0), bw)])
        if amask:
            as_, aw = _mask_shift(amask)
            alpha = _scale_to_8((px >> as_) & ((1 << aw) - 1), aw)
            channels = 4
        else:
            alpha = np.full((h, w), 255, dtype=np.uint8)
    elif bpp == 24:
        px = raw[:, : w * 3].reshape(h, w, 3)
        rgb = px[:, :, [2, 1, 0]]
        alpha = np.full((h, w), 255, dtype=np.uint8)
    else:  # 32
        px = raw[:, : w * 4].reshape(h, w, 4)
        if compression == 3:
            dw = px.view(np.uint32).reshape(h, w)
            rs, rw = _mask_shift(rmask)
            gs, gw = _mask_shift(gmask)
            bs, bw = _mask_shift(bmask)
            rgb = np.dstack([
                _scale_to_8((dw >> rs) & ((1 << rw) - 1 if rw else 0), rw),
                _scale_to_8((dw >> gs) & ((1 << gw) - 1 if gw else 0), gw),
                _scale_to_8((dw >> bs) & ((1 << bw) - 1 if bw else 0), bw)])
            if amask:
                as_, aw = _mask_shift(amask)
                alpha = _scale_to_8((dw >> as_) & ((1 << aw) - 1), aw)
            else:
                alpha = np.full((h, w), 255, dtype=np.uint8)
        else:
            rgb = px[:, :, [2, 1, 0]]
            alpha = px[:, :, 3]
        channels = 4
    rgba = np.dstack([rgb, alpha])

    if ico_mask and compression == 0:
        # AND mask: 1-bit, rows padded to 32 bits, same bottom-up order
        mask_pos = data_pos + need
        mstride = ((w + 31) // 32) * 4
        mrows = payload[mask_pos:mask_pos + mstride * h]
        if len(mrows) == mstride * h:
            mbits = np.unpackbits(
                np.frombuffer(mrows, dtype=np.uint8).reshape(h, mstride),
                axis=1)[:, :w]
            if not top_down:
                mbits = mbits[::-1]
            rgba = rgba.copy()
            rgba[:, :, 3] = np.where(mbits == 1, 0, rgba[:, :, 3])
            channels = 4
    return rgba, channels


def decode_bmp(payload: bytes) -> dict:
    """Real BMP decode -> the shared luma_features contract (dimensions,
    channels, Rec.601 mean/sum luma, 4x4 block-mean grid)."""
    from .multimodal import REC601, luma_features

    if payload[:2] != b"BM":
        raise ValueError("not a BMP: bad signature")
    if len(payload) < 26:
        raise ValueError("truncated BMP file header")
    pixel_offset = struct.unpack_from("<I", payload, 10)[0]
    rgba, channels = decode_dib(payload, 14,
                                pixel_offset if pixel_offset else None)
    luma = rgba[:, :, :3].astype(np.float64) @ REC601
    out = luma_features(luma, channels)
    return out


def decode_ico(payload: bytes) -> dict:
    """Real ICO decode: first directory entry's image (PNG or DIB with
    AND mask) -> luma_features + n_images (GIF first-frame contract)."""
    from .multimodal import REC601, luma_features

    if len(payload) < 6 or payload[:4] != b"\x00\x00\x01\x00":
        raise ValueError("not an ICO: bad header")
    count = struct.unpack_from("<H", payload, 4)[0]
    if count == 0:
        raise ValueError("ICO has no images")
    if 6 + 16 * count > len(payload):
        raise ValueError("truncated ICO directory")
    out = None
    for i in range(count):
        off = 6 + 16 * i
        size, data_off = struct.unpack_from("<II", payload, off + 8)
        data = payload[data_off:data_off + size]
        if len(data) != size:
            raise ValueError("truncated ICO image data")
        if out is None:
            if data[:8] == b"\x89PNG\r\n\x1a\n":
                from .multimodal import decode_png

                out = decode_png(data)
            else:
                rgba, channels = decode_dib(data, 0, None, ico_mask=True)
                luma = rgba[:, :, :3].astype(np.float64) @ REC601
                out = luma_features(luma, channels)
    out["n_images"] = int(count)
    return out


# ---------------------------------------------------------------------------
# encoder twins
# ---------------------------------------------------------------------------


def encode_bmp(pixels: "np.ndarray") -> bytes:
    """Sink twin: (h, w) grayscale or (h, w, 3) RGB uint8 -> 24-bit
    BI_RGB bottom-up BMP. Lossless; roundtrips are byte-exact."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        px = np.stack([px] * 3, axis=2)
    if px.ndim != 3 or px.shape[2] != 3:
        raise ValueError("encode_bmp wants (h, w) or (h, w, 3) uint8")
    h, w, _ = px.shape
    stride = ((w * 3 + 3) // 4) * 4
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = px[::-1, :, [2, 1, 0]].reshape(h, w * 3)
    data = rows.tobytes()
    header = b"BM" + struct.pack("<IHHI", 54 + len(data), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data),
                      2835, 2835, 0, 0)
    return header + dib + data


def encode_ico(images: list) -> bytes:
    """Sink twin: list of (h, w[, 3]) uint8 arrays -> ICO whose entries
    are PNG-compressed (the modern favicon layout)."""
    from .multimodal import encode_png

    if not images:
        raise ValueError("encode_ico wants at least one image")
    blobs = []
    dims = []
    for img in images:
        arr = np.asarray(img, dtype=np.uint8)
        h, w = arr.shape[:2]
        if w > 256 or h > 256:
            raise ValueError("ICO images are capped at 256x256")
        blobs.append(encode_png(arr))
        dims.append((w, h))
    out = bytearray(b"\x00\x00\x01\x00" + struct.pack("<H", len(blobs)))
    data_off = 6 + 16 * len(blobs)
    for (w, h), blob in zip(dims, blobs):
        out += bytes([w % 256, h % 256, 0, 0]) + struct.pack(
            "<HHII", 1, 32, len(blob), data_off)
        data_off += len(blob)
    for blob in blobs:
        out += blob
    return bytes(out)
