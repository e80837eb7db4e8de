"""WAV/PCM audio codec, pure stdlib + numpy — audio-as-binary made real.

The multimodal layer treats audio payloads as opaque binary with typed
metadata; this module gives the most common raw format (RIFF/WAVE PCM) a
real decode so audio feature extraction runs from actual samples, the same
way the image formats decode for real. Scope: RIFF/WAVE container,
format 1 (integer PCM, 8-bit unsigned / 16-bit / 24-bit / 32-bit signed
little-endian) and format 3 (32-bit float), any channel count; compressed
formats (ADPCM, mp3-in-wav, ...) raise ValueError into the row-level error
channel. encode_wav is the sink twin (16-bit PCM).

Feature contract (audio_features / decode_wav): n_samples, sample_rate,
channels, duration_s, plus EXACT integer sums oracles can check bitwise on
the 16-bit path — abs_sum (sum |sample|) and peak — and float rms.
"""

from __future__ import annotations

import struct

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .multimodal import _payload
from .rows import map_rows

AUDIO_FEATURES_DDL = (
    "media_id long, n_samples long, sample_rate int, channels int, "
    "duration_s double, peak long, abs_sum long, rms double, error string"
)


def decode_wav(payload: bytes, return_samples: bool = False) -> dict:
    """RIFF/WAVE -> feature dict. Samples normalize to int16 range for the
    integer features (8-bit: (v-128)<<8; 24/32-bit: arithmetic >> to 16;
    float: clipped *32767 rounded) so abs_sum/peak are comparable across
    bit depths and exactly reproducible."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV: missing RIFF/WAVE header")
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(payload):
        cid = payload[pos:pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4:pos + 8])
        body = payload[pos + 8:pos + 8 + size]
        if len(body) < size:
            raise ValueError("truncated WAV chunk")
        if cid == b"fmt ":
            if size < 16:
                raise ValueError("WAV fmt chunk too short")
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)
    if fmt is None:
        raise ValueError("WAV missing fmt chunk")
    if data is None:
        raise ValueError("WAV missing data chunk")
    audio_fmt, channels, rate, _byte_rate, _align, bits = fmt
    if channels == 0 or rate == 0:
        raise ValueError("WAV zero channels or sample rate")
    if audio_fmt == 1:
        if bits == 8:
            raw = np.frombuffer(data, dtype=np.uint8)
            samples = (raw.astype(np.int32) - 128) << 8
        elif bits == 16:
            n = len(data) // 2
            samples = np.frombuffer(data[: n * 2], dtype="<i2").astype(np.int32)
        elif bits == 24:
            n = len(data) // 3
            b = np.frombuffer(data[: n * 3], dtype=np.uint8).reshape(n, 3)
            v = (b[:, 0].astype(np.int32) | (b[:, 1].astype(np.int32) << 8)
                 | (b[:, 2].astype(np.int32) << 16))
            v = np.where(v >= 1 << 23, v - (1 << 24), v)
            samples = v >> 8
        elif bits == 32:
            n = len(data) // 4
            samples = np.frombuffer(data[: n * 4], dtype="<i4") >> 16
            samples = samples.astype(np.int32)
        else:
            raise ValueError(f"WAV PCM bit depth {bits} unsupported")
    elif audio_fmt == 3:
        if bits != 32:
            raise ValueError("WAV float format must be 32-bit")
        n = len(data) // 4
        f32 = np.frombuffer(data[: n * 4], dtype="<f4").astype(np.float64)
        samples = np.rint(np.clip(f32, -1.0, 1.0) * 32767.0).astype(np.int32)
    else:
        raise ValueError(f"WAV format {audio_fmt} unsupported (PCM/float only)")

    n_frames = len(samples) // channels
    samples = samples[: n_frames * channels]
    out = {
        "n_samples": int(n_frames),
        "sample_rate": int(rate),
        "channels": int(channels),
        "duration_s": float(n_frames / rate),
        "peak": int(np.abs(samples).max()) if len(samples) else 0,
        "abs_sum": int(np.abs(samples.astype(np.int64)).sum()),
        "rms": float(np.sqrt(np.mean(samples.astype(np.float64) ** 2)))
        if len(samples) else 0.0,
    }
    if return_samples:
        out["samples"] = samples.reshape(n_frames, channels) if n_frames else \
            samples.reshape(0, channels)
    return out


def encode_wav(samples: "np.ndarray", sample_rate: int = 16000) -> bytes:
    """(n,) or (n, channels) int16 -> RIFF/WAVE 16-bit PCM bytes."""
    arr = np.asarray(samples, dtype=np.int16)
    if arr.ndim == 1:
        arr = arr[:, None]
    if arr.ndim != 2:
        raise ValueError("encode_wav wants (n,) or (n, channels) int16")
    channels = arr.shape[1]
    data = np.ascontiguousarray(arr).astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, channels, sample_rate,
                      sample_rate * channels * 2, channels * 2, 16)
    out = b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data)) + b"WAVE"
    out += b"fmt " + struct.pack("<I", len(fmt)) + fmt
    out += b"data" + struct.pack("<I", len(data)) + data
    return out


def audio_features(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """Distributed WAV feature extraction with the standard row-level
    error channel — same scale shape as image_features (column-pruned
    Arrow batches; payloads never outlive the batch)."""
    narrow = df.select(F.col(id_col).alias("media_id"),
                       F.col(payload_col).alias("payload"))
    return map_rows(narrow, lambda p: [decode_wav(_payload(p))],
                    AUDIO_FEATURES_DDL)
