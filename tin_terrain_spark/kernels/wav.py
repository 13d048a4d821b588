"""Pure-NumPy RIFF/WAVE codec (PCM and IEEE-float).

Spec: the public RIFF/WAVE format (fmt/data chunks). Scope: format 1
(integer PCM, 8-bit unsigned / 16-bit signed LE) and format 3 (IEEE
float32 LE), any channel count; other codecs (ADPCM, a-law/mu-law,
WAVE_FORMAT_EXTENSIBLE) raise ValueError so callers can fall back to
a stub. decode_wav returns (samples, sample_rate) with samples a
float32 (n, channels) array normalized the conventional way —
int16/32768, (uint8-128)/128, float passthrough — every mapping a
dyadic scale, so decoded values are bit-exact functions of the file
bytes (the media_decode oracle relies on this). encode_wav writes the
same three sample formats for fixtures and the sink side.
"""

from __future__ import annotations

import struct

import numpy as np

RATE = 8000  # the sample rate encode_wav writes


def is_wav(data: bytes) -> bool:
    return len(data) > 44 and data[:4] == b"RIFF" and data[8:12] == b"WAVE"


def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    if not is_wav(data):
        raise ValueError("wav: bad RIFF/WAVE signature")
    pos = 12
    fmt = None
    raw = None
    n = len(data)
    while pos + 8 <= n:
        cid = data[pos:pos + 4]
        size = struct.unpack("<I", data[pos + 4:pos + 8])[0]
        body = data[pos + 8:pos + 8 + size]
        if cid == b"fmt ":
            if size < 16:
                raise ValueError("wav: short fmt chunk")
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            raw = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or raw is None:
        raise ValueError("wav: missing fmt or data chunk")
    audio_format, channels, rate, _byte_rate, _align, bits = fmt
    if channels < 1:
        raise ValueError("wav: zero channels")
    if audio_format == 1 and bits == 16:
        s = np.frombuffer(raw[: len(raw) // 2 * 2], dtype="<i2")
        samples = s.astype(np.float32) / 32768.0
    elif audio_format == 1 and bits == 8:
        s = np.frombuffer(raw, dtype=np.uint8)
        samples = (s.astype(np.float32) - 128.0) / 128.0
    elif audio_format == 3 and bits == 32:
        samples = np.frombuffer(
            raw[: len(raw) // 4 * 4], dtype="<f4"
        ).astype(np.float32)
    else:
        raise ValueError(
            f"wav: format {audio_format}/{bits}-bit unsupported"
        )
    frames = samples.shape[0] // channels
    return samples[: frames * channels].reshape(frames, channels), rate


def encode_wav(samples: np.ndarray, bits: int = 16) -> bytes:
    """(n,) or (n, channels) → WAVE bytes at RATE. bits: 16 (int16 PCM, input
    float in [-1, 1) or int16), 8 (uint8 PCM, input float or uint8),
    32 (IEEE float32, input float)."""
    s = np.asarray(samples)
    if s.ndim == 1:
        s = s[:, None]
    if s.ndim != 2:
        raise ValueError("wav: need (n,) or (n, channels)")
    channels = s.shape[1]
    if bits == 16:
        if s.dtype != np.int16:
            s = np.clip(np.round(s * 32768.0), -32768, 32767).astype(np.int16)
        raw = s.astype("<i2").tobytes()
        audio_format = 1
    elif bits == 8:
        if s.dtype != np.uint8:
            s = np.clip(np.round(s * 128.0 + 128.0), 0, 255).astype(np.uint8)
        raw = s.tobytes()
        audio_format = 1
    elif bits == 32:
        raw = s.astype("<f4").tobytes()
        audio_format = 3
    else:
        raise ValueError(f"wav: bits {bits} unsupported")
    block = channels * bits // 8
    fmt = struct.pack(
        "<HHIIHH", audio_format, channels, RATE, RATE * block, block, bits
    )
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(raw)) + raw
    if len(raw) & 1:
        body += b"\x00"
    return b"RIFF" + struct.pack("<I", len(body)) + body
