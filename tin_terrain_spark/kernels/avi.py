"""Pure-NumPy AVI container codec (RIFF 'AVI ', MJPEG video stream).

Spec: the public RIFF/AVI container layout (hdrl/movi/idx1) with the
de-facto MJPEG stream encoding ('MJPG' fourcc, one baseline JPEG per
'00dc' chunk — decoded by this repo's own kernels/jpeg.py). Scope:
single video stream, '00dc' (compressed) frame chunks; '00db'
uncompressed DIB frames and audio streams raise ValueError so
operators/multimodal.py falls back to its stub. This closes the
"video container" gap the same way kernels/gif.py closed animation:
frame sampling over AVI payloads is a REAL demux + decode.
"""

from __future__ import annotations

import struct

import numpy as np

FPS = 10  # the frame rate encode_avi_mjpeg writes
SIZE = 16  # the frame width and height encode_avi_mjpeg writes


def is_avi(data: bytes) -> bool:
    return len(data) > 24 and data[:4] == b"RIFF" and data[8:12] == b"AVI "


def _find_movi(data: bytes) -> tuple[int, int]:
    """Return (offset, size) of the movi LIST body."""
    pos = 12
    n = len(data)
    while pos + 8 <= n:
        cid = data[pos:pos + 4]
        size = struct.unpack("<I", data[pos + 4:pos + 8])[0]
        if cid == b"LIST" and data[pos + 8:pos + 12] == b"movi":
            return pos + 12, size - 4
        pos += 8 + size + (size & 1)
    raise ValueError("avi: no movi list")


def avi_frame_chunks(data: bytes) -> list[bytes]:
    """The per-frame compressed payloads (JPEG bytes for MJPEG), in
    stream order."""
    if not is_avi(data):
        raise ValueError("avi: bad RIFF/AVI signature")
    off, size = _find_movi(data)
    frames: list[bytes] = []
    pos = off
    end = min(off + size, len(data))
    while pos + 8 <= end:
        cid = data[pos:pos + 4]
        csize = struct.unpack("<I", data[pos + 4:pos + 8])[0]
        body = data[pos + 8:pos + 8 + csize]
        if cid[2:4] == b"dc":
            frames.append(body)
        elif cid[2:4] == b"db":
            raise ValueError("avi: uncompressed '..db' frames unsupported")
        elif cid == b"LIST":  # rec list: recurse into its body
            pos += 12
            continue
        pos += 8 + csize + (csize & 1)
    if not frames:
        raise ValueError("avi: no frame chunks")
    return frames


def decode_avi_frame(data: bytes) -> np.ndarray:
    """Decode the first frame to (H, W[, C]) uint8 via kernels/jpeg.py."""
    from . import jpeg as _jpeg

    payload = avi_frame_chunks(data)[0]
    if not _jpeg.is_jpeg(payload):
        raise ValueError("avi: frame chunk is not baseline JPEG")
    return _jpeg.decode_jpeg(payload)


def encode_avi_mjpeg(frames: list[bytes]) -> bytes:
    """Wrap pre-encoded SIZE x SIZE baseline-JPEG frames into a minimal
    standard AVI at FPS frames a second: hdrl (avih + one vids/MJPG
    strl) + movi ('00dc' chunks) + idx1. Players and this repo's own
    demuxer read it back."""
    if not frames:
        raise ValueError("avi: need at least one frame")
    max_size = max(len(f) for f in frames)
    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        1_000_000 // FPS, max_size * FPS, 0, 0x10,  # AVIF_HASINDEX
        len(frames), 0, 1, max_size, SIZE, SIZE, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIII4h",
        b"vids", b"MJPG", 0, 0, 0, 0,   # flags, prio, lang, initial
        1, FPS, 0, len(frames),          # scale, rate, start, length
        max_size, 10_000, 0,             # buffer, quality, sample size
        0, 0, SIZE, SIZE,                # rcFrame
    )
    strf = struct.pack(
        "<IiiHH4sIiiII", 40, SIZE, SIZE, 1, 24, b"MJPG",
        SIZE * SIZE * 3, 0, 0, 0, 0,
    )
    strl = (
        b"strh" + struct.pack("<I", len(strh)) + strh
        + b"strf" + struct.pack("<I", len(strf)) + strf
    )
    strl = b"LIST" + struct.pack("<I", 4 + len(strl)) + b"strl" + strl
    hdrl = b"avih" + struct.pack("<I", len(avih)) + avih + strl
    hdrl = b"LIST" + struct.pack("<I", 4 + len(hdrl)) + b"hdrl" + hdrl
    movi = bytearray(b"movi")
    offsets = []
    for f in frames:
        offsets.append(len(movi) - 4)  # offset of ckid relative to movi
        movi += b"00dc" + struct.pack("<I", len(f)) + f
        if len(f) & 1:
            movi += b"\x00"
    movi = b"LIST" + struct.pack("<I", len(movi)) + bytes(movi)
    idx = bytearray()
    for off, f in zip(offsets, frames):
        idx += b"00dc" + struct.pack("<III", 0x10, off + 4, len(f))
    idx1 = b"idx1" + struct.pack("<I", len(idx)) + bytes(idx)
    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(body)) + body
