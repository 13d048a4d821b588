"""AVI/MJPEG container codec (kernels/avi.py) + real frame sampling.

The container layer is exact (demux returns the byte-identical JPEG
chunks that were muxed), and uniform-gray JPEG frames decode exactly,
so every test is value-exact end-to-end.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from tin_terrain_spark.kernels import avi as A
from tin_terrain_spark.kernels import jpeg as J


def _mjpeg(values, size=16):
    return [
        J.encode_jpeg(np.full((size, size), v, np.uint8))
        for v in values
    ]


def test_mux_demux_byte_identical():
    frames = _mjpeg([0, 77, 255])
    data = A.encode_avi_mjpeg(frames)
    assert A.is_avi(data)
    assert A.avi_frame_chunks(data) == frames


def test_odd_sized_chunks_padded():
    # force an odd JPEG size by appending a comment-free byte count check
    frames = _mjpeg([10, 20])
    if len(frames[0]) % 2 == 0:
        # JPEG streams may naturally be even; pad via a COM marker
        frames[0] = frames[0][:-2] + b"\xff\xfe\x00\x03x" + frames[0][-2:]
    assert len(frames[0]) % 2 == 1
    data = A.encode_avi_mjpeg(frames)
    assert A.avi_frame_chunks(data) == frames


def test_decode_first_frame_and_chunk_values():
    vals = [5, 130, 250]
    data = A.encode_avi_mjpeg(_mjpeg(vals))
    out = np.atleast_3d(A.decode_avi_frame(data))
    assert np.array_equal(out[:, :, 0], np.full((A.SIZE, A.SIZE), vals[0]))
    for chunk, v in zip(A.avi_frame_chunks(data), vals):
        out = np.atleast_3d(J.decode_jpeg(chunk))
        assert np.array_equal(out[:, :, 0], np.full((A.SIZE, A.SIZE), v))
    # the header's frame size is the one the frames carry
    avih = data.index(b"avih") + 8
    assert struct.unpack_from("<II", data, avih + 32) == (A.SIZE, A.SIZE)


def test_rejections():
    with pytest.raises(ValueError, match="signature"):
        A.avi_frame_chunks(b"RIFF" + bytes(30))
    with pytest.raises(ValueError, match="movi"):
        A.avi_frame_chunks(
            b"RIFF" + struct.pack("<I", 16) + b"AVI " + b"JUNK"
            + struct.pack("<I", 4) + bytes(4) + bytes(10)
        )
    data = A.encode_avi_mjpeg(_mjpeg([1]))
    patched = bytearray(data)
    i = data.find(b"00dc", 100)  # the movi chunk, not the idx1 entry
    patched[i:i + 4] = b"00db"
    with pytest.raises(ValueError, match="db"):
        A.avi_frame_chunks(bytes(patched))
    with pytest.raises(ValueError, match="at least one"):
        A.encode_avi_mjpeg([])


def test_decode_dispatch_first_frame_and_sampled():
    from tin_terrain_spark.operators.multimodal import (
        _decode_frames_real, _decode_real,
    )

    vals = [40, 90, 200]
    data = A.encode_avi_mjpeg(_mjpeg(vals))
    first = _decode_real(data, 16, 16)
    assert first is not None and np.allclose(first, 40 / 256.0)
    pxs = _decode_frames_real(data, 16, 16, [0, 1, 2, 9])
    for px, v in zip(pxs, vals + [vals[-1]]):  # past the end: last frame
        assert np.allclose(px, v / 256.0)
    assert _decode_frames_real(b"junk", 16, 16, [1]) is None
