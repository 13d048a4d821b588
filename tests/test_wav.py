"""RIFF/WAVE codec (kernels/wav.py) + the audio feature path.

Every mapping the codec performs is exact (dyadic scales), so all
tests are value-exact: known-byte fixtures, roundtrips per format,
chunk-order/padding robustness, loud rejections, and the
audio_features block math against the closed-form generator (the
local twin of the audio_decode_real oracle query).
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from tin_terrain_spark.kernels import wav as W


def test_pcm16_known_bytes():
    s = np.array([0, 16384, -32768, 32767], dtype=np.int16)
    data = W.encode_wav(s, bits=16)
    out, rate = W.decode_wav(data)
    assert rate == 8000 and out.shape == (4, 1)
    assert out.reshape(-1).tolist() == [0.0, 0.5, -1.0, 32767 / 32768]


def test_pcm8_known_bytes():
    s = np.array([0, 128, 255], dtype=np.uint8)
    out, _ = W.decode_wav(W.encode_wav(s, bits=8))
    assert out.reshape(-1).tolist() == [-1.0, 0.0, 127 / 128]


def test_float32_passthrough():
    s = np.array([0.25, -0.75, 1.5], dtype=np.float32)  # no clipping
    out, _ = W.decode_wav(W.encode_wav(s, bits=32))
    assert np.array_equal(out.reshape(-1), s)


def test_stereo_roundtrip():
    rng = np.random.RandomState(7)
    s = rng.randint(-32768, 32768, size=(100, 2)).astype(np.int16)
    out, _ = W.decode_wav(W.encode_wav(s, bits=16))
    assert out.shape == (100, 2)
    assert np.array_equal(out, s.astype(np.float32) / 32768.0)


def test_odd_data_chunk_padded():
    # 3 uint8 samples -> odd data size; RIFF pads to word alignment
    data = W.encode_wav(np.array([1, 2, 3], dtype=np.uint8), bits=8)
    assert len(data) % 2 == 0
    out, _ = W.decode_wav(data)
    assert out.shape == (3, 1)


def test_extra_chunks_skipped():
    s = np.array([100, -100], dtype=np.int16)
    data = W.encode_wav(s, bits=16)
    # splice a LIST chunk between fmt and data
    fmt_end = 12 + 8 + 16
    extra = b"LIST" + struct.pack("<I", 4) + b"INFO"
    patched = data[:fmt_end] + extra + data[fmt_end:]
    patched = patched[:4] + struct.pack(
        "<I", len(patched) - 8
    ) + patched[8:]
    out, _ = W.decode_wav(patched)
    assert np.array_equal(out.reshape(-1), s.astype(np.float32) / 32768.0)


def test_rejections():
    with pytest.raises(ValueError, match="signature"):
        W.decode_wav(b"RIFX" + bytes(60))
    data = bytearray(W.encode_wav(np.zeros(4, np.int16)))
    struct.pack_into("<H", data, 20, 2)  # ADPCM codec id
    with pytest.raises(ValueError, match="unsupported"):
        W.decode_wav(bytes(data))
    with pytest.raises(ValueError, match="missing"):
        W.decode_wav(b"RIFF" + struct.pack("<I", 40) + b"WAVE" + bytes(36))
    with pytest.raises(ValueError, match="bits"):
        W.encode_wav(np.zeros(4), bits=24)


def test_audio_feature_block_math():
    """audio_features block sums equal the closed-form generator for
    every synth_real_audio format (the oracle identity, locally)."""
    import hashlib

    from tin_terrain_spark.kernels import wav as KW

    for d in range(8):
        text = f"doc {d}"
        seed = int(hashlib.sha256(text.encode()).hexdigest()[:14], 16)
        n = d * 31 % 1024 + 256
        t = np.arange(1, n + 1, dtype=np.int64)
        k = (seed + t * 2654435761) % 65521
        f = d % 4
        if f == 0:
            payload = KW.encode_wav((k - 32768).astype(np.int16))
            x_ref = (k - 32768) / 32768.0
        elif f == 1:
            payload = KW.encode_wav((k % 256).astype(np.uint8), bits=8)
            x_ref = (k % 256 - 128) / 128.0
        elif f == 2:
            st = np.column_stack([k - 32768, (3 * k) % 65521 - 32768])
            payload = KW.encode_wav(st.astype(np.int16))
            x_ref = (k + (3 * k) % 65521 - 65536) / 65536.0
        else:
            payload = KW.encode_wav(
                (k / 65536.0).astype(np.float32), bits=32
            )
            x_ref = k / 65536.0
        samples, _ = KW.decode_wav(payload)
        x = samples.astype(np.float64).mean(axis=1)
        assert np.array_equal(x, x_ref), f
        hop = n // 8
        xb = x[: hop * 8].reshape(8, hop)
        rb = x_ref[: hop * 8].reshape(8, hop)
        assert np.array_equal(xb.sum(axis=1), rb.sum(axis=1))
        assert np.array_equal((xb * xb).sum(axis=1), (rb * rb).sum(axis=1))
