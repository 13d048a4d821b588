"""GIF codec (kernels/gif.py): LZW roundtrips (incl. 12-bit table
overflow + Clear reset), interlace, multi-frame composition with
transparency and disposal methods, hand-packed known-byte decode,
cross-validation against real-world giflib-encoded files (the
container's own idlelib icons, which ship GIF + PNG twins — the PNG
side decoded by the already-pinned kernels/png.py), loud rejections,
and the Spark mapInPandas real-decode + real-frame paths.

Reference parity note: the reference engine has no GIF code at all
(media decode is out of its scope); this codec exists for the
multimodal pipeline surface (operators/multimodal.py), same as
kernels/png.py and kernels/jpeg.py.
"""

from __future__ import annotations

import os

import numpy as np
import pytest

from tin_terrain_spark.kernels import gif as G
from tin_terrain_spark.kernels import png as P

_ICON_DIR = os.path.join(
    os.path.dirname(os.__file__), "idlelib", "Icons"
)


def _palette(k: int) -> np.ndarray:
    rng = np.random.RandomState(5 + k)
    return rng.randint(0, 256, size=(k, 3)).astype(np.uint8)


def test_roundtrip_small_palette():
    rng = np.random.RandomState(1)
    idx = rng.randint(0, 4, size=(23, 17)).astype(np.uint8)
    pal = _palette(4)
    data = G.encode_gif(idx, pal)
    out = G.decode_gif(data)
    assert out.shape == (23, 17, 3)
    assert np.array_equal(out, pal[idx])


def test_roundtrip_256_colors_table_overflow():
    """150x150 of 256-color noise drives the LZW table past 4095 —
    the encoder must emit Clear + reset and the decoder must follow
    (width growth 9->10->11->12 plus the reset path)."""
    rng = np.random.RandomState(2)
    idx = rng.randint(0, 256, size=(150, 150)).astype(np.uint8)
    pal = _palette(256)
    data = G.encode_gif(idx, pal)
    assert np.array_equal(G.decode_gif(data), pal[idx])


def test_roundtrip_gradient_long_runs():
    """Long runs build deep dictionary chains (the KwKwK path)."""
    idx = np.tile(
        np.repeat(np.arange(8, dtype=np.uint8), 16), (40, 1)
    )
    pal = _palette(8)
    data = G.encode_gif(idx, pal)
    assert np.array_equal(G.decode_gif(data), pal[idx])


def test_interlace_roundtrip():
    rng = np.random.RandomState(3)
    for h in (1, 2, 5, 13, 32):  # odd heights hit partial passes
        idx = rng.randint(0, 16, size=(h, 9)).astype(np.uint8)
        pal = _palette(16)
        plain = G.decode_gif(G.encode_gif(idx, pal, interlace=False))
        laced = G.decode_gif(G.encode_gif(idx, pal, interlace=True))
        assert np.array_equal(plain, laced), f"h={h}"


def test_multiframe_transparency_composites():
    """Frame 2's transparent pixels must show frame 1 (disposal 1 =
    leave in place)."""
    pal = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255]], np.uint8)
    f0 = np.zeros((4, 4), np.uint8)          # all red
    f1 = np.full((4, 4), 2, np.uint8)        # transparent except...
    f1[1, 1] = 1                             # one green pixel
    data = G.encode_gif(
        np.stack([f0, f1]), pal, transparent=2, disposal=1
    )
    frames = G.decode_gif_frames(data)
    assert frames.shape == (2, 4, 4, 3)
    assert np.array_equal(frames[0], pal[f0])
    want = pal[f0].copy()
    want[1, 1] = pal[1]
    assert np.array_equal(frames[1], want)


def test_disposal_2_restores_background():
    """After a disposal-2 frame, the next frame's transparent pixels
    show the BACKGROUND color, not the previous frame."""
    pal = np.array([[9, 9, 9], [0, 255, 0], [200, 0, 200]], np.uint8)
    f0 = np.full((3, 3), 1, np.uint8)        # green
    f1 = np.full((3, 3), 2, np.uint8)        # transparent
    f1[0, 0] = 1
    data = G.encode_gif(np.stack([f0, f1]), pal, transparent=2, disposal=2)
    frames = G.decode_gif_frames(data)
    want = np.broadcast_to(pal[0], (3, 3, 3)).copy()
    want[0, 0] = pal[1]
    assert np.array_equal(frames[1], want)


def test_handpacked_known_bytes():
    """A GIF built byte-by-byte in the test (no encoder involved):
    2x2, palette {black, white}, pixels [[1,0],[0,1]]. mcs=2 =>
    clear=4, eoi=5; the code stream is [clear,1,0,0,1,eoi]. Width
    starts at 3; processing the FOURTH code assigns dictionary slot 7,
    making the next free slot 8 == 1<<3, so the last two codes are
    4-bit (giflib timing): widths [3,3,3,3,4,4], packed LSB-first =
    bytes 0x0C 0x10 0x05."""
    codes = [(4, 3), (1, 3), (0, 3), (0, 3), (1, 4), (5, 4)]
    acc = 0
    shift = 0
    for c, w in codes:
        acc |= c << shift
        shift += w
    lzw = acc.to_bytes((shift + 7) // 8, "little")
    assert lzw == bytes([0x0C, 0x10, 0x05])
    data = (
        b"GIF89a"
        + b"\x02\x00\x02\x00"      # 2x2 screen
        + bytes([0x80, 0, 0])       # GCT of 2 entries
        + bytes([0, 0, 0, 255, 255, 255])
        + b"\x2c" + b"\x00\x00\x00\x00\x02\x00\x02\x00" + b"\x00"
        + bytes([2, len(lzw)]) + lzw + b"\x00"
        + b"\x3b"
    )
    out = G.decode_gif(data)
    want = np.array(
        [[[255] * 3, [0] * 3], [[0] * 3, [255] * 3]], np.uint8
    )
    assert np.array_equal(out, want)


@pytest.mark.skipif(
    not os.path.isdir(_ICON_DIR), reason="no idlelib icons in stdlib"
)
def test_real_world_files_match_png_twins():
    """The stdlib's idlelib icons ship the same artwork as GIF and
    PNG. Decoding the giflib-encoded GIF must land within palette-
    quantization distance of the PNG (decoded by kernels/png.py) on
    opaque pixels — a real-encoder conformance check of LZW width
    timing, interlace, and palette handling with no shared code."""
    checked = 0
    for name in ("idle_16", "idle_32", "idle_48"):
        gp = os.path.join(_ICON_DIR, name + ".gif")
        pp = os.path.join(_ICON_DIR, name + ".png")
        if not (os.path.exists(gp) and os.path.exists(pp)):
            continue
        gf = G.decode_gif(open(gp, "rb").read())
        pf = P.decode_png(open(pp, "rb").read())
        assert gf.shape[:2] == pf.shape[:2]
        opaque = (
            pf[:, :, 3] == 255 if pf.shape[2] == 4
            else np.ones(pf.shape[:2], bool)
        )
        diff = np.abs(
            gf[opaque].astype(int) - pf[opaque][:, :3].astype(int)
        )
        assert diff.mean() < 8, f"{name}: mean diff {diff.mean()}"
        checked += 1
    # interlaced real files: structural decode must succeed
    for name in ("folder", "openfolder", "python", "tk"):
        gp = os.path.join(_ICON_DIR, name + ".gif")
        if os.path.exists(gp):
            f = G.decode_gif_frames(open(gp, "rb").read())
            assert f.ndim == 4 and f.shape[3] == 3
            checked += 1
    assert checked >= 1


def test_loud_rejections():
    with pytest.raises(ValueError, match="signature"):
        G.decode_gif(b"NOTAGIF")
    pal = _palette(4)
    data = G.encode_gif(np.zeros((4, 4), np.uint8), pal)
    with pytest.raises(ValueError):
        G.decode_gif(data[:20])
    with pytest.raises(ValueError, match="palette"):
        G.encode_gif(np.full((2, 2), 7, np.uint8), pal)
    with pytest.raises(ValueError, match="truncated|range"):
        # corrupt the LZW stream body
        bad = bytearray(data)
        bad[-10:-2] = b"\xff" * 8
        G.decode_gif(bytes(bad))


@pytest.fixture(scope="module")
def spark():
    from tin_terrain_spark.session import get_spark

    s = get_spark("gif_tests", cores=8)
    yield s
    s.stop()


def test_spark_real_decode_and_frames(spark):
    """GIF payloads flow through the REAL decode branch of
    image_features, and animated GIFs give REAL per-frame features in
    sample_frames — equality against the kernel computed locally. The
    12-pixel-wide image pads image_features' 16-vector with zeros; 21
    frames give sample_frames three (every 10th)."""
    from tin_terrain_spark.operators import multimodal as M

    rng = np.random.RandomState(11)
    pal = _palette(16)
    frames_idx = rng.randint(0, 16, size=(21, 12, 12)).astype(np.uint8)
    payload = G.encode_gif(frames_idx, pal)
    df = spark.createDataFrame(
        [(0, "video", 12, 12, 21, bytearray(payload))],
        "doc_id long, media_type string, width int, height int, "
        "n_frames int, payload binary",
    )
    feat = M.image_features(df).collect()[0]["feature"]
    px = P.to_gray_f32(G.decode_gif(payload))
    want = px.sum(axis=0, dtype=np.float64).astype(np.float32)
    assert np.allclose(np.array(feat, np.float32), np.pad(want, (0, 4)))

    rows = M.sample_frames(df).collect()
    assert {r["frame_idx"] for r in rows} == {0, 10, 20}
    all_frames = G.decode_gif_frames(payload)
    for r in rows:
        fpx = P.to_gray_f32(all_frames[r["frame_idx"]])
        want_f = fpx.sum(axis=0, dtype=np.float64)[:8].astype(np.float32)
        got = np.array(r["frame_feature"], np.float32)
        assert np.allclose(got, want_f)
