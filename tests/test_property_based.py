"""Property-based tests (hypothesis) for the invariant-rich kernels:
codec roundtrips, watermark index coding, quantization bounds,
clipping containment/area, Delaunay validity, GeoTIFF roundtrip.
These complement the example-based suites with adversarial inputs."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings, strategies as st

SET = settings(max_examples=25, deadline=None)


@given(st.integers(min_value=-(2**15), max_value=2**15 - 1))
@SET
def test_zigzag_roundtrip(i):
    # int16 domain: the quantized-mesh wire format encodes int16 deltas
    # (QuantizedMeshIO.cpp:96-104); wider ints are out of contract
    from tin_terrain_spark.kernels.codec import zig_zag_decode, zig_zag_encode

    e = zig_zag_encode(i)
    assert e >= 0
    assert zig_zag_decode(e) == i


@given(
    st.lists(st.integers(min_value=0, max_value=5000), min_size=3, max_size=300)
)
@SET
def test_watermark_roundtrip(idx):
    from tin_terrain_spark.kernels.codec import (
        high_watermark_decode,
        high_watermark_encode,
    )

    arr = np.asarray(idx, dtype=np.int64)
    out = high_watermark_decode(high_watermark_encode(arr))
    np.testing.assert_array_equal(out, arr)


@given(
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
    st.floats(min_value=1e-3, max_value=1e6, allow_nan=False),
    st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
)
@SET
def test_quantize_bounds_and_monotone(vmin, span, frac):
    from tin_terrain_spark.kernels.codec import dequantize_coordinate, quantize_coordinate

    vmax = vmin + span
    v = vmin + span * frac
    q = quantize_coordinate(np.array([v]), vmin, vmax)[0]
    assert 0 <= q <= 32767
    back = dequantize_coordinate(np.array([q]), vmin, vmax)[0]
    # quantization error bounded by one step
    assert abs(back - v) <= span / 32767 + 1e-9 * max(abs(vmin), abs(vmax), 1.0)


@given(
    st.lists(
        st.tuples(
            st.floats(min_value=-2.0, max_value=3.0, allow_nan=False),
            st.floats(min_value=-2.0, max_value=3.0, allow_nan=False),
            st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
        ),
        min_size=3,
        max_size=3,
    )
)
@SET
def test_clip_to_unit_quadrant_containment(tri):
    from tin_terrain_spark.kernels.geometry import clip_triangles_to_01_quadrant, tri_area

    t = np.asarray(tri, dtype=np.float64).reshape(1, 3, 3)
    area_in = abs(tri_area(*t[0, :, :2].reshape(-1)))
    out = clip_triangles_to_01_quadrant(t)
    # all output vertices inside [0,1]^2 (up to clip epsilon)
    if len(out):
        assert out[:, :, 0].min() >= -1e-9 and out[:, :, 0].max() <= 1 + 1e-9
        assert out[:, :, 1].min() >= -1e-9 and out[:, :, 1].max() <= 1 + 1e-9
    # clipping never increases total area
    area_out = sum(abs(tri_area(*f[:, :2].reshape(-1))) for f in out)
    assert area_out <= area_in + 1e-9


@given(st.integers(min_value=0, max_value=2**31 - 1), st.integers(min_value=10, max_value=60))
@SET
def test_delaunator_property_random_sets(seed, n):
    from tin_terrain_spark.kernels.delaunator import generate_delaunay_faces_sweephull

    rng = np.random.RandomState(seed)
    pts = rng.rand(n, 2) * 100
    faces = generate_delaunay_faces_sweephull(pts)
    if faces is None:
        return  # degenerate input (hypothesis found collinear-ish set)
    assert faces.min() >= 0 and faces.max() < n
    # Euler bound: faces <= 2n - 5 for a triangulation with hull >= 3
    assert len(faces) <= 2 * n - 5 + 1


@given(
    st.integers(min_value=2, max_value=40),
    st.integers(min_value=2, max_value=40),
    st.booleans(),
    st.floats(min_value=0.1, max_value=1000.0, allow_nan=False),
)
@SET
def test_geotiff_roundtrip_shapes(h, w, compress, cellsize):
    from tin_terrain_spark.kernels.raster import Grid
    from tin_terrain_spark.sources.geotiff import read_geotiff, write_geotiff
    import tempfile, os

    rng = np.random.RandomState(h * 41 + w)
    z = (rng.rand(h, w).astype(np.float32) * 100).astype(np.float64)
    g = Grid(z, xpos=-50.0, ypos=70.0, cellsize=cellsize, ndv=-9999.0)
    with tempfile.NamedTemporaryFile(suffix=".tif", delete=False) as f:
        path = f.name
    try:
        write_geotiff(g, path, compress=compress)
        r = read_geotiff(open(path, "rb").read())
    finally:
        os.unlink(path)
    np.testing.assert_array_equal(r.z, g.z)
    assert abs(r.cellsize - cellsize) < 1e-12 * max(1.0, cellsize)
    assert r.xpos == g.xpos


@given(
    st.integers(min_value=1, max_value=24),
    st.integers(min_value=1, max_value=24),
    st.integers(min_value=1, max_value=4),
    st.integers(min_value=0, max_value=4),
    st.integers(min_value=0, max_value=10**6),
)
@SET
def test_png_roundtrip_random(h, w, c, filt, seed):
    from tin_terrain_spark.kernels import png as P

    px = np.random.RandomState(seed).randint(0, 256, size=(h, w, c)).astype(np.uint8)
    out = P.decode_png(P.encode_png(px, filters=filt))
    assert np.array_equal(out, px)


@given(
    st.integers(min_value=-(10**5), max_value=10**5),
    st.integers(min_value=-(10**5), max_value=10**5),
)
@SET
def test_h3_axial_roundtrip_random(q, r):
    from tin_terrain_spark.functions import h3pack as H

    hid = H.h3_from_axial(q, r)
    assert H.h3_is_valid(hid)
    assert H.axial_from_h3(hid) == (q, r)


@given(
    st.integers(min_value=0, max_value=10**6),
    st.integers(min_value=1, max_value=60),
    st.floats(min_value=0.3, max_value=4.0, allow_nan=False),
    st.floats(min_value=-1.5, max_value=0.5, allow_nan=False),
)
@SET
def test_clip_native_matches_python_random(seed, n, scale, shift):
    """C clip == Python clip byte-for-byte on random soups straddling
    the unit square (the parity claim, fuzzed)."""
    from tin_terrain_spark.kernels import native
    from tin_terrain_spark.kernels.geometry import clip_triangles_to_01_quadrant

    if native.get_lib() is None:
        return
    soup = np.random.RandomState(seed).rand(n, 3, 3) * scale + shift
    py = clip_triangles_to_01_quadrant(soup.copy(), force_python=True)
    cc = native.clip01_native(soup.copy())
    assert cc is not None
    assert py.shape == cc.shape
    assert py.tobytes() == cc.tobytes()


@given(
    st.integers(min_value=0, max_value=10**6),
    st.integers(min_value=2, max_value=30),
    st.integers(min_value=0, max_value=25),
)
@SET
def test_repair_corners_native_matches_python_random(seed, size, n_valid):
    """C corner repair == raster.repair_corners bit-for-bit on random
    sparse rasters (fuzzes the Bresenham search + subsample plane)."""
    from tin_terrain_spark.kernels import native
    from tin_terrain_spark.kernels.raster import Grid, repair_corners

    if native.get_lib() is None:
        return
    rng = np.random.RandomState(seed)
    z = np.full((size, size), np.nan)
    if n_valid:
        idx = rng.choice(size * size, min(n_valid, size * size), replace=False)
        z.ravel()[idx] = rng.rand(len(idx)) * 100 - 50
    gp = Grid(z.copy())
    gn = Grid(z.copy())
    repair_corners(gp)
    native.get_lib().tin_repair_corners(gn.z.ctypes.data, size, size, float(gn.ndv))
    assert np.array_equal(gp.z, gn.z, equal_nan=True)


# --- public-suffix algorithm: Spark plan vs independent Python evaluator ---

import pytest


@pytest.fixture(scope="module")
def spark():
    from tin_terrain_spark.session import get_spark

    s = get_spark("prop", cores=4)
    yield s
    s.stop()


def _psl_reference(host: str, rules) -> tuple[str | None, str | None]:
    """Straight-line Python implementation of the publicsuffix.org
    algorithm (independent of the Spark candidate-join plan)."""
    labels = host.split(".")
    exc_len = None
    best = 0  # implicit '*' rule = 1 label; track matched label count
    for raw in rules:
        exc = raw.startswith("!")
        pat = (raw[1:] if exc else raw).split(".")
        if len(pat) > len(labels):
            continue
        tail = labels[-len(pat):]
        if all(p == "*" or p == t for p, t in zip(pat, tail)):
            if exc:
                exc_len = len(pat) - 1
            else:
                best = max(best, len(pat))
    slen = exc_len if exc_len is not None else max(best, 1)
    if len(labels) <= slen:
        return None, None
    return ".".join(labels[-slen:]), ".".join(labels[-(slen + 1):])


def test_registered_domain_reference_batch(spark):
    from tin_terrain_spark.operators.urlops import PSL_RULES, registered_domain

    import itertools
    import random

    alphabet = ["www", "a", "b", "blog", "ck", "uk", "co", "org",
                "github", "io"]
    rng = random.Random(42)
    gen = [".".join(t) for t in itertools.product(alphabet, repeat=2)]
    gen += [
        ".".join(rng.choice(alphabet) for _ in range(rng.randint(3, 5)))
        for _ in range(200)
    ]
    hosts = sorted(
        set(alphabet) | set(gen)
        | {
            "co.uk", "a.co.uk", "x.a.co.uk", "ck", "a.ck", "b.a.ck",
            "www.ck", "a.www.ck", "b.a.www.ck", "github.io",
            "u.github.io", "v.u.github.io", "org", "a.org",
            "unknown", "a.unknown", "b.a.unknown",
        }
    )
    df = spark.createDataFrame([(h,) for h in hosts], "host STRING")
    got = {
        r["host"]: (r["public_suffix"], r["registered_domain"])
        for r in registered_domain(df).collect()
    }
    for h in hosts:
        assert got[h] == _psl_reference(h, PSL_RULES), h


@settings(max_examples=25, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=4000), min_size=1, max_size=8),
    st.booleans(),
)
def test_cdx_index_random_shapes(sizes, gz):
    """index → seek roundtrip for arbitrary body sizes (incl. empty)
    in both layouts; spans tile the plain file exactly."""
    import hashlib

    from tin_terrain_spark.sources.warc import build_warc, index_warc, parse_warc

    pages = [
        {
            "url": f"https://h{i}.example.org/doc/{i}",
            "epoch": 1767225600 + i,
            "html": bytes([65 + (i + j) % 26 for j in range(n)]),
            "record_id": i,
        }
        for i, n in enumerate(sizes)
    ]
    blob = build_warc(pages, gzip_records=gz)
    idx = index_warc(blob)
    assert len(idx) == len(pages)
    for p, r in zip(pages, idx):
        assert r["seek_ok"] is True
        assert r["digest"] == hashlib.md5(p["html"]).hexdigest()
        (rec,) = parse_warc(bytes(blob[r["offset"]: r["offset"] + r["rec_length"]]))
        assert rec["body"] == p["html"]
    if not gz:
        offs = [(r["offset"], r["rec_length"]) for r in idx]
        assert offs[0][0] + sum(l for _, l in offs) == len(blob)
