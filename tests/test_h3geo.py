"""Icosahedral H3 projection layer (functions/h3geo.py).

No h3 library exists in this container, so the tests are built to be
meaningful WITHOUT external ground truth:
  - the constant tables must BE a geometrically exact icosahedron
    (dodecahedral adjacency angles, antipodal closure) and the azimuth
    table must be exactly consistent with the face-center table — a
    single garbled digit in either table breaks these at ~1e-{digit}
    while the real constants hold to machine precision;
  - the projection must be self-consistent: face centers land on the
    ijk origin, assigned cell centers re-project to the same cell, and
    cube rounding is provably nearest-center in the face plane;
  - the res-0 lattice must cover each face within coordinate 2 (the
    3x3x3 base-cell overlap region the published tables index), which
    independently pins the derived RES0 scale constant 1/phi^2.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from tin_terrain_spark.functions import h3geo as G


def _rand_sphere(n, seed=42):
    rng = np.random.RandomState(seed)
    lat = np.arcsin(rng.uniform(-1, 1, n))
    lng = rng.uniform(-math.pi, math.pi, n)
    return lat, lng


def test_face_table_is_exact_icosahedron():
    v = G.FACE_CENTER_XYZ
    assert np.abs(np.linalg.norm(v, axis=1) - 1.0).max() < 1e-12
    dots = v @ v.T
    np.fill_diagonal(dots, -2.0)
    edge = math.sqrt(5.0) / 3.0  # dodecahedral adjacent-vertex cosine
    for f in range(20):
        d = np.sort(dots[f])[::-1]
        # exactly 3 edge-adjacent at acos(sqrt(5)/3), then 6
        # vertex-adjacent at acos(1/3)
        assert np.abs(d[:3] - edge).max() < 1e-9
        assert np.abs(d[3:9] - 1.0 / 3.0).max() < 1e-9
        # exactly one antipode
        assert abs(np.sort(dots[f])[1] + 1.0) < 1e-9


def test_axis_azimuths_consistent_with_face_centers():
    """The i-axis azimuth of every face is an exact multiple of 60
    degrees from the azimuths to its 3 edge-adjacent face centers —
    the two recalled tables lock each other to machine precision."""
    v = G.FACE_CENTER_XYZ
    dots = v @ v.T
    np.fill_diagonal(dots, -2.0)
    third = math.pi / 3.0
    worst = 0.0
    for f in range(20):
        nbrs = np.argsort(dots[f])[::-1][:3]
        for n in nbrs:
            az = float(
                G._geo_azimuth(
                    G.FACE_CENTER_GEO[f, 0], G.FACE_CENTER_GEO[f, 1],
                    G.FACE_CENTER_GEO[n, 0], G.FACE_CENTER_GEO[n, 1],
                )
            )
            dev = (G.FACE_AXES_AZ_I[f] - az) % third
            worst = max(worst, min(dev, third - dev))
    assert worst < 1e-9


def test_derived_constants():
    phi = (1.0 + math.sqrt(5.0)) / 2.0
    assert G.RES0_U_GNOMONIC == pytest.approx(1.0 / phi**2, abs=1e-15)
    assert G.AP7_ROT_RADS == pytest.approx(math.asin(math.sqrt(3.0 / 28.0)))


@pytest.mark.parametrize("res", [0, 1, 2, 5])
def test_face_centers_map_to_origin(res):
    f, i, j, k = G.geo_to_face_ijk(
        G.FACE_CENTER_GEO[:, 0], G.FACE_CENTER_GEO[:, 1], res
    )
    assert (f == np.arange(20)).all()
    assert (i == 0).all() and (j == 0).all() and (k == 0).all()


def test_res0_lattice_covers_face_within_2():
    """Every point's res-0 ijk fits the 3x3x3 overlap lattice the
    published base-cell tables index — pins the 1/phi^2 scale."""
    lat, lng = _rand_sphere(20000)
    _, i, j, k = G.geo_to_face_ijk(lat, lng, 0)
    assert int(max(i.max(), j.max(), k.max())) <= 2


@pytest.mark.parametrize("res", [0, 1, 2, 3, 4])
def test_roundtrip_center_stability(res):
    """Assigned cell centers re-project to the SAME cell whenever the
    center resolves to the same face (near face edges the nearest face
    legitimately flips; that fraction must shrink with res)."""
    lat, lng = _rand_sphere(4000)
    f, i, j, k = G.geo_to_face_ijk(lat, lng, res)
    clat, clng = G.face_ijk_to_geo(f, i, j, k, res)
    f2, i2, j2, k2 = G.geo_to_face_ijk(clat, clng, res)
    same = f2 == f
    assert same.mean() > 0.78 + 0.04 * res
    assert ((i2 == i) & (j2 == j) & (k2 == k))[same].all()


def test_cube_rounding_is_nearest_center():
    rng = np.random.RandomState(7)
    x = rng.uniform(-20, 20, 3000)
    y = rng.uniform(-20, 20, 3000)
    i, j, k = G.hex2d_to_ijk(x, y)
    cx, cy = G.ijk_to_hex2d(i, j, k)
    d0 = np.hypot(x - cx, y - cy)
    # no other lattice cell in the 5x5 neighborhood is closer
    for di in range(-2, 3):
        for dj in range(-2, 3):
            if di == 0 and dj == 0:
                continue
            nx, ny = G.ijk_to_hex2d(i + di, j + dj, k)
            d = np.hypot(x - nx, y - ny)
            assert (d0 <= d + 1e-9).all()


def test_hex2d_ijk_roundtrip_lattice():
    rng = np.random.RandomState(5)
    i0 = rng.randint(0, 40, 500)
    j0 = rng.randint(0, 40, 500)
    k0 = rng.randint(0, 40, 500)
    x, y = G.ijk_to_hex2d(i0, j0, k0)
    i, j, k = G.hex2d_to_ijk(x, y)
    # normalized forms must agree
    m0 = np.minimum(np.minimum(i0, j0), k0)
    np.testing.assert_array_equal(i, i0 - m0)
    np.testing.assert_array_equal(j, j0 - m0)
    np.testing.assert_array_equal(k, k0 - m0)


def test_class_iii_rotation_applied():
    """Odd (Class III) resolutions rotate the hex frame by
    asin(sqrt(3/28)) relative to even ones: the same point's hex2d
    azimuth must differ by exactly that rotation (radius scales by
    sqrt(7))."""
    lat, lng = _rand_sphere(200, seed=3)
    f1, x1, y1 = G.geo_to_hex2d(lat, lng, 1)
    f2, x2, y2 = G.geo_to_hex2d(lat, lng, 2)
    assert (f1 == f2).all()
    t1 = np.arctan2(y1, x1)
    t2 = np.arctan2(y2, x2)
    dev = (t2 - t1 - G.AP7_ROT_RADS + math.pi) % (2 * math.pi) - math.pi
    mask = np.hypot(x1, y1) > 1e-6
    assert np.abs(dev[mask]).max() < 1e-9
    np.testing.assert_allclose(
        np.hypot(x2, y2)[mask] / np.hypot(x1, y1)[mask], G.SQRT7, rtol=1e-9
    )


def test_geo_to_h3_runs_on_derived_tables():
    """The global encode runs on the numerically derived
    engine-canonical tables (tests/test_h3global.py covers the grid
    invariants)."""
    h = G.geo_to_h3(0.5, 0.5, 9)
    assert h.shape == (1,) and h[0] > 0


@pytest.fixture(scope="module")
def spark():
    from tin_terrain_spark.session import get_spark

    s = get_spark("h3geo", cores=8)
    yield s
    s.stop()


@pytest.mark.parametrize("res", [2, 3])
def test_column_twin_equals_numpy_kernel(spark, res):
    """The pure-Column JVM chain must agree with the NumPy reference
    kernel cell-for-cell (both parities: Class II res 2, Class III
    res 3). Trig here is transcendental, so agreement is only
    boundary-fragile at the ~1-ulp level — with fixed seeds this is
    deterministic; a mismatch means a real algebra error."""
    rng = np.random.RandomState(17 + res)
    n = 2000
    x = rng.uniform(-2.0037e7, 2.0037e7, n)
    y = rng.uniform(-2.0037e7, 2.0037e7, n)
    df = spark.createDataFrame(
        [(int(m), float(a), float(b)) for m, (a, b) in enumerate(zip(x, y))],
        "row_id long, x double, y double",
    )
    got = {
        r["row_id"]: (r["h3_face"], r["h3_i"], r["h3_j"], r["h3_k"])
        for r in G.with_face_ijk_cols(df, res).collect()
    }
    lat = 2.0 * np.arctan(np.exp(y / G.EARTH_R_MERC)) - math.pi / 2.0
    lng = x / G.EARTH_R_MERC
    f, i, j, k = G.geo_to_face_ijk(lat, lng, res)
    mismatch = [m for m in range(n) if got[m] != (f[m], i[m], j[m], k[m])]
    assert not mismatch, f"{len(mismatch)} cells differ, first: {mismatch[:3]}"
