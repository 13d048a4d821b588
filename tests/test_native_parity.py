"""Native-vs-Python kernel parity (kernels/native.py + _native/tinmesh.c).

The C fast path must be BIT-IDENTICAL to the pure-Python kernels —
same vertices (including z doubles), same faces, same order — on every
workload class: hash-noise web tiles, smooth DEMs, no-data holes,
non-NaN ndv sentinels, flat ties, sparse rasters, and degenerate tiny
grids. The post-mesh half of the tile kernel (native.tile_qm_native)
must write the same terrain bytes, n_vertices and n_faces as its NumPy
oracle (meshing._tile_terrain with the library unloaded). The Python
kernel is the semantics oracle (it carries the reference citations +
golden/invariant tests); the C kernel is a cache.
"""

from __future__ import annotations

import os
import pickle
import struct
import subprocess
import sys

import numpy as np
import pytest

from tin_terrain_spark.functions.geocode_exprs import tile_size_meters
from tin_terrain_spark.kernels import native
from tin_terrain_spark.kernels.codec import decode_qm_tile
from tin_terrain_spark.kernels.tin import METHODS, generate_tin
from tin_terrain_spark.operators.meshing import _make_tile_fn, _tile_terrain
from tin_terrain_spark.kernels.raster import Grid
from tin_terrain_spark.kernels.terra import generate_tin_terra
from tin_terrain_spark.kernels.zemlya import ZemlyaMesh, generate_tin_zemlya

pytestmark = pytest.mark.skipif(
    not native.native_available(), reason="no C compiler in this environment"
)


def _grids():
    rng = np.random.RandomState(7)
    m = 52
    xx = np.linspace(0, 1, m)
    XX, YY = np.meshgrid(xx, xx)
    noise = np.sin(XX * 9) * np.cos(YY * 7) * 30 + rng.rand(m, m) * 8
    yield "noise", Grid(noise.copy()), np.nan

    n = 96
    x = np.linspace(0, 6, n)
    X, Y = np.meshgrid(x, x)
    smooth = np.sin(X) * np.cos(Y * 0.7) * 400 + X * 30
    yield "smooth", Grid(smooth.copy()), np.nan

    holes = noise.copy()
    holes[10:20, 15:30] = np.nan
    holes[0, :] = np.nan  # invalid corners force repair paths
    yield "nan_holes", Grid(holes.copy()), np.nan

    ndv = noise.copy()
    ndv[5:9, 5:9] = -9999.0
    yield "ndv_sentinel", Grid(ndv.copy(), ndv=-9999.0), -9999.0

    flat = np.full((33, 47), 5.0)
    flat[16, 23] = 50.0
    yield "flat_ties", Grid(flat.copy()), np.nan

    sparse = np.full((36, 36), np.nan)
    rr = np.random.RandomState(11)
    idx = rr.choice(36 * 36, 60, replace=False)
    sparse.ravel()[idx] = rr.rand(60) * 100
    yield "sparse_web", Grid(sparse.copy()), np.nan

    yield "tiny", Grid(np.array([[1.0, 2.0], [3.0, 4.0]])), np.nan


def _python_mesh(kernel, grid):
    """The kernel's pure-Python mesh, the reference for the C path."""
    if kernel == "terra":
        return generate_tin_terra(grid, 2.0, use_native=False)
    zm = ZemlyaMesh(grid)
    zm.greedy_insert(2.0)
    return zm.to_mesh()


@pytest.mark.parametrize("kernel", ["terra", "zemlya"])
def test_backend_equality(kernel):
    gen = generate_tin_terra if kernel == "terra" else generate_tin_zemlya
    for name, grid, _ in _grids():
        gp = Grid(grid.z.copy(), grid.xpos, grid.ypos, grid.cellsize, grid.ndv)
        gn = Grid(grid.z.copy(), grid.xpos, grid.ypos, grid.cellsize, grid.ndv)
        vp, fp = _python_mesh(kernel, gp)
        vn, fn = gen(gn, 2.0)
        assert np.array_equal(vp, vn), (kernel, name, "vertices differ")
        assert np.array_equal(fp, fn), (kernel, name, "faces differ")
        # corner repair must mutate the raster identically too
        assert np.array_equal(gp.z, gn.z, equal_nan=True), (kernel, name)


def test_native_disable_env(monkeypatch):
    """TTS_NO_NATIVE forces the Python path (and a fresh probe)."""
    monkeypatch.setenv("TTS_NO_NATIVE", "1")
    monkeypatch.setattr(native, "_tried", False)
    monkeypatch.setattr(native, "_lib", None)
    assert native.native_available() is False
    monkeypatch.setattr(native, "_tried", False)


def test_repair_corners_c_equals_python():
    """The lazy per-center C corner repair must mutate the raster
    bit-identically to the Python full-plane implementation on every
    grid class (sparse rasters stress the wide Bresenham search)."""
    for name, grid, ndv in _grids():
        gp = Grid(grid.z.copy(), grid.xpos, grid.ypos, grid.cellsize, grid.ndv)
        gn = Grid(grid.z.copy(), grid.xpos, grid.ypos, grid.cellsize, grid.ndv)
        native._repair_corners(gp)
        lib = native.get_lib()
        import ctypes

        h, w = gn.z.shape
        lib.tin_repair_corners(
            native._ptr(gn.z, ctypes.c_double), h, w, float(gn.ndv)
        )
        assert np.array_equal(gp.z, gn.z, equal_nan=True), name
        # repaired corners must also be bit-sign-identical
        for r, c in ((0, 0), (h - 1, 0), (h - 1, w - 1), (0, w - 1)):
            assert np.signbit(gp.z[r, c]) == np.signbit(gn.z[r, c]), name


def _clip_soups():
    from tin_terrain_spark.kernels.dense import generate_tin_dense_quadwalk
    from tin_terrain_spark.kernels.terra import generate_tin_terra

    rng = np.random.RandomState(5)
    # random soups straddling the unit square at several scales
    for scale, shift in ((1.4, -0.2), (3.0, -1.0), (0.5, 0.3)):
        yield f"random_{scale}", rng.rand(80, 3, 3) * scale + shift
    # a real mesh in buffered-tile unit space (vertices exactly on the
    # 0/1 lines and outside: the production shape)
    z = np.cumsum(rng.rand(36, 36) - 0.5, axis=0) * 5
    verts, faces = generate_tin_terra(Grid(z.copy()), 1.0)
    tris = verts[faces]
    unit = tris.copy()
    unit[:, :, 0] = unit[:, :, 0] / 31.0 - 0.0645
    unit[:, :, 1] = unit[:, :, 1] / 31.0 - 0.0645
    yield "mesh_buffered", unit
    # exact on-line vertices (x or y exactly 0/1) hit the sign==0 rules
    t = np.array(
        [
            [[0.0, 0.5, 1.0], [0.5, 0.5, 2.0], [0.5, 0.0, 3.0]],
            [[1.0, 1.0, 1.0], [0.2, 0.8, 2.0], [1.0, 0.2, 3.0]],
            [[-0.5, 0.5, 1.0], [1.5, 0.5, 2.0], [0.5, 1.5, 3.0]],  # split-quad
            [[2.0, 2.0, 0.0], [3.0, 2.0, 0.0], [2.0, 3.0, 0.0]],   # fully out
            [[np.nan, 0.5, 1.0], [0.5, 0.5, 2.0], [0.5, 0.0, 3.0]],  # nan tri
        ]
    )
    yield "edge_rules", t
    yield "empty", np.zeros((0, 3, 3))


def test_clip01_c_equals_python():
    from tin_terrain_spark.kernels.geometry import clip_triangles_to_01_quadrant

    for name, soup in _clip_soups():
        py = clip_triangles_to_01_quadrant(soup.copy(), force_python=True)
        cc = native.clip01_native(soup.copy())
        assert cc is not None, name
        assert py.shape == cc.shape, (name, py.shape, cc.shape)
        assert py.tobytes() == cc.tobytes(), name  # byte parity incl. -0.0


def test_max_error_sweep_equality():
    """Insertion order is error-threshold dependent; sweep thresholds."""
    rng = np.random.RandomState(3)
    z = rng.rand(40, 40) * 50
    for me in (0.5, 2.0, 10.0, 1e9):
        vp, fp = generate_tin_terra(Grid(z.copy()), me, use_native=False)
        vn, fn = generate_tin_terra(Grid(z.copy()), me, use_native=True)
        assert np.array_equal(vp, vn) and np.array_equal(fp, fn), me


def test_terra_native_result_is_not_overwritten():
    """terra_native reuses its scratch buffers per raster shape: the
    arrays it returns must be copies, untouched by the next call."""
    rng = np.random.RandomState(9)
    a, b = rng.rand(36, 36) * 50, rng.rand(36, 36) * 50
    va, fa = native.terra_native(Grid(a.copy()), 2.0)
    keep_v, keep_f = va.copy(), fa.copy()
    vb, fb = native.terra_native(Grid(b.copy()), 2.0)
    assert not np.array_equal(va, vb)
    assert np.array_equal(va, keep_v) and np.array_equal(fa, keep_f)
    assert all(arr.flags.owndata for arr in (va, fa, vb, fb))


def test_terra_native_overflow_restores_corners(monkeypatch):
    """A C call that overflows returns None with the raster's corners
    as they were, so the pure-Python fallback repairs pristine corners
    (repair is not idempotent) and equals the oracle."""
    z = np.full((36, 36), np.nan)
    z[10, 12], z[20, 5] = 7.0, -3.0
    before = z.copy()
    monkeypatch.setattr(native, "_scratch", lambda h, w, cap: native._Scratch(h, w, 1))
    grid = Grid(z)
    assert native.terra_native(grid, 2.0) is None
    assert np.array_equal(grid.z, before, equal_nan=True)
    v, f = generate_tin_terra(grid, 2.0)  # falls back to Python
    vp, fp = generate_tin_terra(Grid(before.copy()), 2.0, use_native=False)
    assert np.array_equal(v, vp) and np.array_equal(f, fp)


@pytest.mark.parametrize("layout", ["float32", "fortran", "strided"])
def test_terra_native_other_layouts(layout):
    """Rasters that are not C-contiguous float64 repair in their own
    arithmetic and mesh a float64 copy: still equal to the oracle."""
    rng = np.random.RandomState(4)
    z = np.full((36, 36), np.nan)
    idx = rng.choice(36 * 36, 80, replace=False)
    z.ravel()[idx] = rng.rand(80) * 100

    def make():
        if layout == "float32":
            return z.astype(np.float32)
        if layout == "fortran":
            return np.asfortranarray(z)
        out = np.full((36, 72), np.nan)[:, ::2]
        out[...] = z
        return out

    gn, gp = Grid(make(), 1.0, 2.0, 3.0), Grid(make(), 1.0, 2.0, 3.0)
    vn, fn = generate_tin_terra(gn, 2.0, use_native=True)
    vp, fp = generate_tin_terra(gp, 2.0, use_native=False)
    assert np.array_equal(vn, vp) and np.array_equal(fn, fp)
    assert np.array_equal(gn.z, gp.z, equal_nan=True)


# -- the post-mesh half: native.tile_qm_native vs its NumPy oracle ------

ZOOM, GRID_BITS, BUFFER = 6, 5, 2
MAX_ERROR = tile_size_meters(ZOOM + GRID_BITS) / 10000.0  # the pyramid's


def web_tiles(seed: int = 21):
    """Seeded sparse web tiles in _make_tile_fn's input form (tile_x,
    tile_y, row_b, col_b, z_sum, z_cnt): 1 to 400 occupied cells of the
    buffered 36x36 raster, DEM-like heights, 1-3 points a cell."""
    rng = np.random.RandomState(seed)
    size = (1 << GRID_BITS) + 2 * BUFFER
    out = []
    for n in (1, 4, 15, 15, 60, 60, 400):
        idx = np.sort(rng.choice(size * size, n, replace=False))
        cnt = rng.randint(1, 4, n).astype(np.int64)
        z_sum = (rng.rand(n) * 220.0 - 110.0) * cnt
        tx, ty = (int(v) for v in rng.randint(0, 1 << ZOOM, 2))
        out.append((tx, ty, (idx // size).astype(np.int32),
                    (idx % size).astype(np.int32), z_sum, cnt))
    return out


def canon(row: dict) -> tuple:
    """A kernel row as comparable values: floats by their bits (NaN
    included), the timing field dropped."""
    return tuple(
        (k, struct.pack("<d", v) if isinstance(v, float) else v)
        for k, v in sorted(row.items()) if k != "mesh_seconds"
    )


def _tile_mesh(tile, method):
    """A web tile's mesh as the tile kernel builds it, with its bounds."""
    from tin_terrain_spark.functions import geocode_exprs as GX

    tx, ty, rows, cols, z_sum, z_cnt = tile
    size = (1 << GRID_BITS) + 2 * BUFFER
    z = np.full((size, size), np.nan)
    z[rows, cols] = z_sum / z_cnt
    tile_m = tile_size_meters(ZOOM)
    cellsize = tile_m / (1 << GRID_BITS)
    hc = GX.HALF_CIRCUMFERENCE
    res = 2.0 * hc / 256.0 / (1 << ZOOM)
    x0, y0 = tx * 256.0 * res - hc, ty * 256.0 * res - hc
    grid = Grid(z, xpos=x0 - BUFFER * cellsize, ypos=y0 - BUFFER * cellsize,
                cellsize=cellsize)
    verts, faces = generate_tin(grid, method, MAX_ERROR, 1)
    return verts, faces, x0, y0, tile_m


def _numpy_tile_terrain(*args):
    """meshing._tile_terrain's NumPy path: the oracle, with the library
    unloaded for the call."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(native, "get_lib", lambda: None)
        return _tile_terrain(*args)


def _assert_tile_parity(verts, faces, x0, y0, tile_m):
    got = native.tile_qm_native(verts, faces, x0, y0, tile_m)
    want = _numpy_tile_terrain(verts, faces, x0, y0, tile_m)
    assert got is not None
    assert got[1:] == want[1:]
    assert got[0] == want[0]  # terrain bytes, None for a faceless mesh
    return got


@pytest.mark.parametrize("method", METHODS)
def test_tile_qm_equals_numpy(method):
    for tile in web_tiles():
        blob, _, n_faces = _assert_tile_parity(*_tile_mesh(tile, method))
        assert n_faces == 0 or blob is not None


@pytest.mark.parametrize("compute_error", [False, True])
@pytest.mark.parametrize("method", METHODS)
def test_tile_kernel_native_equals_numpy(method, compute_error, monkeypatch):
    """The whole tile kernel, one native mesh call + one native tile
    call, against the same kernel with the library unloaded."""
    fn = _make_tile_fn(ZOOM, GRID_BITS, BUFFER, method, MAX_ERROR, 1,
                       compute_error, True)
    tiles = web_tiles(seed=22)
    got = [canon(fn(*t)) for t in tiles]
    monkeypatch.setattr(native, "get_lib", lambda: None)
    want = [canon(fn(*t)) for t in tiles]
    assert got == want


def test_tile_qm_faceless():
    verts = np.random.RandomState(1).rand(5, 3)
    faces = np.zeros((0, 3), dtype=np.int64)
    assert _assert_tile_parity(verts, faces, 0.0, 0.0, 1.0) == (None, 5, 0)


def test_tile_qm_fully_clipped():
    """Every triangle outside [0,1]²: no face survives, the tile still
    encodes (header, no vertices, no faces, empty edge lists)."""
    rng = np.random.RandomState(2)
    verts = rng.rand(30, 3) + [2.0, -3.0, 0.0]
    faces = rng.randint(0, 30, (20, 3)).astype(np.int64)
    blob, n_vertices, n_faces = _assert_tile_parity(verts, faces, 0.0, 0.0, 1.0)
    assert (n_vertices, n_faces) == (0, 0) and len(blob) == 88 + 4 + 4 + 16


def test_tile_qm_flat():
    """zmax == zmin: heights normalize with inv_z = 1."""
    rng = np.random.RandomState(3)
    verts = np.column_stack([rng.rand(40) * 1.4 - 0.2, rng.rand(40) * 1.4 - 0.2,
                             np.full(40, 12.5)])
    faces = rng.randint(0, 40, (60, 3)).astype(np.int64)
    _assert_tile_parity(verts, faces, 0.0, 0.0, 1.0)


def test_tile_qm_shared_vertices_and_signed_zeros():
    """Shared vertices dedup first-seen; -0.0 and 0.0 are one vertex
    (value equality) that keeps its first occurrence; heights holding
    both zeros as zmin take the header's sign from numpy."""
    verts = np.array([
        [0.0, 0.5, 0.0], [-0.0, 0.5, -0.0], [0.5, 0.0, 3.0], [0.5, -0.0, 3.0],
        [0.5, 0.5, 1.0], [1.0, 1.0, 2.0], [-0.0, -0.0, 0.0], [0.25, 0.75, -0.0],
        [1.5, 0.5, 2.0], [0.5, -0.5, 1.0],
    ])
    faces = np.array([
        [0, 2, 4], [1, 3, 4], [4, 5, 0], [6, 2, 1], [7, 4, 0], [4, 8, 5],
        [9, 2, 4], [3, 9, 6], [7, 1, 5],
    ], dtype=np.int64)
    for f in (faces, faces[::-1].copy(), faces[:, ::-1].copy()):
        _assert_tile_parity(verts, f, 0.0, 0.0, 1.0)
        _assert_tile_parity(verts, f, -0.0, 0.0, 1.0)


def test_tile_qm_wide_indices():
    """Above 65,536 unique vertices the face and edge indices are u32
    and the alignment pad is 4 bytes."""
    rng = np.random.RandomState(4)
    n_tri = 22_000
    verts = rng.rand(3 * n_tri, 3) * 0.98 + 0.01
    faces = np.arange(3 * n_tri, dtype=np.int64).reshape(-1, 3)
    verts[:120:3, 0] = 0.0  # 40 west edge vertices, in the u32 lists
    blob, n_vertices, n_faces = _assert_tile_parity(verts, faces, 0.0, 0.0, 1.0)
    assert n_vertices > 65_536
    t = decode_qm_tile(blob)
    assert (len(t.u), len(t.faces), len(t.west)) == (n_vertices, n_faces, 40)


def test_tile_qm_non_finite_raises():
    verts = np.array([[0.1, 0.1, 1.0], [0.9, 0.1, np.nan], [0.5, 0.9, 2.0]])
    faces = np.array([[0, 1, 2]], dtype=np.int64)
    for tile_terrain in (_tile_terrain, _numpy_tile_terrain):
        with pytest.raises(ValueError, match="non-finite"):
            tile_terrain(verts, faces, 0.0, 0.0, 1.0)


_FALLBACK_SCRIPT = """
import pickle, sys
sys.path[:0] = [{repo!r}, {tests!r}]
import test_native_parity as T
from tin_terrain_spark.kernels import native
from tin_terrain_spark.operators.meshing import _make_tile_fn
assert not native.native_available()
rows = []
for method in T.METHODS:
    fn = _make_tile_fn(T.ZOOM, T.GRID_BITS, T.BUFFER, method, T.MAX_ERROR, 1, True, True)
    rows.append([T.canon(fn(*t)) for t in T.web_tiles(seed=23)[:5]])
sys.stdout.buffer.write(pickle.dumps(rows))
"""


def test_no_native_process_equals_native():
    """TTS_NO_NATIVE=1 in a fresh process (the no-toolchain path) gives
    the same rows, terrain bytes included, as the native kernel here."""
    tests = os.path.dirname(os.path.abspath(__file__))
    script = _FALLBACK_SCRIPT.format(repo=os.path.dirname(tests), tests=tests)
    env = dict(os.environ, TTS_NO_NATIVE="1")
    out = subprocess.run([sys.executable, "-c", script], env=env,
                         capture_output=True, check=True, timeout=600)
    fallback = pickle.loads(out.stdout)
    got = []
    for method in METHODS:
        fn = _make_tile_fn(ZOOM, GRID_BITS, BUFFER, method, MAX_ERROR, 1, True, True)
        got.append([canon(fn(*t)) for t in web_tiles(seed=23)[:5]])
    assert got == fallback
