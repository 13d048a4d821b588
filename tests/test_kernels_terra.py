"""Terra/dense meshing kernel tests — port of the reference's synthetic
sin-terrain property tests (test/src/terra_meshing_tests.cpp:26-216,
test/src/simple_meshing_tests.cpp:10-73), same generators/seeds."""

import numpy as np
import pytest

from tin_terrain_spark.kernels.dense import dense_mesh_counts, generate_tin_dense_quadwalk
from tin_terrain_spark.kernels.raster import Grid, integer_downsample_mean, sample_nearest_valid_avg
from tin_terrain_spark.kernels.terra import generate_tin_terra
from tin_terrain_spark.kernels.validate import check_tin_properties, triangles_overlap_exists
from tin_terrain_spark.kernels.mesh2raster import measure_error, rasterise_mesh


def sin_grid(w=10, h=20, amp=1.0, freq=1.0):
    """z = amp*sin(freq*x)*sin(freq*y) (terra_meshing_tests.cpp:28)."""
    c, r = np.meshgrid(np.arange(w, dtype=np.float64), np.arange(h, dtype=np.float64))
    # world y for row r (cellsize 1, ypos 0): (h-1-r+0.5) ... but the
    # reference builds rasters from xy points; we evaluate on pixel indices
    z = amp * np.sin(freq * c) * np.sin(freq * r)
    return Grid(z, xpos=0.0, ypos=0.0, cellsize=1.0, ndv=np.nan)


def test_terra_small_dense_grid():
    g = sin_grid(10, 20)
    verts, faces = generate_tin_terra(g, max_error=0.02)
    assert len(verts) >= 4
    assert len(faces) >= 2
    ok, problems = check_tin_properties(verts, faces, expect_square_hull=True)
    assert ok, problems
    assert not triangles_overlap_exists(verts, faces)


def test_terra_max_error_bound_holds():
    """mesh → rasterize → compare: max |err| over interior must be ≤
    max_error-ish (the reference's benchmark oracle, SURVEY §3.3)."""
    g = sin_grid(30, 30, amp=10.0, freq=0.3)
    max_error = 1.0
    verts, faces = generate_tin_terra(g, max_error=max_error)
    r = rasterise_mesh(verts, faces, 30, 30)
    src = Grid(g.z.copy(), xpos=0.0, ypos=0.0, cellsize=1.0, ndv=-99999.0)
    mean, std, max_abs, n, _ = measure_error(r, src)
    assert n > 0
    # interpolated raster vs plane-based refinement: allow small slack
    assert max_abs <= max_error + 0.35, max_abs


def test_terra_error_zero_inserts_all():
    """max_error=0 → every non-corner grid point with |err|>0 gets
    inserted → vertex count close to grid size."""
    g = sin_grid(12, 12, amp=5.0, freq=0.9)
    verts, faces = generate_tin_terra(g, max_error=0.0)
    assert len(verts) >= 0.9 * 12 * 12


def test_terra_flat_grid_stays_two_triangles():
    g = Grid(np.zeros((8, 8)), ndv=np.nan)
    verts, faces = generate_tin_terra(g, max_error=0.1)
    assert len(verts) == 4
    assert len(faces) == 2


def test_terra_with_random_holes():
    """Random deletions with mt19937(42) spirit
    (terra_meshing_tests.cpp:52-86): keep ~1/16 of points."""
    rng = np.random.RandomState(42)
    g = sin_grid(40, 40, amp=10.0, freq=0.1)
    mask = rng.randint(0, 16, size=g.z.shape) != 0
    g.z[mask] = np.nan
    verts, faces = generate_tin_terra(g, max_error=0.5)
    ok, problems = check_tin_properties(verts, faces, expect_square_hull=True)
    assert ok, problems
    # no NaN z values may be emitted
    assert not np.isnan(verts).any()


def test_terra_missing_corners_repaired():
    """5x5 grid with missing corners (terra_meshing_tests.cpp:153-186)."""
    g = sin_grid(5, 5, amp=3.0, freq=1.0)
    g.z[0, 0] = np.nan
    g.z[4, 4] = np.nan
    verts, faces = generate_tin_terra(g, max_error=0.01)
    ok, problems = check_tin_properties(verts, faces)
    assert ok, problems
    assert not np.isnan(verts).any()


def test_terra_deterministic():
    g1 = sin_grid(25, 25, amp=8.0, freq=0.4)
    g2 = sin_grid(25, 25, amp=8.0, freq=0.4)
    v1, f1 = generate_tin_terra(g1, max_error=0.3)
    v2, f2 = generate_tin_terra(g2, max_error=0.3)
    np.testing.assert_array_equal(v1, v2)
    np.testing.assert_array_equal(f1, f2)


@pytest.mark.parametrize("step", [1, 2, 3, 5, 20])
def test_dense_count_law(step):
    """poly_count == (w'-1)*(h'-1)*2 per step (BASELINE.md count law)."""
    w, h = 11, 20
    g = Grid(np.arange(w * h, dtype=np.float64).reshape(h, w), xpos=42.0, ypos=23.0, cellsize=1.5, ndv=np.nan)
    verts, faces = generate_tin_dense_quadwalk(g, step=step)
    exp_v, exp_f = dense_mesh_counts(w, h, step)
    assert len(verts) == exp_v
    assert len(faces) == exp_f
    ok, problems = check_tin_properties(verts, faces)
    assert ok, problems


def test_dense_georef_bbox():
    """Dense mesh spans pixel centers of the georeferenced grid
    (simple_meshing_tests.cpp:10-73)."""
    w, h = 11, 20
    g = Grid(np.ones((h, w)), xpos=42.0, ypos=23.0, cellsize=1.5, ndv=np.nan)
    verts, _ = generate_tin_dense_quadwalk(g, step=1)
    assert verts[:, 0].min() == 42.0 + 0.5 * 1.5
    assert verts[:, 0].max() == 42.0 + (w - 1 + 0.5) * 1.5
    assert verts[:, 1].min() == 23.0 + 0.5 * 1.5
    assert verts[:, 1].max() == 23.0 + (h - 1 + 0.5) * 1.5


def test_dense_single_valid_cell_heights_finite():
    """One valid cell in a 36x36 no-data grid: the Bresenham gap fill
    misses it from some vertices, which take the 0.0 corner-repair
    fallback, never NaN. Counts still follow the count law."""
    z = np.full((36, 36), np.nan)
    z[10, 10] = 5.0
    g = Grid(z, xpos=0.0, ypos=0.0, cellsize=1.0, ndv=np.nan)
    verts, faces = generate_tin_dense_quadwalk(g, step=1)
    assert np.isfinite(verts).all()
    assert verts[:, 2].max() == 5.0
    assert (len(verts), len(faces)) == dense_mesh_counts(36, 36, 1)


def test_downsample_mean_golden():
    """A1 downsample (Raster_tests.cpp:119-139 semantics + sum>0 quirk)."""
    z = np.array(
        [
            [1.0, 2.0, 3.0, 4.0],
            [5.0, 6.0, 7.0, 8.0],
            [-1.0, -1.0, 9.0, 10.0],
            [-1.0, -1.0, 11.0, 12.0],
        ]
    )
    g = Grid(z, ndv=-1.0)
    out = integer_downsample_mean(g, 2)
    assert out.z.shape == (2, 2)
    assert out.z[0, 0] == (1 + 2 + 5 + 6) / 4.0
    assert out.z[0, 1] == (3 + 4 + 7 + 8) / 4.0
    assert out.z[1, 0] == -1.0  # all ndv → stays ndv
    assert out.z[1, 1] == (9 + 10 + 11 + 12) / 4.0
    assert out.cellsize == 2.0


def test_downsample_sum_negative_quirk():
    """count>0 but sum<=0 → destination keeps ndv (raster_tools.cpp:50-55)."""
    z = np.array([[-5.0, 2.0], [1.0, 1.0]])
    g = Grid(z, ndv=-99.0)
    out = integer_downsample_mean(g, 2)
    assert out.z[0, 0] == -99.0  # sum = -1 <= 0


def test_nearest_valid_avg():
    z = np.full((9, 9), np.nan)
    z[4, 4] = 7.0
    g = Grid(z, ndv=np.nan)
    # directly on the valid pixel
    assert sample_nearest_valid_avg(g, 4, 4) == 7.0
    # a few cells away: expanding circles eventually find it
    v = sample_nearest_valid_avg(g, 0, 0)
    assert abs(v - 7.0) < 1e-9
    # nothing valid anywhere
    g2 = Grid(np.full((5, 5), np.nan), ndv=np.nan)
    assert np.isnan(sample_nearest_valid_avg(g2, 2, 2))


def test_raster_coord_roundtrip():
    """x2col(col2x(c)) == c (Raster_tests.cpp:45-67)."""
    g = Grid(np.zeros((20, 11)), xpos=42.0, ypos=23.0, cellsize=1.5, ndv=np.nan)
    cols = np.arange(11)
    np.testing.assert_array_equal(g.x2col(g.col2x(cols)), cols)
    rows = np.arange(20)
    np.testing.assert_array_equal(g.y2row(g.row2y(rows)), rows)
    # bbox spans pixel centers: width = (w-1)*cellsize (Raster_tests.cpp:28-42)
    x0, y0, x1, y1 = g.bbox()
    assert abs((x1 - x0) - 10 * 1.5) < 1e-12
    assert abs((y1 - y0) - 19 * 1.5) < 1e-12


def test_zemlya_sin_grid():
    from tin_terrain_spark.kernels.zemlya import generate_tin_zemlya

    g = sin_grid(40, 40, amp=10.0, freq=0.3)
    verts, faces = generate_tin_zemlya(g, max_error=0.5)
    ok, problems = check_tin_properties(verts, faces)
    assert ok, problems
    assert len(verts) > 4


def test_zemlya_coarser_than_terra():
    """Zemlya's hierarchical averaging yields fewer vertices than terra
    at the same max_error (BASELINE.md: 593,926 vs 1,038,850 at 2.0)."""
    g1 = sin_grid(50, 50, amp=20.0, freq=0.25)
    g2 = sin_grid(50, 50, amp=20.0, freq=0.25)
    vt, _ = generate_tin_terra(g1, max_error=1.0)
    from tin_terrain_spark.kernels.zemlya import generate_tin_zemlya

    vz, _ = generate_tin_zemlya(g2, max_error=1.0)
    assert len(vz) <= len(vt) * 1.1


def test_zemlya_deterministic():
    from tin_terrain_spark.kernels.zemlya import generate_tin_zemlya

    v1, f1 = generate_tin_zemlya(sin_grid(30, 30, amp=8.0, freq=0.4), 0.3)
    v2, f2 = generate_tin_zemlya(sin_grid(30, 30, amp=8.0, freq=0.4), 0.3)
    np.testing.assert_array_equal(v1, v2)
    np.testing.assert_array_equal(f1, f2)
