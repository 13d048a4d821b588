"""Dense quad-walk mesh: one vertex per `step` pixels, 2 CCW faces per
quad; no-data gap-filled by nearest-valid-average.

Mirrors generate_tin_dense_quadwalk
(/root/reference/src/simple_meshing.cpp:99-155):
  vertices_per_row  = (w-1)/step + ((w-1)%step ? 1 : 0) + 1
  vertices_per_col  = (h-1)/step + ((h-1)%step ? 1 : 0) + 1
  last row/col clamped to the grid edge
  faces per quad: (lr, ur, ul) and (lr, ul, ll) — CCW, upward-facing
This count law is the exact oracle the tests use
(test/src/simple_meshing_tests.cpp:45-73, BASELINE.md).
"""

from __future__ import annotations

import numpy as np

from .raster import Grid, is_no_data, sample_nearest_valid_avg


def dense_mesh_counts(w: int, h: int, step: int):
    """The closed-form vertex/face counts (BASELINE.md count law).

    Kept without a shipped caller: tests/test_kernels_terra.py
    (test_dense_count_law) checks the dense mesher against it."""
    vpr = (w - 1) // step + (1 if (w - 1) % step else 0) + 1
    vpc = (h - 1) // step + (1 if (h - 1) % step else 0) + 1
    return vpr * vpc, (vpr - 1) * (vpc - 1) * 2


def generate_tin_dense_quadwalk(grid: Grid, step: int = 1):
    """Returns (vertices (n,3) world coords, faces (m,3) int64)."""
    assert step > 0
    h, w = grid.z.shape
    if h < 2 or w < 2:
        return np.zeros((0, 3)), np.zeros((0, 3), dtype=np.int64)

    vpr, vpc = (
        (w - 1) // step + (1 if (w - 1) % step else 0) + 1,
        (h - 1) // step + (1 if (h - 1) % step else 0) + 1,
    )

    cols = np.minimum(np.arange(vpr) * step, w - 1)
    rows = np.minimum(np.arange(vpc) * step, h - 1)

    zz = grid.z[np.ix_(rows, cols)]
    bad_r, bad_c = np.nonzero(is_no_data(zz, grid.ndv))
    if len(bad_r):
        from .raster import nearest_valid_avg_batch

        fill = nearest_valid_avg_batch(grid, rows[bad_r], cols[bad_c])
        # the Bresenham circles can miss every valid cell; such a vertex
        # takes 0.0, the corner-repair fallback (TerraUtils.cpp:8-22)
        zz[bad_r, bad_c] = np.where(is_no_data(fill, grid.ndv), 0.0, fill)

    xs = grid.col2x(cols)
    ys = grid.row2y(rows)
    verts = np.column_stack(
        [
            np.tile(xs, vpc),
            np.repeat(ys, vpr),
            zz.reshape(-1),
        ]
    )

    # faces: for each quad with lower-right vertex index i (row>=1, col>=1):
    # (i, i-vpr, i-vpr-1) and (i, i-vpr-1, i-1)   (simple_meshing.cpp:36-60)
    rr, cc = np.meshgrid(np.arange(1, vpc), np.arange(1, vpr), indexing="ij")
    i = (rr * vpr + cc).reshape(-1)
    f_a = np.column_stack([i, i - vpr, i - vpr - 1])
    f_b = np.column_stack([i, i - vpr - 1, i - 1])
    faces = np.empty((len(i) * 2, 3), dtype=np.int64)
    faces[0::2] = f_a
    faces[1::2] = f_b
    return verts, faces
