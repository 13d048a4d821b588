"""Curvature-based point reduction + unconstrained Delaunay meshing —
the reference's fourth meshing method (`curvature`,
/root/reference/src/simple_meshing.cpp:16-34, src/cmd.cpp "curvature -
sets points when curvature integral is larger than threshold",
benchmark param set benchmark_workflow.cpp:488-489).

The reducer itself (the Raster2Mesh addon class) is NOT in the
reference tree — it is compiled only under TNTN_USE_ADDONS and the
addon sources aren't vendored — so the selection rule here is the
standard public formulation the CLI help describes: keep grid points
whose discrete curvature (4-neighbour Laplacian magnitude of z)
meets the threshold, then triangulate the kept points with the
unconstrained Delaunay backend (kernels/delaunator.py — the same
Delaunator the addon path uses, Points2Mesh.cpp:9-37).

Valid corners are always kept so the mesh spans the raster extent,
matching how every other method anchors the tile.
"""

from __future__ import annotations

import numpy as np

from .raster import Grid, is_no_data


def curvature_keep_mask(z: np.ndarray, ndv: float, threshold: float) -> np.ndarray:
    """Boolean mask of kept grid points: valid AND |4z - Σneighbours|
    >= threshold (the discrete 4-neighbour Laplacian magnitude). The
    Laplacian is only defined where all 4 neighbours are valid — edge
    and hole-adjacent points are never curvature-selected (a linear
    ramp keeps exactly its 4 corner anchors), matching the 'curvature
    integral larger than threshold' rule the CLI help describes."""
    valid = ~is_no_data(z, ndv)
    zf = np.where(valid, z, 0.0)
    zp = np.pad(zf, 1, mode="constant")
    vp = np.pad(valid, 1, mode="constant")
    nb_sum = np.zeros_like(zf)
    nb_cnt = np.zeros(zf.shape, dtype=np.int64)
    for dr, dc in ((0, 1), (0, -1), (1, 0), (-1, 0)):
        nb_sum += zp[1 + dr : zp.shape[0] - 1 + dr, 1 + dc : zp.shape[1] - 1 + dc]
        nb_cnt += vp[1 + dr : vp.shape[0] - 1 + dr, 1 + dc : vp.shape[1] - 1 + dc]
    lap = np.abs(4.0 * zf - nb_sum)
    # isolated valid samples (no valid neighbour at all) are kept: they
    # cannot be reconstructed by interpolation, so dropping them would
    # lose information — the sparse-web-points analogue of the dense
    # DEM rule
    keep = valid & ((nb_cnt == 0) | ((nb_cnt == 4) & (lap >= threshold)))
    # anchor the extent: valid corners always kept
    h, w = z.shape
    for r, c in ((0, 0), (0, w - 1), (h - 1, 0), (h - 1, w - 1)):
        if valid[r, c]:
            keep[r, c] = True
    return keep


def generate_tin_curvature(grid: Grid, threshold: float):
    """Returns (vertices (n,3) world coords, faces (m,3) int64, CCW
    upward) — same contract as the terra/zemlya/dense facades."""
    from .points2mesh import generate_delaunay_mesh

    keep = curvature_keep_mask(grid.z, grid.ndv, threshold)
    rows, cols = np.nonzero(keep)
    if len(rows) < 3:
        return np.zeros((0, 3)), np.zeros((0, 3), dtype=np.int64)
    pts = np.column_stack(
        [grid.col2x(cols), grid.row2y(rows), grid.z[rows, cols]]
    )
    # deterministic input order regardless of how the mask iterated
    order = np.lexsort((pts[:, 0], pts[:, 1]))
    return generate_delaunay_mesh(pts[order])
