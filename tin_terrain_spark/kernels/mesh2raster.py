"""Mesh → raster rasterization and raster↔raster error statistics.

Mirrors /root/reference/src/Mesh2Raster.cpp:
  rasterise            :145-252 (vertices scaled to pixel space with the
                        rounding x2col/y2row, per-triangle bbox scan,
                        barycentric interpolate at integer (c, r),
                        overwrite-wins)
  rasterise_triangle   :15-115
  measureError         :351-491 (Welford single-pass variance, 2-px
                        border excluded, both-valid pixels only;
                        ndv test is `!= ndv` without isnan)

The distributed analogues (A4 and findRMSError :257-349 as join+agg)
are the error_stats query (queries.q_error_stats, rms_err); this
kernel is the per-tile / test-oracle path.
"""

from __future__ import annotations

import numpy as np

from .geometry import barycentric_interpolate
from .raster import Grid

ERROR_NDV = -99999.0  # Mesh2Raster.cpp:372


def rasterise_triangle(z: np.ndarray, tri_px: np.ndarray) -> None:
    """Rasterize one triangle given in pixel coords (col, row_tl, z)
    into z (in place, overwrite-wins). Mirrors Mesh2Raster.cpp:15-72."""
    h, w = z.shape
    bb_min = tri_px[:, :2].min(axis=0)
    bb_max = tri_px[:, :2].max(axis=0)
    rs = int(bb_min[1])
    re = int(bb_max[1] + 1.5)
    cs = int(bb_min[0])
    ce = int(bb_max[0] + 1.5)
    rs = min(max(rs, 0), h)
    re = min(max(re, 0), h)
    cs = min(max(cs, 0), w)
    ce = min(max(ce, 0), w)
    if rs >= re or cs >= ce:
        return
    cc, rr = np.meshgrid(np.arange(cs, ce), np.arange(rs, re))
    zi, inside = barycentric_interpolate(
        tri_px[0], tri_px[1], tri_px[2], cc.astype(np.float64), rr.astype(np.float64)
    )
    sub = z[rs:re, cs:ce]
    sub[inside] = zi[inside]


def rasterise_mesh(
    verts: np.ndarray,
    faces: np.ndarray,
    out_width: int,
    out_height: int,
) -> Grid:
    """World-coordinate mesh → raster (Mesh2Raster.cpp:145-252), at the
    reference's default original width, out_width."""
    bb_min = verts[:, :2].min(axis=0)
    bb_max = verts[:, :2].max(axis=0)
    mesh_w = bb_max[0] - bb_min[0]
    cs_orig = mesh_w / (out_width - 1)
    cellsize = (mesh_w + cs_orig) / out_width

    z = np.full((out_height, out_width), ERROR_NDV, dtype=np.float64)
    out = Grid(
        z,
        xpos=float(bb_min[0] - cs_orig * 0.5),
        ypos=float(bb_min[1] - cs_orig * 0.5),
        cellsize=float(cellsize),
        ndv=ERROR_NDV,
    )

    # scaleVertex: world → (col, row_tl) with rounding (Mesh2Raster.cpp:541-549)
    px = np.column_stack(
        [
            out.x2col(verts[:, 0]).astype(np.float64),
            out.y2row(verts[:, 1]).astype(np.float64),
            verts[:, 2],
        ]
    )
    for f in faces:
        rasterise_triangle(z, px[f])
    return out


def measure_error(r1: Grid, r2: Grid):
    """Returns (mean, std_pop, max_abs, count, error_map) with the
    reference's masking: 2-px border excluded, pixels valid in BOTH
    rasters, validity = `!= ndv` (Mesh2Raster.cpp:351-491)."""
    assert r1.z.shape == r2.z.shape
    h, w = r1.z.shape
    emap = np.full((h, w), ERROR_NDV, dtype=np.float64)
    a = r1.z[2 : h - 2, 2 : w - 2]
    b = r2.z[2 : h - 2, 2 : w - 2]
    valid = (a != r1.ndv) & (b != r2.ndv)
    d = a - b
    n = int(valid.sum())
    if n == 0:
        return (0.0, 0.0, 0.0, 0, emap)
    dv = d[valid]
    mean = float(dv.mean())
    std = float(dv.std())  # population std == Welford S/count here
    max_abs = float(np.abs(dv).max())
    inner = emap[2 : h - 2, 2 : w - 2]
    inner[valid] = np.abs(d[valid])
    return (mean, std, max_abs, n, emap)
