"""Unconstrained Delaunay triangulation of arbitrary 2.5D point sets
(M6 — the reference's Points2Mesh/Delaunator path,
/root/reference/src/Points2Mesh.cpp:78-85, src/Delaunator.cpp).

Like the reference, the operator runs a sweep-hull Delaunator
(kernels/delaunator.py). `delaunay_mesh_incremental` builds the same
triangulation on the quad-edge incremental structure
(kernels/delaunay.py) and is kept as the independent reference the
sweep-hull is tested against. Outputs are valid Delaunay
triangulations of the inputs (verified by the in-circle property
test), not bit-copies of Delaunator's.
"""

from __future__ import annotations

import numpy as np

from .delaunator import generate_delaunay_faces_sweephull
from .delaunay import DelaunayMesh
from .geometry import tri_area


def _first_seen_xy(pts: np.ndarray) -> np.ndarray:
    """Drop points whose (x, y) repeats an earlier point's."""
    _, first_idx = np.unique(pts[:, :2], axis=0, return_index=True)
    return pts[np.sort(first_idx)]


def generate_delaunay_mesh(points: np.ndarray):
    """points: (n, 3) float64 (x, y, z); duplicate (x, y) keep the first
    z. Returns (verts (m,3), faces (k,3) int64, CCW upward), built by
    the sweep-hull Delaunator (kernels/delaunator.py)."""
    pts = np.asarray(points, dtype=np.float64)
    if len(pts) < 3:
        return pts.reshape(-1, 3), np.zeros((0, 3), dtype=np.int64)
    pts = _first_seen_xy(pts)
    faces = generate_delaunay_faces_sweephull(pts[:, :2])
    if faces is None:
        return pts.reshape(-1, 3), np.zeros((0, 3), dtype=np.int64)
    # normalize to CCW in the x-y plane (the facade contract; Delaunator
    # emits a consistent orientation but with the opposite convention)
    v = pts[faces]
    cw = (
        (v[:, 1, 0] - v[:, 0, 0]) * (v[:, 2, 1] - v[:, 0, 1])
        - (v[:, 1, 1] - v[:, 0, 1]) * (v[:, 2, 0] - v[:, 0, 0])
    ) < 0
    faces[cw] = faces[cw][:, [1, 0, 2]]
    return pts, faces


def delaunay_mesh_incremental(points: np.ndarray):
    """Same contract as generate_delaunay_mesh, built by quad-edge
    insertion into a bounding super-quad whose corner faces are dropped
    on emission.

    Kept without a shipped caller: tests/test_delaunator.py
    (test_backends_agree) checks the sweep-hull face set against it.
    Both produce THE Delaunay triangulation (unique for points in
    general position)."""
    pts = np.asarray(points, dtype=np.float64)
    if len(pts) < 3:
        return pts.reshape(-1, 3), np.zeros((0, 3), dtype=np.int64)
    pts = _first_seen_xy(pts)

    min_x, min_y = pts[:, 0].min(), pts[:, 1].min()
    max_x, max_y = pts[:, 0].max(), pts[:, 1].max()
    pad = max(max_x - min_x, max_y - min_y, 1.0) * 10.0
    a = (min_x - pad, min_y - pad)
    b = (min_x - pad, max_y + pad)
    c = (max_x + pad, max_y + pad)
    d = (max_x + pad, min_y - pad)

    dm = DelaunayMesh()
    dm.init_mesh(a, b, c, d)
    zmap = {}
    for x, y, z in pts:
        p = (float(x), float(y))
        zmap[p] = float(z)
        dm.insert(p)

    vid = {}
    verts = []
    faces = []
    super_pts = {a, b, c, d}
    for t in dm.faces():
        p1, p2, p3 = dm.face_points(t)
        if p1 in super_pts or p2 in super_pts or p3 in super_pts:
            continue
        idx = []
        for p in (p1, p2, p3):
            if p not in vid:
                vid[p] = len(verts)
                verts.append((p[0], p[1], zmap[p]))
            idx.append(vid[p])
        # enforce CCW (x-y plane, y-up world coords)
        v = [verts[i] for i in idx]
        if tri_area(v[0][0], v[0][1], v[1][0], v[1][1], v[2][0], v[2][1]) < 0:
            idx[0], idx[1] = idx[1], idx[0]
        faces.append(tuple(idx))

    return (
        np.asarray(verts, dtype=np.float64).reshape(-1, 3),
        np.asarray(faces, dtype=np.int64).reshape(-1, 3),
    )
