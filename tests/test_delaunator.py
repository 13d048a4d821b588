"""Sweep-hull Delaunator backend (M6, Delaunator.cpp port): Delaunay
property, equivalence with the quad-edge incremental backend, and the
Points2Mesh facade contract."""

from __future__ import annotations

import numpy as np
import pytest

from tin_terrain_spark.kernels.delaunator import (
    Delaunator,
    generate_delaunay_faces_sweephull,
)
from tin_terrain_spark.kernels.points2mesh import (
    delaunay_mesh_incremental,
    generate_delaunay_mesh,
)


def _random_points(n, seed):
    rng = np.random.RandomState(seed)
    pts = rng.rand(n, 3) * 100
    pts[:, 2] = rng.rand(n) * 10
    return pts


def _check_delaunay(pts_xy, faces):
    """Every triangle's circumcircle is empty (strict interior)."""
    from tin_terrain_spark.kernels.delaunator import _circumcenter

    for f in faces:
        ax, ay = pts_xy[f[0]]
        bx, by = pts_xy[f[1]]
        cx, cy = pts_xy[f[2]]
        ox, oy = _circumcenter(ax, ay, bx, by, cx, cy)
        r2 = (ax - ox) ** 2 + (ay - oy) ** 2
        d2 = (pts_xy[:, 0] - ox) ** 2 + (pts_xy[:, 1] - oy) ** 2
        inside = d2 < r2 * (1 - 1e-9)
        inside[f] = False
        assert not inside.any(), f"non-Delaunay triangle {f}"


@pytest.mark.parametrize("seed", [1, 7, 42])
def test_sweephull_is_delaunay(seed):
    pts = _random_points(120, seed)
    faces = generate_delaunay_faces_sweephull(pts[:, :2])
    assert faces is not None
    # Euler: triangles = 2n - 2 - hull_size
    assert len(faces) >= len(pts)  # sanity lower bound
    _check_delaunay(pts[:, :2], faces)
    # all faces non-degenerate, every non-hull vertex referenced
    v = pts[faces][:, :, :2]
    areas = (v[:, 1, 0] - v[:, 0, 0]) * (v[:, 2, 1] - v[:, 0, 1]) - (
        v[:, 1, 1] - v[:, 0, 1]
    ) * (v[:, 2, 0] - v[:, 0, 0])
    assert (np.abs(areas) > 0).all()


@pytest.mark.parametrize("seed", [3, 9])
def test_backends_agree(seed):
    """The Delaunay triangulation is unique for points in general
    position: incremental quad-edge and sweep-hull must emit the same
    FACE SET (orientation-normalized) — up to hull slivers whose
    circumcircle extends beyond the incremental backend's super-quad
    pad (any finite super-quad loses those by construction; the
    sweep-hull, having no frame, keeps them). Filter both sides with
    the SAME circumradius cutoff and require exact equality."""
    from tin_terrain_spark.kernels.delaunator import _circumradius

    pts = _random_points(80, seed)
    v1, f1 = delaunay_mesh_incremental(pts)
    v2, f2 = generate_delaunay_mesh(pts)

    span = max(pts[:, 0].ptp(), pts[:, 1].ptp())
    cutoff2 = (span * 5.0) ** 2  # well inside the 10x super-quad pad

    def face_set(verts, faces):
        out = set()
        for f in faces:
            (ax, ay), (bx, by), (cx, cy) = verts[f][:, :2].tolist()
            if _circumradius(ax, ay, bx, by, cx, cy) >= cutoff2:
                continue
            out.add(tuple(sorted(((ax, ay), (bx, by), (cx, cy)))))
        return out

    s1, s2 = face_set(v1, f1), face_set(v2, f2)
    assert s1 == s2, (len(s1 - s2), len(s2 - s1))
    assert len(s1) > 100  # the filter removed at most a few hull slivers


def test_facade_ccw_and_z():
    pts = _random_points(50, 5)
    verts, faces = generate_delaunay_mesh(pts)
    # z carried through; faces CCW in the x-y plane
    assert verts.shape[1] == 3
    v = verts[faces]
    ccw = (v[:, 1, 0] - v[:, 0, 0]) * (v[:, 2, 1] - v[:, 0, 1]) - (
        v[:, 1, 1] - v[:, 0, 1]
    ) * (v[:, 2, 0] - v[:, 0, 0])
    assert (ccw > 0).all()


def test_collinear_returns_none():
    pts = np.column_stack([np.arange(10.0), np.arange(10.0) * 2])
    assert generate_delaunay_faces_sweephull(pts) is None


def test_duplicates_skipped():
    rng = np.random.RandomState(2)
    base = rng.rand(30, 2) * 10
    dup = np.vstack([base, base[:5]])
    dn = Delaunator()
    assert dn.triangulate(dup.ravel())
    tri = np.asarray(dn.triangles).reshape(-1, 3)
    _check_delaunay(dup, tri)


def test_grid_with_cocircular_points():
    """Regular grids are maximally co-circular — the stress case for
    the strict in_circle flips."""
    xs, ys = np.meshgrid(np.arange(8.0), np.arange(8.0))
    pts = np.column_stack([xs.ravel(), ys.ravel()])
    faces = generate_delaunay_faces_sweephull(pts)
    assert faces is not None
    assert len(faces) == 2 * 49  # 7x7 quads, 2 triangles each
