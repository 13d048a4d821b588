"""Geometry kernels: predicates, barycentric interpolation, 2.5D clipping.

Semantics follow the reference:
  triArea / inCircle (EPS=1e-6 bias)        include/tntn/QuadEdge.h:6,13-44
  barycentric interpolate (bounds incl.)    src/SuperTriangle.cpp:32-49
  sign_2D half-plane test                   src/geometrix.cpp:462-517
  segment × line intersection (2.5D)        src/geometrix.cpp:417-460
  triangle clip by line / to 01 quadrant    src/geometrix.cpp:609-781

All are NumPy-friendly; the clip routines operate on (n,3,3) triangle
arrays via per-triangle logic (they run inside per-tile pandas UDFs).
"""

from __future__ import annotations

import numpy as np

IN_CIRCLE_EPS = 1e-6  # QuadEdge.h:6
CLIP_EPS = 1e-9  # geometrix.cpp:436,503


def tri_area(ax, ay, bx, by, cx, cy):
    """Twice the signed area; >0 for CCW (QuadEdge.h:15-18)."""
    return (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)


def in_circle(ax, ay, bx, by, cx, cy, dx, dy):
    """True if d strictly inside circumcircle of (a,b,c), with the
    reference's EPS=1e-6 bias (QuadEdge.h:37-44).

    Kept without a shipped caller: the Delaunay-property check in
    tests/test_kernels_meshio.py (test_points2mesh_delaunay_property)."""
    return (
        (ax * ax + ay * ay) * tri_area(bx, by, cx, cy, dx, dy)
        - (bx * bx + by * by) * tri_area(ax, ay, cx, cy, dx, dy)
        + (cx * cx + cy * cy) * tri_area(ax, ay, bx, by, dx, dy)
        - (dx * dx + dy * dy) * tri_area(ax, ay, bx, by, cx, cy)
    ) > IN_CIRCLE_EPS


def barycentric_interpolate(v1, v2, v3, x, y):
    """Vectorized barycentric z-interpolation with *inclusive* 0..1
    bounds — the reference's edge-tie rule (SuperTriangle.cpp:32-49).

    v1,v2,v3: length-3 sequences (x,y,z). x,y: arrays.
    Returns (z, inside_mask)."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    wdem = (v2[1] - v3[1]) * (v1[0] - v3[0]) + (v3[0] - v2[0]) * (v1[1] - v3[1])
    w1 = ((v2[1] - v3[1]) * (x - v3[0]) + (v3[0] - v2[0]) * (y - v3[1])) / wdem
    w2 = ((v3[1] - v1[1]) * (x - v3[0]) + (v1[0] - v3[0]) * (y - v3[1])) / wdem
    w3 = 1.0 - w1 - w2
    z = v1[2] * w1 + v2[2] * w2 + v3[2] * w3
    inside = (
        (0 <= w1) & (w1 <= 1) & (0 <= w2) & (w2 <= 1) & (0 <= w3) & (w3 <= 1)
    )
    return z, inside


def sign_2d(px, py, l_org, l_dir):
    """Half-plane sign of point vs directed line, with the reference's
    exact-comparison specializations for axis-aligned clip lines
    (geometrix.cpp:462-517). Returns -1 (inside/left), 0 (on line), 1."""
    ox, oy = l_org
    dx, dy = l_dir
    if dx == 0.0:
        direction_sign = -1 if dy > 0.0 else 1
        if px < ox:
            return direction_sign
        if px > ox:
            return -direction_sign
        return 0
    if dy == 0.0:
        direction_sign = -1 if dx > 0 else 1
        if py < oy:
            return -direction_sign
        if py > oy:
            return direction_sign
        return 0
    d = (px - ox) * dy - (py - oy) * dx
    if d < CLIP_EPS:
        return -1
    if d > CLIP_EPS:
        return 1
    return 0


def intersect_25d_segment_line(p0, p1, l_org, l_dir):
    """2.5D segment × 2D line intersection with z interpolation; returns
    (nan,nan,nan) when parallel or outside the segment
    (geometrix.cpp:417-460)."""
    x1, y1 = p0[0], p0[1]
    x2, y2 = p1[0], p1[1]
    x3, y3 = l_org
    x4, y4 = l_org[0] + l_dir[0], l_org[1] + l_dir[1]

    denom = (x1 - x2) * (y3 - y4) - (y1 - y2) * (x3 - x4)
    if abs(denom) < CLIP_EPS:
        return (np.nan, np.nan, np.nan)

    cx = ((x1 * y2 - y1 * x2) * (x3 - x4) - (x1 - x2) * (x3 * y4 - y3 * x4)) / denom
    cy = ((x1 * y2 - y1 * x2) * (y3 - y4) - (y1 - y2) * (x3 * y4 - y3 * x4)) / denom

    d_p0p1 = float(np.hypot(x2 - x1, y2 - y1))
    m = (p1[2] - p0[2]) / d_p0p1
    d_p0c = float(np.hypot(cx - x1, cy - y1))
    if d_p0c < -CLIP_EPS or d_p0c > d_p0p1 + CLIP_EPS:
        return (np.nan, np.nan, np.nan)
    cz = m * d_p0c + p0[2]
    # abs_zero: normalize -0.0 to 0.0 (geometrix.cpp abs_zero)
    return (cx + 0.0, cy + 0.0, cz + 0.0)


def _is_front_facing(t):
    """n_z >= 0 test (geometrix.cpp:592-600)."""
    nz = (t[0][0] - t[1][0]) * (t[0][1] - t[2][1]) - (t[0][0] - t[2][0]) * (
        t[0][1] - t[1][1]
    )
    return nz >= 0


def _make_front_facing(t):
    if not _is_front_facing(t):
        t[0], t[1] = t[1], t[0]
    return t


def _sq_dist3(a, b):
    return (a[0] - b[0]) ** 2 + (a[1] - b[1]) ** 2 + (a[2] - b[2]) ** 2


def clip_triangle_by_line(tv: list, idx: int, l_org, l_dir) -> None:
    """Clip triangle tv[idx] (list of 3 (x,y,z) tuples) by a directed
    line, in place; may append one new triangle (the split-quad case
    picks the shorter diagonal). Mirrors geometrix.cpp:609-737, incl.
    the on-line-vertex-kept-verbatim tie rules."""
    t = tv[idx]
    if any(np.isnan(c) for p in t for c in p):
        return

    left, other, other_signs = [], [], []
    for p in t:
        d = sign_2d(p[0], p[1], l_org, l_dir)
        if d < 0:
            left.append(p)
        else:
            other.append(p)
            other_signs.append(d)

    if len(left) == 0:
        tv[idx] = [(np.nan, np.nan, np.nan), t[1], t[2]]
    elif len(left) == 1:
        s0 = other[0] if other_signs[0] == 0 else intersect_25d_segment_line(left[0], other[0], l_org, l_dir)
        s1 = other[1] if other_signs[1] == 0 else intersect_25d_segment_line(left[0], other[1], l_org, l_dir)
        tv[idx] = _make_front_facing([left[0], s0, s1])
    elif len(left) == 2:
        if other_signs[0] == 0:
            return
        s0 = intersect_25d_segment_line(other[0], left[0], l_org, l_dir)
        s1 = intersect_25d_segment_line(other[0], left[1], l_org, l_dir)
        d0 = _sq_dist3(s0, left[1])
        d1 = _sq_dist3(s1, left[0])
        cmp_ge = d0 >= d1
        tv[idx] = _make_front_facing([s1 if cmp_ge else s0, left[0], left[1]])
        t_new = _make_front_facing([s1, s0, left[0] if cmp_ge else left[1]])
        tv.append(t_new)


def clip_triangles_to_01_quadrant(triangles: np.ndarray,
                                  force_python: bool = False) -> np.ndarray:
    """Clip a triangle soup to the unit square [0,1]² — four sequential
    line clips (bottom, right, top, left) then NaN purge
    (geometrix.cpp:739-781).

    Fast path: triangles strictly inside (0,1)² pass every half-plane
    test with sign<0 on all vertices, so all four clips keep them
    verbatim — they skip the per-triangle Python path entirely. (This
    reorders the output soup relative to the reference's in-place
    order; triangle sets and counts are identical, and our correctness
    gates are set/count/invariant-based.)

    triangles: (n,3,3). Returns (m,3,3)."""
    triangles = np.asarray(triangles, dtype=np.float64)
    if not len(triangles):
        return np.zeros((0, 3, 3), dtype=np.float64)
    xy = triangles[:, :, :2]
    inside = ((xy > 0.0) & (xy < 1.0)).all(axis=(1, 2))
    if inside.all():
        return triangles
    # C fast path (same algorithm, same order; byte-parity asserted in
    # tests/test_native_parity.py); this Python loop is the oracle and
    # the no-toolchain fallback. force_python selects it for that
    # parity test and for perfbench's traced clip probe
    # (perfbench/workloads.py), which times either backend.
    if not force_python:
        from . import native

        fast = native.clip01_native(triangles)
        if fast is not None:
            return fast
    kept = triangles[inside]
    rest = triangles[~inside]
    tv = [[tuple(v) for v in tri] for tri in rest]
    for l_org, l_dir in (
        ((0.0, 0.0), (1.0, 0.0)),  # bottom, right-wards
        ((1.0, 0.0), (0.0, 1.0)),  # right, upwards
        ((1.0, 1.0), (-1.0, 0.0)),  # top, left-wards
        ((0.0, 1.0), (0.0, -1.0)),  # left, downwards
    ):
        for i in range(len(tv)):
            clip_triangle_by_line(tv, i, l_org, l_dir)
    out = [t for t in tv if not any(np.isnan(c) for p in t for c in p)]
    clipped = (
        np.asarray(out, dtype=np.float64)
        if out
        else np.zeros((0, 3, 3), dtype=np.float64)
    )
    return np.concatenate([kept, clipped]) if len(kept) else clipped
