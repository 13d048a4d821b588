"""Terra greedy-insertion TIN refinement over a heightfield grid.

Re-implements the reference's TerraMesh kernel
(/root/reference/src/TerraMesh.cpp:16-242, facade
src/terra_meshing.cpp:8-37) on top of the quad-edge Delaunay structure:

  1. repair the 4 grid corners via nearest-valid-average, 0.0 fallback
     (src/TerraUtils.cpp:8-22)
  2. init a 2-triangle mesh on the corners (DelaunayMesh.cpp:16-50)
  3. scan every triangle: per-triangle argmax |z - plane z| over unused,
     valid cells, via the reference's exact scanline walk — including
     its restart-at-v0_x behavior for the lower sub-triangle
     (TerraMesh.cpp:150-166) — pushing one candidate per scan
  4. pop candidates by importance (lazy-deletion heap with token
     staleness, TerraUtils.h:42-65 + TerraMesh.cpp:66-67), insert into
     the Delaunay mesh; optimize() rescans affected triangles
  5. emit vertices in row-major used-cell order, faces in
     m_first_face link order with the reference's CCW flip
     (TerraMesh.cpp:175-242)

Mesh coordinates during refinement are (col, row) pixel coords; emitted
vertices are world coords via pixel-center mapping col2x/row2y.

Heap tie rule: the C++ priority_queue pops an unspecified element among
equal importances; we deterministically pop the lowest token first
(validated by invariants + counts, not exact vertex identity —
SURVEY.md §2.7 determinism note).
"""

from __future__ import annotations

import heapq

import numpy as np

from .delaunay import DelaunayMesh, Triangle
from .geometry import tri_area
from .raster import Grid, repair_corners


from math import ceil as _ceil, floor as _floor, inf as _inf

# shared column-index buffer for the wide-row scan path (grown on
# demand; avoids one np.arange allocation per scanned row)
_COLS = np.arange(4096, dtype=np.float64)


def _cols(n: int) -> np.ndarray:
    global _COLS
    if n > len(_COLS):
        _COLS = np.arange(max(n, 2 * len(_COLS)), dtype=np.float64)
    return _COLS


def _scan_triangle_ranges(points, plane, src, used, ndv: float,
                          src_l=None, used_l=None):
    """Scanline candidate search over one triangle.

    Replicates the reference's exact row coverage (TerraMesh.cpp:109-167):
    vertices y-sorted (stable), upper rows [v0y, v1y) walk edges
    (v0→v1, v0→v2), lower rows [v1y, v2y] walk (v1→v2) with the
    long-edge x restarting at v0x (the reference's quirk), per-row span
    [ceil(min(x1,x2)), floor(max(x1,x2))]. Edge x's accumulate by
    sequential `x += dx` — the same float adds as the C++. Selection is
    first-strict-max of |z - plane| over unused valid cells in
    (row, col) scan order. Returns [x, y, z, importance].

    Perf note: most scanned triangles are a handful of cells (the
    greedy loop refines hot spots), so the hot path is a plain Python
    row walk — NumPy's per-call overhead dominated the old vectorized
    form 10:1 on tiny spans. Wide rows (>= 24 cells) vectorize on the
    ndarrays; narrow rows read the optional list-of-list mirrors
    (native list slicing beats per-element ndarray access ~3x)."""
    pts = [points[0], points[1], points[2]]
    if pts[0][1] > pts[1][1]:
        pts[0], pts[1] = pts[1], pts[0]
    if pts[1][1] > pts[2][1]:
        pts[1], pts[2] = pts[2], pts[1]
    if pts[0][1] > pts[1][1]:
        pts[0], pts[1] = pts[1], pts[0]
    (v0x, v0y), (v1x, v1y), (v2x, v2y) = pts

    a, b, c = plane
    dx2 = (v2x - v0x) / (v2y - v0y) if v2y != v0y else 0.0

    best_x = 0
    best_y = 0
    best_z = 0.0
    best_imp = -_inf
    ndv_is_nan = ndv != ndv

    def _walk(y0: int, y1: int, x1: float, dx1: float, x2: float):
        nonlocal best_x, best_y, best_z, best_imp
        for y in range(y0, y1):
            sx = _ceil(x1 if x1 < x2 else x2)
            ex = _floor(x2 if x1 < x2 else x1)
            n = ex - sx + 1
            if n >= 24:
                # wide span: vectorize this row on the ndarrays
                zs = src[y, sx : ex + 1]
                bad = used[y, sx : ex + 1] != 0
                if ndv_is_nan:
                    bad = bad | np.isnan(zs)
                else:
                    bad = bad | np.isnan(zs) | (zs == ndv)
                # grouping matters: a*x + b*y + c left-to-right, the
                # same float adds as the scalar path and the old cumsum
                # form (tie-breaks depend on the last ULP)
                diff = np.abs(zs - (a * _cols(ex + 1)[sx : ex + 1] + b * y + c))
                diff[bad] = -_inf
                k = int(np.argmax(diff))
                dk = diff[k]
                if dk > best_imp:
                    best_imp = float(dk)
                    best_x = sx + k
                    best_y = y
                    best_z = float(zs[k])
            elif n > 0:
                # narrow span: pure-Python over a plain-list slice
                if used_l is not None:
                    us = used_l[y][sx : ex + 1]
                    zs = src_l[y][sx : ex + 1]
                else:
                    us = used[y, sx : ex + 1].tolist()
                    zs = src[y, sx : ex + 1].tolist()
                for i in range(n):
                    if us[i] == 0:
                        zv = zs[i]
                        if zv == zv and (ndv_is_nan or zv != ndv):
                            x = sx + i
                            d = zv - (a * x + b * y + c)
                            if d < 0.0:
                                d = -d
                            if d > best_imp:
                                best_imp = d
                                best_x = x
                                best_y = y
                                best_z = zv
            x1 += dx1
            x2 += dx2
        return x1, x2

    if v1y != v0y:
        dx1 = (v1x - v0x) / (v1y - v0y)
        _walk(int(v0y), int(v1y), v0x, dx1, v0x)
    if v2y != v1y:
        dx1 = (v2x - v1x) / (v2y - v1y)
        # long-edge x restarts at v0x (TerraMesh.cpp:155-158); the
        # reference re-derives x2 = v0x + (rows-walked) * dx2, which the
        # sequential adds reproduce exactly only when restarted the same
        # way — so restart both accumulators as the C++ does
        _walk(int(v1y), int(v2y) + 1, v1x, dx1, v0x)

    if best_imp == -_inf:
        return [0, 0, 0.0, -np.inf]
    return [best_x, best_y, best_z, best_imp]


class TerraMesh(DelaunayMesh):
    def __init__(self, grid: Grid):
        super().__init__()
        self.grid = grid
        h, w = grid.z.shape
        self.used = np.zeros((h, w), dtype=np.int8)
        self.token = np.zeros((h, w), dtype=np.int64)
        self.heap: list = []
        self.counter = 0
        self.max_error = 0.0

    # -- candidate scan (TerraMesh.cpp:78-173) ----------------------------

    def scan_triangle(self, t: Triangle) -> None:
        # face_points inlined (org[a], dest(a), org[lprev(a)]) — this is
        # the single hottest callee of the greedy loop
        anchor = t.anchor
        org = self.org
        p1 = org[anchor]
        p2 = org[(anchor & ~3) | ((anchor + 2) & 3)]
        q = self.onext[anchor]
        p3 = org[(q & ~3) | ((q + 2) & 3)]
        z = self.grid.z
        # plane through the three grid samples (TerraUtils.h:89-100)
        p1x, p1y = p1
        p2x, p2y = p2
        p3x, p3y = p3
        zl = self._zl  # list mirror of grid.z (built in greedy_insert)
        z1 = zl[int(p1y)][int(p1x)]
        z2 = zl[int(p2y)][int(p2x)]
        z3 = zl[int(p3y)][int(p3x)]
        ux, uy, uz = p2x - p1x, p2y - p1y, z2 - z1
        vx, vy, vz = p3x - p1x, p3y - p1y, z3 - z1
        den = ux * vy - uy * vx
        a = (uz * vy - uy * vz) / den
        b = (ux * vz - uz * vx) / den
        c = z1 - a * p1x - b * p1y

        best = _scan_triangle_ranges(
            (p1, p2, p3), (a, b, c), z, self.used, self.grid.ndv,
            src_l=zl, used_l=self._ul,
        )
        token = self.counter
        self.counter += 1
        # token write happens even when no candidate was found
        # (TerraMesh.cpp:168-172)
        self.token[best[1], best[0]] = token
        heapq.heappush(self.heap, (-best[3], token, best[0], best[1], best[2], t))

    # -- greedy loop (TerraMesh.cpp:16-76) --------------------------------

    def greedy_insert(self, max_error: float) -> None:
        self.max_error = max_error
        g = self.grid
        h, w = g.z.shape
        assert w >= 2 and h >= 2, "raster must be at least 2x2"

        repair_corners(g)

        self.init_mesh((0.0, 0.0), (0.0, float(h - 1)), (float(w - 1), float(h - 1)), (float(w - 1), 0.0))

        self.used[0, 0] = 1
        self.used[h - 1, 0] = 1
        self.used[h - 1, w - 1] = 1
        self.used[0, w - 1] = 1

        # list mirrors of the (now-final) raster and the used mask:
        # the scan loop reads them ~1M times per tile, and native list
        # indexing is ~3x ndarray scalar access. grid.z never changes
        # after corner repair; `used` writes below update both.
        self._zl = g.z.tolist()
        self._ul = self.used.tolist()

        for t in list(self.faces()):
            self.scan_triangle(t)

        while self.heap:
            neg_imp, token, cx, cy, cz, tri = heapq.heappop(self.heap)
            importance = -neg_imp
            if importance < max_error:
                # heap property: everything left is smaller — drain
                # (equivalent to the reference's skip-continue loop,
                # TerraMesh.cpp:62-64)
                break
            if self.token[cy, cx] != token:
                continue  # stale candidate (TerraMesh.cpp:66-67)
            self.used[cy, cx] = 1
            self._ul[cy][cx] = 1
            self.insert((float(cx), float(cy)), tri)

    # -- emission (TerraMesh.cpp:175-242) ----------------------------------

    def to_mesh(self):
        """Returns (vertices (n,3) world coords, faces (m,3) int64)."""
        g = self.grid
        h, w = g.z.shape
        ndv = g.ndv

        ys, xs = np.nonzero(self.used == 1)
        order = np.argsort(ys * w + xs, kind="stable")  # row-major
        ys, xs = ys[order], xs[order]
        zs = g.z[ys, xs]
        keep = ~(np.isnan(zs) | (zs == ndv))
        ys, xs, zs = ys[keep], xs[keep], zs[keep]

        vertex_id = np.zeros((h, w), dtype=np.int64)
        vertex_id[ys, xs] = np.arange(len(xs))

        verts = np.column_stack([g.col2x(xs), g.row2y(ys), zs])

        faces = []
        for t in self.faces():
            p1, p2, p3 = self.face_points(t)
            i1 = vertex_id[int(p1[1]), int(p1[0])]
            i2 = vertex_id[int(p2[1]), int(p2[0])]
            i3 = vertex_id[int(p3[1]), int(p3[0])]
            # reference flips when ccw() holds in pixel space
            # (TerraMesh.cpp:220-231; pixel y grows downward, so this
            # yields upward-facing world-space triangles)
            if tri_area(p1[0], p1[1], p2[0], p2[1], p3[0], p3[1]) > 0:
                faces.append((i3, i2, i1))
            else:
                faces.append((i1, i2, i3))
        faces_arr = (
            np.asarray(faces, dtype=np.int64)
            if faces
            else np.zeros((0, 3), dtype=np.int64)
        )
        return verts, faces_arr


def generate_tin_terra(grid: Grid, max_error: float, use_native: bool = True):
    """Facade mirroring generate_tin_terra (src/terra_meshing.cpp:8-37).

    Dispatches to the compiled fast path (kernels/native.py — a direct
    C translation of THIS kernel, bit-identical outputs, ~25x faster)
    when a C compiler is available; pure Python otherwise. Tests assert
    backend equality on every workload class.

    Returns (vertices (n,3) float64 world coords, faces (m,3) int64)."""
    if use_native:
        from . import native

        out = native.terra_native(grid, max_error)
        if out is not None:
            return out
    tm = TerraMesh(grid)
    tm.greedy_insert(max_error)
    return tm.to_mesh()
