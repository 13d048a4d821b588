"""Zemlya hierarchical greedy-insertion TIN refinement.

Re-implements the reference's ZemlyaMesh kernel
(/root/reference/src/ZemlyaMesh.cpp:43-420, facade
src/zemlya_meshing.cpp): like Terra, but insertion proceeds level by
level (level 1..max_level, max_level = ceil(log2(max(w,h)))) over an
average pyramid:

  - m_sample: per-level 4-neighbor averages ignoring no-data; level-1
    (step==1) averages the raw raster 2x2 block into (y+1, x+1); higher
    steps average m_sample at (y+co±d, x+co±d), co=2^(step-1),
    d=2^(step-2)   (ZemlyaMesh.cpp:17-104)
  - m_insert: the per-level candidate-z raster; levels ≥5 switch to raw
    raster values, earlier levels shrink commanding areas by 4-sample
    re-averaging when step≥3  (ZemlyaMesh.cpp:146-228)
  - scan planes are computed from m_result (the z values actually
    inserted), and the final level scans the raw raster
    (ZemlyaMesh.cpp:279-295)
  - vertices are emitted from valid m_result cells (ZemlyaMesh.cpp:358-385)

Divergence note: the reference evaluates pyramid neighbors at negative
indices through unchecked pointer arithmetic (UB in C++, e.g.
m_sample.value(y-d, ...) with y<d, ZemlyaMesh.cpp:198-205); we treat
out-of-range as no-data, which is the only defensible deterministic
reading.
"""

from __future__ import annotations

import heapq

import numpy as np

from .delaunay import DelaunayMesh, Triangle
from .geometry import tri_area
from .raster import Grid, sample_nearest_valid_avg


def _avg4(stack: np.ndarray) -> np.ndarray:
    """Elementwise mean of 4 same-shape arrays ignoring NaN; all-NaN → NaN
    (average_of, ZemlyaMesh.cpp:17-41)."""
    cnt = (~np.isnan(stack)).sum(axis=0)
    s = np.nansum(stack, axis=0)
    out = np.full(stack.shape[1:], np.nan)
    m = cnt > 0
    out[m] = s[m] / cnt[m]
    return out


class ZemlyaMesh(DelaunayMesh):
    def __init__(self, grid: Grid):
        super().__init__()
        self.grid = grid
        h, w = grid.z.shape
        self.h, self.w = h, w
        self.max_level = int(np.ceil(np.log2(max(w, h))))
        self.sample = np.full((h, w), np.nan)
        self.insert_r = np.full((h, w), np.nan)
        self.result = np.full((h, w), np.nan)
        self.used = np.zeros((h, w), dtype=np.int8)
        self.token = np.zeros((h, w), dtype=np.int64)
        self.heap: list = []
        self.counter = 0
        self.current_level = 0
        self.max_error = 0.0

    def repair_point(self, px: int, py: int) -> None:
        # live-raster semantics: see terra.repair_point
        z = sample_nearest_valid_avg(self.grid, py, px)
        if np.isnan(z) or z == self.grid.ndv:
            self.grid.z[py, px] = 0.0
        else:
            self.grid.z[py, px] = z

    # -- pyramid build (ZemlyaMesh.cpp:59-104), vectorized ---------------

    def _sample_at(self, yy: np.ndarray, xx: np.ndarray) -> np.ndarray:
        """Gather self.sample at integer index grids, out-of-range → NaN."""
        h, w = self.h, self.w
        ok = (yy >= 0) & (yy < h) & (xx >= 0) & (xx < w)
        out = np.full(yy.shape, np.nan)
        out[ok] = self.sample[yy[ok], xx[ok]]
        return out

    def build_pyramid(self) -> None:
        h, w = self.h, self.w
        z = self.grid.z
        ndv = self.grid.ndv
        raster = np.where(np.isnan(z) | (z == ndv), np.nan, z)
        for level in range(self.max_level - 1, 0, -1):
            step = self.max_level - level
            ys = np.arange(0, h, 1 << step)
            xs = np.arange(0, w, 1 << step)
            yy, xx = np.meshgrid(ys, xs, indexing="ij")
            if step == 1:

                def rat(dy, dx):
                    out = np.full(yy.shape, np.nan)
                    ok = (yy + dy < h) & (xx + dx < w)
                    out[ok] = raster[yy[ok] + dy, xx[ok] + dx]
                    return out

                avg = _avg4(np.stack([rat(0, 0), rat(0, 1), rat(1, 0), rat(1, 1)]))
                ok = (yy + 1 < h) & (xx + 1 < w)
                self.sample[yy[ok] + 1, xx[ok] + 1] = avg[ok]
            else:
                co = 1 << (step - 1)
                d = 1 << (step - 2)
                avg = _avg4(
                    np.stack(
                        [
                            self._sample_at(yy + co - d, xx + co - d),
                            self._sample_at(yy + co - d, xx + co + d),
                            self._sample_at(yy + co + d, xx + co - d),
                            self._sample_at(yy + co + d, xx + co + d),
                        ]
                    )
                )
                ok = (yy + co < h) & (xx + co < w)
                self.sample[yy[ok] + co, xx[ok] + co] = avg[ok]

    # -- per-level insert raster update (ZemlyaMesh.cpp:146-228) ----------

    def _update_insert(self, level: int) -> None:
        h, w = self.h, self.w
        z = self.grid.z
        ndv = self.grid.ndv
        if 5 <= level <= self.max_level - 1:
            step = self.max_level - level
            valid = ~(np.isnan(self.insert_r) | (self.insert_r == ndv))
            self.insert_r[valid] = z[valid]
            co = 1 << (step - 1)
            ys = np.arange(0, h, 1 << step)
            xs = np.arange(0, w, 1 << step)
            yy, xx = np.meshgrid(ys, xs, indexing="ij")
            ok = (yy + co < h) & (xx + co < w)
            self.insert_r[yy[ok] + co, xx[ok] + co] = z[yy[ok] + co, xx[ok] + co]
        elif level < self.max_level:
            step = self.max_level - level
            if step >= 3:
                d = 1 << (step - 3)
                yy, xx = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
                avg = _avg4(
                    np.stack(
                        [
                            self._sample_at(yy - d, xx - d),
                            self._sample_at(yy - d, xx + d),
                            self._sample_at(yy + d, xx - d),
                            self._sample_at(yy + d, xx + d),
                        ]
                    )
                )
                valid = ~(np.isnan(self.insert_r) | (self.insert_r == ndv))
                write = valid & ~(np.isnan(avg) | (avg == ndv))
                self.insert_r[write] = avg[write]
            co = 1 << (step - 1)
            ys = np.arange(0, h, 1 << step)
            xs = np.arange(0, w, 1 << step)
            yy, xx = np.meshgrid(ys, xs, indexing="ij")
            ok = (yy + co < h) & (xx + co < w)
            self.insert_r[yy[ok] + co, xx[ok] + co] = self.sample[yy[ok] + co, xx[ok] + co]

    # -- candidate scan (ZemlyaMesh.cpp:259-356) ---------------------------

    def scan_triangle(self, t: Triangle) -> None:
        from .terra import _scan_triangle_ranges

        # face_points + plane solve inlined, same as TerraMesh (this is
        # the hottest callee of the per-level rescan loop)
        anchor = t.anchor
        org = self.org
        p1 = org[anchor]
        p2 = org[(anchor & ~3) | ((anchor + 2) & 3)]
        q = self.onext[anchor]
        p3 = org[(q & ~3) | ((q + 2) & 3)]
        # plane from m_result (inserted z values, ZemlyaMesh.cpp:295)
        rl = self._rl
        p1x, p1y = p1
        p2x, p2y = p2
        p3x, p3y = p3
        z1 = rl[int(p1y)][int(p1x)]
        z2 = rl[int(p2y)][int(p2x)]
        z3 = rl[int(p3y)][int(p3x)]
        ux, uy, uz = p2x - p1x, p2y - p1y, z2 - z1
        vx, vy, vz = p3x - p1x, p3y - p1y, z3 - z1
        den = ux * vy - uy * vx
        a = (uz * vy - uy * vz) / den
        b = (ux * vz - uz * vx) / den
        c = z1 - a * p1x - b * p1y

        # candidate z source: raw raster on the final level, m_insert
        # otherwise (ZemlyaMesh.cpp:279-280) — list mirrors rebuilt per
        # level in greedy_insert
        src = self.grid.z if self.current_level == self.max_level else self.insert_r
        best = _scan_triangle_ranges(
            (p1, p2, p3), (a, b, c), src, self.used, self.grid.ndv,
            src_l=self._srcl, used_l=self._ul,
        )
        token = self.counter
        self.counter += 1
        self.token[best[1], best[0]] = token
        heapq.heappush(self.heap, (-best[3], token, best[0], best[1], best[2], t))

    # -- level loop (ZemlyaMesh.cpp:43-257) --------------------------------

    def greedy_insert(self, max_error: float) -> None:
        self.max_error = max_error
        h, w = self.h, self.w
        assert w >= 2 and h >= 2

        self.build_pyramid()

        self.repair_point(0, 0)
        self.repair_point(0, h - 1)
        self.repair_point(w - 1, h - 1)
        self.repair_point(w - 1, 0)

        z = self.grid.z
        self.result[0, 0] = z[0, 0]
        self.result[h - 1, 0] = z[h - 1, 0]
        self.result[h - 1, w - 1] = z[h - 1, w - 1]
        self.result[0, w - 1] = z[0, w - 1]

        self.init_mesh(
            (0.0, 0.0), (0.0, float(h - 1)), (float(w - 1), float(h - 1)), (float(w - 1), 0.0)
        )

        for level in range(1, self.max_level + 1):
            self.current_level = level
            self.used[:] = 0
            self._update_insert(level)

            # per-level list mirrors (see terra.py): the scan source is
            # fixed within a level; result/used writes update mirrors
            src = self.grid.z if level == self.max_level else self.insert_r
            self._srcl = src.tolist()
            self._ul = self.used.tolist()
            self._rl = self.result.tolist()

            for t in list(self.faces()):
                self.scan_triangle(t)

            while self.heap:
                neg_imp, token, cx, cy, cz, tri = heapq.heappop(self.heap)
                if -neg_imp < max_error:
                    self.heap.clear()
                    break
                if self.token[cy, cx] != token:
                    continue
                self.result[cy, cx] = cz
                self._rl[cy][cx] = cz
                self.used[cy, cx] = 1
                self._ul[cy][cx] = 1
                self.insert((float(cx), float(cy)), tri)

    # -- emission (ZemlyaMesh.cpp:358-420) -----------------------------------

    def to_mesh(self):
        g = self.grid
        h, w = self.h, self.w
        ndv = g.ndv
        valid = ~(np.isnan(self.result) | (self.result == ndv))
        ys, xs = np.nonzero(valid)
        order = np.argsort(ys * w + xs, kind="stable")
        ys, xs = ys[order], xs[order]
        zs = self.result[ys, xs]

        vertex_id = np.zeros((h, w), dtype=np.int64)
        vertex_id[ys, xs] = np.arange(len(xs))
        verts = np.column_stack([g.col2x(xs), g.row2y(ys), zs])

        faces = []
        for t in self.faces():
            p1, p2, p3 = self.face_points(t)
            i1 = vertex_id[int(p1[1]), int(p1[0])]
            i2 = vertex_id[int(p2[1]), int(p2[0])]
            i3 = vertex_id[int(p3[1]), int(p3[0])]
            if tri_area(p1[0], p1[1], p2[0], p2[1], p3[0], p3[1]) > 0:
                faces.append((i3, i2, i1))
            else:
                faces.append((i1, i2, i3))
        faces_arr = (
            np.asarray(faces, dtype=np.int64) if faces else np.zeros((0, 3), dtype=np.int64)
        )
        return verts, faces_arr


def generate_tin_zemlya(grid: Grid, max_error: float):
    """Facade mirroring generate_tin_zemlya (src/zemlya_meshing.cpp).
    Dispatches to the compiled fast path (kernels/native.py) when
    available — bit-identical outputs, pure-Python fallback."""
    from . import native

    out = native.zemlya_native(grid, max_error)
    if out is not None:
        return out
    zm = ZemlyaMesh(grid)
    zm.greedy_insert(max_error)
    return zm.to_mesh()
