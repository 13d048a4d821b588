"""Incremental Delaunay triangulation on a quad-edge structure.

A from-scratch Python implementation of the Guibas–Stolfi (1985)
incremental algorithm with the same observable semantics as the
reference's kernel (/root/reference/src/DelaunayMesh.cpp,
include/tntn/QuadEdge.h, include/tntn/DelaunayTriangle.h):

  - quarter-edge algebra (Rot/Sym/Onext and derived operators)
  - splice / connect / swap / delete_edge topological operators
  - point location by randomized walk seeded with MT19937(42)
    (DelaunayMesh.h:42-49, DelaunayMesh.cpp:132-206)
  - spoke insertion handling on-edge and boundary cases
    (DelaunayMesh.cpp:208-278)
  - Lawson optimization gated by inCircle with EPS=1e-6 bias
    (DelaunayMesh.cpp:281-312, QuadEdge.h:37-44)
  - triangle registry as a prepend-linked list whose order determines
    face emission order (DelaunayMesh.cpp:7-14)

Quarter-edges are integers: edge k owns quarters 4k..4k+3; quarter
4k+r has rot index r (r=0 primal, r=1 dual Rot, r=2 Sym, r=3 invRot).
Points are (x, y) float tuples compared exactly (as the reference
compares glm::dvec2 with ==).

This structure lives only inside per-tile pandas-UDF kernels — it is
never serialized to a DataFrame (SURVEY.md §1.4).
"""

from __future__ import annotations

import numpy as np

from .geometry import IN_CIRCLE_EPS, tri_area

_UINT_MAX = 4294967295


class MT19937:
    """Minimal MT19937 matching std::mt19937 seeding/tempering so the
    locate() walk follows the reference's deterministic sequence
    (DelaunayMesh.h:42-49: fixed seed 42)."""

    N, M = 624, 397
    MATRIX_A = 0x9908B0DF
    UPPER = 0x80000000
    LOWER = 0x7FFFFFFF

    def __init__(self):
        mt = [0] * self.N
        mt[0] = 42
        for i in range(1, self.N):
            mt[i] = (1812433253 * (mt[i - 1] ^ (mt[i - 1] >> 30)) + i) & 0xFFFFFFFF
        self.mt = mt
        self.index = self.N

    def _generate(self):
        mt = self.mt
        for i in range(self.N):
            y = (mt[i] & self.UPPER) | (mt[(i + 1) % self.N] & self.LOWER)
            nxt = mt[(i + self.M) % self.N] ^ (y >> 1)
            if y & 1:
                nxt ^= self.MATRIX_A
            mt[i] = nxt
        self.index = 0

    def next_u32(self) -> int:
        if self.index >= self.N:
            self._generate()
        y = self.mt[self.index]
        self.index += 1
        y ^= y >> 11
        y ^= (y << 7) & 0x9D2C5680
        y ^= (y << 15) & 0xEFC60000
        y ^= y >> 18
        return y


def _rot(q: int) -> int:
    return (q & ~3) | ((q + 1) & 3)


def _invrot(q: int) -> int:
    return (q & ~3) | ((q + 3) & 3)


def _sym(q: int) -> int:
    return (q & ~3) | ((q + 2) & 3)


class Triangle:
    """Registry entry mirroring DelaunayTriangle (anchor + link order)."""

    __slots__ = ("anchor", "next_face")

    def __init__(self, anchor: int, next_face: "Triangle | None"):
        self.anchor = anchor
        self.next_face = next_face


class DelaunayMesh:
    def __init__(self):
        self.onext: list[int] = []
        self.org: list = []  # per quarter; only primal quarters hold points
        self.lface: list = []  # per quarter; triangle object or None
        self.dead: list = []  # per edge group (len = len(onext)//4)
        self.first_face: Triangle | None = None
        self.starting_edge: int = -1
        self._rng = MT19937()

    # ---- allocation / primitive topology -------------------------------

    def make_edge(self) -> int:
        base = len(self.onext)
        # standard make_edge wiring: e.Onext=e, eSym.Onext=eSym,
        # eRot.Onext=eInvRot, eInvRot.Onext=eRot
        self.onext.extend([base + 0, base + 3, base + 2, base + 1])
        self.org.extend([None, None, None, None])
        self.lface.extend([None, None, None, None])
        self.dead.append(False)
        return base

    def splice(self, a: int, b: int) -> None:
        alpha = _rot(self.onext[a])
        beta = _rot(self.onext[b])
        self.onext[a], self.onext[b] = self.onext[b], self.onext[a]
        self.onext[alpha], self.onext[beta] = self.onext[beta], self.onext[alpha]

    # ---- derived operators ---------------------------------------------

    def oprev(self, q: int) -> int:
        return _rot(self.onext[_rot(q)])

    def lnext(self, q: int) -> int:
        return _rot(self.onext[_invrot(q)])

    def lprev(self, q: int) -> int:
        return _sym(self.onext[q])

    def rnext(self, q: int) -> int:
        return _invrot(self.onext[_rot(q)])

    def rprev(self, q: int) -> int:
        return self.onext[_sym(q)]

    def dprev(self, q: int) -> int:
        return _invrot(self.onext[_invrot(q)])

    def dest(self, q: int):
        return self.org[_sym(q)]

    def set_end_points(self, q: int, org, dest) -> None:
        self.org[q] = org
        self.org[_sym(q)] = dest

    # ---- triangle registry ----------------------------------------------

    def make_face(self, e: int) -> Triangle:
        t = Triangle(e, self.first_face)
        self._reshape(t, e)
        self.first_face = t
        return t

    def _reshape(self, t: Triangle, e: int) -> None:
        t.anchor = e
        self.lface[e] = t
        self.lface[self.lnext(e)] = t
        self.lface[self.lprev(e)] = t

    def _dont_anchor(self, t: Triangle, e: int) -> None:
        if t.anchor == e:
            t.anchor = self.lnext(e)

    def faces(self):
        """Iterate triangles in m_first_face link order
        (TerraMesh.cpp:211-236 consumes this order)."""
        t = self.first_face
        while t is not None:
            yield t
            t = t.next_face

    def face_points(self, t: Triangle):
        a = t.anchor
        return self.org[a], self.dest(a), self.org[self.lprev(a)]

    # ---- structural ops (DelaunayMesh.cpp) -------------------------------

    def delete_edge(self, e: int) -> None:
        self.splice(e, self.oprev(e))
        se = _sym(e)
        self.splice(se, self.oprev(se))
        self.dead[e >> 2] = True

    def connect(self, a: int, b: int) -> int:
        e = self.make_edge()
        self.splice(e, self.lnext(a))
        self.splice(_sym(e), b)
        self.set_end_points(e, self.dest(a), self.org[b])
        return e

    def swap(self, e: int) -> None:
        f1 = self.lface[e]
        f2 = self.lface[_sym(e)]
        a = self.oprev(e)
        b = self.oprev(_sym(e))
        self.splice(e, a)
        self.splice(_sym(e), b)
        self.splice(e, self.lnext(a))
        self.splice(_sym(e), self.lnext(b))
        self.set_end_points(e, self.dest(a), self.dest(b))
        self._reshape(f1, e)
        self._reshape(f2, _sym(e))

    def init_mesh(self, a, b, c, d) -> None:
        """Two-triangle quad a-b-c-d with diagonal a-c
        (DelaunayMesh.cpp:16-50)."""
        ea = self.make_edge()
        self.set_end_points(ea, a, b)
        eb = self.make_edge()
        self.splice(_sym(ea), eb)
        self.set_end_points(eb, b, c)
        ec = self.make_edge()
        self.splice(_sym(eb), ec)
        self.set_end_points(ec, c, d)
        ed = self.make_edge()
        self.splice(_sym(ec), ed)
        self.set_end_points(ed, d, a)
        self.splice(_sym(ed), ea)
        diag = self.make_edge()
        self.splice(_sym(ed), diag)
        self.splice(_sym(eb), _sym(diag))
        self.set_end_points(diag, a, c)

        self.starting_edge = ea
        self.first_face = None
        self.make_face(_sym(ea))
        self.make_face(_sym(ec))

    # ---- predicates -------------------------------------------------------

    def _right_of(self, x, e: int) -> bool:
        o, d = self.org[e], self.dest(e)
        return tri_area(x[0], x[1], d[0], d[1], o[0], o[1]) > 0

    def _left_of(self, x, e: int) -> bool:
        o, d = self.org[e], self.dest(e)
        return tri_area(x[0], x[1], o[0], o[1], d[0], d[1]) > 0

    def ccw_boundary(self, e: int) -> bool:
        return not self._right_of(self.dest(self.oprev(e)), e)

    def on_edge(self, x, e: int) -> bool:
        """DelaunayMesh.cpp:98-113 (EPS from QuadEdge.h:6)."""
        o, d = self.org[e], self.dest(e)
        t1 = float(np.hypot(x[0] - o[0], x[1] - o[1]))
        t2 = float(np.hypot(x[0] - d[0], x[1] - d[1]))
        if t1 < IN_CIRCLE_EPS or t2 < IN_CIRCLE_EPS:
            return True
        t3 = float(np.hypot(o[0] - d[0], o[1] - d[1]))
        if t1 > t3 or t2 > t3:
            return False
        # normalized line eval (QuadEdge.h Line)
        tx, ty = d[0] - o[0], d[1] - o[1]
        ln = float(np.hypot(tx, ty))
        la, lb = ty / ln, -tx / ln
        lc = -(la * o[0] + lb * o[1])
        return abs(la * x[0] + lb * x[1] + lc) < IN_CIRCLE_EPS

    def is_interior(self, e: int) -> bool:
        return (
            self.lnext(self.lnext(self.lnext(e))) == e
            and self.rnext(self.rnext(self.rnext(e))) == e
        )

    def should_swap(self, x, e: int) -> bool:
        t = self.oprev(e)
        a = self.org[e]
        b = self.dest(t)
        c = self.dest(e)
        return (
            (a[0] * a[0] + a[1] * a[1]) * tri_area(b[0], b[1], c[0], c[1], x[0], x[1])
            - (b[0] * b[0] + b[1] * b[1]) * tri_area(a[0], a[1], c[0], c[1], x[0], x[1])
            + (c[0] * c[0] + c[1] * c[1]) * tri_area(a[0], a[1], b[0], b[1], x[0], x[1])
            - (x[0] * x[0] + x[1] * x[1]) * tri_area(a[0], a[1], b[0], b[1], c[0], c[1])
        ) > IN_CIRCLE_EPS

    # ---- point location (randomized walk, DelaunayMesh.cpp:132-206) ------

    def _next_random(self) -> int:
        return self._rng.next_u32() % _UINT_MAX

    def locate(self, x, start: int | None = None) -> int:
        e = self.starting_edge if start is None else start
        o, d = self.org[e], self.dest(e)
        t = tri_area(x[0], x[1], d[0], d[1], o[0], o[1])
        if t > 0:
            t = -t
            e = _sym(e)
        while True:
            eo = self.onext[e]
            ed = self.dprev(e)
            oo, od = self.org[eo], self.dest(eo)
            do_, dd = self.org[ed], self.dest(ed)
            to = tri_area(x[0], x[1], od[0], od[1], oo[0], oo[1])
            td = tri_area(x[0], x[1], dd[0], dd[1], do_[0], do_[1])
            if td > 0:
                if to > 0 or (to == 0 and t == 0):
                    self.starting_edge = e
                    return e
                t = to
                e = eo
            else:
                if to > 0:
                    if td == 0 and t == 0:
                        self.starting_edge = e
                        return e
                    t = td
                    e = ed
                else:
                    if t == 0 and not self._left_of(self.dest(eo), e):
                        e = _sym(e)
                    elif (self._next_random() & 1) == 0:
                        t = to
                        e = eo
                    else:
                        t = td
                        e = ed

    # ---- insertion (DelaunayMesh.cpp:208-331) ------------------------------

    def spoke(self, x, e: int) -> int:
        new_faces = []
        boundary_edge = None

        lf = self.lface[e]
        self._dont_anchor(lf, e)
        new_faces.append(lf)

        if self.on_edge(x, e):
            if self.ccw_boundary(e):
                boundary_edge = e
            else:
                sym_lf = self.lface[_sym(e)]
                new_faces.append(sym_lf)
                self._dont_anchor(sym_lf, _sym(e))
                e = self.oprev(e)
                self.delete_edge(self.onext[e])

        base = self.make_edge()
        self.set_end_points(base, self.org[e], x)
        self.splice(base, e)
        self.starting_edge = base
        while True:
            base = self.connect(e, _sym(base))
            e = self.oprev(base)
            if self.lnext(e) == self.starting_edge:
                break

        if boundary_edge is not None:
            self.delete_edge(boundary_edge)

        base = (
            self.rprev(self.starting_edge)
            if boundary_edge is not None
            else _sym(self.starting_edge)
        )
        while True:
            if new_faces:
                self._reshape(new_faces.pop(), base)
            else:
                self.make_face(base)
            base = self.onext[base]
            if base == _sym(self.starting_edge):
                break

        return self.starting_edge

    def scan_triangle(self, t: Triangle) -> None:
        """Hook for subclasses (Terra overrides to push candidates)."""

    def optimize(self, x, s: int) -> None:
        # hot loop: lnext/is_interior/should_swap inlined on local list
        # refs (the pure-Python quad-edge walk is the kernel's floor
        # cost — measured ~2x wall saving vs the method-call form)
        onext = self.onext
        org = self.org
        xx, xy = x[0], x[1]
        eps = IN_CIRCLE_EPS
        start_spoke = s
        spoke = s
        while True:
            # e = lnext(spoke)
            q = onext[(spoke & ~3) | ((spoke + 3) & 3)]
            e = (q & ~3) | ((q + 1) & 3)
            # is_interior(e): lnext^3 == e and rnext^3 == e
            q = onext[(e & ~3) | ((e + 3) & 3)]
            l1 = (q & ~3) | ((q + 1) & 3)
            q = onext[(l1 & ~3) | ((l1 + 3) & 3)]
            l2 = (q & ~3) | ((q + 1) & 3)
            q = onext[(l2 & ~3) | ((l2 + 3) & 3)]
            interior = ((q & ~3) | ((q + 1) & 3)) == e
            if interior:
                q = onext[(e & ~3) | ((e + 1) & 3)]
                r1 = (q & ~3) | ((q + 3) & 3)
                q = onext[(r1 & ~3) | ((r1 + 1) & 3)]
                r2 = (q & ~3) | ((q + 3) & 3)
                q = onext[(r2 & ~3) | ((r2 + 1) & 3)]
                interior = ((q & ~3) | ((q + 3) & 3)) == e
            if interior:
                # should_swap(x, e) with oprev/dest inlined
                q = onext[(e & ~3) | ((e + 1) & 3)]
                t_e = (q & ~3) | ((q + 1) & 3)
                a = org[e]
                b = org[(t_e & ~3) | ((t_e + 2) & 3)]
                c = org[(e & ~3) | ((e + 2) & 3)]
                ax, ay = a[0], a[1]
                bx, by = b[0], b[1]
                cx, cy = c[0], c[1]
                if (
                    (ax * ax + ay * ay)
                    * ((cx - bx) * (xy - by) - (cy - by) * (xx - bx))
                    - (bx * bx + by * by)
                    * ((cx - ax) * (xy - ay) - (cy - ay) * (xx - ax))
                    + (cx * cx + cy * cy)
                    * ((bx - ax) * (xy - ay) - (by - ay) * (xx - ax))
                    - (xx * xx + xy * xy)
                    * ((bx - ax) * (cy - ay) - (by - ay) * (cx - ax))
                ) > eps:
                    self.swap(e)
                    continue
            spoke = onext[spoke]
            if spoke == start_spoke:
                break
        spoke = start_spoke
        lface = self.lface
        scan = self.scan_triangle
        while True:
            q = onext[(spoke & ~3) | ((spoke + 3) & 3)]
            t = lface[(q & ~3) | ((q + 1) & 3)]
            if t is not None:
                scan(t)
            spoke = onext[spoke]
            if spoke == start_spoke:
                break

    def insert(self, x, tri: Triangle | None = None) -> None:
        hint = None
        if tri is not None and not self.dead[tri.anchor >> 2]:
            hint = tri.anchor
        e = self.locate(x, hint)
        if x == self.org[e] or x == self.dest(e):
            self.optimize(x, e)
        else:
            start_spoke = self.spoke(x, e)
            self.optimize(x, _sym(start_spoke))
