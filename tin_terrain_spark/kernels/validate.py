"""TIN invariant bundle — the reference's dominant test pattern.

Port of the semantics of Mesh::check_tin_properties
(/root/reference/src/Mesh.cpp:578-711), used by the meshing tests
(test/src/terra_meshing_tests.cpp:26-216):

  - all face indices valid
  - no collapsed faces (repeated vertex index / zero area)
  - no duplicate vertices
  - every vertex referenced by at least one face
  - all faces upward-facing CCW in world space (geometrix.cpp:69-107)
  - square hull has no holes: sum of triangle areas == bbox area
    (Mesh.cpp:515-576)

Returns (ok, list_of_violations) so tests can assert on the bundle.
"""

from __future__ import annotations

import numpy as np


def check_tin_properties(
    verts: np.ndarray,
    faces: np.ndarray,
    expect_square_hull: bool = True,
    rel_tol: float = 1e-9,
):
    """(ok, problems): mesh validity checks on a TIN.

    Kept without a shipped caller: the mesh-validity check of
    tests/test_kernels_terra.py (terra, dense and zemlya cases)."""
    problems = []
    nv = len(verts)
    if len(faces):
        if faces.min() < 0 or faces.max() >= nv:
            problems.append("face index out of range")

    # no collapsed faces (duplicate index within a face)
    if len(faces):
        f = faces
        if ((f[:, 0] == f[:, 1]) | (f[:, 1] == f[:, 2]) | (f[:, 0] == f[:, 2])).any():
            problems.append("collapsed face (duplicate vertex index)")

    # no duplicate vertices
    if nv:
        uniq = np.unique(verts, axis=0)
        if len(uniq) != nv:
            problems.append("duplicate vertices")

    # every vertex referenced
    if nv and len(faces):
        ref = np.zeros(nv, dtype=bool)
        ref[faces.reshape(-1)] = True
        if not ref.all():
            problems.append(f"{int((~ref).sum())} unreferenced vertices")

    # CCW upward-facing + area accumulation
    if len(faces):
        a = verts[faces[:, 0]]
        b = verts[faces[:, 1]]
        c = verts[faces[:, 2]]
        area2 = (b[:, 0] - a[:, 0]) * (c[:, 1] - a[:, 1]) - (b[:, 1] - a[:, 1]) * (
            c[:, 0] - a[:, 0]
        )
        if (area2 <= 0).any():
            problems.append(f"{int((area2 <= 0).sum())} non-CCW/degenerate faces")
        if expect_square_hull and nv:
            bbox_area = (verts[:, 0].max() - verts[:, 0].min()) * (
                verts[:, 1].max() - verts[:, 1].min()
            )
            tri_area_sum = float(np.abs(area2).sum() / 2.0)
            if bbox_area > 0 and abs(tri_area_sum - bbox_area) > rel_tol * bbox_area:
                problems.append(
                    f"hull has holes: tri area {tri_area_sum} vs bbox {bbox_area}"
                )

    return (not problems, problems)


def triangles_overlap_exists(verts: np.ndarray, faces: np.ndarray) -> bool:
    """O(n²) overlapping-triangle check (Mesh.cpp:384-438) — use only on
    small test meshes. Two triangles overlap if any edges properly
    cross.

    Kept without a shipped caller: tests/test_kernels_terra.py
    (test_terra_small_dense_grid) checks terra meshes with it."""
    if len(faces) < 2:
        return False
    segs = []
    for f in faces:
        p = verts[f][:, :2]
        for i in range(3):
            segs.append((p[i], p[(i + 1) % 3]))

    def cross(o, a, b):
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    def proper_cross(s1, s2):
        p, q = s1
        r, s = s2
        d1 = cross(p, q, r)
        d2 = cross(p, q, s)
        d3 = cross(r, s, p)
        d4 = cross(r, s, q)
        if d1 == 0 or d2 == 0 or d3 == 0 or d4 == 0:
            return False  # touching/collinear — not a proper interior cross
        return ((d1 > 0) != (d2 > 0)) and ((d3 > 0) != (d4 > 0))

    for i in range(len(segs)):
        for j in range(i + 1, len(segs)):
            if proper_cross(segs[i], segs[j]):
                return True
    return False
