"""Icosahedral H3 projection layer: geo -> (face, CoordIJK) and back.

This supplies the step the planar shim in h3pack.py documents as
missing: projecting a lat/lng onto the H3 icosahedron — closest-face
selection, gnomonic projection into the face plane, rotation into the
face's Class II hex axes, aperture-7 scaling to a resolution, and
nearest-hex-center rounding to integer CoordIJK. The inverse (cell
ijk -> center lat/lng) is also provided, which is what makes the
layer testable without any external library: a point's assigned cell
center must re-project to the same cell, and cube rounding must pick
the closest center in the face plane (both property-tested in
tests/test_h3geo.py).

Constants and their provenance (public spec / pure math):
- the 20 face-center lat/lngs and the per-face Class II i-axis
  azimuths are the published orientation constants of the public H3
  core library (faceijk.c: faceCenterGeo, faceAxesAzRadsCII[.][0]).
  tests/test_h3geo.py validates that the table IS a geometrically
  exact icosahedron (every face has exactly 3 neighbors at the
  dodecahedral center angle acos(sqrt(5)/3), antipodal closure, unit
  vectors) to 1e-9 — i.e. the table is internally consistent, not a
  garbled copy.
- RES0_U_GNOMONIC = (3 - sqrt(5))/2 = 1/phi^2 (the res-0 unit scale),
  M_AP7_ROT_RADS = asin(sqrt(3/28)) (the Class III aperture-7
  rotation), and sqrt(7) are DERIVED here, not transcribed.

HONESTY CAVEAT (also in NOTES.md): this sandbox has no h3 library and
no network, so the table's GLOBAL ORIENTATION cannot be pinned against
real-library output from inside the sandbox; and base-cell NUMBERING
(the 122-entry faceIjkBaseCells/baseCellData tables, pure published
constants) is not reproducible from first principles — it is an
arbitrary canonical ordering. geo_to_h3() therefore runs on the
base-cell tables h3base.py derives from this geometry: its ids are
engine-canonical, laid out by h3pack's spec-true digit machinery.

Reference parity note: the reference engine has no spherical index at
all (its tiler is Web-Mercator only, src/dem2tintiles_workflow.cpp);
this module exists for the charter's "H3/S2 cells" surface.
"""

from __future__ import annotations

import math

from functools import lru_cache

import numpy as np

# --- derived scalars --------------------------------------------------

SQRT7 = math.sqrt(7.0)
# res-0 hexagon scale in gnomonic units: 1/phi^2 (golden ratio)
RES0_U_GNOMONIC = (3.0 - math.sqrt(5.0)) / 2.0
# Class III aperture-7 rotation: asin(sqrt(3/28))
AP7_ROT_RADS = math.asin(math.sqrt(3.0 / 28.0))
_SQRT3_2 = math.sqrt(3.0) / 2.0
_EPS = 1e-11

# --- published orientation constants (public H3 core library) ---------

# (lat, lng) radians of the 20 icosahedron face centers
FACE_CENTER_GEO = np.array([
    (0.803582649718989942, 1.248397419617396099),    # face  0
    (1.307747883455638156, 2.536945009877921159),    # face  1
    (1.054751253523952054, -1.347517358900396623),   # face  2
    (0.600191595538186799, -0.450603909469755746),   # face  3
    (0.491715428198773866, 0.401988202911306943),    # face  4
    (0.172745327415618701, 1.678146885280433686),    # face  5
    (0.605929321571350690, 2.953923329812411617),    # face  6
    (0.427370518328979641, -1.888876200336285401),   # face  7
    (-0.079066118549212831, -0.733429513380867741),  # face  8
    (-0.230961644455383637, 0.506495587332349035),   # face  9
    (0.079066118549212831, 2.408163140208925497),    # face 10
    (0.230961644455383637, -2.635097066257444203),   # face 11
    (-0.172745327415618701, -1.463445768309359553),  # face 12
    (-0.605929321571350690, -0.187669323777381622),  # face 13
    (-0.427370518328979641, 1.252716453253507838),   # face 14
    (-0.600191595538186799, 2.690988744120037492),   # face 15
    (-0.491715428198773866, -2.739604450678486295),  # face 16
    (-0.803582649718989942, -1.893195233972397139),  # face 17
    (-1.307747883455638156, -0.604647643711872080),  # face 18
    (-1.054751253523952054, 1.794075294689396615),   # face 19
], dtype=np.float64)

# azimuth (radians, from north, clockwise) from each face center to
# the face's Class II i-axis (faceAxesAzRadsCII[face][0]; the j/k axes
# sit at -120 and -240 degrees from it and are never needed here)
FACE_AXES_AZ_I = np.array([
    5.619958268523939882,   # face  0
    5.760339081714187279,   # face  1
    0.780213654393430055,   # face  2
    0.430469363979999913,   # face  3
    6.130269123335111400,   # face  4
    2.692877706530642877,   # face  5
    2.982963003477243874,   # face  6
    3.532912002790141181,   # face  7
    3.494305004259568154,   # face  8
    3.003214169499538391,   # face  9
    5.930472956509811562,   # face 10
    0.138378484090254847,   # face 11
    0.448714947059150361,   # face 12
    0.158629650112549365,   # face 13
    5.891865957979238535,   # face 14
    2.711123289609793325,   # face 15
    3.294508837434268316,   # face 16
    3.804819692245439833,   # face 17
    3.664438879055192436,   # face 18
    2.361378999196363184,   # face 19
], dtype=np.float64)


def _geo_to_xyz(lat: np.ndarray, lng: np.ndarray) -> np.ndarray:
    """(..., ) radians -> unit vectors (..., 3)."""
    cl = np.cos(lat)
    return np.stack([cl * np.cos(lng), cl * np.sin(lng), np.sin(lat)], axis=-1)


FACE_CENTER_XYZ = _geo_to_xyz(FACE_CENTER_GEO[:, 0], FACE_CENTER_GEO[:, 1])


def geo_to_face(lat: np.ndarray, lng: np.ndarray):
    """Closest icosahedron face per point (max dot product). Returns
    (face int array, sqd float array) — sqd is the squared 3D chord
    distance to the face center, as the spec's projection consumes."""
    v = _geo_to_xyz(np.asarray(lat, float), np.asarray(lng, float))
    dots = v @ FACE_CENTER_XYZ.T  # (..., 20)
    face = np.argmax(dots, axis=-1)
    best = np.take_along_axis(dots, face[..., None], axis=-1)[..., 0]
    sqd = np.maximum(2.0 - 2.0 * best, 0.0)  # |v-c|^2 = 2 - 2 v.c
    return face.astype(np.int64), sqd


def _geo_azimuth(lat1, lng1, lat2, lng2):
    """Great-circle initial bearing 1 -> 2, radians (north=0, cw)."""
    dl = lng2 - lng1
    return np.arctan2(
        np.cos(lat2) * np.sin(dl),
        np.cos(lat1) * np.sin(lat2) - np.sin(lat1) * np.cos(lat2) * np.cos(dl),
    )


def _geo_az_distance(lat1, lng1, az, dist):
    """Destination point at angular distance `dist` along bearing `az`
    from (lat1, lng1); all radians."""
    sd, cd = np.sin(dist), np.cos(dist)
    sl, cl = np.sin(lat1), np.cos(lat1)
    lat2 = np.arcsin(np.clip(sl * cd + cl * sd * np.cos(az), -1.0, 1.0))
    lng2 = lng1 + np.arctan2(np.sin(az) * sd * cl, cd - sl * np.sin(lat2))
    # normalize to (-pi, pi]
    return lat2, np.arctan2(np.sin(lng2), np.cos(lng2))


def geo_to_hex2d(lat, lng, res: int, face=None):
    """Project points into their closest face's hex2d plane at `res`:
    gnomonic radial scaling (tan of the angular distance over the
    res-0 unit), azimuth rotated into the face's Class II i-axis frame
    (minus the aperture-7 rotation on Class III resolutions).
    Returns (face, x, y). Passing `face` forces the chart (used by the
    rare-path re-walk in geo_to_h3 — gnomonic extends smoothly a bit
    beyond the face's own region)."""
    lat = np.asarray(lat, float)
    lng = np.asarray(lng, float)
    if face is None:
        face, sqd = geo_to_face(lat, lng)
    else:
        face = np.broadcast_to(np.asarray(face, np.int64), lat.shape)
        v = _geo_to_xyz(lat, lng)
        dots = np.einsum("...i,...i->...", v, FACE_CENTER_XYZ[face])
        sqd = np.maximum(2.0 - 2.0 * dots, 0.0)
    r = np.arccos(np.clip(1.0 - sqd / 2.0, -1.0, 1.0))  # angular dist
    clat = FACE_CENTER_GEO[face, 0]
    clng = FACE_CENTER_GEO[face, 1]
    theta = FACE_AXES_AZ_I[face] - _geo_azimuth(clat, clng, lat, lng)
    if res % 2 == 1:  # Class III
        theta = theta - AP7_ROT_RADS
    scale = (SQRT7 ** res) / RES0_U_GNOMONIC
    r2d = np.tan(r) * scale
    r2d = np.where(r < _EPS, 0.0, r2d)
    return face, r2d * np.cos(theta), r2d * np.sin(theta)


def hex2d_to_ijk(x, y):
    """Nearest hex center in the unit pointy-axes frame used by the
    face plane (i-axis along +x): fractional axial coords from the
    cartesian pair, then cube rounding (round each cube coordinate,
    re-fix the one with the largest rounding error so i+j+k stays 0 —
    this IS nearest-center assignment, property-tested). Returns
    normalized non-negative (i, j, k) per h3pack._normalize."""
    x = np.asarray(x, float)
    y = np.asarray(y, float)
    dj = y / _SQRT3_2
    di = x + dj / 2.0
    # In the (di, dj) frame the 6 unit-distance neighbors of the
    # origin are (+-1,0), (0,+-1), (1,1), (-1,-1) — i.e. (di, -dj) is
    # a STANDARD axial pair (up to a reflection, which preserves
    # distance), so standard cube rounding on (q, r, -q-r) =
    # (di, -dj, dj-di) is exact nearest-center assignment here
    # (property-tested against the 5x5 lattice neighborhood).
    a, b = di, -dj
    c = -a - b
    ra, rb, rc = np.round(a), np.round(b), np.round(c)
    da, db, dc = np.abs(ra - a), np.abs(rb - b), np.abs(rc - c)
    fix_a = (da >= db) & (da >= dc)
    fix_b = ~fix_a & (db >= dc)
    ra = np.where(fix_a, -(rb + rc), ra)
    rb = np.where(fix_b, -(ra + rc), rb)
    i = ra.astype(np.int64)
    j = (-rb).astype(np.int64)
    k = np.zeros_like(i)
    # normalize to the library's non-negative ijk form
    m = np.minimum(np.minimum(i, j), k)
    return i - m, j - m, k - m


def ijk_to_hex2d(i, j, k):
    """Cell center in the face plane (inverse of hex2d_to_ijk on
    lattice points)."""
    di = np.asarray(i, float) - np.asarray(k, float)
    dj = np.asarray(j, float) - np.asarray(k, float)
    return di - dj / 2.0, dj * _SQRT3_2


def geo_to_face_ijk(lat, lng, res: int):
    """lat/lng (radians) -> (face, i, j, k) at `res`: the icosahedral
    front-end's output, ready for base-cell resolution (and already
    consumable by h3pack.h3_from_axial under a per-face origin).

    Test-only parameters: res — the NumPy reference of
    with_face_ijk_cols, which tests/test_h3geo.py checks at res 2 and 3
    (the Class II and Class III frames); h3base uses res 0."""
    face, x, y = geo_to_hex2d(lat, lng, res)
    i, j, k = hex2d_to_ijk(x, y)
    return face, i, j, k


def face_ijk_to_geo(face, i, j, k, res: int):
    """Cell-center lat/lng (radians) of (face, ijk) at `res` — the
    inverse projection (hex2d -> angular distance via arctan of the
    rescaled radius -> destination along the un-rotated azimuth).

    Test-only parameters: res — tests/test_h3geo.py round-trips cell
    centers at res 0-4, the odd ones through the Class III rotation
    this undoes; h3base uses res 0."""
    face = np.asarray(face, np.int64)
    x, y = ijk_to_hex2d(i, j, k)
    r2d = np.hypot(x, y)
    theta = np.arctan2(y, x)
    if res % 2 == 1:  # undo Class III rotation
        theta = theta + AP7_ROT_RADS
    scale = (SQRT7 ** res) / RES0_U_GNOMONIC
    r = np.arctan(r2d / scale)
    clat = FACE_CENTER_GEO[face, 0]
    clng = FACE_CENTER_GEO[face, 1]
    az = FACE_AXES_AZ_I[face] - theta
    lat2, lng2 = _geo_az_distance(clat, clng, az, r)
    origin = r2d < _EPS
    return np.where(origin, clat, lat2), np.where(origin, clng, lng2)


# --- Spark surface ----------------------------------------------------

EARTH_R_MERC = 20037508.342789243 / math.pi  # Web-Mercator sphere radius


def with_face_ijk_cols(df, res: int):
    """Add (h3_face, h3_i, h3_j, h3_k) from Web-Mercator x, y: the
    whole icosahedral chain — inverse Mercator, 20-way closest-face argmax
    (array_max over a struct array; ties break to the lowest face via
    the negated-face field, matching NumPy argmax), gnomonic scaling,
    Class II/III rotation, nearest-center cube rounding — as JVM
    Column algebra inside WholeStageCodegen. No UDF, no Python worker,
    no Arrow hop: at 10^12 rows this is the plan you want
    (geo_to_face_ijk is the tested NumPy reference twin).

    Staged through intermediate columns on purpose: each stage's
    outputs are referenced several times downstream, and Catalyst's
    CollapseProject keeps multi-referenced non-trivial aliases as
    separate projections — inlining everything into one expression
    would re-embed the 20-struct array once per reference and blow the
    tree up exponentially (measured: the single-projection form never
    finished analysis).

    Test-only parameters: res — tests/test_h3geo.py checks the chain
    against geo_to_face_ijk at res 2 and 3 (the Class II and Class III
    frames); the h3_global query uses FACE_RES."""
    from pyspark.sql import functions as F

    lat = 2.0 * F.atan(F.exp(F.col("y") / F.lit(EARTH_R_MERC))) - math.pi / 2.0
    lng = F.col("x") / F.lit(EARTH_R_MERC)
    out = (
        df.withColumn("_lng", lng)
        .withColumn("_slat", F.sin(lat))
        .withColumn("_clat", F.cos(lat))
    )

    entries = []
    for f in range(20):
        fc_lat = float(FACE_CENTER_GEO[f, 0])
        fc_lng = float(FACE_CENTER_GEO[f, 1])
        dot = F.col("_slat") * math.sin(fc_lat) + F.col("_clat") * math.cos(
            fc_lat
        ) * F.cos(F.col("_lng") - F.lit(fc_lng))
        entries.append(
            F.struct(
                dot.alias("dot"),
                F.lit(-f).alias("negface"),
                F.lit(fc_lat).alias("clat"),
                F.lit(fc_lng).alias("clng"),
                F.lit(float(FACE_AXES_AZ_I[f])).alias("az0"),
            )
        )
    out = out.withColumn("_best", F.array_max(F.array(*entries)))

    r = F.acos(
        F.least(F.lit(1.0), F.greatest(F.lit(-1.0), F.col("_best.dot")))
    )
    az = F.atan2(
        F.col("_clat") * F.sin(F.col("_lng") - F.col("_best.clng")),
        F.cos(F.col("_best.clat")) * F.col("_slat")
        - F.sin(F.col("_best.clat")) * F.col("_clat")
        * F.cos(F.col("_lng") - F.col("_best.clng")),
    )
    theta = F.col("_best.az0") - az
    if res % 2 == 1:
        theta = theta - AP7_ROT_RADS
    scale = (SQRT7 ** res) / RES0_U_GNOMONIC
    out = (
        out.withColumn("_r", r)
        .withColumn("_theta", theta)
        .withColumn(
            "_r2d",
            F.when(F.col("_r") < _EPS, F.lit(0.0)).otherwise(
                F.tan(F.col("_r")) * scale
            ),
        )
        .withColumn("_hx", F.col("_r2d") * F.cos(F.col("_theta")))
        .withColumn("_hy", F.col("_r2d") * F.sin(F.col("_theta")))
    )

    dj = F.col("_hy") / _SQRT3_2
    out = (
        out.withColumn("_a", F.col("_hx") + dj / 2.0)
        .withColumn("_b", -dj)
        .withColumn("_c", -F.col("_a") - F.col("_b"))
        .withColumn("_ra", F.round(F.col("_a")))
        .withColumn("_rb", F.round(F.col("_b")))
        .withColumn("_rc", F.round(F.col("_c")))
    )
    da = F.abs(F.col("_ra") - F.col("_a"))
    db = F.abs(F.col("_rb") - F.col("_b"))
    dc = F.abs(F.col("_rc") - F.col("_c"))
    fix_a = (da >= db) & (da >= dc)
    fa = F.when(fix_a, -(F.col("_rb") + F.col("_rc"))).otherwise(F.col("_ra"))
    fb = F.when(~fix_a & (db >= dc), -(F.col("_ra") + F.col("_rc"))).otherwise(
        F.col("_rb")
    )
    out = (
        out.withColumn("_i0", fa.cast("bigint"))
        .withColumn("_j0", (-fb).cast("bigint"))
    )
    m = F.least(F.col("_i0"), F.col("_j0"), F.lit(0).cast("bigint"))
    out = (
        out.withColumn("h3_face", (-F.col("_best.negface")).cast("int"))
        .withColumn("_m", m)
        .withColumn("h3_i", F.col("_i0") - F.col("_m"))
        .withColumn("h3_j", F.col("_j0") - F.col("_m"))
        .withColumn("h3_k", -F.col("_m"))
    )
    drop = [
        "_lng", "_slat", "_clat", "_best", "_r", "_theta", "_r2d", "_hx",
        "_hy", "_a", "_b", "_c", "_ra", "_rb", "_rc", "_i0", "_j0", "_m"
    ]
    return out.drop(*drop)


def face_table_sql() -> str:
    """The 20-face constant table as a SQL VALUES relation (17-digit
    round-trip literals — both engines parse them to identical
    doubles): (face, clat, clng, az0)."""
    rows = ", ".join(
        f"({f}, {FACE_CENTER_GEO[f, 0]!r}, {FACE_CENTER_GEO[f, 1]!r}, "
        f"{FACE_AXES_AZ_I[f]!r})"
        for f in range(20)
    )
    return f"(VALUES {rows}) AS f(face, clat, clng, az0)"


def geo_to_h3(lat, lng, res: int) -> np.ndarray:
    """GLOBAL encode: lat/lng radians -> 64-bit H3-layout cell ids.

    Pipeline: closest-face gnomonic projection + rounding at `res`
    (geo_to_face_ijk), the spec's absolute aperture-7 digit walk
    (h3pack.walk_digits_np), base-cell + frame-rotation lookup on the
    res-0 coords (h3base), digit rotation into the cell's canonical
    frame, spec bit packing. Points near a face-triangle corner (a
    pentagon, where the 5 surrounding charts pinch around the deleted
    K-sector and closest-face rounding is not a consistent partition),
    points whose rounded cell crosses a pentagon's deleted K-sector,
    and (vanishingly rarely) points whose res-0 key misses the table
    are re-walked through the other candidate face charts and resolved
    by nearest decoded center — exact, deterministic, and table-free
    (no cwOffsetPent needed).

    The base-cell tables are the derived ones (h3base.derive_base_cells),
    so the ids are engine-canonical: structurally library-true (valid
    per isValidCell, pentagons in the library pentagon slots, exact cell
    censuses) but not numerically equal to the real library's ids.

    Test-only parameters: res — tests/test_h3global.py round-trips every
    cell at res 0-3 and random points at res 5, 9 and 15, and checks
    parents across resolutions; the h3_global query encodes at
    H3_GLOBAL_RES.
    """
    from . import h3base
    from .h3pack import pack_h3_np, walk_digits_np

    lat = np.atleast_1d(np.asarray(lat, float))
    lng = np.atleast_1d(np.asarray(lng, float))
    tables = h3base.derive_base_cells()
    face, x, y = geo_to_hex2d(lat, lng, res)
    i, j, k = hex2d_to_ijk(x, y)
    digits, i0, j0, k0 = walk_digits_np(i, j, k, res)
    ok = (i0 <= 2) & (j0 <= 2) & (k0 <= 2)
    key = np.where(ok, face * 27 + i0 * 9 + j0 * 3 + k0, 0)
    bc = tables.lookup_bc[key].astype(np.int64)
    rot = tables.lookup_rot[key].astype(np.int64)
    ok &= bc >= 0
    bc_safe = np.where(bc >= 0, bc, 0)
    if res > 0:
        rtab = h3base.rot_digit_table()
        cdig = rtab[rot[:, None], digits]
        nz = cdig != 0
        first = np.argmax(nz, axis=1)
        lead = np.where(nz.any(axis=1), cdig[np.arange(len(face)), first], 0)
        is_pent = tables.bc_is_pentagon[bc_safe]
        # pentagon deleted-subsequence rule (label-based, exact): the
        # lead-5 subtree is DRAWN in the wedge of digit 1, so a raw
        # walk landing there relabels ccw (lead 1 -> 5); a raw lead-5
        # walk is in the deleted wedge — across the seam, owned by an
        # adjacent chart — and is resolved by _rewalk.
        relabel = is_pent & (lead == 1)
        if relabel.any():
            cdig = np.where(relabel[:, None], rtab[1][cdig], cdig)
        pent_bad = is_pent & (lead == 5)
    else:
        cdig = digits
        pent_bad = np.zeros(lat.shape, dtype=bool)
    h = pack_h3_np(res, bc_safe, cdig)
    problem = ~ok | pent_bad
    if res > 0:
        problem |= _near_pentagon(x, y, res)
    if problem.any():
        h[problem] = _rewalk(lat[problem], lng[problem], res, tables)
    return h


# Disc radius around face-triangle corners as a FRACTION of the res-0
# cell spacing: the pentagon/hexagon subtree-boundary wiggle (where
# per-chart lattices disagree and cells can draw outside every chart's
# own cone) has amplitude ~0.65 of the res-0 spacing INDEPENDENT of
# res, so the settled neighborhood must scale with the res-0 cell, not
# with the fine spacing. Inside the disc the partition is Voronoi over
# decoded centers (_rewalk), which makes every affected cell's center
# re-encode to itself at distance 0.
_PENT_DISC_FRACTION = 0.75


@lru_cache(maxsize=16)
def _corner_xy(res: int):
    """Planar positions of the face triangle's 3 corners (the pentagon
    res-0 cells at IJK (2,0,0)/(0,2,0)/(0,0,2) — identical in every
    face chart) in the res-scale/res-frame hex2d coordinates that
    geo_to_hex2d returns, plus the res-scale unit spacing."""
    from .h3pack import descend_digits_np, _UNIT_VECS

    i0 = np.array([2, 0, 0], dtype=np.int64)
    j0 = np.array([0, 2, 0], dtype=np.int64)
    k0 = np.array([0, 0, 2], dtype=np.int64)
    zero = np.zeros((3, res), dtype=np.int8)
    i, j, k = descend_digits_np(i0, j0, k0, zero, res)
    cx, cy = ijk_to_hex2d(i, j, k)
    u2 = _UNIT_VECS[2]
    ux, uy = ijk_to_hex2d(np.array([u2[0]]), np.array([u2[1]]),
                          np.array([u2[2]]))
    return cx, cy, float(np.hypot(ux, uy)[0])


def _near_pentagon(x, y, res: int) -> np.ndarray:
    """True for points within _PENT_DISC_SPACINGS res-cell spacings of
    a face-triangle corner — the only region where the closest-face
    chart partition is inconsistent (charts pinch across the deleted
    sector), so those points take the nearest-center _rewalk path."""
    cx, cy, u = _corner_xy(res)
    r2 = (u * _PENT_DISC_FRACTION * SQRT7 ** res) ** 2
    hit = np.zeros(x.shape, dtype=bool)
    for c in range(3):
        hit |= (x - cx[c]) ** 2 + (y - cy[c]) ** 2 < r2
    return hit


def _rewalk(lat, lng, res: int, tables, _depth: int = 0) -> np.ndarray:
    """Rare-path encode: walk each point through EVERY face chart,
    turn each walk into candidate cell ids, and pick the candidate
    whose decoded center is nearest the point (a Voronoi over decoded
    centers — an exact center always wins its own cell at distance 0).
    A raw walk landing in a pentagon's deleted subtree-5 region yields
    its TWO glued interpretations: the label as-is (the cell drawn in
    the wedge of digit 1) and the ccw-rotated label (the wedge-4
    neighbor side) — the gluing of the pentagonal gap, settled by the
    Voronoi. Cost is ~20x the normal path but only boundary points
    near pentagons (or table misses) land here."""
    from . import h3base
    from .h3pack import pack_h3_np, walk_digits_np

    m = lat.shape[0]
    best_h = np.zeros(m, dtype=np.int64)
    best_d = np.full(m, np.inf)
    rtab = h3base.rot_digit_table()

    def consider(hc, mask):
        nonlocal best_h, best_d
        clat, clng = h3_to_geo(hc, tables=tables)
        d = np.arccos(np.clip(
            np.sin(lat) * np.sin(clat)
            + np.cos(lat) * np.cos(clat) * np.cos(lng - clng), -1.0, 1.0,
        ))
        better = mask & (d < best_d)
        best_h = np.where(better, hc, best_h)
        best_d = np.where(better, d, best_d)

    for f in range(20):
        _, x, y = geo_to_hex2d(lat, lng, res, face=f)
        i, j, k = hex2d_to_ijk(x, y)
        digits, i0, j0, k0 = walk_digits_np(i, j, k, res)
        ok = (i0 <= 2) & (j0 <= 2) & (k0 <= 2)
        key = np.where(ok, f * 27 + i0 * 9 + j0 * 3 + k0, 0)
        bc = tables.lookup_bc[key].astype(np.int64)
        rot = tables.lookup_rot[key].astype(np.int64)
        ok &= bc >= 0
        if not ok.any():
            continue
        bc_safe = np.where(bc >= 0, bc, 0)
        cdig = rtab[rot[:, None], digits] if res > 0 else digits
        gap5 = np.zeros(m, dtype=bool)
        if res > 0:
            nz = cdig != 0
            first = np.argmax(nz, axis=1)
            lead = np.where(nz.any(axis=1), cdig[np.arange(m), first], 0)
            is_pent = tables.bc_is_pentagon[bc_safe]
            relabel = is_pent & (lead == 1)
            if relabel.any():
                cdig = np.where(relabel[:, None], rtab[1][cdig], cdig)
            gap5 = is_pent & (lead == 5)
        consider(pack_h3_np(res, bc_safe, cdig), ok)
        if gap5.any():
            consider(pack_h3_np(res, bc_safe, rtab[1][cdig]), ok & gap5)
    if not np.isfinite(best_d).all():
        raise ValueError("geo_to_h3: point could not be resolved in any "
                         "face chart (corrupt base-cell tables?)")
    # Locality fallback: a point deep in the pentagonal-defect misfit
    # sliver (every chart's rounding is a deleted-subtree position) can
    # end up with only far candidates. Perturb it by a few cell
    # spacings in its own chart, resolve the perturbed points (which
    # land in real cells), and offer THEIR cells as candidates. Cell
    # centers never take this path (their own chart rounds them to
    # themselves at distance 0), so encode/decode consistency is
    # unaffected — this only makes sliver assignments local.
    if res > 0 and _depth == 0:
        far = best_d > 3.0 * 0.55 / SQRT7 ** res
        if far.any():
            fl, fg = lat[far], lng[far]
            face_f, xf, yf = geo_to_hex2d(fl, fg, res)
            _, _, u = _corner_xy(res)
            sub_best_h = best_h[far]
            sub_best_d = best_d[far]
            # two fine rings (thin-sliver case) + three rings scaled to
            # the current best distance (defect-lens case, where the
            # nearest real cell can be tens of spacings out)
            rel = best_d[far] / (0.55 / SQRT7 ** res)  # planar u units
            for ring in (np.full(rel.shape, 1.2), np.full(rel.shape, 2.4),
                         0.35 * rel, 0.7 * rel, 1.05 * rel):
                for a in range(6):
                    ang = math.pi / 3.0 * a + math.pi / 6.0
                    ql, qg = _hex2d_to_geo(
                        face_f, xf + ring * u * math.cos(ang),
                        yf + ring * u * math.sin(ang), res)
                    hc = _rewalk(ql, qg, res, tables, _depth=1)
                    clat, clng = h3_to_geo(hc, tables=tables)
                    d = np.arccos(np.clip(
                        np.sin(fl) * np.sin(clat)
                        + np.cos(fl) * np.cos(clat) * np.cos(fg - clng),
                        -1.0, 1.0))
                    better = d < sub_best_d
                    sub_best_h = np.where(better, hc, sub_best_h)
                    sub_best_d = np.where(better, d, sub_best_d)
            best_h[far] = sub_best_h
            best_d[far] = sub_best_d
    return best_h


def h3_to_geo(h, tables=None):
    """Decode cell ids (one shared resolution) -> center (lat, lng)
    radians.

    A cell under base cell bc can be reconstructed in the chart of ANY
    face that sees bc (its reps): rotate the canonical digits into that
    rep's frame, down-walk from the rep's res-0 coords, inverse-project.
    The authoritative candidate is the SELF-CONSISTENT one: the chart
    whose drawn center, inverse-projected to the sphere, lands in that
    chart's own face region (closest face == chart face). Min planar
    radius alone is NOT sufficient — each chart draws its own version
    of the cell, and the gnomonic extension compresses cells beyond the
    fold, so a neighboring chart's distorted copy can have the smaller
    radius. Self-consistency is exactly the role the overage-adjustment
    tables play in the reference library, derived here instead; ties /
    no-consistent-chart fall back to min radius."""
    from . import h3base
    from .h3pack import descend_digits_np, unpack_h3_np

    if tables is None:
        tables = h3base.derive_base_cells()
    h = np.atleast_1d(np.asarray(h, np.int64))
    res_arr, bc, digits = unpack_h3_np(h)
    res = int(res_arr[0])
    if not (res_arr == res).all():
        raise ValueError("h3_to_geo: mixed resolutions in one batch")
    rtab = h3base.rot_digit_table()
    if res > 0:
        # pentagon fold: the lead-5 subtree is drawn rotated 60 deg CW
        # (lead 5 -> 1) into the planar wedge of digit 1 — the exact,
        # label-based deleted-subsequence gluing (see h3base docstring)
        d = digits[:, :res]
        nz = d != 0
        first = np.argmax(nz, axis=1)
        lead = np.where(nz.any(axis=1), d[np.arange(h.shape[0]), first], 0)
        fold = tables.bc_is_pentagon[bc] & (lead == 5)
        if fold.any():
            digits = digits.copy()
            digits[:, :res] = np.where(fold[:, None], rtab[5][d], d)
    nrep = tables.bc_rep_count[bc].astype(np.int64)
    best_score = np.full(h.shape, np.inf)
    best_lat = np.zeros(h.shape)
    best_lng = np.zeros(h.shape)
    for s in range(int(tables.bc_rep_count.max())):
        act = nrep > s
        if not act.any():
            continue
        face_s = tables.bc_rep_face[bc, s].astype(np.int64)
        ijk_s = tables.bc_rep_ijk[bc, s].astype(np.int64)
        inv = (6 - tables.bc_rep_rot[bc, s].astype(np.int64)) % 6
        if res > 0:
            fdig = rtab[inv[:, None], digits[:, :res]]
        else:
            fdig = digits[:, :0]
        i, j, k = descend_digits_np(ijk_s[:, 0], ijk_s[:, 1], ijk_s[:, 2],
                                    fdig, res)
        x, y = ijk_to_hex2d(i, j, k)
        cand_lat, cand_lng = _hex2d_to_geo(face_s, x, y, res)
        cface, _ = geo_to_face(cand_lat, cand_lng)
        # consistent charts (drawn center in own region) always beat
        # inconsistent ones; radius breaks ties within each class
        score = (x * x + y * y) + np.where(cface == face_s, 0.0, 1e9)
        better = act & (score < best_score)
        best_score = np.where(better, score, best_score)
        best_lat = np.where(better, cand_lat, best_lat)
        best_lng = np.where(better, cand_lng, best_lng)
    return best_lat, best_lng


def _hex2d_to_geo(face, x, y, res: int):
    """Inverse projection of explicit hex2d coords in a given face
    chart (the tail of face_ijk_to_geo, shared by h3_to_geo)."""
    face = np.asarray(face, np.int64)
    r2d = np.hypot(x, y)
    theta = np.arctan2(y, x)
    if res % 2 == 1:
        theta = theta + AP7_ROT_RADS
    scale = (SQRT7 ** res) / RES0_U_GNOMONIC
    r = np.arctan(r2d / scale)
    clat = FACE_CENTER_GEO[face, 0]
    clng = FACE_CENTER_GEO[face, 1]
    az = FACE_AXES_AZ_I[face] - theta
    lat2, lng2 = _geo_az_distance(clat, clng, az, r)
    origin = r2d < _EPS
    lat2 = np.where(origin, clat, lat2)
    lng2 = np.where(origin, clng, lng2)
    return lat2, lng2
