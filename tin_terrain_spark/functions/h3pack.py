"""Real H3 cell ids: the public 64-bit index bit layout + aperture-7
digit encoding over the engine's axial hex grid (functions/hexgrid.py).

The charter names "H3/S2 cells" as the index surface. hexgrid.py gives
the GEOMETRY (pointy-top axial cells, ring expansion, kNN guarantee);
this module gives the ID FORMAT: ids laid out exactly per the public
H3 spec (h3geo.org/docs/core-library/h3Indexing), so they round-trip
through any tooling that stores/parses H3 indexes:

  bit 63      reserved (0)
  bits 59-62  mode (1 = cell)
  bits 56-58  reserved (0)
  bits 52-55  resolution (0..15)
  bits 45-51  base cell (0..121)
  bits 0-44   15 digits x 3 bits; digit 1 at bits 42-44, digit 15 at
              bits 0-2; digits past the resolution are 7 (unused)

Digits are computed with the spec's own aperture-7 CoordIJK algebra
(class II/III alternation, _upAp7/_upAp7r rounding, unit-vector digit
extraction) re-derived here from the published definitions — so the
digit path of an id is bit-compatible with the library's.

SHIM SCOPE (documented, tested): the engine indexes a planar
Web-Mercator grid, not the icosahedron, so there is no face/base-cell
projection step. All ids live under ONE designated non-pentagon base
cell (SHIM_BASE_CELL) with the axial origin at its center. Joining
against data indexed by the real h3 library therefore needs the same
planar convention on both sides; the VALUE of this layout is (a) ids
validate and introspect anywhere H3 ids do (mode/res/base-cell/digit
extraction, string form), (b) parent/child truncation works by digit
masking exactly as in H3, (c) a future icosahedral front-end only has
to supply (base_cell, ijk) — the digit machinery below is already
spec-true.

Capacity: 15 digit levels address 7^15 ≈ 4.7e12 res-15 cells around
the origin — a Chebyshev-ish disk of ~1.2e6 cells radius. encode
raises on coordinates outside it (the leftover IJK after 15 up-steps
must be the origin), so overflow is loud, never silent aliasing.
"""

from __future__ import annotations

import numpy as np

# --- bit layout (public H3 spec) -------------------------------------

MODE_CELL = 1
_MAX_RES = 15
_RES_OFFSET = 52
_MODE_OFFSET = 59
_BC_OFFSET = 45

# designated shim base cell: 20 is a regular hexagon (not one of the
# 12 pentagons: 4, 14, 24, 38, 49, 58, 63, 72, 83, 97, 107, 117), so
# every digit 0..6 is legal under it
SHIM_BASE_CELL = 20
_PENTAGONS = frozenset({4, 14, 24, 38, 49, 58, 63, 72, 83, 97, 107, 117})


def pack_h3(res: int, base_cell: int, digits) -> int:
    """Assemble a cell-mode H3 index from fields. `digits` holds the
    per-resolution digits 1..res (values 0..6); digits past `res` are
    set to 7 per the spec."""
    if not (0 <= res <= _MAX_RES):
        raise ValueError(f"resolution {res} out of range")
    if not (0 <= base_cell <= 121):
        raise ValueError(f"base cell {base_cell} out of range")
    if len(digits) != res:
        raise ValueError(f"need exactly {res} digits, got {len(digits)}")
    h = (MODE_CELL << _MODE_OFFSET) | (res << _RES_OFFSET) | (base_cell << _BC_OFFSET)
    for r in range(1, _MAX_RES + 1):
        d = digits[r - 1] if r <= res else 7
        if not (0 <= d <= 7):
            raise ValueError(f"digit {d} out of range")
        h |= d << (3 * (_MAX_RES - r))
    return h


def unpack_h3(h: int) -> dict:
    """Field extraction: mode, resolution, base cell, digits 1..res."""
    res = (h >> _RES_OFFSET) & 0xF
    return {
        "mode": (h >> _MODE_OFFSET) & 0xF,
        "res": res,
        "base_cell": (h >> _BC_OFFSET) & 0x7F,
        "digits": [(h >> (3 * (_MAX_RES - r))) & 0x7 for r in range(1, res + 1)],
    }


def h3_is_valid(h: int) -> bool:
    """Cell-mode validity per the spec: high bit 0, mode 1, reserved
    bits 0, base cell <= 121, used digits <= 6, unused digits all 7,
    and under a pentagon base cell the LEADING non-center digit must
    not be K (the spec's isValidCell checks only the first non-zero
    digit — deeper K digits are legal).

    Kept without a shipped caller: tests/test_h3pack.py,
    tests/test_h3global.py and test_spark_integration
    (test_with_h3_id_packs_axial) check every minted id with it."""
    if h >> 63:
        return False
    if (h >> _MODE_OFFSET) & 0xF != MODE_CELL:
        return False
    if (h >> 56) & 0x7:
        return False
    f = unpack_h3(h)
    if f["base_cell"] > 121:
        return False
    if any(d > 6 for d in f["digits"]):
        return False
    if f["base_cell"] in _PENTAGONS:
        lead = next((d for d in f["digits"] if d != 0), None)
        if lead == 1:
            return False
    for r in range(f["res"] + 1, _MAX_RES + 1):
        if (h >> (3 * (_MAX_RES - r))) & 0x7 != 7:
            return False
    return True


def h3_to_parent(h: int, parent_res: int) -> int:
    """Truncate to a coarser resolution by digit masking (spec
    semantics: set res, fill digits past parent_res with 7).

    Kept without a shipped caller: the reference that h3_parent_expr
    is checked against in DuckDB (tests/test_h3pack.py,
    test_parent_expr_equals_python)."""
    f = unpack_h3(h)
    if parent_res > f["res"] or parent_res < 0:
        raise ValueError("parent_res must be <= cell res")
    return pack_h3(parent_res, f["base_cell"], f["digits"][:parent_res])


# --- CoordIJK algebra (public aperture-7 definitions) -----------------

# digit -> unit IJK vector (spec direction order)
_UNIT_VECS = (
    (0, 0, 0),  # 0 center
    (0, 0, 1),  # 1 K
    (0, 1, 0),  # 2 J
    (0, 1, 1),  # 3 JK
    (1, 0, 0),  # 4 I
    (1, 0, 1),  # 5 IK
    (1, 1, 0),  # 6 IJ
)
_VEC_TO_DIGIT = {v: d for d, v in enumerate(_UNIT_VECS)}


def _normalize(i: int, j: int, k: int) -> tuple[int, int, int]:
    if i < 0:
        j -= i
        k -= i
        i = 0
    if j < 0:
        i -= j
        k -= j
        j = 0
    if k < 0:
        i -= k
        j -= k
        k = 0
    m = min(i, j, k)
    return i - m, j - m, k - m


def _round_half_away(x_num: int, den: int = 7) -> int:
    """lround((num/den)) for integer num, positive den: round half away
    from zero, matching the C library's lroundl on exact .5 values."""
    if x_num >= 0:
        return (2 * x_num + den) // (2 * den)
    return -((-2 * x_num + den) // (2 * den))


def _up_ap7(i: int, j: int, k: int) -> tuple[int, int, int]:
    """Parent cell in the counter-clockwise aperture-7 grid."""
    di, dj = i - k, j - k
    return _normalize(
        _round_half_away(3 * di - dj), _round_half_away(di + 2 * dj), 0
    )


def _up_ap7r(i: int, j: int, k: int) -> tuple[int, int, int]:
    """Parent cell in the clockwise aperture-7 grid."""
    di, dj = i - k, j - k
    return _normalize(
        _round_half_away(2 * di + dj), _round_half_away(3 * dj - di), 0
    )


def _down_ap7(i: int, j: int, k: int) -> tuple[int, int, int]:
    # res-r unit vectors expressed in res r+1 (ccw): i->(3,0,1),
    # j->(1,3,0), k->(0,1,3)
    return _normalize(3 * i + j, 3 * j + k, i + 3 * k)


def _down_ap7r(i: int, j: int, k: int) -> tuple[int, int, int]:
    # clockwise: i->(3,1,0), j->(0,3,1), k->(1,0,3)
    return _normalize(3 * i + k, i + 3 * j, j + 3 * k)


def _is_class_iii(res: int) -> bool:
    return res % 2 == 1


# --- axial <-> H3 ------------------------------------------------------


def h3_from_axial(q: int, r: int, res: int = _MAX_RES,
                  base_cell: int = SHIM_BASE_CELL) -> int:
    """Encode an axial cell (hexgrid.py's (hex_q, hex_r)) at `res`
    under the shim base cell. Spec digit algorithm: walk from the
    finest resolution up, recording at each step which child of the
    parent the cell is (class II/III alternation). Raises when the
    coordinate doesn't fit in `res` digits (leftover != origin).

    Kept without a shipped caller: the scalar reference encode of
    tests/test_h3pack.py (test_np_batch_equals_scalar,
    test_sql_walk_equals_numpy) and tests/test_property_based.py."""
    # axial -> IJK (q = i - k, r = j - k with k = 0, then normalize)
    i, j, k = _normalize(int(q), int(r), 0)
    digits = [0] * res
    for rr in range(res, 0, -1):
        li, lj, lk = i, j, k
        if _is_class_iii(rr):
            i, j, k = _up_ap7(li, lj, lk)
            ci, cj, ck = _down_ap7(i, j, k)
        else:
            i, j, k = _up_ap7r(li, lj, lk)
            ci, cj, ck = _down_ap7r(i, j, k)
        diff = _normalize(li - ci, lj - cj, lk - ck)
        try:
            digits[rr - 1] = _VEC_TO_DIGIT[diff]
        except KeyError:  # can't happen for in-range coords
            raise ValueError(f"axial ({q}, {r}) not on the aperture-7 lattice")
    if (i, j, k) != (0, 0, 0):
        raise ValueError(
            f"axial ({q}, {r}) out of range for {res} digit levels"
        )
    return pack_h3(res, base_cell, digits)


def axial_from_h3(h: int) -> tuple[int, int]:
    """Decode back to axial (q, r): walk the digits coarse-to-fine
    (spec decode order), then IJK -> axial.

    Kept without a shipped caller: the inverse that
    tests/test_h3pack.py (test_axial_roundtrip_exhaustive) and
    test_spark_integration (test_with_h3_id_packs_axial) decode ids
    with."""
    f = unpack_h3(h)
    i, j, k = 0, 0, 0
    for rr in range(1, f["res"] + 1):
        if _is_class_iii(rr):
            i, j, k = _down_ap7(i, j, k)
        else:
            i, j, k = _down_ap7r(i, j, k)
        ui, uj, uk = _UNIT_VECS[f["digits"][rr - 1]]
        i, j, k = _normalize(i + ui, j + uj, k + uk)
    return i - k, j - k


def h3_from_axial_np(q: np.ndarray, r: np.ndarray, res: int = _MAX_RES,
                     base_cell: int = SHIM_BASE_CELL) -> np.ndarray:
    """Vectorized batch encode: same algorithm as h3_from_axial,
    whole-array integer ops.

    Kept without a shipped caller: the batch twin of the scalar
    reference, compared with it id for id by tests/test_h3pack.py
    (test_np_batch_equals_scalar)."""
    i = np.asarray(q, dtype=np.int64).copy()
    j = np.asarray(r, dtype=np.int64).copy()
    k = np.zeros_like(i)

    def nrm(i, j, k):
        neg = i < 0
        j = j - np.where(neg, i, 0)
        k = k - np.where(neg, i, 0)
        i = np.where(neg, 0, i)
        neg = j < 0
        i = i - np.where(neg, j, 0)
        k = k - np.where(neg, j, 0)
        j = np.where(neg, 0, j)
        neg = k < 0
        i = i - np.where(neg, k, 0)
        j = j - np.where(neg, k, 0)
        k = np.where(neg, 0, k)
        m = np.minimum(np.minimum(i, j), k)
        return i - m, j - m, k - m

    def rha(num):  # round-half-away for num/7
        pos = (2 * num + 7) // 14
        neg = -((-2 * num + 7) // 14)
        return np.where(num >= 0, pos, neg)

    i, j, k = nrm(i, j, k)
    h = np.full(
        i.shape,
        (MODE_CELL << _MODE_OFFSET) | (res << _RES_OFFSET) | (base_cell << _BC_OFFSET),
        dtype=np.uint64,
    )
    for rr in range(res, 0, -1):
        li, lj, lk = i, j, k
        di, dj = li - lk, lj - lk
        if _is_class_iii(rr):
            i, j, k = nrm(rha(3 * di - dj), rha(di + 2 * dj), np.zeros_like(di))
            ci, cj, ck = nrm(3 * i + j, 3 * j + k, i + 3 * k)
        else:
            i, j, k = nrm(rha(2 * di + dj), rha(3 * dj - di), np.zeros_like(di))
            ci, cj, ck = nrm(3 * i + k, i + 3 * j, j + 3 * k)
        ui, uj, uk = nrm(li - ci, lj - cj, lk - ck)
        # unit vec -> digit: d = 4*i + 2*j + k maps the 7 unit vectors
        # to 0..6 exactly in spec order (see _UNIT_VECS)
        digit = (4 * ui + 2 * uj + uk).astype(np.uint64)
        h |= digit << np.uint64(3 * (_MAX_RES - rr))
    if not (np.all(i == 0) and np.all(j == 0) and np.all(k == 0)):
        raise ValueError(f"some axial coords out of range for {res} digit levels")
    for rr in range(res + 1, _MAX_RES + 1):
        h |= np.uint64(7) << np.uint64(3 * (_MAX_RES - rr))
    return h.astype(np.int64)  # BIGINT column carrier; bit pattern preserved


def walk_digits_np(i, j, k, res: int):
    """Vectorized absolute digit walk for the GLOBAL encode: given
    normalized face-frame IJK at `res`, run the spec's up-aggregation
    `res` times and return (digits (n, res) int8 in walk order
    digit-1-first, i0, j0, k0 res-0 coords). Unlike h3_from_axial_np
    this does NOT require the leftover to be the origin — the res-0
    coords are the base-cell lookup key (h3geo/h3base)."""
    i = np.asarray(i, dtype=np.int64).copy()
    j = np.asarray(j, dtype=np.int64).copy()
    k = np.asarray(k, dtype=np.int64).copy()

    def nrm(i, j, k):
        neg = i < 0
        j = j - np.where(neg, i, 0)
        k = k - np.where(neg, i, 0)
        i = np.where(neg, 0, i)
        neg = j < 0
        i = i - np.where(neg, j, 0)
        k = k - np.where(neg, j, 0)
        j = np.where(neg, 0, j)
        neg = k < 0
        i = i - np.where(neg, k, 0)
        j = j - np.where(neg, k, 0)
        k = np.where(neg, 0, k)
        m = np.minimum(np.minimum(i, j), k)
        return i - m, j - m, k - m

    def rha(num):
        pos = (2 * num + 7) // 14
        neg = -((-2 * num + 7) // 14)
        return np.where(num >= 0, pos, neg)

    i, j, k = nrm(i, j, k)
    digits = np.zeros((i.shape[0], res), dtype=np.int8)
    for rr in range(res, 0, -1):
        li, lj, lk = i, j, k
        di, dj = li - lk, lj - lk
        if _is_class_iii(rr):
            i, j, k = nrm(rha(3 * di - dj), rha(di + 2 * dj),
                          np.zeros_like(di))
            ci, cj, ck = nrm(3 * i + j, 3 * j + k, i + 3 * k)
        else:
            i, j, k = nrm(rha(2 * di + dj), rha(3 * dj - di),
                          np.zeros_like(di))
            ci, cj, ck = nrm(3 * i + k, i + 3 * j, j + 3 * k)
        ui, uj, uk = nrm(li - ci, lj - cj, lk - ck)
        digits[:, rr - 1] = (4 * ui + 2 * uj + uk).astype(np.int8)
    return digits, i, j, k


def descend_digits_np(i0, j0, k0, digits, res: int):
    """Inverse of walk_digits_np: from res-0 coords + digits, rebuild
    the absolute face-frame IJK at `res` (spec decode order)."""
    i = np.asarray(i0, dtype=np.int64).copy()
    j = np.asarray(j0, dtype=np.int64).copy()
    k = np.asarray(k0, dtype=np.int64).copy()
    uv = np.array(_UNIT_VECS, dtype=np.int64)
    for rr in range(1, res + 1):
        if _is_class_iii(rr):
            i, j, k = 3 * i + j, 3 * j + k, i + 3 * k
        else:
            i, j, k = 3 * i + k, i + 3 * j, j + 3 * k
        d = digits[:, rr - 1].astype(np.int64)
        i = i + uv[d, 0]
        j = j + uv[d, 1]
        k = k + uv[d, 2]
        m = np.minimum(np.minimum(i, j), k)
        i, j, k = i - m, j - m, k - m
    return i, j, k


def pack_h3_np(res: int, base_cell: np.ndarray,
               digits: np.ndarray) -> np.ndarray:
    """Vectorized pack: (n,) base cells + (n, res) digits -> int64 ids
    (same bit layout as pack_h3)."""
    h = ((np.uint64(MODE_CELL) << np.uint64(_MODE_OFFSET))
         | (np.uint64(res) << np.uint64(_RES_OFFSET))
         | (base_cell.astype(np.uint64) << np.uint64(_BC_OFFSET)))
    for rr in range(1, _MAX_RES + 1):
        if rr <= res:
            d = digits[:, rr - 1].astype(np.uint64)
        else:
            d = np.uint64(7)
        h = h | (d << np.uint64(3 * (_MAX_RES - rr)))
    return h.astype(np.int64)


def unpack_h3_np(h: np.ndarray):
    """Vectorized unpack -> (res (n,), base_cell (n,), digits (n, max_res))
    where digits past each id's res are 7."""
    hu = h.astype(np.uint64)
    res = ((hu >> np.uint64(_RES_OFFSET)) & np.uint64(0xF)).astype(np.int64)
    bc = ((hu >> np.uint64(_BC_OFFSET)) & np.uint64(0x7F)).astype(np.int64)
    digits = np.zeros((h.shape[0], _MAX_RES), dtype=np.int8)
    for rr in range(1, _MAX_RES + 1):
        digits[:, rr - 1] = (
            (hu >> np.uint64(3 * (_MAX_RES - rr))) & np.uint64(0x7)
        ).astype(np.int8)
    return res, bc, digits


# --- SQL twin of the aperture-7 walk ----------------------------------
#
# The whole encode is integer algebra, so it compiles to plain Column
# expressions that run IDENTICALLY in Spark SQL and DuckDB — JVM-side
# (no UDF) on the engine, independently recomputable by the oracle:
#   - normalize(i,j,k) is the unique normal form x - min(x)
#     (the Python/C sequential negative-removal reaches the same form)
#   - round-half-away(n/7) via FLOOR on exactly-representable doubles
#     (|n| < 2^40 here; FLOOR-then-CAST per the DuckDB/Spark cast trap)
#   - every step's (i, j, k, digit) is materialized as a real column —
#     textual inlining would blow up the expression tree exponentially
#
# Step columns for resolution r: _h3i{r}, _h3j{r}, _h3k{r} hold the
# PARENT cell after the step; _h3d{r} the digit.


def _rha_sql(n: str) -> str:
    """round-half-away((n)/7) for integer-valued n (ties impossible:
    den 7 is odd); branch numerators are non-negative so FLOOR == the
    intended integer division in both engines."""
    return (
        f"CASE WHEN ({n}) >= 0 THEN CAST(FLOOR((2 * ({n}) + 7) / 1.4e1) AS BIGINT) "
        f"ELSE -CAST(FLOOR((-2 * ({n}) + 7) / 1.4e1) AS BIGINT) END"
    )


def h3_step_exprs(res: int, q_col: str = "hex_q", r_col: str = "hex_r"):
    """Ordered (column_name, sql_expr) pairs computing the aperture-7
    digit walk from axial (q_col, r_col) down to resolution 0, then the
    packed id as column `h3_id` (NULL when the coordinate needs more
    than `res` digit levels — loud, never aliased)."""
    cols: list[tuple[str, str]] = []
    # axial -> normalized IJK (k = 0): m = least(q, r, 0)
    m0 = f"LEAST({q_col}, {r_col}, 0)"
    cols.append((f"_h3i{res}", f"CAST(({q_col}) - {m0} AS BIGINT)"))
    cols.append((f"_h3j{res}", f"CAST(({r_col}) - {m0} AS BIGINT)"))
    cols.append((f"_h3k{res}", f"CAST(0 - {m0} AS BIGINT)"))
    cols.extend(_h3_walk_body(res))
    header = (MODE_CELL << _MODE_OFFSET) | (res << _RES_OFFSET) | (
        SHIM_BASE_CELL << _BC_OFFSET
    )
    for rr in range(res + 1, _MAX_RES + 1):
        header |= 7 << (3 * (_MAX_RES - rr))
    digit_sum = " + ".join(
        f"_h3d{rr} * {1 << (3 * (_MAX_RES - rr))}" for rr in range(1, res + 1)
    )
    cols.append(
        (
            "h3_id",
            f"CASE WHEN _h3i0 = 0 AND _h3j0 = 0 AND _h3k0 = 0 "
            f"THEN CAST({header} AS BIGINT) + ({digit_sum}) ELSE NULL END",
        )
    )
    return cols


def _h3_walk_body(res: int):
    """The aperture-7 up-walk step columns of h3_step_exprs: consumes
    `_h3i{res}/_h3j{res}/_h3k{res}`, emits parents down to level 0 and
    digits `_h3d{rr}` (identical text to the pre-refactor inline loop —
    the h3_cells oracle twin depends on the semantics, not the text)."""
    cols: list[tuple[str, str]] = []
    for rr in range(res, 0, -1):
        i, j, k = f"_h3i{rr}", f"_h3j{rr}", f"_h3k{rr}"
        di = f"(({i}) - ({k}))"
        dj = f"(({j}) - ({k}))"
        if rr % 2 == 1:  # class III: _upAp7 / _downAp7
            ui_raw = _rha_sql(f"3 * {di} - {dj}")
            uj_raw = _rha_sql(f"{di} + 2 * {dj}")
        else:  # class II: _upAp7r / _downAp7r
            ui_raw = _rha_sql(f"2 * {di} + {dj}")
            uj_raw = _rha_sql(f"3 * {dj} - {di}")
        cols.append((f"_h3ui{rr}", ui_raw))
        cols.append((f"_h3uj{rr}", uj_raw))
        um = f"LEAST(_h3ui{rr}, _h3uj{rr}, 0)"
        pi, pj, pk = f"_h3i{rr - 1}", f"_h3j{rr - 1}", f"_h3k{rr - 1}"
        cols.append((pi, f"_h3ui{rr} - {um}"))
        cols.append((pj, f"_h3uj{rr} - {um}"))
        cols.append((pk, f"0 - {um}"))
        if rr % 2 == 1:
            ci = f"(3 * {pi} + {pj})"
            cj = f"(3 * {pj} + {pk})"
            ck = f"({pi} + 3 * {pk})"
        else:
            ci = f"(3 * {pi} + {pk})"
            cj = f"({pi} + 3 * {pj})"
            ck = f"({pj} + 3 * {pk})"
        cm = f"LEAST({ci}, {cj}, {ck})"
        cols.append((f"_h3ci{rr}", f"{ci} - {cm}"))
        cols.append((f"_h3cj{rr}", f"{cj} - {cm}"))
        cols.append((f"_h3ck{rr}", f"{ck} - {cm}"))
        dm = (
            f"LEAST(({i}) - _h3ci{rr}, ({j}) - _h3cj{rr}, ({k}) - _h3ck{rr})"
        )
        cols.append(
            (
                f"_h3d{rr}",
                f"4 * ((({i}) - _h3ci{rr}) - {dm}) + 2 * ((({j}) - _h3cj{rr}) - {dm})"
                f" + ((({k}) - _h3ck{rr}) - {dm})",
            )
        )
    return cols


_H3_TMP = "_h3"


def _h3_stages(steps):
    """Group the flat (name, expr) walk into the minimal projection
    stages: an expression joins the current stage unless it references
    a column introduced in that same stage. ~73 single-column
    projections collapse to ~25 stages — the difference is pure
    Catalyst/parser analysis time on every fresh plan build."""
    stages: list[list[tuple[str, str]]] = [[]]
    for name, expr in steps:
        cur_names = [n for n, _ in stages[-1]]
        if any(n in expr for n in cur_names):
            stages.append([(name, expr)])
        else:
            stages[-1].append((name, expr))
    return stages


def with_h3_id(df, size: float, x: str = "x", y: str = "y",
               res: int = 10, out_col: str = "h3_id"):
    """DataFrame helper: axial cells (hexgrid.with_hex_cell) packed to
    H3-layout ids with pure Column expressions (JVM-side, no UDF; the
    same generated SQL is the DuckDB oracle twin). Default res 10
    addresses ~282M cells around the origin — far beyond any hex grid
    this engine derives; out-of-range packs to NULL, never a wrong id."""
    from pyspark.sql import functions as F

    from . import hexgrid as HG

    out = HG.with_hex_cell(df, size, x=x, y=y)
    for stage in _h3_stages(h3_step_exprs(res)):
        out = out.select(
            "*", *[F.expr(expr).alias(name) for name, expr in stage]
        )
    keep = [c for c in out.columns if not c.startswith(_H3_TMP) or c == "h3_id"]
    out = out.select(*keep)
    if out_col != "h3_id":
        out = out.withColumnRenamed("h3_id", out_col)
    return out


def h3_parent_expr(res_from: int, res_to: int, col: str = "h3_id",
                   dialect: str = "spark") -> str:
    """Parent-cell id at `res_to` from an id at `res_from`, as ONE
    integer expression (H3's hierarchical-containment property): zero
    the digits below the parent resolution, refill them with 7s (a
    3-bit group of 1s IS 7), and adjust the resolution field — all of
    which collapses to ((id >> s) << s) + C with a precomputed
    constant. Spark spells the shifts shiftright/shiftleft, DuckDB
    >>/<< — the VALUES are identical exact int64 arithmetic."""
    if not (0 <= res_to <= res_from <= _MAX_RES):
        raise ValueError("need 0 <= res_to <= res_from <= 15")
    s = 3 * (_MAX_RES - res_to)
    c = ((1 << s) - 1) + ((res_to - res_from) << _RES_OFFSET)
    if dialect == "spark":
        return f"(shiftleft(shiftright({col}, {s}), {s}) + CAST({c} AS BIGINT))"
    return f"((({col}) >> {s}) << {s}) + CAST({c} AS BIGINT)"


def h3_id_subquery_sql(inner_sql: str, res: int = 10) -> str:
    """DuckDB oracle twin of with_h3_id: wraps a subquery that already
    has hex_q/hex_r (hexgrid.hex_cell_subquery_sql) in a nested-select
    chain materializing each walk stage, then drops the intermediate
    _h3* columns."""
    steps = h3_step_exprs(res)
    sql = f"SELECT * FROM ({inner_sql})"
    for stage in _h3_stages(steps):
        cols = ", ".join(f"{expr} AS {name}" for name, expr in stage)
        sql = f"SELECT *, {cols} FROM ({sql})"
    tmp = ", ".join(name for name, _ in steps if name != "h3_id")
    return f"SELECT * EXCLUDE ({tmp}) FROM ({sql})"
