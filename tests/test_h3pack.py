"""H3 index bit layout + aperture-7 digit encoding (functions/h3pack.py).

Layout fields are pinned against a well-known PUBLIC H3 id from the
spec examples (the res-9 cell containing downtown San Francisco,
"8928308280fffff"), hand-decoded per the published bit layout — a
layout bug here cannot cancel out, since the expected fields are
literal. The aperture-7 digit algebra is checked by exhaustive
roundtrip over an axial neighborhood plus parent/child digit-prefix
consistency; the vectorized NumPy batch path must equal the scalar
path bit-for-bit."""

from __future__ import annotations

import numpy as np
import pytest

from tin_terrain_spark.functions import h3pack as H


# "8928308280fffff": public example id (res-9 SF cell). Hand-decoded
# fields per the spec layout: reserved(1)=0 | mode(4)=1 | reserved(3)=0
# | res(4)=9 | base cell(7)=20 | digits 0,6,0,4,0,5,0,0,3 | unused=7
SF_ID = 0x8928308280FFFFF
SF_FIELDS = {"mode": 1, "res": 9, "base_cell": 20,
             "digits": [0, 6, 0, 4, 0, 5, 0, 0, 3]}


def test_unpack_public_id():
    assert H.unpack_h3(SF_ID) == SF_FIELDS
    assert H.h3_is_valid(SF_ID)


def test_pack_roundtrips_public_id():
    f = SF_FIELDS
    assert H.pack_h3(f["res"], f["base_cell"], f["digits"]) == SF_ID


def test_parent_truncation():
    p = H.h3_to_parent(SF_ID, 4)
    f = H.unpack_h3(p)
    assert f["res"] == 4
    assert f["base_cell"] == 20
    assert f["digits"] == SF_FIELDS["digits"][:4]
    assert H.h3_is_valid(p)
    # unused digit slots read back as 7
    assert all((p >> (3 * (15 - r))) & 7 == 7 for r in range(5, 16))


def test_validity_rejections():
    assert not H.h3_is_valid(SF_ID | (1 << 63))          # high bit
    assert not H.h3_is_valid(SF_ID & ~(0xF << 59))       # mode 0
    assert not H.h3_is_valid(SF_ID | (0x7 << 56))        # reserved bits
    # digit past the resolution not 7
    assert not H.h3_is_valid(SF_ID & ~np.uint64(0x7).item())
    # pentagon rule: only the LEADING non-center digit may not be K
    assert not H.h3_is_valid(H.pack_h3(2, 4, [1, 0]))   # leads with K
    assert not H.h3_is_valid(H.pack_h3(3, 4, [0, 1, 2]))  # zeros then K
    assert H.h3_is_valid(H.pack_h3(2, 4, [2, 1]))       # deep K is legal
    assert H.h3_is_valid(H.pack_h3(2, 4, [2, 0]))


def test_axial_roundtrip_exhaustive():
    for q in range(-40, 41, 5):
        for r in range(-40, 41, 5):
            h = H.h3_from_axial(q, r)
            assert H.h3_is_valid(h), (q, r)
            assert H.axial_from_h3(h) == (q, r)
    # distinct cells -> distinct ids
    ids = {H.h3_from_axial(q, r) for q in range(-10, 11) for r in range(-10, 11)}
    assert len(ids) == 21 * 21


def test_axial_roundtrip_at_lower_res():
    for q, r in [(0, 0), (3, -2), (-7, 11), (100, -100)]:
        h = H.h3_from_axial(q, r, res=10)
        assert H.unpack_h3(h)["res"] == 10
        assert H.axial_from_h3(h) == (q, r)


def test_out_of_range_is_loud():
    with pytest.raises(ValueError):
        H.h3_from_axial(10**9, 0, res=6)  # 6 digit levels can't hold it


def test_np_batch_equals_scalar():
    rng = np.random.RandomState(42)
    q = rng.randint(-3000, 3000, size=500)
    r = rng.randint(-3000, 3000, size=500)
    batch = H.h3_from_axial_np(q, r)
    for i in range(len(q)):
        assert batch[i] == H.h3_from_axial(int(q[i]), int(r[i])), (q[i], r[i])


def test_sql_walk_equals_numpy():
    """The generated SQL twin of the aperture-7 walk (pure integer
    algebra, runnable in Spark and DuckDB from the same text) must
    produce the same packed ids as the NumPy reference — checked in
    DuckDB over a coordinate sweep, including NULL for out-of-range."""
    import duckdb

    rng = np.random.RandomState(9)
    q = np.concatenate([rng.randint(-2000, 2000, 300), [0, 1, -1, 4000]])
    r = np.concatenate([rng.randint(-2000, 2000, 300), [0, -1, 1, -4000]])
    con = duckdb.connect()
    con.execute("CREATE TABLE cells (hex_q BIGINT, hex_r BIGINT)")
    con.executemany(
        "INSERT INTO cells VALUES (?, ?)", [(int(a), int(b)) for a, b in zip(q, r)]
    )
    sql = H.h3_id_subquery_sql("SELECT * FROM cells", res=10)
    got = con.execute(f"SELECT hex_q, hex_r, h3_id FROM ({sql})").fetchall()
    assert len(got) == len(q)
    for hq, hr, hid in got:
        try:
            expect = H.h3_from_axial(hq, hr, res=10)
        except ValueError:
            expect = None
        assert hid == expect, (hq, hr, hid, expect)
    # intermediate columns are dropped
    cols = [d[0] for d in con.execute(f"SELECT * FROM ({sql}) LIMIT 1").description]
    assert not any(c.startswith("_h3") for c in cols)


def test_parent_expr_equals_python():
    """The one-expression SQL parent (digit-mask arithmetic) must equal
    h3_to_parent for ids across resolutions — checked in DuckDB."""
    import duckdb

    ids = [H.h3_from_axial(q, r, res=7) for q, r in
           [(0, 0), (5, -3), (-40, 17), (123, -85), (1, 1)]]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (h3_id BIGINT)")
    con.executemany("INSERT INTO t VALUES (?)", [(i,) for i in ids])
    expr = H.h3_parent_expr(7, 4, "h3_id", dialect="duckdb")
    got = [r[0] for r in con.execute(f"SELECT {expr} FROM t").fetchall()]
    expect = [H.h3_to_parent(i, 4) for i in ids]
    assert got == expect
    for p in expect:
        assert H.h3_is_valid(p) and H.unpack_h3(p)["res"] == 4


def test_parent_equals_coarse_walk():
    """Truncating digits must equal encoding the aperture-7 parent
    coordinate directly at the coarser resolution (the walk is
    deterministic level-by-level)."""
    for q, r in [(5, -3), (-17, 8), (123, 456)]:
        i, j, k = H._normalize(q, r, 0)
        # step up from res 15 to res 11 the way the encoder does
        for rr in range(15, 11, -1):
            if H._is_class_iii(rr):
                i, j, k = H._up_ap7(i, j, k)
            else:
                i, j, k = H._up_ap7r(i, j, k)
        parent_axial = (i - k, j - k)
        direct = H.h3_from_axial(parent_axial[0], parent_axial[1], res=11)
        truncated = H.h3_to_parent(H.h3_from_axial(q, r), 11)
        assert direct == truncated
