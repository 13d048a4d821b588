"""Global icosahedral H3 grid: derived base-cell tables (h3base) +
global encode/decode (h3geo.geo_to_h3 / h3_to_geo).

The grid is ENGINE-CANONICAL (see h3base docstring): ids are
structurally library-true — valid per the spec's isValidCell, correct
cell censuses 2 + 120*7^res, pentagons in the library pentagon id
slots, no K-leading pentagon children — but the arbitrary numbering
does not match the real h3 library's, which only its published
constants fix. geo_to_h3 runs the NumPy kernel tested here; no other
global encode ships.

Reference semantics: the base-cell lookup mirrors h3lib's
faceIjkBaseCells (total over all (face, i<=2, j<=2, k<=2) positions,
including chart-extension "overage" entries) and the pentagon
deleted-subsequence scheme mirrors h3lib's lead-5-subtree rotation
(_h3ToFaceIjk); both derived numerically from the projection
geometry, not copied tables.
"""

from __future__ import annotations

import numpy as np
import pytest

from tin_terrain_spark.functions import h3base, h3geo as G
from tin_terrain_spark.functions.h3pack import (
    _PENTAGONS,
    h3_is_valid,
    pack_h3_np,
    unpack_h3_np,
)


@pytest.fixture(scope="module")
def tables():
    return h3base.derive_base_cells()


def _all_ids(tables, res: int) -> np.ndarray:
    """Every valid cell id at `res`: all digit strings per base cell,
    minus K-leading strings under pentagons."""
    if res == 0:
        return pack_h3_np(
            0, np.arange(122, dtype=np.int64), np.zeros((122, 0), np.int8)
        )
    combos = (
        np.stack(np.meshgrid(*[np.arange(7)] * res, indexing="ij"), axis=-1)
        .reshape(-1, res)
        .astype(np.int8)
    )
    nz = combos != 0
    lead = np.where(
        nz.any(1), combos[np.arange(len(combos)), np.argmax(nz, 1)], 0
    )
    out = []
    for bc in range(122):
        d = combos[lead != 1] if tables.bc_is_pentagon[bc] else combos
        out.append(pack_h3_np(res, np.full(len(d), bc, np.int64), d))
    return np.concatenate(out)


def test_derivation_structure(tables):
    # census: 80 interior hexagons, 30 edge hexagons, 12 pentagons
    sizes = sorted(len(f) for f in tables.bc_faces)
    assert sizes.count(1) == 80 and sizes.count(2) == 30
    assert sizes.count(5) == 12
    # pentagons occupy exactly the library pentagon id slots
    assert sorted(np.nonzero(tables.bc_is_pentagon)[0].tolist()) == sorted(
        _PENTAGONS
    )
    # the lookup is TOTAL over reachable positions: 200 own + 180
    # chart-extension (overage) entries = 380 (the other 160 of 540
    # have a nonzero minimum coordinate and cannot be walk results)
    assert int((tables.lookup_bc >= 0).sum()) == 380
    # every base cell id used exactly by its cluster
    assert sorted(set(tables.lookup_bc[tables.lookup_bc >= 0].tolist())) == \
        list(range(122))


def test_derivation_deterministic(tables):
    h3base.derive_base_cells.cache_clear()
    t2 = h3base.derive_base_cells()
    np.testing.assert_array_equal(tables.lookup_bc, t2.lookup_bc)
    np.testing.assert_array_equal(tables.lookup_rot, t2.lookup_rot)
    np.testing.assert_array_equal(tables.bc_home_face, t2.bc_home_face)
    np.testing.assert_array_equal(tables.bc_center, t2.bc_center)


def test_missing_artifact_raises(monkeypatch):
    """Without the frozen artifact the tables are not derived
    numerically in its place: that derivation can flip lookup_rot
    entries across hosts, so ids would change without notice."""
    monkeypatch.setattr(h3base, "_TABLES_ARTIFACT", "no_such_tables.json")
    with pytest.raises(FileNotFoundError):
        h3base.derive_base_cells.__wrapped__()


@pytest.mark.parametrize("res", [0, 1, 2, 3])
def test_exhaustive_center_roundtrip_and_census(tables, res):
    """THE invariant: every valid cell's decoded center re-encodes to
    the same id. Zero mismatches also proves the census (2+120*7^res
    distinct non-empty cells) and center distinctness: if two ids
    shared a center, at most one could survive the roundtrip."""
    ids = _all_ids(tables, res)
    assert len(ids) == 2 + 120 * 7**res
    lat, lng = G.h3_to_geo(ids)
    assert np.isfinite(lat).all() and np.isfinite(lng).all()
    back = G.geo_to_h3(lat, lng, res)
    assert (back == ids).all()


@pytest.mark.parametrize("res", [5, 9, 15])
def test_random_point_partition_consistency(tables, res):
    """enc(dec(enc(p))) == enc(p): the partition and the centers agree
    at arbitrary points, including near face folds and pentagons."""
    rng = np.random.default_rng(7)
    n = 30_000
    lat = np.arcsin(rng.uniform(-1, 1, n))
    lng = rng.uniform(-np.pi, np.pi, n)
    h = G.geo_to_h3(lat, lng, res)
    clat, clng = G.h3_to_geo(h)
    h2 = G.geo_to_h3(clat, clng, res)
    assert (h == h2).all()
    # the assigned cell is nearby: a few fine-cell spacings normally
    # (~0.55/sqrt(7)^res rad each); points inside one of the 12
    # pentagonal defect lenses (~0.03% of the sphere, where the five
    # chart lattices all disagree) are settled to the nearest real
    # cell, bounded by the lens size (~0.007 rad, measured 2x margin)
    d = np.arccos(np.clip(
        np.sin(lat) * np.sin(clat)
        + np.cos(lat) * np.cos(clat) * np.cos(lng - clng), -1, 1))
    assert float(d.max()) < max(4.0 * 0.55 / (7 ** (res / 2)), 0.015)


def test_ids_are_spec_valid(tables):
    rng = np.random.default_rng(11)
    n = 5_000
    lat = np.arcsin(rng.uniform(-1, 1, n))
    lng = rng.uniform(-np.pi, np.pi, n)
    for res in (0, 3, 8):
        h = G.geo_to_h3(lat, lng, res)
        rr, bb, dd = unpack_h3_np(h)
        assert (rr == res).all()
        assert (bb <= 121).all() and (bb >= 0).all()
        # spot-check the scalar validator on a sample
        for v in h[:200]:
            assert h3_is_valid(int(v))


def test_pentagons_have_six_children(tables):
    """Aperture-7 children of a pentagon: center + 5 directions (the
    K direction is the deleted subsequence) — each child's center maps
    back to a distinct child id with the pentagon as parent prefix."""
    for bc in sorted(_PENTAGONS)[:3]:
        kids = np.array(
            [pack_h3_np(1, np.array([bc]), np.array([[d]], np.int8))[0]
             for d in (0, 2, 3, 4, 5, 6)]
        )
        la, lo = G.h3_to_geo(kids)
        back = G.geo_to_h3(la, lo, 1)
        assert (back == kids).all()
        assert len(set(back.tolist())) == 6


def test_mixed_resolution_decode_rejected(tables):
    a = G.geo_to_h3(np.array([0.3]), np.array([0.4]), 3)
    b = G.geo_to_h3(np.array([0.3]), np.array([0.4]), 4)
    with pytest.raises(ValueError, match="mixed"):
        G.h3_to_geo(np.concatenate([a, b]))


def test_parent_truncation_mostly_contains_children(tables):
    """Digit truncation is the hierarchy; child centers re-encode at
    the parent res to the truncated parent for the overwhelming
    majority (aperture-7 children wander slightly outside the parent
    hull — a bounded, well-known property, NOT an error)."""
    rng = np.random.default_rng(3)
    n = 20_000
    lat = np.arcsin(rng.uniform(-1, 1, n))
    lng = rng.uniform(-np.pi, np.pi, n)
    res = 6
    h = G.geo_to_h3(lat, lng, res)
    clat, clng = G.h3_to_geo(h)
    hp = G.geo_to_h3(clat, clng, res - 1)
    # truncated parent of h
    mask = np.int64(~np.int64(0x7 << (3 * (15 - res))))
    trunc = (h & mask) | np.int64(0x7 << (3 * (15 - res)))
    trunc = (trunc & ~np.int64(0xF << 52)) | np.int64((res - 1) << 52)
    agree = float((hp == trunc).mean())
    assert agree > 0.85, agree
