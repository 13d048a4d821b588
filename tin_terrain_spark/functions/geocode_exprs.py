"""Deterministic geocoding + TMS tile-key SQL expression templates.

One source of truth for BOTH engines: each function returns an ANSI-SQL
string that parses identically in Spark SQL and DuckDB, using only
integer multiply/add/mod (the id is reduced mod 2^31 - 1 first, so no
intermediate reaches 2^63 for any BIGINT id) and IEEE-double +,-,*,/
with ceil/floor — every operation is exactly rounded, so Spark and DuckDB
produce bit-identical doubles.

Geocoding (FIXTURES.md §1): pages are placed uniformly in Web-Mercator
meters via two independent 2-round LCG-style hashes of the page id —
i.e. uniform in mercator y ≡ the reference's EPSG:3857 assumption
(SURVEY.md §1.5). The tile key uses the reference's exact pipeline:
meters → pixels at zoom (MercatorProjection.cpp:39-47) → ceil(p/256)-1
(the right/top-edge tie rule, MercatorProjection.cpp:48-56).
"""

from __future__ import annotations

HALF_CIRCUMFERENCE = 20037508.342789243  # reference MercatorProjection.h:31
TILE_SIZE = 256
_MOD = 2147483647  # 2^31 - 1


def dlit(x: float) -> str:
    """Float literal in e-notation: BOTH Spark and DuckDB parse
    exponent literals as DOUBLE (plain decimal-point literals are
    DECIMAL in DuckDB, with different cast/overflow semantics)."""
    return f"{float(x):.17e}"

# (mul1, add1, mul2, add2) per independent uniform stream
_STREAMS = {
    "u1": (2654435761, 1013904223, 1664525, 1013904223),
    "u2": (2246822519, 3266489917, 69069, 362437),
    "u3": (2654435789, 40503, 2246822519, 12345),
}


def u_hash_sql(id_col: str, stream: str) -> str:
    """Uniform [0,1) double from a bigint id — exact integer arithmetic,
    identical in Spark and DuckDB.

    The id is reduced to [0, _MOD) before the first multiply, so every
    BIGINT id hashes without overflow (ANSI mode raises on it): the
    intermediates stay below _MOD * 2654435789 + 2^32 < 2^63. By
    congruence the hash equals the unreduced form for every id that
    form accepted (0 up to ~3.47e9). Both engines' % truncates toward
    zero, so `(r + _MOD) % _MOD` maps a negative id's remainder into
    range too: -1 hashes as _MOD - 1."""
    m1, a1, m2, a2 = _STREAMS[stream]
    r = f"(((CAST({id_col} AS BIGINT) % {_MOD}) + {_MOD}) % {_MOD})"
    return (
        f"(CAST(((({r} * {m1} + {a1}) % {_MOD}) * {m2} + {a2}) % {_MOD} "
        f"AS DOUBLE) / {dlit(_MOD)})"
    )


def mercator_x_sql(id_col: str) -> str:
    """x uniform in [-HC, HC)."""
    return f"({dlit(-HALF_CIRCUMFERENCE)} + {dlit(2.0 * HALF_CIRCUMFERENCE)} * {u_hash_sql(id_col, 'u1')})"


def mercator_y_sql(id_col: str) -> str:
    return f"({dlit(-HALF_CIRCUMFERENCE)} + {dlit(2.0 * HALF_CIRCUMFERENCE)} * {u_hash_sql(id_col, 'u2')})"


def hash_z_sql() -> str:
    """Exact-arithmetic synthetic height of doc_id in [-100, 100) for
    oracle-checked aggregation queries (no transcendentals)."""
    return f"({dlit(-100.0)} + {dlit(200.0)} * {u_hash_sql('doc_id', 'u3')})"


def dem_z_sql() -> str:
    """FIXTURES.md §3 synthetic DEM (smooth + detail bands) of columns
    x, y. Uses sin — only for the meshing path (never
    oracle-value-compared raw)."""
    return (
        "(100.0 * SIN((x) / 5000.0) * SIN((y) / 5000.0) "
        "+ 10.0 * SIN((x) / 700.0) * COS((y) / 900.0))"
    )


def pixels_sql(m_sql: str, zoom: int) -> str:
    """meters → global pixels (MercatorProjection.cpp:39-47): the C++
    computes invRes = 2^z / (2*HC/ts) then (m + HC) * invRes."""
    m_res = 2.0 * HALF_CIRCUMFERENCE / TILE_SIZE
    return f"((({m_sql}) + {dlit(HALF_CIRCUMFERENCE)}) * ({dlit(1 << zoom)} / {dlit(m_res)}))"


def tile_sql(m_sql: str, zoom: int) -> str:
    """meters → tile index with the ceil-1 tie rule
    (MercatorProjection.cpp:48-65)."""
    px = pixels_sql(m_sql, zoom)
    return f"(CAST(CEIL({px} / {dlit(TILE_SIZE)}) AS BIGINT) - 1)"


def cell_sql(m_sql: str, zoom: int, grid_bits: int) -> str:
    """Grid-cell index = tile index at zoom+grid_bits — the per-tile
    raster cell with the same tie rule (grid_n = 2^grid_bits cells per
    tile side)."""
    return tile_sql(m_sql, zoom + grid_bits)


def tile_size_meters(zoom: int) -> float:
    return 2.0 * HALF_CIRCUMFERENCE / (1 << zoom)
