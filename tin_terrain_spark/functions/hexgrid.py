"""H3-style hexagonal cell index over Web-Mercator meters.

The charter names "H3/S2 cells" as the spatial index surface next to
TMS tile keys. This module provides a pure-expression axial-coordinate
hex grid (pointy-top, cube-rounded) — the same indexing discipline as
Uber H3 (hexagonal cells, ring expansion for kNN) without a native
library: every step is IEEE double +,-,*,/ plus SQRT/FLOOR/ABS/CASE,
each exactly rounded, so Spark SQL and DuckDB produce bit-identical
cell ids from the same (x, y).

Math (standard axial hex grid, e.g. Red Blob Games' hexagon pages —
public domain formulas):

  pointy-top, circumradius s (center→corner):
    fq = (sqrt(3)/3 * x - y/3) / s
    fr = (2/3 * y) / s
  cube rounding: round q,r,s=-q-r to nearest ints, then re-derive the
  coordinate with the largest rounding error from the other two so
  q + r + s == 0 stays exact.

  hex distance (axial): (|dq| + |dr| + |dq + dr|) / 2

Scale notes (the reason hex cells exist here): ring-expansion kNN over
hex cells touches ≤ 3R(R+1)+1 cells per query ring — at 10^12 points
the candidate join is an equi/range join against a broadcast query
set, never a crossJoin. Guarantee geometry for resolution: hexes at
hex-distance > R have centers ≥ 1.5·(R+1)·s away (the staircase path
is the minimum), and any point is within s of its own hex center, so
anything outside the ring is farther than (1.5·(R+1) − 2)·s.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from . import geocode_exprs as GX


def hex_frac_sql(x_sql: str, y_sql: str, size: float) -> tuple[str, str]:
    """Fractional axial (fq, fr) SQL for a pointy-top grid with
    circumradius `size` meters. Identical text runs in Spark and
    DuckDB; all ops exactly rounded → bit-identical doubles."""
    s = GX.dlit(size)
    fq = f"(((SQRT(3e0) / 3e0) * ({x_sql}) - ({y_sql}) / 3e0) / {s})"
    fr = f"((({y_sql}) * 2e0 / 3e0) / {s})"
    return fq, fr


# staged cube-rounding templates: applied to columns fq/fr (Spark) or
# WITH-clause fields (DuckDB) so the long expressions are computed once
_RQ0 = "FLOOR(fq + 5e-1)"
_RR0 = "FLOOR(fr + 5e-1)"
_RS0 = "FLOOR((-fq - fr) + 5e-1)"
_DQ = f"ABS({_RQ0} - fq)"
_DR = f"ABS({_RR0} - fr)"
_DS = f"ABS({_RS0} - (-fq - fr))"
HEX_Q_FROM_FRAC = (
    f"CAST(CASE WHEN {_DQ} > {_DR} AND {_DQ} > {_DS} "
    f"THEN -({_RR0}) - ({_RS0}) ELSE {_RQ0} END AS BIGINT)"
)
HEX_R_FROM_FRAC = (
    f"CAST(CASE WHEN NOT ({_DQ} > {_DR} AND {_DQ} > {_DS}) AND {_DR} > {_DS} "
    f"THEN -({_RQ0}) - ({_RS0}) ELSE {_RR0} END AS BIGINT)"
)


def with_hex_cell(df: DataFrame, size: float, x: str = "x", y: str = "y",
                  q_col: str = "hex_q", r_col: str = "hex_r") -> DataFrame:
    """Append axial hex cell ids (two BIGINT columns) to a DataFrame
    with meter coordinates. Pure Column expressions — JVM-side,
    codegen-friendly, no UDF."""
    fq, fr = hex_frac_sql(x, y, size)
    staged = df.withColumn("fq", F.expr(fq)).withColumn("fr", F.expr(fr))
    return (
        staged.withColumn(q_col, F.expr(HEX_Q_FROM_FRAC))
        .withColumn(r_col, F.expr(HEX_R_FROM_FRAC))
        .drop("fq", "fr")
    )


def hex_ring_guarantee_m(ring: int, size: float) -> float:
    """Euclidean distance below which NOTHING outside hex-ring `ring`
    can lie (see module docstring geometry)."""
    return max(0.0, (1.5 * (ring + 1) - 2.0) * size)
