"""pages → geocoded points: the relational spine (SURVEY.md §7 step 3).

Input: any table with a stable bigint page id (the driver's `documents`
table stands in for the Common-Crawl pages table; `url` is synthesized
1:1 from doc_id per FIXTURES.md §1). Output columns are all computed
with JVM-side Column expressions (no Python), generated from the same
SQL templates the DuckDB oracle uses, so tile assignment is
bit-reproducible across engines.

Operators realized here: P1-P7 (projection), J1 (point→tile equi-key),
F5/F6 (validity filters are a no-op for synthetic geocode but kept for
the pages path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions import geocode_exprs as GX


def geocode_points(
    df: DataFrame,
    zoom: int = 3,
    grid_bits: int = 5,
    with_dem_z: bool = True,
) -> DataFrame:
    """Attach to each doc_id (x, y) mercator meters, synthetic z, tile
    and grid-cell keys at `zoom`. grid_n = 2^grid_bits cells per tile side; the cell
    key is simply the tile key at zoom+grid_bits (same ceil-1 tie
    rule), so cell→tile is a bit shift."""
    out = (
        df.withColumn("x", F.expr(GX.mercator_x_sql("doc_id")))
        .withColumn("y", F.expr(GX.mercator_y_sql("doc_id")))
        .withColumn("z_h", F.expr(GX.hash_z_sql()))
        .withColumn("tile_x", F.expr(GX.tile_sql("x", zoom)))
        .withColumn("tile_y", F.expr(GX.tile_sql("y", zoom)))
        .withColumn("cell_x", F.expr(GX.cell_sql("x", zoom, grid_bits)))
        .withColumn("cell_y", F.expr(GX.cell_sql("y", zoom, grid_bits)))
    )
    if with_dem_z:
        out = out.withColumn("z", F.expr(GX.dem_z_sql()))
    return out
