"""Query registry: the driver-facing operator catalog.

Each entry pairs a Spark DataFrame builder with (where SQL-expressible)
an equivalent DuckDB oracle SQL string. Both sides are generated from
the SAME SQL templates (functions/geocode_exprs.py), so tile keys,
hashes, and coordinates are bit-identical across engines; aggregate
doubles are rounded to 6 decimals on both sides to absorb
summation-order ULPs.

Column-name contract: every computed column is aliased identically in
the Spark plan and the oracle SQL (the driver hashes values after
sorting columns by name).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from .functions import geocode_exprs as GX
from .operators.geocode import geocode_points
from .operators.meshing import mesh_tiles

ZOOM = 3
GRID_BITS = 5
# q_vertex_dedup's id buckets span 2^16 doc ids, so hold at most 65,536 cells
VERTEX_BUCKET_BITS = 16


# Size gate for spread="auto": spread only when the input carries
# enough WORK that the single-partition map time dwarfs the exchange's
# fixed cost. Paired same-window A/B at sf0.1 (5k docs: spread costs
# 0.05–0.43 s on these consumers) vs sf1.0 (50k docs: spread wins
# 0.3–8 s) puts the break-even between those scales; 16k rows sits a
# 3x margin from both measured points. The primary signals come from
# the parquet FOOTER (row count, uncompressed bytes — instant local
# metadata, no Spark job): compressed file size under-counts
# duplicate-heavy corpora (a 25k-doc 5x-replicated probe compressed
# to 0.82 MB yet ran 4.8 s single-partition), and web corpora are
# exactly the dup-heavy case. Uncompressed bytes (8 MiB) catch
# few-but-huge-doc corpora the row gate would miss. Compressed file
# size (1 MiB) is the fallback when no footer is readable.
_SPREAD_MIN_ROWS = 16 * 1024
_SPREAD_MIN_UBYTES = 8 * 1024 * 1024
_SPREAD_MIN_BYTES = 1024 * 1024


def _spread_pays(path: str) -> bool:
    """True when the input is big enough for the scan spread to pay.
    Non-local / multi-file inputs (directories, object stores) return
    True: those are the cluster-scale layouts where the repartition is
    a cheap rebalance of already-split input, never a regression."""
    try:
        if not os.path.isfile(path):
            return True
    except OSError:
        return True
    try:
        import pyarrow.parquet as pq

        meta = pq.ParquetFile(path).metadata
        unc = sum(
            meta.row_group(i).total_byte_size
            for i in range(meta.num_row_groups)
        )
        return meta.num_rows >= _SPREAD_MIN_ROWS or unc >= _SPREAD_MIN_UBYTES
    except Exception:  # noqa: BLE001 — unreadable footer: coarse fallback
        try:
            return os.path.getsize(path) >= _SPREAD_MIN_BYTES
        except OSError:
            return True


def _docs(spark: SparkSession, sf_dir: str,
          spread: bool | str = True) -> DataFrame:
    """documents table; spread=True repartitions it across the
    session's cores.

    The test-scale documents.parquet is one small single-row-group
    file, so the scan yields ONE partition and everything upstream of
    the first shuffle — shingle explodes, md5 hashing, Arrow/Python
    map stages — runs on one core out of 32 (measured: main_text 9.3 s
    at sf1.0, ≈ 50k docs x 0.2 ms single-threaded). One cheap exchange
    of the tiny rows here (hash on doc_id: deterministic, no
    sort-before-repartition) unlocks the full map-side parallelism for
    every consumer (guide §2.5 "input skew: one unsplittable file —
    repartition immediately after the read"). At cluster scale the
    input arrives in many splits and the same repartition is a cheap
    rebalance sized by spark.default.parallelism.

    spread=False keeps the raw scan for consumers whose map-side work
    is trivial (small aggregations, broadcast-join probes) or that
    repartition internally anyway (mesh_tiles, knn_*): for those the
    exchange is pure overhead — measured +0.1–0.3 s per query at both
    SFs with no win to offset it.

    spread="auto" sizes the decision from the input (guide §2: derive
    partitioning from input size, not a constant tuned to one scale):
    spread iff the parquet footer reports ≥ _SPREAD_MIN_ROWS rows or
    ≥ _SPREAD_MIN_UBYTES uncompressed bytes (file-size fallback when
    no footer). For the mid-tier consumers flipped to "auto" the
    paired A/B showed the exchange LOSES at sf0.1 (−0.05..−0.43 s
    each) and WINS at sf1.0, so the raw scan is kept exactly where it
    is the faster plan. Result rows are identical either way (a
    repartition reorders, never edits)."""
    if isinstance(spread, str):
        if spread != "auto":
            raise ValueError(f"spread must be True, False or 'auto', not {spread!r}")
        spread = _spread_pays(f"{sf_dir}/documents.parquet")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if not spread:
        return docs
    return docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")


def _points_sql(zoom: int = ZOOM) -> str:
    """Shared oracle subquery: geocoded documents."""
    x = GX.mercator_x_sql("doc_id")
    y = GX.mercator_y_sql("doc_id")
    return f"""
      SELECT doc_id, lang,
             {x} AS x, {y} AS y,
             {GX.hash_z_sql()} AS z_h,
             {GX.tile_sql(x, zoom)} AS tile_x,
             {GX.tile_sql(y, zoom)} AS tile_y,
             {GX.cell_sql(x, zoom, GRID_BITS)} AS cell_x,
             {GX.cell_sql(y, zoom, GRID_BITS)} AS cell_y
      FROM documents
    """


# --------------------------------------------------------------------------
# P1-P7 + J1: geocode & tile assignment
# --------------------------------------------------------------------------


def q_geocode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geocoded points with tile keys — P1/P3/P4/P5 + J1 equi-key."""
    pts = geocode_points(_docs(spark, sf_dir, spread=False), zoom=ZOOM, grid_bits=GRID_BITS, with_dem_z=False)
    return pts.select("doc_id", "x", "y", "tile_x", "tile_y", "cell_x", "cell_y")


SQL_GEOCODE = f"""
  SELECT doc_id, x, y, tile_x, tile_y, cell_x, cell_y
  FROM ({_points_sql()})
"""


def q_tile_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tile doc counts + 3D bbox agg (A2/A3) at zoom {ZOOM}."""
    pts = geocode_points(_docs(spark, sf_dir, spread=False), zoom=ZOOM, grid_bits=GRID_BITS, with_dem_z=False)
    return pts.groupBy("tile_x", "tile_y").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.min("x"), 6).alias("min_x"),
        F.round(F.max("x"), 6).alias("max_x"),
        F.round(F.min("y"), 6).alias("min_y"),
        F.round(F.max("y"), 6).alias("max_y"),
        F.round(F.min("z_h"), 6).alias("min_z"),
        F.round(F.max("z_h"), 6).alias("max_z"),
    )


SQL_TILE_COUNTS = f"""
  SELECT tile_x, tile_y, count(*) AS n_docs,
         round(min(x), 6) AS min_x, round(max(x), 6) AS max_x,
         round(min(y), 6) AS min_y, round(max(y), 6) AS max_y,
         round(min(z_h), 6) AS min_z, round(max(z_h), 6) AS max_z
  FROM ({_points_sql()})
  GROUP BY tile_x, tile_y
"""


def _tile_min_sql(t_sql: str) -> str:
    """tile index at ZOOM → min meters coordinate (TileBounds,
    MercatorProjection.cpp:76-80 via PixelsToMeters :30-37)."""
    res = 2.0 * GX.HALF_CIRCUMFERENCE / GX.TILE_SIZE / (1 << ZOOM)
    # the trailing `+ 0e0` normalizes IEEE -0.0 to 0.0 so both engines
    # serialize the tile-corner-at-origin case identically
    return (f"(((({t_sql}) * {GX.dlit(GX.TILE_SIZE)}) * {GX.dlit(res)} "
            f"- {GX.dlit(GX.HALF_CIRCUMFERENCE)}) + 0e0)")


def q_tile_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 TileBounds: distinct occupied tiles → meters bbox."""
    pts = geocode_points(_docs(spark, sf_dir, spread=False), zoom=ZOOM, grid_bits=GRID_BITS, with_dem_z=False)
    t = pts.select("tile_x", "tile_y").distinct()
    return (
        t.withColumn("bound_min_x", F.expr(_tile_min_sql("tile_x")))
        .withColumn("bound_min_y", F.expr(_tile_min_sql("tile_y")))
        .withColumn("bound_max_x", F.expr(_tile_min_sql("tile_x + 1")))
        .withColumn("bound_max_y", F.expr(_tile_min_sql("tile_y + 1")))
    )


SQL_TILE_BOUNDS = f"""
  SELECT tile_x, tile_y,
         {_tile_min_sql('tile_x')} AS bound_min_x,
         {_tile_min_sql('tile_y')} AS bound_min_y,
         {_tile_min_sql('tile_x + 1')} AS bound_max_x,
         {_tile_min_sql('tile_y + 1')} AS bound_max_y
  FROM (SELECT DISTINCT tile_x, tile_y FROM ({_points_sql()}))
"""


def q_zoom_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y1/Y2 analogue: occupied-tile counts per zoom 0..6 (each zoom's
    tile key derived by the same ceil-1 rule; one scan, no loop)."""
    docs = _docs(spark, sf_dir, spread=False)
    df = docs.select(
        "doc_id",
        F.expr(GX.mercator_x_sql("doc_id")).alias("x"),
        F.expr(GX.mercator_y_sql("doc_id")).alias("y"),
    )
    per_zoom = None
    for z in range(0, 7):
        zdf = df.select(
            F.lit(z).alias("zoom"),
            F.expr(GX.tile_sql("x", z)).alias("tx"),
            F.expr(GX.tile_sql("y", z)).alias("ty"),
        )
        per_zoom = zdf if per_zoom is None else per_zoom.unionAll(zdf)
    return per_zoom.groupBy("zoom").agg(
        F.countDistinct("tx", "ty").alias("n_tiles"),
        F.count(F.lit(1)).alias("n_points"),
    )


def _sql_zoom_pyramid() -> str:
    parts = []
    for z in range(0, 7):
        x = GX.mercator_x_sql("doc_id")
        y = GX.mercator_y_sql("doc_id")
        parts.append(
            f"SELECT {z} AS zoom, {GX.tile_sql(x, z)} AS tx, {GX.tile_sql(y, z)} AS ty FROM documents"
        )
    u = " UNION ALL ".join(parts)
    return f"""
      SELECT zoom, count(DISTINCT (tx, ty)) AS n_tiles, count(*) AS n_points
      FROM ({u}) GROUP BY zoom
    """


SQL_ZOOM_PYRAMID = _sql_zoom_pyramid()


# --------------------------------------------------------------------------
# A1: grid-cell aggregation + downsample
# --------------------------------------------------------------------------


def q_grid_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(tile,cell) aggregation — the SurfacePoints::to_raster
    analogue feeding the mesh kernels (rounded for oracle compare)."""
    pts = geocode_points(_docs(spark, sf_dir, spread=False), zoom=ZOOM, grid_bits=GRID_BITS, with_dem_z=False)
    return pts.groupBy("tile_x", "tile_y", "cell_x", "cell_y").agg(
        F.count(F.lit(1)).alias("n_pts"),
        F.round(F.avg("z_h"), 6).alias("z_avg"),
    )


SQL_GRID_CELLS = f"""
  SELECT tile_x, tile_y, cell_x, cell_y,
         count(*) AS n_pts, round(avg(z_h), 6) AS z_avg
  FROM ({_points_sql()})
  GROUP BY tile_x, tile_y, cell_x, cell_y
"""


def q_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 integer_downsample_mean as a distributed agg over the cell
    grid (window=2), reproducing the reference's sum>0-guard quirk
    (raster_tools.cpp:50-55): windows with non-positive sums keep ndv
    (represented as NULL here)."""
    cells = q_grid_cells(spark, sf_dir).withColumnRenamed("z_avg", "z")
    # NOTE: FLOOR before the cast — DuckDB's double→bigint CAST rounds
    # half-up while Spark truncates; FLOOR makes both engines identical
    ds = cells.groupBy(
        F.floor(F.col("cell_x") / 2).cast("bigint").alias("ds_x"),
        F.floor(F.col("cell_y") / 2).cast("bigint").alias("ds_y"),
    ).agg(
        F.sum("z").alias("z_sum"),
        F.count(F.lit(1)).alias("n_cells"),
    )
    return ds.select(
        "ds_x",
        "ds_y",
        "n_cells",
        F.when(F.col("z_sum") > 0, F.round(F.col("z_sum") / F.col("n_cells"), 6)).alias("z_ds"),
    )


SQL_DOWNSAMPLE = f"""
  WITH cells AS (
    SELECT tile_x, tile_y, cell_x, cell_y,
           count(*) AS n_pts, round(avg(z_h), 6) AS z
    FROM ({_points_sql()})
    GROUP BY tile_x, tile_y, cell_x, cell_y
  ), ds AS (
    SELECT CAST(FLOOR(cell_x / 2) AS BIGINT) AS ds_x, CAST(FLOOR(cell_y / 2) AS BIGINT) AS ds_y,
           sum(z) AS z_sum, count(*) AS n_cells
    FROM cells GROUP BY 1, 2
  )
  SELECT ds_x, ds_y, n_cells,
         CASE WHEN z_sum > 0 THEN round(z_sum / n_cells, 6) END AS z_ds
  FROM ds
"""


# --------------------------------------------------------------------------
# A4/A5 + J3: raster↔raster error-stats join
# --------------------------------------------------------------------------


def q_error_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 + A4/A5: align two z fields on the cell grid (inner join on
    both-valid), per-tile mean/σ(pop)/max-abs/RMS — Welford ≡ stddev_pop
    (Mesh2Raster.cpp:351-491)."""
    pts = geocode_points(_docs(spark, sf_dir, spread=False), zoom=ZOOM, grid_bits=GRID_BITS, with_dem_z=False)
    # two "rasters": z_h from hash stream u3, z2 = shifted variant
    pts = pts.withColumn("z2", F.col("z_h") * 0.75 + 3.0)
    cells = pts.groupBy("tile_x", "tile_y", "cell_x", "cell_y").agg(
        F.avg("z_h").alias("za"), F.avg("z2").alias("zb")
    )
    d = cells.withColumn("d", F.col("za") - F.col("zb"))
    return d.groupBy("tile_x", "tile_y").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("d"), 6).alias("mean_err"),
        F.round(F.stddev_pop("d"), 6).alias("std_err"),
        F.round(F.max(F.abs(F.col("d"))), 6).alias("max_abs_err"),
        F.round(F.sqrt(F.avg(F.col("d") * F.col("d"))), 6).alias("rms_err"),
    )


SQL_ERROR_STATS = f"""
  WITH cells AS (
    SELECT tile_x, tile_y, cell_x, cell_y,
           avg(z_h) AS za, avg(z_h * 0.75 + 3.0) AS zb
    FROM ({_points_sql()})
    GROUP BY tile_x, tile_y, cell_x, cell_y
  )
  SELECT tile_x, tile_y, count(*) AS n,
         round(avg(za - zb), 6) AS mean_err,
         round(stddev_pop(za - zb), 6) AS std_err,
         round(max(abs(za - zb)), 6) AS max_abs_err,
         round(sqrt(avg((za - zb) * (za - zb))), 6) AS rms_err
  FROM cells GROUP BY tile_x, tile_y
"""


# --------------------------------------------------------------------------
# A8/A9: distinct-vertex dedup + canonical edge count
# --------------------------------------------------------------------------


def q_edge_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: distinct canonicalized (min,max) edge count — computed over a
    synthetic faces table derived from lineitem keys
    (calculate_num_edges, MeshIO.cpp:311-324)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    edges = li.select(
        F.least("l_partkey", "l_suppkey").alias("e_lo"),
        F.greatest("l_partkey", "l_suppkey").alias("e_hi"),
    )
    return edges.distinct().groupBy().agg(F.count(F.lit(1)).alias("n_edges"))


SQL_EDGE_COUNT = """
  SELECT count(*) AS n_edges FROM (
    SELECT DISTINCT least(l_partkey, l_suppkey) AS e_lo,
                    greatest(l_partkey, l_suppkey) AS e_hi
    FROM lineitem
  )
"""


def q_vertex_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: distinct-vertex dedup + dense first-seen index
    (Mesh::generate_decomposed, Mesh.cpp:107-143).

    The dense id is assigned in two phases so no stage sorts the full
    vertex set in one task (the naive `row_number() OVER (ORDER BY
    first_doc)` forces a single-partition exchange). Each cell goes to
    the bucket `first_doc >> VERTEX_BUCKET_BITS`: (1) rank the cells
    within their bucket, (2) add the count of cells in lower buckets,
    a running sum over one row per non-empty bucket, via a broadcast
    join. The bucket is monotone in first_doc and first_doc is unique
    (each doc lands in exactly one cell), so the ids equal the global
    window's, whatever the partitioning, and no bucket holds more than
    2^VERTEX_BUCKET_BITS cells. A bucket read from
    spark_partition_id() of a range exchange does not give that: the
    plan reads the exchange twice, and the two reads may disagree."""
    pts = geocode_points(_docs(spark, sf_dir, spread=False), zoom=ZOOM, grid_bits=GRID_BITS, with_dem_z=False)
    from pyspark.sql import Window as W

    firsts = (
        pts.groupBy("cell_x", "cell_y")
        .agg(F.min("doc_id").alias("first_doc"))
        .withColumn("_b", F.shiftright("first_doc", VERTEX_BUCKET_BITS))
    )
    local = firsts.withColumn(
        "_rn", F.row_number().over(W.partitionBy("_b").orderBy("first_doc"))
    )
    offsets = (
        firsts.groupBy("_b")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .withColumn(
            "_off",
            F.coalesce(
                F.sum("_cnt").over(
                    W.orderBy("_b").rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("_b", "_off")
    )
    return (
        local.join(F.broadcast(offsets), "_b")
        .withColumn("vertex_id", (F.col("_rn") + F.col("_off") - 1).cast("int"))
        .select("cell_x", "cell_y", "first_doc", "vertex_id")
    )


SQL_VERTEX_DEDUP = f"""
  SELECT cell_x, cell_y, first_doc,
         CAST(row_number() OVER (ORDER BY first_doc) - 1 AS BIGINT) AS vertex_id
  FROM (
    SELECT cell_x, cell_y, min(doc_id) AS first_doc
    FROM ({_points_sql()})
    GROUP BY cell_x, cell_y
  )
"""


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

QUERIES = {
    "geocode": q_geocode,
    "tile_counts": q_tile_counts,
    "tile_bounds": q_tile_bounds,
    "zoom_pyramid": q_zoom_pyramid,
    "grid_cells": q_grid_cells,
    "downsample": q_downsample,
    "error_stats": q_error_stats,
    "edge_count": q_edge_count,
    "vertex_dedup": q_vertex_dedup,
}

ORACLES = {
    "geocode": SQL_GEOCODE,
    "tile_counts": SQL_TILE_COUNTS,
    "tile_bounds": SQL_TILE_BOUNDS,
    "zoom_pyramid": SQL_ZOOM_PYRAMID,
    "grid_cells": SQL_GRID_CELLS,
    "downsample": SQL_DOWNSAMPLE,
    "error_stats": SQL_ERROR_STATS,
    "edge_count": SQL_EDGE_COUNT,
    "vertex_dedup": SQL_VERTEX_DEDUP,
}


# --------------------------------------------------------------------------
# non-SQL-expressible: the meshing pipeline itself (rows-only checks)
# --------------------------------------------------------------------------


def q_terra_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy Terra meshing at zoom 1 (4 tiles — the gate-budget scale;
    zoom-N behavior is identical per-tile). compute_error=True wires the
    reference's E2E rasterise-back error measurement
    (benchmark_workflow.cpp:880-924) into the gated output: max_err is a
    frozen golden column, and euler_ok / verts_on_grid_ok / cover_ok are
    TRUE-oracled independent invariants."""
    pts = geocode_points(_docs(spark, sf_dir, spread=False), zoom=1, grid_bits=GRID_BITS)
    return mesh_tiles(
        pts, zoom=1, grid_bits=GRID_BITS, method="terra", max_error=2.0,
        compute_error=True,
    ).drop("terrain")


def q_zemlya_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = geocode_points(_docs(spark, sf_dir, spread=False), zoom=1, grid_bits=GRID_BITS)
    return mesh_tiles(
        pts, zoom=1, grid_bits=GRID_BITS, method="zemlya", max_error=2.0,
        compute_error=True,
    ).drop("terrain")


def q_dense_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense meshing IS oracle-checkable: with buffer 0 the kernel
    meshes a fixed 32x32 grid, so vertex/face counts follow the closed
    count law (BASELINE.md: faces = ceil((w-1)/step)*ceil((h-1)/step)*2)
    and n_points/n_cells are plain aggregations — the oracle recomputes
    all four in SQL."""
    pts = geocode_points(_docs(spark, sf_dir, spread=False), zoom=2, grid_bits=GRID_BITS)
    t = mesh_tiles(
        pts, zoom=2, grid_bits=GRID_BITS, method="dense", step=2, buffer_cells=0
    )
    return t.select("tile_x", "tile_y", "n_points", "n_cells", "n_vertices", "n_faces")


def q_curvature_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M-curvature: Laplacian point reduction + sweep-hull Delaunay per
    tile (simple_meshing.cpp:16-34; the max_error slot carries the
    threshold). Deterministic → golden-row oracle."""
    pts = geocode_points(_docs(spark, sf_dir, spread=False), zoom=1, grid_bits=GRID_BITS)
    return mesh_tiles(
        pts, zoom=1, grid_bits=GRID_BITS, method="curvature", max_error=0.5,
        compute_error=True,
    ).drop("terrain")


MESH_QUERIES = {
    "terra_tiles": q_terra_tiles,
    "zemlya_tiles": q_zemlya_tiles,
    "dense_tiles": q_dense_tiles,
    "curvature_tiles": q_curvature_tiles,
}

def _golden_oracle_sql(name: str, true_cols: tuple[str, ...] = ()) -> str:
    """Golden-row oracle for deterministic non-SQL-expressible queries
    (terra/zemlya greedy meshing, OBJ sink): the frozen rows from
    scripts/freeze_goldens.py, dispatched on an md5 fingerprint of the
    documents table so the oracle only matches the exact dataset it was
    frozen against (unknown data → empty result → loud gate failure).

    `true_cols` are NOT frozen: the oracle emits them as literal TRUE,
    so they are independent invariants the engine must actually satisfy
    (Euler bound, vertex-on-grid exactness, rasterize-back coverage) —
    a wrong-but-deterministic kernel fails the hash even though the
    numeric columns are self-referential goldens."""
    import json
    import os

    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "goldens.json")
    with open(path) as f:
        g = json.load(f)[name]
    cols = g["columns"]
    col_names = ", ".join(c for c, _ in cols)
    true_sel = "".join(f", TRUE AS {c}" for c in true_cols)

    def lit(v, typ: str) -> str:
        if v is None:
            return f"CAST(NULL AS {'DOUBLE' if typ == 'double' else 'BIGINT'})"
        if typ == "double":
            return f"CAST('{v}' AS DOUBLE)"  # repr round-trips bit-exactly
        return f"CAST({v} AS {'INT' if typ == 'int' else 'BIGINT'})"

    parts = []
    for fp, rows in g["by_fingerprint"].items():
        vals = ", ".join(
            "(" + ", ".join(lit(v, cols[i][1]) for i, v in enumerate(row)) + ")"
            for row in rows
        )
        parts.append(
            f"SELECT {col_names}{true_sel} FROM (VALUES {vals}) AS v({col_names}) "
            f"WHERE (SELECT md5(string_agg(text, '|' ORDER BY doc_id)) FROM documents) = '{fp}'"
        )
    return " UNION ALL ".join(parts)


_MESH_INVARIANT_COLS = ("euler_ok", "verts_on_grid_ok", "cover_ok")
ORACLES["terra_tiles"] = _golden_oracle_sql("terra_tiles", _MESH_INVARIANT_COLS)
ORACLES["zemlya_tiles"] = _golden_oracle_sql("zemlya_tiles", _MESH_INVARIANT_COLS)
try:
    ORACLES["curvature_tiles"] = _golden_oracle_sql(
        "curvature_tiles", _MESH_INVARIANT_COLS
    )
except KeyError:
    pass  # goldens.json not yet refrozen for this query

# dense count law at grid_n=32, step=2: verts_per_row = (31//2)+1+1 = 17
# → 289 vertices, 16*16*2 = 512 faces per tile (simple_meshing.cpp:115-125)
_DENSE_POINTS_SQL = _points_sql(zoom=2)
ORACLES["dense_tiles"] = f"""
  SELECT tile_x, tile_y,
         count(*) AS n_points,
         CAST(count(DISTINCT (cell_x, cell_y)) AS INTEGER) AS n_cells,
         CAST(289 AS INTEGER) AS n_vertices,
         CAST(512 AS INTEGER) AS n_faces
  FROM ({_DENSE_POINTS_SQL})
  GROUP BY tile_x, tile_y
"""
