"""The flagship job chain: dem2tintiles as a per-zoom pyramid build.

Mirrors the reference's driver loop (src/cmd.cpp:179-228 →
dem2tintiles_workflow.cpp), Spark-first (SURVEY.md §3.1). ONE loop,
mesh_pyramid, serves documents (build_tile_pyramid geocodes them) and
rasters (the CLI keys them with sources.geotiff.assign_tile_keys), both
keyed (cell_x, cell_y, z) at the finest zoom:

  base_cells: the single heavy shuffle (map-side combined)
    → persist
    → for zoom in max_zoom..min_zoom (descending, like
      RasterOverviews::next):
        rollup_cells (Y2 overview reuse — no raw re-scan)
        cell_grid buffer fan-out (Y3) → mesh_cells stage (Y4)
        write parquet to {out}/zoom={z}/ (overwrite = idempotent), or
        MERGE into a tile catalog; count the tiles from the write
        append a manifest row (Y5 resume lineage)

Resume: a zoom level whose manifest row exists and whose _SUCCESS file
is present is skipped (the reference's `benchmark_done` marker,
src/benchmark_workflow.cpp:585-648). Partition overwrite makes re-runs
of incomplete levels idempotent.

Per-zoom max_error defaults to the zoom's cell size in meters × a
relief factor, mirroring the reference's re-default of max-error to the
overview resolution per zoom (src/cmd.cpp:185-188).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ..functions import geocode_exprs as GX
from ..kernels.tin import check_method
from ..operators.geocode import geocode_points
from ..operators.meshing import base_cells, cell_grid, mesh_cells, rollup_cells


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_manifest.jsonl")


def read_manifest(out_dir: str) -> dict[int, dict]:
    entries: dict[int, dict] = {}
    p = _manifest_path(out_dir)
    if os.path.exists(p):
        with open(p) as f:
            for line in f:
                if line.strip():
                    e = json.loads(line)
                    entries[e["zoom"]] = e
    return entries


def build_tile_pyramid(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    min_zoom: int = 0,
    max_zoom: int = 4,
    grid_bits: int = 5,
    buffer_cells: int = 2,
    method: str = "terra",
    max_error: float | None = None,
    resume: bool = True,
    catalog=None,
    step: int = 1,
) -> dict[int, dict]:
    """Documents → pyramid: geocode at the finest zoom (coarser zooms
    roll up), then mesh_pyramid. Documents are keyed by `doc_id`.
    Returns the manifest (zoom → stats)."""
    pts = geocode_points(docs, zoom=max_zoom, grid_bits=grid_bits)
    return mesh_pyramid(
        spark, pts, out_dir, min_zoom=min_zoom, max_zoom=max_zoom,
        grid_bits=grid_bits, buffer_cells=buffer_cells, method=method,
        max_error=max_error, step=step, resume=resume, catalog=catalog,
    )


def mesh_pyramid(
    spark: SparkSession,
    points: DataFrame,
    out_dir: str,
    min_zoom: int = 0,
    max_zoom: int = 4,
    grid_bits: int = 5,
    buffer_cells: int = 2,
    method: str = "terra",
    max_error: float | None = None,
    step: int = 1,
    resume: bool = True,
    catalog=None,
) -> dict[int, dict]:
    """THE pyramid loop over points keyed (cell_x, cell_y, z) at
    `max_zoom` — geocoded documents or assign_tile_keys'd rasters.
    Returns the manifest (zoom → stats).

    Without a catalog, `out_dir` is a tile store (sinks): one zoom=Z/
    partition per zoom. Each pending zoom costs one write action, whose
    shuffle map stages AQE runs as separate jobs; its `n_tiles` (every
    written row, faceless tiles included) is observed on that write.

    With `catalog` (a sources.iceberg.TileCatalog — Iceberg MERGE on a
    cluster, LocalTileCatalog locally), the sink is the catalog's
    upsert and resume becomes TILE-granular: already-materialized tile
    keys anti-join out of the work grid before the mesh kernel runs,
    so a resumed run recomputes only the missing tiles (the
    transactional replacement for the per-zoom _SUCCESS marker, which
    still gates whole completed zooms)."""
    check_method(method)
    os.makedirs(out_dir, exist_ok=True)
    manifest = read_manifest(out_dir) if resume else {}

    base = base_cells(points).persist()
    try:
        for zoom in range(max_zoom, min_zoom - 1, -1):
            zdir = os.path.join(out_dir, f"zoom={zoom}")
            if (
                resume
                and zoom in manifest
                and os.path.exists(os.path.join(zdir, "_SUCCESS"))
            ):
                continue

            t0 = time.time()
            cells = rollup_cells(base, max_zoom - zoom)
            grid = cell_grid(None, zoom, grid_bits, buffer_cells, cells=cells)
            if catalog is not None and resume:
                done_keys = catalog.completed_keys(zoom).select("tile_x", "tile_y")
                grid = grid.join(done_keys, ["tile_x", "tile_y"], "left_anti")
            me = (
                max_error
                if max_error is not None
                # default: half a cell of vertical tolerance per
                # horizontal cell size — scaled like the reference's
                # per-zoom resolution re-default
                else GX.tile_size_meters(zoom + grid_bits) / 10000.0
            )
            tiles = mesh_cells(grid, zoom, grid_bits, buffer_cells, method, me, step)
            if catalog is not None:
                catalog.merge(tiles)
                n_tiles = catalog.read().where(f"zoom = {zoom}").count()
                # the _SUCCESS gate stays parquet-shaped: mark the zoom
                # complete with an empty sentinel dir
                os.makedirs(zdir, exist_ok=True)
                open(os.path.join(zdir, "_SUCCESS"), "w").close()
            else:
                # counted in the write's result stage: a retried map
                # stage cannot count twice
                obs = Observation()
                (tiles.observe(obs, F.count(F.lit(1)).alias("n"))
                 .write.mode("overwrite").parquet(zdir))
                n_tiles = obs.get["n"]
            entry = {
                "zoom": zoom,
                "n_tiles": n_tiles,
                "method": method,
                "max_error": me,
                "step": step,
                "grid_bits": grid_bits,
                "buffer_cells": buffer_cells,
                "seconds": round(time.time() - t0, 3),
                "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            }
            manifest[zoom] = entry
            with open(_manifest_path(out_dir), "a") as f:
                f.write(json.dumps(entry) + "\n")
    finally:
        base.unpersist()
    return manifest
