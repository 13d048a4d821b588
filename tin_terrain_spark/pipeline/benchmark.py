"""Benchmark sweep workflow (SURVEY §3.3): methods x parametrizations
-> mesh -> re-rasterize -> error stats -> stats table + CSV, with
per-parametrization resume markers.

Re-expresses /root/reference/src/benchmark_workflow.cpp:975-1073 (the
reference's test-and-perf oracle) Spark-first:

  - the reference loops method x param over ONE raster file on one
    core; here each (method, param) run is one distributed job over all
    tiles through the pyramid's mesh_cells stage and tile kernel (error
    measurement on, terrain encoding off, SWEEP_SCHEMA columns), and
    the per-raster error stats are combined EXACTLY from
    per-tile moments (count/mean/population-std merge — the same
    Welford algebra Mesh2Raster.cpp:351-491 accumulates serially)
  - parameter sets are the reference's own:
    param_max_error (benchmark_workflow.cpp:554-555) for terra/zemlya,
    param_step (benchmark_workflow.cpp:420) for dense
  - resume: a `<method>_<param>.done` marker per parametrization and
    append-mode CSV, like the reference's benchmark_done files
    (benchmark_workflow.cpp:591-613, :942-944)
  - CSV columns follow StatsRow (benchmark_workflow.cpp:29-51)

The per-tile `max_err <= param_max_error` invariant (terra/zemlya
refine until the max interior error is below the threshold) is the
strongest self-oracle available without GDAL fixtures; the sweep emits
a `violations` column that must be 0.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, functions as F

from ..operators.meshing import cell_grid, mesh_cells

# benchmark_workflow.cpp:554-555
PARAM_MAX_ERROR = [
    0.1, 0.25, 0.5, 0.6, 0.7, 0.8, 0.9, 1.0, 1.1, 1.2, 1.5, 2.0, 2.5, 3.0,
    5.0, 8.0, 10.0,
]
# benchmark_workflow.cpp:420
PARAM_STEP = [1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 12, 14, 16, 18, 20]
# benchmark_workflow.cpp:488-489
PARAM_THRESHOLD = [0.1, 0.2, 0.3, 0.5, 0.8, 1.0, 1.2, 1.4, 1.6, 1.8, 2.0, 2.5, 3.0]
# cells of neighbour data around each tile, as in the pyramid
BUFFER_CELLS = 2

SWEEP_SCHEMA = (
    "tile_x BIGINT, tile_y BIGINT, n_points BIGINT, n_vertices INT, "
    "n_faces INT, mesh_seconds DOUBLE, err_n BIGINT, err_mean DOUBLE, "
    "err_std DOUBLE, max_err DOUBLE"
)

CSV_HEADER = (
    "input_file,method_name,input_num_points,param_max_error,param_threshold,"
    "param_step,meshing_time_seconds,standard_dev_error,mean_error,max_error,"
    "num_vertices,num_faces,violations"
)


def run_parametrization(points: DataFrame, zoom: int, method: str,
                        max_error: float = float("nan"), step: int = -1,
                        threshold: float = float("nan"),
                        grid_bits: int = 5,
                        cells: DataFrame | None = None) -> dict:
    """One (method, param) run: the mesh_cells stage with error
    measurement over all tiles (per-tile SWEEP_SCHEMA rows, terrain
    encoding off), exact moment merge to a single StatsRow-shaped
    dict."""
    if cells is None:
        cells = cell_grid(points, zoom, grid_bits, BUFFER_CELLS)
    # curvature reads its threshold through the kernel's max_error slot
    per_tile = mesh_cells(
        cells, zoom, grid_bits, BUFFER_CELLS, method,
        threshold if method == "curvature" else max_error, step,
        compute_error=True, encode_terrain=False, columns=SWEEP_SCHEMA,
    )

    is_terra_like = method in ("terra", "zemlya")
    agg = per_tile.agg(
        F.sum("n_points").alias("input_num_points"),
        F.sum("n_vertices").alias("num_vertices"),
        F.sum("n_faces").alias("num_faces"),
        F.sum("mesh_seconds").alias("meshing_time_seconds"),
        F.sum("err_n").alias("n"),
        F.sum(F.col("err_mean") * F.col("err_n")).alias("sd"),
        # per-tile population variance + mean² recover E[d²] per tile;
        # count-weighting merges tiles exactly (Welford merge algebra)
        F.sum(
            (F.col("err_std") * F.col("err_std") + F.col("err_mean") * F.col("err_mean"))
            * F.col("err_n")
        ).alias("sd2"),
        F.max("max_err").alias("max_error"),
        (
            F.sum(
                F.when(F.col("max_err") > max_error, 1).otherwise(0)
            ).alias("violations")
            if is_terra_like
            else F.lit(0).alias("violations")
        ),
    ).collect()[0]

    n = agg["n"] or 0
    mean = agg["sd"] / n if n else float("nan")
    var = agg["sd2"] / n - mean * mean if n else float("nan")
    nanf = float("nan")
    return {
        "method_name": method,
        "input_num_points": agg["input_num_points"],
        "param_max_error": max_error,
        "param_threshold": threshold,
        "param_step": step,
        "meshing_time_seconds": agg["meshing_time_seconds"],
        "standard_dev_error": float(np.sqrt(max(var, 0.0))) if n else nanf,
        "mean_error": mean,
        # null when every tile's max_err was NaN (pandas NaN → Spark null)
        "max_error": nanf if agg["max_error"] is None else agg["max_error"],
        "num_vertices": agg["num_vertices"],
        "num_faces": agg["num_faces"],
        "violations": int(agg["violations"]),
    }


def run_benchmark_sweep(points: DataFrame, zoom: int, out_dir: str,
                        input_name: str = "points",
                        grid_bits: int = 5) -> list[dict]:
    """The full sweep: terra, zemlya, dense and curvature x their
    parameter sets (PARAM_MAX_ERROR, PARAM_STEP, PARAM_THRESHOLD), CSV
    + .done markers in out_dir (benchmark_workflow.cpp:975-1073 shape).
    Returns the stats rows written this invocation (resumed rows are
    skipped, like the reference's benchmark_done fast-path)."""
    os.makedirs(out_dir, exist_ok=True)
    csv_path = os.path.join(out_dir, "tin_terrain_benchmarks.csv")
    if not os.path.exists(csv_path):
        with open(csv_path, "w") as f:
            f.write(CSV_HEADER + "\n")

    # cell aggregation is shared by every parametrization — persist
    # once, and release it however the sweep ends
    cells = cell_grid(points, zoom, grid_bits, BUFFER_CELLS).persist()
    runs = []
    try:
        for method in ("terra", "zemlya", "dense", "curvature"):
            if method == "dense":
                params = PARAM_STEP
            elif method == "curvature":
                params = PARAM_THRESHOLD
            else:
                params = PARAM_MAX_ERROR
            for p in params:
                marker = os.path.join(out_dir, f"{method}_{p}.done")
                if os.path.exists(marker):
                    continue
                if method == "dense":
                    kwargs = {"step": int(p)}
                elif method == "curvature":
                    kwargs = {"threshold": float(p)}
                else:
                    kwargs = {"max_error": float(p)}
                row = run_parametrization(
                    points, zoom, method, grid_bits=grid_bits, cells=cells,
                    **kwargs,
                )
                row["input_file"] = input_name
                with open(csv_path, "a") as f:
                    f.write(
                        f'{row["input_file"]},{row["method_name"]},{row["input_num_points"]},'
                        f'{row["param_max_error"]},{row["param_threshold"]},{row["param_step"]},'
                        f'{row["meshing_time_seconds"]:.6f},{row["standard_dev_error"]:.9f},'
                        f'{row["mean_error"]:.9f},{row["max_error"]:.9f},'
                        f'{row["num_vertices"]},{row["num_faces"]},{row["violations"]}\n'
                    )
                with open(marker, "w") as f:
                    f.write("done\n")
                runs.append(row)
    finally:
        cells.unpersist()
    return runs
