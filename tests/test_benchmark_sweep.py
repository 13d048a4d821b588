"""Benchmark sweep workflow (§3.3): method x param sweep with CSV +
resume markers, plus the strongest self-oracle available without GDAL:
per-tile max interior error <= the terra/zemlya refinement threshold
(benchmark_workflow.cpp semantics)."""

from __future__ import annotations

import math
import os

import pytest

from tin_terrain_spark.operators.geocode import geocode_points
from tin_terrain_spark.pipeline import benchmark as B
from tin_terrain_spark.pipeline.benchmark import PARAM_MAX_ERROR, PARAM_STEP

SF_DIR = "/root/testdata/sf0.001"
# a 2 + 2 + 1 + 1 subset of the reference's parameter sets, to stay small
SMALL_PARAMS = {"PARAM_MAX_ERROR": [1.0, 5.0], "PARAM_STEP": [2], "PARAM_THRESHOLD": [0.5]}


def _small_sweep(*args, **kwargs):
    """run_benchmark_sweep over SMALL_PARAMS."""
    with pytest.MonkeyPatch.context() as mp:
        for name, values in SMALL_PARAMS.items():
            mp.setattr(B, name, values)
        return B.run_benchmark_sweep(*args, **kwargs)


@pytest.fixture(scope="module")
def spark():
    from tin_terrain_spark.session import get_spark

    s = get_spark("bench_sweep_test", cores=8)
    yield s


@pytest.fixture(scope="module")
def sweep(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sweep"))
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pts = geocode_points(docs, zoom=1, grid_bits=5)
    rows = _small_sweep(pts, zoom=1, out_dir=out, input_name="sf0.001")
    return out, pts, rows


def test_reference_param_sets():
    # the full sets are the reference's own (benchmark_workflow.cpp:554,420,488)
    from tin_terrain_spark.pipeline.benchmark import PARAM_THRESHOLD

    assert len(PARAM_MAX_ERROR) == 17 and PARAM_MAX_ERROR[0] == 0.1
    assert len(PARAM_STEP) == 15 and PARAM_STEP[-1] == 20
    assert len(PARAM_THRESHOLD) == 13 and PARAM_THRESHOLD[-1] == 3.0


def test_sweep_rows_and_csv(sweep):
    out, _, rows = sweep
    # 2 params x terra + 2 x zemlya + 1 x dense + 1 x curvature
    assert len(rows) == 6
    csv = open(os.path.join(out, "tin_terrain_benchmarks.csv")).read().splitlines()
    assert csv[0].startswith("input_file,method_name")
    assert len(csv) == 7
    assert len([f for f in os.listdir(out) if f.endswith(".done")]) == 6


def test_stats_sane(sweep):
    _, _, rows = sweep
    for r in rows:
        assert r["num_faces"] > 0 and r["num_vertices"] > 0
        assert r["meshing_time_seconds"] > 0
        assert math.isfinite(r["mean_error"]) and math.isfinite(r["standard_dev_error"])


def test_error_bound_self_oracle(spark):
    """The benchmark's strongest self-oracle: on a DENSE grid the
    re-rasterized max interior error tracks the refinement threshold.
    (The scanline coverage and the rasterizer's inclusive barycentric
    coverage differ on boundary pixels — the reference shares this
    quirk, TerraMesh.cpp:150-166 vs Mesh2Raster.cpp:15-115 — so the
    bound carries a small slack; on sparse/no-data rasters the
    uncovered-cell error is unbounded by design and `violations` is a
    reported metric, not an invariant.)"""
    from pyspark.sql import functions as F

    from tin_terrain_spark.pipeline.benchmark import run_parametrization

    n = 64
    df = spark.range(n * n).select(
        (F.col("id") % n).alias("cell_x"),
        (F.col("id") / n).cast("bigint").alias("cell_y"),
    ).withColumn(
        "z",
        (F.col("cell_x") * F.col("cell_x")) * 0.01 + F.col("cell_y") * 0.3
        + F.sin(F.col("cell_x") * 0.37) * 4.0 + F.cos(F.col("cell_y") * 0.23) * 3.0,
    )
    for method in ("terra", "zemlya"):
        for p in (0.5, 5.0):
            r = run_parametrization(df, zoom=1, method=method, max_error=p)
            assert r["max_error"] <= p * 1.2 + 1e-9, (method, p, r["max_error"])


def test_tighter_param_means_more_faces(sweep):
    _, _, rows = sweep
    by = {(r["method_name"], r["param_max_error"]): r for r in rows}
    assert by[("terra", 1.0)]["num_faces"] >= by[("terra", 5.0)]["num_faces"]
    assert by[("zemlya", 1.0)]["num_faces"] >= by[("zemlya", 5.0)]["num_faces"]


def test_dense_count_law(sweep):
    _, _, rows = sweep
    dense = [r for r in rows if r["method_name"] == "dense"][0]
    # zoom 1 over the full mercator extent: 4 tiles; buffered grid is
    # 36x36 (32 + 2*2 border), step 2 -> ceil(35/2)+1 = 19 verts/row,
    # 18*18*2 = 648 faces per tile (simple_meshing.cpp:115-125)
    assert dense["num_faces"] == 4 * 648
    assert dense["num_vertices"] == 4 * 19 * 19


def test_resume_skips_done(sweep, spark):
    out, pts, _ = sweep
    again = _small_sweep(pts, zoom=1, out_dir=out, input_name="sf0.001")
    assert again == []
    csv = open(os.path.join(out, "tin_terrain_benchmarks.csv")).read().splitlines()
    assert len(csv) == 7  # no duplicate appends


def test_failed_sweep_releases_cells(spark, tmp_path, monkeypatch):
    """A parametrization that raises still unpersists the sweep's
    shared cell grid: no cached relation outlives the failed call."""
    def fail(*args, **kwargs):
        raise RuntimeError("parametrization failed")

    monkeypatch.setattr(B, "run_parametrization", fail)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pts = geocode_points(docs, zoom=1, grid_bits=5)
    with pytest.raises(RuntimeError, match="parametrization failed"):
        _small_sweep(pts, zoom=1, out_dir=str(tmp_path))
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
