"""CLI front-end (tin_terrain_spark/cli.py): the reference's verbs
(dem2tin / dem2tintiles / benchmark) drive the same operators the
driver-gated queries exercise."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from tin_terrain_spark.cli import main


@pytest.fixture(scope="module")
def asc_file(tmp_path_factory):
    from tin_terrain_spark.kernels.meshio import format_asc
    from tin_terrain_spark.kernels.raster import Grid

    rng = np.random.RandomState(6)
    z = np.cumsum(rng.rand(16, 16) - 0.5, axis=0) * 20
    g = Grid(z, xpos=0.0, ypos=0.0, cellsize=100.0, ndv=-99999.0)
    p = tmp_path_factory.mktemp("cli") / "dem.asc"
    p.write_text(format_asc(g))
    return str(p)


def test_dem2tin_obj(asc_file, tmp_path):
    out = str(tmp_path / "mesh.obj")
    r = main(["dem2tin", "--input", asc_file, "--output", out,
              "--method", "terra", "--max-error", "1.0"])
    assert r["n_faces"] > 0 and r["format"] == "obj"
    assert os.path.getsize(out) > 0
    txt = open(out).read()
    assert txt.startswith("v ") or "\nv " in txt


def test_dem2tin_unknown_method(asc_file, tmp_path):
    with pytest.raises(SystemExit):
        main(["dem2tin", "--input", asc_file, "--output",
              str(tmp_path / "m.obj"), "--method", "nope"])


def test_dem2tintiles_raster_and_benchmark(asc_file, tmp_path):
    out_dir = str(tmp_path / "tiles")
    manifest = main([
        "dem2tintiles", "--input", asc_file, "--output-dir", out_dir,
        "--min-zoom", "0", "--max-zoom", "0", "--method", "dense",
        "--grid-bits", "3", "--buffer-cells", "0", "--cores", "4",
    ])
    assert manifest[0]["n_tiles"] >= 1
    assert os.path.exists(os.path.join(out_dir, "zoom=0"))

    bench_dir = str(tmp_path / "bench")
    rows = main([
        "benchmark", "--input", asc_file, "--output-dir", bench_dir,
        "--zoom", "0", "--grid-bits", "3", "--cores", "4",
    ])
    csv = os.path.join(bench_dir, "tin_terrain_benchmarks.csv")
    assert os.path.exists(csv) and len(rows) > 0
    assert len(open(csv).read().splitlines()) == len(rows) + 1


def test_dem2tintiles_catalog_sink(asc_file, tmp_path):
    out_dir = str(tmp_path / "t2")
    cat_dir = str(tmp_path / "cat")
    manifest = main([
        "dem2tintiles", "--input", asc_file, "--output-dir", out_dir,
        "--min-zoom", "0", "--max-zoom", "0", "--method", "dense",
        "--grid-bits", "3", "--buffer-cells", "0", "--cores", "4",
        "--catalog-path", cat_dir,
    ])
    assert manifest[0]["n_tiles"] >= 1
    assert os.path.exists(os.path.join(cat_dir, "LATEST"))


def test_dem2tintiles_raster_resumes(asc_file, tmp_path):
    """Raster pyramids run the same loop as documents: a manifest row
    and a _SUCCESS marker per zoom, and a rerun skips every completed
    zoom (its manifest `seconds` stay those of the first run)."""
    out_dir = str(tmp_path / "tiles")
    argv = [
        "dem2tintiles", "--input", asc_file, "--output-dir", out_dir,
        "--min-zoom", "0", "--max-zoom", "1",
        "--grid-bits", "3", "--buffer-cells", "0", "--cores", "4",
    ]
    first = main(argv)
    assert set(first) == {0, 1}
    assert os.path.exists(os.path.join(out_dir, "_manifest.jsonl"))
    for z in (0, 1):
        assert os.path.exists(os.path.join(out_dir, f"zoom={z}", "_SUCCESS"))
        assert first[z]["n_tiles"] >= 1
    again = main(argv)
    assert {z: e["seconds"] for z, e in again.items()} == {
        z: e["seconds"] for z, e in first.items()
    }
