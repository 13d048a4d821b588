"""Cluster-safe tile sink: parquet store (DataFrame writer, one job)
+ driver-side file-tree materialization, roundtrip-checked against the
quantized-mesh decoder. Every tile writer — write_tile_store, the
pyramid and a LocalTileCatalog version — produces the same zoom-
partitioned store, and materialize_tile_tree reads each directly."""

from __future__ import annotations

import os

import pytest

from tin_terrain_spark.operators.geocode import geocode_points
from tin_terrain_spark.operators.meshing import mesh_tiles
from tin_terrain_spark.operators.sinks import materialize_tile_tree, write_tile_store

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from tin_terrain_spark.session import get_spark

    yield get_spark("sink_test", cores=8)


def _partition_dirs(root: str) -> list[str]:
    """Every directory under `root` (a name=value partition level each),
    relative to it; a tile store has one level, zoom=Z."""
    return sorted(
        os.path.relpath(os.path.join(d, n), root)
        for d, dirs, _ in os.walk(root) for n in dirs
    )


@pytest.fixture(scope="module")
def tiles(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pts = geocode_points(docs, zoom=1, grid_bits=5)
    return mesh_tiles(pts, zoom=1, grid_bits=5, method="terra", max_error=2.0)


def test_store_then_materialize(spark, tiles, tmp_path):
    store = str(tmp_path / "store")
    out = str(tmp_path / "tree")
    write_tile_store(tiles, store)
    assert _partition_dirs(store) == ["zoom=1"]
    n = materialize_tile_tree(spark, store, out)
    assert n == 4  # zoom 1 over the full extent

    rows = {
        (r["zoom"], r["tile_x"], r["tile_y"]): r
        for r in tiles.select("zoom", "tile_x", "tile_y", "n_faces").collect()
    }
    from tin_terrain_spark.kernels.codec import decode_qm_tile

    found = 0
    for (z, x, y), r in rows.items():
        p = os.path.join(out, str(z), str(x), f"{y}.terrain")
        assert os.path.exists(p), p
        t = decode_qm_tile(open(p, "rb").read())
        assert len(t.faces) == r["n_faces"]
        found += 1
    assert found == 4

    # idempotent overwrite: a second pass rewrites the same tree
    assert materialize_tile_tree(spark, store, out) == 4
    assert sorted(os.listdir(os.path.join(out, "1"))) == ["0", "1"]


def _check_tree(spark, store, out) -> int:
    """Materialize `store` into `out`; every tile with a terrain blob
    has a file decoding to its row's face count, a faceless tile has
    none. Returns the number of faced tiles."""
    from tin_terrain_spark.kernels.codec import decode_qm_tile

    rows = spark.read.parquet(store).select(
        "zoom", "tile_x", "tile_y", "n_faces", "terrain"
    ).collect()
    faced = [r for r in rows if r["terrain"] is not None]
    assert materialize_tile_tree(spark, store, out) == len(faced)
    for r in rows:
        p = os.path.join(out, str(r["zoom"]), str(r["tile_x"]), f"{r['tile_y']}.terrain")
        if r["terrain"] is None:
            assert r["n_faces"] == 0 and not os.path.exists(p), p
        else:
            assert len(decode_qm_tile(open(p, "rb").read()).faces) == r["n_faces"]
    return len(faced)


def test_pyramid_output_is_a_store(spark, tmp_path):
    """A pyramid output directory materializes directly. Curvature
    meshing leaves a planar tile faceless (null terrain): tile (0, 0) is
    the plane z = x + y, the tiles of the far corner random relief."""
    import numpy as np

    from tin_terrain_spark.pipeline.dem2tintiles import mesh_pyramid

    rng = np.random.default_rng(5)
    rows = [(cx, cy, float(cx + cy)) for cx in range(8) for cy in range(8)]
    rows += [(cx, cy, float(rng.uniform(-100, 100)))
             for cx in range(24, 32) for cy in range(24, 32)]
    pts = spark.createDataFrame(rows, "cell_x long, cell_y long, z double")
    out = str(tmp_path / "pyramid")
    m = mesh_pyramid(spark, pts, out, min_zoom=1, max_zoom=2, grid_bits=3,
                     method="curvature", max_error=1.0, resume=False)
    assert _partition_dirs(out) == ["zoom=1", "zoom=2"]
    n_rows = spark.read.parquet(out).count()
    assert n_rows == sum(e["n_tiles"] for e in m.values())
    n_faced = _check_tree(spark, out, str(tmp_path / "tree"))
    assert 0 < n_faced < n_rows


def test_catalog_version_is_a_store(spark, tiles, tmp_path):
    """A LocalTileCatalog version directory holds zoom partitions and
    materializes directly, like the store write of the same tiles."""
    from tin_terrain_spark.sources.iceberg import LocalTileCatalog

    cat = LocalTileCatalog(spark, str(tmp_path / "cat"))
    cat.merge(tiles)
    version = cat._version_dir(cat._latest())
    assert _partition_dirs(version) == ["zoom=1"]
    assert _check_tree(spark, version, str(tmp_path / "tree")) == 4
    store = str(tmp_path / "store")
    write_tile_store(tiles, store)

    def key_blobs(path):
        return sorted(
            (r["zoom"], r["tile_x"], r["tile_y"], bytes(r["terrain"]))
            for r in spark.read.parquet(path)
            .select("zoom", "tile_x", "tile_y", "terrain").collect()
        )

    assert key_blobs(version) == key_blobs(store)
