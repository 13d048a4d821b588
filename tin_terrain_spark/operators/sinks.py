"""Sinks: the reference's output formats as distributed writers.

Every tile writer (the pyramid, write_tile_store, a LocalTileCatalog
version) writes one tile-store layout: parquet partitioned by zoom.

  write_tile_store    cluster-safe tile sink: ONE DataFrame-writer job
                      into a zoom-partitioned parquet store (any
                      Hadoop-compatible FS / object store)
  materialize_tile_tree
                      tile store → {out}/{z}/{x}/{y}.terrain file
                      tree (dem2tintiles_workflow.cpp:134-148) on the
                      DRIVER's filesystem — the explicit local step for
                      single-node serving; streams via toLocalIterator
  tiles_as_obj        per-tile OBJ text column (MeshIO sink) for export
                      pipelines — decode the terrain blob, format in a
                      pandas UDF batch
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StringType


def write_tile_store(tiles: DataFrame, store_dir: str) -> None:
    """Cluster-safe tile sink: one writer job, no executor-local paths,
    faceless tiles (null terrain) left out. Partitioned by zoom only: a
    lookup still prunes to one zoom, and a tile_x level would add a
    file per (task, tile_x) and 2^z directories per zoom."""
    (
        tiles.filter(F.col("terrain").isNotNull())
        .select("zoom", "tile_x", "tile_y", "terrain")
        .write.mode("overwrite")
        .partitionBy("zoom")
        .parquet(store_dir)
    )


def materialize_tile_tree(spark: SparkSession, store_dir: str, out_dir: str) -> int:
    """{z}/{x}/{y}.terrain files (dem2tintiles_workflow.cpp:134-148)
    from any tile store, faceless tiles skipped, on the calling
    process's filesystem. Streams partition-by-partition
    (toLocalIterator) — never collects the full store. Returns the tile
    count; idempotent overwrite.

    Kept without a shipped caller: the reference's Z/X/Y.terrain
    export, tested by tests/test_sinks_tiletree.py."""
    df = spark.read.parquet(store_dir).where(F.col("terrain").isNotNull())
    df = df.select("zoom", "tile_x", "tile_y", "terrain")
    n = 0
    for r in df.toLocalIterator():
        d = os.path.join(out_dir, str(r["zoom"]), str(r["tile_x"]))
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f".{r['tile_y']}.terrain.tmp")
        with open(tmp, "wb") as f:
            f.write(bytes(r["terrain"]))
        os.replace(tmp, os.path.join(d, f"{r['tile_y']}.terrain"))
        n += 1
    return n


@F.pandas_udf(StringType())
def _decode_obj(terrain: pd.Series) -> pd.Series:
    import numpy as np

    from ..kernels.codec import decode_qm_tile, dequantize_coordinate
    from ..kernels.meshio import format_obj

    out = []
    for blob in terrain:
        if blob is None:
            out.append(None)
            continue
        t = decode_qm_tile(bytes(blob))
        verts = np.column_stack(
            [
                dequantize_coordinate(t.u, 0.0, 1.0),
                dequantize_coordinate(t.v, 0.0, 1.0),
                dequantize_coordinate(t.h, t.min_height, t.max_height),
            ]
        )
        out.append(format_obj(verts, t.faces))
    return pd.Series(out)


def tiles_as_obj(tiles: DataFrame) -> DataFrame:
    return tiles.withColumn("obj", _decode_obj(F.col("terrain")))
