"""Iceberg source/sink for the Common-Crawl-style pages table.

The charter's canonical input is an Iceberg table

    pages(url STRING, warc_ts TIMESTAMP, html BINARY,
          text STRING, lang STRING)

at 10^12-document scale. This module wires that path end-to-end —
catalog config, bucket(url) table layout, snapshot/incremental reads,
and MERGE-based idempotent resume for the tile sink — all gated on the
Iceberg runtime jars actually being on the classpath (this container
ships none, so every entry point degrades loudly-but-gracefully and
the tests exercise the unavailable path).

Cluster usage (spark-submit):
    spark-submit --py-files tin_terrain_spark.zip \\
      --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.10.0 \\
      --conf spark.sql.catalog.lake=org.apache.spark.sql.catalog.CatalogPlugin... \\
      job.py
or set the confs via `iceberg_session_confs()` below.

Design notes for 10^12 rows:
  - PARTITIONED BY (bucket(N_BUCKETS, url)): url is the natural unique
    key; hash-bucketing spreads crawl hot-spots (one host's pages
    arriving together) evenly, and joins/dedups keyed on url can use
    storage-partitioned joins (no shuffle) when both sides share the
    bucket spec.
  - days(warc_ts) as a secondary partition field gives snapshot-range
    pruning for incremental recrawl processing.
  - The tile sink resumes via MERGE INTO keyed on (zoom, tile_x,
    tile_y): re-running a failed job overwrites exactly the tiles it
    recomputes and inserts the missing ones — idempotent, no
    read-modify-write race (Iceberg serializable snapshot commit), and
    no .done marker files needed (the reference's benchmark_done
    design, src/benchmark_workflow.cpp:585-648, is the file-system
    ancestor of this).
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

PAGES_SCHEMA = (
    "url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING"
)

N_BUCKETS = 256  # per-write file-count control at warehouse scale

TILE_KEY = ("zoom", "tile_x", "tile_y")


class IcebergUnavailable(RuntimeError):
    """Raised when the Iceberg runtime jars are not on the classpath."""


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime is loadable in this JVM."""
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.catalog.Catalog"
        )
        return True
    except Exception:
        return False


def _require(spark: SparkSession) -> None:
    if not iceberg_available(spark):
        raise IcebergUnavailable(
            "Iceberg runtime jars not on the classpath; launch with "
            "--packages org.apache.iceberg:iceberg-spark-runtime-"
            "<spark_ver>_<scala_ver>:<iceberg_ver> (see module docstring)"
        )


def iceberg_session_confs(catalog: str = "lake", warehouse: str = "s3://bucket/wh") -> dict:
    """The session confs a cluster launcher should set (documented here
    so the launch path is code, not tribal knowledge)."""
    return {
        f"spark.sql.catalog.{catalog}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
        # storage-partitioned joins between bucket(url) tables
        "spark.sql.sources.v2.bucketing.enabled": "true",
        "spark.sql.extensions": (
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
        ),
    }


def create_pages_table_ddl(table: str = "lake.web.pages") -> str:
    """DDL for the charter's input table with the scale layout."""
    return f"""
      CREATE TABLE IF NOT EXISTS {table} ({PAGES_SCHEMA})
      USING iceberg
      PARTITIONED BY (bucket({N_BUCKETS}, url), days(warc_ts))
      TBLPROPERTIES (
        'write.distribution-mode' = 'hash',
        'write.target-file-size-bytes' = '536870912'
      )
    """


def create_tiles_table_ddl(table: str = "lake.web.tiles") -> str:
    """DDL for the tile-store sink (MERGE resume target)."""
    return f"""
      CREATE TABLE IF NOT EXISTS {table} (
        zoom INT, tile_x BIGINT, tile_y BIGINT, n_points BIGINT,
        n_cells INT, n_vertices INT, n_faces INT, max_err DOUBLE,
        min_z DOUBLE, max_z DOUBLE, terrain BINARY,
        euler_ok BOOLEAN, verts_on_grid_ok BOOLEAN, cover_ok BOOLEAN
      )
      USING iceberg
      PARTITIONED BY (zoom)
      TBLPROPERTIES ('write.distribution-mode' = 'hash')
    """


def read_pages(spark: SparkSession, table: str = "lake.web.pages",
               snapshot_id: int | None = None,
               parquet_fallback: str | None = None) -> DataFrame:
    """Scan the pages table. With `snapshot_id`, a time-travel read
    (reproducible lineage — the same snapshot re-reads byte-identical
    inputs after a resume). `parquet_fallback` keeps local tests and
    jar-less environments running against the same schema from plain
    parquet."""
    if not iceberg_available(spark):
        if parquet_fallback is not None:
            return spark.read.parquet(parquet_fallback)
        _require(spark)
    reader = spark.read
    if snapshot_id is not None:
        reader = reader.option("snapshot-id", str(snapshot_id))
    return reader.table(table)


def read_pages_incremental(spark: SparkSession, start_snapshot: int,
                           end_snapshot: int | None = None,
                           table: str = "lake.web.pages") -> DataFrame:
    """Appended-rows-only incremental scan between snapshots — the
    recrawl-delta path (processes only new WARC loads)."""
    _require(spark)
    reader = (
        spark.read.format("iceberg")
        .option("start-snapshot-id", str(start_snapshot))
    )
    if end_snapshot is not None:
        reader = reader.option("end-snapshot-id", str(end_snapshot))
    return reader.load(table)


def merge_tiles(spark: SparkSession, tiles: DataFrame,
                table: str = "lake.web.tiles",
                temp_view: str = "_tiles_updates") -> None:
    """Idempotent tile upsert: MERGE INTO keyed on (zoom, tile_x,
    tile_y). A resumed/repeated run converges to the same table state
    (matched rows overwritten with the recomputed tile, missing rows
    inserted) under Iceberg's serializable snapshot commit — the
    cluster-grade replacement for filesystem .done markers."""
    _require(spark)
    tiles.createOrReplaceTempView(temp_view)
    on = " AND ".join(f"t.{k} = u.{k}" for k in TILE_KEY)
    spark.sql(
        f"""
        MERGE INTO {table} t
        USING {temp_view} u
        ON {on}
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
        """
    )


def completed_tile_keys(spark: SparkSession, zoom: int,
                        table: str = "lake.web.tiles") -> DataFrame:
    """Keys already materialized at this zoom — the anti-join input for
    skip-what's-done resume (mirrors pipeline.dem2tintiles' parquet
    manifest, but transactional)."""
    _require(spark)
    return spark.table(table).where(f"zoom = {zoom}").select(*TILE_KEY)


# --------------------------------------------------------------------------
# Tile catalog interface: the MERGE-resume contract, two bindings
# --------------------------------------------------------------------------


class TileCatalog:
    """The sink contract the pipeline resumes against:

      merge(tiles)            upsert keyed on (zoom, tile_x, tile_y) —
                              matched rows replaced by the recomputed
                              tile, missing rows inserted; repeating a
                              merge converges to the same state
      completed_keys(zoom)    keys already materialized (anti-join input
                              for skip-what's-done resume)
      read()                  current table state

    `IcebergTileCatalog` binds it to MERGE INTO on a real lakehouse
    (jar-gated); `LocalTileCatalog` implements the SAME semantics on
    versioned parquet so the resume logic executes (and is tested) in
    jar-less environments. The pipeline codes against the interface and
    cannot tell which one it got."""

    def merge(self, tiles: DataFrame) -> None:
        raise NotImplementedError

    def completed_keys(self, zoom: int) -> DataFrame:
        raise NotImplementedError

    def read(self) -> DataFrame:
        raise NotImplementedError


class IcebergTileCatalog(TileCatalog):
    def __init__(self, spark: SparkSession, table: str = "lake.web.tiles"):
        _require(spark)
        self.spark = spark
        self.table = table

    def merge(self, tiles: DataFrame) -> None:
        merge_tiles(self.spark, tiles, self.table)

    def completed_keys(self, zoom: int) -> DataFrame:
        return completed_tile_keys(self.spark, zoom, self.table)

    def read(self) -> DataFrame:
        return self.spark.table(self.table)


class LocalTileCatalog(TileCatalog):
    """Parquet-backed MERGE semantics with versioned commits.

    Layout: <path>/v_<n>/ snapshots + <path>/LATEST pointing at the
    live version. A snapshot is a zoom-partitioned tile store, like the
    Iceberg table, with its schema in _schema.json (parquet readers skip
    it): an empty merge leaves no data file to infer the schema from.
    A merge writes the NEXT version completely, then
    commits by atomically replacing LATEST (os.replace) — a crash
    before the pointer flip leaves the previous version live, so a
    resumed run re-merges its batch idempotently; a crash after is a
    completed merge. Single-writer by design (the driver owns the
    commit, same as the pipeline's manifest); Iceberg supplies the
    multi-writer serializable version of the identical state machine.
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        os.makedirs(path, exist_ok=True)

    def _latest(self) -> int:
        p = os.path.join(self.path, "LATEST")
        if not os.path.exists(p):
            return 0
        with open(p) as f:
            return int(f.read().strip())

    def _version_dir(self, v: int) -> str:
        return os.path.join(self.path, f"v_{v:06d}")

    def read(self) -> DataFrame:
        v = self._latest()
        if v == 0:
            raise ValueError("empty catalog: merge at least once first")
        vdir = self._version_dir(v)
        with open(os.path.join(vdir, "_schema.json")) as f:
            schema = StructType.fromJson(json.load(f))
        return self.spark.read.schema(schema).parquet(vdir)

    def merge(self, tiles: DataFrame) -> None:
        v = self._latest()
        keys = list(TILE_KEY)
        # the update set feeds the plan twice (anti-join keys + union
        # payload); without a persist Spark executes the upstream —
        # typically the per-tile mesh kernel — once per subtree
        tiles = tiles.persist()
        try:
            # Iceberg MERGE INTO raises on multiple source rows
            # matching one target row; the local binding must not
            # silently accumulate duplicate tile rows instead. Same
            # contract → same failure mode.
            n_rows, n_keys = tiles.agg(
                F.count(F.lit(1)), F.count_distinct(*[F.col(k) for k in keys])
            ).first()
            if n_rows != n_keys:
                raise ValueError(
                    f"merge source has {n_rows - n_keys} duplicate "
                    f"{tuple(keys)} rows; MERGE INTO would fail on "
                    "multiple matches — dedup the batch first"
                )
            if v == 0:
                new_state = tiles
            else:
                cur = self.read()
                # MERGE INTO semantics: matched -> replaced by the
                # update, not matched -> kept; plus all new rows
                new_state = cur.join(
                    tiles.select(*keys), keys, "left_anti"
                ).unionByName(tiles)
            nxt = v + 1
            vdir = self._version_dir(nxt)
            new_state.write.mode("overwrite").partitionBy("zoom").parquet(vdir)
            with open(os.path.join(vdir, "_schema.json"), "w") as f:
                f.write(new_state.schema.json())
        finally:
            tiles.unpersist()
        fd, tmp = tempfile.mkstemp(dir=self.path)
        with os.fdopen(fd, "w") as f:
            f.write(str(nxt))
        os.replace(tmp, os.path.join(self.path, "LATEST"))  # the commit

    def completed_keys(self, zoom: int) -> DataFrame:
        if self._latest() == 0:
            schema = ", ".join(
                ("zoom INT",) + tuple(f"{k} BIGINT" for k in TILE_KEY[1:])
            )
            return self.spark.createDataFrame([], schema)
        return self.read().where(F.col("zoom") == zoom).select(*TILE_KEY)


def tile_catalog(spark: SparkSession, table: str = "lake.web.tiles",
                 local_path: str | None = None) -> TileCatalog:
    """Binding choice: Iceberg when the jars are present, else the
    local parquet catalog at `local_path` (required in that case)."""
    if iceberg_available(spark):
        return IcebergTileCatalog(spark, table)
    if local_path is None:
        raise IcebergUnavailable(
            "no Iceberg runtime and no local_path fallback given"
        )
    return LocalTileCatalog(spark, local_path)
