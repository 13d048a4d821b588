"""Iceberg gating + tile-catalog resume (sources/iceberg.py).

This container has no Iceberg jars, so the jar-bound tests pin the
DEGRADE path: availability probe is honest and every jar-requiring
entry point raises IcebergUnavailable with launch guidance. The
MERGE-resume STATE MACHINE itself executes here via
LocalTileCatalog (versioned parquet + atomic LATEST commit): matched
keys replaced, unmatched kept, re-merge idempotent, crash-before-
commit invisible."""

from __future__ import annotations

import pytest

from tin_terrain_spark.sources import iceberg as I


@pytest.fixture(scope="module")
def spark():
    from tin_terrain_spark.session import get_spark

    s = get_spark("iceberg_t", cores=4)
    yield s
    s.stop()


def test_availability_probe(spark):
    assert I.iceberg_available(spark) is False  # no jars in this image


def test_jarless_entry_points_raise(spark):
    with pytest.raises(I.IcebergUnavailable, match="--packages"):
        I.completed_tile_keys(spark, zoom=4)
    with pytest.raises(I.IcebergUnavailable):
        I.merge_tiles(spark, spark.range(1))


def test_session_confs_cover_catalog_and_spj():
    confs = I.iceberg_session_confs("s3://wh")
    assert I.TILES_TABLE.startswith(f"{I.CATALOG}.")
    assert confs[f"spark.sql.catalog.{I.CATALOG}"].endswith("SparkCatalog")
    assert confs[f"spark.sql.catalog.{I.CATALOG}.warehouse"] == "s3://wh"
    assert confs["spark.sql.sources.v2.bucketing.enabled"] == "true"
    assert "IcebergSparkSessionExtensions" in confs["spark.sql.extensions"]


def _tiles(spark, rows):
    return spark.createDataFrame(
        rows, "zoom int, tile_x long, tile_y long, n_points long, run string"
    )


def test_local_catalog_merge_resume_semantics(spark, tmp_path):
    """The MERGE-resume state machine EXECUTES in this container:
    matched keys replaced, unmatched kept, re-merge idempotent, and
    completed_keys drives skip-what's-done resume."""
    cat = I.tile_catalog(spark, local_path=str(tmp_path / "tiles"))
    assert isinstance(cat, I.LocalTileCatalog)  # no jars here

    # batch A: tiles (4,0,0) and (4,1,0)
    cat.merge(_tiles(spark, [(4, 0, 0, 10, "A"), (4, 1, 0, 11, "A")]))
    # batch B resumes: re-computes (4,1,0), adds (4,2,0)
    cat.merge(_tiles(spark, [(4, 1, 0, 99, "B"), (4, 2, 0, 12, "B")]))

    state = {(r["zoom"], r["tile_x"], r["tile_y"]): (r["n_points"], r["run"])
             for r in cat.read().collect()}
    assert state == {
        (4, 0, 0): (10, "A"),   # untouched by B
        (4, 1, 0): (99, "B"),   # matched -> replaced
        (4, 2, 0): (12, "B"),   # not matched -> inserted
    }

    # idempotence: repeating batch B (a crashed-and-resumed run)
    # converges to the identical state
    cat.merge(_tiles(spark, [(4, 1, 0, 99, "B"), (4, 2, 0, 12, "B")]))
    state2 = {(r["zoom"], r["tile_x"], r["tile_y"]): (r["n_points"], r["run"])
              for r in cat.read().collect()}
    assert state2 == state

    # resume driver: anti-join the work list against completed keys
    work = spark.createDataFrame(
        [(4, 0, 0), (4, 2, 0), (4, 3, 0)], "zoom int, tile_x long, tile_y long"
    )
    todo = sorted(
        (r["tile_x"], r["tile_y"])
        for r in work.join(
            cat.completed_keys(4), ["zoom", "tile_x", "tile_y"], "left_anti"
        ).collect()
    )
    assert todo == [(3, 0)]


def test_local_catalog_crash_before_commit_keeps_previous_version(spark, tmp_path):
    """A version directory without the LATEST pointer flip (crash
    mid-merge) must be invisible: reads serve the previous version and
    the re-merge lands cleanly."""
    import os

    cat = I.LocalTileCatalog(spark, str(tmp_path / "t"))
    cat.merge(_tiles(spark, [(4, 0, 0, 1, "A")]))
    # simulate a crashed writer: v2 exists on disk, LATEST still says 1
    os.makedirs(cat._version_dir(2), exist_ok=True)
    assert cat._latest() == 1
    assert cat.read().count() == 1
    cat.merge(_tiles(spark, [(4, 1, 0, 2, "B")]))  # resume overwrites v2
    assert cat._latest() == 2
    assert cat.read().count() == 2


def test_local_catalog_empty_completed_keys(spark, tmp_path):
    cat = I.LocalTileCatalog(spark, str(tmp_path / "empty"))
    assert cat.completed_keys(4).count() == 0
    with pytest.raises(ValueError, match="empty catalog"):
        cat.read()


def test_local_catalog_merge_rejects_duplicate_keys(spark, tmp_path):
    """Iceberg MERGE INTO fails when multiple source rows match one
    target row; the local binding of the same contract must fail the
    same way rather than silently accumulating duplicate tile rows."""
    import pytest

    cat = I.tile_catalog(spark, local_path=str(tmp_path / "tiles"))
    with pytest.raises(ValueError, match="duplicate"):
        cat.merge(_tiles(spark, [(4, 0, 0, 10, "A"), (4, 0, 0, 11, "A")]))
    # the failed merge must not have committed a version
    with pytest.raises(ValueError, match="empty catalog"):
        cat.read()
