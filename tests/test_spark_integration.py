"""Spark-level integration tests (local[8], sf0.001). Marked as one
module so the session is built once."""

import os

import numpy as np
import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from tin_terrain_spark.session import get_spark

    s = get_spark("it", cores=8)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def points(spark):
    from tin_terrain_spark.operators.geocode import geocode_points

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    return geocode_points(docs, zoom=2, grid_bits=5).cache()


def test_geocode_in_range(points):
    from tin_terrain_spark.functions.geocode_exprs import HALF_CIRCUMFERENCE

    import pyspark.sql.functions as F

    row = points.agg(
        F.min("x"), F.max("x"), F.min("y"), F.max("y"), F.min("tile_x"), F.max("tile_x")
    ).collect()[0]
    assert row[0] >= -HALF_CIRCUMFERENCE and row[1] <= HALF_CIRCUMFERENCE
    assert row[4] >= 0 and row[5] <= 3  # zoom 2 → 4 tiles per side


def test_geocode_ids_past_int64_product_range(spark):
    """Ids whose product with the hash multipliers overflows BIGINT,
    and a negative id, geocode in Spark and in DuckDB (the oracles
    share the SQL), equal to a Python big-int evaluation of the hash."""
    import duckdb

    from tin_terrain_spark.functions import geocode_exprs as GX
    from tin_terrain_spark.operators.geocode import geocode_points

    ids = [3_470_000_000, 5_000_000_000, 2**62, 2**63 - 1, -1]
    mod, hc = 2147483647, GX.HALF_CIRCUMFERENCE

    def u(i, m1, a1, m2, a2):
        return float(((i * m1 + a1) % mod * m2 + a2) % mod) / float(mod)

    want = {
        i: (-hc + 2.0 * hc * u(i, *GX._STREAMS["u1"]),
            -hc + 2.0 * hc * u(i, *GX._STREAMS["u2"]),
            -100.0 + 200.0 * u(i, *GX._STREAMS["u3"]))
        for i in ids
    }
    df = spark.createDataFrame([(i,) for i in ids], "doc_id bigint")
    got = {r.doc_id: (r.x, r.y, r.z_h) for r in geocode_points(df).collect()}
    assert got == want
    sql = (f"SELECT doc_id, {GX.mercator_x_sql('doc_id')}, {GX.mercator_y_sql('doc_id')}, "
           f"{GX.hash_z_sql()} FROM (SELECT unnest(?::BIGINT[]) AS doc_id)")
    rows = duckdb.connect().execute(sql, [ids]).fetchall()
    assert {r[0]: tuple(r[1:]) for r in rows} == want


def test_tile_key_matches_numpy_kernel(points):
    """Column-expression tile keys == NumPy kernel tile keys (the two
    implementations must agree bit-for-bit)."""
    from tin_terrain_spark.kernels import mercator as M

    pdf = points.select("x", "y", "tile_x", "tile_y").toPandas()
    tx, ty = M.meters_to_tile(pdf["x"].to_numpy(), pdf["y"].to_numpy(), 2)
    np.testing.assert_array_equal(tx, pdf["tile_x"].to_numpy())
    np.testing.assert_array_equal(ty, pdf["tile_y"].to_numpy())


def test_mesh_tiles_terra(points):
    from tin_terrain_spark.kernels.codec import decode_qm_tile
    from tin_terrain_spark.operators.meshing import mesh_tiles

    rows = mesh_tiles(points, zoom=2, method="terra", max_error=2.0).collect()
    assert len(rows) == 16
    for r in rows:
        assert r["n_faces"] > 0
        assert r["terrain"] is not None
        t = decode_qm_tile(bytes(r["terrain"]))
        assert len(t.faces) == r["n_faces"]
        assert len(t.u) == r["n_vertices"]
        assert (t.faces < len(t.u)).all()


def test_mesh_error_bound(points):
    """Per-tile max geometric error ≤ max_error + interpolation slack
    (the reference's benchmark oracle, SURVEY §3.3)."""
    from tin_terrain_spark.operators.meshing import mesh_tiles

    rows = (
        mesh_tiles(points, zoom=2, method="terra", max_error=2.0, compute_error=True)
        .select("max_err", "n_points")
        .collect()
    )
    errs = [
        r["max_err"]
        for r in rows
        if r["max_err"] is not None and not np.isnan(r["max_err"]) and r["n_points"] > 10
    ]
    assert errs
    # Terra's bound applies to cells its scanlines visit; on SPARSE
    # rasters isolated cells can sit outside every triangle's scan
    # (the reference behaves identically — its benchmarks use dense
    # DEMs). Require the bound+interp-slack on ≥75% of tiles and a hard
    # sanity ceiling on the rest.
    within = [e for e in errs if e <= 2.0 + 6.0]
    assert len(within) >= 0.75 * len(errs), sorted(errs)[-3:]
    assert max(errs) < 50.0, max(errs)


def test_knn_ring_equals_brute(spark, points):
    import pyspark.sql.functions as F

    from tin_terrain_spark.operators.joins import knn_brute, knn_ring

    queries = points.filter(F.col("doc_id") < 10).select(
        F.col("doc_id").alias("q_id"), "x", "y", "cell_x", "cell_y"
    )
    others = points.filter(F.col("doc_id") >= 10)
    b = {
        (r["q_id"], r["rank"]): r["doc_id"]
        for r in knn_brute(others, queries, k=5).collect()
    }
    g = {
        (r["q_id"], r["rank"]): r["doc_id"]
        for r in knn_ring(others, queries, 2, 5, k=5, initial_ring=2).collect()
    }
    assert b == g


def test_knn_density_ring_equals_brute(spark, points):
    """initial_ring=None → density-derived first ring (or the brute
    short-circuit on tiny corpora); all three variants must agree."""
    import pyspark.sql.functions as F

    from tin_terrain_spark.functions.geocode_exprs import tile_size_meters
    from tin_terrain_spark.operators.joins import knn_brute, knn_hex, knn_ring

    queries = points.filter(F.col("doc_id") < 10).select(
        F.col("doc_id").alias("q_id"), "x", "y", "cell_x", "cell_y"
    )
    others = points.filter(F.col("doc_id") >= 10)
    b = {
        (r["q_id"], r["rank"]): r["doc_id"]
        for r in knn_brute(others, queries, k=5).collect()
    }
    g = {
        (r["q_id"], r["rank"]): r["doc_id"]
        for r in knn_ring(others, queries, 2, 5, k=5).collect()
    }
    assert b == g
    h = {
        (r["q_id"], r["rank"]): r["doc_id"]
        for r in knn_hex(
            others, queries.select("q_id", "x", "y"), tile_size_meters(7)
        ).collect()
    }
    assert b == h
    # explicit small first ring → the iterative path still converges
    h2 = {
        (r["q_id"], r["rank"]): r["doc_id"]
        for r in knn_hex(
            others, queries.select("q_id", "x", "y"), tile_size_meters(7),
            initial_ring=1,
        ).collect()
    }
    assert b == h2
    # a wide first ring (60: 10,981 hex cells a query) is exact too
    sh = {
        (r["q_id"], r["rank"]): r["doc_id"]
        for r in knn_hex(
            others, queries.select("q_id", "x", "y"), tile_size_meters(7),
            initial_ring=60,
        ).collect()
    }
    assert b == sh


def _persisted_rdd_ids(spark) -> set[int]:
    """Ids of the RDDs persisted in the session's context. A no-leak check
    asserts that a call added none (the ids after ⊆ the ids before): a
    count can fall in between, as the context cleaner releases earlier
    tests' checkpoints."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _knn_corpus(spark, kind, k, zoom, grid_bits):
    """Points (doc_id, x, y, cell_x, cell_y) and queries (q_id, x, y,
    cell_x, cell_y) for the degenerate corpora _density_ring branches
    on: collinear (> 32·k points, zero-area bbox), every point
    identical (> 32·k), and tiny (<= 32·k, the brute plan)."""
    import pyspark.sql.functions as F

    from tin_terrain_spark.functions.geocode_exprs import tile_sql

    rng = np.random.default_rng(97)
    n = 32 * k + 40
    if kind == "collinear":
        xs = np.sort(rng.uniform(-5e6, 5e6, n))
        pts = [(i, float(x), 1234.5) for i, x in enumerate(xs)]
        qs = [(i, float(x), 1234.5 + float(dy)) for i, (x, dy) in
              enumerate(zip(rng.uniform(-5e6, 5e6, 6), rng.uniform(-900, 900, 6)))]
    elif kind == "identical":
        pts = [(i, 1.25e6, -2.5e6) for i in range(n)]
        qs = [(i, 1.25e6 + float(dx), -2.5e6 + float(dy)) for i, (dx, dy) in
              enumerate(zip(rng.uniform(-5e3, 5e3, 6), rng.uniform(-5e3, 5e3, 6)))]
    else:
        xy = rng.uniform(-1.5e7, 1.5e7, (32 * k, 2))
        pts = [(i, float(x), float(y)) for i, (x, y) in enumerate(xy)]
        qs = [(i, float(x), float(y)) for i, (x, y) in
              enumerate(rng.uniform(-1.5e7, 1.5e7, (6, 2)))]

    def cells(rows, id_col):
        df = spark.createDataFrame(rows, f"{id_col} BIGINT, x DOUBLE, y DOUBLE")
        return df.select(
            id_col, "x", "y",
            F.expr(tile_sql("x", zoom + grid_bits)).alias("cell_x"),
            F.expr(tile_sql("y", zoom + grid_bits)).alias("cell_y"),
        )

    return cells(pts, "doc_id"), cells(qs, "q_id")


@pytest.mark.parametrize("variant", ["ring_shuffle", "hex"])
@pytest.mark.parametrize("corpus", ["collinear", "identical", "tiny"])
def test_knn_degenerate_corpora_equal_brute(spark, corpus, variant):
    """The density-sizing edge branches — a collinear corpus (1-D
    density), every point identical (ring 1) and a corpus of at most
    32·k points (the brute plan) — each return knn_brute's rows. Every
    plan is lazy: no call leaves an RDD persisted."""
    from tin_terrain_spark.functions.geocode_exprs import tile_size_meters
    from tin_terrain_spark.operators.joins import knn_brute, knn_hex, knn_ring

    k, zoom, grid_bits = 5, 2, 5
    pts, queries = _knn_corpus(spark, corpus, k, zoom, grid_bits)
    persisted = _persisted_rdd_ids(spark)
    if variant == "hex":
        out = knn_hex(pts, queries.select("q_id", "x", "y"),
                      tile_size_meters(zoom + grid_bits))
    else:
        out = knn_ring(pts, queries, zoom, grid_bits, k=k, cell_join="shuffle")
    got = sorted(tuple(r) for r in out.select("q_id", "rank", "doc_id", "dist2").collect())
    want = sorted(
        tuple(r) for r in knn_brute(pts, queries.select("q_id", "x", "y"), k=k)
        .select("q_id", "rank", "doc_id", "dist2").collect()
    )
    assert len(want) == 6 * k and got == want
    assert _persisted_rdd_ids(spark) <= persisted


def test_with_h3_id_packs_axial(spark, points):
    """H3-layout ids over the hex grid: every packed id must be a valid
    cell-mode H3 index that decodes back to its row's axial cell."""
    import pyspark.sql.functions as F

    from tin_terrain_spark.functions.geocode_exprs import tile_size_meters
    from tin_terrain_spark.functions.h3pack import (
        H3_RES, SHIM_BASE_CELL, axial_from_h3, h3_is_valid, unpack_h3, with_h3_id,
    )

    rows = (
        with_h3_id(
            points.select("doc_id", "x", "y").filter(F.col("doc_id") < 100),
            tile_size_meters(7),
        )
        .select("hex_q", "hex_r", "h3_id")
        .collect()
    )
    assert len(rows) == 100
    for r in rows:
        h = r["h3_id"] & 0xFFFFFFFFFFFFFFFF  # BIGINT carrier -> uint64 bits
        assert h3_is_valid(h)
        f = unpack_h3(h)
        assert f["res"] == H3_RES and f["base_cell"] == SHIM_BASE_CELL
        assert axial_from_h3(h) == (r["hex_q"], r["hex_r"])


def test_image_features_real_png_path(spark):
    """PNG payloads run the REAL decoder through the full mapInPandas
    pipeline: pooled features equal the hand-computed column sums of
    the decoded grayscale pixels (not the stub's hash pixels)."""
    import numpy as np

    from tin_terrain_spark.kernels import png as P
    from tin_terrain_spark.operators import multimodal as M
    from tin_terrain_spark.operators.multimodal import image_features

    px = np.tile((np.arange(32, dtype=np.uint8) * 7)[None, :, None], (32, 1, 1))
    payload = P.encode_png(px, filters=4)
    media = spark.createDataFrame(
        [(1, "image", bytearray(payload), 32, 32)],
        "doc_id long, media_type string, payload binary, width int, height int",
    )
    feat = image_features(media).collect()[0]["feature"]
    if not M._HAS_PIL:
        gray = (px[:, :, 0].astype(np.float32)) / 256.0
        expect = gray.sum(axis=0, dtype=np.float64)[:16].astype(np.float32)
        assert feat == pytest.approx(list(expect))
    else:
        assert len(feat) == 16


def test_ann_lsh_recall(spark):
    from tin_terrain_spark.operators.similarity import ann_brute, ann_lsh

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    exact = ann_brute(emb).collect()
    approx = ann_lsh(emb).collect()
    exact_set = {(r["q_id"], r["vec_id"]) for r in exact}
    approx_set = {(r["q_id"], r["vec_id"]) for r in approx}
    # sign-random-projection buckets keep a meaningful share of true
    # neighbors (64-dim random data is a worst case for LSH)
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.1, recall
    # and every returned candidate scores correctly (subset property):
    # approx scores must exist in the exact ranking with equal score
    exact_scores = {(r["q_id"], r["vec_id"]): r["score"] for r in exact}
    for r in approx:
        k = (r["q_id"], r["vec_id"])
        if k in exact_scores:
            assert abs(exact_scores[k] - r["score"]) < 1e-9


def test_pipeline_resume(spark, tmp_path):
    from tin_terrain_spark.pipeline.dem2tintiles import build_tile_pyramid, read_manifest

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = str(tmp_path / "tiles")
    m1 = build_tile_pyramid(spark, docs, out, min_zoom=1, max_zoom=2, method="dense")
    assert set(m1.keys()) == {1, 2}
    secs_first = {z: m1[z]["seconds"] for z in m1}
    # resume: nothing recomputed (manifest + _SUCCESS present)
    m2 = build_tile_pyramid(spark, docs, out, min_zoom=1, max_zoom=2, method="dense")
    assert {z: m2[z]["seconds"] for z in m2} == secs_first
    # tiles written and readable, partitioned per zoom
    t1 = spark.read.parquet(f"{out}/zoom=1")
    assert t1.count() == m1[1]["n_tiles"]
    assert read_manifest(out)[2]["n_tiles"] == m1[2]["n_tiles"]


# The pyramid's parquet sink: one write action per zoom, tile counts
# taken from that write, and reruns, resumes and empty inputs held to
# independent counts (a fresh build, a re-read of the written store),
# never to pinned values.
PYRAMID_ZOOMS = (1, 2)
# Jobs of one build_tile_pyramid over zooms 1-2 into a fresh directory.
# AQE runs every shuffle map stage as its own job, and reading a
# persisted relation the first time fills it in one more:
#   base_cells: 1 (scan + geocode + partial aggregate) + 1 (fill the
#     persisted cells)
#   per zoom: 1 (cell_grid → repartition map stage) + 1 (sort +
#     mapInPandas + parquet write, the observed count included), plus
#     1 rollup map stage below max_zoom
# = 2 + 2 + 3 = 7. Counting each zoom by re-reading it cost 3 more jobs
# a zoom (footer schema, count map stage, count result): 13.
PYRAMID_MAX_JOBS = 7


def _pyramid(spark, out, docs=None, resume=False, catalog=None):
    from tin_terrain_spark.pipeline.dem2tintiles import build_tile_pyramid

    if docs is None:
        docs = spark.read.parquet(f"{SF}/documents.parquet")
    return build_tile_pyramid(spark, docs, out, min_zoom=PYRAMID_ZOOMS[0],
                              max_zoom=PYRAMID_ZOOMS[1], resume=resume,
                              catalog=catalog)


def _zoom_rows(spark, out, zoom) -> list[str]:
    # NaN != NaN and bytearrays do not hash: compare as repr strings
    return sorted(repr(tuple(r)) for r in spark.read.parquet(f"{out}/zoom={zoom}").collect())


def _assert_counts_match_store(spark, out):
    from tin_terrain_spark.pipeline.dem2tintiles import read_manifest

    for z, e in read_manifest(out).items():
        assert e["n_tiles"] == spark.read.parquet(f"{out}/zoom={z}").count(), z


def test_pyramid_job_bound(spark, tmp_path):
    """A pyramid build runs at most PYRAMID_MAX_JOBS Spark jobs: none of
    them reads the written tiles back."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")  # a footer job
    sc = spark.sparkContext
    group = "pyramid_job_bound"
    sc.setJobGroup(group, "build_tile_pyramid, zooms 1-2")
    try:
        m = _pyramid(spark, str(tmp_path / "p"), docs=docs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert set(m) == set(PYRAMID_ZOOMS)
    assert n_jobs <= PYRAMID_MAX_JOBS, f"{n_jobs} jobs, bound {PYRAMID_MAX_JOBS}"


def test_pyramid_rerun_equals_fresh_build(spark, tmp_path):
    """Two resume=False builds into one directory leave every zoom
    equal, row for row, to one build into a fresh directory, and every
    manifest count equals a re-read of its zoom."""
    rerun, fresh = str(tmp_path / "rerun"), str(tmp_path / "fresh")
    _pyramid(spark, rerun)
    _pyramid(spark, rerun)
    _pyramid(spark, fresh)
    for z in PYRAMID_ZOOMS:
        assert _zoom_rows(spark, rerun, z) == _zoom_rows(spark, fresh, z)
    _assert_counts_match_store(spark, rerun)
    _assert_counts_match_store(spark, fresh)


def test_pyramid_resume_recomputes_only_unmarked_zoom(spark, tmp_path):
    """With resume=True, a zoom whose _SUCCESS marker is gone is built
    again — its manifest `seconds` change, its tiles do not — and every
    other zoom is skipped."""
    out = str(tmp_path / "p")
    first = _pyramid(spark, out, resume=True)
    before = _zoom_rows(spark, out, 2)
    os.remove(os.path.join(out, "zoom=2", "_SUCCESS"))
    second = _pyramid(spark, out, resume=True)
    assert second[1]["seconds"] == first[1]["seconds"]
    assert second[2]["seconds"] != first[2]["seconds"]
    assert _zoom_rows(spark, out, 2) == before
    _assert_counts_match_store(spark, out)


def test_pyramid_empty_input(spark, tmp_path):
    """An input of 0 rows writes 0 tiles at every zoom, and says so, in
    the parquet store and through a tile catalog."""
    from tin_terrain_spark.sources.iceberg import LocalTileCatalog

    empty = spark.read.parquet(f"{SF}/documents.parquet").limit(0)
    none = {z: 0 for z in PYRAMID_ZOOMS}
    out = str(tmp_path / "p")
    m = _pyramid(spark, out, docs=empty)
    assert {z: e["n_tiles"] for z, e in m.items()} == none
    _assert_counts_match_store(spark, out)
    cat = LocalTileCatalog(spark, str(tmp_path / "cat"))
    m = _pyramid(spark, str(tmp_path / "c"), docs=empty, catalog=cat)
    assert {z: e["n_tiles"] for z, e in m.items()} == none
    assert cat.read().count() == 0


@pytest.mark.parametrize("method", ["terra", "zemlya", "dense"])
def test_pyramid_single_page_blobs_finite(spark, tmp_path, method):
    """One page through the pyramid: every stored tile has finite
    min/max heights, and its blob decodes to finite header heights and
    the row's face count."""
    from tin_terrain_spark.kernels.codec import decode_qm_tile
    from tin_terrain_spark.pipeline.dem2tintiles import build_tile_pyramid

    page = spark.read.parquet(f"{SF}/documents.parquet").limit(1)
    out = str(tmp_path / "p")
    build_tile_pyramid(spark, page, out, min_zoom=3, max_zoom=4, method=method)
    rows = spark.read.parquet(out).collect()
    assert rows and all(r["terrain"] is not None for r in rows)
    for r in rows:
        assert np.isfinite([r["min_z"], r["max_z"]]).all(), r["zoom"]
        t = decode_qm_tile(bytes(r["terrain"]))
        assert np.isfinite([t.min_height, t.max_height]).all(), r["zoom"]
        assert len(t.faces) == r["n_faces"]


def test_mesh_tiles_single_point(spark):
    """One geocoded point through mesh_tiles: its own tile counts the
    point, and every tile it reaches (border buffer included) carries a
    blob that decodes to its row's counts with finite heights."""
    from tin_terrain_spark.kernels.codec import decode_qm_tile
    from tin_terrain_spark.operators.geocode import geocode_points
    from tin_terrain_spark.operators.meshing import mesh_tiles

    pts = geocode_points(spark.range(1).withColumnRenamed("id", "doc_id"), zoom=3)
    own = pts.select("tile_x", "tile_y").first()
    rows = mesh_tiles(pts, zoom=3).collect()
    assert {(r.tile_x, r.tile_y) for r in rows} >= {(own.tile_x, own.tile_y)}
    for r in rows:
        mine = (r.tile_x, r.tile_y) == (own.tile_x, own.tile_y)
        assert (r.n_points, r.n_cells) == ((1 if mine else 0), 1)
        assert np.isfinite([r.min_z, r.max_z]).all()
        t = decode_qm_tile(bytes(r.terrain))
        assert (len(t.u), len(t.faces)) == (r.n_vertices, r.n_faces)
        assert np.isfinite([t.min_height, t.max_height]).all()


def test_hot_cell_kernel_input_bounded(spark):
    """20,000 points in one cell (beside a tile corner, so it fans out
    to four tiles) over a sparse background: every tile's kernel input
    stays at most (2^grid_bits + 2b)^2 rows, and each tile's cell and
    point counts equal a NumPy twin of the aggregation and fan-out."""
    import pyspark.sql.functions as F

    from tin_terrain_spark.operators.meshing import mesh_tiles

    zoom, bits, b, n_hot, n_bg = 2, 5, 2, 20_000, 500
    g, side = 1 << bits, 1 << (zoom + bits)
    hot = spark.range(n_hot).select(
        F.lit(g).cast("bigint").alias("cell_x"), F.lit(g).cast("bigint").alias("cell_y"),
        (F.col("id") % 7).cast("double").alias("z"))
    bg = spark.range(n_bg).select(
        (F.col("id") * 37 % side).alias("cell_x"), (F.col("id") * 53 % side).alias("cell_y"),
        (F.col("id") % 11).cast("double").alias("z"))
    got = {(r.tile_x, r.tile_y): (r.n_cells, r.n_points)
           for r in mesh_tiles(hot.union(bg), zoom=zoom, grid_bits=bits,
                               buffer_cells=b).collect()}

    ids = np.arange(n_bg)
    cx = np.concatenate([np.full(n_hot, g), ids * 37 % side])
    cy = np.concatenate([np.full(n_hot, g), ids * 53 % side])
    cells, counts = np.unique(np.stack([cx, cy], axis=1), axis=0, return_counts=True)
    want: dict = {}
    for (x, y), c in zip(cells.tolist(), counts.tolist()):
        tx, ty, col, row = x // g, y // g, x % g, y % g
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                near_x = dx == 0 or (dx == -1 and col < b) or (dx == 1 and col >= g - b)
                near_y = dy == 0 or (dy == -1 and row < b) or (dy == 1 and row >= g - b)
                t = (tx + dx, ty + dy)
                if near_x and near_y and 0 <= t[0] < side // g and 0 <= t[1] < side // g:
                    n_cells, n_points = want.get(t, (0, 0))
                    want[t] = (n_cells + 1, n_points + (c if dx == dy == 0 else 0))
    assert got == want
    assert max(n for n, _ in got.values()) <= (g + 2 * b) ** 2
    assert got[(1, 1)][1] >= n_hot and all((t in got) for t in ((0, 0), (0, 1), (1, 0)))


def test_connected_components_transitive(spark):
    """CC over pairs: A~B~C one cluster WITHOUT an A~C edge; chains,
    a long path (pointer-jump convergence), and isolated pairs. The
    result is a plan: the call and its collect cache no relation."""
    from tin_terrain_spark.operators.dedup import connected_components

    # components: {1,2,3} (path), {10,11} (edge), {20..29} (long chain)
    chain = [(i, i + 1) for i in range(20, 29)]
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)] + chain, "doc_a long, doc_b long"
    )
    cache = spark._jsparkSession.sharedState().cacheManager()
    n_cached = cache.numCachedEntries()
    rows = connected_components(pairs).collect()
    assert cache.numCachedEntries() == n_cached
    got = {r["doc_id"]: (r["cluster_id"], r["cluster_size"]) for r in rows}
    assert got[1] == (1, 3) and got[2] == (1, 3) and got[3] == (1, 3)
    assert got[10] == (10, 2) and got[11] == (10, 2)
    for v in range(20, 30):
        assert got[v] == (20, 10), v
    assert len(got) == 15


def test_pipeline_catalog_tile_resume(spark, tmp_path):
    """Pipeline sink through the TileCatalog: resume is TILE-granular —
    pre-merged keys are anti-joined out of the work grid and NOT
    recomputed (their rows survive untouched), missing tiles are
    meshed and merged in."""
    import pyspark.sql.functions as F

    from tin_terrain_spark.pipeline.dem2tintiles import build_tile_pyramid
    from tin_terrain_spark.sources.iceberg import LocalTileCatalog

    docs = spark.read.parquet(f"{SF}/documents.parquet")

    # full build through the catalog
    cat = LocalTileCatalog(spark, str(tmp_path / "cat"))
    m = build_tile_pyramid(
        spark, docs, str(tmp_path / "o1"), min_zoom=2, max_zoom=2,
        method="dense", catalog=cat,
    )
    full = cat.read().where("zoom = 2")
    n_full = full.count()
    assert n_full == m[2]["n_tiles"] > 4

    # new catalog pre-seeded with a sentinel row for one real tile key:
    # the pipeline must SKIP that tile (anti-join), so the sentinel
    # survives and every other tile matches the full build
    k = full.select("tile_x", "tile_y").orderBy("tile_x", "tile_y").first()
    cat2 = LocalTileCatalog(spark, str(tmp_path / "cat2"))
    sentinel = (
        full.filter(
            (F.col("tile_x") == k["tile_x"]) & (F.col("tile_y") == k["tile_y"])
        )
        .withColumn("n_points", F.lit(-777).cast("long"))
    )
    cat2.merge(sentinel)
    build_tile_pyramid(
        spark, docs, str(tmp_path / "o2"), min_zoom=2, max_zoom=2,
        method="dense", catalog=cat2,
    )
    got = cat2.read().where("zoom = 2")
    assert got.count() == n_full
    kept = got.filter(
        (F.col("tile_x") == k["tile_x"]) & (F.col("tile_y") == k["tile_y"])
    ).first()
    assert kept["n_points"] == -777  # skipped, not recomputed


def test_asc_xyz_spark_sources(spark, tmp_path):
    """ASC and XYZ granules ingest distributed (binaryFile → cells) and
    feed the same tile pipeline as GeoTIFF."""
    import numpy as np

    from tin_terrain_spark.kernels.meshio import format_asc
    from tin_terrain_spark.kernels.raster import Grid
    from tin_terrain_spark.operators.meshing import mesh_tiles
    from tin_terrain_spark.sources.geotiff import assign_tile_keys
    from tin_terrain_spark.sources.textgrids import asc_cells, xyz_cells

    rng = np.random.RandomState(4)
    z = rng.rand(8, 8) * 50
    z[0, 0] = -99999.0  # nodata dropped at source
    g = Grid(z.copy(), xpos=100.0, ypos=200.0, cellsize=10.0, ndv=-99999.0)
    (tmp_path / "a.asc").write_text(format_asc(g))
    cells = asc_cells(spark, str(tmp_path / "a.asc"))
    rows = cells.collect()
    assert len(rows) == 63  # 64 - nodata
    assert all(r["z"] != -99999.0 for r in rows)

    (tmp_path / "p.xyz").write_text(
        "1 2 3\n4 5 6\nbad line\n7 8 99999\n10 11 12\n"
    )
    pts = xyz_cells(spark, str(tmp_path / "p.xyz"))
    got = sorted((r["x"], r["y"], r["z"]) for r in pts.collect())
    assert got == [(1.0, 2.0, 3.0), (4.0, 5.0, 6.0), (10.0, 11.0, 12.0)]

    # e2e: keys + mesh on the asc cells (world coords are tiny, all in
    # one tile at zoom 0)
    keyed = assign_tile_keys(cells, zoom=0, grid_bits=3)
    tiles = mesh_tiles(keyed, zoom=0, grid_bits=3, method="dense", step=2,
                       buffer_cells=0)
    t = tiles.collect()
    assert len(t) >= 1 and all(r["n_faces"] > 0 for r in t)


def test_golden_tile_counts(spark, points):
    """Frozen golden per-tile counts at sf0.001 zoom 2 (FIXTURES.md §4
    tiles_golden): any change to geocoding, gridding, buffering, or the
    mesh kernels that shifts tile assignment or mesh size trips this."""
    import json
    import os

    from tin_terrain_spark.operators.meshing import mesh_tiles

    with open(os.path.join(os.path.dirname(__file__), "golden_tiles_sf0001_z2.json")) as f:
        golden = json.load(f)
    for method, kw in [
        ("terra", {"max_error": 2.0}),
        ("zemlya", {"max_error": 2.0}),
        ("dense", {"step": 2, "buffer_cells": 0}),
    ]:
        rows = (
            mesh_tiles(points, zoom=2, grid_bits=5, method=method, **kw)
            .select("tile_x", "tile_y", "n_points", "n_vertices", "n_faces")
            .collect()
        )
        got = sorted([[r[0], r[1], r[2], r[3], r[4]] for r in rows])
        assert got == golden[method], f"{method} golden mismatch"


def test_ann_ivf_recall(spark):
    from tin_terrain_spark.operators.similarity import ann_brute, ann_ivf

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    exact = ann_brute(emb).collect()
    approx = ann_ivf(emb).collect()
    exact_set = {(r["q_id"], r["vec_id"]) for r in exact}
    approx_set = {(r["q_id"], r["vec_id"]) for r in approx}
    # probing 4 of 16 inverted lists scans ~25% of the corpus but the
    # lists are locality-clustered: recall must beat the scan fraction
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.3, recall
    # scores of returned candidates match the exact ranking
    exact_scores = {(r["q_id"], r["vec_id"]): r["score"] for r in exact}
    for r in approx:
        key = (r["q_id"], r["vec_id"])
        if key in exact_scores:
            assert abs(r["score"] - exact_scores[key]) < 1e-9


def test_lsh_hot_bucket_star(spark):
    """A degenerate bucket (identical boilerplate docs > BUCKET_CAP)
    must still connect the whole cluster — as a hub star (O(bucket)
    pairs), never O(n²), and never dropped."""
    from tin_terrain_spark.operators.dedup import BUCKET_CAP, lsh_candidates

    n_hot = BUCKET_CAP + 10
    uniq = 10_000  # ids of the unrelated docs, above every hot id
    rows = [(i, "the same boilerplate page text repeated verbatim here") for i in range(n_hot)]
    rows += [(uniq + i, f"unique document number {i} with its own words entirely") for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    pairs = lsh_candidates(docs).collect()
    hot = [(p.doc_a, p.doc_b) for p in pairs if p.doc_a < uniq and p.doc_b < uniq]
    # star: exactly n_hot-1 pairs, all anchored at the min id
    assert len(hot) == n_hot - 1
    assert all(a == 0 for a, _ in hot)
    assert sorted(b for _, b in hot) == list(range(1, n_hot))


def test_lsh_bucket_cap_edges_equal_brute(spark):
    """Buckets of exactly BUCKET_CAP and BUCKET_CAP + 1 identical docs,
    against a brute-force expectation built on the driver from the band
    table: the capped bucket returns all C(100, 2) pairs, the one past
    the cap the 100-pair star anchored at its minimum id."""
    from itertools import combinations

    from tin_terrain_spark.operators.dedup import BUCKET_CAP, band_keys, lsh_candidates

    rng = np.random.default_rng(97)
    ids = rng.permutation(np.arange(10, 10 + 2 * BUCKET_CAP + 1)).tolist()
    at_cap, past_cap = sorted(ids[:BUCKET_CAP]), sorted(ids[BUCKET_CAP:])
    rows = [(i, "one boilerplate page kept verbatim under the cap") for i in at_cap]
    rows += [(i, "another boilerplate page repeated one time past the cap") for i in past_cap]
    rows += [(5000 + i, f"unique document number {i} with its own words entirely") for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")

    buckets = {}
    for r in band_keys(docs).collect():
        buckets.setdefault((r.band, r.band_key), []).append(r.doc_id)
    want = set()
    for members in buckets.values():
        members = sorted(members)
        if len(members) <= BUCKET_CAP:
            want |= set(combinations(members, 2))
        else:
            want |= {(members[0], m) for m in members[1:]}
    got = {(p.doc_a, p.doc_b) for p in lsh_candidates(docs).collect()}
    assert got == want

    full = set(combinations(at_cap, 2))
    assert {p for p in got if p[0] in at_cap} == full and len(full) == 4950
    star = {p for p in got if p[0] in past_cap}
    assert star == {(past_cap[0], m) for m in past_cap[1:]} and len(star) == 100


def _shingle_set(text, n=3):
    toks = text.split(" ")
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def test_store_probe_hot_bucket_equals_brute_jaccard(spark):
    """dedup_against_store against a store holding a hot LSH bucket
    (BUCKET_CAP + 20 identical docs), near duplicates and unrelated
    docs, checked against a brute-force shingle-set Jaccard: every
    duplicate verdict names the smallest qualifying store doc with its
    exact Jaccard, verbatim copies are always caught, and every doc
    with no qualifying store doc is admitted."""
    from tin_terrain_spark.operators.dedup import (
        BUCKET_CAP, band_keys, dedup_against_store, shingles_df,
    )

    rng = np.random.default_rng(431)

    def fresh():
        return [f"w{t}" for t in rng.integers(0, 3000, int(rng.integers(20, 40)))]

    def perturb(toks):
        out = list(toks)
        out[int(rng.integers(0, len(out)))] = f"w{int(rng.integers(0, 3000))}"
        return out

    hot = " ".join(fresh())
    store = {i: hot for i in range(BUCKET_CAP + 20)}
    originals = [fresh() for _ in range(15)]
    for t in originals:
        store[1000 + len(store)] = " ".join(t)
    for t in originals[:8]:
        store[1000 + len(store)] = " ".join(perturb(t))
    for _ in range(25):
        store[1000 + len(store)] = " ".join(fresh())

    verbatim = {5000: hot, 5001: store[1000 + BUCKET_CAP + 20]}
    probe = dict(verbatim)
    for t in originals:
        probe[5000 + len(probe)] = " ".join(perturb(t))
    for _ in range(15):
        probe[5000 + len(probe)] = " ".join(fresh())

    def df(docs):
        return spark.createDataFrame(sorted(docs.items()), "doc_id BIGINT, text STRING")

    store_df, probe_df = df(store), df(probe)
    out = {
        r.doc_id: r
        for r in dedup_against_store(
            probe_df, band_keys(store_df), shingles_df(store_df), 0.5
        ).collect()
    }
    assert set(out) == set(probe)

    sets = {d: _shingle_set(t) for d, t in store.items()}
    for d, text in probe.items():
        a = _shingle_set(text)
        qualifying = {}
        for s_id, b in sets.items():
            n_inter = len(a & b)
            jac = round(n_inter / (len(a) + len(b) - n_inter), 6)
            if n_inter >= 1 and jac >= 0.5:
                qualifying[s_id] = jac
        r = out[d]
        if r.is_dup:
            best = min(qualifying)
            assert (r.dup_of, r.jaccard) == (best, qualifying[best]), d
        else:
            assert r.dup_of is None and r.jaccard is None
        if not qualifying:
            assert not r.is_dup, d
        if d in verbatim:
            assert r.is_dup and r.jaccard == 1.0, d
    assert out[5000].dup_of == 0


@pytest.mark.parametrize("empty", ["queries", "points"])
def test_knn_empty_inputs_equal_brute(spark, points, empty):
    """0 queries (the ring round runs) or 0 points (the brute plan):
    knn_ring and knn_hex return knn_brute's rows."""
    import pyspark.sql.functions as F

    from tin_terrain_spark.functions.geocode_exprs import tile_size_meters
    from tin_terrain_spark.operators.joins import knn_brute, knn_hex, knn_ring

    pts = points.select("doc_id", "x", "y", "cell_x", "cell_y")
    queries = pts.select(F.col("doc_id").alias("q_id"), "x", "y", "cell_x", "cell_y")
    if empty == "queries":
        queries = queries.limit(0)
    else:
        pts = pts.limit(0)
    cols = ("q_id", "rank", "doc_id", "dist2")
    want = sorted(
        tuple(r) for r in knn_brute(pts, queries.select("q_id", "x", "y"), k=5)
        .select(*cols).collect()
    )
    for out in (knn_ring(pts, queries, 2, 5, k=5),
                knn_hex(pts, queries.select("q_id", "x", "y"), tile_size_meters(7))):
        assert sorted(tuple(r) for r in out.select(*cols).collect()) == want


def test_empty_catalog_inputs(spark, points):
    """pip_join with 0 boxes, near_dup_pairs on a 0-doc batch, and
    dedup_against_store with 0 new docs return no rows; against an
    empty store every new doc is admitted (is_dup false, no dup_of)."""
    from tin_terrain_spark.operators.dedup import (
        band_keys, dedup_against_store, near_dup_pairs, shingles_df,
    )
    from tin_terrain_spark.operators.joins import pip_join

    boxes = spark.createDataFrame(
        [], "poly_id BIGINT, pmin_x DOUBLE, pmax_x DOUBLE, pmin_y DOUBLE, pmax_y DOUBLE"
    )
    assert pip_join(points, boxes, zoom=2).count() == 0

    docs = spark.createDataFrame(
        [(1, "a page about hills and valleys"), (2, "a page about hills and valleys"),
         (3, "another page entirely")],
        "doc_id BIGINT, text STRING",
    )
    none = docs.limit(0)
    assert near_dup_pairs(none).count() == 0
    store = (band_keys(none), shingles_df(none))
    out = dedup_against_store(docs, *store).collect()
    assert sorted(r.doc_id for r in out) == [1, 2, 3]
    assert all(not r.is_dup and r.dup_of is None for r in out)
    full = (band_keys(docs), shingles_df(docs))
    assert dedup_against_store(none, *full).count() == 0


def test_short_doc_shingles(spark):
    """Docs shorter than NGRAM tokens get a whole-doc shingle: verbatim
    short duplicates must reach near-dup output (jaccard 1.0)."""
    from tin_terrain_spark.operators.dedup import near_dup_pairs, shingles_df

    docs = spark.createDataFrame(
        [(1, "short doc"), (2, "short doc"), (3, "другой"), (4, "a much longer document with many words")],
        "doc_id BIGINT, text STRING",
    )
    sh = shingles_df(docs).collect()
    assert {r.doc_id for r in sh} == {1, 2, 3, 4}
    nd = near_dup_pairs(docs).collect()
    assert any(r.doc_a == 1 and r.doc_b == 2 and r.jaccard == 1.0 for r in nd)


def _canon_rows(df) -> list[str]:
    # NaN != NaN and bytearrays do not hash: compare as repr strings
    return sorted(repr(tuple(r)) for r in df.collect())


def test_stream_kernel_equals_grouped_kernel(spark, points):
    """The streaming mapInArrow mesh stage must produce byte-identical
    rows — terrain blobs included — to a driver-side reference that
    groups the collected cell grid per tile in pandas and calls the
    tile kernel once per tile; the reference's NaN (DOUBLE) and None
    (BOOLEAN, BINARY) come back as SQL NULL. A 7-row Arrow batch makes
    every data tile's rows span several batches, so the carry-over path
    runs too. Two tiles beyond the data's add the degenerate rows: a
    one-cell tile (curvature inserts no vertex: NULL min_z, max_z,
    terrain and checks) and an all-no-data tile (NULL max_err)."""
    from tin_terrain_spark.operators.meshing import (
        TILE_SCHEMA, _make_tile_fn, cell_grid, mesh_cells,
    )

    names = [f.split()[0] for f in TILE_SCHEMA.split(",")]
    extra = spark.createDataFrame(
        [(4, 0, 5, 5, 3.0, 1), (4, 1, 5, 5, float("nan"), 1), (4, 1, 6, 6, float("nan"), 2)],
        "tile_x BIGINT, tile_y BIGINT, row_b INT, col_b INT, z_sum DOUBLE, z_cnt BIGINT")
    grid = cell_grid(points, zoom=2, grid_bits=5, buffer_cells=2).unionByName(extra)
    pdf = grid.toPandas()
    assert min(pdf.groupby(["tile_x", "tile_y"]).size().iloc[:16]) > 7

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    runs = [(m, batch, err) for m in ("terra", "curvature")
            for batch, err in ((None, True), ("7", True), (None, False))]
    for method, batch, compute_error in runs:
        tile_fn = _make_tile_fn(2, 5, 2, method, 2.0, 1, compute_error, True)
        ref = {}
        for (tx, ty), g in pdf.groupby(["tile_x", "tile_y"]):
            d = tile_fn(int(tx), int(ty), g["row_b"].to_numpy(), g["col_b"].to_numpy(),
                        g["z_sum"].to_numpy(), g["z_cnt"].to_numpy())
            ref[(int(tx), int(ty))] = {c: d[c] for c in names}
        assert len(ref) == 18
        if batch:
            spark.conf.set(key, batch)
        try:
            got = {
                (r["tile_x"], r["tile_y"]): r.asDict()
                for r in mesh_cells(grid, 2, method=method, max_error=2.0,
                                    compute_error=compute_error).collect()
            }
        finally:
            spark.conf.unset(key)
        run = (method, batch, compute_error)
        assert set(got) == set(ref), run
        for k, row in got.items():
            for col, v in row.items():
                rv = ref[k][col]
                if rv is None or (isinstance(rv, float) and np.isnan(rv)):
                    assert v is None, (run, k, col)
                else:
                    assert v == rv, (run, k, col)
        if not compute_error:
            assert all(row[c] is None for row in got.values()
                       for c in ("euler_ok", "verts_on_grid_ok", "cover_ok")), run
        assert got[(4, 1)]["max_err"] is None, run
        if method == "curvature":
            lone = got[(4, 0)]
            assert lone["n_vertices"] == 0, run
            assert [lone[c] for c in ("min_z", "max_z", "terrain", "euler_ok")] == [None] * 4


def test_stream_kernel_through_map_in_pandas(spark, points):
    """The pandas boundary: _make_stream_kernel driven by mapInPandas,
    as perfbench's traced probe drives it (and with 7-row batches, so
    the carry-over runs there too), returns mesh_cells' rows."""
    from tin_terrain_spark.operators.meshing import (
        TILE_SCHEMA, _make_stream_kernel, cell_grid, mesh_cells,
    )

    grid = cell_grid(points, zoom=2, grid_bits=5, buffer_cells=2)
    want = _canon_rows(mesh_cells(grid, 2, max_error=2.0))
    kernel = _make_stream_kernel(2, 5, 2, "terra", 2.0, 1, False, True)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    for batch in (None, "7"):
        if batch:
            spark.conf.set(key, batch)
        try:
            got = _canon_rows(
                grid.repartition(4, "tile_x", "tile_y")
                .sortWithinPartitions("tile_x", "tile_y")
                .mapInPandas(kernel, TILE_SCHEMA))
        finally:
            spark.conf.unset(key)
        assert len(got) == 16 and got == want, batch


def test_mesh_null_z_sum_is_no_data(spark, points):
    """A grid row whose z_sum is NULL meshes exactly like one whose
    z_sum is NaN: a no-data cell."""
    import pyspark.sql.functions as F

    from tin_terrain_spark.operators.meshing import cell_grid, mesh_cells

    grid = cell_grid(points, zoom=2, grid_bits=5, buffer_cells=2)
    blank = F.col("row_b") % 3 == 0

    def with_z(v):
        return grid.withColumn("z_sum", F.when(blank, v).otherwise(F.col("z_sum")))

    nulled = with_z(F.lit(None).cast("double"))
    assert nulled.where(F.col("z_sum").isNull()).count() > 0
    got = _canon_rows(mesh_cells(nulled, 2))
    assert got == _canon_rows(mesh_cells(with_z(F.lit(float("nan"))), 2))
    assert got != _canon_rows(mesh_cells(grid, 2))


@pytest.mark.parametrize("col", ["tile_y", "row_b", "z_cnt"])
def test_mesh_null_integer_grid_column_raises(spark, points, col):
    """A NULL in an integer grid column has no no-data reading: the
    mesh stage fails with a ValueError naming the column."""
    import pyspark.sql.functions as F

    from tin_terrain_spark.operators.meshing import cell_grid, mesh_cells

    grid = cell_grid(points, zoom=2, grid_bits=5, buffer_cells=2)
    bad = grid.withColumn(col, F.when(F.col("col_b") == 7, F.lit(None)).otherwise(F.col(col)))
    with pytest.raises(Exception, match=f"ValueError: grid column '{col}'"):
        mesh_cells(bad, 2).collect()


def test_mesh_stage_rejects_unsupported_output_type(points):
    """Output columns are built from buffers for INT, BIGINT, DOUBLE,
    BOOLEAN and BINARY only; any other type fails on the driver."""
    from tin_terrain_spark.operators.meshing import cell_grid, mesh_cells

    grid = cell_grid(points, zoom=2, grid_bits=5, buffer_cells=2)
    with pytest.raises(ValueError, match="'tile_x' of type STRING"):
        mesh_cells(grid, 2, columns="tile_x STRING, n_faces INT")


def test_grid_column_reads_offset_and_nulls():
    """_grid_column reads a sliced Arrow batch (non-zero offsets) with
    NULLs as pandas reads it: NULL doubles as NaN, values from the
    slice's offset on."""
    import pyarrow as pa

    from tin_terrain_spark.operators.meshing import _grid_column

    z = [1.5, None, 2.5, None, 4.0, 5.0, None, 7.0, 8.0, 9.5, None]
    batch = pa.RecordBatch.from_arrays(
        [pa.array(z, pa.float64()), pa.array(range(11), pa.int32())], names=["z", "i"])
    for start in (0, 1, 3, 9):
        part = batch.slice(start)
        np.testing.assert_array_equal(_grid_column(part, "z"),
                                      part.to_pandas()["z"].to_numpy())
        np.testing.assert_array_equal(_grid_column(part, "i"), np.arange(start, 11))


def test_pyramid_honours_step(spark, tmp_path):
    """A dense pyramid meshes with the caller's step: its max-zoom
    tiles equal mesh_tiles at that zoom with the same step (both build
    the zoom from the same base cells, no rollup)."""
    from tin_terrain_spark.operators.geocode import geocode_points
    from tin_terrain_spark.operators.meshing import mesh_tiles
    from tin_terrain_spark.pipeline.dem2tintiles import build_tile_pyramid

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = str(tmp_path / "tiles")
    build_tile_pyramid(spark, docs, out, min_zoom=2, max_zoom=2, method="dense",
                       step=2, resume=False)

    pyr = _canon_rows(spark.read.parquet(f"{out}/zoom=2"))
    pts = geocode_points(docs, zoom=2, grid_bits=5)
    ref = _canon_rows(mesh_tiles(pts, zoom=2, method="dense", step=2))
    assert len(ref) == 16 and pyr == ref


def test_unknown_method_fails_on_driver(spark, points, tmp_path):
    """An unknown method is rejected before any Spark job, naming it."""
    from tin_terrain_spark.operators.meshing import mesh_tiles
    from tin_terrain_spark.pipeline.dem2tintiles import build_tile_pyramid

    with pytest.raises(ValueError, match="'nope'"):
        mesh_tiles(points, 1, method="nope")
    out = str(tmp_path / "never")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    with pytest.raises(ValueError, match="'nope'"):
        build_tile_pyramid(spark, docs, out, method="nope")
    assert not os.path.exists(out)


def test_quality_filter_keep_is_boolean_for_tiny_docs(spark, monkeypatch):
    """Docs with <2 tokens produce no bigrams; top_bigram_frac comes
    back NULL from rep_signals' left join. `keep` must still be a real
    boolean for every row, for ANY MIN_TOKENS — including <=1 where
    the length rule no longer masks the NULL via false AND NULL."""
    from tin_terrain_spark.operators import textops

    monkeypatch.setattr(textops, "MIN_TOKENS", 1)
    docs = spark.createDataFrame(
        [(1, "one"), (2, "two words"), (3, "a a a a a a a a a a")],
        "doc_id BIGINT, text STRING",
    )
    rows = {r.doc_id: r for r in textops.quality_filter(docs).collect()}
    for did, r in rows.items():
        assert r.keep is not None, f"doc {did}: keep is NULL"
        assert r.ok_top_bigram is not None, f"doc {did}: ok_top_bigram is NULL"
    # the 1-token doc has no bigram repetition to object to
    assert rows[1].ok_top_bigram is True
    # doc 3 fails distinct/top-token rules but boolean-ly so
    assert rows[3].keep is False


def test_connected_components_log_diameter_rounds(spark):
    """Pointer jumping bounds CC rounds by ~log2(diameter), not
    O(diameter): a 512-vertex chain (diameter 511) must converge in
    <= ceil(log2(511)) + 2 = 11 rounds (measured: 10), where plain
    min-label propagation would need ~511. A star must converge in 2
    (one propagate + one fixpoint confirm)."""
    import math

    from tin_terrain_spark.operators.dedup import connected_components

    n = 512
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a BIGINT, doc_b BIGINT"
    )
    st = {}
    out = connected_components(chain, stats=st).collect()
    assert len(out) == n
    assert all(r.cluster_id == 0 and r.cluster_size == n for r in out)
    assert 4 <= st["rounds"] <= math.ceil(math.log2(n - 1)) + 2

    star = spark.createDataFrame(
        [(0, i) for i in range(1, 40)], "doc_a BIGINT, doc_b BIGINT"
    )
    st = {}
    out = connected_components(star, stats=st).collect()
    assert all(r.cluster_id == 0 and r.cluster_size == 40 for r in out)
    assert st["rounds"] == 2


def test_image_features_16bit_and_palette_png_path(spark):
    """16-bit grayscale and palette PNGs run the REAL decoder through
    the full mapInPandas pipeline (not the stub): features equal the
    hand-computed pooled sums of the decoded grayscale pixels."""
    import numpy as np

    from tin_terrain_spark.kernels import png as P
    from tin_terrain_spark.operators import multimodal as M
    from tin_terrain_spark.operators.multimodal import image_features

    if M._HAS_PIL:
        pytest.skip("PIL present: real-library path covered elsewhere")

    rng = np.random.RandomState(11)
    px16 = (rng.randint(0, 65536, size=(32, 32, 1))).astype(np.uint16)
    pal = rng.randint(0, 256, size=(23, 3)).astype(np.uint8)
    idx = rng.randint(0, 23, size=(32, 32)).astype(np.uint8)
    media = spark.createDataFrame(
        [
            (1, "image", bytearray(P.encode_png(px16, filters=2)), 32, 32),
            (2, "image", bytearray(P.encode_png_palette(idx, pal, filters=4)), 32, 32),
        ],
        "doc_id long, media_type string, payload binary, width int, height int",
    )
    feats = {r["doc_id"]: r["feature"] for r in image_features(media).collect()}

    g16 = px16[:, :, 0].astype(np.float32) / 65536.0
    exp16 = g16.sum(axis=0, dtype=np.float64)[:16].astype(np.float32)
    assert feats[1] == pytest.approx(list(exp16))

    rgb = pal[idx].astype(np.int64)
    gpal = ((rgb[:, :, 0] * 299 + rgb[:, :, 1] * 587 + rgb[:, :, 2] * 114) // 1000
            ).astype(np.float32) / 256.0
    exppal = gpal.sum(axis=0, dtype=np.float64)[:16].astype(np.float32)
    assert feats[2] == pytest.approx(list(exppal))


def test_dedup_keep_semantics(spark):
    """dedup_keep contract on a hand-built corpus: cluster minima and
    singleton docs keep; transitive duplicates drop — A~B, B~C must
    drop BOTH B and C even though A~C is never a pair."""
    from tin_terrain_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9)], "doc_a BIGINT, doc_b BIGINT"
    )
    docs = spark.createDataFrame([(i,) for i in (1, 2, 3, 5, 7, 9)],
                                 "doc_id BIGINT")
    from pyspark.sql import functions as F

    cc = connected_components(pairs).select("doc_id", "cluster_id")
    cid = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    out = {r.doc_id: (r.cluster_id, r.keep)
           for r in docs.join(cc, "doc_id", "left")
           .select("doc_id", cid.alias("cluster_id"),
                   (cid == F.col("doc_id")).alias("keep")).collect()}
    assert out == {1: (1, True), 2: (1, False), 3: (1, False),
                   5: (5, True), 7: (7, True), 9: (7, False)}


def test_lm_score_properties(spark):
    """Unigram surprisal: hand-checkable on a tiny corpus — a doc made
    of the corpus's most common token scores the fewest bits/token,
    rare-token docs the most, and the exact value matches the closed
    form for a known distribution."""
    import math

    import pyspark.sql.functions as F

    from tin_terrain_spark.operators.textops import lm_score

    docs = spark.createDataFrame(
        [
            (0, "aa aa aa aa"),          # 4x the common token
            (1, "aa aa bb bb"),          # mixed
            (2, "zz yy"),                # two singletons
        ],
        ["doc_id", "text"],
    )
    cache = spark._jsparkSession.sharedState().cacheManager()
    n_cached, persisted = cache.numCachedEntries(), _persisted_rdd_ids(spark)
    out = {r["doc_id"]: r for r in lm_score(docs).collect()}
    # the call leaves no cached relation and no persisted RDD behind
    assert cache.numCachedEntries() == n_cached
    assert _persisted_rdd_ids(spark) <= persisted
    # corpus: aa x6, bb x2, zz x1, yy x1 -> total 10
    assert out[0]["n_tokens"] == 4
    assert out[0]["bits_per_token"] == round(math.log2(10) - math.log2(6), 6)
    assert out[2]["bits_per_token"] == round(math.log2(10) - 0.0, 6)
    assert (
        out[0]["bits_per_token"]
        < out[1]["bits_per_token"]
        < out[2]["bits_per_token"]
    )


def test_kmv_distinct_sketch(spark):
    """Bottom-k sketch: groups under k distinct values report the
    exact count; a large group's estimate lands within the standard
    KMV error envelope (a deterministic fixture, so the assertion is
    stable, but the bound asserted is the published ~1/sqrt(k-2))."""
    import pyspark.sql.functions as F

    from tin_terrain_spark.operators.sketches import K, kmv_distinct

    small = [("s", f"v{i % 10}") for i in range(100)]      # 10 distinct
    big = [("b", f"value-{i}") for i in range(20000)]      # 20k distinct
    df = spark.createDataFrame(small + big, ["lang", "tok"])
    out = {r["lang"]: r for r in kmv_distinct(df).collect()}
    assert out["s"]["n_exact"] == 10
    assert out["s"]["kmv_estimate"] == 10.0  # lossless below k
    est, exact = out["b"]["kmv_estimate"], out["b"]["n_exact"]
    assert exact == 20000
    assert abs(est - exact) / exact < 3.0 / (K - 2) ** 0.5  # ~3 sigma


def test_span_dups_witnesses_shared_passage(spark):
    """Two docs sharing a long passage must share a fingerprint; a
    doc with no overlap must not appear."""
    import pyspark.sql.functions as F

    from tin_terrain_spark.operators.dedup import span_dups

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (0, "intro words " + shared + " tail zero"),
            (1, "other opening " + shared + " different ending"),
            (2, "completely unrelated text with many plain tokens here"),
        ],
        ["doc_id", "text"],
    )
    out = span_dups(docs).collect()
    assert out, "shared passage must produce at least one shared fp"
    docs_seen = set()
    for r in out:
        assert r["n_docs"] == 2
        docs_seen |= {r["first_doc"], r["last_doc"]}
    assert docs_seen == {0, 1}  # doc 2 never flagged


def test_vertex_dedup_ids_are_the_rank_of_first_doc(spark, tmp_path):
    """A8's dense vertex ids, on a corpus whose cells span several
    range partitions of the session's 8 cores: each cell's vertex_id
    is the NumPy rank of its first_doc, so the ids are distinct and run
    0..n-1. The doc ids are strided so the cells' first docs also span
    many id buckets."""
    import pandas as pd

    from tin_terrain_spark.queries import q_vertex_dedup

    ids = np.arange(12_000, dtype=np.int64) * 7_919
    pd.DataFrame({"doc_id": ids}).to_parquet(tmp_path / "documents.parquet")
    got = q_vertex_dedup(spark, str(tmp_path)).toPandas()
    first = got["first_doc"].to_numpy()
    assert len(np.unique(first)) == len(got) > 4_000
    rank = np.empty(len(first), dtype=np.int64)
    rank[np.argsort(first)] = np.arange(len(first))
    vid = got["vertex_id"].to_numpy()
    wrong = int((vid != rank).sum())
    assert wrong == 0, (
        f"{wrong} of {len(vid)} ids differ from the rank, "
        f"{len(np.unique(vid))} distinct"
    )
