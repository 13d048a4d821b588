"""A session compiles each generated class once.

Spark compiles every whole-stage-codegen plan to a Java class and keeps
the classes in a JVM-wide cache sized by `get_spark`. If one pass of
the catalog operators needs more classes than the cache holds, every
repeated pass recompiles them all. This module runs the same small
catalog sequence twice and asserts that the second pass compiles
nothing. The first pass's outputs are held to independent references
(`knn_brute`, a brute-force Jaccard on the driver); the second pass
must return the same rows.
"""

from itertools import combinations

import numpy as np
import pytest

import pyspark.sql.functions as F

ZOOM, GRID_BITS, K, THRESHOLD = 1, 4, 5, 0.5
N_POINTS, N_QUERIES, N_CHECK, N_POLYS = 3_000, 300, 8, 12


@pytest.fixture(scope="module")
def spark():
    from tin_terrain_spark.session import get_spark

    s = get_spark("codegen_reuse", cores=4)
    yield s
    s.stop()


def _compiles(spark) -> int:
    """Classes Janino has compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _texts(rng, n: int) -> list[str]:
    """Fresh docs, verbatim copies and one-word edits of earlier docs."""
    out: list[list[str]] = []
    for _ in range(n):
        roll = rng.random()
        if out and roll < 0.2:
            out.append(list(out[rng.integers(len(out))]))
        elif out and roll < 0.4:
            d = list(out[rng.integers(len(out))])
            d[rng.integers(len(d))] = f"w{rng.integers(10_000)}"
            out.append(d)
        else:
            out.append([f"w{t}" for t in rng.integers(0, 400, rng.integers(2, 30))])
    return [" ".join(d) for d in out]


def _shingles(text: str, n: int = 3) -> frozenset:
    toks = text.split(" ")
    if len(toks) < n:
        return frozenset([text])
    return frozenset(" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1))


def _jaccard(a: frozenset, b: frozenset) -> tuple[int, float]:
    n = len(a & b)
    return n, round(n / (len(a) + len(b) - n), 6)


@pytest.fixture(scope="module")
def inputs(spark):
    rng = np.random.default_rng(11)
    ids = 1_000_003 + 7 * np.arange(N_POINTS + N_QUERIES, dtype=np.int64)
    perm = rng.permutation(len(ids))
    points = spark.createDataFrame([(int(i),) for i in ids[perm[N_QUERIES:]]], "doc_id bigint")
    q_ids = ids[perm[:N_QUERIES]]
    queries = spark.createDataFrame([(int(i),) for i in q_ids], "doc_id bigint")
    check_q = sorted(int(q) for q in rng.choice(q_ids, N_CHECK, replace=False))
    texts = _texts(rng, 300)
    stored = dict(zip(range(1, 201), texts[:200]))
    # the probe batch: 20 stored docs re-sent under new ids, 80 others
    resent = dict(zip(range(1001, 1021), texts[:20]))
    probe = {**resent, **dict(zip(range(2001, 2081), texts[200:280]))}
    return {
        "points": points, "queries": queries, "check_q": check_q,
        "stored": stored, "resent": resent, "probe": probe,
        "batch": spark.createDataFrame(list(stored.items()), "doc_id bigint, text string"),
        "probe_df": spark.createDataFrame(list(probe.items()), "doc_id bigint, text string"),
    }


def _catalog_pass(spark, inp, store_dir):
    """knn_ring + pip_join + near_dup_pairs, then an LSH store written,
    read back and probed: the catalog operation in small."""
    from tin_terrain_spark.operators import dedup as D
    from tin_terrain_spark.operators import joins as J
    from tin_terrain_spark.operators.geocode import geocode_points

    def geo(df):
        return geocode_points(df, zoom=ZOOM, grid_bits=GRID_BITS, with_dem_z=False)

    q = geo(inp["queries"]).select(F.col("doc_id").alias("q_id"), "x", "y", "cell_x", "cell_y")
    res = J.knn_ring(geo(inp["points"]), q, ZOOM, GRID_BITS, k=K, cell_join="shuffle")
    n = res.count()
    sample = res.where(F.col("q_id").isin(inp["check_q"])).collect()
    pip = J.pip_join(geo(inp["points"]), J.polygons_df(spark, N_POLYS), ZOOM).collect()
    pairs = D.near_dup_pairs(inp["batch"], THRESHOLD).collect()
    bands, shingles = (str(store_dir / t) for t in ("bands", "shingles"))
    D.band_keys(inp["batch"]).write.mode("overwrite").parquet(bands)
    D.shingles_df(inp["batch"]).write.mode("overwrite").parquet(shingles)
    probed = D.dedup_against_store(
        inp["probe_df"], spark.read.parquet(bands), spark.read.parquet(shingles), THRESHOLD
    ).collect()
    return (n, sorted((r.q_id, r.rank, r.doc_id, r.dist2) for r in sample),
            sorted((r.poly_id, r.doc_id) for r in pip), sorted(pairs), sorted(probed))


def _check(spark, inp, out):
    from tin_terrain_spark.operators.geocode import geocode_points
    from tin_terrain_spark.operators.joins import knn_brute

    n, sample, _, pairs, probed = out
    assert n == K * N_QUERIES
    pts = geocode_points(inp["points"], zoom=ZOOM, grid_bits=GRID_BITS, with_dem_z=False)
    qdf = spark.createDataFrame([(q,) for q in inp["check_q"]], "doc_id bigint")
    qs = geocode_points(qdf, zoom=ZOOM, grid_bits=GRID_BITS, with_dem_z=False)
    ref = knn_brute(pts, qs.select(F.col("doc_id").alias("q_id"), "x", "y"), k=K)
    assert sample == sorted((r.q_id, r.rank, r.doc_id, r.dist2) for r in ref.collect())

    sets = {d: _shingles(t) for d, t in inp["stored"].items()}
    want = {}
    for a, b in combinations(sorted(sets), 2):
        hit = _jaccard(sets[a], sets[b])
        if hit[1] >= THRESHOLD:
            want[(a, b)] = hit
    got = {(p.doc_a, p.doc_b): (p.n_inter, p.jaccard) for p in pairs}
    assert all(want.get(k) == v for k, v in got.items())
    # identical shingle sets share every LSH bucket, so those pairs are certain
    assert {k for k, v in want.items() if v[1] == 1.0} <= set(got)

    assert len(probed) == len(inp["probe"])
    for r in probed:
        if r.doc_id in inp["resent"]:
            assert r.is_dup
        if r.is_dup:
            assert _jaccard(_shingles(inp["probe"][r.doc_id]), sets[r.dup_of])[1] == r.jaccard


def test_repeated_catalog_pass_compiles_nothing(spark, inputs, tmp_path):
    first = _catalog_pass(spark, inputs, tmp_path)
    before = _compiles(spark)
    second = _catalog_pass(spark, inputs, tmp_path)
    recompiled = _compiles(spark) - before
    _check(spark, inputs, first)
    assert second == first
    assert recompiled == 0, f"the repeated pass compiled {recompiled} classes"
