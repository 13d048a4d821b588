"""Round-6 optimization equivalence tests: each rewrite that changed
an operator's internals must be result-identical to the semantics it
replaced (the optimizations are plan changes, never value changes)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def spark():
    from tin_terrain_spark.session import get_spark

    s = get_spark("r06opt", cores=8)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def points(spark):
    from tin_terrain_spark.operators.geocode import geocode_points

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    return geocode_points(docs, zoom=2, grid_bits=5, with_dem_z=False)


def _corpus(spark):
    """Duplicate-heavy corpus: repeated shingles within and across
    docs, short docs, and near-duplicate pairs."""
    rows = [
        (1, "the cat sat on the mat the cat sat on the mat"),
        (2, "the cat sat on the mat the cat sat on a mat"),
        (3, "a completely different document about spark plans"),
        (4, "short doc"),
        (5, "short doc"),
        (6, "the cat sat on the mat the cat sat on the mat extra tail"),
    ]
    return spark.createDataFrame(rows, "doc_id BIGINT, text STRING")


def test_minhash_multiset_equals_set(spark):
    """minhash_signatures consumes the NON-distinct shingle stream;
    min over the multiset must equal min over the distinct set — the
    equivalence that justified dropping the distinct shuffle."""
    from tin_terrain_spark.operators.dedup import (
        MINHASH_FUNCS, _P, _tok_hash, minhash_signatures, shingles_df,
    )

    docs = _corpus(spark)
    fast = {
        (r.doc_id, r.func_id): r.minhash
        for r in minhash_signatures(docs).collect()
    }
    # reference: the round-5 semantics — distinct shingles first
    ids = shingles_df(docs, distinct=True).select(
        "doc_id", _tok_hash(F.col("tok")).alias("tok_id")
    )
    aggs = [
        F.min((F.col("tok_id") * m + a) % _P).alias(f"mh_{i}")
        for i, (m, a) in enumerate(MINHASH_FUNCS)
    ]
    ref_rows = ids.groupBy("doc_id").agg(*aggs).collect()
    ref = {
        (r.doc_id, i): r[f"mh_{i}"]
        for r in ref_rows
        for i in range(len(MINHASH_FUNCS))
    }
    assert fast == ref and len(fast) == 6 * len(MINHASH_FUNCS)


def test_near_dup_pairs_array_refine_exact(spark):
    """The array_intersect refine must reproduce the exact set-Jaccard
    the row-count join computed: hand-check n_inter and jaccard on a
    pair with a known shingle overlap."""
    from tin_terrain_spark.operators.dedup import near_dup_pairs, shingles_df

    docs = _corpus(spark)
    sets = {
        d: {r.tok for r in rows}
        for d, rows in (
            (d, [r for r in shingles_df(docs).collect() if r.doc_id == d])
            for d in (1, 2)
        )
    }
    inter = len(sets[1] & sets[2])
    union = len(sets[1] | sets[2])
    got = {(r.doc_a, r.doc_b): (r.n_inter, r.jaccard)
           for r in near_dup_pairs(docs, threshold=0.1).collect()}
    assert (1, 2) in got
    n_inter, jac = got[(1, 2)]
    assert n_inter == inter
    assert jac == round(inter / union, 6)
    # short-doc exact duplicates still pair at jaccard 1.0
    assert got[(4, 5)] == (1, 1.0)


def test_pagerank_n_nodes_param(spark):
    """pagerank(n_nodes=...) must equal pagerank() computing the count
    itself (the param only skips the redundant count action)."""
    from tin_terrain_spark.operators.graph import pagerank, synth_links

    docs = spark.range(12).select(F.col("id").alias("doc_id"))
    edges = synth_links(docs, 12)
    nodes = docs.select(F.col("doc_id").alias("node"))
    a = {r.node: round(r.rank, 12) for r in pagerank(edges, nodes).collect()}
    b = {r.node: round(r.rank, 12)
         for r in pagerank(edges, nodes, n_nodes=12).collect()}
    assert a == b and len(a) == 12


def test_incr_dedup_array_refine(spark):
    """dedup_against_store's array-set refine: a verbatim duplicate of
    a stored doc must resolve as a dup of it with jaccard 1.0; a fresh
    doc must be admitted."""
    from tin_terrain_spark.operators.dedup import (
        band_keys, dedup_against_store, shingles_df,
    )

    store_docs = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id BIGINT, text STRING",
    )
    new_docs = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta"),
         (101, "unrelated words entirely here and now truly")],
        "doc_id BIGINT, text STRING",
    )
    out = {
        r.doc_id: (r.dup_of, r.jaccard, r.is_dup)
        for r in dedup_against_store(
            new_docs, band_keys(store_docs), shingles_df(store_docs)
        ).collect()
    }
    assert out[100] == (10, 1.0, True)
    assert out[101] == (None, None, False)


def test_docs_spread_auto_gates_on_input_size(spark, monkeypatch):
    """spread="auto" derives the scan spread from the input file size:
    below the gate the raw single-partition scan is kept (the faster
    plan for mid-tier consumers at small scale, A/B-measured), above
    it the doc_id repartition fires (the sf1.0-winning plan). Rows are
    identical either way."""
    from tin_terrain_spark import queries as Q

    raw = Q._docs(spark, SF, spread="auto")
    # sf0.01 documents.parquet is ~65 KB, far below the 1 MiB gate
    assert raw.rdd.getNumPartitions() == 1
    assert "repartition" not in raw._jdf.queryExecution().logical().toString().lower()

    monkeypatch.setattr(Q, "_SPREAD_MIN_ROWS", 1)
    spread = Q._docs(spark, SF, spread="auto")
    assert spread.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism

    a = {tuple(r) for r in raw.collect()}
    b = {tuple(r) for r in spread.collect()}
    assert a == b


def test_docs_spread_rejects_unknown_strings(spark):
    """Only the string "auto" selects the size gate; any other string
    (a typo like "Auto" or "off") fails loudly instead of counting as
    truthy and spreading."""
    from tin_terrain_spark import queries as Q

    for bad in ("Auto", "off", ""):
        with pytest.raises(ValueError, match=repr(bad)):
            Q._docs(spark, SF, spread=bad)


def test_spread_pays_fallbacks():
    """Non-file inputs (directories / object-store paths) must default
    to spreading: at cluster scale the repartition is a cheap
    rebalance, and the gate only exists to protect tiny local files."""
    from tin_terrain_spark.queries import _spread_pays

    assert _spread_pays("/root/testdata") is True            # directory
    assert _spread_pays("s3://bucket/docs.parquet") is True  # not local
    assert _spread_pays(f"{SF}/documents.parquet") is False  # tiny file


def test_spread_pays_reads_footer_not_compressed_size(tmp_path):
    """Dup-heavy corpora compress far below the byte gate while still
    carrying per-row map work — the gate must read the parquet footer
    (row count / uncompressed bytes), not the compressed file size. A
    constant column just above the row gate (_SPREAD_MIN_ROWS + 1
    rows) compresses to a few KB but must spread."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tin_terrain_spark.queries import _SPREAD_MIN_ROWS, _spread_pays

    n = _SPREAD_MIN_ROWS + 1
    path = str(tmp_path / "dup_docs.parquet")
    pq.write_table(
        pa.table({"doc_id": list(range(n)), "text": ["same text"] * n}), path
    )
    import os

    assert os.path.getsize(path) < 1024 * 1024  # tiny on disk...
    assert _spread_pays(path) is True           # ...but past the row gate


def _open_queries(pts, queries, k: int, guarantee_m: float) -> set:
    """Driver-side NumPy twin of the ring round's guarantee check: a
    query stays open when its k-th smallest dist2 over every point
    exceeds guarantee_m**2 (fewer than k points inside the circle the
    ring is guaranteed to cover). Same dist2 arithmetic as the plan."""
    p = np.array([(r.x, r.y) for r in pts.select("x", "y").collect()])
    qs = queries.select("q_id", "x", "y").collect()
    q = np.array([(r.x, r.y) for r in qs])
    dx = p[None, :, 0] - q[:, None, 0]
    dy = p[None, :, 1] - q[:, None, 1]
    kth = np.sort(dx * dx + dy * dy, axis=1)[:, k - 1]
    return {r.q_id for r, d2 in zip(qs, kth) if d2 > guarantee_m ** 2}


def _executions(spark) -> list:
    """The session's SQL executions."""
    store = spark._jsparkSession.sharedState().statusStore()
    return list(spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(store.executionsList()))


def _semi_join_rows(spark, since: int) -> int:
    """Output rows of the LeftSemi broadcast joins (topk ⋉ resolved) in
    the SQL executions newer than `since`: k per query the ring round
    resolved. AQE drops the join when nothing resolved."""
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    store = spark._jsparkSession.sharedState().statusStore()
    total = 0
    for e in _executions(spark):
        if e.executionId() <= since:
            continue
        vals = store.executionMetrics(e.executionId())
        for node in conv.asJava(store.planGraph(e.executionId()).allNodes()):
            if node.name() != "BroadcastHashJoin" or "LeftSemi" not in node.desc():
                continue
            for m in conv.asJava(node.metrics()):
                v = vals.get(m.accumulatorId())
                if m.name() == "number of output rows" and v.isDefined():
                    total += int(str(v.get()).replace(",", ""))
    return total


def _mixed_corpus(spark, zoom: int, grid_bits: int):
    """A dense cluster (300 points in a 40 km square) with 4 queries
    inside it and 3 queries 300-900 km away from it."""
    from tin_terrain_spark.functions.geocode_exprs import tile_sql

    rng = np.random.default_rng(53)
    pts = [(i, 1.0e6 + float(x), 2.0e6 + float(y))
           for i, (x, y) in enumerate(rng.uniform(0, 4e4, (300, 2)))]
    qs = [(1000 + i, 1.0e6 + float(x), 2.0e6 + float(y))
          for i, (x, y) in enumerate(rng.uniform(5e3, 3.5e4, (4, 2)))]
    qs += [(2000 + i, 1.0e6 + float(d), 2.0e6 - float(d))
           for i, d in enumerate((3e5, 6e5, 9e5))]

    def cells(rows, id_col):
        return spark.createDataFrame(rows, f"{id_col} BIGINT, x DOUBLE, y DOUBLE").select(
            id_col, "x", "y",
            F.expr(tile_sql("x", zoom + grid_bits)).alias("cell_x"),
            F.expr(tile_sql("y", zoom + grid_bits)).alias("cell_y"),
        )

    return cells(pts, "doc_id"), cells(qs, "q_id")


def test_knn_ring_prune_multi_round_equals_brute(spark):
    """The guarantee-radius candidate prune must stay exact when the
    ring round does NOT resolve every query. With a deliberately tiny
    initial_ring=1, a sparse far-apart corpus leaves its queries open
    and a mixed corpus (a dense cluster plus far-off queries) resolves
    some but not all, as the NumPy twin of the guarantee check shows.
    The ring round resolves exactly the twin's queries, the open ones
    go to the brute branch, and every path must match knn_brute."""
    from tin_terrain_spark.functions.geocode_exprs import tile_size_meters
    from tin_terrain_spark.functions.hexgrid import hex_ring_guarantee_m
    from tin_terrain_spark.operators.geocode import geocode_points
    from tin_terrain_spark.operators.joins import knn_brute, knn_hex, knn_ring

    k, zoom, grid_bits = 5, 5, 6
    cell_m = tile_size_meters(zoom + grid_bits)
    assert hex_ring_guarantee_m(1, cell_m) == cell_m  # one twin serves both grids
    # 40 points: ids spread so the hash streams scatter them widely —
    # at zoom 5 / grid_bits 6 most cells are empty and the k-th
    # neighbor sits far outside a 1-cell ring guarantee
    docs = spark.range(40).select((F.col("id") * 7919).alias("doc_id"))
    sparse = geocode_points(docs, zoom=zoom, grid_bits=grid_bits, with_dem_z=False)
    corpora = {
        "sparse": (sparse, sparse.filter(F.col("doc_id") < 6 * 7919).select(
            F.col("doc_id").alias("q_id"), "x", "y", "cell_x", "cell_y")),
        "mixed": _mixed_corpus(spark, zoom, grid_bits),
    }
    for name, (pts, queries) in corpora.items():
        n_q = queries.count()
        open_q = _open_queries(pts, queries, k, cell_m)
        if name == "sparse":
            assert len(open_q) == n_q, open_q
        else:
            assert 0 < len(open_q) < n_q, open_q
        brute = {
            (r.q_id, r.rank): (r.doc_id, r.dist2)
            for r in knn_brute(pts, queries.select("q_id", "x", "y"), k=k).collect()
        }
        assert len(brute) == k * n_q
        for out in (
            knn_ring(pts, queries, zoom, grid_bits, k=k, initial_ring=1),
            knn_hex(pts, queries.select("q_id", "x", "y"), cell_m, initial_ring=1),
        ):
            mark = max(e.executionId() for e in _executions(spark))
            got = {(r.q_id, r.rank): (r.doc_id, r.dist2) for r in out.collect()}
            assert got == brute, name
            assert _semi_join_rows(spark, mark) == k * (n_q - len(open_q)), name
