"""PageRank (operators/graph.py): hand-iterated reference on small
graphs incl. dangling mass, plus structural invariants. The corpus-
scale value parity is driver-gated (pagerank query)."""

import pytest


@pytest.fixture(scope="module")
def spark():
    from tin_terrain_spark.session import get_spark

    s = get_spark("graph", cores=4)
    yield s
    s.stop()


def _reference_pagerank(n, edges, d=0.85):
    from collections import defaultdict

    from tin_terrain_spark.operators.graph import N_ITERS

    odeg = defaultdict(int)
    for s, _ in edges:
        odeg[s] += 1
    r = {v: 1.0 / n for v in range(n)}
    for _ in range(N_ITERS):
        contrib = defaultdict(float)
        for s, t in edges:
            contrib[t] += r[s] / odeg[s]
        dang = sum(r[v] for v in range(n) if odeg[v] == 0)
        r = {
            v: (1.0 - d) / n + d * (contrib[v] + dang / n)
            for v in range(n)
        }
    return r


def _run(spark, n, edges):
    from pyspark.sql import functions as F

    from tin_terrain_spark.operators.graph import pagerank

    e = spark.createDataFrame(edges, "src LONG, dst LONG")
    nodes = spark.range(n).select(F.col("id").alias("node"))
    return {
        r["node"]: r["rank"]
        for r in pagerank(e, nodes).collect()
    }


def test_matches_hand_iteration_with_dangling(spark):
    # 0->1, 0->2, 1->2, 3 dangling, 2->0
    edges = [(0, 1), (0, 2), (1, 2), (2, 0)]
    got = _run(spark, 4, edges)
    want = _reference_pagerank(4, edges)
    for v in range(4):
        assert got[v] == pytest.approx(want[v], abs=1e-12)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_ring_graph_is_uniform(spark):
    n = 8
    edges = [(i, (i + 1) % n) for i in range(n)]
    got = _run(spark, n, edges)
    for v in range(n):
        assert got[v] == pytest.approx(1.0 / n, abs=1e-12)


def test_hub_receives_more_rank(spark):
    # everyone links to 0; 0 links to 1
    n = 6
    edges = [(i, 0) for i in range(1, n)] + [(0, 1)]
    got = _run(spark, n, edges)
    assert got[0] == max(got.values())
    assert got[1] > got[2]  # 0's single out-link beats the leaves
    want = _reference_pagerank(n, edges)
    for v in range(n):
        assert got[v] == pytest.approx(want[v], abs=1e-12)


def test_multigraph_duplicate_edges_weighting(spark):
    # duplicate edge doubles the share: 0->1 twice, 0->2 once
    edges = [(0, 1), (0, 1), (0, 2), (1, 0), (2, 0)]
    got = _run(spark, 3, edges)
    want = _reference_pagerank(3, edges)
    for v in range(3):
        assert got[v] == pytest.approx(want[v], abs=1e-12)


def test_synth_links_shape(spark):
    from pyspark.sql import functions as F

    from tin_terrain_spark.operators.graph import synth_links

    docs = spark.range(10).select(F.col("id").alias("doc_id"))
    e = synth_links(docs, 10)
    rows = e.collect()
    assert len(rows) == 30
    assert all(0 <= r["dst"] < 10 for r in rows)
    odeg = e.groupBy("src").count().collect()
    assert all(r["count"] == 3 for r in odeg)


def test_hits_hand_case(spark):
    from tin_terrain_spark.operators.graph import hits

    # 1 -> 3, 2 -> 3, 3 -> 1: node 3 is the authority for hubs 1,2
    edges = spark.createDataFrame(
        [(1, 3), (2, 3), (3, 1)], "src BIGINT, dst BIGINT"
    )
    nodes = spark.createDataFrame([(1,), (2,), (3,)], "node BIGINT")
    got = {r["node"]: (r["auth"], r["hub"]) for r in hits(edges, nodes).collect()}
    # hand iteration: h0=1 all.
    # a1: a(3)=h(1)+h(2)=2, a(1)=h(3)=1, a(2)=0
    # h1: h(1)=a(3)=2, h(2)=a(3)=2, h(3)=a(1)=1
    # a2: a(3)=h1(1)+h1(2)=4, a(1)=h1(3)=1, a(2)=0
    # h2: h(1)=a2(3)=4, h(2)=4, h(3)=a2(1)=1
    # each later round doubles a(3) and h(1), h(2): after the 5 rounds
    # (N_ITERS) a(3)=32, h(1)=h(2)=32, and a(1)=h(3)=1
    assert got[3] == (32, 1)
    assert got[1] == (1, 32)
    assert got[2] == (0, 32)
