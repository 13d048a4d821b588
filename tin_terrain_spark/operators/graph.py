"""Link-graph analytics over the pages table: PageRank.

The web-scale sibling of the dedup module's connected components
(dedup.connected_components): where CC answers "which pages are the
same document", PageRank answers "which pages matter" — the classic
quality prior used to weight training-data sampling. Same iterative-
loop discipline learned there (NOTES.md round-5 CC investigation):

  - the weighted edge list is the LOOP-INVARIANT big side —
    hash-partition it by the join key ONCE, localCheckpoint it (the
    checkpoint preserves partitioning), and never re-shuffle it;
  - SHUFFLE_HASH hints on the per-iteration join (unique build keys;
    sort-merge would pay two sorts per round for nothing);
  - each iteration's rank table is eagerly localCheckpoint-ed so the
    next round's plan starts from materialized data instead of
    re-analyzing a growing subtree;
  - a FIXED iteration count, no convergence action — deterministic,
    reproducible, and exactly what the unrolled SQL oracle computes.

Per-iteration shuffle volume is O(|V|) rank rows (the edge side never
moves), so the loop scales like any word-count; dangling mass is
folded in via a broadcast single-row aggregate, in-plan.

The synthetic corpus has no real links, so `synth_links` derives a
deterministic 3-out-regular multigraph from doc ids (closed-form —
the DuckDB twin rebuilds it exactly); `extract_links`-based graphs
from real HTML come from operators/htmlops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

DAMPING = 0.85
N_ITERS = 5  # PageRank and HITS rounds
LINK_MULTS = (7, 13, 31)  # dst_j = (src * mult_j + j + 1) % n_nodes


def synth_links(docs: DataFrame, n_nodes: int) -> DataFrame:
    """Deterministic out-degree-3 link multigraph over contiguous doc
    ids: doc i links to (i*7+1) % n, (i*13+2) % n, (i*31+3) % n.
    Self-loops and duplicate edges are possible and kept (multigraph
    semantics — PageRank is well-defined on them)."""
    dsts = F.array(
        *[
            (F.col("doc_id") * m + j + 1) % n_nodes
            for j, m in enumerate(LINK_MULTS)
        ]
    )
    return docs.select(
        F.col("doc_id").alias("src"), F.explode(dsts).alias("dst")
    )


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    n_nodes: int | None = None,
) -> DataFrame:
    """PageRank with N_ITERS iterations over edges(src, dst) and
    nodes(node). Returns (node, rank) with sum(rank) == 1 up to float
    drift. Dangling nodes (no out-edges) redistribute their mass
    uniformly each iteration, per the standard formulation. Callers
    that already know the node count pass n_nodes to skip the count
    action (most query shapes count the corpus anyway).

    Spark actions (SQL executions) per call: N_ITERS + 3, plus one for the
    node count when n_nodes is None and one for the dangling-set
    checkpoint when the graph has dangling nodes — the edge-weight
    checkpoint, the dangling probe, the initial rank checkpoint and one
    rank checkpoint per iteration. The returned frame is the last
    round's checkpoint. The N_ITERS + 2 (+1 with dangling nodes)
    checkpointed RDDs stay persisted until Spark's context cleaner
    reclaims them once their frames are garbage-collected; `unpersist`
    on a localCheckpoint-ed frame does not release them."""
    spark = edges.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    if n_nodes is None:
        n_nodes = nodes.count()

    # loop-invariant: per-edge weight 1/outdeg(src), partitioned by the
    # probe key once; the checkpoint truncates whatever lineage built
    # the edge list (e.g. an HTML link-extraction subtree)
    odeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("odeg"))
    wedges = (
        edges.join(odeg.hint("SHUFFLE_HASH"), "src")
        .select("src", "dst", (F.lit(1.0) / F.col("odeg")).alias("w"))
        .repartition(n_part, "src")
        .localCheckpoint()
    )
    # static dangling-node set (nodes with no out-edges); when it is
    # empty — the common case for link graphs with a self-loop or
    # sink-handling upstream — the per-round dangling-mass aggregate
    # subtree is dropped from the plan entirely. The probe runs on the
    # LAZY frame (one cheap action); the checkpoint is only paid when
    # dangling nodes exist and the loop will actually re-read the set.
    dangling = nodes.join(
        odeg.select(F.col("src").alias("node")), "node", "left_anti"
    )
    has_dangling = dangling.limit(1).count() > 0
    if has_dangling:
        dangling = dangling.localCheckpoint()

    ranks = nodes.select(
        "node", F.lit(1.0 / n_nodes).alias("rank")
    ).localCheckpoint()

    base = (1.0 - DAMPING) / n_nodes
    for _ in range(N_ITERS):
        contrib = (
            wedges.join(
                ranks.select(F.col("node").alias("src"), "rank").hint(
                    "SHUFFLE_HASH"
                ),
                "src",
            )
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("w")).alias("c"))
        )
        joined = nodes.join(
            contrib.select(F.col("dst").alias("node"), "c").hint(
                "SHUFFLE_HASH"
            ),
            "node",
            "left",
        )
        if has_dangling:
            dang = dangling.join(ranks, "node").agg(
                F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dang_mass")
            )
            joined = joined.crossJoin(F.broadcast(dang))
            mass = F.coalesce(F.col("c"), F.lit(0.0)) + F.col("dang_mass") / n_nodes
        else:
            mass = F.coalesce(F.col("c"), F.lit(0.0))
        ranks = joined.select(
            "node",
            (F.lit(base) + F.lit(DAMPING) * mass).alias("rank"),
        ).localCheckpoint()
    return ranks


def sql_pagerank() -> str:
    """Unrolled DuckDB twin over the same synthesized multigraph; the
    rank is scaled by n and rounded to 6 dp on both sides so the
    engines' different reduction orders cannot flip the hash."""
    m0, m1, m2 = LINK_MULTS
    prev = "r0"
    iter_ctes = []
    for t in range(1, N_ITERS + 1):
        iter_ctes.append(
            f"""r{t} AS (
        SELECT n.node,
               (1e0 - {DAMPING!r}e0) / p.n
               + {DAMPING!r}e0 * coalesce(s.c, 0e0) AS rank
        FROM allnodes n CROSS JOIN params p
        LEFT JOIN (
          SELECT e.dst AS node, sum(r.rank * e.w) AS c
          FROM wedges e JOIN {prev} r ON r.node = e.src
          GROUP BY e.dst
        ) s ON s.node = n.node
      )"""
        )
        prev = f"r{t}"
    joined = ",\n      ".join(iter_ctes)
    return f"""
      WITH params AS (
        SELECT CAST(count(*) AS DOUBLE) AS n, count(*) AS ni FROM documents
      ),
      edges AS (
        SELECT doc_id AS src, dst FROM documents, params,
        LATERAL (SELECT unnest([
          (doc_id * {m0} + 1) % ni,
          (doc_id * {m1} + 2) % ni,
          (doc_id * {m2} + 3) % ni
        ]) AS dst) l
      ),
      wedges AS (
        SELECT src, dst, 1e0 / (count(*) OVER (PARTITION BY src)) AS w
        FROM edges
      ),
      allnodes AS (SELECT doc_id AS node FROM documents),
      r0 AS (SELECT node, 1e0 / p.n AS rank FROM allnodes, params p),
      {joined}
      SELECT node AS doc_id, round(rank * p.n, 6) AS rank_x_n
      FROM {prev}, params p
    """


def host_graph(links: DataFrame) -> DataFrame:
    """Collapse a page-level link table to the HOST graph — the
    domain-granularity web graph, from (page_url, link_url) rows,
    behind spam/centrality analysis and
    crawl budgeting. Pure JVM: parse_url on both endpoints + one
    map-side-combinable aggregate keyed on (src_host, dst_host); at
    10^12 links the combine collapses each partition to its distinct
    host pairs (hosts ~10^7, pairs far fewer than rows) before the
    shuffle. Self-loops (intra-host links) are kept — callers that
    want the inter-host graph filter src_host != dst_host."""
    src = F.parse_url(F.col("page_url"), F.lit("HOST"))
    dst = F.parse_url(F.col("link_url"), F.lit("HOST"))
    return (
        links.select(src.alias("src_host"), dst.alias("dst_host"))
        .groupBy("src_host", "dst_host")
        .agg(F.count(F.lit(1)).alias("n_links"))
    )


def hits(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """HITS hub/authority scores, N_ITERS iterations, UNNORMALIZED
    INTEGER form: h0 = 1; a_t(v) = Σ h_{t-1}(u) over in-edges,
    h_t(u) = Σ a_t(v) over out-edges. Skipping the per-round
    normalization keeps every score an exact BIGINT (growth ≈
    (davg²)^N_ITERS — ~9^5 on the degree-3 synth graph, far from
    overflow), which preserves the ranking per iteration and makes the
    DuckDB twin bit-exact (no reduction-order float drift; the
    classic normalized scores are score/max per side if a caller
    wants them). Loop discipline as pagerank: edges partitioned once,
    SHUFFLE_HASH per-round joins, eager per-round localCheckpoints.
    Per-round shuffle volume O(|V|).

    Round-6 restructure (both changes exact — integer sums are
    order-free and an absent row is an exact zero contribution):
    - the edge list is pinned TWICE, hash-partitioned by src AND by
      dst (the loop joins on both keys in turn; the single by-src copy
      of rounds 1-5 re-shuffled all of |E| on every dst-join);
    - the per-round outer joins against the node table are gone: a
      node missing from an intermediate auth/hub table contributes
      exactly 0 through the inner equi-join, so zeros are only
      materialized ONCE at the end. Per-round work drops from 4 joins
      to 2, and the shuffled volume from O(|E|)+O(|V|) to O(|V|).

    Spark actions (SQL executions) per call: N_ITERS + 3 — the two
    edge-list checkpoints, the initial hub checkpoint and one hub
    checkpoint per round; the returned frame is a lazy plan over the
    last round. The N_ITERS + 3 checkpointed RDDs stay persisted until
    Spark's context cleaner reclaims them once their frames are
    garbage-collected; `unpersist` on a localCheckpoint-ed frame does
    not release them."""
    spark = edges.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    e_src = edges.repartition(n_part, "src").localCheckpoint()
    e_dst = edges.repartition(n_part, "dst").localCheckpoint()
    hub = nodes.select(
        "node", F.lit(1).cast("bigint").alias("hub")
    ).localCheckpoint()
    auth = None
    for _ in range(N_ITERS):
        auth = (
            e_src.join(
                hub.select(F.col("node").alias("src"), "hub").hint(
                    "SHUFFLE_HASH"
                ),
                "src",
            )
            .groupBy("dst")
            .agg(F.sum("hub").alias("auth"))
            .select(F.col("dst").alias("node"), "auth")
        )
        hub = (
            e_dst.join(
                auth.select(F.col("node").alias("dst"), "auth").hint(
                    "SHUFFLE_HASH"
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.sum("auth").alias("hub"))
            .select(F.col("src").alias("node"), "hub")
            .localCheckpoint()
        )
    return (
        nodes.join(auth, "node", "left")
        .join(hub, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("auth"), F.lit(0)).cast("bigint").alias("auth"),
            F.coalesce(F.col("hub"), F.lit(0)).cast("bigint").alias("hub"),
        )
    )


def sql_hits() -> str:
    """Unrolled DuckDB twin over the synth_links multigraph — exact
    integer recursion, bit-equal by construction."""
    m0, m1, m2 = LINK_MULTS
    prev_h = "h0"
    ctes = []
    for t in range(1, N_ITERS + 1):
        ctes.append(f"""a{t} AS (
        SELECT n.node,
               CAST(coalesce(s.v, 0) AS BIGINT) AS auth
        FROM allnodes n LEFT JOIN (
          SELECT e.dst AS node, sum(h.hub) AS v
          FROM edges e JOIN {prev_h} h ON h.node = e.src GROUP BY e.dst
        ) s ON s.node = n.node
      )""")
        ctes.append(f"""h{t} AS (
        SELECT n.node,
               CAST(coalesce(s.v, 0) AS BIGINT) AS hub
        FROM allnodes n LEFT JOIN (
          SELECT e.src AS node, sum(a.auth) AS v
          FROM edges e JOIN a{t} a ON a.node = e.dst GROUP BY e.src
        ) s ON s.node = n.node
      )""")
        prev_h = f"h{t}"
    joined = ",\n      ".join(ctes)
    return f"""
      WITH params AS (SELECT count(*) AS ni FROM documents),
      edges AS (
        SELECT doc_id AS src, dst FROM documents, params,
        LATERAL (SELECT unnest([
          (doc_id * {m0} + 1) % ni,
          (doc_id * {m1} + 2) % ni,
          (doc_id * {m2} + 3) % ni
        ]) AS dst) l
      ),
      allnodes AS (SELECT doc_id AS node FROM documents),
      h0 AS (SELECT node, CAST(1 AS BIGINT) AS hub FROM allnodes),
      {joined}
      SELECT a.node AS doc_id, a.auth, h.hub
      FROM a{N_ITERS} a JOIN h{N_ITERS} h ON h.node = a.node
    """
