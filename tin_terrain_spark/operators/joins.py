"""Spatial joins built on the tile/cell index (SURVEY.md §2.5 J5/J6).

J5 point-in-polygon: polygon → covering tile range (broadcast) →
equi-join on tile key → exact predicate refine. The tile prefilter is
semantics-free: the tile function is monotone, so every point whose
coordinate lies in [min, max] falls in a covering tile; the exact
`between` refine applies the reference's eps-padded containment
(geometrix.cpp:256-260) with eps=0 for exact oracle parity.

J6 kNN: grid-ring expansion — candidates from the ring of cells around
each query, exact distance refine + per-query top-k window. Both grids
(square cells, axial hexes) build their candidates the same way: each
query's cell ball is exploded to one row per cell and shuffle-hash
joined with the points on the cell key, so both sides are partitioned
by cell. A query's ring result is final only when its k-th distance is
≤ the ring's guaranteed radius (ring_r * cell_size, the geometry the
reference uses for buffered partitions, dem2tintiles_workflow.cpp:51-53);
the queries the ring leaves open take the exact brute-force answer.
Brute-force variant provided as the oracle-checked baseline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from ..functions import geocode_exprs as GX

# the query boxes of polygons_df/polygons_sql: count and hash seed
N_POLYS = 24
POLY_SEED = 7777


def polygons_df(spark, n: int = N_POLYS, seed_base: int = POLY_SEED):
    """Deterministic axis-aligned query boxes derived from the same
    integer hash streams (reproducible in SQL for the oracle)."""
    r = spark.range(n).withColumnRenamed("id", "poly_id")
    cx = GX.mercator_x_sql(f"(poly_id + {seed_base})")
    cy = GX.mercator_y_sql(f"(poly_id + {seed_base})")
    half = f"({GX.dlit(100000.0)} + {GX.dlit(1500000.0)} * {GX.u_hash_sql(f'(poly_id + {seed_base})', 'u3')})"
    return (
        r.withColumn("pmin_x", F.expr(f"{cx} - {half}"))
        .withColumn("pmax_x", F.expr(f"{cx} + {half}"))
        .withColumn("pmin_y", F.expr(f"{cy} - {half}"))
        .withColumn("pmax_y", F.expr(f"{cy} + {half}"))
    )


def polygons_sql() -> str:
    cx = GX.mercator_x_sql(f"(poly_id + {POLY_SEED})")
    cy = GX.mercator_y_sql(f"(poly_id + {POLY_SEED})")
    half = f"({GX.dlit(100000.0)} + {GX.dlit(1500000.0)} * {GX.u_hash_sql(f'(poly_id + {POLY_SEED})', 'u3')})"
    return f"""
      SELECT poly_id,
             {cx} - {half} AS pmin_x, {cx} + {half} AS pmax_x,
             {cy} - {half} AS pmin_y, {cy} + {half} AS pmax_y
      FROM (SELECT CAST(range AS BIGINT) AS poly_id FROM range({N_POLYS}))
    """


def pip_join(points: DataFrame, polys: DataFrame, zoom: int) -> DataFrame:
    """J5: cell-indexed point-in-polygon. polys gets exploded to its
    covering tiles (bounded fan-out), broadcast, equi-joined on the tile
    key, then exactly refined — Catalyst turns this into a broadcast
    hash join with the `between` conjunction as a post-filter."""
    pt = polys.select(
        "poly_id",
        "pmin_x",
        "pmax_x",
        "pmin_y",
        "pmax_y",
        F.expr(GX.tile_sql("pmin_x", zoom)).alias("tx0"),
        F.expr(GX.tile_sql("pmax_x", zoom)).alias("tx1"),
        F.expr(GX.tile_sql("pmin_y", zoom)).alias("ty0"),
        F.expr(GX.tile_sql("pmax_y", zoom)).alias("ty1"),
    )
    n_tiles = 1 << zoom
    covering = pt.select(
        "poly_id",
        "pmin_x",
        "pmax_x",
        "pmin_y",
        "pmax_y",
        F.explode(
            F.sequence(F.greatest(F.col("tx0"), F.lit(0)), F.least(F.col("tx1"), F.lit(n_tiles - 1)))
        ).alias("tile_x"),
        F.col("ty0"),
        F.col("ty1"),
    ).select(
        "poly_id",
        "pmin_x",
        "pmax_x",
        "pmin_y",
        "pmax_y",
        "tile_x",
        F.explode(
            F.sequence(F.greatest(F.col("ty0"), F.lit(0)), F.least(F.col("ty1"), F.lit(n_tiles - 1)))
        ).alias("tile_y"),
    )
    joined = points.join(F.broadcast(covering), ["tile_x", "tile_y"], "inner")
    return joined.filter(
        F.col("x").between(F.col("pmin_x"), F.col("pmax_x"))
        & F.col("y").between(F.col("pmin_y"), F.col("pmax_y"))
    )


def knn_brute(points: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """J6 baseline: exact brute-force kNN via broadcast cross join +
    per-query top-k window. dist2 is exact IEEE arithmetic (mul/add),
    so it hash-compares across engines without rounding."""
    q = queries.select(
        F.col("q_id"), F.col("x").alias("qx"), F.col("y").alias("qy")
    )
    cand = points.select("doc_id", "x", "y").crossJoin(F.broadcast(q))
    cand = cand.withColumn(
        "dist2",
        (F.col("x") - F.col("qx")) * (F.col("x") - F.col("qx"))
        + (F.col("y") - F.col("qy")) * (F.col("y") - F.col("qy")),
    )
    w = W.partitionBy("q_id").orderBy(F.col("dist2").asc(), F.col("doc_id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "doc_id", "rank", "dist2")
    )


def _density_ring(pts: DataFrame, k: int, cell_m: float,
                  geometry: str) -> int | None:
    """Size the FIRST ring so one round resolves well-distributed data:
    one aggregate over the points (count + xy bounding box) gives the
    areal density; the ring radius is chosen so the guarantee circle
    (the distance below which nothing outside the ring can lie) is
    expected to hold ~8x k points. An under-estimate only sends the
    queries it leaves open to knn_brute (the guarantee check stays
    exact); an over-estimate only widens the candidate window. Returns
    None when the corpus is so small (n <= 32k) that the brute
    crossJoin is the right plan outright; a zero-area corpus gets a 1-D
    density (collinear) or ring 1 (every point identical).

    The factor was 32x k with a ring floor of 2 through round 5;
    measured at sf1.0 (1.44M points, 160k queries, ~22 points/cell)
    that yielded ring 2 -> 550 candidates per query for k = 5 — an
    88M-row candidate join where the 8x sizing picks ring 1 (~200
    candidates) and still leaves ~14x k points expected inside the
    guarantee circle; the handful of rare misses go to knn_brute.

    The denominator is the COVERED AREA, not the occupied-cell count:
    on sparse grids (most cells empty) occupied-cell density
    overestimates true density by the fill factor, which is exactly
    the regime where the first ring then misses its guarantee and the
    query falls through to the brute crossJoin.
    """
    import math

    row = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("x").alias("x0"), F.max("x").alias("x1"),
        F.min("y").alias("y0"), F.max("y").alias("y1"),
    ).collect()[0]
    n = row["n"] or 0
    if n <= 32 * k:
        return None
    dx = float(row["x1"] - row["x0"])
    dy = float(row["y1"] - row["y0"])
    area = dx * dy
    span = max(dx, dy)
    if area > 0.0:
        g = math.sqrt(8.0 * k * area / (math.pi * n))  # guarantee radius, m
    elif span > 0.0:
        # degenerate (collinear) corpus: 1-D density — expected k-th
        # distance ~ span * k / n; the brute crossJoin would be the
        # |points| x |queries| scale-killer exactly here
        g = 8.0 * k * span / n
    else:
        # every point identical: any ring >= 1 covers the whole corpus
        return 1
    if geometry == "square":
        # square-grid guarantee: R * cell_m  =>  R >= g / cell_m
        ring = int(math.ceil(g / cell_m))
    else:
        # hex staircase guarantee: (1.5 (R+1) - 2) * s  >=  g
        ring = int(math.ceil((g / cell_m + 2.0) / 1.5 - 1.0))
    return max(1, ring)


def _knn_plan(pts: DataFrame, q: DataFrame, k: int, initial_ring: int | None,
              ball_fn, cell_key: list[str], guarantee_m, cell_m: float,
              geometry: str) -> DataFrame:
    """The one kNN plan behind knn_ring and knn_hex: a single ring round,
    then knn_brute for the queries that round leaves open.

    The round builds the candidates within ring R of every query:
    ball_fn explodes each query's cell ball to (q_id, qx, qy, *cell_key)
    rows, and the points join it on cell_key. The SHUFFLE_HASH hint pins
    that join's shape, both sides shuffled on the cell key: without it
    the planner broadcasts any ball under the broadcast threshold (every
    small test), and a ball of many queries or a wide ring would go
    through the Spark driver. The round then refines the candidates by
    exact distance and takes the per-query top-k. A query is RESOLVED
    when it found k rows and its k-th distance is <= guarantee_m(R):
    nothing outside the ring can be closer. The result is topk ⋉
    resolved (left semi-join) unioned with knn_brute over the queries ▷
    resolved (left anti-join), so every query gets an exact answer
    whatever R is.

    Building the plan runs one Spark action at most: the _density_ring
    aggregate that sizes R when initial_ring is None (over cell_m /
    geometry). A given initial_ring builds with no job, and a corpus of
    at most 32·k points returns the knn_brute plan outright. Nothing is
    persisted, so the plan reads `pts` and `q` more than once per action
    (the ring join and the brute branch; `pts` once more in the density
    aggregate at build). Both inputs must therefore be deterministic: a
    sample, an unordered limit or a rand() column could show the ring
    and the brute branch different rows.
    """
    if initial_ring is None:
        initial_ring = _density_ring(pts, k, cell_m, geometry)
    q_xy = q.select("q_id", F.col("qx").alias("x"), F.col("qy").alias("y"))
    if initial_ring is None:  # tiny corpus: brute IS the plan
        return knn_brute(pts, q_xy, k)
    guarantee2 = float(guarantee_m(initial_ring)) ** 2
    ball = ball_fn(q, initial_ring)
    cand = pts.join(ball.hint("SHUFFLE_HASH"), cell_key, "inner").withColumn(
        "dist2",
        (F.col("x") - F.col("qx")) * (F.col("x") - F.col("qx"))
        + (F.col("y") - F.col("qy")) * (F.col("y") - F.col("qy")),
    )
    # Guarantee-radius candidate prune: only rows with dist2 <=
    # guarantee2 can take part in a resolution, and the prune is exact.
    # If >= k candidates lie within the guarantee circle, the k nearest
    # are all within it (they are the k smallest distances), so the
    # pruned top-k equals the unpruned one and the query resolves the
    # same way. If fewer do, the query stays open, as it would unpruned
    # (either < k rows, or kth_d2 > guarantee2). Same inclusive <= and
    # same dist2 expression as the resolution check. Pruned rows never
    # leak: an open query goes to knn_brute over ALL points. Ring rows
    # outside the circle (the corner cells, ~1 - pi/4 of the box, plus
    # the density margin) skip the sort, shuffle and window: measured
    # 18-21% off the round at 1.44M points x 160k queries.
    cand = cand.filter(F.col("dist2") <= F.lit(guarantee2))
    w = W.partitionBy("q_id").orderBy(F.col("dist2").asc(), F.col("doc_id").asc())
    topk = (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "doc_id", "rank", "dist2")
    )
    # n_found >= k AND kth_d2 <= guarantee2, read off the rank-k row:
    # row_number is gap-free, so that row exists iff n_found >= k, and
    # its dist2 is the largest of the top-k
    resolved = F.broadcast(
        topk.filter((F.col("rank") == k) & (F.col("dist2") <= guarantee2)).select("q_id")
    )
    return topk.join(resolved, "q_id", "left_semi").unionAll(
        knn_brute(pts, q_xy.join(resolved, "q_id", "left_anti"), k)
    )


def _square_ring_cells(q: DataFrame, ring: int) -> DataFrame:
    """Enumerate the square BALL of Chebyshev radius `ring` around each
    query cell as rows — (2R+1)² cells per query."""
    r = F.lit(ring)
    return (
        q.withColumn("cell_x", F.explode(F.sequence(F.col("qcx") - r, F.col("qcx") + r)))
        .withColumn("cell_y", F.explode(F.sequence(F.col("qcy") - r, F.col("qcy") + r)))
        .select("q_id", "qx", "qy", "cell_x", "cell_y")
    )


def knn_ring(points: DataFrame, queries: DataFrame, zoom: int, grid_bits: int,
             k: int = 5, initial_ring: int | None = None,
             cell_join: str = "shuffle") -> DataFrame:
    """J6 scale path: one ring join on the cell grid, exact brute
    fallback only for the queries the ring does not resolve.

    The ring round joins points whose cell lies within Chebyshev
    radius R of a query's cell, refines by exact distance, and takes
    the per-query top-k. A query is FINAL when its k-th distance ≤
    R * cell_size (nothing outside the ring can be closer — the same
    buffered-margin geometry as the reference's partitions,
    dem2tintiles_workflow.cpp:51-53). The ring is density-derived
    (_density_ring) so it is expected to resolve every query; the
    brute branch is the rare-miss path. See _knn_plan for the plan
    and its one action.

    The candidates come from each query's (2R+1)² cell box exploded to
    (cell_x, cell_y) rows and hash-joined with the points, both sides
    shuffled on the cell key: work scales with |q|·ball + |points|, and
    neither side goes through the Spark driver. Exact and hash-equal to
    knn_brute (tested). cell_join names that join and accepts only
    "shuffle"; any other value raises ValueError.

    Frozen-caller parameters: cell_join — bench.py and
    perfbench/workloads.py pass "shuffle"; both change only with the
    benchmark.

    Test-only parameters: initial_ring — a ring smaller than the
    density ring leaves queries open, which is how
    tests/test_r06_optimizations.py and tests/test_spark_integration.py
    reach the knn_brute branch (tests/test_knn_plans.py checks its
    plan).
    """
    if cell_join != "shuffle":
        raise ValueError(f"cell_join must be 'shuffle', not {cell_join!r}")
    cell_m = GX.tile_size_meters(zoom + grid_bits)
    pts = points.select("doc_id", "x", "y", "cell_x", "cell_y")
    q = queries.select(
        "q_id",
        F.col("x").alias("qx"),
        F.col("y").alias("qy"),
        F.col("cell_x").alias("qcx"),
        F.col("cell_y").alias("qcy"),
    )
    return _knn_plan(
        pts, q, k, initial_ring, _square_ring_cells, ["cell_x", "cell_y"],
        lambda r: r * cell_m, cell_m, "square",
    )


# unit CCW octagon (trig-free: exact double literals shared with the oracle)
_OCT_S = 0.7071067811865476
OCTAGON = [
    (1.0, 0.0), (_OCT_S, _OCT_S), (0.0, 1.0), (-_OCT_S, _OCT_S),
    (-1.0, 0.0), (-_OCT_S, -_OCT_S), (0.0, -1.0), (_OCT_S, -_OCT_S),
]
# the convex polygons of convex_polygons_df/convex_polygons_sql
N_CONVEX = 12
CONVEX_SEED = 4242


def convex_polygons_df(spark):
    """Deterministic convex polygons (scaled octagons) as edge rows:
    (poly_id, edge_id, ex1, ey1, ex2, ey2, pmin_x/pmax_x/pmin_y/pmax_y).
    Edge rows instead of ring arrays keep the exact point-in-convex
    test a plain join + min-cross aggregation (no UDF)."""
    from pyspark.sql import functions as F

    r = spark.range(N_CONVEX).withColumnRenamed("id", "poly_id")
    cx = GX.mercator_x_sql(f"(poly_id + {CONVEX_SEED})")
    cy = GX.mercator_y_sql(f"(poly_id + {CONVEX_SEED})")
    rad = f"({GX.dlit(200000.0)} + {GX.dlit(2000000.0)} * {GX.u_hash_sql(f'(poly_id + {CONVEX_SEED})', 'u3')})"
    base = (
        r.withColumn("cx", F.expr(cx))
        .withColumn("cy", F.expr(cy))
        .withColumn("rad", F.expr(rad))
    )
    edges = None
    for i in range(len(OCTAGON)):
        x1, y1 = OCTAGON[i]
        x2, y2 = OCTAGON[(i + 1) % len(OCTAGON)]
        e = base.select(
            "poly_id",
            F.lit(i).alias("edge_id"),
            (F.col("cx") + F.col("rad") * x1).alias("ex1"),
            (F.col("cy") + F.col("rad") * y1).alias("ey1"),
            (F.col("cx") + F.col("rad") * x2).alias("ex2"),
            (F.col("cy") + F.col("rad") * y2).alias("ey2"),
            (F.col("cx") - F.col("rad")).alias("pmin_x"),
            (F.col("cx") + F.col("rad")).alias("pmax_x"),
            (F.col("cy") - F.col("rad")).alias("pmin_y"),
            (F.col("cy") + F.col("rad")).alias("pmax_y"),
        )
        edges = e if edges is None else edges.unionAll(e)
    return edges


def convex_polygons_sql() -> str:
    cx = GX.mercator_x_sql(f"(poly_id + {CONVEX_SEED})")
    cy = GX.mercator_y_sql(f"(poly_id + {CONVEX_SEED})")
    rad = f"({GX.dlit(200000.0)} + {GX.dlit(2000000.0)} * {GX.u_hash_sql(f'(poly_id + {CONVEX_SEED})', 'u3')})"
    corners = " UNION ALL ".join(
        f"SELECT {i} AS edge_id, {GX.dlit(x1)} AS ox1, {GX.dlit(y1)} AS oy1, "
        f"{GX.dlit(OCTAGON[(i + 1) % 8][0])} AS ox2, {GX.dlit(OCTAGON[(i + 1) % 8][1])} AS oy2"
        for i, (x1, y1) in enumerate(OCTAGON)
    )
    return f"""
      SELECT poly_id, edge_id,
             cx + rad * ox1 AS ex1, cy + rad * oy1 AS ey1,
             cx + rad * ox2 AS ex2, cy + rad * oy2 AS ey2,
             cx - rad AS pmin_x, cx + rad AS pmax_x,
             cy - rad AS pmin_y, cy + rad AS pmax_y
      FROM (SELECT CAST(range AS BIGINT) AS poly_id, {cx} AS cx, {cy} AS cy, {rad} AS rad
            FROM range({N_CONVEX})), ({corners})
    """


def pip_convex_join(points: DataFrame, poly_edges: DataFrame) -> DataFrame:
    """Exact point-in-convex-polygon: a point is inside (boundary
    inclusive, matching F3's inclusive rule) iff the cross product
    against every CCW edge is >= 0 — join on the bbox prefilter, then
    min-cross >= 0 via group-by-having. Pure Column math."""
    j = points.join(
        F.broadcast(poly_edges),
        F.col("x").between(F.col("pmin_x"), F.col("pmax_x"))
        & F.col("y").between(F.col("pmin_y"), F.col("pmax_y")),
        "inner",
    ).withColumn(
        "cross",
        (F.col("ex2") - F.col("ex1")) * (F.col("y") - F.col("ey1"))
        - (F.col("ey2") - F.col("ey1")) * (F.col("x") - F.col("ex1")),
    )
    return (
        j.groupBy("poly_id", "doc_id")
        .agg(F.min("cross").alias("min_cross"), F.count(F.lit(1)).alias("n_edges"))
        .filter((F.col("min_cross") >= 0) & (F.col("n_edges") == 8))
        .select("poly_id", "doc_id")
    )


def _hex_ring_cells(q: DataFrame, ring: int) -> DataFrame:
    """Enumerate the hex BALL of radius `ring` around each query cell
    as rows — 3R(R+1)+1 cells per query (the axial-coordinate identity:
    hexdist <= R  ⟺  dq in [-R,R], dr in [max(-R,-dq-R), min(R,-dq+R)]).
    Turns the ring lookup into a HASH equi-join on (hex_q, hex_r)
    instead of a hex-distance predicate evaluated against every
    (point, query) pair, the nested-loop join the theta-join form
    compiles to."""
    r = F.lit(ring)
    return (
        q.withColumn("dq", F.explode(F.sequence(-r, r)))
        .withColumn(
            "dr",
            F.explode(
                F.sequence(
                    F.greatest(-r, -F.col("dq") - r),
                    F.least(r, -F.col("dq") + r),
                )
            ),
        )
        .select(
            "q_id", "qx", "qy", "qhq", "qhr",
            (F.col("qhq") + F.col("dq")).alias("hex_q"),
            (F.col("qhr") + F.col("dr")).alias("hex_r"),
        )
    )


HEX_K = 5  # the neighbours knn_hex finds for each query


def knn_hex(points: DataFrame, queries: DataFrame, hex_size: float,
            initial_ring: int | None = None) -> DataFrame:
    """J6 over the H3-style hex index (charter: "kNN lookups over H3
    ring expansion"): the HEX_K nearest points of each query by the
    same plan as knn_ring (_knn_plan), but the candidate ring is
    hexagonal — the ring ball is exploded to cell rows and shuffle-hash
    joined on (hex_q, hex_r) — and the resolution guarantee uses the
    hex staircase geometry
    (hexgrid.hex_ring_guarantee_m). Cells are computed from the meter
    coordinates with pure Column expressions (no UDF, no native lib);
    nothing is persisted, so each action derives them again. The ring
    is density-derived so it is expected to resolve every query.
    Exactness: results are hash-equal to knn_brute (the driver gate's
    oracle recomputes brute-force kNN in DuckDB).

    Test-only parameters: initial_ring — as for knn_ring, a small ring
    sends queries to the knn_brute branch in
    tests/test_r06_optimizations.py and tests/test_knn_plans.py, and a
    large one (60) forces a 10,981-cell ball in
    tests/test_spark_integration.py.

    Test-only parameters: hex_size — the corpora of
    tests/test_spark_integration.py, tests/test_r06_optimizations.py and
    tests/test_knn_plans.py size their hex cells to their own point
    density."""
    from ..functions import hexgrid as HG

    pts = HG.with_hex_cell(points.select("doc_id", "x", "y"), hex_size)
    q = HG.with_hex_cell(
        queries.select("q_id", F.col("x").alias("qx"), F.col("y").alias("qy")),
        hex_size, x="qx", y="qy", q_col="qhq", r_col="qhr",
    )
    return _knn_plan(
        pts, q, HEX_K, initial_ring, _hex_ring_cells, ["hex_q", "hex_r"],
        lambda r: HG.hex_ring_guarantee_m(r, hex_size), hex_size, "hex",
    )
