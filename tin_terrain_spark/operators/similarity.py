"""Similarity search over the embeddings table (array<float> dim 64).

  ann_brute   exact cosine top-k: zip_with + aggregate HOFs (JVM-side,
              sequential left-to-right double accumulation), per-query
              row_number window. The baseline for recall checks.
  ann_lsh     sign-random-projection LSH buckets (deterministic integer
              hyperplanes) → candidates share a bucket → exact refine.
              The 10^12-row scale path: the bucket join replaces the
              cross join; recall measured against ann_brute in tests.

Scores are rounded to 4 decimals before ranking with vec_id tiebreak,
absorbing summation-order ULPs for engine parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

# queries (vec_id < N_QUERIES) and results per query of the ANN operators
N_QUERIES = 8
TOP_K = 10
# SRP hashing: SRP_TABLES tables of SRP_PLANES hyperplanes each
SRP_TABLES = 4
SRP_PLANES = 4
# IVF: IVF_CENT centroids, each query probes its IVF_PROBE nearest
IVF_CENT = 16
IVF_PROBE = 4
# embed_near_dup: cosine threshold and the hot-bucket cap
EMB_DUP_THRESHOLD = 0.35
EMB_BUCKET_CAP = 200

DOT = "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"


def _norm_sql(col: str) -> str:
    return f"SQRT({DOT.format(a=col, b=col)})"


def ann_brute(emb: DataFrame) -> DataFrame:
    """Exact brute-force cosine top-TOP_K for the first N_QUERIES vectors."""
    # norms once per vector / per query, not per pair (same values,
    # factored out of the O(n x queries) pair stream)
    v = emb.select(
        "vec_id", "embedding", F.expr(_norm_sql("embedding")).alias("_norm")
    )
    q = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("_norm").alias("_qnorm"),
    )
    pairs = v.crossJoin(F.broadcast(q)).filter(F.col("vec_id") != F.col("q_id"))
    dot = F.expr(DOT.format(a="embedding", b="q_emb"))
    cos = dot / (F.col("_norm") * F.col("_qnorm"))
    scored = pairs.withColumn("score", F.round(cos, 4))
    w = W.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "vec_id", "rank", "score")
    )


def srp_buckets(emb: DataFrame) -> DataFrame:
    """Multi-table sign-random-projection: per table t, bucket bit p =
    sign(<v, h_{t,p}>), hyperplane weight for dim d =
    ((d * (t*P+p+1) * 2654435761) mod 65521) - 32760 (deterministic
    integer pseudo-hyperplanes, P = SRP_PLANES). One row per (vec_id,
    table, bucket) — a long layout that joins as a plain equi-key.

    All SRP_TABLES tables are computed in ONE projection over ONE scan and
    unpivoted with posexplode (the earlier table-per-branch unionAll
    re-scanned the input per table and quadrupled the plan that
    Catalyst has to analyze on every fresh build)."""
    buckets = []
    for t in range(SRP_TABLES):
        bits = []
        for p in range(SRP_PLANES):
            seed = t * SRP_PLANES + p + 1
            w_expr = (
                f"aggregate(zip_with(embedding, sequence(1, size(embedding)), "
                f"(x, d) -> CAST(x AS DOUBLE) * (CAST((d * {seed} * 2654435761) % 65521 AS DOUBLE) - 32760.0)), "
                f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
            )
            bits.append(
                F.when(F.expr(w_expr) >= 0, F.lit(1 << p)).otherwise(F.lit(0))
            )
        bucket = bits[0]
        for extra in bits[1:]:
            bucket = bucket + extra
        buckets.append(bucket)
    return emb.select(
        "vec_id", F.posexplode(F.array(*buckets)).alias("table_id", "bucket")
    )


def ann_lsh(emb: DataFrame) -> DataFrame:
    """LSH-bucketed ANN: candidates = vectors sharing ANY table's bucket
    with the query (equi-join on (table, bucket) — shuffle-free with
    broadcast queries), deduped, exact cosine refine + top-k.
    Approximate by design; recall vs ann_brute asserted in tests."""
    b = srp_buckets(emb)
    qb = b.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), "table_id", "bucket"
    )
    cand_ids = (
        b.join(F.broadcast(qb), ["table_id", "bucket"], "inner")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id")
        .distinct()
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    embn = emb.select(
        "vec_id", "embedding", F.expr(_norm_sql("embedding")).alias("_norm")
    )
    qn = q.withColumn("_qnorm", F.expr(_norm_sql("q_emb")))
    cand = cand_ids.join(embn, "vec_id").join(F.broadcast(qn), "q_id")
    dot = F.expr(DOT.format(a="embedding", b="q_emb"))
    cos = dot / (F.col("_norm") * F.col("_qnorm"))
    scored = cand.withColumn("score", F.round(cos, 4))
    w = W.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "vec_id", "rank", "score")
    )


L2 = "aggregate(zip_with({a}, {b}, (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"


def ivf_centroids(emb: DataFrame) -> DataFrame:
    """Deterministic IVF coarse quantizer: centroids seeded from the
    first IVF_CENT vectors, refined by one Lloyd step (assign by L2,
    recompute per-dimension means). Everything is DataFrame ops —
    assignment is a broadcast distance join + argmin window (partitioned
    by vec_id), the mean recompute is posexplode → groupBy(centroid,
    dim) → ordered re-assembly. Means round to 5 decimals so the
    (order-dependent) double sums agree bit-wise with the SQL oracle.

    Returns (centroid_id, centroid ARRAY<DOUBLE>)."""
    seed = emb.filter(F.col("vec_id") < IVF_CENT).select(
        F.col("vec_id").alias("centroid_id"),
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("centroid"),
    )
    d2 = F.expr(L2.format(a="embedding", b="centroid"))
    asg = (
        emb.crossJoin(F.broadcast(seed))
        .withColumn("d2", F.round(d2, 6))
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("vec_id").orderBy(F.col("d2").asc(), F.col("centroid_id").asc())
            ),
        )
        .filter(F.col("rk") == 1)
        .select("vec_id", "centroid_id", "embedding")
    )
    dims = asg.select(
        "centroid_id", F.posexplode("embedding").alias("dim", "val")
    )
    means = dims.groupBy("centroid_id", "dim").agg(
        F.round(F.avg(F.col("val").cast("double")), 5).alias("m")
    )
    return (
        means.groupBy("centroid_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(dim, m))), s -> s.m)"
            ).alias("centroid")
        )
    )


def assign_ivf(emb: DataFrame, cent: DataFrame) -> DataFrame:
    """(vec_id, centroid_id): each vector's inverted-list bucket."""
    d2 = F.expr(L2.format(a="embedding", b="centroid"))
    return (
        emb.crossJoin(F.broadcast(cent))
        .withColumn("d2", F.round(d2, 6))
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("vec_id").orderBy(F.col("d2").asc(), F.col("centroid_id").asc())
            ),
        )
        .filter(F.col("rk") == 1)
        .select("vec_id", "centroid_id")
    )


def ann_ivf(emb: DataFrame) -> DataFrame:
    """IVF-probed ANN (the charter's IVF scale path, alongside the
    SRP-LSH variant): queries probe their IVF_PROBE nearest centroids,
    candidates come from those inverted lists only (equi-join on
    centroid_id — at 10^12 rows this scans IVF_PROBE/IVF_CENT of the
    corpus), exact cosine refine + top-k. Fully deterministic →
    sql_ann_ivf oracle."""
    cent = ivf_centroids(emb)
    asg = assign_ivf(emb, cent)

    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    qd2 = F.expr(L2.format(a="q_emb", b="centroid"))
    probes = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("d2", F.round(qd2, 6))
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("q_id").orderBy(F.col("d2").asc(), F.col("centroid_id").asc())
            ),
        )
        .filter(F.col("rk") <= IVF_PROBE)
        .select("q_id", "centroid_id")
    )
    cand_ids = (
        asg.join(F.broadcast(probes), "centroid_id")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id")
        .distinct()
    )
    embn = emb.select(
        "vec_id", "embedding", F.expr(_norm_sql("embedding")).alias("_norm")
    )
    qn = q.withColumn("_qnorm", F.expr(_norm_sql("q_emb")))
    cand = cand_ids.join(embn, "vec_id").join(F.broadcast(qn), "q_id")
    dot = F.expr(DOT.format(a="embedding", b="q_emb"))
    cos = dot / (F.col("_norm") * F.col("_qnorm"))
    scored = cand.withColumn("score", F.round(cos, 4))
    w = W.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "vec_id", "rank", "score")
    )


def sql_ann_ivf() -> str:
    """DuckDB twin of ann_ivf (seed → one Lloyd step → assign → probe
    → refine)."""
    l2 = (
        "list_sum(list_transform(list_zip({a}, {b}), "
        "z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)) * (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))))"
    )
    return f"""
      WITH seed AS (
        SELECT vec_id AS centroid_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS centroid
        FROM embeddings WHERE vec_id < {IVF_CENT}
      ), asg0 AS (
        SELECT vec_id, centroid_id, embedding FROM (
          SELECT e.vec_id, s.centroid_id, e.embedding,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY round({l2.format(a='e.embedding', b='s.centroid')}, 6) ASC, s.centroid_id ASC) AS rk
          FROM embeddings e, seed s
        ) WHERE rk = 1
      ), means AS (
        SELECT centroid_id, dim, round(avg(CAST(val AS DOUBLE)), 5) AS m
        FROM (
          SELECT centroid_id, unnest(embedding) AS val,
                 generate_subscripts(embedding, 1) - 1 AS dim
          FROM asg0
        ) GROUP BY centroid_id, dim
      ), cent AS (
        SELECT centroid_id, list(m ORDER BY dim) AS centroid
        FROM means GROUP BY centroid_id
      ), asg AS (
        SELECT vec_id, centroid_id FROM (
          SELECT e.vec_id, c.centroid_id,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY round({l2.format(a='e.embedding', b='c.centroid')}, 6) ASC, c.centroid_id ASC) AS rk
          FROM embeddings e, cent c
        ) WHERE rk = 1
      ), q AS (
        SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < {N_QUERIES}
      ), probes AS (
        SELECT q_id, centroid_id FROM (
          SELECT q.q_id, c.centroid_id,
                 row_number() OVER (PARTITION BY q.q_id
                   ORDER BY round({l2.format(a='q.q_emb', b='c.centroid')}, 6) ASC, c.centroid_id ASC) AS rk
          FROM q, cent c
        ) WHERE rk <= {IVF_PROBE}
      ), cand AS (
        SELECT DISTINCT p.q_id, a.vec_id
        FROM asg a JOIN probes p USING (centroid_id)
        WHERE a.vec_id <> p.q_id
      ), pairs AS (
        SELECT c.q_id, c.vec_id,
               list_sum(list_transform(list_zip(v.embedding, qe.q_emb),
                        pr -> CAST(pr[1] AS DOUBLE) * CAST(pr[2] AS DOUBLE))) AS dot,
               sqrt(list_sum(list_transform(v.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nv,
               sqrt(list_sum(list_transform(qe.q_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nq
        FROM cand c
        JOIN embeddings v ON v.vec_id = c.vec_id
        JOIN q qe ON qe.q_id = c.q_id
      )
      SELECT q_id, vec_id, rank, score FROM (
        SELECT q_id, vec_id, round(dot / (nv * nq), 4) AS score,
               CAST(row_number() OVER (PARTITION BY q_id ORDER BY round(dot / (nv * nq), 4) DESC, vec_id ASC) AS INT) AS rank
        FROM pairs
      ) WHERE rank <= {TOP_K}
    """


def embed_near_dup(emb: DataFrame) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the charter's
    embedding-based dedup method): SRP buckets → bucket self-join
    capped at EMB_BUCKET_CAP members → exact cosine refine ≥
    EMB_DUP_THRESHOLD. The bucket join is the
    O(n) scale path (candidates only among bucket-mates, hot buckets
    dropped); exact cosine keeps the emitted pairs precise. Fully
    deterministic → SQL-twin oracle (sql_embed_near_dup)."""
    from pyspark.sql import Window as W

    b = srp_buckets(emb)
    sized = b.withColumn(
        "_bsz", F.count(F.lit(1)).over(W.partitionBy("table_id", "bucket"))
    ).filter(F.col("_bsz") <= EMB_BUCKET_CAP)
    a = sized.select(F.col("vec_id").alias("vec_a"), "table_id", "bucket")
    bb = sized.select(F.col("vec_id").alias("vec_b"), "table_id", "bucket")
    cand = (
        a.join(bb, ["table_id", "bucket"], "inner")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    # norms once per VECTOR (O(n x dim)), not once per pair side
    # (O(pairs x dim)) — same values, same arithmetic, factored out
    ea = emb.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"),
        F.expr(_norm_sql("embedding")).alias("norm_a"),
    )
    eb = emb.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"),
        F.expr(_norm_sql("embedding")).alias("norm_b"),
    )
    pairs = cand.join(ea, "vec_a").join(eb, "vec_b")
    dot = F.expr(DOT.format(a="emb_a", b="emb_b"))
    cos = dot / (F.col("norm_a") * F.col("norm_b"))
    return (
        pairs.withColumn("score", F.round(cos, 4))
        .filter(F.col("score") >= EMB_DUP_THRESHOLD)
        .select("vec_a", "vec_b", "score")
    )


def sql_embed_near_dup() -> str:
    return f"""
      WITH planes AS (
        SELECT t AS table_id, p, t * {SRP_PLANES} + p + 1 AS seed
        FROM (SELECT unnest(range(0, {SRP_TABLES})) AS t),
             (SELECT unnest(range(0, {SRP_PLANES})) AS p)
      ), proj AS (
        SELECT e.vec_id, pl.table_id, pl.p,
               list_sum(list_transform(list_zip(e.embedding, range(1, len(e.embedding) + 1)),
                        z -> CAST(z[1] AS DOUBLE) * (CAST((z[2] * pl.seed * 2654435761) % 65521 AS DOUBLE) - 32760.0))) AS proj
        FROM embeddings e, planes pl
      ), buckets AS (
        SELECT vec_id, table_id,
               CAST(sum(CASE WHEN proj >= 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS bucket
        FROM proj GROUP BY vec_id, table_id
      ), sized AS (
        SELECT vec_id, table_id, bucket,
               count(*) OVER (PARTITION BY table_id, bucket) AS bsz
        FROM buckets
      ), cand AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM sized a JOIN sized b ON a.table_id = b.table_id AND a.bucket = b.bucket
        WHERE a.vec_id < b.vec_id AND a.bsz <= {EMB_BUCKET_CAP}
      )
      SELECT c.vec_a, c.vec_b,
             round(
               list_sum(list_transform(list_zip(ea.embedding, eb.embedding),
                        pr -> CAST(pr[1] AS DOUBLE) * CAST(pr[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(ea.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(eb.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
               4) AS score
      FROM cand c
      JOIN embeddings ea ON ea.vec_id = c.vec_a
      JOIN embeddings eb ON eb.vec_id = c.vec_b
      WHERE round(
               list_sum(list_transform(list_zip(ea.embedding, eb.embedding),
                        pr -> CAST(pr[1] AS DOUBLE) * CAST(pr[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(ea.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(eb.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
               4) >= {EMB_DUP_THRESHOLD}
    """


def sql_ann_lsh() -> str:
    """DuckDB oracle for the SRP-bucketed ANN: the bucketing is exact
    integer pseudo-hyperplane math (srp_buckets), so candidates — and
    therefore the refined top-k — are reproducible in plain SQL."""
    return f"""
      WITH planes AS (
        SELECT t AS table_id, p, t * {SRP_PLANES} + p + 1 AS seed
        FROM (SELECT unnest(range(0, {SRP_TABLES})) AS t),
             (SELECT unnest(range(0, {SRP_PLANES})) AS p)
      ), proj AS (
        SELECT e.vec_id, pl.table_id, pl.p,
               list_sum(list_transform(list_zip(e.embedding, range(1, len(e.embedding) + 1)),
                        z -> CAST(z[1] AS DOUBLE) * (CAST((z[2] * pl.seed * 2654435761) % 65521 AS DOUBLE) - 32760.0))) AS proj
        FROM embeddings e, planes pl
      ), buckets AS (
        SELECT vec_id, table_id,
               CAST(sum(CASE WHEN proj >= 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS bucket
        FROM proj GROUP BY vec_id, table_id
      ), qb AS (
        SELECT vec_id AS q_id, table_id, bucket FROM buckets WHERE vec_id < {N_QUERIES}
      ), cand AS (
        SELECT DISTINCT b.vec_id, q.q_id
        FROM buckets b JOIN qb q USING (table_id, bucket)
        WHERE b.vec_id <> q.q_id
      ), pairs AS (
        SELECT c.q_id, c.vec_id,
               list_sum(list_transform(list_zip(v.embedding, qe.embedding),
                        pr -> CAST(pr[1] AS DOUBLE) * CAST(pr[2] AS DOUBLE))) AS dot,
               sqrt(list_sum(list_transform(v.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nv,
               sqrt(list_sum(list_transform(qe.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nq
        FROM cand c
        JOIN embeddings v ON v.vec_id = c.vec_id
        JOIN embeddings qe ON qe.vec_id = c.q_id
      )
      SELECT q_id, vec_id, rank, score FROM (
        SELECT q_id, vec_id, round(dot / (nv * nq), 4) AS score,
               CAST(row_number() OVER (PARTITION BY q_id ORDER BY round(dot / (nv * nq), 4) DESC, vec_id ASC) AS INT) AS rank
        FROM pairs
      ) WHERE rank <= {TOP_K}
    """


def sql_ann_brute() -> str:
    """DuckDB oracle: unnest-based dot product (cast to double),
    rounded to 4 before ranking — identical tie semantics."""
    return f"""
      WITH v AS (
        SELECT vec_id, embedding FROM embeddings
      ), q AS (
        SELECT vec_id AS q_id, embedding AS q_emb FROM v WHERE vec_id < {N_QUERIES}
      ), pairs AS (
        SELECT v.vec_id, q.q_id,
               list_sum(list_transform(list_zip(v.embedding, q.q_emb),
                        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) AS dot,
               sqrt(list_sum(list_transform(v.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nv,
               sqrt(list_sum(list_transform(q.q_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nq
        FROM v, q WHERE v.vec_id <> q.q_id
      )
      SELECT q_id, vec_id, rank, score FROM (
        SELECT q_id, vec_id, round(dot / (nv * nq), 4) AS score,
               CAST(row_number() OVER (PARTITION BY q_id ORDER BY round(dot / (nv * nq), 4) DESC, vec_id ASC) AS INT) AS rank
        FROM pairs
      ) WHERE rank <= {TOP_K}
    """
