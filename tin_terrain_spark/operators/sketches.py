"""Deterministic distinct-count sketch: KMV (k-minimum values).

KMV / bottom-k (the classic order-statistics sketch): hash every
value with a FIXED portable hash into (0, 1]; with U_(k) the k-th
smallest distinct hash, the distinct count is estimated by
(k-1) / U_(k). Spark's and DuckDB's built-in approx_count_distinct
are both HLL variants whose registers differ by implementation, so
they can never be value-compared — the bottom-k sketch with a fixed
md5-prefix hash is fully deterministic instead, which makes the WHOLE
sketch (its k retained hashes, not just an error bound) independently
recomputable by the DuckDB oracle. Groups holding fewer than k
distinct hashes report their exact count (the sketch is lossless
below k by construction).

100 TB shape: the distinct (group, hash) relation is ONE map-side-
combinable aggregation; the k smallest per group come from a
row_number window that Spark 4 executes with WindowGroupLimit (the
top-k is pushed below the final read, no group materializes more
than k rows downstream); the final per-group fold is k rows each.
Mergeability — union of bottom-k sets then re-truncate — is the
standard distributed property and is exactly what the partial
aggregation performs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .dedup import _P, _tok_hash

K = 64  # the hashes a group's sketch keeps


def kmv_distinct(df: DataFrame) -> DataFrame:
    """Per-lang distinct-count estimate of the tok values: (lang,
    n_exact, n_mins, kmv_estimate). n_exact (the true distinct count)
    is included for the accuracy contract; a production run would drop
    it and keep only the sketch columns."""
    h = df.select("lang", _tok_hash(F.col("tok")).alias("h")).distinct()
    w = Window.partitionBy("lang").orderBy("h")
    ranked = h.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= K
    )
    sketch = ranked.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_mins"), F.max("h").alias("hk")
    )
    exact = df.groupBy("lang").agg(F.countDistinct("tok").alias("n_exact"))
    est = F.when(
        F.col("n_mins") < K, F.col("n_mins").cast("double")
    ).otherwise(
        F.lit(float(K - 1)) / ((F.col("hk") + F.lit(1)).cast("double")
                               / F.lit(float(_P)))
    )
    return exact.join(sketch, "lang").select(
        "lang",
        "n_exact",
        "n_mins",
        F.round(est, 6).alias("kmv_estimate"),
    )


def sql_kmv_distinct() -> str:
    """DuckDB twin over the documents' (lang, space-split token) rows."""
    from .dedup import SQL_TOK_HASH

    vh = SQL_TOK_HASH.format(s="tok")
    return f"""
      WITH src AS (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents),
      hs AS (SELECT DISTINCT lang, {vh} AS h FROM src),
      ranked AS (
        SELECT lang, h,
               row_number() OVER (PARTITION BY lang ORDER BY h) AS rk
        FROM hs
      ),
      sk AS (
        SELECT lang, count(*) AS n_mins, max(h) AS hk
        FROM ranked WHERE rk <= {K} GROUP BY lang
      ),
      ex AS (
        SELECT lang, count(DISTINCT tok) AS n_exact
        FROM src GROUP BY lang
      )
      SELECT ex.lang, ex.n_exact, sk.n_mins,
             round(CASE WHEN sk.n_mins < {K}
                        THEN CAST(sk.n_mins AS DOUBLE)
                        ELSE {float(K - 1)!r}
                             / ((CAST(sk.hk AS DOUBLE) + 1e0)
                                / {float(_P)!r})
                   END, 6) AS kmv_estimate
      FROM ex JOIN sk USING (lang)
    """
