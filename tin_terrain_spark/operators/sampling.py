"""Dataset sampling / mixing operators (training-data pipeline).

  stratified_sample   per-stratum keep rates via a PORTABLE content
                      hash (md5-prefix → int, the same trick the dedup
                      family uses) — NOT Spark's sample()/sampleBy(),
                      whose RNG stream is engine-private and
                      partitioning-dependent. Hash gating is
                      deterministic, reproducible across engines and
                      re-runs, stable under repartitioning, and
                      trivially resumable — the properties a 100 TB
                      mixing job actually needs.
  sample_profile      per-stratum sampled/total counts + realized rate
                      (the mixing report).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

# mixing rates (percent) per language stratum, and for every other one
RATES = {"en": 50, "de": 30, "fr": 30}
RATE_OTHER = 10


def _hash_pct():
    """Deterministic uniform [0, 100) bucket from doc_id — portable to
    DuckDB as CAST(concat('0x', substr(md5(...),1,14)) AS BIGINT) % 100."""
    return F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 14), 16, 10
    ).cast("bigint") % 100


def sql_hash_pct() -> str:
    """DuckDB twin of _hash_pct over doc_id."""
    return "(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 14)) AS BIGINT) % 100)"


def _rate_col():
    c = F.lit(RATE_OTHER)
    for lang, r in sorted(RATES.items()):
        c = F.when(F.col("lang") == lang, F.lit(r)).otherwise(c)
    return c


def sql_rate() -> str:
    whens = " ".join(
        f"WHEN lang = '{lang}' THEN {r}" for lang, r in sorted(RATES.items())
    )
    return f"(CASE {whens} ELSE {RATE_OTHER} END)"


def stratified_sample(docs: DataFrame) -> DataFrame:
    """Rows kept iff hash_pct(doc_id) < rate(lang). Pure Column exprs —
    the filter pushes to the scan, no shuffle, no state."""
    h = _hash_pct()
    return (
        docs.withColumn("h_pct", h)
        .filter(F.col("h_pct") < _rate_col())
        .select("doc_id", "lang", "h_pct")
    )


def sample_profile(docs: DataFrame) -> DataFrame:
    """Per-lang mixing report: total, sampled, realized rate."""
    h = _hash_pct()
    kept = (h < _rate_col()).cast("int")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(kept).alias("n_sampled"),
        F.round(F.sum(kept) / F.count(F.lit(1)), 6).alias("realized_rate"),
    )


def sql_stratified_sample() -> str:
    h = sql_hash_pct()
    return f"""
      SELECT doc_id, lang, {h} AS h_pct
      FROM documents
      WHERE {h} < {sql_rate()}
    """


def sql_sample_profile() -> str:
    h = sql_hash_pct()
    return f"""
      SELECT lang, count(*) AS n_total,
             CAST(sum(CASE WHEN {h} < {sql_rate()} THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
             round(CAST(sum(CASE WHEN {h} < {sql_rate()} THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS realized_rate
      FROM documents GROUP BY lang
    """


PER_HOST = 3  # host_quota's cap


def host_quota(pages: DataFrame) -> DataFrame:
    """Per-host document cap — the anti-mega-host mixing primitive: no
    single host may contribute more than PER_HOST docs to the
    training mix. Deterministic: keeps the PER_HOST LOWEST doc_id
    values per host.

    100 TB shape: a rank-filtered window over (host), which Spark
    plans as WindowGroupLimit — the top-k rows are pre-filtered
    map-side BEFORE the shuffle, so a 10^8-page mega-host ships only
    k rows per input partition, not its whole tail. This is the same
    bounded-skew pattern as the kNN top-k."""
    w = Window.partitionBy("host").orderBy(F.col("doc_id").asc())
    return (
        pages.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= PER_HOST)
        .drop("_rn")
    )


MIX_WEIGHTS = {"en": 0.6, "de": 0.25}  # remaining mass → 'other'
MIX_BUDGET = 50_000  # tokens
OTHER_MASS = 1.0 - sum(MIX_WEIGHTS.values())


def mix_plan(docs: DataFrame) -> DataFrame:
    """Mixture planner — derives the per-language sampling rates that
    `stratified_sample` then applies: given target mixture weights and
    a global token budget, rate_s = min(1, budget * w_s / tokens_s),
    with every language outside MIX_WEIGHTS pooled into the remaining
    'other' mass (split proportionally to availability). Reports per
    stratum: available tokens, target share, the rate, and the
    expected token yield — the artifact a data-mixing run records.

    100 TB shape: ONE map-side-combinable aggregation over the corpus
    (token counts are row-wise expressions), then a broadcast of the
    tiny per-stratum table through the rate arithmetic — no second
    scan; the planner's output is O(#languages)."""
    per_lang = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).alias("tokens_avail"),
    )
    named = F.create_map(
        *[F.lit(x) for kv in MIX_WEIGHTS.items() for x in kv]
    )
    # unnamed strata split the 'other' mass proportionally to their
    # availability: w_s = OTHER_MASS * tokens_s / tokens_other_total
    tagged = per_lang.withColumn("named_w", named[F.col("lang")])
    other_tot = tagged.filter(F.col("named_w").isNull()).agg(
        F.coalesce(F.sum("tokens_avail"), F.lit(0)).cast("double").alias("other_tokens")
    )
    planned = tagged.crossJoin(F.broadcast(other_tot)).withColumn(
        "target_share",
        F.coalesce(
            F.col("named_w"),
            F.lit(OTHER_MASS) * F.col("tokens_avail") / F.col("other_tokens"),
        ),
    ).withColumn(
        "rate",
        F.least(
            F.lit(1.0),
            F.lit(float(MIX_BUDGET)) * F.col("target_share") / F.col("tokens_avail"),
        ),
    )
    return planned.select(
        "lang",
        "n_docs",
        "tokens_avail",
        F.round("target_share", 6).alias("target_share"),
        F.round("rate", 6).alias("rate"),
        F.round(F.col("rate") * F.col("tokens_avail"), 3).alias("expected_tokens"),
    )


def sql_mix_plan() -> str:
    named_case = " ".join(
        f"WHEN '{k}' THEN {v!r}e0" for k, v in MIX_WEIGHTS.items()
    )
    return f"""
      WITH per_lang AS (
        SELECT lang, count(*) AS n_docs,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens_avail,
               CASE lang {named_case} END AS named_w
        FROM documents GROUP BY lang
      ),
      other_tot AS (
        SELECT coalesce(CAST(sum(tokens_avail) AS DOUBLE), 0e0) AS other_tokens
        FROM per_lang WHERE named_w IS NULL
      ),
      planned AS (
        SELECT lang, n_docs, tokens_avail,
               coalesce(named_w,
                        {OTHER_MASS!r}e0 * tokens_avail / other_tokens)
                 AS target_share
        FROM per_lang, other_tot
      )
      SELECT lang, n_docs, tokens_avail,
             round(target_share, 6) AS target_share,
             round(least(1e0, {float(MIX_BUDGET)!r}e0 * target_share / tokens_avail), 6) AS rate,
             round(least(1e0, {float(MIX_BUDGET)!r}e0 * target_share / tokens_avail)
                   * tokens_avail, 3) AS expected_tokens
      FROM planned
    """
