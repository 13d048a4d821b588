"""URL / host operators for the Common-Crawl-style pages table.

The charter's input is pages(url, warc_ts, html, text, lang); the
sandbox documents table carries no url column, so `synth_urls` attaches
one deterministically (integer arithmetic only — the DuckDB oracle
rebuilds the same urls) exactly like synth_media does for the html
column. Host extraction runs JVM-side (parse_url — no Python), and the
per-host profile is the domain-mixing primitive every web-scale
training pipeline needs: at 10^12 pages it is ONE map-side-combined
groupBy on a low-cardinality key (hosts ~ 10^7), with the usual skew
note: a pathological mega-host is still bounded because the partial
aggregates combine map-side before the shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

N_HOSTS = 997  # hosts per source bucket (prime → uniform doc_id spread)


def synth_urls(docs: DataFrame) -> DataFrame:
    """Attach a deterministic url per doc:
    https://{source}-{doc_id % 997}.example.org/doc/{doc_id}"""
    return docs.withColumn(
        "url",
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit("-"),
            (F.col("doc_id") % N_HOSTS).cast("string"),
            F.lit(".example.org/doc/"),
            F.col("doc_id").cast("string"),
        ),
    )


def with_host(pages: DataFrame) -> DataFrame:
    """JVM-side host + registrable-domain extraction from url (no UDF)."""
    host = F.parse_url(F.col("url"), F.lit("HOST"))
    return pages.withColumn("host", host).withColumn(
        "domain", F.substring_index(F.col("host"), ".", -2)
    )


def host_profile(pages: DataFrame) -> DataFrame:
    """Per-host profile: doc count, language spread, size stats — the
    inputs to domain-level mixing/filtering decisions."""
    return (
        with_host(pages)
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
            F.min("doc_id").alias("first_doc"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


def sql_host_profile() -> str:
    """DuckDB twin: identical url synthesis + regexp host extraction."""
    return f"""
      WITH pages AS (
        SELECT doc_id, lang, n_chars,
               'https://' || source || '-' || CAST(doc_id % {N_HOSTS} AS VARCHAR)
               || '.example.org/doc/' || CAST(doc_id AS VARCHAR) AS url
        FROM documents
      )
      SELECT regexp_extract(url, '^https://([^/]+)/', 1) AS host,
             count(*) AS n_docs,
             count(DISTINCT lang) AS n_langs,
             min(doc_id) AS first_doc,
             round(avg(n_chars), 6) AS avg_chars,
             max(n_chars) AS max_chars
      FROM pages GROUP BY 1
    """


TRACKING_PARAM_RE = "(utm_[A-Za-z0-9_]*|gclid|fbclid|ref)"


def synth_noisy_urls(docs: DataFrame) -> DataFrame:
    """Six deterministic noise variants over the synth url (doc_id % 6):
    clean / uppercased scheme+host / fragment / tracking-only query /
    default port + trailing slash / mixed query with tracking params
    and fragment. The DuckDB twin rebuilds the same strings."""
    did = F.col("doc_id")
    pre = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit("-"),
        (did % N_HOSTS).cast("string"),
        F.lit(".example.org"),
    )
    path = F.concat(F.lit("/doc/"), did.cast("string"))
    v = (did % 6).cast("int")
    url = (
        F.when(v == 0, F.concat(pre, path))
        .when(v == 1, F.concat(F.upper(pre), path))
        .when(v == 2, F.concat(pre, path, F.lit("#section2")))
        .when(v == 3, F.concat(pre, path, F.lit("?utm_source=feed&utm_campaign=x")))
        .when(v == 4, F.concat(pre, F.lit(":443"), path, F.lit("/")))
        .otherwise(
            F.concat(
                pre, path, F.lit("?id="), (did % 9).cast("string"),
                F.lit("&utm_medium=a&ref=x#frag"),
            )
        )
    )
    return docs.select("doc_id", url.alias("url_noisy"))


def canonicalize_url(pages: DataFrame) -> DataFrame:
    """URL canonicalization of url_noisy — the dedup key normalization
    every crawl pipeline applies before url-level dedup: lowercase
    scheme+host, drop default ports (:443 https / :80 http), strip fragments,
    remove tracking query params (utm_*, gclid, fbclid, ref) with
    separator repair, and strip a lone trailing slash from non-root
    paths. Path and query case/content are otherwise preserved.

    100 TB shape: a codegen'd JVM regexp_replace chain — map-only,
    no UDF, no shuffle; fuses into the scan."""
    u = F.col("url_noisy")
    staged = pages.withColumn("_nofrag", F.regexp_replace(u, "#.*$", "")).withColumn(
        "_pre",
        F.regexp_extract(
            F.col("_nofrag"), "^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]+)", 1
        ),
    )
    rest = F.substr(F.col("_nofrag"), F.length("_pre") + F.lit(1))
    pre = F.lower(F.col("_pre"))
    pre = F.regexp_replace(pre, "^(https://[^:/]+):443$", "$1")
    pre = F.regexp_replace(pre, "^(http://[^:/]+):80$", "$1")
    rest = F.regexp_replace(rest, f"[?&]{TRACKING_PARAM_RE}=[^&]*", "")
    rest = F.regexp_replace(rest, "^([^?&]*)&", "$1?")  # first kept param
    rest = F.regexp_replace(rest, "^(.+[^/])/$", "$1")  # trailing slash
    canon = F.concat(pre, rest)
    return staged.select(
        "doc_id",
        u.alias("url_noisy"),
        canon.alias("url_canon"),
        (canon != u).alias("changed"),
    )


def sql_url_canon() -> str:
    """Closed-form twin: per variant the expected canonical url is the
    clean synth url (plus the kept id param for variant 5) — the
    chain's output is pinned against ground truth, not a re-
    implementation."""
    return f"""
      WITH base AS (
        SELECT doc_id,
               'https://' || source || '-' || CAST(doc_id % {N_HOSTS} AS VARCHAR)
                 || '.example.org' AS pre,
               '/doc/' || CAST(doc_id AS VARCHAR) AS path,
               CAST(doc_id % 6 AS INT) AS v
        FROM documents
      )
      SELECT doc_id,
             CASE v
               WHEN 0 THEN pre || path
               WHEN 1 THEN upper(pre) || path
               WHEN 2 THEN pre || path || '#section2'
               WHEN 3 THEN pre || path || '?utm_source=feed&utm_campaign=x'
               WHEN 4 THEN pre || ':443' || path || '/'
               ELSE pre || path || '?id=' || (doc_id % 9) || '&utm_medium=a&ref=x#frag'
             END AS url_noisy,
             CASE WHEN v = 5 THEN pre || path || '?id=' || (doc_id % 9)
                  ELSE pre || path END AS url_canon,
             v <> 0 AS changed
      FROM base
    """


def snapshot_delta(snap_a: DataFrame, snap_b: DataFrame) -> DataFrame:
    """Recrawl snapshot delta — the monthly-crawl maintenance primitive
    (sources/iceberg.py's recrawl-delta path): classify every url
    across two snapshots of pages(url, content_md5) as

      new        in B only
      gone       in A only
      changed    in both, content hash differs
      unchanged  in both, identical

    100 TB shape: ONE full-outer hash equi-join on url (both sides
    partition by the join key; AQE handles the skewless url space) and
    pure column expressions after — no UDF, no second pass. Downstream
    incremental pipelines filter status IN ('new','changed') and touch
    only the delta."""
    a = snap_a.select(
        F.col("url").alias("url_a"), F.col("content_md5").alias("md5_a")
    )
    b = snap_b.select(
        F.col("url").alias("url_b"), F.col("content_md5").alias("md5_b")
    )
    joined = a.join(b, a["url_a"] == b["url_b"], "full_outer")
    return joined.select(
        F.coalesce(F.col("url_b"), F.col("url_a")).alias("url"),
        F.when(F.col("url_a").isNull(), F.lit("new"))
        .when(F.col("url_b").isNull(), F.lit("gone"))
        .when(F.col("md5_a") != F.col("md5_b"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
    )


def synth_snapshots(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Two deterministic snapshots from one corpus: A = every doc as
    crawled; B = docs with doc_id % 11 == 3 dropped (gone), text of
    doc_id % 5 == 0 revised (changed), plus one brand-new url per
    doc_id % 13 == 1 (new). Closed-form — the DuckDB twin rebuilds
    both sides."""
    pages = synth_urls(docs).select(
        "doc_id", "url", F.md5(F.col("text")).alias("content_md5")
    )
    survivors = pages.filter(F.col("doc_id") % 11 != 3)
    revised = survivors.withColumn(
        "content_md5",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.md5(F.concat(F.lit("rev2:"), F.col("content_md5"))),
        ).otherwise(F.col("content_md5")),
    )
    fresh = docs.filter(F.col("doc_id") % 13 == 1).select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.org/new/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.md5(F.concat(F.lit("fresh:"), F.col("text"))).alias("content_md5"),
    )
    snap_b = revised.select("url", "content_md5").unionAll(fresh)
    return pages.select("url", "content_md5"), snap_b


def sql_snapshot_delta() -> str:
    return f"""
      WITH pages AS (
        SELECT doc_id,
               'https://' || source || '-' || CAST(doc_id % {N_HOSTS} AS VARCHAR)
                 || '.example.org/doc/' || CAST(doc_id AS VARCHAR) AS url
        FROM documents
      )
      SELECT url,
             CASE
               WHEN doc_id % 11 = 3 THEN 'gone'
               WHEN doc_id % 5 = 0 THEN 'changed'
               ELSE 'unchanged'
             END AS status
      FROM pages
      UNION ALL
      SELECT 'https://' || source || '.example.org/new/' || CAST(doc_id AS VARCHAR),
             'new'
      FROM documents WHERE doc_id % 13 = 1
    """


# ---------------------------------------------------------------------------
# eTLD+1 (registered domain) via the public-suffix algorithm
# ---------------------------------------------------------------------------

# Mini public-suffix snapshot (the publicsuffix.org ALGORITHM is the
# thing under test, not the full 9k-rule list — a deployment swaps in
# the real list, same shapes): plain rules, a wildcard, an exception.
PSL_RULES: tuple[str, ...] = (
    "com", "org", "net", "io", "uk", "jp", "au", "ck",
    "co.uk", "org.uk", "ac.uk", "github.io", "co.jp", "com.au",
    "*.ck", "!www.ck",
)


def _psl_rules_df(spark):
    """PSL_RULES as (pattern, nlabels, is_exc), a VALUES relation: the
    JVM holds it as a local table, so a query that reads it runs no
    Python task (the list form of createDataFrame is a PythonRDD of
    pickled rows)."""
    rows = []
    for r in PSL_RULES:
        exc = r.startswith("!")
        pat = r[1:] if exc else r
        rows.append(f"('{pat}', {pat.count('.') + 1}, {str(exc).upper()})")
    return spark.sql(f"VALUES {', '.join(rows)} AS t(pattern, nlabels, is_exc)")


def registered_domain(hosts: DataFrame) -> DataFrame:
    """eTLD+1 of each host under PSL_RULES, with real public-suffix
    semantics (wildcard `*.ck` and exception `!www.ck` rules — the cases the naive
    last-two-labels split gets wrong; domain-level dedup/mixing keyed
    on the naive split silently merges every `*.co.uk` site into one
    group). Pure JVM plan: per host, generate the label-suffix
    candidates (literal + wildcarded, depth ≤ 5), broadcast-join the
    tiny rules table, pick the winner per the published algorithm
    (exception beats all and drops its leftmost label; else longest
    match; else the implicit `*` rule), then slice suffix_len+1
    trailing labels. suffix/registered are NULL when the host IS a
    public suffix. One broadcast join + one map-side-combined agg —
    no Python, no shuffle of the pages table itself.

    Algorithm: https://publicsuffix.org/list/ (public spec)."""
    spark = hosts.sparkSession
    rules_df = _psl_rules_df(spark)

    labels = F.split(F.col("host"), r"\.")
    n = F.size(labels)
    # depth-i literal suffix = last i labels; wildcard form replaces
    # the (i-th from end) label with '*'; slot 0 reserves depth 1..5
    depth = F.sequence(F.lit(1), F.least(n, F.lit(5)))
    lit_suf = F.transform(
        depth, lambda i: F.array_join(F.slice(labels, -i, i), ".")
    )
    # a depth-i wildcard pattern '*.<last i-1 labels>' consumes i
    # labels: '*' stands for exactly one label (publicsuffix.org)
    wild_suf = F.transform(
        depth,
        lambda i: F.when(
            i >= 2,
            F.concat(
                F.lit("*."), F.array_join(F.slice(labels, -(i - 1), i - 1), ".")
            ),
        ),
    )
    keyed = (
        hosts.select("host")
        .distinct()
        .withColumn("_cand", F.array_union(lit_suf, F.filter(wild_suf, lambda c: c.isNotNull())))
    )
    cand = keyed.select("host", F.explode("_cand").alias("pattern"))
    matched = cand.join(F.broadcast(rules_df), "pattern")
    # winner: exceptions sort above all (is_exc, nlabels) — exception's
    # public suffix is the exception minus its leftmost label
    best = matched.groupBy("host").agg(
        F.max(F.struct(F.col("is_exc"), F.col("nlabels"))).alias("_w")
    )
    suffix_len = F.when(F.col("_w.is_exc"), F.col("_w.nlabels") - 1).otherwise(
        F.coalesce(F.col("_w.nlabels"), F.lit(1))  # implicit '*' rule
    )
    # no broadcast hint on best: distinct hosts are ~10^7 at corpus
    # scale — let AQE pick the strategy (same reasoning as
    # dedup.contamination's opt-in broadcast)
    out = (
        hosts.join(best, "host", "left")
        .withColumn("_slen", suffix_len)
        .withColumn(
            "public_suffix",
            F.when(
                F.size(F.split(F.col("host"), r"\.")) > F.col("_slen"),
                F.array_join(
                    F.slice(
                        F.split(F.col("host"), r"\."),
                        -F.col("_slen"),
                        F.col("_slen"),
                    ),
                    ".",
                ),
            ),
        )
        .withColumn(
            "registered_domain",
            F.when(
                F.size(F.split(F.col("host"), r"\.")) > F.col("_slen"),
                F.array_join(
                    F.slice(
                        F.split(F.col("host"), r"\."),
                        -(F.col("_slen") + 1),
                        F.col("_slen") + 1,
                    ),
                    ".",
                ),
            ),
        )
        .drop("_w", "_slen")
    )
    return out
