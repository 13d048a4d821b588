"""Text-analysis operators over documents/pages (training-data pipeline).

  text_stats      token count, char count, avg token length, distinct
                  token ratio, stopword ratio, quality score
  lang_profile    per-(lang, source) aggregates
  fingerprints    order-sensitive document fingerprint via
                  position-weighted token hashing (sum form, so it is
                  aggregation-order-free and engine-portable)
  langid          n-gram-free heuristic language scorer (stopword hits)

All pure Column expressions / SQL — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "on", "for", "with"]


def text_stats(docs: DataFrame) -> DataFrame:
    toks = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        "lang",
        F.length("text").alias("n_chars2"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.round(F.length(F.regexp_replace(F.col("text"), " ", "")) / F.size(toks), 6).alias(
            "avg_tok_len"
        ),
        F.size(F.filter(toks, lambda t: t.isin(STOPWORDS))).alias("n_stopwords"),
    ).withColumn(
        "quality",
        F.round(
            (F.col("n_distinct_tokens") / F.col("n_tokens"))
            * (1.0 - F.col("n_stopwords") / F.col("n_tokens")),
            6,
        ),
    )


def sql_text_stats() -> str:
    sw = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"""
      WITH base AS (
        SELECT doc_id, lang,
               length(text) AS n_chars2,
               string_split(text, ' ') AS toks
        FROM documents
      ), s AS (
        SELECT doc_id, lang, n_chars2,
               len(toks) AS n_tokens,
               len(list_distinct(toks)) AS n_distinct_tokens,
               round(CAST(length(replace(array_to_string(toks, ' '), ' ', '')) AS DOUBLE) / len(toks), 6) AS avg_tok_len,
               len(list_filter(toks, t -> t IN ({sw}))) AS n_stopwords
        FROM base
      )
      SELECT doc_id, lang, n_chars2, n_tokens, n_distinct_tokens, avg_tok_len,
             n_stopwords,
             round((CAST(n_distinct_tokens AS DOUBLE) / n_tokens)
                   * (1.0 - CAST(n_stopwords AS DOUBLE) / n_tokens), 6) AS quality
      FROM s
    """


def fingerprints(docs: DataFrame) -> DataFrame:
    """Order-sensitive fingerprint: sum over positions of
    (pos+1) * ((len(token)*131 + first_char_code) mod P) — exact integer
    math, order captured by position weights, sum order irrelevant."""
    ex = docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok")
    )
    h = ex.withColumn(
        "th",
        (F.length("tok") * 131 + F.ascii(F.col("tok"))) % 65521,
    )
    return h.groupBy("doc_id").agg(
        F.sum(((F.col("pos") + 1) * F.col("th")).cast("bigint")).alias("fingerprint"),
        F.count(F.lit(1)).alias("n_tokens"),
    )


SQL_FINGERPRINTS = """
  SELECT doc_id,
         CAST(sum(CAST(pos AS BIGINT) * ((length(tok) * 131 + ascii(tok)) % 65521)) AS BIGINT) AS fingerprint,
         count(*) AS n_tokens
  FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
           generate_subscripts(string_split(text, ' '), 1) AS pos
    FROM documents
  )
  GROUP BY doc_id
"""


# BPE-ish pre-tokenizer: letter runs, digit runs, punctuation runs —
# the shape of the GPT-2 pre-tokenizer split, without the \p classes
# that differ across regex engines (plain classes are identical in
# Java regex and RE2/DuckDB)
BPE_PAT = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]+"


def token_counts(docs: DataFrame) -> DataFrame:
    """Token counting both ways the charter lists: whitespace tokens
    and BPE-ish regex tokens, plus the punctuation ratio used by
    quality filters. Pure Column expressions (regexp_count is
    codegen'd JVM-side)."""
    return docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("ws_tokens"),
        F.regexp_count(F.col("text"), F.lit(BPE_PAT)).cast("bigint").alias("bpe_tokens"),
        F.round(
            F.length(F.regexp_replace(F.col("text"), "[a-zA-Z0-9 ]", ""))
            / F.length(F.col("text")),
            6,
        ).alias("punct_ratio"),
    )


def sql_token_counts() -> str:
    return f"""
      SELECT doc_id,
             len(string_split(text, ' ')) AS ws_tokens,
             CAST(len(regexp_extract_all(text, '{BPE_PAT}')) AS BIGINT) AS bpe_tokens,
             round(CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
                   / length(text), 6) AS punct_ratio
      FROM documents
    """


def normalize_text(docs: DataFrame) -> DataFrame:
    """Text normalization (the pipeline's canonicalization step):
    lowercase, trim, collapse whitespace runs. Emits the normalized
    length and an md5 witness so the row is scalar-comparable; the
    normalized text itself stays internal (100 TB of strings don't
    travel for a checksum)."""
    norm = F.regexp_replace(F.trim(F.lower(F.col("text"))), "  +", " ")
    return docs.select(
        "doc_id",
        F.length(norm).alias("n_chars_norm"),
        F.md5(norm).alias("norm_md5"),
        (norm == F.col("text")).alias("already_normal"),
    )


SQL_NORMALIZE_TEXT = """
  SELECT doc_id,
         length(regexp_replace(trim(lower(text)), '  +', ' ', 'g')) AS n_chars_norm,
         md5(regexp_replace(trim(lower(text)), '  +', ' ', 'g')) AS norm_md5,
         regexp_replace(trim(lower(text)), '  +', ' ', 'g') = text AS already_normal
  FROM documents
"""


def langid(docs: DataFrame) -> DataFrame:
    """Heuristic language id: stopword-hit rate as the 'en' score —
    the deterministic stand-in for an n-gram language profile (the
    synthetic corpus has no real language signal; the operator shape —
    per-doc vectorized scoring + argmax — is what carries to real
    data)."""
    toks = F.split(F.col("text"), " ")
    en_hits = F.size(F.filter(toks, lambda t: t.isin(STOPWORDS)))
    return docs.select(
        "doc_id",
        "lang",
        F.round(en_hits / F.size(toks), 6).alias("en_score"),
    ).withColumn(
        "pred_lang", F.when(F.col("en_score") > 0.05, F.lit("en")).otherwise(F.lit("other"))
    )


def sql_langid() -> str:
    sw = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"""
      SELECT doc_id, lang, en_score,
             CASE WHEN en_score > 0.05 THEN 'en' ELSE 'other' END AS pred_lang
      FROM (
        SELECT doc_id, lang,
               round(CAST(len(list_filter(string_split(text, ' '), t -> t IN ({sw}))) AS DOUBLE)
                     / len(string_split(text, ' ')), 6) AS en_score
        FROM documents
      )
    """


def rep_signals(docs: DataFrame) -> DataFrame:
    """Token-level repetition signals (the Gopher quality-filter family
    — Rae et al. 2021 §A1.1 uses line/ngram repetition fractions; this
    corpus is single-line, so the token and 2-gram forms carry the
    signal): distinct-token fraction, most-frequent-token fraction,
    most-frequent-2-gram fraction. Two partial-aggregate passes joined
    on doc_id — map-side combinable, no window over the whole corpus,
    no UDF; scales like any word-count."""
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    tok_counts = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    tok_agg = tok_counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("top_tok"),
    )
    bi = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(split(text, ' ')) >= 2 THEN "
                "transform(sequence(0, size(split(text, ' ')) - 2), "
                "i -> concat_ws(' ', split(text, ' ')[i], split(text, ' ')[i + 1])) "
                "ELSE array() END"
            )
        ).alias("bg"),
    )
    bi_counts = bi.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("c"))
    bi_agg = bi_counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"), F.max("c").alias("top_bigram")
    )
    out = tok_agg.join(bi_agg, "doc_id", "left")
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.round(F.col("n_distinct") / F.col("n_tokens"), 6).alias("distinct_frac"),
        F.round(F.col("top_tok") / F.col("n_tokens"), 6).alias("top_tok_frac"),
        F.round(F.col("top_bigram") / F.col("n_bigrams"), 6).alias("top_bigram_frac"),
    )


def sql_rep_signals() -> str:
    return """
      WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      ),
      tc AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok),
      ta AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
               count(*) AS n_distinct, max(c) AS top_tok
        FROM tc GROUP BY doc_id
      ),
      bi AS (
        SELECT doc_id, concat_ws(' ', toks[i], toks[i + 1]) AS bg
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        LATERAL (SELECT unnest(range(1, len(toks))) AS i)
        WHERE len(toks) >= 2
      ),
      bc AS (SELECT doc_id, bg, count(*) AS c FROM bi GROUP BY doc_id, bg),
      ba AS (
        SELECT doc_id, sum(c) AS n_bigrams, max(c) AS top_bigram FROM bc GROUP BY doc_id
      )
      SELECT ta.doc_id, ta.n_tokens,
             round(CAST(ta.n_distinct AS DOUBLE) / ta.n_tokens, 6) AS distinct_frac,
             round(CAST(ta.top_tok AS DOUBLE) / ta.n_tokens, 6) AS top_tok_frac,
             round(CAST(ba.top_bigram AS DOUBLE) / ba.n_bigrams, 6) AS top_bigram_frac
      FROM ta LEFT JOIN ba ON ta.doc_id = ba.doc_id
    """


# quality_filter's rules
MIN_TOKENS = 20
MAX_TOKENS = 100000
MIN_DISTINCT_FRAC = 0.30
MAX_TOP_TOK_FRAC = 0.20
MAX_TOP_BIGRAM_FRAC = 0.12
MIN_STOPWORD_FRAC = 0.01


def quality_filter(docs: DataFrame) -> DataFrame:
    """Composite keep/drop quality gate (the C4 / Gopher rule family):
    length window [MIN_TOKENS, MAX_TOKENS], distinct-token floor,
    repetition ceilings, stopword floor — each rule emitted as its own
    boolean REASON column plus the conjunctive `keep`, so downstream
    mixing can report per-rule drop rates (the way data cards do). Pure composition of the oracled
    signal operators — one extra join, no new shuffle shapes."""
    toks = F.split(F.col("text"), " ")
    base = docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.filter(toks, lambda t: t.isin(STOPWORDS))).alias("n_stop"),
    )
    rs = rep_signals(docs).select(
        "doc_id", "distinct_frac", "top_tok_frac", "top_bigram_frac"
    )
    j = base.join(rs, "doc_id")
    ok_len = F.col("n_tokens").between(MIN_TOKENS, MAX_TOKENS)
    ok_distinct = F.col("distinct_frac") >= MIN_DISTINCT_FRAC
    ok_top_tok = F.col("top_tok_frac") <= MAX_TOP_TOK_FRAC
    # docs with <2 tokens have no bigrams → top_bigram_frac is NULL
    # from rep_signals' left join; a doc with no bigrams trivially
    # passes the bigram-repetition ceiling, so coalesce to 0.0 (keeps
    # `keep` a real boolean for any MIN_TOKENS, incl. MIN_TOKENS<=1)
    ok_top_bigram = F.coalesce(F.col("top_bigram_frac"), F.lit(0.0)) <= MAX_TOP_BIGRAM_FRAC
    ok_stop = F.round(F.col("n_stop") / F.col("n_tokens"), 6) >= MIN_STOPWORD_FRAC
    return j.select(
        "doc_id",
        ok_len.alias("ok_len"),
        ok_distinct.alias("ok_distinct"),
        ok_top_tok.alias("ok_top_tok"),
        ok_top_bigram.alias("ok_top_bigram"),
        ok_stop.alias("ok_stopwords"),
        (ok_len & ok_distinct & ok_top_tok & ok_top_bigram & ok_stop).alias("keep"),
    )


def sql_quality_filter() -> str:
    sw = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"""
      WITH base AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_filter(string_split(text, ' '), t -> t IN ({sw}))) AS n_stop
        FROM documents
      ),
      rs AS ({sql_rep_signals()}),
      j AS (
        SELECT b.doc_id, b.n_tokens, b.n_stop,
               rs.distinct_frac, rs.top_tok_frac, rs.top_bigram_frac
        FROM base b JOIN rs ON b.doc_id = rs.doc_id
      )
      SELECT doc_id,
             n_tokens BETWEEN {MIN_TOKENS} AND {MAX_TOKENS} AS ok_len,
             distinct_frac >= {MIN_DISTINCT_FRAC} AS ok_distinct,
             top_tok_frac <= {MAX_TOP_TOK_FRAC} AS ok_top_tok,
             COALESCE(top_bigram_frac, 0.0) <= {MAX_TOP_BIGRAM_FRAC} AS ok_top_bigram,
             round(CAST(n_stop AS DOUBLE) / n_tokens, 6) >= {MIN_STOPWORD_FRAC} AS ok_stopwords,
             (n_tokens BETWEEN {MIN_TOKENS} AND {MAX_TOKENS})
               AND distinct_frac >= {MIN_DISTINCT_FRAC}
               AND top_tok_frac <= {MAX_TOP_TOK_FRAC}
               AND COALESCE(top_bigram_frac, 0.0) <= {MAX_TOP_BIGRAM_FRAC}
               AND round(CAST(n_stop AS DOUBLE) / n_tokens, 6) >= {MIN_STOPWORD_FRAC} AS keep
      FROM j
    """


def lm_score(docs: DataFrame) -> DataFrame:
    """CCNet-style unigram language-model quality score: per-doc mean
    surprisal (bits/token) under the corpus's own unigram distribution
    — the cheap stand-in for the KenLM perplexity filter used by
    published web-text pipelines (low bits = boilerplate/common, high
    bits = rare-token noise; both tails get filtered in practice).

    bits/token = log2(total_tokens) - avg(log2(count(tok))), which
    needs the token↔count join but never materializes p(tok) per row.
    100 TB shape: ONE map-side-combinable vocab aggregation, a hash
    equi-join of the token stream against the vocab (both sides
    partitioned by tok), then the per-doc re-aggregation — two
    shuffles, no UDF, no driver state; the total arrives via a
    broadcast single-row cross join. Rounded to 6 dp so the double
    reduction order (Spark partial aggs vs sequential) cannot flip
    the comparison. Nothing is persisted: the join side and the total
    both read the vocab aggregation, and AQE reuses its partial-count
    shuffle (a ReusedExchange), so the corpus is exploded and counted
    once per action."""
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").cast("double").alias("total"))
    per_doc = (
        toks.join(counts, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.avg(F.log2("cnt")).alias("_mean_log_cnt"),
        )
    )
    return per_doc.crossJoin(F.broadcast(total)).select(
        "doc_id",
        "n_tokens",
        F.round(F.log2("total") - F.col("_mean_log_cnt"), 6).alias(
            "bits_per_token"
        ),
    )


def sql_lm_score() -> str:
    return """
      WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
      ),
      counts AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
      tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM counts)
      SELECT t.doc_id, count(*) AS n_tokens,
             round(log2((SELECT total FROM tot))
                   - avg(log2(CAST(c.cnt AS DOUBLE))), 6) AS bits_per_token
      FROM toks t JOIN counts c USING (tok)
      GROUP BY t.doc_id
    """


MIN_DF = 2  # inverted_index drops tokens in fewer docs


def inverted_index(docs: DataFrame) -> DataFrame:
    """Inverted index over the corpus: per token, document frequency,
    total term frequency, and the posting list (doc ids ascending).
    The posting list itself is emitted as an md5 witness of its
    canonical serialization (the driver-side canonicalizer cannot hash
    array columns) plus first/last doc — enough to value-compare the
    full index across engines. MIN_DF drops hapax tokens (the long
    tail that bloats a real index).

    100 TB shape: ONE shuffle on token (map-side combinable tf/df
    partial aggs + sort_array over collect_list per token); posting
    lists of hot tokens are bounded by the df cutoffs a real deploy
    sets, and the witness keeps rows scalar-width no matter how long
    the list is."""
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    per_doc = toks.groupBy("tok", "doc_id").agg(
        F.count(F.lit(1)).alias("tf")
    )
    return (
        per_doc.groupBy("tok")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").alias("ttf"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
            F.md5(
                F.concat_ws(
                    ",", F.sort_array(F.collect_list(F.col("doc_id")))
                )
            ).alias("postings_md5"),
        )
        .filter(F.col("df") >= MIN_DF)
    )


def sql_inverted_index() -> str:
    return f"""
      WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
      ),
      per_doc AS (
        SELECT tok, doc_id, count(*) AS tf FROM toks GROUP BY tok, doc_id
      )
      SELECT tok, count(*) AS df, CAST(sum(tf) AS BIGINT) AS ttf,
             min(doc_id) AS first_doc, max(doc_id) AS last_doc,
             md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
               AS postings_md5
      FROM per_doc GROUP BY tok HAVING count(*) >= {MIN_DF}
    """


# bm25's query terms and its k1 and b
BM25_TERMS = ("spark", "window", "merge")
BM25_K1 = 1.2
BM25_B = 0.75


def bm25(docs: DataFrame) -> DataFrame:
    """BM25 ranking of the corpus against the BM25_TERMS set — the
    retrieval scorer the inverted index exists to serve (Robertson/
    Sparck Jones; the Lucene-default flavor with idf =
    ln(1 + (N - df + 0.5)/(df + 0.5))).

    100 TB shape: doc length in tokens is a ROW-WISE expression (no
    shuffle); N and avgdl arrive via one single-row aggregate
    broadcast; the token explode is filtered to the query terms BEFORE
    its one map-side-combinable (doc_id, tok) aggregation, so the
    shuffle carries only matching postings; df (≤ |BM25_TERMS| rows) and
    the corpus stats are broadcast into the scoring join. One real
    shuffle on doc_id total. Scores rounded to 6 dp so double
    reduction order cannot flip the hash."""
    lits = F.array(*[F.lit(t) for t in BM25_TERMS])
    base = docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("dl"),
        F.explode(F.split(F.col("text"), " ")).alias("tok"),
    ).filter(F.array_contains(lits, F.col("tok")))
    stats = docs.select(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg(F.size(F.split(F.col("text"), " "))).alias("avgdl"),
    )
    tf = base.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl")
    )
    df_ = tf.groupBy("tok").agg(F.count(F.lit(1)).cast("double").alias("df"))
    scored = (
        tf.join(F.broadcast(df_), "tok")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf", F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
        )
        .withColumn(
            "term_score",
            F.col("idf")
            * (F.col("tf") * (BM25_K1 + 1.0))
            / (F.col("tf") + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_terms_matched"),
        F.sum("tf").alias("total_tf"),
        F.round(F.sum("term_score"), 6).alias("bm25"),
    )


def sql_bm25() -> str:
    tlist = ", ".join(f"'{t}'" for t in BM25_TERMS)
    return f"""
      WITH toks AS (
        SELECT doc_id, len(string_split(text, ' ')) AS dl,
               unnest(string_split(text, ' ')) AS tok
        FROM documents
      ),
      stats AS (
        SELECT CAST(count(*) AS DOUBLE) AS n_docs,
               avg(len(string_split(text, ' '))) AS avgdl
        FROM documents
      ),
      tf AS (
        SELECT doc_id, tok, count(*) AS tf, min(dl) AS dl
        FROM toks WHERE tok IN ({tlist}) GROUP BY doc_id, tok
      ),
      dfreq AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY tok)
      SELECT doc_id, CAST(count(*) AS INT) AS n_terms_matched,
             CAST(sum(tf) AS BIGINT) AS total_tf,
             round(sum(
               ln(1e0 + (n_docs - df + 5e-1) / (df + 5e-1))
               * (tf * ({BM25_K1!r}e0 + 1e0))
               / (tf + {BM25_K1!r}e0 * (1e0 - {BM25_B!r}e0 + {BM25_B!r}e0 * dl / avgdl))
             ), 6) AS bm25
      FROM tf JOIN dfreq USING (tok), stats
      GROUP BY doc_id
    """


# PII patterns written to the common subset of Java regex (Spark) and
# RE2 (DuckDB): no lookarounds, ASCII \b word boundaries, bounded
# repetition only.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+[0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"
PII_IP_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def synth_pii(docs: DataFrame) -> DataFrame:
    """Deterministic PII injection (the synthetic corpus is clean):
    emails / E.164-ish phones / IPv4s rotating on doc_id % 3, plus a
    second email on doc_id % 5 == 0 so per-kind counts exceed 1.
    Column expressions only — the DuckDB twin rebuilds the same
    strings."""
    did = F.col("doc_id")
    tail = (
        F.when(
            did % 3 == 0,
            F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com now")),
        )
        .when(
            did % 3 == 1,
            F.concat(
                F.lit(" call +1-415-555-"),
                F.lpad((did % 10000).cast("string"), 4, "0"),
                F.lit(" today"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit(" origin 10."),
                (did % 200).cast("string"),
                F.lit("."),
                (did % 250).cast("string"),
                F.lit("."),
                (did % 97 + 1).cast("string"),
                F.lit(" logged"),
            )
        )
    )
    extra = F.when(did % 5 == 0, F.lit(" cc admin@test.org")).otherwise(F.lit(""))
    return docs.select(
        "doc_id", F.concat(F.col("text"), tail, extra).alias("pii_text")
    )


def pii_scrub(docs: DataFrame) -> DataFrame:
    """Detect-and-redact PII in pii_text: per-kind match counts (computed BEFORE
    redaction) and the scrubbed text with typed placeholder tokens.
    Email first (its local part may contain digits/dots), then IPv4,
    then phone — the chain never creates new matches because the
    placeholders contain no [0-9@.] runs.

    100 TB shape: pure JVM regexp column expressions (codegen'd, no
    UDF, no shuffle) — a map-only pass a real pipeline fuses into its
    first corpus scan."""
    t = F.col("pii_text")
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>"), PII_IP_RE, "<IP>"
        ),
        PII_PHONE_RE,
        "<PHONE>",
    )
    return docs.select(
        "doc_id",
        F.regexp_count(t, F.lit(PII_EMAIL_RE)).cast("int").alias("n_emails"),
        F.regexp_count(t, F.lit(PII_IP_RE)).cast("int").alias("n_ips"),
        F.regexp_count(t, F.lit(PII_PHONE_RE)).cast("int").alias("n_phones"),
        clean.alias("clean_text"),
    ).withColumn(
        "redacted", (F.col("n_emails") + F.col("n_ips") + F.col("n_phones")) > 0
    )


def sql_pii_scrub() -> str:
    """DuckDB twin: same synth concat, independent RE2 engine for the
    same patterns ('g' flag for global replace; counts via
    len(regexp_extract_all))."""
    return f"""
      WITH pii AS (
        SELECT doc_id,
               text ||
               CASE
                 WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id || '@example.com now'
                 WHEN doc_id % 3 = 1 THEN ' call +1-415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today'
                 ELSE ' origin 10.' || (doc_id % 200) || '.' || (doc_id % 250) || '.' || (doc_id % 97 + 1) || ' logged'
               END ||
               CASE WHEN doc_id % 5 = 0 THEN ' cc admin@test.org' ELSE '' END
               AS pii_text
        FROM documents
      )
      SELECT doc_id,
             CAST(len(regexp_extract_all(pii_text, '{PII_EMAIL_RE}')) AS INT) AS n_emails,
             CAST(len(regexp_extract_all(pii_text, '{PII_IP_RE}')) AS INT) AS n_ips,
             CAST(len(regexp_extract_all(pii_text, '{PII_PHONE_RE}')) AS INT) AS n_phones,
             regexp_replace(
               regexp_replace(
                 regexp_replace(pii_text, '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
                 '{PII_IP_RE}', '<IP>', 'g'),
               '{PII_PHONE_RE}', '<PHONE>', 'g') AS clean_text,
             (len(regexp_extract_all(pii_text, '{PII_EMAIL_RE}'))
              + len(regexp_extract_all(pii_text, '{PII_IP_RE}'))
              + len(regexp_extract_all(pii_text, '{PII_PHONE_RE}'))) > 0 AS redacted
      FROM pii
    """


# strip_boilerplate_lines: a line in at least BP_MIN_DOCS of a host's
# docs, and in at least BP_MIN_FRAC of them, is boilerplate
BP_MIN_DOCS = 3
BP_MIN_FRAC = 0.5


def strip_boilerplate_lines(docs: DataFrame) -> DataFrame:
    """CCNet-style frequency boilerplate removal over (host, doc_id,
    text): a LINE that appears in ≥ BP_MIN_DOCS documents AND ≥
    BP_MIN_FRAC of a host's documents is template chrome (nav,
    copyright footers) — strip it from every doc and reassemble the
    remaining lines in order. Plan: one posexplode, one (host, line) agg + one host agg
    (both map-side combinable — a line's count collapses per
    partition before the shuffle), one left anti-style join back, one
    per-doc ordered reassembly (collect_list of (pos, line) structs +
    array_sort — no window). Returns (doc_id, clean_text, n_removed);
    docs whose every line was boilerplate come back with ''."""
    lines = docs.select(
        "host",
        "doc_id",
        F.posexplode(F.split(F.col("text"), "\n")).alias("pos", "line"),
    )
    group_sizes = docs.groupBy("host").agg(
        F.count_distinct(F.col("doc_id")).alias("_n_docs")
    )
    bp = (
        lines.groupBy("host", "line")
        .agg(F.count_distinct(F.col("doc_id")).alias("_n"))
        .join(group_sizes, "host")
        .where(
            (F.col("_n") >= BP_MIN_DOCS)
            & (F.col("_n") / F.col("_n_docs") >= BP_MIN_FRAC)
        )
        .select("host", "line", F.lit(True).alias("_bp"))
    )
    tagged = lines.join(bp, ["host", "line"], "left")
    rebuilt = (
        tagged.filter(F.col("_bp").isNull())
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("clean_text"),
            F.count(F.lit(1)).alias("_kept"),
        )
    )
    totals = lines.groupBy("doc_id").agg(F.count(F.lit(1)).alias("_total"))
    return (
        totals.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            (F.col("_total") - F.coalesce(F.col("_kept"), F.lit(0)))
            .cast("int")
            .alias("n_removed"),
        )
    )


BPE_MERGES = 6  # merges bpe_encode learns; bpe_merges' default and its DuckDB twin's


def bpe_merges(docs: DataFrame, k: int = BPE_MERGES) -> DataFrame:
    """Learn the first k BPE merges over the corpus (byte-pair-encoding
    vocabulary induction — the tokenizer-training step of an LLM data
    pipeline). Words (whitespace tokens) collapse to a (word, freq)
    table ONCE — all iteration happens on the vocabulary, which is
    orders of magnitude smaller than the corpus. Each round: count
    adjacent symbol pairs weighted by word freq (one map-side-
    combinable agg), pick the (count desc, pair asc) argmax IN-PLAN
    (one-row aggregate, broadcast cross join — no driver decision),
    and rewrite every word with a left fold that reproduces canonical
    leftmost-non-overlapping merging (a just-merged token LR can never
    equal L, so the fold needs no lookahead). Per-round eager
    localCheckpoint = the repo's CC/pagerank loop discipline (bounds
    plan depth).

    Spark actions (SQL executions) per call: k + 1 — the vocabulary
    checkpoint, then one vocabulary checkpoint per round (the round's
    argmax runs inside it). The returned merges are a lazy plan that
    recomputes each round's one-row argmax from that round's checkpoint.
    The k + 1 checkpointed RDDs stay persisted until Spark's context
    cleaner reclaims them once their frames are garbage-collected;
    `unpersist` on a localCheckpoint-ed frame does not release them.

    Returns k rows: (rank, left, right, pair_count).

    Test-only parameters: k — tests/test_webtext_pipeline.py checks the
    merges of the classic low/lower/lowest corpus by hand at k=3."""
    merges, _vocab = _bpe_learn(docs, k)
    return merges


def _bpe_learn(docs: DataFrame, k: int):
    """Shared BPE training loop: returns (merges, final vocab) — the
    vocab rows are (word = space-joined tokens after k merges, freq);
    the space-stripped word is the original surface form, so encoders
    can join back without carrying a key through the rewrites."""
    chars = F.filter(F.split(F.col("w"), ""), lambda s: s != "")
    words = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(F.array_join(chars, " ").alias("word"), "freq")
    )
    cur = words.localCheckpoint()
    merges = None
    for rank in range(1, k + 1):
        syms = F.split(F.col("word"), " ")
        pair_arr = F.when(
            F.size(syms) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(syms) - 1),
                lambda i: F.struct(
                    F.element_at(syms, i).alias("l"),
                    F.element_at(syms, i + 1).alias("r"),
                ),
            ),
        ).otherwise(F.array())
        pc = (
            cur.select(F.explode(pair_arr).alias("p"), "freq")
            .groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("cnt"))
        )
        # NOT checkpointed: `best` is a one-row aggregate over the
        # (checkpointed) current vocab — leaving it lazy folds it into
        # the round's single `cur` checkpoint action (one driver
        # round-trip per round instead of two; the ~10-sequential-
        # action stall-band amplification documented in NOTES.md is
        # the dominant cost of this loop at sandbox scale). The merges
        # output recomputes these tiny aggs from the cached vocab
        # relations at collection time.
        best = (
            pc.agg(
                F.min(
                    F.struct(
                        (-F.col("cnt")).alias("nc"), F.col("l"), F.col("r")
                    )
                ).alias("b")
            )
            .select(
                F.lit(rank).alias("rank"),
                F.col("b.l").alias("left"),
                F.col("b.r").alias("right"),
                (-F.col("b.nc")).alias("pair_count"),
            )
        )
        merges = best if merges is None else merges.unionByName(best)
        joined = cur.crossJoin(F.broadcast(best.select("left", "right")))
        s2 = F.split(F.col("word"), " ")
        folded = F.aggregate(
            F.slice(s2, 2, F.size(s2) - 1),
            F.element_at(s2, 1),
            lambda acc, x: F.when(
                (x == F.col("right"))
                & (
                    (acc == F.col("left"))
                    | acc.endswith(F.concat(F.lit(" "), F.col("left")))
                ),
                F.concat(acc, x),
            ).otherwise(F.concat(acc, F.lit(" "), x)),
        )
        cur = joined.select(folded.alias("word"), "freq").localCheckpoint()
    return merges, cur


def bpe_encode(docs: DataFrame) -> DataFrame:
    """Tokenize the corpus with BPE_MERGES learned merges: per doc the
    whitespace-word count and the BPE token count (the number every
    token-budget decision — mix_plan, Chinchilla-style sizing — needs
    from the REAL tokenizer rather than a whitespace proxy). The
    merges train inside the plan (_bpe_learn); encoding is a hash join
    of the corpus words against the rewritten vocabulary (the
    space-stripped rewritten word IS the surface form — no key
    threading), then one per-doc agg."""
    _merges, vocab = _bpe_learn(docs, BPE_MERGES)
    tok = vocab.select(
        F.regexp_replace(F.col("word"), " ", "").alias("w"),
        F.size(F.split(F.col("word"), " ")).alias("n_toks"),
    )
    words = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
    ).filter(F.col("w") != "")
    return (
        words.join(tok, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_toks").alias("n_tokens"),
        )
    )
