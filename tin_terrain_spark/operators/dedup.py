"""Deduplication operators over the documents/pages table.

Training-data-pipeline first-class citizens (per the engine charter):

  exact_dedup     hash-groupBy on text (md5 → canonical keep = min id)
  minhash         per-doc MinHash signature over 3-gram token shingles;
                  shingle ids are a fixed string hash (md5-prefix→int —
                  bit-identical in Spark and DuckDB), so there is NO
                  global vocabulary: no un-partitioned window, no vocab
                  join — the whole signature is one scan + one groupBy
  lsh_candidates  banding: docs sharing a (band, minhash-tuple) bucket
                  are near-dup candidates — the O(n) scale path, with a
                  hot-bucket cap so a degenerate bucket (boilerplate
                  pages) can't go quadratic
  near_dup_pairs  exact shingle-set Jaccard (n-gram Jaccard) refine over
                  the LSH candidates
  simhash         32-bit SimHash from token hashes (bit-majority)

All are pure DataFrame/SQL ops (no UDFs): tokenization is split(),
shingling is a transform HOF, min-hashing is a single groupBy with one
min-aggregate per hash function (map-side combinable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

_P = 2147483647
# (mul, add) per minhash function
MINHASH_FUNCS = [
    (1664525, 1013904223),
    (22695477, 1),
    (69069, 362437),
    (1103515245, 12345),
    (134775813, 1),
    (214013, 2531011),
    (16807, 0),
    (48271, 0),
]

# portable 56-bit string hash reduced mod P: identical in Spark
# (conv(substr(md5(s),1,14),16,10)) and DuckDB
# (CAST(concat('0x', substr(md5(s),1,14)) AS BIGINT)); keeping ids < P
# means (id * mul + add) stays inside int64 in both engines.
def _tok_hash(col):
    return (F.conv(F.substring(F.md5(col), 1, 14), 16, 10).cast("bigint") % _P)


SQL_TOK_HASH = "(CAST(concat('0x', substr(md5({s}), 1, 14)) AS BIGINT) % 2147483647)"

NGRAM = 3
# winnowing window, in consecutive shingle hashes
WINNOW = 4
# decontamination: the benchmark stand-in is doc_id % CONTAM_MOD == 0,
# matched on CONTAM_NGRAM-gram shingles; a doc is contaminated at a hit
# rate of at least CONTAM_THRESHOLD
CONTAM_MOD = 97
CONTAM_NGRAM = 5
CONTAM_THRESHOLD = 0.2


def tokens_df(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    )


def shingles_df(docs: DataFrame, n: int = NGRAM,
                distinct: bool = True) -> DataFrame:
    """Distinct n-gram token shingles per doc (the minhash input —
    SURVEY's shingle→minhash→band→bucket-join chain). Docs shorter than
    n tokens get ONE whole-doc shingle instead of dropping out, so a
    pair of verbatim short duplicates still shares a full signature
    (without this, near-dup detection silently excludes short docs and
    only exact_dedup would catch them).

    distinct=False skips the per-doc dedup — a full shuffle of the
    shingle STRINGS — for consumers whose aggregates are multiset-
    invariant (MIN per hash function in minhash_signatures: duplicate
    (doc, tok) rows cannot change a min). Set-semantics consumers
    (Jaccard sizes/intersections, contamination rates) keep the
    default."""
    idxs = ", ".join(f"toks[i + {j}]" for j in range(n))
    out = (
        tokens_df(docs)
        .select(
            "doc_id",
            F.explode(
                F.when(
                    F.size("toks") >= n,
                    F.expr(
                        f"transform(sequence(0, size(toks) - {n}), i -> concat_ws(' ', {idxs}))"
                    ),
                ).otherwise(F.array(F.concat_ws(" ", F.col("toks"))))
            ).alias("tok"),
        )
    )
    return out.distinct() if distinct else out


def sql_shingles(n: int = NGRAM) -> str:
    """DuckDB twin of shingles_df (1-based list indexing)."""
    idxs = ", ".join(f"toks[i + {j}]" for j in range(n))
    return f"""
      SELECT DISTINCT doc_id, tok FROM (
        SELECT doc_id, concat_ws(' ', {idxs}) AS tok
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        LATERAL (SELECT unnest(range(1, len(toks) - {n - 2})) AS i)
        WHERE len(toks) >= {n}
        UNION ALL
        SELECT doc_id, concat_ws(' ', toks) AS tok
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        WHERE len(toks) < {n}
      )
    """


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact dup groups: md5(text), keep = min(doc_id), emit groups."""
    h = docs.select("doc_id", F.md5(F.col("text")).alias("text_md5"))
    return h.groupBy("text_md5").agg(
        F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_dups")
    )


def doc_token_ids(docs: DataFrame) -> DataFrame:
    """(doc_id, tok_id) from the fixed string hash — one narrow scan,
    no vocabulary state of any kind. Feeds ONLY min-aggregates
    (minhash_signatures), so the shingle stream skips the distinct:
    min over the multiset equals min over the set. Plan note: Catalyst
    (RemoveRedundantAggregates) already eliminates the redundant
    distinct below these duplicate-insensitive aggregates — the
    physical plan carries no (doc_id, tok) shuffle either way — so
    skipping it here changes the LOGICAL plan only: it keeps the
    redundancy out of every consumer instead of relying on the
    optimizer to notice it each time."""
    return shingles_df(docs, distinct=False).select(
        "doc_id", _tok_hash(F.col("tok")).alias("tok_id")
    )


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """One row per (doc, hash_func): min over shingle hashes. Computed
    as ONE groupBy with 8 min-aggregates (single scan, full map-side
    combine), then unpivoted to the long format downstream expects."""
    ids = doc_token_ids(docs)
    aggs = [
        F.min((F.col("tok_id") * m + a) % _P).alias(f"mh_{i}")
        for i, (m, a) in enumerate(MINHASH_FUNCS)
    ]
    wide = ids.groupBy("doc_id").agg(*aggs)
    stack_args = ", ".join(f"{i}, mh_{i}" for i in range(len(MINHASH_FUNCS)))
    return wide.select(
        "doc_id",
        F.expr(
            f"stack({len(MINHASH_FUNCS)}, {stack_args}) AS (func_id, minhash)"
        ),
    ).select("doc_id", F.col("func_id").cast("int").alias("func_id"), "minhash")


BUCKET_CAP = 100
BANDS = 4  # rows_per_band = len(MINHASH_FUNCS) // BANDS


def band_keys(docs: DataFrame) -> DataFrame:
    """(doc_id, band, band_key) — the storable LSH band index of a
    corpus (what a production pipeline WRITES when a batch is
    admitted, so later batches can dedup against it without touching
    the corpus text). The band key is a deterministic fold of the
    band's minhashes (order-free sum of position-weighted values —
    portable integer math)."""
    rows_per_band = len(MINHASH_FUNCS) // BANDS
    sig = minhash_signatures(docs).withColumn(
        "band", (F.col("func_id") / rows_per_band).cast("int")
    )
    return sig.groupBy("doc_id", "band").agg(
        F.sum(
            (F.col("func_id") % rows_per_band + 1) * F.col("minhash")
        ).alias("band_key")
    )


def lsh_candidates(docs: DataFrame) -> DataFrame:
    """Bucket docs by their band keys (band_keys); emit candidate pairs
    (a<b) per band, deduped. A lazy plan: nothing is cached and no
    Spark job runs before the caller's action.

    Hot-bucket guard: a bucket larger than BUCKET_CAP does NOT
    self-join — a single degenerate bucket (all-identical boilerplate
    pages, the common case in web data) would otherwise emit O(n²)
    pairs. Instead it emits a deterministic HUB STAR: every member
    pairs with the bucket's min doc_id. That is O(bucket) rows, keeps
    the whole cluster connected for union-find style dedup (the densest
    duplicate clusters are exactly what dedup must not lose), and is
    mirrored exactly in the DuckDB oracle.

    Both cases are ONE self-join on (band, band_key) with doc_a <
    doc_b. The left side keeps a row iff its bucket is small or it is
    the bucket's hub (`_bsz <= BUCKET_CAP OR doc_id = _bmin`); the
    right side is the plain band table. Exact, because band_keys has
    one row per (doc_id, band), so ids within a bucket are unique:
    - a small bucket keeps every member on the left, so it yields
      every a < b pair;
    - a hot bucket's only left row is its minimum, which is below
      every other member: exactly the star;
    - work stays linear in a hot bucket's size (one probe row per
      member).

    The SHUFFLE_HASH hint sits on the hub-filtered left side, which
    holds at most BUCKET_CAP rows per key, so a hot bucket never
    becomes a hash build chain; it also pins the join strategy, so AQE
    cannot pick another plan (and compile new classes) on a repeat
    call."""
    from pyspark.sql import Window as W

    wb = W.partitionBy("band", "band_key")
    bands = band_keys(docs)
    hubs = (
        bands.withColumn("_bsz", F.count(F.lit(1)).over(wb))
        .withColumn("_bmin", F.min("doc_id").over(wb))
        .filter((F.col("_bsz") <= BUCKET_CAP) | (F.col("doc_id") == F.col("_bmin")))
        .select(F.col("doc_id").alias("doc_a"), "band", "band_key")
    )
    b = bands.select(F.col("doc_id").alias("doc_b"), "band", "band_key")
    pairs = hubs.hint("SHUFFLE_HASH").join(b, ["band", "band_key"])
    return pairs.filter(F.col("doc_a") < F.col("doc_b")).select("doc_a", "doc_b").distinct()


def _shingle_sets(shingles: DataFrame) -> DataFrame:
    """(doc_id, tok) rows -> (doc_id, toks, sz): each doc's distinct
    shingle set collected ONCE into an array (collect_set — the per-doc
    distinct and the set build in a single shuffle of the raw token
    stream) with its size. Array size is bounded by document length."""
    return (
        shingles.groupBy("doc_id")
        .agg(F.collect_set("tok").alias("toks"))
        .select("doc_id", "toks", F.size("toks").alias("sz"))
    )


def _jaccard_refine(cand: DataFrame, sets_a: DataFrame, sets_b: DataFrame,
                    threshold: float) -> DataFrame:
    """Exact shingle-set Jaccard of candidate pairs cand(doc_a, doc_b):
    two equi-joins against the doc-count-sized set tables (_shingle_sets;
    doc_a from sets_a, doc_b from sets_b), n_inter =
    size(array_intersect(..)) — exact set intersection. Returns
    (doc_a, doc_b, n_inter, jaccard) for pairs with jaccard >= threshold.
    A hint on sets_a / sets_b reaches its join through the select."""
    sa = sets_a.select(
        F.col("doc_id").alias("doc_a"),
        F.col("toks").alias("toks_a"),
        F.col("sz").alias("sz_a"),
    )
    sb = sets_b.select(
        F.col("doc_id").alias("doc_b"),
        F.col("toks").alias("toks_b"),
        F.col("sz").alias("sz_b"),
    )
    j = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        # Size-ratio prune before the intersect: a pair's maximum
        # achievable Jaccard is min(sz)/max(sz) (n_inter <= min, and
        # J = n/(a+b-n) is increasing in n, so J <= min/(a+b-min) =
        # min/max). Rounding is monotone, so a pair failing
        # round(min/max, 6) >= threshold can never pass the final
        # round(J, 6) >= threshold filter — dropping it here skips its
        # array_intersect (a per-pair hash set build) with zero result
        # change. threshold = 0 keeps every pair (the filter is
        # trivially true), preserving the documented any-threshold
        # semantics of the n_inter >= 1 gate below.
        .filter(
            F.round(
                F.least("sz_a", "sz_b") / F.greatest("sz_a", "sz_b"), 6
            )
            >= F.lit(threshold)
        )
        .withColumn(
            "n_inter",
            F.size(F.array_intersect("toks_a", "toks_b")).cast("bigint"),
        )
        # n_inter >= 1 preserves the old inner-join semantics (a pair
        # with no shared shingle emitted no row) for ANY threshold
        .filter(F.col("n_inter") >= 1)
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")),
                6,
            ),
        )
    )
    return j.filter(F.col("jaccard") >= threshold).select(
        "doc_a", "doc_b", "n_inter", "jaccard"
    )


def near_dup_pairs(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Exact shingle-set Jaccard (n-gram Jaccard) refine over the LSH
    candidates — the same shingle universe the minhash estimates. A
    lazy plan: nothing is cached and no Spark job runs before the
    caller's action. The batch's one shingle-set table is both sides
    of the refine.

    Both refine joins carry a SHUFFLE_HASH hint on the set side.
    Without it AQE may pick another broadcast or build side on a
    repeat call, and that plan compiles new classes. Neither side is
    bounded in rows; the set side is the build side because it has one
    row per doc_id, while a hot bucket's hub repeats in the candidates
    once per member."""
    sets = _shingle_sets(shingles_df(docs, distinct=False)).hint("SHUFFLE_HASH")
    return _jaccard_refine(lsh_candidates(docs), sets, sets, threshold)


def winnow_fingerprints(docs: DataFrame) -> DataFrame:
    """Winnowing document fingerprints (the MOSS algorithm, Schleimer/
    Wilkerson/Aiken 2003): hash every NGRAM shingle IN ORDER, slide a
    window of WINNOW consecutive hashes, keep each window's minimum;
    the distinct kept hashes are the fingerprint set. Guarantees every
    sufficiently long match between documents shares a fingerprint —
    the positional robustness plain minhash lacks.

    Pure window-function formulation (partitioned by doc_id — scales
    per document, no global state): the same portable md5-prefix hash
    as the rest of the dedup family, so the DuckDB twin is bit-exact."""
    from pyspark.sql import Window as W

    # ORDERED shingles (no distinct — winnowing is positional)
    idxs = ", ".join(f"toks[i + {j}]" for j in range(NGRAM))
    sh = (
        tokens_df(docs)
        .filter(F.size("toks") >= NGRAM)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(f"transform(sequence(0, size(toks) - {NGRAM}), i -> concat_ws(' ', {idxs}))")
            ).alias("pos", "tok"),
        )
        .withColumn("h", _tok_hash(F.col("tok")))
    )
    wdoc = W.partitionBy("doc_id")
    wslide = W.partitionBy("doc_id").orderBy("pos").rowsBetween(0, WINNOW - 1)
    picked = (
        sh.withColumn("n_sh", F.count(F.lit(1)).over(wdoc))
        .withColumn("winmin", F.min("h").over(wslide))
        .filter(F.col("pos") <= F.col("n_sh") - WINNOW)
        .select("doc_id", F.col("winmin").alias("fp"))
        .distinct()
    )
    return picked


def sql_winnow_fingerprints() -> str:
    idxs = ", ".join(f"toks[i + {j}]" for j in range(NGRAM))
    tok_hash = SQL_TOK_HASH.format(s="tok")
    return f"""
      WITH sh AS (
        SELECT doc_id, i - 1 AS pos, {tok_hash} AS h
        FROM (
          SELECT doc_id, concat_ws(' ', {idxs}) AS tok, i
          FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
          LATERAL (SELECT unnest(range(1, len(toks) - {NGRAM - 2})) AS i)
          WHERE len(toks) >= {NGRAM}
        )
      ), win AS (
        SELECT doc_id, pos,
               count(*) OVER (PARTITION BY doc_id) AS n_sh,
               min(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND {WINNOW - 1} FOLLOWING) AS winmin
        FROM sh
      )
      SELECT DISTINCT doc_id, winmin AS fp
      FROM win WHERE pos <= n_sh - {WINNOW}
    """


def simhash(docs: DataFrame) -> DataFrame:
    """SimHash: bit j of hash(tok) votes ±1; doc bit = majority.
    Token ids come from the fixed string hash over unigram token
    OCCURRENCES (frequency-weighted votes, the classic formulation).

    Realized as ONE groupBy(doc_id) with 32 sum-aggregates — all 32
    bit votes are extracted from each token hash in a single pass
    (integer div/mod on the same row), so the plan has NO Generate: the
    pre-aggregation row stream is exactly the token stream, not
    tokens×32 (the round-2 form exploded 32× before the partial agg —
    linear but an avoidable 32× CPU blowup)."""
    uni = (
        tokens_df(docs)
        .select("doc_id", F.explode("toks").alias("tok"))
        .select("doc_id", _tok_hash(F.col("tok")).alias("tok_id"))
    )
    ids = uni.withColumn(
        "h", (F.col("tok_id") * 2654435761 + 1013904223) % _P
    )
    vote_aggs = [
        F.sum(F.expr(f"(h div {1 << j}) % 2 * 2 - 1")).alias(f"v{j}")
        for j in range(32)
    ]
    votes = ids.groupBy("doc_id").agg(*vote_aggs)
    hash_expr = " + ".join(
        f"CASE WHEN v{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for j in range(32)
    )
    return votes.select("doc_id", F.expr(hash_expr).alias("simhash"))


# --------------------------------------------------------------------------
# benchmark decontamination (n-gram overlap against an eval set)
# --------------------------------------------------------------------------


def contamination(docs: DataFrame) -> DataFrame:
    """Training-data decontamination: flag corpus docs whose n-gram
    shingles overlap an evaluation-benchmark set (the standard
    pre-training hygiene step — e.g. 13-gram overlap in GPT-3's data
    card; CONTAM_NGRAM-grams here). The benchmark stand-in is the
    deterministic slice doc_id % CONTAM_MOD == 0; a real benchmark
    table joins in exactly the same shape.

    Plan shape at 10^12 docs: a hash equi-join on the shingle string;
    the corpus side is one scan + per-(doc, tok) dedup + per-doc
    count — both map-side combinable. A REAL eval benchmark (a few
    thousand fixed prompts) is tiny and broadcast-able; the stand-in
    slice here grows with the corpus, so there is no broadcast hint:
    AQE picks the strategy from observed sizes. No cross join
    anywhere; the oracle recomputes the identical rates in DuckDB.

    Returns (doc_id, n_shingles, n_hits, contamination_rate,
    contaminated) for every NON-benchmark doc, zero-hit docs included;
    contaminated means a rate of at least CONTAM_THRESHOLD.
    """
    sh = shingles_df(docs, n=CONTAM_NGRAM)
    bench = sh.filter(F.col("doc_id") % CONTAM_MOD == 0).select(
        F.col("tok").alias("btok")
    ).distinct()
    corpus = sh.filter(F.col("doc_id") % CONTAM_MOD != 0)
    totals = corpus.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        corpus.join(bench, corpus["tok"] == bench["btok"], "inner")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    out = totals.join(hits, "doc_id", "left").fillna({"n_hits": 0})
    rate = F.round(F.col("n_hits") / F.col("n_shingles"), 6)
    return out.select(
        "doc_id",
        "n_shingles",
        "n_hits",
        rate.alias("contamination_rate"),
        (rate >= CONTAM_THRESHOLD).alias("contaminated"),
    )


def sql_contamination() -> str:
    return f"""
      WITH sh AS ({sql_shingles(CONTAM_NGRAM)}),
      bench AS (SELECT DISTINCT tok FROM sh WHERE doc_id % {CONTAM_MOD} = 0),
      corpus AS (SELECT doc_id, tok FROM sh WHERE doc_id % {CONTAM_MOD} <> 0),
      totals AS (SELECT doc_id, count(*) AS n_shingles FROM corpus GROUP BY doc_id),
      hits AS (
        SELECT c.doc_id, count(*) AS n_hits
        FROM corpus c JOIN bench b ON c.tok = b.tok
        GROUP BY c.doc_id
      )
      SELECT t.doc_id, t.n_shingles,
             COALESCE(h.n_hits, 0) AS n_hits,
             round(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / t.n_shingles, 6)
               AS contamination_rate,
             round(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / t.n_shingles, 6)
               >= {CONTAM_THRESHOLD} AS contaminated
      FROM totals t LEFT JOIN hits h ON t.doc_id = h.doc_id
    """


# --------------------------------------------------------------------------
# duplicate clustering (connected components over the near-dup graph)
# --------------------------------------------------------------------------


def connected_components(pairs: DataFrame,
                         stats: dict | None = None) -> DataFrame:
    """Min-label connected components over an undirected (doc_a,
    doc_b) pair list, such as the near_dup_pairs graph: the step a
    production dedup keys its keep/drop decision on (pairs alone
    can't — transitive duplicates A~B~C must land in ONE group even
    when A~C was never a candidate pair). cluster_id = min doc_id
    reachable in the graph.

    Algorithm: min-label propagation with POINTER JUMPING — per round,
    every vertex takes the min of its own label and its neighbors'
    labels (one equi-join + map-side-combinable groupBy on the edge
    list), then chases label = label[label] (a self-join on the tiny
    label table), which roughly halves the distance to each
    component's minimum: rounds are O(log diameter), the same bound
    the published large-star/small-star alternation achieves with the
    same per-round plan shape. Each round ends in ONE aggregate action
    (the convergence potential, which doubles as the cache
    materializer); label tables are localCheckpoint-ed so the analyzed
    plan stays O(1) per round instead of growing with the iteration
    count. No collect of data rows.

    Spark actions (SQL executions) per call: 3·rounds + 1 — the
    edge-list checkpoint, then per round its stepped checkpoint (eager),
    its pointer-jump checkpoint (lazy, but under AQE planning it runs
    the jump's shuffle stages) and its potential aggregate. The
    returned frame is a lazy plan, labels ⋈ cluster sizes over the last
    round's label checkpoint; nothing is cached, so `unpersist` on it
    is a no-op. The call's 2·rounds + 1 checkpointed RDDs stay
    persisted until Spark's context cleaner reclaims them once their
    frames are garbage-collected; `unpersist` on a localCheckpoint-ed
    frame does not release them.

    Returns (doc_id, cluster_id, cluster_size) for every vertex of the
    graph (docs with no edge don't appear; their cluster is trivially
    themselves). If `stats` is passed, it receives {"rounds": n} — the
    number of propagate+jump rounds executed including the final
    fixpoint-confirming round (the O(log diameter) evidence hook)."""
    # symmetric edge list (propagation needs both directions) PLUS a
    # self-loop (v,v) per vertex: with self-loops present, a single
    # groupBy-min over the edge list computes min(own label, neighbor
    # labels) directly — no separate vertex-table re-join per round,
    # and no null handling (every doc_a sees at least its own label).
    # The eager localCheckpoint TRUNCATES the near_dup_pairs lineage:
    # the loop otherwise re-analyzes the whole LSH/shingle subtree on
    # every round's plan even though the data is cached.
    sym = pairs.unionAll(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    # the edge list is the LOOP-INVARIANT big side: hash-partition it
    # by the join key ONCE before the checkpoint (the checkpoint
    # preserves partitioning), so per-round joins never re-shuffle it —
    # only the (smaller) label table moves each round. SHUFFLE_HASH
    # everywhere: sort-merge pays two O(n log n) sorts per join per
    # round for no benefit (keys are unique on the build side, no
    # skew beyond node degree on the probe side).
    spark = pairs.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    edges = (
        sym.unionAll(sym.select("doc_a", F.col("doc_a").alias("doc_b")))
        .distinct()
        .repartition(n_part, "doc_b")
        .localCheckpoint()
    )

    def jump(stepped: DataFrame) -> DataFrame:
        # pointer jump: label <- label[label] (labels only shrink, so
        # the parent's label is always <= the child's) — this is what
        # makes rounds O(log diameter) instead of O(diameter).
        # `stepped` feeds BOTH sides of the self-join; callers pass it
        # materialized (checkpointed) so the subtree runs once.
        parent = stepped.select(
            F.col("doc_id").alias("p_id"), F.col("label").alias("p_label")
        )
        return (
            stepped.join(
                parent.hint("SHUFFLE_HASH"),
                stepped["label"] == parent["p_id"], "left"
            )
            .select(
                "doc_id",
                F.coalesce(F.col("p_label"), F.col("label")).alias("label"),
            )
            .localCheckpoint(eager=False)
        )

    def potential(lbl: DataFrame):
        # convergence via the label-sum potential: labels only ever
        # decrease, so the sum is strictly decreasing until fixpoint —
        # ONE aggregate action per round (it doubles as the cache
        # materializer), no old-vs-new join. decimal(38,0) keeps the
        # sum exact at any id scale.
        return lbl.agg(F.sum(F.col("label").cast("decimal(38,0)"))).collect()[0][0]

    # round 0 needs no join at all: initial labels are the identity,
    # so min-of-neighbor-labels == min neighbor id, straight off edges
    step0 = (
        edges.groupBy(F.col("doc_a").alias("doc_id"))
        .agg(F.min("doc_b").alias("label"))
        .localCheckpoint()
    )
    labels = jump(step0)
    prev_sum = potential(labels)
    rounds = 1
    for _ in range(24):  # at most 25 rounds with round 0
        stepped = (
            edges.join(
                labels.hint("SHUFFLE_HASH"),
                edges["doc_b"] == labels["doc_id"], "inner"
            )
            .groupBy(F.col("doc_a").alias("doc_id"))
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
        labels = jump(stepped)
        rounds += 1
        cur_sum = potential(labels)
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    if stats is not None:
        stats["rounds"] = rounds
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("cluster_size"))
    return labels.join(sizes, "label").select(
        "doc_id",
        F.col("label").alias("cluster_id"),
        "cluster_size",
    )


def sql_dup_clusters(pairs_sql: str) -> str:
    """DuckDB oracle twin: transitive closure by recursive CTE (the
    graph at oracle scale is tiny), cluster = min reachable vertex."""
    return f"""
      WITH RECURSIVE pairs AS (
        SELECT doc_a, doc_b FROM ({pairs_sql})
      ),
      e AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION
        SELECT doc_b AS a, doc_a AS b FROM pairs
      ),
      reach(a, b) AS (
        SELECT a, b FROM e
        UNION
        SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a
      ),
      closure AS (
        SELECT a, b FROM reach
        UNION
        SELECT DISTINCT a, a AS b FROM e
      ),
      cl AS (SELECT a AS doc_id, min(b) AS cluster_id FROM closure GROUP BY a),
      sz AS (SELECT cluster_id, count(*) AS cluster_size FROM cl GROUP BY cluster_id)
      SELECT cl.doc_id, cl.cluster_id, sz.cluster_size
      FROM cl JOIN sz ON cl.cluster_id = sz.cluster_id
    """


def span_dups(docs: DataFrame) -> DataFrame:
    """Cross-document repeated SPANS (the boilerplate-passage case
    exact doc-level dedup misses and doc-level MinHash under-weights):
    a winnowing fingerprint shared by >= 2 documents witnesses a
    repeated >= NGRAM-token passage (the MOSS guarantee), so grouping the
    fingerprint table by fp and keeping multi-doc rows IS the
    published substring-dedup recipe at span granularity. ONE
    map-side-combinable aggregation over the per-doc fingerprint
    stream — no pairwise work, scales with corpus size not corpus^2."""
    fps = winnow_fingerprints(docs)
    return (
        fps.groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),  # fps are per-doc distinct
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )


def sql_span_dups() -> str:
    return f"""
      SELECT fp, count(*) AS n_docs,
             min(doc_id) AS first_doc, max(doc_id) AS last_doc
      FROM ({sql_winnow_fingerprints()})
      GROUP BY fp HAVING count(*) >= 2
    """


def dedup_against_store(
    new_docs: DataFrame,
    store_bands: DataFrame,
    store_shingles: DataFrame,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental near-dup dedup: a NEW crawl batch against the
    STORED corpus index — the production daily shape. The corpus side
    is two stored tables (band_keys + shingles, written once per
    admitted batch); the new batch computes only ITS OWN signatures,
    probes the band index with one equi-join, and Jaccard-refines the
    candidates (_jaccard_refine, doc_a = new, doc_b = stored). The
    store is never re-LSHed, but every probe re-groups the WHOLE stored
    shingle table into per-doc sets (collect_set; store rows are sets
    per the store contract, so it is a no-op dedup), so probe cost
    grows with the store, not only with the batch.

    Returns one row per new doc: (doc_id, dup_of, jaccard, is_dup) —
    dup_of the smallest store doc whose refined Jaccard ≥ threshold
    (NULL → admit). Scale note: a degenerate hot band bucket in the
    store multiplies candidates; a store may keep ≤K representatives
    per (band, band_key) to bound probe fan-out at a recall cost —
    this op takes the store as-given."""
    cand = (
        band_keys(new_docs).join(
            store_bands.select(
                F.col("doc_id").alias("doc_b"), "band", "band_key"
            ),
            ["band", "band_key"],
        )
        .select(F.col("doc_id").alias("doc_a"), "doc_b")
        .distinct()
    )
    j = _jaccard_refine(
        cand,
        _shingle_sets(shingles_df(new_docs, distinct=False)),
        _shingle_sets(store_shingles),
        threshold,
    )
    best = j.groupBy("doc_a").agg(
        F.min(F.struct(F.col("doc_b"), F.col("jaccard"))).alias("_b")
    )
    return (
        new_docs.select("doc_id")
        .join(best.withColumnRenamed("doc_a", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.col("_b.doc_b").alias("dup_of"),
            F.col("_b.jaccard").alias("jaccard"),
            F.col("_b").isNotNull().alias("is_dup"),
        )
    )
