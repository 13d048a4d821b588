"""End-to-end webtext pipeline composition: the full crawl→training-
data flow wired from the individual oracled operators —

  WARC files → parse → charset-aware decode → main-content extraction
  → PII scrub → quality/repetition signals → exact dedup → keep list

Every stage is individually driver-gated; this test proves they
COMPOSE (schemas line up, one Spark plan end to end) and that the
final keep decisions match a hand-computed reference on a corpus with
planted duplicates, PII, and boilerplate."""

import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def spark():
    from tin_terrain_spark.session import get_spark

    s = get_spark("webtext_e2e", cores=4)
    yield s
    s.stop()


BODY_A = "the quick brown fox jumps over the lazy dog " * 3
BODY_B = "a wholly different and unique body of prose for doc"


def _page_html(i, body):
    # boilerplate link farm + content + PII line for doc 2
    pii = ' reach us at ops@example.com' if i == 2 else ""
    return (
        '<html><body><div><a href="/">Home</a> | <a href="/a">About</a>'
        f' | <a href="/c">Contact</a></div><p>{body}{pii}</p></body></html>'
    ).encode()


def test_full_pipeline_composes(spark, tmp_path_factory):
    from tin_terrain_spark.operators.dedup import exact_dedup
    from tin_terrain_spark.operators.htmlops import (
        decode_pages,
        extract_main_text,
    )
    from tin_terrain_spark.operators.textops import pii_scrub
    from tin_terrain_spark.sources.warc import build_warc, warc_pages

    # docs 0 and 1 are exact duplicates after extraction; 3 is distinct
    bodies = {0: BODY_A.strip(), 1: BODY_A.strip(), 2: BODY_B, 3: BODY_B + " two"}
    landing = str(tmp_path_factory.mktemp("landing"))
    pages = [
        {
            "url": f"https://h{i}.example.org/doc/{i}",
            "epoch": 1767225600 + i,
            "html": _page_html(i, bodies[i]),
            "record_id": i,
        }
        for i in range(4)
    ]
    with open(os.path.join(landing, "crawl.warc.gz"), "wb") as f:
        f.write(build_warc(pages, gzip_records=True))

    # 1. scan the landing dir (binaryFile) → WARC records
    files = spark.read.format("binaryFile").load(landing)
    recs = warc_pages(files).withColumn(
        "doc_id", F.regexp_extract("url", "/doc/([0-9]+)$", 1).cast("bigint")
    )
    # 2. charset-aware decode, 3. main-content extraction (drops the farm)
    decoded = decode_pages(recs)
    texted = extract_main_text(
        recs.join(decoded.select("doc_id", "charset"), "doc_id")
    )
    # 4. PII scrub over the extracted text
    scrubbed = pii_scrub(
        texted.select("doc_id", F.col("main_text").alias("pii_text"))
    )
    # 5. exact dedup on the clean text → per-doc keep decision
    clean = scrubbed.select("doc_id", F.col("clean_text").alias("text"), "n_emails")
    groups = exact_dedup(clean)
    keep = (
        clean.withColumn("text_md5", F.md5("text"))
        .join(groups, "text_md5")
        .withColumn("keep", F.col("doc_id") == F.col("keep_id"))
    )
    rows = {r["doc_id"]: r for r in keep.collect()}

    assert len(rows) == 4
    # boilerplate farm is gone everywhere
    assert all("Home" not in rows[i]["text"] for i in range(4))
    # PII was found and redacted only in doc 2
    assert rows[2]["n_emails"] == 1 and "<EMAIL>" in rows[2]["text"]
    assert all(rows[i]["n_emails"] == 0 for i in (0, 1, 3))
    # exact dedup: 0 and 1 collide, lowest id wins
    assert rows[0]["keep"] and not rows[1]["keep"]
    assert rows[2]["keep"] and rows[3]["keep"]


class TestRegisteredDomain:
    """eTLD+1 via the public-suffix ALGORITHM (wildcard + exception
    rules — the cases the naive last-2-labels split gets wrong)."""

    CASES = [
        # (host, public_suffix, registered_domain)
        ("www.site7.co.uk", "co.uk", "site7.co.uk"),
        ("deep.a.b.site.org.uk", "org.uk", "site.org.uk"),
        ("blog.user3.github.io", "github.io", "user3.github.io"),
        ("s5.example.org", "org", "example.org"),
        ("foo.bar2.ck", "bar2.ck", "foo.bar2.ck"),  # *.ck wildcard
        ("a.www.ck", "ck", "www.ck"),  # !www.ck exception
        ("x.unknowntld", "unknowntld", "x.unknowntld"),  # implicit *
        ("co.uk", None, None),  # host IS a public suffix
        ("bar9.ck", None, None),  # host matches the wildcard itself
    ]

    def test_psl_semantics(self, spark):
        from tin_terrain_spark.operators.urlops import registered_domain

        df = spark.createDataFrame(
            [(h,) for h, _, _ in self.CASES], "host STRING"
        )
        got = {
            r["host"]: (r["public_suffix"], r["registered_domain"])
            for r in registered_domain(df).collect()
        }
        for host, suf, reg in self.CASES:
            assert got[host] == (suf, reg), host

    def test_no_python_udf_in_plan(self, spark):
        from tin_terrain_spark.operators.urlops import registered_domain

        df = spark.createDataFrame([("a.co.uk",)], "host STRING")
        plan = registered_domain(df)._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_rules_table_is_a_jvm_relation(self, spark):
        """The rules table is a local relation, not a Python RDD: over JVM
        hosts, the query runs no Python task."""
        from tin_terrain_spark.operators.urlops import registered_domain

        df = spark.sql("VALUES ('www.site7.co.uk'), ('a.www.ck') AS t(host)")
        plan = registered_domain(df)._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan, plan
        assert "ExistingRDD" not in plan and "PythonRDD" not in plan, plan


def test_strip_boilerplate_lines(spark):
    from tin_terrain_spark.operators.textops import strip_boilerplate_lines

    rows = [
        (0, "h", "NAV\nalpha\nFOOT"),
        (1, "h", "NAV\nbeta\nFOOT"),
        (2, "h", "NAV\ngamma\nFOOT"),
        (3, "h", "NAV\nFOOT"),  # all lines boilerplate -> ''
        (4, "g", "NAV\ndelta"),  # group g too small: nothing stripped
    ]
    df = spark.createDataFrame(rows, "doc_id BIGINT, host STRING, text STRING")
    got = {
        r["doc_id"]: r
        for r in strip_boilerplate_lines(df).collect()
    }
    assert got[0]["clean_text"] == "alpha" and got[0]["n_removed"] == 2
    assert got[1]["clean_text"] == "beta"
    assert got[3]["clean_text"] == "" and got[3]["n_removed"] == 2
    assert got[4]["clean_text"] == "NAV\ndelta" and got[4]["n_removed"] == 0
    assert len(got) == 5


def test_dedup_against_store(spark):
    from tin_terrain_spark.operators.dedup import (
        band_keys,
        dedup_against_store,
        shingles_df,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base, "a"),
        (2, "completely different content about spark plans here", "a"),
        (10, base + " extra", "a"),  # near-dup of store doc 1
        (11, "novel text with no counterpart in the store at all", "a"),
    ]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING, source STRING")
    store = docs.filter("doc_id < 10")
    new = docs.filter("doc_id >= 10")
    got = {
        r["doc_id"]: r
        for r in dedup_against_store(
            new, band_keys(store), shingles_df(store), threshold=0.5
        ).collect()
    }
    assert got[10]["is_dup"] and got[10]["dup_of"] == 1
    assert got[10]["jaccard"] >= 0.5
    assert not got[11]["is_dup"] and got[11]["dup_of"] is None
    assert len(got) == 2


def test_bpe_merges_hand_case(spark):
    from tin_terrain_spark.operators.textops import bpe_merges

    # corpus: 'low' x5, 'lower' x2, 'lowest' x1 (the classic example)
    text = " ".join(["low"] * 5 + ["lower"] * 2 + ["lowest"])
    docs = spark.createDataFrame([(0, text)], "doc_id BIGINT, text STRING")
    got = [
        (r["rank"], r["left"], r["right"], r["pair_count"])
        for r in bpe_merges(docs, k=3).orderBy("rank").collect()
    ]
    # pairs in round 1: (l,o)x8, (o,w)x8, (w,e)x3, (e,r)x2, (e,s)x1,
    # (s,t)x1 -> tie (l,o)/(o,w) broken lexically: (l,o)
    assert got[0] == (1, "l", "o", 8)
    # round 2: (lo,w)x8 wins
    assert got[1] == (2, "lo", "w", 8)
    # round 3: (low,e)x3 wins
    assert got[2] == (3, "low", "e", 3)


def test_discovery_to_frontier_composes(spark):
    """Crawl-side e2e: sitemap tree discovery → robots policy →
    politeness schedule."""
    from tin_terrain_spark.operators.robots import (
        BASE_EPOCH,
        expand_sitemap_tree,
        frontier_schedule,
        robots_filter,
        robots_rules,
    )

    idx = (
        '<sitemapindex><sitemap><loc>https://s.org/m0.xml</loc></sitemap>'
        "<sitemap><loc>https://s.org/m1.xml</loc></sitemap></sitemapindex>"
    )

    def urlset(paths):
        urls = "".join(f"<url><loc>https://s.org{p}</loc></url>" for p in paths)
        return f"<urlset>{urls}</urlset>"

    files = spark.createDataFrame(
        [
            ("https://s.org/sitemap.xml", idx),
            ("https://s.org/m0.xml", urlset(["/a/1", "/a/2", "/private/x"])),
            ("https://s.org/m1.xml", urlset(["/b/1", "/private/y"])),
        ],
        "sitemap_url STRING, sitemap_xml STRING",
    )
    leaves = expand_sitemap_tree(files).filter(
        F.col("root_url") == "https://s.org/sitemap.xml"
    )
    pages = leaves.select(
        F.col("loc").alias("url"),
        F.lit("s.org").alias("host"),
        F.regexp_replace("loc", "https://s.org", "").alias("path"),
    )
    rules = robots_rules(
        spark.createDataFrame(
            [("s.org", "User-agent: *\nDisallow: /private/")],
            "host STRING, robots_txt STRING",
        )
    )
    allowed = robots_filter(pages, rules).filter("allowed")
    plan = frontier_schedule(
        allowed.withColumn("crawl_delay", F.lit(2)).withColumn("priority", F.lit(0)),
    )
    rows = sorted(
        (r["url"], r["fetch_epoch"]) for r in plan.collect()
    )
    # /private/* never scheduled; 3 allowed urls spaced 2s on one host
    assert rows == [
        ("https://s.org/a/1", BASE_EPOCH),
        ("https://s.org/a/2", BASE_EPOCH + 2),
        ("https://s.org/b/1", BASE_EPOCH + 4),
    ]
