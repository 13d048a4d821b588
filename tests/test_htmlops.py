"""HTML→text extraction: kernel contract + distributed path +
closed-form oracle parity (the charter's per-row byte-identity
invariant over the pages(html BINARY) column)."""

import duckdb
import pytest

from tin_terrain_spark.operators import htmlops as H

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from tin_terrain_spark.session import get_spark

    s = get_spark("htmlops", cores=4)
    yield s
    s.stop()


def test_entity_decoding_named_decimal_hex():
    assert H.html_to_text("<p>&amp; &lt;x&gt; &#97;&#x62; &quot;q&quot;</p>") == '& <x> ab "q"'


def test_drop_subtrees_and_comments():
    html = (
        "<html><head><title>nope</title><script>var a=1;</script></head>"
        "<body><!-- <p>fake</p> --><p>keep</p>"
        "<nav>menu</nav><aside>ad</aside><footer>foot</footer>"
        "<style>p{}</style><noscript>ns</noscript></body></html>"
    )
    assert H.html_to_text(html) == "keep"


def test_script_cdata_body_with_fake_markup():
    html = '<body><script>var s="</p><p>not real</p>"; if(1<2){}</script><p>real</p></body>'
    assert H.html_to_text(html) == "real"


def test_block_structure_and_whitespace_collapse():
    assert H.html_to_text("<p>line1\n  line2</p>\n  <p>b</p>") == "line1 line2\nb"
    assert H.html_to_text("<div>x</div><div></div><div>y</div>") == "x\ny"
    # a dropped subtree is a block boundary, not glue
    assert H.html_to_text("<div>x<nav>menu</nav>y</div>") == "x\ny"


def test_table_cells_read_across_rows_break():
    got = H.html_to_text("<table><tr><td>a</td><td>b</td></tr><tr><td>c</td></tr></table>")
    assert got == "a b\nc"


def test_attribute_noise_uppercase_void_and_malformed():
    assert H.html_to_text('<div data-x="a>b">v</div>') == "v"
    assert H.html_to_text("<P>UP</P>") == "UP"
    assert H.html_to_text("a<br/>b<br>c") == "a\nb\nc"
    # stray close tags / unclosed tags must not crash
    assert H.html_to_text("</p>stray<p>open") == "stray\nopen"
    # nested drop tags: counter, not boolean
    assert H.html_to_text("<nav>a<nav>b</nav>c</nav>d") == "d"


def _expected(doc_id: int, text: str) -> str:
    return f"Doc {doc_id} & <soup>\n{text}\ntail {doc_id % 7}"


def test_all_variants_extract_identically(spark):  # noqa: F811
    rows = [(i, "key agg a scan e value row") for i in range(8)]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = {
        r["doc_id"]: r["extracted"]
        for r in H.extract_html(H.synth_html(docs)).collect()
    }
    for i, text in rows:
        assert out[i] == _expected(i, text), f"variant {i % 4}"


def test_query_matches_duckdb_oracle(spark):  # noqa: F811
    from tin_terrain_spark.queries_ext import QUERIES_EXT

    got = (
        QUERIES_EXT["html_extract"](spark, SF_DIR)
        .orderBy("doc_id")
        .limit(40)
        .collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF_DIR}/documents.parquet')"
    )
    exp = con.execute(
        H.sql_html_extract() + " ORDER BY doc_id LIMIT 40"
    ).fetchall()
    assert len(got) == len(exp) == 40
    for g, e in zip(got, exp):
        assert (g["doc_id"], g["extracted"], g["n_blocks"], g["body_identical"]) == e
    assert all(g["body_identical"] for g in got)


# ---------------------------------------------------------------------------
# BM25 (textops.bm25) — hand-computed reference on a tiny corpus
# ---------------------------------------------------------------------------


def test_bm25_matches_hand_formula(spark):  # noqa: F811
    import math

    from tin_terrain_spark.operators.textops import bm25

    rows = [
        (0, "x y spark"),
        (1, "spark spark window"),
        (2, "a b c d"),
        (3, "window merge merge window w"),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {r["doc_id"]: r for r in bm25(docs).collect()}

    n, k1, b = 4.0, 1.2, 0.75
    dls = {i: len(t.split(" ")) for i, t in rows}
    avgdl = sum(dls.values()) / n
    tfs = {
        0: {"spark": 1},
        1: {"spark": 2, "window": 1},
        3: {"window": 2, "merge": 2},
    }
    dfreq = {"spark": 2.0, "window": 2.0, "merge": 1.0}

    def score(i):
        s = 0.0
        for t, tf in tfs[i].items():
            idf = math.log(1.0 + (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dls[i] / avgdl))
        return round(s, 6)

    assert set(got) == {0, 1, 3}  # doc 2 matches nothing
    for i in (0, 1, 3):
        assert got[i]["bm25"] == pytest.approx(score(i), abs=2e-6)
        assert got[i]["n_terms_matched"] == len(tfs[i])
        assert got[i]["total_tf"] == sum(tfs[i].values())
    # more matched occurrences of rarer terms must rank higher
    assert got[3]["bm25"] > got[1]["bm25"] > got[0]["bm25"]


# ---------------------------------------------------------------------------
# PII scrub (textops.pii_scrub)
# ---------------------------------------------------------------------------


def test_pii_scrub_redacts_all_kinds(spark):  # noqa: F811
    from tin_terrain_spark.operators.textops import pii_scrub

    rows = [
        (0, "mail bob.smith+x@sub.example.co.uk and jo@a.io end"),
        (1, "dial +1-212-555-0147 or +44-020-555-0100 now"),
        (2, "from 192.168.0.1 to 10.0.255.254 hops"),
        (3, "clean text no pii at all"),
        (4, "mix a@b.de 1.2.3.4 +9-111-222-3333 done"),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, pii_text STRING")
    got = {r["doc_id"]: r for r in pii_scrub(docs).collect()}

    assert got[0]["n_emails"] == 2 and got[0]["clean_text"] == "mail <EMAIL> and <EMAIL> end"
    assert got[1]["n_phones"] == 2 and got[1]["clean_text"] == "dial <PHONE> or <PHONE> now"
    assert got[2]["n_ips"] == 2 and got[2]["clean_text"] == "from <IP> to <IP> hops"
    assert not got[3]["redacted"] and got[3]["clean_text"] == rows[3][1]
    m = got[4]
    assert (m["n_emails"], m["n_ips"], m["n_phones"]) == (1, 1, 1)
    assert m["clean_text"] == "mix <EMAIL> <IP> <PHONE> done"
    assert m["redacted"]


# ---------------------------------------------------------------------------
# URL canonicalization (urlops.canonicalize_url)
# ---------------------------------------------------------------------------


def test_url_canon_edge_cases(spark):  # noqa: F811
    from tin_terrain_spark.operators.urlops import canonicalize_url

    cases = [
        # (noisy, expected canonical)
        ("https://A.B.org/Path/X", "https://a.b.org/Path/X"),  # path case kept
        ("HTTP://X.ORG:80/a", "http://x.org/a"),
        ("https://x.org:443/a", "https://x.org/a"),
        ("https://x.org:8443/a", "https://x.org:8443/a"),  # non-default kept
        ("https://x.org/a#frag", "https://x.org/a"),
        ("https://x.org/a?utm_source=1", "https://x.org/a"),
        ("https://x.org/a?utm_a=1&utm_b=2&id=3", "https://x.org/a?id=3"),
        ("https://x.org/a?id=3&gclid=z&q=4", "https://x.org/a?id=3&q=4"),
        ("https://x.org/a?xref=1", "https://x.org/a?xref=1"),  # not 'ref'
        ("https://x.org/a/", "https://x.org/a"),
        ("https://x.org/", "https://x.org/"),  # root slash kept
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "doc_id LONG, url_noisy STRING"
    )
    got = {r["doc_id"]: r for r in canonicalize_url(df).collect()}
    for i, (noisy, want) in enumerate(cases):
        assert got[i]["url_canon"] == want, f"{noisy!r} -> {got[i]['url_canon']!r}"
        assert got[i]["changed"] == (noisy != want)


# ---------------------------------------------------------------------------
# Link extraction (htmlops.html_links / extract_links)
# ---------------------------------------------------------------------------


def test_html_links_kernel():
    from tin_terrain_spark.operators.htmlops import html_links

    h = (
        '<body><a href="https://a/x">one <b>two</b></a>'
        '<nav><a href="/rel">r</a></nav>'
        "<a name=no>anchor-less</a>"
        '<a href="/u1">first<a href="/u2">implicit close</a></body>'
    )
    got = html_links(h, "https://base.org/dir/page")
    assert got == [
        ("https://a/x", "one two"),
        ("https://base.org/rel", "r"),  # nav links ARE harvested
        ("https://base.org/u1", "first"),
        ("https://base.org/u2", "implicit close"),
    ]


def test_extract_links_distributed(spark):  # noqa: F811
    from tin_terrain_spark.operators.htmlops import extract_links, synth_linked_html

    docs = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(12)], "doc_id LONG, source STRING"
    )
    links = extract_links(synth_linked_html(docs, 12), url_col="url").collect()
    assert len(links) == 24
    by_doc = {}
    for r in links:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i in range(12):
        urls = sorted(r["link_url"] for r in by_doc[i])
        t_abs, t_rel = (i * 7 + 1) % 12, (i * 13 + 2) % 12
        assert any(u.endswith(f"/doc/{t_abs}") for u in urls)
        # relative link resolves against the SOURCE page's host
        assert f"https://s{i % 3}-{i % 997}.example.org/doc/{t_rel}" in urls


# ---------------------------------------------------------------------------
# Snapshot delta (urlops.snapshot_delta)
# ---------------------------------------------------------------------------


def test_snapshot_delta_classification(spark):  # noqa: F811
    from tin_terrain_spark.operators.urlops import snapshot_delta

    a = spark.createDataFrame(
        [("u1", "h1"), ("u2", "h2"), ("u3", "h3")], "url STRING, content_md5 STRING"
    )
    b = spark.createDataFrame(
        [("u1", "h1"), ("u2", "hX"), ("u4", "h4")], "url STRING, content_md5 STRING"
    )
    got = {r["url"]: r["status"] for r in snapshot_delta(a, b).collect()}
    assert got == {"u1": "unchanged", "u2": "changed", "u3": "gone", "u4": "new"}


# ---------------------------------------------------------------------------
# Host quota (sampling.host_quota)
# ---------------------------------------------------------------------------


def test_host_quota_caps_and_is_deterministic(spark):  # noqa: F811
    from tin_terrain_spark.operators.sampling import PER_HOST, host_quota

    rows = [(i, f"h{i % 3}") for i in range(20)]
    pages = spark.createDataFrame(rows, "doc_id LONG, host STRING")
    kept = host_quota(pages).collect()
    by_host = {}
    for r in kept:
        by_host.setdefault(r["host"], []).append(r["doc_id"])
    # exactly the PER_HOST lowest doc_ids per host survive
    for h in range(3):
        assert sorted(by_host[f"h{h}"]) == list(range(h, 3 * PER_HOST, 3))
    # plan audit: the window must compile to WindowGroupLimit
    plan = host_quota(pages)._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


# ---------------------------------------------------------------------------
# Charset sniffing (htmlops.sniff_decode / decode_pages)
# ---------------------------------------------------------------------------


def test_sniff_decode_priority_chain():
    from tin_terrain_spark.operators.htmlops import sniff_decode

    assert sniff_decode(b"plain") == ("plain", "utf-8")
    assert sniff_decode(b"\xef\xbb\xbf" + "äb".encode()) == ("äb", "utf-8-bom")
    assert sniff_decode(b"\xff\xfe" + "øk".encode("utf-16-le")) == ("øk", "utf-16-le")
    assert sniff_decode(b"\xfe\xff" + "øk".encode("utf-16-be")) == ("øk", "utf-16-be")
    s = '<meta charset="iso-8859-1">café'.encode("latin-1")
    assert sniff_decode(s)[1] == "iso-8859-1"
    assert sniff_decode(b"abc\x97def") == ("abc—def", "windows-1252")
    assert sniff_decode(b"x\x81y")[1] == "latin-1"  # 0x81 unmapped in cp1252
    # declared-but-wrong charset falls through to sniffing
    assert sniff_decode(b'<meta charset="bogus">hi')[1] == "utf-8"
    # declared charset that fails to decode falls through too
    bad = b'<meta charset="utf-16-be">' + b"\xe9"
    assert sniff_decode(bad)[1] in ("windows-1252", "latin-1")


def test_decode_pages_distributed(spark):  # noqa: F811
    from tin_terrain_spark.operators.htmlops import decode_pages, synth_encoded_pages

    docs = spark.createDataFrame(
        [(i, "sample text of doc") for i in range(10)], "doc_id LONG, text STRING"
    )
    got = {r["doc_id"]: r for r in decode_pages(synth_encoded_pages(docs)).collect()}
    assert got[0]["charset"] == "utf-8" and got[0]["text_out"] == "sample text of doc"
    assert got[1]["charset"] == "utf-8-bom" and "ä" in got[1]["text_out"]
    assert got[2]["charset"] == "utf-16-le" and "ø" in got[2]["text_out"]
    assert got[3]["charset"] == "iso-8859-1" and "é" in got[3]["text_out"]
    assert got[4]["charset"] == "windows-1252" and got[4]["text_out"].endswith("—")


# ---------------------------------------------------------------------------
# Main-content extraction (htmlops.html_main_text)
# ---------------------------------------------------------------------------


def test_main_text_drops_link_farms_keeps_inline_links():
    from tin_terrain_spark.operators.htmlops import html_main_text, html_to_text

    page = (
        '<body><div><a href="/">Home</a> | <a href="/a">About</a>'
        ' | <a href="/c">Contact</a></div>'
        "<p>real paragraph of content here</p>"
        '<p>another with <a href="/x">one link</a> inside long prose</p>'
        '<p><a href="/top">Back to top</a></p></body>'
    )
    mt, nd = html_main_text(page)
    assert mt == (
        "real paragraph of content here\n"
        "another with one link inside long prose"
    )
    assert nd == 2
    # the plain extractor keeps everything (proving the rule does the work)
    assert "Home | About" in html_to_text(page)


def test_main_text_flag_alignment_with_space_data_parts():
    from tin_terrain_spark.operators.htmlops import html_main_text

    # a data part that is exactly ' ' between inline tags must not
    # desync the anchor flags of later parts
    h = '<p><b>x</b> <a href="/y">LINKFARMLINKFARM</a></p><p>keep me</p>'
    assert html_main_text(h) == ("keep me", 1)


def test_main_text_threshold_boundary():
    from tin_terrain_spark.operators.htmlops import html_main_text

    # density exactly 0.5 is KEPT (rule is strict-greater)
    assert html_main_text('<p><a href="/">abcde</a>fghij</p>') == ("abcdefghij", 0)
    assert html_main_text('<p><a href="/">abcdef</a>ghij</p>') == ("", 1)


# ---------------------------------------------------------------------------
# Fetch through the CDX index (queries_ext.q_cdx_fetch)
# ---------------------------------------------------------------------------


def test_cdx_fetch_query_leaves_no_cache(spark):  # noqa: F811
    """The cdx_fetch query returns a plan: after its collect the
    session's cache manager holds nothing, so a long-lived session
    keeps no archive persisted."""
    from tin_terrain_spark.queries_ext import QUERIES_EXT

    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    rows = QUERIES_EXT["cdx_fetch"](spark, SF_DIR).collect()
    assert rows and all(r["text_ok"] for r in rows)
    assert cache.isEmpty()
