"""robots.txt REP kernel + distributed crawl-policy filter
(operators/robots.py). The corpus-scale verdict parity is
driver-gated (robots_filter query)."""

import pytest

from tin_terrain_spark.operators.robots import (
    AGENT,
    crawl_allowed,
    parse_robots,
    pattern_regex,
    robots_filter,
    robots_rules,
)


def test_group_selection_and_fallback():
    txt = "User-agent: bot\nDisallow: /\n\nUser-agent: *\nDisallow: /private\n"
    # substring agent match picks the specific group
    assert crawl_allowed(parse_robots(txt, "megabot/2"), "/x") is False
    # non-matching agent falls back to '*'
    r = parse_robots(txt, "crawler/1")
    assert crawl_allowed(r, "/private/x") is False
    assert crawl_allowed(r, "/public") is True


def test_longest_match_allow_ties_and_empty_disallow():
    txt = "User-agent: *\nDisallow: /doc/\nAllow: /doc/2\n"
    r = parse_robots(txt)
    assert crawl_allowed(r, "/doc/15") is False
    assert crawl_allowed(r, "/doc/23") is True  # longer Allow prefix wins
    # Allow beats Disallow on equal precedence
    tie = parse_robots("User-agent: *\nDisallow: /p\nAllow: /p\n")
    assert crawl_allowed(tie, "/p/z") is True
    # empty Disallow = no rule
    assert crawl_allowed(parse_robots("User-agent: *\nDisallow:\n"), "/x") is True
    assert crawl_allowed([], "/anything") is True


def test_wildcards_anchor_comments_and_multi_agent():
    txt = (
        "# politeness\nUser-agent: a\nUser-agent: b\n"
        "Disallow: /*.pdf$\nCrawl-delay: 3\nDisallow: /tmp*x\n"
    )
    r = parse_robots(txt, "a-crawler")
    assert crawl_allowed(r, "/f/doc.pdf") is False
    assert crawl_allowed(r, "/f/doc.pdfx") is True  # $ anchored
    assert crawl_allowed(r, "/tmp123x") is False
    assert crawl_allowed(r, "/tmp123y") is True
    assert pattern_regex("/a*b$") == "^/a.*b$"
    # regex metacharacters in patterns must be escaped
    assert crawl_allowed(parse_robots("User-agent: *\nDisallow: /a+b\n"), "/ab") is True
    assert crawl_allowed(parse_robots("User-agent: *\nDisallow: /a+b\n"), "/a+b/c") is False


@pytest.fixture(scope="module")
def spark():
    from tin_terrain_spark.session import get_spark

    s = get_spark("robots", cores=4)
    yield s
    s.stop()


def test_distributed_filter_matches_kernel(spark):
    policies = {
        "h0": "User-agent: *\nDisallow: /\n",
        "h1": "User-agent: *\nDisallow: /doc/\nAllow: /doc/2\n",
        "h2": "User-agent: *\nDisallow: /*7$\n",
    }
    pages = spark.createDataFrame(
        [(i, f"h{i % 4}", f"/doc/{i}") for i in range(40)],
        "doc_id LONG, host STRING, path STRING",
    )
    robots = spark.createDataFrame(
        list(policies.items()), "host STRING, robots_txt STRING"
    )
    rules = robots_rules(robots)
    got = {
        r["doc_id"]: r["allowed"]
        for r in robots_filter(pages, rules).collect()
    }
    assert len(got) == 40
    for i in range(40):
        host = f"h{i % 4}"
        if host in policies:
            want = crawl_allowed(parse_robots(policies[host], AGENT), f"/doc/{i}")
        else:
            want = True  # h3: no robots.txt
        assert got[i] == want, f"doc {i} host {host}"


def test_parse_sitemap_kernel():
    from tin_terrain_spark.operators.robots import parse_sitemap

    sm = """<?xml version="1.0" encoding="UTF-8"?>
    <urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
      <url><loc>https://x.org/a</loc><lastmod>2026-01-05</lastmod><priority>0.8</priority></url>
      <url><loc>https://x.org/b</loc><lastmod>2026-01-05T12:30:00Z</lastmod></url>
      <url><loc>https://x.org/c</loc></url>
      <url><changefreq>daily</changefreq></url>
    </urlset>"""
    r = parse_sitemap(sm)
    assert len(r) == 3  # loc-less entry skipped
    assert r[0] == {
        "loc": "https://x.org/a",
        "lastmod_epoch": 1767571200,
        "priority": 0.8,
        "is_index": False,
    }
    assert r[1]["lastmod_epoch"] == 1767616200 and r[1]["priority"] is None
    idx = parse_sitemap(
        '<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        "<sitemap><loc>https://x.org/s1.xml</loc></sitemap></sitemapindex>"
    )
    assert idx[0]["is_index"] is True
    with pytest.raises(Exception):
        parse_sitemap("<urlset><url><loc>x</loc>")


def test_frontier_schedule(spark):
    from tin_terrain_spark.operators.robots import BASE_EPOCH, N_FETCHERS, frontier_schedule

    fr = spark.createDataFrame(
        [
            ("https://a.org/1", "a.org", 3, 5),
            ("https://a.org/2", "a.org", 3, 9),
            ("https://a.org/3", "a.org", 3, 9),
            ("https://b.org/1", "b.org", 7, 1),
        ],
        "url STRING, host STRING, crawl_delay INT, priority INT",
    )
    got = {
        r["url"]: r
        for r in frontier_schedule(fr).collect()
    }
    # priority desc, then url asc within host; spacing = crawl_delay
    assert got["https://a.org/2"]["host_seq"] == 1
    assert got["https://a.org/3"]["host_seq"] == 2
    assert got["https://a.org/1"]["host_seq"] == 3
    assert [got[f"https://a.org/{i}"]["fetch_epoch"] for i in (2, 3, 1)] == [
        BASE_EPOCH, BASE_EPOCH + 3, BASE_EPOCH + 6,
    ]
    assert got["https://b.org/1"]["fetch_epoch"] == BASE_EPOCH
    # one fetcher per host, stable across rows
    a_f = {got[u]["fetcher"] for u in got if u.startswith("https://a")}
    assert len(a_f) == 1 and all(0 <= f < N_FETCHERS for f in a_f)


def test_expand_sitemap_tree(spark):
    from tin_terrain_spark.operators.robots import expand_sitemap_tree

    idx = (
        '<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        "<sitemap><loc>https://x.org/s1.xml</loc></sitemap>"
        "<sitemap><loc>https://x.org/missing.xml</loc></sitemap>"
        "</sitemapindex>"
    )
    child = (
        '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        "<url><loc>https://x.org/a</loc><priority>0.5</priority></url>"
        "<url><loc>https://x.org/b</loc></url></urlset>"
    )
    flat = (
        '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        "<url><loc>https://y.org/c</loc></url></urlset>"
    )
    files = spark.createDataFrame(
        [
            ("https://x.org/sitemap.xml", idx),
            ("https://x.org/s1.xml", child),
            ("https://y.org/sitemap.xml", flat),
        ],
        "sitemap_url STRING, sitemap_xml STRING",
    )
    got = {
        (r["root_url"], r["loc"]): r
        for r in expand_sitemap_tree(files).collect()
    }
    # s1.xml is ALSO a root (it is in the files table), so its leaves
    # appear twice: once at depth 1 under itself, once at depth 2
    # under the index that references it
    assert got[("https://x.org/sitemap.xml", "https://x.org/a")]["depth"] == 2
    assert got[("https://x.org/sitemap.xml", "https://x.org/a")]["priority"] == 0.5
    assert got[("https://x.org/sitemap.xml", "https://x.org/b")]["depth"] == 2
    assert got[("https://x.org/s1.xml", "https://x.org/a")]["depth"] == 1
    assert got[("https://y.org/sitemap.xml", "https://y.org/c")]["depth"] == 1
    # dangling child reference dropped, no leaf under missing.xml
    assert not any(loc == "https://x.org/missing.xml" for _, loc in got)
    assert len(got) == 5  # {a,b} under two roots + c


def test_parse_robots_meta_kernel():
    from tin_terrain_spark.operators.robots import parse_robots_meta

    txt = """# policy
Sitemap: https://x.org/sitemap.xml
User-agent: *
Crawl-delay: 2
Disallow: /tmp

User-agent: tinbot-crawler
Crawl-delay: 0.5
Allow: /

Sitemap: https://x.org/news.xml
"""
    star = parse_robots_meta(txt)
    assert star["crawl_delay"] == 2.0
    assert star["sitemaps"] == [
        "https://x.org/sitemap.xml", "https://x.org/news.xml",
    ]
    none = parse_robots_meta("User-agent: *\nDisallow: /x\n")
    assert none["crawl_delay"] is None and none["sitemaps"] == []
    bad = parse_robots_meta("User-agent: *\nCrawl-delay: soon\n")
    assert bad["crawl_delay"] is None


def test_robots_meta_distributed(spark):
    from tin_terrain_spark.operators.robots import robots_meta

    df = spark.createDataFrame(
        [
            ("a.org", "User-agent: *\nCrawl-delay: 3\n"
                      "Sitemap: https://a.org/s1.xml\n"
                      "Sitemap: https://a.org/s2.xml\n"),
            ("b.org", "User-agent: *\nDisallow: /\n"),
        ],
        "host STRING, robots_txt STRING",
    )
    got = sorted(
        (r["host"], r["crawl_delay"], r["sitemap_url"])
        for r in robots_meta(df).collect()
    )
    assert got == [
        ("a.org", 3.0, "https://a.org/s1.xml"),
        ("a.org", 3.0, "https://a.org/s2.xml"),
        ("b.org", None, None),
    ]
