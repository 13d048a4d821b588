"""robots.txt crawl-policy filtering — the politeness gate every
crawl-derived corpus applies before a page may enter the pipeline.

Kernel: a from-scratch parser of the robots.txt format (REP,
RFC 9309): User-agent groups, Disallow/Allow rules, comments, blank
lines; group selection prefers the longest user-agent token match
with '*' as fallback; path rules use prefix matching with '*'
wildcards and the '$' end anchor; evaluation picks the LONGEST
matching pattern, Allow winning ties (the Google rule); no matching
rule (or no robots.txt) means allowed.

Spark surface: robots files are per-host and tiny, so the rule table
(host, pattern, precedence, allow) parses in one Arrow pass and
BROADCASTS into an equi-join with the pages table on host; the path
match itself is a JVM-side RLIKE on the precompiled regex column (no
Python in the per-page path), and the longest-match decision is one
map-side-combinable max over a packed (precedence, allow) struct.
Per-page work is O(rules on its own host) — never a cross join over
all rules.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F


def parse_robots(text: str, agent: str = "*") -> list[tuple[str, int, bool]]:
    """Parse robots.txt into [(pattern, precedence, allow)] for the
    given agent. Group selection: rules under the most specific
    matching User-agent line (longest token that is a substring of
    `agent`, case-insensitive), falling back to '*'. precedence =
    pattern length (longest wins).

    Test-only parameters: agent — tests/test_robots.py picks a named
    group by substring and falls back to '*' for other agents; the
    crawl layer asks for AGENT."""
    groups: list[tuple[list[str], list[tuple[str, bool]]]] = []
    cur_agents: list[str] = []
    cur_rules: list[tuple[str, bool]] = []
    agents_open = False  # collecting consecutive User-agent lines

    def flush():
        nonlocal cur_agents, cur_rules
        if cur_agents:
            groups.append((cur_agents, cur_rules))
        cur_agents, cur_rules = [], []

    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line:
            continue
        field, _, value = line.partition(":")
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            if not agents_open:
                flush()
                agents_open = True
            cur_agents.append(value.lower())
        elif field in ("disallow", "allow"):
            agents_open = False
            if value:  # empty Disallow = no rule
                cur_rules.append((value, field == "allow"))
        else:
            agents_open = False  # crawl-delay, sitemap, … ignored
    flush()

    agent_l = agent.lower()
    best: tuple[int, list[tuple[str, bool]]] | None = None
    for agents, rules in groups:
        for a in agents:
            if a == "*":
                score = 0
            elif a and a in agent_l:
                score = len(a)
            else:
                continue
            if best is None or score > best[0]:
                best = (score, rules)
    if best is None:
        return []
    return [(pat, len(pat), allow) for pat, allow in best[1]]


def pattern_regex(pattern: str) -> str:
    """Robots path pattern → Java/RE2-safe regex: prefix match, '*'
    wildcard, '$' end anchor (only in final position, per the REP)."""
    anchored = pattern.endswith("$")
    if anchored:
        pattern = pattern[:-1]
    parts = [re.escape(p) for p in pattern.split("*")]
    return "^" + ".*".join(parts) + ("$" if anchored else "")


def crawl_allowed(rules: list[tuple[str, int, bool]], path: str) -> bool:
    """Reference evaluator (kernel form): longest match wins, allow
    beats disallow on ties, default allow.

    Kept without a shipped caller: tests/test_robots.py
    (test_distributed_filter_matches_kernel) compares robots_filter
    against it."""
    best: tuple[int, int] | None = None
    for pat, prec, allow in rules:
        if re.match(pattern_regex(pat), path):
            key = (prec, 1 if allow else 0)
            if best is None or key > best:
                best = key
    return True if best is None else bool(best[1])


RULES_SCHEMA = "host STRING, pattern_re STRING, prec INT, allow INT"
AGENT = "tincrawler/1.0"  # the user agent robots_rules selects groups for


def robots_rules(robots: DataFrame) -> DataFrame:
    """(host, robots_txt) → one row per rule that applies to AGENT, with
    the pattern precompiled to a regex. Arrow-batched parse; the output
    is tiny (rules ~ O(hosts)) and meant to be broadcast."""

    def op(batches):
        for pdf in batches:
            hosts, regexes, precs, allows = [], [], [], []
            for host, txt in zip(pdf["host"], pdf["robots_txt"]):
                for pat, prec, allow in parse_robots(str(txt), AGENT):
                    hosts.append(host)
                    regexes.append(pattern_regex(pat))
                    precs.append(prec)
                    allows.append(1 if allow else 0)
            yield pd.DataFrame(
                {
                    "host": hosts,
                    "pattern_re": regexes,
                    "prec": precs,
                    "allow": allows,
                }
            )

    return robots.select("host", "robots_txt").mapInPandas(op, RULES_SCHEMA)


def robots_filter(pages: DataFrame, rules: DataFrame) -> DataFrame:
    """Annotate pages with the crawl-policy verdict on their `path`:
    broadcast the rule table, keep matching rules (JVM RLIKE), take the
    max of the packed (prec, allow) struct per page, default allow.
    Adds an `allowed` boolean; pages on hosts without rules stay
    allowed."""
    matched = (
        pages.join(F.broadcast(rules), "host", "left")
        .withColumn(
            "_hit",
            F.when(
                F.col("pattern_re").isNotNull()
                & F.expr("path rlike pattern_re"),
                F.struct(F.col("prec"), F.col("allow")),
            ),
        )
        .groupBy(pages.columns)
        .agg(F.max("_hit").alias("_best"))
    )
    return matched.withColumn(
        "allowed",
        F.coalesce(F.col("_best.allow") == 1, F.lit(True)),
    ).drop("_best")


# --------------------------------------------------------------------------
# sitemap.xml — the crawl-discovery side of the politeness pair
# --------------------------------------------------------------------------


def parse_sitemap(data) -> list[dict]:
    """Parse a sitemap.xml document (urlset or sitemapindex, namespace-
    agnostic) into [{loc, lastmod_epoch, priority, is_index}]. lastmod
    accepts W3C datetime (date-only or full ISO, 'Z' suffix ok);
    missing fields are None. Malformed XML raises loudly."""
    import xml.etree.ElementTree as ET
    from datetime import datetime, timezone

    if isinstance(data, (bytes, bytearray)):
        data = bytes(data).decode("utf-8", errors="replace")
    root = ET.fromstring(data)

    def local(tag):
        return tag.rsplit("}", 1)[-1].lower()

    def parse_lastmod(s):
        s = s.strip()
        if s.endswith("Z"):
            s = s[:-1] + "+00:00"
        if len(s) == 10:  # date-only
            dt = datetime.strptime(s, "%Y-%m-%d").replace(tzinfo=timezone.utc)
        else:
            dt = datetime.fromisoformat(s)
            if dt.tzinfo is None:
                dt = dt.replace(tzinfo=timezone.utc)
        return int(dt.timestamp())

    is_index = local(root.tag) == "sitemapindex"
    out = []
    for entry in root:
        if local(entry.tag) not in ("url", "sitemap"):
            continue
        rec = {"loc": None, "lastmod_epoch": None, "priority": None,
               "is_index": is_index}
        for child in entry:
            t = local(child.tag)
            v = (child.text or "").strip()
            if t == "loc":
                rec["loc"] = v
            elif t == "lastmod" and v:
                rec["lastmod_epoch"] = parse_lastmod(v)
            elif t == "priority" and v:
                rec["priority"] = float(v)
        if rec["loc"]:
            out.append(rec)
    return out


SITEMAP_SCHEMA = (
    "host STRING, loc STRING, lastmod_epoch BIGINT, priority DOUBLE, "
    "is_index BOOLEAN"
)


def sitemap_urls(sitemaps: DataFrame) -> DataFrame:
    """(host, sitemap_xml) → one row per discovered url. Map-only
    Arrow stage; sitemap files are per-host and small, discovery
    parallelism is per-file like the WARC scan."""

    def op(batches):
        for pdf in batches:
            out = {"host": [], "loc": [], "lastmod_epoch": [],
                   "priority": [], "is_index": []}
            for host, xml in zip(pdf["host"], pdf["sitemap_xml"]):
                for rec in parse_sitemap(xml):
                    out["host"].append(host)
                    out["loc"].append(rec["loc"])
                    out["lastmod_epoch"].append(rec["lastmod_epoch"])
                    out["priority"].append(rec["priority"])
                    out["is_index"].append(rec["is_index"])
            yield pd.DataFrame(out)

    return sitemaps.select("host", "sitemap_xml").mapInPandas(op, SITEMAP_SCHEMA)


# --------------------------------------------------------------------------
# crawl-frontier politeness scheduler
# --------------------------------------------------------------------------


N_FETCHERS = 64  # frontier_schedule's fetcher slots
BASE_EPOCH = 1767225600  # frontier_schedule's first fetch: 2026-01-01 00:00 UTC


def frontier_schedule(frontier: DataFrame) -> DataFrame:
    """Turn a crawl frontier (url, host, crawl_delay, priority) into
    a politeness-respecting fetch plan: every url gets one of
    N_FETCHERS fetcher slots (stable hash of its host — all requests to
    one host go through ONE fetcher, so the spacing guarantee survives
    distribution) and a fetch_epoch from BASE_EPOCH on, spaced
    crawl_delay seconds apart within the host, highest priority first,
    then by url. Pure JVM plan: one hash, one
    per-host window (rank is per-host sequence — skew-bounded because a
    mega-host's rows land on one partition of the window shuffle but
    politeness serializes that host anyway; the work bound is the
    frontier's largest single host, which is inherent to the
    semantics, not the plan)."""
    w = Window.partitionBy("host").orderBy(F.col("priority").desc(), F.col("url"))
    seq = F.row_number().over(w)
    return (
        frontier.withColumn("fetcher", F.pmod(F.xxhash64(F.col("host")), F.lit(N_FETCHERS)).cast("int"))
        .withColumn("host_seq", seq)
        .withColumn(
            "fetch_epoch",
            (
                F.lit(BASE_EPOCH)
                + (F.col("host_seq") - 1).cast("bigint") * F.col("crawl_delay").cast("bigint")
            ).cast("bigint"),
        )
    )


SITEMAP_TREE_SCHEMA = (
    "root_url STRING, loc STRING, lastmod_epoch BIGINT, priority DOUBLE, "
    "is_index BOOLEAN, depth INT"
)


def _parse_level(frontier: DataFrame) -> DataFrame:
    """(root_url, _xml, depth) → one row per entry of each sitemap,
    depth incremented. Map-only Arrow stage."""

    def op(batches):
        for pdf in batches:
            out = {k: [] for k in (
                "root_url", "loc", "lastmod_epoch", "priority",
                "is_index", "depth")}
            for root, xml, d in zip(pdf["root_url"], pdf["_xml"], pdf["depth"]):
                for rec in parse_sitemap(xml):
                    out["root_url"].append(root)
                    out["loc"].append(rec["loc"])
                    out["lastmod_epoch"].append(rec["lastmod_epoch"])
                    out["priority"].append(rec["priority"])
                    out["is_index"].append(rec["is_index"])
                    out["depth"].append(int(d) + 1)
            yield pd.DataFrame(out)

    return frontier.mapInPandas(op, SITEMAP_TREE_SCHEMA)


SITEMAP_DEPTH = 2  # the sitemap levels expand_sitemap_tree follows


def expand_sitemap_tree(files: DataFrame) -> DataFrame:
    """Recursive sitemap discovery over (sitemap_url, sitemap_xml)
    files: parse every root sitemap; entries
    of a sitemapindex are FOLLOWED (equi-join of the child loc back to
    the files table), plain urlset entries are emitted as leaves with
    their depth. The loop is UNROLLED SITEMAP_DEPTH times into one
    declarative plan — no driver actions, each level is a map-only
    parse + one hash join sized by the index entries (sitemap files
    are ~50k-url shards; the fan-out is bounded by the files table,
    so at 100 TB the whole tree walk is a few joins over a sitemap
    table that is ~10^-4 of the corpus). Dangling child references
    drop out at the join (a real crawl treats them as fetch failures);
    index entries still unresolved at SITEMAP_DEPTH are dropped
    (real-world trees are depth ≤ 2; cycles would duplicate leaves up
    to SITEMAP_DEPTH, as in a real crawler's bounded frontier)."""
    frontier = files.select(
        F.col("sitemap_url").alias("root_url"),
        F.col("sitemap_xml").alias("_xml"),
        F.lit(0).alias("depth"),
    )
    leaves = None
    for _ in range(SITEMAP_DEPTH):
        entries = _parse_level(frontier)
        level_leaves = entries.filter(~F.col("is_index")).drop("is_index")
        leaves = level_leaves if leaves is None else leaves.unionByName(level_leaves)
        frontier = (
            entries.filter(F.col("is_index"))
            .select("root_url", "loc", "depth")
            .join(
                files.select(
                    F.col("sitemap_url").alias("loc"),
                    F.col("sitemap_xml").alias("_xml"),
                ),
                "loc",
            )
            .select("root_url", "_xml", "depth")
        )
    return leaves


ROBOTS_META_SCHEMA = (
    "host STRING, crawl_delay DOUBLE, sitemap_url STRING"
)


def parse_robots_meta(text: str) -> dict:
    """Extract the non-rule metadata of a robots.txt: the Crawl-delay
    of the first group for agent `*` (seconds, float; the de-facto
    extension most crawlers honor) and every Sitemap: url (Sitemap
    lines are group-independent per the REP). Returns
    {crawl_delay: float|None, sitemaps: [url, ...]}."""
    sitemaps: list[str] = []
    groups: list[tuple[list[str], float | None]] = []
    cur_agents: list[str] = []
    cur_delay: float | None = None
    agents_open = False

    def flush():
        nonlocal cur_agents, cur_delay
        if cur_agents:
            groups.append((cur_agents, cur_delay))
        cur_agents, cur_delay = [], None

    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line:
            continue
        field, _, value = line.partition(":")
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            if not agents_open:
                flush()
                agents_open = True
            cur_agents.append(value.lower())
        elif field == "sitemap":
            # group-independent; keep raw url (value may contain ':')
            if value:
                sitemaps.append(value)
        else:
            agents_open = False
            if field == "crawl-delay":
                try:
                    cur_delay = float(value)
                except ValueError:
                    pass
    flush()
    return {
        "crawl_delay": next((d for agents, d in groups if "*" in agents), None),
        "sitemaps": sitemaps,
    }


def robots_meta(robots: DataFrame) -> DataFrame:
    """(host, robots_txt) → per-host crawl metadata for agent `*`: one
    row per discovered sitemap url (or a single NULL-sitemap row when
    none), each carrying the applicable group's crawl_delay. Feeds
    frontier_schedule (delay) and expand_sitemap_tree (roots) — the
    missing edge between the policy file and the politeness/discovery
    operators. Map-only Arrow stage like robots_rules."""

    def op(batches):
        for pdf in batches:
            hosts, delays, sms = [], [], []
            for host, txt in zip(pdf["host"], pdf["robots_txt"]):
                meta = parse_robots_meta(str(txt))
                targets = meta["sitemaps"] or [None]
                for sm in targets:
                    hosts.append(host)
                    delays.append(meta["crawl_delay"])
                    sms.append(sm)
            yield pd.DataFrame(
                {"host": hosts, "crawl_delay": delays, "sitemap_url": sms}
            )

    return robots.select("host", "robots_txt").mapInPandas(op, ROBOTS_META_SCHEMA)
