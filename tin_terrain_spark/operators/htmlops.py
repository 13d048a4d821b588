"""Real HTML→text extraction for the Common-Crawl-style pages table.

The charter's input is pages(url, warc_ts, html BINARY, text, lang)
with the per-row invariant that extracted text is byte-identical per
url (BASELINE.json input_hint). `multimodal.extract_text` covers the
trivial wrapper form; this module is the REAL extractor a web-text
pipeline needs: a lenient HTML parser (stdlib html.parser — no
external deps) that

  - drops non-content subtrees wholesale: script, style, template,
    head, noscript, svg, iframe — plus the boilerplate containers
    nav, header, footer, aside (the trafilatura/jusText move);
  - drops comments (including fake markup inside them);
  - decodes character references (named, decimal, hex) in data;
  - treats block-level elements as line boundaries and collapses all
    other whitespace runs (raw newlines inside a paragraph become
    single spaces, whitespace-only nodes vanish, blank lines
    collapse) — the canonical form web-text dedup pipelines hash.

100 TB shape: a map-only mapInPandas stage — no shuffle, no driver
state; html bytes cross Arrow once per row and the parser is pure
CPU, so throughput scales linearly with executors. This is one of the
few places Python is the honest path: there is no JVM-side HTML
parser in pyspark.sql.functions, and a regexp_replace chain cannot
handle quoted '>' in attributes, CDATA script bodies, or entity
decoding correctly.

The synthetic corpus has no real HTML, so `synth_html` builds a
deterministic page per doc — four structural variants rotating on
doc_id % 4 (plain / attribute-noise + self-closing void / uppercase
tags + comments + inter-tag whitespace / CDATA script + style + nav +
aside + footer boilerplate) — ALL of which must extract to the same
canonical text:

    Doc {doc_id} & <soup>\\n{text}\\ntail {doc_id % 7}

The body paragraph entity-encodes 'a'→'&#97;' and 'e'→'&#x65;', and
the headline carries named refs (&amp; &lt; &gt;), so the extractor
must genuinely decode references to reproduce `text` byte-identically
— giving the extraction a full closed-form DuckDB oracle that never
touches a parser.

Reference analogue: the charter frames extraction parity the way
tin-terrain pins raster→mesh parity (vendor/... golden fixtures,
tests/: exact expected outputs per input); here the invariant is the
text bytes per url.
"""

from __future__ import annotations

from html.parser import HTMLParser

import pandas as pd
from pyspark.sql import DataFrame, functions as F

# Subtrees whose entire content is non-text or boilerplate.
DROP_TAGS = frozenset(
    "script style template head noscript svg iframe nav header footer aside".split()
)

# Elements that terminate a line of extracted text.
BLOCK_TAGS = frozenset(
    (
        "address article blockquote body br caption dd div dl dt fieldset "
        "figcaption figure form h1 h2 h3 h4 h5 h6 hr html li main ol p pre "
        "section table tr ul"
    ).split()
)

# Table cells read across: cell boundary contributes a space, not a line.
CELL_TAGS = frozenset("td th".split())

_BLOCK_MARK = "\x00"  # cannot collide: &#0; is invalid in HTML
_CELL_MARK = "\x01"  # structural cell separator (distinct from data " ")


class _TextExtractor(HTMLParser):
    """Lenient streaming extractor. convert_charrefs=True makes the
    parser decode &amp;/&#97;/&#x65; inside data nodes before
    handle_data sees them (script/style bodies stay raw — dropped
    anyway)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._drop = 0
        self._parts: list[str] = []

    def handle_starttag(self, tag, attrs):
        if tag in DROP_TAGS:
            if self._drop == 0:  # a dropped subtree is a block boundary
                self._parts.append(_BLOCK_MARK)
            self._drop += 1
        elif self._drop == 0:
            if tag in BLOCK_TAGS:
                self._parts.append(_BLOCK_MARK)
            elif tag in CELL_TAGS:
                self._parts.append(_CELL_MARK)

    def handle_endtag(self, tag):
        if tag in DROP_TAGS:
            if self._drop:
                self._drop -= 1
            if self._drop == 0:
                self._parts.append(_BLOCK_MARK)
        elif self._drop == 0:
            if tag in BLOCK_TAGS:
                self._parts.append(_BLOCK_MARK)
            elif tag in CELL_TAGS:
                self._parts.append(_CELL_MARK)

    def handle_data(self, data):
        if self._drop == 0 and data:
            self._parts.append(data)

    def result(self) -> str:
        blocks = []
        for blk in "".join(self._parts).split(_BLOCK_MARK):
            # cell separators become spaces, then ALL whitespace collapses
            t = " ".join(blk.replace(_CELL_MARK, " ").split())
            if t:
                blocks.append(t)
        return "\n".join(blocks)


def html_to_text(html: str) -> str:
    """Extract canonical text from one HTML document (kernel form —
    the Spark op batches this over Arrow)."""
    p = _TextExtractor()
    p.feed(html)
    p.close()
    return p.result()


HTML_EXTRACT_SCHEMA = "doc_id BIGINT, extracted STRING"


def extract_html(pages: DataFrame, keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """Distributed extraction: (doc_id, html BINARY) → (doc_id,
    extracted STRING). Map-only Arrow-batched stage; see module
    docstring for why this is the honest Python-path exception.

    keep_cols are passed through unchanged — when the input is itself
    an expensive subtree (e.g. a WARC pack+parse pipeline), carrying
    the metadata through the extractor keeps the plan a SINGLE pass
    instead of forcing a second execution (or a persist) for a
    re-join."""
    schema = HTML_EXTRACT_SCHEMA
    if keep_cols:
        types = {f.name: f.dataType.simpleString() for f in pages.schema.fields}
        schema += ", " + ", ".join(f"{c} {types[c]}" for c in keep_cols)

    def op(batches):
        for pdf in batches:
            out = [
                html_to_text(
                    h.decode("utf-8", errors="replace") if isinstance(h, (bytes, bytearray)) else str(h)
                )
                for h in pdf["html"]
            ]
            res = {"doc_id": pdf["doc_id"], "extracted": out}
            for c in keep_cols:
                res[c] = pdf[c]
            yield pd.DataFrame(res)

    return pages.select("doc_id", "html", *keep_cols).mapInPandas(op, schema)


def _enc_body():
    """Entity-encode the body paragraph, column text: 'a'→'&#97;' first
    (the decimal ref contains no 'e'), then 'e'→'&#x65;' (the hex ref
    contains no 'a') — order-safe, and the extractor must decode both
    to win."""
    return F.expr("replace(replace(text, 'a', '&#97;'), 'e', '&#x65;')")


def synth_html(docs: DataFrame) -> DataFrame:
    """Deterministic rich-HTML page per doc (column expressions only —
    what a WARC scan yields). Four structural variants on doc_id % 4;
    every variant extracts to the same canonical text, so the query
    oracle is a single closed-form string build. Returns
    (doc_id, html BINARY)."""
    title = F.concat(
        F.lit("Doc "), F.col("doc_id").cast("string"), F.lit(" &amp; &lt;soup&gt;")
    )
    body = _enc_body()
    tail = F.concat(F.lit("tail "), (F.col("doc_id") % 7).cast("string"))

    v0 = F.concat(
        F.lit("<!DOCTYPE html><html><head><title>t</title></head><body><h1>"),
        title,
        F.lit("</h1><p>"),
        body,
        F.lit("</p><p>"),
        tail,
        F.lit("</p></body></html>"),
    )
    v1 = F.concat(
        F.lit(
            '<html><head><meta charset="utf-8"><script src="/app.js"></script>'
            "</head><body><div id='m' data-x=\"a>b\"><h1 class=\"t\">"
        ),
        title,
        F.lit("</h1><br/><p>"),
        body,
        F.lit("<br></p><div>"),
        tail,
        F.lit("</div></div></body></html>"),
    )
    v2 = F.concat(
        F.lit("<HTML><BODY><!-- <p>IGNORED</p> -->\n  <H1>"),
        title,
        F.lit("</H1>\n  <P>"),
        body,
        F.lit("</P>\n  <NAV><A HREF=\"/\">Home</A> | <A HREF=\"/x\">About</A></NAV>\n  <P>"),
        tail,
        F.lit("</P></BODY></HTML>"),
    )
    v3 = F.concat(
        F.lit("<html><head><style>p{color:#000}</style></head><body><h1>"),
        title,
        F.lit(
            '</h1><script>var s="</p><p>fake</p>"; if(1<2){alert(s)}</script><p>'
        ),
        body,
        F.lit("</p><aside>ad junk here</aside><p>"),
        tail,
        F.lit("</p><footer>&copy; 2026 junk</footer></body></html>"),
    )
    variant = (F.col("doc_id") % 4).cast("int")
    page = (
        F.when(variant == 0, v0)
        .when(variant == 1, v1)
        .when(variant == 2, v2)
        .otherwise(v3)
    )
    return docs.select("doc_id", F.encode(page, "UTF-8").alias("html"))


def sql_html_extract() -> str:
    """Closed-form DuckDB twin of synth_html ∘ extract_html: the
    expected extraction is 'Doc {id} & <soup>\\n{text}\\ntail {id%7}'
    for every variant, and the body line must equal text byte-for-byte
    (the charter's per-row invariant)."""
    return """
      SELECT doc_id,
             'Doc ' || doc_id || ' & <soup>' || chr(10) || text
                    || chr(10) || 'tail ' || (doc_id % 7) AS extracted,
             CAST(3 AS INT) AS n_blocks,
             TRUE AS body_identical
      FROM documents
    """


class _LinkCollector(HTMLParser):
    """Collect <a href> targets + anchor text from the FULL document —
    unlike text extraction, link harvesting (crawl frontier / link
    graph) wants links from nav/footer boilerplate too."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.links: list[tuple[str, str]] = []
        self._href: str | None = None
        self._anchor: list[str] = []

    def _flush(self):
        if self._href is not None:
            self.links.append((self._href, " ".join("".join(self._anchor).split())))
        self._href, self._anchor = None, []

    def handle_starttag(self, tag, attrs):
        if tag == "a":
            self._flush()  # implicit close of an unclosed <a>
            self._href = next((v for k, v in attrs if k == "href"), None)

    def handle_endtag(self, tag):
        if tag == "a":
            self._flush()

    def handle_data(self, data):
        if self._href is not None:
            self._anchor.append(data)

    def close(self):
        super().close()
        self._flush()


def html_links(html: str, base_url: str | None = None) -> list[tuple[str, str]]:
    """Kernel form: (resolved_href, anchor_text) per <a href> tag;
    relative hrefs resolve against base_url when given."""
    from urllib.parse import urljoin

    p = _LinkCollector()
    p.feed(html)
    p.close()
    if base_url:
        return [(urljoin(base_url, h), a) for h, a in p.links]
    return p.links


LINKS_SCHEMA = "doc_id BIGINT, link_url STRING, anchor STRING"


def extract_links(pages: DataFrame, url_col: str | None = None) -> DataFrame:
    """Distributed link harvest: one output row per <a href>. Map-only
    Arrow stage like extract_html; with url_col set, relative hrefs
    are resolved against the page url (crawl-frontier form)."""
    cols = ["doc_id", "html"] + ([url_col] if url_col else [])

    def op(batches):
        for pdf in batches:
            ids, hrefs, anchors = [], [], []
            bases = pdf[url_col] if url_col else [None] * len(pdf)
            for doc_id, h, base in zip(pdf["doc_id"], pdf["html"], bases):
                raw = (
                    h.decode("utf-8", errors="replace")
                    if isinstance(h, (bytes, bytearray))
                    else str(h)
                )
                for href, anchor in html_links(raw, base):
                    ids.append(doc_id)
                    hrefs.append(href)
                    anchors.append(anchor)
            yield pd.DataFrame(
                {"doc_id": ids, "link_url": hrefs, "anchor": anchors}
            )

    return pages.select(*cols).mapInPandas(op, LINKS_SCHEMA)


def synth_linked_html(docs: DataFrame, n_nodes: int) -> DataFrame:
    """Pages with deterministic outbound links for the link-graph
    query: one absolute link to doc (id*7+1) % n and one RELATIVE link
    ('/doc/{(id*13+2) % n}', resolving against the page's own host).
    Returns (doc_id, url, html BINARY)."""
    from .urlops import N_HOSTS, synth_urls

    did = F.col("doc_id")
    t_abs = (did * 7 + 1) % n_nodes
    t_rel = (did * 13 + 2) % n_nodes
    abs_url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit("-"),
        (t_abs % N_HOSTS).cast("string"),
        F.lit(".example.org/doc/"),
        t_abs.cast("string"),
    )
    page = F.concat(
        F.lit('<html><body><p>stub</p><nav><a href="'),
        abs_url,
        F.lit('">next</a> <a href="/doc/'),
        t_rel.cast("string"),
        F.lit('">rel</a></nav></body></html>'),
    )
    return synth_urls(docs).select(
        "doc_id", "url", F.encode(page, "UTF-8").alias("html")
    )


# --------------------------------------------------------------------------
# charset sniffing: WARC payloads are BYTES in whatever encoding the
# origin server chose; the bytes→text step must sniff before decoding
# --------------------------------------------------------------------------

_META_CHARSET_RE = None  # compiled lazily (module import stays cheap)


def sniff_decode(data: bytes) -> tuple[str, str]:
    """Decode page bytes to text with charset detection, in priority
    order: BOM (UTF-8 / UTF-16 LE / UTF-16 BE) → <meta charset=…> /
    http-equiv declaration in the first 1024 bytes → strict UTF-8 →
    windows-1252 → latin-1 (never fails). Returns (text, charset
    label). A declared-but-wrong charset (lookup or decode failure)
    falls through to the sniffing chain, matching lenient browser
    behavior."""
    import codecs
    import re as _re

    global _META_CHARSET_RE
    if _META_CHARSET_RE is None:
        _META_CHARSET_RE = _re.compile(
            rb"charset\s*=\s*[\"']?\s*([A-Za-z0-9_.:-]+)", _re.I
        )
    if data[:3] == b"\xef\xbb\xbf":
        return data[3:].decode("utf-8", "replace"), "utf-8-bom"
    if data[:2] == b"\xff\xfe":
        return data[2:].decode("utf-16-le", "replace"), "utf-16-le"
    if data[:2] == b"\xfe\xff":
        return data[2:].decode("utf-16-be", "replace"), "utf-16-be"
    m = _META_CHARSET_RE.search(data[:1024])
    if m:
        name = m.group(1).decode("ascii", "replace").lower()
        try:
            return data.decode(codecs.lookup(name).name), name
        except (LookupError, UnicodeDecodeError):
            pass
    try:
        return data.decode("utf-8"), "utf-8"
    except UnicodeDecodeError:
        pass
    try:
        return data.decode("cp1252"), "windows-1252"
    except UnicodeDecodeError:
        return data.decode("latin-1"), "latin-1"


DECODE_SCHEMA = "doc_id BIGINT, text_out STRING, charset STRING"


def decode_pages(pages: DataFrame) -> DataFrame:
    """Distributed html bytes→text with charset sniffing (map-only Arrow
    stage, same shape as extract_html — run this FIRST on raw WARC
    payloads, then feed the text to the extractor)."""

    def op(batches):
        for pdf in batches:
            ids, texts, charsets = [], [], []
            for doc_id, blob in zip(pdf["doc_id"], pdf["html"]):
                t, cs = sniff_decode(bytes(blob))
                ids.append(doc_id)
                texts.append(t)
                charsets.append(cs)
            yield pd.DataFrame(
                {"doc_id": ids, "text_out": texts, "charset": charsets}
            )

    return pages.select("doc_id", "html").mapInPandas(op, DECODE_SCHEMA)


def synth_encoded_pages(docs: DataFrame) -> DataFrame:
    """Five deterministic encoding variants (doc_id % 5): plain UTF-8 /
    UTF-8 with BOM + 'ä' / UTF-16 LE with BOM + 'ø' / ISO-8859-1
    declared via <meta charset> + 'é' / undeclared windows-1252 (a
    stray 0x97 em-dash after latin-1 text — invalid UTF-8, exercising
    the fallback). Returns (doc_id, html BINARY); expected decodes are
    closed-form."""
    did = F.col("doc_id")
    v = (did % 5).cast("int")
    t = F.col("text")
    payload = (
        F.when(v == 0, F.encode(t, "UTF-8"))
        .when(
            v == 1,
            F.concat(
                F.lit(b"\xef\xbb\xbf"),
                F.encode(F.expr("replace(text, 'a', 'ä')"), "UTF-8"),
            ),
        )
        .when(
            v == 2,
            F.concat(
                F.lit(b"\xff\xfe"),
                F.encode(F.expr("replace(text, 'o', 'ø')"), "UTF-16LE"),
            ),
        )
        .when(
            v == 3,
            F.encode(
                F.concat(
                    F.lit('<meta charset="iso-8859-1">'),
                    F.expr("replace(text, 'e', 'é')"),
                ),
                "ISO-8859-1",
            ),
        )
        .otherwise(F.concat(F.encode(t, "ISO-8859-1"), F.lit(b"\x97")))
    )
    return docs.select("doc_id", payload.alias("html"))


# --------------------------------------------------------------------------
# main-content extraction: link-density boilerplate scoring — nav-like
# link farms living in the BODY (where tag-based dropping can't see
# them) are removed by the jusText/trafilatura density rule
# --------------------------------------------------------------------------


class _MainTextExtractor(_TextExtractor):
    """Like _TextExtractor, but tags every data part with whether it
    was emitted inside an <a> element, so blocks can be scored by
    link-char density after parsing."""

    def __init__(self) -> None:
        super().__init__()
        self._anchor = 0
        self._flags: list[bool] = []

    def handle_starttag(self, tag, attrs):
        if tag == "a" and self._drop == 0:
            self._anchor += 1
        super().handle_starttag(tag, attrs)

    def handle_endtag(self, tag):
        if tag == "a" and self._anchor:
            self._anchor -= 1
        super().handle_endtag(tag)

    def handle_data(self, data):
        before = len(self._parts)
        super().handle_data(data)
        self._flags.extend([self._anchor > 0] * (len(self._parts) - before))

    def scored_blocks(self) -> list[tuple[str, float]]:
        """(collapsed block text, link density) per non-empty block;
        density is anchor chars / total chars on the RAW parts (before
        whitespace collapse — separators count as non-link mass)."""
        flags = iter(self._flags)
        blocks: list[tuple[str, float]] = []
        cur_parts: list[str] = []
        cur_total = cur_anchor = 0

        def flush():
            nonlocal cur_parts, cur_total, cur_anchor
            t = " ".join("".join(cur_parts).split())
            if t:
                blocks.append((t, cur_anchor / cur_total if cur_total else 0.0))
            cur_parts, cur_total, cur_anchor = [], 0, 0

        for part in self._parts:
            if part == _BLOCK_MARK:
                flush()
            elif part == _CELL_MARK:
                cur_parts.append(" ")  # structural, unflagged
            else:
                is_anchor = next(flags)
                cur_parts.append(part)
                n = len(part.strip())
                cur_total += n
                if is_anchor:
                    cur_anchor += n
        flush()
        return blocks


def html_main_text(html: str) -> tuple[str, int]:
    """Main-content extraction: the _TextExtractor contract PLUS
    dropping blocks whose link-char density exceeds 0.5.
    Returns (main_text, n_dropped_blocks)."""
    p = _MainTextExtractor()
    p.feed(html)
    p.close()
    blocks = p.scored_blocks()
    kept = [t for t, d in blocks if d <= 0.5]
    return "\n".join(kept), len(blocks) - len(kept)


MAIN_TEXT_SCHEMA = "doc_id BIGINT, main_text STRING, n_dropped INT"


def extract_main_text(pages: DataFrame) -> DataFrame:
    """Distributed main-content extraction (map-only Arrow stage)."""

    def op(batches):
        for pdf in batches:
            ids, texts, dropped = [], [], []
            for doc_id, h in zip(pdf["doc_id"], pdf["html"]):
                raw = (
                    h.decode("utf-8", errors="replace")
                    if isinstance(h, (bytes, bytearray))
                    else str(h)
                )
                t, nd = html_main_text(raw)
                ids.append(doc_id)
                texts.append(t)
                dropped.append(nd)
            yield pd.DataFrame(
                {"doc_id": ids, "main_text": texts, "n_dropped": dropped}
            )

    return pages.select("doc_id", "html").mapInPandas(op, MAIN_TEXT_SCHEMA)


def synth_boilerplate_html(docs: DataFrame) -> DataFrame:
    """Pages whose boilerplate lives in the BODY where tag-based
    dropping cannot see it: a link-farm paragraph (density ~0.7) and a
    breadcrumb div (all-anchor) around the real content. Main-content
    extraction must yield exactly the html_extract canonical text;
    plain extraction would keep the link farms (asserted in tests)."""
    title = F.concat(
        F.lit("Doc "), F.col("doc_id").cast("string"), F.lit(" &amp; &lt;soup&gt;")
    )
    body = _enc_body()
    tail = F.concat(F.lit("tail "), (F.col("doc_id") % 7).cast("string"))
    page = F.concat(
        F.lit(
            '<html><body><div><a href="/">Home</a> | <a href="/a">About</a>'
            ' | <a href="/c">Contact</a> | <a href="/l">Legal</a></div><h1>'
        ),
        title,
        F.lit("</h1><p>"),
        body,
        F.lit('</p><p><a href="/up">Back to top</a></p><p>'),
        tail,
        F.lit("</p></body></html>"),
    )
    return docs.select("doc_id", F.encode(page, "UTF-8").alias("html"))


def anchor_text(links: DataFrame) -> DataFrame:
    """Per-target anchor-text aggregation — the classic web-corpus
    signal over (link_url, anchor) rows (anchor words describe the
    TARGET page better than its own text; query-independent relevance + link-spam features). Two
    map-side-combinable aggs: per (target, anchor) counts, then per
    target pick the most-frequent anchor (ties: lexicographically
    smallest) plus reference/diversity counts. No UDF, no window."""
    per_anchor = (
        links.groupBy("link_url", "anchor")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    return (
        per_anchor.groupBy("link_url")
        .agg(
            F.sum("_c").alias("n_refs"),
            F.count(F.lit(1)).alias("n_distinct_anchors"),
            F.min(
                F.struct((-F.col("_c")).alias("nc"), F.col("anchor"))
            ).alias("_top"),
        )
        .select(
            "link_url",
            "n_refs",
            "n_distinct_anchors",
            F.col("_top.anchor").alias("top_anchor"),
            (-F.col("_top.nc")).alias("top_anchor_refs"),
        )
    )
