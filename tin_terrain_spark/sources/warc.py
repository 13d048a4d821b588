"""WARC/1.0 container codec — the Common-Crawl ingestion on-ramp.

The charter's pages(url, warc_ts, html, text, lang) table is, in a
real deployment, materialized FROM WARC files (the ISO 28500 format
Common Crawl publishes: a sequence of records, each a CRLF header
block + Content-Length payload + blank line, usually gzip'd one
member per record so readers can split files without parsing). This
module is a from-scratch pure-stdlib codec:

  parse_warc   bytes → response records (url, epoch ts, HTTP status,
               content type, body) — plain or multi-member gzip,
               non-response records (warcinfo/request/metadata)
               skipped, HTTP envelope split off the payload
  build_warc   records → bytes (warcinfo header record + one
               response record per page, optional per-record gzip
               members) — the synth/test side

  warc_pages   DataFrame[(content BINARY)] → pages rows — the
               distributed scan: binaryFile source → mapInPandas,
               map-only, one Arrow crossing per file, no shuffle;
               at 100 TB each executor parses its own files and the
               extraction/geocode stages fuse behind it
  synth_warc_files  pages → deterministic WARC files (applyInPandas
               by file id; alternating files gzip'd) for tests and
               the driver-gated round-trip query

Scope (documented rejections): Transfer-Encoding: chunked bodies and
truncated records raise loudly; revisit/continuation records are
skipped like other non-response types.
"""

from __future__ import annotations

import gzip
import zlib
from datetime import datetime, timezone

import pandas as pd
from pyspark.sql import DataFrame, functions as F

CRLF = b"\r\n"


def _fmt_date(epoch: int) -> str:
    return datetime.fromtimestamp(int(epoch), tz=timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%SZ"
    )


def _parse_date(s: str) -> int:
    return int(
        datetime.strptime(s.strip(), "%Y-%m-%dT%H:%M:%SZ")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


def _record(warc_type: str, headers: list[tuple[str, str]], payload: bytes) -> bytes:
    head = [b"WARC/1.0"]
    head.append(b"WARC-Type: " + warc_type.encode())
    for k, v in headers:
        head.append(f"{k}: {v}".encode())
    head.append(f"Content-Length: {len(payload)}".encode())
    return CRLF.join(head) + CRLF + CRLF + payload + CRLF + CRLF


def build_warc(
    pages: list[dict], gzip_records: bool = False, filename: str = "synth.warc"
) -> bytes:
    """pages: dicts with url (str), epoch (int), html (bytes). Emits a
    warcinfo record then one response record per page, each wrapped in
    an HTTP/1.1 200 envelope; gzip_records=True compresses each record
    as its own gzip member (the Common Crawl layout)."""
    out = []
    info_payload = b"software: tin_terrain_spark\r\nformat: WARC File Format 1.0\r\n"
    out.append(
        _record(
            "warcinfo",
            [
                ("WARC-Date", _fmt_date(pages[0]["epoch"] if pages else 0)),
                ("WARC-Filename", filename),
                ("Content-Type", "application/warc-fields"),
            ],
            info_payload,
        )
    )
    for p in pages:
        html = p["html"]
        http = (
            b"HTTP/1.1 200 OK" + CRLF
            + b"Content-Type: text/html; charset=utf-8" + CRLF
            + f"Content-Length: {len(html)}".encode() + CRLF + CRLF
            + html
        )
        rid = int(p.get("record_id", hash(p["url"]) & 0x7FFFFFFF))
        out.append(
            _record(
                "response",
                [
                    ("WARC-Record-ID", f"<urn:uuid:{rid:032x}>"),
                    ("WARC-Date", _fmt_date(p["epoch"])),
                    ("WARC-Target-URI", p["url"]),
                    ("Content-Type", "application/http; msgtype=response"),
                ],
                http,
            )
        )
    if gzip_records:
        # level 1: the member-per-record FORMAT is the thing under
        # test; deterministic at any level, and the packer is harness
        return b"".join(
            gzip.compress(r, compresslevel=1, mtime=0) for r in out
        )
    return b"".join(out)


def _gunzip_members(data: bytes) -> bytes:
    """Decompress a concatenation of gzip members (CC's one-member-
    per-record layout) into one plain stream."""
    chunks = []
    while data:
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        chunks.append(d.decompress(data))
        chunks.append(d.flush())
        data = d.unused_data
    return b"".join(chunks)


def _walk_records(data: bytes):
    """Yield (offset, end, headers, payload) for every record in a
    PLAIN (non-gzip) WARC stream. offset points at the record magic,
    end one past the record's trailing CRLF CRLF (so consecutive
    records tile the file). Malformed input raises loudly."""
    pos = 0
    n = len(data)
    while pos < n:
        # tolerate inter-record blank lines
        while pos < n and data[pos : pos + 2] == CRLF:
            pos += 2
        if pos >= n:
            break
        start = pos
        hdr_end = data.find(CRLF + CRLF, pos)
        if hdr_end < 0:
            raise ValueError(f"WARC: unterminated header block at offset {pos}")
        head_lines = data[pos:hdr_end].split(CRLF)
        if not head_lines[0].startswith(b"WARC/"):
            raise ValueError(
                f"WARC: bad record magic {head_lines[0][:20]!r} at offset {pos}"
            )
        headers = {}
        for line in head_lines[1:]:
            k, _, v = line.partition(b":")
            headers[k.strip().lower().decode()] = v.strip().decode(
                "utf-8", errors="replace"
            )
        try:
            clen = int(headers["content-length"])
        except (KeyError, ValueError):
            raise ValueError(f"WARC: missing/bad Content-Length at offset {pos}")
        body_start = hdr_end + 4
        if body_start + clen > n:
            raise ValueError("WARC: truncated record payload")
        payload = data[body_start : body_start + clen]
        pos = body_start + clen
        end = pos
        if data[pos : pos + 4] == CRLF + CRLF:
            end = pos + 4  # the record's own trailing blank line
        yield start, end, headers, payload


def parse_warc(data: bytes) -> list[dict]:
    """Parse a WARC file (plain or gzip'd) into response-record dicts:
    {url, epoch, status, content_type, body}. Non-response records are
    skipped; malformed length/envelope raises loudly."""
    if data[:2] == b"\x1f\x8b":
        data = _gunzip_members(data)
    records = []
    for _start, _end, headers, payload in _walk_records(data):
        if headers.get("warc-type") == "response":
            env_end = payload.find(CRLF + CRLF)
            if env_end < 0:
                raise ValueError("WARC: response record without HTTP envelope")
            env_lines = payload[:env_end].split(CRLF)
            status = int(env_lines[0].split(b" ")[1])
            ctype = ""
            for line in env_lines[1:]:
                k, _, v = line.partition(b":")
                if k.strip().lower() == b"content-type":
                    ctype = v.strip().decode("utf-8", errors="replace")
                elif k.strip().lower() == b"transfer-encoding" and b"chunked" in v.lower():
                    raise ValueError("WARC: chunked bodies not supported")
            records.append(
                {
                    "url": headers.get("warc-target-uri", ""),
                    "epoch": _parse_date(headers["warc-date"]),
                    "status": status,
                    "content_type": ctype,
                    "body": payload[env_end + 4 :],
                }
            )
    return records


WARC_PAGES_SCHEMA = (
    "url STRING, warc_epoch BIGINT, http_status INT, content_type STRING, "
    "html BINARY"
)

# the WARC files relation (synth_warc_files, or spark.read.format(
# 'binaryFile') with its path renamed): one row per file, its bytes in
# CONTENT_COL and its bigint key in FILE_ID_COL
CONTENT_COL = "content"
FILE_ID_COL = "file_id"


def warc_pages(files: DataFrame) -> DataFrame:
    """Distributed WARC scan: one input row per WARC file (its bytes in
    CONTENT_COL), output one row per response record. Map-only mapInPandas — no shuffle; file-level parallelism
    is the natural CC unit (files are ~1 GB each)."""

    def op(batches):
        for pdf in batches:
            out = {
                "url": [],
                "warc_epoch": [],
                "http_status": [],
                "content_type": [],
                "html": [],
            }
            for blob in pdf[CONTENT_COL]:
                for r in parse_warc(bytes(blob)):
                    out["url"].append(r["url"])
                    out["warc_epoch"].append(r["epoch"])
                    out["http_status"].append(r["status"])
                    out["content_type"].append(r["content_type"])
                    out["html"].append(r["body"])
            yield pd.DataFrame(out)

    return files.select(CONTENT_COL).mapInPandas(op, WARC_PAGES_SCHEMA)


def index_warc(data: bytes) -> list[dict]:
    """CDX-style random-access index of one WARC file: for every
    response record, {url, epoch, status, offset, rec_length, digest,
    seek_ok}. offset/rec_length address the record's bytes IN THE FILE
    AS STORED — for plain files the record itself, for per-member-gzip
    files (the CC layout) the gzip member — so a reader can fetch
    data[offset : offset+rec_length] and parse exactly that record
    without touching the rest of the file (the point of CDX: random
    access into immutable 1 GB archives). digest is the md5 hex of the
    decoded HTTP body; seek_ok re-parses the addressed slice and
    confirms it yields exactly this record — the index verifies
    itself. Whole-file-gzip WARCs are not seekable; raise loudly."""
    import hashlib

    spans: list[tuple[int, int, bytes]] = []  # (offset, length, plain record)
    if data[:2] == b"\x1f\x8b":
        pos = 0
        while pos < len(data):
            d = zlib.decompressobj(16 + zlib.MAX_WBITS)
            plain = d.decompress(data[pos:]) + d.flush()
            consumed = len(data) - pos - len(d.unused_data)
            n_inside = sum(1 for _ in _walk_records(plain))
            if n_inside != 1:
                raise ValueError(
                    "WARC: whole-file gzip (member holds "
                    f"{n_inside} records) is not seekable; CDX needs "
                    "the member-per-record layout"
                )
            spans.append((pos, consumed, plain))
            pos += consumed
    else:
        for start, end, _h, _p in _walk_records(data):
            spans.append((start, end - start, data[start:end]))

    out = []
    for offset, length, plain in spans:
        recs = parse_warc(plain)
        if not recs:  # warcinfo / request / metadata members
            continue
        (r,) = recs
        check = parse_warc(bytes(data[offset : offset + length]))
        out.append(
            {
                "url": r["url"],
                "epoch": r["epoch"],
                "status": r["status"],
                "offset": offset,
                "rec_length": length,
                "digest": hashlib.md5(r["body"]).hexdigest(),
                "seek_ok": len(check) == 1 and check[0]["url"] == r["url"]
                and check[0]["body"] == r["body"],
            }
        )
    return out


WARC_CDX_SCHEMA = (
    "file_id BIGINT, url STRING, warc_epoch BIGINT, rec_offset BIGINT, "
    "rec_length BIGINT, digest STRING, seek_ok BOOLEAN"
)


def warc_cdx(files: DataFrame) -> DataFrame:
    """Distributed CDX build: one row per response record with its
    byte span in the stored file (keyed by FILE_ID_COL). Map-only
    mapInPandas like the scan — at 100 TB the index job is one pass
    over the archive, and the output (a few hundred bytes/record) is
    what interactive lookups hit instead of the archive itself."""

    def op(batches):
        for pdf in batches:
            out = {k: [] for k in (
                FILE_ID_COL, "url", "warc_epoch", "rec_offset",
                "rec_length", "digest", "seek_ok")}
            for fid, blob in zip(pdf[FILE_ID_COL], pdf[CONTENT_COL]):
                for r in index_warc(bytes(blob)):
                    out[FILE_ID_COL].append(int(fid))
                    out["url"].append(r["url"])
                    out["warc_epoch"].append(r["epoch"])
                    out["rec_offset"].append(r["offset"])
                    out["rec_length"].append(r["rec_length"])
                    out["digest"].append(r["digest"])
                    out["seek_ok"].append(r["seek_ok"])
            yield pd.DataFrame(out)

    return files.select(FILE_ID_COL, CONTENT_COL).mapInPandas(op, WARC_CDX_SCHEMA)


WARC_FILE_SCHEMA = "file_id BIGINT, n_records INT, content BINARY"
DOCS_PER_FILE = 25  # synth_warc_files' pages per file; the CDX oracle's too


def synth_warc_files(
    pages: DataFrame, gzip_mode: str = "alternate",
) -> DataFrame:
    """Pack pages(doc_id, url, warc_epoch, html) into deterministic
    WARC files: file_id = doc_id // DOCS_PER_FILE, records ordered by
    doc_id; gzip_mode 'alternate' gzips odd files per record (the CC
    layout) and leaves even files plain, 'none'/'all' force one
    layout (the CDX oracle needs 'none' — plain offsets are
    closed-form, gzip member sizes are not). applyInPandas keyed on
    file_id — ONE shuffle sized by the pages table, then pure CPU."""
    from pyspark.sql import functions as F

    if gzip_mode not in ("alternate", "none", "all"):
        raise ValueError(f"gzip_mode must be alternate|none|all, not {gzip_mode!r}")

    def pack(key, pdf):
        (fid,) = key
        pdf = pdf.sort_values("doc_id")
        recs = [
            {
                "url": u,
                "epoch": int(e),
                "html": bytes(h),
                "record_id": int(d),
            }
            for d, u, e, h in zip(
                pdf["doc_id"], pdf["url"], pdf["warc_epoch"], pdf["html"]
            )
        ]
        gz = {"alternate": bool(fid % 2), "none": False, "all": True}[gzip_mode]
        blob = build_warc(recs, gzip_records=gz, filename=f"synth-{fid}.warc")
        return pd.DataFrame(
            {"file_id": [int(fid)], "n_records": [len(recs)], "content": [blob]}
        )

    keyed = pages.withColumn(
        "file_id", F.floor(F.col("doc_id") / DOCS_PER_FILE).cast("bigint")
    )
    # pin the pack kernel's parallelism: an explicit repartition on the
    # group key (reused by the groupBy — no second exchange) keeps AQE
    # from coalescing the small shuffle ahead of this CPU-bound Python
    # stage down to a handful of partitions (NOTES.md environment facts)
    n_part = pages.sparkSession.sparkContext.defaultParallelism
    keyed = keyed.repartition(n_part, "file_id")
    return keyed.groupBy("file_id").applyInPandas(pack, WARC_FILE_SCHEMA)


FETCH_SCHEMA = (
    "url STRING, warc_epoch BIGINT, http_status INT, html BINARY"
)


def cdx_fetch(cdx: DataFrame, files: DataFrame) -> DataFrame:
    """Selective record fetch THROUGH the CDX index: given a
    (typically heavily filtered) slice of the index and the archive
    files, decode ONLY the indexed byte spans — the random-access
    consumer that justifies building CDX at all. Plan shape: the
    filtered index is grouped per file (collect_list of spans — one
    shuffle sized by the WANTED records, not the archive), hash-joined
    to the files relation, then a map-only Arrow stage slices
    data[offset:offset+len] per span and parses just those bytes. At
    100 TB the archive side never moves: the join ships span lists to
    wherever the file blocks already are, and a file with no wanted
    records drops out at the join."""
    spans = (
        cdx.groupBy(FILE_ID_COL)
        .agg(
            F.collect_list(
                F.struct(F.col("rec_offset").alias("o"),
                         F.col("rec_length").alias("l"))
            ).alias("_spans")
        )
    )
    joined = files.select(FILE_ID_COL, CONTENT_COL).join(spans, FILE_ID_COL)

    def op(batches):
        for pdf in batches:
            out = {"url": [], "warc_epoch": [], "http_status": [], "html": []}
            for blob, spans_ in zip(pdf[CONTENT_COL], pdf["_spans"]):
                data = bytes(blob)
                for s in spans_:
                    o, l = int(s["o"]), int(s["l"])
                    (rec,) = parse_warc(data[o : o + l])
                    out["url"].append(rec["url"])
                    out["warc_epoch"].append(rec["epoch"])
                    out["http_status"].append(rec["status"])
                    out["html"].append(rec["body"])
            yield pd.DataFrame(out)

    return joined.select(CONTENT_COL, "_spans").mapInPandas(op, FETCH_SCHEMA)
