"""WARC/1.0 codec (sources/warc.py): roundtrip both layouts, header
and envelope semantics, loud rejections, and the distributed
scan/pack path. The full ingest→extract round trip is driver-gated
(warc_extract query)."""

import gzip

import pytest

from tin_terrain_spark.sources.warc import (
    build_warc,
    parse_warc,
    synth_warc_files,
    warc_pages,
)


def _pages(n=5):
    return [
        {
            "url": f"https://h{i}.example.org/doc/{i}",
            "epoch": 1767225600 + i,
            "html": f"<html><p>doc {i}</p></html>".encode(),
            "record_id": i,
        }
        for i in range(n)
    ]


@pytest.mark.parametrize("gz", [False, True])
def test_roundtrip(gz):
    pages = _pages()
    out = parse_warc(build_warc(pages, gzip_records=gz))
    assert len(out) == len(pages)  # warcinfo record skipped
    for p, r in zip(pages, out):
        assert r["url"] == p["url"]
        assert r["epoch"] == p["epoch"]
        assert r["status"] == 200
        assert r["content_type"].startswith("text/html")
        assert r["body"] == p["html"]


def test_deterministic_bytes():
    pages = _pages()
    assert build_warc(pages, gzip_records=True) == build_warc(pages, gzip_records=True)
    assert build_warc(pages) == build_warc(pages)


def test_gzip_members_split_per_record():
    blob = build_warc(_pages(3), gzip_records=True)
    # one gzip magic per record (warcinfo + 3 responses)
    assert blob.count(b"\x1f\x8b\x08") == 4
    # whole-file gzip (single member) must ALSO parse — some mirrors
    # re-compress warc files as one stream
    whole = gzip.compress(build_warc(_pages(3)), mtime=0)
    assert len(parse_warc(whole)) == 3


def test_non_response_records_skipped():
    blob = build_warc(_pages(2))
    # splice in a metadata record between the two responses
    meta = (
        b"WARC/1.0\r\nWARC-Type: metadata\r\nWARC-Date: 2026-01-01T00:00:00Z\r\n"
        b"Content-Length: 4\r\n\r\nmeta\r\n\r\n"
    )
    first_resp = blob.find(b"WARC-Type: response")
    second_resp = blob.find(b"WARC/1.0", first_resp)
    spliced = blob[:second_resp] + meta + blob[second_resp:]
    out = parse_warc(spliced)
    assert [r["url"] for r in out] == [p["url"] for p in _pages(2)]


def test_loud_rejections():
    blob = build_warc(_pages(1))
    with pytest.raises(ValueError, match="truncated"):
        parse_warc(blob[:-40])
    with pytest.raises(ValueError, match="magic"):
        parse_warc(b"HTTP/1.1 200 OK\r\n\r\n")
    http = (
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
        b"5\r\nhello\r\n0\r\n\r\n"
    )
    chunked = (
        b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Date: 2026-01-01T00:00:00Z\r\n"
        b"WARC-Target-URI: https://x/\r\n"
        + b"Content-Length: %d\r\n\r\n" % len(http)
        + http
    )
    with pytest.raises(ValueError, match="chunked"):
        parse_warc(chunked)
    with pytest.raises(ValueError, match="Content-Length"):
        parse_warc(b"WARC/1.0\r\nWARC-Type: response\r\n\r\n")


@pytest.fixture(scope="module")
def spark():
    from tin_terrain_spark.session import get_spark

    s = get_spark("warc", cores=4)
    yield s
    s.stop()


def test_distributed_pack_and_scan(spark):
    from pyspark.sql import functions as F

    rows = [
        (i, f"https://h{i % 7}.example.org/doc/{i}", 1767225600 + i,
         f"<html><body><p>page {i}</p></body></html>".encode())
        for i in range(60)
    ]
    pages = spark.createDataFrame(
        rows, "doc_id LONG, url STRING, warc_epoch LONG, html BINARY"
    )
    files = synth_warc_files(pages)
    fl = {r["file_id"]: r for r in files.collect()}
    assert sorted(fl) == [0, 1, 2]
    assert [fl[i]["n_records"] for i in (0, 1, 2)] == [25, 25, 10]
    assert fl[0]["content"][:5] == b"WARC/"      # even file: plain
    assert bytes(fl[1]["content"][:2]) == b"\x1f\x8b"  # odd file: gzip

    back = warc_pages(files).withColumn(
        "doc_id", F.regexp_extract("url", "/doc/([0-9]+)$", 1).cast("long")
    )
    got = {r["doc_id"]: r for r in back.collect()}
    assert len(got) == 60
    for i, url, epoch, html in rows:
        assert got[i]["url"] == url
        assert got[i]["warc_epoch"] == epoch
        assert got[i]["http_status"] == 200
        assert bytes(got[i]["html"]) == html


@pytest.mark.parametrize("gz", [False, True])
def test_cdx_index_seeks(gz):
    import hashlib

    from tin_terrain_spark.sources.warc import index_warc

    pages = _pages(7)
    blob = build_warc(pages, gzip_records=gz)
    idx = index_warc(blob)
    assert len(idx) == 7  # warcinfo member not indexed
    for p, r in zip(pages, idx):
        assert r["url"] == p["url"] and r["epoch"] == p["epoch"]
        assert r["digest"] == hashlib.md5(p["html"]).hexdigest()
        assert r["seek_ok"] is True
        # the span really is self-contained: parse ONLY the slice
        sl = blob[r["offset"] : r["offset"] + r["rec_length"]]
        (rec,) = parse_warc(bytes(sl))
        assert rec["url"] == p["url"] and rec["body"] == p["html"]
    # spans tile the file: offsets strictly increasing, no overlap,
    # and (with the warcinfo span) they cover every byte
    offs = [(r["offset"], r["rec_length"]) for r in idx]
    assert all(a[0] + a[1] <= b[0] for a, b in zip(offs, offs[1:]))
    covered = sum(l for _, l in offs)
    assert offs[0][0] + covered == len(blob)  # warcinfo is the gap


def test_cdx_rejects_whole_file_gzip():
    from tin_terrain_spark.sources.warc import index_warc

    blob = gzip.compress(build_warc(_pages(3)), mtime=0)
    with pytest.raises(ValueError, match="not seekable"):
        index_warc(blob)


def test_cdx_fetch_slices_only_wanted(spark):
    from tin_terrain_spark.sources.warc import (
        index_warc,
        cdx_fetch,
        warc_cdx,
    )

    pages = _pages(6)
    blobs = [
        (0, build_warc(pages[:3], gzip_records=False)),
        (1, build_warc(pages[3:], gzip_records=True)),
    ]
    files = spark.createDataFrame(blobs, "file_id BIGINT, content BINARY")
    idx = warc_cdx(files)
    wanted = idx.filter(idx.url.endswith("/doc/1") | idx.url.endswith("/doc/4"))
    got = {r["url"]: r for r in cdx_fetch(wanted, files).collect()}
    assert set(got) == {pages[1]["url"], pages[4]["url"]}
    for i in (1, 4):
        assert bytes(got[pages[i]["url"]]["html"]) == pages[i]["html"]
        assert got[pages[i]["url"]]["http_status"] == 200
