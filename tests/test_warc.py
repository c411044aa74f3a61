"""WARC source (sources/warc.py): Common-Crawl-layout container round
trips — per-record gzip members, WARC/HTTP header parsing, never-fail
blob kernel, and byte-identical html through the full extraction path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from html_parser_spark.job import pipeline as P
from html_parser_spark.sources import warc as W


RECS = [("http://a.example/x", b"<html><body>hello</body></html>"),
        ("http://b.example/y", b"<html>two \xe2\x82\xac</html>"),
        ("http://c.example/empty", b"")]


@pytest.mark.parametrize("gz", [True, False])
def test_roundtrip_all_records(gz):
    blob = W.write_warc(RECS, gzip_members=gz)
    got = [(r["url"], r["body"]) for r in W.iter_warc_records(blob)]
    assert got == RECS
    meta = next(W.iter_warc_records(blob))
    assert meta["http_status"] == 200
    assert meta["content_type"] == "text/html; charset=utf-8"
    assert meta["warc_date"] == "2026-01-01T00:00:00Z"
    assert meta["record_id"].startswith("<urn:uuid:")


def test_write_is_deterministic():
    # gzip mtime pinned to 0: identical bytes across calls/runs, which
    # the driver's value-hash gate relies on.
    assert W.write_warc(RECS) == W.write_warc(RECS)


def test_non_response_records_skipped():
    info = (b"WARC/1.0\r\n"
            b"WARC-Type: warcinfo\r\n"
            b"Content-Type: application/warc-fields\r\n"
            b"Content-Length: 9\r\n\r\n"
            b"robots: x\r\n\r\n")
    blob = info + W.write_warc_record(*RECS[0], gzip_member=False)
    got = list(W.iter_warc_records(blob))
    assert len(got) == 1 and got[0]["url"] == RECS[0][0]


def test_malformed_raises_valueerror():
    with pytest.raises(ValueError):
        list(W.iter_warc_records(b"NOTAWARC" + b"\x00" * 40))
    ok = W.write_warc_record(*RECS[0], gzip_member=False)
    with pytest.raises(ValueError):
        list(W.iter_warc_records(ok[: len(ok) // 2]))  # truncated content
    # truncated gzip member
    gz = W.write_warc_record(*RECS[0])
    with pytest.raises(ValueError):
        list(W.iter_warc_records(gz[: len(gz) // 2]))
    # a status code is three digits; a longer one would also overflow the
    # int http_status column and fail the job instead of one row
    for status in (b"99999999999", b"-1", b"2000", b"2x0"):
        bad = ok.replace(b" 200 OK", b" " + status + b" OK")
        with pytest.raises(ValueError, match="HTTP status"):
            list(W.iter_warc_records(bad))


def test_blob_kernel_never_fails(spark):
    rows = [(0, W.write_warc(RECS)),
            (1, b"\x00junk not a warc blob at all"),
            (2, W.write_warc(RECS)[: 30]),
            (3, None)]
    df = spark.createDataFrame(rows, "blob_id long, warc binary")
    got = W.pages_from_warc_blobs(df).collect()
    ok = [r for r in got if r.http_status == 200]
    bad = [r for r in got if r.http_status == -1]
    assert len(ok) == len(RECS) and len(bad) == 3
    assert all(r.url == "" and r.html is None for r in bad)


def test_pages_survive_warc_byte_identical(spark):
    """The load-bearing property: html BYTES are unchanged through
    write→parse, so extraction over a WARC-ingested corpus equals
    extraction over the original pages (the north rule's byte-identical
    contract extends through the container)."""
    pages = P.synthesize_pages(spark, 24)
    direct = {r.url: bytes(r.html) for r in pages.collect()}
    back = W.pages_from_warc_blobs(W.warc_blobs_from_pages(pages))
    got = {r.url: bytes(r.html) for r in back.collect()}
    assert got == direct
    # and the extractor yields identical envelopes on both
    a = {r.url: (r.status, r.envelope, r.main_text)
         for r in P.extract_pages(pages)
         .select("url", "status", "envelope", "main_text").collect()}
    b = {r.url: (r.status, r.envelope, r.main_text)
         for r in P.extract_pages(
             back.select("url",
                         F.to_timestamp(F.lit("2026-01-01")).alias(
                             "warc_ts"),
                         "html",
                         F.lit(None).cast("string").alias("text"),
                         F.lit(None).cast("string").alias("lang")))
         .select("url", "status", "envelope", "main_text").collect()}
    assert a == b


def test_bitrot_gzip_degrades_to_error_row(spark):
    """zlib.error from a flipped byte in the deflate stream must surface
    as ValueError (→ error row), not escape the batch kernel."""
    blob = bytearray(W.write_warc(RECS))
    blob[len(blob) // 2] ^= 0xFF  # corrupt mid-stream
    with pytest.raises(ValueError, match="gzip"):
        list(W.iter_warc_records(bytes(blob)))
    df = spark.createDataFrame([(0, bytes(blob))],
                               "blob_id long, warc binary")
    rows = W.pages_from_warc_blobs(df).collect()
    assert any(r.http_status == -1 for r in rows)  # job did not fail
