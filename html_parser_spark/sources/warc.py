"""WARC (ISO 28500) source: the Common-Crawl-native container upstream of
the pages table.

The north-star input is "an Iceberg table of Common-Crawl-style pages";
this module supplies the step BEFORE that table exists — reading crawler
output. Two halves, both pure stdlib:

- ``write_warc_record`` / ``write_warc``: WARC/1.0 ``response`` records
  wrapping an HTTP/1.1 response, **one gzip member per record** — the
  Common Crawl convention that makes a ``.warc.gz`` splittable at member
  boundaries, which is exactly what lets Spark assign record ranges to
  tasks without decompressing the whole file.
- ``iter_warc_records``: parses per-member-gzip OR plain concatenated
  records; WARC header block, ``Content-Length``-bounded HTTP block,
  header/body split. Malformed records raise ``ValueError`` (the batch
  kernel degrades them to error rows, never a failed job).

Spark integration is the usual shape: payload bytes ride Arrow batches
and never enter an Exchange. The parse is a ``mapInArrow`` row kernel
(``_worker.row_kernel``); the write side packs a whole batch into one blob,
so it keeps its own ``mapInPandas`` batch loop. At 100 TB the blob
source becomes ``spark.read.format("binaryFile")`` over the crawl bucket
(or a custom datasource that seeks gzip members); the parse kernel is
unchanged.

Reference scope note: the reference engine starts at saved HTML files
(its S3-S5 live-fetch is out of scope per the north rule); WARC ingest is
the crawl-native equivalent of "load the saved page bytes".
"""

from __future__ import annotations

import gzip
import hashlib
import io
import zlib
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType, IntegerType, LongType, StringType, StructField, StructType,
)

from .._worker import prepare_worker, row_kernel

__all__ = ["write_warc_record", "write_warc", "iter_warc_records",
           "pages_from_warc_blobs", "warc_blobs_from_pages",
    "WARC_PAGES_SCHEMA"]

_CRLF = b"\r\n"


def write_warc_record(url: str, body: bytes,
                      date: str = "2026-01-01T00:00:00Z",
                      status: int = 200,
                      content_type: str = "text/html; charset=utf-8",
                      gzip_member: bool = True) -> bytes:
    """One WARC/1.0 ``response`` record wrapping an HTTP/1.1 response.
    Record-ID is a deterministic urn:uuid derived from (url, date) — no
    randomness, so round-trip tests and the DuckDB oracle stay
    closed-form."""
    http = (f"HTTP/1.1 {status} OK\r\n"
            f"Content-Type: {content_type}\r\n"
            f"Content-Length: {len(body)}\r\n\r\n").encode() + body
    rid = hashlib.md5(f"{url}\x00{date}".encode()).hexdigest()
    rid = (f"{rid[:8]}-{rid[8:12]}-{rid[12:16]}-{rid[16:20]}-{rid[20:32]}")
    hdr = (b"WARC/1.0\r\n"
           b"WARC-Type: response\r\n"
           + f"WARC-Record-ID: <urn:uuid:{rid}>\r\n".encode()
           + f"WARC-Date: {date}\r\n".encode()
           + f"WARC-Target-URI: {url}\r\n".encode()
           + b"Content-Type: application/http; msgtype=response\r\n"
           + f"Content-Length: {len(http)}\r\n".encode()
           + _CRLF)
    rec = hdr + http + _CRLF + _CRLF
    if not gzip_member:
        return rec
    # mtime=0 → deterministic bytes (gzip stamps current time otherwise).
    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
        gz.write(rec)
    return buf.getvalue()


def write_warc(records: list[tuple[str, bytes]],
               gzip_members: bool = True) -> bytes:
    """Concatenate records into one .warc(.gz) blob — per-record gzip
    members when compressed (the splittable Common Crawl layout)."""
    return b"".join(write_warc_record(u, b, gzip_member=gzip_members)
                    for u, b in records)


def _split_gzip_members(raw: bytes) -> Iterator[bytes]:
    """Decompress a multi-member gzip stream member by member (zlib
    keeps ``unused_data`` = the next member's bytes)."""
    rest = raw
    while rest:
        d = zlib.decompressobj(wbits=31)
        try:
            out = d.decompress(rest)
        except zlib.error as e:
            # zlib.error is NOT a ValueError — normalize so the batch
            # kernel's never-fail contract holds for bit-rotted blobs
            raise ValueError(f"corrupt gzip member in WARC stream: {e}")
        if not d.eof:
            raise ValueError("truncated gzip member in WARC stream")
        yield out + d.flush()
        rest = d.unused_data


def iter_warc_records(raw: bytes) -> Iterator[dict]:
    """Yield one dict per WARC ``response`` record:
    (url, warc_date, record_id, http_status, content_type, body).
    Non-response records (warcinfo, request, metadata) are skipped, as a
    crawl reader must."""
    raw = bytes(raw)
    if raw[:2] == b"\x1f\x8b":
        chunks: Iterator[bytes] = _split_gzip_members(raw)
    else:
        chunks = iter([raw])
    for chunk in chunks:
        pos = 0
        while pos < len(chunk):
            # tolerate inter-record padding
            while pos < len(chunk) and chunk[pos:pos + 1] in (b"\r", b"\n"):
                pos += 1
            if pos >= len(chunk):
                break
            if chunk[pos:pos + 5] != b"WARC/":
                raise ValueError(
                    f"WARC version line expected at offset {pos}")
            hdr_end = chunk.find(b"\r\n\r\n", pos)
            if hdr_end < 0:
                raise ValueError("unterminated WARC header block")
            headers: dict[str, str] = {}
            for line in chunk[pos:hdr_end].split(b"\r\n")[1:]:
                k, _, v = line.partition(b":")
                headers[k.strip().lower().decode()] = v.strip().decode()
            try:
                clen = int(headers["content-length"])
            except (KeyError, ValueError):
                raise ValueError("WARC record missing Content-Length")
            if clen < 0:
                raise ValueError(f"negative WARC Content-Length {clen}")
            content = chunk[hdr_end + 4:hdr_end + 4 + clen]
            if len(content) < clen:
                raise ValueError("truncated WARC record content")
            pos = hdr_end + 4 + clen
            if headers.get("warc-type") != "response":
                continue
            http_end = content.find(b"\r\n\r\n")
            if http_end < 0:
                raise ValueError("WARC response without HTTP header block")
            http_lines = content[:http_end].split(b"\r\n")
            # A status code is three digits (RFC 9110 §15); anything else
            # would also not fit the int http_status column.
            code = http_lines[0].split()[1:2]
            if not (code and len(code[0]) == 3 and code[0].isdigit()):
                raise ValueError("malformed HTTP status line in WARC")
            status = int(code[0])
            ctype = ""
            for line in http_lines[1:]:
                k, _, v = line.partition(b":")
                if k.strip().lower() == b"content-type":
                    ctype = v.strip().decode()
            yield {
                "url": headers.get("warc-target-uri", ""),
                "warc_date": headers.get("warc-date", ""),
                "record_id": headers.get("warc-record-id", ""),
                "http_status": status,
                "content_type": ctype,
                "body": content[http_end + 4:],
            }


WARC_PAGES_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_date", StringType()),
    StructField("http_status", IntegerType()),
    StructField("content_type", StringType()),
    StructField("html", BinaryType()),
])

_BLOB_SCHEMA = StructType([
    StructField("blob_id", LongType()),
    StructField("warc", BinaryType()),
])


def warc_blobs_from_pages(pages: DataFrame) -> DataFrame:
    """Pack each Arrow batch of pages into ONE .warc.gz blob (per-record
    gzip members) — the write side of the round-trip. Map-only; the
    blob_id is the batch's first url hash so output is deterministic per
    partitioning."""
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prepare_worker()
        for b in batches:
            if b.empty:
                continue
            recs = [(u, bytes(h) if h is not None else b"")
                    for u, h in zip(b["url"], b["html"])]
            bid = int(hashlib.md5(recs[0][0].encode()).hexdigest()[:15],
                      16)
            yield pd.DataFrame({"blob_id": [bid],
                                "warc": [write_warc(recs)]})

    return pages.select("url", "html").mapInPandas(fn, _BLOB_SCHEMA)


def _blob_pages(blob) -> Iterator[tuple]:
    """One blob's page rows. A malformed blob keeps the rows read before
    the bad record and ends with one error row; a NULL blob is one error
    row."""
    try:
        if blob is None:
            raise ValueError("NULL WARC blob")
        for rec in iter_warc_records(blob):
            yield (rec["url"], rec["warc_date"], rec["http_status"],
                   rec["content_type"], rec["body"])
    except ValueError:
        yield ("", "", -1, "", None)


def pages_from_warc_blobs(blobs: DataFrame,
                          blob_col: str = "warc") -> DataFrame:
    """WARC blobs → page rows (url, warc_date, http_status, content_type,
    html). Map-only Arrow-batched parse. A blob that turns out to be
    malformed keeps the page rows of the records read before the bad one
    and adds one error row (url='', http_status=-1, html NULL) instead of
    failing the job — same never-fail contract as the extract kernel. A
    NULL blob is one error row."""
    return blobs.select(blob_col).mapInArrow(
        row_kernel(_blob_pages, WARC_PAGES_SCHEMA), WARC_PAGES_SCHEMA)
