"""Multimodal media table: image/audio/video as opaque ``binary`` columns
with typed metadata (SURVEY-adjacent training-data op; no counterpart in the
reference, which is text/HTML-only).

The sandbox has no image/audio codecs, so payloads are *deterministic fakes*
derived from ``documents.doc_id`` (md5-hex bytes — reproducible in ANSI SQL,
which is what lets the driver's DuckDB oracle check the Spark plumbing
end-to-end). The schema, partitioning, and batch shape are exactly what a
real WARC-media table would use: the decode kernel in
``functions/mediaops.py`` swaps to PIL/ffmpeg behind an import guard without
touching the plan.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType, LongType, StringType, StructField, StructType,
)

from .._worker import prepare_worker

__all__ = ["MEDIA_KINDS", "media_from_documents", "media_payloads",
           "media_meta_payloads", "PAYLOADS_SCHEMA"]

MEDIA_KINDS = ["image", "audio", "video"]


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Derive the media table: one row per document.

    payload  = utf-8 bytes of md5(doc_id) repeated (1 + doc_id % 4) times
    kind     = round-robin image/audio/video on doc_id % 3
    meta     = typed struct (format, width, height, duration_ms) — the
               "typed metadata" carried alongside the opaque bytes
    """
    did = F.col("doc_id")
    hex_ = F.md5(F.encode(did.cast("string"), "utf-8"))
    payload = F.encode(F.repeat(hex_, (did % 4 + 1).cast("int")), "utf-8")
    kind = (
        F.when(did % 3 == 0, F.lit("image"))
        .when(did % 3 == 1, F.lit("audio"))
        .otherwise(F.lit("video"))
    )
    meta = F.struct(
        F.when(kind == "image", F.lit("png"))
        .when(kind == "audio", F.lit("wav"))
        .otherwise(F.lit("mp4")).alias("format"),
        (16 * (did % 64 + 1)).cast("int").alias("width"),
        (16 * (did % 48 + 1)).cast("int").alias("height"),
        (250 * (did % 240 + 1)).cast("int").alias("duration_ms"),
    )
    return docs.select(
        did.alias("media_id"),
        kind.alias("kind"),
        payload.alias("payload"),
        meta.alias("meta"),
    )


PAYLOADS_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("fmt", StringType()),
    StructField("payload", BinaryType()),
])


def _payloads_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    prepare_worker()
    from html_parser_spark.functions.mediaops import (
        encode_bmp, encode_gif, encode_jpeg, encode_jpeg_progressive,
        encode_png, encode_wav)
    for b in batches:
        ids, fmts, payloads = [], [], []
        for did in b["doc_id"].tolist():
            did = int(did)
            ids.append(did)
            if did % 4 == 3:
                a = did % 1000
                fmts.append("wav")
                payloads.append(encode_wav([a] * 160, sample_rate=16000))
                continue
            w = 8 * (did % 8 + 1)
            h = 8 * (did % 6 + 1)
            color = (did % 256, (did * 7) % 256, (did * 13) % 256)
            pixels = [[color] * w for _ in range(h)]
            # (did % 8) // 2 rotates all four image codecs across the
            # image rows (did % 4 == 3 is audio, so did % 3 would skip
            # a residue class).
            f = (did % 8) // 2
            if f == 0:
                fmts.append("bmp")
                payloads.append(encode_bmp(pixels))
            elif f == 1:
                fmts.append("png")
                payloads.append(encode_png(pixels))
            elif f == 2:
                fmts.append("jpeg")
                # quality 95 keeps the DC quantization step at 2, so a
                # solid block's round-trip error is < 0.5 and the decoded
                # color is bit-exact (test_codecs.py pins the property).
                # Half the JPEG rows (did % 8 == 5) are PROGRESSIVE
                # (SOF2) — real crawls are majority-progressive, and the
                # two encoders share quantized coefficients so the
                # oracle's closed-form stats are unchanged.
                if did % 8 == 5:
                    payloads.append(
                        encode_jpeg_progressive(pixels, quality=95))
                else:
                    payloads.append(encode_jpeg(pixels, quality=95))
            else:
                fmts.append("gif")
                payloads.append(encode_gif(pixels))
        yield pd.DataFrame({"media_id": ids, "fmt": fmts,
                            "payload": payloads})


def _meta_payloads_batch(batches: Iterator[pd.DataFrame]
                         ) -> Iterator[pd.DataFrame]:
    prepare_worker()
    from html_parser_spark.functions.mediaops import (
        _MP3_BITRATES, encode_mp3, encode_mp4, encode_wav)
    for b in batches:
        ids, fmts, payloads = [], [], []
        for did in b["doc_id"].tolist():
            did = int(did)
            ids.append(did)
            r = did % 3
            if r == 0:
                fmts.append("mp3")
                payloads.append(encode_mp3(
                    n_frames=1 + did % 8,
                    bitrate_kbps=_MP3_BITRATES[1 + did % 14],
                    sample_rate=44100,
                    # Half the MP3 rows carry an ID3v2 tag the header
                    # walk must skip; the tag size varies but never
                    # reaches the oracle (metadata is tag-independent).
                    id3_size=(did % 100 + 10) if did % 2 == 0 else 0))
            elif r == 1:
                fmts.append("mp4")
                payloads.append(encode_mp4(
                    width=16 * (did % 64 + 1),
                    height=16 * (did % 48 + 1),
                    duration_ms=250 * (did % 240 + 1)))
            else:
                fmts.append("wav")
                payloads.append(encode_wav([did % 1000] * 160,
                                           sample_rate=16000))
        yield pd.DataFrame({"media_id": ids, "fmt": fmts,
                            "payload": payloads})


def media_meta_payloads(docs: DataFrame) -> DataFrame:
    """Audio/video-container media table for the header-only metadata
    tier: real MPEG-1 Layer III CBR framing (optionally ID3v2-tagged),
    minimal valid ISO-BMFF (ftyp+moov+mdat), and PCM WAV — every header
    field a closed form of ``doc_id`` so the DuckDB oracle recomputes
    duration/bitrate/dims/sample-rate that a correct header walk must
    yield. Map-only, same shape as :func:`media_payloads`."""
    return docs.select("doc_id").mapInPandas(
        _meta_payloads_batch, PAYLOADS_SCHEMA)


def media_payloads(docs: DataFrame) -> DataFrame:
    """Real-codec media table: one row per document, payload = actual
    BMP / PNG / baseline-JPEG / GIF / PCM-WAV bytes whose CONTENT is a closed
    form of ``doc_id`` (solid color at 8*(id%8+1) x 8*(id%6+1); constant
    amplitude id%1000 over 160 frames at 16 kHz) — so a SQL oracle can
    recompute everything a real decode of the payload must yield. This is
    the honest upgrade of :func:`media_from_documents`'s md5 fakes: the
    bytes now must survive an actual codec, not just a checksum.

    Map-only (Arrow-batched mapInPandas over the pruned doc_id column);
    at 100 TB the generator is replaced by a WARC/object-store scan and
    the decode side (functions/mediaops.decode_media_features) is
    unchanged.
    """
    return docs.select("doc_id").mapInPandas(
        _payloads_batch, PAYLOADS_SCHEMA)
