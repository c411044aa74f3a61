"""Structured Streaming tests: AvailableNow drain of a pages directory with
checkpointed restart (no reprocessing), watermarked windowed aggregation,
and the applyInPandasWithState sessionizer."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from html_parser_spark.job import pipeline as P
from html_parser_spark.streaming import stream as ST


def _write_pages(spark, path: str, n: int, start: int = 0) -> None:
    from html_parser_spark.sources import synth

    rows = [synth.page_record(i) for i in range(start, start + n)]
    spark.createDataFrame(
        [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"])
         for r in rows], schema=P.PAGES_SCHEMA,
    ).coalesce(2).write.mode("append").parquet(path)


def test_stream_extract_available_now_and_restart(spark, tmp_path):
    pages_dir = str(tmp_path / "pages")
    table_dir = str(tmp_path / "extracted")
    ckpt = str(tmp_path / "ckpt")

    _write_pages(spark, pages_dir, 40)
    q = ST.stream_extract(spark, pages_dir, table_dir, ckpt)
    q.awaitTermination(120)
    got = P.committed_table(spark, table_dir)
    assert got.count() == 40
    snaps1 = P.committed_snapshots(table_dir)
    assert snaps1 and sum(s["rows"] for s in snaps1) == 40

    # Restart with 20 NEW pages: checkpoint must skip the original files.
    _write_pages(spark, pages_dir, 20, start=40)
    q2 = ST.stream_extract(spark, pages_dir, table_dir, ckpt)
    q2.awaitTermination(120)
    got2 = P.committed_table(spark, table_dir)
    assert got2.count() == 60
    assert got2.select("url").distinct().count() == 60  # no dupes


def test_windowed_event_counts_batch_twin(spark):
    rows = [("2024-01-01 10:05:00", "click", 1.0),
            ("2024-01-01 10:55:00", "click", 2.0),
            ("2024-01-01 11:05:00", "click", 4.0),
            ("2024-01-01 10:30:00", "view", 8.0)]
    ev = (spark.createDataFrame(rows, ["ts", "event_type", "value"])
          .select(F.col("ts").cast("timestamp").alias("ts"),
                  "event_type", "value"))
    got = {(str(r.window_start), r.event_type): (r.n_events, r.sum_value)
           for r in ST.windowed_event_counts(ev).collect()}
    assert got[("2024-01-01 10:00:00", "click")] == (2, 3.0)
    assert got[("2024-01-01 11:00:00", "click")] == (1, 4.0)
    assert got[("2024-01-01 10:00:00", "view")] == (1, 8.0)


def test_sessionize_stateful_stream(spark, tmp_path):
    # Two users; user 1 has a >30min gap → 2 sessions, user 2 → 1 session.
    rows = [
        (1, "2024-01-01 10:00:00", 1.0),
        (1, "2024-01-01 10:10:00", 2.0),
        (1, "2024-01-01 11:00:01", 4.0),   # gap > 30 min → new session
        (2, "2024-01-01 09:00:00", 8.0),
        (2, "2024-01-01 09:20:00", 16.0),
    ]
    src = str(tmp_path / "events")
    (spark.createDataFrame(rows, ["user_id", "ts", "value"])
     .select("user_id", F.col("ts").cast("timestamp").alias("ts"), "value")
     .coalesce(1).write.parquet(src))

    stream = (spark.readStream
              .schema("user_id long, ts timestamp, value double")
              .parquet(src))
    sessions = ST.sessionize(stream)
    sink = []
    q = (sessions.writeStream
         .foreachBatch(lambda df, _id: sink.extend(df.collect()))
         .option("checkpointLocation", str(tmp_path / "ckpt2"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination(120)

    # Only CLOSED sessions are emitted: user 1's first session closed when
    # the 11:00 event arrived; the open tails stay in state.
    closed = {(r.user_id, str(r.session_start), r.n_events, r.total_value)
              for r in sink}
    assert (1, "2024-01-01 10:00:00", 2, 3.0) in closed
    assert not any(u == 2 for (u, *_rest) in closed)


class _FakeState:
    """Minimal GroupState stand-in for driving _session_fn directly."""

    def __init__(self, tup=None):
        self._tup = tup
        self.hasTimedOut = False

    @property
    def exists(self):
        return self._tup is not None

    @property
    def get(self):
        return self._tup

    def update(self, tup):
        self._tup = tup

    def remove(self):
        self._tup = None

    def setTimeoutDuration(self, ms):
        pass


def test_session_fn_late_event_does_not_regress_bounds():
    """A late cross-batch event must not move last_us backwards: the next
    on-time event would otherwise see a bogus >gap delta and split the
    session with session_end before events it contains."""
    import pandas as pd
    from html_parser_spark.streaming.stream import _session_fn

    base = pd.Timestamp("2025-01-01 10:00:00")
    state = _FakeState()
    # Batch 1: one event at 10:00 → open session in state.
    pdf1 = pd.DataFrame({"ts": [base], "value": [1.0]})
    list(_session_fn(("u1",), [pdf1], state))
    assert state.exists
    # Batch 2: late 09:50 event, then 10:20 (gap vs 10:00 is 20 min < 30).
    pdf2 = pd.DataFrame({
        "ts": [base - pd.Timedelta("10min"), base + pd.Timedelta("20min")],
        "value": [1.0, 1.0]})
    out = list(_session_fn(("u1",), [pdf2], state))
    assert out == []          # no split: still one open session
    start_us, last_us, n, val = state.get
    assert n == 3
    assert pd.Timestamp(start_us, unit="us") == base - pd.Timedelta("10min")
    assert pd.Timestamp(last_us, unit="us") == base + pd.Timedelta("20min")


def test_write_snapshot_idempotent_per_run_id(spark, tmp_path):
    """Replayed foreachBatch commit (same run_id) must not append a second
    manifest for the same data dir."""
    from html_parser_spark.job import pipeline as P

    df = spark.range(0, 10).selectExpr(
        "cast(id as string) AS url", "current_timestamp() AS warc_ts",
        "'en' AS lang", "'ok' AS status", "'p' AS profile",
        "cast(null as string) AS envelope", "'n' AS name", "'b' AS brand",
        "1.0 AS price", "2.0 AS rating", "'t' AS text", "'m' AS main_text",
        "1 AS n_nodes", "cast(null as string) AS error")
    table = str(tmp_path / "tbl")
    m1 = P.write_snapshot(df, table, "stream-000001")
    m2 = P.write_snapshot(df, table, "stream-000001")   # replay
    assert m2["snapshot_id"] == m1["snapshot_id"]
    assert len(P.committed_snapshots(table)) == 1
    assert P.committed_table(spark, table).count() == 10


def test_stream_dedup_keeps_first_per_fingerprint(spark, tmp_path):
    rows = [
        ("u1", "2024-01-01 10:00:00", "same text body"),
        ("u2", "2024-01-01 10:01:00", "Same   text\tbody"),  # ws/case dup
        ("u3", "2024-01-01 10:02:00", "different content entirely"),
        ("u4", "2024-01-01 10:03:00", "same text body"),     # exact dup
    ]
    src = str(tmp_path / "docs")
    (spark.createDataFrame(rows, ["url", "ts", "text"])
     .select("url", F.col("ts").cast("timestamp").alias("warc_ts"), "text")
     .coalesce(1).write.parquet(src))

    stream = (spark.readStream
              .schema("url string, warc_ts timestamp, text string")
              .parquet(src))
    deduped = ST.stream_dedup(stream)
    sink = []
    q = (deduped.writeStream
         .foreachBatch(lambda df, _id: sink.extend(df.collect()))
         .option("checkpointLocation", str(tmp_path / "ckpt_dd"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination(120)

    kept = {r.url for r in sink}
    # one survivor per fingerprint; normalization folds whitespace+case
    assert "u3" in kept
    assert len(kept & {"u1", "u2", "u4"}) == 1
    assert len(kept) == 2


def test_stream_near_dedup_collapses_token_set_clones(spark, tmp_path):
    """SimHash64-keyed streaming near-dedup: token-multiset clones
    (reordered/differently-spaced template text) collapse to one
    representative; distinct content survives."""
    rows = [
        ("u1", "2024-01-01 10:00:00", "alpha beta gamma delta"),
        ("u2", "2024-01-01 10:01:00", "delta  GAMMA beta alpha alpha"),
        ("u3", "2024-01-01 10:02:00", "totally unrelated words here now"),
    ]
    src = str(tmp_path / "docs")
    (spark.createDataFrame(rows, ["url", "ts", "text"])
     .select("url", F.col("ts").cast("timestamp").alias("warc_ts"), "text")
     .coalesce(1).write.parquet(src))
    stream = (spark.readStream
              .schema("url string, warc_ts timestamp, text string")
              .parquet(src))
    sink = []
    q = (ST.stream_near_dedup(stream).writeStream
         .foreachBatch(lambda df, _id: sink.extend(df.collect()))
         .option("checkpointLocation", str(tmp_path / "ckpt_nd"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination(120)
    kept = {r.url for r in sink}
    assert "u3" in kept
    assert len(kept & {"u1", "u2"}) == 1  # same distinct-token set
    assert len(kept) == 2


def test_stream_media_decode_available_now(spark, tmp_path):
    """The media decode kernel composes with Structured Streaming
    unchanged: mapInArrow over a readStream of binary payloads (the
    shape of a continuously-landing WARC media feed), AvailableNow drain,
    same closed-form stats as the batch path — including an error row."""
    from html_parser_spark.functions.mediaops import (
        decode_media_features, encode_png)
    from html_parser_spark.sources.media import media_payloads

    src = str(tmp_path / "media")
    docs = spark.range(0, 24).withColumnRenamed("id", "doc_id")
    batch_tbl = media_payloads(docs)
    corrupt = spark.createDataFrame(
        [(999, "png", bytearray(b"\x89PNG\r\n\x1a\n" + b"\xff" * 30))],
        batch_tbl.schema)
    batch_tbl.unionByName(corrupt).coalesce(1).write.parquet(src)

    stream = (spark.readStream.schema(batch_tbl.schema).parquet(src))
    sink = []
    q = (decode_media_features(stream).writeStream
         .foreachBatch(lambda df, _id: sink.extend(df.collect()))
         .option("checkpointLocation", str(tmp_path / "ckpt_md"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination(120)

    rows = {r.media_id: r for r in sink}
    assert len(rows) == 25
    assert rows[999].status.startswith("error:")
    for did in range(24):
        r = rows[did]
        assert r.status == "ok", r
        if did % 4 == 3:
            assert r.fmt == "wav" and r.peak == did % 1000
        else:
            assert (r.mean_r, r.mean_g, r.mean_b) == \
                (did % 256, (did * 7) % 256, (did * 13) % 256), r


def test_stream_warc_ingest_available_now(spark, tmp_path):
    """Crawl-ingest dataflow: a readStream of landed .warc.gz blobs →
    WARC/HTTP parse → extraction, all map-only, AvailableNow drain. This
    is the S5-shaped union feed (crawler output continuously appended)
    with html bytes byte-identical through the container — the batch
    pin, streaming edition."""
    from html_parser_spark.job import pipeline as P
    from html_parser_spark.sources import warc as W

    src = str(tmp_path / "warc_blobs")
    pages = P.synthesize_pages(spark, 16)
    expected = {r.url: bytes(r.html) for r in pages.collect()}
    blobs = W.warc_blobs_from_pages(pages)
    corrupt = spark.createDataFrame([(7, b"\x00not a warc")], blobs.schema)
    blobs.unionByName(corrupt).write.parquet(src)

    stream = spark.readStream.schema(blobs.schema).parquet(src)
    sink = []
    q = (W.pages_from_warc_blobs(stream).writeStream
         .foreachBatch(lambda df, _id: sink.extend(df.collect()))
         .option("checkpointLocation", str(tmp_path / "ckpt_warc"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination(120)

    good = {r.url: bytes(r.html) for r in sink if r.http_status == 200}
    assert good == expected
    assert sum(1 for r in sink if r.http_status == -1) == 1  # error row
