"""Structured Streaming surface.

The reference is pure batch (SURVEY.md §2.8), and the north_rule's
"resumable from checkpoint" is satisfied by the snapshot-diff batch resume in
``job/pipeline.py``. This module adds the *streaming* deployment mode a
continuously-crawling pages table needs:

- :func:`stream_extract` — file-source stream over the pages directory →
  the same mapInArrow extraction kernel (stateless transforms compose with
  streams unchanged) → ``foreachBatch`` snapshot commits with a Spark
  checkpoint. ``Trigger.AvailableNow`` drains the backlog then stops, which
  is the Spark-idiomatic "process everything new since the last checkpoint"
  — restart-safe by construction (the checkpoint tracks consumed files;
  a reprocessed uncommitted batch just overwrites its own ``run_id`` dir,
  so commits stay idempotent).
- :func:`windowed_event_counts` — event-time tumbling-window aggregation
  with a watermark for late data.
- :func:`sessionize` — custom stateful operator via
  ``applyInPandasWithState``: per-user session assembly with a gap timeout
  (the canonical "operator Spark lacks" shape).
- :func:`stream_dedup` — streaming exact dedup: md5 fingerprint +
  watermarked ``dropDuplicatesWithinWatermark``, the continuous-ingest twin
  of the batch ``exact_dedup`` query (state = one fingerprint per doc
  within the watermark horizon, sharded on the dedup key).

At crawl scale: the file stream lists only new files per microbatch (no
rescan of the table), and the extraction stage remains map-only — state
exists solely in the windowed/sessionized operators, keyed so state shards
across executors.
"""

from __future__ import annotations

from typing import Iterable, Tuple

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType, IntegerType, LongType, StructField, StructType,
    TimestampType,
)

from .._worker import prepare_worker
from ..job.pipeline import PAGES_SCHEMA, extract_pages, write_snapshot

__all__ = ["stream_extract", "windowed_event_counts", "sessionize",
           "stream_dedup", "stream_near_dedup", "SESSION_SCHEMA"]


def stream_extract(spark: SparkSession, pages_dir: str, table_dir: str,
                   checkpoint_dir: str, available_now: bool = True):
    """pages parquet dir (readStream) → extract → snapshot-per-microbatch.

    Returns the started ``StreamingQuery``; call ``.awaitTermination()``.
    """
    pages = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", "64")
        .parquet(pages_dir)
    )
    extracted = extract_pages(pages)

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        write_snapshot(batch_df, table_dir, f"stream-{batch_id:06d}")

    writer = (
        extracted.writeStream
        .foreachBatch(commit)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_dedup(docs: DataFrame, watermark: str = "1 hour",
                 ts_col: str = "warc_ts", text_col: str = "text") -> DataFrame:
    """Streaming exact dedup: keep the first doc per content fingerprint.

    The continuous-ingest twin of the batch ``exact_dedup`` query: the same
    md5-of-normalized-text key, deduplicated with
    ``dropDuplicatesWithinWatermark`` so the per-key state is BOUNDED by the
    watermark horizon — at crawl scale the state store holds one 32-byte
    fingerprint per unique doc seen within the horizon, sharded on the
    fingerprint key across executors, instead of growing without limit the
    way a plain ``dropDuplicates`` on a stream would."""
    from ..functions.textops import doc_fingerprint

    return (docs
            .withColumn("fingerprint", doc_fingerprint(text_col))
            .withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(["fingerprint"]))


def stream_near_dedup(docs: DataFrame, watermark: str = "1 hour",
                      ts_col: str = "warc_ts",
                      text_col: str = "text") -> DataFrame:
    """Streaming NEAR-dup suppression: keep the first doc per 64-bit
    SimHash fingerprint within the watermark horizon.

    The continuous-ingest twin of the batch ``simhash_pairs`` family —
    identical-token-set near-duplicates (template pages, boilerplate
    clones) collapse to one representative without any pair join: the
    signature is the dedup KEY, so state is one int64 per distinct
    fingerprint in the horizon, sharded across executors by
    ``dropDuplicatesWithinWatermark``. Radius-based near-dup (hamming ≤ k)
    needs the batch banded join; this operator covers the hamming-0 mass,
    which at crawl scale is the overwhelming bulk of near-dup volume
    (Manku et al.'s exact-fingerprint dedup step).

    Null text coalesces to '' before hashing: simhash64(NULL) is NULL and
    ``dropDuplicatesWithinWatermark`` treats NULL keys as equal, which
    would silently drop all but one fetch-failed row; '' hashes to the
    deterministic all-bits signature (-1), so token-less docs collapse to
    one representative by design rather than by NULL-key accident."""
    from ..functions.dedup import simhash64

    return (docs
            .withColumn("_t", F.coalesce(F.col(text_col), F.lit("")))
            .withColumn("sim64", simhash64("_t"))
            .drop("_t")
            .withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(["sim64"]))


def windowed_event_counts(events: DataFrame, window: str = "1 hour",
                          slide: str | None = None,
                          watermark: str = "2 hours") -> DataFrame:
    """Event-time windowed counts with late-data watermark.

    Works on both a stream (`readStream`) and a static frame (same code —
    the watermark is a no-op in batch), so the oracle can check it in batch
    mode while production runs it streaming.
    """
    w = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(w.alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"),
             F.sum("value").alias("sum_value"))
        .select(F.col("win.start").alias("window_start"),
                "event_type", "n_events",
                F.round("sum_value", 2).alias("sum_value"))
    )


SESSION_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("session_start", TimestampType()),
    StructField("session_end", TimestampType()),
    StructField("n_events", IntegerType()),
    StructField("total_value", DoubleType()),
])

_STATE_SCHEMA = StructType([
    StructField("start_us", LongType()),
    StructField("last_us", LongType()),
    StructField("n", IntegerType()),
    StructField("val", DoubleType()),
])

_GAP_US = 30 * 60 * 1_000_000  # 30-minute session gap


def _session_fn(key: Tuple, pdfs: Iterable[pd.DataFrame],
                state: GroupState) -> Iterable[pd.DataFrame]:
    """applyInPandasWithState kernel: per-user gap sessionization.

    Emits every *closed* session; the open tail stays in state (or is
    flushed on state timeout). Batch-mode tests drive it via
    ``applyInPandasWithState`` on a bounded stream.
    """
    prepare_worker()
    import pandas as pd  # local: runs in the worker

    (user_id,) = key
    if state.hasTimedOut:
        start_us, last_us, n, val = state.get
        state.remove()
        yield pd.DataFrame({
            "user_id": [user_id],
            "session_start": [pd.Timestamp(start_us, unit="us")],
            "session_end": [pd.Timestamp(last_us, unit="us")],
            "n_events": [n], "total_value": [val],
        })
        return

    ts_list: list[int] = []
    val_list: list[float] = []
    for pdf in pdfs:
        ts_list.extend(int(t.value // 1000) for t in pd.to_datetime(pdf["ts"]))
        val_list.extend(float(v) for v in pdf["value"])
    order = sorted(range(len(ts_list)), key=ts_list.__getitem__)

    if state.exists:
        start_us, last_us, n, val = state.get
    else:
        start_us, last_us, n, val = 0, 0, 0, 0.0

    out = {"user_id": [], "session_start": [], "session_end": [],
           "n_events": [], "total_value": []}
    for i in order:
        t, v = ts_list[i], val_list[i]
        if n and t - last_us > _GAP_US:
            out["user_id"].append(user_id)
            out["session_start"].append(pd.Timestamp(start_us, unit="us"))
            out["session_end"].append(pd.Timestamp(last_us, unit="us"))
            out["n_events"].append(n)
            out["total_value"].append(round(val, 6))
            start_us, n, val = t, 0, 0.0
        if not n:
            start_us = t
        else:
            # Late cross-batch event: absorb into the current session
            # without moving its bounds backwards (last_us must stay the
            # session max or a later event computes a bogus gap).
            start_us = min(start_us, t)
        last_us = max(last_us, t) if n else t
        n += 1
        val += v
    state.update((start_us, last_us, n, val))
    state.setTimeoutDuration(60 * 60 * 1000)  # flush open session after 1 h idle
    if out["user_id"]:
        yield pd.DataFrame(out)


def sessionize(events: DataFrame) -> DataFrame:
    """Custom stateful operator: 30-min-gap sessions per user.

    State is keyed by user_id → shards across executors; each microbatch
    shuffles only its own events on the key.
    """
    return (
        events.select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_fn,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )
