"""The Spark extraction job (SURVEY.md §3.1 Spark lifecycle).

Dataflow::

    pages (url, warc_ts, html, text, lang)
      → column pruning (url, warc_ts, html, lang)       [Catalyst]
      → repartition on pmod(xxhash64(url), P)           [the ONE shuffle;
         host-salted variant for skewed hosts]
      → mapInArrow(extract_batch_arrow)                 [Arrow-batched UDF:
         tokenizer → carrier dispatch → rules → envelope; TEXT-SPEC text;
         BOILER-SPEC main_text; PDF branch]
      → extracted table + metrics side table            [snapshot manifest,
                                                         idempotent resume]

Scale notes: per-row Python objects never escape the UDF; batches are capped
by ``spark.sql.execution.arrow.maxRecordsPerBatch`` (pages are 0.4–1.8 MB —
we set 256 rows/batch by default so a batch stays ≲0.5 GB); errors never fail
the job (per-row status, error rows land in metrics — SURVEY.md §2.8).

Python worker per-task cost: PySpark reuses a Python worker across tasks
but charges each one a fixed set-up — ``importlib.invalidate_caches()``
before it, which on Python < 3.12 makes each of ~16 zip importers (over
``pyspark.zip``, py4j and the spark-core jar) re-read its archive's
central directory, and the daemon's ``gc.collect()`` after it, which
walks the ~74k-object import-time heap.
That was ~0.23 CPU-s per task on a 4-CPU x86 VM (an identity
``mapInArrow`` over 4 rows in 4 partitions). Every kernel therefore calls
``_worker.prepare_worker()`` first: a stat-guarded ``invalidate_caches``
(a no-op on Python ≥ 3.12, which re-reads lazily) plus one
``gc.collect(); gc.freeze()``. A reused worker's later tasks now cost
~0.017 CPU-s. perfbench ``rel_docs_per_cpu_s``, before → after (medians
of seeds 1-3, same window): warc_links 0.213 → 0.372 (16 Python tasks
per pass), product_pages 0.355 → 0.481, crawl_extract 0.451 → 0.538.
"""

from __future__ import annotations

import json
import os
import time
from typing import Iterable, Iterator, Optional

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BinaryType, DoubleType, IntegerType, LongType, StringType, StructField,
    StructType, TimestampType,
)

from .._worker import prepare_worker

__all__ = [
    "PAGES_SCHEMA", "EXTRACT_SCHEMA", "synthesize_pages", "extract_pages",
    "metrics_from_extracted", "write_snapshot", "resume_remaining",
    "build_session",
]

PAGES_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("html", BinaryType()),
    StructField("text", StringType()),
    StructField("lang", StringType()),
])

EXTRACT_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("lang", StringType()),
    StructField("profile", StringType()),
    StructField("status", StringType()),
    StructField("envelope", StringType()),
    StructField("name", StringType()),
    StructField("brand", StringType()),
    StructField("price", DoubleType()),
    StructField("rating", DoubleType()),
    StructField("text", StringType()),
    StructField("main_text", StringType()),
    StructField("n_nodes", IntegerType()),
    StructField("error", StringType()),
    # Wall time inside _extract_one, microseconds — feeds the per-profile
    # cost column in metrics_from_extracted so a throughput regression can
    # be attributed to the profile that bought it (VERDICT r2 task 2).
    StructField("elapsed_us", LongType()),
])


def build_session(app: str = "html-parser-spark", cores: Optional[int] = None,
                  shuffle_partitions: Optional[int] = None) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    b = (
        SparkSession.builder.master(f"local[{cores}]").appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.files.maxPartitionBytes", "128m")
    )
    return b.getOrCreate()


# -- synthetic corpus (distributed generation — never on the driver) --------

def synthesize_pages(spark: SparkSession, n: int,
                     partitions: Optional[int] = None,
                     filler: int = 0) -> DataFrame:
    """Deterministic pages table of n rows, generated inside executors."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prepare_worker()
        from ..sources import synth
        for b in batches:
            recs = [synth.page_record(int(i), filler=filler) for i in b["id"]]
            yield pd.DataFrame({
                "url": [r["url"] for r in recs],
                "warc_ts": [r["warc_ts"] for r in recs],
                "html": [r["html"] for r in recs],
                "text": [r["text"] for r in recs],
                "lang": [r["lang"] for r in recs],
            })

    parts = partitions or max(spark.sparkContext.defaultParallelism, 8)
    return spark.range(0, n, numPartitions=parts).mapInPandas(gen, PAGES_SCHEMA)


# -- the extraction operator -------------------------------------------------

def _extract_one(url: str, html_bytes: Optional[bytes]) -> dict:
    t0 = time.perf_counter()
    out = _extract_one_inner(url, html_bytes)
    out["elapsed_us"] = int((time.perf_counter() - t0) * 1e6)
    return out


def _extract_one_inner(url: str, html_bytes: Optional[bytes]) -> dict:
    from ..extract import boilerplate, pdfkit
    from ..extract.carriers import collect_scripts
    from ..htmlkit.tokenizer import tokenize
    from ..rules.profiles import extract_page

    out = {
        "profile": None, "status": "ok", "envelope": None, "name": None,
        "brand": None, "price": None, "rating": None, "text": None,
        "main_text": None, "n_nodes": 0, "error": None,
    }
    if html_bytes is None:
        out["status"] = "error"
        out["error"] = "null html"
        return out
    if pdfkit.is_pdf(bytes(html_bytes)):
        try:
            out["profile"] = "pdf"
            out["text"] = pdfkit.extract_pdf_text(bytes(html_bytes))
            out["main_text"] = out["text"]
        except Exception as e:  # never fail the job
            out["status"] = "error"
            out["error"] = f"pdf: {e}"
        return out
    try:
        # WHATWG sniff (BOM > meta charset > UTF-8 probe > cp1252): real
        # crawls are not all UTF-8, and errors="replace" on a legacy page
        # would break the byte-identical extracted-text contract.
        from ..htmlkit.charset import sniff_decode
        html, _enc = sniff_decode(bytes(html_bytes))
        dom = tokenize(html)
        out["n_nodes"] = len(dom)
        # One traversal for both outputs (equivalent to extract_text +
        # main_text; see boilerplate.text_and_scored).
        out["text"], scored = boilerplate.text_and_scored(dom)
        out["main_text"] = boilerplate.select_content(scored)
        scripts = collect_scripts(dom)
        profile, env = extract_page(dom, scripts, url)
        out["profile"] = profile
        if env is None:
            out["status"] = "no_rule"
        else:
            degraded = env.pop("_degraded", None)
            if degraded:
                out["status"] = "degraded"
                out["error"] = degraded
            out["envelope"] = json.dumps(env, ensure_ascii=False, default=str)
            detail = env.get("detail") or {}
            out["name"] = detail.get("name")
            out["brand"] = detail.get("brand")
            p = detail.get("price")
            out["price"] = float(p) if p is not None else None
            r = detail.get("rating")
            out["rating"] = float(r) if r is not None else None
    except Exception as e:
        out["status"] = "error"
        out["error"] = str(e)[:500]
    return out


# Output columns the Arrow kernel assembles, beyond the 3 pass-throughs.
_STR_FIELDS = ("profile", "status", "envelope", "name", "brand")
_TAIL_STR_FIELDS = ("text", "main_text")


def extract_batch_arrow(batches: "Iterator[pa.RecordBatch]"):
    """mapInArrow kernel — the production path.

    Builds output columns directly as Arrow arrays from Python lists,
    never through pandas: object-dtype round-trips (arrow→object
    Series→arrow) on ~25 KB string columns made a ``mapInPandas`` version
    of this kernel ~2× slower end-to-end. The pass-through columns (url,
    warc_ts, lang) are never materialized into Python at all except url.
    """
    prepare_worker()
    import pyarrow as pa

    for b in batches:
        urls = b.column("url").to_pylist()
        htmls = b.column("html").to_pylist()
        recs = [_extract_one(u, h) for u, h in zip(urls, htmls)]
        arrays = [
            pa.array(urls, pa.string()),
            b.column("warc_ts").cast(pa.timestamp("us")),
            b.column("lang").cast(pa.string()),
        ]
        names = ["url", "warc_ts", "lang"]
        for f in _STR_FIELDS:
            arrays.append(pa.array([r[f] for r in recs], pa.string()))
            names.append(f)
        for f in ("price", "rating"):
            arrays.append(pa.array([r[f] for r in recs], pa.float64()))
            names.append(f)
        for f in _TAIL_STR_FIELDS:
            arrays.append(pa.array([r[f] for r in recs], pa.string()))
            names.append(f)
        arrays.append(pa.array([r["n_nodes"] for r in recs], pa.int32()))
        names.append("n_nodes")
        arrays.append(pa.array([r["error"] for r in recs], pa.string()))
        names.append("error")
        arrays.append(pa.array([r["elapsed_us"] for r in recs], pa.int64()))
        names.append("elapsed_us")
        yield pa.RecordBatch.from_arrays(arrays, names)


def extract_pages(pages: DataFrame, partitions: Optional[int] = None,
                  salt: int = 16, repartition: bool = False,
                  host_salted: bool = False) -> DataFrame:
    """Prune → (optional url-hash/host-salt repartition) → mapInArrow.

    **Map-only by default.** Extraction is embarrassingly parallel, so the
    scale-correct plan has NO shuffle: at 100 TB a repartition would move
    every page byte across the cluster for zero semantic gain — scan splits
    (``spark.sql.files.maxPartitionBytes``) already spread the corpus evenly
    and Parquet gives locality for free. Python workers then bound
    throughput, which is exactly where the money should go.

    ``repartition=True`` opts back into the pre-UDF shuffle for *skewed*
    inputs (a few giant files, or an upstream `coalesce`): keyed on
    pmod(xxhash64(url), P), or with ``host_salted`` on
    (host, pmod(xxhash64(url), salt)) — the north_rule treatment when one
    hot host dominates the crawl and downstream consumers group by host.
    """
    spark = pages.sparkSession
    parts = partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    pruned = pages.select("url", "warc_ts", "html", "lang")  # column pruning
    if repartition or host_salted:
        if host_salted:
            key = F.concat_ws(
                "#",
                F.parse_url(F.col("url"), F.lit("HOST")),
                F.pmod(F.xxhash64("url"), F.lit(salt)).cast("string"),
            )
        else:
            key = F.pmod(F.xxhash64("url"), F.lit(parts))
        pruned = pruned.repartition(parts, key)
    return pruned.mapInArrow(extract_batch_arrow, EXTRACT_SCHEMA)


# -- metrics + lineage side table (north_rule) -------------------------------

def metrics_from_extracted(extracted: DataFrame) -> DataFrame:
    """Per (profile, status) extraction metrics — the side table the
    reference lacks (its failures are silent; SURVEY.md §2.8)."""
    return (
        extracted
        .groupBy("profile", "status")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("text")).alias("text_chars"),
            F.sum("n_nodes").alias("nodes"),
            # Per-profile extraction cost: where the wall time actually
            # goes, so a docs/s regression is attributable per profile.
            F.sum("elapsed_us").alias("wall_us"),
            (F.sum("elapsed_us") / F.count("*")).alias("us_per_doc"),
            F.min("warc_ts").alias("min_ts"),
            F.max("warc_ts").alias("max_ts"),
        )
    )


# -- snapshot / resume (Iceberg-parity without Iceberg jars) -----------------

def _snapshot_dir(table_dir: str) -> str:
    return os.path.join(table_dir, "_snapshots")


def committed_snapshots(table_dir: str) -> list[dict]:
    sdir = _snapshot_dir(table_dir)
    if not os.path.isdir(sdir):
        return []
    out = []
    for name in sorted(os.listdir(sdir)):
        if name.endswith(".json"):
            with open(os.path.join(sdir, name)) as f:
                out.append(json.load(f))
    return out


def write_snapshot(extracted: DataFrame, table_dir: str,
                   run_id: str) -> dict:
    """Append extracted rows + commit a snapshot manifest atomically.

    Parquet data lands under ``data/run_id=<id>/``; the manifest (row count,
    per-profile lineage, parent snapshot) is written to a temp file and
    ``os.rename``-ed into ``_snapshots/`` — the rename is the commit point,
    so a crash mid-write never exposes a half snapshot (resume then simply
    reprocesses the uncommitted run).
    """
    # Idempotent by run_id: a replayed batch (foreachBatch is
    # at-least-once — crash after the manifest rename but before the
    # streaming checkpoint records the batch) must NOT append a second
    # manifest for the same data dir, or committed_table double-counts.
    for snap in committed_snapshots(table_dir):
        if snap.get("run_id") == run_id:
            return snap
    data_dir = os.path.join(table_dir, "data", f"run_id={run_id}")
    extracted.write.mode("overwrite").parquet(data_dir)
    spark = extracted.sparkSession
    written = spark.read.parquet(data_dir)
    lineage = [r.asDict() for r in
               written.groupBy("profile", "status").count().collect()]
    n = sum(r["count"] for r in lineage)
    # Per-PARTITION lineage (north_rule): every parquet part file that
    # makes up the snapshot, with its row count — the Iceberg-manifest
    # analog that lets an auditor trace any committed row to the task
    # partition that wrote it.
    files = sorted(
        ({"file": r.f[r.f.index("data/run_id="):] if "data/run_id=" in r.f
          else r.f,
          "rows": r["count"]}
         for r in written.groupBy(
             F.input_file_name().alias("f")).count().collect()),
        key=lambda d: d["file"])
    parents = committed_snapshots(table_dir)
    manifest = {
        "snapshot_id": len(parents) + 1,
        "run_id": run_id,
        "parent": parents[-1]["snapshot_id"] if parents else None,
        "rows": n,
        "lineage": lineage,
        "files": files,
        "data_dir": f"data/run_id={run_id}",
    }
    sdir = _snapshot_dir(table_dir)
    os.makedirs(sdir, exist_ok=True)
    tmp = os.path.join(sdir, f".tmp-{run_id}.json")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=2, default=str)
    os.rename(tmp, os.path.join(sdir, f"{manifest['snapshot_id']:06d}.json"))
    return manifest


def committed_table(spark: SparkSession, table_dir: str) -> Optional[DataFrame]:
    snaps = committed_snapshots(table_dir)
    if not snaps:
        return None
    dirs = [os.path.join(table_dir, s["data_dir"]) for s in snaps]
    # mergeSchema: snapshots written by older engine versions may lack
    # later-added columns (e.g. elapsed_us); without the merge, Spark takes
    # the schema from one sampled footer and a resumed job's metrics pass
    # crashes on the missing column for old snapshots (schema evolution is
    # the Iceberg-parity behavior here).
    return spark.read.option("mergeSchema", "true").parquet(*dirs)


def resume_remaining(pages: DataFrame, table_dir: str) -> DataFrame:
    """Anti-join pages vs already-committed urls (idempotent resume)."""
    done = committed_table(pages.sparkSession, table_dir)
    if done is None:
        return pages
    return pages.join(done.select("url"), on="url", how="left_anti")
