"""The Spark extraction job (SURVEY.md §3.1 Spark lifecycle).

Dataflow::

    pages (url, warc_ts, html, text, lang)
      → column pruning (url, warc_ts, html, lang)       [Catalyst]
      → optional repartition on (host, salt)            [skew opt-in; the
         default plan has no shuffle]
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
``_worker.prepare_worker()`` first (the per-row ones through
``_worker.row_kernel``): a stat-guarded ``invalidate_caches``
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
from collections import Counter
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BinaryType, DoubleType, IntegerType, LongType, StringType, StructField,
    StructType, TimestampType,
)

from .._worker import row_kernel

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


def build_session(app: str = "html-parser-spark",
                  cores: Optional[int] = None) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS",
                                        len(os.sched_getaffinity(0))))
    b = (
        SparkSession.builder.master(f"local[{cores}]").appName(app)
        .config("spark.sql.shuffle.partitions", str(cores))
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

    def page(i: int):
        from ..sources import synth
        r = synth.page_record(i, filler=filler)
        return [tuple(r[f] for f in PAGES_SCHEMA.fieldNames())]

    parts = partitions or max(spark.sparkContext.defaultParallelism, 8)
    return spark.range(0, n, numPartitions=parts).mapInArrow(
        row_kernel(page, PAGES_SCHEMA), PAGES_SCHEMA)


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
        # One walk gives the TEXT-SPEC text and the BOILER-SPEC scored
        # lines (see boilerplate.text_and_scored).
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


# Output columns _extract_one fills, after the pass-throughs (url, warc_ts,
# lang).
_EXTRACTED = EXTRACT_SCHEMA.fieldNames()[3:]


def _extract_row(url, warc_ts, html, lang):
    # _extract_one is looked up at call time, so it can be swapped for a
    # wrapped version (e.g. by a tracer) after this module is imported.
    out = _extract_one(url, html)
    return [(url, warc_ts, lang, *(out[f] for f in _EXTRACTED))]


# mapInArrow kernel — the production path: batches of (url, warc_ts, html,
# lang) → EXTRACT_SCHEMA. Arrow arrays are built straight from Python
# lists, never through pandas: object-dtype round-trips on ~25 KB string
# columns made a mapInPandas version of this kernel ~2× slower end-to-end.
extract_batch_arrow = row_kernel(_extract_row, EXTRACT_SCHEMA)


def extract_pages(pages: DataFrame, partitions: Optional[int] = None,
                  salt: int = 16, host_salted: bool = False) -> DataFrame:
    """Prune → (optional host-salt repartition) → mapInArrow.

    **Map-only by default.** Extraction is embarrassingly parallel, so the
    scale-correct plan has NO shuffle: at 100 TB a repartition would move
    every page byte across the cluster for zero semantic gain — scan splits
    (``spark.sql.files.maxPartitionBytes``) already spread the corpus evenly
    and Parquet gives locality for free. Python workers then bound
    throughput, which is exactly where the money should go.

    ``host_salted=True`` opts into a pre-UDF shuffle into ``partitions``
    on (host, pmod(xxhash64(url), salt)) — the north_rule treatment when
    one hot host dominates the crawl and downstream consumers group by
    host.
    """
    pruned = pages.select("url", "warc_ts", "html", "lang")  # column pruning
    if host_salted:
        parts = partitions or int(
            pages.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        key = F.concat_ws(
            "#",
            F.parse_url(F.col("url"), F.lit("HOST")),
            F.pmod(F.xxhash64("url"), F.lit(salt)).cast("string"),
        )
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
    per-profile lineage, parent snapshot, and the table schema under
    ``schema`` as ``StructType.jsonValue()``) is written to a temp file and
    ``os.rename``-ed into ``_snapshots/`` — the rename is the commit point,
    so a crash mid-write never exposes a half snapshot (resume then simply
    reprocesses the uncommitted run). The read-back is given
    ``extracted.schema``, so it starts no parquet schema-inference job.
    """
    # Idempotent by run_id: a replayed batch (foreachBatch is
    # at-least-once — crash after the manifest rename but before the
    # streaming checkpoint records the batch) must NOT append a second
    # manifest for the same data dir, or committed_table double-counts.
    parents = committed_snapshots(table_dir)
    for snap in parents:
        if snap.get("run_id") == run_id:
            return snap
    data_dir = os.path.join(table_dir, "data", f"run_id={run_id}")
    extracted.write.mode("overwrite").parquet(data_dir)
    spark = extracted.sparkSession
    schema = extracted.schema
    # One read-back aggregate feeds both the per-(profile, status) lineage
    # and the per-PARTITION lineage (north_rule): every parquet part file
    # that makes up the snapshot, with its row count — the Iceberg-manifest
    # analog that lets an auditor trace any committed row to the task
    # partition that wrote it.
    by_key: Counter = Counter()
    by_file: Counter = Counter()
    for r in (spark.read.schema(schema).parquet(data_dir)
              .groupBy(F.input_file_name().alias("f"), "profile", "status")
              .count().collect()):
        by_key[r.profile, r.status] += r["count"]
        by_file[r.f] += r["count"]
    lineage = [{"profile": p, "status": s, "count": c}
               for (p, s), c in by_key.items()]
    n = sum(by_key.values())
    files = [{"file": f[f.index("data/run_id="):] if "data/run_id=" in f
              else f, "rows": c}
             for f, c in sorted(by_file.items())]
    manifest = {
        "snapshot_id": len(parents) + 1,
        "run_id": run_id,
        "parent": parents[-1]["snapshot_id"] if parents else None,
        "rows": n,
        "lineage": lineage,
        "files": files,
        "data_dir": f"data/run_id={run_id}",
        "schema": schema.jsonValue(),
    }
    sdir = _snapshot_dir(table_dir)
    os.makedirs(sdir, exist_ok=True)
    tmp = os.path.join(sdir, f".tmp-{run_id}.json")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=2, default=str)
    os.rename(tmp, os.path.join(sdir, f"{manifest['snapshot_id']:06d}.json"))
    return manifest


def _merged_schema(snaps: list[dict]) -> StructType:
    """Union of the manifests' ``schema`` keys: fields in first-seen
    order; a column whose type differs between snapshots raises
    ``ValueError`` (parquet ``mergeSchema`` fails on it too)."""
    fields: dict = {}  # name -> (field, id of the snapshot it came from)
    for snap in snaps:
        for f in StructType.fromJson(snap["schema"]).fields:
            seen, sid = fields.setdefault(f.name, (f, snap["snapshot_id"]))
            if seen.dataType != f.dataType:
                raise ValueError(
                    f"column {f.name!r} is {seen.dataType.simpleString()} "
                    f"in snapshot {sid} and {f.dataType.simpleString()} in "
                    f"snapshot {snap['snapshot_id']}")
    return StructType([f for f, _sid in fields.values()])


def committed_table(spark: SparkSession, table_dir: str) -> Optional[DataFrame]:
    """Every committed snapshot's rows, read with the schema merged from
    the manifests, so planning the read opens no data file. A snapshot
    that lacks a later-added column (e.g. ``elapsed_us``) reads as nulls
    there.

    If any manifest predates the ``schema`` key, the table is read with
    parquet ``mergeSchema``, which opens every footer of every snapshot:
    the only way to learn such a table's schema.
    """
    snaps = committed_snapshots(table_dir)
    if not snaps:
        return None
    dirs = [os.path.join(table_dir, s["data_dir"]) for s in snaps]
    if all("schema" in s for s in snaps):
        return spark.read.schema(_merged_schema(snaps)).parquet(*dirs)
    return spark.read.option("mergeSchema", "true").parquet(*dirs)


def resume_remaining(pages: DataFrame, table_dir: str) -> DataFrame:
    """Anti-join pages vs already-committed urls (idempotent resume)."""
    done = committed_table(pages.sparkSession, table_dir)
    if done is None:
        return pages
    return pages.join(done.select("url"), on="url", how="left_anti")
