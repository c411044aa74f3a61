"""Benchmark inputs: synth pages chosen by the seed, written once per
(workload, seed) and cached under the work directory.

The seed picks the synth index range and, for long-tailed workloads, each
page's ``filler`` block count. Everything else is the engine's own
deterministic renderer (``sources.synth``), so the expected output of every
page is known in closed form (``synth.golden_envelope``).
"""

from __future__ import annotations

import hashlib
import json
import math
import multiprocessing
import os
import random
import shutil
from dataclasses import dataclass
from statistics import NormalDist

__all__ = ["SPECS", "Spec", "Corpus", "page_plan", "build"]

# Bump when the corpus layout or the filler law changes.
CORPUS_VERSION = 3
KEEP_CORPORA = 8


@dataclass(frozen=True)
class Spec:
    pages: int
    long_tail: bool      # per-page filler ~ lognormal, else filler 0
    files: int           # parquet files of the pages table
    kernel_sample: int   # pages the traced single-thread kernel pass runs
    blobs: int = 0       # .warc.gz blobs (warc workloads only)


# Sizes give job passes of about two seconds on 4 cores.
SPECS = {
    "crawl_extract": Spec(pages=360, long_tail=True, files=16,
                          kernel_sample=160),
    "product_pages": Spec(pages=2400, long_tail=False, files=16,
                          kernel_sample=500),
    "warc_links": Spec(pages=240, long_tail=True, files=8, blobs=16,
                       kernel_sample=120),
}
SMOKE_PAGES = 60

# Filler law: lognormal, median 33 blocks (a page of about 25 KB), sigma
# 0.8, so the tail reaches a few hundred KB.
FILLER_MEDIAN = 33
FILLER_SIGMA = 0.8


def page_plan(workload, seed, pages):
    """[(synth idx, filler)] for a workload and seed.

    The seed picks where a contiguous synth index range starts, so the
    canonical mix (~2% PDF, ~2% blocked or truncated, 5% ``es``) holds on
    every seed, and it picks which page gets which filler. The fillers
    themselves are the lognormal's quantiles at (k + 0.5) / pages, so every
    seed has the same page-size distribution, tail included: run-to-run
    differences then come from the engine and the host, not from how heavy
    one seed's tail happened to be."""
    rng = random.Random(f"perfbench:{workload}:{seed}")
    start = 1_000_000 + rng.randrange(0, 8_000_000)
    fillers = [0] * pages
    if SPECS[workload].long_tail:
        law = NormalDist(math.log(FILLER_MEDIAN), FILLER_SIGMA)
        fillers = [int(round(math.exp(law.inv_cdf((k + 0.5) / pages))))
                   for k in range(pages)]
        rng.shuffle(fillers)
    return [(start + k, f) for k, f in enumerate(fillers)]


def _render(item):
    """One page row plus what the checker needs; runs in a pool worker."""
    from html_parser_spark.sources import synth
    idx, filler = item
    rec = synth.page_record(idx, filler=filler)
    return {
        "url": rec["url"], "warc_ts": rec["warc_ts"], "html": rec["html"],
        "lang": rec["lang"], "idx": idx,
        "profile": synth.profile_for(idx),
        "golden": synth.golden_envelope(idx),
    }


def _source_tag():
    from html_parser_spark.sources import synth, warc
    h = hashlib.md5(str(CORPUS_VERSION).encode())
    for mod in (synth, warc):
        with open(mod.__file__, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:10]


@dataclass
class Corpus:
    root: str
    pages_dir: str
    blobs_dir: str | None
    meta: dict

    @property
    def n_pages(self):
        return len(self.meta["urls"])

    @property
    def n_bytes(self):
        return self.meta["bytes"]


def _load(root):
    with open(os.path.join(root, "meta.json")) as f:
        meta = json.load(f)
    blobs = os.path.join(root, "blobs")
    return Corpus(root, os.path.join(root, "pages"),
                  blobs if os.path.isdir(blobs) else None, meta)


def _deal(rows, parts):
    """Split rows into ``parts`` groups of nearly equal html bytes: deal
    them out largest first, in snake order. Spark packs whole files into
    its partitions, so balanced files give balanced tasks on every seed,
    and no seed's timings hinge on where its few largest pages landed."""
    order = sorted(range(len(rows)), key=lambda k: -len(rows[k]["html"]))
    groups = [[] for _ in range(parts)]
    for rank, k in enumerate(order):
        lap, pos = divmod(rank, parts)
        groups[pos if lap % 2 == 0 else parts - 1 - pos].append(k)
    return [[rows[k] for k in sorted(g)] for g in groups if g]


def _write_parquet(rows, out_dir, files):
    import pyarrow as pa
    import pyarrow.parquet as pq
    schema = pa.schema([
        ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
    ])
    os.makedirs(out_dir)
    for k, part in enumerate(_deal(rows, files)):
        pq.write_table(pa.table({
            "url": [r["url"] for r in part],
            "warc_ts": [r["warc_ts"] for r in part],
            "html": [r["html"] for r in part],
            "text": [None] * len(part),
            "lang": [r["lang"] for r in part],
        }, schema=schema), os.path.join(out_dir, f"part-{k:04d}.parquet"))


def _write_blobs(rows, out_dir, blobs):
    import pyarrow as pa
    import pyarrow.parquet as pq
    from html_parser_spark.sources.warc import write_warc
    os.makedirs(out_dir)
    for k, part in enumerate(_deal(rows, blobs)):
        blob = write_warc([(r["url"], r["html"]) for r in part])
        pq.write_table(pa.table({"blob_id": pa.array([k], pa.int64()),
                                 "warc": pa.array([blob], pa.binary())}),
                       os.path.join(out_dir, f"blob-{k:04d}.parquet"))


def build(work_dir, workload, seed, procs, smoke=False):
    """Return the cached corpus for (workload, seed), building it first if
    needed. Building renders pages in ``procs`` spawned processes."""
    spec = SPECS[workload]
    pages = SMOKE_PAGES if smoke else spec.pages
    key = f"{workload}-s{seed}-n{pages}-{_source_tag()}"
    base = os.path.join(work_dir, "corpus")
    root = os.path.join(base, key)
    if os.path.exists(os.path.join(root, "meta.json")):
        os.utime(root)
        return _load(root)

    from check import expected_host_graph
    plan = page_plan(workload, seed, pages)
    ctx = multiprocessing.get_context("spawn")
    pool = ctx.Pool(procs)
    try:
        rows = pool.map(_render, plan, chunksize=16)
    finally:
        pool.close()
        pool.join()
    graph = (expected_host_graph([(r["url"], r["html"]) for r in rows])
             if spec.blobs else None)
    tmp = root + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    _write_parquet(rows, os.path.join(tmp, "pages"), spec.files)
    if spec.blobs:
        _write_blobs(rows, os.path.join(tmp, "blobs"), spec.blobs)
    meta = {
        "workload": workload, "seed": seed,
        "urls": [r["url"] for r in rows],
        "idx": [r["idx"] for r in rows],
        "profiles": [r["profile"] for r in rows],
        "goldens": [r["golden"] for r in rows],
        "md5": [hashlib.md5(r["html"]).hexdigest() for r in rows],
        "bytes": sum(len(r["html"]) for r in rows),
        "host_graph": graph,
    }
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    os.rename(tmp, root)
    _prune(base)
    return _load(root)


def _prune(base):
    dirs = sorted((os.path.join(base, d) for d in os.listdir(base)
                   if not d.endswith(".tmp")),
                  key=os.path.getmtime, reverse=True)
    for d in dirs[KEEP_CORPORA:]:
        shutil.rmtree(d, ignore_errors=True)
