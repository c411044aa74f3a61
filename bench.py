#!/usr/bin/env python
"""Benchmark harness — prints ONE JSON line for the driver.

Headline metric: extraction throughput over a *materialized* pages corpus —
parquet on disk, read → mapInArrow extract → count — the same plan shape as
the production job (scan → map-only UDF; no shuffle of page bytes). Corpus
synthesis is untimed setup, written once and reused.

Each query gets one untimed warm pass (JIT/codegen/python-worker spin-up)
then a timed pass: steady-state engine throughput is what projects to a
long-running 100 TB job, not first-query JVM warm-up.

Scaling (the north rule's N → 4N efficiency) is worked out from the host:
with ``cpus`` the CPUs this process may run on, N = cpus // 4 and the levels
are N and 4N, each pinned to the first N (4N) CPUs of that set. Each level is
a fresh child process that first times the Spark-free kernel
(``scripts/mp_bandwidth_control.run_level``) at N processes, then the Spark
pass at ``local[N]``, on the same page count and filler, and reports
``spark_vs_kernel``: host contention hits both runs in the same window, so
the ratio prices the engine (boundary, scheduling) apart from the kernel.
Levels read the ``crc32(url) % 4 == 0`` quarter of the corpus, written once
as its own parquet (untimed), so a level reads only the pages it extracts.
Three pair runs, medians quoted. The headline and the query suite run at
4N cores. With fewer than 4 CPUs there is one level and no efficiency.

Usage:
    python bench.py

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     BENCH_PAGES, BENCH_FILLER, BENCH_DIR.
"""

from __future__ import annotations

import json
import os
import subprocess
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_PAGES = int(os.environ.get("BENCH_PAGES", "20000"))
FILLER = int(os.environ.get("BENCH_FILLER", "30"))
BENCH_DIR = os.environ.get("BENCH_DIR", "/tmp/html_parser_spark_bench")
CORPUS_FILES = 128  # fixed file count → identical splits at every core level
SUBSET_MOD = 4      # scaling levels read a deterministic 1/4 of the corpus


def _session(cores: int):
    from pyspark.sql import SparkSession
    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(f"bench-{cores}")
        .config("spark.sql.shuffle.partitions", str(max(cores, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # the job's batch and split settings (job.pipeline.build_session)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def scaling_levels(affinity) -> list[list[int]]:
    """CPU sets of the scaling levels for an affinity set: the first N and
    the first 4N of its CPUs, N = len // 4; one level of all of them when
    there are fewer than 4."""
    cpus = sorted(affinity)
    n = len(cpus) // 4
    return [cpus[:n], cpus[:4 * n]] if n else [cpus]


def _timed(df_factory, repeats: int = 2) -> float:
    df_factory().count()                       # warm: JIT + python workers
    best = float("inf")
    for _ in range(repeats):
        t0 = time.perf_counter()
        df_factory().count()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def corpus_path() -> str:
    import hashlib
    from html_parser_spark.sources import synth
    # Version the corpus by renderer source hash so any synth change
    # invalidates the cached parquet.
    with open(synth.__file__, "rb") as f:
        tag = hashlib.md5(f.read()).hexdigest()[:8]
    return os.path.join(BENCH_DIR, f"pages_{tag}_n{N_PAGES}_f{FILLER}")


def subset_path() -> str:
    """The scaling levels' input: the ``crc32(url) % SUBSET_MOD == 0``
    pages of the corpus, in a fixed ``CORPUS_FILES // SUBSET_MOD`` files
    (the corpus's pages per file, whatever the writer's core count)."""
    return f"{corpus_path()}_crc{SUBSET_MOD}"


def _written(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def ensure_corpus(spark) -> None:
    """Materialize the synthetic pages corpus and the level subset once
    (untimed setup)."""
    from pyspark.sql import functions as F
    path, sub = corpus_path(), subset_path()
    if not _written(path):
        from html_parser_spark.job import pipeline as P
        shutil.rmtree(path, ignore_errors=True)
        (P.synthesize_pages(spark, N_PAGES, partitions=CORPUS_FILES,
                            filler=FILLER)
         .write.mode("overwrite").parquet(path))
    if not _written(sub):
        shutil.rmtree(sub, ignore_errors=True)
        (spark.read.parquet(path).where(F.crc32("url") % SUBSET_MOD == 0)
         .repartition(CORPUS_FILES // SUBSET_MOD)
         .write.mode("overwrite").parquet(sub))


def run_extract(spark, path: str, repeats: int = 2) -> tuple[float, int]:
    """Timed: scan parquet pages → map-only extract → count.

    One warm pass, then best-of-``repeats`` — min is the standard
    noise-robust throughput estimator on a shared box (GC, page cache and
    turbo transitions only ever make a run slower, not faster)."""
    from html_parser_spark.job import pipeline as P

    def job():
        return P.extract_pages(spark.read.parquet(path)).where("status = 'ok'")

    n_ok = job().count()                       # warm pass
    best = float("inf")
    for _ in range(repeats):
        t0 = time.perf_counter()
        n_ok = job().count()
        best = min(best, time.perf_counter() - t0)
    return best, n_ok


def _level_child() -> None:
    """Child process for one scaling level: pin this process (and the
    kernel workers and JVM it spawns) to its CPU set, so every level
    emulates a machine that fully owns N cores. The kernel runs first,
    while no JVM exists; then the Spark pass, one warm and one timed."""
    import pyarrow.parquet as pq
    sys.path.insert(0, os.path.join(HERE, "scripts"))
    from mp_bandwidth_control import run_level

    cpus = [int(c) for c in sys.argv[sys.argv.index("--level") + 1].split(",")]
    os.sched_setaffinity(0, cpus)
    n_in = pq.read_table(subset_path(), columns=["url"]).num_rows
    kernel = run_level(n_in, len(cpus), FILLER)
    spark = _session(len(cpus))
    spark.sparkContext.setLogLevel("ERROR")
    dt, n_ok = run_extract(spark, subset_path(), repeats=1)
    spark.stop()
    print(json.dumps({"cpus": cpus, "n_pages": n_in, "n_ok": n_ok,
                      "sec": round(dt, 3),
                      "spark_docs_per_s": round(n_in / dt, 1),
                      "kernel_docs_per_s": round(kernel, 1),
                      "spark_vs_kernel": round(n_in / dt / kernel, 3)}))


def _ensure_corpus_child() -> None:
    s0 = _session(len(os.sched_getaffinity(0)))
    s0.sparkContext.setLogLevel("ERROR")
    ensure_corpus(s0)
    s0.stop()


def _child(args: list) -> str:
    """Run a bench subprocess; stderr passes through so failures are
    diagnosable, stdout (the JSON line) is captured."""
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__)] + args,
        stdout=subprocess.PIPE, text=True, check=True)
    return out.stdout


def _run_scaling(levels: list[list[int]]) -> dict:
    """Three independent pair runs over ``levels``, each level its own
    pinned fresh-JVM child (see ``_level_child``), medians quoted: a single
    pair reading moves ±10% with host noise. Run before the parent JVM
    exists — a lingering JVM measurably slows a level."""
    names = [str(len(c)) for c in levels]
    runs = []
    for _ in range(3):
        run = {}
        for name, cpus in zip(names, levels):
            out = _child(["--level", ",".join(map(str, cpus))])
            run[name] = json.loads(out.strip().splitlines()[-1])
        runs.append(run)

    def _median(xs: list[float]) -> float:
        return sorted(xs)[len(xs) // 2]

    result = {
        "levels": {name: {k: _median([r[name][k] for r in runs]) for k in
                          ("spark_docs_per_s", "kernel_docs_per_s",
                           "spark_vs_kernel")} for name in names},
        "runs": runs,
        "protocol": "3 independent pair runs; each level a child pinned to "
                    "the first N CPUs of this process's affinity set: the "
                    "Spark-free kernel at N processes, then a fresh JVM at "
                    "local[N], one warm pass then one timed, on the "
                    f"crc32(url) % {SUBSET_MOD} == 0 corpus subset written "
                    "as its own parquet; medians quoted",
    }
    if len(levels) == 1:
        result["efficiency"] = None
        result["efficiency_reason"] = (
            f"{names[0]} CPUs in the affinity set, fewer than 4: no N to 4N "
            "pair, one level at all of them")
        return result
    lo, hi = names
    key = f"efficiency_{lo}_to_{hi}"
    for r in runs:
        r[key] = round(r[hi]["spark_docs_per_s"]
                       / (4 * r[lo]["spark_docs_per_s"]), 3)
    result[key] = round(result["levels"][hi]["spark_docs_per_s"]
                        / (4 * result["levels"][lo]["spark_docs_per_s"]), 3)
    result["efficiency_runs"] = [r[key] for r in runs]
    return result


def main() -> None:
    if "--level" in sys.argv:
        _level_child()
        return
    if "--ensure-corpus" in sys.argv:
        _ensure_corpus_child()
        return
    import __spark_entry__ as E
    from pyspark.sql import functions as F

    # Corpus generation is heavy (20k rendered pages); do it in a throwaway
    # subprocess so the timed session starts with a clean JVM heap —
    # measured 44 s vs 12 s for the same extract job otherwise (GC debt).
    path = corpus_path()
    if not (_written(path) and _written(subset_path())):
        _child(["--ensure-corpus"])

    levels = scaling_levels(os.sched_getaffinity(0))
    scaling = _run_scaling(levels)

    # Headline and query suite at 4N cores, on the 4N level's CPU set.
    cores = len(levels[-1])
    os.sched_setaffinity(0, levels[-1])
    spark = _session(cores)
    spark.sparkContext.setLogLevel("ERROR")
    queries: dict[str, float] = {}

    # Headline extraction: one warm pass then best-of-3 FULL passes — the
    # contention-robust estimator (min; GC/host noise only slows runs).
    ext_dt, n_ok = run_extract(spark, path, repeats=3)
    queries["extract_pipeline"] = round(ext_dt, 3)
    docs_per_sec = round(N_PAGES / ext_dt, 1)
    # Bytes-normalized throughput: page size grows whenever the renderer
    # gains fidelity (round-2/3 parity payloads), so docs/s alone is not
    # comparable across rounds; MB/s is.
    corpus_bytes = int(
        spark.read.parquet(path)
        .select(F.sum(F.length("html"))).collect()[0][0])
    mb_per_sec = round(corpus_bytes / 1e6 / ext_dt, 1)

    # Every registered query except the two extraction-corpus ones (the
    # headline extract_pipeline above already covers that path at bench
    # scale) — iterating the registry keeps new operators from silently
    # dropping out of the bench.
    qmap = E.queries()
    # Skipped queries are the ones whose Spark-side cost is dominated by
    # rendering the synthetic pages corpus (the headline extract_pipeline
    # above already times that path at bench scale, without re-rendering).
    skip = {"extract_pages", "extract_metrics", "extract_dispatch",
            "host_doc_counts", "url_canonical"}
    for name in sorted(set(qmap) - skip):
        queries[name] = _timed(lambda n=name: qmap[n](spark, SF_DIR))

    _emit({
        # value = total wall seconds of the whole query suite (per-query
        # map below); extraction throughput itself is docs_per_sec.
        "metric": "query_suite_seconds",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "sf": SF_DIR.rstrip("/").split("sf")[-1],
        "docs_per_sec": docs_per_sec,
        "n_pages": N_PAGES,
        "filler_blocks": FILLER,
        "cores": cores,
        "ok_rate": round(n_ok / N_PAGES, 4),
        "corpus_bytes": corpus_bytes,
        "mb_per_sec": mb_per_sec,
        "scaling": scaling,
    })


def _emit(result: dict,
          path: str = os.path.join(HERE, "bench_last.json")) -> None:
    """Record the artifact durably, then print a parseable final line.

    The driver keeps only the LAST ~2000 chars of stdout and parses the
    final JSON line; BENCH_r04.json lost most per-query timings because
    the r4 line outgrew that window (VERDICT r4 "What's wrong" #1). So:
    the FULL result always lands in ``path``, and the printed line leaves
    out the scaling block's per-run readings and protocol text (medians
    survive); only if still oversize it keeps the ten slowest queries
    (the full dict then lives solely in ``path``, flagged via
    "queries_file")."""
    with open(path, "w") as fh:
        json.dump(result, fh, indent=2, sort_keys=True)
        fh.write("\n")

    line_budget = 1900  # driver window is 2000; leave margin
    compact = dict(result)
    compact["queries"] = {k: round(v, 2) for k, v in result["queries"].items()}
    compact["scaling"] = {k: v for k, v in result["scaling"].items()
                          if k not in ("runs", "protocol")}

    def _dump(d: dict) -> str:
        return json.dumps(d, separators=(",", ":"))

    if len(_dump(compact)) > line_budget:
        compact["queries"] = dict(sorted(
            result["queries"].items(), key=lambda kv: -kv[1])[:10])
        compact["queries_truncated_to_top10_by_sec"] = True
        compact["queries_file"] = os.path.basename(path)
    print(_dump(compact))


if __name__ == "__main__":
    main()
