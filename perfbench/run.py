#!/usr/bin/env python3
"""Extraction benchmark: one workload, one seed, one JSON line.

Usage (from the root of a checkout of the repository):

    python3 perfbench/run.py --workload crawl_extract --seed 1 \
        --seconds 15 --trace 0

``--trace 0`` measures the end-to-end metrics; ``--trace 1`` is the separate
traced run that measures the per-layer metrics. The last line of standard
output is ``{"correct", "attempted", "failed", "metrics"}``; the exit code
is non-zero when any output row is wrong. Per-pass figures, the calibration
self-report and (traced runs) the span file go to ``.perfbench_work/out``.
See perfbench/README.md for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "rel_docs_per_s": "ratio",
    "rel_docs_per_cpu_s": "ratio",
    "setup_s": "s",
    "peak_worker_rss_mb": "MB",
    "ok_share": "ratio",
}

PER_LAYER = {
    "htmlkit.charset.ms_per_doc": "ms",
    "htmlkit.charset.share": "ratio",
    "htmlkit.tokenizer.ms_per_doc": "ms",
    "htmlkit.tokenizer.us_per_kb": "us/KB",
    "htmlkit.tokenizer.nodes_per_doc": "count",
    "htmlkit.tokenizer.share": "ratio",
    "extract.boilerplate.ms_per_doc": "ms",
    "extract.boilerplate.share": "ratio",
    "extract.carriers.ms_per_doc": "ms",
    "extract.carriers.share": "ratio",
    "rules.profiles.ms_per_doc": "ms",
    "rules.profiles.share": "ratio",
    "extract.pdfkit.ms_per_doc": "ms",
    "extract.pdfkit.share": "ratio",
    "kernel.unattributed.share": "ratio",
    "job.pipeline.assembly_ms_per_doc": "ms",
    "extract.links.ms_per_doc": "ms",
    "sources.warc.ms_per_doc": "ms",
    "kernel.ms_per_doc": "ms",
    "kernel.rel_docs_per_cpu_s": "ratio",
    "kernel.trace_overhead": "ratio",
    "spark.mapinarrow.python_ms_per_doc": "ms",
    "spark.mapinarrow.bytes_sent_per_doc": "B",
    "spark.mapinarrow.bytes_received_per_doc": "B",
    "spark.mapinarrow.boot_ms": "ms",
    "spark.mapinarrow.init_ms": "ms",
    "spark.mapinarrow.kernel_share": "ratio",
    "spark.mapinpandas.python_ms_per_doc": "ms",
    "spark.scan.ms_per_doc": "ms",
    "spark.efficiency": "ratio",
    "job.pipeline.write_snapshot_s": "s",
    "job.pipeline.metrics_s": "s",
    "spark.jobs_per_run": "count",
    "plans.exchanges": "count",
    "plans.python_nodes": "count",
    "plans.text_carrying_exchanges": "count",
    "job.pipeline.rows_ok": "count",
    "job.pipeline.rows_degraded": "count",
    "job.pipeline.rows_no_rule": "count",
    "job.pipeline.rows_error": "count",
}

# Handful of pages the set-up query extracts.
SETUP_PAGES = 8
# A timed run makes at least this many job passes, each bracketed by
# calibration passes; a traced run makes exactly TRACE_PAIRS.
MIN_PAIRS = 3
TRACE_PAIRS = 2


def parse_args(argv):
    p = argparse.ArgumentParser(prog="perfbench/run.py",
                                description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["crawl_extract", "product_pages", "warc_links"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="how long the timed passes run")
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny corpus, for the benchmark's own tests")
    return p.parse_args(argv)


def timed_loop(cal, workload, engine, seconds, min_pairs, max_pairs=None):
    """cal, job, cal, job, ..., cal until ``seconds`` have passed and at
    least ``min_pairs`` job passes ran. Output checks and worker memory
    readings happen between passes, outside the timed regions."""
    from check import Gate
    rec = {"cal_wall": [], "cal_cpu": [], "job_wall": [], "job_cpu": [],
           "jobs": [], "steps": [], "hwm_mb": 0.0}
    gate = Gate()

    def calibrate():
        wall, cpu, _sum = cal.run()
        rec["cal_wall"].append(wall)
        rec["cal_cpu"].append(cpu)

    calibrate()
    deadline = time.perf_counter() + seconds
    while (len(rec["job_wall"]) < min_pairs
           or (time.perf_counter() < deadline
               and (max_pairs is None or len(rec["job_wall"]) < max_pairs))):
        c0, t0 = engine.cpu_s(), time.perf_counter()
        (steps, verify), jobs = engine.jobs_in(workload.timed_pass)
        rec["job_wall"].append(time.perf_counter() - t0)
        rec["job_cpu"].append(engine.cpu_s() - c0)
        rec["jobs"].append(jobs)
        rec["steps"].append(steps)
        rec["hwm_mb"] = max(rec["hwm_mb"], engine.worker_hwm_mb())
        gate.merge(verify())
        calibrate()
    return rec, gate


def ratios(rec, n_docs):
    """Per-pass job/calibration rate ratios, by wall time and by CPU."""
    from stats import bracketed_ratios
    def rates(key):
        return [n_docs / x for x in rec[key]]

    return (bracketed_ratios(rates("job_wall"), rates("cal_wall")),
            bracketed_ratios(rates("job_cpu"), rates("cal_cpu")))


def context_report(rec, corpus, wall_ratios, cpu_ratios):
    """Raw rates and the calibration self-report: how much the host moved
    during the run, and how much of that the normalization removed."""
    from stats import iqr_share, median
    n, mb = corpus.n_pages, corpus.n_bytes / 1e6
    job = [n / w for w in rec["job_wall"]]
    cal = [n / w for w in rec["cal_wall"]]
    return {
        "docs_per_s": median(job),
        "mb_per_s": median(mb / w for w in rec["job_wall"]),
        "calibration_docs_per_s": median(cal),
        "calibration_docs_per_cpu_s": median(n / c for c in rec["cal_cpu"]),
        "corpus_pages": n,
        "corpus_bytes": corpus.n_bytes,
        "passes": len(job),
        "raw_spread": iqr_share(job),
        "raw_drift": (max(job) - min(job)) / median(job),
        "calibration_spread": iqr_share(cal),
        "calibration_drift": (max(cal) - min(cal)) / median(cal),
        "ratio_spread": iqr_share(wall_ratios),
        "cpu_ratio_spread": iqr_share(cpu_ratios),
        "per_pass": {k: rec[k] for k in ("job_wall", "job_cpu", "cal_wall",
                                         "cal_cpu", "jobs", "steps")},
    }


def read_pages(corpus, k):
    import pyarrow.parquet as pq
    rows = pq.read_table(corpus.pages_dir).slice(0, k).to_pylist()
    by_url = dict(zip(corpus.meta["urls"], corpus.meta["profiles"]))
    for r in rows:
        r["profile"] = by_url[r["url"]]
    return rows


def traced_metrics(cal, corpus, engine, workload, first, gate):
    """The traced run's Spark readings, and its job-vs-calibration CPU
    ratio (for ``spark.efficiency``)."""
    import shutil
    from engine import plan_metrics, plan_shape
    from stats import median

    n = corpus.n_pages
    m = {}
    # Spark boundary of the set-up query: the cold Python workers.
    boot = plan_metrics(first)["MapInArrowExec"]
    m["spark.mapinarrow.boot_ms"] = boot["pythonBootTime"]
    m["spark.mapinarrow.init_ms"] = boot["pythonInitTime"]

    g, rows, ran = workload.check_pass()
    gate.merge(g)
    pm = {}
    for df in ran:
        for kind, vals in plan_metrics(df).items():
            acc = pm.setdefault(kind, {})
            for k, v in vals.items():
                acc[k] = acc.get(k, 0) + v
    arrow = pm["MapInArrowExec"]
    m["spark.mapinarrow.python_ms_per_doc"] = arrow["pythonTotalTime"] / n
    m["spark.mapinarrow.bytes_sent_per_doc"] = arrow["pythonDataSent"] / n
    m["spark.mapinarrow.bytes_received_per_doc"] = (
        arrow["pythonDataReceived"] / n)
    m["spark.mapinarrow.kernel_share"] = (
        sum(r["elapsed_us"] for r in rows) / 1e3 / arrow["pythonTotalTime"])
    m["spark.scan.ms_per_doc"] = pm["FileSourceScanExec"]["scanTime"] / n
    pandas = pm.get("MapInPandasExec")
    if pandas is None:
        # The link graph over the same pages: the mapInPandas boundary
        # priced on this workload's pages.
        probe = workload.links_graph(workload.pages())
        probe.collect()
        pandas = plan_metrics(probe)["MapInPandasExec"]
    m["spark.mapinpandas.python_ms_per_doc"] = pandas["pythonTotalTime"] / n
    for status in ("ok", "degraded", "no_rule", "error"):
        m[f"job.pipeline.rows_{status}"] = sum(
            1 for r in rows if r["status"] == status)

    rec, g = timed_loop(cal, workload, engine, 0, TRACE_PAIRS, TRACE_PAIRS)
    gate.merge(g)
    _wall, cpu_ratios = ratios(rec, n)
    m["spark.jobs_per_run"] = median(rec["jobs"])
    if rec["steps"][0]:
        ws = [s["write_snapshot_s"] for s in rec["steps"]]
        ms = [s["metrics_s"] for s in rec["steps"]]
    else:
        # This workload does not write; price the job's write steps on
        # its pages all the same.
        w, mm, table = workload.snapshot_steps(workload.extracted())
        shutil.rmtree(table, ignore_errors=True)
        ws, ms = [w], [mm]
    m["job.pipeline.write_snapshot_s"] = median(ws)
    m["job.pipeline.metrics_s"] = median(ms)
    ex, py, wide = plan_shape(workload.queries())
    m["plans.exchanges"], m["plans.python_nodes"] = ex, py
    m["plans.text_carrying_exchanges"] = wide
    return m, median(cpu_ratios)


def kernel_metrics(args, corpus, gate):
    """The single-threaded traced kernel pass, before any JVM exists."""
    import calib
    import check
    import corpus as C
    from trace import kernel_pass
    k = C.SMOKE_PAGES if args.smoke else C.SPECS[args.workload].kernel_sample
    pages = read_pages(corpus, k)
    km, tracer, rows = kernel_pass(pages, args.workload == "warc_links",
                                   calib.parse_pages)
    gate.merge(check.check_extracted(rows, corpus,
                                     urls=[p["url"] for p in pages]))
    return km, tracer


def run(args):
    import calib
    import corpus as C
    from check import Gate
    from engine import WORKLOADS, Engine
    from stats import median

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work")
    out_dir = os.path.join(work, "out")
    os.makedirs(out_dir, exist_ok=True)
    phases, t0 = {}, time.perf_counter()

    def phase(name):
        nonlocal t0
        now = time.perf_counter()
        phases[name] = now - t0
        t0 = now

    corpus = C.build(work, args.workload, args.seed, cores, smoke=args.smoke)
    phase("corpus_s")
    gate = Gate()
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"

    km = tracer = None
    if args.trace:
        km, tracer = kernel_metrics(args, corpus, gate)
        phase("kernel_pass_s")

    with calib.CalibrationPool(corpus.pages_dir, cores) as cal:
        engine = Engine(work, cores, ROOT)
        try:
            setup_s, first = engine.start(read_pages(corpus, SETUP_PAGES))
            phase("setup_s")
            workload = WORKLOADS[args.workload](engine, corpus)
            if args.trace:
                tm, rel_cpu = traced_metrics(cal, corpus, engine, workload,
                                             first, gate)
            else:
                gate.merge(workload.warm_check())
                cal.run()  # warm the calibration workers
                phase("warm_s")
                rec, g = timed_loop(cal, workload, engine, args.seconds,
                                    MIN_PAIRS)
                gate.merge(g)
        finally:
            phase("measure_s")
            engine.stop()
    phase("stop_s")

    if args.trace:
        values = {**km, **tm,
                  "spark.efficiency": rel_cpu / km["kernel.rel_docs_per_cpu_s"]}
        tracer.write(os.path.join(out_dir, f"trace-{tag}.jsonl"))
        metrics = {k: {"value": values[k], "unit": u}
                   for k, u in PER_LAYER.items()}
        context = {"rel_docs_per_cpu_s": rel_cpu}
    else:
        wall_r, cpu_r = ratios(rec, corpus.n_pages)
        values = {
            "rel_docs_per_s": median(wall_r),
            "rel_docs_per_cpu_s": median(cpu_r),
            "setup_s": setup_s,
            "peak_worker_rss_mb": rec["hwm_mb"],
            "ok_share": 1.0 - gate.failed_share,
        }
        metrics = {k: {"value": values[k], "unit": u}
                   for k, u in END_TO_END.items()}
        context = context_report(rec, corpus, wall_r, cpu_r)
    context.update({"phases": phases,
                    "failed_share": gate.failed_share,
                    "failure_examples": gate.examples})
    with open(os.path.join(out_dir, f"context-{tag}.json"), "w") as f:
        json.dump({"metrics": metrics, "context": context}, f, indent=1)
    summary = {k: v for k, v in context.items()
               if not isinstance(v, (dict, list))}
    print(f"perfbench {tag}: {json.dumps(summary)}", file=sys.stderr)
    return {"correct": gate.failed == 0, "attempted": gate.attempted,
            "failed": gate.failed, "metrics": metrics}


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans():
    """Become the subreaper of every process this run starts: a process
    whose parent exits first (a PySpark worker daemon, a worker it forked)
    is re-parented here instead of to init, so ``stop_children`` can find
    it and wait for it."""
    import ctypes
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def stop_children(grace_s=10.0):
    """Stop every process below this one and wait until each has ended:
    SIGTERM first, SIGKILL for what is still there after ``grace_s``."""
    from multiprocessing import resource_tracker
    from stats import descendants
    # multiprocessing's resource tracker (started by the spawn pools) would
    # otherwise exit only after this process has, when its pipe closes.
    tracker = resource_tracker._resource_tracker
    if getattr(tracker, "_fd", None) is not None:
        tracker._stop()
    deadline = time.monotonic() + grace_s
    signalled = {}
    while True:
        while True:  # reap whatever has exited (orphans included)
            try:
                pid, _status = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break
        pids = descendants(os.getpid())
        if not pids:
            return
        sig = (signal.SIGKILL if time.monotonic() > deadline
               else signal.SIGTERM)
        for pid in pids:
            if signalled.get(pid) != sig:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
                signalled[pid] = sig
        time.sleep(0.05)


def _exit_on_sigterm(signum, _frame):
    sys.exit(128 + signum)


def main(argv=None):
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "html_parser_spark")):
        print("perfbench: no html_parser_spark package next to perfbench/; "
              "run this from the root of a checkout of the repository",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    adopt_orphans()
    # A terminated run still stops the JVM and the worker pools.
    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    try:
        result = run(args)
    finally:
        stop_children()
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
