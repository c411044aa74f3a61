"""Spark-free kernel rate: the identical extraction kernel (tokenizer →
carriers → rules → envelope), no Spark, no IPC of page bytes (each worker
renders its own shard in-process), run at several process counts, each
worker pinned to one CPU of this process's affinity set.

``bench.py`` calls ``run_level`` at each scaling level, in the same pinned
child and window as the Spark pass, and reports Spark docs/s over this
kernel's docs/s. Run standalone, it shows what the bare kernel's own
scaling is bounded by (the box's aggregate memory bandwidth), apart from
the job plan.

Usage:
    python scripts/mp_bandwidth_control.py [--pages 4000] [--procs 8,32]

Prints one JSON line:
    {"control": "multiprocessing", "pages": N,
     "filler": F, "levels": {"8": docs_per_sec, "32": docs_per_sec},
     "efficiency": {"8->32": e}}

Run it ALONE: a live Spark JVM on the same CPUs slows the kernel.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing as mp
import os
import sys
import time

# Runnable from anywhere: spawn workers must import html_parser_spark.
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def _work(args: tuple) -> tuple:
    """Pre-render a shard in-process (untimed), then time the extraction
    kernel alone — the measured work is exactly what the Spark UDF does."""
    start, count, cpu, filler = args
    try:
        os.sched_setaffinity(0, {cpu})
    except OSError:
        pass
    from html_parser_spark.sources import synth
    from html_parser_spark.job.pipeline import _extract_one
    pages = [(rec["url"], rec["html"]) for rec in
             (synth.page_record(idx, filler=filler)
              for idx in range(start, start + count))]
    t0 = time.monotonic()
    n_ok = 0
    for url, html in pages:
        if _extract_one(url, html)["status"] == "ok":
            n_ok += 1
    dt = time.monotonic() - t0
    return n_ok, dt


def run_level(n_pages: int, procs: int, filler: int,
              repeats: int = 1) -> float:
    """Aggregate docs/s at ``procs`` pinned workers. ``repeats`` re-times
    the same shards inside the one warm pool and keeps the best pass —
    noise (scheduler, page-cache, neighbor VMs) only ever slows a pass,
    so min-time/max-rate is the steady-state estimator; spawn/import cost
    never pollutes the measurement either way."""
    per = n_pages // procs
    cpus = sorted(os.sched_getaffinity(0))
    jobs = [(i * per, per, cpus[i % len(cpus)], filler)
            for i in range(procs)]
    ctx = mp.get_context("spawn")
    best = 0.0
    with ctx.Pool(procs) as pool:
        # Warm imports once so compile time isn't in the measurement.
        pool.map(_work, [(0, 1, cpu, filler) for _, _, cpu, _ in jobs])
        for _ in range(max(1, repeats)):
            res = pool.map(_work, jobs)
            # Workers overlap (same dispatch); the slowest shard bounds
            # wall time.
            best = max(best, per * procs / max(dt for _, dt in res))
    return best


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=4000)
    ap.add_argument("--procs", default="8,32")
    ap.add_argument("--filler", type=int, default=30,
                    help="filler blocks per page (30 = bench-corpus size)")
    ap.add_argument("--repeats", type=int, default=1,
                    help="timed passes per level inside one warm pool; "
                         "best pass wins (noise only slows a pass)")
    args = ap.parse_args()
    levels = [int(x) for x in args.procs.split(",")]
    rates = {}
    for p in levels:
        rates[str(p)] = round(
            run_level(args.pages, p, args.filler, args.repeats), 1)
    eff = {}
    for a, b in zip(levels, levels[1:]):
        eff[f"{a}->{b}"] = round(
            rates[str(b)] / rates[str(a)] / (b / a), 3)
    print(json.dumps({"control": "multiprocessing", "pages": args.pages,
                      "filler": args.filler,
                      "levels": rates, "efficiency": eff}))


if __name__ == "__main__":
    main()
