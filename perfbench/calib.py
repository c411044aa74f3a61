"""Calibration: fixed work that every timed pass is divided by.

The stdlib ``html.parser.HTMLParser`` walks the same pages the job reads,
in as many processes as Spark has cores. Its rate moves with the host
(contention, frequency, memory bandwidth) but never with this repository's
code, so ``job rate / calibration rate`` cancels the host and keeps the
engine.

This file is frozen: changing it changes every benchmark number. It imports
nothing from ``html_parser_spark``; pages reach it as bytes read from the
benchmark's own corpus files.
"""

from __future__ import annotations

import multiprocessing
import time
from html.parser import HTMLParser

import pyarrow.parquet as pq

__all__ = ["parse_pages", "CalibrationPool"]

# Pages per task: small enough to balance a long-tailed page-size mix over
# the workers, large enough that dispatch costs little.
CHUNK = 8


class _TagCounter(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.tags = 0
        self.chars = 0

    def handle_starttag(self, tag, attrs):
        self.tags += 1

    def handle_data(self, data):
        self.chars += len(data)


def parse_pages(pages):
    """Parse each page; return a checksum (start tags + text characters)
    so the work cannot be skipped and a test can check it is repeatable."""
    total = 0
    for raw in pages:
        p = _TagCounter()
        p.feed(raw.decode("utf-8", errors="replace"))
        p.close()
        total += p.tags + p.chars
    return total


_PAGES: list = []


def _load(pages_dir):
    global _PAGES
    _PAGES = pq.read_table(pages_dir, columns=["html"]).column(
        "html").to_pylist()


def _parse_range(bounds):
    lo, hi = bounds
    c0 = time.process_time()
    checksum = parse_pages(_PAGES[lo:hi])
    return checksum, time.process_time() - c0


class CalibrationPool:
    """``procs`` spawned workers, each holding every page of ``pages_dir``.

    ``run()`` parses every page once across the workers and returns
    (wall seconds, the workers' CPU-seconds, checksum). Use as a context
    manager; leaving it closes the workers and waits for them.
    """

    def __init__(self, pages_dir, procs):
        ctx = multiprocessing.get_context("spawn")
        self._pool = ctx.Pool(procs, initializer=_load, initargs=(pages_dir,))
        n = pq.read_table(pages_dir, columns=[]).num_rows
        self._ranges = [(lo, min(lo + CHUNK, n)) for lo in range(0, n, CHUNK)]

    def run(self):
        t0 = time.perf_counter()
        parts = self._pool.map(_parse_range, self._ranges, chunksize=1)
        wall = time.perf_counter() - t0
        return (wall, sum(cpu for _sum, cpu in parts),
                sum(checksum for checksum, _cpu in parts))

    def close(self):
        self._pool.close()
        self._pool.join()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()
