"""Traced kernel pass: the page kernel run single-threaded in this process
over a sample of the workload's own pages, with a span around every call
into each layer.

Spans are recorded from the benchmark's side: while a pass is traced, the
public functions of each layer module are replaced by wrappers that open a
span, and put back afterwards. The engine resolves these names at call time
(module attributes), so the real kernel runs unmodified inside the spans.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

__all__ = ["Tracer", "self_times", "kernel_pass", "LAYERS"]

# Extraction-kernel layers whose self time is reported with a share of the
# traced kernel time. Whatever no layer claims (batch assembly, per-doc
# bookkeeping, envelope JSON) is the unattributed remainder.
LAYERS = ("htmlkit.charset", "htmlkit.tokenizer", "extract.boilerplate",
          "extract.carriers", "rules.profiles", "extract.pdfkit")
_BATCH, _DOC = "job.pipeline.extract_batch_arrow", "job.pipeline.doc"
BATCH_ROWS = 32


class Tracer:
    """In-memory spans: [name, start_ns, end_ns, parent index, doc id]."""

    def __init__(self):
        self.spans = []
        self._stack = []
        self.doc = None

    @contextmanager
    def span(self, name):
        i = len(self.spans)
        self.spans.append([name, time.perf_counter_ns(), 0,
                           self._stack[-1] if self._stack else -1, self.doc])
        self._stack.append(i)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[i][2] = time.perf_counter_ns()

    def wrap(self, name, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def write(self, path):
        with open(path, "w") as f:
            for name, t0, t1, parent, doc in self.spans:
                f.write(json.dumps({"name": name, "start_ns": t0,
                                    "end_ns": t1, "parent": parent,
                                    "doc": doc}) + "\n")


def self_times(spans):
    """Self time per span name, in ns: each span's duration minus the part
    of it its direct children cover (children never overlap: one thread)."""
    child = [0] * len(spans)
    for name, t0, t1, parent, _doc in spans:
        if parent >= 0:
            child[parent] += t1 - t0
    out = {}
    for k, (name, t0, t1, _parent, _doc) in enumerate(spans):
        out[name] = out.get(name, 0) + (t1 - t0) - child[k]
    return out


@contextmanager
def _patched(tracer):
    """Swap each layer's public functions for traced wrappers."""
    from html_parser_spark.extract import boilerplate, carriers, pdfkit
    from html_parser_spark.htmlkit import charset, tokenizer
    from html_parser_spark.job import pipeline
    from html_parser_spark.rules import profiles

    targets = [(charset, "sniff_decode", "htmlkit.charset"),
               (tokenizer, "tokenize", "htmlkit.tokenizer"),
               (boilerplate, "text_and_scored", "extract.boilerplate"),
               (boilerplate, "select_content", "extract.boilerplate"),
               (profiles, "extract_page", "rules.profiles"),
               (pdfkit, "is_pdf", "extract.pdfkit"),
               (pdfkit, "extract_pdf_text", "extract.pdfkit")]
    targets += [(carriers, fn, "extract.carriers") for fn in carriers.__all__]
    saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in targets]
    one = pipeline._extract_one

    def doc_span(url, html):
        tracer.doc = url
        try:
            with tracer.span(_DOC):
                return one(url, html)
        finally:
            tracer.doc = None

    try:
        for (mod, attr, name), (_m, _a, fn) in zip(targets, saved):
            setattr(mod, attr, tracer.wrap(name, fn))
        pipeline._extract_one = doc_span
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)
        pipeline._extract_one = one


def _batches(pages):
    import pyarrow as pa
    out = []
    for k in range(0, len(pages), BATCH_ROWS):
        part = pages[k:k + BATCH_ROWS]
        out.append(pa.RecordBatch.from_pydict({
            "url": [p["url"] for p in part],
            "warc_ts": pa.array([p["warc_ts"] for p in part],
                                pa.timestamp("us", tz="UTC")),
            "html": pa.array([p["html"] for p in part], pa.binary()),
            "lang": [p["lang"] for p in part],
        }))
    return out


def _extract_all(batches, tracer=None):
    """Run ``extract_batch_arrow`` batch by batch; return (wall s, CPU s,
    sum of elapsed_us, n_nodes total, output batches)."""
    from html_parser_spark.job.pipeline import extract_batch_arrow
    wall = cpu = 0.0
    elapsed_us = nodes = 0
    outs = []
    for rb in batches:
        c0, t0 = time.process_time(), time.perf_counter()
        if tracer is None:
            out = list(extract_batch_arrow([rb]))
        else:
            with tracer.span(_BATCH):
                out = list(extract_batch_arrow([rb]))
        wall += time.perf_counter() - t0
        cpu += time.process_time() - c0
        for ob in out:
            elapsed_us += sum(ob.column("elapsed_us").to_pylist())
            nodes += sum(ob.column("n_nodes").to_pylist())
        outs.extend(out)
    return wall, cpu, elapsed_us, nodes, outs


def _timed_each(tracer, name, fn, items):
    """Run fn over items, one span each; return CPU seconds."""
    c0 = time.process_time()
    for doc, arg in items:
        tracer.doc = doc
        with tracer.span(name):
            fn(arg)
    tracer.doc = None
    return time.process_time() - c0


def kernel_pass(pages, chain_has_warc_links, calib_parse):
    """Measure the kernel on ``pages`` (dicts with url, warc_ts, html, lang,
    profile). Returns (per-layer metrics, tracer, extracted output rows).

    The WARC decode and link layers run on every workload so their cost on
    these pages is always known; they count toward the kernel-vs-calibration
    ratio only when the workload's job runs them (``chain_has_warc_links``).
    """
    from html_parser_spark.extract.links import links_of
    from html_parser_spark.htmlkit.charset import sniff_decode
    from html_parser_spark.sources.warc import (iter_warc_records,
                                                write_warc_record)

    n = len(pages)
    batches = _batches(pages)
    _extract_all(batches)  # imports, lazy set-up and allocator warm-up

    # Untraced passes before and after the traced one: the reference for
    # the tracing overhead, the CPU ratio and batch assembly.
    wall_u, cpu_u, elapsed_us, nodes, outs = _extract_all(batches)
    tracer = Tracer()
    with _patched(tracer):
        wall_t, _cpu_t, _e, _n, _o = _extract_all(batches, tracer)
    wall_u2, cpu_u2, elapsed_us2, _n, _o = _extract_all(batches)
    wall_u, cpu_u = (wall_u + wall_u2) / 2, (cpu_u + cpu_u2) / 2
    elapsed_us = (elapsed_us + elapsed_us2) / 2

    records = [(p["url"], write_warc_record(p["url"], bytes(p["html"])))
               for p in pages]
    warc_cpu = _timed_each(tracer, "sources.warc",
                           lambda rec: list(iter_warc_records(rec)), records)
    links_cpu = _timed_each(
        tracer, "extract.links",
        lambda raw: links_of(sniff_decode(raw)[0]),
        [(p["url"], bytes(p["html"])) for p in pages])
    selfs = self_times(tracer.spans)
    kernel_ns = sum(t1 - t0 for name, t0, t1, _p, _d in tracer.spans
                    if name == _BATCH)

    c0 = time.process_time()
    calib_parse([bytes(p["html"]) for p in pages])
    cal_cpu = time.process_time() - c0

    def ms(ns_total, docs):
        return ns_total / 1e6 / docs

    n_pdf = sum(1 for p in pages if p["profile"] == "pdf")
    html_kb = sum(len(p["html"]) for p in pages if p["profile"] != "pdf") / 1024
    m = {}
    for layer in LAYERS:
        docs = n_pdf if layer == "extract.pdfkit" else n
        m[f"{layer}.ms_per_doc"] = ms(selfs.get(layer, 0), max(docs, 1))
        m[f"{layer}.share"] = selfs.get(layer, 0) / kernel_ns
    rest = selfs.get(_BATCH, 0) + selfs.get(_DOC, 0)
    m["kernel.unattributed.share"] = rest / kernel_ns
    m["htmlkit.tokenizer.us_per_kb"] = (
        selfs.get("htmlkit.tokenizer", 0) / 1e3 / html_kb)
    m["htmlkit.tokenizer.nodes_per_doc"] = nodes / n
    m["job.pipeline.assembly_ms_per_doc"] = (wall_u - elapsed_us / 1e6) * 1e3 / n
    m["sources.warc.ms_per_doc"] = ms(selfs["sources.warc"], n)
    m["extract.links.ms_per_doc"] = ms(selfs["extract.links"], n)
    m["kernel.ms_per_doc"] = wall_u * 1e3 / n
    chain_cpu = cpu_u + (warc_cpu + links_cpu if chain_has_warc_links else 0)
    m["kernel.rel_docs_per_cpu_s"] = cal_cpu / chain_cpu
    m["kernel.trace_overhead"] = wall_t / wall_u
    rows = [r for ob in outs for r in ob.to_pylist()]
    return m, tracer, rows
