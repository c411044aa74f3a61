"""Correctness gate: every output row is compared with what the synth
corpus says it must be. Nothing here trusts the engine: expected envelopes
come from ``synth.golden_envelope`` (computed from the payload, never by
parsing), page bytes from the corpus files, and the expected host link
graph from the stdlib ``HTMLParser``.
"""

from __future__ import annotations

import json
import re
from collections import Counter
from dataclasses import dataclass, field
from html.parser import HTMLParser

__all__ = ["Gate", "check_extracted", "check_pages", "check_host_graph",
           "expected_host_graph", "page_links"]

_MAX_EXAMPLES = 5


@dataclass
class Gate:
    """Rows attempted and failed, with a few failure examples."""
    attempted: int = 0
    failed: int = 0
    examples: list = field(default_factory=list)

    def record(self, ok, what):
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.examples) < _MAX_EXAMPLES:
                self.examples.append(what)

    def merge(self, other):
        self.attempted += other.attempted
        self.failed += other.failed
        self.examples.extend(other.examples[:_MAX_EXAMPLES - len(self.examples)])

    @property
    def failed_share(self):
        return self.failed / self.attempted if self.attempted else 1.0


def _expected_row_ok(row, profile, golden):
    status = row["status"]
    if profile == "pdf":
        return row["profile"] == "pdf" and status == "ok"
    if profile == "error":
        return status in ("no_rule", "error")
    if status != "ok" or golden is None or row["envelope"] is None:
        return False
    return json.loads(row["envelope"]) == golden


def check_extracted(rows, corpus, urls=None):
    """Extraction output: one row per page; each golden page ``ok`` with its
    exact envelope, planted error pages ``no_rule`` or ``error``, PDFs
    ``ok`` under the ``pdf`` profile. Missing, duplicate and unknown rows
    fail. ``rows`` are mappings with url, profile, status and envelope;
    ``urls`` limits the expected pages to a sample of the corpus."""
    meta = corpus.meta
    want = {u: k for k, u in enumerate(meta["urls"])}
    if urls is not None:
        want = {u: want[u] for u in urls}
    gate, seen = Gate(), set()
    for row in rows:
        url = row["url"]
        k = want.get(url)
        if k is None or url in seen:
            gate.record(False, f"unexpected or duplicate row {url!r}")
            continue
        seen.add(url)
        ok = _expected_row_ok(row, meta["profiles"][k], meta["goldens"][k])
        gate.record(ok, f"{url}: status={row['status']} "
                        f"profile={row['profile']}")
    for url in want.keys() - seen:
        gate.record(False, f"missing row {url}")
    return gate


def check_pages(rows, corpus):
    """Pages read back out of a container: every page exactly once, the
    md5 of its html bytes (hex, as Spark's ``md5`` gives it) equal to that
    of the bytes written."""
    meta = corpus.meta
    want = dict(zip(meta["urls"], meta["md5"]))
    gate, seen = Gate(), set()
    for row in rows:
        url = row["url"]
        ok = (url in want and url not in seen and row["md5"] == want[url])
        seen.add(url)
        gate.record(ok, f"page bytes differ or unexpected: {url!r}")
    for url in want.keys() - seen:
        gate.record(False, f"missing page {url}")
    return gate


def check_host_graph(rows, corpus):
    """Host link graph: exactly the expected (src_host, dst_host, n_links)
    edges. One attempt per expected edge, one failure per wrong, missing
    or extra edge."""
    want = {(s, d): n for s, d, n in corpus.meta["host_graph"]}
    got = {}
    gate = Gate()
    for row in rows:
        key = (row["src_host"], row["dst_host"])
        if key in got:
            gate.record(False, f"duplicate edge {key}")
        got[key] = row["n_links"]
    for key, n in want.items():
        gate.record(got.get(key) == n, f"edge {key}: {got.get(key)} != {n}")
    for key in got.keys() - want.keys():
        gate.record(False, f"unexpected edge {key}")
    return gate


# Same host rule as the engine's JVM-side expression: scheme://host, no
# port, userinfo-free; relative hrefs have no host and are dropped.
_HOST = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)")


def _host(url):
    m = _HOST.match(url)
    return m.group(1).lower() if m else ""


class _Anchors(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.hrefs = []

    def handle_starttag(self, tag, attrs):
        if tag != "a":
            return
        a = dict(attrs)
        href = a.get("href")
        if href and "nofollow" not in (a.get("rel") or "").lower().split():
            self.hrefs.append(href)


def page_links(html):
    """Followable ``<a href>`` values of one page, document order."""
    p = _Anchors()
    p.feed(bytes(html).decode("utf-8", errors="replace"))
    p.close()
    return p.hrefs


def expected_host_graph(pages):
    """[[src_host, dst_host, n_links]] over (url, html) pages, sorted."""
    edges = Counter()
    for url, html in pages:
        src = _host(url)
        for href in page_links(html):
            dst = _host(href)
            if src and dst:
                edges[(src, dst)] += 1
    return [[s, d, n] for (s, d), n in sorted(edges.items())]
