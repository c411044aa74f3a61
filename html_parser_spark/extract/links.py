"""Outlink extraction: the crawl-graph surface of the pages table.

Every crawl pipeline needs the link graph — frontier expansion, host-level
weighting (harmonic/PageRank-style), spam-cluster detection — and it comes
from the same flat-DOM parse the extractor already does: one map-only pass
emits (src_url, href, anchor, rel, nofollow) per ``<a href>`` node, and a
single combinable groupBy turns that into the host→host edge list.

100 TB shape: `extract_links` is mapInPandas over (url, html) — page bytes
never shuffle; `host_link_graph` shuffles only (src_host, dst_host) int/str
pairs, map-side combined, so a page with 10⁴ same-host links collapses to
one row per map task before the exchange.
"""

from __future__ import annotations

from typing import Iterator, Optional

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BooleanType, StringType, StructField, StructType,
)

from .._worker import prepare_worker

__all__ = ["links_of", "extract_links", "host_link_graph", "host_rank",
           "LINKS_SCHEMA"]

LINKS_SCHEMA = StructType([
    StructField("src_url", StringType()),
    StructField("href", StringType()),
    StructField("anchor", StringType()),
    StructField("rel", StringType()),
    StructField("nofollow", BooleanType()),
])


def links_of(html: str) -> list[dict]:
    """All ``<a href>`` anchors of one page, document order: href as
    written (no resolution — URL joining is a relational concern,
    urlops), whitespace-collapsed anchor text, rel attribute, and the
    nofollow flag (rel is a space-separated token list per the HTML
    spec, so substring matching would false-positive on e.g.
    ``rel="nofollowme"``)."""
    from ..htmlkit.tokenizer import tokenize
    dom = tokenize(html)
    out = []
    for i, tag in enumerate(dom.tags):
        if tag != "a":
            continue
        href = dom.attr(i, "href")
        if href is None or href == "":
            continue
        rel = dom.attr(i, "rel") or ""
        out.append({
            "href": href,
            "anchor": " ".join(dom.node_text(i).split()),
            "rel": rel,
            "nofollow": "nofollow" in rel.lower().split(),
        })
    return out


def _links_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    prepare_worker()
    from ..htmlkit.charset import sniff_decode
    for b in batches:
        out = {f.name: [] for f in LINKS_SCHEMA.fields}
        for url, payload in zip(b["url"], b["html"]):
            if payload is None:
                continue
            try:
                html, _enc = sniff_decode(bytes(payload))
                for ln in links_of(html):
                    out["src_url"].append(url)
                    out["href"].append(ln["href"])
                    out["anchor"].append(ln["anchor"])
                    out["rel"].append(ln["rel"])
                    out["nofollow"].append(ln["nofollow"])
            except Exception:  # noqa: BLE001 — never-fail: linkless page
                continue
        yield pd.DataFrame(out)


def extract_links(pages: DataFrame) -> DataFrame:
    """(url, html) → one row per anchor. Map-only Arrow-batched parse
    (the same tokenizer the extractor uses); a page that fails to parse
    contributes no link rows rather than failing the job — a missing
    page's outlinks are exactly what a real frontier loses when a fetch
    is corrupt."""
    return pages.select("url", "html").mapInPandas(
        _links_batch, LINKS_SCHEMA)


def _host(col):
    """Host of an absolute http(s) URL, JVM-side (no UDF)."""
    return F.lower(F.regexp_extract(col, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)", 1))


def host_link_graph(links: DataFrame,
                    drop_nofollow: bool = True) -> DataFrame:
    """Host→host edge list with link counts:
    (src_host, dst_host, n_links). Self-loops (same host) are kept —
    intra-host link density is itself a spam signal; filter downstream
    if unwanted. Relative hrefs (no scheme) have no dst host and are
    dropped. One combinable groupBy — the only Exchange."""
    e = links
    if drop_nofollow:
        e = e.where(~F.col("nofollow"))
    return (e.select(_host(F.col("src_url")).alias("src_host"),
                     _host(F.col("href")).alias("dst_host"))
            .where((F.col("src_host") != "") & (F.col("dst_host") != ""))
            .groupBy("src_host", "dst_host")
            .agg(F.count(F.lit(1)).alias("n_links")))


def host_rank(graph: DataFrame, iterations: int = 10,
              damping: float = 0.85) -> DataFrame:
    """PageRank-style host weighting over the (src_host, dst_host,
    n_links) edge list → (host, rank), ranks summing to 1. The standard
    corpus-curation signal: sample/filter documents by their host's
    link authority.

    Plan shape per iteration (the crawl-scale contract): one keyed join
    of edges to current ranks + one combinable groupBy on dst — rank
    rows are (host, double) pairs, never wider; edge weights are
    link-count proportional (a host linking another 100× counts 100×,
    normalized by its total outgoing count). Dangling mass (hosts with
    no outlinks) is redistributed uniformly each round via one scalar
    aggregate, so ranks stay a probability distribution. Ranks are
    ``localCheckpoint``-ed per round (plan stays O(1) deep — same
    pattern as ``dedup_clusters``); on a real cluster swap in
    ``.checkpoint()`` for executor-loss-safe truncation."""
    from html_parser_spark.functions import cacheutil

    edges = graph.select("src_host", "dst_host",
                         F.col("n_links").cast("double").alias("w"))
    outw = edges.groupBy("src_host").agg(F.sum("w").alias("out_w"))
    # transition weight src→dst = n_links / total outgoing links
    trans = (edges.join(outw, "src_host")
             .select("src_host", "dst_host",
                     (F.col("w") / F.col("out_w")).alias("p"))
             .localCheckpoint())
    hosts = (edges.select(F.col("src_host").alias("host"))
             .unionByName(edges.select(F.col("dst_host").alias("host")))
             .distinct().localCheckpoint())
    n = hosts.count()
    if n == 0:
        return hosts.withColumn("rank", F.lit(0.0))
    ranks = hosts.withColumn("rank", F.lit(1.0 / n)).localCheckpoint()
    src_set = trans.select(F.col("src_host").alias("host")).distinct()
    for _ in range(iterations):
        # mass sitting on dangling hosts (no outgoing edges) this round
        dangling = (ranks.join(src_set, "host", "left_anti")
                    .agg(F.sum("rank")).collect()[0][0]) or 0.0
        contrib = (trans.join(ranks.withColumnRenamed("host", "src_host"),
                              "src_host")
                   .groupBy("dst_host")
                   .agg(F.sum(F.col("p") * F.col("rank")).alias("inflow"))
                   .withColumnRenamed("dst_host", "host"))
        base = (1.0 - damping) / n + damping * dangling / n
        new_ranks = (hosts.join(contrib, "host", "left")
                     .select("host",
                             (F.lit(base) + F.lit(damping)
                              * F.coalesce("inflow", F.lit(0.0)))
                             .alias("rank"))
                     .localCheckpoint())
        cacheutil.release_local_checkpoint(ranks)
        ranks = new_ranks
    cacheutil.release_local_checkpoint(trans)
    cacheutil.release_local_checkpoint(hosts)
    return ranks
