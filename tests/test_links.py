"""Outlink extraction (extract/links.py): anchor discovery through the
real tokenizer, rel token semantics, the never-fail kernel, and the
host-graph aggregation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from html_parser_spark.extract.links import (
    extract_links, host_link_graph, host_rank, links_of)


def test_links_of_basic_and_nested():
    html = ('<html><body>'
            '<a href="https://a.example/x">plain</a>'
            '<a href="/relative"><b>bold</b> and <i>nested</i> text</a>'
            '<a>no href at all</a>'
            '<a href="">empty href skipped</a>'
            '<p>not a link</p>'
            '</body></html>')
    got = links_of(html)
    assert [(l["href"], l["anchor"]) for l in got] == [
        ("https://a.example/x", "plain"),
        ("/relative", "bold and nested text"),
    ]


def test_links_of_rel_is_token_list_not_substring():
    html = ('<a href="u1" rel="nofollowme">a</a>'
            '<a href="u2" rel="external NOFOLLOW sponsored">b</a>'
            '<a href="u3" rel="nofollow">c</a>'
            '<a href="u4">d</a>')
    got = {l["href"]: l["nofollow"] for l in links_of(html)}
    assert got == {"u1": False, "u2": True, "u3": True, "u4": False}


def test_links_of_whitespace_collapse():
    got = links_of('<a href="u">  spread \n\t over   lines </a>')
    assert got[0]["anchor"] == "spread over lines"


def test_extract_links_never_fails_and_parses_synth(spark):
    from html_parser_spark.job import pipeline as P
    pages = P.synthesize_pages(spark, 12)
    junk = spark.createDataFrame(
        [("http://junk.example/", None, b"\x00\xff\xfe garbage <a",
          None, None)], P.PAGES_SCHEMA)
    rows = extract_links(pages.unionByName(junk)).collect()
    # junk page contributes nothing; synth pages parse without error
    assert all(r.src_url != "http://junk.example/" or r.href
               for r in rows)
    assert all(r.href for r in rows)


def test_host_link_graph_aggregation(spark):
    rows = [
        ("https://s1.example/a", "https://d1.example/x", "t", "", False),
        ("https://s1.example/b", "https://d1.example/y", "t", "", False),
        ("https://s1.example/c", "https://d2.example/z", "t",
         "nofollow", True),
        ("https://s1.example/d", "/relative/path", "t", "", False),
        ("https://s2.example/e", "https://s2.example/self", "t", "",
         False),
        ("https://s1.example/f", "HTTPS://D1.EXAMPLE/caps", "t", "",
         False),
    ]
    links = spark.createDataFrame(
        rows, "src_url string, href string, anchor string, rel string, "
              "nofollow boolean")
    got = {(r.src_host, r.dst_host): r.n_links
           for r in host_link_graph(links).collect()}
    # nofollow dropped, relative dropped, hosts lowercased, self-loop kept
    assert got == {("s1.example", "d1.example"): 3,
                   ("s2.example", "s2.example"): 1}
    with_nf = {(r.src_host, r.dst_host): r.n_links
               for r in host_link_graph(links,
                                        drop_nofollow=False).collect()}
    assert with_nf[("s1.example", "d2.example")] == 1


def test_host_rank_matches_reference_power_iteration(spark):
    """host_rank vs a pure-Python power iteration of the same spec
    (link-count-weighted transitions, uniform dangling redistribution,
    damping 0.85): per-host agreement to 1e-9, ranks a distribution,
    and the authority ordering is the expected one."""
    edges = [("a", "b", 2), ("a", "c", 1), ("b", "c", 1),
             ("c", "a", 1), ("d", "c", 3),
             ("c", "e", 1)]  # e has no outgoing edges → dangling mass
    g = spark.createDataFrame(
        edges, "src_host string, dst_host string, n_links long")
    got = {r.host: r.rank for r in
           host_rank(g, iterations=12, damping=0.85).collect()}

    hosts = sorted({h for e in edges for h in e[:2]})
    n = len(hosts)
    outw = {}
    for s, _, w in edges:
        outw[s] = outw.get(s, 0) + w
    rank = {h: 1.0 / n for h in hosts}
    for _ in range(12):
        dangling = sum(r for h, r in rank.items() if h not in outw)
        inflow = {h: 0.0 for h in hosts}
        for s, d, w in edges:
            inflow[d] += rank[s] * w / outw[s]
        base = 0.15 / n + 0.85 * dangling / n
        rank = {h: base + 0.85 * inflow[h] for h in hosts}

    assert set(got) == set(hosts)
    assert abs(sum(got.values()) - 1.0) < 1e-9
    for h in hosts:
        assert abs(got[h] - rank[h]) < 1e-9, (h, got[h], rank[h])
    # c receives from everyone → top authority; dangling e beats nothing
    assert got["c"] == max(got.values())


def test_host_rank_rounds_need_no_driver_round_trip(spark):
    """Each extra round starts fewer Spark jobs than the 12 it started
    when the dangling mass was collected to the driver every round (same
    session config); the mass is now a 1-row aggregate in the plan."""
    import uuid
    g = spark.createDataFrame(
        [("a", "b", 2), ("a", "c", 1), ("b", "c", 1), ("c", "a", 1),
         ("d", "c", 3), ("c", "e", 1)],
        "src_host string, dst_host string, n_links long")
    sc = spark.sparkContext

    def jobs(iterations):
        group = f"host-rank-{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, group)
        try:
            host_rank(g, iterations=iterations)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    one, two, three = jobs(1), jobs(2), jobs(3)
    assert two - one == three - two, (one, two, three)
    assert three - two <= 11, (one, two, three)


def test_host_rank_empty_graph(spark):
    g = spark.createDataFrame(
        [], "src_host string, dst_host string, n_links long")
    assert host_rank(g).collect() == []
