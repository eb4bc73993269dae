"""Link-graph extraction + PageRank: columnar href extraction, weighted
host multigraph, fixed-iteration PageRank vs a pure-Python reference
(incl. dangling-mass redistribution)."""

import pytest
from pyspark.sql import functions as F

from docvault_ocr_service_spark.operators.linkgraph import (
    extract_links, host_edges, pagerank)


def test_extract_links_and_host_edges(spark):
    rows = [
        ("https://a.example/p1",
         '<a href="https://b.example/x">b</a> '
         "<a href='https://c.example/y?q=1'>c</a> "
         '<a href="#frag">skip</a> <a href="https://a.example/self">s</a>'),
        ("https://b.example/p2",
         '<A HREF="https://a.example/z">back</A> no links here'),
        ("https://c.example/p3",
         'plain text, zero anchors, and a head link '
         '<link rel="stylesheet" href="https://cdn.example/site.css">'),
    ]
    df = spark.createDataFrame(rows, ["url", "html_text"])
    links = extract_links(df)
    got = {(r["src"], r["dst"]) for r in links.collect()}
    # fragment-only href never matches; tag matching is case-insensitive
    assert ("https://a.example/p1", "https://b.example/x") in got
    assert ("https://a.example/p1", "https://c.example/y?q=1") in got
    assert ("https://a.example/p1", "#frag") not in got
    assert ("https://b.example/p2", "https://a.example/z") in got
    # <link> hrefs are NOT outlinks (stylesheets/canonical/favicons)
    assert all(d != "https://cdn.example/site.css" for _, d in got)

    edges = host_edges(links)
    e = {(r["src_host"], r["dst_host"]): r["n_links"]
         for r in edges.collect()}
    assert e[("a.example", "b.example")] == 1
    assert e[("a.example", "c.example")] == 1
    assert ("a.example", "a.example") not in e          # self-loop dropped


def _py_pagerank(edges, damping=0.85, iters=5):
    """Plain-Python reference: same fixed-iteration formula."""
    nodes = sorted({u for u, _, _ in edges} | {v for _, v, _ in edges})
    deg = {}
    for u, _, w in edges:
        deg[u] = deg.get(u, 0.0) + w
    n = len(nodes)
    r = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        dangling = sum(r[v] for v in nodes if v not in deg)
        contrib = {v: 0.0 for v in nodes}
        for u, v, w in edges:
            contrib[v] += r[u] * (w / deg[u])
        r = {v: (1 - damping) / n
             + damping * (contrib[v] + dangling / n) for v in nodes}
    return r


def test_pagerank_matches_python_reference(spark, layouts):
    # c is dangling (no out-edges); multigraph weight on a->b
    edges = [("a", "b", 3.0), ("a", "c", 1.0), ("b", "c", 1.0),
             ("d", "a", 1.0), ("b", "d", 2.0)]
    df = spark.createDataFrame(edges,
                               ["src_host", "dst_host", "n_links"])
    want = _py_pagerank(edges, iters=5)
    for layout in layouts():
        got = {r["host"]: r["rank"]
               for r in pagerank(df, iters=5).collect()}
        assert set(got) == set(want), layout
        for v in want:
            assert got[v] == pytest.approx(want[v], abs=1e-12), layout
        # ranks form a probability distribution (dangling mass conserved)
        assert sum(got.values()) == pytest.approx(1.0, abs=1e-9), layout


def test_pagerank_authority_ordering(spark):
    # hub h links to x,y; everyone links to s => s outranks x,y
    edges = [("h", "x", 1.0), ("h", "y", 1.0), ("x", "s", 1.0),
             ("y", "s", 1.0), ("h", "s", 1.0)]
    df = spark.createDataFrame(edges,
                               ["src_host", "dst_host", "n_links"])
    got = {r["host"]: r["rank"] for r in pagerank(df, iters=10).collect()}
    assert got["s"] > got["x"] and got["s"] > got["y"]


def test_pagerank_empty(spark):
    df = spark.createDataFrame([], "src_host string, dst_host string, "
                                   "n_links long")
    assert pagerank(df).count() == 0


def _py_hits(edges, iters):
    nodes = sorted({u for u, _, _ in edges} | {v for _, v, _ in edges})
    hub = {v: 1.0 / len(nodes) for v in nodes}
    auth = {v: 0.0 for v in nodes}
    for _ in range(iters):
        auth = {v: sum(w * hub[u] for u, d, w in edges if d == v)
                for v in nodes}
        t = sum(auth.values()) or 1.0
        auth = {v: a / t for v, a in auth.items()}
        hub = {u: sum(w * auth[d] for s, d, w in edges if s == u)
               for u in nodes}
        t = sum(hub.values()) or 1.0
        hub = {u: h / t for u, h in hub.items()}
    return hub, auth


def test_hits_matches_python_reference(spark, layouts):
    from docvault_ocr_service_spark.operators.linkgraph import hits

    edges = [("a", "b", 3.0), ("a", "c", 1.0), ("b", "c", 1.0),
             ("d", "a", 1.0), ("b", "d", 2.0)]
    df = spark.createDataFrame(edges,
                               ["src_host", "dst_host", "n_links"])
    hub, auth = _py_hits(edges, iters=4)
    for layout in layouts():
        got = {r["host"]: (r["hub"], r["auth"])
               for r in hits(df, iters=4).collect()}
        assert set(got) == set(hub), layout
        for v in hub:
            assert got[v][0] == pytest.approx(hub[v], abs=1e-12), layout
            assert got[v][1] == pytest.approx(auth[v], abs=1e-12), layout
        # L1 normalization: both vectors sum to 1
        assert sum(h for h, _ in got.values()) \
            == pytest.approx(1.0, 1e-9), layout
        assert sum(a for _, a in got.values()) \
            == pytest.approx(1.0, 1e-9), layout


def test_hits_hub_vs_authority_roles(spark):
    from docvault_ocr_service_spark.operators.linkgraph import hits

    # h links to every authority; s is linked by everyone: h should be
    # the top hub with near-zero authority, s the top authority with
    # zero hub score
    edges = [("h", "x", 1.0), ("h", "y", 1.0), ("h", "s", 1.0),
             ("x", "s", 1.0), ("y", "s", 1.0)]
    df = spark.createDataFrame(edges,
                               ["src_host", "dst_host", "n_links"])
    got = {r["host"]: (r["hub"], r["auth"])
           for r in hits(df, iters=8).collect()}
    assert got["h"][0] == max(h for h, _ in got.values())
    assert got["s"][1] == max(a for _, a in got.values())
    assert got["s"][0] == 0.0          # s has no out-links
    assert got["h"][1] == 0.0          # nothing links to h


def test_hits_empty(spark):
    from docvault_ocr_service_spark.operators.linkgraph import hits

    df = spark.createDataFrame([], "src_host string, dst_host string, "
                                   "n_links long")
    assert hits(df).count() == 0
