"""Link-graph extraction + PageRank over crawl corpora.

Why it belongs in a training-data engine: host-level link authority is a
standard crawl-curation signal (seed-list expansion, spam-host
down-weighting, crawl-frontier prioritization — the role OPIC/PageRank
plays in production crawlers).  The reference service has no graph stage
(it is per-document); this is one of the web-scale additions layered on
top of its extraction semantics.

Scale shape:

- link extraction is a native ``regexp_extract_all`` + ``explode`` —
  JVM-side, no Python;
- the host edge list aggregates once (map-side partial), and every
  PageRank iteration shuffles only (src_host → dst_host) contributions —
  rank state is one slim row per node, re-partitioned consistently by
  the join key, so iterations reuse the same hash partitioning;
- dangling mass is a single scalar agg per iteration (no collect of
  vectors, just one double).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.web import url_host
from . import tuning


HREF_RE = (r"""(?i)<a\s[^>]*?href\s*=\s*["']([^"'#][^"']*)["']""")


def extract_links(df: DataFrame, url_col: str = "url",
                  html_col: str = "html_text") -> DataFrame:
    """(page url, href) pairs from ANCHOR tags only — ``<link>`` hrefs
    (stylesheets, canonical, favicons) are navigation metadata, not
    outlinks, and would pollute the link graph's authority signal and
    burn frontier politeness slots.

    Columnar: ``regexp_extract_all`` runs in the JVM; one output row per
    href; tag name matched case-insensitively.  Relative links are kept
    verbatim (callers can resolve against ``src`` if needed);
    fragment-only links never match.
    """
    return df.select(
        F.col(url_col).alias("src"),
        F.explode(F.regexp_extract_all(
            F.col(html_col), F.lit(HREF_RE), 1)).alias("dst"),
    )


def host_edges(links: DataFrame) -> DataFrame:
    """(src, dst) url pairs → weighted host multigraph
    (src_host, dst_host, n_links), self-loops dropped (a host linking to
    itself carries no authority signal)."""
    e = links.select(
        url_host(F.col("src")).alias("src_host"),
        url_host(F.col("dst")).alias("dst_host"),
    ).where(F.col("src_host").isNotNull()
            & F.col("dst_host").isNotNull()
            & (F.col("src_host") != F.col("dst_host")))
    return e.groupBy("src_host", "dst_host") \
        .agg(F.count("*").alias("n_links"))


def pagerank(edges: DataFrame, damping: float = 0.85,
             iters: int = 5, node_col_out: str = "host") -> DataFrame:
    """Weighted PageRank over (src_host, dst_host, n_links) edges.

    Exact fixed-iteration form (the driver-gate oracle unrolls the same
    ``iters`` steps in SQL):

        r'(v) = (1-d)/N + d * ( Σ_{u→v} r(u)·w(u,v)/deg(u)
                                + Σ_{dangling u} r(u)/N )

    deg(u) = Σ_v w(u,v).  One scalar agg (dangling mass) + one slim
    (node, contribution) shuffle per iteration; rank state is a single
    row per node.  ``iters`` is fixed rather than convergence-tested so
    results are deterministic and SQL-twinnable; production callers loop
    to an L1-delta threshold instead.
    """
    spark = edges.sparkSession
    edges = edges.select(
        F.col("src_host").alias("src"),
        F.col("dst_host").alias("dst"),
        F.col("n_links").cast("double").alias("w")).persist()
    deg = edges.groupBy("src").agg(F.sum("w").alias("deg"))
    sources = edges.select(F.col("src").alias("node")).distinct()
    # nodes carry their dangling flag from birth: ONE setup action
    # yields n AND the dangling count (the former separate
    # nodes.count() + limit(1).count() pair), and the per-iteration
    # dangling-mass aggregation needs no extra join
    nodes = (edges.select(F.col("src").alias("node"))
             .union(edges.select(F.col("dst").alias("node")))
             .distinct()
             .join(sources.withColumn("__has_out", F.lit(True)),
                   "node", "left")
             .select("node", F.coalesce("__has_out", F.lit(False))
                     .alias("has_out"))
             .persist())
    counts = nodes.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("has_out"), 0).otherwise(1))
        .alias("n_dangling")).first()
    n = counts["n"]
    if n == 0:
        edges.unpersist()
        nodes.unpersist()
        return spark.createDataFrame(
            [], f"{node_col_out} string, rank double")
    base = (1.0 - damping) / n
    any_dangling = (counts["n_dangling"] or 0) > 0

    # (src, dst, w/deg): the per-link share of the source's rank
    # (materialized by the first iteration; no separate warm action)
    shares = (edges.join(deg, "src")
              .select("src", "dst", (F.col("w") / F.col("deg"))
                      .alias("share"))).persist()
    edges.unpersist()

    ranks = nodes.select("node", "has_out",
                         F.lit(1.0 / n).alias("rank")).persist()
    # checkpoint cadence: the no-dangling recurrence references the
    # previous rank frame ONCE, so a few lazy steps chain linearly and
    # one eager checkpoint per CADENCE steps bounds the plan while
    # paying the per-action driver latency 4x less often.  A dangling
    # graph references ranks twice per step (contribs + the dangling
    # mass scalar), which would double work per lazy level — those
    # keep the per-step checkpoint.
    cadence = 1 if any_dangling else 4
    with tuning.iteration_shuffles(spark, n):
        for it in range(iters):
            contribs = (shares.join(ranks, shares["src"] == ranks["node"])
                        .groupBy("dst")
                        .agg(F.sum(F.col("rank") * F.col("share"))
                             .alias("contrib")))
            new_ranks = nodes.join(contribs,
                                   nodes["node"] == contribs["dst"], "left")
            if any_dangling:
                # dangling mass as a broadcast one-row scalar instead of a
                # per-iteration driver first(): same double arithmetic
                # (sum, then the same /n division), one less action per
                # iteration
                dang = ranks.where(~F.col("has_out")).agg(
                    F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dm"))
                extra = F.col("__dm") / F.lit(float(n))
                new_ranks = new_ranks.crossJoin(F.broadcast(dang))
            else:
                extra = F.lit(0.0)
            new_ranks = (new_ranks
                         .select(
                             "node", "has_out",
                             (F.lit(base)
                              + F.lit(damping)
                              * (F.coalesce(F.col("contrib"), F.lit(0.0))
                                 + extra)).alias("rank"))
                         )
            if (it + 1) % cadence == 0 or it == iters - 1:
                # localCheckpoint, not persist: truncates the plan
                # (linear growth here, but the same AQE plan-string
                # cost hits() documents)
                new_ranks = new_ranks.localCheckpoint(eager=True)
            ranks.unpersist()
            ranks = new_ranks

    out = ranks.select(F.col("node").alias(node_col_out), "rank")
    shares.unpersist()
    nodes.unpersist()
    return out


def hits(edges: DataFrame, iters: int = 5,
         node_col_out: str = "host") -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) over the weighted host
    multigraph (src_host, dst_host, n_links) — the complementary
    authority signal to ``pagerank`` (good hubs find good content;
    good authorities deserve crawl priority).

    Fixed-iteration, L1-normalized form (each vector divided by its
    SUM rather than the classical L2 norm — identical ranking, and
    the SQL oracle can replay the arithmetic without sqrt):

        auth'(v) = Σ_{u→v} w(u,v) · hub(u)     then auth' /= Σ auth'
        hub'(u)  = Σ_{u→v} w(u,v) · auth'(v)   then hub'  /= Σ hub'

    Scale shape mirrors ``pagerank``: per iteration two slim
    (node, score) shuffles plus two scalar norm aggs; state is one
    row per node, starting from uniform hub = 1/N.  Each half-step is
    ``localCheckpoint``-ed — hits alternates TWO mutually-recursive
    join+agg layers per iteration (vs pagerank's one), and without
    truncation the nested adaptive plans make plan-string generation
    (emitted with every execution event) super-linear in iteration
    count; checkpointing keeps the per-step plan O(1) like the BPE
    trainer's round loop.
    """
    spark = edges.sparkSession
    e = edges.select(F.col("src_host").alias("src"),
                     F.col("dst_host").alias("dst"),
                     F.col("n_links").cast("double").alias("w")) \
        .persist()
    nodes = (e.select(F.col("src").alias("node"))
             .union(e.select(F.col("dst").alias("node")))
             .distinct().localCheckpoint(eager=True))
    n = nodes.count()
    if n == 0:
        e.unpersist()
        return spark.createDataFrame(
            [], f"{node_col_out} string, hub double, auth double")

    hub = nodes.select("node", F.lit(1.0 / n).alias("hub")) \
        .localCheckpoint(eager=True)
    auth = hub.select("node", F.lit(0.0).alias("auth"))
    with tuning.iteration_shuffles(spark, n):
        for _ in range(iters):
            raw_a = (e.join(hub, e["src"] == hub["node"])
                     .groupBy("dst")
                     .agg(F.sum(F.col("w") * F.col("hub")).alias("s")))
            auth_un = (nodes.join(raw_a, nodes["node"] == raw_a["dst"],
                                  "left")
                       .select("node",
                               F.coalesce(F.col("s"), F.lit(0.0))
                               .alias("s"))
                       .localCheckpoint(eager=True))
            # L1 norm as a broadcast one-row scalar instead of a driver
            # first() per half-step: nullif/coalesce replays the
            # ``tot if tot else 1.0`` guard (0.0/-0.0/null → 1.0, NaN
            # stays NaN), same double division — two fewer actions per
            # iteration
            tot_a = auth_un.agg(
                F.coalesce(F.nullif(F.sum("s"), F.lit(0.0)), F.lit(1.0))
                .alias("__t"))
            auth = (auth_un.crossJoin(F.broadcast(tot_a))
                    .select("node",
                            (F.col("s") / F.col("__t")).alias("auth")))
            raw_h = (e.join(auth, e["dst"] == auth["node"])
                     .groupBy("src")
                     .agg(F.sum(F.col("w") * F.col("auth")).alias("s")))
            hub_un = (nodes.join(raw_h, nodes["node"] == raw_h["src"],
                                 "left")
                      .select("node",
                              F.coalesce(F.col("s"), F.lit(0.0))
                              .alias("s"))
                      .localCheckpoint(eager=True))
            tot_h = hub_un.agg(
                F.coalesce(F.nullif(F.sum("s"), F.lit(0.0)), F.lit(1.0))
                .alias("__t"))
            hub = (hub_un.crossJoin(F.broadcast(tot_h))
                   .select("node",
                           (F.col("s") / F.col("__t")).alias("hub")))

    out = (hub.join(auth, "node")
           .select(F.col("node").alias(node_col_out), "hub", "auth"))
    e.unpersist()
    return out


# backreference covers both quote styles, matching HREF_RE's behavior
ANCHOR_RE = (r"(?is)<a\b[^>]*href\s*=\s*([\"'])([^\"'#][^\"']*)\1"
             r"[^>]*>(.*?)</a>")


def extract_links_with_text(df: DataFrame, url_col: str = "url",
                            html_col: str = "html_text") -> DataFrame:
    """(src, dst, anchor) triples — like ``extract_links`` but keeping
    the anchor's inner text (tags stripped, entities left as-is,
    whitespace collapsed).  Anchor text is the classic inlink
    description signal: search indexing, label propagation, and
    link-context training data all aggregate it per target.

    Columnar: two regexp_extract_all passes over the same pattern
    (href group, text group) zipped positionally — no Python."""
    hrefs = F.regexp_extract_all(F.col(html_col), F.lit(ANCHOR_RE), 2)
    texts = F.regexp_extract_all(F.col(html_col), F.lit(ANCHOR_RE), 3)
    pairs = F.zip_with(hrefs, texts,
                       lambda h, t: F.struct(h.alias("dst"),
                                             t.alias("raw")))
    out = df.select(F.col(url_col).alias("src"),
                    F.explode(pairs).alias("p"))
    anchor = F.btrim(F.regexp_replace(F.regexp_replace(
        F.col("p.raw"), r"(?s)<[^>]*>", " "), r"\s+", " "))
    return out.select("src", F.col("p.dst").alias("dst"),
                      anchor.alias("anchor"))


def anchor_text_index(pages: DataFrame, url_col: str = "url",
                      html_col: str = "html_text",
                      top_k: int = 3) -> DataFrame:
    """Per-target inlink anchor index: (dst, n_inlinks,
    n_distinct_anchors, top_anchors array) — aggregated over every
    page's outlinks, self-links excluded, empty anchors dropped.

    Scale shape: one shuffle on (dst, anchor) for the phrase counts,
    one on dst for the rollup; anchor strings are short, rows slim.
    Top-k per target via a count-desc window (deterministic
    lexicographic tie-break)."""
    from pyspark.sql import Window

    links = (extract_links_with_text(pages, url_col, html_col)
             .where((F.col("anchor") != "")
                    & (F.col("src") != F.col("dst"))))
    counts = (links.groupBy("dst", "anchor")
              .agg(F.count("*").alias("n")))
    w = Window.partitionBy("dst").orderBy(F.desc("n"), "anchor")
    top = (counts.withColumn("__rk", F.row_number().over(w))
           .where(F.col("__rk") <= top_k)
           .groupBy("dst")
           .agg(F.array_sort(F.collect_list(
                F.struct("__rk", "anchor"))).alias("__t"))
           .select("dst", F.transform("__t", lambda s: s["anchor"])
                   .alias("top_anchors")))
    roll = (links.groupBy("dst")
            .agg(F.count("*").alias("n_inlinks"),
                 F.count_distinct("anchor").alias("n_distinct_anchors")))
    return roll.join(top, "dst")
