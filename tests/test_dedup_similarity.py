"""Dedup + similarity operator tests on small controlled inputs."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from docvault_ocr_service_spark.operators.dedup import (
    exact_dedup, minhash_lsh_pairs, minhash_signatures, ngram_jaccard_pairs,
    simhash64, simhash_near_pairs)
from docvault_ocr_service_spark.operators.similarity import (
    brute_force_topk, embedding_near_dup_pairs, lsh_topk)

_BASE = ("the quick brown fox jumps over the lazy dog while seventeen "
         "sleepy badgers watch from a mossy log near the winding river "
         "and the evening light fades slowly over distant purple hills")
DOCS = [
    (1, _BASE),
    (2, _BASE),
    (3, _BASE.replace("dog", "cat")),  # 1-token diff of 31 → J ≈ 0.91
    (4, "completely different content about spark dataframes and shuffles"),
    (5, "another unrelated text mentioning parquet files and columns"),
    (6, ""),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_exact_dedup(spark, docs_df):
    groups = exact_dedup(docs_df, "doc_id", "text")
    by_keeper = {r["keeper_id"]: r["dup_count"] for r in groups.collect()}
    assert by_keeper[1] == 2      # docs 1,2 identical
    assert by_keeper[3] == 1


def test_minhash_signature_deterministic(spark, docs_df):
    s1 = {r["doc"]: r["signature"] for r in
          minhash_signatures(docs_df, "doc_id", "text").collect()}
    s2 = {r["doc"]: r["signature"] for r in
          minhash_signatures(docs_df.repartition(4), "doc_id",
                             "text").collect()}
    assert s1 == s2
    assert s1[1] == s1[2]          # identical text → identical signature
    assert s1[1] != s1[4]


def test_minhash_finds_near_dups(spark, docs_df):
    pairs = {(r["a"], r["b"]): r["est_jaccard"] for r in
             minhash_lsh_pairs(docs_df, "doc_id", "text",
                               min_jaccard=0.5).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs or (2, 3) in pairs  # one-word-diff near dup
    assert (1, 4) not in pairs


def test_ngram_jaccard_exact_values(spark, docs_df):
    cand = spark.createDataFrame([(1, 2), (1, 3), (1, 4)], ["a", "b"])
    j = {(r["a"], r["b"]): r["jaccard"] for r in
         ngram_jaccard_pairs(docs_df, cand, "doc_id", "text").collect()}
    assert j[(1, 2)] == 1.0
    assert 0.0 < j[(1, 3)] < 1.0
    assert j[(1, 4)] == 0.0


def test_simhash_deterministic_and_blocking(spark, docs_df):
    h = {r["doc"]: r["simhash"] for r in
         simhash64(docs_df, "doc_id", "text").collect()}
    assert h[1] == h[2]
    assert h[6] == 0  # empty text
    pairs = {(r["a"], r["b"]): r["hamming"] for r in
             simhash_near_pairs(docs_df, "doc_id", "text",
                                max_hamming=8).collect()}
    assert pairs[(1, 2)] == 0
    # near-dup should be close in hamming
    if (1, 3) in pairs:
        assert pairs[(1, 3)] <= 8


@pytest.fixture(scope="module")
def emb_df(spark):
    """Clustered embeddings (5 centers × 8 members + noise) — the data
    shape ANN indexes exist for; uniform random vectors have no neighbor
    structure and defeat any LSH."""
    rng = np.random.RandomState(7)
    centers = rng.normal(size=(5, 16))
    vecs = np.vstack([
        centers[i // 8] + 0.15 * rng.normal(size=16) for i in range(40)
    ])
    vecs[1] = vecs[0] + 0.001 * rng.normal(size=16)  # planted near-dup
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(40)]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_brute_force_topk_matches_numpy(spark, emb_df):
    rows = emb_df.collect()
    mat = np.array([r["embedding"] for r in rows])
    ids = np.array([r["vec_id"] for r in rows])
    q = emb_df.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    got = brute_force_topk(emb_df.where("vec_id != 0"), q, k=3)
    got_ids = [r["vec_id"] for r in got.orderBy("rank").collect()]

    norms = np.linalg.norm(mat, axis=1)
    cos = (mat @ mat[0]) / (norms * norms[0])
    order = [int(ids[i]) for i in np.argsort(-cos) if ids[i] != 0][:3]
    assert got_ids == order
    assert got_ids[0] == 1  # the planted near-dup is rank 1


def test_lsh_topk_recall(spark, emb_df):
    q = emb_df.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    corpus = emb_df.where(F.col("vec_id") >= 3)
    exact = brute_force_topk(corpus, q, k=3)
    approx = lsh_topk(corpus, q, k=3, dim=16, n_planes=4, n_tables=8,
                      n_probes=2)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.6  # clustered data: OR-amplified LSH finds most


def test_embedding_near_dups(spark, emb_df):
    pairs = embedding_near_dup_pairs(emb_df, dim=16, id_col="vec_id",
                                     min_cosine=0.999)
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    assert (0, 1) in got


def test_minhash_incremental(spark, docs_df):
    from docvault_ocr_service_spark.operators.dedup import (
        minhash_dedup_incremental)

    # batch 1, no index: docs 1,2 identical -> 2 dropped, rest kept
    uniq1, pairs1 = minhash_dedup_incremental(
        docs_df, None, "doc_id", "text", min_jaccard=0.95)
    kept1 = {r["doc"] for r in uniq1.collect()}
    assert kept1 == {1, 3, 4, 5, 6}
    assert {(r["a"], r["b"]) for r in pairs1.collect()} == {(1, 2)}

    # batch 2 against the persisted index: a re-crawl of doc 1 (id 11,
    # dropped vs index), a fresh doc (12, kept), an in-batch exact dup
    # pair (13 < 14 -> 14 dropped)
    batch2 = spark.createDataFrame(
        [(11, _BASE), (12, "genuinely new page about iceberg manifests"),
         (13, "twin page body repeated verbatim for the pair test etc"),
         (14, "twin page body repeated verbatim for the pair test etc")],
        ["doc_id", "text"])
    uniq2, pairs2 = minhash_dedup_incremental(
        batch2, uniq1, "doc_id", "text", min_jaccard=0.95)
    assert {r["doc"] for r in uniq2.collect()} == {12, 13}
    got = {(r["a"], r["b"]) for r in pairs2.collect()}
    assert (1, 11) in got and (13, 14) in got
    assert all(b in (11, 14) for _, b in got)  # only new docs dropped

    # parameters pinned: index and batch signatures are comparable
    # (identical text across batches produced est_jaccard 1.0)
    ests = {(r["a"], r["b"]): r["est_jaccard"] for r in pairs2.collect()}
    assert ests[(1, 11)] == 1.0


def test_dedup_lines(spark):
    from docvault_ocr_service_spark.operators.dedup import dedup_lines

    boiler = "subscribe to our newsletter today"
    docs = spark.createDataFrame(
        [(1, f"{boiler}\nunique alpha body line\n--\n{boiler}"),
         (2, f"{boiler}\nunique beta body line\n--"),
         (3, "standalone gamma document"),
         (4, None),
         (5, "")],
        ["doc_id", "text"])
    out = {r["doc_id"]: r["clean_text"]
           for r in dedup_lines(docs, "doc_id", "text").collect()}
    # boilerplate (2 docs) removed everywhere, incl. its second
    # occurrence inside doc 1; short '--' lines always kept
    assert out[1] == "unique alpha body line\n--"
    assert out[2] == "unique beta body line\n--"
    assert out[3] == "standalone gamma document"
    assert out[4] is None         # null text passes through
    assert out[5] == ""           # empty line is short -> kept
    # a line repeated only WITHIN one doc is not boilerplate
    docs2 = spark.createDataFrame(
        [(1, "repeated inside\nrepeated inside"), (2, "other text")],
        ["doc_id", "text"])
    out2 = {r["doc_id"]: r["clean_text"]
            for r in dedup_lines(docs2, "doc_id", "text").collect()}
    assert out2[1] == "repeated inside\nrepeated inside"


def test_connected_components_and_canonical_dedup(spark, layouts):
    from docvault_ocr_service_spark.operators.dedup import (
        connected_components, dedup_keep_canonical)

    # two components: a 6-node chain (propagation depth) and a triangle
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6),
         (10, 11), (11, 12), (10, 12)], ["a", "b"])
    for layout in layouts():
        comp = {r["node"]: r["component"] for r in
                connected_components(edges).collect()}
        assert comp == {**dict.fromkeys((1, 2, 3, 4, 5, 6), 1),
                        **dict.fromkeys((10, 11, 12), 10)}, layout

    docs = spark.createDataFrame([(i, f"t{i}") for i in
                                  (1, 2, 3, 4, 5, 6, 10, 11, 12, 99)],
                                 ["doc_id", "text"])
    kept = {r["doc_id"] for r in
            dedup_keep_canonical(docs, edges, "doc_id").collect()}
    # chain members 2..6 dropped even though (1,6) was never a pair;
    # untouched doc 99 survives
    assert kept == {1, 10, 99}


def test_connected_components_long_chain_and_nonconvergence(spark):
    from docvault_ocr_service_spark.operators.dedup import (
        connected_components)

    # 30-node chain: pointer jumping converges in ~log2(30) rounds
    edges = spark.createDataFrame([(i, i + 1) for i in range(30)],
                                  ["a", "b"])
    comp = {r["node"]: r["component"] for r in
            connected_components(edges, max_iter=8).collect()}
    assert set(comp.values()) == {0}
    with pytest.raises(RuntimeError):
        connected_components(edges, max_iter=1)


def test_dedup_paragraphs_variant(spark):
    from docvault_ocr_service_spark.operators.dedup import dedup_lines

    boiler = "standard footer paragraph about cookies"
    docs = spark.createDataFrame(
        [(1, f"unique alpha paragraph\n\n{boiler}"),
         (2, f"unique beta paragraph\n\n{boiler}")],
        ["doc_id", "text"])
    out = {r["doc_id"]: r["clean_text"] for r in
           dedup_lines(docs, "doc_id", "text", sep="\n\n").collect()}
    assert out[1] == "unique alpha paragraph"
    assert out[2] == "unique beta paragraph"


def test_filtered_topk_respects_predicate(spark):
    import numpy as np

    from docvault_ocr_service_spark.operators.similarity import (
        brute_force_topk, filtered_topk)

    rng = np.random.RandomState(9)
    rows = [(i, "even" if i % 2 == 0 else "odd",
             rng.normal(size=8).tolist()) for i in range(40)]
    df = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    queries = df.where("vec_id < 2").selectExpr(
        "vec_id as query_id", "label", "embedding")
    corpus = df.where("vec_id >= 2")
    got = filtered_topk(corpus, queries, k=4, filter_col="label").collect()
    # every neighbor shares the query's parity
    for r in got:
        assert (r["vec_id"] % 2 == 0) == (r["query_id"] % 2 == 0)
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    assert all(len(v) == 4 for v in by_q.values())
    # within the filtered subset the ranking equals brute force on it
    even_corpus = corpus.where("label = 'even'")
    want = {(r["query_id"], r["vec_id"], r["rank"])
            for r in brute_force_topk(
                even_corpus, queries.where("label = 'even'"), k=4).collect()}
    have = {(r["query_id"], r["vec_id"], r["rank"])
            for r in got if r["label"] == "even"}
    assert have == want


def test_strip_host_boilerplate(spark):
    """Host-scoped template chrome removal: per-host frequency, not
    global — a phrase shared across hosts is content and stays."""
    from docvault_ocr_service_spark.operators.dedup import (
        strip_host_boilerplate)

    shared = "A phrase appearing on every single host."
    rows = []
    for h, n in (("a", 4), ("b", 4), ("c", 2)):
        for i in range(n):
            rows.append((f"{h}{i}", f"{h}.example",
                         f"{h.upper()} MENU BAR LINE\n"
                         f"{shared}\n"
                         f"unique content {h}{i} right here\n"
                         f"{h.upper()} FOOTER COPYRIGHT LINE"))
    rows.append(("n0", "null.example", None))
    df = spark.createDataFrame(rows, ["doc_id", "host", "text"])
    got = {r["doc_id"]: r["clean_text"] for r in strip_host_boilerplate(
        df, "doc_id", "host", "text", max_page_frac=0.5).collect()}

    # hosts a/b (4 pages): menu+footer AND the 100%-frequency shared
    # phrase are that host's boilerplate
    assert got["a0"] == "unique content a0 right here"
    assert got["b3"] == "unique content b3 right here"
    # host c (2 pages < min_host_pages=3): untouched
    assert got["c0"].count("\n") == 3 and shared in got["c0"]
    assert got["n0"] is None


def test_anchor_text_index(spark):
    from docvault_ocr_service_spark.operators.linkgraph import (
        anchor_text_index)

    rows = [
        ("https://a/1",
         '<a href="https://t/x">Good <b>Page</b></a>'
         '<a href="https://t/x">good page</a>'
         "<a href='https://t/q'>single quoted works too</a>"),
        ("https://a/2",
         '<a href="https://t/x">Good Page</a>'
         '<a href="https://t/y">   </a>'
         '<a href="https://t/y">why</a>'),
        ("https://t/x", '<a href="https://t/x">self ignored</a>'),
    ]
    df = spark.createDataFrame(rows, ["url", "html_text"])
    got = {r["dst"]: r for r in anchor_text_index(df).collect()}
    x = got["https://t/x"]
    # nested tags stripped; case-distinct phrases counted separately
    assert x["n_inlinks"] == 3 and x["n_distinct_anchors"] == 2
    assert list(x["top_anchors"]) == ["Good Page", "good page"]
    y = got["https://t/y"]               # blank anchor dropped
    assert y["n_inlinks"] == 1 and list(y["top_anchors"]) == ["why"]
    q = got["https://t/q"]               # single-quoted href counted
    assert list(q["top_anchors"]) == ["single quoted works too"]


def test_dedup_keep_best(spark):
    """Quality-weighted canonical: the best-quality member of each
    component survives (chain members included), ties break by min id,
    singletons always survive."""
    from docvault_ocr_service_spark.operators.dedup import (
        dedup_keep_best)

    docs = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.5), (5, 0.4), (6, 0.4), (9, 0.1),
         (10, None)],
        "doc_id long, q double")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (9, 10)], ["a", "b"])
    kept = sorted(r["doc_id"] for r in
                  dedup_keep_best(docs, pairs, "doc_id", "q").collect())
    # {1,2,3} -> 2 (best q); {5,6} -> 5 (tie, min id);
    # {9,10} -> 9 (null q loses to any value)
    assert kept == [2, 5, 9], kept


def test_fuzzy_contamination(spark):
    """MinHash decontamination catches paraphrased benchmark items the
    exact 13-gram screen would miss."""
    from docvault_ocr_service_spark.operators.contamination import (
        decontaminate_fuzzy, fuzzy_contamination)

    base = ("the quick brown fox jumps over the lazy dog while seven "
            "wizards brew strong potions at midnight near the old "
            "stone bridge")
    corpus = spark.createDataFrame(
        [(1, base),
         (2, base.replace("lazy", "sleepy")),      # paraphrase
         (3, "completely different text about spark dataframes and "
             "shuffles in a big cluster far away")],
        ["doc_id", "text"])
    bench = spark.createDataFrame([(100, base)], ["bench_id", "text"])
    hits = {(r["doc_id"], r["bench_id"]): r["est_jaccard"]
            for r in fuzzy_contamination(corpus, bench,
                                         "doc_id", "text").collect()}
    assert hits[(1, 100)] == 1.0
    assert 0.5 < hits[(2, 100)] < 1.0
    assert (3, 100) not in hits
    kept = sorted(r["doc_id"] for r in decontaminate_fuzzy(
        corpus, bench, "doc_id", "text").collect())
    assert kept == [3]


def test_fuzzy_contamination_short_text_sentinels(spark):
    """Sub-shingle texts get the sentinel signature; two sentinels must
    NOT score as contamination."""
    from docvault_ocr_service_spark.operators.contamination import (
        fuzzy_contamination)

    corpus = spark.createDataFrame(
        [(1, "hi there"), (2, "a much longer document with plenty of "
                              "words to shingle properly today")],
        ["doc_id", "text"])
    bench = spark.createDataFrame([(100, "42")], ["bench_id", "text"])
    assert fuzzy_contamination(corpus, bench, "doc_id",
                               "text").count() == 0
