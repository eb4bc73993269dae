"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale notes (the part that matters at 100 TB):

- **exact**: one shuffle on the content hash; map-side partial agg makes
  the shuffle carry (hash → min_id, count) pairs, not documents.
- **minhash_lsh**: signatures are computed in one vectorized numpy pass
  per Arrow batch (no per-row Python beyond tokenization); candidate
  generation explodes each doc into ``n_bands`` small (band, band_hash)
  keys — the self-join is on those keys, so shuffle volume is
  O(docs × bands × 8 bytes), independent of document size.  Verification
  (exact Jaccard on shingle sets) runs only on candidate pairs.
- **simhash**: 64-bit signature per doc; near-dup candidates via the
  pigeonhole blocking join (split the hash into ``hamming_budget + 1``
  segments; a pair within the budget must agree on ≥1 segment); the
  final Hamming check is a JVM-side ``bit_count(xor)``.
- **ngram_jaccard**: exact pairwise verifier on candidate pairs only —
  never call it on a cross join at scale.

Determinism: token/shingle hashing uses ``zlib.crc32`` (+ a splitmix64
widening for SimHash), process-independent — never Python's seeded
builtin ``hash``.
"""

from __future__ import annotations

import re
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# deterministic MinHash parameters
_MERSENNE = (1 << 61) - 1
_MAX_HASH = (1 << 32) - 1


def _hash_permutations(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    # a < 2^31 and x < 2^32 keep a·x + b < 2^63: the universal-hash
    # arithmetic stays exact in int64 (larger coefficients silently wrap
    # and break min-wise independence)
    rng = np.random.RandomState(seed)
    a = rng.randint(1, 1 << 31, size=num_perm, dtype=np.int64)
    b = rng.randint(0, 1 << 31, size=num_perm, dtype=np.int64)
    return a, b


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram array, fully columnar (transform over
    indices).  Higher-order lambdas run interpreted (outside
    whole-stage codegen), so the inner body is ONE slice + ONE join
    per gram instead of n element_at calls — ~6× less interpreted
    expression evaluation at n=13, byte-identical gram strings."""
    toks = F.split(F.btrim(F.lower(text)), r"\s+")
    k = F.size(toks) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(k - 1, F.lit(-1))),
        lambda i: F.array_join(
            F.slice(toks, (i + 1).cast("int"), n), " "),
    )
    return F.when(k > 0, F.array_distinct(grams)) \
            .otherwise(F.array().cast("array<string>"))


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicate groups: md5(text) → keeper id + group size.

    One shuffle; partial aggregation upstream.  Returns
    (content_hash, keeper_id, dup_count).
    """
    return (
        df.select(F.col(id_col).alias("doc"),
                  F.md5(F.col(text_col)).alias("content_hash"))
          .groupBy("content_hash")
          .agg(F.min("doc").alias("keeper_id"),
               F.count("*").alias("dup_count"))
    )


def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       num_perm: int = 64, shingle_n: int = 3,
                       seed: int = 42) -> DataFrame:
    """(doc, signature array<long>) via one vectorized numpy pass per batch."""
    a_coef, b_coef = _hash_permutations(num_perm, seed)

    out_schema = T.StructType([
        T.StructField("doc", T.LongType()),
        T.StructField("signature", T.ArrayType(T.LongType())),
    ])

    fnv = np.uint64(0x0100_0193)          # odd 32-bit FNV-ish multiplier
    mask32 = np.uint64(0xFFFF_FFFF)

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # per doc: token crc32s → rolling positional combine → the
            # distinct 32-bit shingle hashes (no shingle *strings* are
            # ever built — the combine is vectorized over token hashes)
            grams_per_doc: list[np.ndarray | None] = []
            for text in pdf["__text"]:
                toks = (text or "").lower().split()
                m = len(toks) - shingle_n + 1
                if m <= 0:
                    grams_per_doc.append(None)
                    continue
                th = np.fromiter(
                    (zlib.crc32(t.encode("utf-8")) for t in toks),
                    dtype=np.uint64, count=len(toks))
                g = np.zeros(m, dtype=np.uint64)
                for j in range(shingle_n):
                    g = (g * fnv + th[j:j + m]) & mask32
                grams_per_doc.append(np.unique(g))

            # one batch-wide minwise pass: (a·x + b) mod p stays exact in
            # int64 (x < 2^32, a < 2^31); per-doc minima via reduceat
            nonempty = [g for g in grams_per_doc if g is not None]
            if nonempty:
                allg = np.concatenate(nonempty).astype(np.int64)
                starts = np.zeros(len(nonempty), dtype=np.intp)
                np.cumsum([len(g) for g in nonempty[:-1]], out=starts[1:])
                vals = (allg[:, None] * a_coef + b_coef) \
                    % _MERSENNE % _MAX_HASH
                mins = np.minimum.reduceat(vals, starts, axis=0) \
                    .astype(np.int64)

            empty_sig = [int(_MAX_HASH)] * num_perm
            sigs, k = [], 0
            for g in grams_per_doc:
                if g is None:
                    sigs.append(empty_sig)
                else:
                    sigs.append(mins[k].tolist())
                    k += 1
            yield pd.DataFrame({"doc": pdf["__id"], "signature": sigs})

    prepared = df.select(F.col(id_col).cast("long").alias("__id"),
                         F.col(text_col).alias("__text"))
    return prepared.mapInPandas(compute, schema=out_schema)


def minhash_band_keys(sigs: DataFrame, num_perm: int = 64,
                      bands: int = 16) -> DataFrame:
    """(doc, band, band_hash) keys from a (doc, signature) table.

    Fully columnar (explode + slice + xxhash64), so band keys are always
    *derived* — a persisted MinHash index stores only the signatures
    (8·num_perm bytes/doc), never the ×bands-duplicated key rows.
    """
    rows_per_band = num_perm // bands
    return sigs.select(
        "doc",
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"),
        F.col("signature"),
    ).select(
        "doc", "band",
        F.xxhash64(F.slice(F.col("signature"),
                           F.col("band") * rows_per_band + 1,
                           rows_per_band).cast("string"), F.col("band"))
         .alias("band_hash"),
    )


def _est_jaccard(num_perm: int) -> Column:
    matches = F.size(F.filter(
        F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
        lambda eq: eq,
    ))
    return matches.cast("double") / F.lit(num_perm)


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str,
                      num_perm: int = 64, bands: int = 16,
                      shingle_n: int = 3, seed: int = 42,
                      min_jaccard: float = 0.5) -> DataFrame:
    """Near-duplicate pairs (a, b, est_jaccard) with a < b.

    Banding: num_perm/bands rows per band; equal (band, hash-of-rows) →
    candidate pair; estimated Jaccard = fraction of matching signature
    positions.
    """
    from pyspark import StorageLevel

    # consumed three times (banding + two pair-side joins): persist so the
    # signature UDF runs once per partition, spilling to disk if needed
    sigs = minhash_signatures(df, id_col, text_col, num_perm, shingle_n,
                              seed).persist(StorageLevel.MEMORY_AND_DISK)

    # Slim banding: the exploded table carries only (doc, band, band_hash)
    # — 24 bytes/row — so the 16×-duplicated self-join shuffle never moves
    # signatures; the 512-byte signatures are attached to the deduplicated
    # candidate pairs afterwards.
    banded = minhash_band_keys(sigs, num_perm, bands)

    cand_ids = (
        banded.alias("l").join(
            banded.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.doc") < F.col("r.doc")))
        .select(F.col("l.doc").alias("a"), F.col("r.doc").alias("b"))
        .dropDuplicates(["a", "b"])
    )
    cand = (
        cand_ids
        .join(sigs.select(F.col("doc").alias("a"),
                          F.col("signature").alias("sig_a")), "a")
        .join(sigs.select(F.col("doc").alias("b"),
                          F.col("signature").alias("sig_b")), "b")
    )

    return (cand.withColumn("est_jaccard", _est_jaccard(num_perm))
                .where(F.col("est_jaccard") >= min_jaccard)
                .select("a", "b", "est_jaccard"))


def minhash_dedup_incremental(new_df: DataFrame, index_sigs: DataFrame | None,
                              id_col: str, text_col: str,
                              num_perm: int = 64, bands: int = 16,
                              shingle_n: int = 3, seed: int = 42,
                              min_jaccard: float = 0.5,
                              ) -> tuple[DataFrame, DataFrame]:
    """Dedup a NEW batch against a persisted MinHash index — the
    continuous-crawl shape: at 100 TB you never re-signature the corpus
    per batch; you keep a (doc, signature) table and join each day's
    crawl against it.

    ``index_sigs`` is the persisted (doc: long, signature: array<long>)
    table from previous batches (None / empty for the first batch); its
    MinHash parameters (num_perm/shingle_n/seed) are pinned at index
    creation and must match.

    Returns ``(unique_new_sigs, dup_pairs)``:

    - ``unique_new_sigs`` — (doc, signature) rows for new docs that
      matched nothing: append them to the index table (Iceberg append —
      no rewrite) and keep the corresponding documents.
    - ``dup_pairs`` — (a, b, est_jaccard) where ``b`` is the dropped new
      doc and ``a`` its surviving match (an index doc, or a smaller-id
      new doc for in-batch duplicates).

    Scale shape: band keys are *derived* from both signature tables
    (``minhash_band_keys``, columnar), so the join shuffles only
    24-byte key rows; the new side is typically ≪ the index, and AQE
    will broadcast it when it fits.  In-batch duplicates are handled by
    the same keyed join (new ∪ index keys would double-count — instead
    the new side self-joins once, exactly like ``minhash_lsh_pairs``).
    """
    from pyspark import StorageLevel

    new_sigs = minhash_signatures(new_df, id_col, text_col, num_perm,
                                  shingle_n, seed) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    new_keys = minhash_band_keys(new_sigs, num_perm, bands)

    def _verified(cand_ids: DataFrame, a_sigs: DataFrame) -> DataFrame:
        cand = (cand_ids
                .join(a_sigs.select(F.col("doc").alias("a"),
                                    F.col("signature").alias("sig_a")), "a")
                .join(new_sigs.select(F.col("doc").alias("b"),
                                      F.col("signature").alias("sig_b")),
                      "b"))
        return (cand.withColumn("est_jaccard", _est_jaccard(num_perm))
                    .where(F.col("est_jaccard") >= min_jaccard)
                    .select("a", "b", "est_jaccard"))

    # in-batch pairs: self-join on derived keys, a < b
    batch_cand = (
        new_keys.alias("l").join(
            new_keys.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.doc") < F.col("r.doc")))
        .select(F.col("l.doc").alias("a"), F.col("r.doc").alias("b"))
        .dropDuplicates(["a", "b"]))
    dup_pairs = _verified(batch_cand, new_sigs)

    if index_sigs is not None:
        index_keys = minhash_band_keys(index_sigs, num_perm, bands)
        cross_cand = (
            index_keys.alias("l").join(
                new_keys.alias("r"),
                (F.col("l.band") == F.col("r.band"))
                & (F.col("l.band_hash") == F.col("r.band_hash")))
            .select(F.col("l.doc").alias("a"), F.col("r.doc").alias("b"))
            .dropDuplicates(["a", "b"]))
        dup_pairs = dup_pairs.unionByName(_verified(cross_cand, index_sigs))

    dropped = dup_pairs.select(F.col("b").alias("doc")).distinct()
    unique_new_sigs = new_sigs.join(dropped, "doc", "left_anti")
    return unique_new_sigs, dup_pairs


def connected_components(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """(node, component) labels for an undirected edge list (a, b) —
    min-label propagation to fixpoint.

    Near-dup pairs are only locally transitive: dropping the larger id
    of every pair over-keeps on chains (a–b, b–c detected, a–c not).
    Components make group-level dedup exact: keep ``min(node)`` per
    component.  Each iteration is two shuffles (neighbor-min + groupBy);
    iteration count is the graph diameter in label space (≈ log n for
    near-dup clusters, which are dense).  Each iteration's labels are
    ``localCheckpoint``-ed — the pointer-jumping self-join references
    ``stepped`` twice, so without truncation the analyzed plan doubles
    per iteration and Catalyst/AQE plan handling becomes a driver-side
    bottleneck long before the data does (persist bounds recompute,
    not plan text).  The loop exits early at fixpoint via an aggregate
    check.
    """
    from pyspark import StorageLevel

    sym = (edges.select(F.col("a").alias("u"), F.col("b").alias("v"))
           .unionByName(edges.select(F.col("b").alias("u"),
                                     F.col("a").alias("v"))))
    sym = sym.persist(StorageLevel.MEMORY_AND_DISK)
    labels = (sym.select(F.col("u").alias("node"))
              .distinct()
              .withColumn("component", F.col("node")))
    labels = labels.persist(StorageLevel.MEMORY_AND_DISK)
    # labels only ever decrease, so the label sum is a monotone fixpoint
    # certificate — one cheap aggregate per iteration, no compare join.
    # The same setup job also measures the node count, which sizes the
    # loop's shuffle layout (operators/tuning.py — label rows are a few
    # bytes each, and the min-label arithmetic is integer, so partition
    # layout cannot perturb results)
    from . import tuning

    row0 = labels.agg(F.sum("component").alias("s"),
                      F.count("*").alias("n")).first()
    prev_sum, n_nodes = row0["s"], row0["n"]
    converged = False
    spark = edges.sparkSession
    with tuning.iteration_shuffles(spark, n_nodes):
        for it in range(max_iter):
            neighbor_min = (sym.join(labels,
                                     sym["v"] == labels["node"])
                            .groupBy("u")
                            .agg(F.min("component").alias("nmin")))
            stepped = (labels.join(neighbor_min,
                                   labels["node"] == neighbor_min["u"],
                                   "left")
                       .select("node",
                               F.least(F.col("component"),
                                       F.coalesce(F.col("nmin"),
                                                  F.col("component")))
                               .alias("component")))
            # pointer jumping: follow the label's own label once per round —
            # turns linear chain propagation into logarithmic convergence
            lut = stepped.select(F.col("node").alias("__c"),
                                 F.col("component").alias("__cc"))
            new_labels = (stepped.join(lut,
                                       stepped["component"] == lut["__c"],
                                       "left")
                          .select("node",
                                  F.least(F.col("component"),
                                          F.coalesce(F.col("__cc"),
                                                     F.col("component")))
                                  .alias("component"))
                          .localCheckpoint(eager=True))
            new_sum = new_labels.agg(F.sum("component")).first()[0]
            if it == 0:
                # frees the persisted SEED frame; superseded
                # localCheckpoint snapshots (every later iteration) are
                # released by the ContextCleaner once their DataFrames
                # are GC'd — unpersist is a no-op on checkpointed frames
                labels.unpersist()
            labels = new_labels
            if new_sum == prev_sum:
                converged = True
                break
            prev_sum = new_sum
    sym.unpersist()
    if not converged:
        # silent under-merging would make dedup keep duplicates
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "iterations — raise max_iter (propagation is logarithmic in "
            "component diameter)")
    return labels


def dedup_keep_canonical(df: DataFrame, pairs: DataFrame,
                         id_col: str) -> DataFrame:
    """Group-exact near-dedup: cluster the pair graph into components
    and keep the minimum-id document of each — every other member is
    dropped, including chain members no direct pair connected."""
    comp = connected_components(pairs)
    drop = comp.where(F.col("node") != F.col("component")) \
        .select(F.col("node").alias(id_col))
    return df.join(drop, id_col, "left_anti")


def dedup_keep_best(df: DataFrame, pairs: DataFrame, id_col: str,
                    quality_col: str) -> DataFrame:
    """Quality-weighted near-dedup: cluster the pair graph into
    components and keep each cluster's HIGHEST-``quality_col`` member
    (ties broken by lowest id for determinism) — the curation-grade
    alternative to ``dedup_keep_canonical``'s min-id rule: when five
    mirrors of a page survive crawling, keep the cleanest extraction,
    not the one that happened to get the smallest id.

    Scale shape: component labels from the same bounded-lineage
    propagation; the winner per component is one window over
    (component) ordered by (quality desc, id asc); everything else is
    an anti-join on id."""
    from pyspark.sql import Window

    id_type = dict(df.dtypes)[id_col]
    if id_type not in ("tinyint", "smallint", "int", "bigint", "long"):
        # a silent long-cast of e.g. url ids would null every node and
        # quietly keep ALL duplicates — fail loudly instead
        raise ValueError(
            f"dedup_keep_best needs a numeric id column "
            f"(got {id_col}: {id_type}); derive one first, e.g. "
            f"xxhash64(url)")
    comp = connected_components(pairs)
    members = (df.select(F.col(id_col).cast("long").alias("node"),
                         F.col(quality_col).alias("__q"))
               .join(comp, "node", "left")
               .withColumn("component",
                           F.coalesce("component", F.col("node"))))
    w = Window.partitionBy("component").orderBy(
        F.col("__q").desc_nulls_last(), F.col("node").asc())
    drop = (members.withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") > 1)
            .select(F.col("node").alias(id_col)))
    return df.join(drop.withColumn(id_col, F.col(id_col)
                                   .cast(dict(df.dtypes)[id_col])),
                   id_col, "left_anti")


def ngram_jaccard_pairs(df: DataFrame, pairs: DataFrame, id_col: str,
                        text_col: str, shingle_n: int = 3) -> DataFrame:
    """Exact Jaccard verifier over candidate (a, b) pairs."""
    sh = df.select(F.col(id_col).cast("long").alias("doc"),
                   word_shingles(F.col(text_col), shingle_n).alias("grams"))
    out = (
        pairs
        .join(sh.withColumnRenamed("doc", "a")
                .withColumnRenamed("grams", "grams_a"), "a")
        .join(sh.withColumnRenamed("doc", "b")
                .withColumnRenamed("grams", "grams_b"), "b")
    )
    inter = F.size(F.array_intersect("grams_a", "grams_b")).cast("double")
    union = F.size(F.array_union("grams_a", "grams_b")).cast("double")
    return out.select(
        "a", "b",
        F.when(union > 0, inter / union).otherwise(F.lit(0.0))
         .alias("jaccard"),
    )


def _exploded_lines(base: DataFrame, text_col: str, sep: str,
                    min_line_chars: int,
                    extra_cols: tuple = ()) -> DataFrame:
    """(__doc, [extra…], __pos, __line, __lh, __countable) — the shared
    line decomposition both line-dedup operators filter on."""
    return base.where(F.col(text_col).isNotNull()).select(
        "__doc", *extra_cols,
        F.posexplode(F.split(F.col(text_col), re.escape(sep)))
         .alias("__pos", "__line"),
    ).withColumn("__lh", F.xxhash64("__line")) \
     .withColumn("__countable",
                 F.length(F.btrim("__line")) >= min_line_chars)


def _reassemble_lines(base: DataFrame, kept: DataFrame, text_col: str,
                      sep: str, out_col: str) -> DataFrame:
    """Order-preserving re-join of kept lines per doc; null text passes
    through null, fully-filtered docs come back as empty string."""
    rebuilt = (kept.groupBy("__doc")
               .agg(F.concat_ws(
                    sep,
                    F.transform(
                        F.sort_array(F.collect_list(
                            F.struct("__pos", "__line"))),
                        lambda s: s["__line"])).alias(out_col)))
    return (base.join(rebuilt, "__doc", "left")
            .withColumn(out_col,
                        F.when(F.col(text_col).isNull(), F.lit(None))
                         .otherwise(F.coalesce(F.col(out_col),
                                               F.lit("")))))


def dedup_lines(df: DataFrame, id_col: str, text_col: str,
                max_doc_freq: int = 1, min_line_chars: int = 5,
                out_col: str = "clean_text",
                sep: str = "\n") -> DataFrame:
    """Corpus-level line dedup (CCNet/RefinedWeb-style boilerplate
    removal): a line appearing in more than ``max_doc_freq`` distinct
    documents is removed from every document; line order is preserved.
    ``sep="\n\n"`` gives the paragraph-level variant.

    Lines shorter than ``min_line_chars`` (after trim) are always kept —
    they are structure, not boilerplate, and counting them would churn
    the frequency table with empty/"--" rows.

    Fully columnar: posexplode → distinct-doc count per line (one
    shuffle, map-side partial agg on (line_hash) with 8-byte keys) →
    anti-filter → ordered reassembly (shared ``_exploded_lines`` /
    ``_reassemble_lines`` scaffolding with the host-scoped variant).
    Null-text rows pass through with ``out_col`` null.
    """
    base = df.select(F.col(id_col).alias("__doc"), F.col(text_col))
    lines = _exploded_lines(base, text_col, sep, min_line_chars)
    freq = (lines.where("__countable")
            .groupBy("__lh")
            .agg(F.count_distinct("__doc").alias("__df"))
            .where(F.col("__df") > max_doc_freq)
            .select("__lh"))
    kept = lines.join(freq, "__lh", "left_anti")
    out = _reassemble_lines(base, kept, text_col, sep, out_col)
    return out.withColumnRenamed("__doc", id_col)


def strip_host_boilerplate(df: DataFrame, id_col: str, host_col: str,
                           text_col: str,
                           min_host_pages: int = 3,
                           max_page_frac: float = 0.5,
                           min_line_chars: int = 5,
                           out_col: str = "clean_text",
                           sep: str = "\n") -> DataFrame:
    """HOST-scoped boilerplate removal — the corpus-level complement to
    the DOM boilerplate strip: a line appearing on more than
    ``max_page_frac`` of a host's pages (hosts with at least
    ``min_host_pages`` pages) is that host's template chrome (nav menu,
    footer, cookie banner) and is removed from that host's pages ONLY.
    Unlike ``dedup_lines``'s global document frequency, a phrase shared
    across many hosts stays — it is content, not template.

    Lines shorter than ``min_line_chars`` after trim are structure and
    always kept.  Line order is preserved; null text passes through
    null.

    Scale shape: one slim shuffle on (host, line_hash) for the
    frequency table, a host-keyed page count (tiny, AQE broadcasts the
    boilerplate set when it fits), and the shared ordered-reassembly
    scaffolding (``_exploded_lines`` / ``_reassemble_lines``).
    """
    base = df.select(F.col(id_col).alias("__doc"),
                     F.col(host_col).alias("__host"), F.col(text_col))
    lines = _exploded_lines(base, text_col, sep, min_line_chars,
                            extra_cols=("__host",))
    pages = (base.where(F.col(text_col).isNotNull())
             .groupBy("__host")
             .agg(F.count_distinct("__doc").alias("__pages")))
    boiler = (lines.where("__countable")
              .groupBy("__host", "__lh")
              .agg(F.count_distinct("__doc").alias("__df"))
              .join(pages, "__host")
              .where((F.col("__pages") >= min_host_pages)
                     & (F.col("__df")
                        > F.col("__pages") * F.lit(max_page_frac)))
              .select("__host", "__lh"))
    kept = lines.join(boiler, ["__host", "__lh"], "left_anti")
    out = _reassemble_lines(base, kept, text_col, sep, out_col)
    return (out.withColumnRenamed("__doc", id_col)
            .withColumnRenamed("__host", host_col))


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc, simhash long): sign-sum of per-token 64-bit hashes.

    Token hashing follows the MinHash kernel's recipe (``zlib.crc32``
    per token — a cheap C call — then a *vectorized* widening): the
    32-bit crc is pushed through a splitmix64 finalizer in one numpy
    pass over the whole Arrow batch, and the majority vote runs as a
    single ``add.reduceat`` over per-doc segments — no per-token Python
    hashing (the pre-round-3 kernel called ``blake2b`` per token) and
    no per-doc numpy dispatch.  A 32-bit-colliding token pair flips at
    most one vote — harmless for a sign-sum sketch.
    """
    out_schema = T.StructType([
        T.StructField("doc", T.LongType()),
        T.StructField("simhash", T.LongType()),
    ])

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts = pdf["__text"]
            counts = np.zeros(len(texts), dtype=np.int64)
            tok_hashes: list[np.ndarray] = []
            for i, text in enumerate(texts):
                toks = (text or "").lower().split()
                counts[i] = len(toks)
                if toks:
                    tok_hashes.append(np.fromiter(
                        (zlib.crc32(t.encode("utf-8")) for t in toks),
                        dtype=np.uint64, count=len(toks)))
            out = np.zeros(len(texts), dtype=np.int64)
            nz = counts > 0
            if tok_hashes:
                z = np.concatenate(tok_hashes)
                # splitmix64 finalizer: spreads the 32-bit crc over all
                # 64 bit positions (uint64 arithmetic wraps mod 2^64)
                z = z + np.uint64(0x9E3779B97F4A7C15)
                z ^= z >> np.uint64(30)
                z *= np.uint64(0xBF58476D1CE4E5B9)
                z ^= z >> np.uint64(27)
                z *= np.uint64(0x94D049BB133111EB)
                z ^= z >> np.uint64(31)
                bits = np.unpackbits(z.view(np.uint8).reshape(-1, 8),
                                     axis=1, bitorder="little")
                ndocs = int(nz.sum())
                starts = np.zeros(ndocs, dtype=np.intp)
                np.cumsum(counts[nz][:-1], out=starts[1:])
                ones = np.add.reduceat(bits, starts, axis=0)
                sims = (np.packbits(ones * 2 > counts[nz][:, None],
                                    bitorder="little")
                        .reshape(ndocs, 8).view(np.int64).ravel())
                out[nz] = sims
            yield pd.DataFrame({"doc": pdf["__id"], "simhash": out})

    prepared = df.select(F.col(id_col).cast("long").alias("__id"),
                         F.col(text_col).alias("__text"))
    return prepared.mapInPandas(compute, schema=out_schema)


def hamming_near_pairs(sigs: DataFrame, max_hamming: int,
                       sig_col: str = "simhash") -> DataFrame:
    """(a, b, hamming) pairs from a (doc, <sig_col>: long) table with
    Hamming distance ≤ budget over 64-bit signatures.

    Pigeonhole blocking: split 64 bits into (budget+1) segments; any pair
    within the budget agrees on at least one segment, so the self-join key
    is (segment_index, segment_bits).  Final check is JVM-side
    bit_count(a XOR b).  Shared by text SimHash and image dHash dedup.
    """
    n_seg = max_hamming + 1
    seg_bits = 64 // n_seg
    # all-ones mask in two's complement when a segment spans the full word
    seg_mask = (1 << seg_bits) - 1 if seg_bits < 64 else -1

    seg = sigs.select(
        "doc", F.col(sig_col).alias("__sig"),
        F.explode(F.sequence(F.lit(0), F.lit(n_seg - 1))).alias("seg"),
    ).withColumn(
        "seg_key",
        F.expr(f"shiftright(__sig, cast(seg * {seg_bits} as int))")
         .bitwiseAND(F.lit(seg_mask)),
    )

    pairs = (
        seg.alias("l").join(
            seg.alias("r"),
            (F.col("l.seg") == F.col("r.seg"))
            & (F.col("l.seg_key") == F.col("r.seg_key"))
            & (F.col("l.doc") < F.col("r.doc")))
        .select(F.col("l.doc").alias("a"), F.col("r.doc").alias("b"),
                F.col("l.__sig").alias("ha"),
                F.col("r.__sig").alias("hb"))
        .dropDuplicates(["a", "b"])
    )
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (pairs.withColumn("hamming", hamming)
                 .where(F.col("hamming") <= max_hamming)
                 .select("a", "b", "hamming"))


def simhash_near_pairs(df: DataFrame, id_col: str, text_col: str,
                       max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ budget (see
    ``hamming_near_pairs`` for the blocking strategy)."""
    return hamming_near_pairs(simhash64(df, id_col, text_col),
                              max_hamming)
