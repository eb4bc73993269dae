"""Character-trigram language model + perplexity scoring.

The CCNet / RedPajama quality-filter shape: score every document's
perplexity under a small LM trained on a trusted slice, then keep the
low-perplexity head of the distribution.  CCNet uses a word 5-gram
KenLM; the portable, dependency-free engine equivalent is a character
trigram model with add-one smoothing — the *filtering mechanics*
(train slice → broadcastable model → corpus-wide scoring join →
threshold) are identical, and every step is native columnar SQL, so the
driver-gate oracle recomputes the whole thing.

Scale shape: the model is two count tables bounded by charset³ (a few
hundred thousand rows for real text) — Catalyst broadcasts them into
the scoring joins, so scoring is map-only over the corpus; the only
corpus-wide shuffle is the per-doc average.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def normalize_for_lm(text: Column) -> Column:
    """lowercase + whitespace collapse — the canonical LM alphabet."""
    return F.btrim(F.regexp_replace(F.lower(text), r"\s+", " "))


def _explode_positions(df: DataFrame, col: str, n: int) -> DataFrame:
    """``df`` + an exploded ``__i`` position column (1-based start of
    every ``n``-gram of ``col``).  Building n-grams as
    ``explode(int positions) → substring`` instead of
    ``explode(transform(...))`` keeps the per-gram substring in
    whole-stage codegen and skips materializing a per-row array of
    gram strings — measured 9x faster on the sf0.1 corpus (1.74 s →
    0.20 s for the trigram pass, row-identical output)."""
    return df.select(
        "*", F.explode(F.sequence(
            F.lit(1), F.greatest(F.length(col) - (n - 1), F.lit(0))))
        .alias("__i"))


def train_char_trigram_lm(docs: DataFrame, text_col: str = "text"
                          ) -> tuple[DataFrame, DataFrame, int]:
    """→ (trigram counts (g3, c3), context counts (g2, c2), vocab V).

    Context counts are derived from the trigram table (count of 'ab' as
    a context ≡ Σ_c count('ab'+c)), so numerator and denominator stay
    consistent at string boundaries.  V = distinct characters of the
    normalized training text (the smoothing constant)."""
    norm = docs.select(normalize_for_lm(F.col(text_col)).alias("t")) \
        .where(F.length("t") >= 3)
    tri = _explode_positions(norm, "t", 3) \
        .select(F.expr("substring(t, __i, 3)").alias("g3"))
    # checkpoint lazily; the first consumer materializes it: the
    # trigram table is charset³-bounded by contract, and every
    # broadcast that consumes it (the g3 join, the g2 join whose build
    # derives from it — twice each when a caller branches on the
    # scored frame) would otherwise re-run the whole training explode
    # per build
    c3 = (tri.groupBy("g3").agg(F.count("*").alias("c3"))
          .localCheckpoint(eager=False))
    c2 = (c3.groupBy(F.substring("g3", 1, 2).alias("g2"))
          .agg(F.sum("c3").alias("c2")))
    vocab = (_explode_positions(norm, "t", 1)
             .select(F.expr("substring(t, __i, 1)").alias("ch"))
             .distinct().count())
    return c3, c2, int(vocab)


def score_perplexity(docs: DataFrame, c3: DataFrame, c2: DataFrame,
                     vocab: int, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """(id, n_trigrams, ppl) — per-doc perplexity exp(−mean ln P) with
    P(c|ab) = (count(abc)+1) / (count(ab·)+V).  Docs whose normalized
    text is shorter than 3 chars score null."""
    norm = docs.select(F.col(id_col).alias("doc"),
                       normalize_for_lm(F.col(text_col)).alias("t"))
    tri = (_explode_positions(norm.where(F.length("t") >= 3), "t", 3)
           .select("doc", F.expr("substring(t, __i, 3)").alias("g3"),
                   F.expr("substring(t, __i, 2)").alias("g2")))
    scored = (tri.join(c3, "g3", "left").join(c2, "g2", "left")
              .select(
                  "doc",
                  F.log((F.coalesce(F.col("c3"), F.lit(0)) + 1.0)
                        / (F.coalesce(F.col("c2"), F.lit(0))
                           + float(vocab))).alias("lp")))
    per_doc = (scored.groupBy("doc")
               .agg(F.count("*").cast("long").alias("n_trigrams"),
                    F.exp(-F.avg("lp")).alias("ppl")))
    return (norm.select("doc").distinct()
            .join(per_doc, "doc", "left")
            .select(F.col("doc").alias(id_col),
                    F.coalesce("n_trigrams", F.lit(0)).cast("long")
                     .alias("n_trigrams"),
                    "ppl"))


def filter_by_perplexity(docs: DataFrame, c3: DataFrame, c2: DataFrame,
                         vocab: int, max_ppl: float,
                         id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """The CCNet keep-the-head filter: docs scoring ≤ ``max_ppl``."""
    scores = score_perplexity(docs, c3, c2, vocab, id_col, text_col)
    keep = scores.where(F.col("ppl") <= max_ppl).select(id_col)
    return docs.join(keep, id_col, "left_semi")


def ppl_buckets(scored: DataFrame, lang_col: str = "lang",
                ppl_q_col: str = "ppl_q", id_col: str = "doc_id",
                n_buckets: int = 3) -> DataFrame:
    """The CCNet head/middle/tail split (Wenzek et al. 2020 §4.3):
    per-language ``ntile`` over QUANTIZED perplexity ascending — head
    = the most fluent third, the slice CCNet keeps preferentially for
    pretraining; ordering on the quantized long (ties broken by id)
    keeps the split deterministic under FP sum reordering.  Docs with
    null perplexity (normalized text under one trigram) land in an
    explicit ``unscored`` bucket instead of polluting the head via
    nulls-first window ordering.  Scale shape: one window shuffle on
    the language key."""
    from pyspark.sql import Window

    # one window, partitioned by (lang, scorable): the null-ppl rows
    # tile among themselves in their own partition (and are then
    # overridden to 'unscored'), so the scorable rows' ntile boundaries
    # are exactly those of a window over the non-null rows alone —
    # value-identical to the former where/union split, but the scored
    # input is scanned ONCE instead of twice (the split form
    # duplicated the whole upstream scoring pipeline per branch)
    w = Window.partitionBy(
        F.col(lang_col), F.col(ppl_q_col).isNull()).orderBy(
        F.col(ppl_q_col).asc(), F.col(id_col).asc())
    tile = F.ntile(n_buckets).over(w)
    if n_buckets == 3:
        bucket = F.element_at(
            F.array(F.lit("head"), F.lit("middle"), F.lit("tail")),
            tile)
    else:
        bucket = tile.cast("string")
    return scored.withColumn(
        "ppl_bucket",
        F.when(F.col(ppl_q_col).isNull(), F.lit("unscored"))
        .otherwise(bucket))
