"""fastText-style document quality classifier — the discriminative
companion to the generative DSIR log-ratio scorer (functions/dsir.py):
a logistic regression over hashed unigram+bigram bucket counts,
trained full-batch by distributed gradient descent and applied as a
map-only scoring pass.  This is the "quality classifier" stage of the
published pretraining-data recipes (CCNet / LLaMA / FineWeb-Edu train
a linear fastText model on labeled pages, then keep the corpus slice
above a score threshold).

Why integer-quantized training: the driver gate hash-compares Spark
results against a DuckDB replay, and cross-row float sums are
order-dependent (partition count would change the result).  All
cross-row accumulation here is over exact scaled integers:

- weights live as ``w_q`` longs at ``W_SCALE`` (1e9) resolution,
- per-doc margins are exact long sums of ``w_q`` (+ bias) / W_SCALE,
- residuals quantize to ``R_SCALE`` (1e6) longs by truncation toward
  zero (Spark ``cast(long)`` == DuckDB ``trunc()``),
- per-bucket gradients are exact long sums of residuals,
- the update ``w_q += (grad * lr_num * (W_SCALE/R_SCALE))
  div (lr_den * n_docs)`` uses truncating integer division, which
  Spark's ``div`` and DuckDB's ``//`` both implement.

The only float op is the sigmoid itself, and its output is quantized
before it crosses rows — so the whole training trajectory is
bit-reproducible across partitionings AND replayable in SQL.

Scale shape: the bucket space is fixed (16^hex_chars — the weight
table broadcasts no matter the corpus size); each iteration is one
broadcast join + a per-doc aggregation + a bucket-space-bounded
gradient aggregation, and the feature explosion is computed once and
cached across iterations.  Training is meant to run on a bounded
labeled SAMPLE (fastText itself trains on ~1e6 docs in minutes); the
100 TB path is: sample labels, train here, then ``score_quality`` the
full corpus map-only with the broadcast weight table.  The gradient
accumulator holds sum(|resid_q|) <= n_occurrences * 1e6 per bucket —
fine for any sane training sample, not for a 1e12-doc full corpus
(which you would never full-batch-train on anyway).

Reference anchor: this generalizes the reference's static
quality_score gate (app/quality.py analogues in
functions/textstats.py) into a *trained* scorer; there is no direct
reference counterpart — it is part of the training-data-pipeline
surface this engine adds (SURVEY §2 "beyond the reference").
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from docvault_ocr_service_spark.functions.dsir import hashed_features
from docvault_ocr_service_spark.operators import tuning


W_SCALE = 1_000_000_000      # weight resolution (1e-9)
R_SCALE = 1_000_000          # residual resolution (1e-6)
_W_OVER_R = W_SCALE // R_SCALE

BIAS_BUCKET = "__bias__"


def _sigmoid(margin: Column) -> Column:
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))


def _occurrences(labeled: DataFrame, id_col: str, text_col: str,
                 hex_chars: int) -> DataFrame:
    """(id, bucket) with one row per feature OCCURRENCE (duplicates
    kept — bag-of-buckets counts, like DSIR)."""
    return labeled.select(
        F.col(id_col).alias("__id"),
        F.explode(hashed_features(F.col(text_col), hex_chars))
        .alias("bucket"))


def train_quality_classifier(labeled: DataFrame, id_col: str,
                             text_col: str = "text",
                             label_col: str = "label",
                             hex_chars: int = 2, iters: int = 5,
                             lr_num: int = 1, lr_den: int = 2,
                             max_train_rows: int = 1_000_000
                             ) -> DataFrame:
    """Train the logistic model; returns a small DataFrame
    ``(bucket string, w_q long, weight double)`` — one row per bucket
    ever touched by a gradient plus a ``__bias__`` row.  Broadcast it
    into ``score_quality``.

    ``labeled`` needs a 0/1 integer ``label_col``.  ``lr = lr_num /
    lr_den`` as an exact rational so the update stays in integer
    arithmetic.  The weight table is bucket-space-bounded
    (16^hex_chars + 1 rows) and collected per iteration — the same
    bounded-collect contract as the IVF centroid trainer
    (operators/similarity.py).

    SEED-SET CONTRACT: ``labeled`` is the curated labeled seed set
    (thousands to low millions of rows — the fastText/CCNet recipe:
    positives from a reference corpus, negatives sampled from the
    crawl), NOT the full corpus.  Training is distributed full-batch
    GD — per iteration it scans the seed set and collects one
    bucket-space-bounded gradient table to the driver — so its cost
    scales with the seed set, while the CORPUS side (``score_quality``)
    stays map-only at any scale.  ``max_train_rows`` (default 1M)
    enforces the contract: a corpus-sized frame raises loudly instead
    of silently turning the driver into the bottleneck; raise the
    bound explicitly if a genuinely larger seed set is intended.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    if lr_num < 1 or lr_den < 1:
        raise ValueError("learning rate must be a positive rational")
    spark = labeled.sparkSession

    docs = labeled.select(
        F.col(id_col).alias("__id"),
        F.col(label_col).cast("long").alias("__label"))
    # seed-set size first (a cheap scan — no feature explode): it both
    # enforces the contract BEFORE any heavy work and sizes the cached
    # pair table's partitioning to the data (~4k docs of grouped
    # bucket counts per partition) instead of the session shuffle
    # count — a 400-doc gate run iterates over 1 cached partition, a
    # 1M-doc seed set still spreads across the session's slots
    n_docs = labeled.count()
    if n_docs == 0:
        raise ValueError("empty training set")
    if n_docs > max_train_rows:
        raise ValueError(
            f"training set has {n_docs} rows, over the "
            f"max_train_rows={max_train_rows} seed-set bound — "
            f"train_quality_classifier is full-batch GD over a "
            f"labeled SEED SET; score the corpus with "
            f"score_quality instead, or raise max_train_rows "
            f"explicitly if a larger seed set is intended")
    # every cross-row sum in the loop is an exact scaled integer, so
    # the loop layout (operators/tuning.py) cannot perturb results
    with tuning.iteration_shuffles(spark, n_docs,
                                   rows_per_partition=4000) as k_parts:
        # (id, label, bucket, cnt) — occurrences pre-aggregated per doc
        # ONCE (the margin and gradient sums are linear in the occurrence
        # count, so Σ_occurrences w ≡ Σ_buckets cnt·w exactly), PLUS one
        # __bias__ row per doc with cnt=1: the bias then rides the same
        # join/sum/update arithmetic as every other bucket (margin picks
        # up bias_q·1, the bucket gradient at __bias__ IS the bias
        # gradient), which folds the former separate per-iteration bias
        # aggregation + collect into the one gradient collect.  The label
        # rides along as a grouping key so no per-iteration docs join is
        # needed, and the table is hash-partitioned by doc id so the
        # per-iteration margin aggregation needs no exchange.  Net shape
        # per iteration: broadcast the weight table, map-side margin agg,
        # one bucket-space-bounded exchange, ONE collect.
        pairs = (_occurrences(labeled, id_col, text_col, hex_chars)
                 .groupBy("__id", "bucket")
                 .agg(F.count("*").alias("__cnt"))
                 .unionByName(docs.select(
                     "__id", F.lit(BIAS_BUCKET).alias("bucket"),
                     F.lit(1).cast("long").alias("__cnt")))
                 .join(docs, "__id")
                 .repartition(k_parts, "__id")
                 .persist())
        try:
            weights: dict[str, int] = {BIAS_BUCKET: 0}   # bucket -> w_q
            for _ in range(iters):
                # pandas → Arrow: the weight table lands as JVM-side Arrow
                # batches (no Python-worker parallelize tasks) — measured
                # 3x faster per broadcast build than the list path
                w_df = spark.createDataFrame(
                    pd.DataFrame(sorted(weights.items()),
                                 columns=["bucket", "w_q"]),
                    schema="bucket string, w_q long")
                # exact per-doc margin (long sum of cnt·w_q, bias included
                # via its sentinel row)
                margins = (pairs.join(F.broadcast(w_df), "bucket", "left")
                           .groupBy("__id", "__label")
                           .agg(F.sum(F.col("__cnt")
                                      * F.coalesce("w_q", F.lit(0)))
                                .alias("__sum_wq")))
                resid = margins.select(
                    "__id",
                    ((F.col("__label") - _sigmoid(
                        F.col("__sum_wq") / F.lit(W_SCALE)))
                     * F.lit(R_SCALE)).cast("long").alias("__resid_q"))
                # one bounded collect: per-bucket gradients, bias included
                grads = (pairs.join(F.broadcast(resid), "__id")
                         .groupBy("bucket")
                         .agg(F.sum(F.col("__resid_q") * F.col("__cnt"))
                              .alias("__grad_q"))
                         .collect())
                denom = lr_den * n_docs
                for row in grads:
                    num = row["__grad_q"] * lr_num * _W_OVER_R
                    # truncating integer division == Spark `div`,
                    # DuckDB `//` (both round toward zero)
                    delta = abs(num) // denom * (1 if num >= 0 else -1)
                    weights[row["bucket"]] = \
                        weights.get(row["bucket"], 0) + delta
        finally:
            pairs.unpersist()

    bias_q = weights.pop(BIAS_BUCKET)
    rows = sorted(weights.items()) + [(BIAS_BUCKET, bias_q)]
    out = spark.createDataFrame(
        pd.DataFrame(rows, columns=["bucket", "w_q"]),
        schema="bucket string, w_q long")
    return out.withColumn("weight",
                          F.col("w_q") / F.lit(float(W_SCALE)))


def score_quality(df: DataFrame, model: DataFrame, id_col: str,
                  text_col: str = "text", hex_chars: int = 2
                  ) -> DataFrame:
    """``df`` + (``quality_margin``, ``quality_score``): map-only
    scoring with the broadcast weight table — margin is the exact
    long-sum of bucket weights (+ bias) at W_SCALE, score the
    sigmoid.  ``hex_chars`` must match training."""
    w = model.where(F.col("bucket") != BIAS_BUCKET) \
        .select("bucket", "w_q")
    bias = model.where(F.col("bucket") == BIAS_BUCKET) \
        .select(F.col("w_q").alias("__bias_q"))
    occ = _occurrences(df, id_col, text_col, hex_chars)
    sums = (occ.join(F.broadcast(w), "bucket", "left")
            .groupBy("__id")
            .agg(F.sum(F.coalesce("w_q", F.lit(0)))
                 .alias("__sum_wq")))
    margin = ((F.coalesce("__sum_wq", F.lit(0))
               + F.coalesce("__bias_q", F.lit(0)))
              / F.lit(W_SCALE))
    return (df.join(sums, df[id_col] == sums["__id"], "left")
            .drop("__id")
            .crossJoin(F.broadcast(bias))
            .withColumn("quality_margin", margin)
            .withColumn("quality_score",
                        _sigmoid(F.col("quality_margin")))
            .drop("__sum_wq", "__bias_q"))
