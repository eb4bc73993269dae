"""Trained quality classifier (functions/quality_classifier.py)."""

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from docvault_ocr_service_spark.functions.quality_classifier import (
    BIAS_BUCKET, R_SCALE, W_SCALE, _W_OVER_R, score_quality,
    train_quality_classifier)


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, label long")


def _fixture_rows(n=40):
    """Separable corpus: positives speak vocabulary A, negatives B."""
    rows = []
    for i in range(n):
        pos = " ".join(f"alpha{(i + k) % 7}" for k in range(12))
        neg = " ".join(f"omega{(i + k) % 7}" for k in range(12))
        rows.append((i, pos, 1))
        rows.append((i + 1000, neg, 0))
    return rows


def test_training_separates_vocabularies(spark):
    df = _df(spark, _fixture_rows())
    model = train_quality_classifier(df, "doc_id", iters=5)
    scored = score_quality(df, model, "doc_id")
    rows = scored.select("label", "quality_score").collect()
    pos = [r["quality_score"] for r in rows if r["label"] == 1]
    neg = [r["quality_score"] for r in rows if r["label"] == 0]
    assert min(pos) > max(neg)
    assert min(pos) > 0.5 > max(neg)


def test_training_partitioning_invariant(spark):
    rows = _fixture_rows(24)
    a = train_quality_classifier(
        _df(spark, rows).repartition(1), "doc_id", iters=3)
    b = train_quality_classifier(
        _df(spark, rows).repartition(13), "doc_id", iters=3)
    wa = {r["bucket"]: r["w_q"] for r in a.collect()}
    wb = {r["bucket"]: r["w_q"] for r in b.collect()}
    assert wa == wb


def _python_replay(rows, hex_chars=2, iters=5, lr_num=1, lr_den=2):
    """Independent quantized-GD replica (pure Python, no Spark)."""
    def grams(text):
        toks = (text or "").strip().lower().split()
        gs = list(toks)
        gs += [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        return [hashlib.md5(g.encode()).hexdigest()[:hex_chars]
                for g in gs]

    occ = [(i, b) for i, (did, text, lab) in enumerate(rows)
           for b in grams(text)]
    labels = [lab for _, _, lab in rows]
    n = len(rows)
    w, bias = {}, 0
    for _ in range(iters):
        margins = [bias] * n
        for i, b in occ:
            margins[i] += w.get(b, 0)
        resid = []
        for i, lab in enumerate(labels):
            p = 1.0 / (1.0 + math.exp(-margins[i] / W_SCALE))
            resid.append(int((lab - p) * R_SCALE))  # trunc toward 0
        grad, bg = {}, 0
        for i, b in occ:
            grad[b] = grad.get(b, 0) + resid[i]
        for r in resid:
            bg += r
        denom = lr_den * n
        for b, g in grad.items():
            num = g * lr_num * _W_OVER_R
            w[b] = w.get(b, 0) + abs(num) // denom * (
                1 if num >= 0 else -1)
        bnum = bg * lr_num * _W_OVER_R
        bias += abs(bnum) // denom * (1 if bnum >= 0 else -1)
    return w, bias


def test_training_matches_python_replay_exactly(spark, layouts):
    rows = _fixture_rows(10) + [(5000, "", 1), (5001, None, 0)]
    w, bias = _python_replay(rows, iters=4)
    for layout in layouts():
        model = train_quality_classifier(_df(spark, rows), "doc_id",
                                         iters=4)
        got = {r["bucket"]: r["w_q"] for r in model.collect()}
        assert got.pop(BIAS_BUCKET) == bias, layout
        # every bucket the replay computed matches; Spark may also carry
        # zero-weight buckets whose gradients cancelled
        for b, q in got.items():
            assert w.get(b, 0) == q, (b, layout)
        for b, q in w.items():
            assert got.get(b, 0) == q, (b, layout)


def test_score_featureless_doc_gets_bias_margin(spark):
    df = _df(spark, _fixture_rows(8))
    model = train_quality_classifier(df, "doc_id", iters=2)
    bias_q = {r["bucket"]: r["w_q"]
              for r in model.collect()}[BIAS_BUCKET]
    blank = spark.createDataFrame([(9000, "")],
                                  "doc_id long, text string")
    out = score_quality(blank, model, "doc_id").collect()[0]
    assert out["quality_margin"] == pytest.approx(bias_q / W_SCALE)


def test_training_input_validation(spark):
    df = _df(spark, _fixture_rows(4))
    with pytest.raises(ValueError, match="iters"):
        train_quality_classifier(df, "doc_id", iters=0)
    with pytest.raises(ValueError, match="rational"):
        train_quality_classifier(df, "doc_id", lr_den=0)
    empty = spark.createDataFrame(
        [], "doc_id long, text string, label long")
    with pytest.raises(ValueError, match="empty"):
        train_quality_classifier(empty, "doc_id")


def test_seed_set_bound_enforced(spark):
    """A corpus-sized frame must raise loudly (the seed-set contract),
    and the bound must be raisable explicitly."""
    import pytest

    from docvault_ocr_service_spark.functions.quality_classifier import (
        train_quality_classifier)

    labeled = spark.range(30).select(
        F.col("id"), F.concat(F.lit("text "), F.col("id")).alias("text"),
        (F.col("id") % 2).cast("int").alias("label"))
    with pytest.raises(ValueError, match="seed-set bound"):
        train_quality_classifier(labeled, "id", max_train_rows=10)
    # explicit raise of the bound trains fine
    w = train_quality_classifier(labeled, "id", iters=1,
                                 max_train_rows=30)
    assert w.count() >= 1
