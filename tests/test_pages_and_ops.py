"""A giant PDF through the flagship job + batch-status/error/cleanup
ops."""

from datetime import datetime, timedelta, timezone

from docvault_ocr_service_spark import corpus
from docvault_ocr_service_spark.extract import extract_document
from docvault_ocr_service_spark.operators.lineage import (
    batch_status, error_summary)
from docvault_ocr_service_spark.schemas import INPUT_SCHEMA, RESULT_SCHEMA


def test_batch_status_pivot(spark):
    cp = spark.createDataFrame(
        [("u1", "done", 1, None, None, datetime.now(timezone.utc), "r1"),
         ("u2", "done", 1, None, None, datetime.now(timezone.utc), "r1"),
         ("u3", "failed_permanent", 3, "x", "boom",
          datetime.now(timezone.utc), "r1")],
        schema="url string, status string, attempt int, error_kind string,"
               " error_msg string, updated_at timestamp, run_id string")
    row = batch_status(cp).first()
    assert row["done"] == 2
    assert row["failed_permanent"] == 1
    assert row["failed_retryable"] == 0


def test_error_summary_ordering(spark):
    now = datetime.now(timezone.utc)
    rows = [(f"u{i}", "failed_permanent", 1, "corrupted_file",
             "bad header", now, "r1") for i in range(5)]
    rows += [("u9", "failed_permanent", 1, "empty_payload", "empty",
              now, "r1")]
    cp = spark.createDataFrame(
        rows, schema="url string, status string, attempt int, "
        "error_kind string, error_msg string, updated_at timestamp, "
        "run_id string")
    top = error_summary(cp).collect()
    assert top[0]["error_msg"] == "bad header" and top[0]["n"] == 5


def test_checkpoint_cleanup(spark, tmp_path):
    from docvault_ocr_service_spark.operators.checkpoint import (
        ParquetCheckpointStore)
    from docvault_ocr_service_spark.functions.udfs import run_extraction
    from docvault_ocr_service_spark.plans.extract_job import run_extract_job

    state = str(tmp_path / "state")
    df = spark.createDataFrame(corpus.corpus_pdf(60), schema=INPUT_SCHEMA)
    run_extract_job(spark, df, state)
    store = ParquetCheckpointStore(spark, state)
    before = store.read_checkpoint().count()
    cutoff = datetime.now(timezone.utc) + timedelta(days=1)
    would = store.cleanup(cutoff, dry_run=True)
    assert would == before  # everything is settled and old enough
    assert store.read_checkpoint().count() == before  # dry run: untouched
    removed = store.cleanup(cutoff)
    assert removed == before
    assert store.read_checkpoint().count() == 0


def test_asof_join_semantics(spark):
    from docvault_ocr_service_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, 5, "c"), (2, 10, "d")],
        ["k", "t", "tag"])
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 15, 150.0), (2, 50, 500.0)],
        ["k", "t", "v"])
    out = {r["tag"]: r["v_asof"] for r in
           asof_join(left, right, key="k", order="t",
                     payload_cols=("v",)).collect()}
    assert out["c"] is None        # before any right row
    assert out["a"] == 100.0       # equal timestamp is inclusive
    assert out["b"] == 150.0       # latest prior
    assert out["d"] is None        # right row is in the future


# columns that vary per run (the store's run stamps, wall time) or per
# layout (the task that extracted the row)
_VOLATILE = ("run_id", "merged_at", "processing_time", "partition_id")


def _stable(row):
    d = row.asDict(recursive=True)
    for k in _VOLATILE:
        d.pop(k, None)
    return d


def test_job_extracts_giant_pdf_like_the_kernel(spark, tmp_path):
    """Flagship-job parity: a multipage giant PDF, routed to a partition
    of its own, is stored exactly as the whole-doc kernel extracts it —
    every column but the volatile ones."""
    import pandas as pd

    from docvault_ocr_service_spark.operators.checkpoint import (
        ParquetCheckpointStore)
    from docvault_ocr_service_spark.plans.extract_job import run_extract_job

    pages = [" ".join(f"Invoice page {i} line {j}: Amount Due: $1{j}.00 "
                      f"on 2024-03-15" for j in range(40))
             for i in range(40)]
    giant_pdf = corpus.make_pdf(pages, compress=True)
    assert len(giant_pdf) > 16 * 1024
    rows = [{"url": f"https://normal.example/{i}", "warc_ts": None,
             "html": b"<html><body><p>small page body</p></body></html>",
             "text": None, "lang": "en"} for i in range(20)]
    rows.append({"url": "https://giant.example/pdf", "warc_ts": None,
                 "html": giant_pdf, "text": None, "lang": "en"})
    df = spark.createDataFrame(pd.DataFrame(rows), schema=INPUT_SCHEMA)

    report = run_extract_job(spark, df, str(tmp_path / "state"),
                             n_partitions=8, size_threshold=16 * 1024)
    assert report.claimed == 21
    assert report.failed == 0

    store = ParquetCheckpointStore(spark, str(tmp_path / "state"))
    giant = (store.read_results_current()
             .where("url = 'https://giant.example/pdf'").collect())
    # the kernel's dict, typed as the results table types it
    want = spark.createDataFrame(
        [extract_document("https://giant.example/pdf", giant_pdf, None,
                          "en")], RESULT_SCHEMA).collect()
    assert [_stable(r) for r in giant] == [_stable(r) for r in want]
    assert giant[0]["page_count"] == 40
    assert giant[0]["source"] == "native_pdf"
