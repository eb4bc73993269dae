"""End-to-end Spark pipeline tests: the Spark path must equal the pure
path byte-for-byte, re-runs must be no-ops, retries must escalate."""

import shutil
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from docvault_ocr_service_spark import corpus
from docvault_ocr_service_spark.extract import extract_document
from docvault_ocr_service_spark.functions.udfs import run_extraction
from docvault_ocr_service_spark.operators.checkpoint import (
    MAX_ATTEMPTS, ParquetCheckpointStore)
from docvault_ocr_service_spark.plans.extract_job import run_extract_job
from docvault_ocr_service_spark.operators.lineage import retry_distribution
from docvault_ocr_service_spark.schemas import (
    CHECKPOINT_SCHEMA, INPUT_SCHEMA, LINEAGE_SCHEMA, METRICS_SCHEMA)

N_ROWS = 150


@pytest.fixture(scope="module")
def input_df(spark):
    return spark.createDataFrame(corpus.corpus_pdf(N_ROWS),
                                 schema=INPUT_SCHEMA)


def test_spark_path_is_byte_identical_to_pure_path(spark, input_df):
    """THE invariant: the distributed mapInPandas stage and the plain
    Python extractor produce identical text per url."""
    got = {
        r["url"]: r["text"]
        for r in run_extraction(input_df.repartition(8))
        .select("url", "text").collect()
    }
    for i in range(N_ROWS):
        row = corpus.generate_row(i)
        want = extract_document(row["url"], row["html"], row["text"],
                                row["lang"])["text"]
        assert got[row["url"]] == want, f"url {row['url']} text drifted"


def test_job_is_idempotent(spark, input_df, tmp_path):
    state = str(tmp_path / "state")
    rep1 = run_extract_job(spark, input_df, state)
    assert rep1.claimed == N_ROWS
    assert rep1.completed > 0 and rep1.failed > 0  # poison rows exist

    rep2 = run_extract_job(spark, input_df, state)
    assert rep2.claimed == 0

    results = spark.read.parquet(f"{state}/results")
    assert results.count() == results.select("url").distinct().count()

    cp = spark.read.parquet(f"{state}/checkpoint")
    assert cp.count() == N_ROWS
    statuses = {r["status"] for r in cp.select("status").distinct().collect()}
    assert statuses <= {"done", "failed_permanent", "failed_retryable"}


def test_observability_tables(spark, input_df, tmp_path):
    state = str(tmp_path / "obs")
    rep = run_extract_job(spark, input_df, state)
    lineage = spark.read.parquet(f"{state}/lineage")
    assert lineage.columns == LINEAGE_SCHEMA.fieldNames()
    assert lineage.agg(F.sum("docs_in")).first()[0] == N_ROWS
    metrics = spark.read.parquet(f"{state}/metrics")
    assert metrics.columns == METRICS_SCHEMA.fieldNames()
    m = metrics.where(F.col("run_id") == rep.run_id).first()
    assert m["total"] == N_ROWS
    assert m["completed"] == rep.completed


def test_retryable_rows_escalate_to_permanent(spark, tmp_path):
    """MERGE semantics: a url failing retryably 3 times dead-letters."""
    state = str(tmp_path / "retry")
    store = ParquetCheckpointStore(spark, state)

    def fake_results(status):
        return spark.createDataFrame(
            [("u1", status, "unexpected" if status != "done" else None,
              "boom" if status != "done" else None, None, None, None,
              [], [], None, None, None, [], "en", "error", 0.0, 0)],
            schema="url string, status string, error_kind string, "
                   "error_msg string, text string, confidence double, "
                   "page_count int, pages array<struct<page:int,text:string,"
                   "confidence:double,source:string>>, "
                   "spans array<struct<seq:int,tag:string,start:int,"
                   "end:int,link_density:double>>, "
                   "metadata struct<confidence:double>, category string, "
                   "category_confidence double, "
                   "detected_languages array<string>, lang string, "
                   "source string, processing_time double, partition_id int")

    for attempt in range(1, MAX_ATTEMPTS + 1):
        store.merge_results(fake_results("failed_retryable"),
                            f"run{attempt}")
        cp = store.read_checkpoint().where("url = 'u1'").first()
        assert cp["attempt"] == attempt
        if attempt < MAX_ATTEMPTS:
            assert cp["status"] == "failed_retryable"
            # still claimable
            inp = spark.createDataFrame(
                [("u1", datetime.now(timezone.utc), None, "x", "en")],
                schema=INPUT_SCHEMA)
            assert store.claimable(inp).count() == 1
        else:
            assert cp["status"] == "failed_permanent"  # dead letter

    inp = spark.createDataFrame(
        [("u1", datetime.now(timezone.utc), None, "x", "en")],
        schema=INPUT_SCHEMA)
    assert store.claimable(inp).count() == 0
    assert retry_distribution(store.read_checkpoint()) == {"3": 1}


def test_crash_duplicate_dedup(spark, input_df, tmp_path):
    state = str(tmp_path / "crash")
    run_extract_job(spark, input_df, state)
    store = ParquetCheckpointStore(spark, state)
    one = spark.read.parquet(f"{state}/results").limit(1) \
        .withColumn("run_id", F.lit("zzzz_orphan"))
    one.write.mode("append").parquet(f"{state}/results")
    url = one.first()["url"]
    cur = store.read_results_current()
    assert cur.where(F.col("url") == url).count() == 1


def test_skew_routing_partitions(spark, input_df):
    from docvault_ocr_service_spark.operators.skew import route_by_size

    normal, giants = route_by_size(input_df, 8, size_threshold=50_000)
    assert normal.count() + giants.count() == N_ROWS
    # every giant really is above threshold
    assert giants.where(
        F.octet_length("html") <= 50_000).count() == 0


def test_interrupted_swap_recovers(spark, input_df, tmp_path):
    """Crash between the two renames of the checkpoint's compaction swap
    must not lose the table: read path restores the .old backup."""
    import os
    import shutil as sh

    state = str(tmp_path / "swapcrash")
    run_extract_job(spark, input_df, state)
    store = ParquetCheckpointStore(spark, state)
    n = store.read_checkpoint().count()

    cp = os.path.join(state, "checkpoint")
    os.rename(cp, cp + ".old")  # simulate crash mid-swap
    assert store.read_checkpoint().count() == n  # recovered

    # stale backup alongside a live table must not break the next append;
    # the run's staged output is gone, so its done rows are re-merged
    # from the results table
    sh.copytree(cp, cp + ".old")
    store.merge_results(
        store.read_results().drop("run_id", "merged_at"), "rerun")
    assert store.read_checkpoint().count() == n


def test_null_url_rows_dropped_not_fatal(spark, tmp_path):
    """A null url can never be claimed or read back by url: it must be
    dropped at merge time instead of failing the whole run or landing
    in either table."""
    state = str(tmp_path / "nullurl")
    store = ParquetCheckpointStore(spark, state)
    schema = ("url string, status string, error_kind string, "
              "error_msg string, text string, confidence double, "
              "page_count int, pages array<struct<page:int,text:string,"
              "confidence:double,source:string>>, "
              "spans array<struct<seq:int,tag:string,start:int,"
              "end:int,link_density:double>>, "
              "metadata struct<confidence:double>, category string, "
              "category_confidence double, "
              "detected_languages array<string>, lang string, "
              "source string, processing_time double, partition_id int")
    rows = [(u, "done", None, None, "t", 95.0, 1, [], [], None, None,
             None, [], "en", "native", 0.0, 0)
            for u in ("ok1", None, "ok2")]
    store.merge_results(spark.createDataFrame(rows, schema=schema), "r1")
    cp = store.read_checkpoint()
    assert {r["url"] for r in cp.collect()} == {"ok1", "ok2"}
    res = store.read_results_current()
    assert {r["url"] for r in res.collect()} == {"ok1", "ok2"}
