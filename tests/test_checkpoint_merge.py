"""The checkpoint MERGE's physical shape and its attempt accounting:
one exchange, one file per bucket, no write stage wider than the slots,
checkpoint reads listed on the driver, and no-op reruns that write
nothing but their metrics row."""

import glob
import os
import zlib
from datetime import datetime, timezone

from pyspark.sql import functions as F

from docvault_ocr_service_spark import corpus
from docvault_ocr_service_spark.operators.checkpoint import (
    N_BUCKETS, ParquetCheckpointStore)
from docvault_ocr_service_spark.plans.extract_job import run_extract_job
from docvault_ocr_service_spark.schemas import INPUT_SCHEMA, RESULT_SCHEMA

_TAIL = (None,) * (len(RESULT_SCHEMA.fields) - 4)


def _results(spark, rows):
    """RESULT_SCHEMA rows from (url, status) pairs."""
    return spark.createDataFrame(
        [(u, s, None if s == "done" else "unexpected",
          None if s == "done" else "boom") + _TAIL for u, s in rows],
        RESULT_SCHEMA)


def _bucket(url):
    return zlib.crc32(url.encode()) % N_BUCKETS


def _all_bucket_urls(n=400):
    urls = [f"https://merge.example/{i}" for i in range(n)]
    assert {_bucket(u) for u in urls} == set(range(N_BUCKETS))
    return urls


def _parquet_files(root):
    return sorted(os.path.relpath(p, root) for p in
                  glob.glob(os.path.join(root, "**", "*.parquet"),
                            recursive=True))


def test_merge_is_one_exchange_and_one_file_per_bucket(spark, tmp_path):
    """A MERGE touching all 64 buckets plans exactly one Exchange (the
    hash repartition on _b; AQE off so the plan is final), writes from
    no more tasks than there are slots, and leaves one data file in
    every bucket directory."""
    store = ParquetCheckpointStore(spark, str(tmp_path / "state"))
    urls = _all_bucket_urls()
    store.merge_results(_results(spark, [(u, "failed_retryable")
                                         for u in urls]), "r1")

    seen = {}
    swap = store._swap_buckets

    def capture(df, touched):
        seen["plan"] = df._jdf.queryExecution().executedPlan().toString()
        seen["tasks"] = df.rdd.getNumPartitions()
        seen["touched"] = touched
        return swap(df, touched)

    store._swap_buckets = capture
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        store.merge_results(_results(spark, [(u, "done") for u in urls]),
                            "r2")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)

    exchanges = [line.strip(" :+-") for line in seen["plan"].splitlines()
                 if "Exchange" in line]
    assert len(exchanges) == 1, seen["plan"]
    assert exchanges[0].startswith("Exchange hashpartitioning(_b#"), \
        seen["plan"]
    assert seen["touched"] == list(range(N_BUCKETS))
    assert seen["tasks"] == min(N_BUCKETS,
                                spark.sparkContext.defaultParallelism)

    cp = store.checkpoint_dir
    per_bucket = {}
    for f in _parquet_files(cp):
        per_bucket.setdefault(f.split(os.sep)[0], []).append(f)
    assert sorted(per_bucket) == sorted(f"_b={k}" for k in range(N_BUCKETS))
    assert all(len(fs) == 1 for fs in per_bucket.values()), per_bucket
    rows = store.read_checkpoint()
    assert rows.columns == ["url", "status", "attempt", "error_kind",
                            "error_msg", "updated_at", "run_id"]
    assert {(r["status"], r["attempt"]) for r in rows.collect()} \
        == {("done", 2)}


def test_checkpoint_reads_start_no_spark_job(spark, tmp_path):
    """Reading a 64-bucket checkpoint lists its directories on the
    driver: neither read_checkpoint() nor claimable() starts a job (a
    parallel-listing job per read is what the session's listing
    threshold prevents)."""
    store = ParquetCheckpointStore(spark, str(tmp_path / "state"))
    urls = _all_bucket_urls()
    store.merge_results(_results(spark, [(u, "done") for u in urls]), "r1")
    assert len(glob.glob(os.path.join(store.checkpoint_dir, "_b=*"))) \
        == N_BUCKETS
    inp = spark.createDataFrame(
        [(u, datetime.now(timezone.utc), None, "x", "en") for u in urls],
        schema=INPUT_SCHEMA)

    sc = spark.sparkContext
    group = "checkpoint-listing-test"

    def jobs():
        sc._jsc.sc().listenerBus().waitUntilEmpty(30000)
        return set(sc.statusTracker().getJobIdsForGroup(group))

    sc.setJobGroup(group, "checkpoint reads")
    try:
        before = jobs()
        store.read_checkpoint()
        store.claimable(inp)
        after = jobs()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert after == before
    assert store.claimable(inp).count() == 0


def test_merge_attempt_accounting(spark, tmp_path):
    """The single-window MERGE keeps the attempt rules: a url retrying
    from attempt 2 reaches attempt 3 and dead-letters, a new url starts
    at attempt 1, and an old url the run does not touch keeps its row
    even when it shares a bucket with one that changes."""
    store = ParquetCheckpointStore(spark, str(tmp_path / "state"))
    retry = "https://merge.example/retry"
    pool = [f"https://merge.example/n{i}" for i in range(2000)]
    fresh = pool[0]
    neighbour = next(u for u in pool if _bucket(u) == _bucket(retry))

    store.merge_results(_results(spark, [(retry, "failed_retryable"),
                                         (neighbour, "done")]), "r1")
    store.merge_results(_results(spark, [(retry, "failed_retryable")]),
                        "r2")
    before = {r["url"]: r.asDict() for r in store.read_checkpoint()
              .collect()}
    assert (before[retry]["status"], before[retry]["attempt"]) \
        == ("failed_retryable", 2)

    store.merge_results(_results(spark, [(retry, "failed_retryable"),
                                         (fresh, "done")]), "r3")
    after = {r["url"]: r.asDict() for r in store.read_checkpoint()
             .collect()}
    assert set(after) == {retry, fresh, neighbour}
    assert {k: after[retry][k] for k in
            ("status", "attempt", "error_kind", "error_msg", "run_id")} \
        == {"status": "failed_permanent", "attempt": 3,
            "error_kind": "unexpected", "error_msg": "boom",
            "run_id": "r3"}
    assert {k: after[fresh][k] for k in
            ("status", "attempt", "error_kind", "error_msg", "run_id")} \
        == {"status": "done", "attempt": 1, "error_kind": None,
            "error_msg": None, "run_id": "r3"}
    assert after[neighbour] == before[neighbour]


def test_noop_rerun_writes_no_results_or_checkpoint_file(spark, tmp_path):
    """A rerun that claims nothing leaves results/, checkpoint/ and
    lineage/ as they were (no empty append, no MERGE) and still records
    itself as one metrics row with total 0."""
    state = str(tmp_path / "state")
    df = spark.createDataFrame(corpus.corpus_pdf(24), schema=INPUT_SCHEMA)
    run_extract_job(spark, df, state)

    def files():
        return {d: _parquet_files(os.path.join(state, d))
                for d in ("results", "checkpoint", "lineage")}

    before = files()
    rep = run_extract_job(spark, df, state)
    assert (rep.claimed, rep.completed, rep.failed) == (0, 0, 0)
    assert files() == before

    metrics = spark.read.parquet(os.path.join(state, "metrics"))
    assert metrics.count() == 2
    m = metrics.where(F.col("run_id") == rep.run_id).collect()
    assert len(m) == 1 and m[0]["total"] == 0
