"""The checkpoint log: runs only add files to it and each run adds
O(its rows), reads dedup to one row per url and start no Spark job, a
url with any terminal row is settled, the attempt accounting holds, and
no-op reruns write nothing but their metrics row."""

import glob
import hashlib
import os
import zlib
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from docvault_ocr_service_spark import corpus
from docvault_ocr_service_spark.operators.checkpoint import (
    ParquetCheckpointStore)
from docvault_ocr_service_spark.plans.extract_job import run_extract_job
from docvault_ocr_service_spark.schemas import INPUT_SCHEMA, RESULT_SCHEMA

_TAIL = (None,) * (len(RESULT_SCHEMA.fields) - 4)
N_RUNS, PER_RUN, RETRIES = 9, 30, 6


def _results(spark, rows):
    """RESULT_SCHEMA rows from (url, status) pairs."""
    return spark.createDataFrame(
        [(u, s, None if s == "done" else "unexpected",
          None if s == "done" else "boom") + _TAIL for u, s in rows],
        RESULT_SCHEMA)


def _input(spark, urls):
    return spark.createDataFrame(
        [(u, datetime.now(timezone.utc), None, "x", "en") for u in urls],
        schema=INPUT_SCHEMA)


def _bucket(url):
    """The url's bucket in the 64-bucket layout the log replaced."""
    return zlib.crc32(url.encode()) % 64


def _parquet_files(root):
    return sorted(os.path.relpath(p, root) for p in
                  glob.glob(os.path.join(root, "**", "*.parquet"),
                            recursive=True))


def _files(root):
    """Every data file under ``root`` and its checksum file: relative
    path → (sha256, mtime, size).  The ``_SUCCESS`` commit marker, which
    every append rewrites, holds no rows and is left out."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            if "_SUCCESS" in n:
                continue
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                digest = hashlib.sha256(f.read()).hexdigest()
            out[os.path.relpath(p, root)] = (digest, os.path.getmtime(p),
                                             os.path.getsize(p))
    return out


@pytest.fixture(scope="module")
def grown_log(spark, tmp_path_factory):
    """A checkpoint log grown by N_RUNS small incremental runs into one
    state: each adds PER_RUN new urls, RETRIES of them retryable, and
    retries the previous run's retryable urls, which fail again.  Also
    the checkpoint's files after each run."""
    store = ParquetCheckpointStore(
        spark, str(tmp_path_factory.mktemp("log") / "state"))
    snaps, retry = [{}], []
    for i in range(N_RUNS):
        new = [(f"https://log.example/{i}/{j:02d}",
                "failed_retryable" if j < RETRIES else "done")
               for j in range(PER_RUN)]
        store.merge_results(_results(spark, new + retry), f"r{i}")
        snaps.append(_files(store.checkpoint_dir))
        retry = new[:RETRIES]
    return store, snaps


def test_log_runs_only_add_files_of_a_steady_size(spark, grown_log):
    """No run changes or removes a checkpoint file that existed before
    it (path, hash, mtime), the bytes a run adds do not grow with the
    log, and the log reads back as one row per url, the latest."""
    store, snaps = grown_log
    added = []
    for before, after in zip(snaps, snaps[1:]):
        for path, sig in before.items():
            assert after.get(path) == sig, f"run rewrote {path}"
        added.append(sum(after[p][2] for p in set(after) - set(before)
                         if p.endswith(".parquet")))
    assert abs(added[-1] - added[1]) <= 0.1 * added[1], added
    assert len(glob.glob(os.path.join(store.checkpoint_dir, "*.parquet"))) \
        >= N_RUNS

    rows = store.read_checkpoint().collect()
    assert len(rows) == len({r["url"] for r in rows}) == N_RUNS * PER_RUN
    attempts = {}
    for r in rows:
        attempts[r["attempt"]] = attempts.get(r["attempt"], 0) + 1
    assert attempts == {1: N_RUNS * PER_RUN - (N_RUNS - 1) * RETRIES,
                        2: (N_RUNS - 1) * RETRIES}
    assert store.claimable(_input(spark, [r["url"] for r in rows])) \
        .count() == RETRIES * N_RUNS


def test_checkpoint_reads_start_no_spark_job(spark, grown_log):
    """Reading a many-file checkpoint log lists its one directory on the
    driver: neither read_checkpoint() nor claimable() starts a job."""
    store, _ = grown_log
    urls = [f"https://log.example/{i}/{j:02d}"
            for i in range(N_RUNS) for j in range(RETRIES, PER_RUN)]
    inp = _input(spark, urls)

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


def test_any_terminal_row_settles_and_reads_are_stable(spark, tmp_path,
                                                        layouts):
    """The claim settles a url with any terminal row: also one a
    streaming re-crawl took from done to failed_retryable, whose current
    row is the retryable one.  A url with only retryable rows below
    MAX_ATTEMPTS stays claimable.  A run whose input holds one url twice
    reads back as the same single row under every session layout."""
    store = ParquetCheckpointStore(spark, str(tmp_path / "state"))
    recrawled = "https://claim.example/recrawled"
    retrying = "https://claim.example/retrying"
    twice = "https://claim.example/twice"
    store.merge_results(_results(spark, [(recrawled, "done"),
                                         (retrying, "failed_retryable")]),
                        "r1")
    store.merge_results(_results(spark, [(recrawled, "failed_retryable")]),
                        "stream00000001")
    cur = {r["url"]: r for r in store.read_checkpoint().collect()}
    assert (cur[recrawled]["status"], cur[recrawled]["attempt"]) \
        == ("failed_retryable", 2)
    assert {r["url"] for r in store.claimable(
        _input(spark, [recrawled, retrying])).collect()} == {retrying}

    dup = [(twice, "failed_retryable", "unexpected", msg) + _TAIL
           for msg in ("first", "second")]
    store.merge_results(spark.createDataFrame(dup, RESULT_SCHEMA), "r2")
    reads = []
    for _ in layouts():
        rows = store.read_checkpoint().where(F.col("url") == twice) \
            .collect()
        assert len(rows) == 1
        reads.append(rows[0])
    assert all(r == reads[0] for r in reads), reads
    assert reads[0]["attempt"] == 1


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
