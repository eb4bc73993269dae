"""Idempotent checkpointing on url + retry/DLQ semantics, as an
append-only log.

Replaces the reference's Redis task state machine
(``/root/reference/app/redis_queue.py:99-127`` hashes,
``:464-527`` retry, ``:667-758`` DLQ) with one table keyed on ``url``:

    checkpoint(url, status, attempt, error_kind, error_msg, updated_at, run_id)
    status ∈ {done, failed_retryable, failed_permanent}

Claim rule (the reference's recovery invariant, ``app/redis_queue.py:509-527``
and ``tests/test_task_recovery.py``): a run processes exactly the input urls
that have no *terminal* row: ``done``, ``failed_permanent``, or
``failed_retryable`` at ``attempt ≥ MAX_ATTEMPTS``.  A url's retryable
failure at attempt 3 is written as ``failed_permanent`` (dead letter).
Re-running a completed job is a no-op.

Storage is merge-on-read, as Iceberg's spec calls it: ``checkpoint/`` is a
flat log of parquet files, and a run only adds files to it.  A url can have
several rows.  Each row carries ``attempt`` = 1 + the highest attempt among
that url's earlier rows, so the attempt count never needs a rewrite.

- The claim anti-joins the raw log.  In the batch job a url's status only
  moves forward (some retryable rows, then at most one terminal row), so a
  url with any terminal row is settled and the claim needs no dedup.  A
  streaming re-crawl may append a retryable row after a ``done`` one; the
  url stays settled for the batch claim.
- ``read_checkpoint`` is the current state: it dedups on read, one row per
  url.
- ``cleanup()`` is the only operation that rewrites the log: the explicit
  compaction, through the staging swap ``operators/maintenance.py`` uses
  for ``results/``.

On an Iceberg catalog the same contract is a ``MERGE INTO ... ON url``
(``operators/iceberg.py`` has the DDL).
"""

from __future__ import annotations

import glob as _glob
import os
import shutil
import uuid
from datetime import datetime, timezone

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..schemas import CHECKPOINT_SCHEMA
from .maintenance import recover_compaction, swap_in

MAX_ATTEMPTS = 3  # app/redis_queue.py:45


def new_run_id() -> str:
    return uuid.uuid4().hex[:12]


def _terminal() -> Column:
    return (F.col("status").isin("done", "failed_permanent")
            | ((F.col("status") == "failed_retryable")
               & (F.col("attempt") >= MAX_ATTEMPTS)))


class ParquetCheckpointStore:
    """Checkpoint + results persistence rooted at ``base_dir``."""

    def __init__(self, spark: SparkSession, base_dir: str) -> None:
        self.spark = spark
        self.base_dir = base_dir
        self.checkpoint_dir = os.path.join(base_dir, "checkpoint")
        self.results_dir = os.path.join(base_dir, "results")
        os.makedirs(base_dir, exist_ok=True)

    # -- the log ---------------------------------------------------------------
    def _log(self) -> DataFrame | None:
        """Every row of the checkpoint log, several per url, or None when
        the log has no file.  It first finishes a compaction a crash
        interrupted and migrates a bucketed legacy layout.  The log is one
        path listed on the driver, so a read starts no Spark job."""
        recover_compaction(self.checkpoint_dir)
        self._migrate_bucketed_layout()
        if not _glob.glob(os.path.join(self.checkpoint_dir, "*.parquet")):
            return None
        return (self.spark.read.schema(CHECKPOINT_SCHEMA)
                .parquet(self.checkpoint_dir))

    def _migrate_bucketed_layout(self) -> None:
        """Turn a legacy bucketed checkpoint (``_b=K/`` directories) into
        log files by renames alone.  A bucket file holds no ``_b``
        column, so it is a valid log file as it stands.  It moves to the
        root under a bucket-qualified name, because one partitioned write
        gives its file the same name in every bucket.  An ``_b=K.old``
        beside its ``_b=K`` is a stale backup and goes; one alone is the
        bucket a crash left between its two renames, and its files are
        taken instead.  A migration cut short resumes on the next read.
        A flat legacy checkpoint already is a log."""
        root = self.checkpoint_dir
        for backup in _glob.glob(os.path.join(root, "_b=*.old")):
            if os.path.isdir(backup[:-4]):
                shutil.rmtree(backup)
            else:
                os.rename(backup, backup[:-4])
        for bucket in _glob.glob(os.path.join(root, "_b=*")):
            k = os.path.basename(bucket)[3:]
            for f in _glob.glob(os.path.join(bucket, "*.parquet")):
                os.rename(f, os.path.join(root,
                                          f"b{k}-{os.path.basename(f)}"))
            shutil.rmtree(bucket)
        shutil.rmtree(root + ".staging", ignore_errors=True)

    # -- reads ---------------------------------------------------------------
    def read_checkpoint(self) -> DataFrame:
        """The checkpoint's current state, deduped on read: one row per
        url.  The latest ``updated_at`` wins, then the highest
        ``attempt``; the remaining columns break any tie left, so every
        read of one log returns the same rows."""
        log = self._log()
        if log is None:
            return self.spark.createDataFrame([], CHECKPOINT_SCHEMA)
        w = Window.partitionBy("url").orderBy(
            F.col("updated_at").desc(), F.col("attempt").desc(),
            "status", "error_kind", "error_msg", "run_id")
        return (log.withColumn("_rank", F.row_number().over(w))
                   .where(F.col("_rank") == 1).drop("_rank"))

    def read_results(self) -> DataFrame | None:
        # a crashed compaction run may have left results at .old —
        # finish its swap before deciding the table doesn't exist
        recover_compaction(self.results_dir)
        if not os.path.isdir(self.results_dir):
            return None
        # mergeSchema: results files written before a schema addition
        # (e.g. merged_at) must still read alongside new ones
        return (self.spark.read.option("mergeSchema", "true")
                .parquet(self.results_dir))

    def read_results_current(self) -> DataFrame | None:
        """Results view with exactly one row per url (latest run wins).

        Results are appended *before* the checkpoint rows, so a crash in
        the window between them can leave an orphan result row that a
        retry run duplicates; this view is the consumer-facing dedup, the
        same role an Iceberg MERGE's target table would play.
        """
        raw = self.read_results()
        if raw is None:
            return None
        # order by wall-clock merge time (run_id is a random uuid and
        # carries no recency; run_id desc only breaks exact-tie stamps)
        order = [F.col("merged_at").desc(), F.col("run_id").desc()] \
            if "merged_at" in raw.columns else [F.col("run_id").desc()]
        w = Window.partitionBy("url").orderBy(*order)
        return (raw.withColumn("_rank", F.row_number().over(w))
                   .where(F.col("_rank") == 1).drop("_rank"))

    # -- claim ---------------------------------------------------------------
    def claimable(self, input_df: DataFrame) -> DataFrame:
        """Input rows this run must process: a left-anti join on the urls
        with a terminal row anywhere in the raw log."""
        log = self._log()
        if log is None:
            return input_df
        return input_df.join(log.where(_terminal()).select("url"), "url",
                             "left_anti")

    # -- merge ---------------------------------------------------------------
    def merge_results(self, results: DataFrame, run_id: str,
                      n_done: int | None = None) -> None:
        """Append a run's rows to the results table and the checkpoint log.

        ``results`` must already be materialized (the job runner persists
        each run's output and materializes it first) — this method
        consumes it more than once and must not recompute the extraction.

        Order matters: result rows land *before* the checkpoint rows (the
        reference stores the result then flips status,
        app/redis_queue.py:265-304).  A crash between the two re-runs the
        url and appends a second result row; ``read_results_current``
        dedupes by latest run.

        The checkpoint append only adds files: no file of the log is
        rewritten, renamed or deleted, so a run writes O(its rows).  Each
        row's ``attempt`` is 1 + the highest attempt among the url's
        earlier log rows, found by a semi-join of the log on the run's
        urls (skipped while the log is empty); a ``failed_retryable`` row
        at ``MAX_ATTEMPTS`` is written as ``failed_permanent``.  An
        append cut short leaves some of the run's rows in the log; a
        rerun claims the rest again.

        ``n_done`` (the number of done rows) is for a caller that already
        knows it, e.g. from an ``Observation`` on the write that
        materialized ``results``: ``n_done == 0`` skips the results
        append, which would otherwise add an empty file.
        """
        now = F.lit(datetime.now(timezone.utc)).cast("timestamp")

        # a null url can never be claimed or read back by url: drop such
        # rows here rather than let one bad row into either table
        results = results.where(F.col("url").isNotNull())

        if n_done != 0:
            (results.where(F.col("status") == "done")
             .withColumn("run_id", F.lit(run_id))
             .withColumn("merged_at", now)
             .write.mode("append").parquet(self.results_dir))

        rows = results.select("url", "status", "error_kind", "error_msg")
        log = self._log()
        attempt = F.lit(1)
        if log is not None:
            prior = (log.join(rows.select("url"), "url", "left_semi")
                     .groupBy("url").agg(F.max("attempt").alias("_prior")))
            rows = rows.join(prior, "url", "left")
            attempt = F.coalesce(F.col("_prior") + 1, attempt)
        rows = rows.withColumn("attempt", attempt)
        dead = ((F.col("status") == "failed_retryable")
                & (F.col("attempt") >= MAX_ATTEMPTS))
        (rows.select("url",
                     F.when(dead, F.lit("failed_permanent"))
                     .otherwise(F.col("status")).alias("status"),
                     "attempt", "error_kind", "error_msg",
                     now.alias("updated_at"), F.lit(run_id).alias("run_id"))
         .write.mode("append").parquet(self.checkpoint_dir))

    def cleanup(self, older_than, *, dry_run: bool = False) -> int:
        """Compact the checkpoint log, dropping settled rows older than a
        cutoff — the reference's old-task cleanup
        (app/redis_queue.py:760-868), including its dry-run mode.  The
        one operation that rewrites the log: it keeps
        ``read_checkpoint``'s one row per url, drops the settled ones
        last updated before ``older_than``, and swaps the survivors in
        through ``maintenance.swap_in``, so a crash leaves the old log or
        the new one.  Returns the number of urls whose row was (or would
        be) removed.  It must not run while a job appends to the same
        state dir."""
        cp = self.read_checkpoint()
        keep = ((F.col("status") == "failed_retryable")
                | (F.col("updated_at") >= F.lit(older_than)))
        n = cp.where(~keep).count()
        if not dry_run:
            swap_in(cp.where(keep), self.checkpoint_dir)
        return n
