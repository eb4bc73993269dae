"""Idempotent MERGE-on-url checkpointing + retry/DLQ semantics.

Replaces the reference's Redis task state machine
(``/root/reference/app/redis_queue.py:99-127`` hashes,
``:464-527`` retry, ``:667-758`` DLQ) with one table keyed on ``url``:

    checkpoint(url, status, attempt, error_kind, error_msg, updated_at, run_id)
    status ∈ {done, failed_retryable, failed_permanent}

Claim rule (the reference's recovery invariant, ``app/redis_queue.py:509-527``
and ``tests/test_task_recovery.py``): a run processes exactly the input urls
that are *absent* from the checkpoint or sitting at ``failed_retryable`` with
``attempt < MAX_ATTEMPTS``; rows at attempt ≥ 3 flip to ``failed_permanent``
(dead letter).  Re-running a completed job is a no-op.

Storage: on an Iceberg catalog this is a literal ``MERGE INTO ... ON url``
against a table bucketed ``bucket(64, url)`` (``operators/iceberg.py`` has
the DDL) and only data files containing matched urls rewrite.
``ParquetCheckpointStore`` mirrors that physically: the checkpoint is laid
out as 64 url-hash buckets (``checkpoint/_b=0.._b=63``, partition-style
names, so reading the checkpoint root yields ``_b`` by partition
discovery; bucket = crc32(url) % 64 — engine-portable, seed-independent)
and a MERGE rewrites *only the buckets containing updated urls*; untouched
bucket files stay byte-identical on disk.  An incremental run touching k
urls rewrites O(min(k, 64)) buckets, not the whole table — the property
that keeps per-run MERGE cost bounded at 10^12 checkpoint rows.

A MERGE is a fixed few Spark jobs, whatever the bucket count:

- reads list the bucket directories on the driver: they go through the
  checkpoint root, a partition-pruned ``_b IN (touched)`` picks buckets,
  and ``session.get_spark`` sets the parallel-listing threshold to
  ``N_BUCKETS``, so no listing job starts;
- the touched buckets' old rows and the run's new rows meet in ONE
  exchange, a hash repartition on ``_b``; the prior attempt and the
  upsert rank are one window over ``(_b, url)``, which that partitioning
  already satisfies;
- the write runs at most ``defaultParallelism`` tasks, each holding whole
  buckets, so every ``_b=K`` directory gets exactly one file.
"""

from __future__ import annotations

import glob as _glob
import os
import shutil
import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import CHECKPOINT_SCHEMA

MAX_ATTEMPTS = 3  # app/redis_queue.py:45
N_BUCKETS = 64    # matches iceberg.py bucket(64, url)

# a checkpoint row as read from the bucketed layout: _b is the bucket
# directory's partition value, not a column of the files
_BUCKETED_SCHEMA = T.StructType(
    CHECKPOINT_SCHEMA.fields + [T.StructField("_b", T.IntegerType())])


def new_run_id() -> str:
    return uuid.uuid4().hex[:12]


class ParquetCheckpointStore:
    """Checkpoint + results persistence rooted at ``base_dir``."""

    def __init__(self, spark: SparkSession, base_dir: str,
                 n_buckets: int = N_BUCKETS) -> None:
        self.spark = spark
        self.base_dir = base_dir
        self.checkpoint_dir = os.path.join(base_dir, "checkpoint")
        self.results_dir = os.path.join(base_dir, "results")
        self.n_buckets = n_buckets
        os.makedirs(base_dir, exist_ok=True)

    # -- bucket layout ---------------------------------------------------------
    def bucket_col(self):
        """url → bucket id; crc32 is the same function the dedup kernels
        use executor-side (zlib.crc32), so Python tests can predict it."""
        return F.pmod(F.crc32(F.col("url").cast("binary")),
                      F.lit(self.n_buckets)).cast("int")

    def _by_bucket(self, df: DataFrame, touched: list[int]) -> DataFrame:
        """The one layout of a bucket rewrite: hash-partition on ``_b``
        into at most ``defaultParallelism`` tasks.  Each bucket lands
        whole in one task, so the partitioned write leaves exactly one
        file per ``_b=K`` directory, and no write stage is wider than
        the slots."""
        n = min(len(touched), self.spark.sparkContext.defaultParallelism)
        return df.repartition(n, "_b")

    def _bucket_path(self, k: int) -> str:
        return os.path.join(self.checkpoint_dir, f"_b={k}")

    def _existing_buckets(self) -> list[str]:
        if not os.path.isdir(self.checkpoint_dir):
            return []
        self._recover_bucket_swaps()
        self._migrate_flat_layout()
        return sorted(_glob.glob(os.path.join(self.checkpoint_dir,
                                              "_b=[0-9]*")))

    def _migrate_flat_layout(self) -> None:
        """One-time upgrade of a pre-bucketing checkpoint: flat
        part-*.parquet files at the checkpoint root are rewritten into
        the bucketed layout (every bucket 'touched'), then removed.
        Without this, a legacy state dir would silently read as an
        empty checkpoint and every settled url would be re-claimed."""
        flat = _glob.glob(os.path.join(self.checkpoint_dir, "*.parquet"))
        if not flat:
            return
        rows = (self.spark.read.schema(CHECKPOINT_SCHEMA).parquet(*flat)
                .withColumn("_b", self.bucket_col()))
        touched = sorted(r["_b"] for r in
                         rows.select("_b").distinct().collect())
        if touched:
            self._swap_buckets(self._by_bucket(rows, touched), touched)
        for f in flat:
            os.remove(f)
        for extra in ("_SUCCESS",):
            p = os.path.join(self.checkpoint_dir, extra)
            if os.path.isfile(p):
                os.remove(p)

    def _recover_bucket_swaps(self) -> None:
        """Finish any bucket swap a crash interrupted: a ``_b=K.old``
        without its ``_b=K`` means the crash hit between the two renames —
        restore the backup.  A ``.old`` alongside a live bucket means the
        crash hit after the new data landed — the new bucket is already
        consistent (results append before the checkpoint flips), drop the
        stale backup."""
        for backup in _glob.glob(os.path.join(self.checkpoint_dir,
                                              "_b=[0-9]*.old")):
            target = backup[:-4]
            if not os.path.isdir(target):
                os.rename(backup, target)
            else:
                shutil.rmtree(backup)

    # -- reads ---------------------------------------------------------------
    def read_checkpoint(self) -> DataFrame:
        return self._read_buckets().drop("_b")

    def _read_buckets(self) -> DataFrame:
        """Every stored row with its ``_b`` (after finishing crashed swaps
        and migrating a flat layout).  One path, the checkpoint root:
        Spark lists its bucket directories on the driver (see the
        listing threshold in ``session.get_spark``), and a filter on
        ``_b`` prunes whole directories before any file is opened."""
        self._recover_interrupted_swap(self.checkpoint_dir)
        if not self._existing_buckets():
            return self.spark.createDataFrame([], _BUCKETED_SCHEMA)
        return (self.spark.read.schema(_BUCKETED_SCHEMA)
                .parquet(self.checkpoint_dir))

    @staticmethod
    def _recover_interrupted_swap(target: str) -> None:
        """A crash between the two renames of a whole-table swap leaves
        the previous table at ``.old`` and no ``target`` — restore it
        rather than silently treating the checkpoint as empty."""
        backup = target + ".old"
        if os.path.isdir(backup) and not os.path.isdir(target):
            os.rename(backup, target)

    def read_results(self) -> DataFrame | None:
        # a crashed compaction run may have left results at .old —
        # finish its swap before deciding the table doesn't exist
        from .maintenance import recover_compaction
        recover_compaction(self.results_dir)
        if not os.path.isdir(self.results_dir):
            return None
        # mergeSchema: results files written before a schema addition
        # (e.g. merged_at) must still read alongside new ones
        return (self.spark.read.option("mergeSchema", "true")
                .parquet(self.results_dir))

    def read_results_current(self) -> DataFrame | None:
        """Results view with exactly one row per url (latest run wins).

        Results are appended *before* the checkpoint swap, so a crash in
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
        """Input rows this run must process (left-anti on settled urls)."""
        cp = self.read_checkpoint()
        settled = cp.where(
            (F.col("status") == "done")
            | (F.col("status") == "failed_permanent")
            | ((F.col("status") == "failed_retryable")
               & (F.col("attempt") >= MAX_ATTEMPTS))
        ).select("url")
        return input_df.join(settled, "url", "left_anti")

    # -- merge ---------------------------------------------------------------
    def merge_results(self, results: DataFrame, run_id: str,
                      touched: list[int] | None = None,
                      n_done: int | None = None) -> None:
        """MERGE new result rows into results + checkpoint tables.

        ``results`` must already be materialized (the job runner persists
        each run's output and materializes it first) — this method
        consumes it twice and must not recompute the extraction.

        Order matters: result rows land *before* the checkpoint flips to
        done (the reference stores the result then flips status,
        app/redis_queue.py:265-304).  A crash between the two re-runs the
        url and appends a second result row; ``read_results_current``
        dedupes by latest run.

        Incrementality: only buckets whose urls appear in ``results``
        rewrite; every other bucket's files are untouched.  The rewrite
        plans a single exchange: the touched buckets' old rows
        (read through a driver-side listing of the checkpoint root,
        pruned to those buckets) are unioned with the new rows and hash
        partitioned on ``_b`` into at most ``defaultParallelism`` tasks;
        a single window over ``(_b, url)`` takes each url's prior attempt
        (its max over the old rows) and ranks the upsert; the partitioned
        write leaves one file per bucket directory, which is then swapped
        into place.

        ``touched`` (the bucket ids of ``results``' non-null urls) and
        ``n_done`` (its number of done rows) are for a caller that already
        knows them, e.g. from an ``Observation`` on the write that
        materialized ``results``: ``touched`` saves the bucket scan, and
        ``n_done == 0`` skips the results append, which would otherwise
        add an empty file.  Without them nothing is skipped.
        """
        now = datetime.now(timezone.utc)

        # a null url has no bucket (null crc32 -> null _b): it could
        # never be claimed, fetched, or cleaned up, and None poisons the
        # sorted() over collected bucket ids below — drop such rows here
        # rather than letting one bad row fail the whole merge
        results = results.where(F.col("url").isNotNull())

        if n_done != 0:
            (results.where(F.col("status") == "done")
             .withColumn("run_id", F.lit(run_id))
             .withColumn("merged_at", F.lit(now).cast("timestamp"))
             .write.mode("append").parquet(self.results_dir))

        results = results.withColumn("_b", self.bucket_col())
        if touched is None:
            # bounded driver-side collect: at most n_buckets ints
            touched = sorted(r["_b"] for r in
                             results.select("_b").distinct().collect())
        if not touched:
            return

        # a url's previous row can only live in its own bucket, so the
        # touched buckets' rows serve both the attempt accounting and
        # the upsert — untouched buckets are never read.  New rows carry
        # a null attempt until the window has seen the old ones.
        new = results.select(
            "url", "status", F.lit(None).cast("int").alias("attempt"),
            "error_kind", "error_msg",
            F.lit(now).cast("timestamp").alias("updated_at"),
            F.lit(run_id).alias("run_id"), "_b",
            F.lit(True).alias("_new"))
        rows = self._by_bucket(
            self._read_buckets().where(F.col("_b").isin(touched))
            .withColumn("_new", F.lit(False))
            .unionByName(new), touched)

        # upsert: old rows lose to new rows on the same url (a new row's
        # attempt would exceed every old one, so _new ranks exactly as
        # the computed attempt would); the prior attempt is the max over
        # the whole url partition, in which only old rows carry one
        latest = Window.partitionBy("_b", "url").orderBy(
            F.col("updated_at").desc(), F.col("_new").desc(),
            F.col("attempt").desc())
        url_rows = latest.rowsBetween(Window.unboundedPreceding,
                                      Window.unboundedFollowing)
        attempt = F.coalesce(F.col("_prior"), F.lit(0)) + 1
        merged = (
            rows.select("*",
                        F.max("attempt").over(url_rows).alias("_prior"),
                        F.row_number().over(latest).alias("_rank"))
            .where(F.col("_rank") == 1)
            .withColumn("attempt", F.when(F.col("_new"), attempt)
                        .otherwise(F.col("attempt")))
            .withColumn(
                "status",
                F.when(
                    F.col("_new")
                    & (F.col("status") == "failed_retryable")
                    & (F.col("attempt") >= MAX_ATTEMPTS),
                    F.lit("failed_permanent"),
                ).otherwise(F.col("status")),
            )
            .select(*CHECKPOINT_SCHEMA.fieldNames(), "_b")
        )
        self._swap_buckets(merged, touched)

    def _swap_buckets(self, df: DataFrame, touched: list[int]) -> None:
        """Write the touched buckets' new contents in ONE Spark job
        (partitioned staging write of ``df``, laid out by
        ``_by_bucket``), then swap each bucket directory into place.
        Each individual swap is atomic (backup rename + restore on the
        read path); a crash between swaps leaves earlier buckets new and
        later ones old — consistent, because result rows were appended
        first, so re-claiming an un-flipped url merely appends a
        duplicate that ``read_results_current`` dedupes."""
        staging = self.checkpoint_dir + ".staging"
        if os.path.isdir(staging):
            shutil.rmtree(staging)
        df.write.partitionBy("_b").mode("overwrite").parquet(staging)
        os.makedirs(self.checkpoint_dir, exist_ok=True)
        for k in touched:
            src = os.path.join(staging, f"_b={k}")
            dst = self._bucket_path(k)
            backup = dst + ".old"
            if os.path.isdir(backup):  # stale backup from a prior crash
                shutil.rmtree(backup)
            if os.path.isdir(dst):
                os.rename(dst, backup)
            if os.path.isdir(src):
                os.rename(src, dst)
            # else: bucket emptied (cleanup) — absence == empty bucket
            if os.path.isdir(backup):
                shutil.rmtree(backup)
        shutil.rmtree(staging, ignore_errors=True)

    def cleanup(self, older_than, *, dry_run: bool = False) -> int:
        """Drop settled checkpoint rows older than a cutoff — the
        reference's old-task cleanup (app/redis_queue.py:760-868),
        including its dry-run mode.  Returns the number of rows that
        were (or would be) removed.  Only buckets holding doomed rows
        rewrite."""
        cp = self._read_buckets()
        keep = ((F.col("status") == "failed_retryable")
                | (F.col("updated_at") >= F.lit(older_than)))
        doomed = cp.where(~keep)
        touched = sorted(r["_b"] for r in
                         doomed.select("_b").distinct().collect())
        if not touched or dry_run:
            # count() after collect(): both consume the same doomed plan;
            # dry runs must not write anything
            return doomed.count()
        n = doomed.count()
        survivors = cp.where(F.col("_b").isin(touched) & keep)
        self._swap_buckets(self._by_bucket(survivors, touched), touched)
        return n
