"""Per-partition lineage + run-level metrics tables.

Replaces the reference's observability plane — progress webhooks
(``/root/reference/app/worker.py:502-555``), the per-task progress ring
(``app/redis_queue.py:1070-1117``) and the global Redis counters
(``app/redis_queue.py:870-915,966-1048``) — with two append-only tables
derived *from the result rows themselves*: the extraction map stage stamps
``partition_id`` (via TaskContext) and ``processing_time`` onto every row,
so lineage is a plain aggregation, not a side channel.  No accumulators, no
push callbacks; batch status = a groupBy, exactly as SURVEY §2.8 maps it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def lineage_rows(results: DataFrame, run_id: str) -> DataFrame:
    """results → lineage(run_id, partition_id, stage, ts, docs_in,
    docs_out, errors, wall_ms)."""
    return (
        results.groupBy("partition_id")
        .agg(
            F.count("*").alias("docs_in"),
            F.sum(F.when(F.col("status") == "done", 1).otherwise(0))
             .alias("docs_out"),
            F.sum(F.when(F.col("status") != "done", 1).otherwise(0))
             .alias("errors"),
            (F.sum("processing_time") * 1000).cast("long").alias("wall_ms"),
        )
        .select(
            F.lit(run_id).alias("run_id"),
            "partition_id",
            F.lit("extract").alias("stage"),
            F.current_timestamp().alias("ts"),
            "docs_in", "docs_out", "errors", "wall_ms",
        )
    )


def metrics_row(results: DataFrame, run_id: str) -> DataFrame:
    """Run-level rollup (success/failure counts, duration — the
    app/redis_queue.py:966-1048 aggregates as one select)."""
    return results.agg(
        F.lit(run_id).alias("run_id"),
        F.count("*").alias("total"),
        F.coalesce(
            F.sum(F.when(F.col("status") == "done", 1).otherwise(0)),
            F.lit(0)).alias("completed"),
        F.coalesce(
            F.sum(F.when(F.col("status") != "done", 1).otherwise(0)),
            F.lit(0)).alias("failed"),
        F.coalesce(F.sum("processing_time"), F.lit(0.0))
         .alias("total_duration"),
    )


def retry_distribution(checkpoint: DataFrame) -> dict[str, int]:
    """The checkpoint's current retry histogram, attempt → url count
    (the reference's retry counters, app/redis_queue.py:966-1048)."""
    return {str(r["attempt"]): r["count"]
            for r in checkpoint.groupBy("attempt").count().collect()}


def batch_status(checkpoint: DataFrame) -> DataFrame:
    """Run-level status matrix — the reference's per-task batch scan
    (app/redis_queue.py:399-423) as one pivot."""
    return (checkpoint.groupBy("run_id")
            .pivot("status",
                   ["done", "failed_retryable", "failed_permanent"])
            .count()
            .na.fill(0))


def error_summary(checkpoint: DataFrame, top_n: int = 20) -> DataFrame:
    """Most-common failure messages (app/error_handler.py:391-418)."""
    return (checkpoint.where(F.col("error_msg").isNotNull())
            .groupBy("error_kind", "error_msg")
            .agg(F.count("*").alias("n"))
            .orderBy(F.col("n").desc(), "error_kind", "error_msg")
            .limit(top_n))


def append_observability(spark: SparkSession, base_dir: str,
                         results: DataFrame, run_id: str,
                         total: int | None = None) -> None:
    """``total``: ``results``' row count if known; 0 skips the lineage."""
    if total != 0:
        lineage_rows(results, run_id).write.mode("append").parquet(
            os.path.join(base_dir, "lineage"))
    metrics_row(results, run_id).write.mode("append").parquet(
        os.path.join(base_dir, "metrics"))
