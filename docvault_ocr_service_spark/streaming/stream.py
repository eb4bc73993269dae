"""Structured Streaming variants of the engine's stages.

The reference has no event-time streaming — its Redis queue is work
distribution, not stream semantics (SURVEY §2.10) — but a continuously
crawled corpus is naturally a stream of pages.  Two streaming plans:

- ``stream_extract``: file-source over INPUT_SCHEMA parquet → the same
  ``mapInPandas`` extraction kernel → parquet sink with a streaming
  checkpoint.  Exactly-once lands on the sink+checkpoint pair; the batch
  MERGE checkpoint is not needed because Structured Streaming tracks
  which input files are consumed.
- ``stream_event_metrics``: watermarked tumbling-window counts over an
  event stream (the observability rollup as a live view).

Both are testable with ``trigger(availableNow=True)`` — process
everything present, then stop — which is how the test suite drives them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.udfs import extract_batches
from ..schemas import INPUT_SCHEMA, RESULT_SCHEMA


def stream_extract(spark: SparkSession, input_dir: str, output_dir: str,
                   checkpoint_dir: str, *,
                   max_files_per_trigger: int | None = None):
    """Streaming extraction job; returns the started StreamingQuery."""
    reader = spark.readStream.schema(INPUT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger",
                               str(max_files_per_trigger))
    pages = reader.parquet(input_dir)

    results = pages.mapInPandas(extract_batches, schema=RESULT_SCHEMA)

    return (
        results.writeStream
        .format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_extract_merge(spark: SparkSession, input_dir: str,
                         state_dir: str, checkpoint_dir: str, *,
                         max_files_per_trigger: int | None = None):
    """Streaming extraction with the batch MERGE state as the sink.

    ``foreachBatch`` gives each micro-batch a normal DataFrame, which is
    merged through ``ParquetCheckpointStore`` — so a page re-crawled in a
    later file updates (not duplicates) its result, and the lineage/
    metrics tables grow per micro-batch exactly as per batch run.  This
    is the production shape for continuous crawls: Structured Streaming
    tracks *file* progress, the MERGE keys correctness on *url*.
    """
    from ..operators.checkpoint import ParquetCheckpointStore
    from ..operators.lineage import append_observability

    reader = spark.readStream.schema(INPUT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger",
                               str(max_files_per_trigger))
    pages = reader.parquet(input_dir)
    results = pages.mapInPandas(extract_batches, schema=RESULT_SCHEMA)

    def merge_batch(batch_df, batch_id: int) -> None:
        store = ParquetCheckpointStore(batch_df.sparkSession, state_dir)
        batch_df.persist()
        try:
            run_id = f"stream{batch_id:08d}"
            store.merge_results(batch_df, run_id)
            append_observability(batch_df.sparkSession, state_dir,
                                 batch_df, run_id)
        finally:
            batch_df.unpersist()

    return (results.writeStream
            .foreachBatch(merge_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def stream_user_totals(spark: SparkSession, input_dir: str,
                       query_name: str = "user_totals"):
    """Custom stateful operator via ``applyInPandasWithState``: running
    per-user event totals maintained in managed state.

    Demonstrates the engine's custom-stateful-streaming path (the
    SURVEY's P5 counters as live state instead of post-hoc aggregation).
    Emits the updated totals each micro-batch (update mode → memory sink
    here; kafka/foreachBatch-MERGE in production).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    events = (
        spark.readStream
        .schema("event_id long, ts timestamp, user_id long, "
                "event_type string, value double, props string")
        .parquet(input_dir)
    )

    def update_totals(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, total))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                            "sum_value": [round(total, 6)]})

    totals = events.groupBy("user_id").applyInPandasWithState(
        update_totals,
        outputStructType="user_id long, n_events long, sum_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return (totals.writeStream
            .format("memory")
            .queryName(query_name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start())


def stream_session_windows(spark: SparkSession, input_dir: str,
                           output_dir: str, checkpoint_dir: str,
                           gap: str = "30 minutes",
                           watermark: str = "2 hours"):
    """Native session windows: per-user sessions close after ``gap`` of
    inactivity (``F.session_window`` — Spark's built-in session state),
    sealed by the watermark and appended to parquet."""
    events = (
        spark.readStream
        .schema("event_id long, ts timestamp, user_id long, "
                "event_type string, value double, props string")
        .parquet(input_dir)
    )
    sessions = (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum("value"), 3).alias("session_value"))
        .select(F.col("win.start").alias("session_start"),
                F.col("win.end").alias("session_end"),
                "user_id", "n_events", "session_value")
    )
    return (sessions.writeStream
            .format("parquet")
            .option("path", output_dir)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start())


def stream_event_metrics(spark: SparkSession, input_dir: str,
                         output_dir: str, checkpoint_dir: str,
                         window: str = "1 hour",
                         watermark: str = "2 hours"):
    """Watermarked tumbling-window event counts (late data dropped after
    the watermark) — the streaming analogue of ``events_hourly``."""
    events = (
        spark.readStream
        .schema("event_id long, ts timestamp, user_id long, "
                "event_type string, value double, props string")
        .parquet(input_dir)
    )
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"),
             F.sum("value").alias("sum_value"))
        .select(F.col("win.start").alias("window_start"),
                F.col("win.end").alias("window_end"),
                "event_type", "n_events", "sum_value")
    )
    return (
        agg.writeStream
        .format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_dedup(spark: SparkSession, input_dir: str, index_dir: str,
                 output_dir: str, checkpoint_dir: str,
                 min_jaccard: float = 0.85):
    """Streaming near-duplicate filter: each micro-batch of pages is
    deduped against the persisted MinHash signature index
    (``operators/dedup.py::minhash_dedup_incremental``) — the
    continuous-crawl shape where the corpus is never re-signatured.

    Unique pages land in ``output_dir``; their signatures append to the
    ``index_dir`` table.  Idempotency: both writes go to a
    ``batch=<id>`` partition directory in ``overwrite`` mode, so a
    replayed micro-batch rewrites its own partition instead of
    double-appending (the parquet stand-in for an Iceberg
    ``overwritePartitions``; Structured Streaming tracks file progress,
    the partition key makes the side effects exactly-once).

    Pages with null/empty text share the all-MAX signature and are
    treated as duplicates of each other — drop empties upstream if that
    is not wanted.
    """
    pages = spark.readStream.schema(INPUT_SCHEMA).parquet(input_dir)

    def dedup_batch(batch_df: DataFrame, batch_id: int) -> None:
        _stream_dedup_batch(batch_df, batch_id, index_dir, output_dir,
                            min_jaccard)

    return (pages.writeStream
            .foreachBatch(dedup_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def _stream_dedup_batch(batch_df: DataFrame, batch_id: int,
                        index_dir: str, output_dir: str,
                        min_jaccard: float) -> None:
    """One micro-batch of ``stream_dedup`` (module-level so replay
    semantics are directly testable)."""
    from ..operators.dedup import minhash_dedup_incremental

    s = batch_df.sparkSession
    docs = batch_df.withColumn("__doc", F.xxhash64("url"))
    try:
        # CRITICAL replay rule: exclude this batch's own partition — a
        # replayed batch would otherwise self-match against the rows it
        # wrote before the crash and overwrite both partitions with
        # empty data
        index = (s.read.parquet(index_dir)
                 .where(F.col("batch") != batch_id)
                 .select("doc", "signature"))
    except Exception:  # noqa: BLE001 — first batch: no index yet
        index = None
    uniq_sigs, _pairs = minhash_dedup_incremental(
        docs, index, "__doc", "text", min_jaccard=min_jaccard)
    uniq_sigs = uniq_sigs.persist()
    try:
        kept = docs.join(
            uniq_sigs.select(F.col("doc").alias("__doc")),
            "__doc", "left_semi").drop("__doc")
        kept.write.mode("overwrite").parquet(
            f"{output_dir}/batch={batch_id}")
        uniq_sigs.write.mode("overwrite").parquet(
            f"{index_dir}/batch={batch_id}")
    finally:
        uniq_sigs.unpersist()
