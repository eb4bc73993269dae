"""The flagship end-to-end extraction job (batch, resumable).

Spark restatement of the reference's whole service loop (SURVEY §3.1):
scan → claim (MERGE-checkpoint anti-join) → size-routed salted
repartition → one ``mapInPandas`` extraction stage, materialized once in
executor storage → results append + checkpoint log append → lineage +
metrics appends.

Physical shape (why this survives 100×): one input scan, one checkpoint
scan and one claim anti-join feed ONE routing exchange
(``operators/skew.py::route_once``, a ``repartitionById`` that spreads
normal rows by a salted hash over ``n`` partitions and places oversized
rows thin in ``max(n // 4, 1)`` partitions of their own), and one
``mapInPandas`` extraction stage follows it.  The anti-join broadcasts
when the checkpoint is small and sort-merges when it isn't — Catalyst's
call.  Oversized PDFs take the same path as every other row: the
reference, too, extracts a PDF's pages inside one worker
(``app/worker.py:254-324``), and the kernel's per-document finish
(metadata and categorization over the joined text) is most of a giant
PDF's time, so splitting its pages would not spread the work that
counts.  The only aggregations are the tiny lineage/metrics rollups.

The run's output reaches disk once, through the results and checkpoint
appends: the stage is persisted and materialized by one ``noop`` write.
A lost cached block recomputes against the file listing fixed when the
stage was planned: the same claim, never a re-claim against the grown
checkpoint log.  Runs into one state dir must not overlap: two runs
would claim the same urls and count their attempts twice.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions.udfs import run_extraction
from ..operators.checkpoint import ParquetCheckpointStore, new_run_id
from ..operators.lineage import append_observability
from ..operators.skew import DEFAULT_SIZE_THRESHOLD, route_once
# not called here; perfbench's span tracer patches it by this module name
from ..operators.skew import route_by_size  # noqa: F401


@dataclass
class RunReport:
    run_id: str
    claimed: int
    completed: int
    failed: int


_IMAGE_HEADS_4 = (b"\x89PNG", b"II*\x00", b"MM\x00*", b"GIF8")


def is_image_payload(col: Column) -> Column:
    """Columnar magic-byte image sniff (the JVM-side twin of
    extract/images.py::sniff_image_format)."""
    h4 = F.substring(col, 1, 4)
    h3 = F.substring(col, 1, 3)
    out = h3 == F.lit(b"\xff\xd8\xff")
    for magic in _IMAGE_HEADS_4:
        out = out | (h4 == F.lit(magic))
    return out


def run_extract_job(spark: SparkSession, input_df: DataFrame,
                    state_dir: str, *, n_partitions: int | None = None,
                    size_threshold: int = DEFAULT_SIZE_THRESHOLD,
                    media_dir: str | None = None,
                    hocr_dir: str | None = None) -> RunReport:
    """One resumable run over ``input_df`` (INPUT_SCHEMA shape).

    ``input_df`` must be deterministic (no unordered ``limit`` or
    ``sample``): the media branch and the extraction stage each
    evaluate the claim over it.

    With ``media_dir`` set, image payloads additionally flow through the
    real decode path — features to ``media_dir/features/run=<id>`` and
    thumbnails to ``media_dir/thumbnails/run=<id>``.  Semantics are
    at-least-once across CRASHED runs (a retry claims the same urls
    under a fresh run id): consumers read via
    ``multimodal.read_media_latest`` which dedups per media_id by
    newest run — the same crash-dup discipline as
    ``read_results_current``.  The text-results taxonomy is unchanged:
    image rows still land as ``unsupported_format:image/*`` in the
    checkpoint (no OCR runtime turns pixels into text).

    With ``hocr_dir`` set, done rows additionally serialize as hOCR
    (the reference's ``output_format="hocr"`` surface) to
    ``hocr_dir/run=<id>`` as (url, hocr) parquet — a separate
    run-partitioned sink like media, so the MERGE'd results table keeps
    its fixed schema."""
    if n_partitions is None:
        n_partitions = spark.sparkContext.defaultParallelism

    store = ParquetCheckpointStore(spark, state_dir)
    run_id = new_run_id()

    claimed = store.claimable(input_df)

    if media_dir is not None:
        from ..functions.multimodal import (
            extract_media_features,
            generate_thumbnails,
        )

        # size-route before the decode map stage (the skew contract the
        # media functions document): giants go to their own thin
        # partitions instead of straggling a dense one
        imgs = (route_once(claimed.where(F.col("html").isNotNull()
                                         & is_image_payload(F.col("html"))),
                           n_partitions, size_threshold)
                .select(F.col("url").alias("media_id"),
                        F.lit("image").alias("kind"),
                        F.col("html").alias("payload"))
                .persist())
        try:
            extract_media_features(imgs, fake=False) \
                .write.mode("overwrite").parquet(
                    os.path.join(media_dir, "features", f"run={run_id}"))
            generate_thumbnails(imgs.select("media_id", "payload")) \
                .write.mode("overwrite").parquet(
                    os.path.join(media_dir, "thumbnails",
                                 f"run={run_id}"))
        finally:
            imgs.unpersist()

    extracted = run_extraction(route_once(claimed, n_partitions,
                                          size_threshold))

    # Materialize the run's output once, in executor storage; the write
    # also observes the run's counts, so neither the report nor the
    # appends re-scan for them.
    stage = Observation()
    staged = (extracted.observe(
        stage,
        F.count(F.lit(1)).alias("total"),
        F.count_if(F.col("status") == "done").alias("done"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    try:
        staged.write.format("noop").mode("overwrite").save()
        counts = stage.get

        if hocr_dir is not None:
            from ..functions.udfs import with_hocr

            (with_hocr(staged.where(F.col("status") == "done"))
             .select("url", "hocr")
             .write.mode("overwrite")
             .parquet(os.path.join(hocr_dir, f"run={run_id}")))

        # a run that completed nothing appends no empty results file; one
        # that claimed nothing appends no checkpoint or lineage rows
        # either; its metrics row records it
        if counts["total"]:
            store.merge_results(staged, run_id, n_done=counts["done"])
        append_observability(spark, state_dir, staged, run_id,
                             total=counts["total"])
    finally:
        staged.unpersist()

    return RunReport(run_id=run_id, claimed=counts["total"],
                     completed=counts["done"],
                     failed=counts["total"] - counts["done"])
