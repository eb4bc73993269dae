"""Enforced StructTypes for every table in the engine.

The reference keeps stringly-typed Redis hashes validated ad hoc by
Pydantic (``/root/reference/app/models.py:10-150``,
``app/redis_queue.py:203-217``); here every stage has an explicit Spark
schema — required by the Arrow/pandas-UDF boundary and an upgrade the
SURVEY (§1.3) calls for.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Input table — the driver's input hint (BASELINE.json):
# Common-Crawl-style pages.
INPUT_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), True),
    T.StructField("html", T.BinaryType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
])

# Extracted-metadata struct — mirrors the reference dataclass
# (app/metadata_extractor_v2.py:19-35) with dates as real DateType.
METADATA_SCHEMA = T.StructType([
    T.StructField("dates", T.ArrayType(T.DateType()), True),
    T.StructField("amounts", T.ArrayType(T.DoubleType()), True),
    T.StructField("names", T.ArrayType(T.StringType()), True),
    T.StructField("emails", T.ArrayType(T.StringType()), True),
    T.StructField("phones", T.ArrayType(T.StringType()), True),
    T.StructField("addresses", T.ArrayType(T.StringType()), True),
    T.StructField("postal_codes", T.ArrayType(T.StringType()), True),
    T.StructField("invoice_numbers", T.ArrayType(T.StringType()), True),
    T.StructField("po_numbers", T.ArrayType(T.StringType()), True),
    T.StructField("tax_ids", T.ArrayType(T.StringType()), True),
    T.StructField("date_contexts", T.ArrayType(T.StringType()), True),
    T.StructField("amount_labels", T.ArrayType(T.StringType()), True),
    T.StructField("name_contexts", T.ArrayType(T.StringType()), True),
    T.StructField("confidence", T.DoubleType(), True),
])

# Per-page entry — shape of app/worker.py:231-239.
PAGE_SCHEMA = T.StructType([
    T.StructField("page", T.IntegerType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("confidence", T.DoubleType(), True),
    T.StructField("source", T.StringType(), True),
])

# Kept-block span — the word-box analogue (app/ocr_service.py:386-403).
SPAN_SCHEMA = T.StructType([
    T.StructField("seq", T.IntegerType(), True),
    T.StructField("tag", T.StringType(), True),
    T.StructField("start", T.IntegerType(), True),
    T.StructField("end", T.IntegerType(), True),
    T.StructField("link_density", T.DoubleType(), True),
])

# Full result row (FIXTURES.md §2 `results` + checkpoint fields inline).
RESULT_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("status", T.StringType(), False),
    T.StructField("error_kind", T.StringType(), True),
    T.StructField("error_msg", T.StringType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("confidence", T.DoubleType(), True),
    T.StructField("page_count", T.IntegerType(), True),
    T.StructField("pages", T.ArrayType(PAGE_SCHEMA), True),
    T.StructField("spans", T.ArrayType(SPAN_SCHEMA), True),
    T.StructField("metadata", METADATA_SCHEMA, True),
    T.StructField("category", T.StringType(), True),
    T.StructField("category_confidence", T.DoubleType(), True),
    T.StructField("detected_languages", T.ArrayType(T.StringType()), True),
    T.StructField("lang", T.StringType(), True),
    T.StructField("source", T.StringType(), True),
    T.StructField("processing_time", T.DoubleType(), True),
    T.StructField("partition_id", T.IntegerType(), True),
])

# Checkpoint table (FIXTURES.md §2): MERGE-on-url idempotent restart state.
CHECKPOINT_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("status", T.StringType(), False),
    T.StructField("attempt", T.IntegerType(), False),
    T.StructField("error_kind", T.StringType(), True),
    T.StructField("error_msg", T.StringType(), True),
    T.StructField("updated_at", T.TimestampType(), False),
    T.StructField("run_id", T.StringType(), False),
])

# Per-partition lineage (replaces progress webhooks/history,
# app/redis_queue.py:1070-1117, app/worker.py:502-555).
LINEAGE_SCHEMA = T.StructType([
    T.StructField("run_id", T.StringType(), False),
    T.StructField("partition_id", T.IntegerType(), False),
    T.StructField("stage", T.StringType(), False),
    T.StructField("ts", T.TimestampType(), False),
    T.StructField("docs_in", T.LongType(), False),
    T.StructField("docs_out", T.LongType(), False),
    T.StructField("errors", T.LongType(), False),
    T.StructField("wall_ms", T.LongType(), False),
])

# Run-level metrics (app/redis_queue.py:966-1048 analogue).
METRICS_SCHEMA = T.StructType([
    T.StructField("run_id", T.StringType(), False),
    T.StructField("total", T.LongType(), False),
    T.StructField("completed", T.LongType(), False),
    T.StructField("failed", T.LongType(), False),
    T.StructField("total_duration", T.DoubleType(), False),
])
