"""The flagship job's extraction stage: one input scan, one claim, one
routing exchange and one ``mapInPandas``; the page-explode route only
when a giant PDF is claimed; giants placed in partitions of their
own; and a state dir that holds only the run's tables."""

import os
import re

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from docvault_ocr_service_spark import corpus
from docvault_ocr_service_spark.operators.checkpoint import (
    ParquetCheckpointStore)
from docvault_ocr_service_spark.operators.skew import (
    giant_partitions, is_oversized, route_once)
from docvault_ocr_service_spark.plans import extract_job
from docvault_ocr_service_spark.plans.extract_job import (
    extraction_stage, giant_pdf, run_extract_job)
from docvault_ocr_service_spark.schemas import INPUT_SCHEMA

_ADAPTIVE = "spark.sql.adaptive.enabled"
_GIANT = 16 * 1024   # size threshold of the giant-PDF cases


@pytest.fixture
def aqe(spark):
    """Set AQE for one test and restore the session's value after."""
    saved = spark.conf.get(_ADAPTIVE)
    yield lambda on: spark.conf.set(_ADAPTIVE, str(on).lower())
    spark.conf.set(_ADAPTIVE, saved)


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _small_rows(n):
    return [{"url": f"https://normal.example/{i}", "warc_ts": None,
             "html": b"<html><body><p>small page body</p></body></html>",
             "text": None, "lang": "en"} for i in range(n)]


def _giant_pdf_row():
    pages = [" ".join(f"Invoice page {i} line {j}: Amount Due: $1{j}.00 "
                      f"on 2024-03-15" for j in range(40))
             for i in range(40)]
    payload = corpus.make_pdf(pages, compress=True)
    assert len(payload) > _GIANT
    return {"url": "https://giant.example/pdf", "warc_ts": None,
            "html": payload, "text": None, "lang": "en"}


def _frame(spark, rows, schema=INPUT_SCHEMA):
    return spark.createDataFrame(pd.DataFrame(rows), schema=schema)


def test_stage_plan_is_one_scan_one_claim_one_exchange(spark, tmp_path, aqe):
    """No giant PDF in the input: the stage plans exactly one input scan,
    one checkpoint scan, the claim's broadcast, the routing exchange and
    one Python map — no second branch re-planning the claim."""
    path = str(tmp_path / "input")
    spark.createDataFrame(corpus.corpus_pdf(40), schema=INPUT_SCHEMA) \
        .write.parquet(path)
    df = spark.read.schema(INPUT_SCHEMA).parquet(path)
    assert df.where(giant_pdf(extract_job.DEFAULT_SIZE_THRESHOLD)) \
        .count() == 0
    state = str(tmp_path / "state")
    run_extract_job(spark, df.orderBy("url").limit(20), state)

    aqe(False)
    claimed = ParquetCheckpointStore(spark, state).claimable(df)
    plan = _executed_plan(extraction_stage(df, claimed, 4))
    scans = [line for line in plan.splitlines() if "FileScan" in line]
    assert len([s for s in scans if "html#" in s]) == 1, plan
    assert len([s for s in scans if "status#" in s]) == 1, plan
    assert len(scans) == 2, plan
    exchanges = re.findall(r"(\w*Exchange) ", plan)
    assert sorted(exchanges) == ["BroadcastExchange", "Exchange"], plan
    assert "REPARTITION_BY_NUM" in plan
    assert plan.count("MapInPandas") == 1, plan


def test_stage_plan_with_giant_pdf_has_page_route(spark, aqe):
    df = _frame(spark, _small_rows(10) + [_giant_pdf_row()])
    aqe(False)
    plan = _executed_plan(extraction_stage(df, df, 4, _GIANT))
    # whole-doc kernel + page explode, page decode and per-doc finish
    assert plan.count("MapInPandas") == 4, plan
    assert re.search(r"Exchange hashpartitioning\(url#\d+, page_no#", plan)
    assert "collect_list" in plan


def test_routing_exchange_places_giants_apart(spark, aqe):
    """Under AQE the one exchange keeps its n + g partitions: giants sit
    only in [n, n + g), normal rows only in [0, n), and rows with a null
    url or a null payload are routed, not dropped."""
    n, threshold = 4, 1000
    rows = _small_rows(40)
    rows += [{"url": f"https://giant.example/{i}", "warc_ts": None,
              "html": b"<p>" + b"g" * (threshold + i) + b"</p>",
              "text": None, "lang": "en"} for i in range(6)]
    rows += [{"url": None, "warc_ts": None, "html": b"<p>no url</p>",
              "text": None, "lang": "en"},
             {"url": None, "warc_ts": None, "html": b"G" * 2 * threshold,
              "text": None, "lang": "en"},
             {"url": "https://null.example/html", "warc_ts": None,
              "html": None, "text": None, "lang": "en"}]
    # as read from parquet, where every column is nullable
    nullable = T.StructType([T.StructField(f.name, f.dataType, True)
                             for f in INPUT_SCHEMA.fields])
    df = _frame(spark, rows, nullable)

    aqe(True)
    placed = (route_once(df, n, threshold)
              .select(is_oversized("html", threshold).alias("giant"),
                      F.spark_partition_id().alias("pid"))
              .collect())
    assert len(placed) == len(rows)
    giant_pids = {r["pid"] for r in placed if r["giant"]}
    normal_pids = {r["pid"] for r in placed if not r["giant"]}
    assert sum(r["giant"] for r in placed) == 7
    assert giant_pids <= set(range(n, n + giant_partitions(n)))
    assert normal_pids <= set(range(n))
    assert not giant_pids & normal_pids


def _settled(store):
    cp = store.read_checkpoint().select(
        "url", "status", "attempt", "error_kind", "error_msg")
    res = store.read_results_current().drop(
        "run_id", "updated_at", "merged_at", "processing_time",
        "partition_id")
    return (sorted(cp.collect(), key=lambda r: r["url"]),
            sorted(res.collect(), key=lambda r: r["url"]))


def test_settled_giant_pdf_rerun_claims_none_of_it(spark, tmp_path,
                                                   monkeypatch):
    """The run that claims a giant PDF takes the page route; a rerun whose
    input still holds it, already settled, claims none of it and plans
    no page route, and the state equals that of one uninterrupted run
    over the whole input."""
    giant = _giant_pdf_row()
    rows = _small_rows(20) + [giant]
    opts = dict(n_partitions=8, size_threshold=_GIANT)

    whole = str(tmp_path / "whole")
    run_extract_job(spark, _frame(spark, rows), whole, **opts)

    routed = []
    page_route = extract_job.extract_pdf_docs

    def spy(df, n_partitions=None):
        routed.append(df)
        return page_route(df, n_partitions)

    monkeypatch.setattr(extract_job, "extract_pdf_docs", spy)
    split = str(tmp_path / "split")
    first = run_extract_job(spark, _frame(spark, rows[10:]), split, **opts)
    assert first.claimed == 11
    assert len(routed) == 1

    rerun = run_extract_job(spark, _frame(spark, rows), split, **opts)
    assert rerun.claimed == 10
    assert len(routed) == 1

    want = _settled(ParquetCheckpointStore(spark, whole))
    got = _settled(ParquetCheckpointStore(spark, split))
    assert got == want
    assert {r["attempt"] for r in got[0]} == {1}
    assert giant["url"] in {r["url"] for r in got[1]}


def test_state_dir_holds_only_the_tables_after_each_run(spark, tmp_path):
    """A run writes its output once, into the state dir's four tables:
    no per-run copy, no staging or backup dir left behind, and the
    cached stage released, after a first, an incremental and a no-op
    run."""
    state = str(tmp_path / "state")
    cached = spark.sparkContext._jsc.getPersistentRDDs
    df = spark.createDataFrame(corpus.corpus_pdf(30), schema=INPUT_SCHEMA)
    for rows in (df.orderBy("url").limit(10), df, df):
        n_cached = cached().size()
        run_extract_job(spark, rows, state)
        assert cached().size() == n_cached
        assert sorted(os.listdir(state)) == [
            "checkpoint", "lineage", "metrics", "results"]
        assert not [d for d in os.listdir(os.path.join(state, "checkpoint"))
                    if d.endswith(".old")]
