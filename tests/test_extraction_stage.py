"""The flagship job's extraction stage: one input scan, one claim, one
routing exchange and one ``mapInPandas`` for every row, giant PDFs
included, with no Spark job before the stage's write; giants placed in
partitions of their own and extracted as the whole-doc kernel does;
and a state dir that holds only the run's tables."""

import os
import re
import uuid

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.readwriter import DataFrameWriter

from docvault_ocr_service_spark import corpus
from docvault_ocr_service_spark.extract import extract_document
from docvault_ocr_service_spark.operators.checkpoint import (
    ParquetCheckpointStore)
from docvault_ocr_service_spark.operators.skew import (
    giant_partitions, is_oversized, route_once)
from docvault_ocr_service_spark.plans.extract_job import run_extract_job
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


def _seeded_input(spark, tmp_path, extra=()):
    """A parquet input of 40 corpus docs plus ``extra`` rows, and a state
    dir holding a settled first half of the corpus docs."""
    path = str(tmp_path / "input")
    docs = spark.createDataFrame(corpus.corpus_pdf(40), schema=INPUT_SCHEMA)
    inp = docs.unionByName(_frame(spark, list(extra))) if extra else docs
    inp.write.parquet(path)
    df = spark.read.schema(INPUT_SCHEMA).parquet(path)
    state = str(tmp_path / "state")
    run_extract_job(spark, docs.orderBy("url").limit(20), state)
    return df, state


def _run_watched(spark, monkeypatch, df, state, **opts):
    """Run the job over ``df``; return the extraction stage it planned
    (the frame its write observes) and the Spark jobs it started before
    that ``noop`` write."""
    sc = spark.sparkContext
    group = f"extraction-stage-{uuid.uuid4().hex}"
    stages, early = [], []
    frame = type(df)
    observe, save = frame.observe, DataFrameWriter.save

    def jobs():
        sc._jsc.sc().listenerBus().waitUntilEmpty(30000)
        return set(sc.statusTracker().getJobIdsForGroup(group))

    def spy_observe(self, *args, **kwargs):
        stages.append(self)
        return observe(self, *args, **kwargs)

    def spy_save(self, *args, **kwargs):
        early.append(jobs())
        return save(self, *args, **kwargs)

    monkeypatch.setattr(frame, "observe", spy_observe)
    monkeypatch.setattr(DataFrameWriter, "save", spy_save)
    sc.setJobGroup(group, "extraction stage")
    try:
        run_extract_job(spark, df, state, **opts)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(stages) == len(early) == 1
    return stages[0], early[0]


def _assert_single_stage_plan(stage):
    """One input scan, one checkpoint scan, the claim's broadcast, the
    routing exchange and one Python map — no second branch re-planning
    the claim."""
    plan = _executed_plan(stage)
    scans = [line for line in plan.splitlines() if "FileScan" in line]
    assert len([s for s in scans if "html#" in s]) == 1, plan
    assert len([s for s in scans if "status#" in s]) == 1, plan
    assert len(scans) == 2, plan
    exchanges = re.findall(r"(\w*Exchange) ", plan)
    assert sorted(exchanges) == ["BroadcastExchange", "Exchange"], plan
    assert "REPARTITION_BY_NUM" in plan
    assert plan.count("MapInPandas") == 1, plan


def test_stage_plan_is_one_scan_one_claim_one_exchange(spark, tmp_path, aqe,
                                                       monkeypatch):
    """The AQE-off plan of an incremental run's stage is the single
    plan, and the run starts no Spark job before the stage's write."""
    df, state = _seeded_input(spark, tmp_path)
    aqe(False)
    stage, early = _run_watched(spark, monkeypatch, df, state)
    _assert_single_stage_plan(stage)
    assert early == set()


def test_stage_plan_with_giant_pdf_is_the_single_plan(spark, tmp_path, aqe,
                                                      monkeypatch):
    """A claimed giant PDF changes nothing: the stage plans the same
    single plan and the run probes nothing before the stage's write."""
    giant = _giant_pdf_row()
    df, state = _seeded_input(spark, tmp_path, [giant])
    aqe(False)
    stage, early = _run_watched(spark, monkeypatch, df, state,
                                size_threshold=_GIANT)
    _assert_single_stage_plan(stage)
    assert early == set()
    cp = ParquetCheckpointStore(spark, state).read_checkpoint()
    assert cp.where(F.col("url") == giant["url"]).first()["status"] == "done"


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


def test_settled_giant_pdf_rerun_claims_none_of_it(spark, tmp_path):
    """A rerun whose input still holds a giant PDF that an earlier run
    settled claims none of it, and the state equals that of one
    uninterrupted run over the whole input."""
    giant = _giant_pdf_row()
    rows = _small_rows(20) + [giant]
    opts = dict(n_partitions=8, size_threshold=_GIANT)

    whole = str(tmp_path / "whole")
    run_extract_job(spark, _frame(spark, rows), whole, **opts)

    split = str(tmp_path / "split")
    first = run_extract_job(spark, _frame(spark, rows[10:]), split, **opts)
    assert first.claimed == 11

    rerun = run_extract_job(spark, _frame(spark, rows), split, **opts)
    assert rerun.claimed == 10

    want = _settled(ParquetCheckpointStore(spark, whole))
    got = _settled(ParquetCheckpointStore(spark, split))
    assert got == want
    assert {r["attempt"] for r in got[0]} == {1}
    assert giant["url"] in {r["url"] for r in got[1]}


def _encrypted(pdf: bytes) -> bytes:
    return pdf.replace(b"/Type /Catalog /Pages 2 0 R",
                       b"/Type /Catalog /Pages 2 0 R /Encrypt 99 0 R", 1)


def test_oversized_pdf_verdicts_equal_the_kernel(spark, tmp_path):
    """A failing PDF's checkpoint verdict does not depend on its size:
    oversized encrypted (no native text; an unsupported stream filter),
    scant and truncated PDFs settle exactly as ``extract_document``
    judges them."""
    text = [f"Page {i} of a long report with enough words to count."
            for i in range(200)]
    prose = corpus.make_pdf(text)
    payloads = {
        "https://enc.example/blank": _encrypted(corpus.make_pdf([" "] * 200)),
        "https://enc.example/filter": _encrypted(prose.replace(
            b">>\nstream", b"/Filter /LZWDecode >>\nstream", 1)),
        "https://scant.example/blank": corpus.make_pdf([" "] * 200),
        "https://bad.example/truncated": prose[:2 * len(prose) // 3],
    }
    assert min(map(len, payloads.values())) > _GIANT
    rows = _small_rows(10) + [
        {"url": url, "warc_ts": None, "html": html, "text": None,
         "lang": "en"} for url, html in payloads.items()]
    state = str(tmp_path / "state")
    run_extract_job(spark, _frame(spark, rows), state, n_partitions=4,
                    size_threshold=_GIANT)

    cp = ParquetCheckpointStore(spark, state).read_checkpoint()
    got = {r["url"]: (r["status"], r["error_kind"], r["error_msg"])
           for r in cp.where(F.col("url").isin(list(payloads))).collect()}
    want = {}
    for url, html in payloads.items():
        k = extract_document(url, html, None, "en")
        want[url] = (k["status"], k["error_kind"], k["error_msg"])
    assert got == want
    assert {v[:2] for u, v in got.items() if "enc.example" in u} \
        == {("failed_permanent", "encrypted_pdf")}


def test_state_dir_holds_only_the_tables_after_each_run(spark, tmp_path):
    """A run writes its output once, into the state dir's four tables:
    no per-run copy, no staging or backup dir left behind, and the
    cached stage released, after a first, an incremental and a no-op
    run."""
    state = str(tmp_path / "state")
    cached = spark.sparkContext._jsc.getPersistentRDDs
    df = spark.createDataFrame(corpus.corpus_pdf(30), schema=INPUT_SCHEMA)
    for rows in (df.orderBy("url").limit(10), df, df):
        before = set(cached().keys())
        run_extract_job(spark, rows, state)
        # no RDD the run persisted is left; the session's cleaner may
        # have released earlier ones meanwhile
        assert not set(cached().keys()) - before
        assert sorted(os.listdir(state)) == [
            "checkpoint", "lineage", "metrics", "results"]
        assert not [d for d in os.listdir(os.path.join(state, "checkpoint"))
                    if d.endswith(".old")]
