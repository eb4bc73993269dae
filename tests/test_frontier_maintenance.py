"""Crawl-frontier composition + small-file compaction."""

import pytest
from pyspark.sql import functions as F

from docvault_ocr_service_spark.operators.maintenance import (
    compact_parquet)
from docvault_ocr_service_spark.plans.frontier import build_frontier


def test_build_frontier_end_to_end(spark):
    pages = spark.createDataFrame(
        [("https://a.example/p1",
          '<a href="https://b.example/x1">1</a>'
          '<a href="https://b.example/x2#frag">2</a>'
          '<a href="https://c.example/y1">3</a>'
          '<a href="https://c.example/private/z">4</a>'
          '<a href="https://seen.example/old">5</a>'
          '<a href="mailto:someone@x">skip</a>'
          + "".join(f'<a href="https://b.example/bulk{i}">b</a>'
                    for i in range(20)))],
        ["url", "html_text"])
    seen = spark.createDataFrame([("https://seen.example/old",)], ["url"])
    robots = spark.createDataFrame(
        [("c.example", "User-agent: *\nDisallow: /private/")],
        ["host", "robots_txt"])
    ranks = spark.createDataFrame(
        [("c.example", 0.9), ("b.example", 0.2)], ["host", "rank"])

    out = build_frontier(pages, seen, robots, ranks,
                         per_host_limit=3, limit=100).collect()
    urls = [r["url"] for r in out]
    assert "https://seen.example/old" not in urls          # seen dropped
    assert "https://c.example/private/z" not in urls       # robots
    assert "mailto:someone@x" not in urls                  # scheme gate
    assert "https://b.example/x2" in urls or any(
        u.startswith("https://b.example/") for u in urls)  # canonicalized
    per_host = {}
    for r in out:
        per_host[r["host"]] = per_host.get(r["host"], 0) + 1
    assert all(v <= 3 for v in per_host.values())          # politeness
    # higher-ranked host sorts first
    assert out[0]["host"] == "c.example"
    # fragment stripped by canonicalization
    assert all("#" not in u for u in urls)


def test_compact_parquet(spark, tmp_path):
    path = str(tmp_path / "tbl")
    for i in range(6):                      # 6 appends => many files
        spark.range(i * 100, (i + 1) * 100) \
            .withColumn("v", F.col("id") * 2) \
            .repartition(4).write.mode("append").parquet(path)
    import os

    before = sum(f.endswith(".parquet") for _, _, fs in os.walk(path)
                 for f in fs)
    assert before >= 12
    rows_before = sorted(r["id"] for r in
                         spark.read.parquet(path).collect())

    rep = compact_parquet(spark, path, target_file_bytes=1 << 30)
    assert rep["compacted"] and rep["files_after"] == 1
    rows_after = sorted(r["id"] for r in
                        spark.read.parquet(path).collect())
    assert rows_after == rows_before        # data byte-identical

    rep2 = compact_parquet(spark, path, target_file_bytes=1 << 30)
    assert not rep2["compacted"]            # idempotent no-op


def test_compaction_crash_recovery(spark, tmp_path):
    """A crash between the two renames must not lose the table: entry
    recovery and the results read path both restore the .old backup."""
    import os

    from docvault_ocr_service_spark.operators.maintenance import (
        recover_compaction)

    path = str(tmp_path / "t2")
    spark.range(100).write.parquet(path)
    os.rename(path, path + ".old")           # simulate mid-swap crash

    recover_compaction(path)
    assert os.path.isdir(path) and not os.path.isdir(path + ".old")
    assert spark.read.parquet(path).count() == 100

    # compact_parquet on the crashed state must recover, never delete
    os.rename(path, path + ".old")
    rep = compact_parquet(spark, path)
    assert spark.read.parquet(path).count() == 100

    # read_results also recovers (results_dir is a compaction target)
    from docvault_ocr_service_spark.operators.checkpoint import (
        ParquetCheckpointStore)
    state = str(tmp_path / "state")
    store = ParquetCheckpointStore(spark, state)
    spark.range(5).selectExpr("cast(id as string) as url",
                              "'done' as status") \
        .write.parquet(store.results_dir)
    os.rename(store.results_dir, store.results_dir + ".old")
    assert store.read_results().count() == 5


def _legacy_checkpoint(spark, cp, layout, rows):
    """Write ``rows`` in a legacy checkpoint layout at ``cp``: ``flat``
    part files, ``bucketed`` ``_b=K`` dirs from one partitioned write
    (so every bucket's file has the same name), or ``bucketed_crashed``:
    that, with one bucket left only at ``_b=K.old`` by a crash between
    its two renames, a stale ``_b=J.old`` beside a live ``_b=J`` holding
    a row that must not come back, and a leftover swap staging dir."""
    import os
    import shutil

    from docvault_ocr_service_spark.schemas import CHECKPOINT_SCHEMA

    df = spark.createDataFrame(rows, CHECKPOINT_SCHEMA)
    if layout == "flat":
        df.coalesce(2).write.parquet(cp)
        return
    (df.withColumn("_b", F.pmod(F.crc32(F.col("url").cast("binary")),
                                F.lit(64)))
     .repartition(1).write.partitionBy("_b").parquet(cp))
    buckets = sorted(d for d in os.listdir(cp) if d.startswith("_b="))
    names = [n for b in buckets for n in os.listdir(os.path.join(cp, b))
             if n.endswith(".parquet")]
    assert len(set(names)) == 1 < len(names)
    if layout == "bucketed_crashed":
        os.rename(os.path.join(cp, buckets[0]),
                  os.path.join(cp, buckets[0] + ".old"))
        stale = os.path.join(cp, buckets[1] + ".old")
        spark.createDataFrame([("https://x.example/stale", "done") +
                               rows[0][2:]], CHECKPOINT_SCHEMA) \
            .coalesce(1).write.parquet(stale)
        shutil.copytree(stale, os.path.join(cp + ".staging", buckets[2]))


@pytest.mark.parametrize("layout", ["flat", "bucketed", "bucketed_crashed"])
def test_checkpoint_legacy_layout_reads_as_a_log(spark, tmp_path, layout):
    """A legacy checkpoint reads as the log with no row lost and claims
    the same set.  A bucketed one migrates on first read by renames
    alone, starting no Spark job, and leaves no ``_b=*``, ``.old`` or
    staging dir; a second read changes nothing."""
    import os
    from datetime import datetime, timezone

    from docvault_ocr_service_spark.operators.checkpoint import (
        ParquetCheckpointStore)
    from docvault_ocr_service_spark.schemas import INPUT_SCHEMA

    state = str(tmp_path / "legacy")
    cp = os.path.join(state, "checkpoint")
    now = datetime.now(timezone.utc)
    statuses = ("done", "failed_permanent", "failed_retryable")
    rows = [(f"https://x.example/{i}", statuses[i % 3], 1 + i % 2,
             None, None, now, "r0") for i in range(30)]
    _legacy_checkpoint(spark, cp, layout, rows)

    store = ParquetCheckpointStore(spark, state)
    sc = spark.sparkContext
    group = f"legacy-{layout}"

    def jobs():
        sc._jsc.sc().listenerBus().waitUntilEmpty(30000)
        return set(sc.statusTracker().getJobIdsForGroup(group))

    sc.setJobGroup(group, "legacy checkpoint read")
    try:
        before = jobs()
        cur = store.read_checkpoint()
        assert jobs() == before
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)

    def key(r):
        return (r[0], r[1], r[2], r[3], r[4], r[6])

    assert sorted(map(key, cur.collect())) == sorted(map(key, rows))
    new = [f"https://x.example/new{i}" for i in range(3)]
    inp = spark.createDataFrame(
        [(u, now, None, "x", "en")
         for u in [r[0] for r in rows] + new + ["https://x.example/stale"]],
        schema=INPUT_SCHEMA)
    want = {r[0] for r in rows if r[1] == "failed_retryable"} | set(new) \
        | {"https://x.example/stale"}
    assert {r["url"] for r in store.claimable(inp).collect()} == want

    def listing():
        return sorted(os.path.relpath(os.path.join(d, n), state)
                      for d, _, ns in os.walk(state) for n in ns)

    assert sorted(os.listdir(state)) == ["checkpoint"]
    assert not [d for d in os.listdir(cp) if d.startswith("_b=")]
    first = listing()
    assert store.read_checkpoint().count() == len(rows)
    assert listing() == first
