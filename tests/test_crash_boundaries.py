"""A run that crashes at a commit boundary converges on rerun.

Each case raises from the driver at one boundary of ``run_extract_job``
(after the stage's ``noop`` write, after the results append lands,
inside a checkpoint append cut short with only part of its files
landed, after the checkpoint append, inside the lineage/metrics
appends), or between the two renames of ``cleanup()``'s compaction
swap, then reruns the same input.  The checkpoint and the current
results must then equal those of an uninterrupted run, no url's attempt
may be counted twice, and no staging or backup dir may be left.  A
raise at a driver boundary leaves the disk as a driver crash there
would; task-level crashes are out of scope."""

import glob
import os
import shutil
from datetime import datetime, timezone

import pytest
from pyspark.sql.readwriter import DataFrameWriter

from docvault_ocr_service_spark import corpus
from docvault_ocr_service_spark.operators.checkpoint import (
    ParquetCheckpointStore)
from docvault_ocr_service_spark.plans.extract_job import run_extract_job
from docvault_ocr_service_spark.schemas import INPUT_SCHEMA

N_DOCS, N_SEED = 40, 20
EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)
TABLES = ["checkpoint", "lineage", "metrics", "results"]


class Crash(RuntimeError):
    pass


def _settled(spark, state):
    store = ParquetCheckpointStore(spark, state)
    cp = store.read_checkpoint().drop("run_id", "updated_at")
    res = store.read_results_current().drop(
        "run_id", "merged_at", "processing_time", "partition_id")
    return (sorted(cp.collect(), key=lambda r: r["url"]),
            sorted(res.collect(), key=lambda r: r["url"]))


def _urls(spark, state):
    cp = ParquetCheckpointStore(spark, state).read_checkpoint()
    return {r["url"] for r in cp.select("url").collect()}


def _crash_on_rename(mp, fail_at):
    """Raise instead of making the ``os.rename`` numbered ``fail_at``
    (0-based)."""
    real, seen = os.rename, []

    def rename(src, dst):
        if len(seen) == fail_at:
            raise Crash(dst)
        seen.append(dst)
        real(src, dst)

    mp.setattr(os, "rename", rename)


def _crash_on_write(mp, table, *, after, keep_part=False):
    """Raise when the job writes ``table``: before the write, or once
    the write has landed; with ``keep_part``, once every other file the
    write added is deleted again, as a job commit cut short leaves it."""
    real = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        hit = os.path.basename(path) == table
        if hit and not after:
            raise Crash(path)
        old = set(glob.glob(os.path.join(path, "*.parquet")))
        real(self, path, *args, **kwargs)
        if hit and keep_part:
            new = sorted(set(glob.glob(os.path.join(path, "*.parquet")))
                         - old)
            assert len(new) >= 2, new
            for f in new[::2]:
                os.remove(f)
        if hit:
            raise Crash(path)

    mp.setattr(DataFrameWriter, "parquet", parquet)


def _crash_after(mp, owner, name):
    """Raise once ``owner.name`` has returned."""
    real = getattr(owner, name)

    def call(*args, **kwargs):
        real(*args, **kwargs)
        raise Crash(name)

    mp.setattr(owner, name, call)


@pytest.fixture(scope="module")
def runs(spark, tmp_path_factory):
    """The input; a state holding a settled first half of it, and that
    half's urls; and what an uninterrupted run over the whole input
    leaves in a copy of that state."""
    df = spark.createDataFrame(corpus.corpus_pdf(N_DOCS), schema=INPUT_SCHEMA)
    root = tmp_path_factory.mktemp("crash")
    seeded = str(root / "seeded")
    run_extract_job(spark, df.orderBy("url").limit(N_SEED), seeded)
    seed_urls = _urls(spark, seeded)
    whole = str(root / "whole")
    shutil.copytree(seeded, whole)
    run_extract_job(spark, df, whole)
    return df, seeded, seed_urls, _settled(spark, whole)


@pytest.mark.parametrize("boundary", [
    "after_stage_write", "after_results_append", "partial_checkpoint_append",
    "after_swap", "inside_observability", "between_compaction_renames"])
def test_crash_at_boundary_then_rerun_converges(spark, tmp_path, runs,
                                                boundary):
    df, seeded, seed_urls, want = runs
    state = str(tmp_path / "state")
    shutil.copytree(seeded, state)
    cached = spark.sparkContext._jsc.getPersistentRDDs
    before = set(cached().keys())

    def crash():
        run_extract_job(spark, df, state)

    with pytest.MonkeyPatch.context() as mp:
        if boundary == "after_stage_write":
            # the stage's noop write is the job's only DataFrameWriter.save
            _crash_after(mp, DataFrameWriter, "save")
        elif boundary == "after_swap":
            # merge_results returns right after its checkpoint append
            _crash_after(mp, ParquetCheckpointStore, "merge_results")
        elif boundary == "after_results_append":
            _crash_on_write(mp, "results", after=True)
        elif boundary == "partial_checkpoint_append":
            _crash_on_write(mp, "checkpoint", after=True, keep_part=True)
        elif boundary == "inside_observability":
            _crash_on_write(mp, "metrics", after=False)
        else:
            # the swap's second rename: the log is set aside at .old
            _crash_on_rename(mp, 1)

            def crash():
                ParquetCheckpointStore(spark, state).cleanup(EPOCH)
        with pytest.raises(Crash):
            crash()
    if boundary == "between_compaction_renames":
        cp = os.path.join(state, "checkpoint")
        assert os.path.isdir(cp + ".old") and not os.path.isdir(cp)
    # the crashed run left none of the RDDs it persisted cached; the
    # session's cleaner may have released earlier ones meanwhile
    assert not set(cached().keys()) - before
    # the crash lost no settled row: the checkpoint still reads them all
    assert _urls(spark, state) >= seed_urls

    run_extract_job(spark, df, state)
    got = _settled(spark, state)
    assert got == want
    assert {r["attempt"] for r in got[0]} == {1}
    assert sorted(os.listdir(state)) == TABLES
    for left in ("*.old", "*.compacting", "*.staging"):
        assert not glob.glob(os.path.join(state, "**", left),
                             recursive=True)
