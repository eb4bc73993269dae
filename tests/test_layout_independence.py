"""The loop-layout scope (``operators/tuning.py``) changes how the
iterative gate queries run, never what they return: each collects the
same rows with the scope as with a pass-through that leaves the
session layout alone."""

from contextlib import contextmanager

import pytest

from docvault_ocr_service_spark.operators import tuning

SF_SMOKE = "/root/testdata/sf0.001"


@contextmanager
def _pass_through(spark, n_rows, rows_per_partition=100_000):
    yield int(spark.conf.get("spark.sql.shuffle.partitions"))


@pytest.mark.parametrize("name", [
    "dup_components", "host_pagerank", "host_hits",
    "quality_classifier_stats"])
def test_scope_does_not_change_rows(spark, monkeypatch, name):
    import __spark_entry__ as entrymod

    query = entrymod.queries()[name]
    scoped = query(spark, SF_SMOKE).collect()
    monkeypatch.setattr(tuning, "iteration_shuffles", _pass_through)
    unscoped = query(spark, SF_SMOKE).collect()
    assert scoped, name
    assert sorted(scoped) == sorted(unscoped)
