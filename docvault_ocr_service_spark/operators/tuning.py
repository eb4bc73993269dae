"""Scoped execution layout for iterative operators — the one place the
engine changes a layout conf key (``spark.sql.shuffle.partitions``,
``spark.sql.adaptive.*``) at run time.  Sessions get their defaults
from ``session.get_spark``; query paths spread inputs with
``__spark_entry__._par``; nothing else touches layout conf
(``tests/test_layout_conf_lint.py`` enforces it).

Iterative fixpoint loops (PageRank/HITS score propagation, connected-
components label propagation, full-batch GD) carry a few bytes of
state per node/doc, but under the session defaults every per-iteration
shuffle keeps the full shuffle-partition count and AQE materializes
every query stage as its own job.  Measured r7 on a 32-core host: a
trivial 32-task stage has a ~0.2 s wall floor (vs ~0.08 s at 1 task),
and a 3-iteration PageRank ran 32 AQE stage-jobs whose inter-job driver
latency (~35 ms each) summed to 1.16 s against 0.75 s of job time.

``iteration_shuffles`` scopes two knobs to a loop, yields the partition
count it set (so loop state can be repartitioned to match), and
restores both on exit:

- ``spark.sql.shuffle.partitions`` = clamp(n_rows / rows_per_partition,
  1, session default) — derived from the MEASURED state size, so at
  1e9+ nodes the clamp returns the session default and the scope is a
  shape no-op (never a constant tuned to the local box);
- ``spark.sql.adaptive.enabled`` = false — with the partition count
  already data-derived there is nothing left for AQE to adapt inside
  the loop, and each eager checkpoint/aggregate becomes ONE job.

Callers reach it as ``tuning.iteration_shuffles`` so a test can swap
the scope for a pass-through in one place and compare results.

Precondition — layout may reorder cross-row sums, so a loop's output
must not depend on their order beyond what it rounds away.  Integer
arithmetic (connected components' min labels, the classifier's
scaled-integer GD) is exact under any order.  Double sums (PageRank
contributions, HITS L1 norms) are not: measured under session shuffle
partitions {1, 7, 32} × AQE {on, off}, each with this scope and with a
pass-through, the raw scores took up to 6 distinct bit patterns
(largest spread 1.1e-16), and the pass-through varied as much as the
scope, because the setup stages and the cached loop inputs reorder
the sums too.  Their callers therefore quantize before comparing or
hashing: ``host_pagerank`` / ``host_hits`` round to micro-units, and
those outputs were identical in all 12 runs.  The reference tests in
``tests/test_linkgraph.py``, ``test_quality_classifier.py`` and
``test_dedup_similarity.py`` run every loop under that layout grid;
``tests/test_layout_independence.py`` checks that the four gate
queries built on these loops collect identical rows with and without
the scope.

Concurrency caveat — session conf is GLOBAL to the SparkSession: a
concurrent driver thread planning queries on the same session while a
scoped loop runs would observe the loop's layout.  The engine's
operators run their loops on the calling thread and the only in-repo
concurrency (the datasheet's report pool) never overlaps an iterative
loop; a caller composing these operators from multiple threads should
give each thread its own ``spark.newSession()``.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

_ADAPTIVE = "spark.sql.adaptive.enabled"
_SHUFFLE_PARTS = "spark.sql.shuffle.partitions"


@contextmanager
def iteration_shuffles(spark, n_rows: int,
                       rows_per_partition: int = 100_000
                       ) -> Iterator[int]:
    old_parts = spark.conf.get(_SHUFFLE_PARTS)
    old_aqe = spark.conf.get(_ADAPTIVE)
    parts = max(1, min(int(old_parts),
                       n_rows // rows_per_partition or 1))
    spark.conf.set(_SHUFFLE_PARTS, str(parts))
    spark.conf.set(_ADAPTIVE, "false")
    try:
        yield parts
    finally:
        spark.conf.set(_SHUFFLE_PARTS, old_parts)
        spark.conf.set(_ADAPTIVE, old_aqe)
