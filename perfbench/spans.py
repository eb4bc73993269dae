"""In-memory spans and Spark counters for the traced run.

Spans are recorded from the benchmark's side only: ``Tracer.patch``
swaps a public function or method of the program for a wrapper that opens
a span around the call, and ``Tracer.restore`` puts the original back.
Nothing is written while the run measures; the worker turns the spans
into per-phase numbers at the end.

A lazy Spark call (``claimable``, ``run_extraction``, ``route_by_size``)
only plans, so its span measures planning. Execution is charged to the
eager call that triggers it, which for the extraction job is the stage
write.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    parent: int          # index into Tracer.spans, -1 for a root
    start: float
    end: float = 0.0
    children: list[int] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else -1
        idx = len(self.spans)
        self.spans.append(Span(name, parent, time.perf_counter()))
        if parent >= 0:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        try:
            yield idx
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def patch(self, owner: object, attr: str, name: str) -> None:
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        self._patches.append((owner, attr, original))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    def self_time(self, idx: int) -> float:
        s = self.spans[idx]
        return s.dur - sum(self.spans[c].dur for c in s.children)

    def child_totals(self, idx: int) -> dict[str, float]:
        """Total time of the direct children of span ``idx``, by name."""
        out: dict[str, float] = {}
        for c in self.spans[idx].children:
            child = self.spans[c]
            out[child.name] = out.get(child.name, 0.0) + child.dur
        return out


class SparkCounters:
    """Cumulative Spark counters read from the application status store.

    The store is fed asynchronously by the listener bus, so every read
    drains the bus first. Time spent here is tracing overhead and is
    added to ``overhead_s``.
    """

    def __init__(self, spark) -> None:
        self._spark = spark
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.overhead_s = 0.0

    def _drain(self) -> None:
        self._sc._jsc.sc().listenerBus().waitUntilEmpty(30000)

    def _stages(self):
        jvm = self._sc._jvm
        return self._store.stageList(
            None, False, False, self._sc._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList())

    def mark(self) -> dict:
        """A position in the counters: later ``since`` calls diff to it."""
        t0 = time.perf_counter()
        self._drain()
        stages = self._stages()
        mark = {
            "sql_execs": self._sql.executionsCount(),
            "jobs": self._store.jobsList(None).size(),
            "stage_ids": {stages.apply(i).stageId()
                          for i in range(stages.size())},
        }
        self.overhead_s += time.perf_counter() - t0
        return mark

    def since(self, mark: dict) -> dict:
        """Counters accumulated after ``mark`` (completed stages only)."""
        t0 = time.perf_counter()
        self._drain()
        stages = self._stages()
        out = {"sql_execs": self._sql.executionsCount() - mark["sql_execs"],
               "jobs": self._store.jobsList(None).size() - mark["jobs"],
               "tasks": 0, "executor_run_s": 0.0,
               "shuffle_write_mb": 0.0, "output_mb": 0.0, "stages": []}
        for i in range(stages.size()):
            s = stages.apply(i)
            if (s.stageId() in mark["stage_ids"]
                    or s.status().toString() != "COMPLETE"):
                continue
            out["tasks"] += s.numCompleteTasks()
            out["executor_run_s"] += s.executorRunTime() / 1e3
            out["shuffle_write_mb"] += s.shuffleWriteBytes() / 1e6
            out["output_mb"] += s.outputBytes() / 1e6
            out["stages"].append((s.stageId(), s.attemptId(),
                                  s.executorRunTime()))
        self.overhead_s += time.perf_counter() - t0
        return out

    def jvm_gc_s(self) -> float:
        """Collection time of every JVM garbage collector so far."""
        beans = (self._sc._jvm.java.lang.management.ManagementFactory
                 .getGarbageCollectorMXBeans())
        return sum(beans.get(i).getCollectionTime()
                   for i in range(beans.size())) / 1e3

    def task_run_ms(self, stage_id: int, attempt_id: int) -> list[float]:
        """Executor run time of each task of one stage, in ms."""
        t0 = time.perf_counter()
        tasks = self._store.taskList(stage_id, attempt_id, 100000)
        out = []
        for i in range(tasks.size()):
            m = tasks.apply(i).taskMetrics()
            if m.isDefined():
                out.append(float(m.get().executorRunTime()))
        self.overhead_s += time.perf_counter() - t0
        return out
