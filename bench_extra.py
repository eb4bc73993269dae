"""Auxiliary benchmarks for the optimization rounds (bench.py is frozen
for measurement; this file is where extra evidence lives — guide §1.4).

Modes:
  python bench_extra.py                 # headline phase only, FULL
                                        # per-query map (median-of-3,
                                        # same session/methodology as
                                        # bench.py's run_headline)
  python bench_extra.py --query NAME [NAME ...]
                                        # isolated: fresh session, warm
                                        # pass, median-of-5 per query,
                                        # each run written to the noop
                                        # sink (computes every column)
  python bench_extra.py --explain NAME [NAME ...]
                                        # write .explain("formatted")
                                        # for the query to stdout

A mode flag with no query names exits non-zero.  All modes print one
JSON line at the end.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

import bench as benchmod  # noqa: E402  (frozen; reused, never edited)

SF_DIR = benchmod.SF_DIR
CPUS = benchmod.CPUS


def _warm(spark) -> None:
    spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet")).count()
    spark.range(256).mapInPandas(lambda it: it, schema="id long").count()


def headline_full() -> None:
    spark = benchmod._fresh_session(CPUS)
    timings = benchmod.run_headline(spark)
    spark.stop()
    print(json.dumps({
        "mode": "headline_full",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "n_queries": len(timings),
        "sf": SF_DIR.rstrip("/").rsplit("sf", 1)[-1],
        "loadavg": round(os.getloadavg()[0], 2),
    }))


def _run_noop(df) -> None:
    # the noop sink computes every column; .count() would let Catalyst
    # prune the projection down to whatever the row count needs
    df.write.format("noop").mode("overwrite").save()


def isolated(names: list[str], reps: int = 5) -> None:
    import __spark_entry__ as entrymod

    out: dict[str, dict] = {}
    for name in names:
        spark = benchmod._fresh_session(CPUS)
        _warm(spark)
        qs = entrymod.queries()
        spark.sparkContext.setJobDescription(f"isolated:{name}")
        _run_noop(qs[name](spark, SF_DIR))  # warm pass
        samples = []
        for _ in range(reps):
            t0 = time.monotonic()
            _run_noop(qs[name](spark, SF_DIR))
            samples.append(round(time.monotonic() - t0, 3))
        spark.stop()
        out[name] = {"median": sorted(samples)[len(samples) // 2],
                     "min": min(samples), "samples": samples}
    print(json.dumps({"mode": "isolated", "queries": out,
                      "loadavg": round(os.getloadavg()[0], 2)}))


def explain(names: list[str]) -> None:
    import __spark_entry__ as entrymod

    spark = benchmod._fresh_session(CPUS)
    qs = entrymod.queries()
    for name in names:
        df = qs[name](spark, SF_DIR)
        print(f"==== {name} ====")
        print(df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"))
    spark.stop()
    print(json.dumps({"mode": "explain", "queries": names}))


if __name__ == "__main__":
    modes = {"--query": isolated, "--explain": explain}
    if len(sys.argv) > 1 and sys.argv[1] in modes:
        if len(sys.argv) == 2:
            sys.exit(f"{sys.argv[1]} needs at least one query name")
        modes[sys.argv[1]](sys.argv[2:])
    elif len(sys.argv) > 1:
        sys.exit(f"unknown argument {sys.argv[1]!r}; modes: "
                 f"{', '.join(modes)} or none for the headline run")
    else:
        headline_full()
