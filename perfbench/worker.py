"""One workload run inside a single Spark driver process.

``run.py`` starts this script in its own process group and reads the JSON
file it writes with ``--out``. The run:

1. set-up: generates the seeded corpus, starts the session and makes a
   first cold job run of ``N_DOCS`` rows (the warm-up: it pays the JVM's
   and the Python workers' first-use costs);
2. the measured job runs, repeated for ``--seconds`` and at least
   ``MIN_REPS`` times: a cold run on a fresh state dir (``job_cold``), or
   an incremental rerun that adds ``NEW_DOCS`` new urls to the warm-up's
   state dir (``job_incr``);
3. traced runs only: the warm extraction map (``read_corpus`` ->
   ``route_by_size`` -> ``run_extraction`` -> noop sink) over the cold
   rows, with the process tree on every CPU and then pinned to one, and a
   single-core replay of the extraction kernels;
4. outside every timed window: the pure-Python ``extract_document`` output
   of every row, and the checks of each operation against it.

With ``--trace 1`` the measured job runs also record spans around the
job's calls and Spark counters per run, so their times carry the tracing
cost.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import signal
import statistics
import sys
import time
from collections import Counter
from multiprocessing import get_context

import pyarrow as pa
import pyarrow.parquet as pq

from docvault_ocr_service_spark import corpus
from docvault_ocr_service_spark.schemas import RESULT_SCHEMA

WORKLOADS = ("job_cold", "job_incr")
N_DOCS = 500             # rows of a cold run, and the base of the reruns
NEW_DOCS = 50            # new urls per incremental rerun (+10 %)
MIN_REPS = 2             # measured job runs per run, at least
MAX_REPS = 8             # and at most (new-url batches made up front)
SCAN_PASSES = 2          # timed scan passes per level, at least
ROWS_PER_SEED = 10_000
SEED_SLOTS = 5000
EXPECT_PROCS = 4
PR_SET_PDEATHSIG = 1
CHUNK = 100

_ARROW_INPUT = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])
_COMPARED = [f for f in RESULT_SCHEMA.fields
             if f.name not in ("processing_time", "partition_id")]


def log(msg: str) -> None:
    print(f"perfbench worker: [{process_age_s():6.1f} s] {msg}",
          file=sys.stderr, flush=True)


# -- corpus ------------------------------------------------------------------

def row_base(seed: int) -> int:
    """First corpus row index of a seed. Seeds wrap at SEED_SLOTS: past
    row ~5.4e7 the corpus's timestamps leave pandas' nanosecond range."""
    return (seed % SEED_SLOTS) * ROWS_PER_SEED


def _chunks(indices: list[int]) -> list[list[int]]:
    return [indices[k:k + CHUNK] for k in range(0, len(indices), CHUNK)]


def write_rows(rows: list[dict], path: str) -> None:
    pq.write_table(pa.Table.from_pylist(rows, schema=_ARROW_INPUT), path)


def write_inputs(run_dir: str, rows: list[dict], n_reruns: int) -> str:
    """Write the cold input and the input of each incremental rerun;
    return the cold input's path. Rerun ``k`` reads the directory
    ``rerun<k>``: the cold rows plus new-url batches ``0..k``, as a crawl
    that grows between runs would give them."""
    inputs = os.path.join(run_dir, "inputs")
    os.makedirs(inputs)
    files = [os.path.join(inputs, "base.parquet")]
    write_rows(rows[:N_DOCS], files[0])
    for k in range(n_reruns):
        lo = N_DOCS + k * NEW_DOCS
        files.append(os.path.join(inputs, f"new{k}.parquet"))
        write_rows(rows[lo:lo + NEW_DOCS], files[-1])
        rerun = os.path.join(run_dir, f"rerun{k}")
        os.makedirs(rerun)
        for f in files:
            os.link(f, os.path.join(rerun, os.path.basename(f)))
    return files[0]


# -- expected output (pure Python) ---------------------------------------------

def canon(value, dtype):
    """A JSON-ready form of one value of ``dtype`` that reads the same
    whether it came from the pure-Python kernel or from a Spark row."""
    from pyspark.sql import types as T

    if value is None:
        return None
    if isinstance(dtype, T.StructType):
        get = value.get if isinstance(value, dict) else value.__getitem__
        return [canon(get(f.name), f.dataType) for f in dtype.fields]
    if isinstance(dtype, T.ArrayType):
        return [canon(v, dtype.elementType) for v in value]
    if isinstance(dtype, T.DoubleType):
        return repr(float(value))
    if isinstance(dtype, T.IntegerType):
        return int(value)
    if isinstance(dtype, T.DateType):
        return value.isoformat()
    return value


def canon_row(row) -> str:
    get = row.get if isinstance(row, dict) else row.__getitem__
    return json.dumps([canon(get(f.name), f.dataType) for f in _COMPARED])


def _expect_chunk(indices: list[int]) -> list[tuple]:
    """(url, status, error_kind, error_msg, canonical row)."""
    from docvault_ocr_service_spark.extract.document import extract_document

    out = []
    for i in indices:
        r = corpus.generate_row(i)
        d = extract_document(r["url"], r["html"], r["text"], r["lang"])
        out.append((d["url"], d["status"], d["error_kind"], d["error_msg"],
                    canon_row(d)))
    return out


def expected_rows(indices: list[int]) -> list[tuple]:
    pool = get_context("spawn").Pool(EXPECT_PROCS)
    try:
        return [e for part in pool.map(_expect_chunk, _chunks(indices))
                for e in part]
    finally:
        pool.close()
        pool.join()


# -- session -------------------------------------------------------------------

def start_session(run_dir: str):
    from docvault_ocr_service_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    # the heap starts at its cap: a heap that grows on demand makes the
    # JVM's peak RSS depend on when the collector runs
    heap = os.environ["SPARK_DRIVER_MEMORY"]
    return get_spark(app_name="perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Xms{heap} -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM: ``spark.stop()`` alone leaves it
    running until this interpreter exits."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def pin_process_tree(cpus: set[int]) -> None:
    """Set the CPU affinity of every thread of every process in this
    process's session: the driver, the JVM and the Python workers."""
    sid = os.getsid(0)
    for _ in range(2):   # a second pass catches threads started meanwhile
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                if os.getsid(int(pid)) != sid:
                    continue
                for tid in os.listdir(f"/proc/{pid}/task"):
                    os.sched_setaffinity(int(tid), cpus)
            except (ProcessLookupError, FileNotFoundError,
                    PermissionError):
                continue


# -- measured operations -------------------------------------------------------

def scan_pass(spark, path: str, slots: int) -> tuple[float, dict]:
    """One warm extraction map over ``path`` at ``2 * slots`` partitions,
    written to the noop sink. Status totals ride along as observed
    metrics and are read after the timer stops."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from docvault_ocr_service_spark.functions.udfs import run_extraction
    from docvault_ocr_service_spark.operators.skew import route_by_size
    from docvault_ocr_service_spark.sources.tables import read_corpus

    obs = Observation()
    status = F.col("status")
    t0 = time.perf_counter()
    normal, giants = route_by_size(read_corpus(spark, path), 2 * slots)
    out = run_extraction(normal).unionByName(run_extraction(giants))
    (out.observe(obs, F.count(F.lit(1)).alias("n"),
                 F.count_if(status == "done").alias("done"),
                 F.count_if(status == "failed_permanent")
                 .alias("failed_permanent"),
                 F.count_if(status == "failed_retryable")
                 .alias("failed_retryable"))
     .write.format("noop").mode("overwrite").save())
    dt = time.perf_counter() - t0
    return dt, dict(obs.get)


def job_run(spark, path: str, state_dir: str):
    from docvault_ocr_service_spark.plans.extract_job import run_extract_job
    from docvault_ocr_service_spark.sources.tables import read_corpus

    t0 = time.perf_counter()
    report = run_extract_job(spark, read_corpus(spark, path), state_dir)
    return time.perf_counter() - t0, report


def files_under(root: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:
                continue
    return out


# -- tracing -----------------------------------------------------------------

# direct children of the run_extract_job span -> job phase
_PHASE_OF = {
    "claimable": "claim_s",
    "route_by_size": "extract_write_s",
    "run_extraction": "extract_write_s",
    "write.parquet": "extract_write_s",   # the stage write of the run
    "merge_results": "merge_s",
    "read_checkpoint": "observability_s",
    "append_observability": "observability_s",
    "first": "counts_s",                  # the final counts
}
PHASES = ("claim_s", "extract_write_s", "merge_s", "observability_s",
          "counts_s")
COUNTERS = ("sql_execs", "jobs", "tasks", "executor_run_s",
            "shuffle_write_mb", "output_mb")


def install_spans(tracer, spark) -> None:
    from pyspark.sql.readwriter import DataFrameWriter

    from docvault_ocr_service_spark.operators.checkpoint import (
        ParquetCheckpointStore,
    )
    from docvault_ocr_service_spark.plans import extract_job

    for name in ("claimable", "merge_results", "read_checkpoint"):
        tracer.patch(ParquetCheckpointStore, name, name)
    for name in ("append_observability", "run_extraction", "route_by_size"):
        tracer.patch(extract_job, name, name)
    tracer.patch(extract_job, "run_extract_job", "run_extract_job")
    tracer.patch(DataFrameWriter, "parquet", "write.parquet")
    tracer.patch(type(spark.range(0)), "first", "first")


def job_phase_metrics(tracer, root: int) -> dict[str, float]:
    """Time of each phase of one job run; ``other_s`` is the run's self
    time plus any call no phase claims."""
    out = dict.fromkeys(PHASES + ("other_s",), 0.0)
    for name, secs in tracer.child_totals(root).items():
        out[_PHASE_OF.get(name, "other_s")] += secs
    out["other_s"] += tracer.self_time(root)
    return out


def kernel_replay(rows: list[dict]) -> dict[str, float]:
    """The extraction kernels called directly, one document at a time on
    one core, in the order ``extract_document`` calls them."""
    from docvault_ocr_service_spark.extract.categorize import categorize_fast
    from docvault_ocr_service_spark.extract.charset import decode_html_bytes
    from docvault_ocr_service_spark.extract.document import (
        PAGE_JOINER,
        detect_format,
    )
    from docvault_ocr_service_spark.extract.htmltext import extract_main_text
    from docvault_ocr_service_spark.extract.metadata import extract_metadata
    from docvault_ocr_service_spark.extract.pdftext import (
        PdfParseError,
        extract_pdf_pages,
        has_native_text,
    )

    spent = dict.fromkeys(("sniff", "charset", "dom", "pdf", "metadata",
                           "categorize"), 0.0)
    clock = time.perf_counter
    t_all = clock()
    for r in rows:
        pages = None
        if r["text"]:
            pages = [r["text"]]
        else:
            t = clock()
            fmt = detect_format(r["html"])
            spent["sniff"] += clock() - t
            if fmt == "pdf":
                t = clock()
                try:
                    got = extract_pdf_pages(r["html"])
                except PdfParseError:
                    got = None
                spent["pdf"] += clock() - t
                if got is not None and has_native_text(got):
                    pages = got
            elif fmt == "html":
                t = clock()
                decoded, _ = decode_html_bytes(r["html"])
                spent["charset"] += clock() - t
                t = clock()
                body, _ = extract_main_text(decoded)
                spent["dom"] += clock() - t
                pages = [body]
        if pages:
            full = PAGE_JOINER.join(pages)
            t = clock()
            extract_metadata(full)
            spent["metadata"] += clock() - t
            t = clock()
            categorize_fast(full)
            spent["categorize"] += clock() - t
    wall = clock() - t_all
    out = {"kernel.docs_per_s_1core": len(rows) / wall}
    for stage, secs in spent.items():
        out[f"kernel.{stage}_ms_per_kdoc"] = secs * 1e3 / len(rows) * 1e3
    return out


# -- the run -----------------------------------------------------------------

class Ops:
    """Operations attempted and failed; a failed output check fails the
    operation it checks."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed: set[str] = set()
        self.problems: list[str] = []

    def add(self) -> None:
        self.attempted += 1

    def check(self, op: str, ok: bool, what: str) -> None:
        if not ok:
            self.failed.add(op)
            self.problems.append(f"{op}: {what}")


def process_age_s() -> float:
    """Seconds since this process started, imports included."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return (time.clock_gettime(time.CLOCK_BOOTTIME)
            - start_ticks / os.sysconf("SC_CLK_TCK"))


def die_with_parent() -> None:
    """If ``run.py`` is killed, kill this whole process group with it:
    the JVM, the Python workers and the pool."""
    signal.signal(signal.SIGTERM,
                  lambda *_: os.killpg(os.getpgrp(), signal.SIGKILL))
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_PDEATHSIG, signal.SIGTERM)


def main() -> None:
    die_with_parent()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    base = row_base(args.seed)
    n_reruns = MAX_REPS if args.workload == "job_incr" else 0
    idx = list(range(base, base + N_DOCS + n_reruns * NEW_DOCS))
    rows = [corpus.generate_row(i) for i in idx]
    cold_path = write_inputs(args.run_dir, rows, n_reruns)
    kernel_rows = rows[:N_DOCS] if args.trace else []
    del rows

    t0 = time.perf_counter()
    spark = start_session(args.run_dir)
    metrics = {"session.start_s": time.perf_counter() - t0}
    try:
        ops = measure(spark, args, metrics, cold_path, idx)
        if args.trace:
            metrics.update(kernel_replay(kernel_rows))
            metrics["scan.kernel_ratio"] = (
                metrics["scan.rate_docs_per_s"]
                / (len(os.sched_getaffinity(0))
                   * metrics["kernel.docs_per_s_1core"]))
    finally:
        stop_session(spark)

    log("session stopped")
    result = {"attempted": ops.attempted, "failed": len(ops.failed),
              "problems": ops.problems, "metrics": metrics}
    with open(args.out, "w") as f:
        json.dump(result, f)


def measure(spark, args, metrics: dict, cold_path: str,
            idx: list[int]) -> Ops:
    """The warm-up, the timed job runs and, after them, their output
    checks."""
    ops = Ops()
    state_root = os.path.join(args.run_dir, "state")
    incr = args.workload == "job_incr"

    # the warm-up closes the set-up; for job_incr it also makes the state
    # that the reruns extend, otherwise only its claimed count is checked
    states = {"warmup": os.path.join(state_root, "warmup")}
    ops.add()
    wall, report = job_run(spark, cold_path, states["warmup"])
    ops.check("warmup", report.claimed == N_DOCS,
              f"claimed {report.claimed}, want {N_DOCS}")
    metrics["setup.warmup_s"] = wall
    metrics["setup_s"] = process_age_s()
    log(f"setup {metrics['setup_s']:.2f} s (session "
        f"{metrics['session.start_s']:.2f} s, warm-up {wall:.2f} s)")

    tracer = counters = None
    if args.trace:
        from spans import SparkCounters, Tracer

        tracer, counters = Tracer(), SparkCounters(spark)
        install_spans(tracer, spark)

    walls, layers = [], []
    t_loop = time.perf_counter()
    while len(walls) < MIN_REPS or (
            len(walls) < MAX_REPS
            and time.perf_counter() - t_loop < args.seconds):
        k = len(walls)
        op = f"job.{k}"
        if incr:
            path = os.path.join(args.run_dir, f"rerun{k}")
            state, want = states["warmup"], NEW_DOCS
        else:
            path, want = cold_path, N_DOCS
            state = states[op] = os.path.join(state_root, str(k))
        ops.add()
        if args.trace:
            before_files = files_under(state)
            mark = counters.mark()
            first_span = len(tracer.spans)
        wall, report = job_run(spark, path, state)
        walls.append(wall)
        log(f"{op} {wall:.2f} s, claimed {report.claimed}")
        ops.check(op, report.claimed == want,
                  f"claimed {report.claimed}, want {want}")
        if args.trace:
            root = next(i for i in range(first_span, len(tracer.spans))
                        if tracer.spans[i].name == "run_extract_job")
            layer = job_phase_metrics(tracer, root)
            ops.check(op, sum(layer[p] for p in PHASES) <= wall,
                      "phase spans sum past the run's wall time")
            c = counters.since(mark)
            layer.update({key: c[key] for key in COUNTERS})
            layer["state_mb_written"] = sum(
                size for p, size in files_under(state).items()
                if before_files.get(p) != size) / 1e6
            layers.append(layer)
    metrics["job_s"] = statistics.median(walls)
    for key in (layers[0] if layers else ()):
        metrics[f"job.{key}"] = statistics.median(la[key] for la in layers)

    scan = {}
    if args.trace:
        tracer.restore()
        scan = measure_scan(spark, args, metrics, cold_path, counters, ops)

    # expected output of every row the job runs saw, computed after the
    # timed work
    n_rows = N_DOCS + (len(walls) * NEW_DOCS if incr else 0)
    expected = expected_rows(idx[:n_rows])
    if incr:
        # the reruns all extend one state dir: check it as the last one
        # left it, and charge a failure to that rerun
        check_state(spark, ops, f"job.{len(walls) - 1}", expected,
                    states["warmup"])
    else:
        for op, state in states.items():
            if op != "warmup":
                check_state(spark, ops, op, expected, state)
    if scan:
        check_scan(ops, scan, expected[:N_DOCS])
    if args.trace:
        metrics["trace.overhead_s"] = counters.overhead_s
        metrics["jvm.gc_s"] = counters.jvm_gc_s()
    log("checks done")
    return ops


def measure_scan(spark, args, metrics: dict, cold_path: str, counters,
                 ops: Ops) -> dict:
    """The warm extraction map with the process tree on every CPU, then
    pinned to one; each level runs passes for a quarter of ``--seconds``,
    and at least ``SCAN_PASSES`` of them."""
    all_cpus = os.sched_getaffinity(0)
    nproc = len(all_cpus)
    scan = {}
    scan_pass(spark, cold_path, nproc)      # warm: workers up, plan cached
    for slots, cpus in ((nproc, all_cpus), (1, {min(all_cpus)})):
        pin_process_tree(cpus)
        times, totals, runs = [], [], []
        t_level = time.perf_counter()
        while (len(times) < SCAN_PASSES
               or time.perf_counter() - t_level < args.seconds / 4):
            ops.add()
            mark = counters.mark()
            dt, obs = scan_pass(spark, cold_path, slots)
            runs.append(counters.since(mark))
            times.append(dt)
            totals.append(obs)
        log(f"scan {slots} slot(s): {len(times)} passes, median "
            f"{statistics.median(times):.2f} s")
        scan[slots] = (times, totals, runs)
    pin_process_tree(all_cpus)

    times, _, runs = scan[nproc]
    rate_n = N_DOCS / statistics.median(times)
    rate_1 = N_DOCS / statistics.median(scan[1][0])
    map_stage = max(runs[-1]["stages"], key=lambda s: s[2])
    task_ms = counters.task_run_ms(map_stage[0], map_stage[1])
    metrics.update({
        "scan.rate_docs_per_s": rate_n,
        "scan.rate_1slot_docs_per_s": rate_1,
        "scan.scaling_eff_1to4": rate_n / rate_1 / nproc,
        "scan.executor_run_s": statistics.median(
            c["executor_run_s"] for c in runs),
        "scan.tasks": statistics.median(c["tasks"] for c in runs),
        "scan.partitions": len(task_ms),
        "scan.task_skew": max(task_ms) / statistics.median(task_ms),
    })
    return scan


def check_state(spark, ops: Ops, op: str, expected: list[tuple],
                state: str) -> None:
    """Check one state dir against ``expected``: every url once in the
    checkpoint with the status and error extract_document gives it, every
    done url once in results, and every done row equal to
    extract_document's field by field."""
    from docvault_ocr_service_spark.operators.checkpoint import (
        ParquetCheckpointStore,
    )

    store = ParquetCheckpointStore(spark, state)
    cp = store.read_checkpoint()
    want_cp = {e[0]: e[1:4] for e in expected}
    cp_rows = cp.select("url", "status", "error_kind", "error_msg").collect()
    got_cp = {r[0]: tuple(r[1:]) for r in cp_rows}
    ops.check(op, len(cp_rows) == len(got_cp),
              f"checkpoint holds {len(cp_rows)} rows for {len(got_cp)} urls")
    bad = sum(got_cp.get(url) != v for url, v in want_cp.items())
    ops.check(op, bad == 0 and len(got_cp) == len(want_cp),
              f"checkpoint: {bad} of {len(want_cp)} urls missing or with "
              f"another status or error, {len(got_cp)} urls in all; "
              f"status counts {dict(Counter(v[0] for v in got_cp.values()))},"
              f" want {dict(Counter(v[0] for v in want_cp.values()))}")

    want_rows = {e[0]: e[4] for e in expected if e[1] == "done"}
    got_rows = [(r["url"], canon_row(r))
                for r in store.read_results().collect()]
    got = dict(got_rows)
    ops.check(op, len(got_rows) == len(got) and set(got) == set(want_rows),
              f"results hold {len(got_rows)} rows for {len(got)} urls, "
              f"want {len(want_rows)} done urls once each")
    bad = sum(got.get(url) != row for url, row in want_rows.items())
    ops.check(op, bad == 0,
              f"{bad} of {len(want_rows)} done rows differ from "
              "extract_document")


def check_scan(ops: Ops, scan: dict, expected: list[tuple]) -> None:
    want = Counter(e[1] for e in expected)
    want_totals = {"n": len(expected), "done": want["done"],
                   "failed_permanent": want["failed_permanent"],
                   "failed_retryable": want["failed_retryable"]}
    for slots, (_, totals, _) in scan.items():
        for k, got in enumerate(totals):
            ops.check(f"scan.{slots}slot.{k}", got == want_totals,
                      f"totals {got}, want {want_totals}")


if __name__ == "__main__":
    sys.exit(main())
