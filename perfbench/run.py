"""Benchmark entry point: one workload run, one JSON result line.

    python3 perfbench/run.py --workload job_cold --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The Spark work happens in
``worker.py``, started here in a process group of its own with the
environment that fits Spark to this machine (slots = CPUs, a capped
driver heap, per-run scratch and state dirs inside the checkout). This
process makes itself the reaper of every orphan of that group, samples
its peak RSS, kills the whole group on error or timeout, and fails the
run if a ``java`` or ``pyspark.daemon`` process of it outlives the
worker. Metric names and units come from ``BENCHMARK.json``: with
``--trace 0`` the last line carries every end-to-end metric, with
``--trace 1`` every per-layer one.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORKER_TIMEOUT_S = 150      # the whole run must end within 180 s
REAP_GRACE_S = 10
DRIVER_MEMORY = "1g"
PR_SET_CHILD_SUBREAPER = 36


def session_pids(sid: int, token: str) -> list[int]:
    """Live processes of the run: in the worker's session, or carrying the
    run's token in their environment (a process that left the session)."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        pid = int(name)
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
            fields = stat[stat.rindex(")") + 2:].split()
            if fields[0] == "Z":
                continue
            if int(fields[3]) == sid:
                out.append(pid)
                continue
            with open(f"/proc/{pid}/environ", "rb") as f:
                if token.encode() in f.read():
                    out.append(pid)
        except (FileNotFoundError, ProcessLookupError, PermissionError,
                ValueError):
            continue
    return out


def remove_stale_runs(runs_root: str) -> None:
    """Remove the dirs of earlier runs that were killed before they could
    clean up: no live process carries their token."""
    if not os.path.isdir(runs_root):
        return
    for token in os.listdir(runs_root):
        if not session_pids(-1, token):
            shutil.rmtree(os.path.join(runs_root, token), ignore_errors=True)


def describe(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")[:120]
    except FileNotFoundError:
        return "?"


def reap_children() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


class PeakRss(threading.Thread):
    """Largest VmHWM (peak resident set) of any process of the run."""

    def __init__(self, sid: int, token: str) -> None:
        super().__init__(daemon=True)
        self.sid, self.token = sid, token
        self.peak_kb = 0
        self.stop_event = threading.Event()

    def sample(self) -> None:
        for pid in session_pids(self.sid, self.token):
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            self.peak_kb = max(self.peak_kb,
                                               int(line.split()[1]))
            except (FileNotFoundError, ProcessLookupError):
                continue

    def run(self) -> None:
        while not self.stop_event.wait(0.25):
            self.sample()


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "docvault_ocr_service_spark",
                                       "__init__.py")):
        fail("run from the root of a checkout: the program "
             "(docvault_ocr_service_spark/) is not here")
    with open(spec_path) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload!r}")
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    runs_root = os.path.join(ROOT, ".perfbench_run")
    remove_stale_runs(runs_root)
    token = uuid.uuid4().hex
    run_dir = os.path.join(runs_root, token)
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub))
    out_path = os.path.join(run_dir, "result.json")
    log_path = os.path.join(run_dir, "worker.log")
    nproc = len(os.sched_getaffinity(0))
    env = dict(os.environ)
    env.update({
        "PERFBENCH_RUN": token,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        # the launcher JVM of spark-submit would write /tmp/hsperfdata_*
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "TMPDIR": os.path.join(run_dir, "tmp"),
    })

    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)

    def on_signal(signum, _frame):
        raise SystemExit(f"perfbench: stopped by signal {signum}")

    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)

    steal0, total0 = cpu_ticks()
    proc = None
    rss = None
    error = None
    leaked: list[str] = []
    try:
        with open(log_path, "wb") as log:
            proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "worker.py"),
                 "--workload", args.workload, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace),
                 "--run-dir", run_dir, "--out", out_path],
                cwd=ROOT, env=env, stdin=subprocess.DEVNULL, stdout=log,
                stderr=subprocess.STDOUT, start_new_session=True)
            rss = PeakRss(proc.pid, token)
            rss.start()
            try:
                code = proc.wait(timeout=WORKER_TIMEOUT_S)
                if code != 0:
                    error = f"worker exited with code {code}"
            except subprocess.TimeoutExpired:
                error = f"worker timed out after {WORKER_TIMEOUT_S} s"
    finally:
        if rss is not None:
            rss.stop_event.set()
            rss.join()
            rss.sample()
        if proc is not None:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            # whatever of the run outlived the worker gets a grace period
            # to exit on its own, then is killed and counted as leaked
            deadline = time.monotonic() + REAP_GRACE_S
            while True:
                reap_children()
                alive = session_pids(proc.pid, token)
                if not alive:
                    break
                if time.monotonic() > deadline:
                    leaked = [describe(p) for p in alive]
                    for p in alive:
                        try:
                            os.kill(p, signal.SIGKILL)
                        except ProcessLookupError:
                            pass
                    time.sleep(0.5)
                    reap_children()
                    break
                time.sleep(0.1)
        log_tail = progress = ""
        if os.path.exists(log_path):
            with open(log_path, "rb") as f:
                log = f.read().decode(errors="replace")
            log_tail = log[-4000:]
            progress = "".join(line + "\n" for line in log.splitlines()
                               if line.startswith("perfbench worker:"))
        result = None
        if os.path.exists(out_path):
            with open(out_path) as f:
                result = json.load(f)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(runs_root)
        except OSError:
            pass

    steal1, total1 = cpu_ticks()
    steal_pct = 100 * (steal1 - steal0) / max(total1 - total0, 1)
    sys.stderr.write(progress)
    print(f"perfbench: the hypervisor stole {steal_pct:.1f} % of CPU time "
          "during the run", file=sys.stderr)
    if leaked:
        fail("processes outlived the run and were killed: "
             + "; ".join(leaked))
    if error or result is None:
        print(log_tail, file=sys.stderr)
        fail(error or "worker wrote no result")
    for p in result["problems"]:
        print(f"perfbench: check failed: {p}", file=sys.stderr)

    measured = dict(result["metrics"])
    measured["peak_rss_mb"] = rss.peak_kb / 1024
    measured["host.steal_pct"] = steal_pct
    missing = [m["name"] for m in wanted if m["name"] not in measured]
    if missing:
        fail(f"metrics not measured: {', '.join(missing)}")
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {m["name"]: {"value": measured[m["name"]],
                                "unit": m["unit"]} for m in wanted},
    }))


if __name__ == "__main__":
    main()
