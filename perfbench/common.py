"""Shared plumbing: the checkout-local state directory, Spark session
start-up and set-up cycles, operation counts, open-loop load and peak
memory."""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from concurrent.futures import ThreadPoolExecutor

from spans import percentile

#: Root of the checkout (the directory holding ``perfbench/``).
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: Everything the benchmark writes lives under here (gitignored).
STATE = os.path.join(ROOT, ".perfbench")
CACHE = os.path.join(STATE, "cache")
#: Spark cores: the machine's, as ``nproc`` reports them.
CPUS = len(os.sched_getaffinity(0))
#: Set-up cycles per run.  The first also launches the JVM; ``setup_s``
#: is the median of the others, which restart the system in a running JVM.
SETUP_CYCLES = 4
#: Tail percentiles.  Freshness has 100 samples per ``ingest`` run, so
#: p90 leaves 10 beyond it; reads are fewer (21 on ``ingest``), and p75
#: is the highest tail that still moves little between runs.
READ_TAIL_Q = 75
FRESH_TAIL_Q = 90
#: Subprocesses a workload started; any still running at exit is killed.
CHILDREN: list = []


def prepare_env() -> str:
    """Point every temp/scratch location at the checkout's state dir and
    make the package importable (driver and Python workers).  Returns a
    fresh per-run directory."""
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(CACHE, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(STATE, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    run_dir = os.path.join(STATE, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    return run_dir


def start_session(traced: bool = False):
    """The product's session factory, with scratch paths kept inside the
    checkout and console progress bars off.  A traced run keeps every job
    and stage in the status store, so spans can count them at the end."""
    from ballcone_spark.session import get_spark

    tmp = os.path.join(STATE, "tmp")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(STATE, "spark-warehouse"),
        # a fixed-size heap: peak RSS then tracks what the program keeps
        # live, not how far the collector happened to grow the heap; no
        # hsperfdata file outside the checkout
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} "
            "-XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        conf.update({"spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000"})
    return get_spark(app_name="perfbench", extra_conf=conf)


def _jvm():
    from pyspark import SparkContext

    return getattr(SparkContext._gateway, "proc", None)


def jvm_pid() -> int | None:
    proc = _jvm()
    return proc.pid if proc is not None else None


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit (it exits
    when its stdin closes, taking its Python workers with it)."""
    proc = _jvm()
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb() -> float:
    """Peak resident memory of this Python process plus its JVM."""
    kb = _hwm_kb("self")
    pid = jvm_pid()
    if pid is not None:
        kb += _hwm_kb(pid)
    return kb / 1024.0


def p50(xs) -> float:
    return percentile(xs, 50)


def read_tail(xs) -> float:
    return percentile(xs, READ_TAIL_Q)


def fresh_tail(xs) -> float:
    return percentile(xs, FRESH_TAIL_Q)


def median(xs) -> float:
    return statistics.median(xs)


class Outcome:
    """Attempted / failed operation counts.  An operation is a request, a
    marker, a datagram that should land, a query, or an output check; any
    failure makes the run incorrect."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self._lock = threading.Lock()

    def op(self, ok: bool, note: str = "", n: int = 1) -> None:
        with self._lock:
            self.attempted += n
            if not ok:
                self.failed += n
                if len(self.notes) < 20:
                    self.notes.append(note)


def open_loop(rate: float, duration: float, op, workers: int,
              start: float | None = None) -> list[float]:
    """Call ``op(k, due)`` for k = 0..rate*duration-1 at due times
    ``start + k/rate`` on at most ``workers`` threads, whatever the
    previous calls' progress.  Returns how late each dispatch ran (s)."""
    n = int(rate * duration)
    t0 = time.perf_counter() if start is None else start
    late: list[float] = []
    with ThreadPoolExecutor(max_workers=workers) as pool:
        for k in range(n):
            due = t0 + k / rate
            wait = due - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            late.append(time.perf_counter() - due)
            pool.submit(op, k, due)
    return late


class Session:
    """The Spark session the workload runs on, restarted for each set-up
    cycle.  The first start also launches the JVM; later starts reuse it."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.t0 = t0 = time.perf_counter()
        self.spark = start_session(tracer.enabled)
        self.launch_s = time.perf_counter() - t0
        self.get_spark_s = [self.launch_s]
        tracer.spark = self.spark

    def cycles(self, start, stop):
        """Run ``start(spark)`` ``SETUP_CYCLES`` times, each on a freshly
        started session (``stop(state)`` and a session stop in between,
        untimed).  Returns the last state and the set-up time of each
        cycle after the first; the first cycle's time, JVM launch
        included, is kept as ``first_setup_s``."""
        times = []
        state = None
        for i in range(SETUP_CYCLES):
            if i:
                stop(state)
                self.spark.stop()
            t0 = time.perf_counter()
            if i:
                self.spark = start_session(self.tracer.enabled)
                self.get_spark_s.append(time.perf_counter() - t0)
                self.tracer.spark = self.spark
            state = start(self.spark)
            times.append(time.perf_counter() - t0 + (0 if i else self.launch_s))
        self.tracer.spans.clear()
        self.first_setup_s = times[0]
        return state, times[1:]


def parquet_files(root: str) -> int:
    return sum(f.endswith(".parquet") for _, _, fs in os.walk(root) for f in fs)
