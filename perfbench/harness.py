"""Shared machinery of the benchmark: where a run may write, how the
Spark session is started, timing statistics, memory readout, the span
tracer and the per-op status-store counters.

Everything here observes the package from outside: it calls public
functions and reads Spark's own status store and progress feed. Nothing
in the package is modified, apart from wrapping module attributes with
timing spans during a traced run (and restoring them afterwards).
"""

from __future__ import annotations

import json
import math
import os
import resource
import shutil
import statistics
import sys
import threading
import time
from contextlib import contextmanager

PROCESS_START = time.time()

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(ROOT, ".perfbench_work")
PKG = "stock_price_prediction_using_stream_and_batch_processing_spark"

# One driver JVM with four task threads; every workload runs one client
# (or one generator process) against it.
CORES = 4
DRIVER_MEMORY = "1g"


def make_run_dir(workload: str) -> str:
    d = os.path.join(WORK, f"{workload}-{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    for sub in ("tmp", "spark-local", "warehouse", "results"):
        os.makedirs(os.path.join(d, sub))
    return d


def remove_run_dir(run_dir: str) -> None:
    shutil.rmtree(run_dir, ignore_errors=True)


def confine_to(run_dir: str) -> None:
    """Point every scratch location the JVM, Python and the package use
    inside ``run_dir`` (the benchmark may write only in its checkout).
    Must run before the first Spark session starts."""
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(run_dir, "warehouse")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    # no hsperfdata file under the system temp dir, for the launcher JVM
    # that spark-submit runs first (the driver JVM gets the same flag)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # Python workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = tmp


def import_package():
    """The package under test, imported from the checkout root."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import importlib

    return importlib.import_module(PKG)


def start_spark(run_dir: str, cores: int = CORES):
    """The package's own session factory at ``local[cores]``, with only
    the scratch locations redirected. The package's plans write their
    private result stores under ``plans.workdirs._ROOT``; that location
    is redirected into the run directory too."""
    pkg = import_package()
    tmp = os.path.join(run_dir, "tmp")
    spark = pkg.get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            # a fixed-size heap: G1 otherwise sizes it differently from
            # run to run, and peak RSS follows
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY} -XX:-UsePerfData",
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    from importlib import import_module

    workdirs = import_module(f"{PKG}.plans.workdirs")
    workdirs._ROOT = os.path.join(run_dir, "results")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then end the driver JVM and wait for it. The JVM
    exits once its stdin pipe from this process closes."""
    import subprocess

    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# --------------------------------------------------------------- statistics


def median(values):
    return statistics.median(values) if values else float("nan")


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (numpy's default rule)."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values, p: float, min_beyond: int = 10) -> float | None:
    """The ``p``-th percentile of ``values``, or None when fewer than
    ``min_beyond`` samples lie beyond it: a tail is reported only where
    the sample supports it."""
    beyond_permille = len(values) * round((100.0 - p) * 10)  # exact integers
    if beyond_permille < min_beyond * 1000:
        return None
    return quantile(values, p / 100.0)


def geomean(values) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


# ------------------------------------------------------------------- memory


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM plus the Python driver."""
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (_vm_hwm_kb(jvm_pid) + py_kb) / 1024.0


# ------------------------------------------------------------------ tracing


class Tracer:
    """Spans kept in memory: (name, start, end, parent, op id). A span's
    parent is the innermost open span on the same thread."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._wrapped: list[tuple[object, str, object]] = []
        self.op_id = None

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, op_id=None):
        st = self._stack()
        rec = {
            "id": None,
            "name": name,
            "parent": st[-1]["id"] if st else None,
            "op": self.op_id if op_id is None else op_id,
            "start": time.time(),
            "end": None,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        st.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            st.pop()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a spanned twin, at the name its
        caller looks up; :meth:`unwrap_all` restores it."""
        fn = getattr(owner, attr)
        tracer = self

        def spanned(*a, **kw):
            with tracer.span(name):
                return fn(*a, **kw)

        spanned.__wrapped__ = fn
        setattr(owner, attr, spanned)
        self._wrapped.append((owner, attr, fn))

    def unwrap_all(self) -> None:
        while self._wrapped:
            owner, attr, fn = self._wrapped.pop()
            setattr(owner, attr, fn)

    def durations_ms(self, name: str, op=None) -> list[float]:
        """Durations of the finished ``name`` spans (of op ``op`` if given)."""
        return [
            (s["end"] - s["start"]) * 1e3
            for s in self.spans
            if s["name"] == name and s["end"] is not None and (op is None or s["op"] == op)
        ]

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


def _union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times_ms(spans) -> dict[str, float]:
    """Per span name: total duration minus the part of each span's
    interval that its child spans cover (children may overlap)."""
    children: dict = {}
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        if s["end"] is None:
            continue
        kids = [
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in children.get(s["id"], [])
        ]
        covered = _union_length([iv for iv in kids if iv[1] > iv[0]])
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - covered) * 1e3
    return out


# ------------------------------------------------------ status-store counters


class JobCounters:
    """Per-op Spark counters read back from the application status store
    (works with ``spark.ui.enabled=false``). Each op runs under its own
    job group; after the op, the listener bus is drained and the group's
    jobs and stages are summed."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.log: list[dict] = []

    @property
    def groups_opened(self) -> int:
        return len(self.log)

    @contextmanager
    def group(self, label: str):
        gid = f"perfbench-{len(self.log) + 1}-{label}"
        self.sc.setJobGroup(gid, label)
        rec = {"group": gid, "label": label, "t0": time.time()}
        self.log.append(rec)
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def _job_ids(self, rec: dict, extra_groups=()) -> list[int]:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30000)
        tracker = self.sc.statusTracker()
        job_ids = []
        for g in (rec["group"], *extra_groups):
            job_ids.extend(tracker.getJobIdsForGroup(g))
        return job_ids

    def job_intervals(self, rec: dict, extra_groups=()) -> list[tuple[float, float]]:
        """(submitted, completed) wall-clock seconds of each finished job."""
        store = self.sc._jsc.sc().statusStore()
        out = []
        for jid in self._job_ids(rec, extra_groups):
            jd = store.job(jid)
            sub, comp = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and comp.isDefined():
                out.append((sub.get().getTime() / 1e3, comp.get().getTime() / 1e3))
        return out

    def read(self, rec: dict, extra_groups=()) -> dict:
        """Counters of the jobs run under ``rec``'s group (plus
        ``extra_groups``, e.g. a streaming query's run id)."""
        store = self.sc._jsc.sc().statusStore()
        job_ids = self._job_ids(rec, extra_groups)
        out = {
            "jobs": len(job_ids),
            "stages": 0,
            "tasks": 0,
            "executor_run_ms": 0.0,
            "executor_cpu_ms": 0.0,
            "shuffle_write_bytes": 0.0,
            "spill_bytes": 0.0,
            "gc_ms": 0.0,
        }
        for jid in job_ids:
            stage_ids = store.job(jid).stageIds()
            for i in range(stage_ids.size()):
                try:
                    sd = store.lastStageAttempt(stage_ids.apply(i))
                except Exception:  # skipped stage: never ran, no attempt recorded
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["executor_run_ms"] += sd.executorRunTime()
                out["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out["gc_ms"] += sd.jvmGcTime()
        wall = rec["t1"] - rec["t0"]
        clipped = [(max(s, rec["t0"]), min(e, rec["t1"])) for s, e in self.job_intervals(rec, extra_groups)]
        in_jobs = _union_length([iv for iv in clipped if iv[1] > iv[0]])
        out["wall_ms"] = wall * 1e3
        out["driver_gap_ms"] = max(wall - in_jobs, 0.0) * 1e3
        rec["counters"] = out
        return out


# ---------------------------------------------------------------- run state


class Ctx:
    """One benchmark process: its session, scratch directory, seed and
    time budget, the tracer and job counters (traced runs only), and the
    bookkeeping behind ``setup_s``.

    ``setup_s`` is the time from process start to the first timed op,
    without the benchmark's own input generation. A preparation step
    that is repeated counts once, at its median repetition."""

    def __init__(self, spark, run_dir: str, seed: int, seconds: float, trace: bool):
        self.spark = spark
        self.run_dir = run_dir
        self.seed = seed
        self.seconds = seconds
        self.tracer = Tracer() if trace else None
        self.jobs = JobCounters(spark) if trace else None
        self.gen_s = 0.0
        self.prep_reps: list[list[float]] = []
        self.first_op_at: float | None = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    @contextmanager
    def generating(self):
        """Input generation: excluded from ``setup_s``."""
        t = time.time()
        try:
            yield
        finally:
            self.gen_s += time.time() - t

    def prepare(self, fn, reps: int = 3):
        """Run a preparation step ``reps`` times; returns the last result."""
        out, times = None, []
        for _ in range(reps):
            t = time.time()
            out = fn()
            times.append(time.time() - t)
        self.prep_reps.append(times)
        return out

    def timed_region_starts(self) -> None:
        if self.first_op_at is None:
            self.first_op_at = time.time()

    def setup_s(self) -> float:
        total = self.first_op_at - PROCESS_START - self.gen_s
        for times in self.prep_reps:
            total += median(times) - sum(times)
        return total

    def check(self, ok: bool, what: str, n: int = 1) -> bool:
        """Count ``n`` ops whose outputs one check covers; a failed check
        counts all of them as failed."""
        self.attempted += n
        if not ok:
            self.failed += n
            self.failures.append(what)
        return ok

    def op_failed(self, what: str, exc: BaseException) -> None:
        """An op that raised: attempted and failed."""
        self.check(False, f"{what}: {type(exc).__name__}: {exc}")

    @contextmanager
    def op(self, label: str):
        """One timed op: a span and a job group when traced."""
        if self.tracer is None:
            yield None
            return
        self.tracer.op_id = label
        with self.jobs.group(label) as rec, self.tracer.span(label):
            yield rec
        self.tracer.op_id = None


# ------------------------------------------------------------------- output


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
        }
    )
