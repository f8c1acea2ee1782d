"""Run scaffolding shared by the workloads.

- ``prepare_env`` gives the run its own scratch tree and the process
  environment Spark and its Python workers need; it must run before
  pyspark or featureform_spark is imported.
- ``Recorder`` times calls into the engine. Timings are always kept
  (they feed the end-to-end metrics); with tracing on it also keeps
  spans and tags every Spark job with the span that launched it.
- ``tail``, ``median``, ``kind_gmean`` and ``block_rate`` summarise
  timings;
  ``own_hwm_mb`` and ``vm_cpu_s`` read /proc.
- ``start_spark`` and ``stop_spark`` own the JVM's
  lifetime; ``stop_spark`` also reads its memory high-water mark.
"""

from __future__ import annotations

import itertools
import math
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNS_DIR = os.path.join(ROOT, "perfbench", "out", "runs")
JOB_GROUP = "spark.jobGroup.id"


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(run_dir: str) -> None:
    """Point every scratch location of Spark, the JVM and Python at
    ``run_dir`` and make the repo importable by Spark's Python workers
    (they are started by the JVM, not by this interpreter, and only
    inherit its environment)."""
    for sub in ("local", "tmp", "warehouse", "events"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    # the engine defaults to a 24g driver heap; stay well below RAM
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(run_dir, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData"
    )
    os.environ["PYARROW_IGNORE_TIMEZONE"] = "1"
    # one BLAS thread per process: the load stays on the benchmark's
    # own threads and Spark's task slots instead of oversubscribing
    os.environ["OPENBLAS_NUM_THREADS"] = "1"
    os.environ["OMP_NUM_THREADS"] = "1"


# -- percentiles ----------------------------------------------------------

_LADDER = (99.99, 99.9, 99.0, 90.0, 50.0)


def percentile(values, p: float) -> float:
    """Nearest-rank percentile (the smallest sample with at least p% of
    the samples at or below it)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def tail(values) -> tuple[float, float, int]:
    """The highest percentile of the ladder with at least ten samples
    beyond it: ``(p, value, n)``. With fewer than 20 samples no
    percentile qualifies and the median is returned with p = 50."""
    n = len(values)
    for p in _LADDER:
        if n * (100.0 - p) / 100.0 >= 10:
            return p, percentile(values, p), n
    return 50.0, percentile(values, 50.0), n


def block_rate(times, block: int) -> float:
    """Operations per second, median over consecutive blocks of
    ``block`` operations (a block being one full request mix), so a
    stall in one block does not move the rate of the others. Falls back
    to the whole run when it holds no full block."""
    sums = [sum(times[k : k + block]) for k in range(0, len(times) - block + 1, block)]
    return block / median(sums) if sums else len(times) / sum(times)


def kind_gmean(samples: dict, kinds) -> tuple[float, int]:
    """Geometric mean over ``kinds`` (span names) of each kind's median
    latency, and the number of samples behind it. Every kind weighs the
    same whatever its share of the operations, so a regression in any
    one of K kinds by a factor r moves it by r ** (1 / K). Kinds without
    samples are left out."""
    meds = [median(samples[k]) for k in kinds if samples.get(k)]
    if not meds:
        raise ValueError("no samples of any kind")
    n = sum(len(samples[k]) for k in kinds if samples.get(k))
    return math.exp(sum(math.log(m) for m in meds) / len(meds)), n


def median(values) -> float:
    xs = sorted(values)
    if not xs:
        raise ValueError("median of no samples")
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2.0


# -- spans ----------------------------------------------------------------


class Recorder:
    """Times calls into the engine.

    ``span(name)`` always appends the call's wall time to
    ``samples[name]``. With ``trace`` on it also keeps a span record
    (id, parent, name, start, end) and, when a SparkContext is attached,
    sets the thread-local job group to the span id for the duration of
    the call, so the event log attributes every job to its span. Span
    nesting is tracked per thread; a span opened on a worker thread is
    a root span."""

    def __init__(self, trace: bool, run_id: str):
        self.trace = trace
        self.run_id = run_id
        self.samples: dict[str, list[float]] = {}
        self.spans: list[tuple[int, int | None, str, float, float]] = []
        self._local = threading.local()
        self._ids = itertools.count(1)
        self.sc = None

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def attach(self, sc) -> None:
        self.sc = sc

    @contextmanager
    def muted(self):
        """Spans opened inside it on this thread record nothing (for an
        untimed warm-up); their Spark jobs stay in the job group of the
        enclosing span."""
        self._local.muted = True
        try:
            yield
        finally:
            self._local.muted = False

    @contextmanager
    def span(self, name: str):
        if getattr(self._local, "muted", False):
            yield
            return
        if not self.trace:
            t0 = time.perf_counter()
            try:
                yield
            finally:
                self.samples.setdefault(name, []).append(
                    time.perf_counter() - t0
                )
            return
        sid = next(self._ids)
        stack = self._stack()
        parent = stack[-1] if stack else None
        stack.append(sid)
        if self.sc is not None:
            self.sc.setLocalProperty(JOB_GROUP, f"{self.run_id}:{sid}")
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty(
                    JOB_GROUP, f"{self.run_id}:{stack[-1]}" if stack else None
                )
            self.samples.setdefault(name, []).append(t1 - t0)
            self.spans.append((sid, parent, name, t0, t1))

    def add_sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)


def self_times(spans) -> dict[int, float]:
    """Span id -> duration minus the part of it covered by its direct
    children (their union, so overlapping children count once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for sid, parent, _name, t0, t1 in spans:
        if parent is not None:
            kids.setdefault(parent, []).append((t0, t1))
    out = {}
    for sid, _parent, _name, t0, t1 in spans:
        covered, end = 0.0, t0
        for c0, c1 in sorted(kids.get(sid, ())):
            c0, c1 = max(c0, end), min(c1, t1)
            if c1 > c0:
                covered += c1 - c0
                end = c1
        out[sid] = (t1 - t0) - covered
    return out


# -- memory ---------------------------------------------------------------


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def own_hwm_mb() -> float:
    """VmHWM (peak resident set) of this process."""
    return _vm_hwm_kb(os.getpid()) / 1024.0


def vm_cpu_s() -> tuple[float, float]:
    """(busy, steal) CPU seconds of the whole machine so far, from
    /proc/stat: busy is user + nice + system + irq + softirq; steal is
    time the hypervisor ran someone else while this VM was runnable."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    hz = os.sysconf("SC_CLK_TCK")
    return (f[0] + f[1] + f[2] + f[5] + f[6]) / hz, f[7] / hz


# -- Spark lifecycle ------------------------------------------------------


def concurrently(rec: Recorder, *fns) -> None:
    """Run each function on its own thread, wait for all, and re-raise
    the first failure. Set-up uses it to overlap independent Spark
    work: on a cold JVM a small job waits on driver-side planning and
    code generation, not on cores. A traced run calls them one after
    the other instead, so each set-up span times its own work and not
    its contention with the others."""
    if rec.trace:
        for f in fns:
            f()
        return
    with ThreadPoolExecutor(max_workers=len(fns)) as ex:
        futures = [ex.submit(f) for f in fns]
    for f in futures:
        f.result()


def start_spark(rec: Recorder, run_dir: str):
    """Engine session with the console progress bar off and, when
    tracing, an uncompressed single-file event log in the run dir."""
    from featureform_spark import get_spark

    extra = {"spark.ui.showConsoleProgress": "false"}
    if rec.trace:
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://"
                + os.path.join(run_dir, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    with rec.span("session.get_spark"):
        spark = get_spark(app_name="perfbench", extra_conf=extra)
    rec.attach(spark.sparkContext)
    return spark


def stop_spark(spark) -> float:
    """Stop the session, then the JVM, and wait until it has exited.
    Returns the JVM's VmHWM in MB, read just before it stops."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    hwm_mb = _vm_hwm_kb(proc.pid) / 1024.0 if proc is not None else 0.0
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    return hwm_mb
