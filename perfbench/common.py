"""Shared plumbing for the benchmark: host fitting, the Spark session's
lifetime, process-tree memory sampling, job-group tracing and statistics.

Everything the benchmark writes lives under the checkout it runs from:
inputs under `.perfbench_cache/`, run scratch under `.perfbench_work/`.
"""

from __future__ import annotations

import contextlib
import os
import platform
import shutil
import statistics
import subprocess
import threading
import time

from openlogparse_spark.manifest import Manifest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")
WORK = os.path.join(ROOT, ".perfbench_work")
MB = 1024 * 1024


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / (1024 * 1024)
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def fit_env(work: str) -> None:
    """Size the session to this host through the variables
    `session.get_spark` reads (its defaults are local[32] and a 48 g heap),
    and keep every temporary file of the JVMs and Python workers inside the
    checkout."""
    cpus = host_cpus()
    # 1 g (Spark's own default) backs the benchmark's few-MB inputs on any
    # host. A heap far above the working set turns peak RSS into a reading of
    # G1's lazy heap growth: 2 g gave a 22% and 6 g a 44% run-to-run spread
    # on 4 cores / 15 GB, against 5% at 1 g.
    heap_gb = 1
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = f"{heap_gb}g"
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM spark-submit starts (the launcher too): temp dir inside the
    # checkout and no /tmp/hsperfdata file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def process_age_s() -> float:
    """Seconds since this process started (kernel start time, 10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def start_session(app: str, extra_conf: dict | None = None):
    from openlogparse_spark.session import get_spark

    conf = {"spark.sql.streaming.numRecentProgressUpdates": "1000"}
    conf.update(extra_conf or {})
    return get_spark(app, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it forked)
    to exit: closing the gateway's stdin is the JVM's own exit signal."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def host_info(spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "cpus": host_cpus(),
        "mem_gb": round(host_mem_gb(), 1),
        "driver_memory": os.environ.get("SPARK_DRIVER_MEMORY"),
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# ------------------------------------------------------------ memory -------

def _pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared with other processes (the forked
    Python workers share their daemon's) are split among the sharers, so a
    sum over processes counts each page once."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_memory(root_pid: int) -> dict[str, int]:
    """Memory of `root_pid` and all its descendants (the JVM, and the Python
    worker daemon under it), per 'pid command' key."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (FileNotFoundError, ProcessLookupError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = {}, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/comm") as f:
                out[f"{pid} {f.read().strip()}"] = _pss_bytes(pid)
        except (FileNotFoundError, ProcessLookupError):
            continue
    return out


class RssSampler:
    """Background peak of the process tree's summed resident memory (PSS),
    sampled from /proc, with the per-process split at the peak. It samples
    only inside `measuring()` blocks: the timed passes, not the correctness
    checks that run in this same process."""

    # one sample reads the JVM's smaps_rollup, ~10 ms of kernel time on 4
    # cores: every 0.5 s that is ~0.5% of the host's CPU during a pass
    def __init__(self, period_s: float = 0.5):
        self.period_s = period_s
        self.peak = 0
        self.at_peak: dict[str, int] = {}
        self._on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            if self._on.is_set():
                mem = tree_memory(pid)
                if sum(mem.values()) > self.peak:
                    self.peak, self.at_peak = sum(mem.values()), mem
            self._stop.wait(self.period_s)

    @contextlib.contextmanager
    def measuring(self):
        self._on.set()
        try:
            yield
        finally:
            self._on.clear()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# ------------------------------------------------------------ tracing ------

PASS_PROP = "perfbench.pass"


@contextlib.contextmanager
def job_group(spark, name: str):
    """Tag every Spark job submitted from this thread inside the block with
    job group `name`; the event-log reader attributes tasks by it."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


@contextlib.contextmanager
def tagged_pass(spark, tag: str):
    """Mark every job of one pass, so its total task time can be compared
    with the sum over its layer groups."""
    sc = spark.sparkContext
    sc.setLocalProperty(PASS_PROP, tag)
    try:
        yield
    finally:
        sc.setLocalProperty(PASS_PROP, None)


def event_log_conf(evdir: str) -> dict:
    os.makedirs(evdir, exist_ok=True)
    return {"spark.eventLog.enabled": "true", "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false"}


class TimedManifest(Manifest):
    """Manifest that times its `record` calls (route commits record from a
    thread pool, hence the lock)."""

    def __init__(self, path: str):
        super().__init__(path)
        self.calls = 0
        self.s = 0.0
        self._lock = threading.Lock()

    def record(self, *args, **kwargs):
        t0 = time.perf_counter()
        try:
            return super().record(*args, **kwargs)
        finally:
            with self._lock:
                self.calls += 1
                self.s += time.perf_counter() - t0

    def metrics(self) -> dict[str, float]:
        return {"manifest.calls": self.calls, "manifest.s": self.s,
                "manifest.files": len(self._files())}


# ------------------------------------------------------------ statistics ---

def summarize(samples: list[float]) -> dict:
    """Median plus the highest percentile (of 99/90/75/50) that still has at
    least ten samples beyond it, with the sample count."""
    xs = sorted(samples)
    n = len(xs)
    if not n:
        return {"n": 0}
    out = {"median": statistics.median(xs), "n": n}
    for p in (99, 90, 75, 50):
        k = int(n * p / 100)          # samples at or below the percentile
        if n - k >= 10:
            out[f"p{p}"] = xs[min(k, n - 1)]
            break
    return out


def quantile(samples: list[float], q: float) -> float:
    xs = sorted(samples)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


class Tally:
    """Operations attempted and failed (error rate = failed / attempted)."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def record(self, failures: list[str]) -> None:
        """One operation; it failed when `failures` is not empty."""
        self.attempted += 1
        if failures:
            self.failed += 1
            self.failures.extend(failures)

    def attempt(self, fn, *args):
        """fn(*args), or None after recording a pass that raised."""
        try:
            return fn(*args)
        except Exception as e:  # a pass that raises is a failed operation
            self.record([f"{fn.__name__}: {type(e).__name__}: {e}"])
            return None


MIN_WARM_PASSES = 1


def more_passes(start: float, done: int, seconds: float) -> bool:
    """Warm passes run until `seconds` have passed since `start` (a
    perf_counter reading) and at least MIN_WARM_PASSES were attempted. A pass
    started before `seconds` ran out is finished, so a pass longer than
    `seconds` runs once."""
    return done < MIN_WARM_PASSES or time.perf_counter() - start < seconds


class Timer:
    def __enter__(self) -> "Timer":
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.s = time.perf_counter() - self.t0
