"""Shared plumbing for the benchmark workloads.

Everything here is measurement, not program code: a run-private
scratch directory, the host stamp, the Spark session the workloads
share, a ``/proc`` RSS sampler, percentiles, the span tracer and the
Spark status-store reader.  The program under test is imported only
through its public modules (``session``, ``sources``, ``streaming``,
``operators``, ``queries``).
"""

from __future__ import annotations

import json
import math
import os
import platform
import shutil
import subprocess
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "spark_streaming_kafka2elasticsearch_spark"

#: Where every run keeps its private scratch, relative to the checkout
#: root; removed when the run ends (listed in the root .gitignore).
SCRATCH_PARENT = os.path.join(ROOT, ".perfbench_run")


class BenchError(RuntimeError):
    """The benchmark cannot run here (missing program, data or tools)."""


def require_program() -> None:
    """Refuse to run without the program: a result from a checkout that
    lacks it would measure nothing."""
    if not os.path.isfile(os.path.join(ROOT, PKG, "session.py")):
        raise BenchError(f"program package {PKG!r} not found under {ROOT}")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


# --------------------------------------------------------------------------
# run-private scratch


class Scratch:
    """A per-run directory inside the checkout that holds everything a
    run writes: Spark local dirs, JVM temp, Derby home, warehouse,
    checkpoints, sinks and the persisted-index root the queries use
    (``SPARK_GRAFT_TMP_DIR``).  Nothing survives the run, so a stale
    index can never turn a build+serve into a serve-only pass."""

    def __init__(self) -> None:
        os.makedirs(SCRATCH_PARENT, exist_ok=True)
        self.path = os.path.join(SCRATCH_PARENT, f"run-{os.getpid()}-{time.time_ns()}")
        os.makedirs(self.path)
        for sub in ("tmp", "local", "derby", "warehouse", "graft"):
            os.makedirs(os.path.join(self.path, sub))
        os.environ["SPARK_GRAFT_TMP_DIR"] = self.sub("graft")
        os.environ["TMPDIR"] = self.sub("tmp")
        os.environ["SPARK_LOCAL_DIRS"] = self.sub("local")
        import tempfile

        tempfile.tempdir = self.sub("tmp")

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def spark_conf(self) -> dict[str, str]:
        java_opts = (
            f"-Dderby.system.home={self.sub('derby')} "
            f"-Djava.io.tmpdir={self.sub('tmp')}"
        )
        return {
            "spark.sql.warehouse.dir": self.sub("warehouse"),
            "spark.local.dir": self.sub("local"),
            "spark.driver.extraJavaOptions": java_opts,
        }

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(SCRATCH_PARENT)
        except OSError:
            pass  # another run still uses it


# --------------------------------------------------------------------------
# host stamp


def total_mem_mib() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise BenchError("MemTotal missing from /proc/meminfo")


def heap_gib() -> int:
    """Driver heap sized to the box: a quarter of physical memory,
    between 1 and 16 GiB (local mode runs driver and executors in one
    JVM)."""
    return max(1, min(16, round(total_mem_mib() / 1024 / 4)))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _java_version() -> str:
    try:
        out = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=30
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    first = (out.stderr or out.stdout).splitlines()
    return first[0] if first else "unknown"


def _git_commit() -> str:
    """The commit the checkout was made from: from git when the
    checkout is a repository, else unknown."""
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return "unknown"


def _cpu_jiffies() -> tuple[int, int, int]:
    """(busy, steal, total) jiffies of all CPUs since boot."""
    with open("/proc/stat") as f:
        user, nice, system, idle, iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9])
    busy = user + nice + system + irq + softirq
    return busy, steal, busy + idle + iowait + steal


class HostLoad:
    """What else the machine did while a run ran: the CPU time spent
    outside this process tree (other tenants) in cores on average, and
    the share of CPU time the hypervisor stole.  Either slows a run with
    no change to the program, so every result records both."""

    def __init__(self) -> None:
        self.wall0, self.cpu0, self.own0 = time.time(), _cpu_jiffies(), self._own()

    @staticmethod
    def _own() -> float:
        t = os.times()  # children count once waited for (JVM, generator)
        return t.user + t.system + t.children_user + t.children_system

    def report(self) -> dict[str, float]:
        wall = time.time() - self.wall0
        busy, steal, total = (b - a for a, b in zip(self.cpu0, _cpu_jiffies()))
        others = busy / os.sysconf("SC_CLK_TCK") - (self._own() - self.own0)
        return {"wall_s": wall, "other_cores": max(0.0, others) / wall,
                "steal_share": steal / total if total else 0.0}


def host_stamp(cores: int) -> dict:
    import pyspark

    return {
        "nproc": nproc(),
        "master": f"local[{cores}]",
        "mem_total_mib": total_mem_mib(),
        "driver_heap": f"{heap_gib()}g",
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": _java_version(),
        "commit": _git_commit(),
    }


# --------------------------------------------------------------------------
# session


def build_bench_session(cores: int, scratch: Scratch, app: str,
                        conf: dict[str, str] | None = None):
    """The program's own ``build_session`` with its defaults; the
    benchmark adds where files go, the heap size and the workload's
    ``conf``.  Returns ``(spark, seconds)``."""
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-memory {heap_gib()}g pyspark-shell"
    # Python workers import the package by module path (cloudpickle).
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    from spark_streaming_kafka2elasticsearch_spark.session import build_session

    t0 = time.perf_counter()
    spark = build_session(
        master=f"local[{cores}]", app_name=app,
        extra_conf={**scratch.spark_conf(), **(conf or {})},
    )
    return spark, time.perf_counter() - t0


def stop_session() -> None:
    """Stop the active session and the JVM it launched, and wait for the
    JVM to exit (stopping the context alone leaves it running until this
    process exits).  A no-op when no session runs."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    elif SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is None or proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the gateway server exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# --------------------------------------------------------------------------
# /proc RSS sampler

_PAGE = os.sysconf("SC_PAGE_SIZE")


def proc_children() -> dict[int, list[int]]:
    """ppid → child pids, from one pass over ``/proc/*/stat``."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may hold spaces and parens: split after the last ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int, kids: dict[int, list[int]]) -> list[int]:
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def rss_bytes(pid: int) -> int:
    """Resident set size of one process (0 once it has exited)."""
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Samples the summed RSS of the driver Python process, the driver
    JVM and every process the JVM starts (the Python workers) every
    ``interval`` seconds on a daemon thread; ``peak_mib`` is the
    largest sum seen."""

    def __init__(self, jvm_pid: int, interval: float = 0.25) -> None:
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak = 0
        #: (driver, JVM, workers) bytes at the peak
        self.at_peak = (0, 0, 0)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> int:
        workers = set(tree_pids(self.jvm_pid, proc_children())) - {self.jvm_pid, os.getpid()}
        parts = (rss_bytes(os.getpid()), rss_bytes(self.jvm_pid),
                 sum(rss_bytes(p) for p in workers))
        total = sum(parts)
        if total > self.peak:
            self.peak, self.at_peak = total, parts
        return total

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()
        return self.peak / (1 << 20)

    def layer_metrics(self) -> dict[str, float]:
        driver, jvm, workers = (b / (1 << 20) for b in self.at_peak)
        return {"mem.peak_rss_mb": self.peak / (1 << 20), "mem.driver_rss_mb": driver,
                "mem.jvm_rss_mb": jvm, "mem.workers_rss_mb": workers}


# --------------------------------------------------------------------------
# statistics


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in [0, 1]) of a non-empty list."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(q * len(s)))
    return s[rank - 1]


def reportable(n: int, q: float, beyond: int = 10) -> bool:
    """A percentile is reported only when at least ``beyond`` samples
    lie above it."""
    return n - max(1, math.ceil(q * n)) >= beyond


def reported_percentile(values: list[float], q: float) -> float:
    """``percentile``, refusing one the sample count cannot support."""
    if not reportable(len(values), q):
        raise ValueError(f"p{q * 100:g} needs 10 samples beyond it; have {len(values)} samples")
    return percentile(values, q)


# --------------------------------------------------------------------------
# tracing


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None
    sid: int
    count: float | None = None


@dataclass
class Tracer:
    """In-memory spans taken around calls into the program's layers,
    from the main thread (calls made on Spark's stream thread are timed
    by ``CallLog``-style wrappers and added afterwards).  Disabled
    tracers record nothing and cost one attribute test."""

    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), math.nan, parent, op, sid))
        self._stack.append(sid)
        try:
            yield
        finally:
            self.spans[sid].end = time.time()
            self._stack.pop()

    def add(self, name: str, start: float, end: float, op: str | None = None,
            parent: int | None = None, count: float | None = None) -> int:
        """Record a span measured elsewhere (progress reports, the
        generator, wrapped calls), with the rows or events it handled."""
        sid = len(self.spans)
        self.spans.append(Span(name, start, end, parent, op, sid, count))
        return sid

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part covered by
        its direct children."""
        child_cover: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child_cover[s.parent] = child_cover.get(s.parent, 0.0) + (s.end - s.start)
        out: dict[str, float] = {}
        for s in self.spans:
            own = (s.end - s.start) - child_cover.get(s.sid, 0.0)
            out[s.name] = out.get(s.name, 0.0) + max(0.0, own)
        return out

    def dump(self) -> list[dict]:
        return [s.__dict__ for s in self.spans]


# --------------------------------------------------------------------------
# Spark status store


class SparkStatus:
    """Per-stage executor metrics for a set of jobs, read from the
    application status store (works with the UI disabled)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so
        the status store reflects all finished jobs."""
        self._jsc.listenerBus().waitUntilEmpty()

    def job_ids(self, group: str, since: float | None = None,
                until: float | None = None) -> list[int]:
        """Jobs of a job group (a stream's group is its run id), only
        those submitted within epoch seconds [``since``, ``until``] if
        given."""
        ids = list(self.sc.statusTracker().getJobIdsForGroup(group))
        if since is None and until is None:
            return ids
        store = self._jsc.statusStore()
        out = []
        for j in ids:
            submitted = store.job(j).submissionTime()
            if not submitted.isDefined():
                continue
            t = submitted.get().getTime() / 1000.0
            if (since is None or t >= since) and (until is None or t <= until):
                out.append(j)
        return out

    def stages(self, job_ids: list[int]) -> dict:
        tracker = self.sc.statusTracker()
        store = self._jsc.statusStore()
        sids: set[int] = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                sids.update(info.stageIds)
        tot = {"executor_run_s": 0.0, "shuffle_read_mb": 0.0,
               "shuffle_write_mb": 0.0, "tasks": 0, "stages": 0}
        for sid in sids:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # evicted or never submitted
                continue
            if str(st.status()) != "COMPLETE":
                continue
            tot["stages"] += 1
            tot["tasks"] += st.numTasks()
            tot["executor_run_s"] += st.executorRunTime() / 1000.0
            tot["shuffle_read_mb"] += st.shuffleReadBytes() / (1 << 20)
            tot["shuffle_write_mb"] += st.shuffleWriteBytes() / (1 << 20)
        return tot


def spark_layer_metrics(tot: dict, wall_s: float, cores: int) -> dict:
    return {
        "spark.executor_run_s": tot["executor_run_s"],
        "spark.shuffle_read_mb": tot["shuffle_read_mb"],
        "spark.shuffle_write_mb": tot["shuffle_write_mb"],
        "spark.tasks": tot["tasks"],
        "spark.busy_ratio": tot["executor_run_s"] / (wall_s * cores) if wall_s > 0 else 0.0,
    }


# --------------------------------------------------------------------------
# result line


def emit(correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]],
         info: dict) -> None:
    """Print the run's context on one line, then the result line the
    benchmark's callers read (always the last line of stdout)."""
    print("# " + json.dumps(info, default=str), flush=True)
    print(
        json.dumps(
            {
                "correct": bool(correct),
                "attempted": int(attempted),
                "failed": int(failed),
                "metrics": {
                    k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()
                },
            }
        ),
        flush=True,
    )
