"""Shared plumbing for the perfbench workloads.

- ``Box``: the session sized to the machine (``local[nproc]``, a driver heap
  below physical RAM) and the library versions every result records.
- ``RssSampler``: peak resident memory of this process and all its
  descendants (Spark JVM, Python workers).
- ``SparkAccounting``: per-operation job, stage and task accounting read
  from Spark's own status store, keyed by a job group per operation.
- ``Spans``: wall-time spans around calls into engine modules, installed by
  wrapping the module attribute the caller looks up.
- ``table_digest`` / ``file_digest``: input pins.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import subprocess
import sys
import threading
import time
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def quantile(xs: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p`` quantile: a mean of all order
    statistics weighted by a Beta((n+1)p, (n+1)(1-p)) distribution. Unlike
    a single order statistic it does not jump across the gaps between
    operations of very different latency."""
    import math

    import numpy as np

    if len(xs) < 2:
        return xs[0] if xs else 0.0
    x = np.sort(np.asarray(xs, dtype=float))
    n = len(x)
    a, b = (n + 1) * p, (n + 1) * (1 - p)
    # Beta CDF at i/n by the midpoint rule on a fine grid, which stays
    # finite where the density does not (a or b below 1, n < 3)
    m = 100 * n
    t = (np.arange(m) + 0.5) / m
    pdf = np.exp(
        math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
        + (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
    )
    cdf = np.concatenate([[0.0], np.cumsum(pdf)])[::100]
    weights = np.diff(cdf / cdf[-1])
    return float(weights @ x)


# ---------------------------------------------------------------------------
# machine and session
# ---------------------------------------------------------------------------


class Box:
    """Machine facts and the Spark session sized to them."""

    def __init__(self, work: str):
        self.work = work
        self.nproc = len(os.sched_getaffinity(0))
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        self.ram_gb = ram / 2**30
        # 1..2 GiB, at most a quarter of RAM: the workloads' largest input
        # is under 100 MB of Arrow, and the box is shared
        self.heap_gb = max(1, min(2, int(self.ram_gb // 4)))
        self.master = f"local[{self.nproc}]"
        self.spark = None

    def describe(self) -> dict:
        import numpy
        import pyarrow
        import pyspark

        return {
            "nproc": self.nproc,
            "ram_gb": round(self.ram_gb, 1),
            "master": self.master,
            "driver_heap": f"{self.heap_gb}g",
            "load_threads": 1,
            "python": sys.version.split()[0],
            "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "numpy": numpy.__version__,
        }

    def start_spark(self):
        """Start the engine's session (``session.get_spark``) with every
        temporary path inside the work dir; runs one trivial job so the
        scheduler is up. Returns the session."""
        tmp = os.path.join(self.work, "tmp")
        local = os.path.join(self.work, "spark-local")
        for d in (tmp, local):
            os.makedirs(d, exist_ok=True)
        pp = os.environ.get("PYTHONPATH")
        os.environ.update(
            SPARK_GRAFT_CPUS=str(self.nproc),
            SPARK_GRAFT_DRIVER_MEM=f"{self.heap_gb}g",
            SPARK_LOCAL_DIRS=local,
            TMPDIR=tmp,
            # Python workers import the engine from this checkout
            PYTHONPATH=ROOT + (os.pathsep + pp if pp else ""),
            # HotSpot writes its perf-data file under /tmp whatever
            # java.io.tmpdir says; the launcher JVM too
            SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        )
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR

        from d6tstack_spark.session import get_spark

        self.spark = get_spark(
            app_name="perfbench",
            master=self.master,
            shuffle_partitions=2 * self.nproc,
            extra_conf={
                "spark.local.dir": local,
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                # the whole heap is resident from the start, so peak RSS
                # does not depend on when the collector grows the heap
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                    f" -Xms{self.heap_gb}g -XX:+AlwaysPreTouch"
                ),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.range(self.nproc).count()
        return self.spark

    def stop_spark(self) -> None:
        """Stop the session and wait for the JVM process to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        proc = getattr(gw, "proc", None) if gw is not None else None
        if proc is None:
            return
        gw.shutdown()
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------


def tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes of ``root_pid`` and all its descendants. Of the JVM's
    children only the Python worker daemon is counted: the others are
    short-lived helpers, and between fork and exec such a child reports the
    JVM's own pages a second time."""
    children = defaultdict(list)
    rss, comm = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                s = f.read()
        except OSError:
            continue
        close = s.rfind(b")")
        fields = s[close + 2 :].split()
        pid = int(d)
        comm[pid] = s[s.find(b"(") + 1 : close]
        children[int(fields[1])].append(pid)
        rss[pid] = int(fields[21])
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(
            c for c in children.get(pid, ())
            if comm.get(pid) != b"java" or comm.get(c, b"").startswith(b"python")
        )
    return total * os.sysconf("SC_PAGE_SIZE")


class RssSampler:
    """Samples the process tree's resident memory on a background thread."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(pid))
            if self._stop.wait(self.period_s):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# ---------------------------------------------------------------------------
# Spark accounting
# ---------------------------------------------------------------------------


def _seq_ints(seq) -> list[int]:
    s = str(seq.mkString(","))
    return [int(x) for x in s.split(",") if x]


class SparkAccounting:
    """Jobs, stages and task time of one operation, from the status store.

    ``begin`` tags every job the calling thread submits with a fresh job
    group; ``collect`` waits until the listener has recorded the group's
    jobs as finished and sums their stages."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.seq = 0

    def begin(self, label: str) -> str:
        group = f"perfbench-{self.seq}"
        self.seq += 1
        self.sc.setJobGroup(group, label)
        return group

    def end(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def collect(self, group: str, t0: float, t1: float) -> dict:
        """Accounting for the jobs of ``group``; ``t0``/``t1`` are the
        operation's epoch-second bounds."""
        ids = sorted(self.sc.statusTracker().getJobIdsForGroup(group))
        deadline = time.time() + 10
        intervals, stages = [], set()
        out = {
            "jobs": len(ids), "stages": 0, "tasks": 0, "task_run_s": 0.0,
            "task_cpu_s": 0.0, "shuffle_bytes": 0, "jobs_inside": True,
        }
        for j in ids:
            jd = self.store.job(j)
            while not jd.completionTime().isDefined() and time.time() < deadline:
                time.sleep(0.02)
                jd = self.store.job(j)
            start = jd.submissionTime().get().getTime() / 1000.0
            end = (
                jd.completionTime().get().getTime() / 1000.0
                if jd.completionTime().isDefined()
                else t1
            )
            # JVM and Python read the same clock at millisecond resolution
            if start < t0 - 0.02 or end > t1 + 0.02:
                out["jobs_inside"] = False
            intervals.append((max(start, t0), min(end, t1)))
            stages.update(_seq_ints(jd.stageIds()))
        for s in sorted(stages):
            try:
                sd = self.store.lastStageAttempt(s)
            except Exception:  # noqa: BLE001 - stage never submitted
                continue
            if str(sd.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += int(sd.numTasks())
            out["task_run_s"] += sd.executorRunTime() / 1000.0
            out["task_cpu_s"] += sd.executorCpuTime() / 1e9
            out["shuffle_bytes"] += int(sd.shuffleReadBytes()) + int(
                sd.shuffleWriteBytes()
            )
        out["job_s"] = _union_length(intervals)
        out["driver_s"] = (t1 - t0) - out["job_s"]
        return out

    def persisted(self) -> tuple[int, int]:
        """(persisted RDD count, their stored bytes in memory + disk)."""
        n = int(self.sc._jsc.sc().getPersistentRDDs().size())
        rdds = self.store.rddList(True)
        size = 0
        for i in range(int(rdds.size())):
            r = rdds.apply(i)
            size += int(r.memoryUsed()) + int(r.diskUsed())
        return n, size


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Spans:
    """Accumulated wall time of calls into wrapped engine functions."""

    def __init__(self):
        self.total = defaultdict(float)
        self.calls = defaultdict(int)
        self._undo = []

    def wrap(self, module, name: str, label: str) -> None:
        orig = getattr(module, name)

        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                self.total[label] += time.perf_counter() - t0
                self.calls[label] += 1

        setattr(module, name, timed)
        self._undo.append((module, name, orig))

    def unwrap(self) -> None:
        for module, name, orig in reversed(self._undo):
            setattr(module, name, orig)
        self._undo.clear()


# ---------------------------------------------------------------------------
# input pins
# ---------------------------------------------------------------------------


def table_digest(tbl) -> str:
    """SHA-256 of an Arrow table's IPC stream bytes."""
    import pyarrow as pa

    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, tbl.schema) as w:
        w.write_table(tbl)
    return hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()


def file_digest(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def dir_bytes(path: str, suffix: str = ".parquet") -> int:
    total = 0
    for dp, _, names in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(dp, n)) for n in names if n.endswith(suffix)
        )
    return total
