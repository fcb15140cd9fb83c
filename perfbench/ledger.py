"""Measurement helpers: the per-layer ledger read from Spark's event
log, driver codegen and heap counters, the timed inference backend,
and the peak-RSS sampler.

The ledger is built from outside the program. Each layer call runs
under its own ``setJobGroup`` tag, and after the session stops the
uncompressed JSON event log is folded per tag with the standard
library alone.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time


# ---- event log ------------------------------------------------------

def eventlog_conf(log_dir: str) -> dict[str, str]:
    """Session settings for a ledger the standard library can read:
    Spark 4 compresses event logs with zstd by default."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _skew(tasks: list[dict]) -> float:
    """max / median task time of one stage."""
    durs = [t["dur"] for t in tasks]
    med = statistics.median(durs)
    return max(durs) / med if med > 0 else 1.0


def read_eventlog(log_dir: str) -> dict[str, dict]:
    """Fold the single event log in ``log_dir`` into per-job-group
    totals: jobs, tasks, task CPU, run time, GC, shuffle bytes written,
    disk spill, and max/median task time of the group's heaviest
    stage. Call after the session has stopped (the log is flushed on
    stop)."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*"))
             if not p.endswith(".inprogress")]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}: {paths}")
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = {}
    stage_tasks: dict[int, list[dict]] = {}
    with open(paths[0], encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(
                    "spark.jobGroup.id") or "untagged"
                jobs[group] = jobs.get(group, 0) + 1
                for sid in ev.get("Stage IDs", ()):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                stage_tasks.setdefault(ev["Stage ID"], []).append({
                    "dur": (info["Finish Time"] - info["Launch Time"]) / 1e3,
                    "run": m.get("Executor Run Time", 0) / 1e3,
                    "cpu": m.get("Executor CPU Time", 0) / 1e9,
                    "gc": m.get("JVM GC Time", 0) / 1e3,
                    "spill": m.get("Disk Bytes Spilled", 0),
                    "shuffle": (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0),
                })
    out: dict[str, dict] = {}
    for group, n in jobs.items():
        out[group] = {"jobs": n, "tasks": 0, "task_cpu_s": 0.0,
                      "task_run_s": 0.0, "gc_s": 0.0, "spill_bytes": 0,
                      "shuffle_bytes": 0, "task_skew": 1.0,
                      "heaviest_stage_run_s": 0.0}
    for sid, tasks in stage_tasks.items():
        g = out.get(stage_group.get(sid, "untagged"))
        if g is None:
            continue
        g["tasks"] += len(tasks)
        for key, field in (("task_cpu_s", "cpu"), ("task_run_s", "run"),
                           ("gc_s", "gc"), ("spill_bytes", "spill"),
                           ("shuffle_bytes", "shuffle")):
            g[key] += sum(t[field] for t in tasks)
        stage_run = sum(t["run"] for t in tasks)
        if stage_run > g["heaviest_stage_run_s"]:
            g["heaviest_stage_run_s"] = stage_run
            g["task_skew"] = _skew(tasks)
    return out


# ---- driver codegen counters ---------------------------------------

class CodegenCounter:
    """Deltas of Spark's whole-stage codegen compile histogram, read
    through py4j. The histogram keeps a bounded sample, so the compile
    time is count x mean, exact while fewer than ~1000 classes have
    been compiled in the session."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        self._hist = (jvm.org.apache.spark.metrics.source.CodegenMetrics
                      .METRIC_COMPILATION_TIME())
        self._start = self._read()

    def _read(self) -> tuple[int, float]:
        n = self._hist.getCount()
        mean_ms = self._hist.getSnapshot().getMean() if n else 0.0
        return n, n * mean_ms / 1e3

    def delta(self) -> tuple[int, float]:
        n, s = self._read()
        return n - self._start[0], s - self._start[1]


def jit_compile_s(spark) -> float:
    """Seconds the driver JVM's JIT compiler threads have spent
    compiling since it started (``CompilationMXBean``, via py4j)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return mf.getCompilationMXBean().getTotalCompilationTime() / 1e3


class HeapPeak:
    """Peak use of the driver JVM's heap from construction on: the
    heap pools' peak counters (``MemoryPoolMXBean``), reset at start
    and summed, read through py4j. The driver heap is committed in
    full at session start, so process RSS cannot show this."""

    def __init__(self, spark):
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        heap = spark.sparkContext._jvm.java.lang.management.MemoryType.HEAP
        self._pools = [p for p in mf.getMemoryPoolMXBeans()
                       if p.getType() == heap]
        for p in self._pools:
            p.resetPeakUsage()

    def peak_mb(self) -> float:
        return sum(p.getPeakUsage().getUsed()
                   for p in self._pools) / 2 ** 20


# ---- timed inference backend ---------------------------------------

class TimedBackend:
    """Wraps a completion backend and reports through accumulators:
    seconds inside ``generate``, calls, and calls that raised. Used
    twice in the traced build: outside ``RetryingBackend`` for time and
    calls, inside it to count the errors the retries absorb."""

    def __init__(self, inner, seconds=None, calls=None, errors=None):
        self.inner, self._s, self._n, self._e = inner, seconds, calls, errors

    def generate(self, prompts: list[str]) -> list[str]:
        t0 = time.perf_counter()
        try:
            return self.inner.generate(prompts)
        except Exception:
            if self._e is not None:
                self._e.add(1)
            raise
        finally:
            if self._s is not None:
                self._s.add(time.perf_counter() - t0)
            if self._n is not None:
                self._n.add(1)


def timed_backend_factory(spark, vocab_scale: int):
    """(factory, accumulators) for the traced build: the same backend
    ``build_pipeline`` constructs for ``vocab_scale > 1``, instrumented."""
    from promptner_spark.operators.gazetteer import scaled_gazetteer
    from promptner_spark.operators.model import (GazetteerBackend,
                                                 RetryingBackend)
    sc = spark.sparkContext
    accs = {"backend_s": sc.accumulator(0.0), "backend_calls": sc.accumulator(0),
            "backend_errors": sc.accumulator(0)}
    gaz = scaled_gazetteer(vocab_scale)
    s, n, e = accs["backend_s"], accs["backend_calls"], accs["backend_errors"]

    def factory():
        inner = TimedBackend(GazetteerBackend(gaz), errors=e)
        return TimedBackend(RetryingBackend(inner), seconds=s, calls=n)
    return factory, accs


# ---- peak RSS of this process tree ----------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _tree(root: int):
    """``(pid, parent)`` for ``root`` and every live descendant."""
    kids, todo = _children(), [(root, None)]
    while todo:
        pid, parent = todo.pop()
        yield pid, parent
        todo.extend((k, pid) for k in kids.get(pid, ()))


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm", encoding="ascii") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def tree_rss_mb(root: int) -> tuple[float, float]:
    """Resident MB of ``root`` and its descendants, and of the Python
    descendants alone (the Spark Python workers). A JVM child that has
    forked but not yet exec'd still maps the JVM's pages and would
    count the heap twice, so it is skipped."""
    total = workers = 0
    comm: dict[int, str] = {}
    for pid, parent in _tree(root):
        comm[pid] = _comm(pid)
        if comm[pid] == "java" and comm.get(parent) == "java":
            continue
        kb = _rss_kb(pid)
        total += kb
        if pid != root and comm[pid].startswith("python"):
            workers += kb
    return total / 1024, workers / 1024


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, with reaped children) of ``root``
    and every live descendant."""
    total = 0
    for pid, _ in _tree(root):
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])
        except (OSError, ValueError, IndexError):
            pass
    return total / os.sysconf("SC_CLK_TCK")


def host_steal_s() -> float:
    """CPU seconds the hypervisor has run other guests on this host's
    CPUs (the ``steal`` column of ``/proc/stat``, summed over CPUs): a
    measure of how busy the shared machine was during an operation."""
    with open("/proc/stat", encoding="ascii") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


class PeakRss:
    """Samples the resident set of this process and every descendant
    (the driver JVM and its Python workers) until stopped; keeps the
    peak of the whole tree and of the Python workers alone."""

    def __init__(self, interval_s: float = 0.2):
        self.peak_mb = 0.0
        self.workers_peak_mb = 0.0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total, workers = tree_rss_mb(me)
            self.peak_mb = max(self.peak_mb, total)
            self.workers_peak_mb = max(self.workers_peak_mb, workers)
            self._stop.wait(self._interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
