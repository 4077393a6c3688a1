"""Counters the benchmark reads around the program: JVM JIT/GC time from
JMX, process CPU and peak memory from ``/proc``, and Spark stage metrics
from the driver's status store. Nothing here changes what Spark runs."""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

CLK_TCK = os.sysconf("SC_CLK_TCK")
MB = 1024 * 1024


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``."""
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def python_workers(jvm_pid: int) -> list[int]:
    """The JVM's Python worker processes. Other children are short-lived
    helpers (Hadoop's shell calls); while one is between fork and exec it
    shares the JVM's memory, and counting it would count the JVM twice."""
    out = []
    for p in descendants(jvm_pid):
        try:
            with open(f"/proc/{p}/comm") as fh:
                if fh.read().startswith("python"):
                    out.append(p)
        except OSError:
            pass
    return out


def cpu_s(pid: int, reaped: bool = False) -> float:
    """User+system CPU seconds of ``pid``; with ``reaped``, plus that of
    its children that already exited and were waited for."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            f = fh.read()
    except OSError:
        return 0.0
    f = f[f.rindex(")") + 2 :].split()
    ticks = int(f[11]) + int(f[12]) + ((int(f[13]) + int(f[14])) if reaped else 0)
    return ticks / CLK_TCK


def pss_mb(pid: int) -> float:
    """Proportional set size of ``pid`` in MiB (shared pages split among
    the processes that map them), 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def filesystem_of(path: str) -> str:
    """Type and mount options of the filesystem holding ``path``."""
    best = ("", "?", "")
    with open("/proc/mounts") as fh:
        for line in fh:
            _, mnt, fstype, opts = line.split()[:4]
            if os.path.realpath(path).startswith(mnt.rstrip("/") + "/") and len(mnt) > len(best[0]):
                best = (mnt, fstype, opts)
    return f"{best[1]} ({best[2]})"


def peak_rss_mb(pid: int) -> float:
    """Peak resident set size of ``pid`` in MiB (``VmHWM``), 0 if it is
    gone. The kernel keeps it, so reading it costs nothing during a run."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class MemorySampler:
    """Samples the summed PSS of the JVM's Python workers every
    ``INTERVAL_S`` on a daemon thread and keeps the peak. PSS, not RSS, so
    the forked workers' shared pages count once. The worker pids are
    re-listed only every ``RELIST`` samples, since a scan of ``/proc``
    competes with the timed passes for CPU."""

    INTERVAL_S = 1.0
    RELIST = 5

    def __init__(self, pid: int):
        self.pid = pid
        self.workers_peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        n, pids = 0, []
        while not self._stop.wait(self.INTERVAL_S):
            if n % self.RELIST == 0:
                pids = python_workers(self.pid)
            n += 1
            self.workers_peak_mb = max(self.workers_peak_mb, sum(pss_mb(p) for p in pids))

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class Jvm:
    """The driver JVM of a SparkSession, seen through JMX and ``/proc``."""

    def __init__(self, spark):
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._comp = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self.pid = int(mf.getRuntimeMXBean().getPid())
        self.version = str(mf.getRuntimeMXBean().getVmVersion())

    def snapshot(self) -> dict:
        """Cumulative JIT, GC and CPU seconds of the JVM, and CPU seconds
        of its Python workers (live ones plus those already reaped)."""
        workers = python_workers(self.pid)
        return {
            "jit_s": self._comp.getTotalCompilationTime() / 1000,
            "gc_s": sum(g.getCollectionTime() for g in self._gcs) / 1000,
            "cpu_s": cpu_s(self.pid),
            "py_cpu_s": sum(cpu_s(p, reaped=True) for p in workers),
        }


def delta(after: dict, before: dict) -> dict:
    return {k: after[k] - before[k] for k in after}


class StageCounters:
    """Stage metrics of the jobs run under one job group, read from the
    status store (works with ``spark.ui.enabled=false``)."""

    FIELDS = ("jobs", "stages", "exec_run_s", "exec_cpu_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb")

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()

    def read(self, group: str, timeout_s: float = 30.0) -> dict:
        """Sum the stage metrics of ``group``'s jobs once the listener bus
        has delivered their completion events."""
        tracker = self._sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        deadline = time.monotonic() + timeout_s
        while True:
            infos = [tracker.getJobInfo(j) for j in job_ids]
            if all(i is not None and i.status in ("SUCCEEDED", "FAILED") for i in infos):
                break
            if time.monotonic() > deadline:
                raise TimeoutError(f"jobs of {group!r} not finished in the status store")
            time.sleep(0.02)
        stage_ids = sorted({s for i in infos for s in i.stageIds})
        out = dict.fromkeys(self.FIELDS, 0.0)
        out["jobs"], out["stages"] = len(job_ids), 0
        for sid in stage_ids:
            for st in self._stage_attempts(sid):
                if str(st.status()) != "COMPLETE":
                    continue
                out["stages"] += 1
                out["exec_run_s"] += st.executorRunTime() / 1000
                out["exec_cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_read_mb"] += (st.shuffleRemoteBytesRead() + st.shuffleLocalBytesRead()) / MB
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
                out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
        return out

    def _stage_attempts(self, sid: int) -> list:
        no_quantiles = self._sc._gateway.new_array(self._sc._gateway.jvm.double, 0)
        try:
            seq = self._store.stageData(sid, False, None, False, no_quantiles)
        except Py4JJavaError:  # NoSuchElementException: the stage was skipped, never submitted
            return []
        return [seq.apply(i) for i in range(seq.size())]


class Span:
    """One call into a layer: name, parent span, run id, start and end
    (``time.monotonic``), its self time (its wall minus the time its child
    spans cover), the JVM counters' change over it and the stage counters
    of its job group."""

    def __init__(self, name: str, parent: str | None, run_id: str):
        self.name, self.parent, self.run_id = name, parent, run_id
        self.group = ""
        self.start = self.end = self.wall = self.child_s = 0.0
        self.jvm: dict = {}
        self.counters: dict = {}

    def record(self) -> dict:
        return {
            "name": self.name, "parent": self.parent, "run_id": self.run_id,
            "start": self.start, "end": self.end, "self_s": self.wall - self.child_s,
            "jvm": self.jvm, "counters": self.counters,
        }


class Tracer:
    """Spans around the benchmark's calls into the program's layers. Each
    span runs its Spark jobs under its own job group, so the stage metrics
    read back from the status store belong to that span alone. Spans stay
    in memory until ``records`` is written out at the end of the run."""

    def __init__(self, spark, jvm: Jvm, run_id: str):
        self._sc, self._jvm, self.run_id = spark.sparkContext, jvm, run_id
        self._counters = StageCounters(spark)
        self._stack: list[Span] = []
        self._seq = 0
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str):
        s = Span(name, self._stack[-1].name if self._stack else None, self.run_id)
        self._seq += 1
        s.group = f"{self.run_id}/{self._seq}/{name}"
        self._stack.append(s)
        self._sc.setJobGroup(s.group, name)
        before = self._jvm.snapshot()
        s.start = time.monotonic()
        try:
            yield s
        finally:
            s.end = time.monotonic()
            s.wall = s.end - s.start
            s.jvm = delta(self._jvm.snapshot(), before)
            self._stack.pop()
            if self._stack:
                self._stack[-1].child_s += s.wall
                self._sc.setJobGroup(self._stack[-1].group, self._stack[-1].name)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            s.counters = self._counters.read(s.group)
            self.spans.append(s)

    def total(self, prefix: str) -> float:
        """Summed self time of the spans whose name starts with ``prefix``."""
        return sum(s.wall - s.child_s for s in self.spans if s.name.startswith(prefix))

    def layer_counters(self, layer: str) -> dict:
        """Stage counters summed over the spans of one layer (the span
        name's first component)."""
        out = dict.fromkeys(StageCounters.FIELDS, 0.0)
        for s in self.spans:
            if s.name.split(".")[0] == layer:
                for k, v in s.counters.items():
                    out[k] += v
        return out

    def records(self) -> list[dict]:
        return [s.record() for s in self.spans]
