"""Measurement helpers: steal-corrected elapsed time, and for the traced
run per-process CPU and peak RSS from /proc, per-operation Spark
counters from the Spark driver's status store, and in-memory spans with
per-layer self time.

Of the traced-run helpers, an untraced benchmark run uses only
`ProcessTree.peak_rss_mb`, once after the timed phase.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def mark() -> tuple[float, int, int]:
    """A point in time: monotonic seconds, then the machine's busy and
    stolen CPU ticks so far (all CPUs, from /proc/stat). Stolen ticks
    count time a vCPU was ready to run while the hypervisor ran another
    guest."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = map(
            int, f.readline().split()[1:9]
        )
    return time.monotonic(), user + nice + system + irq + softirq, steal


def steal_share(a: tuple, b: tuple) -> float:
    """The share of the CPU time the machine wanted between two marks
    that the hypervisor gave to another guest."""
    busy, stolen = b[1] - a[1], b[2] - a[2]
    return stolen / (busy + stolen) if busy + stolen > 0 else 0.0


def elapsed(a: tuple, b: tuple) -> float:
    """Wall seconds between two marks with the stolen share taken out:
    the time the interval would have taken on vCPUs of its own. On a
    machine without steal accounting this is the wall time."""
    return (b[0] - a[0]) * (1.0 - steal_share(a, b))


class ProcessTree:
    """The benchmark worker and every process below it, split by role:
    `driver` (the Python process that runs the queries), `jvm` (the
    Spark JVM, whose executor threads run the tasks in local mode) and
    `pyworker` (the Python UDF daemon and its forked workers)."""

    def __init__(self, root_pid: int | None = None):
        self.root = root_pid or os.getpid()

    def _children(self) -> dict[int, list[int]]:
        kids: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
            kids.setdefault(ppid, []).append(int(name))
        return kids

    def _role(self, pid: int) -> str | None:
        if pid == self.root:
            return "driver"
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ")
        except OSError:
            return None
        if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd or b"pyspark/worker" in cmd:
            return "pyworker"
        if b"java" in cmd.split(b" ", 1)[0]:
            return "jvm"
        return None

    def processes(self) -> list[tuple[int, str]]:
        kids, out, todo = self._children(), [], [self.root]
        while todo:
            pid = todo.pop()
            role = self._role(pid)
            if role:
                out.append((pid, role))
            todo.extend(kids.get(pid, ()))
        return out

    def cpu_by_role(self) -> dict[str, float]:
        """CPU seconds so far per role. The UDF daemon's reaped children
        are included through its cutime/cstime."""
        total = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
        for pid, role in self.processes():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            ticks = int(fields[11]) + int(fields[12])  # utime + stime
            if role == "pyworker":
                ticks += int(fields[13]) + int(fields[14])  # cutime + cstime
            total[role] += ticks / _CLK_TCK
        return total

    def peak_rss_mb(self) -> dict[str, float]:
        """VmHWM of the Python driver, JVM and UDF worker processes, in MB,
        summed per role."""
        kb = {"driver": 0, "jvm": 0, "pyworker": 0}
        for pid, role in self.processes():
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            kb[role] += int(line.split()[1])
            except OSError:
                continue
        return {role: v / 1024.0 for role, v in kb.items()}


def jvm_memory_mb(spark) -> dict[str, float]:
    """The JVM's live heap after a full collection, and its committed
    non-heap memory (code cache, metaspace), in MB."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return {
        "heap_live": bean.getHeapMemoryUsage().getUsed() / 2**20,
        "non_heap": bean.getNonHeapMemoryUsage().getCommitted() / 2**20,
    }


SPARK_COUNTERS = (
    "jobs", "stages", "tasks", "failed_tasks", "input_bytes", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "executor_run_s", "executor_cpu_s", "gc_s",
)


class SparkCounters:
    """Stage-level counters of the jobs one operation ran, read from the
    Spark driver's status store right after the operation, before stage
    retention can evict them. Operations are told apart by job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()
        self._no_tasks = self.sc._jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(self.sc._gateway.jvm.double, 0)

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def end(self, group: str) -> dict[str, float]:
        self._bus.waitUntilEmpty()
        tracker = self.sc.statusTracker()
        out = dict.fromkeys(SPARK_COUNTERS, 0.0)
        stage_ids: set[int] = set()
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is not None:
                out["jobs"] += 1
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            attempts = self._store.stageData(sid, False, self._no_tasks, False, self._no_quantiles)
            for i in range(attempts.size()):
                st = attempts.apply(i)
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                out["failed_tasks"] += st.numFailedTasks()
                out["input_bytes"] += st.inputBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        return out


class Tracer:
    """Spans kept in memory: name, layer, start, end and the id of the
    span that caused it. Disabled tracers record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, layer: str, start: float, end: float, parent: int | None) -> int:
        sid = len(self.spans)
        if self.enabled:
            self.spans.append(
                {"id": sid, "parent": parent, "name": name, "layer": layer,
                 "start": start, "end": end}
            )
        return sid

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        sid = self.add(name, layer, time.monotonic(), 0.0, self._stack[-1] if self._stack else None)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.monotonic()

    def self_time_by_layer(self, roots: list[int]) -> dict[str, float]:
        """Self time (duration minus the children's) of every span in the
        subtrees of `roots`, summed per layer. Children of a span never
        overlap."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        todo = [self.spans[r] for r in roots]
        while todo:
            s = todo.pop()
            children = kids.get(s["id"], [])
            covered = sum(c["end"] - c["start"] for c in children)
            out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"]) - covered
            todo.extend(children)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
