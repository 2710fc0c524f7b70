"""Spans around calls into the program's layers, and Spark's own
counters attributed to them.

A span records name, start, end, parent and trace id in memory.  When
tracing is on, each span also tags the Spark jobs it launches with
``setJobGroup(span_id)``; after the session stops, ``fold_event_log``
reads Spark's event log and sums each job group's task counters, so
every span gets the task time, GC, shuffle, spill and Python-worker
figures of exactly the jobs it caused.  With tracing off
a span only reads the clock.
"""

from __future__ import annotations

import gc
import json
import os
import time
import uuid
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# Spark SQL metric names (task accumulables) -> counter name, scale
_SQL_METRICS = {
    "time to run Python workers": ("python_run_s", 1e-3),
    "time to start Python workers": ("python_boot_s", 1e-3),
    "time to initialize Python workers": ("python_boot_s", 1e-3),
    "data sent to Python workers": ("python_sent_bytes", 1),
    "data returned from Python workers": ("python_received_bytes", 1),
}
# counters every traced layer reports
SPAN_COUNTERS = ("task_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
COUNTERS = (*SPAN_COUNTERS, "python_run_s", "python_boot_s", "python_sent_bytes",
            "python_received_bytes")


@dataclass
class Span:
    name: str
    span_id: str
    parent: str | None
    trace_id: str
    start: float
    end: float = 0.0
    wall_start: float = field(default_factory=time.time)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder for one benchmark run."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.trace_id = uuid.uuid4().hex[:16]
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None

    def bind(self, spark) -> None:
        """Tag jobs of this SparkSession from now on."""
        self._sc = spark.sparkContext

    def _tag(self, span: Span | None) -> None:
        if not (self.enabled and self._sc is not None):
            return
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(span.span_id, span.name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, f"{self.trace_id}-{len(self.spans)}",
                 parent.span_id if parent else None, self.trace_id, time.monotonic())
        if self.enabled:
            self.spans.append(s)
        self._stack.append(s)
        self._tag(s)
        try:
            yield s
        finally:
            s.end = time.monotonic()
            self._stack.pop()
            self._tag(parent)

    def self_times(self) -> dict[str, float]:
        """Sum per span name of duration minus the children's durations."""
        child = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + s.dur
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + s.dur - child.get(s.span_id, 0.0)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**asdict(s), "dur": s.dur}) + "\n")


# ---------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------


@dataclass
class GroupStats:
    """Spark's counters for the jobs of one job group (one span)."""

    jobs: int = 0
    counters: dict[str, float] = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0.0))
    # (submission epoch s, sql execution id) per job
    job_list: list[tuple[float, int | None]] = field(default_factory=list)


def _task_counters(ev: dict) -> dict[str, float]:
    m = ev.get("Task Metrics") or {}
    rd = m.get("Shuffle Read Metrics", {})
    out = {
        "task_s": m.get("Executor Run Time", 0) / 1e3,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "shuffle_read_bytes": rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
        "shuffle_write_bytes": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
    }
    for acc in ev.get("Task Info", {}).get("Accumulables", []):
        hit = _SQL_METRICS.get(acc.get("Name"))
        if hit and acc.get("Update") is not None:
            key, scale = hit
            out[key] = out.get(key, 0.0) + float(acc["Update"]) * scale
    return out


def fold_event_log(log_dir: str) -> tuple[dict[str, GroupStats], dict[int, dict]]:
    """Fold every event log under ``log_dir`` into per-job-group stats.

    Returns (stats by job group id, SQL executions by id of the LAST
    log file: {"start", "end", "plan"} in epoch seconds)."""
    groups: dict[str, GroupStats] = {}
    executions: dict[int, dict] = {}
    for fn in sorted(os.listdir(log_dir)):
        stage_group: dict[int, str] = {}
        executions = {}
        with open(os.path.join(log_dir, fn)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    gid = props.get("spark.jobGroup.id")
                    if gid is None:
                        continue
                    g = groups.setdefault(gid, GroupStats())
                    g.jobs += 1
                    exec_id = props.get("spark.sql.execution.id")
                    g.job_list.append((ev["Submission Time"] / 1e3,
                                       None if exec_id is None else int(exec_id)))
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, gid)
                elif kind == "SparkListenerTaskEnd":
                    gid = stage_group.get(ev.get("Stage ID"))
                    if gid is None:
                        continue
                    acc = groups[gid].counters
                    for k, v in _task_counters(ev).items():
                        acc[k] += v
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    executions[ev["executionId"]] = {
                        "start": ev["time"] / 1e3, "end": None,
                        "plan": ev.get("physicalPlanDescription", ""),
                    }
                elif kind.endswith("SparkListenerSQLExecutionEnd"):
                    if ev["executionId"] in executions:
                        executions[ev["executionId"]]["end"] = ev["time"] / 1e3
    return groups, executions


# ---------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------


def _children(pid: int) -> list[int]:
    out = []
    for task in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{task}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def memory_mb(spark, jvm_pid: int) -> dict[str, float]:
    """Memory of the session's driver JVM and its Python workers, in MB.

    ``jvm_peak_rss`` and ``python_workers_peak_rss`` are VmHWM from
    ``/proc`` (the workers summed over every process below the JVM);
    ``jvm_heap_peak`` sums the peak usage of the JVM's heap pools.  Both
    JVM peaks follow how far the collector let the heap grow, so they
    vary by tens of percent between runs of the same code.  Then the
    garbage is collected (Python first, which releases the JVM objects
    its proxies held; then the JVM, several times, with pauses for
    Spark's cleaner to drop the blocks of unreachable broadcasts and
    shuffles)
    and ``jvm_heap_retained`` and ``jvm_non_heap`` read what the JVM
    still holds: the live heap, and metaspace plus code cache.
    ``footprint`` is those two plus the workers' peak RSS."""
    below, todo, seen = 0, _children(jvm_pid), {jvm_pid}
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        below += _hwm_kb(pid)
        try:
            todo.extend(_children(pid))
        except OSError:
            pass
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    out = {
        "jvm_peak_rss": _hwm_kb(jvm_pid) / 1024.0,
        "python_workers_peak_rss": below / 1024.0,
        "jvm_heap_peak": sum(p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
                             if p.getType().toString() == "Heap memory") / 2**20,
    }
    mx = mf.getMemoryMXBean()
    for _ in range(4):
        gc.collect()
        jvm.System.gc()
        time.sleep(0.5)
    out["jvm_heap_retained"] = mx.getHeapMemoryUsage().getUsed() / 2**20
    out["jvm_non_heap"] = mx.getNonHeapMemoryUsage().getUsed() / 2**20
    out["footprint"] = (out["jvm_heap_retained"] + out["jvm_non_heap"]
                        + out["python_workers_peak_rss"])
    return out
