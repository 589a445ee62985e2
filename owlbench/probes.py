"""Measurement helpers: a /proc process-tree sampler, in-memory spans, and
per-layer Spark counters read from Spark's own status store."""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field

_TICKS = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1])
    return 0


def _exe(pid: int) -> str:
    return os.readlink(f"/proc/{pid}/exe")


class ProcessTree:
    """CPU seconds and resident memory of this process and every descendant
    (the Spark JVM and its Python workers).  CPU includes reaped children,
    so work of workers that exit between samples is still counted.  Python
    workers are forked from one daemon and share its pages, so their memory
    is the proportional share (PSS); the JVM shares nothing with them and is
    read as plain RSS, which is cheaper to sample.  The JVM starts short-lived
    commands (Hadoop's local file system runs ``chmod``); until such a
    child execs, it still runs the JVM's executable in the JVM's address
    space, so its memory is not counted again."""

    def __init__(self) -> None:
        self.root = os.getpid()

    def pids(self) -> list[int]:
        kids = _children()
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(kids.get(pid, []))
        return out

    def sample(self) -> tuple[float, float]:
        """(cpu seconds, resident MB) summed over the tree."""
        cpu = kb = 0
        names: dict[int, str] = {}
        for pid in self.pids():   # parents before their children
            try:
                with open(f"/proc/{pid}/stat") as f:
                    stat = f.read()
                fields = stat[stat.rindex(")") + 2:].split()
                # utime, stime, cutime, cstime; rss in pages
                cpu += sum(int(x) for x in fields[11:15])
                name = names[pid] = stat[stat.index("(") + 1:stat.rindex(")")]
                parent = int(fields[1])
                if names.get(parent) == "java" and _exe(pid) == _exe(parent):
                    continue
                kb += int(fields[21]) * _PAGE // 1024 if name == "java" else _pss_kb(pid)
            except OSError:
                continue
        return cpu / _TICKS, kb / 1024


class TreeSampler:
    """Samples the process tree on a background thread while an operation
    runs; reports its CPU seconds and peak resident MB."""

    def __init__(self, tree: ProcessTree, interval: float = 0.1) -> None:
        self.tree = tree
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.peak_mb = max(self.peak_mb, self.tree.sample()[1])

    def __enter__(self) -> "TreeSampler":
        self.cpu0, mb = self.tree.sample()
        self.peak_mb = mb
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        cpu1, mb = self.tree.sample()
        self.peak_mb = max(self.peak_mb, mb)
        self.cpu_s = cpu1 - self.cpu0


@dataclass
class Span:
    name: str
    start: float
    parent: "Span | None"
    end: float = 0.0
    children: list["Span"] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def self_seconds(self) -> float:
        return self.seconds - sum(c.seconds for c in self.children)


class Tracer:
    """Spans kept in memory around calls into each layer.  Every span also
    sets a Spark job group named after it, so the status store can be read
    per layer afterwards.  A disabled tracer records nothing."""

    def __init__(self, spark=None) -> None:
        self.spark = spark
        self.spans: list[Span] = []
        self._open: list[Span] = []

    def span(self, name: str) -> "_SpanContext":
        return _SpanContext(self, name)

    def get(self, name: str) -> Span | None:
        return next((s for s in self.spans if s.name == name), None)

    def seconds(self, name: str) -> float:
        s = self.get(name)
        return s.seconds if s else 0.0

    def rows(self) -> list[dict]:
        return [
            {
                "name": s.name,
                "parent": s.parent.name if s.parent else None,
                "start": s.start,
                "end": s.end,
                "seconds": s.seconds,
                "self_seconds": s.self_seconds,
            }
            for s in self.spans
        ]


class _SpanContext:
    def __init__(self, tracer: Tracer | None, name: str) -> None:
        self.tracer, self.name = tracer, name

    def __enter__(self) -> None:
        t = self.tracer
        if t is None:
            return
        parent = t._open[-1] if t._open else None
        s = Span(self.name, time.perf_counter(), parent)
        if parent:
            parent.children.append(s)
        t.spans.append(s)
        t._open.append(s)
        if t.spark is not None:
            t.spark.sparkContext.setJobGroup(self.name, self.name)

    def __exit__(self, *exc) -> None:
        t = self.tracer
        if t is None:
            return
        s = t._open.pop()
        s.end = time.perf_counter()
        if t.spark is not None:
            group = t._open[-1].name if t._open else None
            if group is None:
                t.spark.sparkContext._jsc.clearJobGroup()
            else:
                t.spark.sparkContext.setJobGroup(group, group)


def null_span(name: str) -> _SpanContext:
    return _SpanContext(None, name)


@dataclass
class StageTotals:
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    tasks: int = 0
    output_records: int = 0
    max_task_s: float = 0.0


def stage_totals(spark, groups: list[str], task_times: bool = False) -> StageTotals:
    """Sum Spark's per-stage metrics over every job run under ``groups``.
    Waits for the listener bus to drain first, or the latest jobs would be
    missing from the store."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    stage_ids: set[int] = set()
    for g in groups:
        for job in tracker.getJobIdsForGroup(g):
            info = tracker.getJobInfo(job)
            if info is not None:
                stage_ids.update(info.stageIds)
    out = StageTotals()
    if not stage_ids:
        return out
    gw = sc._gateway
    store = jsc.statusStore()
    stages = store.stageList(
        gw.jvm.java.util.ArrayList(), False, False,
        gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList(),
    )
    for i in range(stages.size()):
        st = stages.apply(i)
        if st.stageId() not in stage_ids:
            continue
        out.executor_cpu_s += st.executorCpuTime() / 1e9
        out.gc_s += st.jvmGcTime() / 1e3
        out.shuffle_write_mb += st.shuffleWriteBytes() / 2**20
        out.spill_mb += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
        out.tasks += st.numCompleteTasks()
        out.output_records += st.outputRecords()
        if task_times and st.numCompleteTasks():
            tasks = store.taskList(st.stageId(), st.attemptId(), st.numTasks())
            for j in range(tasks.size()):
                dur = tasks.apply(j).duration()
                if dur.isDefined():
                    out.max_task_s = max(out.max_task_s, dur.get() / 1e3)
    return out
