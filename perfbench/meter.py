"""Outside-in accounting: spans, Spark status counts and /proc CPU and memory.

Nothing here reaches into ``heparchy_spark``. The benchmark wraps its own
calls into the library in :meth:`Tracer.span`; each span gets its own Spark
job group, so the public ``statusTracker`` can attribute jobs, stages and
tasks to it, and the CPU of the Spark JVM and its Python workers is read
from ``/proc`` before and after the call (``psutil`` is not available).

A disabled tracer records nothing and touches neither Spark nor ``/proc``;
end-to-end metrics are measured with tracing disabled.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, str, float]]:
    """pid -> (ppid, comm, utime+stime+cutime+cstime in seconds)."""
    out: dict[int, tuple[int, str, float]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we were listing
            continue
        # comm sits in parentheses and may itself contain spaces or ')'
        comm = stat[stat.index("(") + 1 : stat.rindex(")")]
        rest = stat[stat.rindex(")") + 2 :].split()
        ticks = sum(int(rest[i]) for i in (11, 12, 13, 14))
        out[int(entry)] = (int(rest[1]), comm, ticks / _CLK_TCK)
    return out


def descendants() -> dict[int, tuple[str, float]]:
    """pid -> (comm, cpu seconds) for every process below this one."""
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    todo = list(kids.get(os.getpid(), ()))
    out: dict[int, tuple[str, float]] = {}
    while todo:
        pid = todo.pop()
        out[pid] = table[pid][1:]
        todo.extend(kids.get(pid, ()))
    return out


def running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie waiting to be reaped."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


@dataclass(frozen=True)
class Cpu:
    """CPU seconds of the Spark JVM and of every other descendant process,
    which in local mode are the PySpark daemon and its Python workers."""

    jvm: float = 0.0
    py: float = 0.0

    def __sub__(self, other: "Cpu") -> "Cpu":
        return Cpu(self.jvm - other.jvm, self.py - other.py)


def cpu_now() -> Cpu:
    jvm = py = 0.0
    for comm, secs in descendants().values():
        if comm == "java":
            jvm += secs
        else:
            py += secs
    return Cpu(jvm, py)


def jvm_pid() -> int | None:
    for pid, (comm, _) in descendants().items():
        if comm == "java":
            return pid
    return None


def jvm_peak_rss_mb() -> float:
    """Peak resident set (``VmHWM``) of the Spark JVM, in MB."""
    pid = jvm_pid()
    if pid is None:
        raise RuntimeError("no Spark JVM below this process")
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"/proc/{pid}/status has no VmHWM")


@dataclass(frozen=True)
class Ticks:
    """Machine-wide CPU ticks from ``/proc/stat``: all, and stolen by the
    hypervisor for other guests."""

    total: int
    steal: int

    def __sub__(self, other: "Ticks") -> "Ticks":
        return Ticks(self.total - other.total, self.steal - other.steal)

    @property
    def share(self) -> float:
        return self.steal / self.total if self.total else 0.0


def steal_ticks() -> Ticks:
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    return Ticks(sum(fields[:8]), fields[7])


@dataclass
class Counts:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    single_task_stages: int = 0

    def __iadd__(self, other: "Counts") -> "Counts":
        self.jobs += other.jobs
        self.stages += other.stages
        self.tasks += other.tasks
        self.single_task_stages += other.single_task_stages
        return self


def group_counts(sc, group: str) -> Counts:
    """Jobs, executed stages and completed tasks of one job group.

    Stages a job skipped (shuffle output reused) have no completed task
    and are not counted."""
    tracker = sc.statusTracker()
    c = Counts()
    for job in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job)
        if info is None:
            continue
        c.jobs += 1
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is None or st.numCompletedTasks == 0:
                continue
            c.stages += 1
            c.tasks += st.numCompletedTasks
            c.single_task_stages += st.numTasks == 1
    return c


@dataclass
class Span:
    id: int
    parent: int | None
    op: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    counts: Counts = field(default_factory=Counts)
    cpu: Cpu = field(default_factory=Cpu)
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start

    def to_json(self) -> dict:
        return {
            "id": self.id,
            "parent": self.parent,
            "op": self.op,
            "name": self.name,
            "layer": self.layer,
            "start": self.start,
            "end": self.end,
            "jobs": self.counts.jobs,
            "stages": self.counts.stages,
            "tasks": self.counts.tasks,
            "single_task_stages": self.counts.single_task_stages,
            "jvm_cpu_s": self.cpu.jvm,
            "pyworker_cpu_s": self.cpu.py,
            **self.attrs,
        }


class Tracer:
    """Span recorder. Spans nest: workload, pass, operation, then the
    builder call or action inside it. A span opened with ``op=True`` starts
    a new operation id that its child spans share.

    ``counts`` of a span are its own jobs only: a child span sets its own
    job group, so jobs it launches are not counted again in the parent.
    ``cpu`` is inclusive of children."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ops = 0
        self._sc = None

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, layer: str, *, op: bool = False, light: bool = False):
        """Record one span. A ``light`` span keeps only its times: it sets
        no job group, so its jobs count in the parent, and it reads no CPU;
        it is for calls made thousands of times per pass."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op or parent is None:
            self._ops += 1
        s = Span(
            id=len(self.spans),
            parent=parent.id if parent else None,
            op=self._ops if op or parent is None else parent.op,
            name=name,
            layer=layer,
            start=time.perf_counter(),
        )
        self.spans.append(s)
        if light:
            try:
                yield s
            finally:
                s.end = time.perf_counter()
            return
        self._stack.append(s)
        self._set_group(s)
        cpu0 = cpu_now()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.cpu = cpu_now() - cpu0
            if self._sc is not None:
                s.counts = group_counts(self._sc, self._group(s))
            self._stack.pop()
            self._set_group(parent)

    @staticmethod
    def _group(s: Span) -> str:
        return f"perfbench-span-{s.id}"

    def _set_group(self, s: Span | None) -> None:
        if self._sc is None:
            return
        self._sc.setLocalProperty("spark.jobGroup.id", self._group(s) if s else None)
        self._sc.setLocalProperty("spark.job.description", s.name if s else None)

    def below(self, root: Span) -> list[Span]:
        """``root`` and every span nested under it."""
        ids = {root.id}
        out = [root]
        for s in self.spans[root.id + 1 :]:
            if s.parent in ids:
                ids.add(s.id)
                out.append(s)
        return out


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0

