"""Span recorder, Spark job counters and box probes for the benchmark.

Spans are kept in memory and written out once, when the run ends.  Each
span has a name (the layer), a start, an end, its parent and the id of the
operation it belongs to.  Spans that wrap a Spark action also carry the
number of jobs, stages and tasks the action ran, read from
``sparkContext.statusTracker()`` through one job group per operation.

``Tracer(enabled=False)`` records nothing and costs one attribute check per
call, so the untraced run measures the program, not the harness.
"""

from __future__ import annotations

import contextlib
import json
import os
import resource
import statistics
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    id: int = 0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans for one run; ``span()`` nests through a stack."""

    def __init__(self, spark=None, enabled: bool = False):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op = 0
        self.active = False
        self._patches: list[tuple[object, str, object]] = []

    # -- operations and spans --

    @contextlib.contextmanager
    def op(self, name: str, traced: bool = True):
        """One benchmark operation: a job group named ``name`` and a root
        span, ``harness``, whose self time is the benchmark's own work.

        Spans are recorded only inside a traced operation (or ``phase``), so
        functions wrapped by ``wrap`` cost nothing in untraced operations."""
        self._op += 1
        if not (self.enabled and traced):
            yield None
            return
        self.spark.sparkContext.setJobGroup(f"op-{self._op}", name)
        self.active = True
        try:
            with self.span("harness", spark=True) as s:
                s.attrs["op"] = name
                yield s
        finally:
            self.active = False
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    @contextlib.contextmanager
    def phase(self, name: str):
        """A set-up phase outside any operation, recorded when enabled."""
        self.active = self.enabled
        try:
            with self.span(name) as s:
                yield s
        finally:
            self.active = False

    @contextlib.contextmanager
    def span(self, name: str, spark: bool = False):
        if not self.active:
            yield None
            return
        s = Span(name, self._op, self._stack[-1].id if self._stack else None,
                 time.perf_counter(), id=len(self.spans) + 1)
        self.spans.append(s)
        self._stack.append(s)
        before = self._job_ids() if spark else None
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if before is not None:
                s.jobs, s.stages, s.tasks = self._count_since(before)

    def _job_ids(self) -> set[int]:
        group = self.spark.sparkContext.getLocalProperty("spark.jobGroup.id")
        if group is None:
            return set()
        return set(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))

    def _count_since(self, before: set[int]) -> tuple[int, int, int]:
        sc = self.spark.sparkContext
        # the status store is fed asynchronously; drain the listener bus so
        # the counts of a finished action are complete and repeatable
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        jobs = sorted(self._job_ids() - before)
        stages = tasks = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        return len(jobs), stages, tasks

    # -- instrumenting public functions from outside --

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a spanned wrapper (undone by ``unwrap``)."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kw):
            with tracer.span(name):
                return orig(*args, **kw)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unwrap(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- summaries --

    def _select(self, in_ops: bool) -> list[Span]:
        return [s for s in self.spans if s.op > 0] if in_ops else self.spans

    def self_ms(self, in_ops: bool = False) -> dict[str, float]:
        """Per span name: total duration minus the time its children cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self._select(in_ops):
            covered = _union_length([(c.start, c.end) for c in children.get(s.id, ())])
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start - covered) * 1e3
        return out

    def durations(self, name: str, in_ops: bool = False) -> list[float]:
        return [(s.end - s.start) * 1e3 for s in self._select(in_ops) if s.name == name]

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": [asdict(s) for s in self.spans]}, f)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------------------
# box probes: canary kernel, steal ticks, memory high-water marks
# ---------------------------------------------------------------------------


def canary_ms() -> float:
    """A fixed CPU plus memory-bandwidth kernel (~0.2 s on a 4-core box).

    It does the same work on every call, so a slower reading means the box
    was contended while it ran (co-tenant CPU, memory bandwidth or cache)."""
    import numpy as np

    a = np.arange(1 << 21, dtype=np.float64)
    t = time.perf_counter()
    for _ in range(12):
        b = np.sqrt(a * 1.0001 + 3.0)   # streams 16 MB in and out
        float(b[::4097].sum())
    x = 0
    for i in range(300_000):            # interpreter-bound part
        x = (x * 31 + i) & 0xFFFFFFFF
    return (time.perf_counter() - t) * 1e3


def steal_ticks() -> int:
    """Cumulative hypervisor steal ticks of the box (``/proc/stat``)."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) if fields[0] == "cpu" and len(fields) > 8 else 0
    except OSError:
        return 0


def _status(pid: int) -> dict[str, str]:
    out = {}
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                k, _, v = line.partition(":")
                out[k] = v.strip()
    except OSError:
        pass
    return out


def descendants(root: int) -> list[int]:
    """Live processes below ``root`` (the JVM and Spark's Python workers)."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            ppid = _status(int(name)).get("PPid")
            if ppid and ppid.isdigit():
                parent[int(name)] = int(ppid)
    found, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        found += kids
        frontier += kids
    return found


def _ticks(path: str) -> tuple[int, int]:
    """(user + system, reaped children's user + system) from a stat file."""
    with open(path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12]), int(fields[13]) + int(fields[14])


def tree_cpu() -> tuple[float, dict[str, float]]:
    """CPU seconds of this process and every live descendant (reaped
    children included), and the CPU seconds of each live JIT compiler
    thread of those processes by thread id.  Time the hypervisor steals
    is not in either."""
    tck = os.sysconf("SC_CLK_TCK")
    total, jit = 0, {}
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            own, reaped = _ticks(f"/proc/{pid}/stat")
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        total += own + reaped
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    if not f.read().startswith(("C1 CompilerThre", "C2 CompilerThre")):
                        continue
                jit[tid] = _ticks(f"/proc/{pid}/task/{tid}/stat")[0] / tck
            except OSError:
                continue
    return total / tck, jit


def peak_rss_mb() -> float:
    """Sum of VmHWM over this process and every live descendant."""
    total_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    for pid in descendants(os.getpid()):
        hwm = _status(pid).get("VmHWM", "0 kB").split()[0]
        total_kb += int(hwm) if hwm.isdigit() else 0
    return total_kb / 1024.0


def pct(values: list[float], q: float) -> float:
    """Percentile ``q`` (0..100) by linear interpolation; 0.0 when empty."""
    if not values:
        return 0.0
    if len(values) == 1:
        return float(values[0])
    return float(statistics.quantiles(values, n=100, method="inclusive")[int(q) - 1])
