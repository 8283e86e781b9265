"""Spans around the benchmark's calls into each layer, Spark job counts
per span, and host/driver CPU counters.

Spans live in memory: name, start, end, parent span, request id, and —
when asked — the Spark jobs, stages and tasks the span ran (read from
``StatusTracker`` over a job group the span sets).  Nothing inside the
program is instrumented; a disabled tracer costs one branch per call.
"""

from __future__ import annotations

import itertools
import json
import os
import resource
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import NamedTuple


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    request: int | None = None
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc, enabled: bool) -> None:
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._groups = itertools.count()
        self._request: int | None = None
        self._requests = itertools.count()

    @contextmanager
    def request(self):
        """Group the spans of one operation under a shared request id."""
        prev, self._request = self._request, next(self._requests)
        try:
            yield
        finally:
            self._request = prev

    @contextmanager
    def span(self, name: str, jobs: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        sp = Span(
            name, time.perf_counter(),
            parent=self._stack[-1] if self._stack else None,
            request=self._request, attrs=attrs,
        )
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        group = f"perfbench-{next(self._groups)}" if jobs else None
        if group:
            self.sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if group:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self._count_jobs(sp, group)

    def _count_jobs(self, sp: Span, group: str) -> None:
        st = self.sc.statusTracker()
        for jid in st.getJobIdsForGroup(group):
            sp.jobs += 1
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                sp.stages += 1
                stage = st.getStageInfo(sid)
                sp.tasks += stage.numTasks if stage else 0

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def _proc_stat() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def host_cpu() -> tuple[float, float]:
    """(busy, steal) CPU seconds of the whole host since boot, summed over
    its cores: busy is user, nice, system, irq and softirq time; steal is
    time a core had work but the hypervisor ran another guest."""
    user, nice, system, _idle, _iowait, irq, softirq, steal = _proc_stat()[:8]
    return (user + nice + system + irq + softirq) * _TICK_S, steal * _TICK_S


class Timing(NamedTuple):
    wall: float
    granted: float  # share of the CPU time asked for that the host got

    @property
    def adjusted(self) -> float:
        """The wall time scaled to a host that gets all the CPU time it
        asks for: ``wall × busy ÷ (busy + steal)``.  On a host whose
        hypervisor steals nothing it equals ``wall``."""
        return self.wall * self.granted


class StealClock:
    """Wall time from ``t0`` (default: now) to ``stop``, with the share of
    the CPU time the host asked for that the hypervisor granted."""

    def __init__(self, t0: float | None = None) -> None:
        self.t0 = time.perf_counter() if t0 is None else t0
        self._cpu = host_cpu()

    def stop(self) -> Timing:
        wall = time.perf_counter() - self.t0
        busy, steal = (b - a for a, b in zip(self._cpu, host_cpu()))
        return Timing(wall, busy / (busy + steal) if busy + steal > 0 else 1.0)


class HostMeter:
    """Host CPU (busy, steal) from /proc/stat and this process's own CPU
    time over one interval — the timed phase."""

    def __enter__(self) -> "HostMeter":
        self._stat = _proc_stat()
        self._cpu = self._self_cpu()
        self._wall = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        wall = time.perf_counter() - self._wall
        stat = [b - a for a, b in zip(self._stat, _proc_stat())]
        total = sum(stat[:8]) or 1
        idle = stat[3] + stat[4]
        steal = stat[7] if len(stat) > 7 else 0
        self.steal_frac = steal / total
        self.cpu_busy_frac = 1.0 - idle / total
        self.driver_cpu_share = (self._self_cpu() - self._cpu) / wall if wall > 0 else 0.0

    @staticmethod
    def _self_cpu() -> float:
        ru = resource.getrusage(resource.RUSAGE_SELF)
        return ru.ru_utime + ru.ru_stime
