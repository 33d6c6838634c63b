"""Traced mode: a span around each public library call, a Spark job group
per span, and per-span counters read back from Spark's status store
after the run.

Spans live in memory (name, start, end, parent) and are written out once
at exit. Every job Spark ran is mapped to a span by its job group; jobs
submitted from library-internal threads carry no group, so they are
attributed by time to the innermost span that was open when they were
submitted and counted as ``trace.unattributed_jobs``.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

_GROUP_PREFIX = "perfbench-span-"


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    extra: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans while ``active``; otherwise ``span`` costs one branch.

    ``enabled`` is the run's mode; the run switches ``active`` on for
    the ops it traces. A span given a ``meter`` (a ``ByteMeter``) also
    records the data files and bytes that appeared under its roots.
    ``overhead_s`` is the wall time spent in the tracer's own bookkeeping
    (job-group calls and meter scans), which is what tracing adds to an op."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.active = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, meter=None):
        if not self.active:
            yield None
            return
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        before = meter.files() if meter is not None else None
        s = Span(len(self.spans), name, time.time(), parent=parent and parent.sid)
        self.spans.append(s)
        self._stack.append(s)
        sc.setJobGroup(f"{_GROUP_PREFIX}{s.sid}", name)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield s
        finally:
            s.end = time.time()
            t0 = time.perf_counter()
            if meter is not None:
                new = {p: n for p, n in meter.files().items() if p not in before}
                s.extra.update(files_written=len(new), written_mb=sum(new.values()) / 2**20)
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(f"{_GROUP_PREFIX}{parent.sid}", parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.overhead_s += time.perf_counter() - t0

    @contextmanager
    def activated(self, on: bool = True):
        """Record spans inside the block when tracing is enabled and ``on``."""
        prev, self.active = self.active, self.enabled and on
        try:
            yield
        finally:
            self.active = prev

    def write(self, path: str, summary: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": [asdict(s) for s in self.spans], **summary}, fh, indent=1)


@dataclass
class Job:
    group: str | None
    start: float
    end: float
    stages: list[int]


def _union_len(intervals: list[tuple[float, float]]) -> float:
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


class StatusStore:
    """Jobs and stage totals read once from Spark's in-process status store
    (works with the UI disabled)."""

    def __init__(self, spark):
        jvm = spark._jvm
        conv = jvm.scala.jdk.javaapi.CollectionConverters
        store = spark.sparkContext._jsc.sc().statusStore()
        self.jobs: list[Job] = []
        for j in conv.asJava(store.jobsList(None)):
            if not j.submissionTime().isDefined():
                continue
            start = j.submissionTime().get().getTime() / 1000.0
            end = (
                j.completionTime().get().getTime() / 1000.0
                if j.completionTime().isDefined()
                else start
            )
            group = j.jobGroup().get() if j.jobGroup().isDefined() else None
            self.jobs.append(Job(group, start, end, list(conv.asJava(j.stageIds()))))
        no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
        self.stages: dict[int, dict] = {}
        for s in conv.asJava(store.stageList(None, False, False, no_quantiles, None)):
            t = self.stages.setdefault(
                s.stageId(),
                dict(tasks=0, run_s=0.0, cpu_s=0.0, input_mb=0.0, written_mb=0.0,
                     shuffle_mb=0.0, spill_mb=0.0),
            )
            t["tasks"] += s.numCompleteTasks()
            t["run_s"] += s.executorRunTime() / 1e3
            t["cpu_s"] += s.executorCpuTime() / 1e9
            t["input_mb"] += s.inputBytes() / 2**20
            t["written_mb"] += s.outputBytes() / 2**20
            t["shuffle_mb"] += s.shuffleWriteBytes() / 2**20
            t["spill_mb"] += (s.diskBytesSpilled() + s.memoryBytesSpilled()) / 2**20

    def totals(self, jobs: list[Job]) -> dict:
        out = dict(jobs=len(jobs), tasks=0, run_s=0.0, cpu_s=0.0, input_mb=0.0,
                   written_mb=0.0, shuffle_mb=0.0, spill_mb=0.0)
        seen = set()
        for j in jobs:
            for sid in j.stages:
                if sid in seen or sid not in self.stages:
                    continue
                seen.add(sid)
                for k, v in self.stages[sid].items():
                    out[k] += v
        return out

    def between(self, start: float, end: float) -> list[Job]:
        return [j for j in self.jobs if start <= j.start <= end]


def span_counters(tracer: Tracer, status: StatusStore) -> tuple[dict[int, dict], int]:
    """Per span: wall, self time, driver-only time and the totals of the
    jobs it owns. Returns the counters and the number of jobs inside a
    span that carried no span job group."""
    by_id = {s.sid: s for s in tracer.spans}
    owned: dict[int, list[Job]] = {s.sid: [] for s in tracer.spans}
    unattributed = 0
    for j in status.jobs:
        sid = None
        if j.group and j.group.startswith(_GROUP_PREFIX):
            sid = int(j.group[len(_GROUP_PREFIX):])
        else:
            open_spans = [s for s in tracer.spans if s.start <= j.start <= s.end]
            if open_spans:
                unattributed += 1
                sid = max(open_spans, key=lambda s: s.start).sid
        if sid is not None and sid in owned:
            owned[sid].append(j)
    child_wall: dict[int, float] = {}
    for s in tracer.spans:
        if s.parent is not None:
            child_wall[s.parent] = child_wall.get(s.parent, 0.0) + s.wall
    out = {}
    for sid, s in by_id.items():
        inside = status.between(s.start, s.end)
        covered = _union_len([(j.start, min(j.end, s.end)) for j in inside])
        out[sid] = dict(
            status.totals(owned[sid]),
            wall_s=s.wall,
            self_s=s.wall - child_wall.get(sid, 0.0),
            driver_only_s=max(0.0, s.wall - covered),
        )
    return out, unattributed


def phase_utilisation(status: StatusStore, start: float, end: float, cores: int) -> dict:
    """Executor busy share and driver-only share of a wall-clock phase."""
    jobs = status.between(start, end)
    wall = max(end - start, 1e-9)
    covered = _union_len([(j.start, min(j.end, end)) for j in jobs])
    return dict(
        core_util=status.totals(jobs)["run_s"] / (wall * cores),
        driver_only_frac=max(0.0, wall - covered) / wall,
    )
