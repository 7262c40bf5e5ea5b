"""Spans and Spark engine counters for the benchmark.

A span is one call into a public function of the program, opened by a
benchmark-side wrapper. Each span runs its Spark jobs under its own job
group, so the jobs it triggers (and their stages) are attributed to it
exactly. After each pass, outside its timed window, every span's stages
are read from Spark's status store and folded into counters. Reading
per pass keeps the counts right however many stages the run piles up
past the store's retention cap (``spark.ui.retainedStages``, default
1,000): only one pass's jobs must still be there, and
:class:`StageReader` raises if one has already left.

The arithmetic (self time, inclusive counters, per-layer totals) is
plain Python over :class:`Span` records so it can be tested on a canned
tree without Spark.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

COUNTERS = ("jobs", "stages", "tasks", "exec_cpu_s", "shuffle_write_mb", "spill_mb",
            "peak_exec_mb")
_MB = 1024 * 1024


def steal_s() -> float:
    """Machine-wide CPU time the hypervisor has stolen since boot, in
    seconds per CPU (``/proc/stat``)."""
    with open("/proc/stat") as fh:
        steal = int(fh.readline().split()[8])
    return steal / os.sysconf("SC_CLK_TCK") / os.cpu_count()


def zero_counters() -> dict[str, float]:
    return dict.fromkeys(COUNTERS, 0)


def fold_stages(stages: list[dict], n_jobs: int) -> dict[str, float]:
    """Counters of a set of executed stages: sums, except the peak,
    which is the largest single stage's peak execution memory."""
    out = zero_counters()
    out["jobs"] = n_jobs
    out["stages"] = len(stages)
    for s in stages:
        out["tasks"] += s["tasks"]
        out["exec_cpu_s"] += s["cpu_ns"] / 1e9
        out["shuffle_write_mb"] += s["shuffle_write"] / _MB
        out["spill_mb"] += (s["mem_spill"] + s["disk_spill"]) / _MB
        out["peak_exec_mb"] = max(out["peak_exec_mb"], s["peak_exec"] / _MB)
    return out


def add_counters(a: dict[str, float], b: dict[str, float]) -> dict[str, float]:
    return {k: max(a[k], b[k]) if k == "peak_exec_mb" else a[k] + b[k] for k in COUNTERS}


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    #: counters of the jobs run under this span's own job group, i.e.
    #: excluding those of its child spans
    own: dict[str, float] = field(default_factory=zero_counters)
    #: extra per-call facts a wrapper records (files, bytes)
    attrs: dict[str, float] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def children(spans: list[Span]) -> dict[int, list[Span]]:
    kids: dict[int, list[Span]] = {s.sid: [] for s in spans}
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    return kids


def self_times(spans: list[Span]) -> dict[int, float]:
    """A span's duration minus the durations of its direct children."""
    kids = children(spans)
    return {s.sid: s.duration - sum(c.duration for c in kids[s.sid]) for s in spans}


def inclusive_counters(spans: list[Span]) -> dict[int, dict[str, float]]:
    """A span's own counters plus those of every descendant."""
    kids = children(spans)
    memo: dict[int, dict[str, float]] = {}

    def total(s: Span) -> dict[str, float]:
        if s.sid not in memo:
            acc = dict(s.own)
            for c in kids[s.sid]:
                acc = add_counters(acc, total(c))
            memo[s.sid] = acc
        return memo[s.sid]

    for s in spans:
        total(s)
    return memo


def layer_totals(spans: list[Span], layer_of) -> dict[str, dict[str, float]]:
    """Per-layer totals over one pass's spans. ``layer_of(span)`` maps a
    span to its layer name (or None to skip it). A span nested inside
    another span of the same layer counts only through its outermost
    ancestor, so a layer's time and counters are never counted twice.

    Each layer gets ``s`` (inclusive time), ``self_s``, ``calls``, the
    engine counters (inclusive) and the summed ``attrs``."""
    by_id = {s.sid: s for s in spans}
    selfs = self_times(spans)
    incl = inclusive_counters(spans)
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        layer = layer_of(s)
        if layer is None:
            continue
        row = out.setdefault(layer, {"s": 0.0, "self_s": 0.0, "calls": 0, **zero_counters()})
        # self time always counts; time and counters only at the
        # outermost span of the layer
        row["self_s"] += selfs[s.sid]
        row["calls"] += 1
        for k, v in s.attrs.items():
            row[k] = row.get(k, 0) + v
        p = s.parent
        while p is not None and layer_of(by_id[p]) != layer:
            p = by_id[p].parent
        if p is None:
            row["s"] += s.duration
            for k in COUNTERS:
                row[k] = max(row[k], incl[s.sid][k]) if k == "peak_exec_mb" else row[k] + incl[s.sid][k]
    return out


class StageReader:
    """Reads executed stages of a job group from Spark's status store.

    Each stage is counted once per session: a stage shared by two
    groups is credited to the group read first. Skipped stages (reused
    shuffle output) and stages a job planned but never submitted carry
    no work and are not counted."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.store = sc._jsc.sc().statusStore()
        self.counted: set[int] = set()

    def group_counters(self, group: str) -> dict[str, float]:
        job_ids = self.tracker.getJobIdsForGroup(group)
        stage_ids: set[int] = set()
        for j in job_ids:
            info = self.tracker.getJobInfo(j)
            if info is None:
                raise RuntimeError(f"job {j} of group {group} left the status store before it was read")
            stage_ids.update(info.stageIds)
        stages = []
        for sid in sorted(stage_ids - self.counted):
            try:
                d = self.store.lastStageAttempt(sid)
            except Exception as exc:  # noqa: BLE001 - py4j wraps the JVM error
                if "NoSuchElementException" in str(exc):
                    continue  # planned but never submitted: no work
                raise
            status = d.status().toString()
            if status == "SKIPPED":
                continue
            if status != "COMPLETE":
                raise RuntimeError(f"stage {sid} of group {group} is {status}")
            self.counted.add(sid)
            stages.append({
                "tasks": d.numCompleteTasks(),
                "cpu_ns": d.executorCpuTime(),
                "shuffle_write": d.shuffleWriteBytes(),
                "mem_spill": d.memoryBytesSpilled(),
                "disk_spill": d.diskBytesSpilled(),
                "peak_exec": d.peakExecutionMemory(),
            })
        return fold_stages(stages, len(job_ids))


class Tracer:
    """Opens spans; each runs its Spark jobs under a job group of its
    own and restores the enclosing span's group when it closes. Spans
    are kept in memory; :meth:`collect` fills in their counters once
    the pass is over."""

    def __init__(self, sc, run_id: str, reader: StageReader, base_group: str):
        self.sc = sc
        self.run_id = run_id
        self.reader = reader
        #: the job group outside every span, restored when the last closes
        self.base_group = base_group
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _group(self, span: Span) -> str:
        return f"perfbench-{self.run_id}-{span.sid}"

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.sid if parent else None, self.run_id, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(self._group(s), name)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(self._group(parent), parent.name)
            else:
                self.sc.setJobGroup(self.base_group, self.base_group)

    def collect(self) -> list[Span]:
        for s in self.spans:
            s.own = self.reader.group_counters(self._group(s))
        return self.spans

    def wrap(self, name: str, fn, after=None):
        """``fn`` wrapped in a span; ``after(span, result, args)`` may
        record attrs once the call returns."""

        def traced(*args, **kwargs):
            with self.span(name) as s:
                result = fn(*args, **kwargs)
            if after is not None:
                after(s, result, args)
            return result

        traced.__wrapped__ = fn
        return traced
