"""Spans, per-span Spark counters and the summary statistics the
benchmark reports.

A :class:`Tracer` records one span per call into a layer: name, layer,
start, end, parent span and trace id. Spans of one operation (a CDC
micro-batch, a battery query, a dedup fold) share a trace id. While a
span is open its Spark jobs run under a job group of its own; when it
closes, the jobs of that group are looked up at once (the status store
keeps a bounded number of jobs and stages) and summed into the span's
counters. Spans stay in memory until :meth:`Tracer.dump`.

With tracing off, :meth:`Tracer.span` is a no-op context, so the
untraced runs that give the end-to-end numbers pay nothing for it.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import math
import statistics
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)

_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


@dataclass
class Span:
    span_id: int
    name: str
    layer: str
    trace_id: int
    parent_id: int | None
    start: float
    end: float = 0.0
    phase: str = "setup"
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans and the Spark counters of the jobs each one ran."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._traces = itertools.count(1)
        self._sc = spark.sparkContext
        self._seen_jobs: dict[str, set[int]] = {}
        #: stamped on every new span: "setup" until the timed loop starts
        self.phase = "setup"

    @contextlib.contextmanager
    def span(self, name: str, layer: str, new_trace: bool = False,
             extra_groups: tuple[str, ...] = ()):
        """Time a call into ``layer``. ``new_trace`` starts a new trace id
        (one per benchmark operation). ``extra_groups`` names job groups
        whose jobs not seen before are also charged to this span (the
        streaming engine runs micro-batch jobs under its own group)."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        trace_id = next(self._traces) if (new_trace or parent is None) else parent.trace_id
        sp = Span(next(self._ids), name, layer, trace_id,
                  parent.span_id if parent else None, time.perf_counter(), phase=self.phase)
        group = f"perfbench-{sp.span_id}"
        saved = self._set_group(group)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._restore_group(saved)
            sp.counters = self.job_counters([group, *extra_groups])
            self.spans.append(sp)

    # -- Spark job groups and counters -------------------------------------

    def _set_group(self, group: str) -> dict[str, str | None]:
        saved = {k: self._sc.getLocalProperty(k) for k in _GROUP_PROPS}
        self._sc.setJobGroup(group, group, interruptOnCancel=False)
        return saved

    def _restore_group(self, saved: dict[str, str | None]) -> None:
        for k, v in saved.items():
            self._sc.setLocalProperty(k, v)

    def job_counters(self, groups: list[str]) -> dict[str, float]:
        """Sum the stage metrics of every job in ``groups`` not charged to
        an earlier span. Stages that were skipped (shuffle reuse) are not
        counted."""
        sc = self._sc
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        out = dict.fromkeys(COUNTERS, 0.0)
        for group in groups:
            seen = self._seen_jobs.setdefault(group, set())
            for job_id in tracker.getJobIdsForGroup(group):
                if job_id in seen:
                    continue
                seen.add(job_id)
                info = tracker.getJobInfo(job_id)
                if info is None:
                    continue
                out["jobs"] += 1
                for stage_id in info.stageIds:
                    try:
                        st = store.lastStageAttempt(stage_id)
                    except Py4JJavaError:  # evicted from the bounded store
                        continue
                    if st.status().toString() not in ("COMPLETE", "FAILED"):
                        continue
                    out["stages"] += 1
                    out["tasks"] += st.numTasks()
                    out["executor_run_s"] += st.executorRunTime() / 1000.0
                    out["shuffle_read_bytes"] += st.shuffleReadBytes()
                    out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out

    # -- summaries ---------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """span id → self time (duration minus the union of its children's
        intervals)."""
        children: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent_id is not None:
                children.setdefault(sp.parent_id, []).append(sp)
        return {
            sp.span_id: self_time(sp.start, sp.end,
                                  [(c.start, c.end) for c in children.get(sp.span_id, [])])
            for sp in self.spans
        }

    def by_layer(self, phase: str) -> dict[str, dict[str, float]]:
        """layer → self_s plus every counter, summed over its spans of
        ``phase``."""
        selfs = self.self_times()
        out: dict[str, dict[str, float]] = {}
        for sp in self.spans:
            if sp.phase != phase:
                continue
            agg = out.setdefault(sp.layer, dict.fromkeys(("self_s", *COUNTERS), 0.0))
            agg["self_s"] += selfs[sp.span_id]
            for k, v in sp.counters.items():
                agg[k] += v
        return out

    def by_name(self, phase: str) -> dict[str, float]:
        """span name → summed duration of its spans of ``phase``."""
        out: dict[str, float] = {}
        for sp in self.spans:
            if sp.phase != phase:
                continue
            out[sp.name] = out.get(sp.name, 0.0) + sp.duration
        return out

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            json.dump(
                [
                    {"span_id": s.span_id, "name": s.name, "layer": s.layer,
                     "trace_id": s.trace_id, "parent_id": s.parent_id, "phase": s.phase,
                     "start": s.start, "end": s.end, "self_s": selfs[s.span_id],
                     "counters": s.counters}
                    for s in self.spans
                ],
                f,
                indent=1,
            )


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """``end - start`` minus the part of that interval covered by the union
    of the ``children`` intervals (children may overlap each other)."""
    covered = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in children):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered


#: Percentiles considered for the tail, highest first.
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value) of the highest percentile in
    :data:`TAIL_CANDIDATES` that has at least ten samples above it. With
    too few samples for any of them the median is returned as the tail
    (percentile 50): the run cannot resolve a higher one."""
    for p in TAIL_CANDIDATES:
        v = percentile(values, p)
        if sum(1 for x in values if x > v) >= 10:
            return p, v
    return 50.0, statistics.median(values)


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))
