"""Spans recorded around calls into the program's layers, and the fold
of Spark's event log into per-span stage metrics.

A span has a name, a start, an end and a parent. While a span is open
on a traced run, every Spark job started from the thread carries the
span's id as its job group, so each stage in the event log can be
charged to the innermost span that caused it. With tracing off,
``Tracer.span`` records nothing and touches no Spark state.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_GROUP = "spark.jobGroup.id"
_GROUP_PREFIX = "perfbench-span-"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Keeps spans in memory. ``overhead_s`` is the time spent in the
    tracer's own bookkeeping, job-group calls included."""

    def __init__(self, enabled: bool, spark_context=None):
        self.enabled = enabled
        self.sc = spark_context
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.overhead_s = 0.0

    def _set_group(self, span: Span | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(_GROUP, None if span is None else f"{_GROUP_PREFIX}{span.id}")

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.id if parent else None, 0.0, attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            self.overhead_s += time.perf_counter() - sp.end


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its
    children cover (children clipped to the parent, overlaps counted
    once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_end is None or lo > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = lo, hi
            else:
                cur_end = max(cur_end, hi)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.id] = s.duration - covered
    return out


def descendants(spans: list[Span], root: int) -> set[int]:
    """Ids of ``root`` and every span below it."""
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s.id)
    out, todo = set(), [root]
    while todo:
        i = todo.pop()
        out.add(i)
        todo.extend(kids.get(i, []))
    return out


STAGE_METRICS = {
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
    "internal.metrics.executorCpuTime": "task_cpu_ns",
}


def fold_event_log(path: str) -> dict[int, dict[str, float]]:
    """Sum the stage metrics of an uncompressed Spark event log per span
    id, keyed by the job group each stage was submitted under. Stages
    outside any span are charged to id -1."""
    group_of_stage: dict[int, int] = {}
    out: dict[int, dict[str, float]] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerStageSubmitted":
                props = ev.get("Properties") or {}
                group = props.get(_GROUP) or ""
                sid = ev["Stage Info"]["Stage ID"]
                group_of_stage[sid] = (
                    int(group[len(_GROUP_PREFIX):]) if group.startswith(_GROUP_PREFIX) else -1
                )
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                span = group_of_stage.get(info["Stage ID"], -1)
                acc = out.setdefault(span, {v: 0.0 for v in STAGE_METRICS.values()})
                for a in info.get("Accumulables", []):
                    key = STAGE_METRICS.get(a.get("Name"))
                    if key is not None:
                        acc[key] += float(a.get("Value", 0))
    return out


def stage_totals(folded: dict[int, dict[str, float]], ids: set[int]) -> dict[str, float]:
    """Stage metrics summed over a set of span ids, CPU in seconds."""
    tot = {v: 0.0 for v in STAGE_METRICS.values()}
    for i in ids:
        for k, v in folded.get(i, {}).items():
            tot[k] += v
    return {
        "shuffle_bytes": tot["shuffle_bytes"],
        "spill_bytes": tot["spill_bytes"],
        "task_cpu_s": tot["task_cpu_ns"] / 1e9,
    }
