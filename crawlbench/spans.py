"""Spans the benchmark records around its own calls into each layer.

A span has a name, a start, an end and the span that caused it. While a
span is open its name is the Spark job group of the calling thread, so
`StatusTracker` can attribute jobs, tasks and failed tasks to it. Spans
are kept in memory and summarised when the run ends.
"""

from __future__ import annotations

import time
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_time(span: Span, spans: list[Span]) -> float:
    """The span's duration minus the part of its interval that its
    direct children cover (overlapping children count once)."""
    ivs = sorted(
        (max(c.start, span.start), min(c.end, span.end))
        for c in spans
        if c.parent == span.id
    )
    covered, lo, hi = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if hi is None or s > hi:
            if hi is not None:
                covered += hi - lo
            lo, hi = s, e
        else:
            hi = max(hi, e)
    if hi is not None:
        covered += hi - lo
    return span.duration - covered


class Tracer:
    """Records nested spans; with a SparkContext, also tags each span's
    jobs with a job group and counts them when the span closes."""

    def __init__(self, sc=None, clock=time.perf_counter):
        self.sc = sc
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def _group(self, sid: int) -> str:
        return f"crawlbench-{sid}:{self.spans[sid].name}"

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent, self.clock())
        self.spans.append(sp)
        self._stack.append(sp.id)
        if self.sc is not None:
            self.sc.setJobGroup(self._group(sp.id), name)
        try:
            yield sp
        finally:
            sp.end = self.clock()
            self._stack.pop()
            if self.sc is not None:
                sp.counts.update(self._job_counts(self._group(sp.id)))
                if parent is not None:
                    self.sc.setJobGroup(self._group(parent), self.spans[parent].name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _job_counts(self, group: str) -> dict[str, float]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = failed = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                stage = st.getStageInfo(sid)
                if stage:
                    tasks += stage.numTasks
                    failed += stage.numFailedTasks
        return {"jobs": len(jobs), "tasks": tasks, "failed_tasks": failed}

    def totals(self, root: Span) -> dict[str, dict[str, float]]:
        """Per name, over the subtree under `root`: summed duration,
        summed self time and summed counts (a name can repeat, e.g. one
        `fetch` span per round of a multi-round crawl)."""
        inside = {root.id}
        out: dict[str, dict[str, float]] = {}
        for sp in self.spans[root.id + 1:]:
            if sp.parent not in inside:
                continue
            inside.add(sp.id)
            agg = out.setdefault(sp.name, {"s": 0.0, "self_s": 0.0})
            agg["s"] += sp.duration
            agg["self_s"] += self_time(sp, self.spans)
            for k, v in sp.counts.items():
                agg[k] = agg.get(k, 0) + v
        return out
