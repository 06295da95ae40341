"""Spans recorded by the benchmark around its own calls into the package.

Each span has a name (``module.function``), start, end, parent span and
op id; spans stay in memory until the run ends.  When a SparkContext is
given, every span runs its Spark jobs under its own job group, so the
jobs, stages and tasks it caused are read back from ``statusTracker``
once the run is over.  A disabled tracer records nothing and touches no
Spark state, so untraced runs pay nothing for it.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass
from typing import Optional

_GROUP_PROP = "spark.jobGroup.id"


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: Optional[int]
    op: Optional[int]
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    value: Optional[float] = None  # a count the call returned

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool = False, sc=None):
        self.enabled = enabled
        self.sc = sc if enabled else None
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._next_sid = 0
        self._next_op = 0
        self._op: Optional[int] = None

    def _group(self, sid: Optional[int]) -> Optional[str]:
        return None if sid is None else f"wpbench-{sid}"

    @contextlib.contextmanager
    def span(self, name: str):
        """Record one call; yields the Span (None when disabled) so the
        caller can attach a returned count as ``value``."""
        if not self.enabled:
            yield None
            return
        sid = self._next_sid
        self._next_sid += 1
        parent = self._stack[-1] if self._stack else None
        if self.sc is not None:
            self.sc.setLocalProperty(_GROUP_PROP, self._group(sid))
        self._stack.append(sid)
        sp = Span(sid, name, time.perf_counter(), 0.0, parent, self._op)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(sp)
            if self.sc is not None:
                self.sc.setLocalProperty(_GROUP_PROP, self._group(parent))

    @contextlib.contextmanager
    def op(self, name: str):
        """A root span that starts a new op id (one client request)."""
        if not self.enabled:
            yield None
            return
        self._op = self._next_op
        self._next_op += 1
        try:
            with self.span(name) as sp:
                yield sp
        finally:
            self._op = None

    def resolve_jobs(self) -> None:
        """Attach Spark job, stage, task and failed-task counts to every span,
        read through ``statusTracker`` by job group."""
        if self.sc is None:
            return
        try:  # let the status listener catch up with finished jobs
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:
            time.sleep(1.0)
        tracker = self.sc.statusTracker()
        for sp in self.spans:
            for jid in tracker.getJobIdsForGroup(self._group(sp.sid)):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                sp.jobs += 1
                sp.stages += len(info.stageIds)
                for stage_id in info.stageIds:
                    st = tracker.getStageInfo(stage_id)
                    if st is not None:
                        sp.tasks += st.numCompletedTasks
                        sp.failed_tasks += st.numFailedTasks


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its
    child spans cover (overlapping children are counted once)."""
    children: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(sp)
    out = {}
    for sp in spans:
        covered = 0.0
        cur_start = cur_end = None
        for c in sorted(children.get(sp.sid, ()), key=lambda s: s.start):
            s, e = max(c.start, sp.start), min(c.end, sp.end)
            if e <= s:
                continue
            if cur_end is None or s > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = s, e
            else:
                cur_end = max(cur_end, e)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[sp.sid] = sp.duration - covered
    return out
