"""Spans around calls into the program, with the Spark work run inside.

A span records its name, wall time, parent and the Spark jobs, stages
and tasks that ran while it was open.  Jobs are attributed through
``SparkContext.setJobGroup`` on the calling thread: each span opens its
own job group and restores the enclosing one when it closes, and the
status tracker lists the jobs of each group.  Nested spans count their
children's jobs too.

The same ``Tracer`` object runs in both modes.  Untraced (``enabled``
false) a span is a bare ``perf_counter`` pair, so the end-to-end run
pays no job-group or status-tracker calls.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_GROUP_KEY = "spark.jobGroup.id"
_DESC_KEY = "spark.job.description"
_INTERRUPT_KEY = "spark.job.interruptOnCancel"
SETTLE_TIMEOUT_MS = 10_000


@dataclass
class Span:
    name: str
    parent: str | None
    start: float
    end: float = 0.0
    group: str = ""
    children: list[Span] = field(default_factory=list)
    attrs: dict = field(default_factory=dict)
    jobs: int = 0
    stages: int = 0
    tasks: int = 0

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """Collect spans in memory; ``dump`` writes them once at the end."""

    def __init__(self, spark, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._seen: set[int] = set()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else None
        sp = Span(name, parent.name if parent else None, 0.0, attrs=attrs)
        if not self.enabled:
            sp.start = time.perf_counter()
            try:
                yield sp
            finally:
                sp.end = time.perf_counter()
                self.spans.append(sp)
            return
        sp.group = f"perfbench-{next(self._ids)}"
        prev = [self.sc.getLocalProperty(k) for k in (_GROUP_KEY, _DESC_KEY, _INTERRUPT_KEY)]
        self.sc.setJobGroup(sp.group, name)
        stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if prev[0] is None:
                self.sc.setLocalProperty(_GROUP_KEY, None)
                self.sc.setLocalProperty(_DESC_KEY, None)
                self.sc.setLocalProperty(_INTERRUPT_KEY, None)
            else:
                self.sc.setJobGroup(prev[0], prev[1] or "", prev[2] == "true")
            self._count(sp)
            if parent is not None:
                parent.children.append(sp)
            self.spans.append(sp)

    def _settle(self) -> None:
        """Wait until the listener bus has delivered every posted event:
        the status tracker learns of a job from that bus, asynchronously,
        so a job read right after the call that ran it can be missing."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(SETTLE_TIMEOUT_MS)

    def _tally(self, job_ids) -> tuple[int, int, int]:
        st = self.sc.statusTracker()
        jobs = stages = tasks = 0
        for jid in job_ids:
            jobs += 1
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                stages += 1
                sinfo = st.getStageInfo(sid)
                tasks += sinfo.numTasks if sinfo else 0
        return jobs, stages, tasks

    def group_jobs_since_last(self) -> tuple[int, int, int]:
        """Jobs of the calling thread's current job group not reported
        before: on a streaming thread, the jobs the engine and the
        program ran outside any span."""
        group = self.sc.getLocalProperty(_GROUP_KEY)
        if group is None:
            return 0, 0, 0
        self._settle()
        ids = set(self.sc.statusTracker().getJobIdsForGroup(group)) - self._seen
        self._seen |= ids
        return self._tally(ids)

    def _count(self, sp: Span) -> None:
        self._settle()
        jobs, stages, tasks = self._tally(
            self.sc.statusTracker().getJobIdsForGroup(sp.group))
        for ch in sp.children:
            jobs += ch.jobs
            stages += ch.stages
            tasks += ch.tasks
        sp.jobs, sp.stages, sp.tasks = jobs, stages, tasks

    def current(self) -> str | None:
        """Name of the innermost open span on this thread."""
        stack = self._stack()
        return stack[-1].name if stack else None

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        rows = [
            {
                "name": s.name,
                "parent": s.parent,
                "ms": round(s.ms, 3),
                "jobs": s.jobs,
                "stages": s.stages,
                "tasks": s.tasks,
                **s.attrs,
            }
            for s in self.spans
        ]
        with open(path, "w") as fh:
            json.dump(rows, fh, indent=1)

