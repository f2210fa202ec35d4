"""Spans recorded from outside the program, around its public calls.

A span is opened by the benchmark (``Tracer.span``) or by a wrapper that
the benchmark installs over a program function (``Tracer.patch``).  Spans
stay in memory and are written once when the run ends.  Each span runs its
Spark jobs under a job group of its own, so ``SparkContext.statusTracker``
can attribute jobs, stages and tasks to the innermost span that started
them.  The tracer assumes one calling thread, as the benchmark's closed
loop has.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    op_id: int | None
    start: float
    end: float = 0.0
    #: Measured pass the span belongs to (set on operation spans).
    pass_no: int | None = None
    # Counts of the span's own jobs, excluding those of its child spans.
    jobs: int = 0
    stages: int = 0
    tasks: int = 0

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Duration of each span minus the part of it that its children cover.

    Children that overlap each other (work on other threads) are merged
    first, so covered time is never counted twice; child time outside the
    parent's interval is ignored.
    """
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out: dict[int, float] = {}
    for s in spans:
        covered, reach = 0.0, s.start
        for c in sorted(children[s.sid], key=lambda c: c.start):
            lo, hi = max(c.start, reach), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                reach = hi
        out[s.sid] = s.duration - covered
    return out


class NullTracer:
    """Stand-in used with tracing off: spans cost one no-op context."""

    @contextmanager
    def span(self, name: str, op_id: int | None = None):
        yield None


class Tracer:
    """In-memory span recorder with per-span Spark job groups."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._counted = 0
        self._seen_stages: set[int] = set()
        #: Seconds spent in the tracer's own bookkeeping around the traced
        #: calls (span records and job-group switches).
        self.cost = 0.0

    @contextmanager
    def span(self, name: str, op_id: int | None = None):
        t = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        if op_id is None and parent is not None:
            op_id = parent.op_id
        s = Span(len(self.spans), name, parent.sid if parent else None, op_id, t)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        self.cost += time.perf_counter() - t
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.cost += time.perf_counter() - s.end

    def _set_group(self, s: Span | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"perfbench-{s.sid}", s.name)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    @contextmanager
    def patch(self, targets):
        """Replace ``module.attr`` by a traced wrapper for each
        ``(module, attr, span_name)``; restore the originals on exit."""
        saved = []
        try:
            for module, attr, name in targets:
                orig = getattr(module, attr)
                saved.append((module, attr, orig))
                setattr(module, attr, self.wrap(name, orig))
            yield
        finally:
            for module, attr, orig in reversed(saved):
                setattr(module, attr, orig)

    def count_jobs(self) -> None:
        """Attach job/stage/task counts to every span closed since the last
        call.  Waits for Spark's listener bus first so that finished jobs
        are visible.  A stage is counted once, by the first span whose jobs
        ran tasks in it; stages skipped because an earlier job already
        wrote their shuffle output count nowhere."""
        if self.sc is None:
            return
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        for s in self.spans[self._counted:]:
            for job_id in sorted(tracker.getJobIdsForGroup(f"perfbench-{s.sid}")):
                s.jobs += 1
                info = tracker.getJobInfo(job_id)
                for stage_id in list(info.stageIds) if info else []:
                    st = tracker.getStageInfo(stage_id)
                    if st is None or stage_id in self._seen_stages or st.numCompletedTasks == 0:
                        continue
                    self._seen_stages.add(stage_id)
                    s.stages += 1
                    s.tasks += st.numCompletedTasks
        self._counted = len(self.spans)

    def dump(self, path: str, origin: float = 0.0) -> None:
        """Write all spans as JSON lines, times relative to ``origin``."""
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            for s in self.spans:
                row = asdict(s)
                row["start"] -= origin
                row["end"] -= origin
                row["self"] = selfs[s.sid]
                f.write(json.dumps(row) + "\n")
