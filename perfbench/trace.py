"""Spans and counters recorded from outside the program.

Spans are kept in memory and written once, when the run ends.  Spark job,
stage and task counts come from the job group the benchmark sets around
each operation and from ``SparkContext.statusTracker()``; streaming query
lifecycles come from a ``StreamingQueryListener`` registered here.  Nothing
is hooked inside ``olive_spark``.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

LAYERS = ("format", "datasource", "plan", "maintenance", "streaming", "dedup", "similarity")


@dataclass
class Span:
    name: str
    layer: str
    trace_id: int
    span_id: int
    parent: "int | None"
    start: float
    end: float = 0.0


@dataclass
class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` only yields."""

    enabled: bool
    spans: list = field(default_factory=list)
    _stack: list = field(default_factory=list)
    _trace_id: int = 0

    def new_trace(self) -> None:
        self._trace_id += 1

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1].span_id if self._stack else None
        s = Span(name, layer, self._trace_id, len(self.spans), parent, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def self_time(self, since: int = 0) -> dict:
        """Per-layer self time of the spans from index ``since`` on (which
        must start at a root span): each span's duration minus the part of
        it its direct children cover (children never overlap: one thread)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out = {layer: 0.0 for layer in LAYERS}
        for s in self.spans[since:]:
            out[s.layer] += (s.end - s.start) - child[s.span_id]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


class SparkCounters:
    """Jobs, stages and tasks per operation, read from the status tracker.

    Each operation runs under its own job group.  A streaming query runs
    its micro-batches under a group named after the query's run id, which
    the stream listener records; jobs started on a thread without a group
    are attributed to the running operation too, which is sound because the
    benchmark is a single closed-loop client."""

    def __init__(self, sc, streams: dict) -> None:
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.streams = streams
        self._ungrouped = set(self.tracker.getJobIdsForGroup(None))
        sc.setJobGroup("perfbench", "perfbench")

    def start(self, group: str) -> None:
        self.streams["run_ids"].clear()
        self.sc.setJobGroup(group, group)

    def finish(self, group: str) -> dict:
        self.sc.setJobGroup("perfbench", "perfbench")
        jobs = set(self.tracker.getJobIdsForGroup(group))
        for run_id in self.streams["run_ids"]:
            jobs |= set(self.tracker.getJobIdsForGroup(run_id))
        ungrouped = set(self.tracker.getJobIdsForGroup(None))
        jobs |= ungrouped - self._ungrouped
        self._ungrouped = ungrouped
        stages = tasks = failed = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                    continue  # skipped (reused shuffle output) or not retained
                stages += 1
                tasks += st.numCompletedTasks
                failed += st.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}


def stream_listener(spark):
    """Register a listener counting query starts (lifecycles) and
    micro-batches that read rows, and recording each start's run id;
    returns its counter dict."""
    from pyspark.sql.streaming import StreamingQueryListener

    counts = {"lifecycles": 0, "batches": 0, "run_ids": []}

    class _Counter(StreamingQueryListener):
        def onQueryStarted(self, event):
            counts["lifecycles"] += 1
            counts["run_ids"].append(str(event.runId))

        def onQueryProgress(self, event):
            if event.progress.numInputRows > 0:
                counts["batches"] += 1

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spark.streams.addListener(_Counter())
    return counts
