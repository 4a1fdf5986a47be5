"""Spans around the benchmark's calls into the engine's layers.

Every ``Tracer.span`` times its block. With tracing on it also records
the span (name, start, end, parent, op id) in memory and tags the
Spark jobs the block runs: the calling thread's job group is set to the
span's id while the block runs, so ``statusTracker`` can later give the
jobs, stages and tasks of each span. Jobs that run in threads the
engine starts itself (``concurrency.checkpoint_all``) carry no group
and are not counted; no measured call starts such threads. Counts are
resolved once, after the measured loop.

With tracing off a span is two clock reads, which the end-to-end
metrics need anyway.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

GROUP_PROP = "spark.jobGroup.id"
# How long resolve_counts waits for the listener bus to report every
# traced job as finished.
RESOLVE_TIMEOUT_S = 10.0


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int
    start: float
    end: float = 0.0
    jobs: set[int] = field(default_factory=set)
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark: SparkSession, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def reset(self) -> None:
        """Forget the spans so far (the warm-up's)."""
        self.spans = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        s = Span(
            id=sid,
            name=name,
            parent=parent.id if parent else None,
            op=parent.op if parent else sid,
            start=0.0,
        )
        if self.enabled:
            self.sc.setLocalProperty(GROUP_PROP, f"pb-{sid}")
        stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            if self.enabled:
                self.sc.setLocalProperty(
                    GROUP_PROP, f"pb-{parent.id}" if parent else None
                )
                with self._lock:
                    self.spans.append(s)

    # -- after the measured loop ------------------------------------------
    def resolve_counts(self) -> None:
        """Fill jobs/stages/tasks of every span from the status tracker,
        once the listener bus has caught up with the finished jobs."""
        if not self.enabled:
            return
        st = self.sc.statusTracker()
        for s in self.spans:
            s.jobs |= set(st.getJobIdsForGroup(f"pb-{s.id}"))
        all_jobs = set().union(*(s.jobs for s in self.spans)) if self.spans else set()
        deadline = time.perf_counter() + RESOLVE_TIMEOUT_S
        while True:
            infos = {j: st.getJobInfo(j) for j in all_jobs}
            done = all(i is not None and i.status in ("SUCCEEDED", "FAILED") for i in infos.values())
            if done or time.perf_counter() > deadline:
                break
            time.sleep(0.1)
        # A stage a job skipped (its shuffle output was reused) ran no
        # task and is not counted.
        job_stages: dict[int, list[tuple[int, int]]] = {}
        for j, info in infos.items():
            ran = []
            for sid in list(info.stageIds) if info else []:
                stage = st.getStageInfo(sid)
                if stage is not None and stage.numCompletedTasks + stage.numFailedTasks > 0:
                    ran.append((stage.numCompletedTasks, stage.numFailedTasks))
            job_stages[j] = ran
        for s in self.spans:
            for j in s.jobs:
                for completed, failed in job_stages[j]:
                    s.stages += 1
                    s.tasks += completed + failed
                    s.failed_tasks += failed

    def _children(self) -> dict[int, list[Span]]:
        kids: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append(s)
        return kids

    def subtree_count(self, span: Span, attr: str) -> int:
        kids = self._children()
        total, todo = 0, [span]
        while todo:
            s = todo.pop()
            total += getattr(s, attr) if attr != "jobs" else len(s.jobs)
            todo.extend(kids.get(s.id, []))
        return total

    def self_times(self) -> dict[int, float]:
        """Each span's duration minus the part its children cover."""
        kids = self._children()
        out = {}
        for s in self.spans:
            covered, cur_end = 0.0, None
            for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
                lo = c.start if cur_end is None else max(c.start, cur_end)
                if c.end > lo:
                    covered += c.end - lo
                cur_end = c.end if cur_end is None else max(cur_end, c.end)
            out[s.id] = s.dur - covered
        return out

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def roots(self) -> list[Span]:
        return [s for s in self.spans if s.parent is None]

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        by_name: dict[str, dict[str, float]] = defaultdict(lambda: {"n": 0, "total_s": 0.0, "self_s": 0.0})
        for s in self.spans:
            agg = by_name[s.name]
            agg["n"] += 1
            agg["total_s"] += s.dur
            agg["self_s"] += selfs[s.id]
        doc = {
            "spans": [
                {
                    "id": s.id, "name": s.name, "parent": s.parent, "op": s.op,
                    "start": s.start, "end": s.end, "self_s": selfs[s.id],
                    "jobs": len(s.jobs), "stages": s.stages, "tasks": s.tasks,
                    "failed_tasks": s.failed_tasks,
                }
                for s in sorted(self.spans, key=lambda s: s.start)
            ],
            "by_name": by_name,
        }
        with open(path, "w") as f:
            json.dump(doc, f, indent=1)
