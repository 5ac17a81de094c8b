"""In-memory spans around calls into the program, with Spark work per span.

A span is (name, start, end, parent, trace id).  One trace groups the
spans of one build, one lookup session or one stream arrival.  Spans
are kept in memory and written out as JSON lines when the run ends.

Spark jobs are attributed to a span in one of two ways:

- a job group, set on the calling thread for the span's duration; jobs
  run by that thread carry it (PySpark pins Python threads to JVM
  threads, so the group is thread-local);
- the ids of ungrouped jobs that appear during the span
  (``pool_jobs=True``), for calls that run Spark jobs from their own
  worker threads, which do not inherit the caller's job group.

Nothing is read from Spark while spans are open: job and stage figures
are collected once, after the measured loop, from ``statusTracker()``
and the application status store.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    trace: str
    parent: int | None
    start: float
    end: float = 0.0
    group: str | None = None
    pool_jobs: list[int] = field(default_factory=list)
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Work:
    """Spark work of one span: jobs, completed tasks, executor run time
    and shuffle bytes written, summed over the distinct stages."""

    jobs: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    shuffle_write_mb: float = 0.0

    def __add__(self, other: "Work") -> "Work":
        return Work(
            self.jobs + other.jobs,
            self.tasks + other.tasks,
            self.executor_run_s + other.executor_run_s,
            self.shuffle_write_mb + other.shuffle_write_mb,
        )


class Tracer:
    """Records spans when ``enabled``; otherwise every call is a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._spark = None
        self._work: dict[int, Work] = {}
        self._children: dict[int, list[Span]] = {}

    def bind(self, spark) -> None:
        """Attach the session whose jobs the spans attribute."""
        self._spark = spark

    @contextmanager
    def span(self, name: str, trace: str = "", pool_jobs: bool = False):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            sid=len(self.spans),
            name=name,
            trace=trace or (parent.trace if parent else ""),
            parent=parent.sid if parent else None,
            start=0.0,
        )
        self.spans.append(s)
        sc = self._spark.sparkContext if self._spark is not None else None
        before: set[int] = set()
        if sc is not None:
            s.group = f"pb-span-{s.sid}"
            sc.setJobGroup(s.group, name)
            if pool_jobs:
                before = set(sc.statusTracker().getJobIdsForGroup(None))
        self._stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                if pool_jobs:
                    after = set(sc.statusTracker().getJobIdsForGroup(None))
                    s.pool_jobs = sorted(after - before)
                outer = self._stack[-1] if self._stack else None
                if outer is not None and outer.group:
                    sc.setJobGroup(outer.group, outer.name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def add(self, name: str, trace: str, start: float, end: float,
            parent: int | None = None, **attrs) -> Span:
        """Record a span measured elsewhere (e.g. from a checkpoint)."""
        s = Span(len(self.spans), name, trace, parent, start, end, attrs=attrs)
        self.spans.append(s)
        return s

    # -- after the run ---------------------------------------------------

    def collect_work(self) -> None:
        """Read every span's Spark work from the status store (once)."""
        for s in self.spans:
            if s.parent is not None:
                self._children.setdefault(s.parent, []).append(s)
        if not self.enabled or self._spark is None:
            return
        sc = self._spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        jvm = sc._jvm
        no_statuses = jvm.java.util.ArrayList()
        no_quantiles = sc._gateway.new_array(jvm.double, 0)
        stage_cache: dict[int, Work] = {}

        def stage_work(stage_id: int) -> Work:
            if stage_id not in stage_cache:
                w = Work()
                attempts = store.stageData(
                    stage_id, False, no_statuses, False, no_quantiles
                ).iterator()
                while attempts.hasNext():
                    d = attempts.next()
                    w.tasks += d.numCompleteTasks()
                    w.executor_run_s += d.executorRunTime() / 1000.0
                    w.shuffle_write_mb += d.shuffleWriteBytes() / 1e6
                stage_cache[stage_id] = w
            return stage_cache[stage_id]

        for s in self.spans:
            if s.group is None:
                continue
            jobs = set(tracker.getJobIdsForGroup(s.group)) | set(s.pool_jobs)
            stages: set[int] = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            w = Work(jobs=len(jobs))
            for st in stages:
                w = w + stage_work(st)
            self._work[s.sid] = w

    def work(self, span: Span) -> Work:
        """Spark work of ``span`` and every span under it."""
        total = self._work.get(span.sid, Work())
        for child in self._children.get(span.sid, ()):
            total = total + self.work(child)
        return total

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str, t0: float) -> None:
        """Write spans as JSON lines, times in seconds from ``t0``."""
        with open(path, "w") as fh:
            for s in self.spans:
                w = self._work.get(s.sid)
                rec = {
                    "id": s.sid,
                    "name": s.name,
                    "trace": s.trace,
                    "parent": s.parent,
                    "start_s": round(s.start - t0, 6),
                    "end_s": round(s.end - t0, 6),
                }
                if w is not None:
                    rec["work"] = vars(w)
                rec.update(s.attrs)
                fh.write(json.dumps(rec) + "\n")
