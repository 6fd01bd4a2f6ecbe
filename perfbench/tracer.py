"""Outside-in tracer: spans around calls into the engine's public
functions, each span with a Spark job group of its own, and the Spark
counters of those jobs read back from the status store.

A span records name, start, end, parent and run id, and lives in memory
until the benchmark ends. Spark sends a job to the innermost job group
set on the submitting thread, so a span's own group holds only the jobs
its children did not submit; a parent's totals are the sum over its
children plus its own ("rest") group. Group names carry the run id and a
sequence number, so repeated passes never add up into one group.

The counters come from ``sc.statusTracker()`` (jobs of a group, stages
of a job) and ``sc._jsc.sc().statusStore().lastStageAttempt(id)``
(tasks, executor run time, input, shuffle and spill bytes of a stage);
both work with the UI disabled. The status store keeps only the last
``spark.ui.retainedJobs``/``retainedStages`` entries, so the benchmark
raises both before the session starts.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    name: str
    run_id: str
    group: str
    parent: "Span | None"
    start: float
    end: float | None = None
    counters: dict = field(default_factory=dict)
    #: counters of each stage the span's own jobs ran
    stages: list = field(default_factory=list)
    #: (submitted, completed) wall-clock seconds of the span's own jobs
    job_intervals: list = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class StageCounters:
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    input_bytes: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    single_task_stages: int = 0

    def add(self, other: "StageCounters") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


class Tracer:
    """Collects the spans of one traced run; untraced runs make none.
    ``run_id`` names the pass the next spans belong to."""

    def __init__(self, spark, run_id: str = "r0"):
        self.run_id = run_id
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._seq = 0

    # -- spans ---------------------------------------------------------

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, span.name)

    def open(self, name: str) -> Span:
        self._seq += 1
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            name=name,
            run_id=self.run_id,
            group=f"perfbench-{self.run_id}-{self._seq}-{name}",
            parent=parent,
            start=time.time(),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        return sp

    def close(self, sp: Span) -> None:
        # close any child left open (a span opened by a wrapped callee
        # that is meant to run until its caller returns)
        while self._stack and self._stack[-1] is not sp:
            self.close(self._stack[-1])
        sp.end = time.time()
        self._stack.pop()
        self._set_group(self._stack[-1] if self._stack else None)

    @contextmanager
    def span(self, name: str):
        sp = self.open(name)
        try:
            yield sp
        finally:
            self.close(sp)

    def wrap(self, fn, name: str):
        """``fn`` with every call inside a span called ``name``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # -- counters ------------------------------------------------------

    def _stage(self, store, stage_id: int) -> StageCounters:
        c = StageCounters()
        try:
            s = store.lastStageAttempt(stage_id)
        except Py4JJavaError:  # the JVM's NoSuchElementException: never attempted
            s = None
        # a skipped stage (its shuffle output reused) ran no task
        if s is not None and s.numCompleteTasks() > 0:
            c.stages = 1
            c.tasks = s.numCompleteTasks()
            c.executor_run_s = s.executorRunTime() / 1000.0
            c.input_bytes = s.inputBytes()
            c.shuffle_bytes = s.shuffleReadBytes() + s.shuffleWriteBytes()
            c.spill_bytes = s.memoryBytesSpilled() + s.diskBytesSpilled()
            c.single_task_stages = int(s.numCompleteTasks() <= 1)
        return c

    def collect(self) -> None:
        """Fill each span's own counters (jobs of its own group).

        A later job lists the stages whose shuffle output it reuses as
        skipped, with the same stage ids, so each stage counts once: in
        the earliest job (lowest id) that lists it."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        owner = sorted(
            (j, i) for i, sp in enumerate(self.spans) for j in tracker.getJobIdsForGroup(sp.group)
        )
        counted: set[int] = set()
        acc = [StageCounters() for _ in self.spans]
        jobs = [0] * len(self.spans)
        for j, i in owner:
            sp = self.spans[i]
            jobs[i] += 1
            info = tracker.getJobInfo(j)
            for sid in sorted(info.stageIds) if info else ():
                if sid not in counted:
                    counted.add(sid)
                    st = self._stage(store, sid)
                    sp.stages.append(st)
                    acc[i].add(st)
            jd = store.job(j)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                sp.job_intervals.append((sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0))
        for i, sp in enumerate(self.spans):
            sp.counters = {"jobs": jobs[i], **acc[i].__dict__}

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent is sp]

    def total(self, sp: Span, key: str):
        """A counter summed over the span and all its descendants."""
        return sp.counters.get(key, 0) + sum(self.total(c, key) for c in self.children(sp))

    def self_time(self, sp: Span) -> float:
        """Span time not covered by its children's intervals."""
        return sp.duration - covered(sp, [(c.start, c.end) for c in self.children(sp)])

    def driver_time(self, sp: Span) -> float:
        """Span time not covered by the span's own Spark jobs."""
        return sp.duration - covered(sp, sp.job_intervals)

    def subtree(self, sp: Span) -> list[Span]:
        out = [sp]
        for c in self.children(sp):
            out += self.subtree(c)
        return out

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


def covered(sp: Span, intervals) -> float:
    """Length of the union of ``intervals`` clipped to the span."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        s, e = max(s, sp.start), min(e, sp.end)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
