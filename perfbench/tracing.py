"""Spans, counters and Spark status-store readings for the traced run.

The benchmark records spans only around its own calls into the program:
the package's public functions it calls directly, and a few functions
wrapped where their callers look them up (module globals, the runner's
``Stage.fn`` and the methods of the one ``Catalog`` instance the benchmark
builds). Nothing in the package is edited. Spans stay in memory and are
written once, when the run ends.

A span's *layer* is its name up to the first dot; a layer's self time is
the time its spans cover minus the time their child spans cover.
"""

from __future__ import annotations

import functools
import itertools
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int


class Tracer:
    """Records spans and counters while ``enabled``; otherwise a no-op."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        #: (op, name) -> summed count
        self.counts: dict[tuple[int, str], float] = defaultdict(float)
        self.op = -1
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent,
                               self.op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span named ``name``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            self.counts[(self.op, name)] += n

    def durations(self, ops: set[int], name: str) -> float:
        """Summed duration of spans called ``name`` within ``ops``."""
        return sum(s.end - s.start for s in self.spans
                   if s.name == name and s.op in ops)

    def self_times(self, ops: set[int]) -> dict[str, float]:
        """Layer -> self time summed over the spans of ``ops``."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if s.op in ops:
                out[s.name.split(".")[0]] += s.end - s.start - child[i]
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": [asdict(s) for s in self.spans]}, f)


@dataclass
class JobStats:
    """What the status store says about the jobs of some job groups."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    wall_s: float = 0.0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    def add(self, other: "JobStats") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


class SparkProbe:
    """Reads per-job-group metrics from Spark's in-process status store
    (works with the UI off). Each stage is counted once per run, so a
    stage skipped because an earlier job already ran it adds nothing. Job
    group names carry a prefix per probe, so runs that share a session
    never read each other's jobs."""

    _probes = itertools.count()

    def __init__(self, spark) -> None:
        self._prefix = f"p{next(SparkProbe._probes)}."
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._seen_stages: set[int] = set()

    def set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(self._prefix + group, group)

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds the jobs that just finished."""
        self._jsc.listenerBus().waitUntilEmpty()

    def group_stats(self, group: str) -> JobStats:
        st = JobStats()
        tracker = self.sc.statusTracker()
        for job_id in tracker.getJobIdsForGroup(self._prefix + group):
            job = self._store.job(job_id)
            st.jobs += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                st.wall_s += (done.get().getTime()
                              - sub.get().getTime()) / 1000.0
            ids = job.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                stage = self._store.lastStageAttempt(sid)
                if stage.status().toString() == "SKIPPED":
                    continue
                st.stages += 1
                st.tasks += stage.numCompleteTasks()
                st.executor_run_s += stage.executorRunTime() / 1e3
                st.executor_cpu_s += stage.executorCpuTime() / 1e9
                st.gc_s += stage.jvmGcTime() / 1e3
                st.input_bytes += stage.inputBytes()
                st.shuffle_read_bytes += stage.shuffleReadBytes()
                st.shuffle_write_bytes += stage.shuffleWriteBytes()
                st.spill_bytes += (stage.memoryBytesSpilled()
                                   + stage.diskBytesSpilled())
        return st


def catalyst_ms(df) -> dict[str, float]:
    """Catalyst phase times of ``df``'s query execution, from its
    ``QueryPlanningTracker`` (analysis, optimization, planning)."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        ph = phases.get(name)
        out[name] = float(ph.get().durationMs()) if ph.isDefined() else 0.0
    return out
