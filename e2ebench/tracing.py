"""Timing and tracing of the engine's public calls, from outside.

:class:`Recorder` wraps each public call the benchmark makes.  Untraced,
it only reads the clock around the call.  Traced, it also keeps a span
per call (name, start, end, parent, run id) and the Spark work the call
caused: jobs, completed tasks, shuffle bytes, executor run time, GC time
and the union of the jobs' intervals.  Spans stay in memory until
:meth:`Recorder.write_spans`.

Spark work is attributed by id, not by list length: before a call the
recorder notes the highest job and stage id in the status store, and
afterwards takes every entry above them.  The store evicts old entries
past ``spark.ui.retainedJobs``/``retainedStages``, so list lengths stop
growing while ids keep rising.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Work:
    """Spark work caused by one call (zero when untraced)."""

    jobs: int = 0
    tasks: int = 0
    shuffle_bytes: int = 0
    exec_run_ms: int = 0
    gc_ms: int = 0
    job_union_s: float = 0.0

    def add(self, o: Work) -> None:
        for k, v in asdict(o).items():
            setattr(self, k, getattr(self, k) + v)


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    work: Work = field(default_factory=Work)

    @property
    def wall(self) -> float:
        return self.end - self.start


def _union_s(intervals: list[tuple[int, int]]) -> float:
    """Seconds covered by the union of ``[start_ms, end_ms]`` intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0


class SparkStatus:
    """Reads the driver's status store (it answers with the UI off)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def _drain(self) -> None:
        # the store is filled by the listener bus, asynchronously
        self._sc.listenerBus().waitUntilEmpty()

    def mark(self) -> tuple[int, int]:
        self._drain()
        store = self._sc.statusStore()
        jobs = store.jobsList(None)
        stages = store.stageList(None, False, False, self._no_quantiles, None)
        # both lists come newest first
        top_job = jobs.apply(0).jobId() if jobs.size() else -1
        top_stage = stages.apply(0).stageId() if stages.size() else -1
        return top_job, top_stage

    def since(self, mark: tuple[int, int]) -> tuple[Work, tuple[int, int]]:
        """Work of every job and stage with an id above ``mark``, and the new mark."""
        self._drain()
        store = self._sc.statusStore()
        w = Work()
        jobs = store.jobsList(None)
        intervals = []
        top_job = mark[0]
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= mark[0]:
                break
            top_job = max(top_job, j.jobId())
            w.jobs += 1
            if j.submissionTime().isDefined() and j.completionTime().isDefined():
                intervals.append((j.submissionTime().get().getTime(),
                                  j.completionTime().get().getTime()))
        w.job_union_s = _union_s(intervals)
        stages = store.stageList(None, False, False, self._no_quantiles, None)
        top_stage = mark[1]
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() <= mark[1]:
                break
            top_stage = max(top_stage, s.stageId())
            w.tasks += s.numCompleteTasks()
            w.shuffle_bytes += s.shuffleReadBytes() + s.shuffleWriteBytes()
            w.exec_run_ms += s.executorRunTime()
            w.gc_ms += s.jvmGcTime()
        return w, (top_job, top_stage)


class Recorder:
    """Times public calls; when ``traced``, also records spans and Spark work.

    ``walls[name]`` collects every wall time for ``name``; ``failures``
    counts calls that raised (the exception is re-raised to the caller).
    ``before_call`` is a test hook run inside each call's clock.
    """

    def __init__(self, spark, traced: bool, run_id: str):
        self.traced = traced
        self.run_id = run_id
        self.status = SparkStatus(spark) if traced else None
        self.spans: list[Span] = []
        self.walls: dict[str, list[float]] = {}
        self.failures: dict[str, int] = {}
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping
        self.before_call: Callable[[str], None] | None = None
        self._stack: list[Span] = []
        self._mark = self._timed(self.status.mark) if traced else None

    def _timed(self, fn, *args):
        t0 = time.perf_counter()
        try:
            return fn(*args)
        finally:
            self.overhead_s += time.perf_counter() - t0

    def _open(self, name: str) -> Span:
        sp = Span(len(self.spans), name, self._stack[-1].span_id if self._stack else None,
                  self.run_id, time.perf_counter())
        self.spans.append(sp)
        return sp

    @contextmanager
    def span(self, name: str):
        """A parent span around several calls (traced runs only)."""
        if not self.traced:
            yield None
            return
        sp = self._open(name)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.perf_counter()

    def call(self, name: str, fn: Callable, *args, **kwargs):
        """Run ``fn(*args, **kwargs)`` as the public call ``name``."""
        sp = self._open(name) if self.traced else None
        t0 = time.perf_counter()
        try:
            if self.before_call is not None:
                self.before_call(name)
            return fn(*args, **kwargs)
        except Exception:
            self.failures[name] = self.failures.get(name, 0) + 1
            raise
        finally:
            t1 = time.perf_counter()
            self.walls.setdefault(name, []).append(t1 - t0)
            if sp is not None:
                sp.start, sp.end = t0, t1
                sp.work, self._mark = self._timed(self.status.since, self._mark)
                for parent in self._stack:
                    parent.work.add(sp.work)

    def layer_work(self, prefix: str) -> tuple[Work, float]:
        """Summed work and summed driver gap (wall minus job-covered
        time) over the leaf spans named ``prefix.*``."""
        w, gap = Work(), 0.0
        parents = {s.parent for s in self.spans}
        for s in self.spans:
            if s.name.startswith(prefix + ".") and s.span_id not in parents:
                w.add(s.work)
                gap += max(0.0, s.wall - s.work.job_union_s)
        return w, gap

    def write_spans(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                d = asdict(s)
                d["wall"] = s.wall
                f.write(json.dumps(d) + "\n")


def peak_rss_mb(pid: int) -> float:
    """High-water resident set (VmHWM) of process ``pid``, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
