"""Spans around the benchmark's calls into the program, and the Spark
counters of the jobs each span ran.

A :class:`Tracer` is created disabled for the end-to-end run, where
:meth:`Tracer.span` records nothing. Enabled, every span records
its name, start, end and parent, and tags the Spark jobs it starts with a job
group of its own, so that after a session :meth:`Tracer.harvest` can read
each job's stages from Spark's status store. Spans stay in memory until
:meth:`Tracer.dump` writes them when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import dataclass, field

#: metric name -> (Spark status-store StageData getter, scale to the unit)
_STAGE_COUNTERS = {
    "tasks": ("numTasks", 1.0),
    "executor_run_s": ("executorRunTime", 1e-3),
    "cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_read_mb": ("shuffleReadBytes", 1e-6),
    "shuffle_write_mb": ("shuffleWriteBytes", 1e-6),
    "spill_mb": ("diskBytesSpilled", 1e-6),
}


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: list[tuple[float, float]] = field(default_factory=list)  # (submit, done), s
    spark: dict[str, float] = field(default_factory=dict)


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spark = None
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._unharvested: list[Span] = []
        #: seconds spent in the tracer's own bookkeeping inside spans
        self.overhead_s = 0.0

    def bind(self, spark) -> None:
        self.spark = spark

    @contextlib.contextmanager
    def span(self, name: str):
        """Time the block as span ``name`` (``layer.operation``)."""
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.sid if parent else None, 0.0)
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t0
        try:
            yield
        finally:
            t1 = time.perf_counter()
            sp.end = t1
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self._unharvested.append(sp)
            self.overhead_s += time.perf_counter() - t1

    def _set_group(self, sp: Span | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if sp is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(f"span-{sp.sid}", sp.name)

    def harvest(self) -> None:
        """Attach Spark job intervals and stage counters to the spans closed
        since the last harvest. Runs between sessions, outside their timing."""
        if not self.enabled or self.spark is None or not self._unharvested:
            return
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        # perf_counter origin expressed in epoch seconds, to place job times
        offset = time.time() - time.perf_counter()
        for sp in self._unharvested:
            counters = dict.fromkeys(["jobs", *_STAGE_COUNTERS], 0.0)
            for job_id in tracker.getJobIdsForGroup(f"span-{sp.sid}"):
                job = store.job(job_id)
                counters["jobs"] += 1
                sub, done = job.submissionTime(), job.completionTime()
                if sub.isDefined() and done.isDefined():
                    sp.jobs.append(
                        (sub.get().getTime() / 1e3 - offset, done.get().getTime() / 1e3 - offset)
                    )
                info = tracker.getJobInfo(job_id)
                for stage_id in info.stageIds if info else []:
                    st = store.lastStageAttempt(stage_id)
                    for name, (getter, scale) in _STAGE_COUNTERS.items():
                        counters[name] += getattr(st, getter)() * scale
            sp.spark = counters
        self._unharvested.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def subtree(spans: list[Span], root: Span) -> list[Span]:
    """``root`` and every span opened under it."""
    ids, out = {root.sid}, [root]
    for s in spans[root.sid + 1 :]:
        if s.parent in ids:
            ids.add(s.sid)
            out.append(s)
    return out


def session_breakdown(spans: list[Span], root: Span) -> dict[str, float]:
    """Per-layer self time, named-layer coverage and Spark counters of one
    session span ``root``.

    A span's self time is its duration minus the part of it its child spans
    cover; a layer is the span name up to its last dot. Coverage is the share
    of the session covered by its child spans. ``spark.driver_s`` is session
    wall time minus the union of the session's job intervals.
    """
    tree = subtree(spans, root)
    children: dict[int, list[Span]] = {}
    for s in tree[1:]:
        children.setdefault(s.parent, []).append(s)

    out: dict[str, float] = {}
    for s in tree[1:]:
        kids = _union_len([(c.start, c.end) for c in children.get(s.sid, [])])
        key = s.name.rsplit(".", 1)[0] + ".self_s"
        out[key] = out.get(key, 0.0) + (s.end - s.start) - kids
    wall = root.end - root.start
    covered = _union_len([(c.start, c.end) for c in children.get(root.sid, [])])
    out["trace.coverage"] = covered / wall if wall > 0 else 0.0
    out["spark.driver_s"] = wall - _union_len([j for s in tree for j in s.jobs])
    for key in ["jobs", *_STAGE_COUNTERS]:
        out[f"spark.{key}"] = sum(s.spark.get(key, 0.0) for s in tree)
    return out
