"""Spans around calls into the engine, and the Spark status-store reads
that attribute jobs and stages to them.

Both are used only by the traced run.  An untraced run gets a
``Tracer(None)``, whose spans and tags do nothing, so the end-to-end
numbers carry no tracing cost and launch no Spark jobs of their own.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class StageTotals:
    """Sums over the stages of a set of Spark jobs."""

    jobs: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    peak_exec_mem_mb: float = 0.0

    def add(self, other: "StageTotals") -> None:
        for name in ("jobs", "tasks", "cpu_s", "run_s", "gc_s",
                     "shuffle_write_mb", "spill_mb"):
            setattr(self, name, getattr(self, name) + getattr(other, name))
        self.peak_exec_mem_mb = max(self.peak_exec_mem_mb, other.peak_exec_mem_mb)


class StatusStore:
    """Reads job and stage data from the driver's AppStatusStore after the
    work has finished; it never submits a job."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._empty = self._sc._jvm.java.util.ArrayList()
        self._max_job = -1
        self._job_tags: dict[int, tuple[set[str], list[int]]] = {}
        self.forget_all()

    def _drain(self) -> None:
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _read_new_jobs(self) -> None:
        self._drain()
        jobs = self._store.jobsList(self._empty)  # newest first
        newest = self._max_job
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid <= self._max_job:
                break
            newest = max(newest, jid)
            tags = set(j.jobTags().mkString("\u0001").split("\u0001"))
            ids = j.stageIds()
            self._job_tags[jid] = (tags, [ids.apply(k) for k in range(ids.size())])
        self._max_job = newest

    def forget_all(self) -> None:
        """Mark every job so far as seen, so later reads start here."""
        self._read_new_jobs()
        self._job_tags.clear()

    def totals(self, tag: str) -> StageTotals:
        """Totals over the jobs that carried ``tag``."""
        self._read_new_jobs()
        out = StageTotals()
        for tags, stage_ids in self._job_tags.values():
            if tag not in tags:
                continue
            out.jobs += 1
            for sid in stage_ids:
                s = self._store.lastStageAttempt(sid)
                if s.status().toString() == "SKIPPED":
                    continue
                out.tasks += s.numCompleteTasks()
                out.cpu_s += s.executorCpuTime() / 1e9
                out.run_s += s.executorRunTime() / 1e3
                out.gc_s += s.jvmGcTime() / 1e3
                out.shuffle_write_mb += s.shuffleWriteBytes() / 1048576.0
                out.spill_mb += s.diskBytesSpilled() / 1048576.0
                out.peak_exec_mem_mb = max(
                    out.peak_exec_mem_mb, s.peakExecutionMemory() / 1048576.0
                )
        return out


@dataclass
class Span:
    name: str
    op: int | None
    parent: int | None
    tag: str
    start: float
    end: float = 0.0


@dataclass
class Tracer:
    """Spans kept in memory and written out at the end of the run.

    ``Tracer(None)`` is the untraced run's tracer: every method is a
    no-op, so the ops run exactly as they would without the benchmark.
    """

    spark: object
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    def __post_init__(self) -> None:
        self.store = StatusStore(self.spark) if self.spark is not None else None

    @property
    def enabled(self) -> bool:
        return self.store is not None

    @contextmanager
    def span(self, name: str, op: int | None = None):
        """Time ``name`` as a child of the innermost open span, and tag the
        Spark jobs it submits.  Yields the tag, or None when untraced."""
        if not self.enabled:
            yield None
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        tag = f"perfbench-{idx}"
        self.spans.append(Span(name, op, parent, tag, time.perf_counter()))
        self._stack.append(idx)
        sc = self.spark.sparkContext
        sc.addJobTag(tag)
        try:
            yield tag
        finally:
            sc.removeJobTag(tag)
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its child spans
        cover, summed over all spans of that name."""
        covered = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                covered[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for s, c in zip(self.spans, covered):
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - c
        return out

    def dump(self) -> list[dict]:
        return [
            {"id": i, "name": s.name, "op": s.op, "parent": s.parent,
             "tag": s.tag, "start": s.start, "end": s.end}
            for i, s in enumerate(self.spans)
        ]
