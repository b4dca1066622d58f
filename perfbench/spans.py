"""Spans and Spark counters recorded from the benchmark's side of each
layer call.

A span is ``(id, parent, name, pass, start, end)``; spans stay in memory
until the run ends. The Spark counters read what the engine already
keeps: the status tracker's jobs, stages and tasks of one job group, the
status store's shuffle and spill bytes, the planning phases of each
write's query execution, and the JVM's GC MXBeans.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    pass_no: int
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Records spans and counts while ``active``; free when it is not."""

    active: bool = False
    pass_no: int = -1
    spans: list[Span] = field(default_factory=list)
    counts: dict[tuple[int, str], float] = field(default_factory=dict)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        s = Span(len(self.spans), self._stack[-1] if self._stack else None, name, self.pass_no, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def add(self, name: str, value: float) -> None:
        if self.active:
            key = (self.pass_no, name)
            self.counts[key] = self.counts.get(key, 0.0) + value

    def per_pass(self, name: str, passes: list[int]) -> list[float]:
        """Total of span ``name`` (seconds) or count ``name`` in each pass."""
        totals = {p: self.counts.get((p, name), 0.0) for p in passes}
        for s in self.spans:
            if s.name == name and s.pass_no in totals:
                totals[s.pass_no] += s.seconds
        return [totals[p] for p in passes]


class PlanListener:
    """A Spark ``QueryExecutionListener`` that keeps, for each noop write,
    the optimization plus physical-planning time from the write's own
    ``QueryExecution`` tracker: the planning the write does anyway, with
    nothing planned twice. Spark calls it from its listener bus, so the
    times of a pass are all in once the bus is drained."""

    PHASES = ("optimization", "planning")

    def __init__(self) -> None:
        self.seconds: list[float] = []

    @classmethod
    def register(cls, spark) -> "PlanListener":
        from pyspark.java_gateway import ensure_callback_server_started

        listener = cls()
        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(listener)
        return listener

    def onSuccess(self, func_name, qe, duration_ns) -> None:  # noqa: N802 - Java interface
        if func_name == "overwrite":  # DataFrameWriter.save in overwrite mode
            phases = qe.tracker().phases()
            self.seconds.append(sum(phases.apply(p).durationMs() for p in self.PHASES if phases.contains(p)) / 1000)

    def onFailure(self, func_name, qe, exception) -> None:  # noqa: N802 - Java interface
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def gc_seconds(spark) -> float:
    """Total collection time of the driver JVM (local mode: the only JVM)."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def job_group_counters(spark, group: str) -> dict[str, float]:
    """Jobs, executed stages, tasks, shuffle-write and spill bytes of one
    job group. Drains the listener bus first: the status store is filled
    asynchronously, so without it the last job's stages may be missing."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = jsc.statusStore()
    job_ids = tracker.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = {"spark.jobs": float(len(job_ids)), "spark.stages": 0.0, "spark.tasks": 0.0,
           "spark.shuffle_write_bytes": 0.0, "spark.spill_bytes": 0.0}
    for sid in stage_ids:
        data = store.lastStageAttempt(sid)
        if data.status().toString() == "SKIPPED":
            continue
        out["spark.stages"] += 1
        out["spark.tasks"] += data.numTasks()
        out["spark.shuffle_write_bytes"] += data.shuffleWriteBytes()
        out["spark.spill_bytes"] += data.memoryBytesSpilled() + data.diskBytesSpilled()
    return out
