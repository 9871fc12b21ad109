"""Spans around calls into the engine's public functions, with each span's
Spark counters read back from the JVM status store.

A span sets its own Spark job group for the calls it wraps, so every job
those calls start is attributed to exactly one span. Spans nest in time,
but a job belongs only to the innermost span open on the thread that
started it. When the span ends, the listener bus is drained and the
span's stage counters are summed from ``statusStore().lastStageAttempt``.

Spans live in memory (``Tracer.spans``); ``run.py`` folds them into the
per-layer metrics when the run ends.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PROP = "spark.jobGroup.id"
DESC_PROP = "spark.job.description"
COUNTERS = (
    "stages", "tasks", "tasks_failed", "run_s", "stage_s", "gc_s",
    "spill_bytes", "shuffle_bytes", "input_bytes", "input_records",
)


@dataclass
class Span:
    name: str
    layer: str
    parent: int | None
    start: float
    end: float = 0.0
    failed: bool = False
    job_ids: list = field(default_factory=list)
    counters: dict = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))
    input_counters: dict = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def _settle(sc) -> None:
    """Wait until the listener bus has delivered every event so far, so
    the status store holds final counters for the jobs just finished."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def stage_counters(sc, job_ids) -> tuple[dict, dict]:
    """Sum the status-store counters of every stage of ``job_ids``.

    Returns (all stages, stages that read input). A stage reads input
    when it decodes files or reads cached blocks; the second sum is the
    ``sources`` view of the same stages."""
    every, reads = dict.fromkeys(COUNTERS, 0), dict.fromkeys(COUNTERS, 0)
    store = sc._jsc.sc().statusStore()
    seen = set()
    for jid in job_ids:
        info = sc.statusTracker().getJobInfo(jid)
        for sid in info.stageIds if info is not None else ():
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # py4j: stage evicted or never submitted
                continue
            if sd.numCompleteTasks() == 0 and sd.numFailedTasks() == 0:
                continue  # skipped: its shuffle output was reused
            sub, done = sd.submissionTime(), sd.completionTime()
            stage_s = (
                (done.get().getTime() - sub.get().getTime()) / 1000.0
                if sub.isDefined() and done.isDefined()
                else 0.0
            )
            vals = {
                "stages": 1,
                "tasks": sd.numCompleteTasks(),
                "tasks_failed": sd.numFailedTasks(),
                "run_s": sd.executorRunTime() / 1000.0,
                "stage_s": stage_s,
                "gc_s": sd.jvmGcTime() / 1000.0,
                "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                "shuffle_bytes": sd.shuffleReadBytes() + sd.shuffleWriteBytes(),
                "input_bytes": sd.inputBytes(),
                "input_records": sd.inputRecords(),
            }
            for k, v in vals.items():
                every[k] += v
                if vals["input_records"] > 0:
                    reads[k] += v
    return every, reads


class Tracer:
    """Records spans; ``enabled=False`` makes ``span`` a no-op, so the
    same workload code serves timed and traced runs."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        idx = len(self.spans)
        s = Span(name, layer, self._stack[-1] if self._stack else None, 0.0)
        self.spans.append(s)
        group = f"perfbench-{idx}"
        prev = (sc.getLocalProperty(GROUP_PROP), sc.getLocalProperty(DESC_PROP))
        sc.setLocalProperty(GROUP_PROP, group)
        sc.setLocalProperty(DESC_PROP, name)
        self._stack.append(idx)
        s.start = time.perf_counter()
        try:
            yield s
        except BaseException:
            s.failed = True
            raise
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            sc.setLocalProperty(GROUP_PROP, prev[0])
            sc.setLocalProperty(DESC_PROP, prev[1])
            _settle(sc)
            s.job_ids = list(sc.statusTracker().getJobIdsForGroup(group))
            s.counters, s.input_counters = stage_counters(sc, s.job_ids)
