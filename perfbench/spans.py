"""Spans around the package's public calls, with Spark counters per span.

A span is opened around one call into one layer. With tracing on it
sets its own job group, and right after the call it reads the jobs and
stages the call started from the scheduler and the status store. Jobs
and stages are numbered in order, so the ones a span started are the
ids between its start and its end; that also catches jobs that a
streaming query runs on its own thread. The status store keeps only the
last ~1000 jobs and stages, so counters are read at once, never later.

Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

COUNTERS = ("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes",
            "executor_busy_s", "input_bytes", "output_bytes")
_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description",
               "spark.job.interruptOnCancel")


@dataclass
class Span:
    name: str
    trace_id: str
    parent: int | None
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)
    children_s: float = 0.0

    @property
    def self_s(self) -> float:
        return self.end - self.start - self.children_s


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` only yields."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._open: list[int] = []
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()

    @contextmanager
    def span(self, name: str, trace_id: str):
        if not self.enabled:
            yield
            return
        parent = self._open[-1] if self._open else None
        sc = self._sc
        prior = [sc.getLocalProperty(k) for k in _GROUP_KEYS]
        sc.setJobGroup(f"{trace_id}/{name}", name)
        job0, stage0 = self._dag.nextJobId(), self._dag.nextStageId()
        sp = Span(name, trace_id, parent, time.perf_counter())
        self.spans.append(sp)
        self._open.append(len(self.spans) - 1)
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            self._open.pop()
            for k, v in zip(_GROUP_KEYS, prior):
                sc.setLocalProperty(k, v)
            self._bus.waitUntilEmpty()
            job1, stage1 = self._dag.nextJobId(), self._dag.nextStageId()
            sp.counters = self._stage_counters(stage0, stage1)
            sp.counters["jobs"] = job1 - job0
            if parent is not None:
                # the parent's self time excludes this span's counter reads
                self.spans[parent].children_s += time.perf_counter() - sp.start

    def _stage_counters(self, first: int, last: int) -> dict:
        c = dict.fromkeys(COUNTERS, 0)
        for sid in range(first, last):
            try:
                d = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage planned but never submitted
                continue
            if d.status().toString() == "SKIPPED":
                continue
            c["stages"] += 1
            c["tasks"] += d.numCompleteTasks()
            c["shuffle_write_bytes"] += d.shuffleWriteBytes()
            c["spill_bytes"] += d.diskBytesSpilled()
            c["executor_busy_s"] += d.executorRunTime() / 1000.0
            c["input_bytes"] += d.inputBytes()
            c["output_bytes"] += d.outputBytes()
        return c

    def exclusive(self) -> list[dict]:
        """Spans with counters made exclusive of their child spans."""
        out = []
        for i, sp in enumerate(self.spans):
            own = dict(sp.counters)
            for ch in self.spans:
                if ch.parent == i:
                    for k in COUNTERS:
                        own[k] -= ch.counters[k]
            out.append({"name": sp.name, "trace_id": sp.trace_id,
                        "parent": sp.parent, "start": sp.start,
                        "end": sp.end, "self_s": sp.self_s, **own})
        return out
