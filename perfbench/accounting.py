"""Spark accounting for the traced run, read from outside the engine.

After each phase of a call (build, then the forcing action) the tracer
drains the listener bus and reads the jobs that appeared since the
previous phase from Spark's status tracker, and their stages from the
status store.  Jobs are attributed by id range, not only by job group,
because some operators submit jobs from their own driver threads, which
do not inherit the caller's job group.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field

MB = 1e6


@dataclass
class Usage:
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    task_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0

    def add(self, other: Usage) -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    workload: str
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Per-phase Spark usage plus an in-memory span log."""

    def __init__(self, spark, workload: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.workload = workload
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._tracker = self.sc.statusTracker()
        self._gc_beans = list(
            spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )
        self.spans: list[Span] = []
        self._seen_stages: set[int] = set()
        self._next_job = 0
        self._phase_start_ms = 0.0
        self.own_s = 0.0  # time spent inside the tracer's own reads

    # -- job/stage reads ---------------------------------------------------
    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def begin(self, group: str) -> None:
        """Start a phase: skip jobs run before it (untraced passes, output
        checks), tag its jobs and remember when it starts."""
        t0 = time.perf_counter()
        self._drain()
        while self._tracker.getJobInfo(self._next_job) is not None:
            self._next_job += 1
        self.sc.setJobGroup(group, group)
        self._phase_start_ms = time.time() * 1000.0 - 1.0
        self.own_s += time.perf_counter() - t0

    def end(self) -> Usage:
        """Usage of every job submitted since ``begin``."""
        t0 = time.perf_counter()
        self._drain()
        use = Usage()
        jid = self._next_job
        while (info := self._tracker.getJobInfo(jid)) is not None:
            use.jobs += 1
            for sid in info.stageIds:
                if sid not in self._seen_stages:
                    self._add_stage(sid, use)
            jid += 1
        self._next_job = jid
        self.sc.setJobGroup("bench-idle", "bench-idle")
        self.own_s += time.perf_counter() - t0
        return use

    def _add_stage(self, sid: int, use: Usage) -> None:
        sd = self._store.lastStageAttempt(sid)
        sub = sd.submissionTime()
        # skipped stages (shuffle output reused from an earlier job) have no
        # submission in this phase and cost nothing here
        if not sub.isDefined() or sub.get().getTime() < self._phase_start_ms:
            return
        self._seen_stages.add(sid)
        use.tasks += sd.numTasks()
        use.failed_tasks += sd.numFailedTasks()
        use.task_s += sd.executorRunTime() / 1000.0
        use.shuffle_mb += sd.shuffleWriteBytes() / MB
        use.spill_mb += sd.diskBytesSpilled() / MB

    # -- JVM-wide gauges -----------------------------------------------------
    def gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self._gc_beans) / 1000.0

    def held_mb(self) -> float:
        """Block-manager bytes (cached and checkpointed blocks) held now."""
        t0 = time.perf_counter()
        ex = self._store.executorList(True)
        held = sum(
            (ex.apply(i).memoryUsed() + ex.apply(i).diskUsed()) / MB
            for i in range(ex.size())
        )
        self.own_s += time.perf_counter() - t0
        return held

    # -- spans -------------------------------------------------------------
    def span(self, name, start, end, parent, **attrs) -> None:
        self.spans.append(Span(name, start, end, parent, self.workload, attrs))

    def write_spans(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


class LayerTotals:
    """Per-layer sums over the traced passes."""

    def __init__(self):
        self.build_s: dict[str, float] = defaultdict(float)
        self.exec_s: dict[str, float] = defaultdict(float)
        self.build: dict[str, Usage] = defaultdict(Usage)
        self.total: dict[str, Usage] = defaultdict(Usage)
        self.output_mb = 0.0

    def add(self, layer: str, build_s: float, exec_s: float, b: Usage, e: Usage):
        self.build_s[layer] += build_s
        self.exec_s[layer] += exec_s
        self.build[layer].add(b)
        self.total[layer].add(b)
        self.total[layer].add(e)
