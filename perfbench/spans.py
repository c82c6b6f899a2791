"""Span recorder over Spark's in-process status store.

One span wraps one call into a layer's public function. Entering a span
puts the calling thread's Spark jobs under a fresh job group; leaving it
restores the parent's group. After a round of work, :meth:`resolve`
reads each span's jobs and their stages back from the status store
(which the Spark UI would display, and which stays populated with the UI
off): stages, tasks, executor run and CPU time, input, shuffle and spill
bytes. Spans are kept in memory and dumped when the benchmark ends.

A span marked ``threaded`` also claims the jobs without a job group
that start while it is open: a job submitted from another Python thread
(the sync service's worker) carries no group, because Spark's job group
is a per-thread property.

With ``enabled=False`` every span is a no-op, so the timed run and the
traced run go through the same code.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    group: str
    start: float = 0.0
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    resolved: bool = False

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        d = {k: v for k, v in self.__dict__.items() if k != "resolved"}
        d["wall_s"] = self.wall_s
        return d


class Recorder:
    def __init__(self, spark, enabled: bool, cores: int = 4):
        self.spark = spark
        self.enabled = enabled
        self.cores = cores
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.overhead_s = 0.0  # time spent inside the recorder itself

    @contextmanager
    def span(self, name: str, threaded: bool = False):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.id if parent else None,
                  f"perfbench-span-{len(self.spans)}")
        self.spans.append(sp)
        self._stack.append(sp)
        sc.setJobGroup(sp.group, name)
        ungrouped = set(sc.statusTracker().getJobIdsForGroup(None)) if threaded else None
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            tracker = sc.statusTracker()
            jobs = set(tracker.getJobIdsForGroup(sp.group))
            if threaded:
                jobs |= set(tracker.getJobIdsForGroup(None)) - ungrouped
            sp.jobs = sorted(jobs)
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent.group, parent.name)
            else:
                sc._jsc.clearJobGroup()
            self.overhead_s += time.perf_counter() - sp.end

    def resolve(self, timeout_s: float = 30.0) -> None:
        """Fill stage metrics of every finished, unresolved span. Waits
        until the listener has marked each job ended, so the stage
        figures are final."""
        if not self.enabled:
            return
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        deadline = t0 + timeout_s
        for sp in self.spans:
            if sp.resolved or sp.end == 0.0:
                continue
            stage_ids: set[int] = set()
            for jid in sp.jobs:
                while True:
                    info = tracker.getJobInfo(jid)
                    if info is not None and info.status in ("SUCCEEDED", "FAILED"):
                        break
                    if time.perf_counter() > deadline:
                        raise TimeoutError(f"job {jid} of span {sp.name} did not end")
                    time.sleep(0.01)
                stage_ids.update(info.stageIds)
            for sid in sorted(stage_ids):
                # stages skipped because their shuffle output was reused
                # never ran: the store holds no attempt for them
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — py4j NoSuchElementException
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                sp.stages += 1
                sp.tasks += st.numCompleteTasks()
                sp.executor_run_s += st.executorRunTime() / 1e3
                sp.executor_cpu_s += st.executorCpuTime() / 1e9
                sp.input_bytes += st.inputBytes()
                sp.shuffle_read_bytes += st.shuffleReadBytes()
                sp.shuffle_write_bytes += st.shuffleWriteBytes()
                sp.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
            sp.resolved = True
        self.overhead_s += time.perf_counter() - t0

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.id]

    def dump(self) -> list[dict]:
        return [s.as_dict() for s in self.spans]
