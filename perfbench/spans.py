"""Spans at layer boundaries, with Spark's own per-stage metrics attached.

A span records name, start, end, parent and run id, plus counts taken at
the same boundary. Spans stay in memory and are written out once, when
the run ends. A span's self time is its duration minus the part of that
interval its child spans cover (children may overlap, e.g. the table
writes `TableStore.commit_batch` submits concurrently).

Spark metrics come from the application status store, which Spark keeps
even with `spark.ui.enabled=false`: every job started while a span is open
is attributed to it, and its stages' executor run time, CPU time, GC time,
shuffle bytes and spill are summed.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

MB = 2**20


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
    total, reach = 0.0, float("-inf")
    for start, end in sorted(intervals):
        if end <= reach:
            continue
        total += end - max(start, reach)
        reach = end
    return total


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    counts: dict = field(default_factory=dict)
    spark: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class StatusStore:
    """Per-stage metrics of the jobs a block of code ran."""

    def __init__(self, spark):
        self._gw = spark.sparkContext._gateway
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()

    def job_watermark(self) -> int:
        """Id the next submitted job will get."""
        return self._sc.dagScheduler().numTotalJobs()

    def metrics(self, first_job: int, end_job: int) -> dict:
        """Summed stage metrics of jobs [first_job, end_job), after the
        listener bus has delivered their completion events."""
        self._sc.listenerBus().waitUntilEmpty()
        quant = self._gw.new_array(self._gw.jvm.double, 2)
        quant[0], quant[1] = 0.5, 1.0
        out = dict.fromkeys(
            ("run_s", "cpu_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb",
             "spill_mb", "output_mb", "input_mb", "tasks", "task_skew"),
            0.0,
        )
        out["jobs"] = end_job - first_job
        stages, slowest_stage = set(), (-1.0, 0.0)
        for job_id in range(first_job, end_job):
            ids = self._store.job(job_id).stageIds()
            stages.update(ids.apply(i) for i in range(ids.size()))
        for sid in sorted(stages):
            sd = self._store.lastStageAttempt(sid)
            if str(sd.status()) != "COMPLETE":
                continue  # skipped stages reused earlier shuffle output
            out["run_s"] += sd.executorRunTime() / 1e3
            out["cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["shuffle_read_mb"] += sd.shuffleReadBytes() / MB
            out["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
            out["spill_mb"] += (
                sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            ) / MB
            out["output_mb"] += sd.outputBytes() / MB
            out["input_mb"] += sd.inputBytes() / MB
            out["tasks"] += sd.numTasks()
            if sd.executorRunTime() > slowest_stage[0] and sd.numTasks() > 1:
                summary = self._store.taskSummary(sid, sd.attemptId(), quant)
                if summary.isDefined():
                    rt = summary.get().executorRunTime()
                    med, top = rt.apply(0), rt.apply(1)
                    slowest_stage = (
                        float(sd.executorRunTime()),
                        top / med if med > 0 else 1.0,
                    )
        # skew of the busiest multi-task stage: slowest task / median task
        out["task_skew"] = slowest_stage[1]
        return out


class Tracer:
    """Collects spans; optionally attributes Spark jobs to each span."""

    def __init__(self, run_id: str, store: StatusStore | None = None,
                 cpu_fn=None):
        self.run_id = run_id
        self.store = store
        self.cpu_fn = cpu_fn  # () -> CPU seconds, recorded as counts["cpu_s"]
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, parent: int | None = None, spark: bool = True,
             **counts):
        """Open a span; yields its Span so the block can add counts.

        The parent defaults to the innermost span open on this thread;
        pass `parent` for work a pool thread does on behalf of a span, and
        `spark=False` where concurrent siblings would share its jobs."""
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        sp = Span(name, time.perf_counter(), 0.0, parent, self.run_id,
                  dict(counts))
        with self._lock:
            self.spans.append(sp)
            idx = len(self.spans) - 1
        stack.append(idx)
        store = self.store if spark else None
        first_job = store.job_watermark() if store else 0
        cpu0 = self.cpu_fn() if self.cpu_fn else 0.0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if self.cpu_fn:
                sp.counts["cpu_s"] = self.cpu_fn() - cpu0
            if store is not None:
                sp.spark = store.metrics(first_job, store.job_watermark())

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def self_time(self, idx: int) -> float:
        sp = self.spans[idx]
        kids = [
            (max(c.start, sp.start), min(c.end, sp.end))
            for c in self.children(idx)
        ]
        return sp.duration - covered([k for k in kids if k[1] > k[0]])

    def dump(self, path: str) -> None:
        rows = []
        for i, s in enumerate(self.spans):
            row = asdict(s)
            row.update(id=i, self_s=self.self_time(i))
            rows.append(row)
        with open(path, "w") as f:
            json.dump(rows, f, indent=1)
