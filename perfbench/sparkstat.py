"""Per-layer Spark work, attributed by job-id and stage-id ranges.

A layer is the interval between two marks. Each mark reads the scheduler's
next job id and next stage id, so every job submitted inside the interval,
from any thread (``validate`` submits from a thread pool), lands in that
layer; job groups would miss those, because they are thread-local. Stage
metrics come from Spark's AppStatusStore, which is filled even with the UI
off.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

LAYER_METRICS = ("wall_s", "jobs", "task_cpu_s", "shuffle_write_mb", "spill_mb", "failed_tasks")


def _counter(value) -> int:
    # the scheduler keeps these in AtomicIntegers; py4j may hand back either
    return value if isinstance(value, int) else value.get()


@dataclass
class Mark:
    t: float
    job: int
    stage: int


@dataclass
class LayerSpan:
    name: str
    start: Mark
    end: Mark
    stats: dict[str, float] = field(default_factory=dict)


class SparkTracer:
    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._dag = self._sc.dagScheduler()

    def mark(self) -> Mark:
        return Mark(
            time.perf_counter(),
            _counter(self._dag.nextJobId()),
            _counter(self._dag.nextStageId()),
        )

    @contextmanager
    def layer(self, spans: list[LayerSpan], name: str):
        """Record the enclosed calls as layer ``name``, appended to ``spans``."""
        start = self.mark()
        yield
        spans.append(LayerSpan(name, start, self.mark()))

    def _stages_from(self, first_stage: int):
        store = self._sc.statusStore()
        args = [getattr(store, f"stageList$default${i}")() for i in (2, 3, 4, 5)]
        it = store.stageList(None, *args).iterator()
        while it.hasNext():
            s = it.next()
            if s.stageId() >= first_stage:
                yield s

    def attribute(self, spans: list[LayerSpan]) -> None:
        """Fill each span's ``stats`` (the LAYER_METRICS) from the status
        store. Call once the spans' jobs have finished."""
        if not spans:
            return
        self._sc.listenerBus().waitUntilEmpty()
        for sp in spans:
            sp.stats = {
                "wall_s": sp.end.t - sp.start.t,
                "jobs": float(sp.end.job - sp.start.job),
                "task_cpu_s": 0.0,
                "shuffle_write_mb": 0.0,
                "spill_mb": 0.0,
                "failed_tasks": 0.0,
            }
        lo = min(sp.start.stage for sp in spans)
        for s in self._stages_from(lo):
            sid = s.stageId()
            for sp in spans:
                if sp.start.stage <= sid < sp.end.stage:
                    st = sp.stats
                    st["task_cpu_s"] += s.executorCpuTime() / 1e9
                    st["shuffle_write_mb"] += s.shuffleWriteBytes() / 2**20
                    st["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20
                    st["failed_tasks"] += s.numFailedTasks()
                    break


def spans_between(names: list[str], marks: list[Mark]) -> list[LayerSpan]:
    """Consecutive marks delimit consecutive layers: ``names[i]`` runs from
    ``marks[i]`` to ``marks[i + 1]``."""
    if len(marks) != len(names) + 1:
        raise ValueError(f"{len(names)} layers need {len(names) + 1} marks, got {len(marks)}")
    return [LayerSpan(n, marks[i], marks[i + 1]) for i, n in enumerate(names)]
