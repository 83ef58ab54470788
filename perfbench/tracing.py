"""Spans around the benchmark's calls into each layer, and a reader for the
Spark stages each op ran.

Spans live in memory (name, start, end, parent, op) and are summarised at
the end of the run. Stage metrics come from the application status store
(``SparkContext.statusStore``), which works with the UI disabled. An op's
stages are the stage ids the DAG scheduler handed out between the op's
start and end mark: the benchmark runs one op at a time, so the id range
holds exactly the op's stages, including those of jobs started from
threads that do not inherit the op's job group.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of it its children cover
    (overlapping children are counted once)."""
    covered = 0.0
    cur_start = cur_end = None
    for c in sorted(children, key=lambda s: s.start):
        s, e = max(c.start, span.start), min(c.end, span.end)
        if e <= s:
            continue
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        covered += cur_end - cur_start
    return span.duration - covered


class Tracer:
    """Records spans when enabled; a no-op otherwise."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        self.spans.append(
            Span(name, time.perf_counter(), parent=self._stack[-1] if self._stack else None, op=self.op)
        )
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def self_times(self) -> list[float]:
        """Self time of each span, in ``spans`` order."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        return [self_time(s, children.get(i, [])) for i, s in enumerate(self.spans)]

    def durations(self, name: str) -> list[float]:
        return [s.duration for s in self.spans if s.name == name]


# ------------------------------------------------------------------ stages

# Spark operator names that identify the role of a stage in an MR job
# (read_whole_files -> mapInPandas -> groupBy().applyInPandas -> text sink).
# The first listed role whose marker appears in the stage's operator graph
# wins, so a stage that fuses two roles is booked to the costlier one.
_ROLE_MARKERS = (
    ("reduce", "FlatMapGroupsInPandas"),
    ("map", "MapInPandas"),
    ("sink", "WriteFiles"),
    ("sink", "InsertIntoHadoopFsRelation"),
    ("read_inputs", "Scan binaryFile"),
)


def stage_role(operator_names: list[str]) -> str:
    for role, marker in _ROLE_MARKERS:
        if any(n.startswith(marker) for n in operator_names):
            return role
    return "other"


@dataclass
class StageMetrics:
    status: str
    num_tasks: int
    task_s: float
    jvm_cpu_s: float
    gc_s: float
    spill_bytes: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    input_bytes: int
    role: str = "other"

    @property
    def ran(self) -> bool:
        return self.status != "SKIPPED"


@dataclass
class OpStages:
    jobs: int
    stages: list[StageMetrics] = field(default_factory=list)
    missing: int = 0

    def ran(self) -> list[StageMetrics]:
        return [s for s in self.stages if s.ran]

    def total(self, attr: str, role: str | None = None) -> float:
        return sum(
            getattr(s, attr) for s in self.stages if role is None or s.role == role
        )


class StageReader:
    """Reads the stages an op ran from the status store, right after the op.

    A stage the store no longer holds (evicted under
    ``spark.ui.retainedStages``) is counted in ``missing`` instead of
    failing the run."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()

    def mark(self) -> tuple[int, int]:
        return self._dag.nextJobId(), self._dag.nextStageId()

    def read(self, start: tuple[int, int], roles: bool = False) -> OpStages:
        # stage-completed events reach the store through the async
        # listener bus; drain it so the op's last stages are there
        self._bus.waitUntilEmpty()
        end = self.mark()
        out = OpStages(jobs=end[0] - start[0])
        for sid in range(start[1], end[1]):
            try:
                s = self._store.lastStageAttempt(sid)
            except Py4JJavaError as exc:
                if "NoSuchElementException" not in exc.java_exception.toString():
                    raise
                out.missing += 1
                continue
            out.stages.append(
                StageMetrics(
                    status=s.status().toString(),
                    num_tasks=s.numTasks(),
                    task_s=s.executorRunTime() / 1e3,
                    jvm_cpu_s=s.executorCpuTime() / 1e9,
                    gc_s=s.jvmGcTime() / 1e3,
                    spill_bytes=s.memoryBytesSpilled() + s.diskBytesSpilled(),
                    shuffle_read_bytes=s.shuffleReadBytes(),
                    shuffle_write_bytes=s.shuffleWriteBytes(),
                    input_bytes=s.inputBytes(),
                    role=stage_role(self._operator_names(sid)) if roles else "other",
                )
            )
        return out

    def _operator_names(self, stage_id: int) -> list[str]:
        names: list[str] = []
        todo = [self._store.operationGraphForStage(stage_id).rootCluster()]
        while todo:
            c = todo.pop()
            names.append(c.name())
            kids = c.childClusters()
            todo.extend(kids.apply(i) for i in range(kids.size()))
        return names
