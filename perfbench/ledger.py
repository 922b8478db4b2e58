"""Layer ledger: spans around calls into the engine, and per-span stage
metrics read from Spark's own status store.

Every span gets its own Spark job group, so the jobs a call runs (eager
jobs while a plan is built, or the action itself) are attributed to the
innermost span that was open when they were submitted. After a pass the
ledger asks the status tracker for each group's jobs, maps jobs to stages
and reads the stages' task metrics from the status store over py4j — no
event log, no listener of our own.

Spans stay in memory and are written out once, at the end of the run.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    pass_id: int | None
    start: float
    end: float | None = None
    group: str | None = None
    stages: list[dict] = field(default_factory=list)
    jobs: int = 0

    @property
    def wall_s(self) -> float:
        return (self.end or self.start) - self.start


@dataclass
class StageStats:
    """Sums over a set of stages, in the units the ledger reports."""

    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_mb: float = 0.0
    output_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    max_task_s: float = 0.0
    busy_s: float = 0.0  # union of stage [submit, complete] intervals

    @property
    def py_wait_s(self) -> float:
        """Task run time the JVM did not spend on its own CPU: for a
        pandas/Arrow stage, mostly time waiting on the Python worker."""
        return max(0.0, self.run_s - self.cpu_s)


def combine(stages: list[dict]) -> StageStats:
    out = StageStats()
    for s in stages:
        out.tasks += s["tasks"]
        out.failed_tasks += s["failed_tasks"]
        out.run_s += s["run_ms"] / 1e3
        out.cpu_s += s["cpu_ns"] / 1e9
        out.gc_s += s["gc_ms"] / 1e3
        out.input_mb += s["input_b"] / 1e6
        out.output_mb += s["output_b"] / 1e6
        out.shuffle_read_mb += s["shuffle_read_b"] / 1e6
        out.shuffle_write_mb += s["shuffle_write_b"] / 1e6
        out.spill_mb += (s["spill_mem_b"] + s["spill_disk_b"]) / 1e6
        out.max_task_s = max(out.max_task_s, s["max_task_ms"] / 1e3)
    out.busy_s = interval_union([(s["submit_ms"], s["complete_ms"]) for s in stages]) / 1e3
    return out


def interval_union(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [a, b] intervals."""
    total = 0.0
    cur_a = cur_b = None
    for a, b in sorted(i for i in intervals if i[0] is not None and i[1] is not None):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class StatusStore:
    """Reads jobs and stages of this application from Spark's status store."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._empty_q = self._sc._gateway.new_array(self._sc._jvm.double, 0)
        self._max_q = self._sc._gateway.new_array(self._sc._jvm.double, 1)
        self._max_q[0] = 1.0

    def jobs_for_group(self, group: str) -> list[int]:
        return list(self._sc.statusTracker().getJobIdsForGroup(group))

    def stage_ids_for_jobs(self, job_ids: list[int]) -> set[int]:
        tracker = self._sc.statusTracker()
        ids: set[int] = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                ids.update(int(s) for s in info.stageIds)
        return ids

    def stages(self, stage_ids: set[int]) -> dict[int, dict]:
        """Stage metrics for the given ids (attempts summed). Stages a job
        skipped (their shuffle output was reused) never ran and are absent."""
        if not stage_ids:
            return {}
        store = self._jsc.statusStore()
        out: dict[int, dict] = {}
        it = store.stageList(None, False, False, self._empty_q, None).iterator()
        while it.hasNext():
            s = it.next()
            sid = int(s.stageId())
            if sid not in stage_ids:
                continue
            sub, comp = s.submissionTime(), s.completionTime()
            if not sub.isDefined() or not comp.isDefined():
                continue
            row = out.setdefault(sid, {
                "stage_id": sid, "tasks": 0, "failed_tasks": 0, "run_ms": 0,
                "cpu_ns": 0, "gc_ms": 0, "input_b": 0, "output_b": 0,
                "shuffle_read_b": 0, "shuffle_write_b": 0, "spill_mem_b": 0,
                "spill_disk_b": 0, "max_task_ms": 0.0,
                "submit_ms": None, "complete_ms": None,
            })
            row["tasks"] += int(s.numCompleteTasks()) + int(s.numFailedTasks())
            row["failed_tasks"] += int(s.numFailedTasks())
            row["run_ms"] += int(s.executorRunTime())
            row["cpu_ns"] += int(s.executorCpuTime())
            row["gc_ms"] += int(s.jvmGcTime())
            row["input_b"] += int(s.inputBytes())
            row["output_b"] += int(s.outputBytes())
            row["shuffle_read_b"] += int(s.shuffleReadBytes())
            row["shuffle_write_b"] += int(s.shuffleWriteBytes())
            row["spill_mem_b"] += int(s.memoryBytesSpilled())
            row["spill_disk_b"] += int(s.diskBytesSpilled())
            a, b = sub.get().getTime(), comp.get().getTime()
            row["submit_ms"] = a if row["submit_ms"] is None else min(row["submit_ms"], a)
            row["complete_ms"] = b if row["complete_ms"] is None else max(row["complete_ms"], b)
            row["max_task_ms"] = max(row["max_task_ms"], self._max_task_ms(store, s))
        return out

    def _max_task_ms(self, store, stage) -> float:
        """Slowest task's run time: the 1.0 quantile of the stage's task
        run-time distribution."""
        data = store.stageAttempt(
            stage.stageId(), stage.attemptId(), False, None, True, self._max_q
        )._1()
        dist = data.taskMetricsDistributions()
        if not dist.isDefined():
            return 0.0
        return float(dist.get().executorRunTime().apply(0))


class Ledger:
    """Spans plus their Spark job groups. A disabled ledger (tracing off)
    opens no job groups and reads nothing from the status store, so an
    untraced pass runs exactly the engine's own calls."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self._spark = spark
        self._store = StatusStore(spark)
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_id = 0
        self.pass_id: int | None = None

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            span_id=self._next_id, name=name,
            parent=parent.span_id if parent else None,
            pass_id=self.pass_id, start=time.perf_counter(),
        )
        self._next_id += 1
        if self.enabled:
            sp.group = f"perfbench-{sp.span_id}"
            self._set_group(sp.group, name)
            self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                if parent is not None:
                    self._set_group(parent.group, parent.name)
                else:
                    # reads happen after the root span closed, so no
                    # span's wall time includes the ledger's own py4j work
                    self._spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                    for s in self.subtree(sp):
                        self._collect(s)

    def _set_group(self, group: str, name: str) -> None:
        self._spark.sparkContext.setJobGroup(group, name, interruptOnCancel=False)

    def _collect(self, sp: Span) -> None:
        job_ids = self._store.jobs_for_group(sp.group)
        sp.jobs = len(job_ids)
        stages = self._store.stages(self._store.stage_ids_for_jobs(job_ids))
        sp.stages = sorted(stages.values(), key=lambda s: s["stage_id"])

    def subtree(self, root: Span) -> list[Span]:
        """``root`` and every span nested under it."""
        ids = {root.span_id}
        out = [root]
        for sp in self.spans:
            if sp.parent in ids:
                ids.add(sp.span_id)
                out.append(sp)
        return out

    def stats(self, root: Span) -> StageStats:
        """Stage sums over a span and everything nested under it."""
        return combine([st for sp in self.subtree(root) for st in sp.stages])

    def jobs(self, root: Span) -> int:
        return sum(sp.jobs for sp in self.subtree(root))

    def driver_gap_s(self, root: Span) -> float:
        """Span wall time not covered by any of its stages' run intervals:
        planning, eager driver work and scheduling between stages."""
        return max(0.0, root.wall_s - self.stats(root).busy_s)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({
                    "id": sp.span_id, "name": sp.name, "parent": sp.parent,
                    "pass": sp.pass_id, "start": sp.start, "end": sp.end,
                    "jobs": sp.jobs, "stages": sp.stages,
                }) + "\n")
