"""Per-span ledger read from Spark's own status store.

A span is a named interval of driver work.  While a span is open it is the
thread's Spark job group, so every job (and through it every stage) the span
launches is tagged with the span's name.  After the run, :meth:`Ledger.rows`
reads the jobs and stages back from ``AppStatusStore`` and sums the stage
metrics per job group: jobs, stages, tasks, executor run and CPU time, GC,
shuffle read/write, spill, and the max and median task times summed over
stages (their ratio is the task-skew signal).

The reader needs every job and stage of the run to still be in the store:
build the session with :data:`RETAIN_CONF` and call :meth:`check_retained`.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# status-store retention high enough that no job or stage of a run is evicted
RETAIN_CONF = {
    "spark.ui.retainedJobs": "1000000",
    "spark.ui.retainedStages": "1000000",
    "spark.ui.retainedTasks": "1000000",
    "spark.sql.ui.retainedExecutions": "100000",
}

UNATTRIBUTED = "(none)"
_MB = 1024.0 * 1024.0


@dataclass
class Span:
    name: str
    parent: str | None
    start: float
    end: float = 0.0

    @property
    def secs(self) -> float:
        return self.end - self.start


@dataclass
class GroupRow:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    exchanges: int = 0  # stages that wrote shuffle output
    exec_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0
    task_max_s: float = 0.0  # summed over stages
    task_median_s: float = 0.0  # summed over stages

    def add(self, other: "GroupRow") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


@dataclass
class Ledger:
    """Spans held in memory plus the status-store reader."""

    spark: object
    tag_jobs: bool = True
    spans: list[Span] = field(default_factory=list)
    # driver time spent on the ledger's own bookkeeping (the tracing overhead)
    overhead_s: float = 0.0
    _stack: list[str] = field(default_factory=list)

    @property
    def current(self) -> str | None:
        """Name of the innermost open span."""
        return self._stack[-1] if self._stack else None

    @contextmanager
    def span(self, name: str):
        """Time ``name`` and, when ``tag_jobs``, make it the job group of
        every Spark job launched inside it (nested spans restore the parent
        group on exit)."""
        t_in = time.perf_counter()
        sc = self.spark.sparkContext
        parent = self.current
        self._stack.append(name)
        if self.tag_jobs:
            sc.setJobGroup(name, name)
        sp = Span(name, parent, time.perf_counter())
        self.overhead_s += sp.start - t_in
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.tag_jobs:
                if parent is None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                else:
                    sc.setJobGroup(parent, parent)
            self.spans.append(sp)
            self.overhead_s += time.perf_counter() - sp.end

    # -- status store ---------------------------------------------------

    def _store(self):
        return self.spark.sparkContext._jsc.sc().statusStore()

    def max_stage_id(self) -> int:
        """Highest stage id the store has seen (-1 before the first stage);
        stage ids grow monotonically, so two reads bracket an interval."""
        seq = self._stage_seq()
        n = seq.size()
        # the store lists stages ordered by id (newest first); read both ends
        # rather than rely on the direction
        return max(seq.apply(0).stageId(), seq.apply(n - 1).stageId()) if n else -1

    def _stage_seq(self):
        gw = self.spark.sparkContext._gateway
        jl = gw.jvm.java.util.ArrayList
        return self._store().stageList(
            jl(), False, False, gw.new_array(gw.jvm.double, 0), jl()
        )

    def stages(self) -> list:
        seq = self._stage_seq()
        return [seq.apply(i) for i in range(seq.size())]

    def _jobs(self) -> list:
        gw = self.spark.sparkContext._gateway
        seq = self._store().jobsList(gw.jvm.java.util.ArrayList())
        return [seq.apply(i) for i in range(seq.size())]

    def check_retained(self) -> int:
        """Raise if the store evicted any job; returns the job count."""
        ids = [j.jobId() for j in self._jobs()]
        if ids and len(ids) != max(ids) + 1:
            raise RuntimeError(
                f"status store evicted jobs: {len(ids)} retained of {max(ids) + 1}"
            )
        return len(ids)

    def rows(self) -> dict[str, GroupRow]:
        """Per-job-group totals over the whole run.  A stage counts once,
        for the first job that ran it."""
        stage_group: dict[int, str] = {}
        out: dict[str, GroupRow] = {}
        for j in sorted(self._jobs(), key=lambda j: j.jobId()):
            grp = j.jobGroup()
            name = grp.get() if grp.isDefined() else UNATTRIBUTED
            out.setdefault(name, GroupRow()).jobs += 1
            ids = j.stageIds()
            for i in range(ids.size()):
                stage_group.setdefault(int(ids.apply(i)), name)
        store = self._store()
        gw = self.spark.sparkContext._gateway
        q = gw.new_array(gw.jvm.double, 2)
        q[0] = 0.5
        q[1] = 1.0
        for s in self.stages():
            name = stage_group.get(s.stageId(), UNATTRIBUTED)
            summary = store.taskSummary(s.stageId(), s.attemptId(), q)
            out.setdefault(name, GroupRow()).add(
                _stage_row(s, summary.get() if summary.isDefined() else None)
            )
        return out


def _stage_row(s, summary) -> GroupRow:
    row = GroupRow(
        stages=1,
        tasks=s.numCompleteTasks(),
        exec_s=s.executorRunTime() / 1e3,
        cpu_s=s.executorCpuTime() / 1e9,
        gc_s=s.jvmGcTime() / 1e3,
        shuffle_write_mb=s.shuffleWriteBytes() / _MB,
        shuffle_read_mb=s.shuffleReadBytes() / _MB,
        spill_mb=(s.memoryBytesSpilled() + s.diskBytesSpilled()) / _MB,
    )
    row.exchanges = 1 if s.shuffleWriteBytes() > 0 else 0
    if summary is not None:
        rt = summary.executorRunTime()
        row.task_median_s = rt.apply(0) / 1e3
        row.task_max_s = rt.apply(1) / 1e3
    return row


def cached_mb(spark) -> float:
    """Bytes of all cached RDD blocks (memory + disk), in MB."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / _MB
