"""Totals from Spark's in-process status store over a wall-clock window.

The engine runs with ``spark.ui.enabled=false``; the status store is
still populated, and ``AppStatusStore.jobsList`` plus
``lastStageAttempt`` read it without the UI. (``stageList(None)`` is gone
in Spark 4.) A job belongs to a window when its submission time falls
inside it, and a stage when its own attempt was submitted inside it. A
job that reuses an earlier job's shuffle output lists that earlier stage
again (skipped); the stage's attempt belongs to the earlier window and is
counted once, there.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class StageTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    exec_run_s: float = 0.0
    exec_cpu_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0


@dataclass
class _Stage:
    submitted: float
    tasks: int
    failed_tasks: int
    run_ms: int
    cpu_ns: int
    read_bytes: int
    write_bytes: int


@dataclass
class JobLog:
    """Every job the status store holds, read once: the submission time
    (epoch ms) of each job, and the last attempt of each stage they ran."""

    jobs: list = field(default_factory=list)
    stages: dict = field(default_factory=dict)

    def totals(self, windows: list) -> StageTotals:
        """Totals over the (start, end) epoch-ms windows."""
        def inside(t):
            return any(start <= t <= end for start, end in windows)

        out = StageTotals()
        out.jobs = sum(inside(t) for t in self.jobs)
        for st in self.stages.values():
            if inside(st.submitted):
                out.stages += 1
                out.tasks += st.tasks
                out.failed_tasks += st.failed_tasks
                out.exec_run_s += st.run_ms / 1e3
                out.exec_cpu_s += st.cpu_ns / 1e9
                out.shuffle_read_mb += st.read_bytes / 2**20
                out.shuffle_write_mb += st.write_bytes / 2**20
        return out


def _items(seq):
    """The elements of a Scala ``Seq`` returned through py4j."""
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def harvest(spark) -> JobLog:
    """Read the status store. Stages that never ran have no submission
    time and are left out."""
    store = spark.sparkContext._jsc.sc().statusStore()
    log = JobLog()
    for job in _items(store.jobsList(None)):
        sub = job.submissionTime()
        if not sub.isDefined():
            continue
        ids = [int(s) for s in job.stageIds().mkString(",").split(",") if s]
        log.jobs.append(sub.get().getTime())
        for sid in ids:
            if sid in log.stages:
                continue
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue
            sub = st.submissionTime()
            if not sub.isDefined():
                continue
            log.stages[sid] = _Stage(
                sub.get().getTime(), st.numTasks(), st.numFailedTasks(),
                st.executorRunTime(), st.executorCpuTime(),
                st.shuffleReadBytes(), st.shuffleWriteBytes())
    return log
