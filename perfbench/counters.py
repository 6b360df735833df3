"""Spark engine counters per job group, read from the status store.

Path: job group -> job ids (``statusTracker``) -> each job's stage ids
and submission/completion times (``statusStore().job``) -> each stage's
``lastStageAttempt``, which carries input, shuffle, spill, CPU and GC
totals. No event log and no UI are needed; the store is the same one
the UI would render.

The timed runs use these for counts only; the traced run also turns
each Spark job into a child span.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession

STAGE_FIELDS = {
    # our name: (StageData accessor, scale to the unit we report)
    "input_bytes": ("inputBytes", 1),
    "records_read": ("inputRecords", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": (None, 1),  # memory + disk spill, summed below
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "tasks": ("numTasks", 1),
}


@dataclass
class SparkJob:
    job_id: int
    start: float  # epoch seconds
    end: float


@dataclass
class GroupCounters:
    jobs: list = field(default_factory=list)  # [SparkJob]
    totals: dict = field(default_factory=lambda: dict.fromkeys(STAGE_FIELDS, 0))

    def add(self, other: "GroupCounters") -> None:
        self.jobs.extend(other.jobs)
        for k, v in other.totals.items():
            self.totals[k] += v


def _epoch_s(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def drain_listener_bus(spark: SparkSession) -> None:
    """Status-store updates arrive through the asynchronous listener
    bus: wait until every posted event is applied before reading."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def read_group(spark: SparkSession, group: str) -> GroupCounters:
    """Counters of every Spark job that ran under ``group``."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = GroupCounters()
    seen_stages: set = set()
    for jid in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        job = store.job(jid)
        start = _epoch_s(job.submissionTime())
        end = _epoch_s(job.completionTime())
        stages = [
            int(s) for s in job.stageIds().mkString(",").split(",") if s
        ]
        out.jobs.append(SparkJob(jid, start, end or start))
        for sid in stages:
            if sid in seen_stages:
                continue
            seen_stages.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a skipped stage has no attempt
                continue
            for name, (acc, scale) in STAGE_FIELDS.items():
                if acc is None:
                    v = st.memoryBytesSpilled() + st.diskBytesSpilled()
                else:
                    v = getattr(st, acc)()
                out.totals[name] += v * scale
    return out
