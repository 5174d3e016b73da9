"""Spans and Spark status counts for a traced pass.

Every span is recorded by the benchmark around its own call into one
layer's public function (the query callable, an explicit physical
plan, the ``noop`` save, an ``ExecutionContext`` method). A span that
can launch Spark jobs runs under its own job group, so the jobs,
stages and tasks it caused — eager loop jobs inside a query callable
included — are read back from Spark's status tracker and status store
once the query has finished. Nothing is instrumented inside the
program. Spans stay in memory until the run writes them out.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

#: per-span Spark counts, summed over the span's jobs and (non-skipped) stages
SPARK_COUNTS = (
    "jobs", "stages", "tasks", "tasks_failed", "executor_ms",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
)


class Tracer:
    """Records the spans of one traced pass; ``finish_query`` closes a
    query. Times are seconds since ``origin`` (a ``perf_counter`` value)."""

    enabled = True

    def __init__(self, spark, workload: str, pass_index: int, origin: float):
        self.spark = spark
        self.workload = workload
        self.pass_index = pass_index
        self.spans: list[dict] = []
        self._open: list[int] = []
        self._origin = origin
        self._query_first_span = 0

    def _now(self) -> float:
        return time.perf_counter() - self._origin

    @contextmanager
    def span(self, name: str, query_id: str, spark_jobs: bool = False, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "workload": self.workload,
            "query_id": query_id,
            "pass": self.pass_index,
            **attrs,
        }
        self.spans.append(rec)
        sc = self.spark.sparkContext
        if spark_jobs:
            rec["job_group"] = f"perfbench-{self.pass_index}-{sid}"
            sc.setJobGroup(rec["job_group"], f"{query_id} {name}")
        self._open.append(sid)
        rec["start"] = self._now()
        try:
            yield rec
        finally:
            rec["end"] = self._now()
            self._open.pop()
            if spark_jobs:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def finish_query(self) -> None:
        """Attach Spark counts to every job-group span of the query that
        just ended. Waits (bounded) for the listener bus first, because
        the status store is updated asynchronously."""
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        for rec in self.spans[self._query_first_span:]:
            if "job_group" in rec:
                rec["spark"] = self._counts(rec["job_group"])
        self._query_first_span = len(self.spans)

    def _counts(self, group: str) -> dict:
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        c = dict.fromkeys(SPARK_COUNTS, 0)
        c["jobs"] = len(jobs)
        for sid in stage_ids:
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            c["stages"] += 1
            c["tasks"] += sd.numCompleteTasks()
            c["tasks_failed"] += sd.numFailedTasks()
            c["executor_ms"] += sd.executorRunTime()
            c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            c["shuffle_read_bytes"] += sd.shuffleReadBytes()
            c["spill_bytes"] += sd.memoryBytesSpilled()
        return c


def duration(rec: dict) -> float:
    return rec["end"] - rec["start"]


def self_time(spans: list[dict], rec: dict) -> float:
    """The span's duration minus the part its direct children cover
    (children are sequential, so their durations do not overlap)."""
    children = [s for s in spans if s["parent"] == rec["id"]]
    return duration(rec) - sum(duration(s) for s in children)
