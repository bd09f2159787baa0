"""Per-layer tracing from outside the program.

Two sources, both read from the benchmark's own files:

- wall-clock spans around the benchmark's calls into each module, plus a
  wrapper on ``VertexLoop.advance`` (the one hook every graph loop passes
  through), installed only for the duration of a traced op;
- Spark's status store, read through ``sc._jsc.sc().statusStore()`` for
  the jobs of each phase. Each phase runs under its own job group, so the
  Spark work is attributed to the module call that launched it. The
  package never sets job groups itself, so the tags cannot collide.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from pagerank_spark.graph import loop as loop_mod

MB = 1 << 20

# Per-phase Spark counters; the op totals carry the full set below.
PHASE_FIELDS = ("jobs", "tasks", "in_job_s", "executor_run_s")
SPARK_FIELDS = (
    "jobs", "stages", "tasks", "in_job_s", "driver_gap_s", "executor_run_s",
    "executor_cpu_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb",
    "spill_mb",
)


def _union_s(intervals: list[tuple[int, int]]) -> float:
    """Length in seconds of the union of ``(start_ms, end_ms)`` intervals."""
    total, cur_start, cur_end = 0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total / 1000.0


class StatusStore:
    """Reads job and stage records of one job group from Spark's status
    store. Call ``read`` right after the op, before
    ``spark.ui.retainedJobs`` can prune the records."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._store = self._jsc.statusStore()
        # A job that reuses a finished shuffle lists that stage again; each
        # stage counts once, for the job group that first ran it.
        self._seen_stages: set[int] = set()

    def read(self, group: str) -> dict:
        # The store is filled by an asynchronous listener: drain its queue
        # so every job of the group has its end event recorded.
        self._jsc.listenerBus().waitUntilEmpty(10_000)
        intervals, stages = [], set()
        for job_id in self._sc.statusTracker().getJobIdsForGroup(group):
            job = self._store.job(job_id)
            intervals.append((
                job.submissionTime().get().getTime(),
                job.completionTime().get().getTime(),
            ))
            ids = job.stageIds()
            stages.update(ids.apply(i) for i in range(ids.size()))
        stages -= self._seen_stages
        self._seen_stages |= stages
        rec = dict.fromkeys(SPARK_FIELDS, 0.0)
        rec["jobs"] = len(intervals)
        rec["intervals"] = intervals
        for stage_id in stages:
            st = self._store.lastStageAttempt(stage_id)
            if st.status().toString() == "SKIPPED":
                continue
            rec["stages"] += 1
            rec["tasks"] += st.numTasks()
            rec["executor_run_s"] += st.executorRunTime() / 1e3
            rec["executor_cpu_s"] += st.executorCpuTime() / 1e9
            rec["gc_s"] += st.jvmGcTime() / 1e3
            rec["shuffle_read_mb"] += st.shuffleReadBytes() / MB
            rec["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
            rec["spill_mb"] += (
                st.memoryBytesSpilled() + st.diskBytesSpilled()
            ) / MB
        rec["in_job_s"] = _union_s(intervals)
        return rec


class OpTrace:
    """Spans and Spark records of one traced op.

    ``phase(span, group)`` times a block as ``span`` and runs its jobs
    under the job group ``group`` (default: the span name). While the op
    is open, ``VertexLoop.advance`` is wrapped: its calls are timed, its
    jobs are tagged ``loop``, and jobs after it are tagged
    ``pagerank.finalize`` until the next phase starts.
    """

    def __init__(self, spark, store: StatusStore, op_id: int):
        self._sc = spark.sparkContext
        self._store = store
        self._prefix = f"perfbench-op{op_id}-"
        self.groups: list[str] = []
        self.spans: dict[str, tuple[float, float]] = {}
        self.advances: list[tuple[float, float]] = []

    def _tag(self, name: str) -> None:
        if name not in self.groups:
            self.groups.append(name)
        self._sc.setJobGroup(self._prefix + name, name)

    @contextmanager
    def phase(self, span: str, group: str | None = None):
        self._tag(group or span)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans[span] = (t0, time.perf_counter())

    @contextmanager
    def open(self):
        original = loop_mod.VertexLoop.advance
        trace = self

        def advance(loop_self, *args, **kwargs):
            trace._tag("loop")
            t0 = time.perf_counter()
            try:
                return original(loop_self, *args, **kwargs)
            finally:
                trace.advances.append((t0, time.perf_counter()))
                trace._tag("pagerank.finalize")

        loop_mod.VertexLoop.advance = advance
        try:
            yield self
        finally:
            loop_mod.VertexLoop.advance = original
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                self._sc.setLocalProperty(key, None)

    def spark_records(self, op_wall: float) -> dict[str, dict]:
        """``{"total": rec, <phase>: rec, ...}`` for this op's jobs."""
        per = {g: self._store.read(self._prefix + g) for g in self.groups}
        total = dict.fromkeys(SPARK_FIELDS, 0.0)
        for rec in per.values():
            for k in SPARK_FIELDS:
                total[k] += rec[k]
        intervals = [iv for rec in per.values() for iv in rec["intervals"]]
        total["in_job_s"] = _union_s(intervals)
        total["driver_gap_s"] = max(0.0, op_wall - total["in_job_s"])
        return {"total": total, **per}


def jvm_peak_rss_mb(spark) -> float:
    """The driver JVM's peak resident set (``VmHWM``), in MiB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")
