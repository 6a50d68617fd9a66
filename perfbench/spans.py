"""Layer spans recorded from the benchmark's side of each engine call.

`Tracer.span(op, layer)` times one call. When tracing is on it also runs
the call under its own Spark job group and, afterwards, reads what Spark
did for that group from `SparkContext.statusTracker()` and the
application status store (both work with the UI disabled): jobs, stages,
tasks, executor run and CPU time, input / shuffle / spill bytes, and the
task-time skew of the longest stage. Spans stay in memory and are written
out once, at the end of the run.

With tracing off a span is only a wall-clock interval: no job group is
set and nothing is read back from Spark.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

_STAGE_FIELDS = {
    "executor_run_s": lambda s: s.executorRunTime() / 1e3,
    "executor_cpu_s": lambda s: s.executorCpuTime() / 1e9,
    "input_bytes": lambda s: s.inputBytes(),
    "shuffle_read_bytes": lambda s: s.shuffleReadBytes(),
    "shuffle_write_bytes": lambda s: s.shuffleWriteBytes(),
    "spill_bytes": lambda s: s.memoryBytesSpilled() + s.diskBytesSpilled(),
}


class SparkProbe:
    """Reads job and stage metrics for one job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def persisted_rdds(self) -> int:
        return int(self.sc._jsc.getPersistentRDDs().size())

    def cached_bytes(self) -> int:
        return int(sum(info.memSize() for info in self.jsc.getRDDStorageInfo()))

    def group_metrics(self, group: str) -> dict:
        # the status store is fed asynchronously by the listener bus
        self.jsc.listenerBus().waitUntilEmpty()
        out = {k: 0.0 for k in _STAGE_FIELDS}
        out.update(jobs=0, stages=0, tasks=0, task_skew=0.0)
        seen: set[int] = set()
        longest = None
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            out["jobs"] += 1
            it = self.store.job(job_id).stageIds().iterator()
            while it.hasNext():
                sid = int(it.next())
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self.store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - py4j wraps NoSuchElement for skipped stages
                    continue
                if st.numCompleteTasks() == 0:
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                for k, get in _STAGE_FIELDS.items():
                    out[k] += get(st)
                if longest is None or st.executorRunTime() > longest.executorRunTime():
                    longest = st
        if longest is not None:
            out["task_skew"] = self._skew(longest)
        return out

    def _skew(self, st) -> float:
        """max / median task run time in one stage."""
        qs = self.sc._gateway.new_array(self.sc._gateway.jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        summary = self.store.taskSummary(st.stageId(), st.attemptId(), qs)
        if summary.isEmpty():
            return 0.0
        run = summary.get().executorRunTime()
        med, mx = float(run.apply(0)), float(run.apply(1))
        return mx / med if med > 0 else 1.0


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.probe = SparkProbe(spark) if enabled else None
        self.spans: list[dict] = []
        self._n = 0

    @contextmanager
    def span(self, op: str, layer: str):
        """Time one engine call; the caller may add fields to the span."""
        rec = {"op": op, "layer": layer}
        group = None
        if self.enabled:
            self._n += 1
            group = f"bench-{self._n}-{op}-{layer}"
            self.probe.set_group(group)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["s"] = time.perf_counter() - t0
            if self.enabled:
                self.probe.clear_group()
                rec.update(self.probe.group_metrics(group))
            self.spans.append(rec)

    def total(self, layer: str, key: str = "s") -> float:
        return float(sum(r.get(key, 0.0) for r in self.spans if r["layer"] == layer))

    def count(self, layer: str) -> int:
        return sum(1 for r in self.spans if r["layer"] == layer)
