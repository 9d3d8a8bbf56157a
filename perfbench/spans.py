"""Benchmark-side spans and the engine counters attributed to them.

A span wraps one call into the package. With tracing on, each span runs
its Spark jobs under a job group of its own, so the stage data in the
status store (run time, GC, shuffle, spill, task-time quantiles) and
the SQL plan metrics (rows read by parquet scans) can be summed per
span. With tracing off a span only times the call. Spans stay in
memory; `run.py` turns them into the per-layer metrics.
"""

from __future__ import annotations

import time
import uuid
from contextlib import contextmanager


def _iter(scala_iterable):
    it = scala_iterable.iterator()
    while it.hasNext():
        yield it.next()


def _num(metric_text: str) -> int:
    # SQL sum metrics render with grouping separators ("137,500")
    return int(metric_text.replace(",", "").split()[0])


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self._bind(spark)

    def _bind(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext

    def rebind(self, spark) -> None:
        """Follow a restarted session (a new SparkContext)."""
        self._bind(spark)

    @contextmanager
    def span(self, name: str):
        """Time the body (`wall`); with tracing on, also collect the
        engine counters of the jobs it ran. `traced_wall` adds the cost of
        that collection. A nested span's jobs count toward the nested
        span only."""
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "parent": parent[0] if parent else None}
        group = f"{name}-{uuid.uuid4().hex[:8]}"
        start = time.perf_counter()
        if self.enabled:
            self.sc.setJobGroup(group, name)
        self._stack.append((name, group))
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall"] = time.perf_counter() - rec["start"]
            self._stack.pop()
            if self.enabled:
                rec["stats"] = self.group_stats(group)
                if parent:
                    self.sc.setJobGroup(parent[1], parent[0])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
            # the body plus what tracing adds around it
            rec["traced_wall"] = time.perf_counter() - start
            self.spans.append(rec)

    def walls(self, name: str) -> list[float]:
        return [s["wall"] for s in self.spans if s["name"] == name]

    def stats(self, name: str) -> dict:
        """Engine counters summed over every span called `name`."""
        total: dict = {}
        for s in self.spans:
            if s["name"] == name:
                for k, v in s.get("stats", {}).items():
                    total[k] = max(total.get(k, 0), v) if k == "task_max_over_p50" else total.get(k, 0) + v
        return total

    def group_stats(self, group: str) -> dict:
        """Engine counters for every job run under `group`."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        job_ids = set(tracker.getJobIdsForGroup(group))
        out = {
            "jobs": len(job_ids),
            "stages": 0,
            "tasks": 0,
            "run_ms": 0,
            "cpu_ns": 0,
            "gc_ms": 0,
            "shuffle_write_bytes": 0,
            "spill_bytes": 0,
            "task_max_over_p50": 0.0,
            "scan_rows": 0,
        }
        stage_ids = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        gw = self.sc._gateway
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        biggest = -1
        for sid in stage_ids:
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["run_ms"] += sd.executorRunTime()
            out["cpu_ns"] += sd.executorCpuTime()
            out["gc_ms"] += sd.jvmGcTime()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            if sd.executorRunTime() > biggest and sd.numCompleteTasks() > 1:
                summary = store.taskSummary(sid, sd.attemptId(), q)
                if summary.isDefined():
                    dist = summary.get().executorRunTime()
                    p50, mx = dist.apply(0), dist.apply(1)
                    biggest = sd.executorRunTime()
                    out["task_max_over_p50"] = mx / p50 if p50 > 0 else 0.0
        out["scan_rows"] = self._scan_rows(job_ids)
        return out

    def _scan_rows(self, job_ids: set[int]) -> int:
        """Rows read by parquet scans of transcript tables in the SQL
        executions that ran `job_ids` (read-backs of written aggregate
        tables are excluded)."""
        sql_store = self.spark._jsparkSession.sharedState().statusStore()
        total = 0
        for ex in _iter(sql_store.executionsList()):
            ex_jobs = {int(j) for j in _iter(ex.jobs().keySet())}
            if not ex_jobs & job_ids:
                continue
            values = sql_store.executionMetrics(ex.executionId())
            for node in _iter(sql_store.planGraph(ex.executionId()).allNodes()):
                if not node.name().startswith("Scan parquet") or "records:bigint" in node.desc():
                    continue
                for m in _iter(node.metrics()):
                    if m.name() == "number of output rows":
                        v = values.get(m.accumulatorId())
                        if v.isDefined():
                            total += _num(v.get())
        return total
