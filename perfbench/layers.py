"""Per-layer accounting from outside the engine.

Each public call of a traced op runs under its own Spark job group. When
the call returns, the jobs of that group are read back from Spark's
status store and summed into one record: wall time, jobs, executed
stages, tasks, executor run and CPU time, shuffle bytes written, the
part of the wall time no job covered (driver-only time) and the codegen
compiles in the window. Callsites are blank for ``count()`` and
broadcast jobs, so jobs are attributed by group, never by callsite.

``dbscan`` is one public call whose stages are only visible through its
``stage_times=`` argument; its jobs are split into those stages by
submission time.
"""

from __future__ import annotations

import time

# layer calls in op order; every traced run reports all of them, with
# zeros for the ones its workload does not reach
CALLS = (
    "sources.read",
    "cells.grid",
    "cells.probe",
    "neighbors.local",
    "dbscan.merge",
    "dbscan.label",
    "stats.call",
    "sources.write",
    "text.score",
    "dedup.exact",
    "dedup.jaccard_pairs",
    "connected_components.call",
)
JOB_FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "task_s",
    "task_cpu_s",
    "shuffle_bytes",
    "driver_only_s",
)
# dbscan(stage_times=) keys, in the order the stages run
DBSCAN_STAGES = (
    ("grid", "cells.grid"),
    ("partition_probe", "cells.probe"),
    ("local", "neighbors.local"),
    ("merge", "dbscan.merge"),
    ("label", "dbscan.label"),
)
SPLIT_CALLS = tuple(name for _key, name in DBSCAN_STAGES)


def _ms(opt_date) -> float | None:
    return float(opt_date.get().getTime()) if opt_date.isDefined() else None


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi > end:
            total += hi - max(lo, end)
            end = hi
    return total


class Tracer:
    """Collects one record per (call, op) for a traced op sequence."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        jvm = self.sc._jvm
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._arrays = jvm.java.util.Arrays
        self._seq = 0
        self.op: dict[str, dict[str, float]] = {}

    def start_op(self) -> None:
        self.op = {}

    def _codegen_state(self) -> tuple[int, float]:
        # the histogram keeps every sample while fewer than its reservoir
        # size (1028) were recorded, which one run stays under
        values = self._codegen.getSnapshot().getValues()
        return int(self._codegen.getCount()), float(self._arrays.stream(values).sum())

    def _jobs(self, group: str) -> list:
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        return [store.job(j) for j in self.sc.statusTracker().getJobIdsForGroup(group)]

    def _record(self, name: str, t0: float, t1: float, jobs: list, codegen: tuple[int, float] | None) -> None:
        store = self._jsc.statusStore()
        rec = {f: 0.0 for f in JOB_FIELDS}
        seen, spans = set(), []
        for job in jobs:
            sub, done = _ms(job.submissionTime()), _ms(job.completionTime())
            rec["jobs"] += 1
            if sub is not None and done is not None:
                spans.append((max(sub / 1e3, t0), min(done / 1e3, t1)))
            it = job.stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                if sid in seen:
                    continue
                stage = store.lastStageAttempt(sid)
                ssub = _ms(stage.submissionTime())
                # a stage skipped here, or run for an earlier job, is not this job's work
                if str(stage.status()) == "SKIPPED" or ssub is None or (sub is not None and ssub < sub):
                    continue
                seen.add(sid)
                rec["stages"] += 1
                rec["tasks"] += stage.numTasks()
                rec["task_s"] += stage.executorRunTime() / 1e3
                rec["task_cpu_s"] += stage.executorCpuTime() / 1e9
                rec["shuffle_bytes"] += stage.shuffleWriteBytes()
        rec["driver_only_s"] = (t1 - t0) - _union_s([s for s in spans if s[1] > s[0]])
        if codegen is not None:
            rec["codegen_compiles"], rec["codegen_ms"] = codegen
        rec["s"] = t1 - t0
        self.op[name] = rec

    def _group(self, name: str) -> str:
        self._seq += 1
        group = f"{name}#{self._seq}"
        self.sc.setJobGroup(group, name)
        return group

    def call(self, name: str, fn):
        """Run ``fn()`` as the layer call ``name``."""
        group = self._group(name)
        c0 = self._codegen_state()
        t0 = time.time()
        try:
            out = fn()
        finally:
            t1 = time.time()
            c1 = self._codegen_state()
            self.sc.setJobGroup("bench", "untraced")
        self._record(name, t0, t1, self._jobs(group), (c1[0] - c0[0], c1[1] - c0[1]))
        return out

    def dbscan(self, fn):
        """Run ``fn(stage_times)`` (a ``dbscan`` call) and split it into
        the cells / neighbors / merge / label layers."""
        group = self._group("dbscan")
        stage_times: dict = {}
        c0 = self._codegen_state()
        t0 = time.time()
        try:
            out = fn(stage_times)
        finally:
            t1 = time.time()
            c1 = self._codegen_state()
            self.sc.setJobGroup("bench", "untraced")
        jobs = self._jobs(group)
        # stage windows laid end to end from the call's start; the last
        # one absorbs the return path
        bounds, at = [], t0
        for key, _name in DBSCAN_STAGES:
            at += float(stage_times.get(key, 0.0))
            bounds.append(at)
        bounds[-1] = t1
        by_stage: list[list] = [[] for _ in DBSCAN_STAGES]
        for job in jobs:
            sub = _ms(job.submissionTime())
            sub = t0 if sub is None else sub / 1e3
            i = next((k for k, b in enumerate(bounds) if sub <= b), len(bounds) - 1)
            by_stage[i].append(job)
        lo = t0
        for (_key, name), hi, stage_jobs in zip(DBSCAN_STAGES, bounds, by_stage):
            self._record(name, lo, hi, stage_jobs, None)
            lo = hi
        # compiles cannot be split by stage from outside: one record for the call
        self.op["dbscan.call"] = {
            "s": t1 - t0,
            "codegen_compiles": c1[0] - c0[0],
            "codegen_ms": c1[1] - c0[1],
        }
        return out
