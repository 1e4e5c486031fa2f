"""Per-layer measurement for the traced run.

Two sources, both kept in memory until the run ends:

- **Spans**, recorded by wrappers that this module installs around the
  engine's public functions (``install``). Each span has a name, start,
  end, parent and cycle; a span's self time is its duration minus the
  time its child spans cover. No program file is edited: the wrappers
  replace module attributes at run time, and only while ``Tracer.on``.
- **Spark's status stores**, read with the UI disabled after each cycle
  (``SparkStatus.harvest``): jobs, stages and tasks of the cycle, stage
  executor time, CPU, GC, input, shuffle and spill, the join strategies
  and file scans of the final adaptive plans, and block-manager memory
  still held when the cycle is over.
"""

from __future__ import annotations

import functools
import json
import threading
import time

MB = 1024.0 * 1024.0

#: what ``SparkStatus.harvest`` returns per cycle, with units
SPARK_METRICS = {
    "jobs": "count", "stages": "count", "tasks": "count", "idle_gap_s": "s",
    "planning_s": "s", "executor_run_s": "s", "executor_cpu_s": "s", "gc_s": "s",
    "input_mb": "MB", "file_scans": "count", "shuffle_write_mb": "MB",
    "shuffle_read_mb": "MB", "spill_mb": "MB", "broadcast_joins": "count",
    "sort_merge_joins": "count", "retained_storage_mb": "MB",
}


class Tracer:
    def __init__(self) -> None:
        self.on = False
        self.cycle = -1
        self.spans: list[dict] = []
        self._local = threading.local()

    def span(self, name: str, fn, *args, **kwargs):
        if not self.on:
            return fn(*args, **kwargs)
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"id": len(self.spans), "name": name, "cycle": self.cycle,
               "parent": stack[-1]["id"] if stack else None, "start": time.perf_counter()}
        self.spans.append(rec)
        stack.append(rec)
        try:
            return fn(*args, **kwargs)
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            return self.span(name, fn, *args, **kwargs)
        return wrapper

    def self_times(self, cycle: int) -> dict[str, float]:
        """Summed self time per span name over one cycle's spans."""
        spans = [s for s in self.spans if s["cycle"] == cycle]
        child: dict[int, float] = {}
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in spans:
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f)


#: Pipeline job name in ``plans.daily`` -> span name
_DAILY_JOBS = {
    "stage": "plans.stage_sales",
    "dims": "plans.build_dims",
    "reconcile": "plans.reconcile",
    "alert": "alerts.build_alert",
}


def install(tracer: Tracer) -> None:
    """Wrap the public functions the daily and curation DAGs call."""
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark import pipeline
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.plans import (
        curation,
        daily,
    )

    for mod in (daily, curation):
        mod.write_partitioned = tracer.wrap("sources.write", mod.write_partitioned)
    daily.write_single_file = tracer.wrap("sources.write", daily.write_single_file)
    daily.lint_plan = tracer.wrap("plans.audit.lint", daily.lint_plan)

    add = pipeline.Pipeline.add

    def traced_add(self, name, fn, deps=None):
        return add(self, name, tracer.wrap(_DAILY_JOBS.get(name, f"pipeline.{name}"), fn), deps)

    pipeline.Pipeline.add = traced_add


# --- Spark status stores ---------------------------------------------------

def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


class SparkStatus:
    """Reads the jobs, stages and SQL executions that started since the
    previous ``harvest``."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.seen_job, self.seen_exec = -1, -1

    def harvest(self, t0: float, t1: float) -> dict[str, float]:
        jobs = [j for j in _seq(self.store.jobsList(None)) if j.jobId() > self.seen_job]
        execs = [e for e in _seq(self.sql.executionsList()) if e.executionId() > self.seen_exec]
        if jobs:
            self.seen_job = max(j.jobId() for j in jobs)
        if execs:
            self.seen_exec = max(e.executionId() for e in execs)
        m = dict.fromkeys(SPARK_METRICS, 0.0)
        m["jobs"] = float(len(jobs))
        busy: list[tuple[float, float]] = []
        for j in jobs:
            for sid in _seq(j.stageIds()):
                try:
                    s = self.store.lastStageAttempt(sid)
                except Exception:  # skipped stage: never ran, no record
                    continue
                if s.status().toString() not in ("COMPLETE", "FAILED"):
                    continue
                m["stages"] += 1
                m["tasks"] += s.numCompleteTasks()
                m["executor_run_s"] += s.executorRunTime() / 1000.0
                m["executor_cpu_s"] += s.executorCpuTime() / 1e9
                m["gc_s"] += s.jvmGcTime() / 1000.0
                m["shuffle_write_mb"] += s.shuffleWriteBytes() / MB
                m["shuffle_read_mb"] += s.shuffleReadBytes() / MB
                m["spill_mb"] += s.diskBytesSpilled() / MB
                a, b = _opt_ms(s.submissionTime()), _opt_ms(s.completionTime())
                if a is not None and b is not None:
                    busy.append((a, b))
        for e in execs:
            m["input_mb"] += self.files_read_mb(e.executionId())
            plan = e.physicalPlanDescription()
            final = plan.split("== Final Plan ==", 1)[-1].split("\n\n", 1)[0]
            for line in final.splitlines():
                m["broadcast_joins"] += "BroadcastHashJoin" in line or "BroadcastNestedLoopJoin" in line
                m["sort_merge_joins"] += "SortMergeJoin" in line
                m["file_scans"] += "Scan parquet" in line
            starts = [_opt_ms(j.submissionTime()) for j in jobs
                      if e.jobs().contains(j.jobId())]
            starts = [s for s in starts if s is not None]
            if starts:
                m["planning_s"] += max(0.0, min(starts) - e.submissionTime() / 1000.0)
        m["idle_gap_s"] = max(0.0, (t1 - t0) - _union(busy, t0, t1))
        m["retained_storage_mb"] = self.retained_mb()
        return m

    def files_read_mb(self, execution_id: int) -> float:
        """Summed "size of files read" of the execution's scans. (The stage
        ``inputBytes`` counter reads a few KB for a 5 MB local parquet
        scan, so it is not used.)"""
        values = self.sql.executionMetrics(execution_id)
        total = 0.0
        for node in _seq(self.sql.planGraph(execution_id).allNodes()):
            for metric in _seq(node.metrics()):
                if metric.name() == "size of files read":
                    v = values.get(metric.accumulatorId())
                    if v.isDefined():
                        total += _size_mb(v.get())
        return total

    def retained_mb(self) -> float:
        status = self.jsc.getExecutorMemoryStatus()
        used = 0
        it = status.values().iterator()
        while it.hasNext():
            mx_rem = it.next()
            used += mx_rem._1() - mx_rem._2()
        return used / MB


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def _size_mb(text: str) -> float:
    """A size metric as Spark prints it: ``5.2 MiB``, or ``total (min,
    med, max ...)`` followed by a line that starts with the total."""
    number, unit = text.splitlines()[-1].split()[:2]
    return float(number.replace(",", "")) * _UNITS[unit] / MB


def _union(iv: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, end = 0.0, lo
    for a, b in sorted(iv):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total
