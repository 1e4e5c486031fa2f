"""Plain-Python DAG runner (SURVEY.md SS3.4).

The reference orchestrates with Airflow (dags/retail_pipeline_dag.py:95-100):

    start -> {stage_sales, build_dims} -> reconcile -> loads -> end

Here the dependency graph is data (name -> (fn, deps)), executed in
topological order with results injected into downstream tasks. Tasks
that are ready at the same time overlap on a thread pool, as Airflow
runs ``stage_sales`` and ``build_dims`` side by side; the graph alone
says what may overlap. No scheduler is required to run or test the
pipeline.
"""

from __future__ import annotations

from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait
from dataclasses import dataclass, field
from typing import Any, Callable

from graphlib import TopologicalSorter


def _in_caller_context(fn: Callable[..., Any]) -> Callable[..., Any]:
    """``fn`` set to run on another thread with this thread's Spark job
    group and local properties, captured now; ``fn`` itself when no
    SparkContext is running."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is None:
        return fn
    from pyspark.sql import SparkSession
    from pyspark.util import inheritable_thread_target

    session = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    return inheritable_thread_target(session)(fn)


@dataclass
class Pipeline:
    """Callable job graph. Each task fn receives the results of its
    dependencies as keyword args (by dependency name)."""

    tasks: dict[str, tuple[Callable[..., Any], list[str]]] = field(default_factory=dict)

    def add(self, name: str, fn: Callable[..., Any], deps: list[str] | None = None):
        self.tasks[name] = (fn, deps or [])
        return self

    def run(self) -> dict[str, Any]:
        """Start every task whose dependencies are done, so independent
        tasks overlap; return {name: result}. After a task raises, no
        further task starts, and the first exception is re-raised once
        the running tasks have finished."""
        order = TopologicalSorter({name: deps for name, (_, deps) in self.tasks.items()})
        order.prepare()
        results: dict[str, Any] = {}
        running: dict[Future, str] = {}
        error: BaseException | None = None
        with ThreadPoolExecutor(max_workers=max(1, len(self.tasks))) as pool:
            while True:
                if error is None:
                    for name in order.get_ready():
                        fn, deps = self.tasks[name]
                        kwargs = {d: results[d] for d in deps}
                        running[pool.submit(_in_caller_context(fn), **kwargs)] = name
                if not running:
                    break
                done, _ = wait(running, return_when=FIRST_COMPLETED)
                for fut in done:
                    name = running.pop(fut)
                    try:
                        results[name] = fut.result()
                    except BaseException as e:  # noqa: BLE001 -- re-raised below
                        error = error or e
                    else:
                        order.done(name)
        if error is not None:
            raise error
        return results
