"""The DAG runner (``pipeline.Pipeline.run``): tasks that are ready
together overlap, a raising task stops the run, and every task runs
under the caller's Spark job group."""

import threading
import time
import warnings

import pytest

from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.pipeline import (
    Pipeline,
)


def test_independent_tasks_overlap():
    # each task waits for the other at the barrier: run one after the
    # other, the first would time out with BrokenBarrierError
    barrier = threading.Barrier(2, timeout=10)
    p = (
        Pipeline()
        .add("stage", lambda: barrier.wait() >= 0)
        .add("dims", lambda: barrier.wait() >= 0)
        .add("reconcile", lambda stage, dims: (stage, dims), deps=["stage", "dims"])
    )
    assert p.run() == {"stage": True, "dims": True, "reconcile": (True, True)}


def test_raising_task_propagates_after_running_tasks_finish():
    ran = []
    failed = threading.Event()

    def bad():
        failed.set()
        raise ValueError("boom")

    def sibling():
        failed.wait(10)
        time.sleep(0.1)
        ran.append("sibling")

    p = (
        Pipeline()
        .add("bad", bad)
        .add("sibling", sibling)
        .add("after", lambda bad: ran.append("after"), deps=["bad"])
    )
    with pytest.raises(ValueError, match="boom"):
        p.run()
    # the running sibling finished; the dependent task never started
    assert ran == ["sibling"]


def test_tasks_run_under_the_callers_job_group(spark):
    sc = spark.sparkContext
    group = "pipeline-runner-probe"
    sc.setJobGroup(group, "probe")
    try:
        p = (
            Pipeline()
            .add("a", lambda: (sc.getLocalProperty("spark.jobGroup.id"), spark.range(3).count()))
            .add("b", lambda: (sc.getLocalProperty("spark.jobGroup.id"), spark.range(4).count()))
        )
        assert p.run() == {"a": (group, 3), "b": (group, 4)}
        assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 2
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_thread_wrapper_raises_no_user_warning(spark):
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        assert Pipeline().add("a", lambda: 1).add("b", lambda: 2).run() == {"a": 1, "b": 2}
    assert not [w for w in caught if issubclass(w.category, UserWarning)]
