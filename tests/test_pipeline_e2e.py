"""End-to-end integration: the full daily DAG writing real zone
artifacts, replayed for idempotency; and the streaming warehouse sink."""

import glob
import os
import shutil

from pyspark.sql import functions as F

from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.alerts import (
    CollectingSink,
)
from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.plans.daily import (
    run_daily_pipeline,
)
from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.queries import (
    q_discrepancy_count,
    q_reconcile,
)
from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.sessionize import (
    hourly_rollup,
)
from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.plans import fixtures
from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.streaming.events import (
    run_to_partitioned_parquet,
    streaming_hourly_rollup,
)

from conftest import TESTDATA, raw_nanos_events


def _recon_rows(df):
    cols = [
        "date_key",
        "sku",
        "product_name",
        "opening_stock",
        "quantity_sold",
        "expected_closing_stock",
        "actual_closing_stock",
        "discrepancy_amount",
    ]
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_daily_pipeline_end_to_end(spark, tmp_path):
    out = str(tmp_path / "lake")
    sink = CollectingSink()
    results = run_daily_pipeline(spark, TESTDATA, out, alert_sink=sink)

    # zone artifacts exist in the medallion layout
    assert os.path.isdir(f"{out}/staging/pos_sales")
    assert os.path.isdir(f"{out}/processed/dim_products")
    assert os.path.isdir(f"{out}/processed/reconciled_inventory")

    # written reconciliation == the flagship query's answer
    written = spark.read.parquet(results["reconcile"])
    assert _recon_rows(written) == _recon_rows(q_reconcile(spark, TESTDATA))

    # alert fired through the DAG and matches the discrepancy-count query
    n_disc = q_discrepancy_count(spark, TESTDATA).collect()[0].n_discrepancies
    assert results["alert"] is not None
    assert results["alert"].count == n_disc
    assert len(sink.alerts) == 1 and sink.alerts[0].count == n_disc
    assert len(results["alert"].examples) == 5

    # single-pass Observation audit metrics agree with the artifacts
    # they rode along with (no second scan was issued to compute them)
    m = results["metrics"]
    assert m["stage"]["rows_written"] == spark.read.parquet(results["stage"]).count()
    assert m["reconcile"]["rows_written"] == written.count()
    assert m["reconcile"]["discrepant_rows"] == n_disc
    assert m["stage"]["units_sold"] > 0
    # staged output is one row per sku, so the HLL estimate must land
    # within its default 5% rsd of the exact row count
    assert abs(m["stage"]["skus"] - m["stage"]["rows_written"]) <= max(
        3, 0.05 * m["stage"]["rows_written"]
    )

    # replay: run-twice == run-once (idempotent partition replace)
    before = _recon_rows(spark.read.parquet(results["reconcile"]))
    run_daily_pipeline(spark, TESTDATA, out, alert_sink=sink)
    after = _recon_rows(spark.read.parquet(results["reconcile"]))
    assert before == after


def test_daily_pipeline_one_fact_pass_and_job_budget(spark, tmp_path, monkeypatch):
    """Shape pins of the daily DAG.

    - The reconcile frame's optimized plan holds ONE lineitem relation:
      opening and closing stock come from one ledger aggregation (the
      two snapshot aggregations it replaced held two).
    - A warm day infers no schema: every zone read declares its contract
      and ``fixtures.load`` memoizes the input schemas, so no 1-task
      ``parquet at`` footer-reading job runs (there were 9 per day).
    - The whole warm day runs at most JOB_BUDGET Spark jobs; the DAG it
      replaced ran 22 on the benchmark's input."""
    import re

    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.plans import daily

    JOB_BUDGET = 10  # was 22: 9 inference, 6 reconcile, 3 alert jobs among them
    linted = []
    monkeypatch.setattr(daily, "lint_plan", linted.append)
    out = str(tmp_path / "lake")
    run_daily_pipeline(spark, TESTDATA, out)
    (recon,) = [df for df in linted if "discrepancy_amount" in df.columns]
    plan = recon._jdf.queryExecution().optimizedPlan().toString()
    assert len(re.findall(r"Relation \[[^\]]*\bl_shipdate\b", plan)) == 1, plan

    sc = spark.sparkContext
    group = "daily-shape-probe"
    sc.setJobGroup(group, "warm daily run")
    try:
        run_daily_pipeline(spark, TESTDATA, out)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = [
        tracker.getStageInfo(sid)
        for jid in jobs
        for sid in tracker.getJobInfo(jid).stageIds
    ]
    assert not [s.name for s in stages if s.name.startswith("parquet at")]
    assert 0 < len(jobs) <= JOB_BUDGET, [s.name for s in stages]


def test_streaming_parquet_sink_idempotent(spark, tmp_path):
    # stage events as two time-ordered files so the watermark advances
    # and append mode finalizes the early windows
    ev = raw_nanos_events(spark)
    (mid,) = ev.approxQuantile("ts", [0.5], 0.0)
    src = tmp_path / "stream_src"
    src.mkdir()
    for i, part in enumerate(
        [ev.where(F.col("ts") <= mid), ev.where(F.col("ts") > mid)]
    ):
        stage = tmp_path / f"stage{i}"
        part.coalesce(1).write.parquet(str(stage))
        (pf,) = glob.glob(str(stage / "part-*.parquet"))
        shutil.move(pf, src / f"{i:02d}.parquet")
        os.utime(src / f"{i:02d}.parquet", (i + 1, i + 1))

    out = str(tmp_path / "warehouse" / "events_hourly")
    ckpt = str(tmp_path / "ckpt")
    agg = streaming_hourly_rollup(spark, str(src), watermark="1 minute")
    run_to_partitioned_parquet(agg, out, ckpt)

    written = spark.read.parquet(out)
    batch = {
        (r.bucket_start, r.event_type): (r.n_events, r.sum_value)
        for r in hourly_rollup(fixtures.events(spark, TESTDATA)).collect()
    }
    got = {
        (r.bucket_start, r.event_type): (r.n_events, r.sum_value)
        for r in written.collect()
    }
    assert len(got) > 0
    # every finalized window written by the stream matches batch truth
    # (only windows still open at the final watermark may be absent)
    for k, v in got.items():
        assert batch[k] == v, k
    assert len(got) >= len(batch) - 2 * len(
        {k[1] for k in batch}
    )  # at most the last 2 open hours per event_type missing

    # replaying the whole stream with a fresh checkpoint rewrites the
    # same partitions -- the table is unchanged, not duplicated
    run_to_partitioned_parquet(
        streaming_hourly_rollup(spark, str(src), watermark="1 minute"),
        out,
        str(tmp_path / "ckpt2"),
    )
    again = {
        (r.bucket_start, r.event_type): (r.n_events, r.sum_value)
        for r in spark.read.parquet(out).collect()
    }
    assert again == got


def test_airflow_adapter_preserves_graph_and_data_passing():
    """to_airflow_tasks must mirror Pipeline's edges and resolve
    dependency results (XCom contract) -- verified with a stub operator
    so Airflow itself is never required."""
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.pipeline import (
        Pipeline,
        to_airflow_tasks,
    )

    class StubOp:
        def __init__(self, task_id, python_callable, dag, **_):
            self.task_id, self.fn, self.dag = task_id, python_callable, dag
            self.upstream = []

        def __rshift__(self, other):
            other.upstream.append(self.task_id)
            return other

    p = (
        Pipeline()
        .add("stage_sales", lambda: 7)
        .add("build_dims", lambda: 3)
        .add("reconcile", lambda stage_sales, build_dims: stage_sales - build_dims,
             ["stage_sales", "build_dims"])
    )
    ops = to_airflow_tasks(p, dag="DAG", operator_cls=StubOp)
    assert set(ops) == {"stage_sales", "build_dims", "reconcile"}
    assert sorted(ops["reconcile"].upstream) == ["build_dims", "stage_sales"]
    assert all(o.dag == "DAG" for o in ops.values())

    class FakeTI:  # XCom result store
        def __init__(self, results):
            self.results = results

        def xcom_pull(self, task_ids):
            return self.results[task_ids]

    results = {}
    for name in ("stage_sales", "build_dims", "reconcile"):
        results[name] = ops[name].fn(ti=FakeTI(results))
    assert results == p.run() == {"stage_sales": 7, "build_dims": 3, "reconcile": 4}


def test_cron_entry_is_runnable_command():
    """The rendered crontab line must be a command that exists:
    spark-submit takes a script path (it has no module flag), python -m
    takes a module name. Guard both renderings."""
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.pipeline import (
        to_cron_entry,
    )

    line = to_cron_entry("jobs/daily_reconcile.py")
    assert line == "0 3 * * * spark-submit --deploy-mode cluster jobs/daily_reconcile.py"
    assert " -m " not in line  # spark-submit has no -m flag

    line = to_cron_entry("retail_jobs.daily", schedule="30 2 * * *")
    assert line == "30 2 * * * python -m retail_jobs.daily"


def test_incremental_ingest_crash_replay_converges(spark, tmp_path):
    """run_incremental_ingest: normal pickup, crash-replay (data
    written, manifest commit lost) converges to the same bytes, and
    later batches land beside earlier ones."""
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.plans.daily import (
        run_incremental_ingest,
    )
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.sources.readers import (
        read_parquet_incremental,
    )

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "bronze")
    manifest = str(tmp_path / "manifest")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, v string"
    ).coalesce(1).write.mode("append").parquet(landing)

    r1 = run_incremental_ingest(spark, landing, out, manifest)
    assert r1["rows"] == 2 and len(r1["files"]) == 1

    # crash window: simulate a run that wrote data but lost the
    # manifest commit -- wipe the manifest, re-run: same files, same
    # batch id, partition overwritten in place, NO duplication
    import shutil

    shutil.rmtree(manifest)
    r_replay = run_incremental_ingest(spark, landing, out, manifest)
    assert r_replay["batch_id"] == r1["batch_id"]
    assert spark.read.parquet(out).count() == 2

    # producer appends; only the new file is picked up, old batch kept
    spark.createDataFrame([(3, "c")], "id long, v string").coalesce(
        1
    ).write.mode("append").parquet(landing)
    r2 = run_incremental_ingest(spark, landing, out, manifest)
    assert r2["rows"] == 1 and r2["batch_id"] != r1["batch_id"]
    assert sorted(
        r.id for r in spark.read.parquet(out).select("id").collect()
    ) == [1, 2, 3]

    # caught up: no-op
    assert run_incremental_ingest(spark, landing, out, manifest)["rows"] == 0
    # and the manifest now covers both files
    _, fresh = read_parquet_incremental(spark, landing, manifest)
    assert fresh == []


def test_curation_pipeline_end_to_end(spark, tmp_path):
    """The composed curation DAG: dispositions partition the corpus
    exactly, each rejection agrees with its oracle-paired query twin,
    the curated zone is scrubbed + split + sharded, and replaying is
    idempotent."""
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.plans.curation import (
        run_curation_pipeline,
    )
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark import (
        queries as Q,
    )
    from pyspark.sql import functions as F

    out = str(tmp_path / "lake")
    res = run_curation_pipeline(spark, TESTDATA, out)
    m = res["metrics"]["ledger"]

    # dispositions partition the (non-benchmark) corpus exactly
    assert m["total"] == m["kept"] + m["duplicate"] + m["contaminated"] + m["low_quality"]
    n_corpus = (
        spark.read.parquet(f"{TESTDATA}/documents.parquet")
        .where(F.col("doc_id") % 97 != 0)
        .count()
    )
    assert m["total"] == n_corpus
    assert res["metrics"]["curated"]["rows"] == m["kept"]
    c = res["metrics"]["curated"]
    assert c["rows"] == c["train"] + c["val"] + c["test"]

    # the written artifacts agree with the observation metrics
    curated = spark.read.parquet(res["curated"])
    ledger = spark.read.parquet(res["ledger"])
    assert curated.count() == m["kept"]
    assert ledger.count() == m["total"]

    # curated zone carries no un-scrubbed PII pattern and full lineage cols
    assert curated.where(
        F.col("text").rlike(r"[a-z0-9]+@[a-z]+\.[a-z]+")
    ).count() == 0
    assert {"doc_id", "text", "split", "order_key", "shard"} <= set(curated.columns)
    assert curated.select("shard").distinct().count() <= 8

    # replay: identical ledger (deterministic end to end)
    before = sorted(map(tuple, ledger.collect()))
    res2 = run_curation_pipeline(spark, TESTDATA, out)
    after = sorted(map(tuple, spark.read.parquet(res2["ledger"]).collect()))
    assert before == after


def test_backfill_plans_gaps_and_fills_idempotently(spark, tmp_path):
    """plan_backfill: everything missing on a fresh lake; after running
    one date, only the others are planned; run_backfill fills them and
    a re-plan is empty (crash-retry convergence)."""
    import datetime as dt

    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.plans import (
        fixtures,
    )
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.plans.daily import (
        plan_backfill,
        run_backfill,
        run_daily_pipeline,
    )

    out = str(tmp_path / "lake")
    d = fixtures.processing_date(spark, TESTDATA)
    dates = [d - dt.timedelta(days=1), d]

    assert plan_backfill(spark, out, dates) == dates  # fresh lake: all missing

    run_daily_pipeline(spark, TESTDATA, out, processing_date=dates[0])
    assert plan_backfill(spark, out, dates) == [d]    # only the gap remains

    res = run_backfill(spark, TESTDATA, out, dates)
    assert res["planned"] == [d] and d in res
    assert plan_backfill(spark, out, dates) == []     # converged

    # the backfilled partition equals a direct run of that date
    got = spark.read.parquet(f"{out}/processed/reconciled_inventory")
    assert got.where(F.col("date_key") == d).count() > 0
