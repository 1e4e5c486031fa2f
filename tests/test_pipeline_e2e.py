"""End-to-end integration: the full daily DAG writing real zone
artifacts, replayed for idempotency; the curation DAG; and backfill."""

import os

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
from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.plans import fixtures

from conftest import TESTDATA


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
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    # Stage names are read as job names: a job's record carries the name
    # of the stage it ends in, and under AQE every shuffle stage runs as
    # a job of its own, so the names cover every stage the day ran.
    # Per-stage records can be gone: past spark.ui.retainedStages the
    # status store evicts stage records, skipped stages first -- a stage
    # a job listed but reused from an earlier job, which never ran here.
    store = sc._jsc.sc().statusStore()
    names = [store.job(jid).name() for jid in jobs]
    assert not [n for n in names if n.startswith("parquet at")], names
    assert 0 < len(jobs) <= JOB_BUDGET, names


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
