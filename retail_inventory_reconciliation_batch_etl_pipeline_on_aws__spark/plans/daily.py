"""The reference's daily DAG as one library call (SURVEY.md SS3.4).

Mirrors dags/retail_pipeline_dag.py:95-100 --

    start -> {stage_sales, build_dims} -> reconcile -> alert

-- with the warehouse loads' DELETE-then-COPY idempotency collapsed into
dynamic-partition-overwrite writes (sources/writers.py), and the alert
running off the *written* reconciliation output instead of recomputing
the join DAG (fixes the reference's triple recompute, SURVEY.md
SS4.3.1: actions at glue_job_2_reconcile.py:113,119,125 with no cache).

``Pipeline.run`` starts every task whose dependencies are done, so
``stage_sales`` and ``build_dims`` overlap as they do in the reference.
A day costs one pass over the fact table for the inventory (the
ledger) plus the staging scan, and every zone read declares its
``schemas`` contract, so no job is spent inferring a schema.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .. import schemas
from ..alerts import Alert, AlertSink, build_alert
from ..pipeline import Pipeline
from ..sources.writers import write_partitioned, write_single_file
from . import fixtures
from .audit import lint_plan
from .build_dims import build_dim_products
from .reconcile import reconcile_from_ledger
from .stage_sales import stage_sales


def run_daily_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_root: str,
    processing_date: dt.date | None = None,
    alert_sink: AlertSink | None = None,
    top_k: int = 5,
    lint: bool = True,
) -> dict:
    """Run the full daily pipeline for one processing date.

    Zone layout under ``out_root`` matches the reference's medallion
    prefixes (SURVEY.md SS1.1): ``staging/pos_sales`` (date-partitioned),
    ``processed/dim_products`` (full-refresh single file),
    ``processed/reconciled_inventory`` (date-partitioned). Replayable:
    re-running a date replaces exactly that date's partitions.

    ``lint`` (default on) runs ``plans.audit.lint_plan`` over each
    frame immediately before its write -- a cartesian product, a
    row-at-a-time Python stage, or any other house-rule violation that
    sneaks into a plan edit fails the job BEFORE it burns a cluster,
    the same guard the test suite applies, enforced at run time.

    Returns the Pipeline results dict: paths per job plus the Alert (or
    None) under ``"alert"``.
    """
    from pyspark.sql import Observation

    d = processing_date or fixtures.processing_date(spark, sf_dir)
    staging_path = f"{out_root}/staging/pos_sales"
    dim_path = f"{out_root}/processed/dim_products"
    recon_path = f"{out_root}/processed/reconciled_inventory"
    # single-pass audit metrics: Observation rides the write's own
    # action (the Glue jobs' logged row counts, without the second
    # scan a count() after the write would cost)
    metrics: dict[str, dict] = {}

    def stage() -> str:
        day = fixtures.pos_sales(spark, sf_dir).where(F.col("sale_date") == F.lit(d))
        staged = stage_sales(day, d)
        if lint:
            lint_plan(staged)
        obs = Observation("stage_audit")
        staged = staged.observe(
            obs,
            F.count(F.lit(1)).alias("rows_written"),
            F.sum("total_quantity_sold").cast("long").alias("units_sold"),
            # observe() forbids DISTINCT aggregates; the HLL form is the
            # observe-compatible spelling (and the output is 1 row/sku
            # anyway, so rows_written is the exact count)
            F.approx_count_distinct("sku").alias("skus"),
        )
        write_partitioned(staged, staging_path, "date_key", "sku")
        metrics["stage"] = obs.get
        return staging_path

    def dims() -> str:
        write_single_file(build_dim_products(fixtures.dim_source(spark, sf_dir)), dim_path)
        return dim_path

    def reconcile_job(stage: str, dims: str) -> str:
        # Job 2 reads its staged + dim inputs from the zone artifacts the
        # upstream jobs wrote (ref glue_job_2_reconcile.py:50,74), not
        # from in-memory frames -- the jobs stay independently runnable
        staged = (
            spark.read.schema(schemas.STAGED_SALES)
            .parquet(stage)
            .where(F.col("date_key") == F.lit(d))
            .select("sku", "total_quantity_sold")
        )
        dim = spark.read.schema(schemas.DIM_PRODUCTS).parquet(dims)
        # opening and closing stock from one fact pass: closing holds
        # every sku opening does, so the ledger's rows are the full
        # outer join of the two snapshots (J1), opening NULL where the
        # sku first ships on d
        stock = fixtures.inventory_ledger(spark, sf_dir, d).select(
            "sku", "opening_stock", "actual_closing_stock"
        )
        out = reconcile_from_ledger(stock.join(staged, "sku", "left"), dim, d)
        if lint:
            lint_plan(out)
        obs = Observation("reconcile_audit")
        out = out.observe(
            obs,
            F.count(F.lit(1)).alias("rows_written"),
            F.sum(
                F.when(F.col("discrepancy_amount") != 0, 1).otherwise(0)
            ).cast("long").alias("discrepant_rows"),
        )
        write_partitioned(out, recon_path, "date_key", "sku")
        metrics["reconcile"] = obs.get
        return recon_path

    def alert(reconcile: str) -> Alert | None:
        # one action off the written parquet: a scan of the day
        # partition, zero join recomputation
        recon = (
            spark.read.schema(schemas.RECONCILED_INVENTORY)
            .parquet(reconcile)
            .where(F.col("date_key") == F.lit(d))
        )
        a = build_alert(recon, top_k)
        if a is not None and alert_sink is not None:
            alert_sink.publish(a)
        return a

    results = (
        Pipeline()
        .add("stage", stage)
        .add("dims", dims)
        .add("reconcile", reconcile_job, deps=["stage", "dims"])
        .add("alert", alert, deps=["reconcile"])
        .run()
    )
    results["metrics"] = metrics
    return results


def plan_backfill(
    spark: SparkSession, out_root: str, dates: list[dt.date]
) -> list[dt.date]:
    """Which of ``dates`` has no reconciled partition yet -- the gap
    list an Airflow catch-up run (or an operator after an outage) needs
    before replaying history.

    Discovery is partition-metadata-only: reading JUST the partition
    column of a partitioned parquet table resolves its values from the
    directory names (partition discovery), so no data row group is
    ever decoded, on any Hadoop filesystem. A missing/empty mart means
    everything is missing -- the first-ever backfill.
    """
    from pyspark.errors import AnalysisException

    recon_path = f"{out_root}/processed/reconciled_inventory"
    try:
        have = {
            r.date_key
            for r in spark.read.parquet(recon_path)
            .select("date_key")
            .distinct()
            .collect()
        }
    except AnalysisException:
        have = set()
    return sorted(d for d in dates if d not in have)


def run_backfill(
    spark: SparkSession,
    sf_dir: str,
    out_root: str,
    dates: list[dt.date],
    alert_sink: AlertSink | None = None,
) -> dict:
    """Replay the daily DAG for every date in ``dates`` that is not
    already materialized (idempotent by construction: each run replaces
    only its own partitions, so a crash mid-backfill just re-plans the
    remainder on retry). Returns {date: pipeline results} for the dates
    actually run, plus the planned gap list under ``"planned"``.

    The loop is driver-side over the DATE AXIS -- a handful of
    orchestration steps, not data (each step is a full distributed
    job); a cluster-parallel backfill would instead union the staged
    days and let dynamic partition overwrite replace them all in one
    write, at the cost of per-day audit metrics and alerts.
    """
    todo = plan_backfill(spark, out_root, dates)
    results: dict = {"planned": todo}
    for d in todo:
        results[d] = run_daily_pipeline(
            spark, sf_dir, out_root, processing_date=d, alert_sink=alert_sink
        )
    return results
