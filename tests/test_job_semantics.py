"""Unit layer (SURVEY.md SS5.2): per-operator semantics edge cases on
tiny in-memory frames -- the reference behaviors that must be preserved
exactly, and the engine behaviors that deliberately improve on it."""

import datetime as dt

import pytest
from pyspark.sql import Row

from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.alerts import (
    CollectingSink,
    build_alert,
)
from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.pipeline import (
    Pipeline,
)
from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.plans.build_dims import (
    build_dim_products,
)
from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.plans.reconcile import (
    reconcile,
)
from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.plans.stage_sales import (
    stage_sales,
)

D = dt.date(2024, 3, 2)


def _recon(spark, opening, closing, sales, dim):
    return reconcile(
        spark.createDataFrame(opening, "sku string, opening_stock int"),
        spark.createDataFrame(closing, "sku string, actual_closing_stock int"),
        spark.createDataFrame(sales, "sku string, total_quantity_sold long"),
        spark.createDataFrame(dim, "sku string, product_name string, category string"),
        D,
    )


def test_stage_sales_normalizes_and_aggregates(spark):
    raw = spark.createDataFrame(
        [("  a1 ", "2"), ("A1", "3"), ("b2", "5")], "sku string, quantity string"
    )
    out = {r.sku: r for r in stage_sales(raw, D).collect()}
    # upper(trim()) merges ' a1 ' with 'A1' (ref glue_job_1_stage_sales.py:45)
    assert out["A1"].total_quantity_sold == 5
    assert out["B2"].total_quantity_sold == 5
    assert out["A1"].date_key == D


def test_full_outer_keeps_new_and_delisted_skus(spark):
    # J1: sku only in opening (delisted) and only in closing (new) both
    # survive, null side filled with 0 (ref glue_job_2_reconcile.py:79,90)
    rows = {
        r.sku: r
        for r in _recon(
            spark,
            opening=[("OLD", 10)],
            closing=[("NEW", 7)],
            sales=[],
            dim=[],
        ).collect()
    }
    assert rows["OLD"].actual_closing_stock == 0
    assert rows["OLD"].expected_closing_stock == 10
    assert rows["OLD"].discrepancy_amount == -10
    assert rows["NEW"].opening_stock == 0
    assert rows["NEW"].discrepancy_amount == 7


def test_sold_but_untracked_sku_is_dropped(spark):
    # J2 is a LEFT join: sales for a sku with no inventory row on either
    # day silently vanish -- reference semantics preserved exactly
    # (ref glue_job_2_reconcile.py:80; SURVEY.md SS2.4 J2)
    out = _recon(
        spark,
        opening=[("A", 5)],
        closing=[("A", 5)],
        sales=[("GHOST", 3), ("A", 0)],
        dim=[],
    )
    assert {r.sku for r in out.collect()} == {"A"}


def test_discrepancy_sign_convention(spark):
    # negative = shrinkage (missing stock), positive = surplus (F3)
    rows = {
        r.sku: r
        for r in _recon(
            spark,
            opening=[("S", 10), ("P", 10)],
            closing=[("S", 6), ("P", 9)],
            sales=[("S", 3), ("P", 2)],
            dim=[],
        ).collect()
    }
    assert rows["S"].discrepancy_amount == -1  # lost one unit
    assert rows["P"].discrepancy_amount == 1  # surplus


def test_dim_dedup_is_deterministic_and_merges_previous(spark):
    inv = spark.createDataFrame(
        [("a", "Widget", "Z-cat"), ("A ", "Widget", "A-cat")],
        "sku string, product_name string, category string",
    )
    dim = build_dim_products(inv)
    rows = dim.collect()
    assert len(rows) == 1
    # deterministic: lowest (product_name, category) wins, not arbitrary
    assert rows[0].category == "A-cat"
    # merge-with-previous: sku missing from today's file survives (SS4.3.4)
    prev = spark.createDataFrame(
        [("GONE", "Legacy", "Old"), ("A", "Stale", "Stale")],
        "sku string, product_name string, category string",
    )
    merged = {r.sku: r for r in build_dim_products(inv, previous=prev).collect()}
    assert merged["GONE"].product_name == "Legacy"
    assert merged["A"].category == "A-cat"  # today's file outranks previous


def test_alert_counts_and_orders_examples(spark):
    recon = _recon(
        spark,
        opening=[("A", 10), ("B", 10), ("C", 10)],
        closing=[("A", 2), ("B", 9), ("C", 10)],
        sales=[],
        dim=[("A", "Alpha", "x")],
    )
    sink = CollectingSink()
    alert = build_alert(recon.persist(), k=2)
    sink.publish(alert)
    assert alert.count == 2
    # largest |discrepancy| first, deterministic
    assert [e["sku"] for e in alert.examples] == ["A", "B"]
    assert "Alpha" in alert.format()
    recon.unpersist()


def test_alert_none_when_reconciled(spark):
    recon = _recon(spark, opening=[("A", 5)], closing=[("A", 5)], sales=[], dim=[])
    assert build_alert(recon) is None


def test_partitioned_writer_idempotent(spark, tmp_path):
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.sources.writers import (
        write_partitioned,
    )

    path = str(tmp_path / "t")
    df1 = spark.createDataFrame(
        [(dt.date(2024, 1, 1), "A", 1), (dt.date(2024, 1, 2), "B", 2)],
        "date_key date, sku string, v long",
    )
    write_partitioned(df1, path)
    # re-write only day 2 with new values: day 1 must be untouched,
    # day 2 replaced (dynamic partition overwrite = DELETE+COPY contract)
    df2 = spark.createDataFrame(
        [(dt.date(2024, 1, 2), "B", 99)], "date_key date, sku string, v long"
    )
    write_partitioned(df2, path)
    write_partitioned(df2, path)  # run-twice == run-once
    out = {(r.date_key, r.sku): r.v for r in spark.read.parquet(path).collect()}
    assert out == {(dt.date(2024, 1, 1), "A"): 1, (dt.date(2024, 1, 2), "B"): 99}


@pytest.mark.parametrize("fmt", ["parquet"])
def test_writers_leave_every_file_sorted(spark, tmp_path, fmt):
    """Sorted-at-rest holds for a hash-ordered input: a partitioned
    write sorts by its partition columns itself, and a user sort below
    that is dropped unless it leads with them."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.sources import (
        writers,
    )

    df = (
        spark.range(3000)
        .select(
            (F.col("id") % 3).alias("date_key"),
            ((F.col("id") * 7919) % 1000).cast("string").alias("sku"),
        )
        .groupBy("date_key", "sku")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    path = str(tmp_path / fmt)
    writers.write_partitioned(df, path, "date_key", "sku")
    files = glob.glob(f"{path}/date_key=*/*.{fmt}")
    assert files
    for f in files:
        skus = pq.read_table(f).column("sku").to_pylist()
        assert skus == sorted(skus), f


def test_csv_source_with_explicit_schema(spark, tmp_path):
    # S1: explicit StructType (no inferSchema pre-scan); dirty string
    # quantity survives the read and is cleaned by the job, matching the
    # reference's read-then-cast contract (glue_job_1_stage_sales.py:33-46)
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark import schemas
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.sources.readers import (
        read_csv,
    )

    p = tmp_path / "raw_sales"
    p.mkdir()
    (p / "part1.csv").write_text("sku,quantity\n a1 ,2\nA1,3\n")
    (p / "part2.csv").write_text("sku,quantity\nb2,5\n")
    raw = read_csv(spark, str(p), schemas.POS_SALES_RAW)
    assert [f.dataType.simpleString() for f in raw.schema.fields] == ["string", "string"]
    out = {r.sku: r.total_quantity_sold for r in stage_sales(raw, D).collect()}
    assert out == {"A1": 5, "B2": 5}


def test_pipeline_runs_in_dependency_order():
    order = []
    p = (
        Pipeline()
        .add("a", lambda: order.append("a") or 1)
        .add("b", lambda a: order.append("b") or a + 1, deps=["a"])
        .add("c", lambda a, b: order.append("c") or a + b, deps=["a", "b"])
    )
    results = p.run()
    assert order == ["a", "b", "c"]
    assert results["c"] == 3
