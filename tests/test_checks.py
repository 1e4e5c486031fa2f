"""Data-quality report: declared contract violations counted in one
distributed pass (SURVEY.md SS1.2 VARCHAR/grain contracts)."""

from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.functions.checks import (
    quality_report,
)
from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.queries import (
    q_dim_products,
)

from conftest import TESTDATA


def test_quality_report_counts_violations(spark):
    df = spark.createDataFrame(
        [
            ("A", "ok", "CAT1"),
            (None, "x" * 300, "CAT1"),
            ("B", None, "WAT"),
            ("B", "dup key", "CAT2"),
        ],
        "sku string, product_name string, category string",
    )
    report = {
        r.check: r.n_violations
        for r in quality_report(
            df,
            not_null=["sku", "product_name"],
            max_len={"sku": 50, "product_name": 255},
            accepted={"category": ["CAT1", "CAT2"]},
            unique_key=["sku"],
        ).collect()
    }
    assert report == {
        "not_null:sku": 1,
        "not_null:product_name": 1,
        "max_len(50):sku": 0,
        "max_len(255):product_name": 1,
        "accepted:category": 1,
        "unique_key:sku": 1,
    }


def test_dim_products_meets_warehouse_contract(spark):
    # the built dimension must satisfy its DDL contract
    # (sql/create_redshift_tables.sql:20-26): non-null unique sku within
    # VARCHAR(50), names within VARCHAR(255)
    dim = q_dim_products(spark, TESTDATA)
    report = quality_report(
        dim,
        not_null=["sku"],
        max_len={"sku": 50, "product_name": 255, "category": 100},
        unique_key=["sku"],
    )
    bad = {r.check: r.n_violations for r in report.collect() if r.n_violations > 0}
    assert bad == {}


