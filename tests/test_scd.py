"""SCD2 dimension-history semantics (operators/scd.py): the
TRUNCATE+COPY upgrade path's edge cases on tiny in-memory frames."""

import datetime as dt

from pyspark.sql import functions as F

from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.scd import (
    scd2_apply,
    scd2_init,
)

D1 = dt.date(2024, 1, 1)
D2 = dt.date(2024, 2, 1)


def _snap(spark, rows):
    return spark.createDataFrame(rows, "sku string, category string")


def _by_key(hist):
    return {
        (r.sku, r.valid_from.isoformat(), r.is_current): r
        for r in hist.collect()
    }


def test_scd2_change_closes_and_reopens(spark):
    h = scd2_init(_snap(spark, [("A", "x"), ("B", "y")]), ["sku"], ["category"], D1)
    h2 = scd2_apply(h, _snap(spark, [("A", "x2"), ("B", "y")]), ["sku"], ["category"], D2)
    rows = _by_key(h2)
    assert len(rows) == 3
    closed = rows[("A", D1.isoformat(), False)]
    assert closed.category == "x" and closed.valid_to == D2
    reopened = rows[("A", D2.isoformat(), True)]
    assert reopened.category == "x2" and reopened.valid_to is None
    untouched = rows[("B", D1.isoformat(), True)]
    assert untouched.valid_to is None


def test_scd2_new_key_and_missing_key_policies(spark):
    h = scd2_init(_snap(spark, [("A", "x")]), ["sku"], ["category"], D1)
    snap = _snap(spark, [("B", "z")])  # A missing, B new
    keep = scd2_apply(h, snap, ["sku"], ["category"], D2)
    rows = _by_key(keep)
    assert rows[("A", D1.isoformat(), True)].valid_to is None  # stays open
    assert rows[("B", D2.isoformat(), True)].category == "z"
    close = scd2_apply(h, snap, ["sku"], ["category"], D2, close_missing=True)
    a_rows = [r for r in close.collect() if r.sku == "A"]
    assert len(a_rows) == 1 and a_rows[0].valid_to == D2 and not a_rows[0].is_current


def test_scd2_unchanged_snapshot_is_idempotent(spark):
    snap = _snap(spark, [("A", "x"), ("B", None)])  # null attr: null-safe compare
    h = scd2_init(snap, ["sku"], ["category"], D1)
    h2 = scd2_apply(h, snap, ["sku"], ["category"], D2)
    assert _by_key(h2) == _by_key(h)


def test_scd2_apply_is_one_join_no_extra_shuffle(spark):
    """Plan shape: the merge is a single join over the open slice -- no
    second exchange after the join (the explode is map-side)."""
    h = scd2_init(_snap(spark, [("A", "x")]), ["sku"], ["category"], D1)
    h2 = scd2_apply(h, _snap(spark, [("A", "y")]), ["sku"], ["category"], D2)
    plan = h2._jdf.queryExecution().executedPlan().toString()
    assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") == 1
    assert "Generate" in plan  # the conditional explode
