"""As-of join semantics on hand-checkable data (backward + forward,
equal-timestamp inclusivity, no-match nulls, collision guard)."""

import datetime as dt

import pytest

from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.asof import (
    asof_join,
)

D = dt.date


def _frames(spark):
    left = spark.createDataFrame(
        [
            ("A", D(2024, 1, 2), 5),
            ("A", D(2024, 1, 5), 10),
            ("B", D(2024, 1, 3), 7),
        ],
        "k string, t date, v int",
    )
    right = spark.createDataFrame(
        [
            ("A", D(2024, 1, 1), 100),
            ("A", D(2024, 1, 5), 200),
            ("C", D(2024, 1, 1), 999),
        ],
        "k string, rt date, s int",
    )
    return left, right


@pytest.mark.slow
def test_backward_asof(spark):
    left, right = _frames(spark)
    got = {
        (r.k, r.t): (r.rt, r.s)
        for r in asof_join(left, right, "k", "t", "rt").collect()
    }
    assert got == {
        ("A", D(2024, 1, 2)): (D(2024, 1, 1), 100),
        ("A", D(2024, 1, 5)): (D(2024, 1, 5), 200),  # equal ts matches
        ("B", D(2024, 1, 3)): (None, None),  # no right rows for key
    }


def test_forward_asof(spark):
    left, right = _frames(spark)
    got = {
        (r.k, r.t): (r.rt, r.s)
        for r in asof_join(left, right, "k", "t", "rt", direction="forward").collect()
    }
    assert got == {
        ("A", D(2024, 1, 2)): (D(2024, 1, 5), 200),
        ("A", D(2024, 1, 5)): (D(2024, 1, 5), 200),
        ("B", D(2024, 1, 3)): (None, None),
    }


def test_interval_join_containment(spark):
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.interval import (
        interval_join,
    )

    points = spark.createDataFrame(
        [(1, D(2024, 1, 1)), (2, D(2024, 1, 3)), (3, D(2024, 2, 10))],
        "pid int, t date",
    )
    intervals = spark.createDataFrame(
        [
            (D(2024, 1, 1), D(2024, 1, 2), "a"),   # catches pid 1 (start-inclusive)
            (D(2024, 1, 2), D(2024, 1, 3), "b"),   # catches pid 2 (end-inclusive)
            (D(2024, 1, 1), D(2024, 1, 31), "c"),  # long interval: pids 1+2
            (D(2024, 3, 1), D(2024, 3, 5), "d"),   # catches nothing
        ],
        "s date, e date, tag string",
    )
    got = sorted(
        (r.pid, r.tag)
        for r in interval_join(points, intervals, "t", "s", "e").collect()
    )
    assert got == [(1, "a"), (1, "c"), (2, "b"), (2, "c")]


def test_asof_rejects_column_collision(spark):
    left, right = _frames(spark)
    with pytest.raises(ValueError, match="colliding"):
        asof_join(left, right.withColumnRenamed("s", "v"), "k", "t", "rt")


@pytest.mark.slow
def test_asof_join_tolerance_nulls_stale_matches(spark):
    """merge_asof(tolerance=) parity: a backward match farther than the
    tolerance is nulled (left row kept); within-tolerance matches are
    untouched; rows with no match at all stay null either way."""
    import datetime as dt

    left = spark.createDataFrame(
        [("a", dt.date(2024, 1, 10)),   # check 9 days back -> stale
         ("a", dt.date(2024, 1, 3)),    # check 2 days back -> fresh
         ("b", dt.date(2024, 1, 5))],   # no check at all
        "k string, lt date",
    )
    right = spark.createDataFrame(
        [("a", dt.date(2024, 1, 1), 42)], "k string, rt date, payload int"
    )
    out = {
        (r.k, r.lt): (r.rt, r.payload)
        for r in asof_join(
            left, right, on="k", left_time="lt", right_time="rt",
            tolerance_seconds=7 * 24 * 3600,
        ).collect()
    }
    assert out[("a", dt.date(2024, 1, 3))] == (dt.date(2024, 1, 1), 42)
    assert out[("a", dt.date(2024, 1, 10))] == (None, None)
    assert out[("b", dt.date(2024, 1, 5))] == (None, None)

    # without tolerance the stale match is carried
    base = {
        (r.k, r.lt): r.payload
        for r in asof_join(
            left, right, on="k", left_time="lt", right_time="rt"
        ).collect()
    }
    assert base[("a", dt.date(2024, 1, 10))] == 42


def test_asof_rejects_reserved_internal_names(spark):
    """An input column literally named _t/_side/_rt would be clobbered
    by the operator's internal tag/carry projection -- must be rejected
    up front, not silently dropped."""
    left, right = _frames(spark)
    for bad in ("_t", "_side", "_rt"):
        with pytest.raises(ValueError, match="internal names"):
            asof_join(left.withColumn(bad, left.v), right, "k", "t", "rt")
        with pytest.raises(ValueError, match="internal names"):
            asof_join(left, right.withColumn(bad, right.s), "k", "t", "rt")


def test_asof_forward_tolerance_nulls_distant_matches(spark):
    """Tolerance guard extended to the forward direction (VERDICT r4
    item 7): a next-at-or-after match farther than the tolerance is
    nulled (left row kept); a within-tolerance match is untouched."""
    left = spark.createDataFrame(
        [("A", D(2024, 1, 2), 5), ("B", D(2024, 1, 2), 6)],
        "k string, t date, v int",
    )
    right = spark.createDataFrame(
        [("A", D(2024, 1, 20), 9), ("B", D(2024, 1, 4), 7)],
        "k string, rt date, s int",
    )
    got = {
        r.k: (r.rt, r.s)
        for r in asof_join(
            left, right, "k", "t", "rt",
            direction="forward", tolerance_seconds=7 * 24 * 3600,
        ).collect()
    }
    assert got["A"] == (None, None)          # 18 days out: stale-nulled
    assert got["B"] == (D(2024, 1, 4), 7)    # 2 days out: kept
