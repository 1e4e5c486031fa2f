"""Slowly-changing-dimension (type 2) history maintenance.

The reference full-refreshes ``dim_products`` daily (TRUNCATE + COPY,
dags/retail_pipeline_dag.py:27-33), destroying attribute history: a
product recategorized on day d silently rewrites the past. The
warehouse-native upgrade is an SCD2 dimension -- one row per (key,
attribute-version) with a validity interval -- so facts can always be
joined to the attributes *as of* their own date (the as-of join in
``operators.asof`` is the natural consumer).

Plan shape: ``scd2_apply`` is ONE full-outer join between the open slice
of the history and the new snapshot, followed by a conditional
array-explode that emits 0-2 rows per key (close-out row and/or new
open row). No per-row Python, no second shuffle: at 100TB the history
and the snapshot both arrive hash-partitioned on the key and the
explode is map-side. Closed history rows pass through untouched via
``unionByName`` (a no-shuffle concat).

Policy notes (mirroring build_dims' merge-with-previous deviation,
SURVEY.md SS4.3.4): keys absent from today's snapshot stay OPEN by
default (`close_missing=False`) -- a sku missing from one inventory
file is almost always a late file, not a delisting.
"""

from __future__ import annotations

import datetime as dt
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: History bookkeeping columns added to the caller's key + attr columns.
SCD2_COLS = ("valid_from", "valid_to", "is_current")


def scd2_init(
    snapshot: DataFrame,
    key_cols: list[str],
    attr_cols: list[str],
    effective_date: dt.date,
) -> DataFrame:
    """Seed a history table from the first snapshot: every row open."""
    return snapshot.select(
        *key_cols,
        *attr_cols,
        F.lit(effective_date).cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )


def scd2_apply(
    history: DataFrame,
    snapshot: DataFrame,
    key_cols: list[str],
    attr_cols: list[str],
    effective_date: dt.date,
    *,
    close_missing: bool = False,
) -> DataFrame:
    """Merge a new snapshot into an SCD2 history at ``effective_date``.

    Per key: unchanged attrs -> open row passes through; changed attrs
    -> the open row is closed (``valid_to = effective_date``) and a new
    open row is emitted; new key -> new open row; key missing from the
    snapshot -> open row passes through (or closes, with
    ``close_missing=True``). Attribute comparison is null-safe.
    """
    d = F.lit(effective_date).cast("date")
    open_rows = history.where(F.col("is_current"))
    closed_rows = history.where(~F.col("is_current"))
    snap = snapshot.select(
        *key_cols,
        *[F.col(a).alias(f"_new_{a}") for a in attr_cols],
        F.lit(True).alias("_in_snap"),
    )
    joined = open_rows.withColumn("_in_hist", F.lit(True)).join(
        snap, key_cols, "full_outer"
    )

    same = reduce(
        lambda acc, a: acc & F.col(a).eqNullSafe(F.col(f"_new_{a}")),
        attr_cols,
        F.lit(True),
    )

    def _row(attrs: list, valid_from, valid_to, is_current) -> F.Column:
        return F.struct(
            *[c.alias(a) for c, a in zip(attrs, attr_cols)],
            valid_from.cast("date").alias("valid_from"),
            valid_to.cast("date").alias("valid_to"),
            is_current.alias("is_current"),
        )

    old_attrs = [F.col(a) for a in attr_cols]
    new_attrs = [F.col(f"_new_{a}") for a in attr_cols]
    keep_open = _row(old_attrs, F.col("valid_from"), F.lit(None), F.lit(True))
    close_old = _row(old_attrs, F.col("valid_from"), d, F.lit(False))
    open_new = _row(new_attrs, d, F.lit(None), F.lit(True))

    emitted = (
        F.when(F.col("_in_hist").isNull(), F.array(open_new))  # brand-new key
        .when(
            F.col("_in_snap").isNull(),  # key absent from today's snapshot
            F.array(close_old) if close_missing else F.array(keep_open),
        )
        .when(same, F.array(keep_open))
        .otherwise(F.array(close_old, open_new))
    )
    merged = joined.select(*key_cols, F.explode(emitted).alias("_v")).select(
        *key_cols, *[F.col(f"_v.{c}") for c in (*attr_cols, *SCD2_COLS)]
    )
    return merged.unionByName(closed_rows)
