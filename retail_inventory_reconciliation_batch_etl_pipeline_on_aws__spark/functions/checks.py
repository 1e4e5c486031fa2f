"""Declarative data-quality checks (SURVEY.md SS1.2).

The warehouse DDL encodes contracts Spark's StringType does not enforce
-- ``VARCHAR(50/100/255)`` widths, NOT NULL keys, one-row-per-key grain
(sql/create_redshift_tables.sql:4-38). The reference validates none of
them in-pipeline (loads would fail at COPY time instead). Here they are
a cheap distributed report: all row-wise checks fold into ONE aggregate
pass over the frame (a single job, no shuffle), and the grain check is
one groupBy.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def quality_report(
    df: DataFrame,
    not_null: Sequence[str] = (),
    max_len: dict[str, int] | None = None,
    accepted: dict[str, Sequence[str]] | None = None,
    unique_key: Sequence[str] | None = None,
) -> DataFrame:
    """Violation counts per declared check, as a (check, n_violations)
    frame. A clean frame yields all zeros -- gate with
    ``report.where(col('n_violations') > 0)``.

    - ``not_null``: columns that must never be NULL
    - ``max_len``: column -> max character length (VARCHAR(n) contract)
    - ``accepted``: column -> allowed value list (NULLs not counted;
      combine with not_null for closed domains)
    - ``unique_key``: the table grain; counts rows in excess of one per
      key (the ``dropDuplicates`` / one-row-per-sku contract, A2)
    """
    aggs = []
    for c in not_null:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"not_null:{c}")
        )
    for c, n in (max_len or {}).items():
        aggs.append(
            F.sum(F.when(F.length(F.col(c)) > n, 1).otherwise(0))
            .cast("long")
            .alias(f"max_len({n}):{c}")
        )
    for c, values in (accepted or {}).items():
        arr = F.array(*[F.lit(v) for v in values])
        aggs.append(
            F.sum(
                F.when(
                    F.col(c).isNotNull() & ~F.array_contains(arr, F.col(c)), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias(f"accepted:{c}")
        )

    parts: list[DataFrame] = []
    if aggs:
        wide = df.agg(*aggs)
        stack = ", ".join(f"'{c}', `{c}`" for c in wide.columns)
        parts.append(
            wide.selectExpr(
                f"stack({len(wide.columns)}, {stack}) as (check, n_violations)"
            )
        )
    if unique_key:
        keys = list(unique_key)
        dupes = (
            df.groupBy(*keys)
            .agg(F.count("*").alias("_n"))
            .agg(
                F.coalesce(F.sum(F.col("_n") - 1), F.lit(0))
                .cast("long")
                .alias("n_violations")
            )
            .select(
                F.lit(f"unique_key:{','.join(keys)}").alias("check"), "n_violations"
            )
        )
        parts.append(dupes)
    if not parts:
        raise ValueError("no checks declared")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def column_profile(
    df: DataFrame,
    cols: Sequence[str] | None = None,
    decimal_cols: Sequence[str] = (),
) -> DataFrame:
    """ANALYZE-style per-column profile in ONE pass over the table:
    (col, n_rows, n_null, n_distinct, min_v, max_v), one row per column.

    All statistics come from a single aggregation (Spark plans the
    multi-column distinct counts with one Expand pass -- a xN-columns
    row blowup, the standard trade for exactness; swap
    ``approx_count_distinct`` in at 100TB if 2% error is acceptable),
    then the wide 1-row result is pivoted to long form driver-free with
    ``explode`` over an array of structs. min/max are stringified for a
    homogeneous schema; float columns listed in ``decimal_cols`` are
    formatted through DECIMAL(18,2) so the text form is identical
    cross-engine (raw double->string rendering is not).
    """
    cols = list(cols or df.columns)

    def minmax(c: str, which) -> Column:
        v = F.col(c)
        if c in decimal_cols:
            v = v.cast("decimal(18,2)")
        return which(v).cast("string")

    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    for c in cols:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"{c}__null"),
            F.count_distinct(F.col(c)).cast("long").alias(f"{c}__distinct"),
            minmax(c, F.min).alias(f"{c}__min"),
            minmax(c, F.max).alias(f"{c}__max"),
        ]
    wide = df.agg(*aggs)
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("col"),
                F.col("n_rows"),
                F.col(f"{c}__null").alias("n_null"),
                F.col(f"{c}__distinct").alias("n_distinct"),
                F.col(f"{c}__min").alias("min_v"),
                F.col(f"{c}__max").alias("max_v"),
            )
            for c in cols
        ]
    )
    return wide.select(F.explode(entries).alias("e")).select("e.*")
