"""Idempotent partitioned writers (SURVEY.md SS2.2, operators K1-K3).

The reference achieves idempotent daily loads twice over: path-scoped
``mode("overwrite")`` parquet writes per date directory
(``glue_job_1_stage_sales.py:71``, ``glue_job_2_reconcile.py:113``) and
warehouse ``DELETE ... WHERE date_key = d`` + ``COPY`` pairs
(``dags/retail_pipeline_dag.py:19-41``). Both collapse into one Spark
semantic: **dynamic partition overwrite** -- rewriting only the
partitions present in the incoming frame (the session sets
``spark.sql.sources.partitionOverwriteMode=dynamic``).

``SORTKEY`` intent from ``sql/create_redshift_tables.sql:15,26,38`` is
reproduced by sorting within partitions before write, so parquet
row-group min/max stats act as zone maps for later range scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _cols(cols: str | list[str] | None) -> list[str]:
    if not cols:
        return []
    return [cols] if isinstance(cols, str) else list(cols)


def _sorted_at_rest(
    df: DataFrame,
    partition_by: str | list[str] | None,
    sort_within: str | list[str] | None,
) -> DataFrame:
    """Order each task's rows by the partition columns, then by
    ``sort_within``.

    A partitioned file write requires its input ordered by the
    partition columns and adds that sort itself when the child does not
    already provide it; the optimizer then drops a user sort that sits
    below it (``EliminateSorts``), so ``sortWithinPartitions(sku)``
    alone leaves the files unsorted. Leading with the partition columns
    satisfies the write's required ordering, so the one sort is ours."""
    sort_cols = _cols(sort_within)
    if not sort_cols:
        return df
    return df.sortWithinPartitions(*_cols(partition_by), *sort_cols)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: str | list[str] = "date_key",
    sort_within: str | list[str] | None = "sku",
) -> None:
    """K1/K3: per-partition idempotent replace, sorted-at-rest.

    Running the same day twice leaves the table identical to running it
    once (README.md:114's replayability contract); other days' partitions
    are untouched.
    """
    df = _sorted_at_rest(df, partition_by, sort_within)
    df.write.mode("overwrite").partitionBy(*_cols(partition_by)).parquet(path)


def write_range_sorted(
    df: DataFrame,
    path: str,
    range_by: str | list[str],
    num_files: int | None = None,
    sort_extra: str | list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Globally range-ordered parquet layout -- the at-rest form of a
    compound ``SORTKEY`` (sql/create_redshift_tables.sql:15,38) for
    HIGH-cardinality keys.

    ``repartitionByRange`` samples range boundaries and gives each
    output file a disjoint key range (one shuffle);
    ``sortWithinPartitions`` orders rows inside each file. Parquet
    footer min/max stats then form a coarse global index: a point or
    range predicate on the layout key prunes to the files whose
    [min, max] overlaps it -- at 100 TB that turns full scans into
    touched-file scans with no catalog, no Z-order, and no directory
    explosion. Use ``partitionBy`` for low-cardinality keys (dates),
    this for billions of distinct keys (user_id, sku, doc_id) where
    one-directory-per-value is unusable. ``sort_extra`` appends
    secondary sort columns inside each file (minor SORTKEY columns).
    """
    cols = _cols(range_by)
    ranged = (
        df.repartitionByRange(num_files, *cols)
        if num_files is not None
        else df.repartitionByRange(*cols)
    )
    scols = cols + _cols(sort_extra)
    ranged.sortWithinPartitions(*scols).write.mode(mode).parquet(path)


def zorder_key(bucketized: list, bits: int = 16):
    """Morton (Z-order) interleave of pre-bucketized integer columns:
    bit i of column k lands at output bit ``i * n_cols + k``, so the
    key preserves locality in EVERY input dimension at once. Pure
    shift/and/or column expressions -- a static ``bits x n_cols``-term
    tree, whole-stage-codegen'd, no UDF. Inputs must already be in
    ``[0, 2**bits)``.
    """
    from pyspark.sql import functions as F

    n = len(bucketized)
    out = None
    for k, c in enumerate(bucketized):
        lc = c.cast("long")
        for i in range(bits):
            term = F.shiftleft(
                F.shiftright(lc, i).bitwiseAND(F.lit(1)), i * n + k
            )
            out = term if out is None else out.bitwiseOR(term)
    return out


def write_single_file(df: DataFrame, path: str) -> None:
    """K2: small-table single-file write (glue_job_create_dims.py:56).

    ``coalesce(1)`` is correct only for genuinely small frames (the
    product dim); keep it out of fact paths.
    """
    df.coalesce(1).write.mode("overwrite").parquet(path)
