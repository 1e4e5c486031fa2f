"""Zone-aware readers (SURVEY.md SS2.1, operators S1-S3).

The reference constructs ``date=YYYY-MM-DD`` paths by hand to read one
partition (``glue_job_1_stage_sales.py:26``,
``glue_job_2_reconcile.py:41-45``). Here the whole table root is the
address and partition selection is a *filter on the partition column* --
Catalyst partition pruning reads only the matching directories, which
generalizes to multi-day reads and keeps pruning visible in the plan
(``PartitionFilters`` in ``.explain``). At 100TB the difference between
"prune in the plan" and "glob paths in the driver" is the difference
between a metadata operation and an accidental full scan.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    *,
    infer: bool = False,
) -> DataFrame:
    """CSV scan (S1). Explicit schema in prod; ``infer=True`` is the
    dev-mode equivalent of the reference's ``inferSchema=true``
    (glue_job_1_stage_sales.py:33-36) -- it costs a second full pass
    over the input, so it is opt-in here, never the default.
    """
    reader = spark.read.option("header", True)
    if schema is not None:
        reader = reader.schema(schema)
    elif infer:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan (S2; glue_job_2_reconcile.py:50,74)."""
    return spark.read.parquet(path)


def read_parquet_evolving(
    spark: SparkSession,
    path: str,
    tolerate_corrupt: bool = False,
) -> DataFrame:
    """Parquet scan over a directory whose files span SCHEMA VERSIONS
    (columns added over time -- the normal life of a long-lived staging
    zone): ``mergeSchema`` unions every footer's schema, older files
    surface the new columns as NULL.

    The per-table footer-merge costs one extra metadata pass, which is
    why it is a separate entry point and not the default ``read_parquet``
    -- at 100 TB you pay it only on zones that actually evolve.
    ``tolerate_corrupt`` additionally skips unreadable files
    (``ignoreCorruptFiles``) instead of failing the job -- the
    quarantine-and-continue posture for ingest zones fed by flaky
    producers; leave False for warehouse zones where a corrupt file
    must fail loudly.
    """
    reader = spark.read.option("mergeSchema", "true")
    if tolerate_corrupt:
        reader = reader.option("ignoreCorruptFiles", "true")
    return reader.parquet(path)


def read_partition(
    df: DataFrame,
    partition_col: str,
    value: dt.date | str | Column,
) -> DataFrame:
    """Partition selection (S3) as a prunable filter.

    Replaces the reference's manual ``date=<d>`` path construction
    (glue_job_1_stage_sales.py:26; glue_job_2_reconcile.py:41-45) --
    Catalyst turns the equality predicate into partition pruning on a
    partitioned layout and into parquet row-group min/max skipping on a
    sorted unpartitioned layout.
    """
    if isinstance(value, Column):
        pred = F.col(partition_col) == value
    else:
        pred = F.col(partition_col) == F.lit(value).cast("date")
    return df.where(pred)
