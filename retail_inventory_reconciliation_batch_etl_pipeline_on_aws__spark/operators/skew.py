"""Skew-mitigation operators (SURVEY.md SS4.2, SS7.3.6).

AQE's skew-join splitting (on in ``session.py``) handles most zipfian
key distributions at runtime. These explicit forms cover the cases AQE
cannot: skewed *aggregations* (AQE only splits joins) and joins where
the skew is known ahead of time and the extra exchange AQE inserts is
worth pre-empting. Both are pure DataFrame compositions -- deterministic,
oracle-comparable results, only the physical distribution changes.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_agg_sum(
    df: DataFrame,
    keys: Sequence[str],
    sum_cols: Sequence[str],
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-phase salted SUM aggregation for skewed group keys.

    Phase 1 groups on (keys..., salt) -- a deterministic hash-derived
    bucket, so a hot key's rows spread over ``salt_buckets`` reducers
    instead of melting one. Phase 2 re-groups on the true keys to merge
    the partials. SUM re-aggregates losslessly (as would COUNT/MIN/MAX);
    the output is row-for-row identical to the direct groupBy.

    Note Spark's own partial (map-side) aggregation already dampens
    skew when upstream partitions are key-diverse; salting matters when
    a hot key dominates *within* map partitions too (e.g. the input is
    clustered by the hot key on disk).
    """
    salt = F.pmod(F.xxhash64(*[F.col(k) for k in keys], F.spark_partition_id()),
                  F.lit(salt_buckets)).alias("_salt")
    partial = (
        df.select(*keys, salt, *sum_cols)
        .groupBy(*keys, "_salt")
        .agg(*[F.sum(c).alias(c) for c in sum_cols])
    )
    return partial.groupBy(*keys).agg(*[F.sum(c).alias(c) for c in sum_cols])


def content_salt(df: DataFrame, salt_buckets: int) -> Column:
    """The deterministic row-content salt used by ``salted_join``:
    xxhash64 over every column, mod the bucket count. Exposed so tests
    (and custom callers) can assert on the EXACT production expression's
    spread, not a lookalike."""
    return F.pmod(
        F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(salt_buckets)
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    how: str = "inner",
    salt_buckets: int = 16,
    salt_col: str | Column | None = None,
) -> DataFrame:
    """Skew-resistant equi-join: salt the big side, replicate the small.

    Each big-side row gets a deterministic salt in [0, salt_buckets);
    the small side is exploded ``salt_buckets``-fold so every
    (key, salt) pair finds its match. A hot key's rows land on
    ``salt_buckets`` reducers instead of one, at the price of
    replicating the small side -- the explicit form of what AQE's
    skew-join split does adaptively, for when the skew is known and the
    small side is cheap to replicate but too big to broadcast outright.

    ``how`` supports 'inner' and 'left' (the big side preserved);
    right/full-outer would need salt-aware null handling on the
    replicated side and are out of scope.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    if salt_col is None:
        # salt derived from row CONTENT (xxhash64 over every big-side
        # column), never from row position: the salt is the shuffle
        # partitioning key, and a position-derived salt
        # (monotonically_increasing_id) can change when a map task is
        # recomputed under retry/speculation, routing rows to reducers
        # that already fetched their input -- the SPARK-23207 class of
        # silent row loss/duplication. Content hashing is stable under
        # any recomputation. Caveat: fully-identical duplicate rows
        # share a salt; they spread only if any column differs.
        salt_col = content_salt(big, salt_buckets)
    big_salted = big.withColumn("_salt", salt_col)
    small_rep = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    joined = big_salted.join(small_rep, on=[on, "_salt"], how=how)
    return joined.drop("_salt")
