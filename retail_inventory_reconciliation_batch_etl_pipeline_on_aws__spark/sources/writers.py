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


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: str | list[str],
    num_buckets: int = 32,
    sort_by: str | list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed mart write -- the at-rest form of ``DISTKEY(sku)``
    (sql/create_redshift_tables.sql:14,37).

    Bucketing pre-hashes rows into ``num_buckets`` files per partition
    by the join/agg key; two tables bucketed the same way join with NO
    exchange (verified in tests) -- at 100TB that deletes the largest
    shuffle in the pipeline from every downstream run that joins or
    aggregates on the bucket key. ``sort_by`` additionally pre-sorts
    within buckets (SORTKEY analogue), letting sort-merge join skip its
    sort. Bucketing requires the table catalog (``saveAsTable``), not a
    bare path write.
    """
    writer = df.write.mode(mode).format("parquet").bucketBy(num_buckets, *_cols(bucket_by))
    if sort_by:
        writer = writer.sortBy(*_cols(sort_by))
    writer.saveAsTable(table)


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
    ``[0, 2**bits)``; ``write_zordered`` handles the scaling.
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


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_by: list[str],
    bits: int = 16,
    num_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Z-ORDERED parquet layout (the technique behind Delta/Iceberg
    ``OPTIMIZE ZORDER BY``): multi-column file pruning where
    ``write_range_sorted`` can only serve its FIRST sort column.

    A linear sort on (x, y) gives perfect footer-stat pruning on x and
    NONE on y -- every file spans y's full range. Interleaving the bits
    of min-max-scaled x and y into one Morton key and range-writing on
    it makes each file a small hyper-rectangle in (x, y) space: a
    predicate on ANY z-ordered column prunes to ~sqrt-fraction of
    files (d-th root in general), with no catalog and no directory
    explosion -- the right layout when two+ high-cardinality columns
    are both common scan predicates (user_id x day, sku x store).

    Mechanics, all scale-safe idioms already used elsewhere: per-column
    min/max as a 1-row broadcast cross-join (scalar-gate idiom, no
    global window), scaling + bit interleave in the scan projection
    (codegen), then ONE range shuffle on the z-key +
    ``sortWithinPartitions`` so footer min/max form the zone map.
    Column-shape caveat (documented, mirrors Delta): z-order helps
    when the bucketized value distribution is not pathologically
    skewed; a heavy-hitter value degrades to range-sort behavior for
    that column, never worse.
    """
    mm = df.agg(
        *[
            a
            for c in zorder_by
            for a in (F.min(c).alias(f"_mn_{c}"), F.max(c).alias(f"_mx_{c}"))
        ]
    )
    scaled = df.crossJoin(F.broadcast(mm))
    top = (1 << bits) - 1
    buckets = []
    for c in zorder_by:
        rng = F.col(f"_mx_{c}").cast("double") - F.col(f"_mn_{c}").cast("double")
        buckets.append(
            F.when(rng <= 0, F.lit(0)).otherwise(
                F.least(
                    F.lit(top),
                    (
                        (F.col(c).cast("double") - F.col(f"_mn_{c}").cast("double"))
                        / rng
                        * top
                    ).cast("long"),
                )
            )
        )
    keyed = scaled.withColumn("_zkey", zorder_key(buckets, bits)).drop(
        *[f"_mn_{c}" for c in zorder_by], *[f"_mx_{c}" for c in zorder_by]
    )
    ranged = (
        keyed.repartitionByRange(num_files, "_zkey")
        if num_files is not None
        else keyed.repartitionByRange("_zkey")
    )
    ranged.sortWithinPartitions("_zkey").drop("_zkey").write.mode(mode).parquet(
        path
    )


def compact_partition(
    spark,
    path: str,
    partition_col: str,
    value,
    target_files: int = 1,
) -> None:
    """Small-file compaction for one partition of a partitioned table.

    Streaming foreachBatch sinks and frequent dynamic-overwrite loads
    accumulate many small files per partition; at scale that turns
    every scan into a file-listing + task-scheduling storm. This
    maintenance op rewrites ONE partition (read -> coalesce ->
    dynamic-partition-overwrite), leaving all other partitions
    untouched and the data row-identical -- safe to run online because
    the overwrite is atomic per partition.
    """
    from pyspark.sql import functions as F

    part_df = (
        spark.read.parquet(path).where(F.col(partition_col) == F.lit(value))
    )
    write_partitioned(
        part_df.coalesce(target_files), path, partition_col, sort_within=None
    )


def write_single_file(df: DataFrame, path: str) -> None:
    """K2: small-table single-file write (glue_job_create_dims.py:56).

    ``coalesce(1)`` is correct only for genuinely small frames (the
    product dim); keep it out of fact paths.
    """
    df.coalesce(1).write.mode("overwrite").parquet(path)


def write_orc(
    df: DataFrame,
    path: str,
    partition_by: str | list[str] | None = None,
    sort_within: str | list[str] | None = None,
) -> None:
    """ORC mart write (zlib-compressed, Spark's vectorized writer) with
    the same idempotent dynamic-partition-overwrite + sorted-at-rest
    contract as the parquet writer; ``readers.read_orc`` is the
    consuming side."""
    writer = _sorted_at_rest(df, partition_by, sort_within).write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*_cols(partition_by))
    writer.orc(path)


def _mart_exists(spark, path: str) -> bool:
    """Existence probe that works on any Hadoop-supported filesystem
    (local, HDFS, S3A...), unlike driver-local ``os.path.exists`` which
    silently answers False for remote stores -- and a False answer here
    routes ``merge_upsert`` to the clobbering first-write branch, i.e.
    data loss. We ask Spark itself: a readable parquet table has a
    schema; "path does not exist" (or an existing-but-empty directory,
    which is equally not a mart yet) raises AnalysisException."""
    from pyspark.errors import AnalysisException

    try:
        spark.read.parquet(path).schema
        return True
    except AnalysisException:
        return False


def merge_upsert(
    spark,
    updates: DataFrame,
    path: str,
    key_cols: str | list[str],
    partition_col: str = "date_key",
    version_col: str | None = None,
) -> dict:
    """Keyed MERGE (CDC upsert) into a partitioned parquet mart: rows in
    ``updates`` replace same-key rows, new keys insert, everything else
    is untouched -- generalizing the reference's whole-partition
    DELETE-then-COPY (dags/retail_pipeline_dag.py:19-25) to row-level
    changes.

    Scale shape: only the partitions PRESENT in the update batch are
    read back (partition pruning on an IN-list of partition values --
    the distinct-collect is bounded by partition count, never row
    count), anti-joined against the updates on the key, and rewritten
    via dynamic partition overwrite. Cost is proportional to the
    touched partitions, not the mart. The read-merge frame is eagerly
    localCheckpoint-ed to cut lineage before the overwrite -- Spark
    cannot lazily read a path it is clobbering. (A production 100TB
    mart would put a transactional table format under this same plan;
    the merge plan itself is format-agnostic.)

    Update-batch key collisions: with ``version_col`` the highest
    version per key wins (deterministic keep-last); without it,
    duplicate keys in one batch are a caller bug and raise ValueError
    rather than silently doubling rows.

    ``version_col`` also gates ACROSS batches: an update only replaces
    an existing mart row when its version is >= the stored version, so
    an out-of-order redelivery (a late, LOWER-version change arriving
    after the key already merged) is dropped instead of regressing the
    key -- the CDC contract a replayed/out-of-order change stream
    needs.  On equal versions the update wins, which keeps exact-row
    replay idempotent and makes "same version, amended payload" a
    deterministic last-writer-wins.

    Returns an audit dict: ``partitions_touched``, ``rows_inserted``,
    ``rows_replaced``, ``rows_kept``. Replaying the same batch is
    idempotent in both data and metrics (second run reports the whole
    batch as replacements, zero inserts).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    keys = _cols(key_cols)
    if version_col is not None:
        w = Window.partitionBy(*keys).orderBy(F.col(version_col).desc())
        updates = (
            updates.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
    else:
        dup = (
            updates.groupBy(*keys).count().where(F.col("count") > 1).limit(1).count()
        )
        if dup:
            raise ValueError(
                "merge_upsert: duplicate keys within the update batch; "
                "pass version_col to resolve keep-last deterministically"
            )
    updates_count = updates.count()
    touched = [
        r[0] for r in updates.select(partition_col).distinct().collect()
    ]
    if not _mart_exists(spark, path):
        write_partitioned(updates, path, partition_by=partition_col, sort_within=keys)
        return {
            "partitions_touched": len(touched),
            "rows_inserted": updates_count,
            "rows_replaced": 0,
            "rows_kept": 0,
        }
    existing = spark.read.parquet(path).where(F.col(partition_col).isin(touched))
    # Parquet partition-directory read-back may type the partition column
    # differently from the batch (date_key=2024-01-01 comes back DATE);
    # align to the updates' type so unionByName can't silently coerce the
    # mart's partition column type between first-write and merge paths.
    part_type = dict(updates.dtypes)[partition_col]
    existing = existing.withColumn(
        partition_col, F.col(partition_col).cast(part_type)
    )
    existing_count = existing.count()
    if version_col is None:
        merged = (
            existing.join(updates.select(*keys), keys, "left_anti")
            .unionByName(updates.select(*existing.columns))
            .localCheckpoint(eager=True)
        )
        rows_kept = merged.count() - updates_count
        rows_replaced = existing_count - rows_kept
        rows_inserted = updates_count - rows_replaced
    else:
        # cross-batch version gate: max-version-per-key over
        # (existing UNION updates); __src breaks equal-version ties in
        # favor of the update, keeping exact-row replay idempotent
        both = existing.withColumn("__src", F.lit(0)).unionByName(
            updates.select(*existing.columns).withColumn("__src", F.lit(1))
        )
        w2 = Window.partitionBy(*keys).orderBy(
            F.col(version_col).desc(), F.col("__src").desc()
        )
        winners = (
            both.withColumn("__rn", F.row_number().over(w2))
            .where(F.col("__rn") == 1)
            .drop("__rn")
            .localCheckpoint(eager=True)
        )
        merged_count = winners.count()
        updates_won = winners.where(F.col("__src") == 1).count()
        merged = winners.drop("__src")
        rows_inserted = merged_count - existing_count
        rows_replaced = updates_won - rows_inserted
        rows_kept = existing_count - rows_replaced
    write_partitioned(merged, path, partition_by=partition_col, sort_within=keys)
    return {
        "partitions_touched": len(touched),
        "rows_inserted": rows_inserted,
        "rows_replaced": rows_replaced,
        "rows_kept": rows_kept,
    }


def write_avro(
    df: DataFrame,
    path: str,
    partition_by: str | list[str] | None = None,
    sort_within: str | list[str] | None = None,
) -> None:
    """Avro mart write with the same idempotent dynamic-partition-
    overwrite + sorted-at-rest contract as the parquet/ORC writers;
    ``readers.read_avro`` is the consuming side. Requires the external
    spark-avro connector (``readers.avro_available`` probes)."""
    from .readers import avro_available

    if not avro_available(df.sparkSession):
        raise RuntimeError(
            "spark-avro connector not on the classpath; add "
            "org.apache.spark:spark-avro_2.13 to spark.jars.packages"
        )
    writer = _sorted_at_rest(df, partition_by, sort_within).write.mode("overwrite").format("avro")
    if partition_by:
        writer = writer.partitionBy(*_cols(partition_by))
    writer.save(path)


def small_file_report(
    spark,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    by: str | list[str] | None = None,
) -> DataFrame:
    """The compaction TRIGGER for ``compact_partition``: per partition
    group (or whole table), how many files, how many are below half the
    target size, and the byte stats -- from the ``_metadata`` hidden
    column, so the report is a listing/footer-level scan (file path and
    size come from the file index; no data column is read).

    The ops loop a warehouse actually runs: streaming foreachBatch and
    frequent dynamic overwrites fragment partitions; this report feeds
    the partitions where ``small_files > 0`` into ``compact_partition``.
    """
    from pyspark.sql import functions as F

    group = _cols(by)
    files = (
        spark.read.parquet(path)
        .select(
            *group,
            F.col("_metadata.file_path").alias("_fp"),
            F.col("_metadata.file_size").alias("_fs"),
        )
        .groupBy(*group, "_fp", "_fs")
        .agg(F.count("*").cast("long").alias("rows"))
    )
    return (
        files.groupBy(*group)
        .agg(
            F.count("*").cast("long").alias("n_files"),
            F.sum(F.when(F.col("_fs") * 2 < target_bytes, 1).otherwise(0))
            .cast("long")
            .alias("small_files"),
            F.sum("_fs").cast("long").alias("total_bytes"),
            F.min("_fs").cast("long").alias("min_bytes"),
            F.max("_fs").cast("long").alias("max_bytes"),
            F.sum("rows").cast("long").alias("total_rows"),
        )
        .orderBy(*group)
        if group
        else files.agg(
            F.count("*").cast("long").alias("n_files"),
            F.sum(F.when(F.col("_fs") * 2 < target_bytes, 1).otherwise(0))
            .cast("long")
            .alias("small_files"),
            F.sum("_fs").cast("long").alias("total_bytes"),
            F.min("_fs").cast("long").alias("min_bytes"),
            F.max("_fs").cast("long").alias("max_bytes"),
            F.sum("rows").cast("long").alias("total_rows"),
        )
    )
