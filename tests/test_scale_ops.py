"""Scale-path operators and the engine features they lean on: salting
must not change results, layout and pruning claims are measured from
plans and parquet footers, and the versioned table keeps its snapshot
isolation."""

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.skew import (
    salted_agg_sum,
    salted_join,
)

from conftest import TESTDATA


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_salted_agg_matches_direct(spark):
    # zipfian input: one hot key with 10k rows, a tail of singletons
    hot = spark.range(10_000).select(
        F.lit("HOT").alias("k"), F.lit(1).cast("long").alias("v")
    )
    tail = spark.range(100).select(
        F.concat(F.lit("t"), F.col("id")).alias("k"), F.col("id").cast("long").alias("v")
    )
    df = hot.unionByName(tail)
    direct = df.groupBy("k").agg(F.sum("v").alias("v"))
    salted = salted_agg_sum(df, ["k"], ["v"], salt_buckets=8)
    assert _rows(salted, "k", "v") == _rows(direct, "k", "v")


def test_salted_join_matches_direct(spark):
    big = spark.range(5_000).select(
        F.when(F.col("id") % 2 == 0, "HOT").otherwise(F.concat(F.lit("k"), F.col("id"))).alias("k"),
        F.col("id").alias("payload"),
    )
    small = spark.createDataFrame(
        [("HOT", 1), ("k1", 2), ("k3", 3), ("absent", 4)], "k string, attr int"
    )
    for how in ("inner", "left"):
        direct = big.join(small, "k", how)
        salted = salted_join(big, small, "k", how, salt_buckets=4)
        assert sorted(direct.columns) == sorted(salted.columns)
        assert _rows(salted, "k", "payload", "attr") == _rows(
            direct, "k", "payload", "attr"
        )


def test_aqe_skew_join_split_actually_fires(spark):
    """Closes the configured-vs-proven gap for AQE skew handling: build
    a zipfian sort-merge join (one key owning ~95% of rows), lower the
    skew thresholds to test scale, and assert the FINAL adaptive plan
    really split the skewed partition (skew=true on the join node) --
    while the join result stays correct."""
    hot = spark.range(300_000).select(
        F.lit("HOT").alias("k"), F.col("id").alias("payload")
    )
    tail = spark.range(5_000).select(
        F.concat(F.lit("t"), F.col("id") % 500).alias("k"),
        F.col("id").alias("payload"),
    )
    big = hot.unionByName(tail)
    right = spark.range(2_000).select(
        F.when(F.col("id") == 0, "HOT")
        .otherwise(F.concat(F.lit("t"), F.col("id") % 500))
        .alias("k"),
        F.col("id").alias("attr"),
    )
    overrides = {
        # force a sort-merge join, then make the skew machinery see the
        # hot partition as skewed at test-data sizes
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "8KB",
    }
    saved = {k: spark.conf.get(k, None) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        joined = big.join(right, "k")
        # run the DataFrame's OWN QueryExecution (count() would plan a
        # separate aggregate and leave this plan unexecuted/non-final)
        n = len(joined.collect())
        # HOT matches 1 right row; tail key t0 matches 3 (right id 0
        # became HOT), t1..t499 match 4; left has 10 rows per tail key
        assert n == 300_000 + 10 * 3 + 499 * 10 * 4
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, f"skew split did not fire:\n{plan}"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_runtime_bloom_filter_prunes_fact_scan(spark, tmp_path):
    """Runtime (bloom) filter injection: a selective dim-side predicate
    must materialize as a BloomFilterMightContain guard on the FACT scan
    side -- Spark's runtime semi-join reduction, the mechanism that cuts
    the 100TB fact shuffle down to rows that can possibly join. Proven
    on written parquet (the injector requires a file scan), with a
    sort-merge join so the bloom path (not broadcast reuse) is taken."""
    fact_path = str(tmp_path / "bloom_fact")
    dim_path = str(tmp_path / "bloom_dim")
    spark.range(200_000).select(
        (F.col("id") % 5_000).alias("k"), F.col("id").alias("v")
    ).write.parquet(fact_path)
    spark.range(5_000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 100 == 0, "rare").otherwise("common").alias("tag"),
    ).write.parquet(dim_path)
    overrides = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ
        # shrink thresholds so test-sized inputs qualify for injection
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
    }
    saved = {k: spark.conf.get(k, None) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        fact = spark.read.parquet(fact_path)
        dim = spark.read.parquet(dim_path).where(F.col("tag") == "rare")
        joined = fact.join(dim, "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # Spark surfaces the injected bloom guard as might_contain(
        # bloom subquery, xxhash64(k)) in a Filter ABOVE the fact scan
        assert "might_contain" in plan, plan
        # and the reduction is semantically invisible
        assert joined.count() == 50 * 40  # 50 rare keys x 40 fact rows each
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_broadcast_threshold_drives_join_strategy(spark):
    """autoBroadcastJoinThreshold is the knob that decides dim-join
    strategy for UNHINTED joins: disabled (-1) the same query plans a
    shuffle join; at the default 10MB the small side broadcasts. Proves
    the engine's unhinted joins stay tunable per-deployment instead of
    hard-wiring a strategy (explicit F.broadcast hints are reserved for
    the bounded dims that are broadcast-safe at ANY scale)."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from conftest import TESTDATA

    def plan_with(threshold: str) -> str:
        # build the frame AFTER setting the conf: physical planning is
        # cached per QueryExecution, so a pre-built frame would keep the
        # strategy chosen under the previous threshold
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        try:
            big = spark.read.parquet(f"{TESTDATA}/lineitem.parquet")
            dim = spark.read.parquet(f"{TESTDATA}/part.parquet")
            joined = (
                big.join(dim, big.l_partkey == dim.p_partkey)
                .groupBy("p_type")
                .agg(F.sum("l_quantity").alias("q"))
            )
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                joined.explain("formatted")
            return buf.getvalue()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    disabled = plan_with("-1")
    assert "BroadcastHashJoin" not in disabled
    assert "SortMergeJoin" in disabled or "ShuffledHashJoin" in disabled
    enabled = plan_with("10485760")
    assert "BroadcastHashJoin" in enabled


def test_write_range_sorted_disjoint_files_prune_by_footer(spark, tmp_path):
    """Range-sorted layout contract: (1) round-trip preserves rows,
    (2) per-file parquet footer [min, max] ranges on the layout key are
    pairwise DISJOINT, (3) rows are sorted inside each file -- together
    these make footer stats a coarse global index, so a point predicate
    touches exactly one file's range. A plain repartition() write fails
    (2): every file spans the whole key range."""
    import glob as globlib

    import pyarrow.parquet as pq

    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.sources.writers import (
        write_range_sorted,
    )

    df = spark.range(0, 10_000).select(
        (F.xxhash64("id") % 1_000_000).alias("user_id"),
        F.col("id").alias("v"),
    )
    path = str(tmp_path / "range_sorted")
    write_range_sorted(df, path, "user_id", num_files=8)

    files = sorted(globlib.glob(f"{path}/part-*.parquet"))
    assert len(files) > 2, files

    spans = []
    for f in files:
        pf = pq.ParquetFile(f)
        idx = pf.schema_arrow.get_field_index("user_id")
        lo = min(
            pf.metadata.row_group(g).column(idx).statistics.min
            for g in range(pf.metadata.num_row_groups)
        )
        hi = max(
            pf.metadata.row_group(g).column(idx).statistics.max
            for g in range(pf.metadata.num_row_groups)
        )
        col = pq.read_table(f, columns=["user_id"])["user_id"].to_pylist()
        assert col == sorted(col), f"not sorted within {f}"
        spans.append((lo, hi))
    spans.sort()
    for (_, hi_prev), (lo_next, _) in zip(spans, spans[1:]):
        assert hi_prev <= lo_next, f"overlapping file ranges: {spans}"

    # a point predicate's footer-qualified file set is a single file
    probe = spans[len(spans) // 2][0]
    touched = [1 for lo, hi in spans if lo <= probe <= hi]
    assert len(touched) == 1, (probe, spans)

    back = sorted(
        (r.user_id, r.v) for r in spark.read.parquet(path).collect()
    )
    orig = sorted((r.user_id, r.v) for r in df.collect())
    assert back == orig


def test_dynamic_partition_pruning_prunes_fact_partitions(spark, tmp_path):
    """Dynamic partition pruning: joining a date-partitioned fact to a
    dim with a selective predicate must inject a dynamicpruning
    expression into the fact scan's PartitionFilters -- at 100TB the
    fact side then reads only the dim-selected partitions' files
    instead of the whole table. Completes the runtime-pruning proofs
    (AQE skew split, bloom filter injection, and now DPP).

    Two empirically-pinned preconditions worth knowing: the dim filter
    must be one Spark's isLikelySelective heuristic accepts (a bare
    boolean-column filter is NOT; an equality compare is), and the dim
    must actually be the broadcast/build side (at toy sizes the FACT
    wins the broadcast otherwise and the rule has nothing to prune)."""
    import contextlib as cl
    import datetime as dt
    import io as iolib
    import re as relib

    fact_path = str(tmp_path / "dpp_fact")
    days = [dt.date(2024, 1, d) for d in range(1, 11)]
    fact = spark.range(10_000).select(
        F.element_at(
            F.array(*[F.lit(d) for d in days]),
            (F.col("id") % 10 + 1).cast("int"),
        ).alias("date_key"),
        F.col("id").alias("v"),
    )
    fact.write.mode("overwrite").partitionBy("date_key").parquet(fact_path)
    dim = spark.createDataFrame(
        [(d, "special" if d.day <= 2 else "normal") for d in days],
        "date_key date, kind string",
    )

    joined = (
        spark.read.parquet(fact_path)
        .join(F.broadcast(dim.where(F.col("kind") == "special")), "date_key")
        .agg(F.count("*").alias("n"))
    )
    buf = iolib.StringIO()
    with cl.redirect_stdout(buf):
        joined.explain("formatted")
    plan = buf.getvalue()
    pf = relib.findall(r"PartitionFilters: \[[^\]]*\]", plan)
    assert pf and any("dynamicpruning" in f for f in pf), plan
    # 2 of 10 days qualify; ids are uniform mod 10 -> exactly 2000 rows
    assert joined.collect()[0].n == 2000


@pytest.mark.slow
def test_read_parquet_evolving_merges_schema_versions(spark, tmp_path):
    """Schema evolution contract: a staging zone whose later files
    carry an added column reads as the UNION schema, old files
    null-filled; and with tolerate_corrupt a garbage file is skipped
    instead of failing the scan (quarantine-and-continue), while the
    strict default fails loudly."""
    import pytest as _pytest

    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.sources.readers import (
        read_parquet_evolving,
    )

    zone = tmp_path / "zone"
    zone.mkdir()
    spark.createDataFrame([(1, "a")], "id long, v string").coalesce(1).write.mode(
        "append"
    ).parquet(str(zone))
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, v string, score double"
    ).coalesce(1).write.mode("append").parquet(str(zone))

    got = {
        r.id: (r.v, r.score)
        for r in read_parquet_evolving(spark, str(zone)).collect()
    }
    assert got == {1: ("a", None), 2: ("b", 9.5)}

    (zone / "zz_garbage.parquet").write_bytes(b"this is not parquet at all")
    tolerant = read_parquet_evolving(spark, str(zone), tolerate_corrupt=True)
    assert {r.id for r in tolerant.collect()} == {1, 2}
    with _pytest.raises(Exception):
        read_parquet_evolving(spark, str(zone)).collect()  # strict fails


def test_cbo_statistics_drive_join_reorder(spark, tmp_path):
    """Cost-based join reorder PROVEN firing: with ANALYZE-computed
    column stats, Catalyst moves the selective tiny-dim join ahead of
    the wider medium-dim join; without CBO the written (worse) order
    is kept. Completes the optimizer-proof set (AQE skew split, DPP,
    runtime bloom filter, broadcast threshold) -- at 100 TB, stats +
    reorder is the difference between filtering the fact early and
    carrying it through an unfiltered join."""
    import re

    db = "cbo_proof_db"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{tmp_path}/wh'")
    prev_db = spark.catalog.currentDatabase()
    prev = {
        k: spark.conf.get(k, None)
        for k in ("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled")
    }
    try:
        spark.sql(f"USE {db}")
        spark.range(0, 200000).selectExpr(
            "id % 1000 AS k1", "id % 50 AS k2", "id AS v"
        ).write.mode("overwrite").saveAsTable("fact")
        spark.range(0, 1000).selectExpr(
            "id AS k1", "id % 10 AS attr1"
        ).write.mode("overwrite").saveAsTable("dim_mid")
        spark.range(0, 50).selectExpr(
            "id AS k2", "id % 5 AS attr2"
        ).write.mode("overwrite").saveAsTable("tiny")
        for t in ("fact", "dim_mid", "tiny"):
            spark.sql(f"ANALYZE TABLE {t} COMPUTE STATISTICS FOR ALL COLUMNS")
        q = f"""
            SELECT f.v, m.attr1, t.attr2
            FROM fact f
            JOIN dim_mid m ON f.k1 = m.k1
            JOIN tiny t ON f.k2 = t.k2
            WHERE t.attr2 = 0 AND m.attr1 < 100
        """

        def join_order(cbo: bool) -> list[str]:
            spark.conf.set("spark.sql.cbo.enabled", str(cbo).lower())
            spark.conf.set("spark.sql.cbo.joinReorder.enabled", str(cbo).lower())
            plan = spark.sql(q)._jdf.queryExecution().optimizedPlan().toString()
            return re.findall(rf"{db}\.(fact|dim_mid|tiny)", plan)

        assert join_order(False) == ["fact", "dim_mid", "tiny"]  # as written
        assert join_order(True) == ["fact", "tiny", "dim_mid"]  # selective first
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        spark.sql(f"USE {prev_db}")
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_aqe_coalesces_post_shuffle_partitions(spark):
    """The remaining AQE mechanism (skew-split and bloom already
    proven): a small shuffle declared with 32 partitions must be
    COALESCED at runtime -- the final adaptive plan reads the shuffle
    with fewer partitions than the static plan declared."""
    import contextlib
    import io

    df = (
        spark.range(10_000)
        .select((F.col("id") % 100).alias("k"), F.col("id").alias("v"))
        .groupBy("k")
        .agg(F.sum("v").alias("s"))
    )
    df.collect()  # run so AQE finalizes
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "AQEShuffleRead" in p, "no adaptive shuffle read in final plan"
    assert "coalesced" in p, f"post-shuffle coalescing did not fire:\n{p[:800]}"


def test_nested_schema_pruning_reads_only_the_touched_subfield(spark, tmp_path):
    """Struct columns must prune to the accessed subfield in ReadSchema
    -- at 100 TB a metadata struct with a fat blob field must not be
    materialized to read one scalar out of it."""
    import contextlib
    import io

    path = str(tmp_path / "nested")
    spark.range(100).select(
        F.col("id"),
        F.struct(
            (F.col("id") % 5).alias("width"),
            F.repeat(F.lit("x"), 1000).alias("fat_blob"),
        ).alias("meta"),
    ).write.parquet(path)

    df = spark.read.parquet(path).select("id", F.col("meta.width"))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    read_schema = p.split("ReadSchema:")[1].splitlines()[0]
    assert "width" in read_schema
    assert "fat_blob" not in read_schema, f"blob not pruned: {read_schema}"


def test_versioned_table_time_travel_isolation(spark, tmp_path):
    """append/append/overwrite produce three readable snapshots; a
    reader resolved at v0 is isolated from later writes; a version
    that was never written fails loudly."""
    import pytest as _pytest

    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.sources.versioned import (
        history,
        latest_version,
        read_versioned,
        write_versioned,
    )

    path = str(tmp_path / "vt")
    mk = lambda lo, hi: spark.range(lo, hi).select(F.col("id").alias("v"))
    rows = lambda df: sorted(r.v for r in df.collect())

    assert latest_version(path) == -1
    assert write_versioned(mk(0, 10), path) == 0
    # pin a reader to v0 BEFORE later writes
    pinned = read_versioned(spark, path, 0)
    assert write_versioned(mk(10, 15), path) == 1            # append
    assert write_versioned(mk(100, 103), path, "overwrite") == 2

    assert rows(read_versioned(spark, path, 0)) == list(range(10))
    assert rows(read_versioned(spark, path, 1)) == list(range(15))
    assert rows(read_versioned(spark, path, 2)) == [100, 101, 102]
    assert rows(read_versioned(spark, path)) == [100, 101, 102]  # latest
    assert rows(pinned) == list(range(10))                   # isolation
    assert [h["mode"] for h in history(path)] == ["append", "append", "overwrite"]
    with _pytest.raises(ValueError, match="does not exist"):
        read_versioned(spark, path, 3)


def test_versioned_table_changes_feed(spark, tmp_path):
    """CDF between snapshots: append shows pure inserts; an overwrite
    that keeps some rows shows exactly the delta (update = delete +
    insert at content grain)."""
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.sources.versioned import (
        table_changes,
        write_versioned,
    )

    path = str(tmp_path / "cdf")
    df0 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    df1 = spark.createDataFrame([(3, "c")], "k int, v string")
    df2 = spark.createDataFrame(
        [(1, "a"), (2, "B"), (3, "c")], "k int, v string"
    )  # k=2 updated
    write_versioned(df0, path)
    write_versioned(df1, path)            # v1 = append
    write_versioned(df2, path, "overwrite")  # v2

    c01 = {(r.k, r.v, r._change) for r in table_changes(spark, path, 0, 1).collect()}
    assert c01 == {(3, "c", "insert")}
    c12 = {(r.k, r.v, r._change) for r in table_changes(spark, path, 1, 2).collect()}
    assert c12 == {(2, "B", "insert"), (2, "b", "delete")}


def test_versioned_table_concurrent_writers_serialize(spark, tmp_path):
    """Two writers racing: the O_EXCL commit CAS gives them distinct
    consecutive versions and BOTH snapshots contain their own rows
    (append semantics, no lost update)."""
    import threading

    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.sources.versioned import (
        history,
        read_versioned,
        write_versioned,
    )

    path = str(tmp_path / "race")
    write_versioned(
        spark.createDataFrame([(0,)], "v int"), path
    )  # v0 so both racers append

    results = {}

    def writer(tag, lo):
        df = spark.createDataFrame([(lo,), (lo + 1,)], "v int")
        results[tag] = write_versioned(df, path)

    t1 = threading.Thread(target=writer, args=("a", 10))
    t2 = threading.Thread(target=writer, args=("b", 20))
    t1.start(); t2.start(); t1.join(); t2.join()

    assert sorted(results.values()) == [1, 2]  # distinct, consecutive
    final = sorted(r.v for r in read_versioned(spark, path).collect())
    assert final == [0, 10, 11, 20, 21]  # no lost update
    assert len(history(path)) == 3


def _max_over_mean(df) -> float:
    """max/mean rows per physical partition of ``df`` as it executes."""
    counts = [
        r[1]
        for r in df.groupBy(F.spark_partition_id()).count().collect()
    ]
    return max(counts) / (sum(counts) / len(counts))


def test_salting_measurably_levels_partition_load(spark):
    """Salting's point, measured: hash-partitioning a zipfian key
    funnels the hot key's mass into one partition (max/mean >> 1);
    the salted repartition levels it (max/mean ~ 1)."""
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.skew import (
        content_salt,
    )

    hot = spark.range(20_000).select(F.lit("HOT").alias("k"), F.col("id").alias("v"))
    tail = spark.range(200).select(
        F.concat(F.lit("t"), F.col("id")).alias("k"), F.col("id").alias("v")
    )
    df = hot.unionByName(tail)

    skewed = _max_over_mean(df.repartition(16, "k"))
    # 256 salt cells over 16 partitions: balls-in-bins smoothing --
    # ~16 hot cells per partition +- Poisson (too few cells, e.g.
    # 16-over-16, would re-collide into a 2-3x imbalance)
    salted = _max_over_mean(
        df.withColumn("_salt", content_salt(df, 256)).repartition(16, "k", "_salt")
    )
    assert skewed > 5, skewed           # hot key owns a partition
    assert salted < 2, salted           # leveled
    assert salted * 3 < skewed


def test_runtime_bloom_filter_fires_at_scale(spark):
    """Runtime bloom-filter join pruning (the semi-join pushdown that
    matters on a 100 TB fact scan): a selective dim filter gets
    compiled into a bloom_filter_agg on the build side and a
    might_contain pre-filter on the fact side, so most fact rows die
    BEFORE the shuffle. Spark only injects it when the application-side
    scan is big enough to pay for the filter (10 GB default) -- never
    true at test SF -- so the test lowers the threshold to emulate the
    at-scale decision and pins (a) the session keeps the feature
    enabled and (b) the injection actually happens on our fact-dim
    join shape."""
    import contextlib
    import io

    assert (
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled")
        == "true"
    )
    # sf0.1: the fact scan must clear even the LOWERED threshold for
    # the injection cost model to say yes (sf0.01's scan is too small)
    sf = "/root/testdata/sf0.1"
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf}/orders.parquet").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the shuffle-join regime (at 100 TB the dim outgrows
        # broadcast) and emulate an at-scale fact scan
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "1MB",
        )
        j = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
            "o_orderpriority"
        ).count()
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain()
        plan = buf.getvalue()
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
        # and the result is unchanged by the pre-filter
        assert j.collect()[0]["count"] == li.join(
            F.broadcast(orders), li.l_orderkey == orders.o_orderkey
        ).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold"
        )


@pytest.mark.slow
def test_persisted_pq_index_serves_identical_results_and_prunes(
    spark, tmp_path
):
    """IVF-PQ artifact lifecycle: (a) rebuilding from the same data is
    BIT-IDENTICAL (codes, codebooks, coarse centroids), (b) serving
    with exact re-rank returns the brute-force top-1 (the query vector
    itself) and is deterministic across calls, (c) the codes scan
    partition-prunes to the probed clusters, (d) ADC-only serving
    never touches the embeddings table."""
    import contextlib
    import io

    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.similarity import (  # noqa: E501
        build_pq_index,
        pq_index_topk,
    )
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.plans import (
        fixtures,
    )

    emb = fixtures.load(spark, TESTDATA, "embeddings")
    qv = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).collect()[0].embedding
    ]
    idx1, idx2 = str(tmp_path / "pq1"), str(tmp_path / "pq2")
    build_pq_index(emb, idx1)
    build_pq_index(emb, idx2)

    def snap(idx):
        codes = sorted(
            tuple(r)
            for r in spark.read.parquet(f"{idx}/codes")
            .select("_id", "codes", "cluster")
            .collect()
        )
        books = sorted(
            (r.j, r.code, tuple(r.centroid))
            for r in spark.read.parquet(f"{idx}/codebooks").collect()
        )
        cents = sorted(
            (r.cluster, tuple(r.centroid))
            for r in spark.read.parquet(f"{idx}/centroids").collect()
        )
        return codes, books, cents

    assert snap(idx1) == snap(idx2)  # train-once determinism, bit-level

    # completion marker is the rebuild-skip signal (r8 advice): it must
    # exist after a finished build, and it is written after the LAST
    # artifact so codes/_SUCCESS alone never masks a crashed build
    import os

    assert os.path.exists(os.path.join(idx1, "_INDEX_COMPLETE"))
    assert os.path.exists(os.path.join(idx1, "centroids", "_SUCCESS"))

    served = pq_index_topk(spark, idx1, qv, k=10, embeddings=emb)
    rows = served.collect()
    assert rows == pq_index_topk(spark, idx1, qv, k=10, embeddings=emb).collect()
    assert rows[0].vec_id == 0 and rows[0].score == 1.0  # self is top-1

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        served.explain("formatted")
    p = buf.getvalue()
    assert "PartitionFilters:" in p
    assert "cluster" in p.split("PartitionFilters:")[1].split("]")[0]

    # ADC-only serving: no embeddings scan anywhere in the plan
    adc_only = pq_index_topk(spark, idx1, qv, k=10)
    got = adc_only.collect()
    assert len(got) == 10 and got == adc_only.collect()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        adc_only.explain("formatted")
    assert "embeddings" not in buf.getvalue()
