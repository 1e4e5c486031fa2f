"""Z-order curve math (operators/layout.py over the canonical Morton
key in sources/writers.py) pinned against a pure-python reference, and
the versioned table's copy-on-write DML measured against a
range-clustered layout: a selective predicate rewrites only the files
it touches."""

import pytest
from pyspark.sql import functions as F

from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.layout import (
    zvalue16,
)

SF = "/root/testdata/sf0.01"


def _py_spread16(v: int) -> int:
    # the binary-magic-numbers spread ladder -- same math the
    # zorder_curve SQL oracle spells out stage by stage
    x = v & 0xFFFF
    for shift, mask in [(8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555)]:
        x = (x | (x << shift)) & mask
    return x


def _py_z(x: int, y: int) -> int:
    return _py_spread16(x) | (_py_spread16(y) << 1)


def test_zvalue_matches_python_reference(spark):
    """zvalue16 (= writers.zorder_key at n=2) must equal the
    independent magic-numbers reference bit for bit, including the
    >16-bit masking contract."""
    vals = [(0, 0), (1, 0), (0, 1), (65535, 65535), (43690, 21845), (7, 300)]
    df = spark.createDataFrame(vals, "x long, y long")
    got = df.select(
        "x", "y", zvalue16(F.col("x"), F.col("y")).alias("z")
    ).collect()
    for r in got:
        assert r.z == _py_z(r.x, r.y), (r.x, r.y)
    # single-bit inputs: x-bits land at even positions, y-bits at odd
    one_bit = spark.createDataFrame(
        [(1 << b,) for b in range(16)], "v long"
    ).select(
        "v",
        zvalue16(F.col("v"), F.lit(0)).alias("zx"),
        zvalue16(F.lit(0), F.col("v")).alias("zy"),
    )
    for r in one_bit.collect():
        b = r.v.bit_length() - 1
        assert r.zx == 1 << (2 * b)
        assert r.zy == 1 << (2 * b + 1)


def test_zorder_curve_query_is_topk(spark):
    """The query surface stays a bounded TakeOrderedAndProject -- the
    curve key itself never forces a global sort of the table."""
    import contextlib
    import io

    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark import (
        queries as Q,
    )

    df = Q.q_zorder_curve(spark, "/root/testdata/sf0.001")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    assert "TakeOrderedAndProject" in buf.getvalue()
    rows = df.collect()
    assert len(rows) == 100
    assert rows == sorted(
        rows, key=lambda r: (r.zval, r.l_orderkey, r.l_linenumber)
    )


@pytest.mark.slow
def test_delete_where_rewrites_only_touched_files(spark, tmp_path):
    """Copy-on-write DELETE over a range-clustered layout: a selective
    predicate touches only the files whose key range intersects it,
    so most live files survive BY NAME into the new
    commit; the change feed between the two versions is exactly the
    deleted rows; old version still time-travelable."""
    import json
    import os

    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.sources.versioned import (
        delete_where,
        read_versioned,
        table_changes,
        write_versioned,
    )

    path = str(tmp_path / "del")
    li = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .select("l_partkey", F.col("l_quantity").cast("long").alias("qty"))
    )
    v_opt = write_versioned(li.repartitionByRange(16, "l_partkey"), path)

    cond = (F.col("qty") <= 3) & (F.col("l_partkey") <= 200)
    n_match = read_versioned(spark, path).where(cond).count()
    assert n_match > 0
    before_files = set(
        json.load(open(os.path.join(path, "commits", f"v{v_opt:05d}.json")))["files"]
    )

    v_new, n_rewritten = delete_where(spark, path, cond)
    after_files = set(
        json.load(open(os.path.join(path, "commits", f"v{v_new:05d}.json")))["files"]
    )
    # the layout makes the predicate touch a strict minority of files,
    # and every untouched file survives by NAME (no pointless rewrite)
    assert 0 < n_rewritten < len(before_files) / 2
    assert len(before_files & after_files) == len(before_files) - n_rewritten

    new = read_versioned(spark, path)
    assert new.where(cond).count() == 0
    assert new.count() == read_versioned(spark, path, v_opt).count() - n_match
    # CDF: exactly the deleted rows, all tagged delete
    diff = table_changes(spark, path, v_opt, v_new)
    assert diff.where(F.col("_change") == "insert").count() == 0
    # content identity diff collapses duplicates; compare distinct sets
    assert (
        diff.where(F.col("_change") == "delete").select("l_partkey", "qty").distinct().count()
        == read_versioned(spark, path, v_opt).where(cond).select("l_partkey", "qty").distinct().count()
    )


def test_delete_where_no_match_is_noop(spark, tmp_path):
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.sources.versioned import (
        delete_where,
        latest_version,
        write_versioned,
    )

    path = str(tmp_path / "noop")
    write_versioned(
        spark.range(10).select(F.col("id").alias("v")), path
    )
    v0 = latest_version(path)
    v, n = delete_where(spark, path, F.col("v") > 100)
    assert (v, n) == (v0, 0)
    assert latest_version(path) == v0  # no empty commit published


def test_update_where_rewrites_only_touched_files(spark, tmp_path):
    """Row-level UPDATE through the shared copy-on-write core: matching
    rows get the assignment, non-matching rows in touched files are
    carried through byte-identical, untouched files survive by name."""
    import json
    import os

    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.sources.versioned import (
        read_versioned,
        update_where,
        write_versioned,
    )

    path = str(tmp_path / "upd")
    li = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .select("l_partkey", F.col("l_quantity").cast("long").alias("qty"))
    )
    v_opt = write_versioned(li.repartitionByRange(16, "l_partkey"), path)
    before_files = set(
        json.load(open(os.path.join(path, "commits", f"v{v_opt:05d}.json")))["files"]
    )

    cond = (F.col("qty") <= 2) & (F.col("l_partkey") <= 150)
    n_match = read_versioned(spark, path).where(cond).count()
    assert n_match > 0
    v_new, n_rw = update_where(spark, path, cond, {"qty": F.col("qty") + 1000})
    after_files = set(
        json.load(open(os.path.join(path, "commits", f"v{v_new:05d}.json")))["files"]
    )
    assert 0 < n_rw < len(before_files) / 2
    assert len(before_files & after_files) == len(before_files) - n_rw

    new = read_versioned(spark, path)
    assert new.count() == read_versioned(spark, path, v_opt).count()
    assert new.where(cond).count() == 0  # originals gone...
    assert new.where(F.col("qty") > 1000).count() == n_match  # ...updated
    # history records the mode
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.sources.versioned import (
        history,
    )

    assert history(path)[-1]["mode"] == "update"


def test_merge_into_upserts_with_minimal_rewrite(spark, tmp_path):
    """Keyed MERGE: matched keys replaced whole-row, new keys appended,
    untouched files survive by name; duplicate update keys rejected."""
    import json
    import os

    import pytest

    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.sources.versioned import (
        merge_into,
        read_versioned,
        write_versioned,
    )

    path = str(tmp_path / "mrg")
    base = spark.range(1000).select(
        F.col("id").cast("long").alias("k"),
        (F.col("id") % 7).cast("long").alias("val"),
    )
    v_opt = write_versioned(base.repartitionByRange(10, "k"), path)
    before_files = set(
        json.load(open(os.path.join(path, "commits", f"v{v_opt:05d}.json")))["files"]
    )

    updates = spark.createDataFrame(
        [(5, 999), (6, 999), (2000, 111), (2001, 222)], "k long, val long"
    )
    v_new, n_rw = merge_into(spark, path, updates, ["k"])
    after_files = set(
        json.load(open(os.path.join(path, "commits", f"v{v_new:05d}.json")))["files"]
    )
    # keys 5 and 6 are adjacent in the range layout -> few files touched
    assert 0 < n_rw < len(before_files)
    assert len(before_files & after_files) == len(before_files) - n_rw

    new = read_versioned(spark, path)
    assert new.count() == 1002  # 1000 - 2 replaced + 2 replacements + 2 inserts
    got = {r.k: r.val for r in new.where(F.col("k").isin(5, 6, 2000, 2001)).collect()}
    assert got == {5: 999, 6: 999, 2000: 111, 2001: 222}
    # old snapshot unchanged
    assert read_versioned(spark, path, v_opt).where(
        F.col("k") == 5
    ).first().val == 5 % 7

    with pytest.raises(ValueError, match="duplicate"):
        merge_into(
            spark,
            path,
            spark.createDataFrame([(1, 1), (1, 2)], "k long, val long"),
            ["k"],
        )


def test_merge_into_pure_insert_touches_no_files(spark, tmp_path):
    import json
    import os

    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.sources.versioned import (
        merge_into,
        read_versioned,
        write_versioned,
    )

    path = str(tmp_path / "mrgins")
    write_versioned(
        spark.range(100).select(F.col("id").alias("k"), F.lit(0).alias("val")),
        path,
    )
    v0_files = set(
        json.load(
            open(os.path.join(path, "commits", "v00000.json"))
        )["files"]
    )
    v, n_rw = merge_into(
        spark,
        path,
        spark.createDataFrame([(500, 9)], "k long, val long"),
        ["k"],
    )
    assert n_rw == 0
    after = set(
        json.load(open(os.path.join(path, "commits", f"v{v:05d}.json")))["files"]
    )
    assert v0_files <= after  # every original file kept by name
    assert read_versioned(spark, path).count() == 101


def test_delete_where_keeps_null_predicate_rows(spark):
    """SQL DELETE removes rows only where the condition is TRUE; a row
    where it evaluates to NULL survives. Regression: the survivor
    filter used plain ~cond (NULL on NULL), so a NULL-evaluating row
    co-located in a touched file was silently lost while an identical
    row in an untouched file survived -- survival must never depend on
    file co-location. One file holds all three cases here."""
    import tempfile

    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.sources.versioned import (
        delete_where,
        read_versioned,
        write_versioned,
    )

    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/t"
        df = spark.createDataFrame(
            [(1, 10), (2, None), (3, 5)], "k int, x int"
        ).coalesce(1)
        write_versioned(df, path)
        v, n_rw = delete_where(spark, path, F.col("x") > 7)
        assert n_rw == 1  # the single file was touched
        got = {(r.k, r.x) for r in read_versioned(spark, path).collect()}
        assert got == {(2, None), (3, 5)}  # NULL-predicate row survives


def test_update_where_set_evaluates_against_original_row(spark):
    """SQL UPDATE evaluates every SET right-hand side against the
    ORIGINAL row: SET a = b, b = a swaps. Regression: sequential
    withColumn let the second assignment see the first one's result,
    turning the swap into a copy."""
    import tempfile

    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.sources.versioned import (
        read_versioned,
        update_where,
        write_versioned,
    )

    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/t"
        df = spark.createDataFrame(
            [(1, 10, 20), (2, 3, 4)], "k int, a int, b int"
        ).coalesce(1)
        write_versioned(df, path)
        update_where(
            spark,
            path,
            F.col("k") == 1,
            {"a": F.col("b"), "b": F.col("a")},
        )
        got = {(r.k, r.a, r.b) for r in read_versioned(spark, path).collect()}
        assert got == {(1, 20, 10), (2, 3, 4)}  # swapped, not copied


def test_merge_into_refuses_concurrent_append(spark, monkeypatch):
    """MERGE's conflict window is the whole snapshot it read, not just
    its touched files: a racing append may carry keys the merge is
    inserting, so publishing over ANY later commit must refuse -- even
    for a pure-insert merge whose touched set is empty (where the
    touched-files-still-present check is vacuous). Delta raises
    ConcurrentAppendException for exactly this; we inject the race
    between merge's snapshot read and its commit publish."""
    import tempfile

    import pytest as _pytest

    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.sources import (
        versioned,
    )

    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/t"
        versioned.write_versioned(
            spark.createDataFrame([(1, "a")], "k int, v string"), path
        )

        real = versioned._stage_and_splice

        def racing(path_, touched, rewritten, mode, require_parent=None):
            # the race: another writer appends key 9 AFTER the merge
            # computed its key-match set, BEFORE it publishes
            versioned.write_versioned(
                spark.createDataFrame([(9, "raced")], "k int, v string"),
                path_,
            )
            return real(path_, touched, rewritten, mode, require_parent)

        monkeypatch.setattr(versioned, "_stage_and_splice", racing)
        updates = spark.createDataFrame([(9, "mine")], "k int, v string")
        with _pytest.raises(RuntimeError, match="concurrent modification"):
            versioned.merge_into(spark, path, updates, ["k"])
        # the raced append's row is intact; the merge published nothing
        got = {
            (r.k, r.v)
            for r in versioned.read_versioned(spark, path).collect()
        }
        assert got == {(1, "a"), (9, "raced")}
        # and the refused merge cleaned up its staged output: every
        # data file on disk is referenced by some commit (no orphans)
        import glob as _glob
        import json as _json
        import os as _os

        referenced = set()
        for cp in sorted(_glob.glob(f"{path}/commits/v*.json")):
            with open(cp) as fh:
                referenced.update(_json.load(fh)["files"])
        on_disk = {
            _os.path.basename(f) for f in _glob.glob(f"{path}/data/*.parquet")
        }
        assert on_disk == referenced


