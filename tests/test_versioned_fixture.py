"""Pins the hand-built versioned fixture to the REAL write path.

``fixtures.ensure_versioned_fixture`` lays out data files and commit
JSONs directly (deterministic names, so the DuckDB oracle can address
v1's files without consulting the commit log). That hand layout must
never drift from what ``sources.versioned.write_versioned`` would
produce for the same three operations -- this test replays those
operations through the real writer and asserts every version's
snapshot is row-identical, and that the commit metadata (parent, mode,
file count) matches.
"""

import pytest
from pyspark.sql import functions as F

from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.plans.fixtures import (
    ensure_versioned_fixture,
)
from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.sources.versioned import (
    history,
    read_versioned,
    table_changes,
    write_versioned,
)


def _rows(df):
    return sorted((r.sku, r.qty) for r in df.select("sku", "qty").collect())


def _replay(spark, path):
    def mk(skus, qtys):
        return spark.createDataFrame(
            [(s, q) for s, q in zip(skus, qtys)], "sku string, qty int"
        ).coalesce(1).select("sku", F.col("qty").cast("int"))

    assert write_versioned(mk(["A", "B", "C"], [10, 20, 30]), path) == 0
    assert write_versioned(mk(["B", "D"], [21, 40]), path) == 1
    assert write_versioned(mk(["A", "E"], [99, 50]), path, "overwrite") == 2
    return path


@pytest.mark.slow
def test_fixture_matches_real_writer_snapshots(spark, tmp_path):
    fix = ensure_versioned_fixture()
    real = _replay(spark, str(tmp_path / "replayed"))
    for v in (0, 1, 2):
        assert _rows(read_versioned(spark, fix, v)) == _rows(
            read_versioned(spark, real, v)
        ), f"fixture snapshot v{v} drifted from write_versioned output"


@pytest.mark.slow
def test_fixture_commit_metadata_matches_real_writer(spark, tmp_path):
    fix = ensure_versioned_fixture()
    real = _replay(spark, str(tmp_path / "replayed"))
    keys = ("version", "parent", "mode", "n_files")
    assert [
        {k: c[k] for k in keys} for c in history(fix)
    ] == [{k: c[k] for k in keys} for c in history(real)]


def test_fixture_cdf_is_full_replacement(spark):
    """v2 overwrote everything: the 1->2 feed must delete all 5 v1 rows
    and insert both v2 rows -- the exact rows the oracle hard-codes."""
    fix = ensure_versioned_fixture()
    feed = table_changes(spark, fix, 1, 2)
    got = sorted((r.sku, r.qty, r._change) for r in feed.collect())
    assert got == [
        ("A", 10, "delete"),
        ("A", 99, "insert"),
        ("B", 20, "delete"),
        ("B", 21, "delete"),
        ("C", 30, "delete"),
        ("D", 40, "delete"),
        ("E", 50, "insert"),
    ]


@pytest.mark.slow
def test_dml_fixture_matches_real_dml_replay(spark, tmp_path):
    """The hand-built DML fixture must be row-identical, per VERSION,
    to what the real delete_where / update_where / merge_into produce
    for the same four operations -- and each DML commit must splice
    (exactly one parent file kept by name, one rewritten)."""
    import json
    import os

    from pyspark.sql import functions as F

    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.plans.fixtures import (
        ensure_dml_fixture,
    )
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.sources.versioned import (
        delete_where,
        history,
        merge_into,
        read_versioned,
        update_where,
        write_versioned,
    )

    fix = ensure_dml_fixture()

    # replay with the REAL implementations on a scratch table, forcing
    # the same two-file initial layout (one write per file)
    live = str(tmp_path / "replay")
    # coalesce(1): one data file per append, matching the fixture's
    # two-file layout exactly (local[32] would otherwise split each
    # tiny frame across many part files)
    write_versioned(
        spark.createDataFrame(
            [("A", 10), ("B", 20)], "sku string, qty int"
        ).coalesce(1),
        live,
    )
    write_versioned(
        spark.createDataFrame(
            [("C", 30), ("D", 40)], "sku string, qty int"
        ).coalesce(1),
        live,
    )
    delete_where(spark, live, F.col("sku") == "C")
    update_where(spark, live, F.col("sku") == "B", {"qty": F.lit(21)})
    merge_into(
        spark,
        live,
        spark.createDataFrame([("B", 22), ("E", 50)], "sku string, qty int"),
        ["sku"],
    )

    def rows(path, v):
        return sorted(
            (r.sku, r.qty) for r in read_versioned(spark, path, v).collect()
        )

    # fixture v0..v3 == replay v1..v4 (the replay needed two appends
    # to lay out two files; its v1 is the fixture's v0 snapshot)
    for fix_v, live_v in [(0, 1), (1, 2), (2, 3), (3, 4)]:
        assert rows(fix, fix_v) == rows(live, live_v), (fix_v, live_v)
    modes = [h["mode"] for h in history(live)]
    assert modes == ["append", "append", "delete", "update", "merge"]

    # splice shape: every DML commit keeps exactly one parent file
    commits = {
        h["version"]: json.load(
            open(os.path.join(live, "commits", f"v{h['version']:05d}.json"))
        )["files"]
        for h in history(live)
    }
    for v in (2, 3, 4):
        kept = set(commits[v]) & set(commits[v - 1])
        assert len(kept) == 1, (v, commits[v], commits[v - 1])
