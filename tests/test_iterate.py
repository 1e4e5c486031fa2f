"""The checkpointed-round helper: finished rounds are released, every
eager checkpoint in the operators goes through it, and the operator
guards that ride its observed metrics still fire."""

import ast
from pathlib import Path

import pytest
from pyspark.sql import functions as F

import retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark as pkg
from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.graph import (
    kcore_numbers,
    pagerank,
)
from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.iterate import (
    checkpoint,
    iterate,
)

PKG = Path(pkg.__file__).parent


def _persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _retained(spark, run) -> int:
    """Persistent RDDs ``run`` leaves behind, starting from a clean cache."""
    spark.catalog.clearCache()
    before = _persistent(spark)
    run()
    return _persistent(spark) - before


def _canonical_edges(spark):
    return spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4), (2, 9), (5, 6), (4, 7)],
        "src bigint, dst bigint",
    )


@pytest.mark.parametrize("iterations", [2, 6])
def test_pagerank_releases_finished_rounds(spark, iterations):
    """Edge checkpoint + seed ranks + final round, whatever the round
    count."""
    edges = _canonical_edges(spark)
    n = _retained(
        spark,
        lambda: pagerank(
            edges, iterations=iterations, undirected_canonical=True
        ).collect(),
    )
    assert n <= 3, n


@pytest.mark.parametrize("length", [3, 12])
def test_kcore_releases_finished_rounds(spark, length):
    """Adjacency cache + seed values + final round; a 12-node path takes
    ~6 H-index rounds to converge, a 3-node one 2."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(length - 1)], "pa long, pb long"
    )
    n = _retained(spark, lambda: kcore_numbers(edges).collect())
    assert n <= 3, n
    spark.catalog.clearCache()


def test_iterate_releases_only_its_own_rounds(spark):
    seed, _ = checkpoint(spark.range(4).withColumn("x", F.col("id")))
    rounds = []

    def step(df, i):
        rounds.append(df)
        return df.withColumn("x", F.col("x") + 1)

    final, fired = iterate(seed, step, 3)
    assert not fired
    assert sorted(r.x for r in final.collect()) == [3, 4, 5, 6]
    assert seed.count() == 4  # the caller's seed stays readable
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        rounds[1].collect()  # round 0's checkpoint was released


def test_iterate_hands_both_rounds_metrics_to_until(spark):
    seen = []

    def until(prev, new, was, now):
        seen.append((was, now))
        return now["n"] == 2

    final, fired = iterate(
        checkpoint(spark.range(5), n=F.count(F.lit(1))),
        lambda df, _: df.where(F.col("id") < df.count() - 1),
        10,
        metrics={"n": F.count(F.lit(1))},
        until=until,
    )
    assert fired and final.count() == 2
    assert [(w["n"], n["n"]) for w, n in seen] == [(5, 4), (4, 3), (3, 2)]


def _calls(path: Path):
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
            if name in ("localCheckpoint", "Observation"):
                yield f"{path.name}:{node.lineno} {name}"


def test_every_checkpoint_goes_through_iterate():
    files = [*sorted((PKG / "operators").glob("*.py")), PKG / "queries.py"]
    found = [
        c for p in files if p.name != "iterate.py" for c in _calls(p)
    ]
    assert not found, found


@pytest.mark.parametrize(
    "rows", [[(1, 2), (3, 2)], [(1, 2), (4, 4)]], ids=["reversed", "self-loop"]
)
def test_pagerank_canonical_guard_raises(spark, rows):
    edges = spark.createDataFrame(rows, "src bigint, dst bigint")
    with pytest.raises(ValueError, match="1 violating rows"):
        pagerank(edges, iterations=2, undirected_canonical=True)
