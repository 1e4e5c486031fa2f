"""The checkpointed-round helper: finished rounds are released, every
eager checkpoint in the operators goes through it, the operator guards
that ride its observed metrics still fire, and small iterative state
runs its rounds in the driver within a fixed job budget."""

import ast
from pathlib import Path

import pytest
from pyspark.sql import functions as F

import retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark as pkg
from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators import (
    iterate as iterate_module,
)
from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.graph import (
    kcore_numbers,
    pagerank,
)
from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.iterate import (
    checkpoint,
    iterate,
)

from conftest import TESTDATA

PKG = Path(pkg.__file__).parent


def _persistent(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _retained(spark, run) -> int:
    """Persistent RDDs ``run`` leaves behind, starting from a clean cache.
    Counted by id: the context cleaner may free an earlier test's RDD
    meanwhile, which a difference of sizes would net against a leak."""
    spark.catalog.clearCache()
    before = _persistent(spark)
    run()
    return len(_persistent(spark) - before)


def _canonical_edges(spark):
    return spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4), (2, 9), (5, 6), (4, 7)],
        "src bigint, dst bigint",
    )


@pytest.mark.parametrize("iterations", [2, 6])
def test_pagerank_releases_finished_rounds(spark, iterations, monkeypatch):
    """On the distributed loop: edge checkpoint + seed ranks + final
    round, whatever the round count."""
    monkeypatch.setattr(iterate_module, "LOCAL_MAX_ROWS", 0)
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
def test_pagerank_canonical_guard_raises(spark, rows, monkeypatch):
    edges = spark.createDataFrame(rows, "src bigint, dst bigint")
    for ceiling in (0, 10**9):  # distributed loop, then driver route
        monkeypatch.setattr(iterate_module, "LOCAL_MAX_ROWS", ceiling)
        with pytest.raises(ValueError, match="1 violating rows"):
            pagerank(edges, iterations=2, undirected_canonical=True)


def test_driver_route_leaves_no_checkpoint(spark, monkeypatch):
    """``route`` releases the seed checkpoint once the rounds ran in the
    driver, and when they raise."""
    monkeypatch.setattr(iterate_module, "LOCAL_MAX_ROWS", 10**9)
    edges = _canonical_edges(spark)
    assert _retained(
        spark,
        lambda: pagerank(edges, iterations=6, undirected_canonical=True).collect(),
    ) == 0

    def boom(table, observed):
        raise RuntimeError("rounds failed")

    def failing():
        with pytest.raises(RuntimeError, match="rounds failed"):
            iterate_module.route(spark.range(3), boom)

    assert _retained(spark, failing) == 0


@pytest.mark.parametrize(
    "name, budget",
    # a first call at sf0.001 runs 6 and 8 jobs (5 and 7 warm); the
    # previous commit ran 31 and 69 (30 and 68 warm), one or more per
    # round, and left 3 and 17 persistent RDDs
    [("pagerank", 6), ("bpe_merges", 8)],
)
def test_small_state_query_job_budget(spark, name, budget):
    """At the test scale both loops' state is far under
    ``LOCAL_MAX_ROWS``: every round runs in the driver, so a call costs
    a fixed handful of Spark jobs (read from its job group) and leaves
    no persistent RDD behind."""
    import __spark_entry__ as entry

    sc = spark.sparkContext
    group = f"route-budget-{name}"

    def run():
        sc.setJobGroup(group, name)
        try:
            entry.queries()[name](spark, TESTDATA).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    assert _retained(spark, run) == 0
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    store = sc._jsc.sc().statusStore()
    assert 0 < len(jobs) <= budget, [store.job(j).name() for j in jobs]
