"""Connected-components label propagation: hand-checkable graphs."""

import pytest

from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators import iterate
from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.graph import (
    connected_components,
    dedup_groups,
)

from conftest import on_both_routes


def test_components_chain_triangle_pair(spark):
    # chain 1-2-3-4, triangle 10-11-12 (+ redundant edge), pair 20-21
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (11, 12), (12, 10), (21, 20)],
        "src bigint, dst bigint",
    )
    got = {r.node: r.component for r in connected_components(edges).collect()}
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
    }


def test_dedup_groups_shapes(spark):
    pairs = spark.createDataFrame(
        [(5, 9), (9, 7), (30, 31)], "doc_a bigint, doc_b bigint"
    )
    rows = {r.doc_id: (r.canonical_id, r.group_size) for r in dedup_groups(pairs).collect()}
    assert rows == {
        5: (5, 3), 7: (5, 3), 9: (5, 3),
        30: (30, 2), 31: (30, 2),
    }


def test_components_nonconvergence_raises(spark):
    edges = spark.createDataFrame([(i, i + 1) for i in range(40)], "src int, dst int")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=1)


def test_components_long_chain_converges_fast(spark):
    """A 30-hop path -- the worst shape for one-hop min-label
    propagation (needs ~29 rounds there) -- must resolve well within
    the default budget under large-star/small-star's O(log) rounds."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "src bigint, dst bigint"
    )
    got = {r.node: r.component for r in connected_components(edges, max_iter=8).collect()}
    assert got == {i: 0 for i in range(31)}


def test_components_two_chains_reversed_ids(spark):
    """Orientation-independence: descending ids and shuffled edge order."""
    edges = spark.createDataFrame(
        [(i + 1, i) for i in range(10, 15)] + [(100, 50), (50, 75)],
        "src bigint, dst bigint",
    )
    got = {r.node: r.component for r in connected_components(edges).collect()}
    assert got == {**{i: 10 for i in range(10, 16)}, 50: 50, 75: 50, 100: 50}


def test_components_selfloop_only_nodes_kept(spark):
    """A node whose only edges are self-loops must still appear, as its
    own singleton component (callers pass self-pairs as singleton
    markers); nodes with real edges are unaffected by extra self-loops."""
    edges = spark.createDataFrame(
        [(7, 7), (1, 2), (2, 2), (9, 9), (9, 9)], "src bigint, dst bigint"
    )
    got = {r.node: r.component for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 7: 7, 9: 9}


def test_components_all_selfloops(spark):
    edges = spark.createDataFrame([(3, 3), (5, 5)], "src bigint, dst bigint")
    got = {r.node: r.component for r in connected_components(edges).collect()}
    assert got == {3: 3, 5: 5}


def test_star_graph_hub_no_straggler(spark):
    """1 hub, 10k spokes -- the hot-key shape of real similarity graphs.
    Correctness: one component rooted at the hub (it is the min id).
    Skew guard: the production content-salt must spread the hub's edges
    so no (key, salt) bucket -- i.e. no reducer's share of the hub --
    exceeds ~degree/buckets (2x slack for hash variance); unsalted, one
    bucket would hold all 10k."""
    from pyspark.sql import functions as F

    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.skew import (
        content_salt,
    )

    n = 10_000
    edges = spark.createDataFrame(
        [(i, 0) for i in range(1, n + 1)], "src bigint, dst bigint"
    )
    cc = connected_components(edges)
    assert cc.count() == n + 1
    assert cc.where(F.col("component") != 0).count() == 0

    buckets = 8
    sym = edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    max_bucket = (
        sym.groupBy("u", content_salt(sym, buckets).alias("_s"))
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert max_bucket <= (n // buckets) * 2, f"hot bucket: {max_bucket} rows"


def test_components_salt_invariant(spark):
    """Salting affects placement only, never values: salted and
    unsalted runs must emit identical label sets."""
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (11, 12), (12, 10), (21, 20)],
        "src bigint, dst bigint",
    )
    salted = {(r.node, r.component) for r in connected_components(edges, skew_salt=8).collect()}
    plain = {(r.node, r.component) for r in connected_components(edges, skew_salt=1).collect()}
    assert salted == plain


def test_contamination_df_cap_prunes_common_shingles(spark):
    """Stop-shingle guard: an uncapped run over a tiny fixture counts
    every shared trigram; capping corpus shingle document-frequency at
    1 must (a) drop pairs that met only through the boilerplate shingle
    shared by every corpus doc and (b) leave the rare-shingle pair
    intact with its rare-only count. A huge cap must equal uncapped."""
    from pyspark.sql import functions as F

    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.dedup import (
        contamination_pairs,
    )

    bench = spark.createDataFrame(
        [(0, "terms of service rare gem phrase")], "doc_id bigint, text string"
    )
    corpus = spark.createDataFrame(
        [
            (1, "terms of service apply here now"),   # boilerplate only
            (2, "terms of service rare gem phrase"),  # boilerplate + rare
            (3, "terms of service apply here too"),   # boilerplate only
        ],
        "doc_id bigint, text string",
    )

    def pairs(**kw):
        return {
            (r.bench_doc, r.corpus_doc): r.n_shared
            for r in contamination_pairs(corpus, bench, n=3, min_shared=1, **kw).collect()
        }

    uncapped = pairs()
    assert uncapped[(0, 2)] == 4  # all 4 shared trigrams
    assert (0, 1) in uncapped and (0, 3) in uncapped
    capped = pairs(max_shingle_df=1)
    assert set(capped) == {(0, 2)}  # boilerplate-only pairs gone
    assert capped[(0, 2)] == 3      # 'terms of service' (df=3) excluded
    assert pairs(max_shingle_df=10**6) == uncapped


def _pagerank_int_twin(edges, iterations=8, damping_pct=85, scale=10**12):
    """Pure-Python arbitrary-precision mirror of operators.graph.pagerank:
    same floor-div fixed-point recurrence, so equality is EXACT."""
    nodes = {u for u, _ in edges} | {v for _, v in edges}
    outdeg = {}
    for u, _ in edges:
        outdeg[u] = outdeg.get(u, 0) + 1
    rank = {n: scale for n in nodes}
    base = (100 - damping_pct) * scale // 100
    for _ in range(iterations):
        contrib = {n: 0 for n in nodes}
        for u, v in edges:
            contrib[v] += rank[u] // outdeg[u]
        rank = {n: base + damping_pct * contrib[n] // 100 for n in nodes}
    return rank


def test_pagerank_exact_vs_int_twin(spark):
    """The Spark loop must match the exact integer recurrence
    rank-for-rank -- the bit-determinism contract that lets the same
    job reproduce across clusters and partitionings -- and so must the
    driver route's numpy int64 rounds."""
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.graph import (
        pagerank,
    )

    # directed graph with a hub (1), a cycle (2-3-4), a dangling sink
    # (9: receives, never emits), and an isolated pair
    raw = [(1, 2), (1, 3), (1, 4), (2, 3), (3, 4), (4, 2), (2, 9),
           (5, 6), (6, 5), (4, 1)]
    edges = spark.createDataFrame(raw, "src bigint, dst bigint")
    got, local = on_both_routes(
        lambda: {r.node: r["rank"] for r in pagerank(edges, iterations=8).collect()}
    )
    assert got == _pagerank_int_twin(raw, iterations=8)
    assert local == got


def test_pagerank_mass_and_hub_ordering(spark):
    """On a star with all spokes pointing at the hub, the hub must
    outrank every spoke, and total mass stays within floor-loss of
    N*scale (each floor division loses < 1 unit per edge per round)."""
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.graph import (
        pagerank,
    )

    n_spokes, scale, iters = 20, 10**12, 6
    raw = [(i, 0) for i in range(1, n_spokes + 1)] + [
        (0, i) for i in range(1, n_spokes + 1)
    ]
    edges = spark.createDataFrame(raw, "src bigint, dst bigint")
    got = {r.node: r["rank"] for r in pagerank(edges, iterations=iters).collect()}
    assert all(got[0] > got[i] for i in range(1, n_spokes + 1))
    total = sum(got.values())
    n_nodes = n_spokes + 1
    assert total <= n_nodes * scale
    # floor loss bound: per round, < 1 unit per (edge + node) term
    assert n_nodes * scale - total < iters * (len(raw) + n_nodes) * 100


def test_label_propagation_recovers_planted_communities(spark):
    """Two 6-cliques joined by a single bridge edge resolve to exactly
    two communities (the bridge is outvoted by 5 clique neighbors);
    labels are clique members."""
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.graph import (
        label_propagation,
    )

    c1 = [(a, b) for a in range(6) for b in range(6) if a < b]
    c2 = [(a, b) for a in range(10, 16) for b in range(10, 16) if a < b]
    edges = spark.createDataFrame(c1 + c2 + [(5, 10)], "pa int, pb int")
    out = label_propagation(edges, iters=8).collect()
    comm: dict[int, set] = {}
    for r in out:
        comm.setdefault(r.label, set()).add(r.node)
    groups = sorted(sorted(v) for v in comm.values())
    assert groups == [list(range(6)), list(range(10, 16))]


@pytest.mark.slow
def test_label_propagation_deterministic_replay(spark):
    """Two runs over the same edges produce identical labelings (the
    total-order tiebreak removes LPA's classic randomness)."""
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.graph import (
        label_propagation,
    )

    import random

    rng = random.Random(7)
    edges = spark.createDataFrame(
        [(rng.randrange(40), rng.randrange(40)) for _ in range(120)],
        "pa int, pb int",
    ).where("pa < pb")
    a = sorted((r.node, r.label) for r in label_propagation(edges, iters=6).collect())
    b = sorted((r.node, r.label) for r in label_propagation(edges, iters=6).collect())
    assert a == b
    assert a, "empty labeling"


def test_copurchase_communities_conserves_parts(spark):
    """The size histogram accounts for every part that appears in a
    REPEAT co-purchase pair (the w >= 2 edge set the query moved to
    when it was oracle-paired in r13)."""
    import __spark_entry__ as entry
    from pyspark.sql import functions as F

    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.queries import (
        _copurchase_pairs_weighted,
    )

    from conftest import TESTDATA

    out = entry.queries()["copurchase_communities"](spark, TESTDATA).collect()
    total = sum(r.size * r.n_communities for r in out)
    pairs = (
        _copurchase_pairs_weighted(spark, TESTDATA)
        .where(F.col("w") >= 2)
        .collect()
    )
    in_graph = set()
    for r in pairs:
        in_graph.add(r.pa)
        in_graph.add(r.pb)
    assert total == len(in_graph)


@pytest.mark.slow
def test_label_propagation_matches_python_model_random_graphs(spark):
    """Hypothesis: on random small graphs, the Spark LPA labeling is
    identical to a synchronous python model with the same
    (count desc, label asc) plurality rule, round for round."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.graph import (
        label_propagation,
    )

    @given(
        st.lists(
            st.tuples(st.integers(0, 14), st.integers(0, 14)),
            min_size=1,
            max_size=30,
        ),
        st.integers(1, 4),
    )
    @settings(max_examples=12, deadline=None)
    def check(raw_edges, iters):
        edges = [(a, b) for a, b in raw_edges if a != b]
        if not edges:
            return
        und: dict[int, set] = {}
        for a, b in edges:
            und.setdefault(a, set()).add(b)
            und.setdefault(b, set()).add(a)
        labels = {n: n for n in und}
        for _ in range(iters):
            new = {}
            for n, nbrs in und.items():
                counts: dict[int, int] = {}
                for m in nbrs:
                    counts[labels[m]] = counts.get(labels[m], 0) + 1
                new[n] = min((-c, l) for l, c in counts.items())[1]
            labels = new
        df = spark.createDataFrame(
            [(a, b) for a, b in edges], "pa int, pb int"
        )
        got = {
            r.node: r.label
            for r in label_propagation(df, iters=iters).collect()
        }
        assert got == labels

    check()


def _py_coreness(edges):
    """Exact peeling reference: repeatedly remove the minimum-degree
    node; its coreness is the running maximum of the degree at
    removal time (the textbook O(E) algorithm)."""
    from collections import defaultdict

    adj = defaultdict(set)
    for a, b in edges:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    deg = {v: len(ns) for v, ns in adj.items()}
    core = {}
    k = 0
    live = set(adj)
    while live:
        v = min(live, key=lambda x: (deg[x], x))
        k = max(k, deg[v])
        core[v] = k
        live.discard(v)
        for u in adj[v]:
            if u in live:
                deg[u] -= 1
    return core


def test_kcore_planted_clique_and_path(spark):
    """A 4-clique has coreness 3 everywhere; a path hanging off it has
    coreness 1; a triangle glued by one edge has coreness 2."""
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.graph import (
        kcore_numbers,
    )

    clique = [(i, j) for i in range(1, 5) for j in range(i + 1, 5)]
    path = [(4, 10), (10, 11), (11, 12)]  # DANGLING: ends at 12
    tri = [(20, 21), (21, 22), (20, 22), (22, 30)]  # dangling edge to 30
    df = spark.createDataFrame(clique + path + tri, "pa long, pb long")
    got = {r.node: r.coreness for r in kcore_numbers(df).collect()}
    assert got == _py_coreness(clique + path + tri)
    assert got[1] == got[2] == got[3] == got[4] == 3
    assert got[10] == got[11] == got[12] == 1
    assert got[20] == got[21] == got[22] == 2 and got[30] == 1


def test_kcore_matches_python_peeling_model(spark):
    """Property: on random graphs the H-index fixpoint equals the
    exact peeling model -- the hypothesis discipline every iterative
    operator ships with (it caught real bugs in r7 and r9)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.graph import (
        kcore_numbers,
    )

    @settings(max_examples=6, deadline=None)
    @given(
        st.sets(
            st.tuples(
                st.integers(min_value=0, max_value=11),
                st.integers(min_value=0, max_value=11),
            ).filter(lambda e: e[0] < e[1]),
            min_size=1,
            max_size=30,
        )
    )
    def check(edges):
        df = spark.createDataFrame(sorted(edges), "pa long, pb long")
        got = {r.node: r.coreness for r in kcore_numbers(df).collect()}
        assert got == _py_coreness(edges)

    check()


def test_kcore_deterministic_and_early_exit(spark):
    """Two runs produce identical results, and a tiny graph converges
    well inside the iteration backstop (the early-exit gate, not the
    budget, ends the loop)."""
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.graph import (
        kcore_numbers,
    )

    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], "pa long, pb long"
    )
    a = sorted(map(tuple, kcore_numbers(df).collect()))
    b = sorted(map(tuple, kcore_numbers(df).collect()))
    assert a == b == [(1, 2), (2, 2), (3, 2), (4, 1)]


def test_kcore_nonconvergence_raises(spark):
    """A path needs ~length/2 H-index rounds; a smaller budget must
    raise rather than return over-estimated coreness."""
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.graph import (
        kcore_numbers,
    )

    df = spark.createDataFrame([(i, i + 1) for i in range(12)], "pa long, pb long")
    with pytest.raises(RuntimeError, match="did not converge"):
        kcore_numbers(df, max_iters=2)


def test_kcore_ignores_self_loops(spark):
    """Standard k-core convention: a self-loop is not a neighbor. A
    triangle keeps coreness 2; a self-loop-only node disappears from
    the output (it has no neighbors), and a self-loop on a path node
    does not inflate its coreness."""
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.graph import (
        kcore_numbers,
    )

    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 4), (3, 5), (5, 5)],
        "pa long, pb long",
    )
    got = {r.node: r.coreness for r in kcore_numbers(df).collect()}
    assert got == _py_coreness([(1, 2), (2, 3), (3, 1), (4, 4), (3, 5), (5, 5)])
    assert 4 not in got           # self-loop-only node: no neighbors
    assert got[5] == 1            # dangling node: self-loop adds nothing
    assert got[1] == got[2] == got[3] == 2


def test_pagerank_identical_across_join_strategies(spark, monkeypatch):
    """The broadcast router picks a physical strategy, never a result:
    forcing the shuffle-join path (broadcast_max_nodes=0) must agree
    rank-for-rank with the broadcast path -- the fixed-point integer
    discipline is exactly what makes this hold (double sums would
    differ across join orders). The driver route agrees too."""
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.graph import (
        pagerank,
    )

    raw = [(1, 2), (1, 3), (2, 3), (3, 1), (3, 4), (4, 1), (2, 9),
           (9, 2), (5, 6), (6, 5)]
    edges = spark.createDataFrame(raw, "src bigint, dst bigint")

    def ranks(**kw):
        return {r.node: r["rank"]
                for r in pagerank(edges, iterations=5, **kw).collect()}

    bcast, local = on_both_routes(ranks)
    monkeypatch.setattr(iterate, "LOCAL_MAX_ROWS", 0)
    shuffled = ranks(broadcast_max_nodes=0)
    assert bcast == shuffled
    assert bcast == _pagerank_int_twin(raw, iterations=5)
    assert local == bcast


def test_pagerank_undirected_canonical_equals_symmetrized(spark, monkeypatch):
    """The r14 canonical fast path (one row per undirected edge, 2-way
    explode of contributions) must be rank-identical to the general
    loop over the explicitly symmetrized list -- on the broadcast
    route, on the shuffle fallback (broadcast_max_nodes=0, which
    internally re-symmetrizes off the checkpoint), on the driver
    route, and vs the exact python twin."""
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.graph import (
        pagerank,
    )

    canon = [(1, 2), (1, 3), (2, 3), (3, 4), (2, 9), (5, 6), (4, 7)]
    sym = canon + [(b, a) for a, b in canon]
    ce = spark.createDataFrame(canon, "src bigint, dst bigint")
    se = spark.createDataFrame(sym, "src bigint, dst bigint")

    def ranks(edges, **kw):
        return {r.node: r["rank"]
                for r in pagerank(edges, iterations=5, **kw).collect()}

    general, general_local = on_both_routes(lambda: ranks(se))
    fast, fast_local = on_both_routes(
        lambda: ranks(ce, undirected_canonical=True)
    )
    monkeypatch.setattr(iterate, "LOCAL_MAX_ROWS", 0)
    fallback = ranks(ce, undirected_canonical=True, broadcast_max_nodes=0)
    assert fast == general == fallback
    assert fast == _pagerank_int_twin(sym, iterations=5)
    assert fast_local == general_local == fast
