"""Iterative graph operators for dedup-group resolution.

Near-dup detection yields PAIRS; deduplication needs GROUPS (every doc
mapped to one canonical representative). That is connected components
over the similarity graph -- an iterative algorithm Spark has no single
operator for, implemented here as the alternating large-star /
small-star edge-rewriting algorithm (Kiveris et al., "Connected
Components in MapReduce and Beyond"), which converges in O(log)
rounds in the component size -- not O(diameter) like plain min-label
propagation, where a 1000-hop chain needs 1000 rounds. Data stays
distributed; the driver sees only a per-iteration convergence scalar,
so the same loop runs on a billion-edge graph.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from .iterate import checkpoint, iterate, route
from .skew import salted_join

#: broadcast-router ceiling of the per-round |V|-row tables (ranks,
#: labels, H-index values; ~100 MB hashed): a checkpointed frame
#: carries no size stats, so left alone AQE sort-merge-joins it against
#: the edge list EVERY round. Each router reads the node count as an
#: observed metric of the seed checkpoint that materializes the table.
BROADCAST_MAX_NODES = 4_000_000


def _attach_mins(neigh: DataFrame, mins: DataFrame, skew_salt: int) -> DataFrame:
    """Join each (u, v) edge to its center's min label m.

    This is the hot-key step of both star passes: a hub of degree d
    puts d rows behind ONE shuffle key, so the plain equi-join melts a
    single reducer on power-law graphs (dedup similarity graphs are
    exactly that -- a boilerplate doc matches everything). ``mins`` has
    one ids-only row per node, the textbook salted-join shape: salt the
    edge side by row content, replicate the tiny mins side
    ``skew_salt``-fold, and the hub's fan-in drops to ~d/skew_salt per
    reducer. The min AGGREGATION itself needs no guard -- partial
    (map-side) aggregation already collapses each partition's hub rows
    to one."""
    if skew_salt > 1:
        return salted_join(neigh, mins, "u", salt_buckets=skew_salt)
    return neigh.join(mins, "u")


def _large_star(e: DataFrame, skew_salt: int = 1) -> DataFrame:
    """Large-star: for each node u, connect every strictly-larger
    neighbor to m(u) = min(N(u) + {u}). Operates on the symmetrized
    neighborhood so both endpoints act as the center."""
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.min("v").alias("_nmin"))
    mins = mins.select("u", F.least(F.col("u"), F.col("_nmin")).alias("m"))
    return (
        _attach_mins(sym, mins, skew_salt)
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(e: DataFrame, skew_salt: int = 1) -> DataFrame:
    """Small-star: orient edges larger-endpoint-first, then for each
    center u link u and all its (smaller) neighbors to m = min(N(u))."""
    oriented = (
        e.select(
            F.greatest(F.col("u"), F.col("v")).alias("u"),
            F.least(F.col("u"), F.col("v")).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    return (
        _attach_mins(oriented, mins, skew_salt)
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .unionByName(mins.select("u", F.col("m").alias("v")))
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    skew_salt: int = 8,
) -> DataFrame:
    """Resolve connected components by alternating large-star/small-star.

    Input: undirected edges (any orientation, duplicates fine).
    Output: (node, component) -- component = the smallest node id
    reachable from ``node``. Deterministic for any input order.

    Each round rewrites the edge set with one large-star then one
    small-star pass; the edge set contracts toward a star per component
    (every node pointing at the component minimum), with label distance
    shrinking multiplicatively -- O(log) rounds in component size, so
    ``max_iter=20`` covers components of ~10^6 nodes even in the
    worst (path-shaped) case, vs O(diameter) for plain min-label
    propagation. Convergence = edge set unchanged: the new edge count
    rides the round's checkpoint job as an observed metric (zero extra
    actions), and only a count tie pays the one-sided ``subtract``
    probe; an unconverged graph raises rather than returning
    silently-wrong groups.

    Nodes appearing ONLY in self-loop edges (u == u) are still emitted,
    as their own singleton component -- the star passes drop self-loops,
    so these are captured up front and unioned back at the end.

    ``skew_salt``: hot-hub guard. Similarity graphs are power-law (one
    boilerplate doc pairs with everything), and each star pass joins a
    hub's d edges to one min-label row on a single key -- a d-row
    reducer straggler unsalted. The edge side is salted by row content
    into ``skew_salt`` buckets (ids-only min rows replicated that many
    times), bounding per-reducer hub fan-in to ~d/skew_salt; results
    are byte-identical for any value. 1 disables the guard.
    """
    # ONE mining pass (r14, guide §1.2 "don't compute things twice"):
    # the caller's edge plan is often expensive (the co-purchase edges
    # are a collect_set + pair-expand over the whole fact table), and
    # the old shape ran it TWICE -- once for the eager selfloop frame,
    # once for the eager e checkpoint. Canonicalize + distinct keeping
    # self-loop rows, checkpoint that single frame (its real-edge count
    # rides the same job), and derive both consumers lazily from it.
    base, seen = checkpoint(
        edges.select(
            F.greatest(F.col(src), F.col(dst)).alias("u"),
            F.least(F.col(src), F.col(dst)).alias("v"),
        ).distinct(),
        n_edges=F.count_if(F.col("u") != F.col("v")),
    )
    # nodes whose every edge is a self-loop would otherwise vanish when
    # the u != v filter strips their edges (narrow scans of the checkpoint)
    selfloop_nodes = base.where(F.col("u") == F.col("v")).select(
        F.col("u").alias("node")
    )
    e, converged = iterate(
        (base.where(F.col("u") != F.col("v")), seen),
        lambda e, _: _small_star(_large_star(e, skew_salt), skew_salt),
        max_iter,
        metrics={"n_edges": F.count(F.lit(1))},
        # fixpoint test as two driver scalars: equal cardinality (both
        # observed) AND, only on a tie, an empty one-sided difference
        # (both sides distinct by construction)
        until=lambda prev, new, was, now: was["n_edges"] == now["n_edges"]
        and new.subtract(prev).limit(1).count() == 0,
    )
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations"
        )
    # star graph: every edge is (node, component_min); roots appear only
    # on the v side and label themselves
    labeled = e.select(
        F.col("u").alias("node"), F.col("v").alias("component")
    ).unionByName(
        e.select(F.col("v").alias("node"), F.col("v").alias("component"))
        .distinct()
    ).distinct()
    # self-loop-only nodes: singleton components (nodes with any real
    # edge are already labeled; anti-join filters those out)
    orphans = selfloop_nodes.join(labeled, "node", "left_anti")
    return labeled.unionByName(
        orphans.select("node", F.col("node").alias("component"))
    )


def dedup_groups(pairs: DataFrame, id_a: str = "doc_a", id_b: str = "doc_b") -> DataFrame:
    """Canonical dedup grouping from near-dup pairs: every involved doc
    mapped to its group's smallest doc id (``canonical_id``), plus the
    group size. Docs not in any pair are their own group and are not
    emitted (they carry no dedup action)."""
    cc = connected_components(pairs, src=id_a, dst=id_b)
    sizes = cc.groupBy("component").agg(F.count("*").alias("group_size"))
    return (
        cc.join(sizes, "component")
        .select(
            F.col("node").alias("doc_id"),
            F.col("component").alias("canonical_id"),
            F.col("group_size").cast("long").alias("group_size"),
        )
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 8,
    damping_pct: int = 85,
    scale: int = 10**12,
    broadcast_max_nodes: int = BROADCAST_MAX_NODES,
    undirected_canonical: bool = False,
) -> DataFrame:
    """Fixed-point PageRank: the canonical iterative link-analysis
    score, here as the influence ranking over a co-occurrence graph
    (parts that co-sell with well-connected parts matter more than raw
    degree shows; swap parts for documents and this is citation/link
    authority for corpus curation).

    Spark has no iterative-graph operator, so this is the Pregel-style
    join-agg loop -- but in INTEGER fixed-point: ranks live as BIGINT
    multiples of 1/``scale``, every division is floor division, and
    damping is the exact rational ``damping_pct``/100. That buys
    bit-deterministic output for ANY partitioning and executor count
    (BIGINT sums are exact and order-free; double sums are neither),
    so the result is reproducible cluster-to-cluster and testable
    against an exact arbitrary-precision twin -- same discipline as the
    DECIMAL accumulation in ``lm_score``/``incremental_hourly_merge``.

    Recurrence (floor-div throughout, mirroring ``tests``' pure-int
    twin): r0 = scale; contribs(v) = sum over in-neighbors u of
    r(u) DIV outdeg(u); r'(v) = (100-d)*scale DIV 100
    + d*contribs(v) DIV 100. Dangling nodes (outdeg 0) exist only if
    the input is directed-asymmetric; their mass is dropped, the
    standard sparse simplification. Duplicate (src, dst) rows are
    MULTI-edges (outdeg counts them, contributions double) -- callers
    wanting simple-graph semantics ``distinct()`` the edge list first,
    as ``q_pagerank`` does. Floor loss <1 unit per term --
    ~1e-12 of a rank -- far below any ranking-relevant gap.

    MAGNITUDE CEILING (r11 ADVICE): the contribution sum and the
    ``damping_pct * sum`` product are BIGINT with non-ANSI silent
    wraparound on Spark, while a DuckDB oracle sums the same terms
    into HUGEINT -- the engines diverge silently once a node's
    in-mass exceeds ~9.2e18 / damping_pct. Per-iteration rank is
    bounded by ~scale * N (all mass on one node), so the claim
    "bit-identical to an arbitrary-precision twin" holds while
    ``damping_pct * scale * N < 2^63`` -- at the default
    scale=1e12 and d=85, graphs up to ~10^5 nodes unconditionally,
    and far beyond that in practice because a mega-hub needs ~10^7
    dangling-free in-neighbors each contributing full rank to get
    near the edge. Past that regime, lower ``scale`` (every 10x buys
    10x more nodes; precision loss stays ~N/scale of total mass) or
    move the accumulation to DECIMAL(38,0) like the k-means centroid
    sums.

    Scale shape: a graph of at most ``iterate.LOCAL_MAX_ROWS`` edges
    is collected once and runs every round in the driver, the same
    recurrence in numpy int64 (``_pagerank_local``); the driver then
    holds the edge list and one rank array. Larger graphs run the
    distributed loop: per round, ONE shuffle-join of edges to the
    ids-only rank frame on src (hot hubs salt-able exactly like
    ``_attach_mins``) and one map-side-combined sum on dst; rounds run
    through ``iterate``, and the driver sees no data.
    """
    # Materialize the edge list ONCE before anything iterates: deg,
    # nodes, and every loop round re-read it, and a caller-supplied
    # edge frame is often an expensive plan in its own right (the
    # co-purchase edges are a collect_set + pair-expand + distinct over
    # the whole fact table). Without this, Spark re-executes that plan
    # per round -- 8x the pair-mining shuffle for 6 iterations
    # (measured 53s -> 7s at sf0.1). Same executor-local persistence
    # strategy GraphX uses for its iteration working set.
    # NOTE (r13): the _hindex_init repartition+persist trick was
    # measured HERE too and reverted -- pagerank's per-round agg
    # map-side combines 2.4M joined rows to ~|V| before its exchange,
    # so the shuffle this would eliminate is already tiny, and the
    # up-front repartition + cache-scan overhead made rounds SLOWER
    # (9.3s vs 5.0s at sf0.1). Partition reuse only pays for
    # WINDOW-bound rounds (hindex), where no combine can shrink the
    # data before the exchange.
    # UNDIRECTED-CANONICAL FAST PATH (r14 optimization round, guide
    # §2.3 "shuffle/scan fewer bytes"): when the caller certifies the
    # input as one canonical row per undirected simple edge
    # (src < dst, distinct, no self-loops -- q_pagerank's mined pair
    # set), the loop never materializes the 2x symmetrized list: the
    # edge checkpoint halves, degree comes from one explode-count
    # (outdeg == degree, no dangling nodes by symmetry), and each
    # round attaches ranks to BOTH endpoints with two broadcast joins
    # of the SAME projection (the second build is a ReusedExchange)
    # before a 2-way explode feeds the same map-side-combined sum.
    # Measured at sf0.1: init 2.3 s -> 0.85 s, rounds unchanged,
    # output BIT-IDENTICAL to the symmetrized path (the explode emits
    # exactly the two directed contribution rows the 2x list carried).
    # The fast path only pays when the rank table broadcasts, so above
    # the router ceiling it falls back to the symmetrized loop --
    # built from the already-checkpointed canonical frame, never by
    # re-running the caller's mining plan.
    # SIZE ROUTER (``iterate.route``, the "Scale shape" above): the edge
    # checkpoint observes its row count; ``_pagerank_local`` declines
    # (None) wherever its int64 rounds could part from Spark's.
    #
    # Cheap certification guard (r14 ADVICE): the canonical fast path
    # TRUSTS the caller's claim (one row per undirected simple edge,
    # src < dst -- so no self-loops and no duplicate orientations); a
    # violating edge list would silently diverge from the documented
    # multi-edge semantics of the general path. The orientation /
    # self-loop half of that claim is checkable for free as an
    # observed metric riding the checkpoint job we already pay (guide
    # §1.5); true duplicate rows would need a grouping pass and stay
    # the caller's contract. It raises before any round runs, on
    # either route.
    guard = (
        {"n_noncanon": F.count_if(F.col(src) >= F.col(dst))}
        if undirected_canonical
        else {}
    )
    node = StructField(
        "node",
        edges.schema[src].dataType,
        edges.schema[src].nullable or edges.schema[dst].nullable,
    )
    spark = edges.sparkSession

    def local(table, seen):
        _require_canonical(seen)
        return _pagerank_local(
            spark, table, node, undirected_canonical, iterations,
            damping_pct, scale,
        )

    edges, seen, ranks = route(
        edges.select(F.col(src).alias(src), F.col(dst).alias(dst)),
        local,
        **guard,
    )
    _require_canonical(seen)
    if ranks is not None:
        return ranks
    if undirected_canonical:
        ec = edges
        deg = (
            ec.select(F.explode(F.array(src, dst)).alias("node"))
            .groupBy("node")
            .agg(F.count("*").cast("long").alias("outdeg"))
        )
        state, seen = checkpoint(
            deg.select("node", "outdeg", F.lit(scale).cast("long").alias("rank")),
            n_nodes=F.count(F.lit(1)),
        )
        if seen["n_nodes"] <= broadcast_max_nodes:
            state, _ = iterate(
                state,
                lambda s, _: _pagerank_canonical_round(
                    ec, s, src, dst, damping_pct, scale
                ),
                iterations,
            )
            return state.select("node", "rank")
        # too many nodes to broadcast ranks: symmetrize off the
        # checkpoint and fall through to the general loop below
        edges, _ = checkpoint(
            ec.unionByName(ec.select(F.col(dst).alias(src), F.col(src).alias(dst)))
        )
    deg = edges.groupBy(F.col(src).alias("node")).agg(
        F.count("*").cast("long").alias("outdeg")
    )
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    # outdeg joined once up front; dangling nodes keep outdeg NULL and
    # contribute nothing (their rank row survives via the left join).
    # DF-aware join router (same discipline as the containment router):
    # under BROADCAST_MAX_NODES the per-round joins broadcast the rank
    # side and the edge list never shuffles for the join at all (a full
    # sort of the edges per round was the dominant cost at sf0.1); above
    # it, the honest shuffle join stands (a billion-node rank table must
    # partition). The node count rides the seed checkpoint job.
    state, seen = checkpoint(
        nodes.join(deg, "node", "left").select(
            "node", "outdeg", F.lit(scale).cast("long").alias("rank")
        ),
        n_nodes=F.count(F.lit(1)),
    )
    small = seen["n_nodes"] <= broadcast_max_nodes
    e = edges.select(F.col(src).alias("node"), F.col(dst).alias("_dst"))
    state, _ = iterate(
        state,
        lambda s, _: _pagerank_round(e, s, small, damping_pct, scale),
        iterations,
    )
    return state.select("node", "rank")


def _require_canonical(seen: dict) -> None:
    if seen.get("n_noncanon", 0) > 0:
        raise ValueError(
            "undirected_canonical=True requires src < dst on every "
            f"row; found {seen['n_noncanon']} violating rows "
            "(self-loops or non-canonical orientation). Drop the "
            "flag to use the general multi-edge path."
        )


def _pagerank_local(
    spark,
    edges: pa.Table,
    node: StructField,
    symmetric: bool,
    iterations: int,
    damping_pct: int,
    scale: int,
) -> DataFrame | None:
    """The driver route of ``pagerank`` over the collected ``(src, dst)``
    table: the exact BIGINT recurrence in numpy int64 (floor ``//``,
    sums by ``np.add.reduceat`` over the dst-sorted edges, never a
    float accumulator). ``symmetric`` adds each row's reverse
    orientation, as the canonical path's 2-way explode does. Returns
    ``(node, rank)`` with ``node`` typed as the input key, or None
    where the distributed loop must run instead: a null key (Spark's
    join semantics decide those rows), src and dst of different types
    (Spark widens them), a negative rank (Spark's ``div`` truncates
    where ``//`` floors), or a magnitude where int64 could wrap
    (``damping_pct * scale * n_nodes >= 2**63``, see the MAGNITUDE
    CEILING) and ANSI Spark would raise instead."""
    cols = [c.combine_chunks() for c in edges.columns]
    if any(c.null_count for c in cols) or cols[0].type != cols[1].type:
        return None
    keys = pa.concat_arrays(cols).dictionary_encode()
    n = len(keys.dictionary)
    if not (0 <= damping_pct <= 100 and 0 < scale and damping_pct * scale * n < 2**63):
        return None
    ids = keys.indices.to_numpy().astype(np.int64)
    src, dst = ids[: edges.num_rows], ids[edges.num_rows :]
    if symmetric:
        src, dst = np.concatenate([src, dst]), np.concatenate([dst, src])
    outdeg = np.bincount(src, minlength=n)
    order = np.argsort(dst, kind="stable")
    src, dst = src[order], dst[order]
    heads = np.flatnonzero(np.diff(dst, prepend=-1))
    base = (100 - damping_pct) * scale // 100
    rank = np.full(n, scale, dtype=np.int64)
    for _ in range(iterations):
        inflow = np.zeros(n, dtype=np.int64)
        if len(dst):
            inflow[dst[heads]] = np.add.reduceat(rank[src] // outdeg[src], heads)
        rank = base + damping_pct * inflow // 100
    return spark.createDataFrame(
        pa.table({"node": keys.dictionary, "rank": rank}),
        StructType([node, StructField("rank", LongType())]),
    )


def _pagerank_round(
    e: DataFrame, state: DataFrame, small: bool, damping_pct: int, scale: int
) -> DataFrame:
    """One un-checkpointed round of the general (directed) PageRank
    loop over the ``(node, _dst)`` edge projection."""
    hint = F.broadcast if small else (lambda d: d)
    contribs = (
        e.join(
            hint(
                state.where(F.col("outdeg").isNotNull()).select(
                    # `div` = exact BIGINT floor division on the JVM --
                    # never a double detour, so no 2^53 mantissa ceiling
                    "node",
                    F.expr("rank div outdeg").alias("_c"),
                )
            ),
            "node",
        )
        .groupBy(F.col("_dst").alias("node"))
        .agg(F.sum("_c").alias("_in"))
    )
    return state.join(hint(contribs), "node", "left").select(
        "node",
        "outdeg",
        (
            F.lit((100 - damping_pct) * scale // 100).cast("long")
            + F.expr(f"({damping_pct}L * coalesce(_in, 0L)) div 100")
        ).alias("rank"),
    )


def _pagerank_canonical_round(
    ec: DataFrame,
    state: DataFrame,
    src: str,
    dst: str,
    damping_pct: int,
    scale: int,
) -> DataFrame:
    """One un-checkpointed PageRank round of the undirected-canonical
    fast path -- factored out so the plan-shape tests can pin the r14
    claims on the exact frame the loop materializes: the two rank
    reads broadcast the SAME projection (one BroadcastExchange + one
    ReusedExchange), the per-round contribution sum is the only hash
    exchange, and the canonical edge checkpoint is never re-shuffled.
    """
    base = (100 - damping_pct) * scale // 100
    v1 = F.broadcast(
        state.select("node", F.expr("rank div outdeg").alias("_c"))
    ).alias("_a")
    v2 = F.broadcast(
        state.select("node", F.expr("rank div outdeg").alias("_c"))
    ).alias("_b")
    contribs = (
        ec.join(v1, ec[src] == F.col("_a.node"))
        .join(v2, ec[dst] == F.col("_b.node"))
        .select(
            F.explode(
                F.array(
                    F.struct(
                        ec[dst].alias("node"),
                        F.col("_a._c").alias("_c"),
                    ),
                    F.struct(
                        ec[src].alias("node"),
                        F.col("_b._c").alias("_c"),
                    ),
                )
            ).alias("x")
        )
        .select("x.node", "x._c")
        .groupBy("node")
        .agg(F.sum("_c").alias("_in"))
    )
    return state.join(F.broadcast(contribs), "node", "left").select(
        "node",
        "outdeg",
        (
            F.lit(base).cast("long")
            + F.expr(f"({damping_pct}L * coalesce(_in, 0L)) div 100")
        ).alias("rank"),
    )


def triangle_participation(edges: DataFrame, a: str = "pa", b: str = "pb") -> DataFrame:
    """Per-node triangle counts over an undirected simple graph via the
    DEGREE-ORIENTED wedge join (see ``queries.q_copurchase_triangles``
    for the workload framing).

    ``edges`` must hold each undirected edge ONCE with ``a < b`` and no
    self-loops. Every edge is directed from its lower-(degree, id)
    endpoint to the higher, so each triangle materializes exactly one
    wedge at its lowest-rank apex; wedge fan-out is bounded by
    sum(out_deg^2) = O(m^1.5) -- a hub node cannot melt the join (its
    out-degree under this orientation is at most ~sqrt(2m)). All joins
    are equi-joins; counts are exact integers. Returns
    ``(node, n_triangles)`` for nodes in >=1 triangle.
    """
    e = edges.select(F.col(a).alias("pa"), F.col(b).alias("pb")).persist()
    deg = (
        e.select(F.col("pa").alias("node"))
        .unionAll(e.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    ranked = (
        e.join(deg.withColumnRenamed("node", "pa"), "pa")
        .withColumnRenamed("deg", "da")
        .join(
            deg.withColumnRenamed("node", "pb").withColumnRenamed("deg", "db"),
            "pb",
        )
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("pa") < F.col("pb"))
    )
    oriented = ranked.select(
        F.when(a_first, F.col("pa")).otherwise(F.col("pb")).alias("src"),
        F.when(a_first, F.col("pb")).otherwise(F.col("pa")).alias("dst"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("ddst"),
    ).persist()
    e1 = oriented.select("src", F.col("dst").alias("v"), F.col("ddst").alias("dv"))
    e2 = oriented.select("src", F.col("dst").alias("w"), F.col("ddst").alias("dw"))
    wedges = e1.join(e2, "src").where(
        (F.col("dv") < F.col("dw"))
        | ((F.col("dv") == F.col("dw")) & (F.col("v") < F.col("w")))
    )
    tri = wedges.join(
        oriented.select(F.col("src").alias("v"), F.col("dst").alias("w")),
        ["v", "w"],
    )
    return (
        tri.select(
            F.explode(F.array(F.col("src"), F.col("v"), F.col("w"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )


def label_propagation(
    edges: DataFrame,
    a: str = "pa",
    b: str = "pb",
    iters: int = 8,
) -> DataFrame:
    """Deterministic synchronous LABEL PROPAGATION communities.

    Classic LPA (Raghavan et al. 2007, public recipe) with the random
    tie-break replaced by a total order so replays are bit-identical:
    every node starts as its own label, and each round adopts the
    label held by the PLURALITY of its neighbors, ties broken by
    (count desc, label asc). Unlike ``connected_components`` (which
    answers reachability), LPA splits a connected graph into densely
    knit communities -- the modularity-style grouping a co-purchase or
    co-supply graph is actually mined for.

    Scale shape per round (r14 optimization round, guide §2.4/§3.1):
    the label table is |V| ids-only rows, so under the same
    ``BROADCAST_MAX_NODES`` router as ``pagerank`` the edge join is
    map-side -- the checkpointed edge list never re-exchanges (a
    checkpointed LogicalRDD carries no stats, so Catalyst would
    otherwise sort-merge-join it EVERY round); neighbor labels
    aggregate map-side to (node, label, n); and the plurality resolves
    as a second hash aggregate -- ``min(struct(-n, label))`` is
    exactly the (count desc, label asc) argmax (n >= 1 so the
    negation never overflows), replacing the row_number window: an
    aggregate instead of a per-node sort (measured: identical labels,
    rounds 2.8 s -> 2.3 s at sf0.1; the win is structural at scale --
    no per-round sort of the neighbor-label frame). Above the router
    ceiling the honest shuffle join stands. Rounds run through
    ``iterate``. Fixed ``iters`` rounds (LPA converges in a handful on
    community-structured graphs; a fixed budget keeps the job plannable
    at 100 TB -- the same contract as ``pagerank``).

    Returns (node, label) -- label is the community representative's
    node id.
    """
    # symmetrize via a 2-way EXPLODE, not unionAll of two selects (r15,
    # guide §1.2): the union's branches each re-execute the CALLER's
    # edge plan (the weighted co-purchase mining for q_copurchase_
    # communities); the explode emits both orientations from one scan
    und = edges.select(
        F.explode(
            F.array(
                F.struct(F.col(a).alias("src"), F.col(b).alias("dst")),
                F.struct(F.col(b).alias("src"), F.col(a).alias("dst")),
            )
        ).alias("_e")
    ).select("_e.src", "_e.dst")
    # NOTE (r13): the _hindex_init repartition+persist trick was
    # measured here and reverted, same diagnosis as pagerank -- the
    # plurality agg map-side combines before its exchange, so the
    # per-round shuffle is already small and the trick cost 2x
    # (7.8s vs 3.6s at sf0.1)
    und, _ = checkpoint(und.distinct())
    labels, seen = checkpoint(
        und.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node")),
        n_nodes=F.count(F.lit(1)),
    )
    small = seen["n_nodes"] <= BROADCAST_MAX_NODES
    labels, _ = iterate(labels, lambda lab, _: _lpa_round(und, lab, small), iters)
    return labels


def _lpa_round(und: DataFrame, labels: DataFrame, small: bool) -> DataFrame:
    """One un-checkpointed label-propagation round -- factored out so
    the plan-shape tests can pin the r14 claims on the exact frame the
    loop materializes: the |V|-row label table rides a
    BroadcastExchange (the checkpointed edge list is never re-shuffled
    for the join), and the plurality argmax is the
    ``min(struct(-n, label))`` AGGREGATE, not a row_number window."""
    hint = F.broadcast if small else (lambda d: d)
    lv = hint(labels.select("node", "label")).alias("_l")
    neigh = (
        und.join(lv, und["dst"] == F.col("_l.node"))
        .groupBy(
            und["src"].alias("node"), F.col("_l.label").alias("nb_label")
        )
        .agg(F.count("*").alias("n"))
    )
    return (
        neigh.groupBy("node")
        .agg(
            F.min(
                F.struct(
                    (-F.col("n")).alias("_negn"),
                    F.col("nb_label").alias("l"),
                )
            ).alias("m")
        )
        .select("node", F.col("m.l").alias("label"))
    )


def _hindex_init(edges: DataFrame, a: str, b: str):
    """``(adj, vals)`` of ``_hindex_seed`` -- the pair the plan-shape
    tests and ``tools/dump_round_plans.py`` build round frames on."""
    return _hindex_seed(edges, a, b)[:2]


def _hindex_seed(edges: DataFrame, a: str, b: str):
    """(adj, vals, n_nodes): the deduped undirected graph as ADJACENCY
    LISTS (one (node, nbrs) row per node, self-loops dropped -- the
    standard k-core convention), the degree table that seeds the
    H-index sequence, and its row count for the broadcast router.

    Shape rationale (r15 optimization round, guide §1.2/§2.3/§2.4):

    - Symmetrize via a 2-way EXPLODE, not unionAll of two selects: the
      union's two branches each re-execute the CALLER's edge plan (for
      the co-purchase graph that is the collect_set + pair-expand over
      the whole fact table). The explode emits both orientations from
      ONE scan; the row set is identical.
    - ONE exchange end to end: the explicit ``repartition(src)``
      satisfies the dedup aggregate's ClusteredDistribution({src,dst})
      (subset rule), the adjacency ``groupBy(src)`` clustering, and
      every later round's per-node aggregation -- the edge stream is
      shuffled exactly once, at init.
    - Cache the |V|-row ADJACENCY table, not the |E|-row edge list
      (r14 cached the flat symmetrized list): same bytes, 100x fewer
      rows, so the per-round cache scan pays per-row overhead on |V|
      rows and each round re-derives the edge stream by an in-row
      explode (pure codegen, no shuffle) -- measured 2.6 s of init
      cache-write for the 2.4M-row flat list vs ~0.3 s for the 20k-row
      adjacency form at sf0.1, and the degree table falls out as
      ``size(nbrs)`` (narrow) instead of a second aggregate.

    MEGA-HUB caveat: a node's neighbor list is one array cell, bounded
    by |V| longs -- 32 MB at the 4M-node broadcast ceiling, fine; on
    graphs far above the ceiling a degree-capped/segmented adjacency is
    the documented extension (the non-broadcast round below is the only
    consumer there and reads it exploded).

    ``vals`` is checkpointed -- ITS lineage is the iterated one;
    materializing it also materializes the adjacency cache (so round
    plans see the cache's partitioning), and ``n_nodes`` rides that
    job. Cache lifetime follows the harness clearCache contract (see
    ``queries._labeled_quantized_dims``)."""
    adj = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(a).alias("src"), F.col(b).alias("dst")),
                    F.struct(F.col(b).alias("src"), F.col(a).alias("dst")),
                )
            ).alias("_e")
        )
        .select("_e.src", "_e.dst")
        .where(F.col("src") != F.col("dst"))
        .repartition(F.col("src"))
        .distinct()
        .groupBy(F.col("src").alias("node"))
        .agg(F.collect_list("dst").alias("nbrs"))
        .persist()
    )
    vals, seen = checkpoint(
        adj.select("node", F.size("nbrs").cast("long").alias("c")),
        n_nodes=F.count(F.lit(1)),
    )
    return adj, vals, seen["n_nodes"]


def _hindex_step_frame(
    adj: DataFrame, vals: DataFrame, small: bool = True
) -> DataFrame:
    """ONE un-checkpointed synchronous H-index round over the cached
    ADJACENCY table (the ``step`` ``_hindex_fixpoint`` iterates, and the
    frame the plan-shape tests pin): each node's value becomes the
    H-index of its neighbors' values, computed in HISTOGRAM form --
    per-(node, value) neighbor counts, a cumulative count over values
    desc, and ``max(least(cum, value))`` -- which equals the per-rank
    ``max(least(rank, value))`` fold (for each distinct value v, cum(v)
    is the largest rank among neighbors valued >= v).

    The edge stream is re-derived per round by EXPLODING the cached
    neighbor lists (r15: in-row codegen Generate, no shuffle, and the
    explode output keeps the cache's hash(node) partitioning) -- so
    the per-(node, value) aggregate, the cumulative window
    (partitionBy node) and the terminal groupBy all run WITHOUT an
    exchange: a round moves no edge bytes at all on the broadcast
    path.

    Join routing (r13, the ``pagerank`` router precedent): the
    checkpointed value table carries no stats, so Catalyst would plan
    a sort-merge join that RE-SHUFFLES the edge stream every round --
    measured 57.7s for 38 rounds on the sf0.1 unweighted co-purchase
    graph. With ``small`` (node table under the broadcast ceiling,
    the common case -- it is |V| rows, not |E|), the value side
    broadcasts; above the ceiling the honest shuffle join stands (a
    billion-node value table must partition).

    The output CARRIES ``c_old`` (the node's own previous value,
    attached by a second join against the same value projection -- on
    the broadcast path the second build is a ``ReusedExchange``), so
    the convergence gate rides the round's checkpoint job as an
    OBSERVED METRIC: zero extra actions per round (r14, guide
    §1.5/§2.4).

    NEGATIVE RESULTS pinned here so they are not re-tried (r15
    optimization round, both measured at sf0.1 on the 38-round
    unweighted co-purchase graph):

    - DELTA ITERATION (r14 verdict item #1) -- recompute only nodes
      adjacent to the last round's changed set, carry the rest -- was
      implemented twice (candidates mined from the flat cached edge
      list, then from the adjacency arrays by exploding only the
      changed rows). Per-round value tables were bit-identical, but
      every variant ran 3-5x SLOWER end to end (41-49 s vs 8-14 s of
      rounds): each round gains 2 broadcast builds (frontier,
      candidates -- each a blocking sub-job), a distinct whose explode
      output no longer carries the cache partitioning (one small
      exchange per round), and a union with the carried remainder --
      pure per-round JOB overhead that dwarfs the saved aggregation
      work at any frontier size tested, while the window input already
      shrinks naturally as values collapse (the histogram groups by
      distinct value). At cluster scale the trade could flip, but
      per the local-evidence rule the full synchronous round stays.
    - ROUND FUSION -- chaining k rounds into one checkpoint job with
      intermediate value tables living only as in-job broadcasts --
      re-executes each inner round once per reference: the two value
      reads per round compound to 2^k subtree executions (measured
      24 s at k=1, 75 s at k=6, 219 s at k=8); nested broadcast
      builds are not deduplicated by ReusedExchange across stages.
    - The per-row ARRAY FOLD (sort_array(collect_list) + zip_with +
      aggregate, no window) loses ~4x to this histogram+window form:
      higher-order functions are CodegenFallback -- interpreted
      per-element -- while the window runs in whole-stage codegen.
    """
    hint = F.broadcast if small else (lambda d: d)
    w = (
        Window.partitionBy("node")
        .orderBy(F.col("nb_c").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    und = adj.select(
        F.col("node").alias("src"), F.explode("nbrs").alias("dst")
    )
    # both joins broadcast byte-identical children => ReusedExchange
    v_nb = hint(vals.select("node", "c")).alias("_v1")
    v_old = hint(vals.select("node", "c")).alias("_v2")
    return (
        und.join(v_nb, und["dst"] == F.col("_v1.node"))
        .select(und["src"].alias("node"), F.col("_v1.c").alias("nb_c"))
        .groupBy("node", "nb_c")
        .agg(F.count("*").cast("long").alias("k"))
        .withColumn("cum", F.sum("k").over(w))
        .groupBy("node")
        .agg(
            F.max(F.least(F.col("cum"), F.col("nb_c")))
            .cast("long")
            .alias("c")
        )
        .alias("_h")
        .join(v_old, F.col("_h.node") == F.col("_v2.node"))
        .select("_h.node", "_h.c", F.col("_v2.c").alias("c_old"))
    )


def _hindex_fixpoint(
    edges: DataFrame, a: str, b: str, rounds: int
) -> tuple[DataFrame, bool]:
    """Up to ``rounds`` synchronous H-index rounds from the degree
    table, exiting at the first round that changes no value; returns
    ``(vals, converged)``. Every round observes its changed-node count
    -- no-change between two consecutive rounds IS the fixpoint, and
    the gate costs no action."""
    adj, vals, n_nodes = _hindex_seed(edges, a, b)
    small = n_nodes <= BROADCAST_MAX_NODES
    return iterate(
        vals,
        lambda v, _: _hindex_step_frame(adj, v, small),
        rounds,
        metrics={"n_changed": F.count_if(F.col("c") != F.col("c_old"))},
        until=lambda _prev, _new, _was, now: now["n_changed"] == 0,
    )


def hindex_rounds(
    edges: DataFrame,
    a: str = "pa",
    b: str = "pb",
    rounds: int = 10,
) -> DataFrame:
    """FIXED-ROUND synchronous H-index iteration -- ``kcore_numbers``'s
    oracle-pairable twin under the ``pagerank`` contract: the result is
    defined as the value table after EXACTLY ``rounds`` synchronous
    applications of the H-operator (Lu et al. 2016) starting from the
    degree table, so a DuckDB oracle reproduces it bit-for-bit by
    unrolling ``rounds`` CTEs -- no convergence judgment call on either
    side, at any scale. Values are exact BIGINTs throughout.

    The loop still exits early at the fixpoint -- soundly, because the
    H-operator is IDEMPOTENT there (a no-change round proves every
    later round returns the same table), so early exit is a pure
    wall-clock optimization, never a semantic one. The convergence
    gate is FREE (r13 verdict item #3 made it a narrow scan; the r14
    optimization round folds it away entirely): ``_hindex_step_frame``
    carries each node's previous value as ``c_old`` and the any-change
    count is an OBSERVED METRIC of the round's own checkpoint job --
    zero extra actions per round (see ``_hindex_fixpoint``). Wherever
    the monotone non-increasing sequence has converged within ``rounds``,
    the returned value IS the k-core number; on a graph whose
    effective diameter exceeds ``rounds`` it is kcore's documented
    over-estimate, which is exactly what the fixed-round contract
    makes reproducible (``kcore_numbers`` raises in that state
    instead -- use it when the TRUE coreness is required and the
    round budget is negotiable).

    Returns (node, h) for every non-isolated node.
    """
    vals, _ = _hindex_fixpoint(edges, a, b, rounds)
    return vals.select("node", F.col("c").alias("h"))


def kcore_numbers(
    edges: DataFrame,
    a: str = "pa",
    b: str = "pb",
    max_iters: int = 32,
) -> DataFrame:
    """CORENESS of every node via the distributed H-INDEX fixpoint
    (Lu et al. 2016, "The H-index of a network node", public recipe):
    initialize every node at its degree, then repeatedly replace each
    node's value with the H-index of its neighbors' values (the
    largest h such that >= h neighbors hold >= h). The sequence is
    monotone non-increasing and converges EXACTLY to the k-core
    number -- the peeling algorithm's answer without the peeling
    algorithm's sequential deletions, which is what makes it a
    batch-synchronous (BSP) computation a cluster can run.

    Scale shape per round: one co-partitioned join of the undirected
    edge list against the value table, a map-side-combined
    (node, value) neighbor-count aggregate, then the per-node H-index
    in histogram form -- a cumulative count over values desc folded
    with ``max(least(cum, value))``, so the window sorts
    |node x distinct values| rows, not |E| (see ``_hindex_step_frame``;
    hub nodes contribute their value range, not their degree). Rounds
    run through ``iterate``, and the loop EXITS EARLY through an
    any-change gate that costs ZERO extra actions (r13 verdict item #3;
    r14 optimization round): the changed-node count is an observed
    metric of each round's checkpoint job, so gating EVERY round is
    free and no overshoot rounds are ever run. The H-index iteration
    typically converges in O(log n)-ish rounds on real graphs; ``max_iters`` is
    the plannability backstop, and because every round gates,
    exhaustion is detected exactly.

    Returns (node, coreness). Self-loops are dropped up front (the
    standard k-core convention -- a self-loop is not a neighbor, and
    counting it would hand every self-looped node a +1 coreness the
    peeling definition does not award); isolated and self-loop-only
    nodes therefore never appear, and every returned node has
    coreness >= 1.
    """
    vals, converged = _hindex_fixpoint(edges, a, b, max_iters)
    if not converged:
        # The loop exhausted max_iters with the last round still
        # changing: the H-sequence is monotone NON-INCREASING, so the
        # values on hand are an OVER-estimate of coreness, not the
        # fixpoint. Propagation moves roughly one hop per round, so a
        # graph with long chains hanging off denser cores (effective
        # diameter > max_iters) lands here. Silent truncation would
        # hand the caller wrong numbers with no signal -- raise with
        # the remedy instead (r10 ADVICE item).
        raise RuntimeError(
            f"kcore_numbers did not converge within max_iters={max_iters} "
            "(last round still had changes); values would over-estimate "
            "coreness. Raise max_iters (rounds needed ~ graph diameter)."
        )
    return vals.select("node", F.col("c").alias("coreness"))
