"""Round-8 queries and operators: semantic contracts beyond generic
oracle parity -- containment prefix-filter completeness and pruning,
broadcast-hint discipline, and the round's new exact operators."""

import pyspark.sql.functions as F

from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark import (
    queries as Q,
)
from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.plans import (
    fixtures,
)

from conftest import TESTDATA as SF


def test_prefix_containment_is_output_identical_to_raw_join(spark):
    """The overlap prefix-filter theorem says recall is exactly 1.0 --
    verified directly: the filtered operator and the raw shared-shingle
    join return the same directional pair set on the corpus (the
    router's prefix route, forced by ``max_df_raw_route=0``)."""
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.functions.text import (  # noqa: E501
        tokens,
        word_ngrams,
    )
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.dedup import (  # noqa: E501
        containment_pairs,
    )

    docs = fixtures.fan_out(fixtures.load(spark, SF, "documents"))
    n = 3
    sh = docs.where(F.size(tokens("text")) >= n).select(
        F.col("doc_id").alias("_id"), word_ngrams("text", n).alias("s")
    )
    ex = sh.select("_id", F.explode("s").alias("shingle")).persist()
    sizes = ex.groupBy("_id").agg(F.count("*").cast("int").alias("ns"))
    a, b = ex.alias("a"), ex.alias("b")
    shared_lt = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .groupBy(F.col("a._id").alias("doc_a"), F.col("b._id").alias("doc_b"))
        .agg(F.count("*").alias("n_shared"))
    )
    shared = shared_lt.unionByName(
        shared_lt.select(
            F.col("doc_b").alias("doc_a"),
            F.col("doc_a").alias("doc_b"),
            "n_shared",
        )
    )
    raw = {
        (r.doc_a, r.doc_b, r.containment)
        for r in shared.join(
            sizes.select(F.col("_id").alias("doc_a"), F.col("ns")), "doc_a"
        )
        .withColumn(
            "containment",
            F.round(F.col("n_shared").cast("double") / F.col("ns"), 4),
        )
        .where(F.col("containment") >= 0.8)
        .select("doc_a", "doc_b", "containment")
        .collect()
    }
    pref = {
        (r.doc_a, r.doc_b, r.containment)
        for r in containment_pairs(docs, n=3, max_df_raw_route=0).collect()
    }
    assert pref == raw and raw  # identical and non-empty


def test_prefix_containment_boundary_pair(spark):
    """A pair engineered at exactly c = 0.8 (4 of 5 shingles shared)
    must survive the prefix filter -- the alpha arithmetic is exact
    integer, so the >= boundary is inclusive; a 3-of-5 pair (0.6) is
    dropped by the verify stage."""
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.dedup import (  # noqa: E501
        containment_pairs,
    )

    # doc 1: tokens w1..w7 -> 5 shingles; doc 2 shares its first 6
    # tokens -> shares exactly 4 of doc 1's 5 shingles
    d1 = "w1 w2 w3 w4 w5 w6 w7"
    d2 = "w1 w2 w3 w4 w5 w6 x1 x2 x3 x4 x5 x6 x7 x8"
    # doc 3 shares only w1..w5 with doc 1 -> 3 of 5 shingles (0.6)
    d3 = "w1 w2 w3 w4 w5 y1 y2 y3 y4 y5 y6 y7 y8 y9"
    docs = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3)], "doc_id long, text string"
    )
    got = {
        (r.doc_a, r.doc_b): r.containment
        for r in containment_pairs(docs, n=3, max_df_raw_route=0).collect()
    }
    assert got[(1, 2)] == 0.8  # exactly at the boundary, kept
    assert (1, 3) not in got and (3, 1) not in got


def test_prefix_containment_defuses_hot_shingle(spark):
    """The scale point: a boilerplate shingle shared by k docs
    contributes ~k^2/2 candidate rows through the raw self-join but
    ~0 through the prefix join (rarest-first order keeps hot shingles
    out of every prefix). Measured on a planted corpus."""
    from pyspark.sql import Window as W

    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.functions.text import (  # noqa: E501
        tokens,
        word_ngrams,
    )

    # 40 docs share the identical boilerplate header (one hot shingle
    # family); each doc's body is unique
    rows = [
        (i, "terms of service apply " + f"u{i}a u{i}b u{i}c u{i}d u{i}e")
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    n = 3
    sh = docs.where(F.size(tokens("text")) >= n).select(
        F.col("doc_id").alias("_id"), word_ngrams("text", n).alias("s")
    )
    ex = sh.select("_id", F.explode("s").alias("shingle")).persist()
    raw_cand = (
        ex.alias("a")
        .join(
            ex.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a._id") != F.col("b._id")),
        )
        .select(
            F.least(F.col("a._id"), F.col("b._id")),
            F.greatest(F.col("a._id"), F.col("b._id")),
        )
        .distinct()
        .count()
    )
    sizes = ex.groupBy("_id").agg(F.count("*").cast("int").alias("n_shingles"))
    dfreq = ex.groupBy("shingle").agg(F.count("*").alias("_df"))
    alpha = F.expr("(4 * n_shingles + 4) div 5")
    pref = (
        ex.join(dfreq, "shingle")
        .withColumn(
            "_rn",
            F.row_number().over(W.partitionBy("_id").orderBy("_df", "shingle")),
        )
        .join(sizes, "_id")
        .where(F.col("_rn") <= F.col("n_shingles") - alpha + 1)
        .select("_id", "shingle")
    )
    pref_cand = (
        pref.alias("a")
        .join(
            ex.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a._id") != F.col("b._id")),
        )
        .select(
            F.least(F.col("a._id"), F.col("b._id")),
            F.greatest(F.col("a._id"), F.col("b._id")),
        )
        .distinct()
        .count()
    )
    # raw: every one of the 40*39/2 = 780 pairs is a candidate through
    # the shared boilerplate; prefix: none (hot shingles rank last)
    assert raw_cand == 780
    assert pref_cand == 0


def test_lint_flags_keyed_agg_broadcast_and_allows_scalar_gate(spark):
    """Red case: a forced broadcast of a per-key aggregate (unbounded
    cardinality -- the old basket_rules shape) is flagged. Green cases:
    the 1-row scalar gate idiom passes, and an allow-listed
    domain-constant key passes."""
    import pytest

    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.plans.audit import (  # noqa: E501
        PlanLintError,
        lint_plan,
    )

    df = spark.range(100).select(
        (F.col("id") % 7).alias("k"), F.col("id").alias("v")
    )
    per_key = df.groupBy("k").agg(F.count("*").alias("n"))

    bad = df.join(F.broadcast(per_key), "k")
    with pytest.raises(PlanLintError, match="per-key aggregate"):
        lint_plan(bad, forbid_keyed_agg_broadcast=True)
    # allow-listed as a domain constant -> passes
    lint_plan(
        bad,
        forbid_keyed_agg_broadcast=True,
        bounded_broadcast_keys={"k"},
    )

    total = df.agg(F.count("*").alias("n_total"))  # global agg: 1 row
    good = df.crossJoin(F.broadcast(total))
    lint_plan(good, forbid_keyed_agg_broadcast=True)


def test_basket_rules_has_no_forced_per_key_broadcast(spark):
    """basket_rules' only remaining broadcast hint is the 1-row order
    total; the per-part count joins are left to AQE's size check."""
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.plans.audit import (  # noqa: E501
        lint_plan,
    )

    df = Q.q_basket_rules(spark, SF)
    lint_plan(df, forbid_keyed_agg_broadcast=True)


def test_fifo_matched_equals_min_of_sides_and_hand_case(spark):
    """Conservation law: per sku, FIFO-matched qty == min(receipts,
    issues) -- the allocation neither invents nor drops units. Plus a
    hand-computed layer case: receipts [5, 3], issues [2, 4, 2] ->
    matches (r1,i1)=2, (r1,i2)=3, (r2,i2)=1, (r2,i3)=2."""
    rows = Q.q_fifo_allocation(spark, SF).collect()
    assert rows and all(
        r.matched_qty == min(r.receipt_qty, r.issue_qty) for r in rows
    )
    import datetime as dt

    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.allocate import (  # noqa: E501
        fifo_match,
    )

    d = dt.date(2024, 1, 1)
    flows = spark.createDataFrame(
        [
            (1, 5, d, 0, 1, True),
            (1, 3, dt.date(2024, 1, 3), 2, 1, True),
            (1, 2, dt.date(2024, 1, 2), 1, 1, False),
            (1, 4, dt.date(2024, 1, 4), 3, 1, False),
            (1, 2, dt.date(2024, 1, 5), 5, 1, False),
        ],
        "sku long, qty int, d date, ord long, line int, is_receipt boolean",
    )
    got = sorted(
        (r.in_ord, r.out_ord, r.matched_qty)
        for r in fifo_match(flows).collect()
    )
    assert got == [(0, 1, 2), (0, 3, 3), (2, 3, 1), (2, 5, 2)]


def test_edit1_pairs_plants_all_three_edit_kinds(spark):
    """FastSS completeness by construction: substitution, insertion,
    and deletion pairs are all found; a distance-2 pair sharing a
    deletion variant ('ab'/'ba') is generated as a candidate but
    killed by the exact verify."""
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.dedup import (  # noqa: E501
        edit1_neighbor_pairs,
    )

    names = ["kitten", "mitten", "kittten", "kiten", "ab", "ba", "zzz"]
    df = spark.createDataFrame([(n,) for n in names], "name string")
    got = {(r.name_a, r.name_b) for r in edit1_neighbor_pairs(df, "name").collect()}
    assert ("kitten", "mitten") in got  # substitution
    assert ("kitten", "kittten") in got  # insertion
    assert ("kiten", "kitten") in got  # deletion
    assert ("ab", "ba") not in got  # distance 2, verify kills it
    assert not any("zzz" in p for p in got)


def test_backlog_peak_matches_bruteforce_recount(spark):
    """For five suppliers, the reported peak equals a brute-force count
    of lines open on the reported peak date (order_d <= d <= ship_d),
    and no other day beats it (spot: the day before the peak date is
    not higher -- first-date tie-break)."""
    rows = {r.suppkey: r for r in Q.q_supplier_backlog_peak(spark, SF).collect()}
    li = fixtures.load(spark, SF, "lineitem").select(
        "l_orderkey", "l_suppkey", F.col("l_shipdate").cast("date").alias("ship_d")
    )
    orders = fixtures.load(spark, SF, "orders").select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("order_d")
    )
    lines = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .where(F.col("ship_d") >= F.col("order_d"))
        .collect()
    )
    import collections

    by_supp = collections.defaultdict(list)
    for r in lines:
        by_supp[r.l_suppkey].append((r.order_d, r.ship_d))
    for supp in list(rows)[:5]:
        want = rows[supp]
        spans = by_supp[supp]
        def open_on(d):
            return sum(1 for o, s in spans if o <= d <= s)
        assert open_on(want.peak_date) == want.peak_open_lines
        days = sorted({o for o, _ in spans} | {s for _, s in spans})
        assert max(open_on(d) for d in days) == want.peak_open_lines
        earlier = [d for d in days if d < want.peak_date]
        assert all(open_on(d) < want.peak_open_lines for d in earlier)


def test_order_streaks_bruteforce(spark):
    """Python recompute of every customer's longest consecutive-day
    run from the raw order dates."""
    got = {
        r.custkey: (r.longest_streak, r.n_order_days_runs)
        for r in Q.q_order_streaks(spark, SF).collect()
    }
    orders = fixtures.load(spark, SF, "orders").select(
        "o_custkey", F.col("o_orderdate").cast("date").alias("d")
    ).distinct().collect()
    import collections
    import datetime as dt

    days = collections.defaultdict(set)
    for r in orders:
        days[r.o_custkey].add(r.d)
    for cust, ds in days.items():
        ds = sorted(ds)
        runs, cur = [], 1
        for a, b in zip(ds, ds[1:]):
            if (b - a) == dt.timedelta(days=1):
                cur += 1
            else:
                runs.append(cur)
                cur = 1
        runs.append(cur)
        if max(runs) >= 2:
            assert got[cust] == (max(runs), len(runs)), cust
        else:
            assert cust not in got


def test_cohort_matrix_partitions_activity(spark):
    """Offset-0 count IS the cohort size, every (customer, month)
    activity cell lands in exactly one matrix cell, and offsets are
    non-negative."""
    rows = Q.q_cohort_matrix(spark, SF).collect()
    assert all(r.month_offset >= 0 for r in rows)
    om = (
        fixtures.load(spark, SF, "orders")
        .select(
            "o_custkey",
            (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias("mkey"),
        )
        .distinct()
    )
    assert sum(r.n_customers for r in rows) == om.count()
    n_cust = om.select("o_custkey").distinct().count()
    assert sum(r.n_customers for r in rows if r.month_offset == 0) == n_cust


def test_price_endings_and_hapax_recounts(spark):
    """Endings cover all lines and shares telescope to ~1; hapax stats
    recomputed exactly in python at test SF."""
    rows = Q.q_price_endings(spark, SF).collect()
    li_n = fixtures.load(spark, SF, "lineitem").count()
    assert sum(r.n for r in rows) == li_n
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-3

    import collections

    docs = fixtures.load(spark, SF, "documents").select("source", "text").collect()
    cnt: dict = collections.defaultdict(collections.Counter)
    for r in docs:
        cnt[r.source].update(t for t in r.text.split() if t)
    got = {r.source: r for r in Q.q_hapax_stats(spark, SF).collect()}
    for src, c in cnt.items():
        n_tokens = sum(c.values())
        vocab = len(c)
        hapax = sum(1 for v in c.values() if v == 1)
        g = got[src]
        assert (g.n_tokens, g.vocab, g.hapax) == (n_tokens, vocab, hapax)
        assert g.type_token_ratio == round(vocab / n_tokens, 6)
        assert g.hapax_share == round(hapax / vocab, 6)


def test_collocation_and_mode_python_recompute(spark):
    """Lift of every reported collocation recomputed from raw counts;
    dominant priority equals the python mode with the lowest-string
    tie-break."""
    import collections

    docs = fixtures.load(spark, SF, "documents").select("text").collect()
    uni: collections.Counter = collections.Counter()
    bi: collections.Counter = collections.Counter()
    for r in docs:
        toks = [t for t in r.text.split() if t]
        uni.update(toks)
        bi.update(f"{a} {b}" for a, b in zip(toks, toks[1:]))
    n_uni, n_bi = sum(uni.values()), sum(bi.values())
    got = Q.q_collocation_lift(spark, SF).collect()
    assert got  # non-empty at test SF
    for r in got:
        a, b = r.bigram.split(" ")
        assert r.n_ab == bi[r.bigram] and r.n_ab >= 5
        want = round((r.n_ab * n_uni * n_uni) / (n_bi * uni[a] * uni[b]), 6)
        assert r.lift == want, r.bigram

    rows = {r.nation: r for r in Q.q_dominant_priority(spark, SF).collect()}
    orders = fixtures.load(spark, SF, "orders").select("o_custkey", "o_orderpriority")
    cust = fixtures.load(spark, SF, "customer").select("c_custkey", "c_nationkey")
    nation = fixtures.load(spark, SF, "nation").select("n_nationkey", "n_name")
    joined = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .select("n_name", "o_orderpriority")
        .collect()
    )
    per: dict = collections.defaultdict(collections.Counter)
    for r in joined:
        per[r.n_name][r.o_orderpriority] += 1
    for nat, c in per.items():
        best = min(c.items(), key=lambda kv: (-kv[1], kv[0]))
        g = rows[nat]
        assert (g.priority, g.n) == best
        assert g.share == round(best[1] / sum(c.values()), 6)


def test_hhi_and_simpson_bounds_and_recompute(spark):
    """HHI in [1/n, 1] per nation (equality at perfect equality /
    monopoly); Simpson diversity recomputed exactly in python; a
    planted one-supplier nation would hit hhi=1 (checked via bound:
    n_suppliers=1 implies hhi=1)."""
    rows = Q.q_nation_supplier_hhi(spark, SF).collect()
    assert rows
    for r in rows:
        assert 1.0 / r.n_suppliers - 1e-6 <= r.hhi <= 1.0 + 1e-9
        if r.n_suppliers == 1:
            assert r.hhi == 1.0

    import collections

    docs = fixtures.load(spark, SF, "documents").select("source", "text").collect()
    cnt: dict = collections.defaultdict(collections.Counter)
    for r in docs:
        cnt[r.source].update(t for t in r.text.split() if t)
    got = {r.source: r.simpson_diversity
           for r in Q.q_token_simpson_diversity(spark, SF).collect()}
    for src, c in cnt.items():
        t = sum(c.values())
        want = round(1 - sum(v * v for v in c.values()) / (t * t), 6)
        assert got[src] == want, src


def test_vocab_overlap_pairs_and_recompute(spark):
    """All source pairs present (k*(k-1)/2), jaccard recomputed from
    python sets."""
    rows = Q.q_source_vocab_overlap(spark, SF).collect()
    import collections

    docs = fixtures.load(spark, SF, "documents").select("source", "text").collect()
    vocab: dict = collections.defaultdict(set)
    for r in docs:
        vocab[r.source].update(t for t in r.text.split() if t)
    k = len(vocab)
    assert len(rows) == k * (k - 1) // 2
    for r in rows:
        a, b = vocab[r.source_a], vocab[r.source_b]
        assert r.vocab_jaccard == round(len(a & b) / len(a | b), 6)


def test_basket_histogram_and_magnitude_conservation(spark):
    """Histogram cells partition the order population (both queries);
    magnitude really is the bit length of total cents."""
    cells = Q.q_basket_size_histogram(spark, SF).collect()
    # the basket histogram covers orders WITH lines (an empty basket
    # has no lineitem rows); magnitude covers every order
    n_baskets = (
        fixtures.load(spark, SF, "lineitem").select("l_orderkey").distinct().count()
    )
    assert sum(c.n_orders for c in cells) == n_baskets
    assert all(c.n_parts <= c.n_lines for c in cells)

    mag = Q.q_magnitude_histogram(spark, SF).collect()
    n_orders = fixtures.load(spark, SF, "orders").count()
    assert sum(m.n for m in mag) == n_orders
    sample = (
        fixtures.load(spark, SF, "orders")
        .select("o_totalprice")
        .limit(50)
        .collect()
    )
    mags = {m.magnitude for m in mag}
    for r in sample:
        cents = round(float(r.o_totalprice) * 100)
        assert cents.bit_length() in mags


def test_repeat_rate_and_new_vs_repeat_recompute(spark):
    """repeat_rate bounds + revenue decomposition telescopes to total
    order revenue and new-customer counts sum to the customer
    population (each customer is new exactly once)."""
    rr = Q.q_repeat_purchase_rate(spark, SF).collect()
    for r in rr:
        assert 0 <= r.n_repeat <= r.n_customers
        assert r.repeat_rate == round(r.n_repeat / r.n_customers, 6)

    nv = Q.q_new_vs_repeat_revenue(spark, SF).collect()
    orders = fixtures.load(spark, SF, "orders")
    total_cents = (
        orders.select(
            F.sum(
                F.round(F.col("o_totalprice").cast("decimal(18,2)") * 100)
                .cast("long")
            ).alias("t")
        ).first().t
    )
    got_total = round(sum(r.new_revenue + r.repeat_revenue for r in nv), 2)
    assert got_total == round(total_cents / 100.0, 2)
    n_cust = orders.select("o_custkey").distinct().count()
    assert sum(r.n_new_customers for r in nv) == n_cust


def test_lifo_mirrors_fifo_conservation_and_differs_in_days(spark):
    """Periodic LIFO keeps the conservation law (matched == min(in,
    out) -- the end-reflection is a bijection on unit numbers) and its
    per-sku totals equal FIFO's; the HOLDING-DAYS profile differs
    because issues match the newest covering layers. Plus the 2-layer
    hand case: receipts [5, 3], issues [2, 4, 2] under LIFO -> issue
    units 1..8 consume reflected receipt units: (r2,i1)=2, (r2,i2)=1,
    (r1,i2)=3, (r1,i3)=2."""
    import datetime as dt

    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.allocate import (  # noqa: E501
        fifo_match,
    )

    fifo = {r.sku: r for r in Q.q_fifo_allocation(spark, SF).collect()}
    lifo = {r.sku: r for r in Q.q_lifo_allocation(spark, SF).collect()}
    assert set(fifo) == set(lifo)
    diff_days = 0
    for sku, f in fifo.items():
        l = lifo[sku]
        assert (l.receipt_qty, l.issue_qty, l.matched_qty) == (
            f.receipt_qty, f.issue_qty, f.matched_qty,
        )
        assert l.matched_qty == min(l.receipt_qty, l.issue_qty)
        diff_days += int(l.holding_days != f.holding_days)
    assert diff_days > 0  # the methods genuinely differ

    flows = spark.createDataFrame(
        [
            (1, 5, dt.date(2024, 1, 1), 0, 1, True),
            (1, 3, dt.date(2024, 1, 3), 2, 1, True),
            (1, 2, dt.date(2024, 1, 2), 1, 1, False),
            (1, 4, dt.date(2024, 1, 4), 3, 1, False),
            (1, 2, dt.date(2024, 1, 5), 5, 1, False),
        ],
        "sku long, qty int, d date, ord long, line int, is_receipt boolean",
    )
    got = sorted(
        (r.in_ord, r.out_ord, r.matched_qty)
        for r in fifo_match(flows, lifo=True).collect()
    )
    assert got == [(0, 3, 3), (0, 5, 2), (2, 1, 2), (2, 3, 1)]


def test_price_dispersion_and_seasonality_recompute(spark):
    """Dispersion spot-checked against raw cents sets; seasonality
    indexes average EXACTLY to 1 over the 12 months (telescoping
    identity of the exact rational) and recompute from raw sums."""
    import collections

    rows = {r.partkey: r for r in Q.q_price_dispersion(spark, SF).collect()}
    li = fixtures.load(spark, SF, "lineitem").select(
        "l_partkey", "l_extendedprice"
    ).collect()
    cents: dict = collections.defaultdict(set)
    for r in li:
        cents[r.l_partkey].add(round(float(r.l_extendedprice) * 100))
    for pk, cs in cents.items():
        if len(cs) >= 2:
            g = rows[pk]
            assert g.n_prices == len(cs)
            assert g.min_price == min(cs) / 100.0
            assert g.rel_spread == round((max(cs) - min(cs)) / min(cs), 6)
        else:
            assert pk not in rows

    seas = Q.q_monthly_seasonality(spark, SF).collect()
    assert len(seas) == 12
    total = sum(r.qty for r in seas)
    for r in seas:
        assert r.seasonality_index == round(r.qty * 12 / total, 6)


def test_duplicate_screen_and_abc_migration_contracts(spark):
    """Every screen group really collides at dollar granularity (>= 2
    orders) and counts distinct customers; the migration matrix
    partitions the union of both halves' skus and its '-' rows equal
    the set differences."""
    dup = Q.q_duplicate_invoice_screen(spark, SF).collect()
    assert dup and all(r.n_orders >= 2 for r in dup)
    assert all(1 <= r.n_customers <= r.n_orders for r in dup)

    mig = Q.q_abc_migration(spark, SF).collect()
    li = fixtures.load(spark, SF, "lineitem").select(
        "l_partkey", F.col("l_shipdate").cast("date").alias("d")
    )
    import datetime as dt

    cut = dt.date(1996, 1, 1)
    h1 = {r.l_partkey for r in li.where(F.col("d") < cut).distinct().collect()}
    h2 = {r.l_partkey for r in li.where(F.col("d") >= cut).distinct().collect()}
    assert sum(r.n_skus for r in mig) == len(h1 | h2)
    assert sum(r.n_skus for r in mig if r.class_h2 == "-") == len(h1 - h2)
    assert sum(r.n_skus for r in mig if r.class_h1 == "-") == len(h2 - h1)
    assert not any(r.class_h1 == "-" and r.class_h2 == "-" for r in mig)


def test_vocab_growth_monotone_and_endpoint(spark):
    """The Heaps curve is non-decreasing, ends at the full vocabulary,
    and each decile's value recomputes from python first-seen sets."""
    rows = Q.q_vocab_growth(spark, SF).collect()
    vocab = [r.vocab for r in sorted(rows, key=lambda r: r.decile)]
    assert vocab == sorted(vocab)
    docs = sorted(
        fixtures.load(spark, SF, "documents").select("doc_id", "text").collect(),
        key=lambda r: r.doc_id,
    )
    n_docs = len(docs)
    step = max(1, n_docs // 10)
    first_seen = {}
    for r in docs:
        for t in r.text.split():
            if t and t not in first_seen:
                first_seen[t] = min(r.doc_id // step, 9)
    want = []
    acc = 0
    import collections

    per = collections.Counter(first_seen.values())
    for d in range(10):
        acc += per.get(d, 0)
        want.append(acc)
    assert vocab == want
    assert vocab[-1] == len(first_seen)


def test_discount_profile_and_returns_rate_recompute(spark):
    """Discount shares telescope to 1 on both measures; return rates
    recompute exactly from raw flags."""
    prof = Q.q_discount_depth_profile(spark, SF).collect()
    assert abs(sum(r.line_share for r in prof) - 1.0) < 1e-3
    assert abs(sum(r.revenue_share for r in prof) - 1.0) < 1e-3
    li_n = fixtures.load(spark, SF, "lineitem").count()
    assert sum(r.n_lines for r in prof) == li_n

    import collections

    rows = {r.brand: r for r in Q.q_returns_rate_by_brand(spark, SF).collect()}
    li = (
        fixtures.load(spark, SF, "lineitem")
        .join(
            fixtures.load(spark, SF, "part").select("p_partkey", "p_brand"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select("p_brand", "l_returnflag", F.col("l_quantity").cast("long").alias("q"))
        .collect()
    )
    agg: dict = collections.defaultdict(lambda: [0, 0, 0, 0])
    for r in li:
        a = agg[r.p_brand]
        a[0] += 1
        a[2] += r.q
        if r.l_returnflag == "R":
            a[1] += 1
            a[3] += r.q
    for brand, (n, nr, qt, qr) in agg.items():
        g = rows[brand]
        assert (g.n_lines, g.n_returned, g.qty_total, g.qty_returned) == (
            n, nr, qt, qr,
        )
        assert g.line_return_rate == round(nr / n, 6)
        assert g.qty_return_rate == round(qr / qt, 6)


def test_spectrum_weekday_leadtime_contracts(spark):
    """Spectrum mass conserves the corpus token count and buckets
    really are bit lengths; weekday shares telescope and isodow is
    1..7; the lead-time matrix partitions the line population and its
    shares telescope within each priority."""
    import collections

    spec = Q.q_token_frequency_spectrum(spark, SF).collect()
    docs = fixtures.load(spark, SF, "documents").select("text").collect()
    cnt = collections.Counter()
    for r in docs:
        cnt.update(t for t in r.text.split() if t)
    assert sum(r.mass for r in spec) == sum(cnt.values())
    assert sum(r.n_tokens for r in spec) == len(cnt)
    want = collections.Counter(v.bit_length() for v in cnt.values())
    assert {r.freq_bucket: r.n_tokens for r in spec} == dict(want)

    wd = Q.q_weekday_revenue_profile(spark, SF).collect()
    assert {r.isodow for r in wd} <= set(range(1, 8))
    assert abs(sum(r.order_share for r in wd) - 1.0) < 1e-3
    assert abs(sum(r.revenue_share for r in wd) - 1.0) < 1e-3

    lt = Q.q_lead_time_bucket_matrix(spark, SF).collect()
    li_n = fixtures.load(spark, SF, "lineitem").count()
    assert sum(r.n for r in lt) == li_n
    per = collections.defaultdict(float)
    for r in lt:
        per[r.priority] += r.share
    assert all(abs(s - 1.0) < 1e-3 for s in per.values())
