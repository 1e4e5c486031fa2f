"""Round-9 queries and operators: semantic contracts beyond generic
oracle parity -- exact cross-multiplied price-change detection,
supplier-concentration invariants, seasonal-naive backtest pairing,
confusion-matrix accounting, and dedup group-size conservation."""

import datetime as dt

import pyspark.sql.functions as F
from hypothesis import given, settings
from hypothesis import strategies as st

from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark import (
    queries as Q,
)
from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.plans import (
    fixtures,
)

from conftest import TESTDATA as SF


def test_price_change_events_matches_python_model(spark):
    """Planted per-part price sequences (rational unit prices compared
    via cross-multiplication, never division) reproduce an exact
    Python model's change/up/down counts."""
    rows = [
        # (part, cents, qty, day, orderkey, linenumber)
        # part 1: 100/1 -> 300/2 (up) -> 150/1 (=300/2, no change)
        #         -> 100/1 (down)  => 2 changes, 1 up, 1 down
        (1, 100, 1, 1, 10, 1),
        (1, 300, 2, 2, 11, 1),
        (1, 150, 1, 3, 12, 1),
        (1, 100, 1, 4, 13, 1),
        # part 2: constant rational price 250/1, 500/2 => 0 changes
        (2, 250, 1, 1, 20, 1),
        (2, 500, 2, 2, 21, 1),
    ]
    df = spark.createDataFrame(
        [
            (
                p,
                float(c) / 100.0,
                q,
                dt.date(1995, 1, d),
                ok,
                ln,
            )
            for p, c, q, d, ok, ln in rows
        ],
        "l_partkey long, l_extendedprice double, l_quantity long, "
        "l_shipdate date, l_orderkey long, l_linenumber long",
    )
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        df.write.parquet(os.path.join(td, "lineitem.parquet"))
        for aux in ["part", "orders"]:
            fixtures.load(spark, SF, aux).limit(0).write.parquet(
                os.path.join(td, f"{aux}.parquet")
            )
        got = {
            r.partkey: (r.n_changes, r.n_up, r.n_down)
            for r in Q.q_price_change_events(spark, td).collect()
        }
    assert got[1] == (2, 1, 1)
    assert got[2] == (0, 0, 0)


@given(
    seqs=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=500),
            st.integers(min_value=1, max_value=9),
        ),
        min_size=2,
        max_size=12,
    )
)
@settings(max_examples=20, deadline=None)
def test_cross_multiply_change_model(seqs):
    """The cross-multiplication rule equals exact Fraction comparison
    for any (cents, qty) sequence -- the invariant the in-plan
    expression relies on."""
    from fractions import Fraction

    for (c0, q0), (c1, q1) in zip(seqs, seqs[1:]):
        assert (c1 * q0 != c0 * q1) == (
            Fraction(c1, q1) != Fraction(c0, q0)
        )
        assert (c1 * q0 > c0 * q1) == (Fraction(c1, q1) > Fraction(c0, q0))


def test_single_source_risk_invariants(spark):
    """Every reported part has >= 2 suppliers, the share is in
    (0, 1], and the top supplier really holds the max per-supplier
    revenue (re-derived independently)."""
    out = Q.q_single_source_risk(spark, SF).collect()
    assert 0 < len(out) <= 50
    li = fixtures.load(spark, SF, "lineitem").select(
        F.col("l_partkey").alias("part"),
        F.col("l_suppkey").alias("supp"),
        F.round(F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    ps = {
        (r.part, r.supp): r.rev
        for r in li.groupBy("part", "supp")
        .agg(F.sum("cents").alias("rev"))
        .collect()
    }
    for r in out:
        supps = {s: v for (p, s), v in ps.items() if p == r.partkey}
        assert r.n_suppliers == len(supps) >= 2
        assert 0.0 < r.top_share <= 1.0
        assert supps[r.top_supplier] == max(supps.values())


def test_seasonal_naive_backtest_only_scores_paired_months(spark):
    """Holdout months without a year-earlier observation are excluded;
    MAE is non-negative and |bias| <= MAE for every brand."""
    out = Q.q_seasonal_naive_backtest(spark, SF).collect()
    assert out
    for r in out:
        assert r.n_months >= 1
        assert r.mae >= 0.0
        assert abs(r.mean_bias) <= r.mae + 1e-9


def test_langid_confusion_row_shares_sum_to_one(spark):
    """Each labeled language's cell shares sum to ~1 and cell counts
    total the corpus size."""
    out = Q.q_langid_confusion(spark, SF).collect()
    n_docs = fixtures.load(spark, SF, "documents").count()
    assert sum(r.n for r in out) == n_docs
    by_lang = {}
    for r in out:
        by_lang.setdefault(r.lang, 0.0)
        by_lang[r.lang] += r.row_share
    for lang, s in by_lang.items():
        assert abs(s - 1.0) < 1e-4, (lang, s)


def test_dedup_group_sizes_conserves_docs_and_groups(spark):
    """The histogram's doc and group totals equal the resolved groups
    frame it summarizes; every group has >= 2 members (pairs build
    it)."""
    hist = Q.q_dedup_group_sizes(spark, SF).collect()
    groups = Q.q_dedup_groups(spark, SF).collect()
    assert sum(r.n_docs for r in hist) == len(groups)
    assert sum(r.n_groups for r in hist) == len(
        {g.canonical_id for g in groups}
    )
    assert all(r.group_size >= 2 for r in hist)
    for r in hist:
        assert r.n_docs == r.group_size * r.n_groups


def test_rfm_segments_accounting(spark):
    """Cell counts conserve the customer universe and each score
    dimension's marginal is a valid NTILE partition (sizes differ by
    at most 1 across the five buckets)."""
    out = Q.q_rfm_segments(spark, SF).collect()
    n_cust = (
        fixtures.load(spark, SF, "orders")
        .select("o_custkey")
        .distinct()
        .count()
    )
    assert sum(r.n_customers for r in out) == n_cust
    for dim in ("r_score", "f_score", "m_score"):
        marg = {}
        for r in out:
            marg[r[dim]] = marg.get(r[dim], 0) + r.n_customers
        assert set(marg) == {1, 2, 3, 4, 5}
        assert max(marg.values()) - min(marg.values()) <= 1


def test_lorenz_curve_is_monotone_and_complete(spark):
    """Deciles 1..10 all present; cumulative share is nondecreasing,
    ends at 1.0, and each decile's share is <= any later decile's
    (orders were ranked ascending)."""
    out = sorted(Q.q_lorenz_curve(spark, SF).collect(), key=lambda r: r.decile)
    assert [r.decile for r in out] == list(range(1, 11))
    assert abs(out[-1].cum_share - 1.0) < 1e-6
    for a, b in zip(out, out[1:]):
        assert b.cum_share >= a.cum_share - 1e-9
        assert b.decile_share >= a.decile_share - 1e-6


def test_price_volume_bridge_effects_sum_to_delta(spark):
    """The Laspeyres identity: volume_effect + price_effect == delta
    (exact by construction up to the two 4dp roundings)."""
    out = Q.q_price_volume_bridge(spark, SF).collect()
    assert out
    for r in out:
        assert abs((r.volume_effect + r.price_effect) - r.delta) < 2e-4
        assert abs((r.rev_1996 - r.rev_1995) - r.delta) < 1e-6


def test_revenue_recognition_conserves_order_totals(spark):
    """Largest-remainder spreading is conservative: the schedule's
    grand total equals the exact sum of order totals (orders with at
    least one line), to the cent."""
    out = Q.q_revenue_recognition(spark, SF).collect()
    got_cents = round(sum(r.recognized for r in out) * 100)
    li = fixtures.load(spark, SF, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey")
    ).distinct()
    want = (
        fixtures.load(spark, SF, "orders")
        .join(li, "o_orderkey")
        .agg(
            F.sum(
                F.round(F.col("o_totalprice").cast("decimal(18,2)") * 100)
                .cast("long")
            ).alias("c")
        )
        .collect()[0]
        .c
    )
    assert got_cents == want


@given(
    weeks=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=200),
            st.integers(min_value=1, max_value=100),
        ),
        min_size=1,
        max_size=20,
        unique_by=lambda t: t[0],
    )
)
@settings(max_examples=40, deadline=None)
def test_intermittency_rule_matches_fraction_model(weeks):
    """The exact integer cross-multiplications equal the Fraction-exact
    Syntetos-Boylan rule (ADI >= 1.32, CV^2 >= 0.49)."""
    from fractions import Fraction

    n = len(weeks)
    ws = sorted(w for w, _ in weeks)
    qs = [q for _, q in weeks]
    sq, sq2 = sum(qs), sum(q * q for q in qs)
    span = ws[-1] - ws[0]
    if n == 1:
        want = "single"
    else:
        adi = Fraction(span, n - 1) >= Fraction(132, 100)
        cv2 = Fraction(n * sq2 - sq * sq, sq * sq) >= Fraction(49, 100)
        want = (
            "lumpy"
            if adi and cv2
            else "intermittent"
            if adi
            else "erratic"
            if cv2
            else "smooth"
        )
    # integer rule, as in the plan and the oracle
    if n == 1:
        got = "single"
    else:
        adi_i = span * 100 >= 132 * (n - 1)
        cv2_i = (n * sq2 - sq * sq) * 100 >= 49 * sq * sq
        got = (
            "lumpy"
            if adi_i and cv2_i
            else "intermittent"
            if adi_i
            else "erratic"
            if cv2_i
            else "smooth"
        )
    assert got == want


def test_intermittency_planted_all_classes(spark):
    """A planted frame hits every category: single, smooth (steady
    weekly equal demand), intermittent (sparse equal), erratic (dense
    variable), lumpy (sparse variable)."""
    rows = []

    def add(part, week, qty):
        rows.append((part, dt.date(1995, 1, 1) + dt.timedelta(weeks=week), qty))

    add(1, 0, 5)  # single
    for w in range(10):  # smooth: every week, constant size
        add(2, w, 7)
    for w in range(0, 40, 4):  # intermittent: every 4 weeks, constant
        add(3, w, 7)
    for w, q in zip(range(10), [1, 50, 1, 60, 1, 70, 1, 80, 1, 90]):
        add(4, w, q)  # erratic: dense, wildly variable
    for w, q in zip(range(0, 40, 4), [1, 50, 1, 60, 1, 70, 1, 80, 1, 90]):
        add(5, w, q)  # lumpy: sparse AND variable
    df = spark.createDataFrame(
        rows, "l_partkey long, l_shipdate date, l_quantity long"
    )
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        df.write.parquet(os.path.join(td, "lineitem.parquet"))
        got = {
            r.category: r.n_skus
            for r in Q.q_demand_intermittency(spark, td).collect()
        }
    assert got == {
        "single": 1,
        "smooth": 1,
        "intermittent": 1,
        "erratic": 1,
        "lumpy": 1,
    }


def test_brand_spearman_planted_monotone_and_ties(spark):
    """Perfectly monotone pairs give rho=1, perfectly inverse give
    rho=-1, and a tied case matches the exact Fraction model of
    average-rank Spearman."""
    import os
    import tempfile
    from fractions import Fraction

    # brand A: price strictly increasing with qty (rho=1)
    # brand B: price strictly decreasing with qty (rho=-1)
    # brand C: ties in qty (two lines share qty=2)
    rows, pk = [], []
    data = {
        1: [(1, 10.0), (2, 20.0), (3, 30.0), (4, 40.0)],
        2: [(1, 40.0), (2, 30.0), (3, 20.0), (4, 10.0)],
        3: [(1, 10.0), (2, 30.0), (2, 20.0), (5, 40.0)],
    }
    for part, lines in data.items():
        pk.append((part, f"Brand#{part}"))
        for i, (q, p) in enumerate(lines):
            rows.append((100 * part + i, i + 1, part, q, p))
    li = spark.createDataFrame(
        rows,
        "l_orderkey long, l_linenumber long, l_partkey long, "
        "l_quantity long, l_extendedprice double",
    )
    pt = spark.createDataFrame(pk, "p_partkey long, p_brand string")
    with tempfile.TemporaryDirectory() as td:
        li.write.parquet(os.path.join(td, "lineitem.parquet"))
        pt.write.parquet(os.path.join(td, "part.parquet"))
        got = {r.brand: r.rho for r in Q.q_brand_spearman(spark, td).collect()}
    assert got["Brand#1"] == 1.0
    assert got["Brand#2"] == -1.0

    # python model for brand C with average ranks
    def avg_ranks(vals):
        out = []
        for v in vals:
            below = sum(1 for x in vals if x < v)
            ties = sum(1 for x in vals if x == v)
            out.append(Fraction(2 * below + ties + 1, 2))
        return out

    qs = [1, 2, 2, 5]
    ps = [1000, 3000, 2000, 4000]
    rx, ry = avg_ranks(qs), avg_ranks(ps)
    n = len(qs)
    sx, sy = sum(rx), sum(ry)
    sxx = sum(r * r for r in rx)
    syy = sum(r * r for r in ry)
    sxy = sum(a * b for a, b in zip(rx, ry))
    num = n * sxy - sx * sy
    import math

    want = float(num) / math.sqrt(
        float(n * sxx - sx * sx) * float(n * syy - sy * sy)
    )
    assert abs(got["Brand#3"] - round(want, 6)) < 2e-6


def test_token_burstiness_planted_signal(spark):
    """A token concentrated in one doc is burstier than one spread
    evenly at the same total count."""
    import os
    import tempfile

    docs = []
    # 10 docs; 'bursty' appears 10 times in doc 0 only; 'flat' once per doc
    for i in range(10):
        text = "flat " + ("bursty " * 10 if i == 0 else "pad ")
        docs.append((i, text.strip(), "en", "s", len(text)))
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as td:
        df.write.parquet(os.path.join(td, "documents.parquet"))
        out = {
            r.token: r.vmr
            for r in Q.q_token_burstiness(spark, td).collect()
        }
    # 'bursty' has df=1 < 5 so it is filtered; 'flat' df=10 qualifies
    assert "flat" in out and out["flat"] == 0.0  # perfectly even => VMR 0
    assert "bursty" not in out  # df floor keeps rare-but-concentrated out
    assert "pad" in out and out["pad"] > 0.0  # absent from doc 0 => bursty


def test_kwic_windows_at_document_edges(spark):
    """Occurrences at position 1 and at the last token get correctly
    truncated (possibly empty) context windows."""
    import os
    import tempfile

    df = spark.createDataFrame(
        [(0, "the a b c the", "en", "s", 13)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    with tempfile.TemporaryDirectory() as td:
        df.write.parquet(os.path.join(td, "documents.parquet"))
        out = sorted(
            Q.q_kwic_concordance(spark, td).collect(),
            key=lambda r: r.position,
        )
    assert [(r.position, r.left_ctx, r.right_ctx) for r in out] == [
        (1, "", "a b c"),
        (5, "a b c", ""),
    ]


def test_brand_transitions_shares_and_conservation(spark):
    """Row shares sum to 1 per from_brand, and total transitions equal
    (orders - customers-with-orders) on the representative sequence."""
    out = Q.q_brand_transitions(spark, SF).collect()
    by_from = {}
    for r in out:
        by_from.setdefault(r.from_brand, [0, 0.0])
        by_from[r.from_brand][0] += r.n
        by_from[r.from_brand][1] += r.row_share
    for fb, (n, s) in by_from.items():
        assert abs(s - 1.0) < 1e-3, (fb, s)
    orders = fixtures.load(spark, SF, "orders")
    li = fixtures.load(spark, SF, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey")
    ).distinct()
    with_lines = orders.join(li, "o_orderkey")
    n_orders = with_lines.count()
    n_cust = with_lines.select("o_custkey").distinct().count()
    assert sum(r.n for r in out) == n_orders - n_cust


def test_snapshot_diff_classes_are_consistent(spark):
    """Class counts reconcile with the two snapshots' key sets: |v1
    keys| = removed + changed + unchanged, |v2 keys| = added +
    changed + unchanged."""
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.plans.fixtures import (  # noqa: E501
        ensure_versioned_fixture,
    )
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.sources.versioned import (  # noqa: E501
        read_versioned,
    )

    path = ensure_versioned_fixture()
    k1 = read_versioned(spark, path, version=1).select("sku").distinct().count()
    k2 = read_versioned(spark, path, version=2).select("sku").distinct().count()
    got = {r.change_type: r.n_skus for r in Q.q_snapshot_diff(spark, SF).collect()}
    assert k1 == got.get("removed", 0) + got.get("changed", 0) + got.get(
        "unchanged", 0
    )
    assert k2 == got.get("added", 0) + got.get("changed", 0) + got.get(
        "unchanged", 0
    )


@given(
    stream=st.lists(
        st.integers(min_value=0, max_value=30), min_size=1, max_size=400
    ),
    k=st.integers(min_value=2, max_value=10),
)
@settings(max_examples=40, deadline=None)
def test_misra_gries_merge_rule_is_complete(stream, k):
    """The mergeable MG rule (combine counts, subtract the k-th
    largest, keep positives) never evicts an item whose true count
    exceeds N/k -- the completeness theorem the two-pass heavy-hitter
    operator rests on, checked per merge batch size."""
    from collections import Counter

    for batch_size in (7, len(stream)):
        counters = {}
        for start in range(0, len(stream), batch_size):
            batch = Counter(stream[start : start + batch_size])
            for key, c in batch.items():
                counters[key] = counters.get(key, 0) + c
            if len(counters) > k - 1:
                cut = sorted(counters.values(), reverse=True)[k - 1]
                counters = {
                    key: c - cut for key, c in counters.items() if c > cut
                }
        true = Counter(stream)
        n = len(stream)
        for key, c in true.items():
            if c * k > n:
                assert key in counters, (key, c, n, k, counters)


def test_heavy_hitters_equals_exact_group_by(spark):
    """The sketch-pruned operator returns exactly the plain
    GROUP BY / HAVING answer on the corpus (completeness by theorem,
    precision by the exact re-count)."""
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.functions.text import (  # noqa: E501
        tokens,
    )
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.sketch import (  # noqa: E501
        heavy_hitters,
    )

    docs = fixtures.load(spark, SF, "documents")
    ex = docs.select(F.explode(tokens("text")).alias("token"))
    n = ex.count()
    k = 200
    want = {
        (r.token, r.c)
        for r in ex.groupBy("token")
        .agg(F.count("*").cast("long").alias("c"))
        .where(F.col("c") * k > n)
        .collect()
    }
    got = {
        (r.key, r.n_occurrences)
        for r in heavy_hitters(ex, "token", k=k).collect()
    }
    assert got == want and len(got) > 0


def test_mmr_is_deterministic_and_suppresses_redundancy(spark):
    """Two runs agree row-for-row; on a planted pool where the two
    most relevant vectors (after the query itself) are near-identical,
    plain top-k keeps both but MMR keeps one and promotes a diverse
    vector."""
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.similarity import (  # noqa: E501
        brute_force_topk,
        mmr_topk_exact,
    )

    # the query is vector 9; it ranks first (rel 1.0) and then counts
    # as selected, so a later pick x pays 0.3 * max(rel(x), sim to
    # the other picks): a diverse vector scores 0.4 * rel, a near-dup
    # of pick 0 scores ~0.7 * rel - 0.3
    rows = [
        (9, [1.0, 0.0, 0.0, 0.0]),        # the query
        (0, [0.95, 0.3122, 0.0, 0.0]),    # most relevant
        (1, [0.949, 0.3152, 0.0, 0.0]),   # near-duplicate of 0
        (2, [0.93, -0.3676, 0.0, 0.0]),   # relevant, diverse from 0
        (3, [0.5, 0.0, 0.866, 0.0]),      # less relevant, diverse
        (4, [0.0, 1.0, 0.0, 0.0]),        # orthogonal to the query
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = [1.0, 0.0, 0.0, 0.0]
    plain = [r.vec_id for r in brute_force_topk(emb, q, k=3).collect()]
    assert plain == [9, 0, 1]  # redundancy in the relevance-only list
    out1 = mmr_topk_exact(emb, k=3, pool=5, query_id=9).collect()
    out2 = mmr_topk_exact(emb, k=3, pool=5, query_id=9).collect()
    assert out1 == out2
    picked = [r.vec_id for r in out1]
    assert picked == [9, 0, 2]  # the near-duplicate is suppressed
    # ranks are 1..k and mmr_score never exceeds lambda * rel
    for r in out1:
        assert r.mmr_score <= 0.7 * r.rel + 1e-9
    assert [r.rank for r in out1] == [1, 2, 3]


def test_mmr_queries_entry_contract(spark):
    """The queries() entry (oracle-paired exact-arithmetic twin since
    r13) returns k deterministic rows on the fixture, self-match
    first at rel 1.0, mmr bounded by lambda * rel."""
    rows = Q.q_mmr_diverse_topk(spark, SF).collect()
    assert len(rows) == 10
    assert rows == Q.q_mmr_diverse_topk(spark, SF).collect()
    assert rows[0].vec_id == 0 and rows[0].rel == 1.0
    assert [r.rank for r in rows] == list(range(1, 11))
    for r in rows:
        assert r.mmr_score <= 0.7 * r.rel + 1e-9


def test_inventory_aging_conserves_unconsumed_stock(spark):
    """Sum of remaining across buckets equals sum over skus of
    max(0, receipts - issues), re-derived independently."""
    out = Q.q_inventory_aging(spark, SF).collect()
    li = fixtures.load(spark, SF, "lineitem").select(
        F.col("l_partkey").alias("sku"),
        F.col("l_quantity").cast("long").alias("qty"),
        (F.col("l_orderkey") % 2 == 0).alias("is_r"),
    )
    per_sku = li.groupBy("sku").agg(
        F.sum(F.when(F.col("is_r"), F.col("qty")).otherwise(0)).alias("r"),
        F.sum(F.when(~F.col("is_r"), F.col("qty")).otherwise(0)).alias("i"),
    )
    want = (
        per_sku.select(
            F.greatest(F.lit(0), F.col("r") - F.col("i")).alias("rem")
        )
        .agg(F.sum("rem"))
        .collect()[0][0]
    )
    assert sum(r.remaining_qty for r in out) == want
    assert all(r.age_bucket >= 0 for r in out)


def test_inventory_aging_planted_fifo_semantics(spark):
    """Oldest layers are consumed first: with receipts of 10 (old) and
    10 (new) against 12 issued, the old layer holds 0 and the new one
    8 -- and the 8 sits in the NEW layer's age bucket."""
    import os
    import tempfile

    rows = [
        # sku 1: receipts okey=2 (old, day 1), okey=4 (new, day 200)
        (1, 10, dt.date(1995, 1, 1), 2, 1),
        (1, 10, dt.date(1995, 7, 20), 4, 1),
        # issues okey=3: 12 units
        (1, 12, dt.date(1995, 8, 1), 3, 1),
    ]
    df = spark.createDataFrame(
        rows,
        "l_partkey long, l_quantity long, l_shipdate date, "
        "l_orderkey long, l_linenumber long",
    )
    with tempfile.TemporaryDirectory() as td:
        df.write.parquet(os.path.join(td, "lineitem.parquet"))
        out = Q.q_inventory_aging(spark, td).collect()
    # max date = 1995-08-01; new layer (07-20) age 12 days -> bucket 0
    assert [(r.age_bucket, r.n_layers, r.remaining_qty) for r in out] == [
        (0, 1, 8)
    ]


def test_brand_price_mad_is_robust_to_one_outlier(spark):
    """Planted prices: median and MAD hit the hand-computed values and
    moving one point to an extreme leaves both unchanged."""
    import os
    import tempfile

    def run(prices):
        rows = [
            (i, 1, 1, q, p)
            for i, (q, p) in enumerate((1, p) for p in prices)
        ]
        li = spark.createDataFrame(
            rows,
            "l_orderkey long, l_linenumber long, l_partkey long, "
            "l_quantity long, l_extendedprice double",
        )
        pt = spark.createDataFrame(
            [(1, "Brand#1")], "p_partkey long, p_brand string"
        )
        with tempfile.TemporaryDirectory() as td:
            li.write.parquet(os.path.join(td, "lineitem.parquet"))
            pt.write.parquet(os.path.join(td, "part.parquet"))
            r = Q.q_brand_price_mad(spark, td).collect()[0]
        return r.median_price, r.mad

    # prices 10,20,30,40,50: lower median 30; |dev| = 20,10,0,10,20 -> MAD 10
    assert run([10.0, 20.0, 30.0, 40.0, 50.0]) == (30.0, 10.0)
    # replace 50 with 5000: median and MAD unchanged (robustness)
    assert run([10.0, 20.0, 30.0, 40.0, 5000.0]) == (30.0, 10.0)


def test_post_return_activity_conserves_orders(spark):
    """before + after totals equal the full order count of
    ever-returned customers."""
    out = Q.q_post_return_activity(spark, SF).collect()
    li = fixtures.load(spark, SF, "lineitem")
    orders = fixtures.load(spark, SF, "orders")
    ret_cust = (
        li.where(F.col("l_returnflag") == "R")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .select("o_custkey")
        .distinct()
    )
    want = orders.join(ret_cust, "o_custkey").count()
    got = sum(
        round((r.avg_orders_before + r.avg_orders_after) * r.n_customers)
        for r in out
    )
    assert got == want


def test_supplier_on_time_rate_shares_are_probabilities(spark):
    """Shares live in [0,1]; per-supplier line counts total the join
    cardinality; the inverted share is nonzero somewhere (the known
    generator quirk is VISIBLE, not filtered)."""
    out = Q.q_supplier_on_time_rate(spark, SF).collect()
    li = fixtures.load(spark, SF, "lineitem")
    orders = fixtures.load(spark, SF, "orders")
    want = li.join(orders, li.l_orderkey == orders.o_orderkey).count()
    assert sum(r.n_lines for r in out) == want
    for r in out:
        assert 0.0 <= r.on_time_share <= 1.0
        assert 0.0 <= r.inverted_share <= 1.0
    assert any(r.inverted_share > 0 for r in out)


def test_template_prefix_groups_planted_template(spark):
    """Docs sharing their first five tokens group together across
    sources; unique prefixes are excluded."""
    import os
    import tempfile

    docs = [
        (0, "dear valued customer your order a b", "en", "s1", 30),
        (1, "dear valued customer your order c d", "en", "s2", 30),
        (2, "dear valued customer your order e", "en", "s1", 28),
        (3, "completely different text in this one", "en", "s1", 30),
    ]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as td:
        df.write.parquet(os.path.join(td, "documents.parquet"))
        out = Q.q_template_prefix_groups(spark, td).collect()
    assert len(out) == 1
    r = out[0]
    assert r.prefix == "dear valued customer your order"
    assert (r.n_docs, r.n_sources, r.example_doc) == (3, 2, 0)


def test_order_fill_status_conserves_orders_and_lines(spark):
    """The (priority, status) grid partitions the ordered population:
    order counts sum to the distinct orders with lines, line counts to
    the lineitem row count, and 1-line orders can never be 'mixed'."""
    out = Q.q_order_fill_status(spark, SF).collect()
    assert out
    li = fixtures.load(spark, SF, "lineitem")
    n_lines = li.count()
    n_orders = li.select("l_orderkey").distinct().count()
    assert sum(r.n_orders for r in out) == n_orders
    assert sum(r.n_lines for r in out) == n_lines
    assert {r.status for r in out} <= {"all_on_time", "all_late", "mixed"}
    for r in out:
        if r.status == "mixed":
            assert r.n_lines >= 2 * r.n_orders  # mixed needs >= 2 lines


def test_ship_hazard_lifetable_telescopes(spark):
    """Life-table identities: the first at-risk count equals the total
    event mass, at_risk(next) = at_risk(d) - events(d) across gaps,
    every hazard lies in (0, 1], and the last interval's hazard is
    exactly 1 (everyone still at risk ships)."""
    rows = Q.q_ship_hazard(spark, SF).collect()
    assert rows == sorted(rows, key=lambda r: r.latency_days)
    total = sum(r.n_events for r in rows)
    assert rows[0].n_at_risk == total
    for prev, cur in zip(rows, rows[1:]):
        assert cur.n_at_risk == prev.n_at_risk - prev.n_events
    for r in rows:
        assert 0.0 < r.hazard <= 1.0
        # not python round(): Spark ROUND is half-up, python half-even
        # (1/128 = .0078125 really does hit the half case here)
        from decimal import ROUND_HALF_UP, Decimal

        want = float(
            Decimal(r.n_events / r.n_at_risk).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )
        assert r.hazard == want
    assert rows[-1].n_at_risk == rows[-1].n_events


def test_brand_price_slope_matches_python_ols(spark):
    """The closed-form OLS slope over exact integer sufficient stats
    reproduces a pure-Python recompute from the same rows."""
    import datetime as _dt

    out = {r.brand: r for r in Q.q_brand_price_slope(spark, SF).collect()}
    li = fixtures.load(spark, SF, "lineitem").select(
        "l_partkey",
        F.col("l_shipdate").cast("date").alias("d"),
        F.round(F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("y"),
    )
    part = fixtures.load(spark, SF, "part").select("p_partkey", "p_brand")
    rows = li.join(part, li.l_partkey == part.p_partkey).collect()
    epoch = _dt.date(1992, 1, 1)
    stats: dict[str, list[int]] = {}
    for r in rows:
        x = (r.d - epoch).days
        n, sx, sy, sxy, sxx = stats.setdefault(r.p_brand, [0, 0, 0, 0, 0])
        stats[r.p_brand] = [n + 1, sx + x, sy + r.y, sxy + x * r.y, sxx + x * x]
    assert set(stats) == set(out)
    for b, (n, sx, sy, sxy, sxx) in stats.items():
        slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        assert out[b].n_lines == n
        assert abs(out[b].slope_cents_per_day - slope) < 1e-6
        assert abs(out[b].avg_cents - sy / n) < 1e-6


def test_readability_planted_counts(spark):
    """Planted documents with hand-counted characters, words, and
    sentence runs reproduce exact counts and the ARI formula."""
    import os
    import tempfile

    docs = [
        # "Hi there. Bye!" -> chars(alnum)=10, words=3, sentences=2
        (1, "Hi there. Bye!", "en", "src_a", 14),
        # no terminator -> sentences clamps to 1; chars=7, words=2
        (2, "no stops", "en", "src_a", 8),
        # "One!? Two.." -> runs '!?' and '..' -> 2 sentences, words=2,
        # chars=6
        (3, "One!? Two..", "en", "src_b", 11),
    ]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as td:
        df.write.parquet(os.path.join(td, "documents.parquet"))
        out = {r.source: r for r in Q.q_readability_scores(spark, td).collect()}
    a, b = out["src_a"], out["src_b"]
    assert (a.n_docs, a.n_chars, a.n_words, a.n_sentences) == (2, 17, 5, 3)
    assert (b.n_docs, b.n_chars, b.n_words, b.n_sentences) == (1, 6, 2, 2)
    for r in (a, b):
        ari = (
            4.71 * (r.n_chars / r.n_words)
            + 0.5 * (r.n_words / r.n_sentences)
            - 21.43
        )
        assert abs(r.ari - ari) < 1e-6


def test_eoq_formula_and_topk_selection(spark):
    """The 50 reported parts are exactly the python top-50 by (demand
    desc, partkey), eoq matches the Wilson formula, and implied_orders
    * eoq reconstructs demand."""
    out = Q.q_eoq_recommendation(spark, SF).collect()
    li = fixtures.load(spark, SF, "lineitem").select(
        "l_partkey", F.col("l_quantity").cast("long").alias("q"), "l_orderkey"
    )
    demand: dict[int, int] = {}
    orders: dict[int, set] = {}
    for r in li.collect():
        demand[r.l_partkey] = demand.get(r.l_partkey, 0) + r.q
        orders.setdefault(r.l_partkey, set()).add(r.l_orderkey)
    want = sorted(demand, key=lambda p: (-demand[p], p))[:50]
    assert [r.part for r in out] == want
    h = {
        r.p_partkey: round(r.p_retailprice * 20)
        for r in fixtures.load(spark, SF, "part")
        .select("p_partkey", "p_retailprice")
        .collect()
    }
    import math

    for r in out:
        assert r.demand == demand[r.part]
        assert r.n_orders == len(orders[r.part])
        eoq = math.sqrt(2 * r.demand * 10000 / h[r.part])
        assert abs(r.eoq - eoq) < 1e-6
        assert abs(r.implied_orders * r.eoq - r.demand) < 0.02 * r.demand


def test_order_batching_partitions_all_orders(spark):
    """Histogram buckets partition the order population; the k=1
    bucket has exactly one order per customer-week."""
    out = Q.q_order_batching(spark, SF).collect()
    n_orders = fixtures.load(spark, SF, "orders").count()
    assert sum(r.n_orders for r in out) == n_orders
    for r in out:
        assert r.n_orders == r.orders_per_week * r.n_customer_weeks


def test_brand_price_ladder_matches_python_model(spark):
    """Ladder stats reproduce a python recompute over the distinct
    (brand, cents) points."""
    out = {r.brand: r for r in Q.q_brand_price_ladder(spark, SF).collect()}
    li = fixtures.load(spark, SF, "lineitem").select(
        "l_partkey",
        F.round(F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    part = fixtures.load(spark, SF, "part").select("p_partkey", "p_brand")
    pts: dict[str, set] = {}
    for r in li.join(part, li.l_partkey == part.p_partkey).collect():
        pts.setdefault(r.p_brand, set()).add(r.cents)
    assert set(pts) == set(out)
    for b, cents in pts.items():
        s = sorted(cents)
        assert out[b].n_points == len(s)
        assert out[b].lo == s[0] / 100.0
        assert out[b].hi == s[-1] / 100.0
        want_gap = max(b2 - a2 for a2, b2 in zip(s, s[1:])) / 100.0
        assert out[b].max_gap == want_gap


def test_monthly_return_rate_bounds_and_mass(spark):
    """Rates are probabilities and the monthly line counts sum to the
    fact row count."""
    out = Q.q_monthly_return_rate(spark, SF).collect()
    assert sum(r.n_lines for r in out) == fixtures.load(
        spark, SF, "lineitem"
    ).count()
    for r in out:
        assert 0.0 <= r.line_return_rate <= 1.0
        assert 0.0 <= r.qty_return_rate <= 1.0
        assert r.n_returned <= r.n_lines


def test_order_ship_span_accounting(spark):
    """Every ordered order lands in exactly one priority row; the
    over-60 share is consistent with its count."""
    out = Q.q_order_ship_span(spark, SF).collect()
    li = fixtures.load(spark, SF, "lineitem")
    assert sum(r.n_orders for r in out) == li.select(
        "l_orderkey"
    ).distinct().count()
    for r in out:
        assert 0 <= r.n_over_60 <= r.n_orders
        assert abs(r.share_over_60 - r.n_over_60 / r.n_orders) <= 5e-7
        assert r.avg_span_days >= 0.0


def test_char_trigram_profile_planted_text(spark):
    """A planted corpus with hand-counted trigrams reproduces exact
    counts, shares, and the top-10 per-language cut."""
    import os
    import tempfile

    docs = [
        # 'aaab': trigrams aaa, aab; 'xy' too short; 'a b!' has no
        # all-letter trigram ('a b' and ' b!' fail [a-z]{3})
        (1, "aaab", "xx", "s", 4),
        (2, "xy", "xx", "s", 2),
        (3, "a b!", "xx", "s", 4),
        (4, "AAAB", "yy", "s", 4),  # lowercased -> aaa, aab
    ]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as td:
        df.write.parquet(os.path.join(td, "documents.parquet"))
        rows = Q.q_char_trigram_profile(spark, td).collect()
    got = {(r.lang, r.trigram): (r.n, r.share) for r in rows}
    assert got == {
        ("xx", "aaa"): (1, 0.5),
        ("xx", "aab"): (1, 0.5),
        ("yy", "aaa"): (1, 0.5),
        ("yy", "aab"): (1, 0.5),
    }


def test_char_trigram_profile_topk_is_ranked(spark):
    """At the fixture SF: <= 10 rows per language, counts descending,
    shares bounded."""
    rows = Q.q_char_trigram_profile(spark, SF).collect()
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, rs in by_lang.items():
        assert len(rs) <= 10
        ns = [r.n for r in rs]
        assert ns == sorted(ns, reverse=True)
        assert abs(sum(r.share for r in rs)) <= 1.0 + 1e-9


def test_latency_by_year_delta_telescopes(spark):
    """First year's delta is NULL; every later delta equals the
    difference of adjacent yearly means; line counts conserve the
    non-inverted join population."""
    out = sorted(
        Q.q_latency_by_year(spark, SF).collect(), key=lambda r: r.order_year
    )
    assert out[0].delta_vs_prev is None
    for prev, cur in zip(out, out[1:]):
        if cur.order_year == prev.order_year + 1:
            assert cur.delta_vs_prev is not None
            assert (
                abs(
                    cur.delta_vs_prev
                    - (cur.avg_latency_days - prev.avg_latency_days)
                )
                < 2e-6
            )
    li = fixtures.load(spark, SF, "lineitem").select("l_orderkey", "l_shipdate")
    orders = fixtures.load(spark, SF, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    n = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .where(
            F.datediff(
                F.col("l_shipdate").cast("date"),
                F.col("o_orderdate").cast("date"),
            )
            >= 0
        )
        .count()
    )
    assert sum(r.n_lines for r in out) == n


def test_customer_quartile_migration_accounting(spark):
    """Cells partition the customer universe; labels are quartiles or
    '-'; nobody is absent from BOTH halves; present-half marginals are
    balanced NTILE partitions."""
    out = Q.q_customer_quartile_migration(spark, SF).collect()
    n_cust = (
        fixtures.load(spark, SF, "orders")
        .select("o_custkey")
        .distinct()
        .count()
    )
    assert sum(r.n_customers for r in out) == n_cust
    labels = {"1", "2", "3", "4", "-"}
    for r in out:
        assert r.from_q in labels and r.to_q in labels
        assert not (r.from_q == "-" and r.to_q == "-")
    for dim in ("from_q", "to_q"):
        marg: dict[str, int] = {}
        for r in out:
            lab = r[dim]
            if lab != "-":
                marg[lab] = marg.get(lab, 0) + r.n_customers
        assert set(marg) == {"1", "2", "3", "4"}
        assert max(marg.values()) - min(marg.values()) <= 1


def test_dormancy_by_segment_consistency(spark):
    """Shares agree with counts; LTV columns are present exactly when
    their class is populated; totals conserve the ordered-customer
    population."""
    out = Q.q_dormancy_by_segment(spark, SF).collect()
    n_cust = (
        fixtures.load(spark, SF, "orders")
        .select("o_custkey")
        .distinct()
        .count()
    )
    assert sum(r.n_customers for r in out) == n_cust
    for r in out:
        assert 0 <= r.n_dormant <= r.n_customers
        assert abs(r.dormant_share - r.n_dormant / r.n_customers) <= 5e-7
        assert (r.avg_dormant_ltv is not None) == (r.n_dormant > 0)
        assert (r.avg_active_ltv is not None) == (
            r.n_customers - r.n_dormant > 0
        )


def test_sentence_length_profile_shares(spark):
    """Shares sum to 1 over the histogram and every bucket is a
    positive token length."""
    out = Q.q_sentence_length_profile(spark, SF).collect()
    assert out
    assert abs(sum(r.share for r in out) - 1.0) < 1e-4
    tot = sum(r.n_sentences for r in out)
    for r in out:
        assert r.n_tokens >= 1
        assert abs(r.share - r.n_sentences / tot) <= 5e-7


def test_customer_value_cv_matches_python(spark):
    """Top-25 selection and the closed-form CV reproduce a pure-python
    recompute."""
    import math

    out = Q.q_customer_value_cv(spark, SF).collect()
    orders = fixtures.load(spark, SF, "orders").select(
        "o_custkey",
        F.round(F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    vals: dict[int, list[int]] = {}
    for r in orders.collect():
        vals.setdefault(r.o_custkey, []).append(r.cents)
    eligible = {c: v for c, v in vals.items() if len(v) >= 5}
    want = sorted(eligible, key=lambda c: (-len(eligible[c]), c))[:25]
    assert [r.custkey for r in out] == want
    for r in out:
        v = eligible[r.custkey]
        n, s, s2 = len(v), sum(v), sum(x * x for x in v)
        assert r.n_orders == n
        cv = math.sqrt(max(0.0, float(n) * float(s2) - float(s) * float(s))) / float(s)
        assert abs(r.cv - cv) < 1e-6
        assert abs(r.avg_order_value - s / (n * 100.0)) < 0.01


def test_chunk_dedup_stats_planted_boilerplate(spark):
    """Two docs sharing an identical 64-token paragraph (and otherwise
    unique text) must both show duplicated chunks; a fully unique doc
    must show none."""
    import os
    import tempfile

    boiler = " ".join(f"b{i}" for i in range(64))
    uniq_a = " ".join(f"a{i}" for i in range(64))
    uniq_b = " ".join(f"c{i}" for i in range(64))
    uniq_c = " ".join(f"d{i}" for i in range(64))
    docs = [
        (1, boiler + " " + uniq_a, "en", "src_x", 0),
        (2, boiler + " " + uniq_b, "en", "src_y", 0),
        (3, uniq_c, "en", "src_z", 0),
    ]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as td:
        df.write.parquet(os.path.join(td, "documents.parquet"))
        out = {r.source: r for r in Q.q_chunk_dedup_stats(spark, td).collect()}
    # chunk 0 of src_x and src_y is the shared boilerplate paragraph
    assert out["src_x"].n_chunks == 2 and out["src_x"].n_dup_chunks == 1
    assert out["src_y"].n_chunks == 2 and out["src_y"].n_dup_chunks == 1
    assert out["src_z"].n_dup_chunks == 0
    assert out["src_x"].dup_share == 0.5


def test_chunk_dedup_stats_fixture_consistency(spark):
    """At the fixture SF: per-source chunk counts conserve the corpus
    chunk population and dup shares are probabilities."""
    out = Q.q_chunk_dedup_stats(spark, SF).collect()
    assert out
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.functions.text import (  # noqa: E501
        token_count,
    )

    docs = fixtures.load(spark, SF, "documents")
    want_chunks = (
        docs.select(
            F.ceil(token_count("text") / 64.0).cast("long").alias("k")
        )
        .agg(F.sum("k"))
        .collect()[0][0]
    )
    assert sum(r.n_chunks for r in out) == want_chunks
    for r in out:
        assert 0.0 <= r.dup_share <= 1.0
        assert r.n_dup_chunks <= r.n_chunks


def test_neardup_source_matrix_conserves_pairs(spark):
    """Cell counts sum to the exact jaccard pair count; every cell is
    canonically ordered with max_jaccard >= the 0.5 threshold."""
    out = Q.q_neardup_source_matrix(spark, SF).collect()
    n_pairs = Q.q_jaccard_pairs(spark, SF).count()
    assert sum(r.n_pairs for r in out) == n_pairs > 0
    for r in out:
        assert r.source_a <= r.source_b
        assert r.max_jaccard >= 0.5


def test_part_size_mix_shares_telescope(spark):
    """Size shares each sum to 1 and line counts conserve the joined
    fact."""
    out = Q.q_part_size_mix(spark, SF).collect()
    assert abs(sum(r.qty_share for r in out) - 1.0) < 1e-4
    assert abs(sum(r.revenue_share for r in out) - 1.0) < 1e-4
    n = fixtures.load(spark, SF, "lineitem").count()
    assert sum(r.n_lines for r in out) == n


def test_event_dow_hour_matrix_bounds(spark):
    """Cells stay on the ISO grid, shares sum to 1, and the event mass
    is conserved."""
    out = Q.q_event_dow_hour_matrix(spark, SF).collect()
    n = fixtures.events(spark, SF).count()
    assert sum(r.n_events for r in out) == n
    assert abs(sum(r.share for r in out) - 1.0) < 1e-4
    for r in out:
        assert 1 <= r.dow <= 7 and 0 <= r.hour <= 23


def test_line_position_profile_structure(spark):
    """Positions are the dense 1..k prefix (the generator numbers lines
    consecutively) with monotonically shrinking populations."""
    out = sorted(
        Q.q_line_position_profile(spark, SF).collect(),
        key=lambda r: r.position,
    )
    assert [r.position for r in out] == list(range(1, len(out) + 1))
    # NOT monotone: the generator emits duplicate (orderkey, linenumber)
    # rows, so later positions can outnumber earlier ones -- only the
    # dense prefix and mass conservation are contracts
    assert sum(r.n_lines for r in out) == fixtures.load(
        spark, SF, "lineitem"
    ).count()


def test_embedding_dim_stats_matches_python(spark):
    """Quantized per-dimension mean/variance reproduce a numpy-free
    python recompute."""
    out = {r.dim: r for r in Q.q_embedding_dim_stats(spark, SF).collect()}
    rows = fixtures.load(spark, SF, "embeddings").collect()
    d = len(rows[0].embedding)
    assert set(out) == set(range(1, d + 1))
    for dim in (1, d // 2, d):
        qs = [round(float(r.embedding[dim - 1]) * 10000) for r in rows]
        n, s, s2 = len(qs), sum(qs), sum(q * q for q in qs)
        assert out[dim].n == n
        assert abs(out[dim].mean - s / (n * 10000.0)) < 1e-6
        var = (n * s2 - s * s) / (n * n * 1e8)
        assert abs(out[dim].variance - var) < 1e-6


def test_label_balance_accounting(spark):
    """Shares sum to 1 over labels; centroid norm never exceeds the
    mean vector norm (Jensen); counts conserve the table."""
    out = Q.q_label_balance(spark, SF).collect()
    emb = fixtures.load(spark, SF, "embeddings")
    assert sum(r.n_vectors for r in out) == emb.count()
    assert abs(sum(r.share for r in out) - 1.0) < 1e-4
    for r in out:
        assert r.centroid_sq_norm <= r.mean_sq_norm + 1e-9


def test_nearest_centroid_confusion_is_a_partition(spark):
    """Every vector lands in exactly one cell; row shares sum to 1 per
    labeled class; the classifier beats chance on the clustered
    fixture (diagonal mass > 1/n_labels)."""
    out = Q.q_nearest_centroid_confusion(spark, SF).collect()
    emb = fixtures.load(spark, SF, "embeddings")
    assert sum(r.n for r in out) == emb.count()
    by_label: dict[int, float] = {}
    diag = 0
    for r in out:
        by_label[r.label] = by_label.get(r.label, 0.0) + r.row_share
        if r.label == r.assigned:
            diag += r.n
    for lab, s in by_label.items():
        assert abs(s - 1.0) < 1e-4, (lab, s)
    n_labels = len(by_label)
    assert diag / emb.count() > 1.0 / n_labels


def test_segment_priority_mix_rows_partition(spark):
    """Cell counts conserve the joined orders; per-segment shares sum
    to 1."""
    out = Q.q_segment_priority_mix(spark, SF).collect()
    n = fixtures.load(spark, SF, "orders").count()
    assert sum(r.n_orders for r in out) == n
    by_seg: dict[str, float] = {}
    for r in out:
        by_seg[r.segment] = by_seg.get(r.segment, 0.0) + r.share
    for seg, s in by_seg.items():
        assert abs(s - 1.0) < 1e-4, (seg, s)


def test_brand_seasonal_peak_is_argmax(spark):
    """The reported peak month really is each brand's max-quantity
    month (python recompute, month-asc tiebreak)."""
    out = {r.brand: r for r in Q.q_brand_seasonal_peak(spark, SF).collect()}
    li = fixtures.load(spark, SF, "lineitem").select(
        "l_partkey",
        F.month("l_shipdate").alias("m"),
        F.col("l_quantity").cast("long").alias("q"),
    )
    part = fixtures.load(spark, SF, "part").select("p_partkey", "p_brand")
    cells: dict[tuple, int] = {}
    for r in li.join(part, li.l_partkey == part.p_partkey).collect():
        cells[(r.p_brand, r.m)] = cells.get((r.p_brand, r.m), 0) + r.q
    for b, rec in out.items():
        months = {m: v for (bb, m), v in cells.items() if bb == b}
        best = sorted(months, key=lambda m: (-months[m], m))[0]
        assert rec.peak_month == best
        assert rec.peak_qty == months[best]
        assert abs(rec.peak_share - months[best] / sum(months.values())) <= 5e-7


def test_order_total_consistency_accounting(spark):
    """exact + mismatched partition every joined order; a planted
    mismatch shows up with its exact cent diff."""
    out = Q.q_order_total_consistency(spark, SF).collect()
    assert out
    for r in out:
        assert r.n_exact + r.n_mismatched == r.n_orders
        assert r.max_abs_diff >= 0.0
    import os
    import tempfile

    li = [(1, 100.0, 0.0, 0.0), (2, 100.0, 0.10, 0.05)]
    lidf = spark.createDataFrame(
        li,
        "l_orderkey long, l_extendedprice double, l_discount double, "
        "l_tax double",
    )
    od = [(1, dt.date(1995, 3, 1), 100.00), (2, dt.date(1995, 3, 1), 100.00)]
    odf = spark.createDataFrame(
        od, "o_orderkey long, o_orderdate date, o_totalprice double"
    )
    with tempfile.TemporaryDirectory() as td:
        lidf.write.parquet(os.path.join(td, "lineitem.parquet"))
        odf.write.parquet(os.path.join(td, "orders.parquet"))
        got = Q.q_order_total_consistency(spark, td).collect()
    (r,) = got
    # order 1 matches exactly; order 2 derived = 100*0.9*1.05 = 94.50
    assert (r.n_orders, r.n_exact, r.n_mismatched) == (2, 1, 1)
    assert r.max_abs_diff == 5.50


def test_weekly_zchart_identities(spark):
    """Cumulative telescopes exactly; the MAT equals the python
    52-week trailing sum at every observed week."""
    out = sorted(Q.q_weekly_zchart(spark, SF).collect(), key=lambda r: r.week)
    run = 0.0
    weekly = {r.week: r.revenue for r in out}
    for r in out:
        run = round(run + r.revenue, 2)
        assert abs(r.cum_revenue - run) < 0.02
        mat = round(
            sum(v for w, v in weekly.items() if r.week - 51 <= w <= r.week), 2
        )
        assert abs(r.mat_revenue - mat) < 0.02


def test_nation_segment_grid_partitions(spark):
    """Cells conserve the customer table (including order-less
    customers) and per-nation shares sum to 1."""
    out = Q.q_nation_segment_grid(spark, SF).collect()
    n_cust = fixtures.load(spark, SF, "customer").count()
    assert sum(r.n_customers for r in out) == n_cust
    n_orders = fixtures.load(spark, SF, "orders").count()
    assert sum(r.n_orders for r in out) == n_orders
    by_nation: dict[str, float] = {}
    for r in out:
        by_nation[r.nation] = by_nation.get(r.nation, 0.0) + r.segment_share
    for nat, s in by_nation.items():
        assert abs(s - 1.0) < 1e-4, (nat, s)


def test_type_discount_profile_bounds(spark):
    """Average discount points live on the generator's grid and the
    zero-share is a probability; line counts conserve the join."""
    out = Q.q_type_discount_profile(spark, SF).collect()
    assert sum(r.n_lines for r in out) == fixtures.load(
        spark, SF, "lineitem"
    ).count()
    for r in out:
        assert 0.0 <= r.avg_discount_pts <= 10.0
        assert 0.0 <= r.zero_discount_share <= 1.0


def test_token_length_histogram_mass(spark):
    """Token instances are conserved against an independent count and
    shares sum to 1."""
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.functions.text import (  # noqa: E501
        token_count,
    )

    out = Q.q_token_length_histogram(spark, SF).collect()
    want = (
        fixtures.load(spark, SF, "documents")
        .select(token_count("text").alias("k"))
        .agg(F.sum("k"))
        .collect()[0][0]
    )
    assert sum(r.n_tokens for r in out) == want
    assert abs(sum(r.share for r in out) - 1.0) < 1e-4
    assert all(r.len >= 1 for r in out)


def test_edit1_positional_filter_equals_naive_levenshtein(spark):
    """The r9 position-aware FastSS refinement (same-position deletion
    join + identity-vs-deletion join) finds EXACTLY the naive
    all-pairs distance<=1 set on a serial-number dictionary -- the
    hot-bucket shape the position split exists for."""
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.dedup import (  # noqa: E501
        edit1_neighbor_pairs,
    )

    names = [f"Customer#{i:06d}" for i in range(0, 300, 7)]
    names += ["Customer#00007", "Customer#0000777", "Xustomer#000077"]
    df = spark.createDataFrame([(n,) for n in names], "name string")
    got = {
        (r.name_a, r.name_b)
        for r in edit1_neighbor_pairs(df, "name").collect()
    }

    def lev(a: str, b: str) -> int:
        if len(a) > len(b):
            a, b = b, a
        prev = list(range(len(a) + 1))
        for j, cb in enumerate(b, 1):
            cur = [j]
            for i, ca in enumerate(a, 1):
                cur.append(
                    min(
                        prev[i] + 1,
                        cur[i - 1] + 1,
                        prev[i - 1] + (ca != cb),
                    )
                )
            prev = cur
        return prev[-1]

    want = {
        (a, b)
        for i, a in enumerate(sorted(set(names)))
        for b in sorted(set(names))[i + 1 :]
        if lev(a, b) <= 1
    }
    assert want, "fixture must contain true edit-1 pairs"
    assert got == want


def test_discount_cost_identity(spark):
    """given + kept telescopes to gross revenue and the giveback share
    is consistent with the two sums."""
    out = Q.q_discount_cost_by_year(spark, SF).collect()
    assert out
    for r in out:
        total = r.discount_cost + r.net_revenue
        assert total > 0
        want_pct = r.discount_cost * 100 / total
        assert abs(r.giveback_pct - want_pct) < 1e-3


def test_partname_word_prices_recompute(spark):
    """Top-25 selection and exact mean retail reproduce a python
    recompute over the exploded part names."""
    out = Q.q_partname_word_prices(spark, SF).collect()
    parts = fixtures.load(spark, SF, "part").select(
        "p_name",
        F.round(F.col("p_retailprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    ).collect()
    agg: dict[str, list[int]] = {}
    for r in parts:
        for w in r.p_name.split(" "):
            if w:
                n, s = agg.get(w, (0, 0))
                agg[w] = (n + 1, s + r.cents)
    want = sorted(agg, key=lambda w: (-agg[w][0], w))[:25]
    assert len(out) == min(25, len(agg))
    assert [r.word for r in out] == want
    for r in out:
        n, s = agg[r.word]
        assert r.n_parts == n
        assert abs(r.avg_retail - s / (n * 100.0)) < 0.01


def test_first_order_cohort_partitions_customers(spark):
    """Every ordering customer lands in exactly one first-priority
    cohort; cohort averages are consistent with totals."""
    out = Q.q_first_order_cohort(spark, SF).collect()
    n_cust = (
        fixtures.load(spark, SF, "orders")
        .select("o_custkey")
        .distinct()
        .count()
    )
    assert sum(r.n_customers for r in out) == n_cust
    n_orders = fixtures.load(spark, SF, "orders").count()
    assert (
        abs(sum(r.avg_orders * r.n_customers for r in out) - n_orders) < 1.0
    )


def test_qty_discount_curve_domain(spark):
    """The quantity domain is dense-ish and bounded; averages live on
    the generator's discount grid."""
    out = Q.q_qty_discount_curve(spark, SF).collect()
    assert sum(r.n_lines for r in out) == fixtures.load(
        spark, SF, "lineitem"
    ).count()
    for r in out:
        assert 1 <= r.qty <= 50
        assert 0.0 <= r.avg_discount_pts <= 10.0


def test_returns_vs_latency_mass(spark):
    """Bucket populations conserve the non-inverted join and rates are
    probabilities."""
    out = Q.q_returns_vs_latency(spark, SF).collect()
    li = fixtures.load(spark, SF, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    orders = fixtures.load(spark, SF, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    n = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .where(
            F.datediff(
                F.col("l_shipdate").cast("date"),
                F.col("o_orderdate").cast("date"),
            )
            >= 0
        )
        .count()
    )
    assert sum(r.n_lines for r in out) == n
    for r in out:
        assert 0.0 <= r.return_rate <= 1.0
        assert r.week_bucket >= 0


def test_acctbal_activity_bands_conserve(spark):
    """Bands partition the customer table and band keys floor toward
    -inf for negative balances."""
    out = Q.q_acctbal_activity_bands(spark, SF).collect()
    assert sum(r.n_customers for r in out) == fixtures.load(
        spark, SF, "customer"
    ).count()
    assert any(r.band < 0 for r in out)  # the generator plants debtors
    n_orders = fixtures.load(spark, SF, "orders").count()
    assert (
        abs(sum(r.avg_orders * r.n_customers for r in out) - n_orders) < 1.0
    )


def test_negative_balance_profile_bounds(spark):
    """Shares are probabilities and counts conserve the customer
    population."""
    out = Q.q_negative_balance_profile(spark, SF).collect()
    assert sum(r.n_customers for r in out) == fixtures.load(
        spark, SF, "customer"
    ).count()
    for r in out:
        assert 0 <= r.n_negative <= r.n_customers
        assert 0.0 <= r.negative_share <= 1.0
        assert 0.0 <= r.negative_revenue_share <= 1.0


def test_supplier_nation_load_shares(spark):
    """Revenue shares sum to 1 and line counts conserve the fact."""
    out = Q.q_supplier_nation_load(spark, SF).collect()
    assert abs(sum(r.revenue_share for r in out) - 1.0) < 1e-4
    assert sum(r.n_lines for r in out) == fixtures.load(
        spark, SF, "lineitem"
    ).count()


def test_month_end_push_recompute(spark):
    """The month-end flag reproduces a python calendar recompute."""
    import calendar

    out = {r.order_year: r for r in Q.q_month_end_push(spark, SF).collect()}
    orders = fixtures.load(spark, SF, "orders").select(
        F.col("o_orderdate").cast("date").alias("d")
    ).collect()
    per: dict[int, list[int]] = {}
    for r in orders:
        last = calendar.monthrange(r.d.year, r.d.month)[1]
        me = 1 if (last - r.d.day) <= 2 else 0
        n, m = per.get(r.d.year, (0, 0))
        per[r.d.year] = (n + 1, m + me)
    assert set(per) == set(out)
    for yr, (n, m) in per.items():
        assert out[yr].n_orders == n
        assert out[yr].n_month_end == m


def test_event_value_moments_matches_python(spark):
    """Quantized moments reproduce a python recompute with the same
    HALF_UP cents rule; NULL values are excluded from n."""
    from decimal import ROUND_HALF_UP, Decimal

    out = {r.event_type: r for r in Q.q_event_value_moments(spark, SF).collect()}
    ev = fixtures.events(spark, SF).select("event_type", "value").collect()
    agg: dict[str, list[int]] = {}
    for r in ev:
        if r.value is None:
            continue
        cents = int(
            Decimal(str(r.value))
            .quantize(Decimal("0.01"), rounding=ROUND_HALF_UP)
            .scaleb(2)
        )
        n, s, s2 = agg.get(r.event_type, (0, 0, 0))
        agg[r.event_type] = (n + 1, s + cents, s2 + cents * cents)
    assert set(agg) == set(out)
    for t, (n, s, s2) in agg.items():
        assert out[t].n == n
        assert abs(out[t].mean_value - s / (n * 100.0)) < 1e-6
        var = (n * s2 - s * s) / (n * n * 1e4)
        assert abs(out[t].variance - var) < 1e-6


def test_split_order_screen_accounting(spark):
    """Multi-group orders never exceed the year's orders; a python
    recount of same-day multi-order groups matches exactly."""
    out = {r.order_year: r for r in Q.q_split_order_screen(spark, SF).collect()}
    orders = fixtures.load(spark, SF, "orders").select(
        "o_custkey", F.col("o_orderdate").cast("date").alias("d")
    ).collect()
    per: dict[tuple, int] = {}
    for r in orders:
        k = (r.d.year, r.o_custkey, r.d)
        per[k] = per.get(k, 0) + 1
    multi_groups: dict[int, int] = {}
    multi_orders: dict[int, int] = {}
    for (yr, _c, _d), n in per.items():
        if n >= 2:
            multi_groups[yr] = multi_groups.get(yr, 0) + 1
            multi_orders[yr] = multi_orders.get(yr, 0) + n
    for yr, row in out.items():
        assert row.n_multi_groups == multi_groups.get(yr, 0)
        assert row.n_multi_orders == multi_orders.get(yr, 0)
        assert 0.0 <= row.multi_order_share <= 1.0
        assert 0.0 <= row.multi_revenue_share <= 1.0


def test_supplier_leadtime_cv_python_model(spark):
    """Mean and CV per supplier reproduce an exact python recompute
    over the non-inverted latencies."""
    import math

    out = {r.suppkey: r for r in Q.q_supplier_leadtime_cv(spark, SF).collect()}
    li = fixtures.load(spark, SF, "lineitem").select(
        "l_orderkey", "l_suppkey", F.col("l_shipdate").cast("date").alias("sd")
    )
    od = fixtures.load(spark, SF, "orders").select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("od")
    )
    rows = li.join(od, li.l_orderkey == od.o_orderkey).collect()
    agg: dict[int, list[int]] = {}
    for r in rows:
        d = (r.sd - r.od).days
        if d < 0:
            continue
        n, s, s2 = agg.get(r.l_suppkey, (0, 0, 0))
        agg[r.l_suppkey] = (n + 1, s + d, s2 + d * d)
    assert set(agg) == set(out)
    for k, (n, s, s2) in agg.items():
        assert out[k].n_lines == n
        assert abs(out[k].mean_latency - s / n) < 1e-6
        cv = math.sqrt(max(0.0, n * s2 - s * s)) / s
        assert abs(out[k].cv_latency - cv) < 1e-6


def test_tax_burden_rate_bounds_and_gross(spark):
    """Effective tax rate stays inside the generator's [0, 0.08] tax
    band and gross >= net everywhere; revenue telescopes to the
    corpus total."""
    out = Q.q_tax_burden_profile(spark, SF).collect()
    for r in out:
        assert 0.0 <= r.effective_tax_rate <= 0.08 + 1e-9
        assert r.gross_revenue >= r.net_revenue - 1e-9
    total = sum(r.net_revenue for r in out)
    li = fixtures.load(spark, SF, "lineitem").agg(
        F.sum(
            F.round(F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast(
                "long"
            )
        ).alias("c")
    ).collect()[0]
    assert abs(total - li.c / 100.0) < 1.0


def test_retailprice_premium_identity_on_planted_rows(spark):
    """realized_to_list is exactly sum(price)/sum(retail*qty); a brand
    whose every line transacts at list * qty has ratio 1."""
    out = Q.q_retailprice_premium(spark, SF).collect()
    for r in out:
        assert r.n_lines > 0
        assert r.list_value > 0
        assert (
            abs(
                r.realized_to_list
                - round(r.realized_revenue / r.list_value, 6)
            )
            < 1e-4
        )


def test_dau_wau_stickiness_bounds_and_recount(spark):
    """DAU <= WAU (the trailing week contains the day), stickiness in
    (0, 1], and a python recount of one mid-range day's WAU matches."""
    out = Q.q_dau_wau_stickiness(spark, SF).collect()
    assert out, "no event days"
    for r in out:
        assert r.dau <= r.wau
        assert 0.0 < r.stickiness <= 1.0
    mid = out[len(out) // 2].day
    pairs = (
        fixtures.events(spark, SF)
        .select(F.to_date("ts").alias("d"), "user_id")
        .distinct()
        .collect()
    )
    want = len(
        {p.user_id for p in pairs if 0 <= (mid - p.d).days <= 6}
    )
    got = next(r.wau for r in out if r.day == mid)
    assert got == want


def _quantized_embeddings(spark):
    rows = fixtures.load(spark, SF, "embeddings").collect()
    return {
        r.vec_id: (
            int(r.label),
            [int(round(float(v) * 10000)) for v in r.embedding],
        )
        for r in rows
    }


def test_kmeans_iteration_python_model(spark):
    """One Lloyd step reproduces an exact python recompute: identical
    assignment counts, mean squared distance and centroid shift; the
    cluster sizes conserve N and every seed lands in its own cluster
    (d2 = 0 beats any rival)."""
    vecs = _quantized_embeddings(spark)
    seeds = {k: vecs[k][1] for k in range(8)}
    agg = {k: [0, 0] for k in seeds}  # n, sum d2
    sums = {k: [0] * 64 for k in seeds}
    assign = {}
    for vid, (_lbl, q) in vecs.items():
        best = min(
            (sum((a - b) ** 2 for a, b in zip(q, c)), k)
            for k, c in seeds.items()
        )
        d2, k = best
        assign[vid] = k
        agg[k][0] += 1
        agg[k][1] += d2
        for i, a in enumerate(q):
            sums[k][i] += a
    out = {r.cluster: r for r in Q.q_kmeans_iteration(spark, SF).collect()}
    assert sum(r.n_vectors for r in out.values()) == len(vecs)
    for k in seeds:
        assert assign[k] == k
        n, sd = agg[k]
        assert out[k].n_vectors == n
        assert abs(out[k].mean_sq_dist - sd / (n * 1e8)) < 1e-6
        sh = sum((n * c - s) ** 2 for c, s in zip(seeds[k], sums[k]))
        assert abs(out[k].centroid_shift_sq - sh / (n * n * 1e8)) < 1e-6


def test_copurchase_degree_dist_recount(spark):
    """Degree histogram matches a python recount over distinct pairs,
    including degree-0 parts, and conserves the distinct part count."""
    lines = {
        (r.l_orderkey, r.l_partkey)
        for r in fixtures.load(spark, SF, "lineitem")
        .select("l_orderkey", "l_partkey")
        .collect()
    }
    by_order: dict[int, set] = {}
    for o, p in lines:
        by_order.setdefault(o, set()).add(p)
    partners: dict[int, set] = {}
    all_parts = {p for _o, p in lines}
    for ps in by_order.values():
        for a in ps:
            for b in ps:
                if a != b:
                    partners.setdefault(a, set()).add(b)
    hist: dict[int, int] = {}
    for p in all_parts:
        d = len(partners.get(p, ()))
        hist[d] = hist.get(d, 0) + 1
    out = {r.degree: r.n_parts for r in Q.q_copurchase_degree_dist(spark, SF).collect()}
    assert out == hist
    assert sum(out.values()) == len(all_parts)


def test_embedding_outliers_exact_ranking(spark):
    """The top-25 matches a python recompute of the exact integer
    numerator ordering (desc, vec_id tiebreak) and the reported
    distance equals the rational value."""
    vecs = _quantized_embeddings(spark)
    nn = len(vecs)
    sums = [0] * 64
    for _lbl, q in vecs.values():
        for i, a in enumerate(q):
            sums[i] += a
    ssq = sum(s * s for s in sums)
    scored = []
    for vid, (lbl, q) in vecs.items():
        xx = sum(a * a for a in q)
        xs = sum(a * s for a, s in zip(q, sums))
        scored.append((-(nn * nn * xx - 2 * nn * xs + ssq), vid, lbl))
    scored.sort()
    want = scored[:25]
    out = Q.q_embedding_outliers(spark, SF).collect()
    assert [r.vec_id for r in out] == [v for _n, v, _l in want]
    for r, (negnum, _v, lbl) in zip(out, want):
        assert r.label == lbl
        assert abs(r.sq_dist - (-negnum) / (nn * nn * 1e8)) < 1e-6


def test_event_interarrival_python_model(spark):
    """Per-type gap stats reproduce an exact python recompute over
    microsecond timestamps with (ts, event_id) ordering."""
    import math

    ev = fixtures.events(spark, SF).select(
        "user_id", "event_type", F.unix_micros("ts").alias("us"), "event_id"
    ).collect()
    per: dict[tuple, list] = {}
    for r in ev:
        per.setdefault((r.user_id, r.event_type), []).append((r.us, r.event_id))
    agg: dict[str, list[int]] = {}
    for (_u, t), xs in per.items():
        xs.sort()
        for (a, _), (b, _) in zip(xs, xs[1:]):
            g = b - a
            n, s, s2 = agg.get(t, (0, 0, 0))
            agg[t] = (n + 1, s + g, s2 + g * g)
    out = {r.event_type: r for r in Q.q_event_interarrival_profile(spark, SF).collect()}
    assert set(out) == set(agg)
    for t, (n, s, s2) in agg.items():
        assert out[t].n_gaps == n
        assert abs(out[t].mean_gap_seconds - s / (n * 1e6)) < 1e-6
        assert abs(out[t].cv_gap - math.sqrt(max(0, n * s2 - s * s)) / s) < 1e-6


def test_user_type_diversity_recount(spark):
    """User-week breadth histogram matches a python recount on the
    epoch-week key and conserves the user-week population."""
    ev = fixtures.events(spark, SF).select(
        "user_id",
        F.floor(F.floor(F.unix_timestamp("ts") / 86400).cast("long") / 7.0)
        .cast("long")
        .alias("week"),
        "event_type",
    ).collect()
    types: dict[tuple, set] = {}
    for r in ev:
        types.setdefault((r.user_id, r.week), set()).add(r.event_type)
    hist: dict[int, int] = {}
    for s in types.values():
        hist[len(s)] = hist.get(len(s), 0) + 1
    out = {r.n_types: r.n_user_weeks for r in Q.q_user_type_diversity(spark, SF).collect()}
    assert out == hist
    assert sum(out.values()) == len(types)


def test_supplier_balance_bands_conservation(spark):
    """Bands partition the shipped-supplier population; negative bands
    exist (the generator plants indebted suppliers); late share is a
    proper fraction."""
    out = Q.q_supplier_balance_bands(spark, SF).collect()
    # banding rule: every shipped supplier's floor(cents/100000) band
    # is present (negative balances floor toward -inf when they occur)
    bals = fixtures.load(spark, SF, "supplier").select("s_suppkey", "s_acctbal").collect()
    import math

    shipped = {
        r.l_suppkey
        for r in fixtures.load(spark, SF, "lineitem").select("l_suppkey").collect()
    }
    want_bands = {
        math.floor(round(float(r.s_acctbal) * 100) / 100000)
        for r in bals
        if r.s_suppkey in shipped
    }
    assert {r.band for r in out} == want_bands
    n_shipping = (
        fixtures.load(spark, SF, "lineitem").select("l_suppkey").distinct().count()
    )
    assert sum(r.n_suppliers for r in out) == n_shipping
    for r in out:
        assert 0.0 <= r.late_share <= 1.0
        assert r.mean_latency >= 0.0


def test_customer_tenure_value_recount(spark):
    """Tenure buckets match a python recount and conserve the ordering
    customer population."""
    orders = fixtures.load(spark, SF, "orders").select(
        "o_custkey", F.col("o_orderdate").cast("date").alias("d")
    ).collect()
    per: dict[int, list] = {}
    for r in orders:
        lo, hi, n = per.get(r.o_custkey, (r.d, r.d, 0))
        per[r.o_custkey] = (min(lo, r.d), max(hi, r.d), n + 1)
    hist: dict[int, int] = {}
    for lo, hi, _n in per.values():
        b = (hi - lo).days // 365
        hist[b] = hist.get(b, 0) + 1
    out = {r.tenure_years: r for r in Q.q_customer_tenure_value(spark, SF).collect()}
    assert {k: v.n_customers for k, v in out.items()} == hist


def test_order_line_hhi_identity_and_bounds(spark):
    """1-line orders have HHI exactly 1.0; HHI >= 1/n everywhere."""
    out = Q.q_order_line_hhi(spark, SF).collect()
    by_n = {r.n_lines: r for r in out}
    assert abs(by_n[1].mean_hhi - 1.0) < 1e-9
    for r in out:
        assert r.mean_hhi >= 1.0 / r.n_lines - 1e-6
        assert r.mean_hhi <= 1.0 + 1e-9
    n_orders = fixtures.load(spark, SF, "lineitem").select("l_orderkey").distinct().count()
    assert sum(r.n_orders for r in out) == n_orders


def test_stock_cover_days_flow_identity(spark):
    """cover_days is exactly ending_stock * horizon / issue_qty and the
    fifo_allocation totals agree per sku."""
    out = Q.q_stock_cover_days(spark, SF).collect()
    li = fixtures.load(spark, SF, "lineitem").select(
        "l_partkey", "l_quantity", "l_orderkey", F.col("l_shipdate").cast("date").alias("d")
    ).collect()
    lo = min(r.d for r in li)
    hi = max(r.d for r in li)
    h = (hi - lo).days + 1
    per: dict[int, list[int]] = {}
    for r in li:
        rq, iq = per.get(r.l_partkey, (0, 0))
        if r.l_orderkey % 2 == 0:
            rq += int(r.l_quantity)
        else:
            iq += int(r.l_quantity)
        per[r.l_partkey] = (rq, iq)
    want = {k: v for k, v in per.items() if v[1] > 0}
    assert len(out) == len(want)
    for r in out[:50]:
        rq, iq = want[r.sku]
        assert (r.receipt_qty, r.issue_qty) == (rq, iq)
        assert abs(r.cover_days - round((rq - iq) * h / iq, 6)) < 1e-6


def test_shingle_df_profile_recount(spark):
    """DF histogram matches a python recount with the jaccard_pairs
    tokenizer contract (whitespace split, distinct 3-grams)."""
    docs = fixtures.load(spark, SF, "documents").select("doc_id", "text").collect()
    df: dict[str, int] = {}
    for r in docs:
        toks = [t for t in r.text.split() if t]
        if len(toks) < 3:
            continue
        for s in {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}:
            df[s] = df.get(s, 0) + 1
    hist: dict[int, int] = {}
    for v in df.values():
        hist[v] = hist.get(v, 0) + 1
    out = {r.df: r.n_shingles for r in Q.q_shingle_df_profile(spark, SF).collect()}
    assert out == hist


def test_nation_balance_flow_conservation(spark):
    """Nation rows cover every nation; customer/supplier counts and
    balances telescope to the dim totals."""
    out = Q.q_nation_balance_flow(spark, SF).collect()
    assert len(out) == fixtures.load(spark, SF, "nation").count()
    cust = fixtures.load(spark, SF, "customer").count()
    supp = fixtures.load(spark, SF, "supplier").count()
    assert sum(r.n_customers for r in out) == cust
    assert sum(r.n_suppliers for r in out) == supp


def test_top_customer_per_nation_is_argmax(spark):
    """Each nation's winner has the maximal lifetime cents among that
    nation's ordering customers (custkey tiebreak), verified in
    python."""
    out = {r.nation: r for r in Q.q_top_customer_per_nation(spark, SF).collect()}
    orders = fixtures.load(spark, SF, "orders").select("o_custkey", "o_totalprice").collect()
    spend: dict[int, int] = {}
    cnt: dict[int, int] = {}
    for r in orders:
        c = round(float(r.o_totalprice) * 100)
        spend[r.o_custkey] = spend.get(r.o_custkey, 0) + int(c)
        cnt[r.o_custkey] = cnt.get(r.o_custkey, 0) + 1
    cust = fixtures.load(spark, SF, "customer").select("c_custkey", "c_nationkey").collect()
    nat = {r.n_nationkey: r.n_name for r in fixtures.load(spark, SF, "nation").collect()}
    best: dict[str, tuple] = {}
    for r in cust:
        if r.c_custkey not in spend:
            continue
        key = nat[r.c_nationkey]
        cand = (-spend[r.c_custkey], r.c_custkey)
        if key not in best or cand < best[key]:
            best[key] = cand
    assert set(out) == set(best)
    for nation, (neg, ck) in best.items():
        assert out[nation].custkey == ck
        assert out[nation].n_orders == cnt[ck]
        assert abs(out[nation].revenue - (-neg) / 100.0) < 1e-6


def test_event_type_transitions_row_shares(spark):
    """Row shares sum to 1 per from_type and the total pair count is
    n_events - n_users (one fewer transition than events per user)."""
    out = Q.q_event_type_transitions(spark, SF).collect()
    shares: dict[str, float] = {}
    total = 0
    for r in out:
        shares[r.from_type] = shares.get(r.from_type, 0.0) + r.row_share
        total += r.n
    for s in shares.values():
        assert abs(s - 1.0) < 1e-4
    n_events = fixtures.events(spark, SF).count()
    n_users = fixtures.events(spark, SF).select("user_id").distinct().count()
    assert total == n_events - n_users


def test_part_supplier_breadth_conservation(spark):
    """Buckets partition the shipped-part population and revenue
    shares telescope to 1."""
    out = Q.q_part_supplier_breadth(spark, SF).collect()
    n_parts = fixtures.load(spark, SF, "lineitem").select("l_partkey").distinct().count()
    assert sum(r.n_parts for r in out) == n_parts
    assert abs(sum(r.revenue_share for r in out) - 1.0) < 1e-4


def test_source_length_percentiles_python_model(spark):
    """Interpolated percentiles match numpy's linear rule and the mean
    is exact."""
    import numpy as np

    docs = fixtures.load(spark, SF, "documents").select("source", "n_chars").collect()
    per: dict[str, list[int]] = {}
    for r in docs:
        per.setdefault(r.source, []).append(int(r.n_chars))
    out = {r.source: r for r in Q.q_source_length_percentiles(spark, SF).collect()}
    assert set(out) == set(per)
    for s, xs in per.items():
        assert out[s].n_docs == len(xs)
        assert abs(out[s].mean_chars - round(sum(xs) / len(xs), 6)) < 1e-6
        for col, p in (("p25", 25), ("p50", 50), ("p90", 90)):
            assert abs(getattr(out[s], col) - np.percentile(xs, p)) < 1e-6


def test_second_purchase_latency_python_model(spark):
    """Repeat share, mean and median days-to-second reproduce a python
    recompute; buyers conserve to the ordering-customer count."""
    import numpy as np

    orders = fixtures.load(spark, SF, "orders").select(
        "o_custkey", F.col("o_orderdate").cast("date").alias("d"), "o_orderkey"
    ).collect()
    per: dict[int, list] = {}
    for r in orders:
        per.setdefault(r.o_custkey, []).append((r.d, r.o_orderkey))
    seg = {
        r.c_custkey: r.c_mktsegment
        for r in fixtures.load(spark, SF, "customer").collect()
    }
    stats: dict[str, list] = {}
    for ck, xs in per.items():
        xs.sort()
        gaps = stats.setdefault(seg[ck], [0, 0, []])
        gaps[0] += 1
        if len(xs) >= 2:
            gaps[1] += 1
            gaps[2].append((xs[1][0] - xs[0][0]).days)
    out = {r.segment: r for r in Q.q_second_purchase_latency(spark, SF).collect()}
    assert set(out) == set(stats)
    for s, (n, rep, gaps) in stats.items():
        assert out[s].n_buyers == n
        assert out[s].n_repeat == rep
        assert abs(out[s].mean_days_to_second - sum(gaps) / rep) < 1e-6
        assert abs(out[s].median_days_to_second - np.percentile(gaps, 50)) < 1e-6


def test_returns_by_discount_band_conservation(spark):
    """Bands cover all lines; return shares are proper fractions."""
    out = Q.q_returns_by_discount_band(spark, SF).collect()
    assert sum(r.n_lines for r in out) == fixtures.load(spark, SF, "lineitem").count()
    assert {r.band for r in out} <= set(range(0, 11))
    for r in out:
        assert 0.0 <= r.return_share <= 1.0


def test_embedding_label_margin_python_model(spark):
    """The 25 least-confident vectors match a python recompute of the
    exact nearest-centroid margins (f2 - f1, vec_id tiebreak); margins
    are non-negative and the assigned label is the python argmin."""
    vecs = _quantized_embeddings(spark)
    by_label: dict[int, list] = {}
    for vid, (lbl, q) in vecs.items():
        by_label.setdefault(lbl, []).append(q)
    sums = {
        k: [sum(col) for col in zip(*qs)] for k, qs in by_label.items()
    }
    bk = {k: sum(x * x for x in s) for k, s in sums.items()}
    nk = {k: len(v) for k, v in by_label.items()}
    rows = []
    for vid, (lbl, q) in vecs.items():
        fs = sorted(
            (
                (bk[k] - 2 * nk[k] * sum(a * b for a, b in zip(q, sums[k])))
                / (nk[k] * nk[k]),
                k,
            )
            for k in sums
        )
        rows.append((fs[1][0] - fs[0][0], vid, lbl, fs[0][1]))
    rows.sort()
    want = rows[:25]
    out = Q.q_embedding_label_margin(spark, SF).collect()
    assert [r.vec_id for r in out] == [v for _m, v, _l, _a in want]
    for r, (m, _v, lbl, a) in zip(out, want):
        assert r.label == lbl and r.assigned == a
        assert r.margin >= 0.0
        assert abs(r.margin - round(m / 1e8, 6)) < 1e-5


def test_supplier_cosupply_pairs_recount(spark):
    """Top pair counts match a python recount over distinct
    (supplier, part) edges."""
    sp = {
        (r.l_suppkey, r.l_partkey)
        for r in fixtures.load(spark, SF, "lineitem")
        .select("l_suppkey", "l_partkey")
        .collect()
    }
    by_part: dict[int, list] = {}
    for s, p in sp:
        by_part.setdefault(p, []).append(s)
    counts: dict[tuple, int] = {}
    for ss in by_part.values():
        ss.sort()
        for i, a in enumerate(ss):
            for b in ss[i + 1 :]:
                counts[(a, b)] = counts.get((a, b), 0) + 1
    want = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:25]
    out = Q.q_supplier_cosupply_pairs(spark, SF).collect()
    assert [(r.supp_a, r.supp_b, r.n_shared_parts) for r in out] == [
        (a, b, n) for (a, b), n in want
    ]


def test_brand_quantity_mode_is_argmax(spark):
    """Each brand's mode is the max-count quantity (smallest-qty
    tiebreak) in a python recount; share is count/total."""
    li = fixtures.load(spark, SF, "lineitem").select("l_partkey", "l_quantity").collect()
    brand = {
        r.p_partkey: r.p_brand for r in fixtures.load(spark, SF, "part").collect()
    }
    cells: dict[tuple, int] = {}
    tot: dict[str, int] = {}
    for r in li:
        b = brand[r.l_partkey]
        q = int(r.l_quantity)
        cells[(b, q)] = cells.get((b, q), 0) + 1
        tot[b] = tot.get(b, 0) + 1
    best: dict[str, tuple] = {}
    for (b, q), n in cells.items():
        cand = (-n, q)
        if b not in best or cand < best[b]:
            best[b] = cand
    out = {r.brand: r for r in Q.q_brand_quantity_mode(spark, SF).collect()}
    assert set(out) == set(best)
    for b, (negn, q) in best.items():
        assert out[b].mode_qty == q
        assert out[b].n_lines_at_mode == -negn
        assert abs(out[b].mode_share - round(-negn / tot[b], 6)) < 1e-6


def test_sku_seasonality_strength_bounds_and_model(spark):
    """Strength lies in [1, 12]; a python recount verifies the argmax
    month and the exact ratio on a sample of skus."""
    out = Q.q_sku_seasonality_strength(spark, SF).collect()
    for r in out:
        assert 1.0 - 1e-9 <= r.strength <= 12.0 + 1e-9
    li = fixtures.load(spark, SF, "lineitem").select(
        "l_partkey", F.month("l_shipdate").alias("m"), "l_quantity"
    ).collect()
    cells: dict[tuple, int] = {}
    for r in li:
        cells[(r.l_partkey, r.m)] = cells.get((r.l_partkey, r.m), 0) + int(
            r.l_quantity
        )
    per: dict[int, dict] = {}
    for (s, m), q in cells.items():
        per.setdefault(s, {})[m] = q
    for r in out[:100]:
        months = per[r.sku]
        tot = sum(months.values())
        peak = min(((-q, m) for m, q in months.items()))
        assert r.peak_month == peak[1]
        assert r.total_qty == tot
        assert abs(r.strength - round(12.0 * (-peak[0]) / tot, 6)) < 1e-6


def test_customer_dow_habit_partition(spark):
    """ISO dows are 1..7 and the histogram conserves the ordering
    customer count; shares telescope to 1."""
    out = Q.q_customer_dow_habit(spark, SF).collect()
    assert {r.iso_dow for r in out} <= set(range(1, 8))
    n_cust = fixtures.load(spark, SF, "orders").select("o_custkey").distinct().count()
    assert sum(r.n_customers for r in out) == n_cust
    assert abs(sum(r.share for r in out) - 1.0) < 1e-4


def test_session_size_histogram_matches_sessionizer(spark):
    """Histogram totals match the sessionize operator's output exactly
    (count per depth and mean duration)."""
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.sessionize import (
        sessionize,
    )

    sess = sessionize(fixtures.events(spark, SF), gap_minutes=30).collect()
    hist: dict[int, list[int]] = {}
    for s in sess:
        n, d = hist.get(s.n_events, (0, 0))
        dur = int(s.session_end.timestamp()) - int(s.session_start.timestamp())
        hist[s.n_events] = (n + 1, d + dur)
    out = {r.n_events: r for r in Q.q_session_size_histogram(spark, SF).collect()}
    assert set(out) == set(hist)
    for k, (n, d) in hist.items():
        assert out[k].n_sessions == n
        assert abs(out[k].mean_duration_s - round(d / n, 6)) < 1e-6


def test_event_type_peak_hour_argmax(spark):
    """Peak hour is the modal hour per type in a python recount."""
    ev = fixtures.events(spark, SF).select("event_type", F.hour("ts").alias("h")).collect()
    cells: dict[tuple, int] = {}
    tot: dict[str, int] = {}
    for r in ev:
        cells[(r.event_type, r.h)] = cells.get((r.event_type, r.h), 0) + 1
        tot[r.event_type] = tot.get(r.event_type, 0) + 1
    best: dict[str, tuple] = {}
    for (t, h), n in cells.items():
        cand = (-n, h)
        if t not in best or cand < best[t]:
            best[t] = cand
    out = {r.event_type: r for r in Q.q_event_type_peak_hour(spark, SF).collect()}
    assert set(out) == set(best)
    for t, (negn, h) in best.items():
        assert out[t].peak_hour == h
        assert out[t].n_at_peak == -negn
        assert abs(out[t].peak_share - round(-negn / tot[t], 6)) < 1e-6


def test_source_genericness_bounds_and_recount(spark):
    """Top-100 mass share is a proper fraction and matches a python
    recount with the deterministic (count desc, token asc) cut."""
    docs = fixtures.load(spark, SF, "documents").select("source", "text").collect()
    from collections import Counter

    gc: Counter = Counter()
    per_src: dict[str, list] = {}
    for r in docs:
        toks = [t for t in r.text.split() if t]
        gc.update(toks)
        per_src.setdefault(r.source, []).extend(toks)
    top = {
        t for t, _n in sorted(gc.items(), key=lambda kv: (-kv[1], kv[0]))[:100]
    }
    out = {r.source: r for r in Q.q_source_genericness(spark, SF).collect()}
    assert set(out) == set(per_src)
    for s, toks in per_src.items():
        n_top = sum(1 for t in toks if t in top)
        assert out[s].n_tokens == len(toks)
        assert abs(out[s].top100_mass_share - round(n_top / len(toks), 6)) < 1e-6


def test_embedding_dim_correlations_python_model(spark):
    """Top-25 pairs match a python recompute of exact Pearson with the
    r^2-ratio ordering; |r| <= 1."""
    import math

    vecs = _quantized_embeddings(spark)
    d = 64
    n = len(vecs)
    cols = [[q[i] for _l, q in vecs.values()] for i in range(d)]
    scored = []
    for i in range(d):
        for j in range(i + 1, d):
            sa, sb = sum(cols[i]), sum(cols[j])
            saa = sum(x * x for x in cols[i])
            sbb = sum(x * x for x in cols[j])
            sab = sum(x * y for x, y in zip(cols[i], cols[j]))
            c = n * sab - sa * sb
            vx = n * saa - sa * sa
            vy = n * sbb - sb * sb
            scored.append((-(c * c) / (vx * vy), i, j, c, vx, vy))
    scored.sort()
    want = scored[:25]
    out = Q.q_embedding_dim_correlations(spark, SF).collect()
    assert [(r.dim_a, r.dim_b) for r in out] == [(i, j) for _s, i, j, *_ in want]
    for r, (_s, _i, _j, c, vx, vy) in zip(out, want):
        assert abs(r.r) <= 1.0 + 1e-9
        assert abs(r.r - round(c / (math.sqrt(vx) * math.sqrt(vy)), 6)) < 1e-5


def test_brand_nation_price_spread_bounds(spark):
    """Spread ratio >= 1, min <= max, and nations-per-brand is bounded
    by the nation count."""
    out = Q.q_brand_nation_price_spread(spark, SF).collect()
    n_nations = fixtures.load(spark, SF, "nation").count()
    for r in out:
        assert 1 <= r.n_nations <= n_nations
        assert r.min_unit_price <= r.max_unit_price
        assert r.spread_ratio >= 1.0 - 1e-9


def test_monthly_aov_trend_telescopes(spark):
    """Month rows conserve the order count; the delta column equals
    the difference of consecutive AOVs (python recheck); the first
    month has NULL delta."""
    out = Q.q_monthly_aov_trend(spark, SF).collect()
    assert sum(r.n_orders for r in out) == fixtures.load(spark, SF, "orders").count()
    assert out[0].delta_vs_prev is None
    for prev, cur in zip(out, out[1:]):
        if (cur.year, cur.month) in {
            (p.year, p.month + 1) for p in [prev]
        } or (cur.year == prev.year + 1 and cur.month == 1 and prev.month == 12):
            assert cur.delta_vs_prev is not None
            assert abs(cur.delta_vs_prev - round(cur.aov - prev.aov, 2)) < 0.02


def test_brand_top_supplier_share_argmax(spark):
    """Winner per brand matches a python argmax with suppkey tiebreak;
    share is a proper fraction."""
    li = fixtures.load(spark, SF, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    ).collect()
    brand = {r.p_partkey: r.p_brand for r in fixtures.load(spark, SF, "part").collect()}
    cells: dict[tuple, int] = {}
    tot: dict[str, int] = {}
    for r in li:
        b = brand[r.l_partkey]
        c = int(round(float(r.l_extendedprice) * 100))
        cells[(b, r.l_suppkey)] = cells.get((b, r.l_suppkey), 0) + c
        tot[b] = tot.get(b, 0) + c
    best: dict[str, tuple] = {}
    for (b, s), c in cells.items():
        cand = (-c, s)
        if b not in best or cand < best[b]:
            best[b] = cand
    out = {r.brand: r for r in Q.q_brand_top_supplier_share(spark, SF).collect()}
    assert set(out) == set(best)
    for b, (negc, s) in best.items():
        assert out[b].top_suppkey == s
        assert abs(out[b].top_supplier_share - round(-negc / tot[b], 6)) < 1e-6
        assert 0.0 < out[b].top_supplier_share <= 1.0


def test_user_activity_deciles_conservation(spark):
    """Deciles partition the user base; event and value shares each
    telescope to 1; decile 1 (heaviest) has the max event share."""
    out = Q.q_user_activity_deciles(spark, SF).collect()
    n_users = fixtures.events(spark, SF).select("user_id").distinct().count()
    assert sum(r.n_users for r in out) == n_users
    assert abs(sum(r.event_share for r in out) - 1.0) < 1e-4
    assert abs(sum(r.value_share for r in out) - 1.0) < 1e-4
    assert out[0].decile == 1
    assert out[0].event_share == max(r.event_share for r in out)


def test_nation_rank_trajectory_rank_properties(spark):
    """Ranks are a permutation of 1..n within each year and rank_gain
    telescopes (prev rank - current rank) on a python recheck."""
    out = Q.q_nation_rank_trajectory(spark, SF).collect()
    by_year: dict[int, list] = {}
    for r in out:
        by_year.setdefault(r.order_year, []).append(r)
    prev_rank: dict[tuple, int] = {}
    years = sorted(by_year)
    for y in years:
        rows = by_year[y]
        assert sorted(r.revenue_rank for r in rows) == list(range(1, len(rows) + 1))
        for r in rows:
            want = prev_rank.get((y - 1, r.nation))
            if want is None:
                assert r.rank_gain is None
            else:
                assert r.rank_gain == want - r.revenue_rank
        for r in rows:
            prev_rank[(y, r.nation)] = r.revenue_rank


def test_brand_backorder_exposure_conservation(spark):
    """Sku counts conserve the shipped-part population and units_short
    matches a python recount of negative net flows."""
    out = Q.q_brand_backorder_exposure(spark, SF).collect()
    li = fixtures.load(spark, SF, "lineitem").select(
        "l_partkey", "l_quantity", "l_orderkey"
    ).collect()
    brand = {r.p_partkey: r.p_brand for r in fixtures.load(spark, SF, "part").collect()}
    net: dict[int, int] = {}
    for r in li:
        q = int(r.l_quantity)
        net[r.l_partkey] = net.get(r.l_partkey, 0) + (
            q if r.l_orderkey % 2 == 0 else -q
        )
    want: dict[str, list[int]] = {}
    for sku, n in net.items():
        b = brand[sku]
        t = want.setdefault(b, [0, 0, 0])
        t[0] += 1
        if n < 0:
            t[1] += 1
            t[2] += -n
    assert {r.brand: (r.n_skus, r.n_short, r.units_short) for r in out} == {
        b: tuple(v) for b, v in want.items()
    }


def test_customer_order_regularity_model(spark):
    """Mean/median gap-CV per segment reproduce a python recompute
    with the same ppm quantization."""
    import math
    import numpy as np

    orders = fixtures.load(spark, SF, "orders").select(
        "o_custkey", F.col("o_orderdate").cast("date").alias("d"), "o_orderkey"
    ).collect()
    seg = {
        r.c_custkey: r.c_mktsegment
        for r in fixtures.load(spark, SF, "customer").collect()
    }
    per: dict[int, list] = {}
    for r in orders:
        per.setdefault(r.o_custkey, []).append((r.d, r.o_orderkey))
    ppms: dict[str, list[int]] = {}
    for ck, xs in per.items():
        if len(xs) < 3:
            continue
        xs.sort()
        gaps = [(b[0] - a[0]).days for a, b in zip(xs, xs[1:])]
        n, s, s2 = len(gaps), sum(gaps), sum(g * g for g in gaps)
        cv = math.sqrt(max(0.0, n * s2 - s * s)) / s
        ppms.setdefault(seg[ck], []).append(round(cv * 1e6))
    out = {r.segment: r for r in Q.q_customer_order_regularity(spark, SF).collect()}
    assert set(out) == set(ppms)
    for s_, xs in ppms.items():
        assert out[s_].n_customers == len(xs)
        assert abs(out[s_].mean_gap_cv - round(sum(xs) / len(xs) / 1e6, 6)) < 1e-6
        assert abs(out[s_].median_gap_cv - round(np.percentile(xs, 50) / 1e6, 6)) < 1e-5


def test_label_separation_matrix_model(spark):
    """All 45 label pairs appear; distances match an exact python
    recompute of the rational-centroid formula; self-separation of the
    closest pair lower-bounds nothing negative."""
    vecs = _quantized_embeddings(spark)
    sums: dict[int, list[int]] = {}
    ns: dict[int, int] = {}
    for _vid, (lbl, q) in vecs.items():
        if lbl not in sums:
            sums[lbl] = [0] * 64
            ns[lbl] = 0
        ns[lbl] += 1
        for i, a in enumerate(q):
            sums[lbl][i] += a
    out = {(r.label_a, r.label_b): r.sq_dist for r in Q.q_label_separation_matrix(spark, SF).collect()}
    labels = sorted(sums)
    assert len(out) == len(labels) * (len(labels) - 1) // 2
    for i, la in enumerate(labels):
        for lb in labels[i + 1 :]:
            num = sum(
                (ns[lb] * sa - ns[la] * sb) ** 2
                for sa, sb in zip(sums[la], sums[lb])
            )
            nn = ns[la] * ns[lb]
            want = round(num / (nn * nn * 1e8), 6)
            assert abs(out[(la, lb)] - want) < 1e-5
            assert out[(la, lb)] >= 0.0


def test_order_rank_value_curve_counts_decrease(spark):
    """Rank-k order counts are non-increasing in k (a customer with a
    k-th order has a (k-1)-th) and rank 1 counts every ordering
    customer."""
    out = Q.q_order_rank_value_curve(spark, SF).collect()
    assert out[0].order_rank == 1
    n_cust = fixtures.load(spark, SF, "orders").select("o_custkey").distinct().count()
    assert out[0].n_orders == n_cust
    for a, b in zip(out, out[1:]):
        assert b.n_orders <= a.n_orders


def test_new_sku_revenue_share_first_year_is_one(spark):
    """The earliest ship year has new-share exactly 1.0 (every sku is
    new then); shares stay in [0, 1]; lines conserve."""
    out = Q.q_new_sku_revenue_share(spark, SF).collect()
    assert abs(out[0].new_sku_share - 1.0) < 1e-9
    assert out[0].n_new_lines == out[0].n_lines
    for r in out:
        assert 0.0 <= r.new_sku_share <= 1.0
    assert sum(r.n_lines for r in out) == fixtures.load(spark, SF, "lineitem").count()


def test_order_status_profile_shares(spark):
    """Year shares telescope to 1 within each year; orders conserve."""
    out = Q.q_order_status_profile(spark, SF).collect()
    per_year: dict[int, float] = {}
    for r in out:
        per_year[r.order_year] = per_year.get(r.order_year, 0.0) + r.year_share
    for s in per_year.values():
        assert abs(s - 1.0) < 1e-4
    assert sum(r.n_orders for r in out) == fixtures.load(spark, SF, "orders").count()


def test_event_value_coverage_recount(spark):
    """Null shares and sums match a python recount."""
    ev = fixtures.events(spark, SF).select("event_type", "value").collect()
    agg: dict[str, list] = {}
    for r in ev:
        t = agg.setdefault(r.event_type, [0, 0, 0])
        t[0] += 1
        if r.value is not None:
            t[1] += 1
            t[2] += int(round(float(r.value) * 100))
    out = {r.event_type: r for r in Q.q_event_value_coverage(spark, SF).collect()}
    assert set(out) == set(agg)
    for k, (n, nv, c) in agg.items():
        assert out[k].n_events == n
        assert out[k].n_with_value == nv
        assert abs(out[k].null_share - round((n - nv) / n, 6)) < 1e-6
        assert abs(out[k].sum_value - c / 100.0) < 0.5  # HALF_UP vs round()


def test_embedding_dim_occupancy_recount(spark):
    """Distinct counts and ranges per dim match a python recount."""
    vecs = _quantized_embeddings(spark)
    per: dict[int, set] = {}
    for _vid, (_lbl, q) in vecs.items():
        for i, a in enumerate(q):
            per.setdefault(i + 1, set()).add(a)
    out = {r.dim: r for r in Q.q_embedding_dim_occupancy(spark, SF).collect()}
    assert set(out) == set(per)
    for d, s in per.items():
        assert out[d].n_distinct == len(s)
        assert out[d].min_q == min(s)
        assert out[d].max_q == max(s)


def test_basket_brand_breadth_bounds(spark):
    """Mean brands per basket is in [1, n_lines] and orders conserve."""
    out = Q.q_basket_brand_breadth(spark, SF).collect()
    for r in out:
        assert 1.0 - 1e-9 <= r.mean_brands <= r.n_lines + 1e-9
    n_orders = fixtures.load(spark, SF, "lineitem").select("l_orderkey").distinct().count()
    assert sum(r.n_orders for r in out) == n_orders


def test_customer_brand_breadth_conservation(spark):
    """Buckets partition the ordering-customer base and revenue shares
    telescope to 1."""
    out = Q.q_customer_brand_breadth(spark, SF).collect()
    n_cust = fixtures.load(spark, SF, "orders").select("o_custkey").distinct().count()
    assert sum(r.n_customers for r in out) == n_cust
    assert abs(sum(r.revenue_share for r in out) - 1.0) < 1e-4


def test_order_calendar_coverage_python_model(spark):
    """Active/dead day counts and the max dead streak match a python
    recount over each year's observed span."""
    dates = sorted(
        {r.d for r in fixtures.load(spark, SF, "orders").select(
            F.col("o_orderdate").cast("date").alias("d")).collect()}
    )
    import datetime as _dt

    per: dict[int, set] = {}
    for d in dates:
        per.setdefault(d.year, set()).add(d)
    out = {r.order_year: r for r in Q.q_order_calendar_coverage(spark, SF).collect()}
    assert set(out) == set(per)
    for yr, ds in per.items():
        lo, hi = min(ds), max(ds)
        span = (hi - lo).days + 1
        dead = streak = best = 0
        cur = lo
        while cur <= hi:
            if cur in ds:
                streak = 0
            else:
                dead += 1
                streak += 1
                best = max(best, streak)
            cur += _dt.timedelta(days=1)
        assert out[yr].n_active_days == len(ds)
        assert out[yr].n_dead_days == dead
        assert out[yr].max_dead_streak == best
        assert out[yr].n_active_days + out[yr].n_dead_days == span


def test_user_entry_exit_matrix_conservation(spark):
    """Cells partition the user base; shares telescope to 1; a python
    recount verifies the entry/exit assignment."""
    ev = fixtures.events(spark, SF).select(
        "user_id", "event_type", F.unix_micros("ts").alias("us"), "event_id"
    ).collect()
    per: dict[int, list] = {}
    for r in ev:
        per.setdefault(r.user_id, []).append((r.us, r.event_id, r.event_type))
    cells: dict[tuple, int] = {}
    for xs in per.values():
        xs.sort()
        cells[(xs[0][2], xs[-1][2])] = cells.get((xs[0][2], xs[-1][2]), 0) + 1
    out = {(r.entry_type, r.exit_type): r.n_users for r in Q.q_user_entry_exit_matrix(spark, SF).collect()}
    assert out == cells


def test_inverted_interval_audit_recount(spark):
    """Inverted counts match the known generator quirk exactly."""
    li = fixtures.load(spark, SF, "lineitem").select(
        "l_orderkey", F.col("l_shipdate").cast("date").alias("sd")
    )
    od = fixtures.load(spark, SF, "orders").select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("od")
    )
    rows = li.join(od, li.l_orderkey == od.o_orderkey).collect()
    agg: dict[int, list[int]] = {}
    for r in rows:
        lat = (r.sd - r.od).days
        t = agg.setdefault(r.od.year, [0, 0, 0])
        t[0] += 1
        if lat < 0:
            t[1] += 1
            t[2] = max(t[2], -lat)
    out = {r.order_year: r for r in Q.q_inverted_interval_audit(spark, SF).collect()}
    assert set(out) == set(agg)
    for yr, (n, inv, worst) in agg.items():
        assert out[yr].n_lines == n
        assert out[yr].n_inverted == inv
        assert out[yr].worst_inversion_days == worst
    assert any(r.n_inverted > 0 for r in out.values()), "generator quirk vanished"


def test_value_priority_matrix_decile_shares(spark):
    """Decile shares telescope to 1 within each decile and deciles
    partition the order base."""
    out = Q.q_value_priority_matrix(spark, SF).collect()
    per: dict[int, float] = {}
    n = 0
    for r in out:
        per[r.decile] = per.get(r.decile, 0.0) + r.decile_share
        n += r.n_orders
    assert set(per) == set(range(1, 11))
    for s in per.values():
        assert abs(s - 1.0) < 1e-4
    assert n == fixtures.load(spark, SF, "orders").count()


def test_region_quarter_matrix_shares(spark):
    """Quarter shares telescope to 1; all five regions appear in every
    quarter."""
    out = Q.q_region_quarter_matrix(spark, SF).collect()
    per: dict[int, float] = {}
    regions: dict[int, set] = {}
    for r in out:
        per[r.quarter] = per.get(r.quarter, 0.0) + r.quarter_share
        regions.setdefault(r.quarter, set()).add(r.region)
    assert set(per) == {1, 2, 3, 4}
    for q, s in per.items():
        assert abs(s - 1.0) < 1e-4
        assert len(regions[q]) == 5


def test_supplier_return_rate_ordering_and_floor(spark):
    """Output is share-desc ordered, every row clears the 100-line
    floor, and the top row matches a python argmax."""
    out = Q.q_supplier_return_rate(spark, SF).collect()
    assert all(r.n_lines >= 100 for r in out)
    shares = [r.return_share for r in out]
    assert shares == sorted(shares, reverse=True)
    li = fixtures.load(spark, SF, "lineitem").select("l_suppkey", "l_returnflag").collect()
    agg: dict[int, list[int]] = {}
    for r in li:
        t = agg.setdefault(r.l_suppkey, [0, 0])
        t[0] += 1
        if r.l_returnflag == "R":
            t[1] += 1
    best = min(
        (-round(v[1] / v[0], 6), k)
        for k, v in agg.items()
        if v[0] >= 100
    )
    assert out[0].suppkey == best[1]


def test_dup_rate_by_length_planted(spark):
    """dup_share counts exactly the docs whose text occurs >= 2 times
    (python recount by band)."""
    docs = fixtures.load(spark, SF, "documents").select("text", "n_chars").collect()
    from collections import Counter

    c = Counter(r.text for r in docs)
    agg: dict[int, list[int]] = {}
    for r in docs:
        b = int(r.n_chars) // 500
        t = agg.setdefault(b, [0, 0])
        t[0] += 1
        if c[r.text] >= 2:
            t[1] += 1
    out = {r.band: r for r in Q.q_dup_rate_by_length(spark, SF).collect()}
    assert set(out) == set(agg)
    for b, (n, d) in agg.items():
        assert out[b].n_docs == n
        assert out[b].n_dup == d


def test_balance_spend_correlation_bounds_and_model(spark):
    """|r| <= 1 and each segment matches an exact python recompute
    (order-less customers at zero spend)."""
    import math

    cust = fixtures.load(spark, SF, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    ).collect()
    spend: dict[int, int] = {}
    for r in fixtures.load(spark, SF, "orders").select("o_custkey", "o_totalprice").collect():
        spend[r.o_custkey] = spend.get(r.o_custkey, 0) + int(
            round(float(r.o_totalprice) * 100)
        )
    st: dict[str, list[int]] = {}
    for r in cust:
        x = int(round(float(r.c_acctbal) * 100))
        y = spend.get(r.c_custkey, 0)
        t = st.setdefault(r.c_mktsegment, [0, 0, 0, 0, 0, 0])
        t[0] += 1
        t[1] += x
        t[2] += y
        t[3] += x * x
        t[4] += y * y
        t[5] += x * y
    out = {r.segment: r for r in Q.q_balance_spend_correlation(spark, SF).collect()}
    for s, (n, sx, sy, sxx, syy, sxy) in st.items():
        r_ = (n * sxy - sx * sy) / (
            math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy)
        )
        assert abs(out[s].r - round(r_, 6)) < 1e-5
        assert abs(out[s].r) <= 1.0 + 1e-9


def test_unit_price_inflation_identity(spark):
    """Mean unit price is exactly sum(cents)/sum(qty)/100 per year and
    the YoY ratio telescopes (python recheck)."""
    out = Q.q_unit_price_inflation(spark, SF).collect()
    assert out[0].yoy_ratio is None
    for prev, cur in zip(out, out[1:]):
        want = round(cur.mean_unit_price / prev.mean_unit_price, 2)
        assert abs(round(cur.yoy_ratio, 2) - want) < 0.02
        assert cur.mean_unit_price > 0


def test_jaccard_band_histogram_consistent_with_pairs(spark):
    """Pairs at jaccard >= 0.5 (the jaccard_pairs output) equal the
    mass in bands >= 10; integer banding never rides a double."""
    out = {r.band: r.n_pairs for r in Q.q_jaccard_band_histogram(spark, SF).collect()}
    n_high = sum(v for b, v in out.items() if b >= 10)
    n_pairs = Q.q_jaccard_pairs(spark, SF).count()
    assert n_high == n_pairs
    assert all(4 <= b <= 20 for b in out)


def test_brand_type_matrix_row_shares(spark):
    """Within-brand shares telescope to 1 and lines conserve."""
    out = Q.q_brand_type_matrix(spark, SF).collect()
    per: dict[str, float] = {}
    for r in out:
        per[r.brand] = per.get(r.brand, 0.0) + r.brand_share
    for s in per.values():
        assert abs(s - 1.0) < 1e-4
    assert sum(r.n_lines for r in out) == fixtures.load(spark, SF, "lineitem").count()


def test_name_key_consistency_is_clean_and_detects(spark):
    """The generator's names are consistent (0 mismatches); a planted
    corruption is caught by the same parse rule."""
    out = {r.table_name: r for r in Q.q_name_key_consistency(spark, SF).collect()}
    assert out["customer"].n_mismatched == 0
    assert out["supplier"].n_mismatched == 0
    assert out["customer"].n_rows == fixtures.load(spark, SF, "customer").count()
    bad = spark.createDataFrame(
        [(1, "Customer#000000002")], "c_custkey long, c_name string"
    ).select(
        (
            F.split_part(F.col("c_name"), F.lit("#"), F.lit(2)).cast("long")
            != F.col("c_custkey")
        ).alias("bad")
    ).collect()
    assert bad[0].bad is True


def test_weekday_latency_profile_conservation(spark):
    """Seven ISO dows; line counts conserve the non-inverted join."""
    out = Q.q_weekday_latency_profile(spark, SF).collect()
    assert {r.iso_dow for r in out} == set(range(1, 8))
    li = fixtures.load(spark, SF, "lineitem").select(
        "l_orderkey", F.col("l_shipdate").cast("date").alias("sd")
    )
    od = fixtures.load(spark, SF, "orders").select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("od")
    )
    n = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .where(F.datediff("sd", "od") >= 0)
        .count()
    )
    assert sum(r.n_lines for r in out) == n


def test_source_signature_bigram_argmax(spark):
    """Each source's signature is the python-argmax bigram with the
    (count desc, bigram asc) tiebreak."""
    docs = fixtures.load(spark, SF, "documents").select("source", "text").collect()
    cells: dict[tuple, int] = {}
    tot: dict[str, int] = {}
    for r in docs:
        toks = [t for t in r.text.split() if t]
        for a, b in zip(toks, toks[1:]):
            bg = f"{a} {b}"
            cells[(r.source, bg)] = cells.get((r.source, bg), 0) + 1
            tot[r.source] = tot.get(r.source, 0) + 1
    best: dict[str, tuple] = {}
    for (s, bg), n in cells.items():
        cand = (-n, bg)
        if s not in best or cand < best[s]:
            best[s] = cand
    out = {r.source: r for r in Q.q_source_signature_bigram(spark, SF).collect()}
    assert set(out) == set(best)
    for s, (negn, bg) in best.items():
        assert out[s].signature_bigram == bg
        assert out[s].n_occurrences == -negn
        assert abs(out[s].mass_share - round(-negn / tot[s], 6)) < 1e-6


def test_source_opening_diversity_recount(spark):
    """Diversity ratios match a python recount; ratio in (0, 1]."""
    docs = fixtures.load(spark, SF, "documents").select("source", "text").collect()
    per: dict[str, list] = {}
    for r in docs:
        toks = [t for t in r.text.split() if t]
        if toks:
            t = per.setdefault(r.source, [0, set()])
            t[0] += 1
            t[1].add(toks[0])
    out = {r.source: r for r in Q.q_source_opening_diversity(spark, SF).collect()}
    assert set(out) == set(per)
    for s, (n, ops) in per.items():
        assert out[s].n_docs == n
        assert out[s].n_openings == len(ops)
        assert 0.0 < out[s].opening_diversity <= 1.0


def test_label_radius_profile_python_model(spark):
    """Max and mean squared radius per label reproduce the exact
    rational-centroid python recompute; radius >= mean."""
    vecs = _quantized_embeddings(spark)
    sums: dict[int, list[int]] = {}
    ns: dict[int, int] = {}
    for _vid, (lbl, q) in vecs.items():
        if lbl not in sums:
            sums[lbl] = [0] * 64
            ns[lbl] = 0
        ns[lbl] += 1
        for i, a in enumerate(q):
            sums[lbl][i] += a
    agg: dict[int, list[int]] = {}
    for _vid, (lbl, q) in vecs.items():
        num = sum(
            (ns[lbl] * a - s) ** 2 for a, s in zip(q, sums[lbl])
        )
        t = agg.setdefault(lbl, [0, 0, 0])
        t[0] += 1
        t[1] = max(t[1], num)
        t[2] += num
    out = {r.label: r for r in Q.q_label_radius_profile(spark, SF).collect()}
    assert set(out) == set(agg)
    for lbl, (n, mx, sm) in agg.items():
        nk2 = ns[lbl] * ns[lbl]
        assert out[lbl].n_vectors == n
        assert abs(out[lbl].max_sq_dist - round(mx / (nk2 * 1e8), 6)) < 1e-5
        assert abs(out[lbl].mean_sq_dist - round(sm / (n * nk2 * 1e8), 6)) < 1e-5
        assert out[lbl].max_sq_dist >= out[lbl].mean_sq_dist - 1e-9


def test_basket_size_trend_conservation(spark):
    """Order counts conserve and the first year's delta is NULL."""
    out = Q.q_basket_size_trend(spark, SF).collect()
    assert out[0].delta_vs_prev is None
    # conserve orders that HAVE lines (the generator leaves some
    # orders line-less; they cannot contribute to basket width)
    with_lines = (
        fixtures.load(spark, SF, "lineitem").select("l_orderkey").distinct().count()
    )
    assert sum(r.n_orders for r in out) == with_lines
    for r in out:
        assert r.mean_lines_per_order >= 1.0


def test_spend_latency_bias_deciles(spark):
    """All ten deciles appear and line counts conserve the
    non-inverted join."""
    out = Q.q_spend_latency_bias(spark, SF).collect()
    assert {r.decile for r in out} == set(range(1, 11))
    li = fixtures.load(spark, SF, "lineitem").select(
        "l_orderkey", F.col("l_shipdate").cast("date").alias("sd")
    )
    od = fixtures.load(spark, SF, "orders").select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("od")
    )
    n = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .where(F.datediff("sd", "od") >= 0)
        .count()
    )
    assert sum(r.n_lines for r in out) == n


def test_order_weekend_premium_accounting(spark):
    """Weekend + weekday orders conserve; the premium ratio equals
    weekend_aov / weekday_aov."""
    out = Q.q_order_weekend_premium(spark, SF).collect()
    assert sum(r.n_orders for r in out) == fixtures.load(spark, SF, "orders").count()
    for r in out:
        assert 0.0 < r.weekend_share < 1.0
        assert abs(r.premium_ratio - round(r.weekend_aov / r.weekday_aov, 4)) < 1e-3


def test_dau_anomaly_days_matches_python_rule(spark):
    """The exact cross-multiplied z rule matches a python recount."""
    pairs = {
        (r.d, r.user_id)
        for r in fixtures.events(spark, SF)
        .select(F.to_date("ts").alias("d"), "user_id")
        .collect()
    }
    per: dict = {}
    for d, _u in pairs:
        per[d] = per.get(d, 0) + 1
    n = len(per)
    s = sum(per.values())
    s2 = sum(v * v for v in per.values())
    out = {r.day: r for r in Q.q_dau_anomaly_days(spark, SF).collect()}
    assert set(out) == set(per)
    for d, v in per.items():
        want = 1 if (n * v - s) ** 2 > 4 * (n * s2 - s * s) else 0
        assert out[d].is_anomaly == want
        assert out[d].dau == v


def test_event_type_user_overlap_recount(spark):
    """Containment cells match a python recount; containment in (0,1]."""
    tu: dict[str, set] = {}
    for r in fixtures.events(spark, SF).select("event_type", "user_id").collect():
        tu.setdefault(r.event_type, set()).add(r.user_id)
    out = {(r.type_a, r.type_b): r for r in Q.q_event_type_user_overlap(spark, SF).collect()}
    for a in tu:
        for b in tu:
            if a == b:
                continue
            both = len(tu[a] & tu[b])
            if both == 0:
                assert (a, b) not in out
                continue
            r = out[(a, b)]
            assert r.n_both == both
            assert abs(r.containment - round(both / len(tu[a]), 6)) < 1e-6
            assert 0.0 < r.containment <= 1.0


def test_annual_customer_retention_recount(spark):
    """Retention per year matches a python recount; the last year is
    excluded (no lookahead)."""
    yc: dict[int, set] = {}
    for r in fixtures.load(spark, SF, "orders").select(
        F.year("o_orderdate").alias("y"), "o_custkey"
    ).collect():
        yc.setdefault(r.y, set()).add(r.o_custkey)
    years = sorted(yc)
    out = {r.order_year: r for r in Q.q_annual_customer_retention(spark, SF).collect()}
    assert set(out) == set(years[:-1])
    for y in years[:-1]:
        ret = len(yc[y] & yc.get(y + 1, set()))
        assert out[y].n_customers == len(yc[y])
        assert out[y].n_retained == ret


def test_sku_price_drift_mix_python_model(spark):
    """Up/down/flat per brand match an exact rational python recount
    over first-vs-last transactions; counts partition multi-
    transaction skus."""
    li = fixtures.load(spark, SF, "lineitem").select(
        "l_partkey",
        F.col("l_shipdate").cast("date").alias("d"),
        "l_orderkey",
        "l_linenumber",
        "l_extendedprice",
        "l_quantity",
    ).collect()
    per: dict[int, list] = {}
    for r in li:
        c = int(round(float(r.l_extendedprice) * 100))
        q = int(r.l_quantity)
        per.setdefault(r.l_partkey, []).append(
            ((r.d, r.l_orderkey, r.l_linenumber), c, q)
        )
    brand = {r.p_partkey: r.p_brand for r in fixtures.load(spark, SF, "part").collect()}
    agg: dict[str, list[int]] = {}
    for sku, xs in per.items():
        if len(xs) < 2:
            continue
        xs.sort()
        _k1, c1, q1 = xs[0]
        _k2, c2, q2 = xs[-1]
        lhs, rhs = c2 * q1, c1 * q2
        d = 0 if lhs == rhs else (1 if lhs > rhs else -1)
        t = agg.setdefault(brand[sku], [0, 0, 0, 0])
        t[0] += 1
        t[1 if d == 1 else (2 if d == -1 else 3)] += 1
    out = {r.brand: r for r in Q.q_sku_price_drift_mix(spark, SF).collect()}
    assert set(out) == set(agg)
    for b, (n, up, down, flat) in agg.items():
        assert (out[b].n_skus, out[b].n_up, out[b].n_down, out[b].n_flat) == (
            n,
            up,
            down,
            flat,
        )


def test_embedding_exact_dups_conservation(spark):
    """Group sizes conserve the vector count; the fixture has no
    accidental quantized duplicates unless planted (size-1 groups
    dominate)."""
    out = Q.q_embedding_exact_dups(spark, SF).collect()
    total = sum(r.group_size * r.n_groups for r in out)
    assert total == fixtures.load(spark, SF, "embeddings").count()
    assert out[0].group_size == 1


def test_repeated_part_lines_audit_recount(spark):
    """Repeat counts match a python recount over (order, part)
    multiplicities."""
    li = fixtures.load(spark, SF, "lineitem").select("l_orderkey", "l_partkey").collect()
    mult: dict[tuple, int] = {}
    for r in li:
        mult[(r.l_orderkey, r.l_partkey)] = mult.get((r.l_orderkey, r.l_partkey), 0) + 1
    per_order: dict[int, list[int]] = {}
    for (o, _p), k in mult.items():
        t = per_order.setdefault(o, [0, 0])
        t[0] = max(t[0], k)
        if k >= 2:
            t[1] += k
    yr = {
        r.o_orderkey: r.y
        for r in fixtures.load(spark, SF, "orders")
        .select("o_orderkey", F.year("o_orderdate").alias("y"))
        .collect()
    }
    agg: dict[int, list[int]] = {}
    for o, (mx, dl) in per_order.items():
        t = agg.setdefault(yr[o], [0, 0, 0])
        t[0] += 1
        if mx >= 2:
            t[1] += 1
        t[2] += dl
    out = {r.order_year: r for r in Q.q_repeated_part_lines_audit(spark, SF).collect()}
    assert set(out) == set(agg)
    for y, (n, w, dl) in agg.items():
        assert (out[y].n_orders, out[y].n_with_repeats, out[y].n_dup_lines) == (
            n,
            w,
            dl,
        )


def test_hourly_value_profile_conservation(spark):
    """All 24 hours appear; valued counts conserve the non-null
    population."""
    out = Q.q_hourly_value_profile(spark, SF).collect()
    assert {r.hour for r in out} == set(range(24))
    ev = fixtures.events(spark, SF)
    assert sum(r.n_events for r in out) == ev.count()
    assert sum(r.n_valued for r in out) == ev.where(F.col("value").isNotNull()).count()


def test_priority_value_profile_shares(spark):
    """Revenue shares telescope to 1 and orders conserve."""
    out = Q.q_priority_value_profile(spark, SF).collect()
    assert abs(sum(r.revenue_share for r in out) - 1.0) < 1e-4
    assert sum(r.n_orders for r in out) == fixtures.load(spark, SF, "orders").count()


def test_brand_demand_acf_bounds_and_model(spark):
    """|acf1| <= 1 and one brand matches an exact python recompute."""
    import math

    out = {r.brand: r for r in Q.q_brand_demand_acf(spark, SF).collect()}
    for r in out.values():
        assert abs(r.acf1) <= 1.0 + 1e-9
    li = fixtures.load(spark, SF, "lineitem").select(
        "l_partkey",
        F.floor(F.floor(F.unix_timestamp(F.col("l_shipdate").cast("timestamp")) / 86400).cast("long") / 7.0).cast("long").alias("wk"),
        F.col("l_quantity").cast("long").alias("q"),
    ).collect()
    brand = {r.p_partkey: r.p_brand for r in fixtures.load(spark, SF, "part").collect()}
    target = sorted(out)[0]
    weekly: dict[tuple, int] = {}
    for r in li:
        if brand[r.l_partkey] != target:
            continue
        weekly[(r.l_partkey, r.wk)] = weekly.get((r.l_partkey, r.wk), 0) + r.q
    n = sx = sy = sxx = syy = sxy = 0
    for (sku, wk), x in weekly.items():
        y = weekly.get((sku, wk + 1))
        if y is None:
            continue
        n += 1
        sx += x
        sy += y
        sxx += x * x
        syy += y * y
        sxy += x * y
    r_ = (n * sxy - sx * sy) / (
        math.sqrt(max(0, n * sxx - sx * sx)) * math.sqrt(max(0, n * syy - sy * sy))
    )
    assert out[target].n_pairs == n
    assert abs(out[target].acf1 - round(r_, 6)) < 1e-5


def test_customer_entry_brand_loyalty_bounds(spark):
    """Mean entry-brand share is a proper fraction and customers
    conserve to the line-generating population."""
    out = Q.q_customer_entry_brand_loyalty(spark, SF).collect()
    for r in out:
        assert 0.0 < r.mean_entry_brand_share <= 1.0
    n_cust = (
        fixtures.load(spark, SF, "lineitem")
        .join(
            fixtures.load(spark, SF, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select("o_custkey")
        .distinct()
        .count()
    )
    assert sum(r.n_customers for r in out) == n_cust
