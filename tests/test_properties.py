"""Property-based invariants (hypothesis): randomized inputs against
independently-computed Python ground truth."""

import datetime as dt

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.graph import (
    connected_components,
)
from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.sessionize import (
    sessionize,
)

SLOW = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


def _union_find_truth(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical = min of component
    comp = {}
    for n in list(parent):
        root = find(n)
        comp.setdefault(root, []).append(n)
    out = {}
    for members in comp.values():
        lo = min(members)
        for m in members:
            out[m] = lo
    return out


@pytest.mark.slow
@SLOW
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=25,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r.node: r.component for r in connected_components(df).collect()}
    assert got == _union_find_truth(edges)


@SLOW
@given(
    gaps=st.lists(st.integers(1, 120), min_size=1, max_size=30),
)
def test_sessionize_gap_invariants(spark, gaps):
    # build one user's event times from random inter-event gaps (minutes)
    t = dt.datetime(2024, 1, 1)
    times = [t]
    for g in gaps:
        t = t + dt.timedelta(minutes=g)
        times.append(t)
    rows = [(1, i, ts, 1.0) for i, ts in enumerate(times)]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp, value double")
    sessions = sorted(
        sessionize(df, gap_minutes=30).collect(), key=lambda r: r.session_start
    )
    # invariant 1: every event accounted for exactly once
    assert sum(s.n_events for s in sessions) == len(times)
    # invariant 2: session count == 1 + number of gaps > 30 min
    assert len(sessions) == 1 + sum(1 for g in gaps if g > 30)
    # invariant 3: consecutive sessions are separated by > gap
    for prev, nxt in zip(sessions, sessions[1:]):
        assert (nxt.session_start - prev.session_end) > dt.timedelta(minutes=30)


def test_simhash64_uses_full_width_and_pigeonhole_recall(spark):
    """The 64-bit simhash must actually populate the high 32 bits (the
    whole point of widening the banding keyspace to 65,536 buckets/band),
    and the 16-bit-chunk pigeonhole banding must recover exactly the
    brute-force hamming<=3 pairs."""
    from pyspark.sql import functions as F

    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.functions.text import (
        simhash64,
    )
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.dedup import (
        simhash_neardup_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    docs = [(i, base + f" tail{i}") for i in range(8)]
    # planted near-dup: same text -> hamming 0
    docs.append((100, docs[0][1]))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    sigs = {r.doc_id: r.sig for r in df.select("doc_id", simhash64("text").alias("sig")).collect()}
    # high half is populated: some signature has a bit >= 32 set
    assert any(abs(s) >> 32 for s in sigs.values()), "simhash64 never sets high bits"

    brute = {
        (a, b)
        for a in sigs
        for b in sigs
        if a < b and bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1") <= 3
    }
    banded = {
        (r.doc_a, r.doc_b)
        for r in simhash_neardup_pairs(df, max_hamming=3).collect()
    }
    assert banded == brute  # pigeonhole recall AND precision both exact
    assert (0, 100) in banded


from hypothesis import given, settings as hsettings, strategies as st

from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.multimodal import (
    decode_image,
    encode_bmp_rgb,
    encode_png_gray,
)


@given(
    w=st.integers(min_value=1, max_value=4096),
    h=st.integers(min_value=1, max_value=64),
    seed=st.integers(min_value=0, max_value=2**31),
)
@hsettings(max_examples=40, deadline=None)
def test_image_codec_roundtrip_property(w, h, seed):
    """Any (width, height, seed): the header decoder must recover the
    encoder's dimensions exactly for both formats."""
    assert decode_image(encode_png_gray(w, h, seed)) == {
        "format": "png", "width": w, "height": h, "bit_depth": 8,
    }
    assert decode_image(encode_bmp_rgb(w, h, seed)) == {
        "format": "bmp", "width": w, "height": h, "bit_depth": 24,
    }


@given(
    xs=st.lists(st.integers(min_value=-10**6, max_value=10**6), min_size=1, max_size=300),
    k=st.sampled_from([1, 5, 10, 19]),
)
@settings(max_examples=200, deadline=None)
def test_integer_type7_quantile_matches_numpy(xs, k):
    """The winsorize query's BIGINT quantile formulation -- 20*q =
    (20-r)*c[i] + r*c[i+1] with i = (n-1)*k div 20, r = (n-1)*k mod
    20 -- must equal numpy's linear-interpolation (type-7) percentile
    at p = k/20 for ANY integer data. Pure math check, no Spark."""
    import numpy as np

    c = sorted(xs)
    n = len(c)
    h20 = (n - 1) * k
    i, r = divmod(h20, 20)
    t20 = (20 - r) * c[i] + r * (c[i + 1] if r else c[i])
    expected = np.percentile(np.array(xs, dtype=np.int64), 5 * k)
    assert abs(t20 / 20 - expected) <= 1e-9 * max(1.0, abs(expected))


@pytest.mark.slow
@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50)), min_size=1, max_size=25
    ),
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50)), min_size=0, max_size=25
    ),
)
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_asof_join_matches_pandas_merge_asof(spark, left_rows, right_rows):
    """asof_join == pandas.merge_asof(by=key) on random keyed integer
    timelines, both directions -- the industry-reference semantics,
    property-tested (duplicates, empty right side, equal timestamps)."""
    import pandas as pd

    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.asof import (
        asof_join,
    )

    # dedup (key, t) on the right: at equal (key, t) merge_asof takes the
    # LAST right row while the union-window form takes a deterministic
    # one -- pin the fixture instead of the tie
    right_rows = list({(k, t): (k, t) for k, t in right_rows}.values())
    left = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left_rows)], "k int, lt long, lid long"
    )
    right = spark.createDataFrame(
        [(k, t, t * 10 + k) for k, t in right_rows] or [],
        "k int, rt long, rv long",
    )
    for direction in ("backward", "forward"):
        got = {
            (r.k, r.lt, r.lid): r.rv
            for r in asof_join(
                left, right, on="k", left_time="lt", right_time="rt",
                direction=direction,
            ).collect()
        }
        lp = pd.DataFrame(
            [(k, t, i) for i, (k, t) in enumerate(left_rows)],
            columns=["k", "lt", "lid"],
        ).sort_values("lt", kind="stable")
        if right_rows:
            rp = pd.DataFrame(right_rows, columns=["k", "rt"])
            rp["rv"] = rp["rt"] * 10 + rp["k"]
        else:
            rp = pd.DataFrame(
                {
                    "k": pd.Series(dtype="int64"),
                    "rt": pd.Series(dtype="int64"),
                    "rv": pd.Series(dtype="int64"),
                }
            )
        rp = rp.sort_values("rt", kind="stable")
        exp_df = pd.merge_asof(
            lp, rp, left_on="lt", right_on="rt", by="k", direction=direction
        )
        exp = {
            (int(r.k), int(r.lt), int(r.lid)): (None if pd.isna(r.rv) else int(r.rv))
            for r in exp_df.itertuples()
        }
        assert got == exp, direction


@pytest.mark.slow
@SLOW
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # band
            st.one_of(
                st.none(),
                st.decimals(
                    min_value=-999, max_value=999, places=2, allow_nan=False
                ),
            ),
        ),
        min_size=1,
        max_size=14,
    )
)
def test_banded_cumsum_equals_global_window_with_nulls(spark, rows):
    """For ANY mix of NULLs and values (including all-NULL bands and
    NULL prefixes), the banded form reproduces the single global
    running-sum window bit-for-bit."""
    from decimal import Decimal

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.prefix import (
        banded_cumsum,
    )

    data = [
        (i, b, None if v is None else Decimal(v).quantize(Decimal("0.01")))
        for i, (b, v) in enumerate(rows)
    ]
    df = spark.createDataFrame(data, "k int, b int, v decimal(18,2)")
    got, total = banded_cumsum(
        df, "v", [F.col("b").asc(), F.col("k").asc()], F.col("b")
    )
    w = Window.orderBy(F.col("b").asc(), F.col("k").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = df.withColumn("cum", F.sum("v").over(w))
    assert sorted((r.k, r.cum) for r in got.collect()) == sorted(
        (r.k, r.cum) for r in want.collect()
    )
    assert total == sum((v for _, _, v in data if v is not None), Decimal(0))


@SLOW
@given(
    edges=st.sets(
        st.tuples(st.integers(0, 14), st.integers(0, 14)).filter(
            lambda t: t[0] < t[1]
        ),
        min_size=0,
        max_size=40,
    )
)
def test_triangle_participation_matches_bruteforce(spark, edges):
    """Degree-oriented wedge counting == O(n^3) python enumeration on
    random graphs up to 15 nodes, including hubs, cliques, and the
    empty graph."""
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.graph import (  # noqa: E501
        triangle_participation,
    )

    adj = {}
    for x, y in edges:
        adj.setdefault(x, set()).add(y)
        adj.setdefault(y, set()).add(x)
    want = {}
    nodes = sorted(adj)
    for i, x in enumerate(nodes):
        for y in nodes[i + 1:]:
            if y not in adj[x]:
                continue
            for z in nodes:
                if z > y and z in adj[x] and z in adj[y]:
                    for n in (x, y, z):
                        want[n] = want.get(n, 0) + 1
    if not edges:
        got_rows = []
    else:
        e = spark.createDataFrame(sorted(edges), "pa long, pb long")
        got_rows = triangle_participation(e).collect()
    got = {r.node: r.n_triangles for r in got_rows}
    assert got == want


@pytest.mark.slow
@SLOW
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from("abcdefgh"), min_size=0, max_size=12
        ).map(" ".join),
        min_size=0,
        max_size=12,
    )
)
def test_prefix_jaccard_equals_full_join_on_random_corpora(spark, texts):
    """The prefix-filtering theorem (recall exactly 1.0 under any
    global order) holds on random corpora: duplicate docs, empty docs,
    all-same-token docs, sub-shingle-length docs."""
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.dedup import (  # noqa: E501
        prefix_jaccard_pairs,
        shingle_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        list(enumerate(texts)) or [(0, "")], "doc_id long, text string"
    )
    full = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in shingle_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    }
    pref = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in prefix_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    }
    assert pref == full


@pytest.mark.slow
@SLOW
@given(
    docs=st.lists(
        st.tuples(
            st.sampled_from(["A", "B", "C"]),  # label
            st.lists(st.sampled_from("pqrs"), min_size=0, max_size=6).map(
                " ".join
            ),
        ),
        min_size=4,
        max_size=16,
    )
)
def test_class_lm_predictions_match_exact_python_model(spark, docs):
    """The fixed-point class-LM classifier is EXACTLY recomputable in
    python integers (w = (cnt+1)*2^40 // (tot+V), score = sum tf*w,
    argmax with lexicographic ties) -- verified on random corpora with
    empty docs, unseen tokens, and single-class training sets."""
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.classify import (  # noqa: E501
        class_lm_predictions,
    )

    rows = [
        (i, text, label, i % 2 == 0) for i, (label, text) in enumerate(docs)
    ]
    # at least one training doc (the den=0 all-empty case is defined)
    if not any(tr for _, _, _, tr in rows):
        rows.append((len(rows), "", "A", True))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, source string, is_train boolean"
    )
    got = {
        r.doc_id: r.predicted
        for r in class_lm_predictions(df, label_col="source").collect()
    }
    # exact python recompute
    from collections import Counter, defaultdict

    K = 1 << 40
    cnt = defaultdict(Counter)
    tot = Counter()
    classes = set()
    for _id, text, label, is_train in rows:
        if is_train:
            classes.add(label)  # token-empty training classes exist too
            toks = [t for t in text.split() if t]
            cnt[label].update(toks)
            tot[label] += len(toks)
    classes = sorted(classes)
    vocab = {t for c in classes for t in cnt[c]}
    V = len(vocab)
    want = {}
    for _id, text, label, is_train in rows:
        if is_train:
            continue
        toks = [t for t in text.split() if t]
        best, best_s = None, None
        for c in classes:
            den = tot[c] + V
            s = (
                sum((cnt[c][t] + 1) * K // den for t in toks) if den else 0
            )
            if best_s is None or s > best_s:
                best, best_s = c, s
        want[_id] = best
    assert got == want


@SLOW
@given(
    orders=st.lists(
        st.tuples(
            st.integers(1, 5000),  # rebate dollars -> cents directly
            st.lists(st.integers(1, 99999), min_size=1, max_size=6),  # line cents
        ),
        min_size=1,
        max_size=8,
    )
)
def test_rebate_proration_matches_python_largest_remainder(spark, orders):
    """Largest-remainder allocation recomputed exactly in python ints:
    per-order conservation AND identical per-line cents."""
    import pyspark.sql.functions as F
    from unittest import mock

    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark import (
        queries as QQ,
    )

    li_rows, o_rows, want = [], [], {}
    ln = 0
    for ok, (rebate_c, lines) in enumerate(orders, start=1):
        o_rows.append((ok, rebate_c / 1.0))  # o_totalprice dollars == cents rebate
        total = sum(lines)
        shares = [rebate_c * x // total for x in lines]
        rems = [rebate_c * x - s * total for x, s in zip(lines, shares)]
        left = rebate_c - sum(shares)
        order = sorted(
            range(len(lines)), key=lambda i: (-rems[i], i)
        )  # remainder desc, line number asc
        for j in order[:left]:
            shares[j] += 1
        assert sum(shares) == rebate_c  # conservation in the model itself
        for i, (x, s) in enumerate(zip(lines, shares), start=1):
            li_rows.append((ok, i, "F" if (ok + i) % 2 else "N", x / 100.0))
            want[(ok, i)] = s
    li = spark.createDataFrame(
        li_rows,
        "l_orderkey long, l_linenumber int, l_returnflag string,"
        " l_extendedprice double",
    )
    o = spark.createDataFrame(o_rows, "o_orderkey long, o_totalprice double")

    def fake_load(s, d, name):
        return {"lineitem": li, "orders": o}[name]

    with mock.patch.object(QQ.fixtures, "load", fake_load):
        got_rows = QQ.q_rebate_proration(spark, "unused").collect()
    got_by_flag = {r.returnflag: r.alloc_cents for r in got_rows}
    want_by_flag = {}
    for (ok, i), s in want.items():
        flag = "F" if (ok + i) % 2 else "N"
        want_by_flag[flag] = want_by_flag.get(flag, 0) + s
    assert got_by_flag == want_by_flag


@SLOW
@given(
    sigs=st.lists(
        st.integers(-(2**63), 2**63 - 1), min_size=0, max_size=24, unique=True
    )
)
def test_hamming_neardup_pairs_match_bruteforce(spark, sigs):
    """Pigeonhole banding over arbitrary 64-bit signatures returns
    EXACTLY the brute-force hamming<=3 pair set (recall by theorem,
    precision by the verify stage) -- including adversarial cases like
    all-equal and sign-bit-differing signatures."""
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.dedup import (  # noqa: E501
        hamming_neardup_pairs,
    )

    rows = list(enumerate(sigs))
    want = set()
    for i, (ia, a) in enumerate(rows):
        for ib, b in rows[i + 1:]:
            d = bin((a ^ b) & ((1 << 64) - 1)).count("1")
            if d <= 3:
                want.add((ia, ib, d))
    if not rows:
        got = set()
    else:
        df = spark.createDataFrame(rows, "_id long, sig long")
        got = {
            (r.doc_a, r.doc_b, r.hamming)
            for r in hamming_neardup_pairs(df).collect()
        }
    assert got == want


@pytest.mark.slow
@SLOW
@given(
    pts=st.sets(
        st.tuples(st.integers(0, 50), st.integers(0, 50)),
        min_size=1,
        max_size=30,
    )
)
def test_skyline_algebra_matches_dominance_definition(spark, pts):
    """The sort-based strict-prefix-min skyline == the quadratic
    dominance definition on random integer point sets (duplicates
    collapse upstream by construction of the set strategy)."""
    import pyspark.sql.functions as F

    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.prefix import (  # noqa: E501
        banded_cummin,
    )

    df = spark.createDataFrame(sorted(pts), "x long, y long")
    cum = banded_cummin(
        df, "y", [F.col("x").asc(), F.col("y").asc()],
        F.floor(F.col("x") / 8).cast("int"),
    )
    got = {
        (r.x, r.y)
        for r in cum.where(
            F.col("cum_min").isNull() | (F.col("cum_min") > F.col("y"))
        ).collect()
    }
    want = {
        p
        for p in pts
        if not any(
            q[0] <= p[0] and q[1] <= p[1] and q != p for q in pts
        )
    }
    assert got == want


@SLOW
@given(
    gaps=st.lists(st.integers(0, 40), min_size=0, max_size=25),
    cooldown=st.integers(1, 60),
)
def test_throttle_matches_python_greedy(spark, gaps, cooldown):
    """The batch throttle == the obvious python greedy scan on random
    alert sequences (bursts, exact-boundary gaps, empty input)."""
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.alerts import (  # noqa: E501
        throttle_alerts,
    )

    secs, acc = [], 0
    for g in gaps:
        acc += g
        secs.append(acc)
    rows = [(7, i, s) for i, s in enumerate(secs)]
    want, last = [], None
    for i, s in enumerate(secs):
        if last is None or s - last >= cooldown:
            want.append(i)
            last = s
    if not rows:
        got = []
    else:
        df = spark.createDataFrame(rows, "user_id long, event_id long, sec long")
        got = sorted(
            r.event_id
            for r in throttle_alerts(df, cooldown_s=cooldown).collect()
        )
    assert got == want


def test_alert_throttle_state_carries_across_arrow_batches(spark):
    """The r14 mapInPandas spelling carries (current key, last-kept
    sec) across Arrow batch boundaries inside a partition. Force
    2-row batches so every key straddles several batches: the kept
    set must equal the per-key python greedy exactly -- a reset at a
    batch boundary would re-keep suppressed rows mid-burst."""
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.alerts import (  # noqa: E501
        throttle_alerts,
    )

    # 3 users x 50 alerts, 40s apart -> with cooldown 100s the greedy
    # keeps every 3rd alert per user (t=0,120,240,...); 2-row Arrow
    # batches put ~25 batch boundaries inside each user's run
    rows = [
        (u, u * 1000 + i, 40 * i) for u in (1, 2, 3) for i in range(50)
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, sec long")
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        kept = sorted(
            (r.user_id, r.event_id)
            for r in throttle_alerts(df, cooldown_s=100).collect()
        )
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", old
            )
    # python greedy twin
    want = []
    for u in (1, 2, 3):
        last = None
        for i in range(50):
            sec = 40 * i
            if last is None or sec - last >= 100:
                want.append((u, u * 1000 + i))
                last = sec
    assert kept == sorted(want) and len(kept) == 3 * 17


@given(
    flows=st.lists(
        st.tuples(st.booleans(), st.integers(1, 20)), min_size=1, max_size=14
    )
)
@SLOW
def test_fifo_match_equals_two_pointer_model(spark, flows):
    """fifo_match == a pure-Python two-pointer FIFO simulation on one
    key: same (receipt_seq, issue_seq, qty) triples, any interleaving
    of receipts and issues."""
    import datetime as dt

    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.allocate import (  # noqa: E501
        fifo_match,
    )

    rows = [
        (1, qty, dt.date(2024, 1, 1) + dt.timedelta(days=i), i, 1, is_in)
        for i, (is_in, qty) in enumerate(flows)
    ]
    df = spark.createDataFrame(
        rows, "sku long, qty int, d date, ord long, line int, is_receipt boolean"
    )
    got = sorted(
        (r.in_ord, r.out_ord, r.matched_qty) for r in fifo_match(df).collect()
    )

    receipts = [(i, q) for i, (is_in, q) in enumerate(flows) if is_in]
    issues = [(i, q) for i, (is_in, q) in enumerate(flows) if not is_in]
    want = []
    ri = ii = 0
    r_left = receipts[0][1] if receipts else 0
    i_left = issues[0][1] if issues else 0
    while ri < len(receipts) and ii < len(issues):
        take = min(r_left, i_left)
        want.append((receipts[ri][0], issues[ii][0], take))
        r_left -= take
        i_left -= take
        if r_left == 0:
            ri += 1
            r_left = receipts[ri][1] if ri < len(receipts) else 0
        if i_left == 0:
            ii += 1
            i_left = issues[ii][1] if ii < len(issues) else 0
    assert got == sorted(want)


@given(
    pts=st.lists(
        st.tuples(st.integers(1, 50), st.integers(1, 9)),
        min_size=1,
        max_size=12,
    )
)
@SLOW
def test_weighted_median_rule_matches_python(spark, pts):
    """The lower-weighted-median rule (smallest value whose cumulative
    weight doubles past the total) recomputed in python against the
    same window spelling the query uses."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window as W

    df = spark.createDataFrame(
        [(v, w) for v, w in pts], "cents long, qty long"
    )
    agg = df.groupBy("cents").agg(F.sum("qty").alias("w"))
    win = W.orderBy("cents").rowsBetween(W.unboundedPreceding, W.currentRow)
    tot = agg.agg(F.sum("w").alias("tw"))
    got = (
        agg.withColumn("cw", F.sum("w").over(win))
        .crossJoin(tot)
        .where(F.col("cw") * 2 >= F.col("tw"))
        .agg(F.min("cents"))
        .first()[0]
    )
    import collections

    c = collections.Counter()
    for v, w in pts:
        c[v] += w
    total = sum(c.values())
    cum = 0
    for v in sorted(c):
        cum += c[v]
        if 2 * cum >= total:
            assert got == v
            break


@given(
    flows=st.lists(
        st.tuples(st.booleans(), st.integers(1, 20)), min_size=1, max_size=14
    )
)
@SLOW
def test_lifo_match_equals_reflected_two_pointer_model(spark, flows):
    """fifo_match(lifo=True) == the python periodic-LIFO model: issue
    units consume receipt units numbered from the END of the period's
    inflow (reflection), any interleaving."""
    import datetime as dt

    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.allocate import (  # noqa: E501
        fifo_match,
    )

    rows = [
        (1, qty, dt.date(2024, 1, 1) + dt.timedelta(days=i), i, 1, is_in)
        for i, (is_in, qty) in enumerate(flows)
    ]
    df = spark.createDataFrame(
        rows, "sku long, qty int, d date, ord long, line int, is_receipt boolean"
    )
    got = sorted(
        (r.in_ord, r.out_ord, r.matched_qty)
        for r in fifo_match(df, lifo=True).collect()
    )

    receipts = [(i, q) for i, (is_in, q) in enumerate(flows) if is_in]
    issues = [(i, q) for i, (is_in, q) in enumerate(flows) if not is_in]
    r_tot = sum(q for _, q in receipts)
    # reflected receipt intervals in consumption numbering
    refl = []
    hi = 0
    for i, q in receipts:
        hi += q
        refl.append((i, r_tot - hi, r_tot - (hi - q)))  # (ord, lo, hi)
    want = []
    lo_i = 0
    for i, q in issues:
        hi_i = lo_i + q
        for ro, rlo, rhi in refl:
            ov = min(rhi, hi_i) - max(rlo, lo_i)
            if ov > 0:
                want.append((ro, i, ov))
        lo_i = hi_i
    assert got == sorted(want)


# --- rounded-acceptance prefix alpha (r8 ADVICE: the accept filter is
# round(ratio,4) >= t, which admits overlaps one below ceil(t*m) on
# large docs; alpha must derive from the ROUNDED rule) ----------------


def _brute_min_accepted_overlap(m, num, den):
    """Exact-rational model of the accept filter: smallest k whose
    HALF_UP 4-digit rounding of k/m meets the double threshold."""
    from fractions import Fraction

    t_dbl = Fraction(num / den)  # the exact double the engine compares to
    for k in range(1, m + 1):
        rounded = Fraction((20000 * k + m) // (2 * m), 10_000)
        if Fraction(float(rounded)) >= t_dbl:
            return k
    return m + 1


def _prefix_alpha(spark, m: int, threshold: float) -> int:
    """The prefix filter's in-plan alpha for a document of m shingles."""
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.dedup import (
        _rounded_prefix_alpha_expr,
    )

    df = spark.createDataFrame([(m,)], "n_shingles int")
    return df.select(_rounded_prefix_alpha_expr(threshold)).first()[0]


@given(
    m=st.integers(min_value=3, max_value=200_000),
    frac=st.sampled_from(
        [(1, 2), (7, 10), (4, 5), (1, 4), (3, 4), (9, 10), (2, 3), (17, 20)]
    ),
)
@settings(max_examples=60, deadline=None)
def test_rounded_prefix_alpha_is_complete_and_tight(spark, m, frac):
    """alpha never exceeds the true minimum ROUNDED-accepted overlap
    (completeness: the prefix filter cannot prune an acceptable pair)
    and sits within the documented 1-shingle IEEE cushion of it
    (tightness: pruning power is not given away)."""
    num, den = frac
    alpha = _prefix_alpha(spark, m, num / den)
    # brute-force scan is O(m); confine it to a window around alpha
    lo = max(1, alpha - 3)
    from fractions import Fraction

    t_dbl = Fraction(num / den)
    k_min = None
    for k in range(lo, min(m, alpha + max(8, m // 1000 + 4)) + 1):
        rounded = Fraction((20000 * k + m) // (2 * m), 10_000)
        if Fraction(float(rounded)) >= t_dbl:
            k_min = k
            break
    assert k_min is not None, "no accepted overlap near alpha"
    assert alpha <= k_min, f"alpha {alpha} would prune accepted overlap {k_min}"
    assert alpha >= k_min - 1, f"alpha {alpha} gives away >1 below {k_min}"


def test_rounded_prefix_alpha_r8_advice_scenario(spark):
    """The exact scenario from the r8 advice: t=0.7, m=20000 -- the
    pair with overlap 13999 (ratio 0.69995, rounds to 0.7000) is
    ACCEPTED by the filter but ceil(t*m)=14000 would prune it."""
    assert _brute_min_accepted_overlap(20_000, 7, 10) == 13_999
    assert _prefix_alpha(spark, 20_000, 0.7) <= 13_999
    # and the old exact-threshold alpha really was wrong
    assert -(-7 * 20_000 // 10) == 14_000
