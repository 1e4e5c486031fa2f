"""Smoke for queries with no SQL oracle (seeded hash families): they
must run, return stable schemas, and be deterministic across invocations."""

import pytest

import __spark_entry__ as entry

from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark import (
    queries as Q,
)

from conftest import ORACLE_SF


def test_minhash_pairs_runs_and_deterministic(spark):
    q = entry.queries()["minhash_pairs"]
    a = sorted(map(tuple, q(spark, ORACLE_SF).collect()))
    b = sorted(map(tuple, q(spark, ORACLE_SF).collect()))
    assert a == b
    for doc_a, doc_b, j in a:
        assert doc_a < doc_b
        assert 0.0 <= j <= 1.0


def test_ann_topk_runs_and_overlaps_exact(spark):
    # oracle-paired since r13 (pinned sign-RP family); this test keeps
    # the APPROXIMATION-QUALITY contract the hash-check can't express:
    # self-match first and decent overlap with the exact top-10
    qs = entry.queries()
    ann = qs["ann_topk"](spark, ORACLE_SF).collect()
    assert 0 < len(ann) <= 10
    assert ann[0].asDict().keys() == {"vec_id", "dot_q", "score"}
    # the query vector itself must be its own nearest neighbor
    assert ann[0].vec_id == 0 and ann[0].score == 1.0
    # ANN should recover a decent chunk of the exact top-10
    exact = {r.vec_id for r in qs["sim_topk"](spark, ORACLE_SF).collect()}
    got = {r.vec_id for r in ann}
    assert len(exact & got) >= 3


def test_ivf_topk_recall_vs_brute_force(spark):
    qs = entry.queries()
    ivf = qs["ivf_topk"](spark, ORACLE_SF).collect()
    assert len(ivf) == 10
    # self-match first: query vec is vec_id 0
    assert ivf[0].vec_id == 0
    exact = {r.vec_id for r in qs["sim_topk"](spark, ORACLE_SF).collect()}
    got = {r.vec_id for r in ivf}
    # nprobe=4/nlist=16 probes a quarter of the space; expect most of top-10
    assert len(exact & got) >= 5
    # deterministic across runs (fixed init + tie-broken argmin)
    again = qs["ivf_topk"](spark, ORACLE_SF).collect()
    assert [r.vec_id for r in ivf] == [r.vec_id for r in again]


def test_approx_distinct_tracks_exact(spark):
    qs = entry.queries()
    exact = {
        r.day: r.n_users for r in qs["daily_active_users"](spark, ORACLE_SF).collect()
    }
    approx = {
        r.day: r.n_users_approx
        for r in qs["daily_active_users_approx"](spark, ORACLE_SF).collect()
    }
    assert approx.keys() == exact.keys()
    for day, n in exact.items():
        assert abs(approx[day] - n) <= max(2, 0.1 * n), (day, n, approx[day])


def test_stratified_sample_proportions_and_determinism(spark):
    qs = entry.queries()
    got = {r.lang: r.n_docs for r in qs["stratified_sample"](spark, ORACLE_SF).collect()}
    again = {r.lang: r.n_docs for r in qs["stratified_sample"](spark, ORACLE_SF).collect()}
    assert got == again  # seeded => identical across runs
    full = {
        r.lang: r.n_docs
        for r in entry.queries()["lang_rollup"](spark, ORACLE_SF).collect()
    }
    # non-en strata pass through whole; en is downsampled to ~50%
    for lang, n in full.items():
        if lang == "en":
            assert 0.2 * n <= got.get("en", 0) <= 0.8 * n, (got.get("en"), n)
        else:
            assert got.get(lang, 0) == n


def test_embed_neardup_lsh_recall_and_precision(spark):
    qs = entry.queries()
    exact = {
        (r.vec_a, r.vec_b) for r in qs["embed_neardup"](spark, ORACLE_SF).collect()
    }
    lsh_rows = qs["embed_neardup_lsh"](spark, ORACLE_SF).collect()
    got = {(r.vec_a, r.vec_b) for r in lsh_rows}
    # every candidate is exactly distance-verified => no false positives
    assert got <= exact
    # bucketed join should still recover most true pairs
    assert len(got) >= len(exact) * 0.6


def test_quantile_sketch_tracks_exact(spark):
    """The GK sketch guarantees RANK error (<= 1/accuracy), not value
    error: for each reported quantile q, the fraction of values at or
    below the sketch's answer must sit within 1% of q (value-level
    comparison would be wrong -- the sketch returns a real data point
    while the exact form interpolates between points)."""
    from pyspark.sql import functions as F

    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.plans import (
        fixtures,
    )

    qs = entry.queries()
    approx = {
        r.event_type: (r.p50_approx, r.p90_approx, r.p99_approx)
        for r in qs["value_quantile_sketch"](spark, ORACLE_SF).collect()
    }
    assert len(approx) == 5
    ev = fixtures.events(spark, ORACLE_SF).select("event_type", "value").cache()
    try:
        for et, answers in approx.items():
            vals = ev.where(F.col("event_type") == et)
            n = vals.count()
            for q, a in zip((0.5, 0.9, 0.99), answers):
                rank = vals.where(F.col("value") <= a).count() / n
                # rounding the reported value to 4dp can only move the
                # achieved rank by the ties at that value; 1% + one row
                # of slack covers both that and the sketch's own bound
                assert abs(rank - q) <= 0.01 + 1.0 / n, (et, q, a, rank)
    finally:
        ev.unpersist()


def test_spend_quartiles_approx_tracks_exact(spark):
    """The approx (cut-point) quartile bucketing must stay close to the
    exact global-NTILE form: same total customer count, and per-bucket
    population drift bounded by ties at the cut points."""
    qs = entry.queries()
    exact = {r.quartile: r.n_customers for r in qs["customer_spend_quartiles"](spark, ORACLE_SF).collect()}
    approx = {r.quartile: r.n_customers for r in qs["customer_spend_quartiles_approx"](spark, ORACLE_SF).collect()}
    assert sum(exact.values()) == sum(approx.values())  # every customer bucketed once
    assert set(approx) <= {1, 2, 3, 4}
    total = sum(exact.values())
    for q in (1, 2, 3, 4):
        # percentile_approx with accuracy=10k is near-exact at this SF;
        # allow 2% of customers to sit on the other side of a tie
        assert abs(exact.get(q, 0) - approx.get(q, 0)) <= max(2, total * 0.02)
    # deterministic across runs
    again = {r.quartile: r.n_customers for r in qs["customer_spend_quartiles_approx"](spark, ORACLE_SF).collect()}
    assert approx == again


def test_dau_sketch_merge_lossless_and_tracks_exact(spark):
    """Sketch-merge contract: the union of per-day HLL sketches must
    give the SAME estimate as sketching the whole month directly
    (merge is exact w.r.t. sketch state -- the property that makes
    per-partition sketch storage sound), and the estimate must track
    the exact distinct count within HLL's error bound."""
    import __spark_entry__ as entry
    from pyspark.sql import functions as F

    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.plans import (
        fixtures,
    )

    from conftest import TESTDATA

    merged = {
        r.month: r.est_users
        for r in entry.queries()["dau_sketch_merge"](spark, TESTDATA).collect()
    }
    ev = fixtures.events(spark, TESTDATA)
    mo = ev.select(
        F.date_trunc("month", "ts").cast("date").alias("month"), "user_id"
    )
    direct = {
        r.month: r.est
        for r in mo.groupBy("month")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est"))
        .collect()
    }
    exact = {
        r.month: r["count"]
        for r in mo.distinct().groupBy("month").count().collect()
    }
    assert merged == direct, (merged, direct)  # merge losslessness
    for m, est in merged.items():
        assert abs(est - exact[m]) / exact[m] < 0.05, (m, est, exact[m])


def test_pagerank_query_deterministic_and_ranked(spark):
    """q_pagerank: stable across invocations (integer fixed-point),
    top-50 ordered by (rank desc, part), all ranks positive."""
    q = entry.queries()["pagerank"]
    a = [tuple(r) for r in q(spark, ORACLE_SF).collect()]
    b = [tuple(r) for r in q(spark, ORACLE_SF).collect()]
    assert a == b
    assert 0 < len(a) <= 50
    ranks = [r for _, r in a]
    assert ranks == sorted(ranks, reverse=True)
    assert all(r > 0 for r in ranks)


@pytest.mark.slow
def test_weighted_sample_deterministic_pps_and_zero_weight_excluded(spark):
    """Sequential-Poisson contract (oracle-paired since r13; this test
    keeps the SAMPLING-QUALITY properties the hash-check can't
    express): (a) same seed => identical sample under any
    partitioning; (b) exactly k rows; (c) heavier docs win more seats
    across seeds (PPS monotonicity at 10x weight); (d) empty docs never
    appear."""
    import tempfile

    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark import (
        queries as Q,
    )

    q = entry.queries()["weighted_sample"]
    a = [tuple(r) for r in q(spark, ORACLE_SF).collect()]
    b = [tuple(r) for r in q(spark, ORACLE_SF).collect()]
    assert a == b and len(a) == 100
    assert all(r[1] > 0 for r in a)

    # planted PPS check: ids 0..19 weight ~10 tokens, ids 100..119 weight 1
    heavy = [(i, "w " * 10) for i in range(20)]
    light = [(100 + i, "w") for i in range(20)]
    empty = [(500, " ")]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            heavy + light + empty, "doc_id long, text string"
        ).write.parquet(f"{d}/documents.parquet")
        heavy_seats = light_seats = 0
        for seed in range(30):
            got = {r.doc_id for r in Q.q_weighted_sample(spark, d, k=10, seed=seed).collect()}
            assert 500 not in got
            heavy_seats += sum(1 for g in got if g < 100)
            light_seats += sum(1 for g in got if g >= 100)
    assert heavy_seats > light_seats * 2, (heavy_seats, light_seats)


def test_ann_recall_reports_every_path_above_floor(spark):
    rows = {r.method: r for r in entry.queries()["ann_recall"](spark, ORACLE_SF).collect()}
    assert set(rows) == {"lsh", "ivf", "int8"}
    for m, r in rows.items():
        assert r.k == 10 and 0 <= r.hits <= 10
        assert r.recall == round(r.hits / 10.0, 6)
    # floors matching the per-path overlap tests
    assert rows["int8"].hits >= 8
    assert rows["ivf"].hits >= 5
    assert rows["lsh"].hits >= 3


def test_pq_index_survives_tiny_corpus(spark, tmp_path):
    """A corpus smaller than ksub must still train (codebooks seeded by
    whatever exists) and serve every vector ranked."""
    import pyspark.sql.functions as F

    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.similarity import (  # noqa: E501
        build_pq_index,
        pq_index_topk,
    )

    emb = spark.range(5).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda i: (F.col("id") * 7 + i).cast("double") / 100.0,
        ).alias("embedding"),
    )
    q = [float(i) / 100.0 for i in range(64)]  # == vec 0
    idx = str(tmp_path / "pq_tiny")
    build_pq_index(emb, idx, ksub=16, nlist=2)
    rows = pq_index_topk(spark, idx, q, k=5, nprobe=2, embeddings=emb).collect()
    assert len(rows) == 5 and rows[0].vec_id == 0


@pytest.mark.slow
def test_semantic_dedup_contract_and_planted_duplicates(spark):
    """sf data: every vector dispositioned exactly once, deterministic
    rerun (the random corpus has no cosine>0.95 pairs, so all keep --
    asserted, since silent over-dropping would be the failure mode).
    Planted: exact and near duplicates drop (lowest id kept),
    orthogonal vectors survive, even across a duplicate chain."""
    qs = entry.queries()
    rows = qs["semantic_dedup"](spark, ORACLE_SF).collect()
    emb_n = 500
    assert sum(r.n_vectors for r in rows) == emb_n
    assert sum(r.n_kept for r in rows) == emb_n  # no 0.95-neighbors here
    assert rows == qs["semantic_dedup"](spark, ORACLE_SF).collect()

    import pyspark.sql.functions as F  # noqa: F401

    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.similarity import (  # noqa: E501
        semantic_dedup,
    )

    base = [1.0] + [0.0] * 63
    near = [1.0, 0.05] + [0.0] * 62  # cos ~0.9988 > 0.95
    orth = [0.0, 1.0] + [0.0] * 62
    far = [0.6, 0.8] + [0.0] * 62  # cos 0.6 to base, 0.8 to orth
    planted = spark.createDataFrame(
        [(0, base), (1, near), (2, base), (3, orth), (4, far)],
        "vec_id long, embedding array<double>",
    )
    got = {
        r.vec_id: r.kept
        for r in semantic_dedup(planted, threshold=0.95, nlist=1, iters=1).collect()
    }
    assert got == {0: True, 1: False, 2: False, 3: True, 4: True}


def test_semantic_dedup_output_schema_follows_id_col(spark):
    """The output id column carries the CALLER's name and Spark type
    (a hardcoded 'vec_id bigint' schema would mislabel or Arrow-cast
    string ids)."""
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.similarity import (  # noqa: E501
        semantic_dedup,
    )

    base = [1.0] + [0.0] * 7
    near = [1.0, 0.05] + [0.0] * 6
    orth = [0.0, 1.0] + [0.0] * 6
    planted = spark.createDataFrame(
        [("doc-a", base), ("doc-b", near), ("doc-c", orth)],
        "doc_key string, emb array<double>",
    )
    out = semantic_dedup(
        planted, threshold=0.95, nlist=1, iters=1,
        id_col="doc_key", vec_col="emb",
    )
    assert out.columns == ["doc_key", "cluster", "kept"]
    assert dict(out.dtypes)["doc_key"] == "string"
    got = {r.doc_key: r.kept for r in out.collect()}
    assert got == {"doc-a": True, "doc-b": False, "doc-c": True}


def test_pq_index_topk_contract(spark):
    """Driver-surface entry: lazily builds the persisted IVF-PQ index
    under .fixtures and serves deterministic exact-re-ranked top-10
    with the query vector itself ranked first."""
    qs = entry.queries()
    rows = qs["pq_index_topk"](spark, ORACLE_SF).collect()
    assert len(rows) == 10
    assert rows[0].vec_id == 0 and rows[0].score == 1.0
    assert rows == qs["pq_index_topk"](spark, ORACLE_SF).collect()
