"""Round-10 additions: DF-aware containment routing (the r9 VERDICT's
one perf-weak row) and this round's new operators."""

import pytest
from pyspark.sql import functions as F

from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.plans import (
    fixtures,
)

SF = "/root/testdata/sf0.001"


def _hot_corpus(spark):
    """40 docs sharing a boilerplate header: two shingles at DF=40 --
    the corpus the prefix filter exists for (same planting as
    test_round8_queries.test_prefix_containment_defuses_hot_shingle,
    plus one genuine containment pair so the route has signal)."""
    rows = [
        (i, "terms of service apply " + f"u{i}a u{i}b u{i}c u{i}d u{i}e")
        for i in range(40)
    ]
    # doc 100 is a strict prefix of doc 0's text: contained at 1.0
    rows.append((100, "terms of service apply u0a u0b u0c"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _pairs(df):
    return {(r.doc_a, r.doc_b, r.containment) for r in df.collect()}


def test_containment_router_output_is_route_independent(spark):
    """Forcing either route must produce the identical directional
    pair set -- on a hot corpus (prefix's home turf) AND on the real
    sf0.001 documents (raw's home turf). The raw route is lossless by
    definition and the prefix route by theorem; this pins that the
    refactored shared tail keeps the contract."""
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.dedup import (  # noqa: E501
        containment_pairs,
    )

    for docs in (
        _hot_corpus(spark),
        fixtures.fan_out(fixtures.load(spark, SF, "documents")),
    ):
        raw = _pairs(containment_pairs(docs, max_df_raw_route=10**9))
        pref = _pairs(containment_pairs(docs, max_df_raw_route=0))
        routed = _pairs(containment_pairs(docs))
        assert raw == pref == routed and raw


def test_containment_router_picks_the_right_regime(spark):
    """The hot corpus (max DF 40+) must clear the default gate into
    the prefix route; the generator corpus (max DF 7 at sf0.01) must
    stay raw. The decision itself is a pure function of the measured
    max document frequency -- pin both the measurement and the
    decision."""
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.functions.text import (  # noqa: E501
        tokens,
        word_ngrams,
    )
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.dedup import (  # noqa: E501
        _containment_route,
    )

    def max_df(docs):
        ex = docs.where(F.size(tokens("text")) >= 3).select(
            F.explode(word_ngrams("text", 3)).alias("shingle")
        )
        return (
            ex.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .agg(F.max("df"))
            .first()[0]
        )

    hot = max_df(_hot_corpus(spark))
    assert hot >= 40
    assert _containment_route(hot, 32) == "prefix"

    benign = max_df(
        fixtures.fan_out(fixtures.load(spark, "/root/testdata/sf0.01", "documents"))
    )
    assert benign <= 32
    assert _containment_route(benign, 32) == "raw"


def test_containment_router_boundary_pair_on_raw_route(spark):
    """The exact c = 0.8 boundary pair must survive the RAW route too
    (the r8 boundary test covers the prefix route): the rounded
    acceptance rule lives in the shared tail, not in either route."""
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.dedup import (  # noqa: E501
        containment_pairs,
    )

    d1 = "w1 w2 w3 w4 w5 w6 w7"
    d2 = "w1 w2 w3 w4 w5 w6 x1 x2 x3 x4 x5 x6 x7 x8"
    d3 = "w1 w2 w3 w4 w5 y1 y2 y3 y4 y5 y6 y7 y8 y9"
    docs = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3)], "doc_id long, text string"
    )
    got = {(r.doc_a, r.doc_b): r.containment for r in containment_pairs(docs).collect()}
    assert got[(1, 2)] == 0.8
    assert (1, 3) not in got and (3, 1) not in got


def _emb(spark):
    return fixtures.load(spark, SF, "embeddings")


def _codes_set(spark, idx):
    return {
        (r._id, tuple(r.codes), r.cluster)
        for r in spark.read.parquet(f"{idx}/codes").collect()
    }


@pytest.mark.slow
def test_pq_append_encodes_under_existing_codebook(spark, tmp_path):
    """append(build(A), B) must produce EXACTLY the codes that a
    one-shot encode of A+B under A's codebook would: the codebook and
    coarse centroids are immutable across appends (FAISS add
    semantics), so an index trained on A and grown with B equals an
    index trained on A whose codes table covers A+B."""
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.similarity import (  # noqa: E501
        append_to_pq_index,
        build_pq_index,
    )

    emb = _emb(spark)
    mid = emb.approxQuantile("vec_id", [0.5], 0.0)[0]
    a = emb.where(F.col("vec_id") <= mid)
    b = emb.where(F.col("vec_id") > mid)

    grown = str(tmp_path / "grown")
    build_pq_index(a, grown)
    before = _codes_set(spark, grown)
    stats = append_to_pq_index(b, grown)
    assert stats["n_appended"] == b.count() and stats["seq"] == 1

    # books/centroids unchanged by the append
    ref = str(tmp_path / "ref")
    build_pq_index(a, ref)
    for art in ("codebooks", "centroids"):
        assert sorted(
            map(tuple, spark.read.parquet(f"{grown}/{art}").collect())
        ) == sorted(map(tuple, spark.read.parquet(f"{ref}/{art}").collect()))

    # appended codes == direct encode of B under A's artifacts
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.similarity import (  # noqa: E501
        _ivf_assign,
        _l2_normalized,
        _load_pq_artifacts,
        _pq_encode,
        _pq_subframe,
    )
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.functions.vectors import (  # noqa: E501
        as_double_array,
    )

    books, cents, m, sub = _load_pq_artifacts(spark, ref)
    en = _l2_normalized(
        b.select(F.col("vec_id").alias("_id"), as_double_array("embedding").alias("_v"))
    )
    want_new = {
        (r._id, tuple(r.codes), r.cluster)
        for r in _pq_encode(_pq_subframe(en, m, sub), books, m)
        .join(_ivf_assign(en, cents).select("_id", "cluster"), "_id")
        .collect()
    }
    assert _codes_set(spark, grown) == before | want_new and want_new


@pytest.mark.slow
def test_pq_append_is_associative_and_idempotent_to_read(spark, tmp_path):
    """Two half-appends == one full append (codes-set equality), and a
    crash-retried DOUBLE append changes nothing the serve path can
    see: dropDuplicates(_id) makes reads exactly-once over the
    at-least-once append."""
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.similarity import (  # noqa: E501
        append_to_pq_index,
        build_pq_index,
        pq_index_topk,
    )

    emb = _emb(spark)
    qs = emb.approxQuantile("vec_id", [0.4, 0.7], 0.0)
    a = emb.where(F.col("vec_id") <= qs[0])
    b1 = emb.where((F.col("vec_id") > qs[0]) & (F.col("vec_id") <= qs[1]))
    b2 = emb.where(F.col("vec_id") > qs[1])

    split, whole = str(tmp_path / "split"), str(tmp_path / "whole")
    build_pq_index(a, split)
    build_pq_index(a, whole)
    append_to_pq_index(b1, split)
    append_to_pq_index(b2, split)
    append_to_pq_index(b1.unionByName(b2), whole)
    assert _codes_set(spark, split) == _codes_set(spark, whole)

    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).first().embedding]
    once = pq_index_topk(spark, whole, qv, k=10, embeddings=emb).collect()
    append_to_pq_index(b2, split)  # simulated crash-retry double append
    dup = pq_index_topk(spark, split, qv, k=10, embeddings=emb).collect()
    assert dup == once
    assert len({r.vec_id for r in dup}) == 10  # no id served twice


def test_pq_index_append_query_contract(spark):
    """The rows-only entry: 10 rows, deterministic, self is top-1 (the
    query vector sits in the TRAINED half, served alongside appended
    codes)."""
    import __spark_entry__ as entry

    q = entry.queries()["pq_index_append_topk"]
    rows = q(spark, SF).collect()
    assert len(rows) == 10
    assert rows[0].vec_id == 0 and rows[0].score == 1.0
    assert rows == q(spark, SF).collect()
