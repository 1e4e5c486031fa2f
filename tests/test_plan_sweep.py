"""Engine-wide physical-plan invariants: EVERY queries() entry is swept
for the anti-patterns that melt at 100TB. Exceptions are an explicit
allow-list with the reason recorded, so a regression (a new cartesian
product, a Python boundary sneaking into a JVM path) fails loudly."""

import contextlib
import io

import pytest

import __spark_entry__ as entry

from conftest import TESTDATA

#: queries allowed to contain a nested-loop/cartesian stage, and why
NESTED_LOOP_OK = {
    "embed_neardup",  # exact all-pairs ground truth by design (scale path: embed_neardup_lsh)
    "label_centroid_sim",  # 10x1 broadcast cross join against the reference centroid
    "sim_topk",  # scan x 1-row literal query vector
    "ann_recall",  # composes the paired rungs incl. sim_topk's 1-row query-vector cross join (r14 conversion)
    "idle_rich_customers",  # 1-row scalar-aggregate broadcast (decorrelated scalar subquery)
    "customer_spend_quartiles_approx",  # 1-row broadcast of approx cut points
    "bm25_search",  # 1-row broadcast of (N, avg_dl) corpus stats
    "important_part_values",  # 1-row global-total broadcast gate (r4 de-windowed Q11)
    "top_revenue_supplier",  # 1-row max-revenue broadcast gate (r4 de-windowed Q15)
    "mixture_weights",  # two 1-row scalar broadcasts (corpus total, weight total)
    "lm_score",  # 1-row corpus-token-total broadcast gate
    "key_skew_profile",  # 1-row (total, n_keys) broadcast gate
    "embed_contamination",  # tiny benchmark side broadcast x corpus (exact verify; LSH path for big benches)
    "source_quality_drift",  # 1-row (global sum, count) broadcast gate
    "token_dist_drift",  # 1-row corpus-token-total (N_c) broadcast gate
    "tfidf_keywords",  # 1-row corpus-doc-count (N) broadcast gate
    "epoch_shuffle",  # 2-row epoch-axis broadcast
    "brand_segment_chi2",  # 1-row grand-total broadcast gate (chi2 expected counts)
    "basket_rules",  # 1-row order-total broadcast gate (support/lift denominators)
    "domain_classifier",  # 1-row vocab-size broadcast gate (Laplace denominators)
    "benford_screen",  # 1-row total-count broadcast gate (digit shares)
    "price_endings",  # 1-row total-count broadcast gate (ending shares)
    "collocation_lift",  # 1-row (N_uni, N_bi) corpus-total broadcast gate
    "basket_size_histogram",  # 1-row order-total broadcast gate (cell shares)
    "monthly_seasonality",  # 1-row quantity-total broadcast gate (index denominator)
    "discount_depth_profile",  # 1-row (line, revenue) totals broadcast gate
    "token_frequency_spectrum",  # 1-row corpus-mass broadcast gate
    "weekday_revenue_profile",  # 1-row (orders, revenue) totals broadcast gate
    "abc_migration",  # per-half 1-row revenue-total gates (the abc_classification shape, twice)
    "pq_index_topk",  # 1-row ADC codebook-literal gate over pruned codes
    "lorenz_curve",  # 1-row revenue-total broadcast gate (share denominators)
    "token_burstiness",  # 1-row corpus-doc-count (N) broadcast gate
    "inventory_aging",  # 1-row latest-ship-date broadcast gate (age origin)
    "customer_quartile_migration",  # 1-row timeline-midpoint broadcast gate
    "dormancy_by_segment",  # 1-row horizon (max order date) broadcast gate
    "sentence_length_profile",  # 1-row sentence-total broadcast gate (shares)
    "part_size_mix",  # 1-row (qty, cents) totals broadcast gate (shares)
    "event_dow_hour_matrix",  # 1-row event-total broadcast gate (shares)
    "label_balance",  # 1-row vector-total broadcast gate (shares)
    "weekly_zchart",  # 1-row horizon (max week) broadcast gate
    "token_length_histogram",  # 1-row token-total broadcast gate (shares)
    "supplier_nation_load",  # 1-row revenue-total broadcast gate (shares)
    "embedding_outliers",  # 1-row (N, ||s||^2) centroid-stats broadcast gate
    "stock_cover_days",  # 1-row corpus-horizon broadcast gate
    "part_supplier_breadth",  # 1-row revenue-total broadcast gate (shares)
    "customer_dow_habit",  # 1-row customer-total broadcast gate (shares)
    "session_size_histogram",  # 1-row session-total broadcast gate (shares)
    "user_activity_deciles",  # 1-row (events, cents) totals broadcast gate
    "customer_brand_breadth",  # 1-row revenue-total broadcast gate (shares)
    "user_entry_exit_matrix",  # 1-row user-total broadcast gate (shares)
    "dau_anomaly_days",  # 1-row (n, s, s2) day-stats broadcast gate
    "annual_customer_retention",  # 1-row last-year broadcast gate
    "priority_value_profile",  # 1-row revenue-total broadcast gate (shares)
    "corpus_ingestion_drift",  # 1-row max-doc-id broadcast gate (decile edges)
    "lang_source_lift",  # 1-row corpus-total broadcast gate (lift denominator)
    "event_mix_drift",  # 1-row corpus-total broadcast gate (TVD denominator)
    "sku_velocity_quadrant",  # 1-row (medians, total) broadcast gate (quadrant edges)
    "quantity_uniformity_screen",  # 1-row (total, n_bins) broadcast gate (chi2 expectation)
    "day_of_month_profile",  # 1-row revenue-total broadcast gate (shares)
    "lang_label_lift",  # 1-row corpus-total broadcast gate (lift denominator)
    "open_order_aging",  # 1-row horizon (max order date) broadcast gate
    "brand_order_penetration",  # 1-row order-total broadcast gate (penetration)
    "brand_volume_value_mix",  # 1-row (qty, cents) totals broadcast gate (mix shares)
    "brand_copurchase_pairs",  # 1-row order-total broadcast gate (lift denominator)
    "big_order_brand_mix",  # 1-row p90-edge + 1-row pool-totals broadcast gates
    "first_day_activity_mix",  # 1-row day-zero-total broadcast gate (shares)
    "nation_discount_gap",  # 1-row global-mean broadcast gate (gap baseline)
    "int8_cosine_topk",  # 1-row global-query-norm broadcast gate (r13 item #2)
    "brand_weekend_mix",  # 1-row global-weekend-share broadcast gate (gap baseline)
}

#: queries allowed a GLOBAL (partition-less / single-partition) window,
#: and why. Two sanctioned shapes only: (a) global NTILE/rank AT
#: AGGREGATE GRAIN -- the sorted frame is one row per customer/order/
#: user, orders of magnitude below the fact tables, and exact global
#: quantile assignment genuinely needs one sorted pass (the documented
#: scale path beyond ~1e9 keys is approx percentile cuts, see
#: customer_spend_quartiles_approx); (b) CALENDAR-bounded frames whose
#: row count grows with the timeline, not the data (a century is
#: ~36.5k rows). Anything else funneling through one task is a bug
#: (r10 ADVICE: track the exception mechanically, not in docstrings).
GLOBAL_WINDOW_OK = {
    "customer_spend_quartiles",  # NTILE(4) at per-customer aggregate grain
    "rfm_segments",  # 3x NTILE(5) at per-customer aggregate grain
    "spend_latency_bias",  # NTILE(10) at per-customer aggregate grain
    "value_priority_matrix",  # NTILE(10) at per-order aggregate grain
    "customer_quartile_migration",  # per-half NTILE(4) at customer grain
    "lorenz_curve",  # NTILE(10) + cumulative share at per-order grain
    "user_activity_deciles",  # NTILE(10) at per-user aggregate grain
    "event_calendar_gaps",  # LAG over distinct active DAYS (calendar-bounded)
}

#: queries allowed an Arrow-batched Python stage, and why
PYTHON_OK = {
    "multimodal_features",  # sanctioned mapInPandas binary-feature boundary
    "image_dims",  # sanctioned mapInPandas payload-synth + header-decode boundary
    "image_dims_jpeg",  # sanctioned mapInPandas JFIF-synth + SOF-decode boundary
    "minhash_ml_pairs",  # pyspark.ml MinHashLSH internals
    # ann_topk / ivf_topk / embed_neardup_lsh: de-listed in r13 -- the
    # pinned-family conversions are pure DataFrame arithmetic, no
    # Python stage left
    "audio_meta",  # sanctioned mapInPandas payload-synth + RIFF-decode boundary
    "frame_meta",  # sanctioned mapInPandas payload-synth + GIF-walk boundary
    "image_phash_neardup",  # sanctioned mapInPandas payload-synth + pixel-decode + aHash boundary
    "alert_throttle",  # sanctioned applyInPandas ordered-per-key greedy scan (not window-expressible)
    "semantic_dedup",  # sanctioned applyInPandas per-cluster greedy prune (SemDeDup recipe)
    "heavy_hitter_tokens",  # sanctioned mapInPandas Misra-Gries candidate summaries
}

#: index-building entries whose sweep belongs to the slow tier
SLOW = {"pq_index_topk", "pq_index_append_topk"}
QUERIES = [
    pytest.param(n, marks=pytest.mark.slow) if n in SLOW else n
    for n in sorted(entry.queries())
]


@pytest.mark.parametrize("name", QUERIES)
def test_no_silent_antipatterns(spark, name):
    df = entry.queries()[name](spark, TESTDATA)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    if name not in NESTED_LOOP_OK:
        for node in ("CartesianProduct", "BroadcastNestedLoopJoin"):
            assert node not in plan, f"{name}: unexpected {node}"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"
    if name not in PYTHON_OK:
        for node in ("ArrowEvalPython", "MapInPandas"):
            assert node not in plan, f"{name}: unexpected Python stage {node}"
    if name not in GLOBAL_WINDOW_OK:
        import re as _re

        for m in _re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
            args = [a.strip() for a in m.group(1).split(",")]
            part = [a for a in args if _re.fullmatch(r"\w+#\d+L?", a)]
            assert part, (
                f"{name}: partition-less (global) window -- funnels the "
                "frame through one task; partition it or add to "
                "GLOBAL_WINDOW_OK with the bounded-grain reason"
            )
    # OUTPUT contract: no DECIMAL columns, ever. DECIMAL is welcome
    # INSIDE a plan (exact money/token accumulation) but the external
    # hasher canonicalizes DECIMAL cells differently across engines --
    # the ONLY red driver hashes ever recorded (lm_score r04/r05,
    # returnflag_unpivot r06) were DECIMAL outputs with bit-exact
    # values. Terminal cast to DOUBLE/BIGINT/STRING on both sides.
    dec_cols = [
        f.name
        for f in df.schema.fields
        if "decimal" in f.dataType.simpleString()
    ]
    assert not dec_cols, (
        f"{name}: DECIMAL output column(s) {dec_cols} -- cast to "
        "double/bigint/string at the output boundary (driver-hasher "
        "canonicalization is not cross-engine stable for DECIMAL)"
    )
