"""SQL front-end parity: for the ANSI-portable queries, the SAME SQL
string the DuckDB oracle runs must run verbatim through spark.sql over
registered views and produce exactly the DataFrame API's result --
one definition, three engines/paths agreeing."""

import pytest

import __spark_entry__ as entry
from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.sql import (
    register_views,
)

from conftest import TESTDATA, normalized_rows

#: oracle SQL that runs VERBATIM on Spark as well -- either pure ANSI
#: or via the DuckDB-name compat shims ``sql.register_compat_functions``
#: installs (sha256/epoch/json_extract_string/isodow: SQL UDFs that
#: compile to JVM expressions, shimmable because Spark has no builtin
#: of that name). Still excluded, with reasons: ASOF JOIN (DuckDB-only
#: syntax); quantile_cont (aggregate -- SQL UDFs are scalar-only) and
#: the list_*/unnest lambda family (lambda-taking functions cannot be
#: aliased, and Spark resolves builtins before temp functions so
#: same-name/different-semantics builtins like dayofweek or len(list)
#: cannot be shadowed); HUGEINT (DECIMAL(38,0) multiply would overflow
#: DuckDB's width-38 cap); regexp_replace 'g' flag (Spark is global by
#: default, 4th arg is position); PIVOT/QUALIFY dialect forms; [] list
#: literals and 1-based indexing; // integer division; read_parquet/
#: read_json_auto table functions (the versioned-fixture oracles).
PORTABLE = [
    "market_share",
    "nation_profit",
    "order_priority_check",
    "disjunctive_revenue",
    "supplier_variety",
    "priority_class_lines",
    "local_supplier_revenue",
    "returned_item_customers",
    "promo_revenue_share",
    "region_revenue",
    "weekly_retention",
    # round 4 expansion: every remaining oracle string that parses on
    # Spark verbatim and 3-way agrees (DataFrame == spark.sql == DuckDB)
    "image_dims",
    "pricing_summary",
    "top_customers",
    "parts_above_brand_avg",
    "sales_grouping_sets",
    "nation_trade_volume",
    "revenue_forecast",
    "shipping_priority",
    "customer_spend_quartiles",
    "events_daily_from_hourly",
    "daily_active_users",
    "orders_in_promos",
    "top_part_per_brand",
    "lang_rollup",
    "doclen_histogram",
    "sole_late_supplier",
    "idle_rich_customers",
    "order_count_distribution",
    "sales_rollup",
    "sales_cube",
    "cust_no_orders",
    "parts_ordered_semi",
    "customer_setops",
    "min_cost_supplier",
    "important_part_values",
    "top_revenue_supplier",
    "bulk_red_shippers",
    "source_quota_sample",
    "small_qty_revenue",
    "large_volume_customers",
    # round-4 queries whose oracles are ANSI-portable
    "mixture_weights",
    "user_journey",
    "sku_sales_anomaly",
    "key_skew_profile",
    # round-5 expansion: oracles rewritten into the common dialect --
    # CAST(AS STRING) (a DuckDB VARCHAR alias Spark also parses) and
    # date_trunc instead of time_bucket -- then re-probed for 3-way
    # agreement (DataFrame == spark.sql == DuckDB)
    "stage_sales",
    "dim_products",
    "reconcile",
    "reconcile_snapshots",
    "discrepancy_count",
    "discrepancy_topk",
    "partition_prune",
    "normalize_clean",
    "stock_timeseries",
    "sku_sales_salted",
    "sku_moving_avg",
    "sku_rolling_range",
    "dim_scd2",
    "table_profile",
    "events_hourly",
    "incremental_hourly_merge",
    # round-5 additions born portable (split_part / levenshtein exist
    # with identical semantics in both engines)
    "copurchase_pairs",
    "name_match_candidates",
    # round-5 session 2: written in the shared dialect from the start
    # (DECIMAL(18,0) sufficient statistics keep every product inside
    # DuckDB's width-38 cap; FLOOR/GREATEST/LEAST/USING are common)
    "brand_trend",
    "winsorized_stats",
    # the bitmap query's oracle is plain COUNT(DISTINCT): running it
    # verbatim on Spark pins the bitmap path == the naive path on a
    # THIRD engine-path, not just DuckDB
    "dau_bitmap_merge",
    # round-5 session 3: k_anonymity is plain GROUP BY + FLOOR --
    # portable as written (token_dist_drift / tfidf_keywords /
    # repeated_spans / epoch_shuffle stay DuckDB-side: list_* lambdas;
    # audio_meta uses DuckDB's // integer division; funnel_latency
    # epoch(); events_variant json_extract_string; curation_summary
    # sha256 + list lambdas)
    "k_anonymity",
    "events_sliding",  # date_trunc/INTERVAL/UNION ALL parse on both
    "frame_meta",  # pure integer arithmetic of doc_id
    "returnflag_unpivot",  # UNPIVOT syntax shared since Spark 3.4
    # round-6 expansion: the compat shims (sha256/epoch/
    # json_extract_string/isodow) unlock the hashed-dedup and
    # event-time families verbatim ...
    "dedup_exact",
    "dedup_incremental",
    "events_sessionize",
    "events_sessionize_native",
    "funnel_latency",
    "events_json",
    "events_variant",
    "events_hour_of_day",  # day_of_week redefined as ISO dow (portable)
    # ... the date_diff('day', a, b) oracles rewritten to the
    # epoch-based day difference (exact: whole-day deltas in double) ...
    "signup_purchase_funnel",
    "stock_twa",
    "sku_sale_gaps",
    # ... and one that was portable all along, just never probed
    "join_view_merge",
    # round-6 policy queries, written in the shared dialect from the
    # start (ABC window/CROSS JOIN, exact DECIMAL sufficient stats,
    # named WINDOW clause, epoch-based week index); running the
    # abc oracles verbatim on Spark ALSO pins the banded prefix-sum
    # against Spark's own single-partition global window, not just
    # DuckDB's
    "abc_classification",
    "reorder_points",
    "user_state_history",
    "abc_xyz_matrix",
    # bit operators (& | <<) parse identically on both engines; the
    # spread-ladder CTE pins the Morton interleave 3-way
    "zorder_curve",
    # WITH RECURSIVE parses natively on Spark 4 -- the declarative
    # fixpoint runs verbatim on BOTH engines against the iterative
    # localCheckpoint loop (stock_gap_fill stays DuckDB-side: its
    # generate_series/unnest spine is a table function, not shimmable)
    "part_hierarchy_rollup",
    # round-7 additions that are pure ANSI (CASE/trim/ntile/USING/
    # CROSS JOIN); excluded from this list with reasons:
    # order_gap_stats + ship_latency (quantile_cont aggregate),
    # table_checksum (hex-string CAST, Spark spells it conv()),
    # dq_violations (FILTER ok but double-quoted identifier "check"),
    # shingle_containment + ngram_novelty + domain_classifier +
    # jaccard_prefix_pairs (list_* lambda family; the classifier also
    # needs HUGEINT), forecast_backtest (DATE - DATE is INTERVAL on
    # Spark, INTEGER on DuckDB), price_equidepth_hist (// division)
    "scd2_point_in_time",
    "brand_segment_chi2",
    "brand_price_deciles",
    "basket_rules",
    # running the id-oriented triangle oracle verbatim on Spark pins
    # the degree-oriented wedge join against a THIRD engine-path
    "copurchase_triangles",
    # the NOT-EXISTS dominance definition verbatim on Spark pins the
    # banded prefix-min skyline against a third engine-path
    # (rebate_proration, measure_correlations, nation_revenue_gini
    # stay DuckDB-side: HUGEINT casts + // division)
    "part_skyline",
    "benford_screen",  # 6-dp literal Benford masses, pure ANSI
    # round-8 additions born portable (pure ANSI windows/joins; the
    # levenshtein name and semantics are shared; printf exists on both)
    "order_streaks",
    "weighted_median_price",
    "cohort_matrix",
    "price_endings",
    "dominant_priority",
    "supplier_backlog_peak",
    "name_edit1_pairs",
    # round-8 oracle rewrites that unlocked prior exclusions: the
    # quantile family now uses ANSI percentile_cont WITHIN GROUP
    # (identical interpolated quantile on both engines) and epoch-day
    # integers replace DATE - DATE (INTEGER on DuckDB, INTERVAL on
    # Spark). Still excluded with reasons: fifo_allocation (its
    # holding-day gap is DATE - DATE in the SELECT path and the
    # rewrite would obscure the published rule -- the API/DuckDB pair
    # stays the contract), collocation_lift + hapax_stats (list_*
    # lambda family), purchase_attribution (ASOF-style correlated
    # MAX), table_checksum (hex-string CAST), dq_violations (quoted
    # "check" identifier)
    "order_gap_stats",
    "ship_latency",
    "event_value_percentiles",
    # round-8 batch 2, born portable (bin() exists name- and
    # value-identically on both engines; the rest is ANSI + printf).
    # nation_supplier_hhi / token_simpson_diversity /
    # source_vocab_overlap stay DuckDB-side (HUGEINT cast; list_*
    # lambda family)
    "basket_size_histogram",
    "repeat_purchase_rate",
    "new_vs_repeat_revenue",
    "magnitude_histogram",
    # round-8 batch 3 (running abc_migration's oracle verbatim on
    # Spark also pins BOTH halves' banded prefix shares against
    # Spark's own single-partition global window, like
    # abc_classification; the CAST(MAX(d)-MIN(d) AS BIGINT) span in
    # duplicate_invoice_screen resolves identically on both engines).
    # lifo_allocation stays DuckDB-side like fifo_allocation: its
    # per-match day gap is DATE - DATE in a multiplying position
    "price_dispersion",
    "monthly_seasonality",
    "abc_migration",
    "duplicate_invoice_screen",
    # round-8 batch 4 (pure ANSI; vocab_growth stays DuckDB-side:
    # list_* lambda tokenizer + range() table function)
    "discount_depth_profile",
    "returns_rate_by_brand",
    # round-8 batch 5 (isodow via the compat shim; epoch-day week
    # buckets; token_frequency_spectrum stays DuckDB-side: list_*
    # lambda tokenizer)
    "weekday_revenue_profile",
    "lead_time_bucket_matrix",
    # round 9 expansion: the r9 oracles that parse on Spark verbatim
    "price_change_events",
    "single_source_risk",
    "seasonal_naive_backtest",
    "rfm_segments",
    "lorenz_curve",
    "price_volume_bridge",
    "demand_intermittency",
    "brand_spearman",
    "brand_transitions",
    "post_return_activity",
    "brand_price_mad",
    # round-9 batch 5 (epoch-day ints via the epoch shim replace
    # DATE - DATE, the r8 recipe; readability_scores stays DuckDB-side:
    # list_* lambda tokenizer + regexp_replace 'g' flag)
    "order_fill_status",
    "ship_hazard",
    "brand_price_slope",
    "eoq_recommendation",
    # round-9 batch 6 (epoch-day/printf spellings; char_trigram_profile
    # stays DuckDB-side: unnest(range()) table function)
    "order_batching",
    "brand_price_ladder",
    "monthly_return_rate",
    "order_ship_span",
    # round-9 batch 7 (epoch shim; NTILE/FULL OUTER are ANSI; STRING is
    # the cast spelling both engines parse. sentence_length_profile
    # stays DuckDB-side: unnest + list_* lambda tokenizer)
    "latency_by_year",
    "customer_quartile_migration",
    "dormancy_by_segment",
    "customer_value_cv",
    # round-9 batch 8 (isodow shim; pure ANSI. chunk_dedup_stats and
    # neardup_source_matrix stay DuckDB-side: list_* lambda tokenizer)
    "part_size_mix",
    "event_dow_hour_matrix",
    "line_position_profile",
    # round-9 batch 9 (pure ANSI; the embedding trio stays DuckDB-side:
    # [] 1-based list indexing + unnest(range) table function)
    "segment_priority_mix",
    "brand_seasonal_peak",
    # round-9 batch 10 (ANSI windows incl. RANGE over integer weeks;
    # epoch shim; token_length_histogram stays DuckDB-side: list_*)
    "order_total_consistency",
    "weekly_zchart",
    "nation_segment_grid",
    "type_discount_profile",
    # round-9 batch 11 (pure ANSI + epoch shim; partname_word_prices
    # stays DuckDB-side: unnest/string_split)
    "discount_cost_by_year",
    "first_order_cohort",
    "qty_discount_curve",
    "returns_vs_latency",
    # round-9 batch 12 (pure ANSI; last_day + epoch shim; the events
    # view's value column casts identically on both engines)
    "acctbal_activity_bands",
    "negative_balance_profile",
    "supplier_nation_load",
    "month_end_push",
    "event_value_moments",
    # round-9 batch 13 (pure ANSI; supplier_leadtime_cv via the epoch
    # shim; dau_wau_stickiness excluded: unnest(range()) fan-out)
    "split_order_screen",
    "supplier_leadtime_cv",
    "tax_burden_profile",
    "retailprice_premium",
    # round-9 batch 14 (self-join oracle form of the degree histogram
    # is plain ANSI; user-week breadth via the epoch shim; kmeans/
    # outliers excluded: unnest(range())-indexed arrays + HUGEINT;
    # interarrival excluded: HUGEINT gap squares)
    "copurchase_degree_dist",
    "user_type_diversity",
    # round-9 batch 15 (balance bands via the epoch shim; HHI is pure
    # ANSI; tenure/cover excluded: DuckDB 3-arg date_diff; shingle DF
    # excluded: list_* lambda family)
    "supplier_balance_bands",
    "order_line_hhi",
    # round-9 batch 16 (pure ANSI; percentile_cont WITHIN GROUP parses
    # on Spark 4; transitions via the epoch_us shim)
    "nation_balance_flow",
    "top_customer_per_nation",
    "event_type_transitions",
    "part_supplier_breadth",
    "source_length_percentiles",
    # round-9 batch 17 (pure ANSI; latency via epoch shim +
    # percentile_cont; label margin excluded: unnest-indexed arrays)
    "second_purchase_latency",
    "returns_by_discount_band",
    "supplier_cosupply_pairs",
    "brand_quantity_mode",
    # round-9 batch 18 (pure ANSI; dow habit + session histogram via
    # the epoch shim; genericness excluded: list_* lambda family)
    "sku_seasonality_strength",
    "customer_dow_habit",
    "session_size_histogram",
    "event_type_peak_hour",
    # round-9 batch 19 (pure ANSI; dim correlations excluded:
    # unnest-indexed arrays + HUGEINT cross-products)
    "brand_nation_price_spread",
    "monthly_aov_trend",
    "brand_top_supplier_share",
    "user_activity_deciles",
    # round-9 batch 20 (pure ANSI; regularity via epoch shim +
    # percentile_cont; label separation excluded: unnest + HUGEINT)
    "nation_rank_trajectory",
    "brand_backorder_exposure",
    "customer_order_regularity",
    "order_rank_value_curve",
    # round-9 batch 21 (pure ANSI; occupancy excluded: unnest arrays)
    "new_sku_revenue_share",
    "order_status_profile",
    "event_value_coverage",
    "basket_brand_breadth",
    # round-9 batch 22 (pure ANSI; entry/exit via epoch_us shim;
    # inverted audit via epoch shim; calendar coverage excluded:
    # generate_series table function)
    "customer_brand_breadth",
    "user_entry_exit_matrix",
    "inverted_interval_audit",
    "value_priority_matrix",
    # round-9 batch 23 (pure ANSI; dup-rate via the sha256 shim;
    # balance correlation excluded: HUGEINT sufficient statistics)
    "region_quarter_matrix",
    "supplier_return_rate",
    "dup_rate_by_length",
    "unit_price_inflation",
    # round-9 batch 24 (pure ANSI; split_part is 1-indexed on BOTH
    # engines; weekday latency via epoch shim; jaccard bands +
    # signature bigram excluded: list_* lambda family)
    "brand_type_matrix",
    "name_key_consistency",
    "weekday_latency_profile",
    # round-9 batch 25 (pure ANSI; bias + premium via epoch shim;
    # opening diversity + label radius excluded: list_*/unnest)
    "basket_size_trend",
    "spend_latency_bias",
    "order_weekend_premium",
    # round-9 batch 26 (pure ANSI; drift mix + DAU anomaly excluded:
    # HUGEINT statistics; exact dups excluded: list_transform)
    "event_type_user_overlap",
    "annual_customer_retention",
    # round-9 batch 27 (pure ANSI; loyalty + acf via the epoch shim
    # where dates fold to weeks; acf excluded: HUGEINT statistics)
    "repeated_part_lines_audit",
    "hourly_value_profile",
    "priority_value_profile",
    "customer_entry_brand_loyalty",
    # round 10
    "purchases_in_promo_windows",
    "cross_region_trade_share",
    "referential_integrity_audit",
    "user_lifespan_profile",
    "user_burst_ratio",
    "segment_halfyear_momentum",
    "corpus_ingestion_drift",
    "nation_acctbal_quartiles",
    "avg_word_length_profile",
    "customer_purchase_acceleration",
    "order_value_band_transition",
    "lang_source_lift",
    "user_error_rate_bands",
    "brand_weekly_rank_volatility",
    "size_band_revenue_trend",
    "customer_value_uplift",
    "tax_discount_grid",
    "supplier_brand_focus",
    "source_exact_dup_rate",
    "same_day_reorder_rate",
    "event_mix_drift",
    "brand_cannibalization",
    "order_priority_escalation",
    "customer_supply_reach",
    "returning_user_curve",
    "sku_velocity_quadrant",
    "stopword_density_profile",
    "nation_trade_imbalance",
    "nation_weekly_volatility",
    "supplier_new_business_trend",
    "quantity_uniformity_screen",
    "type_hour_profile_similarity",
    "supplier_turnover",
    "returns_by_value_band",
    "customer_concentration_trend",
    "day_of_month_profile",
    "sku_repurchase_cycle",
    "exact_dup_source_matrix",
    "label_text_profile",
    "lang_label_lift",
    "open_order_aging",
    "segment_spend_intensity",
    "brand_order_penetration",
    "signup_conversion_by_week",
    "segment_qoq_growth",
    "brand_volume_value_mix",
    "customer_priority_breadth",
    "brand_copurchase_pairs",
    "three_step_funnel",
    "session_duration_by_entry",
    "partname_brand_collisions",
    "event_value_concentration",
    "value_roundness_screen",
    "daily_trending_types",
    "monthly_reactivation",
    "value_by_user_age",
    "month_yoy_heat",
    "order_ordinal_curve",
    "session_conversion_rate",
    "big_order_brand_mix",
    "returns_by_line_position",
    "weekpart_overlap",
    "order_supplier_spread",
    "brand_price_mix_effect",
    "nation_acquisition_trend",
    "hourly_conversion_profile",
    "priority_mix_trend",
    "brand_part_introduction",
    "discount_by_line_position",
    "first_day_activity_mix",
    "supplier_discount_profile",
    "returns_trend_by_year",
    "basket_density_bands",
    "event_calendar_gaps",
    "customer_return_propensity",
    "weekly_value_per_event",
    "nation_discount_gap",
    "cohort_retention_triangle",
    "click_to_purchase_latency",
    "signup_dow_retention",
    "vintage_price_profile",
    "supplier_activity_regularity",
    "brand_weekend_mix",
    "cadence_by_ordinal",
    "type_mix_by_tenure",
    "brand_customer_concentration",
    "weekpart_value_gap",
    "conversion_by_session_depth",
    "nation_market_structure",
    # round-11 additions probed portable (the component-sizes twin is
    # recursive-union-distinct, see NONPORTABLE)
    "image_dims_jpeg",
    "copurchase_degree_hist",
]


#: Every oracle-paired entry NOT in PORTABLE, keyed to its NAMED
#: dialect divergence (r9 VERDICT item 4: "document each remaining
#: exclusion"). Classified mechanically: each oracle was fed verbatim
#: to spark.sql() after register_views; the tag names the first
#: blocking construct. The divergence classes:
#:
#: - list-lambda: DuckDB's list_filter/list_transform/list_sum lambda
#:   family. Spark's equivalents (filter/transform/aggregate) exist
#:   but lambda-taking functions cannot be SQL-UDF-aliased, and Spark
#:   resolves builtins before temp functions so the DuckDB names
#:   cannot be shadowed (r8 finding).
#: - unnest-tvf / range-tvf / file-tvf: table-valued functions
#:   (unnest, range/generate_series, read_parquet/read_json) -- Spark
#:   spells these LATERAL VIEW explode / explode(sequence()) / reader
#:   API; there is no shared spelling. The range-tvf embedding family
#:   additionally indexes lists 1-based ([i] is 0-based on Spark,
#:   element_at is MAP-only on DuckDB).
#: - hugeint-statistics: int128 sufficient statistics (sums of
#:   products of BIGINT). DECIMAL cannot substitute: DuckDB caps
#:   width at 38 and a DECIMAL(38,0) x DECIMAL(38,0) product exceeds
#:   it at bind time.
#: - dialect-syntax: DuckDB-only grammar in the oracle (ASOF JOIN,
#:   PIVOT shorthand, [i:j] slicing, ? placeholders, etc.).
#: - type-coercion: DuckDB implicit casts Spark rejects (interval /
#:   integer arithmetic mixes, bare VARCHAR/TEXT type names, double
#:   'g' regexp flags).
#: - function-signature: same-name function, different arity or
#:   argument types on Spark.
#: - lateral-alias: DuckDB column-alias scoping Spark does not allow.
#: - decimal-division-scale: parses on Spark but DuckDB's decimal
#:   division scale rules produce different rounding (fifo/lifo
#:   layer allocation).
#: - recursive-union-distinct: WITH RECURSIVE ... UNION (distinct) --
#:   the transitive-closure form that terminates on cyclic graphs.
#:   Spark 4.1 supports recursive CTEs but only with UNION ALL
#:   (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE), which never terminates
#:   on a cycle; there is no shared spelling.
NONPORTABLE = {
    "label_cohesion": "range-tvf",
    "label_top_dims": "range-tvf",
    "audio_meta": "dialect-syntax",
    "balance_spend_correlation": "hugeint-statistics",
    "bigram_counts": "list-lambda",
    "bm25_search": "list-lambda",
    "brand_demand_acf": "hugeint-statistics",
    "char_trigram_profile": "range-tvf",
    "chunk_dedup_stats": "list-lambda",
    "collocation_lift": "list-lambda",
    "contamination_check": "list-lambda",
    "contamination_hashed": "list-lambda",
    "copurchase_component_sizes": "recursive-union-distinct",
    # 24 unrolled H-index CTEs need AS MATERIALIZED: DuckDB's
    # optimizer is exponential on a deep plain-CTE chain (10s at
    # depth 16, ~800s at 24; 0.25s materialized), and Spark has no
    # MATERIALIZED spelling
    "copurchase_kcore_hist": "dialect-syntax",
    "leakage_safe_split": "list-lambda",
    "corpus_filter": "list-lambda",
    "corpus_pack": "dialect-syntax",
    "curation_summary": "list-lambda",
    "customer_tenure_value": "function-signature",
    "dataset_split": "list-lambda",
    "dau_anomaly_days": "hugeint-statistics",
    "dau_wau_stickiness": "range-tvf",
    "decontaminated_split": "list-lambda",
    "dedup_applied": "list-lambda",
    "dedup_canonical": "type-coercion",
    "dedup_group_sizes": "list-lambda",
    "dedup_groups": "list-lambda",
    "dedup_keep_best": "list-lambda",
    "doc_chunks": "dialect-syntax",
    "doc_repetition": "list-lambda",
    "domain_classifier": "dialect-syntax",
    "dq_violations": "dialect-syntax",
    "embed_contamination": "dialect-syntax",
    "embed_neardup": "dialect-syntax",
    "embedding_dim_correlations": "range-tvf",
    "embedding_dim_occupancy": "range-tvf",
    "embedding_dim_stats": "range-tvf",
    "embedding_exact_dups": "list-lambda",
    "embedding_label_margin": "range-tvf",
    "embedding_outliers": "hugeint-statistics",
    "epoch_shuffle": "type-coercion",
    "event_interarrival_profile": "hugeint-statistics",
    "event_path_trigrams": "dialect-syntax",
    "evolving_schema": "lateral-alias",
    "fifo_allocation": "decimal-division-scale",
    "forecast_backtest": "type-coercion",
    "hapax_stats": "unnest-tvf",
    "heavy_hitter_tokens": "list-lambda",
    "hybrid_rank": "dialect-syntax",
    "inventory_aging": "type-coercion",
    "jaccard_band_histogram": "dialect-syntax",
    "jaccard_pairs": "list-lambda",
    "jaccard_prefix_pairs": "list-lambda",
    "kmeans_iteration": "range-tvf",
    "kwic_concordance": "list-lambda",
    "label_balance": "range-tvf",
    "label_centroid_sim": "dialect-syntax",
    "label_radius_profile": "hugeint-statistics",
    "label_separation_matrix": "hugeint-statistics",
    "langid": "list-lambda",
    "langid_confusion": "list-lambda",
    "lifo_allocation": "decimal-division-scale",
    "lm_score": "unnest-tvf",
    "measure_correlations": "hugeint-statistics",
    "fingerprint_matches": "list-lambda",
    "multimodal_features": "list-lambda",
    "nation_revenue_gini": "hugeint-statistics",
    "nation_supplier_hhi": "hugeint-statistics",
    "neardup_source_matrix": "list-lambda",
    "nearest_centroid_confusion": "range-tvf",
    "ngram_novelty": "list-lambda",
    "order_calendar_coverage": "range-tvf",
    "pagerank": "dialect-syntax",
    "partname_word_prices": "unnest-tvf",
    "pq_adc_topk": "range-tvf",
    "int8_cosine_topk": "range-tvf",
    # r13 rows-only -> paired conversions
    "minhash_pairs": "list-lambda",
    "weighted_sample": "list-lambda",
    "stratified_sample": "list-lambda",
    "ann_topk": "list-lambda",
    # the four r14 conversions: ann_recall composes the paired rung
    # oracles (ann_topk's list lambdas included); the BPE unrolls walk
    # the symbol string with list_transform/list_filter lambdas; the
    # analytic-pixel aHash regenerates pixels with unnest(range(...))
    "ann_recall": "list-lambda",
    "bpe_merges": "list-lambda",
    "bpe_compression_by_source": "list-lambda",
    "image_phash_neardup": "range-tvf",
    "ivf_topk": "range-tvf",
    "mmr_diverse_topk": "range-tvf",
    "embed_neardup_lsh": "list-lambda",
    # 40 unrolled H-index CTEs, same MATERIALIZED requirement as
    # copurchase_kcore_hist
    "copurchase_kcore": "dialect-syntax",
    # 8 unrolled LPA plurality rounds, MATERIALIZED
    "copurchase_communities": "dialect-syntax",
    # per-key greedy recurrence walked by a RECURSIVE CTE (Spark has
    # no recursive spelling pre-4.0 union semantics we rely on here)
    "alert_throttle": "recursive-union-distinct",
    "pii_scan": "type-coercion",
    "price_equidepth_hist": "dialect-syntax",
    "purchase_attribution": "dialect-syntax",
    "quality_flags": "list-lambda",
    "readability_scores": "list-lambda",
    "rebate_proration": "dialect-syntax",
    "repeated_spans": "list-lambda",
    "returnflag_pivot": "dialect-syntax",
    "revenue_recognition": "unnest-tvf",
    "rolling_fingerprint": "list-lambda",
    "segment_top_percentile": "dialect-syntax",
    "sentence_length_profile": "unnest-tvf",
    "shingle_containment": "list-lambda",
    "shingle_df_profile": "list-lambda",
    "sim_topk": "dialect-syntax",
    "simhash": "dialect-syntax",
    "simhash_neardup": "dialect-syntax",
    "winnow_fingerprint_density": "list-lambda",
    "sku_price_drift_mix": "hugeint-statistics",
    "snapshot_diff": "dialect-syntax",
    "source_genericness": "unnest-tvf",
    "source_opening_diversity": "list-lambda",
    "source_quality_drift": "list-lambda",
    "source_signature_bigram": "list-lambda",
    "source_vocab_overlap": "unnest-tvf",
    "stock_asof": "dialect-syntax",
    "stock_asof_forward": "dialect-syntax",
    "stock_asof_tolerant": "dialect-syntax",
    "stock_cover_days": "function-signature",
    "stock_gap_fill": "dialect-syntax",
    "supplier_on_time_rate": "type-coercion",
    "table_after_dml": "dialect-syntax",
    "table_cdf": "dialect-syntax",
    "table_checksum": "type-coercion",
    "table_history": "file-tvf",
    "table_time_travel": "dialect-syntax",
    "template_prefix_groups": "dialect-syntax",
    "text_stats": "list-lambda",
    "tfidf_keywords": "unnest-tvf",
    "token_budget": "type-coercion",
    "token_burstiness": "list-lambda",
    "token_dist_drift": "unnest-tvf",
    "token_frequency_spectrum": "unnest-tvf",
    "token_length_histogram": "unnest-tvf",
    "token_simpson_diversity": "hugeint-statistics",
    "top_tokens": "unnest-tvf",
    "value_anomalies": "hugeint-statistics",
    "vocab_growth": "unnest-tvf",
}


#: spark.sql-vs-DataFrame representatives kept in the fast tier -- one
#: per SQL shape family (agg+join spine, grouping sets, ntile, window
#: top-1, rollup-from-hourly, histogram, retention self-join, scalar
#: subquery gate, date bucketing, multimodal dims); the rest are slow
SQL_FRONTEND_FAST = {
    "market_share",
    "region_revenue",
    "weekly_retention",
    "image_dims",
    "pricing_summary",
    "sales_grouping_sets",
    "customer_spend_quartiles",
    "top_part_per_brand",
    "events_daily_from_hourly",
    "doclen_histogram",
}


@pytest.mark.parametrize(
    "name",
    [
        n if n in SQL_FRONTEND_FAST else pytest.param(n, marks=pytest.mark.slow)
        for n in PORTABLE
    ],
)
def test_sql_string_matches_dataframe_api(spark, name):
    register_views(spark, TESTDATA)
    sql_df = spark.sql(entry.oracle_sql()[name])
    api_df = entry.queries()[name](spark, TESTDATA)
    assert sorted(sql_df.columns) == sorted(api_df.columns)
    cols = sql_df.columns
    a = normalized_rows(cols, [[r[c] for c in cols] for r in sql_df.collect()])
    b = normalized_rows(cols, [[r[c] for c in cols] for r in api_df.collect()])
    assert a == b


def test_portable_and_exclusions_partition_the_paired_surface():
    """Every oracle-paired entry is either 3-way portable or carries a
    named divergence -- a new paired query must land in exactly one
    list, so portability coverage can never silently drift again (the
    r9 README drift)."""
    paired = set(entry.oracle_sql())
    assert set(PORTABLE).isdisjoint(NONPORTABLE)
    both = set(PORTABLE) | set(NONPORTABLE)
    assert both == paired, (
        f"unclassified: {sorted(paired - both)}; stale: {sorted(both - paired)}"
    )
