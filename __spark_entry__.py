"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check at sf0.001.
``queries()`` — every implemented operator from SURVEY.md §2 + the
LLM-pipeline extensions, as (spark, sf_dir) -> DataFrame callables.
``oracle_sql()`` — matching DuckDB SQL for the driver's differential gate;
omitted only for hash-algorithm-specific / streaming-stateful ops where no
portable SQL equivalent exists (driver records rows-only checks for those).

Implementations live in ``alibaba_cppfeaturestore_spark.plans.catalog``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from alibaba_cppfeaturestore_spark.plans.catalog import QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: TPC-H-Q1-shaped
    scan→filter→agg over lineitem."""
    return QUERIES["q1_pricing_summary"].spark(spark, "/root/testdata/sf0.001")


# The shared reason of the finite-domain guard exemptions below.
_FINITE_GUARD = (
    "finite-domain guard now spelled through the helper; oracle AST and "
    "normalized plan identical"
)

# The first 50 entries are the driver's check window (the driver runs a
# 50-query prefix; every one of the 50 carries a DuckDB oracle). Changed
# entries always outrank merely-stale ones; the rest rotate oldest
# driver row first (tools/freshness.py --plan emits the list).
# Deliberate window omissions for CHANGED entries (r10 verdict item 8:
# the changed-set was hand-assembled and missed three oracle fixes; now
# tools/freshness.py diffs catalog.py against the last round-close
# commit, auto-promotes forgotten entries, and
# tests/test_driver_window.py fails the round if a git-touched oracled
# entry is neither windowed nor spelled here WITH a reason).
_WINDOW_EXEMPT_CHANGED: dict[str, str] = {
    # (r12 close: the two additive-module exemptions that briefly lived
    # here are retired — tools/freshness.py now attributes diffs at
    # FUNCTION granularity, so an additive-only module change promotes
    # no dependents mechanically, with the coarse module-level answer
    # printed by --plan as the audit trail.)
    "alibaba_cppfeaturestore_spark/plans/views.py": (
        "r13 wide-blast-radius module exemption (the escape hatch "
        "test_module_touched_entries_in_window_or_exempt documents): "
        "load_table gained an analyzed-plan memo keyed on (applicationId, "
        "path, mtime) — a driver-side plan-build cache, not a value or "
        "plan-shape change; every entry reads tables through it, so the "
        "function-level attribution promotes all 211 entries, which no "
        "50-entry window can hold. Certified by TWO full 211-entry "
        "`driver_sim --strict` runs on this tree this round (211 pass / "
        "0 FAIL each). Entries whose causes include the genuinely "
        "compute-changed modules (dedup/similarity/multimodal/vectors/"
        "kv) are windowed, not exempted. r14 extends the same class of "
        "change: the memo re-key (session identity + mtime_ns in the "
        "value, bounded size) is still a plan-build cache only, and so "
        "is its later move onto the shared resources.memo helper."
    ),
    # r14 wide-blast-radius exemptions, one shared cause: every
    # operator-internal .persist() was wrapped in
    # ranks.register_persisted(...) so release_persisted()/
    # persist_scope() cover it (r13 verdict item 4) — a cache-LIFECYCLE
    # change that alters no value and no plan shape (the persist calls,
    # storage levels, and expressions are byte-identical; only the
    # Python-side registry sees the handle). The function-level
    # attribution promotes the 60+ entries consuming these modules,
    # which no 50-entry window can hold. Certified by a full 211-entry
    # `driver_sim --strict` run on the r14 close tree (recorded in
    # OPTIMIZATION_r14.md); the one entry with a REAL plan-affecting
    # change this round (stream_tumbling_window_counts,
    # state_partitions 8->4) is windowed, not exempted.
    # The session resource registry + memo module: the r14 persist
    # registry and the four module memos (table plans, key uniqueness,
    # stream schema, IVF centroids) moved into it. Lifecycle and
    # plan-build caching only, with no value or plan-shape change on an
    # unchanged dataset; but every persisting, checkpointing or
    # tempdir-writing operator imports it, so the function-level
    # attribution promotes 20 entries beyond the 49 changed ones the
    # window already holds. Certified by a full 211-entry
    # `driver_sim --strict` run on this tree plus a 97-entry strict
    # subset in plain, --perturb-nulls and --perturb-empty modes
    # (recorded in CHANGES.md).
    "alibaba_cppfeaturestore_spark/resources.py": (
        "new registry/memo module replacing the r14 persist registry and "
        "the four module memos; no value or plan-shape change on an "
        "unchanged dataset (see block comment above)."
    ),
    "alibaba_cppfeaturestore_spark/operators/retrieval.py": (
        "r14 register_persisted wrapping (since renamed resources.own); "
        "no value or plan-shape change."
    ),
    "alibaba_cppfeaturestore_spark/operators/scaling.py": (
        "r14 register_persisted wrapping (since renamed resources.own); "
        "no value or plan-shape change. Then: " + _FINITE_GUARD + "."
    ),
    "alibaba_cppfeaturestore_spark/operators/sketches.py": (
        "r14 register_persisted wrapping (since renamed resources.own); "
        "no value or plan-shape change."
    ),
    "alibaba_cppfeaturestore_spark/operators/statistics.py": (
        "r14 register_persisted wrapping (since renamed resources.own); "
        "no value or plan-shape change. Then: " + _FINITE_GUARD + "."
    ),
    "alibaba_cppfeaturestore_spark/operators/timeseries.py": (
        "r14 register_persisted wrapping (since renamed resources.own); "
        "no value or plan-shape change. Then: " + _FINITE_GUARD + "."
    ),
    # Entries whose only change since the round-close commit is a bare
    # tempfile.mkdtemp replaced by resources.tempdir in their own span: a
    # lifecycle change (the directory is now removed on release) with no
    # value or plan-shape change, the same class as the module
    # exemptions above. They were windowed while the window had room;
    # the near-duplicate core's changed entries need it now. Certified by
    # the full 211-entry `driver_sim --strict` runs recorded in
    # CHANGES.md.
    **dict.fromkeys(
        (
            "partition_pruned_read",
            "schema_evolution_union_read",
            "txlog_checkpointed_read",
            "txlog_merge_upsert",
            "txlog_time_travel",
            "txlog_wap_publish",
        ),
        "bare mkdtemp replaced by resources.tempdir; lifecycle only, no "
        "value or plan-shape change (see block comment above).",
    ),
    # operators/dedup.py's module docstring and imports changed with the
    # near-duplicate pair core, which promotes every dependent. These
    # entries' plans are identical before and after (formatted explain
    # at sf0.01, expression ids and lambda-variable suffixes
    # normalized), so their values cannot change either; the dedup
    # entries whose plans did change are windowed.
    **dict.fromkeys(
        (
            "dedup_bottomk_sketch",
            "dedup_exact",
            "dedup_exact_substring_scrub",
            "dedup_exact_substring_spans",
            "dedup_ngram_jaccard",
            "dedup_paragraph_exact",
            "dedup_simhash",
            "dedup_winnow_containment",
            "feature_hashing_trick",
            "ml_fold_assignment",
            "negative_sampling_pairs",
        ),
        "dedup.py pair-core rebuild (module preamble or the def it calls "
        "changed); normalized plan identical before and after.",
    ),
    # operators/joins.py's module docstring changed with the online
    # lookup's dead broadcast hint (the hint asked Spark to build the
    # preserved side of a left join, which it cannot), which promotes
    # every dependent. These entries do not call online_lookup; their
    # plans are identical before and after (formatted explain at sf0.01,
    # expression ids normalized), so their values cannot change either.
    # online_lookup_latest_features, whose def changed, is windowed.
    **dict.fromkeys(
        (
            "asof_join_with_ttl",
            "asof_last_view_before_click",
            "dq_feature_leakage_audit",
            "join_anti_not_exists",
            "join_semi_in_subquery",
            "range_join_pre_purchase_views",
            "scd2_interval_lookup",
        ),
        "joins.py module docstring only (online lookup hint removal); "
        "normalized plan identical before and after.",
    ),
    # The finite-domain guard (NaN/±Inf/out-of-domain double -> NULL)
    # moved into functions/finite.py. Each entry below spelled it by hand:
    # its oracle now calls finite_decimal_sql / finite_double_sql inside
    # an f-string, its Spark side finite_decimal / finite_double. Every
    # oracle's DuckDB AST (json_serialize_sql, query locations removed)
    # and every entry's normalized formatted plan at sf0.01 are
    # identical before and after (method and counts in CHANGES.md), so
    # their values cannot change either. operators/aggregates.py only
    # gained the helper's import in its preamble, which promotes every
    # dependent; their plans are identical too.
    **dict.fromkeys(
        (
            "ab_test_cuped_adjusted",
            "ab_test_group_summary",
            "agg_approx_stats",
            "agg_cube_event_matrix",
            "agg_grouping_sets_revenue",
            "agg_pivot_user_event_values",
            "agg_quantiles_order_value",
            "agg_ratio_to_report",
            "agg_rollup_order_revenue",
            "anomaly_mad_outliers",
            "anomaly_seasonal_residuals",
            "embedding_stats_by_label",
            "feature_correlations",
            "feature_impute_missing",
            "feature_lag_rolling",
            "feature_quantile_bins",
            "feature_standard_scale",
            "feature_target_encoding",
            "feature_winsorize",
            "group_percentile_exact",
            "grouped_mode_bucket",
            "histogram_order_values",
            "incremental_agg_maintenance",
            "join_broadcast_dim_agg",
            "profile_events_table",
            "proj_select_cast",
            "q10_returned_items",
            "q11_important_part_values",
            "q14_promo_revenue_share",
            "q15_top_revenue_supplier",
            "q17_small_quantity_revenue",
            "q18_large_orders",
            "q19_bracketed_revenue",
            "q20_dominant_part_suppliers",
            "q22_dormant_high_balance",
            "q2_min_cost_supplier",
            "q3_shipping_priority",
            "q5_local_supplier_volume",
            "q6_forecast_revenue",
            "q7_nation_volume_shipping",
            "q8_market_share",
            "q9_product_type_profit",
            "regression_daily_trend",
            "scalar_math_funcs",
            "seasonal_decompose_daily",
            "session_window_stats",
            "timeseries_rollup_cascade",
            "timeseries_twap_user",
            "window_range_moving_avg",
            "window_running_user_spend",
            "wow_revenue_change",
        ),
        _FINITE_GUARD + ".",
    ),
    "alibaba_cppfeaturestore_spark/operators/aggregates.py": (
        "module preamble imports functions/finite.finite_decimal "
        "(profile_table's guard); " + _FINITE_GUARD + "."
    ),
    "jdbc_roundtrip_derby": (
        "bare mkdtemp replaced by resources.tempdir (lifecycle only); "
        "then: " + _FINITE_GUARD + "."
    ),
    "write_ignore_roundtrip": (
        "bare mkdtemp replaced by resources.tempdir (lifecycle only); "
        "then: " + _FINITE_GUARD + "."
    ),
    "sample_weighted_bernoulli": (
        "dedup.py pair-core rebuild (module preamble changed); normalized "
        "plan identical. Then: " + _FINITE_GUARD + "."
    ),
    "join_bloom_prefilter": (
        "joins.py module docstring only (online lookup hint removal); "
        "then: " + _FINITE_GUARD + "."
    ),
    "join_salted_skew_enrich": (
        "joins.py module docstring only (online lookup hint removal); "
        "then: " + _FINITE_GUARD + "."
    ),
    # Public defs that only tests reached were deleted from these
    # entries' modules (tests/test_reachability.py), and docstrings that
    # named them were reworded. The function-level attribution reads a
    # deletion next to a kept def, or a docstring edit, as a change to
    # what the entry uses. Every entry's normalized formatted plan at
    # sf0.01 is identical before and after (all 211 dumped; only
    # aliccp_silver_to_gold_e2e, which is windowed, differs).
    **dict.fromkeys(
        (
            "doc_fingerprint",
            "multimodal_decode_metadata",
            "multimodal_frame_sample",
            "record_linkage_customers",
            "snapshot_diff_cdc",
            "text_quality_filter",
        ),
        "unreached-def deletion or docstring edit in the module; "
        "normalized plan identical before and after.",
    ),
}

_DRIVER_WINDOW = [
    # Online-table rotation (tools/freshness.py --plan, adopted
    # verbatim): (a) 49 changed entries — online_lookup_latest_features
    # (online_lookup lost its dead broadcast hint; plan identical) and
    # feature_store_historical_retrieval (FeatureStore.register now
    # drops the view's held online table; plan identical), plus the previous
    # rotations' entries still changed against the round-close commit,
    # minus the tempdir-only, dedup-preamble and joins.py-docstring
    # entries exempted above; (b) the oldest unchanged row (r10).
    "aliccp_silver_to_gold_e2e",  # changed
    "ann_index_occupancy_audit",  # changed
    "ann_lsh_bucketed_topk",  # changed
    "ann_quantized_topk",  # changed
    "corpus_mixture_resample",  # changed
    "dedup_minhash_lsh",  # changed
    "dict_encode_event_type",  # changed
    "hybrid_rrf_retrieval",  # changed
    "interval_overlap_sessions",  # changed
    "online_lookup_latest_features",  # changed
    "quality_bigram_logprob",  # changed
    "rfm_customer_segments",  # changed
    "sketch_countmin_freqs",  # changed
    "stream_asof_enrich",  # changed
    "stream_checkpoint_restart",  # changed
    "stream_dedup_exact",  # changed
    "stream_interval_join_attribution",  # changed
    "stream_online_upsert",  # changed
    "stream_session_window_stats",  # changed
    "stream_sliding_window_counts",  # changed
    "stream_topk_trending",  # changed
    "stream_tumbling_window_counts",  # changed
    "aliccp_bronze_to_silver_e2e",  # changed
    "ann_brute_force_topk",  # changed
    "ann_ivf_portable_topk",  # changed
    "ann_ivf_topk",  # changed
    "corpus_data_card",  # changed
    "customer_tier_migration",  # changed
    "dedup_clusters",  # changed
    "dedup_lsh_recall_audit",  # changed
    "dedup_minhash_incremental",  # changed
    "dedup_ngram_jaccard_indexed",  # changed
    "dedup_semantic_embedding",  # changed
    "dict_apply_lang",  # changed
    "embedding_threshold_pairs",  # changed
    "feature_store_historical_retrieval",  # changed
    "funnel_time_to_convert",  # changed
    "graph_bfs_trade_hops",  # changed
    "graph_pagerank_trade_network",  # changed
    "graph_triangle_count",  # changed
    "ids_stable_assign",  # changed
    "kmeans_lloyd_step",  # changed
    "layout_zorder_clustering",  # changed
    "llm_corpus_curation_e2e",  # changed
    "llm_corpus_curation_funnel",  # changed
    "llm_corpus_curation_lsh_counts",  # changed
    "multimodal_embed_topk",  # changed
    "pareto_revenue_concentration",  # changed
    "token_count_bpe",  # changed
    "assoc_event_type_pairs",  # r10
]



def _ordered():
    head = {n: QUERIES[n] for n in _DRIVER_WINDOW}
    tail = {n: qd for n, qd in QUERIES.items() if n not in head}
    return {**head, **tail}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: qd.spark for name, qd in _ordered().items()}


def oracle_sql() -> dict[str, str]:
    return {name: qd.oracle for name, qd in _ordered().items() if qd.oracle is not None}
