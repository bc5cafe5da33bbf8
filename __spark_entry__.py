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
        "value, bounded size) is still a plan-build cache only."
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
    # state_partitions 8->4) is windowed, not exempted. dedup.py's only
    # other r14 edit is a docstring precondition note.
    "alibaba_cppfeaturestore_spark/operators/dedup.py": (
        "r14 register_persisted wrapping + an incremental-minhash "
        "docstring note; no value or plan-shape change (see block "
        "comment above)."
    ),
    "alibaba_cppfeaturestore_spark/operators/graph.py": (
        "r14 register_persisted wrapping; no value or plan-shape change."
    ),
    "alibaba_cppfeaturestore_spark/operators/retrieval.py": (
        "r14 register_persisted wrapping; no value or plan-shape change."
    ),
    "alibaba_cppfeaturestore_spark/operators/scaling.py": (
        "r14 register_persisted wrapping; no value or plan-shape change."
    ),
    "alibaba_cppfeaturestore_spark/operators/sketches.py": (
        "r14 register_persisted wrapping; no value or plan-shape change."
    ),
    "alibaba_cppfeaturestore_spark/operators/statistics.py": (
        "r14 register_persisted wrapping; no value or plan-shape change."
    ),
    "alibaba_cppfeaturestore_spark/operators/timeseries.py": (
        "r14 register_persisted wrapping; no value or plan-shape change."
    ),
}

_DRIVER_WINDOW = [
    # Fitted-dictionary rotation (tools/freshness.py --plan, adopted
    # verbatim): (a) 29 changed entries — the three dictionary entries,
    # promoted through operators/dictionary.py (the fit is now eager and
    # returns driver-local (value, index) rows; values unchanged);
    # aliccp_bronze_to_silver_e2e, promoted through a docstring-only
    # edit to plans/aliccp.py; four catalog entries whose bare persists
    # now go through ranks.register_persisted (aliccp_silver_to_gold_e2e
    # is the fifth) and rfm_customer_segments, whose registration moved
    # into the persisting statement; the 20 similarity-core / streaming /
    # vectors entries of the previous rotation; (b) the oldest unchanged
    # window rows, oldest-first: the r10 cohort.
    "aliccp_silver_to_gold_e2e",  # changed
    "ann_brute_force_topk",  # changed
    "ann_index_occupancy_audit",  # changed
    "ann_lsh_bucketed_topk",  # changed
    "ann_quantized_topk",  # changed
    "corpus_mixture_resample",  # changed
    "dict_encode_event_type",  # changed
    "hybrid_rrf_retrieval",  # changed
    "interval_overlap_sessions",  # changed
    "quality_bigram_logprob",  # changed
    "rfm_customer_segments",  # changed
    "sketch_countmin_freqs",  # changed
    "aliccp_bronze_to_silver_e2e",  # changed
    "ann_ivf_portable_topk",  # changed
    "ann_ivf_topk",  # changed
    "dedup_semantic_embedding",  # changed
    "dict_apply_lang",  # changed
    "embedding_threshold_pairs",  # changed
    "graph_pagerank_trade_network",  # changed
    "kmeans_lloyd_step",  # changed
    "multimodal_embed_topk",  # changed
    "stream_asof_enrich",  # changed
    "stream_dedup_exact",  # changed
    "stream_interval_join_attribution",  # changed
    "stream_online_upsert",  # changed
    "stream_session_window_stats",  # changed
    "stream_sliding_window_counts",  # changed
    "stream_topk_trending",  # changed
    "stream_tumbling_window_counts",  # changed
    "assoc_event_type_pairs",  # r10
    "bpe_merge_pair_counts",  # r10
    "chunk_documents_rag",  # r10
    "cooccurrence_skipgram_pairs",  # r10
    "dedup_winnow_containment",  # r10
    "doc_fingerprint",  # r10
    "dq_feature_leakage_audit",  # r10
    "ewma_user_value",  # r10
    "feature_store_historical_retrieval",  # r10
    "gdpr_forget_cascade",  # r10
    "graph_bfs_trade_hops",  # r10
    "graph_triangle_count",  # r10
    "ids_stable_assign",  # r10
    "inverted_index_postings",  # r10
    "itemsim_copurchase_topk",  # r10
    "join_full_outer_reconcile",  # r10
    "join_null_safe_eq",  # r10
    "latest_event_per_user",  # r10
    "negative_sampling_pairs",  # r10
    "q20_dominant_part_suppliers",  # r10
    "q2_min_cost_supplier",  # r10
]



def _ordered():
    head = {n: QUERIES[n] for n in _DRIVER_WINDOW}
    tail = {n: qd for n, qd in QUERIES.items() if n not in head}
    return {**head, **tail}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: qd.spark for name, qd in _ordered().items()}


def oracle_sql() -> dict[str, str]:
    return {name: qd.oracle for name, qd in _ordered().items() if qd.oracle is not None}
