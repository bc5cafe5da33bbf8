"""Physical-plan audit over the whole query catalog.

Correctness is the oracle gate's job; THIS file pins the plans — the
properties that decide whether a query survives a 100×/1000× scale-up:

- no row-at-a-time Python (``BatchEvalPython``) anywhere except the two
  multimodal queries, whose Arrow ``mapInPandas`` stage is the design;
- no ``CartesianProduct``/``BroadcastNestedLoopJoin`` anywhere except
  the brute-force ANN baseline, where the broadcasted query×corpus
  product IS the algorithm (the LSH/IVF variants are the scale path);
- dimension joins broadcast, global top-N compiles to
  ``TakeOrderedAndProject``, as-of picks compile to ``WindowGroupLimit``
  (top-1 pushdown, no full sort of the feature history).

Plans are inspected WITHOUT executing (initial adaptive plan), so the
audit covers every lazily-buildable catalog query in seconds. Queries
that execute eagerly on build (streaming runs, the CC loop, the online
store) are skipped here — their runtime behavior is pinned by their own
tests.
"""

from __future__ import annotations

import re

import pytest

from alibaba_cppfeaturestore_spark.plans.catalog import QUERIES

SF = "/root/testdata/sf0.001"

# build-time side effects (streaming runs, iterative actions) — not lazily
# plannable, audited by their own tests instead
EAGER = {name for name in QUERIES if name.startswith("stream_")} | {
    "dedup_clusters",  # runs the CC fixpoint loop on build
}

# Arrow-batched Python stages are the intended design for these
# (ann_ivf_topk left this set in r12: the greedy-quantizer rewrite has
# no ML stage — its plan is the ivf_portable_topk pure-expression tail)
PYTHON_OK = {"multimodal_decode_metadata", "multimodal_frame_sample"}

# the deliberate exhaustive baseline (queries are broadcast, corpus streams)
NESTED_LOOP_OK = {
    "ann_brute_force_topk",
    "embedding_threshold_pairs",
    "multimodal_embed_topk",  # composes the brute-force baseline
    "ann_quantized_topk",  # brute-force on the quantized form, by design
    "ann_ivf_portable_topk",  # 16-row centroid broadcast × corpus — the IVF assignment shape
    "ann_ivf_topk",  # same tail as portable: greedy centroids broadcast × corpus
    "ann_recall_audit",  # composes the sanctioned brute-force baseline as its exact leg
}


def _plan(spark, name: str) -> str:
    df = QUERIES[name].spark(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def plans(spark):
    return {name: _plan(spark, name) for name in QUERIES if name not in EAGER}


def test_no_row_python_udfs_anywhere(plans):
    offenders = {
        n for n, p in plans.items() if "BatchEvalPython" in p and n not in PYTHON_OK
    }
    assert not offenders, f"row-Python in hot path: {offenders}"


def test_python_stages_are_arrow_batched(plans):
    for n in PYTHON_OK:
        if n in plans:
            assert "BatchEvalPython" not in plans[n], (
                f"{n} fell back to row-at-a-time Python instead of Arrow"
            )


def test_no_unbounded_join_products(plans):
    for n, p in plans.items():
        if n in NESTED_LOOP_OK:
            continue
        assert "CartesianProduct" not in p, f"{n} plans a cartesian product"
        if "BroadcastNestedLoopJoin" in p:
            # 1-row broadcast aggregates (lazy vocab-size fallback, the
            # "__scalar_"-prefixed global-stat joins) are the only
            # legitimate BNLJ shapes — anything joining real relations
            # nested-loop is a scale bug
            assert "vocab" in p or "__scalar_" in p, (
                f"{n} plans BroadcastNestedLoopJoin:\n{p}"
            )


def test_dimension_joins_broadcast(plans):
    for n in ["q3_shipping_priority", "q5_local_supplier_volume", "join_broadcast_dim_agg"]:
        assert "BroadcastHashJoin" in plans[n], f"{n} lost its broadcast:\n{plans[n]}"


def test_global_topn_is_take_ordered(plans):
    assert "TakeOrderedAndProject" in plans["sort_global_topn"]


def test_grouped_pandas_parallelism_is_pinned(plans):
    # The grouped-map (applyInPandas) stage shuffles few BYTES but runs
    # expensive per-key kernels, so AQE coalesces its exchange to 1-2
    # partitions and the kernels serialize (measured: 3.3 s -> 1.4 s at
    # sf0.1). The operator pins an explicit numbered repartition on the
    # key, which doubles as the grouped-map distribution — the plan must
    # show the pandas stage fed by that REPARTITION_BY_NUM exchange and
    # no second exchange above it.
    p = plans["ewma_user_value"]
    assert "FlatMapGroupsInPandas" in p
    pandas_part = p.split("FlatMapGroupsInPandas")[1]
    first_exchange = pandas_part.split("Exchange ")[1].split("\n")[0]
    assert "REPARTITION_BY_NUM" in first_exchange, (
        f"grouped pandas stage lost its parallelism pin:\n{p}"
    )


def test_vocab_rank_window_is_partitioned(plans):
    # The PPJoin index's token-frequency rank must NOT serialize the
    # vocabulary through a single-partition window (SURVEY §7.3 W2): the
    # within-bucket rank clusters by (cnt, salt), and the only
    # SinglePartition exchange allowed feeds the (cnt, salt) GROUP-SIZE
    # offsets window — statistics rows, not vocabulary rows.
    p = plans["dedup_ngram_jaccard_indexed"]
    # distinct plan_ids: the persisted index subtree is referenced by
    # several consumers, so the one sanctioned exchange prints repeatedly
    single = set(
        re.findall(r"Exchange SinglePartition[^\n]*?\[plan_id=(\d+)\]", p)
    )
    assert len(single) == 0, p
    assert re.search(r"hashpartitioning\(__cls#\d+L?, __salt#\d+", p), p


# Catalog-wide allowlist for test_no_unbounded_single_partition_windows:
# queries whose remaining SinglePartition-fed Window runs over an
# aggregate whose cardinality is bounded by something that does NOT grow
# with the data volume — each entry documents the bound. Everything else
# (per-customer, per-document, per-vocab, per-converter aggregates, whose
# cardinality scales with SF) must use operators/ranks.py::two_phase_rank
# or an equivalent partitioned shape.
BOUNDED_WINDOW_OK = {
    # 3 ranks over the per-DAY purchase aggregate: |rows| = |calendar
    # days in the dataset| (~2.5k for TPC-H's 7-year horizon) — bounded
    # by the time span, not the data volume
    "anomaly_seasonal_residuals",
    # cumulative count over a FIXED number of histogram bins
    "histogram_percentile_estimate",
    # running sum over the per-day first-seen aggregate (|days|)
    "running_distinct_users",
    # lag over the per-week revenue aggregate (|weeks|)
    "wow_revenue_change",
}


def _single_partition_windows(plan: str) -> list[str]:
    """Window operators whose nearest downstream Exchange is
    SinglePartition (the scale-killing shape): textual tree walk — from
    each Window line, descend while strictly deeper, stop at the first
    Exchange / Aggregate / Window boundary."""
    prefix = re.compile(r"^(?:[ :]|\+-|:-)*(?:\*\(\d+\)\s*)?")
    lines = plan.splitlines()
    hits = []
    for i, ln in enumerate(lines):
        d = prefix.match(ln).end()
        if not ln[d:].startswith("Window "):
            continue
        for j in range(i + 1, len(lines)):
            dj = prefix.match(lines[j]).end()
            bj = lines[j][dj:]
            if dj <= d:
                break
            if bj.startswith("Exchange"):
                if "SinglePartition" in bj:
                    hits.append(ln.strip()[:120])
                break
            if re.match(r"(HashAggregate|SortAggregate|ObjectHashAggregate|Window )", bj):
                break
    return hits


def test_no_unbounded_single_partition_windows(plans):
    # Round-7 extension of the vocab-rank assertion (above) to the WHOLE
    # catalog: no query may feed a Window from Exchange SinglePartition
    # unless its aggregate is provably bounded (BOUNDED_WINDOW_OK).
    offenders = {
        n: hits
        for n, p in plans.items()
        if n not in BOUNDED_WINDOW_OK and (hits := _single_partition_windows(p))
    }
    assert not offenders, f"unbounded single-partition windows: {offenders}"


def test_bounded_window_allowlist_is_tight(plans):
    # every allowlisted query still plans its bounded window — stale
    # entries must be removed so the allowlist can't quietly grow
    for n in BOUNDED_WINDOW_OK:
        assert _single_partition_windows(plans[n]), (
            f"{n} no longer plans a single-partition window; drop it from "
            "BOUNDED_WINDOW_OK"
        )


def test_asof_join_uses_window_group_limit(plans):
    # top-1-per-group pushdown: Spark plans WindowGroupLimit before the
    # window sort, so per-key state is O(1), not O(history)
    for n in ["asof_last_view_before_click", "asof_join_with_ttl"]:
        assert "WindowGroupLimit" in plans[n], f"{n}:\n{plans[n]}"


def test_retrieval_rank_heads_stay_pushed_down(plans):
    # The retrieval top-k heads must never degrade to a full
    # single-partition sort over |scored docs|:
    # - hybrid_rrf's two rank-<=-50 windows rely on Spark's
    #   LimitPushDownThroughWindow rewrite: each compiles to
    #   TakeOrderedAndProject(limit=50) FEEDING the window, so the
    #   single-partition window sorts <=50 rows, not every scored doc.
    #   If a Spark upgrade or refactor loses the rewrite, each window
    #   becomes a full single-partition sort of the corpus.
    # - bm25_topk's orderBy().limit(k) must compile to TakeOrdered
    #   (per-partition partial top-k merged on the driver).
    p = plans["hybrid_rrf_retrieval"]
    assert p.count("TakeOrderedAndProject(limit=50") >= 2, p
    assert "TakeOrderedAndProject" in plans["bm25_topk_retrieval"], plans[
        "bm25_topk_retrieval"
    ]


def test_parquet_filters_push_down(plans):
    p = plans["filter_theta_or"]
    assert "PushedFilters: [" in p
    # the theta-OR predicate itself must reach the scan, not sit in a
    # post-scan Filter alone
    assert "PushedFilters: []" not in p, p


def test_two_phase_rewrites_stay_partitioned_after_aqe(spark):
    # the initial-plan audit above could in principle diverge from the
    # AQE-final physical plan; execute the round-7 rewrites and re-check
    # the no-single-partition-window property on isFinalPlan=true
    for n in [
        "rfm_customer_segments",
        "pareto_revenue_concentration",
        "corpus_data_card",
        "funnel_time_to_convert",
        "customer_tier_migration",
        "dict_encode_event_type",
    ]:
        df = QUERIES[n].spark(spark, SF)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        hits = _single_partition_windows(plan)
        assert not hits, f"{n} (final plan): {hits}"


def test_whole_stage_codegen_active(spark):
    # codegen stages appear only in the FINAL adaptive plan — execute first
    for n in ["q1_pricing_summary", "dedup_minhash_lsh", "text_stats"]:
        df = QUERIES[n].spark(spark, SF)
        df.collect()  # count() would plan a separate execution; collect
        # finalizes THIS plan so AQE shows the real codegen stages
        plan = df._jdf.queryExecution().executedPlan().toString()
        # codegen'd operators carry a "*(stageId)" prefix in toString
        assert re.search(r"\*\(\d+\)", plan), f"{n} runs interpreted:\n{plan}"


def test_null_policy_filters_reach_the_scan(plans):
    # the observed-values-only policy (driver_sim --perturb-nulls) is a
    # scan-stage predicate, not a post-shuffle filter: IsNotNull(value)
    # must be in PushedFilters so the 100 TB path never shuffles rows it
    # is about to drop
    for n in [
        "feature_quantile_normalize",
        "anomaly_mad_outliers",
        "grouped_mode_bucket",
    ]:
        assert "IsNotNull(value)" in plans[n], f"{n}:\n{plans[n]}"
