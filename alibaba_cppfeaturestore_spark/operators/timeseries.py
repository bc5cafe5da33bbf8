"""Time-series operators: hypertable-style rollup cascades and gap-fill.

Engine extras (the reference has no time-series surface) modeled on
TimescaleDB continuous aggregates / materialized rollups, re-expressed as
Spark aggregation plans.

The cascade is the scale story: the 1-minute rollup reads the raw table
ONCE; every coarser level re-aggregates the next-finer level's PARTIAL
state (sum/count/min/max compose; avg is carried as sum+count and
finalized per level). At 100 TB the hourly/daily levels therefore cost
|minutely rows| ≈ |keys| × minutes — typically 4-6 orders of magnitude
less than the raw scan a naive per-level GROUP BY would repeat.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.finite import finite_decimal
from ..resources import own

# measures we can re-aggregate losslessly from partial state
_REAGG = {"sum", "count", "min", "max"}


def time_bucket(ts_col, width: str):
    """Tumbling time bucket start (window-less: pure expression, no agg
    state) — equivalent to DuckDB ``time_bucket(INTERVAL w, ts)``."""
    return F.window(ts_col, width)["start"]


def rollup_cascade(
    df: DataFrame,
    ts_col: str,
    levels: list[str],
    group_cols: list[str] | None = None,
    measures: dict[str, tuple[str, str]] | None = None,
) -> DataFrame:
    """Multi-granularity rollup: one row per (level, bucket, *group_cols)
    with columns ``level`` (the width string), ``bucket_start``, ``n``
    (row count) and one column per measure.

    ``levels`` must be ordered finest→coarsest, each coarser width an
    integer multiple of the previous (e.g. ``["1 minute", "1 hour",
    "1 day"]``) so buckets nest exactly. ``measures`` maps output column →
    (input column, agg) with agg ∈ {sum, count, min, max, avg}.

    Only the FINEST level touches ``df``; each coarser level aggregates
    the previous level's partial state (avg carried as sum+count,
    finalized at the end), with intermediate tiers PERSISTED so the raw
    table is scanned exactly once (each tier has two consumers — the
    next tier and the output union — and without materialization Spark
    would recompute the whole chain per consumer; see inline note).

    Float caveat: double addition is NOT associative, so a coarser level's
    re-aggregated double sum can differ in the last ulp from a direct
    aggregation of the raw rows — enough to flip a ROUND boundary. Feed a
    DECIMAL measure column when exact cross-order (or cross-engine)
    reproducibility matters: decimal addition is associative, so the
    cascade's sums equal the direct sums bit-for-bit at any level.
    """
    group_cols = group_cols or []
    measures = measures or {}
    for out, (_, agg) in measures.items():
        if agg not in _REAGG | {"avg"}:
            raise ValueError(f"measure {out}: agg '{agg}' cannot re-aggregate")

    def partial_aggs(src_is_raw: bool):
        aggs = [
            (F.count("*") if src_is_raw else F.sum("n")).alias("n")
        ]
        for out, (col, agg) in measures.items():
            if agg == "avg":
                # carry partial state: sum + count of non-nulls
                s = F.sum(col if src_is_raw else f"__{out}_sum").alias(f"__{out}_sum")
                c = (
                    F.count(col) if src_is_raw else F.sum(f"__{out}_cnt")
                ).alias(f"__{out}_cnt")
                aggs += [s, c]
            else:
                fn = getattr(F, agg)
                src = col if src_is_raw else out
                if agg == "count" and not src_is_raw:
                    fn = F.sum  # counts re-aggregate by summing
                aggs.append(fn(src).alias(out))
        return aggs

    from pyspark import StorageLevel

    finest = (
        df.withColumn("__bucket", time_bucket(F.col(ts_col), levels[0]))
        .groupBy("__bucket", *group_cols)
        .agg(*partial_aggs(src_is_raw=True))
        .withColumn("__level", F.lit(levels[0]))
    )

    # Every tier except the last is consumed TWICE — by the next-coarser
    # tier's re-aggregation AND by the final union. Without persistence
    # Spark compiles both consumers independently and the raw table is
    # scanned once per union branch (verified: 2 FileScans, no exchange
    # reuse even under AQE) — exactly the repeated-scan cost the cascade
    # exists to avoid. Persisting each intermediate tier pins the
    # one-raw-scan property; tiers are |keys|×buckets rows (orders of
    # magnitude smaller than the input), MEMORY_AND_DISK so a huge key
    # space spills instead of OOMing. Plan-asserted in
    # tests/test_txlog_incremental.py::test_rollup_cascade_scans_raw_once.
    tiers = [finest]
    for width in levels[1:]:
        prev = own(tiers[-1].persist(StorageLevel.MEMORY_AND_DISK))
        tiers[-1] = prev
        tiers.append(
            prev.withColumn("__bucket", time_bucket(F.col("__bucket"), width))
            .groupBy("__bucket", *group_cols)
            .agg(*partial_aggs(src_is_raw=False))
            .withColumn("__level", F.lit(width))
        )

    out = tiers[0]
    for t in tiers[1:]:
        out = out.unionByName(t)

    # finalize avgs, drop partial-state columns. The sum is cast to double
    # BEFORE the division: for double inputs this is a no-op, and for
    # decimal inputs (the hash-exact mode — see timeseries_rollup_cascade
    # in plans/catalog.py) it yields IEEE-deterministic double division of
    # an exact decimal sum instead of an engine-specific decimal-division
    # precision rule.
    for name, (_, agg) in measures.items():
        if agg == "avg":
            out = out.withColumn(
                name,
                F.col(f"__{name}_sum").cast("double") / F.col(f"__{name}_cnt"),
            ).drop(f"__{name}_sum", f"__{name}_cnt")
    return out.select(
        F.col("__level").alias("level"),
        F.col("__bucket").alias("bucket_start"),
        *group_cols,
        "n",
        *measures.keys(),
    )


def gap_fill(
    df: DataFrame,
    ts_col: str,
    bucket_width_seconds: int,
    group_cols: list[str] | None = None,
    fill: dict[str, float] | None = None,
) -> DataFrame:
    """Densify a bucketed time series: emit one row per ``bucket_width``
    step between each group's min and max bucket, filling missing buckets
    with ``fill`` constants (NULL where unspecified).

    ``df`` must already be bucketed (one row per (group, bucket_start));
    the generated spine is |span/width| rows per group — built with
    ``sequence`` + explode, joined back left. Per-group spans bound the
    explode, so a group's cost is its own time range, not the global one.
    """
    group_cols = group_cols or []
    fill = fill or {}

    spans = df.groupBy(*group_cols).agg(
        F.min(ts_col).alias("__lo"), F.max(ts_col).alias("__hi")
    )
    spine = spans.select(
        *group_cols,
        # explode_outer: inner explode of a computed sequence triggers
        # InferFiltersFromGenerate re-evaluation (see operators/dedup.py)
        F.explode_outer(
            F.sequence(
                F.col("__lo").cast("timestamp"),
                F.col("__hi").cast("timestamp"),
                F.expr(f"INTERVAL {bucket_width_seconds} SECONDS"),
            )
        ).alias(ts_col),
    ).filter(F.col(ts_col).isNotNull())

    out = spine.join(df, [*group_cols, ts_col], "left")
    for col, v in fill.items():
        out = out.withColumn(col, F.coalesce(F.col(col), F.lit(v)))
    return out


def range_moving_agg(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    window_seconds: int,
    aggs: dict[str, str] | None = None,
) -> DataFrame:
    """Event-time RANGE-frame moving aggregates per key: for every row,
    aggregate the key's rows in ``[ts − window, ts]`` (a true sliding
    window over event time — unlike row-count frames, gaps and bursts
    are handled correctly, and ties need no ordering tiebreak because a
    RANGE frame includes every row with an equal timestamp).

    The frame key is exact integer MICROSECONDS (``unix_micros``):
    second-truncation would silently widen/narrow frames on sub-second
    data, and float epochs make frame membership engine-dependent.

    ``aggs`` maps output column → agg ∈ {sum, count, min, max, avg};
    default is a moving avg. Scale: one shuffle on the key; the frame
    scan is Spark's standard sliding-frame window execution, state
    bounded by the densest single key-window.
    """
    aggs = aggs or {"moving_avg": "avg"}
    w = (
        Window.partitionBy(key_col)
        .orderBy(F.unix_micros(F.col(ts_col).cast("timestamp")))
        .rangeBetween(-window_seconds * 1_000_000, 0)
    )
    out = df
    for name, agg in aggs.items():
        if agg == "avg":
            expr = F.avg(value_col).over(w)
        elif agg in ("sum", "count", "min", "max"):
            expr = getattr(F, agg)(value_col).over(w)
        else:
            raise ValueError(f"unsupported agg: {agg}")
        out = out.withColumn(name, expr)
    return out


def grouped_ewma(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    value_col: str,
    alpha: float = 0.5,
    out_col: str = "ewma",
) -> DataFrame:
    """Per-key exponentially weighted moving average (adjust=False
    recurrence: y_0 = v_0, y_i = α·v_i + (1−α)·y_{i−1}) over rows ordered
    by ``order_cols`` within each key.

    This is the engine's grouped-map (``applyInPandas``) tier: the EWMA
    recurrence is inherently SEQUENTIAL per key — no fixed-depth window
    or aggregate expresses it, and the power-weight closed form
    Σ v_j·(1−α)^{i−j} underflows/overflows as a prefix-sum rewrite — so a
    vectorized per-group pandas kernel (``Series.ewm``) is the sanctioned
    shape. Scale: one shuffle on the key (same as any groupBy); each
    group processes independently as an Arrow batch; skew bounded by the
    largest single key's history, identical to any stateful per-key op.

    Output columns: key, *order_cols, value, ``out_col`` (double).

    NULL observations are SKIPPED AND DROPPED: the recurrence is
    defined over the observed series only — an unobserved tick updates
    no state and emits no row. The two engines' native behaviors
    diverge here (pandas ``ewm`` carries the last state through NaN
    rows; a SQL recurrence poisons every subsequent step with NULL),
    so the operator pins one explicit semantic instead of inheriting
    either accident (``driver_sim --perturb-nulls`` find). Callers who
    want carry-forward should forward-fill before calling.
    """
    import pandas as pd

    # value_col may ALSO serve as the final order tie-break (r09: rows
    # tied on every other key then carry equal values, making the
    # recurrence order-invariant) — dedupe so the kernel schema stays
    # one column per name
    cols = [key_col, *order_cols]
    if value_col not in cols:
        cols.append(value_col)
    schema_fields = ", ".join(f"`{c}` {t}" for c, t in df.select(*cols).dtypes)
    schema = f"{schema_fields}, `{out_col}` double"

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_cols, kind="mergesort")
        pdf[out_col] = (
            pdf[value_col].ewm(alpha=alpha, adjust=False).mean().astype("float64")
        )
        return pdf

    # Pin the pandas stage's parallelism (the AQE bytes-vs-cost trap,
    # SCALING.md): the pre-kernel exchange carries few BYTES, so AQE
    # coalesces it to 1-2 partitions and the per-key sequential kernels
    # serialize onto 1-2 cores (measured at sf0.1: 3.3 s on 2 tasks).
    # An explicit hash repartition on the key satisfies the grouped-map
    # distribution requirement, so no second exchange is added.
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    # skip-and-drop extends to NON-FINITE ticks: pandas ewm carries the
    # last state through a NaN while a plain SQL recurrence NULL-poisons
    # from it onward — the operator pins one policy instead of
    # inheriting either accident (driver_sim --perturb-extremes; same
    # reasoning as the NULL case above)
    v = F.col(value_col)
    return (
        df.select(*cols)
        .filter(v.isNotNull() & ~F.isnan(v) & (F.abs(v) != F.lit(float("inf"))))
        .repartition(parallelism, key_col)
        .groupBy(key_col)
        .applyInPandas(kernel, schema)
    )


def time_weighted_avg(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    group_cols: list[str],
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Time-weighted average over IRREGULARLY-spaced observations: each
    value is weighted by how long it remained current (step-function /
    last-observation-carried-forward semantics, the TWAP convention for
    sensor and price series — a plain AVG over-weights bursts).

    Exactness: durations are integer MICROSECONDS via a unix_micros
    difference (timezone cancels in the subtraction, so TIMESTAMP_NTZ
    inputs are safe on any session zone), values are DECIMAL(18,6);
    Σ(v·Δt) and ΣΔt are exact on any aggregation tree, and the published
    ``twap`` is one double division of identical decimal-derived
    operands. The final observation has no successor and carries zero
    weight; single-observation groups fall back to the value itself.

    Scale shape: one per-group window (lead) + one partial-aggregable
    GROUP BY — |groups| rows shuffled after map-side combine.
    """
    ts = F.col(ts_col).cast("timestamp")
    # tie-break makes lead() deterministic under duplicate timestamps.
    # Callers should include the VALUE column as the final tie-break:
    # rows tied on every key then carry equal values, so Σ(v·Δt) is
    # invariant under their relative order — a total RESULT even where
    # the order itself is not (r09 find: ts-truncated duplicate-id rows).
    # NULL placement pinned explicitly (nulls first is Spark's ASC
    # default, but SQL oracles must spell NULLS FIRST — engines differ).
    w = Window.partitionBy(*group_cols).orderBy(
        F.asc_nulls_first(ts_col), *[F.asc_nulls_first(c) for c in (tiebreak or [])]
    )
    nxt = F.lead(ts).over(w)
    # DECIMAL(19,0) durations cover the FULL Spark timestamp range
    # (±~2.9e17 us around epoch): epoch-0 / far-future event times
    # (clock loss, unit bugs; driver_sim --perturb-ts-nulls) produce
    # multi-century gaps that overflowed (14,0) (r11 find, seed 337),
    # and a 9999-12-31 sentinel against an epoch floor (~2.5e17 us)
    # overflows even (17,0) (r11 advice) — (19,0) has no reachable
    # overflow, and (18,6)×(19,0) is exactly (38,6), inside the cap.
    dt = (F.unix_micros(nxt) - F.unix_micros(ts)).cast("decimal(19,0)")
    # out-of-domain observations are missing, not an ANSI cast error
    v = finite_decimal(value_col)
    stepped = df.select(
        *group_cols,
        v.alias("_v"),
        F.coalesce(dt, F.lit(0).cast("decimal(19,0)")).alias("_dt"),
    )
    # (18,6)×(19,0) -> exactly (38,6) (at the cap, zero precision loss);
    # the sum stays (38,6)
    num = F.sum((F.col("_v") * F.col("_dt")).cast("decimal(38,6)")).cast("decimal(38,6)")
    # (29,0) = sum headroom of 10 digits over the (19,0) operand — the
    # old (20,0) narrowing could overflow on many far-future gaps in
    # one group; 1e29 us ≈ 3e15 years, unreachable
    den = F.sum("_dt").cast("decimal(29,0)")
    # all-zero-duration fallback (single obs / all-duplicate timestamps):
    # plain mean, but decimal-sum÷count — a double AVG would be
    # aggregation-order-dependent
    fallback = F.sum("_v").cast("decimal(24,6)").cast("double") / F.count(F.lit(1)).cast(
        "double"
    )
    return stepped.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.when(den > 0, num.cast("double") / den.cast("double"))
        .otherwise(fallback)
        .alias("twap"),
    )
