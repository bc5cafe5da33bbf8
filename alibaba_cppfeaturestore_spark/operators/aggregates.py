"""Aggregation operators: latest-per-key materialize, vocab sizes, top-k.

- ``latest_per_key`` is the engine-native Feast ``materialize-incremental``
  (``feast-feature-store/feature_retrieval/materialize.sh:3-4``): newest
  feature row per entity into the online table. Implemented with
  ``max_by(struct(ts, cols...), struct(ts, cols...))`` — a single hash
  aggregation with map-side partial combine, which beats the
  window+row_number formulation at scale (no per-key full sort, no second
  shuffle).
- ``vocab_sizes`` reproduces the reference's per-column distinct counts
  (``batch_process_Silver_to_Gold.py:155-162``) in ONE pass over the data
  instead of 16 separate jobs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.finite import finite_decimal


def latest_per_key(
    df: DataFrame,
    keys: list[str],
    ts: str,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Newest row per key by ``ts`` (ties broken by ``tiebreak`` columns
    desc, then by the remaining value columns desc — fully deterministic).

    Single shuffle on ``keys`` with map-side partial aggregation: each task
    keeps one candidate row per key before the exchange, so shuffle volume
    is ~|distinct keys|, not |rows| — the property that makes this hold at
    100 TB. (A window + row_number would shuffle every row and sort each
    partition.)
    """
    value_cols = [c for c in df.columns if c not in keys]
    order_cols = [ts, *(tiebreak or []), *[c for c in value_cols if c != ts and c not in (tiebreak or [])]]
    packed = F.max_by(
        F.struct(*[F.col(c) for c in value_cols]),
        F.struct(*[F.col(c) for c in order_cols]),
    ).alias("__latest")
    agg = df.groupBy(*keys).agg(packed)
    return agg.select(*keys, *[F.col(f"__latest.{c}").alias(c) for c in value_cols])


def latest_per_key_window(
    df: DataFrame, keys: list[str], ts: str, tiebreak: list[str] | None = None
) -> DataFrame:
    """Window/row_number formulation of latest-per-key (W1). Same result as
    ``latest_per_key``; kept for parity testing and for when the full-row
    sort order matters. Prefer ``latest_per_key`` at scale."""
    value_cols = [c for c in df.columns if c not in keys and c != ts]
    w = Window.partitionBy(*keys).orderBy(
        F.col(ts).desc(),
        *[F.col(c).desc_nulls_last() for c in (tiebreak or value_cols)],
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def vocab_sizes(df: DataFrame, columns: list[str]) -> DataFrame:
    """Exact distinct count per column, one aggregation pass (reference
    ran one job per column, ``batch_process_Silver_to_Gold.py:155-158``).
    Returns a single row with one column per input column.
    """
    return df.agg(*[F.countDistinct(c).alias(c) for c in columns])


def top_k_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    k: int,
    descending: bool = True,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Top-k rows per group — window rank with deterministic tie-break.

    Hot keys are already bounded: Spark (3.5+) plans a
    ``WindowGroupLimit … Partial`` ahead of the exchange, so each map
    task sorts its own rows and ships at most k per group; a hot group
    reaches its reducer as ≤ k × map-task rows, not |group|."""
    order = [
        F.col(order_col).desc() if descending else F.col(order_col).asc(),
        *[F.col(c).asc() for c in (tiebreak or [])],
    ]
    w = Window.partitionBy(*group_cols).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def top_k_per_group_salted(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    k: int,
    tiebreak: list[str] | None = None,
    salt_buckets: int = 16,
) -> DataFrame:
    """Top-k per group in two phases: rank within (group, salt) shards,
    cutting each to ≤ k rows, then merge the ≤ k×salt_buckets survivors
    per group with ``top_k_per_group``.

    It buys nothing over ``top_k_per_group`` on Spark 3.5+: that plan's
    ``WindowGroupLimit … Partial`` already caps every group at k rows per
    map task before the exchange (explain() of
    ``topk_orders_per_priority``), so a hot group never reaches one
    reducer whole. This path only adds a second exchange and sort.

    The salt hashes (order_col, *tiebreak) — values that VARY within a
    group — so shards are deterministic (same data → same result, no
    rand()). Result is row-for-row identical to ``top_k_per_group`` when
    ``tiebreak`` makes the order total; with ties unbroken, which tied
    row survives may differ (same as the plain version's ambiguity).
    """
    salt_src = [F.col(order_col)] + [F.col(c) for c in (tiebreak or [])]
    salt = F.pmod(F.xxhash64(*salt_src), F.lit(salt_buckets))
    order = [F.col(order_col).desc(), *[F.col(c).asc() for c in (tiebreak or [])]]
    w1 = Window.partitionBy(*group_cols, "__salt").orderBy(*order)
    sharded = (
        df.withColumn("__salt", salt)
        .withColumn("__rn", F.row_number().over(w1))
        .filter(F.col("__rn") <= k)
        .drop("__rn", "__salt")
    )
    return top_k_per_group(sharded, group_cols, order_col, k, tiebreak=tiebreak)


def scd2_history(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    attrs: list[str],
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Slowly-changing-dimension type-2 history from a change stream: one
    row per (key, version) with ``valid_from`` / ``valid_to`` /
    ``is_current`` — the feature-history layout that the as-of join
    (``operators/joins.py::asof_join``) consumes.

    Consecutive rows whose ``attrs`` are unchanged are collapsed (no-op
    updates produce no version); ``valid_to`` is the next version's
    ``valid_from`` (half-open intervals), NULL for the current row.

    Scale shape: two window passes over the same (keys, ts) partitioning
    — Spark reuses one sort/exchange for both — and state per key is one
    row of lag values, not the history.
    """
    order = [F.col(ts_col).asc(), *[F.col(c).asc() for c in (tiebreak or [])]]
    w = Window.partitionBy(*keys).orderBy(*order)
    # a version starts at the first row or where any tracked attribute
    # differs from its lag — eqNullSafe so NULL↔value transitions count
    # as changes and NULL↔NULL does not
    changed = F.row_number().over(w) == 1
    for a in attrs:
        changed = changed | ~F.col(a).eqNullSafe(F.lag(a).over(w))
    versions = df.withColumn("__chg", changed).filter(F.col("__chg")).drop("__chg")
    w2 = Window.partitionBy(*keys).orderBy(*order)
    return versions.select(
        *keys,
        *attrs,
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(w2).alias("valid_to"),
        F.lead(ts_col).over(w2).isNull().alias("is_current"),
    )


def profile_table(df: DataFrame, columns: list[str]) -> DataFrame:
    """One-pass data-profiling report: per column a row of
    ``(column, n_rows, n_nulls, n_distinct, min_value, max_value)``
    (min/max as strings so heterogeneous types share one schema).

    ALL columns profile in a single aggregation over one scan — the
    reference's style of one job per metric per column multiplies scans;
    this is the audit-before-training primitive at 100 TB. The wide
    1-row aggregate is unpivoted driver-side-free via ``stack``.
    """
    # float/double min/max range over the FINITE DECIMAL(30,6) domain,
    # rendered as fixed-scale decimal strings: raw double→string casts
    # are engine-specific exactly where profiling matters most (NaN vs
    # nan, -Infinity vs -inf, 1.0E300 vs 1e+300). Out-of-domain values
    # are excluded from the RANGE (they still count in n_distinct /
    # n_nulls); their existence is the DQ layer's job to flag.
    dtypes = dict(df.dtypes)
    aggs = [F.count("*").alias("__n")]
    for c in columns:
        if dtypes.get(c) in ("double", "float"):
            mm = finite_decimal(c, "decimal(30,6)")
            mn = F.min(mm).cast("string")
            mx = F.max(mm).cast("string")
        else:
            mn = F.min(c).cast("string")
            mx = F.max(c).cast("string")
        aggs += [
            F.count(c).alias(f"{c}__nn"),
            F.countDistinct(c).alias(f"{c}__nd"),
            mn.alias(f"{c}__mn"),
            mx.alias(f"{c}__mx"),
        ]
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__nn, {c}__nd, {c}__mn, {c}__mx" for c in columns
    )
    return wide.selectExpr(
        "__n",
        f"stack({len(columns)}, {stack_args}) as "
        "(column, __nn, n_distinct, min_value, max_value)",
    ).select(
        "column",
        F.col("__n").alias("n_rows"),
        (F.col("__n") - F.col("__nn")).alias("n_nulls"),
        "n_distinct",
        "min_value",
        "max_value",
    )


def melt(
    df: DataFrame,
    id_cols: list[str],
    value_cols: list[str],
    var_name: str = "variable",
    value_name: str = "value",
) -> DataFrame:
    """Unpivot (wide→long), the inverse of ``groupBy().pivot()``: one row
    per (id, value column). Pure ``stack`` projection — no shuffle, no
    UDF; value columns are cast to a common type by Spark's stack
    resolution, so mixed numeric widths melt cleanly."""
    pairs = ", ".join(f"'{c}', `{c}`" for c in value_cols)
    exprs = [*[f"`{c}`" for c in id_cols],
             f"stack({len(value_cols)}, {pairs}) as (`{var_name}`, `{value_name}`)"]
    return df.selectExpr(*exprs)
