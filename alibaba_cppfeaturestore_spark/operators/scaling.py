"""Deterministic feature scaling and binning (fit/apply).

Engine-native equivalents of MLlib's StandardScaler / MinMaxScaler /
QuantileDiscretizer, in the same spirit as the dictionary operators
(``operators/dictionary.py``): the fitted state is a plain DataFrame /
dict of numbers — inspectable, oracle-checkable, identical between batch
and streaming application — rather than an opaque model object.

Scale shape: every fit is ONE aggregation over the data (all columns in
the same pass); application is a pure per-row projection (no shuffle, no
UDF). Fitted state is tiny (per-column scalars / edge lists) and travels
to executors as literals, so streaming micro-batches and huge batch
scans apply it identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.finite import finite_decimal
from ..resources import own


def fit_standard_scaler(df: DataFrame, columns: list[str]) -> dict[str, dict[str, float]]:
    """Per-column mean/stddev (population) in one aggregation pass."""
    aggs = []
    for c in columns:
        aggs += [
            F.avg(c).alias(f"{c}__mean"),
            F.stddev_pop(c).alias(f"{c}__std"),
        ]
    row = df.agg(*aggs).collect()[0]
    return {
        c: {"mean": row[f"{c}__mean"], "std": row[f"{c}__std"]} for c in columns
    }


def apply_standard_scaler(
    df: DataFrame, stats: dict[str, dict[str, float]]
) -> DataFrame:
    """z-score columns in place: (x − mean) / std; zero-variance columns
    scale to 0.0 (not NaN)."""
    out = df
    for c, s in stats.items():
        std = s["std"] or 0.0
        scaled = (
            F.lit(0.0)
            if std == 0.0
            else (F.col(c) - F.lit(s["mean"])) / F.lit(std)
        )
        out = out.withColumn(c, scaled)
    return out


def fit_minmax_scaler(df: DataFrame, columns: list[str]) -> dict[str, dict[str, float]]:
    """Per-column min/max in one pass."""
    aggs = []
    for c in columns:
        aggs += [F.min(c).alias(f"{c}__min"), F.max(c).alias(f"{c}__max")]
    row = df.agg(*aggs).collect()[0]
    return {c: {"min": row[f"{c}__min"], "max": row[f"{c}__max"]} for c in columns}


def apply_minmax_scaler(
    df: DataFrame, stats: dict[str, dict[str, float]]
) -> DataFrame:
    """Rescale columns to [0, 1]; constant columns map to 0.0."""
    out = df
    for c, s in stats.items():
        span = (s["max"] or 0.0) - (s["min"] or 0.0)
        scaled = (
            F.lit(0.0)
            if span == 0.0
            else (F.col(c) - F.lit(s["min"])) / F.lit(span)
        )
        out = out.withColumn(c, scaled)
    return out


def fit_quantile_bins(
    df: DataFrame, column: str, n_bins: int
) -> list[float]:
    """Exact-percentile bin edges (n_bins − 1 interior cut points) —
    deterministic, unlike QuantileDiscretizer's approx sketch default.
    One aggregation; use ``percentile_approx`` manually when the column
    is too hot for exact."""
    qs = [i / n_bins for i in range(1, n_bins)]
    row = df.agg(
        F.expr(
            f"percentile({column}, array({', '.join(str(q) for q in qs)}))"
        ).alias("qs")
    ).collect()[0]
    if row["qs"] is None:
        # Nothing observed (empty feed / all-NULL column): no cut points.
        # apply_quantile_bins([]) assigns bin 0 to every non-null value,
        # the only consistent reading of "no learned boundaries".
        return []
    return [float(x) for x in row["qs"]]


def apply_quantile_bins(
    df: DataFrame, column: str, edges: list[float], out_col: str | None = None
) -> DataFrame:
    """Assign bin index 0..len(edges): bin i ⟺ edges[i−1] < x ≤ edges[i]
    (NULL stays NULL). Pure CASE expression — no shuffle, streaming-safe."""
    out_col = out_col or f"{column}_bin"
    expr = F.when(F.col(column).isNull(), F.lit(None))
    for i, e in enumerate(edges):
        expr = expr.when(F.col(column) <= F.lit(e), F.lit(i))
    expr = expr.otherwise(F.lit(len(edges)))
    return df.withColumn(out_col, expr.cast("int"))


def fit_winsor_bounds(
    df: DataFrame, column: str, lower: float = 0.01, upper: float = 0.99
) -> tuple[float, float]:
    """Exact lower/upper percentile clip bounds in one pass."""
    row = df.agg(
        F.expr(f"percentile({column}, array({lower}, {upper}))").alias("b")
    ).collect()[0]
    return float(row["b"][0]), float(row["b"][1])


def winsorize(
    df: DataFrame, column: str, bounds: tuple[float, float]
) -> DataFrame:
    """Clip a column to the fitted percentile bounds (outlier taming for
    training features; NULLs untouched). Pure projection."""
    lo, hi = bounds
    return df.withColumn(
        column,
        F.when(
            F.col(column).isNotNull(),
            F.least(F.greatest(F.col(column), F.lit(lo)), F.lit(hi)),
        ),
    )


def one_hot(df: DataFrame, column: str, values: list[str]) -> DataFrame:
    """One-hot encode with a DECLARED vocabulary: one 0/1 int column
    ``{column}_{value}`` per listed value (unlisted values encode as all
    zeros — the StringIndexer 'keep' bucket collapsed). Declaring the
    vocabulary keeps this a pure projection — discovering it would add a
    distinct-scan job and make the output schema data-dependent, which
    breaks streaming reuse."""
    out = df
    for v in values:
        out = out.withColumn(
            f"{column}_{v}", (F.col(column) == v).cast("int")
        )
    return out


def fit_target_encoding(
    df: DataFrame, cat_col: str, label_col: str, smoothing: float = 10.0
) -> DataFrame:
    """m-estimate target encoding: per-category smoothed label mean
    ``(sum + m·global_mean) / (n + m)`` — the shrinkage keeps rare
    categories near the global mean instead of memorizing noise.

    The fit is LITERALLY one aggregation: a ROLLUP grouping set computes
    the per-category partials and the grand total in the same scan
    (Spark expands grouping sets map-side), and the global mean is the
    grand-total row's sum/count — a separate ``df.agg(avg)`` would scan
    the base table a second time for one number. The (|vocab|+1)-row
    result is persisted because both the category slice and the
    grand-total slice consume it; the (|vocab|-row) table broadcasts on
    apply."""
    from pyspark import StorageLevel

    # Guarded-decimal label sums (r11): a raw double SUM is
    # order-dependent under non-finite / out-of-domain magnitudes
    # (absorption), so the same fit could emit different encodings on
    # different shuffle orders. Out-of-domain labels (NaN/±Inf/|x| too
    # large for DECIMAL(18,6)) are treated as missing — excluded from
    # both the sum and the count — and the decimal partials reproduce on
    # ANY aggregation tree. The smoothing arithmetic then runs in DOUBLE
    # on decimal-derived operands: same exact inputs → same bits.
    dec = finite_decimal(F.col(label_col).cast("double"))
    agg = own(
        df.rollup(F.col(cat_col).alias("value"))
        .agg(
            F.sum(dec).alias("s"),
            F.count(dec).alias("n"),
            F.grouping_id().alias("__gid"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # "__scalar_" prefix marks a deliberate 1-row broadcast cross join
    # (the plan audit allows BroadcastNestedLoopJoin only for these)
    overall = agg.filter(F.col("__gid") == 1).select(
        (F.col("s").cast("double") / F.nullif(F.col("n"), F.lit(0))).alias(
            "__scalar_gm"
        )
    )
    return (
        agg.filter(F.col("__gid") == 0)
        .crossJoin(F.broadcast(overall))
        .select(
            "value",
            (
                (F.col("s").cast("double") + F.lit(smoothing) * F.col("__scalar_gm"))
                / (F.col("n") + F.lit(smoothing))
            ).alias("encoding"),
        )
    )


def apply_target_encoding(
    df: DataFrame, cat_col: str, encoding: DataFrame, out_col: str | None = None
) -> DataFrame:
    """Broadcast-join the fitted encoding onto the fact table (unseen
    categories → NULL; coalesce with the global mean downstream if
    needed)."""
    out_col = out_col or f"{cat_col}_te"
    enc = F.broadcast(
        encoding.select(
            F.col("value").alias(f"__{cat_col}_v"),
            F.col("encoding").alias(out_col),
        )
    )
    return df.join(
        enc, df[cat_col] == enc[f"__{cat_col}_v"], "left"
    ).drop(f"__{cat_col}_v")


def fit_imputer(
    df: DataFrame, columns: list[str], strategy: str = "mean"
) -> dict[str, float]:
    """Per-column fill values in one pass: 'mean' or 'median' (exact
    percentile). The fitted dict applies identically to batch and
    streaming frames."""
    if strategy == "mean":
        aggs = [F.avg(c).alias(c) for c in columns]
    elif strategy == "median":
        aggs = [F.expr(f"percentile({c}, 0.5)").alias(c) for c in columns]
    else:
        raise ValueError(f"unknown strategy: {strategy!r}")
    row = df.agg(*aggs).collect()[0]
    # A column with nothing observed (empty feed / all NULL) fits no fill
    # value: leave it out, so apply_imputer passes its NULLs through
    # rather than crashing DataFrameNaFunctions.fill on a None.
    return {c: row[c] for c in columns if row[c] is not None}


def apply_imputer(df: DataFrame, fills: dict[str, float]) -> DataFrame:
    """Fill nulls with the fitted values — pure projection."""
    return df.fillna(fills)
