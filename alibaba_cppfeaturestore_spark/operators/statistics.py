"""Robust / regression statistics computed with CROSS-ENGINE-EXACT
arithmetic.

Engine extras (the reference has no statistics surface beyond plain
aggregations; cf. ``batch_process_Silver_to_Gold.py``): grouped
ordinary-least-squares trend fitting and median/MAD robust outlier
detection, shaped for the 100 TB case.

Exactness design (see SCALING.md "Round-3 field notes"): every
intermediate that must be reproducible across engines and aggregation
orders is a DECIMAL — decimal addition is associative, so partial
aggregation / shuffle order can never change a sum. All decimal
precisions below are chosen so that NO operation can hit Spark's
precision-38 cap (where ``allowPrecisionLoss`` silently rounds the
scale): products and sums stay strictly inside 38 digits for the
documented domain (|x| ≤ 1e6 integer, |y| ≤ 1e11 at 6 decimals,
n ≤ 1e12 rows/group). The genuinely real-valued outputs (slope,
intercept, median, mad) are produced by casting identical exact decimals
to double (or one double division of two such casts), so both engines
emit bit-identical doubles — no rounding tolerance needed anywhere.

Scale shape:
- ``grouped_ols`` is one partial-aggregable GROUP BY over 5 decimal
  sums — map-side combine, one shuffle of |groups| rows, no window, no
  second scan.
- ``mad_outliers`` needs per-group order statistics, which DO require a
  per-group sort; it uses row_number windows over (group, value) and
  broadcast-joins the |groups|-sized medians back. At 100 TB an exact
  median costs that sort by definition — swap in ``approx_percentile``
  when approximate is acceptable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.finite import finite_decimal
from ..resources import own

DEC = "decimal(18,6)"
def _half():
    # 0.5 is exactly representable; built lazily (F.lit needs a live session)
    return F.lit("0.5").cast("decimal(2,1)")


def grouped_ols(
    df: DataFrame,
    x_col,
    y_col,
    group_cols: list[str],
) -> DataFrame:
    """Per-group OLS fit y = slope·x + intercept via the closed form

        slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)

    with all five sums taken over exact operands (x must be an integer
    expression, y is cast to DECIMAL(18,6)), then one double division.
    Returns one row per group: ``group_cols…, n, slope, intercept``
    (slope/intercept NULL for degenerate groups with zero x-variance).
    """
    x = (F.col(x_col) if isinstance(x_col, str) else x_col).cast("bigint")
    # finite-domain y ingestion: NaN / ±Inf / out-of-decimal-domain
    # magnitudes become NULL (missing) instead of crashing the ANSI cast
    # (driver_sim --perturb-extremes). The double round-trip makes the
    # isnan guard type-safe for decimal inputs too. Sums skip missing y;
    # n still counts all rows — callers wanting an observed-pairs fit
    # filter y IS NOT NULL first (regression_daily_trend does).
    yc = F.col(y_col) if isinstance(y_col, str) else y_col
    y = F.when(~F.isnan(yc.cast("double")), yc.try_cast(DEC))

    agg = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("decimal(12,0)").alias("n"),
        F.sum(x).cast("decimal(16,0)").alias("sx"),
        F.sum(y).cast("decimal(18,6)").alias("sy"),
        F.sum(x * x).cast("decimal(24,0)").alias("sxx"),
        F.sum((x.cast("decimal(12,0)") * y).cast("decimal(30,6)"))
        .cast("decimal(24,6)")
        .alias("sxy"),
    )
    # (12,0)*(24,6) -> (37,6); (16,0)*(18,6) -> (35,6); difference (38,6): exact
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    # (12,0)*(24,0) -> (37,0); (16,0)^2 -> (33,0); difference (38,0): exact
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope = F.when(den != F.lit(0.0), num / den)
    intercept = (F.col("sy").cast("double") - F.col("slope") * F.col("sx").cast("double")) / F.col(
        "n"
    ).cast("double")
    return (
        agg.withColumn("slope", slope)
        .withColumn("intercept", F.when(F.col("slope").isNotNull(), intercept))
        .select(*group_cols, F.col("n").cast("bigint").alias("n"), "slope", "intercept")
    )


def _exact_median(
    df: DataFrame, group_cols: list[str], dec_col: str, out: str, out_type: str, sum_type: str
) -> DataFrame:
    """Exact per-group median of a decimal column: row_number selection of
    the middle element(s); for an even group the mean of the two middles
    is taken as ``sum × 0.5`` (decimal multiply — exact, one extra scale
    digit), never a decimal division (whose result scale both engines cap
    differently). ``sum_type`` re-narrows the ≤2-row sum BEFORE the ×0.5
    (Spark's SUM widens precision by 10, and a ×0.5 on the widened type
    would cross the precision-38 cap and silently round the scale);
    ``out_type`` must carry one MORE scale digit than ``dec_col`` so the
    ×0.5 itself never rounds (rounding-mode divergence across engines is
    exactly the trap this module exists to avoid). The selected VALUES
    are order-statistic-unique, so any deterministic tie-break yields the
    same median."""
    w = Window.partitionBy(*group_cols).orderBy(F.col(dec_col).asc())
    ranked = df.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_n", F.count(F.lit(1)).over(Window.partitionBy(*group_cols))
    )
    lo = F.floor((F.col("_n") + 1) / 2)
    hi = F.floor((F.col("_n") + 2) / 2)
    middles = ranked.filter((F.col("_rn") == lo) | (F.col("_rn") == hi))
    s, c = F.sum(dec_col).cast(sum_type), F.count(F.lit(1))
    return middles.groupBy(*group_cols).agg(
        F.when(c == 2, (s * _half()).cast(out_type)).otherwise(s.cast(out_type)).alias(out)
    )


def mad_outliers(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    k: str = "3.0",
) -> DataFrame:
    """Robust per-group outlier summary via median absolute deviation:
    median, MAD = median(|x − median|), and the count of rows with
    |x − median| > k·MAD. All selection and comparison in exact decimal
    arithmetic; the published median/MAD are decimal→double casts
    (identical bits on every engine). ``k`` is a decimal literal string
    so the threshold product stays exact.

    Returns one row per group: ``group_cols…, n, median, mad,
    n_outliers``.

    NULL observations are ignored, exactly as every SQL aggregate
    ignores them — a robust statistic over unobserved values is
    undefined, and the alternative (letting NULLs ride the rank
    windows) silently shifts the middle selection by however many
    NULLs the engine's null ordering happens to sort before it
    (Spark windows are nulls-first, most SQL engines nulls-last —
    found by ``driver_sim --perturb-nulls``). ``n`` counts observed
    rows; a group that is entirely NULL vanishes from the output.
    """
    from pyspark import StorageLevel

    # dec feeds the median pass AND the deviation build; dev feeds the
    # MAD pass AND the final flag/agg. Each would be recompiled per
    # consumer (ReusedExchange does not fire across these shapes — see
    # SCALING.md scan-economy audit), re-scanning the raw input up to 3×.
    # Persisting the two narrow projections bounds the operator to ONE
    # raw scan; exact MAD is inherently multi-pass beyond that.
    # observed FINITE values only: NaN/±Inf/out-of-domain magnitudes are
    # dropped like NULLs — they are not rankable observations, and the
    # ANSI decimal cast would crash on them (driver_sim --perturb-extremes)
    vcol = F.col(value_col)
    # the raw isNotNull stays FIRST so it pushes to the parquet scan
    # (plan-asserted); the finite-domain filter on the derived column
    # then drops the (rare) specials scan-side before any shuffle
    dec = own(
        df.filter(vcol.isNotNull())
        .select(
            *group_cols,
            finite_decimal(vcol, "decimal(20,7)").alias("_v"),
        )
        .filter(F.col("_v").isNotNull())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    med = _exact_median(dec, group_cols, "_v", "_med", "decimal(24,8)", "decimal(22,7)")
    dev = own(
        dec.join(F.broadcast(med), group_cols)
        .withColumn("_dev", F.abs(F.col("_v") - F.col("_med")).cast("decimal(27,8)"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    mad = _exact_median(
        dev.select(*group_cols, "_dev"), group_cols, "_dev", "_mad", "decimal(30,9)", "decimal(27,8)"
    )
    k_dec = F.lit(k).cast("decimal(4,2)")
    return (
        dev.join(F.broadcast(mad), group_cols)
        .groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.first("_med").cast("double").alias("median"),
            F.first("_mad").cast("double").alias("mad"),
            F.sum(
                F.when(F.col("_dev") > k_dec * F.col("_mad"), F.lit(1)).otherwise(F.lit(0))
            ).alias("n_outliers"),
        )
    )


def mode_bucket_udaf():
    """Series-to-scalar ``pandas_udf`` (the grouped-AGGREGATE Arrow
    tier — completing the sanctioned Python surface next to scalar
    pandas_udf / applyInPandas / mapInPandas / applyInPandasWithState):
    per-group MODE of an integer bucket column, smallest bucket on ties.
    Integer in, integer out — engine-exact, so unlike most UDAFs it
    carries a full SQL oracle (counts + ROW_NUMBER argmax)."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # functionType passed explicitly: this module uses
    # `from __future__ import annotations`, which stringifies the
    # Series->scalar signature pandas_udf would otherwise infer from
    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def _mode(buckets):
        counts = buckets.dropna().astype("int64").value_counts()
        if counts.empty:
            return None
        top = counts[counts == counts.max()]
        return int(min(top.index))

    return _mode


def cuped_adjusted_means(
    df: DataFrame,
    user_col: str,
    grp_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """CUPED variance reduction for experiment readouts: per-arm mean of
    the metric Y and its covariate-adjusted form
    ``Y_adj = Y − θ·(X − mean_pool(X))`` with ``θ = Cov(X,Y)/Var(X)``
    pooled across arms — the standard pre-period adjustment that shrinks
    experiment confidence intervals without touching the estimand.

    Cross-engine exactness (the grouped_ols discipline, adapted for a
    DECIMAL covariate): per-user X/Y are exact decimal sums; pooled
    Σx, Σy, Σxy, Σxx are decimal with widths chosen so every product
    stays ≤ precision 38 ((19,6)×(18,6) → (38,12) — never a silent
    rescale); each sum converts to double ONCE and θ / means come from a
    fixed IEEE op DAG over those identical doubles, published unrounded.
    One shuffle (per-user agg); arms and pool aggregate from the same
    per-user pass; pooled scalars ride a 1-row broadcast.

    Returns one row per arm: (grp, n_users, mean_y, mean_y_adjusted,
    theta)."""
    per_user = df.groupBy(user_col, grp_col).agg(
        F.sum(finite_decimal(x_col, DEC)).cast("decimal(19,6)").alias("x"),
        F.sum(finite_decimal(y_col, DEC)).cast("decimal(18,6)").alias("y"),
    )
    pool = per_user.agg(
        F.count(F.lit(1)).cast("decimal(12,0)").alias("__scalar_n"),
        F.sum("x").alias("__scalar_sx"),
        F.sum("y").alias("__scalar_sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,12)")).alias("__scalar_sxy"),
        F.sum((F.col("x") * F.col("x").cast("decimal(18,6)")).cast("decimal(38,12)")).alias(
            "__scalar_sxx"
        ),
    )
    arms = per_user.groupBy(grp_col).agg(
        F.count(F.lit(1)).cast("decimal(12,0)").alias("n_a"),
        F.sum("x").alias("sx_a"),
        F.sum("y").alias("sy_a"),
    )
    nd, sxd, syd = (
        F.col("__scalar_n").cast("double"),
        F.col("__scalar_sx").cast("double"),
        F.col("__scalar_sy").cast("double"),
    )
    theta = (F.col("__scalar_sxy").cast("double") - sxd * syd / nd) / (
        F.col("__scalar_sxx").cast("double") - sxd * sxd / nd
    )
    mean_x_pool = sxd / nd
    out = arms.crossJoin(F.broadcast(pool)).withColumn("theta", theta)
    mean_y = F.col("sy_a").cast("double") / F.col("n_a").cast("double")
    mean_x_a = F.col("sx_a").cast("double") / F.col("n_a").cast("double")
    return out.select(
        F.col(grp_col),
        F.col("n_a").cast("bigint").alias("n_users"),
        mean_y.alias("mean_y"),
        (mean_y - F.col("theta") * (mean_x_a - mean_x_pool)).alias("mean_y_adjusted"),
        "theta",
    )
