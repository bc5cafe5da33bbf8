"""Mergeable frequency sketches: Misra–Gries heavy hitters.

Engine extra (the reference's only frequency surface is the exact
dictionary fit, ``batch_process_Silver_to_Gold.py``'s categorify): the
classic two-pass φ-heavy-hitter pipeline for corpora whose VOCABULARY is
too large to shuffle.

Why not a plain ``GROUP BY token HAVING count > n·φ``: that shuffles one
row per DISTINCT token — at 100 TB a multi-billion-key shuffle dominated
by the long tail that the HAVING clause then throws away. Misra–Gries
first summarizes each partition down to ``capacity`` candidate tokens
(guarantee: any token with partition count > n_p/(capacity+1) survives;
summing the contrapositive over partitions, any token with TOTAL count
≥ n/(capacity+1) appears in at least one partition summary). Only the
candidate union — |partitions| × capacity rows, not |vocabulary| — is
shuffled; an exact recount restricted to candidates (broadcast semi
join, so the long tail never enters the aggregation) then makes the
final output EXACT and partition-invariant: every token with exact
count > n·φ, with exact counts. φ must be ≥ 1/(capacity+1) for the
guarantee to cover the threshold.

The summarizer is an Arrow-batched ``mapInPandas`` (the sanctioned
Python tier — per-partition dict state across batches, no row-at-a-time
UDF); everything after it is native DataFrame ops.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..resources import own


def _mg_summarize(capacity: int):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Batch-merged Misra–Gries (Agarwal et al., "Mergeable
        # Summaries"): each Arrow batch is reduced to exact counts with
        # C-speed value_counts, merged into the running summary, then
        # shrunk back to ``capacity`` by subtracting the (capacity+1)-th
        # largest count from every counter and dropping non-positives —
        # the MG merge step, whose errors add to the same
        # n/(capacity+1) bound as the per-token decrement loop, so the
        # candidate-superset guarantee the recount relies on is intact.
        # ~100× less Python than iterating tokens one at a time.
        counters: dict[str, int] = {}
        n_rows = 0
        for pdf in batches:
            vc = pdf["token"].value_counts(dropna=True)
            n_rows += int(vc.sum())
            for tok, c in vc.items():
                counters[tok] = counters.get(tok, 0) + int(c)
            if len(counters) > capacity:
                vals = sorted(counters.values(), reverse=True)
                sub = vals[capacity]
                counters = {k: v - sub for k, v in counters.items() if v > sub}
        # candidates + one partition-total marker row (token NULL), so
        # the global total rides the sketch scan instead of a third pass
        yield pd.DataFrame(
            {
                "token": list(counters.keys()) + [None],
                "part_n": [0] * len(counters) + [n_rows],
            }
        )

    return fn


def heavy_hitters(
    tokens: DataFrame,
    token_col: str = "token",
    phi: tuple[int, int] = (1, 500),
    capacity: int | None = None,
) -> DataFrame:
    """All tokens whose exact count exceeds ``phi[0]/phi[1]`` × total,
    with exact counts — computed without ever shuffling the full
    vocabulary.

    ``tokens`` is one row per token occurrence. ``phi`` is an exact
    integer fraction so the threshold compare is pure integer arithmetic
    (``cnt·den > total·num`` — a float φ×total can land on either side
    of an integer across engines). ``capacity`` defaults to twice the
    minimum ``den/num`` for slack. Output: ``token, cnt`` —
    deterministic and partition-invariant (candidates are a superset of
    the answer by the MG guarantee; the exact recount + exact threshold
    make the final set independent of how the data was partitioned)."""
    num, den = phi
    if capacity is None:
        capacity = 2 * den // num + 1
    if num * (capacity + 1) < den:
        raise ValueError(f"phi={num}/{den} below MG guarantee 1/(capacity+1)")
    toks = tokens.select(F.col(token_col).alias("token"))
    # ONE sketch scan yields both the candidate union and the exact total
    # (marker rows), then ONE recount scan — the two-pass structural floor
    summary = own(toks.mapInPandas(
        _mg_summarize(capacity), schema="token string, part_n long"
    ).persist())
    candidates = summary.filter(F.col("token").isNotNull()).select("token").distinct()
    total = summary.agg(F.sum("part_n").alias("__scalar_total"))
    return (
        toks.join(F.broadcast(candidates), "token", "left_semi")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .join(F.broadcast(total))
        .filter(F.col("cnt") * F.lit(den) > F.col("__scalar_total") * F.lit(num))
        .select("token", "cnt")
    )


def countmin_sketch(
    items: DataFrame, col: str, depth: int = 4, width: int = 2048
) -> DataFrame:
    """Count–Min sketch build: ``depth × width`` integer counters as a
    DataFrame of ``(d, w, cnt)`` cells (≤ depth·width rows, however many
    items went in). Row i hashes to bucket
    ``portable_hash60(concat(d, '|', item)) % width`` in each of the
    ``depth`` rows; cell counts are plain sums, so the shuffle carries at
    most depth·width rows per map partition after partial aggregation —
    the sketch of a 100 TB stream is still a few thousand rows.

    The hash is the md5-derived 60-bit portable hash
    (``operators/dedup.py::portable_hash60``), so a SQL engine replays
    the sketch bit-identically — full cross-engine value oracle, the
    ``dedup_bottomk_sketch`` pattern.

    Sketches are MERGEABLE: cell-wise sum of two sketches equals the
    sketch of the concatenated inputs (tested), which is what makes the
    structure per-partition / per-day / per-shard composable."""
    from .dedup import portable_hash60

    c = F.col(col)
    cells = F.array(
        *[
            F.struct(
                F.lit(i).alias("d"),
                F.pmod(
                    portable_hash60(F.concat_ws("|", F.lit(str(i)), c)), F.lit(width)
                ).alias("w"),
            )
            for i in range(depth)
        ]
    )
    return (
        items.where(c.isNotNull())
        .select(F.explode(cells).alias("e"))
        .groupBy(F.col("e.d").alias("d"), F.col("e.w").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def countmin_estimate(
    sketch: DataFrame,
    queries: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 2048,
) -> DataFrame:
    """Point-frequency estimates from a Count–Min sketch: probe the
    ``depth`` cells of each query item and take the MIN counter — the
    classic one-sided estimate (never below the true count; above it only
    on hash collisions, error ≤ εn with ε = e/width at the usual depth).
    The sketch side is tiny, so the probe join broadcasts it; never-seen
    items estimate 0 via coalesce."""
    from .dedup import portable_hash60

    c = F.col(col)
    probes = queries.select(
        c.alias("__item"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("d"),
                        F.pmod(
                            portable_hash60(
                                F.concat_ws("|", F.lit(str(i)), c)
                            ),
                            F.lit(width),
                        ).alias("w"),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("p"),
    ).select("__item", F.col("p.d").alias("d"), F.col("p.w").alias("w"))
    return (
        probes.join(F.broadcast(sketch), ["d", "w"], "left")
        .groupBy("__item")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0).cast("long"))).alias("cms_estimate"))
        .select(F.col("__item").alias(col), "cms_estimate")
    )


def binned_histogram(
    df: DataFrame, col: str, bin_width: float, num_bins: int
) -> DataFrame:
    """Fixed-bin histogram as ``(bin, n)`` integer cells — the mergeable
    quantile sketch: cell-wise sum of shard histograms equals the
    histogram of the union (tested), so per-day / per-shard partials
    roll up without revisiting data. ≤ ``num_bins`` rows regardless of
    input size; values below/above the range clamp to the edge bins.

    FINITE-DOMAIN ingestion: NaN/±Inf is corrupt, not "large" — such
    rows are excluded, like NULLs. Every FINITE value honors the clamp
    contract above, however large: the clamp runs on the DOUBLE domain
    BEFORE the floor, so floor never sees a magnitude the int cast
    can't hold (floor(1e300/width) would hard-error under ANSI). r09
    fix: the previous guard borrowed the catalog's decimal(18,6) money
    policy, silently excluding legit finite values above ~1e12 — a
    bound unrelated to this histogram's own range. Callers that DO
    want an exact-decimal domain (prices) pre-filter with their policy
    (see plans/catalog._finite_value)."""
    x = F.col(col)
    top = F.lit(bin_width * (num_bins - 1))
    # the finite guard must WRAP the clamp: greatest()/least() SKIP
    # NULLs (both Spark and DuckDB), so a bare clamp would resurrect
    # every excluded reading as bin 0 (r08 review find)
    bin_col = F.when(
        ~F.isnan(x) & (F.abs(x) != F.lit(float("inf"))),
        F.floor(F.least(F.greatest(x, F.lit(0.0)), top) / F.lit(bin_width)).cast(
            "int"
        ),
    )
    return (
        df.select(bin_col.alias("bin"))
        .where(F.col("bin").isNotNull())
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def histogram_percentile_estimate(
    hist: DataFrame, percentiles: list[float], bin_width: float
) -> DataFrame:
    """Percentile estimates from a fixed-bin histogram by linear
    interpolation inside the covering bin — error bounded by bin_width.
    The histogram is tiny (≤ num_bins rows), so the running-count window
    and the percentile probe join are negligible; the heavy lifting
    happened in the one binning pass. The interpolation is a fixed IEEE
    DAG over identical integers ⇒ deterministic cross-engine."""
    from pyspark.sql import Window

    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)
    c = hist.withColumn("cum_prev", F.coalesce(F.sum("n").over(w), F.lit(0)))
    total = hist.agg(F.sum("n").alias("__scalar_total"))
    ps = hist.sparkSession.createDataFrame(
        [(float(p),) for p in percentiles], "pct double"
    )
    target = F.col("pct") * F.col("__scalar_total")
    return (
        c.crossJoin(F.broadcast(total))
        .crossJoin(F.broadcast(ps))
        .where((F.col("cum_prev") < target) & (F.col("cum_prev") + F.col("n") >= target))
        .select(
            "pct",
            "bin",
            F.round(
                F.col("bin") * F.lit(bin_width)
                + (target - F.col("cum_prev")) / F.col("n") * F.lit(bin_width),
                6,
            ).alias("est_value"),
        )
    )
