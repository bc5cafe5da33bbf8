"""Two-phase global ranking: exact ``row_number()``/``NTILE``/running
sums over a total order WITHOUT a single-partition window.

``row_number() OVER (ORDER BY …)`` plans ``Exchange SinglePartition`` —
every row funnels through ONE task. Over raw rows that is the canonical
scale-killer (SURVEY §7.3 W2, closed for the PPJoin vocab rank in round
6 via packed salted ranks); over *aggregates* it is still a hazard
because aggregate cardinality (|customers|, |vocab|, |converters|) grows
with the data. The packed-rank trick does not apply when ranks must be
globally CONTIGUOUS (dictionary indices, median selection, NTILE,
cumulative shares) — those need true offsets. This module provides the
offsets shape as a reusable operator:

1. **Deterministic hash-sampled boundaries.** Rows whose
   ``xxhash64(key) % max(1, n/B) == 0`` become bucket boundaries
   (≈B of them), collected into ONE sorted array. Unlike
   ``repartitionByRange`` (whose RangePartitioner re-samples per
   execution, forcing ``assign_stable_ids`` to localCheckpoint), hash
   sampling is a pure row-local function — every re-execution of the
   subtree derives identical boundaries, so no checkpoint/collect is
   needed and the whole composition stays lazy and deterministic.
2. **Bucket assignment** = count of boundaries strictly below the row's
   key — ``size(filter(bounds, b -> b < key))``, O(B) struct
   comparisons per row. Spark struct comparison uses ORDERING semantics
   (per-field asc, NULLS FIRST — verified, not three-valued logic), so
   it agrees exactly with ``Window.orderBy(asc)``; any monotone
   assignment yields the same final ranks, so boundary choice affects
   only balance, never output.
3. **Offsets** from per-bucket counts/sums: the ≤B+1 statistics rows are
   packed into one array and prefix-summed with
   ``transform(arr, (x, i) -> aggregate(slice(arr, 1, i), …))`` — an
   O(B²) scalar expression on ONE row, replacing both the bounded
   cumulative window and ``assign_stable_ids``'s driver-side fold.
4. **Within-bucket windows** partitioned by bucket id run in parallel;
   global rank = bucket offset + within-bucket ``row_number()``.

Scale shape: two balanced shuffles of the keyed input (stats groupBy +
window hash partitioning) plus three tiny broadcast joins; no
``Exchange SinglePartition`` anywhere except final 1-row aggregates
(``__scalar_`` contract). Bucket sizes ≈ n/B with binomial variance;
skew degrades balance, never correctness.

Lifecycle: the persisted keyed input belongs to the session resource
registry (``resources.py``); the harness's ``release()`` frees it once
the ranked output has materialized.
``release_persisted`` is kept here as an alias of ``resources.release``.

No reference parity: the reference's StringIndexer fit
(``batch_process_Silver_to_Gold.py:106-130``) materializes vocab ranks
on a single node, and so does ``operators/dictionary.py``, whose fit
brings every vocabulary to the driver anyway; this is the distributed
re-expression for ranks whose input never leaves the executors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..resources import own, release

_KEY, _BKT, _OFF = "__tpr_key", "__tpr_bkt", "__tpr_off"

release_persisted = release  # the name perfbench/ imports


def _wide_type(dt: T.DataType) -> T.DataType:
    """An accumulator type stable under repeated ``acc + x`` (decimal
    addition widens precision; pre-widening to 38 makes the fold's
    accumulator type a fixed point)."""
    if isinstance(dt, T.DecimalType):
        return T.DecimalType(38, dt.scale)
    return dt


def two_phase_rank(
    df: DataFrame,
    key: list[Column],
    rank_col: str = "rank",
    running: dict[str, Column] | None = None,
    n_buckets: int = 64,
    total_col: str | None = None,
    persist: bool = True,
) -> DataFrame:
    """Append an exact 1-based global ``row_number`` ordered by ``key``
    (and optional inclusive running sums over the same order) computed
    with the two-phase bucket/offset shape — no single-partition window.

    ``key``: ascending components of the total order (invert descending
    components upstream, e.g. ``-count``; NULLS sort FIRST, matching
    ``asc()``). Pass a key set that is a total order (the usual
    tie-broken contract) for deterministic ranks.
    ``n_buckets``: each window task handles ≈ n/B rows, each input row
    pays O(B) struct comparisons, the offset fold is O(B²) on one row —
    so B=64 suits aggregates up to ~10⁹ rows (~16M rows/task); raise it
    (say 512 for 10¹¹-row inputs) when a bucket wouldn't fit an
    executor. Balance only — ANY B gives identical ranks.
    ``running``: name → column; each yields an output column holding
    ``SUM(col) OVER (ORDER BY key ROWS UNBOUNDED PRECEDING..CURRENT)``.
    ``total_col``: if set, also keep the total row count (bigint) —
    callers computing NTILE/medians need n anyway; this reuses the
    sampling pass's count instead of a second aggregate.
    ``persist``: cache the keyed input (default True — the composition
    references it from FOUR subtrees: count, boundaries, bucket stats,
    and the ranked output, so an unpersisted upstream would be scanned
    4×; at 100 TB that difference dominates everything else here).
    Correctness never depends on it: hash sampling is row-local, so
    re-derivations are identical. Pass False only when the input is
    already cached or trivially cheap. The cache is registered with the
    session resource registry (``resources.own``); ``resources.release()``
    once the consumer has materialized (bench.py / tools/driver_sim.py
    do this between queries) frees it, so blocks don't accumulate across
    a long session.
    """
    running = running or {}
    keyed = df.withColumn(_KEY, F.struct(*[c.alias(f"k{i}") for i, c in enumerate(key)]))
    if persist:
        from pyspark import StorageLevel

        keyed = own(keyed.persist(StorageLevel.MEMORY_AND_DISK))

    n = keyed.agg(F.count(F.lit(1)).cast("bigint").alias("__scalar_n"))
    mod = F.greatest(F.lit(1).cast("bigint"), (F.col("__scalar_n") / F.lit(n_buckets)).cast("bigint"))
    bounds = (
        keyed.crossJoin(F.broadcast(n))
        .where(F.pmod(F.xxhash64(_KEY), mod) == 0)
        .agg(F.array_sort(F.collect_list(_KEY)).alias("__scalar_bounds"))
    )
    bucketed = (
        keyed.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(bounds))
        .withColumn(
            _BKT,
            F.size(F.filter(F.col("__scalar_bounds"), lambda b: b < F.col(_KEY))),
        )
        .drop("__scalar_bounds")
    )

    sum_names = list(running)
    stats = bucketed.groupBy(_BKT).agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        *[F.sum(running[s]).alias(f"__s_{s}") for s in sum_names],
    )
    sum_types = {s: stats.schema[f"__s_{s}"].dataType for s in sum_names}

    def _prefix_sum(field, zero):
        # factory, not default-arg capture: PySpark derives lambda arity
        # from the signature, so the lambda must take exactly (acc, y).
        # NULL discipline matches window SUM: a bucket whose sum is NULL
        # (all inputs null) is SKIPPED, so the offset is NULL iff no
        # earlier bucket held a non-null value — composing with the
        # within-bucket sum below reproduces "running sum is NULL until
        # the first non-null input" exactly.
        return lambda acc, y: F.when(y[field].isNull(), acc).otherwise(
            F.coalesce(acc, zero) + y[field]
        )

    packed = stats.agg(
        F.array_sort(F.collect_list(F.struct(_BKT, "__n", *[f"__s_{s}" for s in sum_names]))).alias("__arr")
    )
    offsets = packed.select(
        F.explode(
            F.transform(
                "__arr",
                lambda x, i: F.struct(
                    x[_BKT].alias(_BKT),
                    F.aggregate(
                        F.slice("__arr", F.lit(1), i),
                        F.lit(0).cast(T.LongType()),
                        lambda acc, y: acc + y["__n"],
                    ).alias(_OFF),
                    *[
                        F.aggregate(
                            F.slice("__arr", F.lit(1), i),
                            F.lit(None).cast(_wide_type(sum_types[s])),
                            _prefix_sum(f"__s_{s}", F.lit(0).cast(_wide_type(sum_types[s]))),
                        ).alias(f"{_OFF}_{s}")
                        for s in sum_names
                    ],
                ),
            )
        ).alias("__o")
    ).select("__o.*")

    w = Window.partitionBy(_BKT).orderBy(_KEY)
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    out = bucketed.join(F.broadcast(offsets), _BKT).withColumn(
        rank_col, (F.row_number().over(w) + F.col(_OFF)).cast("bigint")
    )
    for s in sum_names:
        ws, off = F.sum(running[s]).over(cum), F.col(f"{_OFF}_{s}")
        zero = F.lit(0).cast(_wide_type(sum_types[s]))
        # NULL iff neither the bucket prefix nor the earlier buckets held
        # a non-null value — exactly window SUM's running-null semantics
        out = out.withColumn(
            s,
            F.when(ws.isNull() & off.isNull(), F.lit(None).cast(_wide_type(sum_types[s]))).otherwise(
                F.coalesce(ws, zero) + F.coalesce(off, zero)
            ),
        )
    drop = [_KEY, _BKT, _OFF, *[f"{_OFF}_{s}" for s in sum_names]]
    if total_col:
        out = out.withColumnRenamed("__scalar_n", total_col)
    else:
        drop.append("__scalar_n")
    return out.drop(*drop)


def ntile_from_rank(rank: Column, n: Column, k: int) -> Column:
    """``NTILE(k)`` as a closed-form function of the exact global rank:
    with q = n DIV k, r = n % k, the first r tiles take q+1 rows — tile =
    ceil(rank/(q+1)) for rank ≤ r(q+1), else r + ceil((rank-r(q+1))/q).
    Integer ceil via (a+b-1) DIV b; the q=0 (n<k) case stays in the
    first branch, the ``greatest`` guard keeps the dead branch
    ANSI-safe. Pinned against ``F.ntile`` in tests/test_ranks.py."""
    q = (n / F.lit(k)).cast("bigint")
    r = n - q * F.lit(k)
    q1 = q + F.lit(1)
    qs = F.greatest(q, F.lit(1).cast("bigint"))
    first = (rank + q) / q1
    rest = r + (rank - r * q1 + qs - F.lit(1)) / qs
    return (
        F.when(rank <= r * q1, first.cast("bigint")).otherwise(rest.cast("bigint"))
    ).cast("int")
