"""Join operators: point-in-time (as-of) join, online lookup, semi/anti.

The reference's as-of semantics come from Feast ``get_historical_features``
(``feast-feature-store/feature_retrieval/get_fv.py:32-47``): for each
(entity, event_timestamp) row pick the latest feature row with
``feature_ts <= event_timestamp`` and ``feature_ts >= event_timestamp - ttl``
(TTL 365 d, ``feast-feature-store/feature-repo/user_features.py:11``).
Spark 3.x/4.x has no ASOF JOIN, so we compose: key-equi join + range
predicate + row_number pick. The online lookup
(``get_fv.py:25-28`` — Redis GET per entity key) becomes a left join of the
request keys against the materialized latest-per-key table, which Spark
broadcasts while it is under the broadcast threshold (sort-merge join
otherwise; a key-sorted store probed by a literal ``isin`` is the scale
path).

Scale notes:
- The equi-join shuffles both sides on the entity key only; the range
  predicate is applied post-join, and the window partitions by
  (entity, event_ts) — state per partition is bounded by rows-per-key
  within the TTL, not table size.
- Skewed entity keys are handled by AQE skew-join splitting (enabled in the
  session factory). For pathological skew, pre-aggregate the feature side
  to latest-per-(key, bucket) first.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    entity_df: DataFrame,
    feature_df: DataFrame,
    keys: list[str],
    event_ts: str = "event_timestamp",
    feature_ts: str = "datetime",
    ttl: str | None = None,
    features: list[str] | None = None,
) -> DataFrame:
    """Point-in-time join: latest feature row at-or-before each event.

    entity_df: (keys..., event_ts, ...) — one output row per input row.
    feature_df: (keys..., feature_ts, features...).
    ttl: SQL interval string (e.g. ``"365 days"``); feature rows older than
    event_ts - ttl are ignored (Feast TTL semantics).
    Ties on feature_ts are broken by preferring the later-sorted struct of
    feature values — deterministic (max_by over a struct with ts first).
    """
    feat_cols = features or [
        c for c in feature_df.columns if c not in keys and c != feature_ts
    ]
    collisions = set(feat_cols) & set(entity_df.columns)
    if collisions:
        raise ValueError(
            f"feature columns {sorted(collisions)} collide with entity columns; "
            "alias them on the feature side first"
        )
    # Rename the feature side's join/ts columns: entity and feature frames
    # often share lineage (self-as-of on one table), and comparing the same
    # attribute produces a trivially-true predicate instead of a join.
    feat = feature_df.select(
        *[F.col(k).alias(f"__feat_key_{k}") for k in keys],
        F.col(feature_ts).alias("__feat_ts"),
        *feat_cols,
    )

    # Tag entity rows so we can restore exactly-one-row-per-input.
    ent = entity_df.withColumn(
        "__row_id", F.monotonically_increasing_id()
    )

    cond = [ent[k] == feat[f"__feat_key_{k}"] for k in keys]
    range_pred: Column = feat["__feat_ts"] <= ent[event_ts]
    if ttl is not None:
        range_pred = range_pred & (
            feat["__feat_ts"] >= ent[event_ts] - F.expr(f"INTERVAL {ttl}")
        )

    joined = ent.join(feat, [*cond, range_pred], "left")

    # Latest feature row per entity row; deterministic tie-break on the
    # full feature struct after the timestamp.
    w = Window.partitionBy("__row_id").orderBy(
        F.col("__feat_ts").desc_nulls_last(),
        *[F.col(c).desc_nulls_last() for c in feat_cols],
    )
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__feat_ts", "__row_id", *[f"__feat_key_{k}" for k in keys])
    )


def online_lookup(
    request_keys: DataFrame,
    online_table: DataFrame,
    keys: list[str],
) -> DataFrame:
    """Online point lookup: request keys → latest feature vector per key.

    Engine-native equivalent of the reference's Redis GETs
    (``get_fv.py:25-28``): a left join of the request rows against the
    materialized online table. The preserved (request) side cannot be a
    join's build side, so Spark broadcasts the online table while it is
    under the broadcast threshold and sort-merge joins otherwise; lookups
    that must not scan a large table need a key-sorted store probed by a
    literal ``isin``. Missing keys yield NULL features (Feast returns None
    for unknown entities).
    """
    return request_keys.join(online_table, keys, "left")


def semi_join_in(df: DataFrame, ids: DataFrame, key: str) -> DataFrame:
    """IN-subquery restriction as a left-semi join (reference
    ``batch_process_Silver_to_Gold.py:99-102`` commented fast path; Catalyst
    rewrites IN-subqueries to exactly this)."""
    return df.join(ids, key, "left_semi")


def anti_join_not_in(df: DataFrame, ids: DataFrame, key: str) -> DataFrame:
    """NOT EXISTS as a left-anti join."""
    return df.join(ids, key, "left_anti")


def bloom_bitset(keys: DataFrame, key: str, num_bits: int, num_hashes: int) -> DataFrame:
    """Distributed Bloom-filter build: ONE row holding the dense bitset as
    ``array<bigint>`` (``num_bits/64`` words). Each distinct key sets
    ``num_hashes`` bits at ``pmod(xxhash64(key, seed), num_bits)``; words
    are ``bit_or``-merged in a partial-aggregating groupBy (shuffle volume
    ≤ partitions × words, never |keys|), then densified once via a
    map-backed ``transform`` — O(words²) on a single row, zero driver
    round-trip. The bitset stays a DataFrame so it rides the same
    broadcast machinery as any 1-row scalar side (the audit-sanctioned
    ``__scalar_`` naming)."""
    num_words = num_bits // 64
    probes = [
        F.pmod(F.xxhash64(F.col(key), F.lit(i)), F.lit(num_bits))
        for i in range(num_hashes)
    ]
    words = (
        keys.select(F.col(key)).where(F.col(key).isNotNull()).distinct()
        .select(F.explode(F.array(*probes)).alias("pos"))
        .select(
            (F.col("pos") / 64).cast("int").alias("w"),
            F.expr("shiftleft(1L, CAST(pmod(pos, 64) AS INT))").alias("b"),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("bits"))
    )
    return words.groupBy().agg(
        F.map_from_entries(F.collect_list(F.struct("w", "bits"))).alias("__bm")
    ).select(
        F.transform(
            F.sequence(F.lit(0), F.lit(num_words - 1)),
            lambda i: F.coalesce(F.element_at(F.col("__bm"), i), F.lit(0).cast("long")),
        ).alias("__scalar_bf")
    )


def bloom_prefilter(
    big: DataFrame,
    keys: DataFrame,
    key: str,
    num_bits: int = 1 << 17,
    num_hashes: int = 5,
) -> DataFrame:
    """Pre-shuffle row pruning with a Bloom filter built from the join
    key set — the runtime row-level filtering pattern (Spark's internal
    ``InjectRuntimeFilter`` / ``bloom_filter_agg``+``might_contain``,
    which Spark 4.1 does not expose as public SQL functions) re-expressed
    with public operators. Never drops a true match (Bloom filters have
    no false negatives); false positives pass through and must be removed
    by the exact join that follows.

    Why it matters at 100 TB: a shuffled semi join moves the ENTIRE big
    side to the exchange before any pruning. When the key set is too big
    to broadcast-hash-join but its membership fits a few MB of bits, the
    bitset broadcast prunes non-matching rows at the scan, cutting
    shuffle I/O by the true selectivity (e.g. 1/25 for a one-nation
    supplier filter). Probe cost is ``num_hashes`` O(1) array reads per
    row — all codegen, no UDF.

    Sizing: false-positive rate ≈ (1-e^(-kn/m))^k; the default
    m=131072 bits / k=5 holds fpp < 1% to n ≈ 13k keys. At larger n,
    grow ``num_bits`` (the 1-row broadcast carries m/64 longs — 2^23
    bits is still only 128 KB)."""
    bf = bloom_bitset(keys, key, num_bits, num_hashes)
    cond = None
    for i in range(num_hashes):
        p = f"pmod(xxhash64(`{key}`, {i}), {num_bits})"
        hit = F.expr(
            f"(element_at(__scalar_bf, CAST({p} / 64 AS INT) + 1)"
            f" & shiftleft(1L, CAST(pmod({p}, 64) AS INT))) != 0"
        )
        cond = hit if cond is None else (cond & hit)
    return big.crossJoin(F.broadcast(bf)).where(cond).drop("__scalar_bf")


def bloom_semi_join(
    big: DataFrame,
    keys: DataFrame,
    key: str,
    num_bits: int = 1 << 17,
    num_hashes: int = 5,
) -> DataFrame:
    """Exact semi join with Bloom pre-pruning: ``bloom_prefilter`` cuts
    the big side before the shuffle, then a left-semi join removes the
    Bloom's false positives. Output is row-identical to
    ``big.join(keys, key, 'left_semi')`` — the filter only changes how
    much data reaches the exchange."""
    pruned = bloom_prefilter(big, keys, key, num_bits, num_hashes)
    return pruned.join(keys.select(key).distinct(), key, "left_semi")


def _as_number(df: DataFrame, col: str) -> Column:
    """Project a point/bound column to a double for binning: timestamps
    become epoch seconds (fractional µs preserved), dates midnight epoch,
    numerics pass through. TIMESTAMP_NTZ has no epoch, so it is first
    reinterpreted in the session zone (monotonic, and both join sides get
    the identical mapping — only bin CO-location matters, the exact range
    predicate still runs on the original columns)."""
    from pyspark.sql.types import DateType, TimestampNTZType

    c = F.col(col)
    dt = df.schema[col].dataType
    if isinstance(dt, DateType) or isinstance(dt, TimestampNTZType):
        c = c.cast("timestamp")
    return c.cast("double")


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    on: list[str] | None = None,
    bin_width: float = 3600.0,
) -> DataFrame:
    """Point-in-interval join (``i.lo ≤ p.point ≤ i.hi``, bounds
    inclusive) executed as an EQUI-join on coarse bins. Returns the join
    with sides aliased ``p`` / ``i`` — select with qualified names.

    Why not ``points.join(intervals, lo <= pt & pt <= hi)``: a pure range
    predicate gives Catalyst no equi-keys, so the physical plan is
    BroadcastNestedLoopJoin (or a cartesian product) — |P|×|I| comparisons,
    unusable at scale. Binning manufactures an equi-key: each point hashes
    to ``floor(value / bin_width)``; each interval explodes to the bins it
    overlaps; the join is then a plain shuffled/broadcast hash join on
    (keys…, bin) and the exact range predicate filters survivors. Each
    (point, interval) match meets in exactly one bin — the point's — so no
    post-join dedup is needed.

    ``bin_width`` (seconds for time columns, plain units for numerics)
    trades replication for selectivity: intervals produce
    ``len/bin_width + 1`` rows each. Set it near the TYPICAL interval
    length — e.g. 1-hour windows → 3600 — so replication stays ~2× while
    bins stay selective. Timestamps/dates are binned on epoch seconds.
    """
    on = on or []
    p_num = _as_number(points, point_col)
    lo_num = _as_number(intervals, lo_col)
    hi_num = _as_number(intervals, hi_col)
    w = F.lit(float(bin_width))

    p = points.withColumn("__bin", F.floor(p_num / w)).alias("p")
    i = (
        # hi < lo matches nothing, and would make sequence() DESCEND and
        # emit junk bins — drop such intervals up front
        intervals.filter(hi_num >= lo_num)
        .withColumn(
            "__bin",
            # explode_outer: inner explode of a computed array triggers
            # InferFiltersFromGenerate, which re-evaluates the sequence
            # in an inferred size/isnotnull filter; the sequence here is
            # never empty (hi ≥ lo), so outer emits no null rows
            F.explode_outer(F.sequence(F.floor(lo_num / w), F.floor(hi_num / w))),
        )
        .alias("i")
    )
    cond = F.col("p.__bin") == F.col("i.__bin")
    for k in on:
        cond = cond & (F.col(f"p.{k}") == F.col(f"i.{k}"))
    cond = cond & (F.col(f"p.{point_col}") >= F.col(f"i.{lo_col}"))
    cond = cond & (F.col(f"p.{point_col}") <= F.col(f"i.{hi_col}"))
    return p.join(i, cond).drop("__bin")


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    l_lo: str,
    l_hi: str,
    r_lo: str,
    r_hi: str,
    on: list[str] | None = None,
    bin_width: float = 3600.0,
) -> DataFrame:
    """Interval×interval OVERLAP join (``l.lo ≤ r.hi AND r.lo ≤ l.hi``,
    bounds inclusive) executed as an equi-join on coarse bins — the
    range×range sibling of ``range_join``'s point×range.

    A pure overlap predicate has no equi-key, so Catalyst plans
    BroadcastNestedLoopJoin — |L|×|R| at scale. Here BOTH sides explode
    to the bins their interval touches and meet on (keys…, bin). Unlike
    the point case, an overlapping pair can share SEVERAL bins; the join
    keeps only the pair's FIRST shared bin — the bin containing
    ``greatest(l.lo, r.lo)``, which both sides cover by definition — so
    each pair survives exactly once and no post-join dedup shuffle is
    needed (the classic grid-join trick from spatial databases).

    Sides come back aliased ``l`` / ``r`` — select with qualified names.
    ``bin_width`` near the typical interval length keeps replication ~2×.
    A bin crowded with intervals (a flash-crowd hour) is one reducer's
    m_l×m_r product; those intervals all overlap, so the output is that
    large anyway (``tools/scale_probe.py --overlap`` reports bin
    occupancy).
    """
    on = on or []
    w = float(bin_width)

    def _binned(df: DataFrame, lo: str, hi: str, alias: str) -> DataFrame:
        lo_num = _as_number(df, lo)
        hi_num = _as_number(df, hi)
        return (
            # empty intervals match nothing and would make sequence()
            # descend; explode_outer sidesteps InferFiltersFromGenerate
            # re-evaluating the sequence (see range_join)
            df.filter(hi_num >= lo_num)
            .withColumn("__lo_num", lo_num)
            .withColumn(
                "__bin",
                F.explode_outer(
                    F.sequence(
                        F.floor(lo_num / F.lit(w)).cast("bigint"),
                        F.floor(hi_num / F.lit(w)).cast("bigint"),
                    )
                ),
            )
            .alias(alias)
        )

    l = _binned(left, l_lo, l_hi, "l")
    r = _binned(right, r_lo, r_hi, "r")
    cond = F.col("l.__bin") == F.col("r.__bin")
    for k in on:
        cond = cond & (F.col(f"l.{k}") == F.col(f"r.{k}"))
    cond = cond & (F.col(f"l.{l_lo}") <= F.col(f"r.{r_hi}"))
    cond = cond & (F.col(f"r.{r_lo}") <= F.col(f"l.{l_hi}"))
    # keep each pair once: this bin must be the one holding max(l.lo, r.lo)
    cond = cond & (
        F.col("l.__bin")
        == F.floor(F.greatest(F.col("l.__lo_num"), F.col("r.__lo_num")) / F.lit(w)).cast("bigint")
    )
    return l.join(r, cond).drop("__bin", "__lo_num")


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-spreading equi-join: the big side gets a deterministic salt
    in [0, salt) appended to its key; the medium side is replicated once
    per salt value; the join runs on (keys…, __salt). A hot key that
    would land on ONE reducer (the classic skew stall: 31 tasks idle,
    one grinding a hot key's rows) is spread across ``salt`` reducers.
    Output is identical to the plain join — salt only changes routing.

    Use when the small side is too big to broadcast and the key is
    skewed. AQE's skew-join handles the sort-merge case at runtime;
    explicit salting also covers aggregations-after-join and engines/
    paths AQE doesn't touch, and makes the spread factor a deliberate,
    testable choice. The salt is a hash of the big side's row content
    (xxhash64), so retries re-derive the same routing.

    Replication cost: |right| × salt rows shuffled — choose
    ``salt ≈ hot-key rows / target-partition rows``, not "big".
    """
    l = left.withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(salt))
    )
    r = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)).cast("array<bigint>"))
    )
    return l.join(r, on + ["__salt"], how).drop("__salt")
