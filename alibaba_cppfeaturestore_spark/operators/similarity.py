"""Similarity search over embedding columns (array<float>).

Every top-k path is one composition of three parts, each written once:

- **Candidate generator** — which (query, neighbor) pairs get scored:
  ``_all_pairs`` (broadcast queries × ``_spread`` corpus: exact),
  ``_lsh_pairs`` (multi-table random-hyperplane buckets from
  ``_lsh_buckets``: an equi-join, never a cross join), or IVF cells
  (``_cell_pairs``: a query meets the corpus vectors of the cells it
  probes). IVF cell ids come from a centroid table of k-center greedy
  (``_greedy_pairs``) or smallest-id (``_smallest_id_pairs``) picks,
  scored against each vector like any other pair (``_table_pairs``).
- **Scorer** — ``FLOAT`` (float cosine over a per-side ``norm``) or
  ``INT8`` (int8 cosine over a per-side ``norm_int8``). ``_side``
  projects each side's id, scored vector and norm once, so a pair costs
  one dot fold; ``_cos`` is the pair score.
- **Top-k stage** — ``_top_k``: ``aggregates.top_k_per_group`` on
  ``cosine_sim`` per query, ties to the smaller neighbor id.

Entry points, and the output contract each composes itself:

- ``brute_force_topk``: all pairs × FLOAT, rounded to 6 places;
- ``lsh_bucketed_topk``: LSH buckets × FLOAT, rounded, scored before
  the pair dedup;
- ``ivf_portable_topk``: IVF with smallest-id cells × INT8, unrounded;
- ``ivf_greedy_topk``: IVF with k-center greedy cells × INT8, unrounded.

The catalog composes two more: ``ann_quantized_topk`` (all pairs × INT8,
rounded) and the dense leg of ``hybrid_rrf_retrieval`` (FLOAT, ranked by
its own unrounded single-query window).

Hyperplanes for the LSH signatures come from a PRNG seeded by (table,
plane) and enter plans as literals, so signatures are reproducible
across runs and between batch/streaming, and the DuckDB oracles embed
the same matrix.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import dot, dot_int8, norm, norm_int8, quantize_int8
from .aggregates import top_k_per_group
from .dedup import _spread, portable_hash60


class Scorer(NamedTuple):
    """A pair score: ``prep`` maps a raw vector column to its scored
    form (``None``: the raw vector is scored as is), ``norm`` is the
    per-vector constant each side projects ONCE, and
    ``pair(a, b, norm_a, norm_b)`` scores two scored-form vectors."""

    prep: Callable[[Column], Column] | None
    norm: Callable[[Column], Column]
    pair: Callable[[Column, Column, Column, Column], Column]


# Float cosine. dot/(na·nb) divides by the product of the SAME doubles
# ``cosine_similarity`` computes, so scores (and top-k order) are
# bit-identical to the per-pair form at one dot fold per pair instead
# of three interpreted array aggregates — higher-order functions never
# whole-stage-codegen (guide §4 / the minhash_band_index lesson). No
# epsilon clamp, unlike threshold_pairs.
FLOAT = Scorer(
    prep=None,
    norm=norm,
    pair=lambda a, b, na, nb: dot(a, b) / (na * nb),
)
# Int8 cosine: integer dot over integer norms (the scales cancel). Every
# partial sum is an exact integer-valued double < 2^53, so aggregation
# order cannot change a bit — the cross-engine replayable tier.
INT8 = Scorer(
    prep=quantize_int8,
    norm=norm_int8,
    pair=lambda a, b, na, nb: dot_int8(a, b) / F.greatest(na * nb, F.lit(1e-12)),
)

# Side roles: (id column, vector/norm column prefix).
Q = ("query_id", "__q")
C = ("neighbor_id", "__c")
K = ("cent_id", "__k")


def _side(
    df: DataFrame,
    scorer: Scorer,
    id_col: str,
    vec_col: str,
    role: tuple[str, str],
    *extra: Column,
) -> DataFrame:
    """One side of a pair, projected once: the role's id, ``<p>vec`` (the
    scorer's form of the vector) and ``<p>norm``, plus ``extra`` columns
    computed from the raw vector (bucket or cell ids)."""
    rid, p = role
    raw = F.col(vec_col)
    if scorer.prep is None:
        # one projection: a bare rename would sink below a _spread
        # repartition and leave the norm in a second Project
        return df.select(
            F.col(id_col).alias(rid),
            raw.alias(p + "vec"),
            scorer.norm(raw).alias(p + "norm"),
            *extra,
        )
    # the norm folds the projected column, not a second prep(raw)
    return df.select(
        F.col(id_col).alias(rid), scorer.prep(raw).alias(p + "vec"), *extra
    ).withColumn(p + "norm", scorer.norm(F.col(p + "vec")))


def _relabel(df: DataFrame, src: tuple[str, str], dst: tuple[str, str]) -> DataFrame:
    """A projected side's (id, vec, norm) columns under another role."""
    return df.select(
        F.col(src[0]).alias(dst[0]),
        F.col(src[1] + "vec").alias(dst[1] + "vec"),
        F.col(src[1] + "norm").alias(dst[1] + "norm"),
    )


def _cos(scorer: Scorer, a: tuple[str, str] = Q, b: tuple[str, str] = C) -> Column:
    """The pair score between two projected sides (query × corpus by default)."""
    return scorer.pair(
        F.col(a[1] + "vec"), F.col(b[1] + "vec"), F.col(a[1] + "norm"), F.col(b[1] + "norm")
    )


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """The one top-k stage over ``(query_id, neighbor_id, cosine_sim)``:
    each query's k best, ties broken by neighbor id ascending."""
    return top_k_per_group(scored, ["query_id"], "cosine_sim", k, tiebreak=["neighbor_id"])


def _all_pairs(
    queries: DataFrame,
    corpus: DataFrame,
    scorer: Scorer,
    id_col: str,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """Exact generator: every (query, corpus) pair except the self pair.

    The query side is broadcast (ANN queries are few relative to corpus);
    the corpus is scanned once — ``_spread`` first, so a singly-split
    embedding file does not serialize the |queries|×|corpus| scoring
    onto one core (measured 0.92 → 0.65 s at sf0.1; the same small-scan
    trap as the dedup verify stage, SCALING.md round-5 notes)."""
    q = F.broadcast(_side(queries, scorer, query_id_col, vec_col, Q))
    c = _side(_spread(corpus), scorer, id_col, vec_col, C)
    return q.join(c, F.col("query_id") != F.col("neighbor_id"))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k: for each query vector the k nearest corpus rows
    (all pairs × FLOAT, rounded to 6 places). Ties broken by corpus id
    ascending."""
    pairs = _all_pairs(queries, corpus, FLOAT, id_col, vec_col, query_id_col)
    return _top_k(
        pairs.select("query_id", "neighbor_id", F.round(_cos(FLOAT), 6).alias("cosine_sim")), k
    )


def _plane_signs(table: int, plane: int, dim: int) -> list[float]:
    """Deterministic ±1 hyperplane weights — plane identity is compile-time
    (table, plane, i), so the weights are generated driver-side and embedded
    as literals: zero per-row hashing, reproducible across runs/sessions."""
    import random

    rng = random.Random((table << 20) ^ (plane << 8) ^ 0xA11CE)
    return [1.0 if rng.getrandbits(1) else -1.0 for _ in range(dim)]


def _lsh_buckets(vec: Column, num_bits: int, num_tables: int, dim: int) -> Column:
    """array<struct<table:int,bucket:int>> — one bucket per hash table.

    All num_tables×num_bits hyperplanes live in ONE literal matrix and
    project through ONE ``transform`` lambda; inlining a projection
    expression per plane overflows generated-code limits at 8×4 planes
    and drops the scan out of whole-stage codegen. Bucket ids then
    assemble from the flat sign array with cheap element_at/shift
    arithmetic (``_let``-bound so the projections evaluate once)."""
    from ..functions.text import _let

    planes = [
        _plane_signs(t, p, dim)
        for t in range(num_tables)
        for p in range(num_bits)
    ]
    pmat = F.array(*[F.array(*[F.lit(s) for s in pl]) for pl in planes])
    bits = F.transform(
        pmat,
        lambda pl: F.when(
            F.aggregate(
                F.zip_with(vec, pl, lambda x, s: x.cast("double") * s),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            >= 0,
            F.lit(1),
        ).otherwise(F.lit(0)),
    )

    def assemble(b: Column) -> Column:
        out = []
        for t in range(num_tables):
            bucket = F.lit(0)
            for p in range(num_bits):
                bucket = bucket + F.shiftleft(
                    F.element_at(b, t * num_bits + p + 1), p
                )
            out.append(
                F.struct(F.lit(t).alias("table"), bucket.alias("bucket"))
            )
        return F.array(*out)

    return _let(bits, assemble)


def _lsh_pairs(
    queries: DataFrame,
    corpus: DataFrame,
    scorer: Scorer,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    num_bits: int,
    num_tables: int,
    dim: int,
) -> DataFrame:
    """LSH generator: (query, neighbor) pairs sharing a bucket in at least
    one of ``num_tables`` tables, once per shared table (callers dedup).

    explode_outer: the bucket array is a computed expression (the _let
    binding), so an inner explode would re-evaluate all plane
    projections inside an InferFiltersFromGenerate size/isnotnull
    filter (see operators/dedup.py); the array is never empty.
    _spread: the per-vector plane projections (num_tables × num_bits
    dot products) run in the scan stage — parallelize a singly-split
    corpus file before them."""

    def side(df: DataFrame, side_id: str, role: tuple[str, str]) -> DataFrame:
        buckets = _lsh_buckets(F.col(vec_col), num_bits, num_tables, dim)
        return _side(
            df, scorer, side_id, vec_col, role, F.explode_outer(buckets).alias("__b")
        ).select(role[0], role[1] + "vec", role[1] + "norm", "__b.table", "__b.bucket")

    c = side(_spread(corpus), id_col, C)
    q = F.broadcast(side(queries, query_id_col, Q))
    return q.join(c, ["table", "bucket"]).filter(F.col("query_id") != F.col("neighbor_id"))


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    num_bits: int = 4,
    num_tables: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k with multi-table random-hyperplane LSH (LSH
    buckets × FLOAT, rounded to 6 places).

    A query is compared only against corpus vectors sharing a bucket in at
    least one of ``num_tables`` tables: recall ≈ 1-(1-p^num_bits)^num_tables
    for per-plane agreement p. The scale win: the candidate join is an
    equi-join on (table, bucket) + dedup, never a cross join. Tune
    num_bits up for selectivity, num_tables up for recall.
    """
    pairs = _lsh_pairs(
        queries, corpus, FLOAT, id_col, vec_col, query_id_col, num_bits, num_tables, dim
    )
    # Score BEFORE the pair dedup (r13, guide §2.3 "shuffle keys and
    # metadata instead of payloads"): a (query, neighbor) pair recurring
    # in several tables carries the SAME two vectors, so the rounded
    # cosine is bit-identical across its occurrences and dropDuplicates
    # keeps the same value whichever row survives. The dedup exchange
    # then carries (query_id, neighbor_id, cosine_sim) — ~24 bytes —
    # instead of two dim-float vectors + norms (~40× more). The price is
    # one dot fold per DUPLICATE occurrence (measured dup factor at
    # sf0.1: 1.27×), paid map-side where partial-aggregate collapse
    # already touched every occurrence anyway; wall-clock measured
    # neutral-to-better at sf0.1 (1.73 → 1.49 s avg, outputs identical).
    scored = pairs.select(
        "query_id", "neighbor_id", F.round(_cos(FLOAT), 6).alias("cosine_sim")
    ).dropDuplicates(["query_id", "neighbor_id"])
    return _top_k(scored, k)


def _cell_pairs(q: DataFrame, c: DataFrame) -> DataFrame:
    """IVF generator: query and corpus sides carrying ``__cell`` ids
    equi-join on the cell — corpus compared ≈ n_probe/n_cells of a cross
    join."""
    return q.join(c, "__cell").filter(F.col("query_id") != F.col("neighbor_id"))


def threshold_pairs(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
) -> DataFrame:
    """All pairs with cosine ≥ threshold (embedding near-dup detection).

    Optionally blocked on ``block_col``; unblocked is |corpus|² — at scale
    pair it with LSH buckets (see ``lsh_bucketed_topk``) instead."""
    cols = [F.col(id_col).alias("id"), F.col(vec_col).alias("v")]
    if block_col:
        cols.append(F.col(block_col).alias("blk"))
    # norms computed ONCE PER ROW before the pair join — cosine per pair
    # then costs one dot pass instead of three array aggregates
    base = corpus.select(*cols).withColumn("nrm", norm(F.col("v")))
    # Per-pair dot products are CPU-bound; a small corpus scanning as one
    # parquet split would run the whole pair join on one core — round-robin
    # the probe side to cluster parallelism (build side broadcasts).
    a = base.repartition(
        corpus.sparkSession.sparkContext.defaultParallelism
    ).alias("a")
    b = base.alias("b")
    cond = F.col("a.id") < F.col("b.id")
    if block_col:
        cond = cond & (F.col("a.blk") == F.col("b.blk"))
    return (
        a.join(b, cond)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(
                dot(F.col("a.v"), F.col("b.v"))
                / F.greatest(F.col("a.nrm") * F.col("b.nrm"), F.lit(1e-12)),
                6,
            ).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def _table_cells(
    side: DataFrame, cents: DataFrame, scorer: Scorer, role: tuple[str, str], n: int
) -> DataFrame:
    """The side's rows, each once per cell among its ``n`` best-scoring
    centroids (``__cell``; ties → smaller centroid id)."""
    scored = side.crossJoin(cents).select(
        *side.columns, "cent_id", _cos(scorer, role, K).alias("__cs")
    )
    return top_k_per_group(scored, [role[0]], "__cs", k=n, tiebreak=["cent_id"]).select(
        *side.columns, F.col("cent_id").alias("__cell")
    )


def _table_pairs(
    c: DataFrame, cents: DataFrame, scorer: Scorer, n_queries: int, nprobe: int
) -> DataFrame:
    """IVF cells from a centroid table (role K, scored like any pair):
    each corpus vector sits in its best centroid's cell, and the corpus
    vectors with id < ``n_queries`` probe their ``nprobe`` best cells.
    Broadcast centroids, cell equi-join, no stage touching |corpus|²
    rows."""
    cents = F.broadcast(cents)
    # assigned has two consumers (query extraction, candidate join), but
    # persisting it MEASURED SLOWER (7.6 s -> 11.2 s at sf0.01): the
    # cache is data-sized (it carries the quantized vectors) and the
    # InMemoryTableScan breaks whole-stage codegen, while the recompute
    # is one narrow scan + a 16-row broadcast score. The scan-economy
    # rule (SCALING.md): cache-by-default is as wrong as
    # recompute-by-default — this one stays recomputed.
    assigned = _table_cells(c, cents, scorer, C, 1)
    queries = _relabel(assigned.filter(F.col("neighbor_id") < n_queries), C, Q)
    probes = _table_cells(queries, cents, scorer, Q, nprobe)
    # a vector sits in exactly one cell, so no candidate dedup needed
    return _cell_pairs(probes, assigned)


def _smallest_id_pairs(
    emb: DataFrame,
    scorer: Scorer,
    n_queries: int,
    nlist: int,
    nprobe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """IVF cells whose centroids are the ``nlist`` smallest-id vectors.

    NULL-id gate (the winnow precedent: an unattributable member is
    unactionable): this quantizer is ID-KEYED — centroids are the nlist
    smallest-id vectors — and an id-less vector cannot hold an
    id-ordered slot. Without the gate it claims one on exactly ONE
    engine: Spark's ASC sort default is NULLS FIRST, DuckDB's is NULLS
    LAST (driver_sim five-way stack find, seed 71: a nulls-fuzzed vec_id
    became Spark centroid #1 and displaced id 18's slot). As a neighbor
    or query a NULL id already drops through the != and < conditions —
    and through the same conditions in brute-force and LSH top-k, so
    those operators need no gate (audited r09).
    _spread: scoring is scan-stage CPU work; parallelize a singly-split
    corpus file before it."""
    c = _side(_spread(emb.where(F.col(id_col).isNotNull())), scorer, id_col, vec_col, C)
    cents = _relabel(c.orderBy("neighbor_id").limit(nlist), C, K)
    return _table_pairs(c, cents, scorer, n_queries, nprobe)


def ivf_portable_topk(
    emb: DataFrame,
    n_queries: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF top-k with a DETERMINISTIC coarse quantizer: centroids are the
    ``nlist`` corpus vectors with the smallest ids (a fixed "random" sample — ids
    carry no geometry) int8-quantized, assignment/probing/scoring are
    integer dot products (every partial sum is an exact integer-valued
    double < 2^53, so aggregation order cannot change a bit), and all
    argmax selections tie-break on ids (IVF with smallest-id cells ×
    INT8, unrounded). Same physical shape as ``ivf_greedy_topk`` —
    broadcast centroids, cell equi-join, per-cell top-k — with recall
    traded for a fit-free quantizer.
    """
    pairs = _smallest_id_pairs(emb, INT8, n_queries, nlist, nprobe, id_col, vec_col)
    return _top_k(pairs.select("query_id", "neighbor_id", _cos(INT8).alias("cosine_sim")), k)


def _greedy_pairs(
    emb: DataFrame,
    scorer: Scorer,
    n_queries: int,
    nlist: int,
    nprobe: int,
    id_col: str,
    vec_col: str,
    max_fit_rows: int,
) -> DataFrame:
    """IVF cells whose centroids are k-center greedy picks over the
    int8-quantized fit set (the selection rules are in
    ``ivf_greedy_topk``'s docstring)."""
    # NULL-id gate, same reason as _smallest_id_pairs: the fit order is
    # (hash(id), id)-keyed and engine NULL sort defaults differ.
    emb = _spread(emb.where(F.col(id_col).isNotNull()))
    fit = (
        emb.select(
            F.col(id_col).alias("vid"),
            quantize_int8(F.col(vec_col)).alias("qv"),
            portable_hash60(F.col(id_col).cast("string")).alias("h60"),
        )
        .orderBy("h60", "vid")
        .limit(max_fit_rows)
        .collect()
    )
    sel = []
    if fit:
        import numpy as np

        vids = np.array([r.vid for r in fit], dtype=np.int64)
        x = np.array([[int(c) for c in r.qv.q] for r in fit], dtype=np.int64)
        nrm = (x * x).sum(axis=1)
        sel = [0]  # fit rows arrive (h60, vid)-ordered: row 0 IS the seed
        dmin = nrm + nrm[0] - 2 * (x @ x[0])
        while len(sel) < nlist:
            mx = dmin.max()
            if mx <= 0:  # every remaining point duplicates a centroid
                break
            tied = np.flatnonzero(dmin == mx)
            j = int(tied[np.argmin(vids[tied])])
            sel.append(j)
            dmin = np.minimum(dmin, nrm + nrm[j] - 2 * (x @ x[j]))
    # Centroids enter as their int8 points' dequantized doubles q·scale.
    # Every product is exact (an 8-bit q times a 24-bit float scale) and
    # max|q| = 127, so INT8.prep re-quantizes each to the IDENTICAL scale
    # and q (127·scale/127 and q·scale·127/(127·scale) are exact): the
    # table is in either scorer's form without another corpus pass. An
    # empty fit leaves an empty table, hence an empty typed result.
    cents = emb.sparkSession.createDataFrame(
        [(i, [fit[j].qv.scale * q for q in fit[j].qv.q]) for i, j in enumerate(sel)],
        "cent_id int, v array<double>",
    )
    c = _side(emb, scorer, id_col, vec_col, C)
    return _table_pairs(c, _side(cents, scorer, "cent_id", "v", K), scorer, n_queries, nprobe)


def ivf_greedy_topk(
    emb: DataFrame,
    n_queries: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_fit_rows: int = 16384,
) -> DataFrame:
    """IVF top-k with a DATA-ADAPTIVE deterministic coarse quantizer:
    farthest-point (k-center greedy) centroid selection over int8-
    quantized vectors, in place of an MLlib-KMeans fit (r11 verdict
    item 6 — the RNG init and Lloyd float accumulation were the only
    oracle-less stages left in the catalog). IVF with k-center greedy
    cells × INT8, unrounded.

    Why this is exactly replayable where KMeans is not:

    - the fit set is the ``max_fit_rows`` vectors with smallest
      ``portable_hash60(vec_id)`` — a deterministic "random" thinning
      any engine reproduces (hashes carry no geometry, so this is an
      unbiased sample in the only sense that matters to a quantizer);
    - centroid selection is k-center greedy on integer squared-L2
      (``|a|² + |b|² − 2a·b`` over int8 components — every value
      < 2³³, exact in int64 and in the integer-valued doubles a SQL
      engine folds), seeded at the smallest (hash, id) and iterating
      argmax-min-distance with ties to the smallest id — a total,
      engine-free order;
    - Lloyd refinement is deliberately OMITTED: the mean-update divides
      integer sums into non-integer doubles whose downstream distance
      accumulation is summation-order-dependent — the one stage that
      cannot be made engine-equal without scaled-integer cross
      multiplication past 2⁵³. k-center seeding alone is the classic
      approximation (Gonzalez 1985: 2-approx for the k-center
      objective) and is exactly the init production KMeans would
      refine.

    Scale shape: the fit collects ≤ ``max_fit_rows`` quantized vectors
    (≈1 MB at the defaults — a bounded driver-side computation, same
    class as MLlib's ``clusterCenters()``); assignment/probe/score are
    the ``ivf_portable_topk`` shape (``_table_pairs``) — broadcast
    16-row centroid table, cell equi-join, per-cell top-k, no stage
    touching |corpus|² rows.
    """
    pairs = _greedy_pairs(
        emb, INT8, n_queries, nlist, nprobe, id_col, vec_col, max_fit_rows
    )
    return _top_k(pairs.select("query_id", "neighbor_id", _cos(INT8).alias("cosine_sim")), k)


def lloyd_assign(vec: Column, centroids: list[list[float]]) -> Column:
    """Nearest-centroid assignment for one Lloyd iteration over LITERAL
    centroids: squared distance to each centroid as a left-associated
    fold (``F.aggregate`` — the same ((0+t₁)+t₂)+… order a SQL oracle
    spells out, so the doubles are bit-identical cross-engine), argmin
    by strict CASE comparisons with ties to the LOWEST index."""
    dists = []
    for c in centroids:
        carr = F.array(*[F.lit(float(x)) for x in c])
        d = F.aggregate(
            F.zip_with(vec, carr, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
        dists.append(d)
    k = len(dists)
    expr = F.lit(k - 1)
    for j in range(k - 2, -1, -1):
        cond = None
        for m in range(j + 1, k):
            c = dists[j] <= dists[m]
            cond = c if cond is None else (cond & c)
        expr = F.when(cond, F.lit(j)).otherwise(expr)
    return expr


def kmeans_lloyd_step(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """One exact Lloyd iteration against given centroids: assign every
    vector to its nearest centroid, return per-cluster size and the
    recomputed centroid's first two coordinates (ROUND(AVG,6) — the
    embedding_stats discipline). The assignment is a pure row-local
    codegen expression (no shuffle); the update is ONE partial-aggregable
    groupBy of k rows — the per-iteration cost profile that lets Lloyd
    run at corpus scale with broadcast centroids. Production k-means
    loops this with refreshed literals."""
    assigned = df.select(
        F.col(id_col),
        lloyd_assign(F.col(vec_col).cast("array<double>"), centroids).alias("cluster"),
        F.element_at(F.col(vec_col), 1).cast("double").alias("d0"),
        F.element_at(F.col(vec_col), 2).cast("double").alias("d1"),
    )
    return assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.avg("d0"), 6).alias("new_c0"),
        F.round(F.avg("d1"), 6).alias("new_c1"),
    )
