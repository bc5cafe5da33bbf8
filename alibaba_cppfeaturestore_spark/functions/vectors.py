"""Vector math over array<float> embedding columns — native expressions.

dot / norm / cosine via ``zip_with`` + ``aggregate`` higher-order
functions: per-row JVM expressions, no UDF, no shuffle. Elements are cast
to double before arithmetic so results are reproducible against the DuckDB
oracle (float32 accumulation order would not be).

For very wide vectors (>4k dims) a vectorized pandas_udf over Arrow
batches becomes faster than the expression tree; these helpers are the
default path for the 64-1024-dim range typical of text embeddings.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def is_finite_vector(v: Column) -> Column:
    """True iff every component is non-NULL and finite — no NaN, no
    ±Inf, no missing element. ``|x| < Inf`` is false for NaN (IEEE NaN
    comparisons) and ±Inf; the explicit ``isNotNull`` makes a NULL
    COMPONENT non-finite too (without it Spark's ``forall`` yields NULL
    for [1.0, NULL] while DuckDB's ``list_filter`` silently drops the
    NULL element — the two oracles would diverge; r08 review find).
    Empty arrays are (vacuously) finite; NULL vectors stay NULL."""
    return F.forall(
        _as_double(v),
        lambda x: x.isNotNull() & (F.abs(x) < F.lit(float("inf"))),
    )


def finite_vector(v: Column) -> Column:
    """FINITE-DOMAIN ingestion policy for embedding columns: the vector
    itself when every component is finite, else NULL. A NaN/±Inf
    component poisons every downstream similarity (dot → NaN/Inf, norm
    → NaN/Inf, cosine → engine-accident), so such a vector is one
    corrupt MEASUREMENT and becomes missing — the same policy the
    decimal ingestion points pin for scalar doubles
    (plans/catalog._dec_value). The measured cross-engine mechanism
    (NOT a comparison disagreement — both engines treat NaN as greatest
    and NaN >= 0 as true): DuckDB's list_cosine_similarity clamps to
    [-1, 1] and returns -1.0 for non-finite inputs, while these explicit
    IEEE expressions yield NaN, which Spark's DESC ordering places
    FIRST — a corrupt vector dominates every Spark top-k and silently
    sinks in DuckDB's. Extreme-but-finite magnitudes (±3e38,
    the float32 edge) are in-domain: double accumulation handles them
    exactly. Oracle spelling:
    ``CASE WHEN len(list_filter(v, x -> x IS NULL OR NOT isfinite(x))) = 0
    THEN v END`` — the ``x IS NULL`` leg mirrors the Spark predicate's
    isNotNull (DuckDB's list_filter drops NULL-predicate elements, so
    without it a NULL component would be silently kept; DuckDB's
    isfinite is false for NaN and ±Inf alike)."""
    return F.when(is_finite_vector(v), v)


def dot(a: Column, b: Column) -> Column:
    prods = F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine_similarity(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def quantize_int8(v: Column) -> Column:
    """Scalar int8 quantization: struct(scale float, q array<tinyint>)
    with q = round(x / scale), scale = max|x| / 127.

    The storage lever for vector corpora: 4 bytes/dim float32 → 1
    byte/dim (+1 scalar), so a 100 TB embedding store reads/shuffles 4×
    less. Zero vectors quantize to scale 0 / all-zero q. All native
    expressions — quantize on write, score the quantized form with
    ``dot_int8`` / ``norm_int8``, keep originals cold."""
    from .text import _let

    amax_expr = F.aggregate(
        v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x.cast("double")))
    )
    # bind amax once: referenced per-element in the transform, a captured
    # aggregate subexpression would re-scan the vector per component
    return _let(
        amax_expr,
        lambda amax: F.struct(
            (amax / F.lit(127.0)).cast("float").alias("scale"),
            F.when(
                amax == 0.0, F.transform(v, lambda x: F.lit(0).cast("tinyint"))
            )
            .otherwise(
                F.transform(
                    v,
                    lambda x: F.round(x.cast("double") * F.lit(127.0) / amax).cast(
                        "tinyint"
                    ),
                )
            )
            .alias("q"),
        ),
    )


def dot_int8(qa: Column, qb: Column) -> Column:
    """Integer dot product of two int8-quantized vectors' q arrays
    (double accumulation — every partial sum is an exact integer-valued
    double ≪ 2⁵³, so aggregation order cannot change a bit)."""
    return F.aggregate(
        F.zip_with(qa["q"], qb["q"], lambda x, y: (x.cast("double") * y.cast("double"))),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_int8(qv: Column) -> Column:
    """Integer L2 norm of an int8-quantized vector's q array. Scoring
    pipelines precompute it once per VECTOR and score each pair with
    ``dot_int8(a, b) / greatest(na * nb, 1e-12)`` — scales cancel, so the
    cosine is integer dot over integer norms, one interpreted HOF fold
    per pair (``operators/similarity.py``'s ``INT8`` scorer)."""
    return F.sqrt(
        F.aggregate(
            qv["q"], F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def projection_signs(out_dim: int, in_dim: int, seed: int = 0x5EED) -> list[list[float]]:
    """Deterministic ±1 random-projection matrix (Achlioptas 2003: the
    sign matrix satisfies the Johnson–Lindenstrauss lemma with the same
    distortion bounds as Gaussian entries, at integer-add cost). Derived
    from a seeded PRNG driver-side, so the same (dims, seed) always yields
    the same matrix — across runs, across batch/streaming, and inside the
    DuckDB oracle that replays the identical literals."""
    import random

    rng = random.Random((out_dim << 24) ^ (in_dim << 8) ^ seed)
    return [
        [1.0 if rng.getrandbits(1) else -1.0 for _ in range(in_dim)]
        for _ in range(out_dim)
    ]


def random_projection(v: Column, signs: list[list[float]]) -> Column:
    """Project array<float> through a literal ±sign matrix →
    array<double> of len(signs) components: p_j = Σ_i signs[j][i]·v_i,
    scaled by 1/√out_dim to preserve expected norms.

    The whole matrix is ONE literal array-of-arrays folded through ONE
    ``transform`` lambda (the codegen-safe shape proven for the IVF
    centroid distance): per-row expression, no shuffle, no UDF. This is
    the storage/CPU lever ahead of ANN at 100 TB — a 1024-dim corpus
    projected to 64 dims shrinks every downstream signature/index/scan
    16×, with pairwise distances preserved within JL distortion."""
    import math

    smat = F.array(*[F.array(*[F.lit(s) for s in row]) for row in signs])
    scale = F.lit(1.0 / math.sqrt(len(signs)))
    return F.transform(
        smat,
        lambda row: scale
        * F.aggregate(
            F.zip_with(v, row, lambda x, s: x.cast("double") * s),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )


def cosine_similarity_arrow(a: Column, b: Column) -> Column:
    """Arrow-vectorized cosine — the sanctioned ``pandas_udf`` tier for
    WIDE vectors (≳4k dims), where the per-element expression tree above
    loses to one numpy fused kernel per Arrow batch. Semantics match
    ``cosine_similarity`` (float64 accumulation; NULL on either side →
    NULL result — null rows are masked out before the ``np.stack``, which
    would otherwise raise on them); an equivalence test pins the two
    paths against each other, so callers can switch on dimensionality
    without a correctness cliff. Precondition shared with the native
    path: non-null vectors within one batch must have equal length
    (ragged inputs raise rather than silently zero-pad)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # NB: this file uses `from __future__ import annotations`, so inline
    # type hints are strings that pandas_udf cannot resolve against
    # function-local imports — declare the signature via __annotations__
    # with the real classes instead.
    def _cos(xs, ys):
        mask = (xs.notna() & ys.notna()).to_numpy()
        out = pd.array(np.full(len(xs), np.nan), dtype="Float64")
        out[~mask] = pd.NA
        if mask.any():
            xm = np.stack(xs.to_numpy()[mask]).astype("float64")
            ym = np.stack(ys.to_numpy()[mask]).astype("float64")
            num = (xm * ym).sum(axis=1)
            den = np.sqrt((xm * xm).sum(axis=1)) * np.sqrt((ym * ym).sum(axis=1))
            out[mask] = num / den
        return pd.Series(out)

    _cos.__annotations__ = {"xs": pd.Series, "ys": pd.Series, "return": pd.Series}
    return pandas_udf("double")(_cos)(a, b)
