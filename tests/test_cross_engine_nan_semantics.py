"""Executable documentation of the cross-engine NaN facts the
finite-domain policy rests on (established by freeze repro in round 8),
and of the scalar guard's two spellings: functions/finite.py's Spark
helpers and their DuckDB twins must give the same value on every edge
input.

If a DuckDB or Spark upgrade changes any of these, the finite-domain
rationale in functions/finite.py, functions/vectors.py (with its
is_finite_vector_sql twin) and SCALING.md must be re-derived —
these tests fail first.
"""

from __future__ import annotations

import math

import duckdb
import pytest
from pyspark.sql import functions as F

from alibaba_cppfeaturestore_spark.functions.finite import (
    finite_decimal,
    finite_decimal_sql,
    finite_double,
    finite_double_sql,
)

NAN, INF = float("nan"), float("inf")


@pytest.fixture(scope="module")
def con():
    return duckdb.connect()


def test_both_engines_treat_nan_as_greatest(spark, con):
    # NOT an engine disagreement: NaN >= 0 and NaN == NaN are TRUE on
    # both, and NaN sorts greatest — so LSH bucket signs (dot >= 0)
    # AGREE for NaN inputs on both engines.
    row = (
        spark.createDataFrame([(NAN,)], "x double")
        .select(
            (F.col("x") >= 0).alias("ge0"),
            (F.col("x") == F.lit(NAN)).alias("eqnan"),
        )
        .collect()[0]
    )
    assert row.ge0 is True and row.eqnan is True
    d_ge0, d_eq = con.execute(
        "SELECT 'NaN'::DOUBLE >= 0, 'NaN'::DOUBLE = 'NaN'::DOUBLE"
    ).fetchone()
    assert d_ge0 is True and d_eq is True
    # DESC ordering: NaN first on both
    s_first = (
        spark.createDataFrame([(1.0,), (NAN,), (2.0,)], "x double")
        .orderBy(F.desc("x"))
        .collect()[0].x
    )
    assert math.isnan(s_first)
    d_first = con.execute(
        "SELECT x FROM (VALUES (1.0), ('NaN'::DOUBLE), (2.0)) t(x) ORDER BY x DESC"
    ).fetchall()[0][0]
    assert math.isnan(d_first)


def test_duckdb_cosine_clamps_where_spark_arithmetic_yields_nan(spark, con):
    # THE actual divergence mechanism behind the vector finite-domain
    # policy: DuckDB's list_cosine_similarity clamps to [-1, 1] and
    # returns -1.0 for non-finite inputs (corrupt vectors silently sink
    # to the bottom of a DESC top-k), while the engine's explicit IEEE
    # expressions yield NaN (corrupt vectors DOMINATE a Spark DESC
    # top-k, NaN being greatest). Exclusion at ingestion is the only
    # portable policy.
    from alibaba_cppfeaturestore_spark.functions.vectors import cosine_similarity

    for bad, lit in [([NAN, 1.0], "'NaN'::DOUBLE"), ([INF, 1.0], "'Infinity'::DOUBLE")]:
        (d_cos,) = con.execute(
            f"SELECT list_cosine_similarity([{lit}, 1.0], [1.0, 1.0]::DOUBLE[])"
        ).fetchone()
        assert d_cos == -1.0, d_cos
        s_cos = (
            spark.createDataFrame([(bad, [1.0, 1.0])], "a array<double>, b array<double>")
            .select(cosine_similarity(F.col("a"), F.col("b")).alias("c"))
            .collect()[0].c
        )
        assert math.isnan(s_cos)


def test_greatest_least_skip_nulls_on_both_engines(spark, con):
    # the histogram-clamp trap (r08 review find): GREATEST(NULL, 0) is 0
    # — NULLs are SKIPPED, not propagated — on BOTH engines, so any
    # "excluded -> NULL" value fed through an unguarded clamp silently
    # resurrects. The null-check must wrap the clamp.
    row = (
        spark.createDataFrame([(None,)], "x int")
        .select(F.greatest(F.col("x"), F.lit(0)).alias("g"))
        .collect()[0]
    )
    assert row.g == 0
    (d_g,) = con.execute("SELECT GREATEST(NULL::INT, 0)").fetchone()
    assert d_g == 0


def test_duckdb_list_filter_drops_null_elements(spark, con):
    # why is_finite_vector needs the explicit isNotNull leg: DuckDB's
    # list_filter silently drops elements where the predicate is NULL,
    # so `NOT isfinite(x)` alone would KEEP a vector with a NULL
    # component while Spark's forall (NULL result) would DROP it. The
    # oracle spelling adds `x IS NULL OR`, the Spark predicate adds
    # isNotNull — aligned by construction, asserted here.
    from alibaba_cppfeaturestore_spark.functions.vectors import (
        is_finite_vector,
        is_finite_vector_sql,
    )

    (kept,) = con.execute(
        "SELECT len(list_filter([1.0, NULL]::DOUBLE[], x -> NOT isfinite(x))) = 0"
    ).fetchone()
    assert kept is True  # the NULL element vanished from the filter
    (excluded,) = con.execute(
        f"SELECT {is_finite_vector_sql('[1.0, NULL]::DOUBLE[]')}"
    ).fetchone()
    assert excluded is False  # the aligned spelling catches it

    row = (
        spark.createDataFrame([([1.0, None],)], "v array<double>")
        .select(is_finite_vector(F.col("v")).alias("f"))
        .collect()[0]
    )
    assert row.f is False


# Every DECIMAL(p,s) the catalog and the operators pass to the guard.
_GUARD_DECIMALS = [
    "decimal(8,2)", "decimal(8,6)", "decimal(15,4)", "decimal(18,2)",
    "decimal(18,6)", "decimal(20,7)", "decimal(24,6)", "decimal(30,6)",
]
_GUARD_TWINS = [
    pytest.param(
        lambda c, t=t: finite_decimal(c, t), lambda c, t=t: finite_decimal_sql(c, t), id=t
    )
    for t in _GUARD_DECIMALS
] + [pytest.param(finite_double, finite_double_sql, id="double")]
_GUARD_INPUTS = [None, NAN, INF, -INF, 1e300, -1e300, 1e12, -0.0, 123.456789, 1.5]


@pytest.mark.parametrize("spark_fn, sql_fn", _GUARD_TWINS)
def test_finite_guard_twins_agree(spark, con, spark_fn, sql_fn):
    # One policy, two spellings: NaN/±Inf/out-of-domain -> NULL, a
    # finite in-domain value cast exactly. The DuckDB side runs the very
    # text the oracles embed, so a twin that drifts (a dropped isnan
    # guard raises on NaN; a changed precision moves 1e12) fails here.
    rows = list(enumerate(_GUARD_INPUTS))
    got = [
        r.v
        for r in spark.createDataFrame(rows, "i int, x double")
        .orderBy("i")
        .select(spark_fn("x").alias("v"))
        .collect()
    ]
    values = ", ".join(
        f"({i}, {'NULL' if x is None else repr(str(x))}::DOUBLE)" for i, x in rows
    )
    want = [
        v
        for (v,) in con.execute(
            f"SELECT {sql_fn('x')} FROM (VALUES {values}) t(i, x) ORDER BY i"
        ).fetchall()
    ]
    assert got == want
    assert got[0] is None and got[1] is None and got[-1] == 1.5
