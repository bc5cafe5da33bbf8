"""two_phase_rank / ntile_from_rank: exact equivalence with the
single-partition window forms they replace, and the plan property that
justifies them (no SinglePartition-fed Window)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from alibaba_cppfeaturestore_spark.operators.ranks import ntile_from_rank, two_phase_rank


def _rows(n, seed, with_nulls=False):
    import random

    rng = random.Random(seed)
    out = []
    for i in range(n):
        v = None if with_nulls and rng.random() < 0.05 else rng.randint(0, n // 3 + 1)
        out.append((i, v, rng.choice("abcde") if rng.random() > 0.02 else None))
    return out


@pytest.mark.parametrize("n,seed", [(0, 1), (1, 2), (7, 3), (500, 4), (2000, 5)])
def test_rank_matches_window_row_number(spark, n, seed):
    df = spark.createDataFrame(_rows(n, seed, with_nulls=True), "id long, v long, s string")
    w = Window.orderBy(F.asc("v"), F.asc("s"), F.asc("id"))
    expected = df.select("id", F.row_number().over(w).cast("bigint").alias("rk"))
    got = two_phase_rank(
        df, [F.col("v"), F.col("s"), F.col("id")], rank_col="rk", n_buckets=8
    ).select("id", "rk")
    assert sorted(expected.collect()) == sorted(got.collect())


def test_rank_desc_components_and_running_sum(spark):
    df = spark.createDataFrame(_rows(800, 9), "id long, v long, s string").withColumn(
        "dec", (F.col("v") * 7 % 100).cast("decimal(18,2)")
    )
    order = [F.desc("v"), F.asc("id")]
    w = Window.orderBy(*order)
    expected = df.select(
        "id",
        F.row_number().over(w).cast("bigint").alias("rk"),
        F.sum("dec").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
    )
    got = two_phase_rank(
        df,
        [(-F.col("v")).alias("nv"), F.col("id")],
        rank_col="rk",
        running={"cum": F.col("dec")},
        n_buckets=8,
    ).select("id", "rk", "cum")
    exp = {r["id"]: (r["rk"], r["cum"]) for r in expected.collect()}
    for r in got.collect():
        erk, ecum = exp[r["id"]]
        assert r["rk"] == erk
        assert r["cum"] == ecum  # decimal-exact, not approx


def test_running_sum_null_semantics_match_window(spark):
    # leading nulls (running sum NULL until first non-null), all-null
    # buckets, trailing nulls — must reproduce window SUM bit-for-bit
    import random

    rng = random.Random(21)
    rows = [
        (i, rng.randint(0, 50), None if (i < 40 or rng.random() < 0.3) else rng.randint(1, 9))
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "id long, v long, x long").withColumn(
        "dec", F.col("x").cast("decimal(18,2)")
    )
    w = Window.orderBy("id")
    expected = {
        r["id"]: r["cum"]
        for r in df.select(
            "id",
            F.sum("dec").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        ).collect()
    }
    got = two_phase_rank(
        df, [F.col("id")], rank_col="rk", running={"cum": F.col("dec")}, n_buckets=16
    ).select("id", "cum")
    for r in got.collect():
        assert r["cum"] == expected[r["id"]], (r["id"], r["cum"], expected[r["id"]])


def test_total_col_and_determinism_across_reexecution(spark):
    df = spark.createDataFrame(_rows(300, 11), "id long, v long, s string")
    out = two_phase_rank(df, [F.col("v"), F.col("id")], rank_col="rk", total_col="n")
    a = sorted((r["id"], r["rk"], r["n"]) for r in out.collect())
    b = sorted((r["id"], r["rk"], r["n"]) for r in out.collect())
    assert a == b
    assert all(t[2] == 300 for t in a)
    assert sorted(t[1] for t in a) == list(range(1, 301))


@pytest.mark.parametrize("n", [0, 1, 2, 4, 5, 6, 23, 100, 997])
@pytest.mark.parametrize("k", [1, 3, 5, 8])
def test_ntile_formula_matches_spark_ntile(spark, n, k):
    if n == 0:
        return
    df = spark.range(n).select(F.col("id").alias("x"))
    w = Window.orderBy("x")
    r = df.select(
        "x",
        F.ntile(k).over(w).alias("t"),
        F.row_number().over(w).cast("bigint").alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    bad = r.where(
        ntile_from_rank(F.col("rk"), F.col("n"), k) != F.col("t")
    ).count()
    assert bad == 0


def test_plan_has_no_single_partition_window(spark):
    df = spark.createDataFrame(_rows(100, 13), "id long, v long, s string")
    out = two_phase_rank(df, [F.col("v"), F.col("id")], rank_col="rk")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # every Window in the composition partitions by the bucket id
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "__tpr_bkt" in plan  # windows keyed by bucket
    assert "Exchange SinglePartition" not in plan or "collect_list" in plan
    # the only SinglePartition exchanges feed 1-row aggregates (bounds /
    # offsets packing), never a Window: check adjacency textually
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Window" in ln and "windowspecdefinition" in ln:
            tail = "\n".join(lines[i : i + 4])
            assert "Exchange SinglePartition" not in tail, plan


def test_release_persisted_registry(spark):
    # persist=True registers the cache; release_persisted (the alias of
    # resources.release that perfbench/ imports) unpersists and empties
    # the registry (the r08 harness contract — bench/driver_sim call it
    # between queries so blocks don't accumulate)
    from alibaba_cppfeaturestore_spark import resources
    from alibaba_cppfeaturestore_spark.operators import ranks

    ranks.release_persisted()  # drain anything earlier tests left
    df = spark.createDataFrame(_rows(50, 3), "id long, v long, s string")
    out = two_phase_rank(df, [F.col("v"), F.col("id")], rank_col="rk")
    assert out.count() == 50
    assert len(resources._OWNED) == 1
    assert ranks.release_persisted() == 1
    assert ranks.release_persisted() == 0  # idempotent, registry empty
    # persist=False registers nothing
    out2 = two_phase_rank(df, [F.col("v"), F.col("id")], rank_col="rk", persist=False)
    assert out2.count() == 50
    assert ranks.release_persisted() == 0
    # releasing BEFORE materialization is safe: the consumer recomputes
    out3 = two_phase_rank(df, [F.col("v"), F.col("id")], rank_col="rk")
    assert ranks.release_persisted() == 1
    assert out3.count() == 50


def test_operator_persists_are_registered(spark, sf_dir):
    # r13 verdict item: every operator-internal persist routes through
    # the resource registry, so release()/scope() actually cover them —
    # a long-lived session no longer accumulates MEMORY_AND_DISK blocks
    # until clearCache(). Two witnesses: the minhash persist (1 shared
    # shingle frame) and the PPJoin index (sorted_docs + postings),
    # checked end-to-end: after the sweep the RDD storage list is EMPTY.
    from alibaba_cppfeaturestore_spark import resources
    from alibaba_cppfeaturestore_spark.operators import dedup as DD

    resources.release(blocking=True)
    spark.catalog.clearCache()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    assert DD.minhash_lsh_duplicates(docs, num_hashes=8, bands=2).count() >= 0
    assert resources.release(blocking=True) == 1
    assert DD.ngram_jaccard_pairs_indexed(docs, threshold=0.9).count() >= 0
    assert resources.release(blocking=True) == 2
    assert DD.simhash_duplicates(docs).count() >= 0
    assert resources.release(blocking=True) == 1
    # the sweep leaves NO persisted blocks behind (the registry covers
    # every persist the three operators took, and every local
    # checkpoint earlier tests' operators took)
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    assert len(infos) == 0, [str(i) for i in infos]
    # source-level backstop (AST): every .persist(...), .checkpoint(...)
    # and .localCheckpoint(...) call in operators/ and plans/ sits inside
    # an own(...) call, and no tempdir is made there except through
    # resources.tempdir
    import ast
    import pathlib

    pkg_dir = pathlib.Path(DD.__file__).parent.parent
    paths = sorted(pkg_dir.glob("operators/*.py")) + sorted(pkg_dir.glob("plans/*.py"))
    assert any(p.name == "catalog.py" for p in paths)
    def name(call):
        return getattr(call.func, "attr", getattr(call.func, "id", None))

    n_owned = 0
    for path in paths:
        calls = [n for n in ast.walk(ast.parse(path.read_text())) if isinstance(n, ast.Call)]
        own_spans = [(n.lineno, n.end_lineno) for n in calls if name(n) == "own"]
        for n in calls:
            assert name(n) != "mkdtemp", f"tempdir outside the registry in {path.name}:{n.lineno}"
            if isinstance(n.func, ast.Attribute) and n.func.attr in (
                "persist", "checkpoint", "localCheckpoint"
            ):
                covered = any(a <= n.lineno and n.end_lineno <= b for a, b in own_spans)
                assert covered, f"unregistered {n.func.attr} in {path.name}:{n.lineno}"
                n_owned += 1
    assert n_owned >= 27  # the walk really saw the persist/checkpoint sites (29 today)


def test_persist_scope_releases_only_own_caches(spark):
    # resources.scope (the r09 persist_scope, ADVICE find): interleaved
    # callers sharing a session release only caches registered INSIDE
    # their scope — a concurrent query's still-needed cache survives,
    # unlike the global release() sweep
    from alibaba_cppfeaturestore_spark import resources

    resources.release()
    df = spark.createDataFrame(_rows(50, 3), "id long, v long, s string")
    outer = two_phase_rank(df, [F.col("v"), F.col("id")], rank_col="rk")
    assert outer.count() == 50
    assert len(resources._OWNED) == 1
    outer_cache = resources._OWNED[0]
    # the inner query must be a DIFFERENT plan: Spark's cache manager
    # keys on the analyzed plan, so unpersisting an identical plan would
    # drop the shared entry regardless of which DataFrame handle did it
    with resources.scope():
        inner = two_phase_rank(df, [F.col("id"), F.col("v")], rank_col="rk")
        assert inner.count() == 50
        assert len(resources._OWNED) == 2
    # scope exit released ONLY the inner cache; the outer one is intact
    assert [id(d) for d in resources._OWNED] == [id(outer_cache)]
    assert outer_cache.storageLevel.useMemory  # still persisted
    assert resources.release() == 1
    # scope exits cleanly with nothing registered inside it
    with resources.scope():
        pass
    assert resources.release() == 0
