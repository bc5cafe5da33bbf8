"""Round-3 operators: Z-order layout, exact statistics, BPE pre-tokens,
interval-overlap join — each checked against an independent local
reference (numpy/pandas/pure-Python), not just the DuckDB oracle."""

from __future__ import annotations

import glob
import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from alibaba_cppfeaturestore_spark.functions.text import BPE_PRETOKEN_PATTERN, bpe_pretokens
from alibaba_cppfeaturestore_spark.operators.joins import interval_overlap_join
from alibaba_cppfeaturestore_spark.operators.layout import (
    cluster_by_z,
    zorder_col,
    zorder_layout,
)
from alibaba_cppfeaturestore_spark.operators.statistics import grouped_ols, mad_outliers
from alibaba_cppfeaturestore_spark.plans.views import load_table


def _py_morton(x: int, y: int, bits: int = 16) -> int:
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def test_zorder_matches_python_reference(spark):
    rows = [(0, 0), (1, 0), (0, 1), (65535, 65535), (12345, 54321), (7, 300)]
    df = spark.createDataFrame(rows, "x int, y int")
    got = {
        (r.x, r.y): r.z
        for r in df.withColumn("z", zorder_col(F.col("x"), F.col("y"))).collect()
    }
    for x, y in rows:
        assert got[(x, y)] == _py_morton(x, y), (x, y)


def test_zorder_clustering_shrinks_file_boxes(spark, sf_dir, tmp_path):
    """The point of Z-order: after range-partitioning by zval, each file's
    (x, y) bounding box is small in BOTH dimensions, so min/max footer
    stats prune on either predicate. A single-dim sort gives narrow x
    but full-range y."""
    ev = load_table(spark, sf_dir, "events")
    x = F.col("user_id")
    y = F.datediff(F.col("ts").cast("date"), F.lit("2000-01-01").cast("date"))
    z = zorder_layout(ev.withColumn("_y", y), x, F.col("_y"), bits=16).select(
        "user_id", "_y", "zval"
    )
    n_files = 8

    zdir, ldir = str(tmp_path / "zorder"), str(tmp_path / "linear")
    cluster_by_z(z, num_files=n_files).write.parquet(zdir)
    # single-dim layout: range-sort by user_id only
    z.repartitionByRange(n_files, "user_id").sortWithinPartitions("user_id").write.parquet(ldir)

    def mean_spans(d):
        sx, sy, nf = 0.0, 0.0, 0
        for f in glob.glob(d + "/part-*.parquet"):
            pdf = pd.read_parquet(f)
            if len(pdf) == 0:
                continue
            sx += float(pdf["user_id"].max() - pdf["user_id"].min())
            sy += float(pdf["_y"].max() - pdf["_y"].min())
            nf += 1
        return sx / nf, sy / nf, nf

    zx, zy, zf = mean_spans(zdir)
    lx, ly, lf = mean_spans(ldir)
    assert zf >= n_files // 2 and lf >= n_files // 2
    # z-order: BOTH spans strictly below the full range; linear: y span ~full
    full_y = ly  # linear layout leaves y unclustered -> ~full range per file
    assert zy < 0.7 * full_y, f"zorder y-span {zy} not < 70% of linear {full_y}"
    assert zx < 150, f"zorder x-span {zx} should be bounded"


def test_grouped_ols_matches_numpy(spark):
    rng = np.random.default_rng(7)
    rows = []
    for g, slope, icpt in [("a", 2.5, 1.0), ("b", -0.75, 10.0)]:
        xs = rng.integers(0, 1000, size=200)
        ys = slope * xs + icpt + rng.normal(0, 0.5, size=200)
        rows += [(g, int(xv), float(round(yv, 4))) for xv, yv in zip(xs, ys)]
    df = spark.createDataFrame(rows, "g string, x long, y double")
    got = {r.g: r for r in grouped_ols(df, "x", "y", ["g"]).collect()}
    pdf = pd.DataFrame(rows, columns=["g", "x", "y"])
    for g, grp in pdf.groupby("g"):
        ref_slope, ref_icpt = np.polyfit(grp.x, grp.y, 1)
        assert got[g].n == len(grp)
        assert got[g].slope == pytest.approx(ref_slope, rel=1e-6)
        assert got[g].intercept == pytest.approx(ref_icpt, rel=1e-5)


def test_grouped_ols_degenerate_group_is_null(spark):
    df = spark.createDataFrame([("a", 5, 1.0), ("a", 5, 2.0)], "g string, x long, y double")
    row = grouped_ols(df, "x", "y", ["g"]).collect()[0]
    assert row.slope is None and row.intercept is None


def test_mad_outliers_matches_pandas(spark):
    rng = np.random.default_rng(11)
    vals = np.round(rng.normal(100, 10, size=501), 2).tolist() + [500.0, -300.0]
    rows = [("g", float(v)) for v in vals]
    df = spark.createDataFrame(rows, "g string, v double")
    row = mad_outliers(df, "v", ["g"], k="3.0").collect()[0]
    s = pd.Series(vals)
    med = s.median()
    mad = (s - med).abs().median()
    assert row.n == len(vals)
    assert row.median == pytest.approx(med, abs=1e-9)
    assert row.mad == pytest.approx(mad, abs=1e-9)
    assert row.n_outliers == int(((s - med).abs() > 3 * mad).sum())


def test_bpe_pretokens_match_python_re(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(50)
    got = docs.select("doc_id", "text", bpe_pretokens("text").alias("toks")).collect()
    for r in got:
        assert list(r.toks) == re.findall(BPE_PRETOKEN_PATTERN, r.text), r.doc_id


def test_interval_overlap_join_matches_naive(spark):
    # deliberately include point intervals, multi-bin spans, exact-touch ends
    left = [(1, 0.0, 10.0), (2, 5.0, 5.0), (3, 100.0, 250.0)]
    right = [(10, 9.0, 20.0), (11, 5.0, 5.0), (12, 240.0, 300.0), (13, 11.0, 12.0)]
    l = spark.createDataFrame(left, "lid long, lo double, hi double")
    r = spark.createDataFrame(right, "rid long, lo double, hi double")
    got = {
        (x["l.lid"], x["r.rid"])
        for x in interval_overlap_join(l, r, "lo", "hi", "lo", "hi", bin_width=7.0)
        .select(F.col("l.lid").alias("l.lid"), F.col("r.rid").alias("r.rid"))
        .collect()
    }
    naive = {
        (a, c)
        for a, alo, ahi in left
        for c, clo, chi in right
        if alo <= chi and clo <= ahi
    }
    assert got == naive


def test_interval_overlap_join_salt_is_exact_and_splits_the_hot_bin(spark):
    # r10 verdict item 6: a flash-crowd hour — every interval in ONE
    # hourly bin — degrades the grid to within-bin all-pairs owned by a
    # single reducer. salt>1 must (a) return the EXACT same pair set,
    # and (b) actually split the hot bin's left side across salt groups.
    hot = [(i, 3600.0 + float(i), 3600.0 + 30.0 + float(i)) for i in range(40)]
    cold = [(100, 99000.0, 99010.0), (101, 99005.0, 99020.0)]
    rows = hot + cold
    df = spark.createDataFrame(rows, "iid long, lo double, hi double")

    def pairs(salt):
        return {
            (x["a"], x["b"])
            for x in interval_overlap_join(
                df, df, "lo", "hi", "lo", "hi", bin_width=3600.0, salt=salt
            )
            .filter(F.col("l.iid") < F.col("r.iid"))
            .select(F.col("l.iid").alias("a"), F.col("r.iid").alias("b"))
            .collect()
        }

    unsalted = pairs(1)
    assert pairs(4) == unsalted
    naive = {
        (a, b)
        for a, alo, ahi in rows
        for b, blo, bhi in rows
        if a < b and alo <= bhi and blo <= ahi
    }
    assert unsalted == naive
    # the hot bin's 40 left rows spread over >1 salt groups (xxhash64 of
    # distinct rows — a 1-in-4^39 fluke otherwise)
    salted_plan = interval_overlap_join(
        df, df, "lo", "hi", "lo", "hi", bin_width=3600.0, salt=4
    )
    n_groups = (
        salted_plan.select(F.col("l.iid"))
        .distinct()
        .count()
    )
    assert n_groups == len(rows)  # every left row still participates
    from pyspark.sql import functions as SF

    salts = (
        df.select(
            F.pmod(F.xxhash64(*[SF.col(c) for c in df.columns]), F.lit(4)).alias("s")
        )
        .distinct()
        .count()
    )
    assert salts > 1


def test_interval_overlap_join_is_hash_join(spark):
    l = spark.range(10).select(
        F.col("id").alias("lid"),
        (F.col("id") * 10.0).alias("lo"),
        (F.col("id") * 10.0 + 5).alias("hi"),
    )
    plan = interval_overlap_join(
        l, l, "lo", "hi", "lo", "hi", bin_width=10.0
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_heavy_hitters_exact_and_partition_invariant(spark):
    from alibaba_cppfeaturestore_spark.operators.sketches import heavy_hitters

    # zipf-ish: token i appears ~N/i times
    rows = [(f"t{i}",) for i in range(1, 60) for _ in range(600 // i)]
    df = spark.createDataFrame(rows, "token string")
    exact = {
        (r.token, r.cnt)
        for r in df.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .join(F.broadcast(df.agg(F.count(F.lit(1)).alias("t"))))
        .filter(F.col("cnt") * 50 > F.col("t"))
        .select("token", "cnt")
        .collect()
    }
    for parts in (2, 13):
        got = {
            (r.token, r.cnt)
            for r in heavy_hitters(df.repartition(parts), "token", phi=(1, 50)).collect()
        }
        assert got == exact, f"partitioning {parts} changed the answer"


def test_heavy_hitters_rejects_unguaranteed_phi(spark):
    from alibaba_cppfeaturestore_spark.operators.sketches import heavy_hitters

    df = spark.createDataFrame([("a",)], "token string")
    with pytest.raises(ValueError):
        heavy_hitters(df, "token", phi=(1, 1000), capacity=10)


def test_salted_join_equals_plain_join(spark):
    from alibaba_cppfeaturestore_spark.operators.joins import salted_join

    left = spark.createDataFrame(
        [(i, "hot" if i % 10 != 0 else f"k{i}") for i in range(500)], "id long, k string"
    )
    right = left.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    got = {
        (r.id, r.k, r.n)
        for r in salted_join(left, right, on=["k"], salt=4).collect()
    }
    plain = {(r.id, r.k, r.n) for r in left.join(right, "k").select("id", "k", "n").collect()}
    assert got == plain


def test_salted_join_spreads_shuffle_key(spark):
    from alibaba_cppfeaturestore_spark.operators.joins import salted_join

    left = spark.createDataFrame([(i, "hot") for i in range(100)], "id long, k string")
    right = spark.createDataFrame([("hot", 1)], "k string, n int")
    plan = (
        salted_join(left, right.hint("merge"), on=["k"], salt=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "__salt" in plan and "SortMergeJoin" in plan


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """L5: the partitioned layout must turn a partition-column predicate
    into PartitionFilters at the scan (directory pruning), not a data
    filter over all files."""
    from alibaba_cppfeaturestore_spark.sources.writers import write_table

    ev = load_table(spark, sf_dir, "events").select("event_id", "value", "event_type")
    path = str(tmp_path / "by_type")
    write_table(ev, path, partition_by=["event_type"])
    scan = spark.read.parquet(path).filter(F.col("event_type") == "purchase")
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "event_type" in plan.split("PartitionFilters")[1][:120]
    # pruned read sees exactly the one partition's rows
    expect = ev.filter(F.col("event_type") == "purchase").count()
    assert scan.count() == expect


def test_exact_stats_fuzz_many_adversarial_groups(spark):
    """Seeded fuzz: 40 groups of adversarial shapes (constant values,
    2-row groups, near-domain-bound magnitudes, negatives, dyadic and
    decimal-boundary values) through grouped_ols and mad_outliers in ONE
    Spark job each, against pure-Python Decimal references — the same
    exactness contract the DuckDB oracle checks, but over nastier data
    than the testdata generator emits."""
    import random
    from decimal import Decimal

    rng = random.Random(99)
    groups = {}
    for gi in range(40):
        kind = gi % 5
        n = {0: 2, 1: 3, 2: 17, 3: 50, 4: 101}[kind]
        if kind == 0:
            vals = [rng.choice([0.125, -0.125])] * n  # constant dyadic
        elif kind == 1:
            vals = [round(rng.uniform(-1e7, 1e7), 2) for _ in range(n)]  # big magnitude
        elif kind == 2:
            vals = [x + 0.005 for x in range(n)]  # half-boundary decimals
        else:
            vals = [round(rng.gauss(0, 100), rng.choice([0, 2, 6])) for _ in range(n)]
        groups[f"g{gi}"] = vals

    rows = [(g, i, float(v)) for g, vs in groups.items() for i, v in enumerate(vs)]
    df = spark.createDataFrame(rows, "g string, x long, v double")

    # --- mad_outliers vs Decimal reference ---
    got = {r.g: r for r in mad_outliers(df, "v", ["g"], k="3.0").collect()}

    def ref_median(ds):
        ds = sorted(ds)
        n = len(ds)
        mid = ds[(n - 1) // 2 : n // 2 + 1]
        return sum(mid) / Decimal(len(mid))

    for g, vs in groups.items():
        dv = [Decimal(str(v)).quantize(Decimal("0.0000001")) for v in vs]
        med = ref_median(dv)
        devs = [abs(d - med) for d in dv]
        mad = ref_median(devs)
        assert Decimal(str(got[g].median)) == Decimal(str(float(med))), g
        assert got[g].n_outliers == sum(1 for d in devs if d > 3 * mad), g

    # --- grouped_ols vs Decimal closed form ---
    ols = {r.g: r for r in grouped_ols(df, "x", "v", ["g"]).collect()}
    for g, vs in groups.items():
        xs = list(range(len(vs)))
        ys = [Decimal(str(v)).quantize(Decimal("0.000001")) for v in vs]
        n = len(vs)
        sx, sy = sum(xs), sum(ys)
        sxx = sum(x * x for x in xs)
        sxy = sum(Decimal(x) * y for x, y in zip(xs, ys))
        den = float(n * sxx - sx * sx)
        if den == 0.0:
            assert ols[g].slope is None, g
        else:
            slope = float(n * sxy - Decimal(sx) * sy) / den
            assert ols[g].slope == slope, g


def test_incremental_ols_composition(spark):
    """The exact-partials designs compose: grouped OLS is five
    decomposable sums, so the O(delta) incremental agg-state machinery
    maintains a regression WITHOUT rescanning the base — merge the
    delta's partials, re-derive slope from the merged sums, get exactly
    the full-recompute answer (decimal partials make this bit-exact, not
    approximately right)."""
    from alibaba_cppfeaturestore_spark.operators.incremental import (
        build_agg_state,
        finalize_agg_state,
        merge_agg_state,
    )

    rng = np.random.default_rng(3)
    rows = [
        ("g", int(x), float(round(1.5 * x + rng.normal(0, 1), 3)))
        for x in rng.integers(0, 500, size=400)
    ]
    df = spark.createDataFrame(rows, "g string, x long, y double")
    base, delta = df.filter("x % 3 != 0"), df.filter("x % 3 = 0")

    def derived(d):
        yd = F.col("y").cast("decimal(18,6)")
        return d.select(
            "g",
            F.col("x").cast("bigint").alias("x"),
            yd.alias("yd"),
            (F.col("x") * F.col("x")).cast("bigint").alias("xx"),
            (F.col("x").cast("decimal(12,0)") * yd).cast("decimal(30,6)").alias("xy"),
        )

    measures = {
        "sx": ("x", "sum"), "sy": ("yd", "sum"),
        "sxx": ("xx", "sum"), "sxy": ("xy", "sum"),
    }
    state = build_agg_state(derived(base), ["g"], measures)
    merged = finalize_agg_state(
        merge_agg_state(state, derived(delta), ["g"], measures), ["g"], measures
    ).collect()[0]

    full = grouped_ols(df, "x", "y", ["g"]).collect()[0]
    n, sx, sy, sxx, sxy = merged.n, merged.sx, merged.sy, merged.sxx, merged.sxy
    num = float(n * sxy - sx * sy)
    den = float(n * sxx - sx * sx)
    assert full.n == n
    assert full.slope == num / den  # bit-exact, not approx


def test_bloom_semi_join_equals_plain_semi_join(spark):
    from alibaba_cppfeaturestore_spark.operators.joins import bloom_semi_join

    big = spark.createDataFrame(
        [(i, i % 97) for i in range(5000)], "id long, k long"
    )
    keys = spark.createDataFrame([(k,) for k in range(0, 97, 3)], "k long")
    got = {(r.id, r.k) for r in bloom_semi_join(big, keys, "k").collect()}
    plain = {(r.id, r.k) for r in big.join(keys, "k", "left_semi").collect()}
    assert got == plain and len(got) > 0


def test_bloom_prefilter_never_drops_matches_and_prunes(spark):
    from alibaba_cppfeaturestore_spark.operators.joins import bloom_prefilter

    big = spark.createDataFrame([(i,) for i in range(20000)], "k long")
    keys = spark.createDataFrame([(i,) for i in range(0, 20000, 100)], "k long")
    pre = {r.k for r in bloom_prefilter(big, keys, "k").collect()}
    true = set(range(0, 20000, 100))
    # no false negatives: every true key survives the filter
    assert true <= pre
    # the filter actually prunes: with m=2^17 bits / 200 keys the
    # false-positive rate is far below 1%, so survivors ≈ true matches
    assert len(pre) < 20000 * 0.05


def test_bloom_probe_stays_jvm_native(spark):
    from alibaba_cppfeaturestore_spark.operators.joins import bloom_semi_join

    big = spark.createDataFrame([(i,) for i in range(100)], "k long")
    keys = spark.createDataFrame([(1,), (2,)], "k long")
    plan = (
        bloom_semi_join(big, keys, "k")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_assign_stable_ids_equals_global_row_number(spark):
    from pyspark.sql import Window
    from alibaba_cppfeaturestore_spark.operators.layout import assign_stable_ids

    df = spark.createDataFrame([(i * 7 % 9973,) for i in range(9973)], "k long")
    got = assign_stable_ids(df, ["k"], num_partitions=16)
    ref = df.withColumn(
        "stable_id", F.row_number().over(Window.orderBy("k")).cast("long")
    )
    assert got.exceptAll(ref).count() == 0 and ref.exceptAll(got).count() == 0


def test_assign_stable_ids_avoids_single_partition_exchange(spark):
    from alibaba_cppfeaturestore_spark.operators.layout import assign_stable_ids

    df = spark.createDataFrame([(i,) for i in range(100)], "k long")
    plan = (
        assign_stable_ids(df, ["k"], num_partitions=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SinglePartition" not in plan


def test_countmin_estimate_never_underestimates(spark):
    from alibaba_cppfeaturestore_spark.operators.sketches import (
        countmin_estimate,
        countmin_sketch,
    )

    items = spark.createDataFrame(
        [(f"t{i % 50}",) for i in range(3000)], "tok string"
    )
    sk = countmin_sketch(items, "tok", depth=4, width=256)
    true = {r.tok: r.n for r in items.groupBy("tok").agg(F.count(F.lit(1)).alias("n")).collect()}
    qs = items.select("tok").distinct()
    est = {r.tok: r.cms_estimate for r in countmin_estimate(sk, qs, "tok", depth=4, width=256).collect()}
    assert all(est[t] >= n for t, n in true.items())
    # width 256 >> 50 distinct: most estimates should be exact
    exact = sum(1 for t, n in true.items() if est[t] == n)
    assert exact >= 40


def test_countmin_sketches_merge_cellwise(spark):
    from alibaba_cppfeaturestore_spark.operators.sketches import countmin_sketch

    a = spark.createDataFrame([(f"a{i % 20}",) for i in range(500)], "tok string")
    b = spark.createDataFrame([(f"a{i % 30}",) for i in range(700)], "tok string")
    merged = (
        countmin_sketch(a, "tok", depth=3, width=128)
        .unionByName(countmin_sketch(b, "tok", depth=3, width=128))
        .groupBy("d", "w")
        .agg(F.sum("cnt").alias("cnt"))
    )
    direct = countmin_sketch(a.unionByName(b), "tok", depth=3, width=128)
    got = {(r.d, r.w): r.cnt for r in merged.collect()}
    want = {(r.d, r.w): r.cnt for r in direct.collect()}
    assert got == want


def test_countmin_unseen_item_estimates_from_empty_cells(spark):
    from alibaba_cppfeaturestore_spark.operators.sketches import (
        countmin_estimate,
        countmin_sketch,
    )

    items = spark.createDataFrame([("x",), ("y",)], "tok string")
    sk = countmin_sketch(items, "tok", depth=4, width=4096)
    qs = spark.createDataFrame([("never-seen-token",)], "tok string")
    [row] = countmin_estimate(sk, qs, "tok", depth=4, width=4096).collect()
    assert row.cms_estimate == 0


def test_cuped_matches_numpy_and_reduces_variance(spark):
    import numpy as np
    from alibaba_cppfeaturestore_spark.operators.statistics import cuped_adjusted_means

    rng = np.random.RandomState(7)
    n = 400
    x = rng.uniform(10, 100, n)
    y = 2.0 * x + rng.normal(0, 5, n) + np.where(np.arange(n) % 2 == 0, 3.0, 0.0)
    rows = [
        (int(i), "A" if i % 2 == 0 else "B", float(x[i]), float(y[i]))
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "user_id long, grp string, xv double, yv double")
    got = {r.grp: r for r in cuped_adjusted_means(df, "user_id", "grp", "xv", "yv").collect()}

    # numpy reference (per-user == per-row here)
    theta = np.cov(x, y, ddof=0)[0, 1] / np.var(x)
    assert abs(got["A"].theta - theta) < 1e-3
    for g in "AB":
        mask = (np.arange(n) % 2 == 0) if g == "A" else (np.arange(n) % 2 == 1)
        want_adj = y[mask].mean() - theta * (x[mask].mean() - x.mean())
        assert abs(got[g].mean_y_adjusted - want_adj) < 1e-3
        assert abs(got[g].mean_y - y[mask].mean()) < 1e-6
    # the adjusted arm-difference should recover the true +3 effect better
    raw_diff = got["A"].mean_y - got["B"].mean_y
    adj_diff = got["A"].mean_y_adjusted - got["B"].mean_y_adjusted
    assert abs(adj_diff - 3.0) < abs(raw_diff - 3.0) + 1e-9


def test_binned_histogram_merges_cellwise(spark):
    from alibaba_cppfeaturestore_spark.operators.sketches import binned_histogram

    a = spark.createDataFrame([(float(i),) for i in range(0, 500)], "v double")
    b = spark.createDataFrame([(float(i),) for i in range(300, 900)], "v double")
    merged = (
        binned_histogram(a, "v", 100.0, 10)
        .unionByName(binned_histogram(b, "v", 100.0, 10))
        .groupBy("bin")
        .agg(F.sum("n").alias("n"))
    )
    direct = binned_histogram(a.unionByName(b), "v", 100.0, 10)
    assert {(r.bin, r.n) for r in merged.collect()} == {
        (r.bin, r.n) for r in direct.collect()
    }


def test_binned_histogram_excludes_nonfinite(spark):
    # finite-domain policy (r09): NaN/±Inf/NULL readings are excluded —
    # never resurrected as bin 0 — while every FINITE value, however
    # large, honors the docstring's clamp-to-edge-bin contract (the r08
    # guard borrowed the decimal(18,6) money domain and silently dropped
    # legit finite values above ~1e12; ADVICE r08 find)
    from alibaba_cppfeaturestore_spark.operators.sketches import binned_histogram

    vals = [10.0, 250.0, float("nan"), float("inf"), float("-inf"), 1e300, -1e300, None]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = {r.bin: r.n for r in binned_histogram(df, "v", 100.0, 10).collect()}
    assert got == {0: 2, 2: 1, 9: 1}  # ±1e300 clamp to the edge bins


def test_finite_vector_policy(spark):
    # a vector with ANY non-finite component is NULL; 3e38 (finite
    # float32 extreme) stays in-domain; empty vector vacuously finite
    from alibaba_cppfeaturestore_spark.functions.vectors import (
        finite_vector,
        is_finite_vector,
    )

    rows = [
        (1, [1.0, 2.0]),
        (2, [1.0, float("nan")]),
        (3, [float("inf"), 0.0]),
        (4, [float("-inf")]),
        (5, [3e38, -3e38]),
        (6, []),
        (7, None),
    ]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    got = {
        r.id: (r.fin, r.kept)
        for r in df.select(
            "id",
            is_finite_vector(F.col("v")).alias("fin"),
            finite_vector(F.col("v")).isNotNull().alias("kept"),
        ).collect()
    }
    assert got[1] == (True, True)
    assert got[2] == (False, False)
    assert got[3] == (False, False)
    assert got[4] == (False, False)
    assert got[5] == (True, True)
    assert got[6] == (True, True)
    assert got[7][0] is None and got[7][1] is False


def test_histogram_percentile_within_bin_width_of_exact(spark):
    import numpy as np
    from alibaba_cppfeaturestore_spark.operators.sketches import (
        binned_histogram,
        histogram_percentile_estimate,
    )

    vals = np.random.RandomState(3).uniform(0, 1000, 5000)
    df = spark.createDataFrame([(float(v),) for v in vals], "v double")
    hist = binned_histogram(df, "v", 50.0, 20)
    est = {r.pct: r.est_value for r in histogram_percentile_estimate(hist, [0.5, 0.9], 50.0).collect()}
    for p in (0.5, 0.9):
        assert abs(est[p] - np.quantile(vals, p)) <= 50.0
