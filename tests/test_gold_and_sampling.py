"""Tests for the Silver→Gold e2e flow and deterministic sampling."""

from __future__ import annotations

import math
from collections import Counter

import pytest
from pyspark.sql import functions as F

from alibaba_cppfeaturestore_spark.plans.catalog import QUERIES

SF = "/root/testdata/sf0.001"


def test_silver_to_gold_encodes_and_stamps(spark):
    out = QUERIES["aliccp_silver_to_gold_e2e"].spark(spark, SF)
    rows = out.limit(2000).collect()
    assert rows, "gold output empty"
    # encoded columns are dense 0-based indexes bounded by vocab size
    assert all(0 <= r["user_group"] <= 13 for r in rows)
    assert all(0 <= r["user_age"] < 7 for r in rows)
    # raw-id duplication survives encoding
    assert all(r["user_id"] == r["user_id_raw"] for r in rows)
    # injectable clock: constant, not wall-clock
    assert len({r["created"] for r in rows}) == 1


def test_sample_deterministic_fraction_and_rerun(spark):
    q = QUERIES["sample_deterministic"].spark
    total = 1500  # orders rows at sf0.001
    s1 = q(spark, SF)
    n1 = s1.count()
    assert 0.05 * total <= n1 <= 0.15 * total, f"~10% expected, got {n1}/{total}"
    # pure function of the data: identical row set on re-run
    s2 = q(spark, SF)
    assert s1.exceptAll(s2).count() == 0 and s2.exceptAll(s1).count() == 0


def test_mllib_stringindexer_compat_matches_native(spark):
    """Where frequencies are all distinct, the MLlib StringIndexer fit and
    the native pinned-tie-break fit must produce the identical dictionary,
    and encoding through either must agree row-for-row."""
    from alibaba_cppfeaturestore_spark.operators.dictionary import (
        encode_with_dictionaries,
        fit_dictionary,
        fit_dictionary_mllib,
    )

    df = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 2 + [("d",)] * 1,
        "v string",
    )
    native = {r["value"]: r["index"] for r in fit_dictionary(df, "v").collect()}
    mllib = {r["value"]: r["index"] for r in fit_dictionary_mllib(df, "v").collect()}
    assert native == mllib == {"a": 0, "b": 1, "c": 2, "d": 3}

    probe = spark.createDataFrame([("a",), ("d",), ("zzz-unseen",)], "v string")
    enc_native = encode_with_dictionaries(probe, {"v": fit_dictionary(df, "v")})
    enc_mllib = encode_with_dictionaries(probe, {"v": fit_dictionary_mllib(df, "v")})
    assert sorted(r["v"] for r in enc_native.collect()) == sorted(
        r["v"] for r in enc_mllib.collect()
    ) == [0, 3, 4]  # unseen -> |vocab|


def test_one_pass_fit_dictionaries_equals_per_column(spark):
    """fit_dictionaries computes every column's vocabulary in ONE
    grouping-sets scan; the resulting dictionaries must be identical to
    k independent fit_dictionary calls (same counts, same deterministic
    (count desc, value asc) ranking)."""
    from alibaba_cppfeaturestore_spark.operators.dictionary import (
        fit_dictionaries,
        fit_dictionary,
    )
    from alibaba_cppfeaturestore_spark.plans.views import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_type", "user_id", "props"
    )
    cols = ["event_type", "user_id", "props"]
    combined = fit_dictionaries(ev, cols)
    for c in cols:
        one = {r["value"]: r["index"] for r in fit_dictionary(ev, c).collect()}
        multi = {r["value"]: r["index"] for r in combined[c].collect()}
        assert multi == one, c


def _reference_dictionary(values: list) -> list[tuple]:
    """Pure-Python frequency dictionary with the pinned order: count desc,
    then value asc with NULL first — and NaN above every other double,
    as Spark orders it. NaN values are counted as one value."""
    nan = object()
    counts = Counter(nan if isinstance(v, float) and math.isnan(v) else v for v in values)

    def order(item):
        v, n = item
        plain = v is None or v is nan
        return (-n, v is not None, v is nan, 0 if plain else v)

    ranked = sorted(counts.items(), key=order)
    return [(math.nan if v is nan else v, i) for i, (v, _) in enumerate(ranked)]


def _comparable(pairs) -> list[tuple]:
    return [("NaN" if isinstance(v, float) and math.isnan(v) else v, i) for v, i in pairs]


def test_fit_dictionaries_matches_python_reference(spark):
    """Independent oracle for the one fit path: every dictionary equals a
    Counter-based reference over a string, an int and two double columns
    holding NULLs, NaN, -0.0 and count ties (in ``d``, 0.25 ties NaN at
    count 7, so NaN must sort above every number) — and the Arrow round
    trip keeps the input column's type (no widened ints, no dropped NaN).
    -0.0 and 0.0 are one value: one dictionary entry, one index."""
    from alibaba_cppfeaturestore_spark.operators.dictionary import (
        encode_with_dictionaries,
        fit_dictionaries,
    )

    nan = float("nan")
    s = ["b", "a", None, "c", "a", "b", None, "d", "c", "e"] * 3 + ["e", "zz", "zz", "zz", "a", "b", "zz"]
    i = [7, None, 3, 3, 7, -1, None, 12, 0, -1] * 3 + [0, 5, 5, None, 3, 12, 5]
    d = [1.5, nan, None, -2.0, nan, 1.5, 0.25, None, -2.0, 9.0] * 3 + [nan, 0.25, 4.0, 4.0, 0.25, 0.25, 0.25]
    z = [-0.0, 0.0, 2.5, None, 0.0, -1.0, 2.5, -0.0, 3.0, 0.0] * 3 + [-0.0, 2.5, 3.0, None, 0.0, 0.0, -1.0]
    df = spark.createDataFrame(list(zip(s, i, d, z)), "s string, i int, d double, z double")
    dicts = fit_dictionaries(df, ["s", "i", "d", "z"])
    for c, values in (("s", s), ("i", i), ("d", d), ("z", z)):
        got = dicts[c]
        assert got.schema["value"].dataType == df.schema[c].dataType, c
        rows = sorted(((r["value"], r["index"]) for r in got.collect()), key=lambda p: p[1])
        assert _comparable(rows) == _comparable(_reference_dictionary(values)), c

    zero = [r["index"] for r in dicts["z"].collect() if r["value"] == 0.0]
    assert len(zero) == 1, zero
    enc = encode_with_dictionaries(df.select(F.col("z").alias("raw"), "z"), {"z": dicts["z"]})
    signs = {(math.copysign(1.0, r["raw"]), r["z"]) for r in enc.collect() if r["raw"] == 0.0}
    assert signs == {(-1.0, zero[0]), (1.0, zero[0])}, signs


def test_unseen_index_counts_each_dictionary(spark):
    """The unseen index is |vocab| of the frame actually passed: a fitted
    dictionary's row count, and for a frame derived from it (a filter) or
    built lazily, that frame's own count — never the fit's size carried
    over."""
    from alibaba_cppfeaturestore_spark.operators.dictionary import (
        encode_with_dictionaries,
        fit_dictionaries,
    )

    df = spark.createDataFrame([("a",), ("a",), ("b",), ("c",)], "s string")
    fitted = fit_dictionaries(df, ["s"])["s"]
    filtered = fitted.where("index < 1")
    lazy = spark.createDataFrame([("a", 0), ("b", 1)], "value string, index int")
    probe = spark.createDataFrame([("a",), ("c",), ("unseen",)], "s string")

    def encoded(d):
        return sorted(r["s"] for r in encode_with_dictionaries(probe, {"s": d}).collect())

    assert encoded(fitted) == [0, 2, 3]
    assert encoded(filtered) == [0, 1, 1]
    assert encoded(lazy) == [0, 2, 2]


def test_fit_rejects_nested_columns(spark):
    """Array, map and struct columns have no driver-side dictionary
    order: the fit names the column instead of failing inside Arrow."""
    from alibaba_cppfeaturestore_spark.operators.dictionary import fit_dictionaries

    df = spark.createDataFrame(
        [(1, [1, 2], {"k": 1}, (1, "x"))],
        "id int, arr array<int>, m map<string,int>, st struct<a:int,b:string>",
    )
    for c in ("arr", "m", "st"):
        with pytest.raises(TypeError, match=f"'{c}'"):
            fit_dictionaries(df, ["id", c])


def test_categorify_job_count_is_constant(spark):
    """The fit runs the same number of Spark jobs for 2 and for 8 columns,
    and encoding through fitted dictionaries plans no aggregate and no
    window: |vocab| is a literal, not a one-row count per column."""
    import uuid

    from alibaba_cppfeaturestore_spark.operators.dictionary import (
        encode_with_dictionaries,
        fit_dictionaries,
    )

    cols = [f"c{j}" for j in range(8)]
    df = spark.range(400).select("id", *[(F.col("id") % (j + 3)).alias(c) for j, c in enumerate(cols)])
    sc = spark.sparkContext

    def jobs(columns):
        group = f"fit-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "categorify job count")
        try:
            fit_dictionaries(df, columns)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs(cols[:2]) == jobs(cols) > 0
    dicts = fit_dictionaries(df, cols[:3])
    plan = encode_with_dictionaries(df, dicts)._jdf.queryExecution().executedPlan().toString()
    assert "Aggregate" not in plan and "Window" not in plan, plan


def test_fit_leaves_nothing_cached_and_serves_a_stream(spark, tmp_path):
    """online_serving's sequence: fit, release every cache, then encode a
    new batch inside a foreachBatch stream. The fit itself leaves no
    cached blocks and no registered persists, and the stream's encoding
    equals the one taken before the release."""
    from alibaba_cppfeaturestore_spark import resources
    from alibaba_cppfeaturestore_spark.operators.dictionary import (
        encode_with_dictionaries,
        fit_dictionaries,
    )
    from alibaba_cppfeaturestore_spark.plans.views import load_table
    from alibaba_cppfeaturestore_spark.streaming.pipeline import stream_from_parquet

    cols = ["event_type", "user_id"]
    base = load_table(spark, SF, "events").select("event_id", *cols)
    resources.release(blocking=True)
    spark.catalog.clearCache()
    registered = list(resources._OWNED)
    dicts = fit_dictionaries(base, cols)
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    assert len(infos) == 0, [str(x) for x in infos]
    assert [id(x) for x in resources._OWNED] == [id(x) for x in registered]

    src = str(tmp_path / "src")
    batch = base.orderBy("event_id").limit(40).union(
        spark.createDataFrame([(-1, "unseen-type", -7)], base.schema)
    )
    batch.write.parquet(src)
    batch = spark.read.parquet(src)

    def encoded(df):
        return sorted(tuple(r) for r in encode_with_dictionaries(df, dicts).collect())

    before = encoded(batch)
    # the encode reads the fitted rows, not a rank lineage
    plan = encode_with_dictionaries(batch, dicts)._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "Window" not in plan, plan
    resources.release(blocking=True)
    spark.catalog.clearCache()
    captured = []
    q = (
        stream_from_parquet(spark, src, schema=batch.schema)
        .writeStream.foreachBatch(lambda df, epoch: captured.extend(encoded(df)))
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sorted(captured) == before
    assert len(before) == 41


def test_weighted_bernoulli_rate_tracks_weight(spark):
    """Inclusion probability must be ∝ weight: empirical rate per weight
    class within 3σ of w/(8·w_max) on a 60k-row population."""
    from alibaba_cppfeaturestore_spark.plans.catalog import QUERIES
    import math

    sf = "/root/testdata/sf0.01"
    from alibaba_cppfeaturestore_spark.plans.views import load_table

    li = load_table(spark, sf, "lineitem")
    pop = {
        int(r.w): r.n
        for r in li.groupBy(F.col("l_quantity").cast("long").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    wmax = max(pop)
    got = QUERIES["sample_weighted_bernoulli"].spark(spark, sf)
    hits = {int(r.weight): r.n for r in got.groupBy("weight").agg(F.count(F.lit(1)).alias("n")).collect()}
    for w, n in pop.items():
        p = w / (8 * wmax)
        mean, sd = n * p, math.sqrt(n * p * (1 - p))
        assert abs(hits.get(w, 0) - mean) <= 3 * sd + 1, (w, hits.get(w, 0), mean)


def test_weighted_bernoulli_is_deterministic(spark):
    from alibaba_cppfeaturestore_spark.plans.catalog import QUERIES

    sf = "/root/testdata/sf0.001"
    a = QUERIES["sample_weighted_bernoulli"].spark(spark, sf).collect()
    b = QUERIES["sample_weighted_bernoulli"].spark(spark, sf).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b)) and len(a) > 0


def test_negative_sampling_properties(spark):
    from alibaba_cppfeaturestore_spark.plans.catalog import QUERIES

    sf = "/root/testdata/sf0.01"
    df = QUERIES["negative_sampling_pairs"].spark(spark, sf).toPandas()
    pos = df[df.label == 1]
    neg = df[df.label == 0]
    assert len(pos) > 0 and len(neg) > 0
    # at most 3 negatives per order, and never colliding with that
    # order's positives
    per_order = neg.groupby("o_orderkey").size()
    assert per_order.max() <= 3
    pos_pairs = set(zip(pos.o_orderkey, pos.partkey))
    assert not any((o, p) in pos_pairs for o, p in zip(neg.o_orderkey, neg.partkey))
    # deterministic
    df2 = QUERIES["negative_sampling_pairs"].spark(spark, sf).toPandas()
    a = sorted(map(tuple, df.itertuples(index=False)))
    b = sorted(map(tuple, df2.itertuples(index=False)))
    assert a == b
