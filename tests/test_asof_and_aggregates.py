"""Property/golden tests for as-of join, latest-per-key, dictionary encode.

These pin the nonstandard semantics (SURVEY.md §7.3 hard parts): TTL
boundaries, timestamp ties, unseen dictionary values, null keys.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from alibaba_cppfeaturestore_spark.operators.aggregates import (
    latest_per_key,
    latest_per_key_window,
)
from alibaba_cppfeaturestore_spark.operators.dictionary import (
    decode_with_dictionary,
    encode_with_dictionaries,
    fit_dictionary,
)
from alibaba_cppfeaturestore_spark.operators.joins import asof_join


def ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


def _feature_df(spark):
    return spark.createDataFrame(
        [
            (1, ts("2024-01-01T00:00:00"), 10.0),
            (1, ts("2024-01-05T00:00:00"), 20.0),
            (1, ts("2024-01-10T00:00:00"), 30.0),
            (2, ts("2024-01-03T00:00:00"), 99.0),
        ],
        ["user_id", "feat_ts", "score"],
    )


def test_asof_basic_picks_latest_at_or_before(spark):
    feats = _feature_df(spark)
    entities = spark.createDataFrame(
        [
            (1, ts("2024-01-07T00:00:00")),   # between rows -> 20.0
            (1, ts("2024-01-05T00:00:00")),   # exactly equal -> 20.0
            (1, ts("2023-12-31T00:00:00")),   # before first -> null
            (1, ts("2024-02-01T00:00:00")),   # after last -> 30.0
            (2, ts("2024-01-04T00:00:00")),   # other key -> 99.0
            (3, ts("2024-01-04T00:00:00")),   # unknown key -> null
        ],
        ["user_id", "event_ts"],
    )
    out = asof_join(
        entities, feats, keys=["user_id"], event_ts="event_ts", feature_ts="feat_ts"
    )
    got = {(r["user_id"], r["event_ts"].isoformat()): r["score"] for r in out.collect()}
    assert out.count() == entities.count()  # exactly one row per entity row
    assert got[(1, "2024-01-07T00:00:00")] == 20.0
    assert got[(1, "2024-01-05T00:00:00")] == 20.0
    assert got[(1, "2023-12-31T00:00:00")] is None
    assert got[(1, "2024-02-01T00:00:00")] == 30.0
    assert got[(2, "2024-01-04T00:00:00")] == 99.0
    assert got[(3, "2024-01-04T00:00:00")] is None


def test_asof_tie_at_winning_timestamp_picks_max_feature_struct(spark):
    """Two feature rows TIED at the as-of winning timestamp: the pick is
    the later-sorted feature struct (max value), per the documented
    tie-break — the case the stacked skew+ts fuzz first sampled on real
    data (DuckDB's native ASOF JOIN is engine-arbitrary here, which is
    why the catalog oracles replay this order as an explicit window)."""
    feats = spark.createDataFrame(
        [
            (1, ts("2024-01-05T00:00:00"), 10.0),
            (1, ts("2024-01-05T00:00:00"), 30.0),  # tie -> max value wins
            (1, ts("2024-01-05T00:00:00"), 20.0),
            (1, ts("2024-01-01T00:00:00"), 99.0),
        ],
        ["user_id", "feat_ts", "score"],
    )
    entities = spark.createDataFrame(
        [(1, ts("2024-01-06T00:00:00"))], ["user_id", "event_ts"]
    )
    out = asof_join(
        entities, feats, keys=["user_id"], event_ts="event_ts", feature_ts="feat_ts"
    )
    assert [r["score"] for r in out.collect()] == [30.0]


def test_asof_ttl_boundary(spark):
    feats = _feature_df(spark)
    entities = spark.createDataFrame(
        [
            (1, ts("2024-01-08T00:00:00")),  # latest within 3d: 20.0@01-05 exactly on boundary
            (1, ts("2024-01-09T00:00:01")),  # 20.0@01-05 now older than 3d -> null (next is 01-10, future)
        ],
        ["user_id", "event_ts"],
    )
    out = asof_join(
        entities, feats, keys=["user_id"], event_ts="event_ts",
        feature_ts="feat_ts", ttl="3 days",
    )
    got = {r["event_ts"].isoformat(): r["score"] for r in out.collect()}
    assert got["2024-01-08T00:00:00"] == 20.0  # ttl boundary is inclusive
    assert got["2024-01-09T00:00:01"] is None


def test_asof_never_returns_future_or_expired(spark):
    """Property: result feature ts ∈ [event_ts - ttl, event_ts]."""
    ev = spark.createDataFrame(
        [(u, ts(f"2024-01-{d:02d}T12:00:00")) for u in (1, 2) for d in range(1, 15)],
        ["user_id", "event_ts"],
    )
    feats = _feature_df(spark).withColumn("fts_copy", F.col("feat_ts"))
    out = asof_join(
        ev, feats, keys=["user_id"], event_ts="event_ts",
        feature_ts="feat_ts", ttl="4 days", features=["score", "fts_copy"],
    )
    bad = out.filter(
        F.col("fts_copy").isNotNull()
        & (
            (F.col("fts_copy") > F.col("event_ts"))
            | (F.col("fts_copy") < F.col("event_ts") - F.expr("INTERVAL 4 days"))
        )
    )
    assert bad.count() == 0


def test_latest_per_key_tie_break_and_equivalence(spark):
    df = spark.createDataFrame(
        [
            (1, ts("2024-01-01T00:00:00"), 1, "a"),
            (1, ts("2024-01-02T00:00:00"), 2, "b"),
            (1, ts("2024-01-02T00:00:00"), 3, "c"),  # ts tie -> higher seq wins
            (2, ts("2024-01-01T00:00:00"), 4, "d"),
        ],
        ["k", "t", "seq", "v"],
    )
    a = latest_per_key(df, ["k"], "t", tiebreak=["seq"])
    b = latest_per_key_window(df, ["k"], "t", tiebreak=["seq"])
    got_a = {r["k"]: r["v"] for r in a.collect()}
    got_b = {r["k"]: r["v"] for r in b.collect()}
    assert got_a == {1: "c", 2: "d"}
    assert got_a == got_b  # agg and window formulations agree


def test_dictionary_roundtrip_and_unseen(spark):
    df = spark.createDataFrame(
        [("x",), ("x",), ("y",), ("z",), ("z",), ("z",)], ["c"]
    )
    d = fit_dictionary(df, "c")
    # freq order: z(3)->0, x(2)->1, y(1)->2
    assert {(r["value"], r["index"]) for r in d.collect()} == {
        ("z", 0), ("x", 1), ("y", 2)
    }
    new = spark.createDataFrame([("x",), ("unseen",)], ["c"])
    enc = encode_with_dictionaries(new, {"c": d})
    assert {r["c"] for r in enc.collect()} == {1, 3}  # unseen -> |vocab|
    dec = decode_with_dictionary(enc.filter(F.col("c") != 3), "c", d)
    assert {r["c"] for r in dec.collect()} == {"x"}


def test_dictionary_encode_is_bijection_on_seen(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    d = fit_dictionary(docs, "lang")
    enc = encode_with_dictionaries(docs.select("doc_id", "lang"), {"lang": d})
    dec = decode_with_dictionary(enc, "lang", d)
    orig = {(r["doc_id"], r["lang"]) for r in docs.select("doc_id", "lang").collect()}
    back = {(r["doc_id"], r["lang"]) for r in dec.collect()}
    assert orig == back


def test_range_join_matches_naive_theta_join(spark):
    """Bin-bucketed range join ≡ the naive range-predicate join, across
    bin boundaries, multi-bin intervals, inclusive endpoints, and
    inverted (hi<lo) intervals; and it must plan as a hash join, not
    BroadcastNestedLoopJoin."""
    import random

    from alibaba_cppfeaturestore_spark.operators.joins import range_join

    rng = random.Random(7)
    points = [(i, rng.uniform(0, 1000.0)) for i in range(300)]
    ivals = []
    for j in range(120):
        lo = rng.uniform(-50, 1000.0)
        # mix: sub-bin, multi-bin, degenerate (lo==hi), inverted
        length = rng.choice([0.0, rng.uniform(0, 30), rng.uniform(100, 400), -10.0])
        ivals.append((j, lo, lo + length))
    # exact boundary cases
    points += [(1000, 100.0), (1001, 200.0)]
    ivals += [(900, 100.0, 200.0)]

    p_df = spark.createDataFrame(points, ["pid", "x"])
    i_df = spark.createDataFrame(ivals, ["iid", "lo", "hi"])

    got_df = range_join(p_df, i_df, point_col="x", lo_col="lo", hi_col="hi", bin_width=64.0)
    got = {(r["pid"], r["iid"]) for r in got_df.select("p.pid", "i.iid").collect()}
    expected = {
        (pid, iid)
        for pid, x in points
        for iid, lo, hi in ivals
        if lo <= x <= hi
    }
    assert got == expected
    assert (1000, 900) in got and (1001, 900) in got  # inclusive bounds

    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_range_join_timestamps_with_keys(spark):
    from alibaba_cppfeaturestore_spark.operators.joins import range_join

    views = spark.createDataFrame(
        [
            (1, 10, ts("2024-01-01 10:30:00")),
            (2, 10, ts("2024-01-01 08:00:00")),   # before window
            (3, 11, ts("2024-01-01 10:30:00")),   # other user
            (4, 10, ts("2024-01-01 09:00:00")),   # exactly lo
        ],
        ["event_id", "user_id", "t"],
    )
    wins = spark.createDataFrame(
        [(100, 10, ts("2024-01-01 09:00:00"), ts("2024-01-01 11:00:00"))],
        ["win_id", "user_id", "lo", "hi"],
    )
    out = range_join(
        views, wins, point_col="t", lo_col="lo", hi_col="hi",
        on=["user_id"], bin_width=3600,
    )
    got = sorted(r["event_id"] for r in out.select("p.event_id").collect())
    assert got == [1, 4]


def test_approx_sketches_track_exact(spark):
    """HLL++ distinct and approx percentile stay within declared error of
    exact, at catalog parameters (rsd=0.02, accuracy=10k)."""
    from alibaba_cppfeaturestore_spark.plans.views import load_table

    ev = load_table(spark, "/root/testdata/sf0.01", "events")
    exact = {
        r["event_type"]: (r["users"], r["p50"])
        for r in ev.groupBy("event_type").agg(
            F.countDistinct("user_id").alias("users"),
            F.expr("percentile(value, 0.5)").alias("p50"),
        ).collect()
    }
    approx = {
        r["event_type"]: (r["approx_users"], r["approx_p50_value"])
        for r in ev.groupBy("event_type").agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
            F.percentile_approx("value", 0.5, 10_000).alias("approx_p50_value"),
        ).collect()
    }
    for et, (users, p50) in exact.items():
        a_users, a_p50 = approx[et]
        assert abs(a_users - users) / users <= 0.05, (et, users, a_users)
        assert abs(a_p50 - p50) / max(abs(p50), 1e-9) <= 0.05, (et, p50, a_p50)


def test_salted_topk_identical_to_plain_on_skewed_data(spark):
    """One hot key with 20k rows + long tail: salted two-phase top-k must
    return row-for-row what the plain window returns (total order via
    tiebreak), across salt bucket counts."""
    from alibaba_cppfeaturestore_spark.operators.aggregates import (
        top_k_per_group,
        top_k_per_group_salted,
    )

    rows = [("hot", i, float(i % 997)) for i in range(20_000)]
    rows += [(f"k{j}", i, float(i * j % 31)) for j in range(5) for i in range(20)]
    df = spark.createDataFrame(rows, ["key", "rid", "score"])

    plain = top_k_per_group(df, ["key"], "score", k=5, tiebreak=["rid"])
    expected = sorted(map(tuple, plain.collect()))
    for buckets in (2, 16, 64):
        salted = top_k_per_group_salted(
            df, ["key"], "score", k=5, tiebreak=["rid"], salt_buckets=buckets
        )
        assert sorted(map(tuple, salted.collect())) == expected, buckets


def test_scd2_history_versions_and_null_transitions(spark):
    from alibaba_cppfeaturestore_spark.operators.aggregates import scd2_history

    rows = [
        (1, ts("2024-01-01 00:00:00"), "bronze", 10),
        (1, ts("2024-01-02 00:00:00"), "bronze", 11),  # no-op for tier
        (1, ts("2024-01-03 00:00:00"), "silver", 12),
        (1, ts("2024-01-04 00:00:00"), None, 13),      # value -> NULL is a change
        (1, ts("2024-01-05 00:00:00"), None, 14),      # NULL -> NULL is not
        (1, ts("2024-01-06 00:00:00"), "gold", 15),
        (2, ts("2024-01-01 00:00:00"), "silver", 20),
    ]
    df = spark.createDataFrame(rows, ["uid", "t", "tier", "seq"])
    out = scd2_history(df, keys=["uid"], ts_col="t", attrs=["tier"], tiebreak=["seq"])
    got = [
        (r["uid"], r["tier"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in out.orderBy("uid", "valid_from").collect()
    ]
    assert got == [
        (1, "bronze", ts("2024-01-01 00:00:00"), ts("2024-01-03 00:00:00"), False),
        (1, "silver", ts("2024-01-03 00:00:00"), ts("2024-01-04 00:00:00"), False),
        (1, None,     ts("2024-01-04 00:00:00"), ts("2024-01-06 00:00:00"), False),
        (1, "gold",   ts("2024-01-06 00:00:00"), None, True),
        (2, "silver", ts("2024-01-01 00:00:00"), None, True),
    ]


def test_scalers_and_bins_deterministic_and_sane(spark):
    from alibaba_cppfeaturestore_spark.operators.scaling import (
        apply_minmax_scaler,
        apply_quantile_bins,
        apply_standard_scaler,
        fit_minmax_scaler,
        fit_quantile_bins,
        fit_standard_scaler,
    )

    df = spark.createDataFrame(
        [(i, float(i), 5.0, None if i == 3 else float(i * i)) for i in range(1, 11)],
        ["id", "x", "const", "y"],
    )
    zs = apply_standard_scaler(df, fit_standard_scaler(df, ["x", "const"]))
    rows = {r["id"]: (r["x"], r["const"]) for r in zs.collect()}
    xs = [rows[i][0] for i in range(1, 11)]
    assert abs(sum(xs)) < 1e-9  # zero mean
    assert all(rows[i][1] == 0.0 for i in rows)  # zero-variance -> 0, not NaN

    mm = apply_minmax_scaler(df, fit_minmax_scaler(df, ["x"]))
    mx = {r["id"]: r["x"] for r in mm.collect()}
    assert mx[1] == 0.0 and mx[10] == 1.0 and 0 < mx[5] < 1

    edges = fit_quantile_bins(df, "x", n_bins=5)
    assert edges == sorted(edges) and len(edges) == 4
    binned = {r["id"]: r["x_bin"] for r in apply_quantile_bins(df, "x", edges).collect()}
    assert sorted(set(binned.values())) == [0, 1, 2, 3, 4]  # all bins used
    assert binned[1] == 0 and binned[10] == 4
    # nulls stay null
    ybin = {r["id"]: r["y_bin"] for r in apply_quantile_bins(
        df, "y", fit_quantile_bins(df, "y", 3)).collect()}
    assert ybin[3] is None


def test_fit_operators_degrade_on_empty_input(spark):
    """Empty-feed discipline (driver_sim --perturb-empty): fit steps on an
    empty or all-NULL input must fit 'nothing' — no cut points, no fill
    values — and their apply steps must pass data through rather than
    crash. A daily feed partition being empty is routine in production."""
    from alibaba_cppfeaturestore_spark.operators.scaling import (
        apply_imputer,
        apply_quantile_bins,
        fit_imputer,
        fit_quantile_bins,
    )

    empty = spark.createDataFrame([], "id bigint, x double")
    assert fit_quantile_bins(empty, "x", n_bins=4) == []
    assert fit_imputer(empty, ["x"], strategy="median") == {}

    # all-NULL column on a NON-empty frame fits nothing either; apply
    # leaves the NULLs in place (no observed value to impute with)
    allnull = spark.createDataFrame([(1, None), (2, None)], "id bigint, x double")
    fills = fit_imputer(allnull, ["x"], strategy="mean")
    assert fills == {}
    out = {r["id"]: r["x"] for r in apply_imputer(allnull, fills).collect()}
    assert out == {1: None, 2: None}

    # zero learned boundaries => every non-null value lands in bin 0
    some = spark.createDataFrame([(1, 7.0), (2, None)], "id bigint, x double")
    binned = {r["id"]: r["x_bin"] for r in apply_quantile_bins(some, "x", []).collect()}
    assert binned == {1: 0, 2: None}


def test_snapshot_diff_ops_and_null_safety(spark):
    import pytest as _pytest

    from alibaba_cppfeaturestore_spark.operators.diff import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", None), (3, "c", 3.0), (4, None, 4.0)],
        ["k", "s", "v"],
    )
    new = spark.createDataFrame(
        [(1, "a", 1.0),      # unchanged -> no row
         (2, "b", 2.0),      # NULL -> value = update
         (4, None, 4.0),     # NULL == NULL -> unchanged
         (5, "e", 5.0)],     # insert
        ["k", "s", "v"],
    )                         # 3 deleted
    out = {r["k"]: r for r in snapshot_diff(old, new, keys=["k"]).collect()}
    assert {k: r["op"] for k, r in out.items()} == {2: "update", 3: "delete", 5: "insert"}
    assert out[2]["old_v"] is None and out[2]["new_v"] == 2.0
    assert out[3]["new_s"] is None and out[3]["old_s"] == "c"
    assert out[5]["old_s"] is None and out[5]["new_s"] == "e"

    with _pytest.raises(ValueError, match="schema mismatch"):
        snapshot_diff(old, new.drop("v"), keys=["k"])


def test_feature_store_registry_online_and_validation(spark):
    import pytest as _pytest

    from alibaba_cppfeaturestore_spark.plans.feature_views import (
        FeatureStore,
        FeatureView,
    )

    src = spark.createDataFrame(
        [
            (1, ts("2024-01-01 10:00:00"), 1.0),
            (1, ts("2024-01-01 12:00:00"), 2.0),
            (2, ts("2024-01-01 11:00:00"), 5.0),
        ],
        ["user_id", "ts", "spend"],
    )
    fs = FeatureStore()
    fs.register(FeatureView("spend", ["user_id"], "ts", ["spend"]), src)

    online = {r["user_id"]: r["spend"] for r in fs.materialize_online("spend").collect()}
    assert online == {1: 2.0, 2: 5.0}

    keys = spark.createDataFrame([(1,), (99,)], ["user_id"])
    looked = {r["user_id"]: r["spend"] for r in fs.get_online_features(keys, "spend").collect()}
    assert looked == {1: 2.0, 99: None}  # unknown key -> NULL (Feast semantics)

    # historical: event before any feature row -> NULL
    entities = spark.createDataFrame(
        [(100, 1, ts("2024-01-01 11:00:00")), (101, 1, ts("2024-01-01 09:00:00"))],
        ["eid", "user_id", "event_timestamp"],
    )
    hist = {r["eid"]: r["spend"] for r in fs.get_historical_features(entities, ["spend"]).collect()}
    assert hist == {100: 1.0, 101: None}

    with _pytest.raises(ValueError, match="lacks columns"):
        fs.register(FeatureView("bad", ["user_id"], "ts", ["nope"]), src)


def _sorted_rows(df):
    # repr, so a NaN key compares equal to itself
    return sorted(repr(tuple(r)) for r in df.collect())


def test_online_features_match_spark_lookup(spark, tmp_path):
    # The driver-held lookup returns exactly the Spark join's rows and
    # schema (names, types, order, nullability) for every request shape,
    # and serves new data after a re-register or an in-place rewrite.
    import pyarrow as pa
    import pyarrow.parquet as pq

    from alibaba_cppfeaturestore_spark.operators.joins import online_lookup
    from alibaba_cppfeaturestore_spark.plans.feature_views import (
        FeatureStore,
        FeatureView,
    )

    fs = FeatureStore()
    src = spark.createDataFrame(
        [
            (1, ts("2024-01-01 10:00:00"), 1.0, "a"),
            (1, ts("2024-01-01 12:00:00"), 2.0, "b"),
            (2, ts("2024-01-01 11:00:00"), None, "c"),
            (None, ts("2024-01-01 11:00:00"), 7.0, "n"),
        ],
        "user_id bigint, ts timestamp, spend double, tag string",
    )
    fs.register(FeatureView("spend", ["user_id"], "ts", ["spend", "tag"]), src)
    pair = spark.createDataFrame(
        [(1, "x", ts("2024-01-01 10:00:00"), 3), (1, "y", ts("2024-01-01 10:00:00"), 4)],
        "user_id int not null, item string, ts timestamp, clicks int",
    )
    fs.register(FeatureView("pair", ["user_id", "item"], "ts", ["clicks"]), pair)

    def check(request, name):
        v = fs.views[name]
        want = online_lookup(request, fs.materialize_online(name), v.entities)
        got = fs.get_online_features(request, name)
        assert got.schema == want.schema  # names, types, order, nullability
        assert _sorted_rows(got) == _sorted_rows(want)
        return got

    # unknown and NULL keys, duplicates, an extra column; int vs bigint
    req = spark.createDataFrame(
        [(1, "p"), (99, "q"), (None, "r"), (1, "s"), (2, None)],
        "user_id int, extra string",
    )
    got = {r["extra"]: (r["spend"], r["tag"]) for r in check(req, "spend").collect()}
    assert got == {"p": (2.0, "b"), "q": (None, None), "r": (None, None),
                   "s": (2.0, "b"), None: (None, "c")}
    check(spark.createDataFrame([(1,), (3,)], "user_id bigint"), "spend")
    check(spark.createDataFrame([], "user_id int"), "spend")
    check(spark.createDataFrame([(1, "x"), (1, "z"), (1, None)], "user_id int not null, item string"), "pair")
    # a floating key takes the Spark join, with the same contract
    check(spark.createDataFrame([(1.0,), (float("nan"),)], "user_id double"), "spend")

    # re-register serves the new source
    fs.register(
        FeatureView("spend", ["user_id"], "ts", ["spend", "tag"]),
        src.withColumn("spend", F.col("spend") * 10),
    )
    assert {r["user_id"]: r["spend"] for r in check(req.select("user_id"), "spend").collect()} == {
        1: 20.0, 99: None, None: None, 2: None}

    # a parquet source rewritten in place is re-materialized
    path = str(tmp_path / "spend.parquet")

    def write(spend: float, n: int) -> None:
        pq.write_table(pa.table({
            "user_id": pa.array(range(1, n + 1), pa.int64()),
            "ts": pa.array([1_700_000_000_000_000] * n, pa.timestamp("us", "UTC")),
            "spend": [spend] * n,
        }), path)

    write(1.0, 2)
    fs.register(FeatureView("disk", ["user_id"], "ts", ["spend"]), spark.read.parquet(path))
    keys = spark.createDataFrame([(1,), (3,)], "user_id bigint")
    assert {r["user_id"]: r["spend"] for r in check(keys, "disk").collect()} == {1: 1.0, 3: None}
    write(5.0, 3)
    assert {r["user_id"]: r["spend"] for r in check(keys, "disk").collect()} == {1: 5.0, 3: 5.0}


def test_online_table_held_once_per_view(spark, tmp_path):
    # Re-registering a view over freshly named files (as an online store
    # swap leaves them) replaces its held table rather than adding one,
    # and nothing lands in the session memo; a sibling session's request
    # reads the same rows.
    import pyarrow as pa
    import pyarrow.parquet as pq

    from alibaba_cppfeaturestore_spark import resources
    from alibaba_cppfeaturestore_spark.plans.feature_views import (
        FeatureStore,
        FeatureView,
    )

    fs = FeatureStore()
    view = FeatureView("spend", ["user_id"], "ts", ["spend"])
    keys = spark.createDataFrame([(1,), (2,)], "user_id bigint")
    memo_before = len(resources._MEMO)
    for i in range(5):
        path = str(tmp_path / f"store_{i}")
        pq.write_to_dataset(pa.table({
            "user_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array([1_700_000_000_000_000] * 2, pa.timestamp("us", "UTC")),
            "spend": [float(i), float(i)],
        }), path)
        fs.register(view, spark.read.parquet(path))
        got = {r["user_id"]: r["spend"] for r in fs.get_online_features(keys, "spend").collect()}
        assert got == {1: float(i), 2: float(i)}
        assert len(fs._online) == 1
    assert len(resources._MEMO) == memo_before
    sibling = spark.newSession()
    other = sibling.createDataFrame([(1,), (2,)], "user_id bigint")
    assert {r["user_id"]: r["spend"] for r in fs.get_online_features(other, "spend").collect()} == got
    assert len(fs._online) == 1


def test_online_lookup_runs_one_job(spark):
    # After the first lookup of a registration, a request runs one Spark
    # job (collecting the request itself) and its answer none.
    from alibaba_cppfeaturestore_spark.plans.feature_views import (
        FeatureStore,
        FeatureView,
    )

    sc = spark.sparkContext
    fs = FeatureStore()
    fs.register(
        FeatureView("spend", ["user_id"], "ts", ["spend"]),
        spark.range(100).select(
            F.col("id").alias("user_id"),
            F.timestamp_seconds(F.col("id")).alias("ts"),
            F.col("id").cast("double").alias("spend"),
        ),
    )
    fs.get_online_features(spark.createDataFrame([(1,)], "user_id int"), "spend").collect()
    group = "test_online_lookup_runs_one_job"
    sc.setJobGroup(group, group)
    try:
        request = spark.createDataFrame([(k,) for k in (3, 5, 500)], "user_id int")
        rows = fs.get_online_features(request, "spend").collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sorted((r["user_id"], r["spend"]) for r in rows) == [(3, 3.0), (5, 5.0), (500, None)]
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 1


def test_funnel_ordering_window_and_depth(spark):
    from alibaba_cppfeaturestore_spark.operators.funnel import funnel_conversion

    rows = [
        # u1: full conversion inside window
        (1, "view", ts("2024-01-01 00:00:00")),
        (1, "click", ts("2024-01-02 00:00:00")),
        (1, "purchase", ts("2024-01-03 00:00:00")),
        # u2: click BEFORE first view — ordering violated -> depth 1
        (2, "click", ts("2024-01-01 00:00:00")),
        (2, "view", ts("2024-01-02 00:00:00")),
        # u3: purchase outside the 7-day window -> depth 2
        (3, "view", ts("2024-01-01 00:00:00")),
        (3, "click", ts("2024-01-02 00:00:00")),
        (3, "purchase", ts("2024-01-20 00:00:00")),
        # u4: purchase without click — step order enforced -> depth 1
        (4, "view", ts("2024-01-01 00:00:00")),
        (4, "purchase", ts("2024-01-02 00:00:00")),
        # u5: never viewed -> not in output
        (5, "click", ts("2024-01-01 00:00:00")),
        # u6: earliest qualifying events picked (two clicks)
        (6, "view", ts("2024-01-01 00:00:00")),
        (6, "click", ts("2024-01-03 00:00:00")),
        (6, "click", ts("2024-01-02 00:00:00")),
    ]
    df = spark.createDataFrame(rows, ["uid", "etype", "t"])
    out = {
        r["uid"]: (r["depth"], r["t2"], r["t3"])
        for r in funnel_conversion(
            df, "uid", "etype", "t",
            steps=["view", "click", "purchase"], within="7 days",
        ).collect()
    }
    assert set(out) == {1, 2, 3, 4, 6}
    assert out[1][0] == 3
    assert out[2] == (1, None, None)
    assert out[3][0] == 2 and out[3][2] is None
    assert out[4] == (1, None, None)
    assert out[6][1] == ts("2024-01-02 00:00:00")  # earliest click after view


def test_target_encoding_shrinks_rare_categories(spark):
    from alibaba_cppfeaturestore_spark.operators.scaling import (
        apply_target_encoding,
        fit_target_encoding,
        one_hot,
    )

    rows = [("common", 10.0)] * 50 + [("rare", 100.0)]
    df = spark.createDataFrame([(i, c, v) for i, (c, v) in enumerate(rows)], ["id", "cat", "y"])
    enc = {r["value"]: r["encoding"] for r in
           fit_target_encoding(df, "cat", "y", smoothing=10.0).collect()}
    gm = (50 * 10.0 + 100.0) / 51
    assert abs(enc["common"] - (500 + 10 * gm) / 60) < 1e-9
    # the single-observation category lands far from its raw mean of 100
    assert abs(enc["rare"] - (100 + 10 * gm) / 11) < 1e-9
    assert enc["rare"] < 30

    applied = apply_target_encoding(df, "cat", fit_target_encoding(df, "cat", "y"))
    assert applied.filter(F.col("cat_te").isNull()).count() == 0

    oh = one_hot(df.limit(1), "cat", ["common", "rare", "absent"]).collect()[0]
    assert (oh["cat_common"], oh["cat_rare"], oh["cat_absent"]) == (1, 0, 0)


def test_quality_checks_nulls_and_mappings(spark):
    from alibaba_cppfeaturestore_spark.operators.quality import (
        key_violations,
        referential_violations,
    )

    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (None, "d"), (None, "e")], ["k", "v"]
    )
    viol = {r["k"]: r["n_rows"] for r in key_violations(df, ["k"]).collect()}
    assert viol == {1: 2, None: 2}  # null keys can violate uniqueness too

    child = spark.createDataFrame([(1, 10), (2, 99), (3, None)], ["id", "fk"])
    parent = spark.createDataFrame([(10,), (20,)], ["pk"])
    orphans = [r["id"] for r in referential_violations(
        child, parent, {"fk": "pk"}).collect()]
    assert orphans == [2]  # NULL fk is not a violation


def test_events_unique_canonicalization_contract(spark, tmp_path):
    # r09 widened-ids find (seed 73): entries KEYED by event_id (asof
    # output key, feature-store entity key, attribution purchase
    # identity) id-canonicalize through _events_unique — one row per
    # event_id, picked by a total, collation-proof order, identity on
    # already-unique data. Mirrors the _docs_unique/_emb_unique
    # contract for the third custom table.
    from alibaba_cppfeaturestore_spark.plans.catalog import _events_unique

    sf = str(tmp_path)
    spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 7, "view", 2.0, "{}"),
            (1, "2024-01-01 09:00:00", 7, "click", 9.0, "{}"),  # earlier ts wins
            (2, "2024-01-01 11:00:00", 8, "purchase", 1.0, "{}"),
            (None, "2024-01-01 12:00:00", 9, "view", 3.0, "{}"),
            (None, "2024-01-01 13:00:00", 9, "view", 4.0, "{}"),  # NULL ids: one survives
        ],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP_NTZ) AS ts", "user_id",
        "event_type", "value", "props"
    ).write.parquet(f"{sf}/events.parquet")
    rows = {r.event_id: r for r in _events_unique(spark, sf).collect()}
    assert len(rows) == 3  # 1, 2, and the single surviving NULL-id row
    assert rows[1].event_type == "click"  # smallest ts wins the tie order
    assert rows[None].value == 3.0  # smallest ts among the NULL-id group
