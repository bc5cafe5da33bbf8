"""Tests for the transaction-logged table (Delta-semantics substitute)
and incremental aggregate maintenance."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from alibaba_cppfeaturestore_spark.operators.incremental import (
    build_agg_state,
    finalize_agg_state,
    merge_agg_state,
)
from alibaba_cppfeaturestore_spark.plans.views import load_table
from alibaba_cppfeaturestore_spark.sources.txlog import TxTable


@pytest.fixture
def tx(tmp_path):
    return TxTable(str(tmp_path / "table"))


def _df(spark, rows):
    return spark.createDataFrame(rows, ["k", "v"])


def test_append_overwrite_time_travel(spark, tx):
    assert tx.commit(_df(spark, [("a", 1)]), "append") == 0
    assert tx.commit(_df(spark, [("b", 2)]), "append") == 1
    assert tx.commit(_df(spark, [("c", 3)]), "overwrite") == 2
    assert tx.commit(_df(spark, [("d", 4)]), "append") == 3

    def rows(version=None):
        return {
            (r["k"], r["v"]) for r in tx.read(spark, version=version).collect()
        }

    assert rows(0) == {("a", 1)}
    assert rows(1) == {("a", 1), ("b", 2)}
    assert rows(2) == {("c", 3)}  # overwrite resets the live set
    assert rows() == {("c", 3), ("d", 4)}
    assert [h["version"] for h in tx.history()] == [0, 1, 2, 3]


def test_empty_commit_reads_back_typed(spark, tx):
    """Schema rides in the commit log (Delta metaData): a commit whose
    frame is EMPTY writes zero parquet part files, yet the snapshot —
    and any time-travel version pinned to it — must read back as an
    empty, correctly-typed frame, not an inference error
    (driver_sim --perturb-empty find)."""
    empty = spark.createDataFrame([], "k string, v bigint")
    assert tx.commit(empty, "overwrite") == 0
    got = tx.read(spark)
    assert got.count() == 0
    assert [(f.name, f.dataType.simpleString()) for f in got.schema] == [
        ("k", "string"), ("v", "bigint"),
    ]
    # a later non-empty commit doesn't disturb the pinned empty snapshot
    assert tx.commit(_df(spark, [("a", 1)]), "append") == 1
    assert tx.read(spark).count() == 1
    assert tx.read(spark, version=0).count() == 0


def test_ignore_is_noop_and_error_raises(spark, tx):
    assert tx.commit(_df(spark, [("a", 1)]), "ignore") == 0  # first write lands
    assert tx.commit(_df(spark, [("X", 99)]), "ignore") is None  # then no-ops
    assert {(r["k"], r["v"]) for r in tx.read(spark).collect()} == {("a", 1)}
    with pytest.raises(FileExistsError):
        tx.commit(_df(spark, [("Y", 0)]), "error")


def test_commit_collision_loses_deterministically(spark, tx):
    """Optimistic concurrency: a writer that computed the same next
    version as a racer that already published must fail at the atomic
    log create, leaving the table at the racer's state."""
    tx.commit(_df(spark, [("a", 1)]), "append")
    # simulate the racer: claim version 1 directly in the log
    os.makedirs(tx.log_dir, exist_ok=True)
    with open(os.path.join(tx.log_dir, f"{1:020d}.json"), "x") as f:
        json.dump({"mode": "append", "add": []}, f)
    with pytest.raises(FileExistsError):
        # loser resolves latest=1 → next=2? No: patch _versions to the
        # stale view a concurrent writer would hold (it resolved before
        # the racer published), forcing the same version number.
        stale = tx.latest_version
        tx.latest_version = lambda: 0
        try:
            tx.commit(_df(spark, [("b", 2)]), "append")
        finally:
            tx.latest_version = stale
    assert {r["k"] for r in tx.read(spark).collect()} == {"a"}


def test_read_empty_raises(spark, tx):
    with pytest.raises(FileNotFoundError):
        tx.read(spark)


def test_manifest_read_ignores_unreferenced_files(spark, tx):
    """Reads resolve from the log, not directory listing: a data-file
    group written but never committed (crash between data write and log
    publish) is invisible."""
    tx.commit(_df(spark, [("a", 1)]), "append")
    orphan = os.path.join(tx.path, "part-orphan")
    _df(spark, [("zzz", 666)]).write.parquet(orphan)
    assert {r["k"] for r in tx.read(spark).collect()} == {"a"}


MEASURES = {"total": ("value", "sum"), "vcnt": ("value", "count")}


def test_incremental_merge_equals_direct(spark):
    ev = load_table(spark, "/root/testdata/sf0.001", "events").withColumn(
        "value", F.col("value").cast("decimal(18,6)")
    )
    hist = ev.filter(F.col("event_id") % 3 != 2)
    delta = ev.filter(F.col("event_id") % 3 == 2)
    merged = finalize_agg_state(
        merge_agg_state(
            build_agg_state(hist, ["event_type"], MEASURES),
            delta,
            ["event_type"],
            MEASURES,
        ),
        ["event_type"],
        MEASURES,
    )
    direct = finalize_agg_state(
        build_agg_state(ev, ["event_type"], MEASURES), ["event_type"], MEASURES
    )
    m = {r["event_type"]: (r["n"], r["total"], r["vcnt"]) for r in merged.collect()}
    d = {r["event_type"]: (r["n"], r["total"], r["vcnt"]) for r in direct.collect()}
    assert m == d  # decimal partials → EXACT equality, not approximate


def test_incremental_merge_handles_new_keys(spark):
    state = build_agg_state(
        spark.createDataFrame([("a", 1.0)], ["k", "value"]), ["k"], MEASURES
    )
    delta = spark.createDataFrame([("a", 2.0), ("b", 5.0)], ["k", "value"])
    out = {
        r["k"]: (r["n"], r["total"])
        for r in finalize_agg_state(
            merge_agg_state(state, delta, ["k"], MEASURES), ["k"], MEASURES
        ).collect()
    }
    assert out == {"a": (2, 3.0), "b": (1, 5.0)}


def test_incremental_avg_measure_finalizes(spark):
    measures = {"avg_v": ("value", "avg")}
    df1 = spark.createDataFrame([("a", 1.0), ("a", 2.0)], ["k", "value"])
    df2 = spark.createDataFrame([("a", 6.0)], ["k", "value"])
    out = finalize_agg_state(
        merge_agg_state(build_agg_state(df1, ["k"], measures), df2, ["k"], measures),
        ["k"],
        measures,
    ).collect()
    assert out[0]["avg_v"] == pytest.approx(3.0)
    with pytest.raises(ValueError):
        build_agg_state(df1, ["k"], {"x": ("value", "median")})


def test_rollup_cascade_scans_raw_once(spark):
    """The cascade's reason to exist: coarser tiers re-aggregate the
    finer tier's PERSISTED partials, so the raw table is read only when
    the cache populates — once. Both consumers of the finest tier (the
    daily re-aggregation and the output union) must compile to
    InMemoryTableScan over the shared cached relation; without the
    persist each branch recompiles the chain and scans raw per level
    (observed: 2 independent FileScans, no exchange reuse under AQE).
    NB the plan STRING still shows a FileScan per InMemoryTableScan —
    that's the cached relation's definition printed inline, not an
    execution scan."""
    from alibaba_cppfeaturestore_spark.operators.timeseries import rollup_cascade

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    out = rollup_cascade(
        ev, "ts", ["1 hour", "1 day"], ["event_type"], {"t": ("value", "sum")}
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("InMemoryTableScan") == 2


def test_merge_upsert_updates_inserts_deletes(spark, tx):
    tx.commit(_df(spark, [("a", 1), ("b", 2), ("c", 3)]), "append")
    source = spark.createDataFrame(
        [("b", 20, False), ("d", 4, False), ("c", 0, True)],
        ["k", "v", "__deleted"],
    )
    v = tx.merge_upsert(source, ["k"], delete_col="__deleted")
    assert v == 1
    assert {(r["k"], r["v"]) for r in tx.read(spark).collect()} == {
        ("a", 1),   # untouched
        ("b", 20),  # updated
        ("d", 4),   # inserted
    }                # c deleted
    # pre-merge snapshot still time-travelable
    assert {(r["k"], r["v"]) for r in tx.read(spark, version=0).collect()} == {
        ("a", 1), ("b", 2), ("c", 3)
    }


def test_merge_upsert_null_keys_and_null_delete_flag(spark, tx):
    """MERGE-ON + delete-flag NULL contract (r10 --perturb-fk-ids find,
    seed 233): a NULL key matches nothing, so the target's NULL row
    SURVIVES and the source's NULL row INSERTS; the delete flag fires
    only on explicit TRUE — a NULL flag (e.g. computed from a NULL key)
    must not silently drop the row."""
    tx.commit(_df(spark, [("a", 1), (None, 7)]), "append")
    source = spark.createDataFrame(
        [("a", 10, False), (None, 8, None), ("b", 2, None), ("c", 3, True)],
        "k string, v long, __deleted boolean",
    )
    tx.merge_upsert(source, ["k"], delete_col="__deleted")
    assert sorted(
        [(r["k"], r["v"]) for r in tx.read(spark).collect()],
        key=lambda t: (t[0] is None, t),
    ) == [
        ("a", 10),   # updated
        ("b", 2),    # inserted, NULL flag is not a delete
        (None, 7),   # target NULL row untouched by the merge
        (None, 8),   # source NULL row inserts (matches nothing)
    ]


def test_idempotent_commit_dedupes_replayed_epochs(spark, tx):
    """Delta txnAppId/txnVersion semantics: a replayed epoch (same app,
    same or older version) must not land twice; a new epoch must."""
    assert tx.commit_idempotent(_df(spark, [("a", 1)]), "app", 0) == 0
    assert tx.commit_idempotent(_df(spark, [("a", 1)]), "app", 0) is None  # replay
    assert tx.commit_idempotent(_df(spark, [("b", 2)]), "app", 1) == 1
    assert tx.commit_idempotent(_df(spark, [("x", 9)]), "app", 0) is None  # stale
    # a different app has its own version sequence
    assert tx.commit_idempotent(_df(spark, [("c", 3)]), "other", 0) == 2
    assert {(r["k"], r["v"]) for r in tx.read(spark).collect()} == {
        ("a", 1), ("b", 2), ("c", 3)
    }
    assert tx.last_txn_version("app") == 1
    assert tx.last_txn_version("other") == 0
    assert tx.last_txn_version("nobody") is None


def test_idempotent_commit_marker_lands_with_the_commit(spark, tx, monkeypatch):
    """A crash right after the commit's log-file create (the checkpoint
    step raising once) leaves the batch committed WITH its txn marker,
    so replaying the same epoch is skipped instead of committing twice."""

    def crash_once(self, version):
        monkeypatch.undo()
        raise RuntimeError("crash after the commit create")

    monkeypatch.setattr(TxTable, "_maybe_checkpoint", crash_once)
    with pytest.raises(RuntimeError):
        tx.commit_idempotent(_df(spark, [("a", 1)]), "app", 0)
    assert tx.commit_idempotent(_df(spark, [("a", 1)]), "app", 0) is None
    assert tx.latest_version() == 0
    assert tx.read(spark).count() == 1


def test_foreachbatch_sink_exactly_once_via_txn(spark, tx, tmp_path):
    """End-to-end: a checkpointed foreachBatch stream commits each
    micro-batch idempotently; restarting the SAME stream from the same
    checkpoint (no new data) plus a manually replayed epoch leaves the
    table with each input row exactly once."""
    import os as _os
    import shutil as _shutil

    src = str(tmp_path / "src")
    _os.makedirs(src)
    _shutil.copy(
        "/root/testdata/sf0.001/events.parquet", _os.path.join(src, "e.parquet")
    )
    schema = spark.read.parquet(src).schema
    chk = str(tmp_path / "chk")

    def sink(batch_df, epoch_id):
        tx.commit_idempotent(
            batch_df.select("event_id", "event_type"), "stream", epoch_id
        )

    for _ in range(2):  # run + restart (zero new batches on restart)
        q = (
            spark.readStream.schema(schema).parquet(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
    # crash-replay simulation: epoch 0 delivered again out-of-band
    replay = spark.read.parquet(src).select("event_id", "event_type")
    assert tx.commit_idempotent(replay, "stream", 0) is None

    total = spark.read.parquet(src).count()
    got = tx.read(spark)
    assert got.count() == total
    assert got.select("event_id").distinct().count() == total


def test_range_moving_agg_event_time_frames(spark):
    """RANGE frames follow event time: rows beyond the window fall out,
    ties share a frame, row gaps don't matter."""
    from datetime import datetime

    from alibaba_cppfeaturestore_spark.operators.timeseries import range_moving_agg

    rows = [
        ("u", datetime(2024, 1, 1, 0, 0, 0), 10.0),
        ("u", datetime(2024, 1, 1, 0, 0, 30), 20.0),   # within 60s of t0
        ("u", datetime(2024, 1, 1, 0, 0, 30), 40.0),   # tie: same frame
        ("u", datetime(2024, 1, 1, 0, 2, 0), 100.0),   # t0/t30 aged out
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "v"])
    out = {
        (r["ts"], r["v"]): (r["mavg"], r["mcnt"])
        for r in range_moving_agg(
            df, "k", "ts", "v", 60, aggs={"mavg": "avg", "mcnt": "count"}
        ).collect()
    }
    assert out[(rows[0][1], 10.0)] == (10.0, 1)
    # both tie rows see {10, 20, 40}
    assert out[(rows[1][1], 20.0)] == (pytest.approx(70 / 3), 3)
    assert out[(rows[2][1], 40.0)] == (pytest.approx(70 / 3), 3)
    assert out[(rows[3][1], 100.0)] == (100.0, 1)  # window slid past the rest


def test_pagerank_fixedpoint_semantics(spark):
    """Tiny known graphs: a 2-cycle is symmetric (equal ranks), a star's
    center out-ranks its leaves, and total mass stays <= scale (lost
    mass is truncated, never created)."""
    from alibaba_cppfeaturestore_spark.operators.graph import pagerank_fixedpoint

    cyc = spark.createDataFrame([(1, 2), (2, 1)], ["src", "dst"])
    r = {x["node"]: x["rank"] for x in pagerank_fixedpoint(cyc, iterations=4).collect()}
    assert r[1] == r[2]

    star = spark.createDataFrame(
        [(1, 9), (2, 9), (3, 9), (9, 1)], ["src", "dst"]
    )
    r = {x["node"]: x["rank"] for x in pagerank_fixedpoint(star, iterations=5).collect()}
    assert r[9] > max(r[1], r[2], r[3])
    assert r[2] == r[3]  # symmetric leaves (no in-links) tie
    assert sum(r.values()) <= 10**12


# -- checkpoint protocol (round 4) -------------------------------------------


def _fabricate_log(path: str, n_commits: int, interval: int) -> TxTable:
    """Build an n-commit table by writing raw log records (no data files
    needed: the fold never opens data), checkpointing like commit() does."""
    t = TxTable(path, checkpoint_interval=interval)
    os.makedirs(t.log_dir, exist_ok=True)
    for v in range(n_commits):
        mode = "overwrite" if v % 7 == 0 else "append"
        rec = {"mode": mode, "add": [f"part-{v:05d}"]}
        if v % 3 == 0:
            rec["txn"] = {"app_id": "app", "version": v}
        with open(os.path.join(t.log_dir, f"{v:020d}.json"), "w") as f:
            json.dump(rec, f)
        t._maybe_checkpoint(v)
    return t


def test_checkpoint_seeds_fold_with_bounded_commit_reads(tmp_path):
    interval = 10
    t = _fabricate_log(str(tmp_path / "t"), n_commits=1000, interval=interval)
    assert t._checkpoint_versions(), "no checkpoints were written"

    reads = []
    orig = TxTable._read_commit
    try:
        TxTable._read_commit = lambda self, v: (reads.append(v), orig(self, v))[1]
        live = t._live_files()
    finally:
        TxTable._read_commit = orig
    # 1000-commit log, latest checkpoint at 990 -> fold reads ≤ interval
    assert len(reads) <= interval
    # correctness: identical to the checkpoint-free linear fold
    assert live == t._fold_live(use_checkpoint=False)


def test_checkpoint_time_travel_matches_linear_fold(tmp_path):
    t = _fabricate_log(str(tmp_path / "t"), n_commits=95, interval=10)
    for as_of in (0, 6, 7, 10, 19, 20, 21, 49, 70, 94):
        assert t._fold_live(as_of=as_of) == t._fold_live(
            as_of=as_of, use_checkpoint=False
        ), f"snapshot diverged at version {as_of}"


def test_checkpoint_txn_watermarks_survive(tmp_path):
    t = _fabricate_log(str(tmp_path / "t"), n_commits=50, interval=10)
    # highest txn version for "app" is the largest multiple of 3 below 50
    assert t.last_txn_version("app") == 48
    assert t.last_txn_version("other") is None
    # a checkpoint's own txn map carries the watermark as of its version
    assert t._read_checkpoint(40)["txn"] == {"app": 39}


def test_checkpoint_lost_pointer_recovers_by_listing(tmp_path):
    t = _fabricate_log(str(tmp_path / "t"), n_commits=45, interval=10)
    os.remove(os.path.join(t.log_dir, "_last_checkpoint"))
    assert t._latest_checkpoint_at_or_below(None) == 40
    assert t._fold_live() == t._fold_live(use_checkpoint=False)


def test_checkpoint_with_real_commits_and_idempotent_annotation(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"), checkpoint_interval=5)
    for i in range(4):
        t.commit(_df(spark, [(i, float(i))]))
    # version 5 lands via commit_idempotent and triggers a checkpoint,
    # which must carry the txn watermark of the commit it folds
    assert t.commit_idempotent(_df(spark, [(99, 9.9)]), "sink", 7) == 4
    assert t.commit_idempotent(_df(spark, [(5, 5.0)]), "sink", 8) == 5
    assert 5 in t._checkpoint_versions()
    assert t._read_checkpoint(5)["txn"] == {"sink": 8}
    # replays below the watermark are skipped even when resolved via ckpt
    assert t.commit_idempotent(_df(spark, [(0, 0.0)]), "sink", 8) is None
    # snapshot contents survive the checkpointed fold
    assert t.read(spark).count() == 6
    assert t.read(spark, version=2).count() == 3
