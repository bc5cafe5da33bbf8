"""Streaming tests: bounded micro-batch runs, watermarked windows,
foreachBatch online upsert, checkpoint/restart idempotency, dictionary
reuse batch↔stream (ST5 train/serve consistency)."""

from __future__ import annotations

import os
import shutil
import tempfile
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from alibaba_cppfeaturestore_spark.operators.dictionary import (
    encode_with_dictionaries,
    fit_dictionary,
)
from alibaba_cppfeaturestore_spark.streaming.pipeline import (
    OnlineStore,
    run_bounded_to_memory,
    run_stream_upsert,
    stream_from_parquet,
    stream_stream_interval_join,
)


def ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


@pytest.fixture()
def workdir():
    d = tempfile.mkdtemp(prefix="stream_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _write_events(spark, path, rows):
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type", "value"])
    df.write.mode("overwrite").parquet(path)
    return df


def test_windowed_agg_stream_matches_batch(spark, workdir):
    rows = [
        (1, ts("2024-01-01T00:10:00"), "view", 1.0),
        (1, ts("2024-01-01T00:50:00"), "view", 2.0),
        (2, ts("2024-01-01T01:10:00"), "click", 3.0),
        (2, ts("2024-01-01T01:20:00"), "view", 4.0),
        (1, ts("2024-01-01T02:05:00"), "view", 5.0),
    ]
    src = os.path.join(workdir, "events")
    _write_events(spark, src, rows)

    agg = (
        stream_from_parquet(spark, src)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
    )
    result = run_bounded_to_memory(agg, output_mode="complete")
    got = {
        (r["window"]["start"].isoformat(), r["event_type"]): (r["n"], r["total"])
        for r in result.collect()
    }
    assert got == {
        ("2024-01-01T00:00:00", "view"): (2, 3.0),
        ("2024-01-01T01:00:00", "click"): (1, 3.0),
        ("2024-01-01T01:00:00", "view"): (1, 4.0),
        ("2024-01-01T02:00:00", "view"): (1, 5.0),
    }


def test_state_partitions_knob_is_scoped_and_value_invariant(spark, workdir):
    """run_bounded_to_memory(state_partitions=N) sizes ONLY the stateful
    stores of that query: the session's shuffle-partition conf is
    restored afterwards, and the result is identical to the default
    sizing (state partitioning changes layout, never values)."""
    rows = [
        (1, ts("2024-01-01T00:10:00"), "view", 1.0),
        (2, ts("2024-01-01T01:10:00"), "click", 3.0),
        (1, ts("2024-01-01T02:05:00"), "view", 5.0),
    ]
    src = os.path.join(workdir, "events_sp")
    _write_events(spark, src, rows)

    def run(sp):
        agg = (
            stream_from_parquet(spark, src)
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
        )
        out = run_bounded_to_memory(agg, output_mode="complete", state_partitions=sp)
        return {
            (r["window"]["start"].isoformat(), r["event_type"]): (r["n"], r["total"])
            for r in out.collect()
        }

    before = spark.conf.get("spark.sql.shuffle.partitions")
    assert run(2) == run(None) == run(8)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_online_store_upsert_and_restart_idempotency(spark, workdir):
    src = os.path.join(workdir, "events")
    store_path = os.path.join(workdir, "store")
    chk = os.path.join(workdir, "chk")
    rows = [
        (1, ts("2024-01-01T00:00:00"), "view", 1.0),
        (1, ts("2024-01-01T02:00:00"), "click", 2.0),
        (2, ts("2024-01-01T01:00:00"), "view", 3.0),
    ]
    _write_events(spark, src, rows)
    store = OnlineStore(store_path, keys=["user_id"], ts="ts")

    stream = stream_from_parquet(spark, src)
    run_stream_upsert(stream, store, chk)
    got = {r["user_id"]: (r["event_type"], r["value"]) for r in store.read(spark).collect()}
    assert got == {1: ("click", 2.0), 2: ("view", 3.0)}

    # Restart with the same checkpoint: no new data -> store unchanged.
    stream2 = stream_from_parquet(spark, src)
    run_stream_upsert(stream2, store, chk)
    got2 = {r["user_id"]: (r["event_type"], r["value"]) for r in store.read(spark).collect()}
    assert got2 == got

    # New file arrives (late data for user 2, fresh for user 1).
    more = [
        (1, ts("2024-01-01T03:00:00"), "purchase", 9.0),
        (2, ts("2024-01-01T00:30:00"), "click", 8.0),  # older than stored -> ignored
    ]
    df = spark.createDataFrame(more, ["user_id", "ts", "event_type", "value"])
    df.write.mode("append").parquet(src)
    stream3 = stream_from_parquet(spark, src)
    run_stream_upsert(stream3, store, chk)
    got3 = {r["user_id"]: (r["event_type"], r["value"]) for r in store.read(spark).collect()}
    assert got3 == {1: ("purchase", 9.0), 2: ("view", 3.0)}
    # no micro-batch leaves a sibling of its write-once-then-swap behind
    assert not [d for d in os.listdir(workdir) if d.startswith("store__")]

    # a restart: a new store object does not know the written schema,
    # infers it, and reads the same rows and schema
    restarted = OnlineStore(store_path, keys=["user_id"], ts="ts")
    assert restarted.schema is None
    assert restarted.read(spark).schema == store.read(spark).schema
    got4 = {r["user_id"]: (r["event_type"], r["value"]) for r in restarted.read(spark).collect()}
    assert got4 == got3
    # ... and upserts on from there
    spark.createDataFrame(
        [(2, ts("2024-01-01T04:00:00"), "purchase", 4.0)],
        ["user_id", "ts", "event_type", "value"],
    ).write.mode("append").parquet(src)
    run_stream_upsert(stream_from_parquet(spark, src), restarted, chk)
    got5 = {r["user_id"]: (r["event_type"], r["value"]) for r in restarted.read(spark).collect()}
    assert got5 == {1: ("purchase", 9.0), 2: ("purchase", 4.0)}
    assert not [d for d in os.listdir(workdir) if d.startswith("store__")]


def test_dictionary_shared_batch_and_stream(spark, workdir):
    """ST5: the dictionary fit on batch data is applied to a stream via
    broadcast join inside foreachBatch — train/serve consistency."""
    batch = spark.createDataFrame(
        [("a",), ("a",), ("b",)], ["cat"]
    )
    d = fit_dictionary(batch, "cat")

    src = os.path.join(workdir, "stream_src")
    spark.createDataFrame(
        [(1, ts("2024-01-01T00:00:00"), "a", 0.0),
         (2, ts("2024-01-01T00:00:01"), "b", 0.0),
         (3, ts("2024-01-01T00:00:02"), "new", 0.0)],
        ["id", "ts", "cat", "v"],
    ).write.mode("overwrite").parquet(src)

    captured = []

    def encode_batch(batch_df, epoch):
        captured.append(
            {r["id"]: r["cat"] for r in
             encode_with_dictionaries(batch_df, {"cat": d}).collect()}
        )

    stream = stream_from_parquet(spark, src)
    q = (
        stream.writeStream.foreachBatch(encode_batch)
        .option("checkpointLocation", os.path.join(workdir, "chk2"))
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    merged = {}
    for c in captured:
        merged.update(c)
    # a(freq 2)->0, b->1, unseen->2
    assert merged == {1: 0, 2: 1, 3: 2}


def test_stream_stream_interval_join_inner_and_outer(spark, workdir):
    """Inner bounded run ≡ batch interval join; left-outer additionally
    emits watermark-expired unmatched left rows with null right side."""
    clicks_path = os.path.join(workdir, "clicks")
    views_path = os.path.join(workdir, "views")
    _write_events(spark, clicks_path, [
        (1, ts("2024-01-01 10:30:00"), "click", 1.0),   # views at 10:05,10:25 match
        (2, ts("2024-01-01 11:00:00"), "click", 1.0),   # view too old (09:00)
        (3, ts("2024-01-01 12:00:00"), "click", 1.0),   # no views at all
        (9, ts("2024-01-02 09:00:00"), "click", 1.0),   # far-future: advances watermark
    ])
    _write_events(spark, views_path, [
        (1, ts("2024-01-01 10:05:00"), "view", 0.0),
        (1, ts("2024-01-01 10:25:00"), "view", 0.0),
        (2, ts("2024-01-01 09:00:00"), "view", 0.0),
        (9, ts("2024-01-02 08:59:00"), "view", 0.0),
    ])

    def joined(how):
        j = stream_stream_interval_join(
            stream_from_parquet(spark, clicks_path),
            stream_from_parquet(spark, views_path),
            on="user_id",
            left_ts="ts",
            right_ts="ts",
            watermark="1 minute",
            before="1 hour",
            join_type=how,
        ).select(
            F.col("l.user_id").alias("user_id"),
            F.col("l.ts").alias("click_ts"),
            F.col("r.ts").alias("view_ts"),
        )
        return run_bounded_to_memory(j, output_mode="append").collect()

    inner = {(r["user_id"], r["view_ts"]) for r in joined("inner")}
    assert inner == {
        (1, ts("2024-01-01 10:05:00")),
        (1, ts("2024-01-01 10:25:00")),
        (9, ts("2024-01-02 08:59:00")),
    }

    outer = {(r["user_id"], r["view_ts"]) for r in joined("left_outer")}
    # matched rows identical; clicks 2 and 3 emit with NULL view once the
    # watermark (driven past them by the day-2 click) proves no match can
    # arrive
    assert outer == inner | {(2, None), (3, None)}


def test_stream_session_windows_match_batch_finalized(spark):
    """Streaming session windows (append mode) == batch session windows
    restricted to sessions the final watermark could finalize."""
    from alibaba_cppfeaturestore_spark.plans.catalog import QUERIES

    sf = "/root/testdata/sf0.001"
    batch = QUERIES["session_window_stats"].spark(spark, sf).collect()
    stream = QUERIES["stream_session_window_stats"].spark(spark, sf).collect()

    max_ts = max(r["session_end"] for r in batch)  # end = last event + 30min
    # final watermark = max event ts - 1 minute delay; a session emits when
    # watermark > session_end
    from datetime import timedelta
    final_wm = (max_ts - timedelta(minutes=30)) - timedelta(minutes=1)
    expected = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in batch if r["session_end"] < final_wm
    }
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in stream
    }
    assert got == expected


def test_stream_dedup_drops_redelivered_rows(spark, workdir):
    from alibaba_cppfeaturestore_spark.streaming.pipeline import stream_dedup

    path = os.path.join(workdir, "dup_events")
    _write_events(spark, path, [
        (1, ts("2024-01-01 10:00:00"), "view", 1.0),
        (2, ts("2024-01-01 10:00:30"), "view", 2.0),
        (3, ts("2024-01-01 10:01:00"), "click", 3.0),
    ])
    src = stream_from_parquet(spark, path)
    doubled = src.unionByName(src)  # at-least-once redelivery
    out = run_bounded_to_memory(
        stream_dedup(doubled, keys=["user_id"], ts_col="ts", watermark="1 minute"),
        output_mode="append",
    ).collect()
    assert sorted(r["user_id"] for r in out) == [1, 2, 3]


def test_stream_dedup_keeps_and_dedupes_null_ts_rows(spark, workdir):
    """NULL-event-time contract (r09 advice): rows whose watermark column
    is NULL are NOT silently dropped by ``dropDuplicatesWithinWatermark``
    — they pass through and dedup by key like any other row, which is
    exactly the oracle's SELECT DISTINCT semantics (NULLs equal in
    DISTINCT). Pinned empirically so a Spark behavior change or a
    nulls-on-ts data regime flips a test, not a driver row
    (``stream_dedup_exact`` keys include ts)."""
    from alibaba_cppfeaturestore_spark.streaming.pipeline import stream_dedup

    path = os.path.join(workdir, "nullts_events")
    _write_events(spark, path, [
        (1, ts("2024-01-01 10:00:00"), "view", 1.0),
        (2, None, "view", 2.0),
        (3, None, "click", 3.0),
    ])
    src = stream_from_parquet(spark, path)
    doubled = src.unionByName(src)  # redelivery duplicates NULL-ts rows too
    out = run_bounded_to_memory(
        stream_dedup(
            doubled,
            keys=["user_id", "ts", "event_type", "value"],
            ts_col="ts",
            watermark="1 minute",
        ),
        output_mode="append",
    ).collect()
    assert sorted(r["user_id"] for r in out) == [1, 2, 3]
    assert sorted(r["user_id"] for r in out if r["ts"] is None) == [2, 3]


def test_pii_redaction_shared_batch_and_stream(spark, workdir):
    """ST5 companion: the PII scrub is a pure column expression, so the
    SAME redact_pii call runs unchanged on a batch frame and inside a
    structured stream — and produces identical redactions for identical
    payloads (the train/serve-consistency property for corpus scrubbing)."""
    from alibaba_cppfeaturestore_spark.functions.text import redact_pii

    rows = [
        (1, ts("2024-01-01T00:00:00"), "mail me at bob@corp.io today", 0.0),
        (2, ts("2024-01-01T00:00:01"), "server 10.0.0.1 is down", 0.0),
        (3, ts("2024-01-01T00:00:02"), "call +1 555-0199 now", 0.0),
        (4, ts("2024-01-01T00:00:03"), "nothing sensitive here", 0.0),
    ]
    src = os.path.join(workdir, "pii_src")
    df = spark.createDataFrame(rows, ["id", "ts", "text", "v"])
    df.write.mode("overwrite").parquet(src)

    batch_out = {
        r["id"]: r["red"]
        for r in df.select("id", redact_pii("text").alias("red")).collect()
    }
    assert batch_out[1] == "mail me at <EMAIL> today"
    assert batch_out[2] == "server <IP> is down"
    assert batch_out[3] == "call <PHONE> now"
    assert batch_out[4] == "nothing sensitive here"

    captured = {}

    def scrub(batch_df, epoch):
        for r in batch_df.select("id", redact_pii("text").alias("red")).collect():
            captured[r["id"]] = r["red"]

    stream = stream_from_parquet(spark, src)
    q = (
        stream.writeStream.foreachBatch(scrub)
        .option("checkpointLocation", os.path.join(workdir, "chk_pii"))
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert captured == batch_out


def test_kafka_source_option_contract():
    """S6: the env has no broker, so the Kafka codepath can never
    execute here — but option-wiring drift is still catchable. Pin the
    EXACT option dict against the reference's literal strings
    (stream_silver_to_gold.py:71-77): subscribe (not subscribePattern /
    assign), startingOffsets=earliest, consumer auto-commit off."""
    from alibaba_cppfeaturestore_spark.sources.readers import kafka_source_options

    opts = kafka_source_options("localhost:9092", "alicpp_records")
    assert opts == {
        "kafka.bootstrap.servers": "localhost:9092",
        "subscribe": "alicpp_records",
        "startingOffsets": "earliest",
        "enable.auto.commit": "false",
    }
    # offset override is the only knob that may change the dict
    assert kafka_source_options("h:1", "t", "latest")["startingOffsets"] == "latest"


def test_kafka_sink_option_contract(spark):
    """S7: sink options vs stream_silver_to_gold.py:135-145 — topic +
    checkpointLocation as options; append mode and the 10-second
    processing-time trigger are writer-level calls (asserted on the
    builder string); the message key column mirrors the reference's
    partitionBy routing and is testable on a batch frame."""
    from alibaba_cppfeaturestore_spark.streaming.pipeline import (
        kafka_message_key,
        kafka_sink_options,
    )

    opts = kafka_sink_options("localhost:9092", "alicpp_stream_data", "chk-point-dir/alicpp_df")
    assert opts == {
        "kafka.bootstrap.servers": "localhost:9092",
        "topic": "alicpp_stream_data",
        "checkpointLocation": "chk-point-dir/alicpp_df",
    }

    df = spark.createDataFrame([(1, "g7"), (2, "g9")], ["user_id", "user_group"])
    keyed = kafka_message_key(df, "user_group")
    assert keyed.schema["key"].dataType.simpleString() == "string"
    assert [r["key"] for r in keyed.orderBy("user_id").collect()] == ["g7", "g9"]
    # partition_by=None must not invent a key column
    assert "key" not in kafka_message_key(df, None).columns


def test_stream_enrich_asof_guard_and_ttl(spark, tmp_path):
    """Pins what makes stream_asof_enrich NOT a plain asof join: the
    online table holds only the LATEST view per user, so a click older
    than that view is served NOTHING (never serve the future — there is
    no older version to fall back to), a click after it is served iff
    within the 7-day TTL, and a user with no views gets NULL features."""
    from alibaba_cppfeaturestore_spark.streaming.pipeline import (
        OnlineStore,
        run_stream_enrich,
        run_stream_upsert,
    )

    def stage(rows, name):
        df = spark.createDataFrame(
            rows, "user_id long, event_id long, ts string, value double"
        ).select("user_id", "event_id", F.col("ts").cast("timestamp").alias("ts"), "value")
        path = str(tmp_path / name)
        df.write.parquet(path)
        return spark.readStream.schema(spark.read.parquet(path).schema).parquet(path)

    views = stage(
        [
            (1, 10, "2024-01-05 00:00:00", 5.0),  # u1's latest view
            (1, 11, "2024-01-01 00:00:00", 1.0),  # older, evicted by upsert
            (2, 12, "2024-01-01 00:00:00", 2.0),
        ],
        "views",
    )
    store = OnlineStore(str(tmp_path / "store"), keys=["user_id"], ts="ts",
                        tiebreak=["event_id", "value"])
    run_stream_upsert(views, store, str(tmp_path / "chk1"))

    clicks = stage(
        [
            (1, 20, "2024-01-03 00:00:00", 0.0),  # BEFORE u1's latest view -> NULL
            (1, 21, "2024-01-06 00:00:00", 0.0),  # after, fresh -> 5.0
            (2, 22, "2024-01-20 00:00:00", 0.0),  # 19 days stale (TTL 7d) -> NULL
            (3, 23, "2024-01-06 00:00:00", 0.0),  # no views -> NULL
        ],
        "clicks",
    ).select(F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts"))

    def enrich(batch, online):
        feats = online.select(
            F.col("user_id").alias("_f_user"),
            F.col("ts").alias("feature_ts"),
            F.col("value").alias("feature_value"),
        )
        cond = (
            (batch["user_id"] == feats["_f_user"])
            & (feats["feature_ts"] <= batch["click_ts"])
            & (feats["feature_ts"] >= batch["click_ts"] - F.expr("INTERVAL 7 DAYS"))
        )
        return batch.join(F.broadcast(feats), cond, "left").select(
            "click_id", "user_id", "click_ts", "feature_ts", "feature_value"
        )

    run_stream_enrich(clicks, store, str(tmp_path / "chk2"), str(tmp_path / "sink"), enrich)
    got = {r.click_id: r.feature_value for r in spark.read.parquet(str(tmp_path / "sink")).collect()}
    assert got == {20: None, 21: 5.0, 22: None, 23: None}
