"""Structured Streaming surface: bounded replay sources, windowed aggs,
stateless transform pipelines, and the foreachBatch online-store upsert.

Maps the reference's streaming capabilities (SURVEY.md §2.9) onto
idiomatic Structured Streaming:

- ST1-ST3: micro-batch triggers / append mode / checkpointing are plain
  options on ``run_*`` helpers; tests use ``availableNow`` +
  ``processAllAvailable`` for deterministic bounded runs.
- ST4: ``withWatermark`` for late data (reference declares 1 minute,
  ``feast-feature-store/feature-repo/data_sources.py:27``).
- ST5: dictionary transforms are broadcast joins — streaming-safe, shared
  batch↔stream (train/serve consistency without MLlib model files).
- ST6: ``foreachBatch`` upsert of latest-per-key into an "online table"
  (local parquet standing in for Redis; the adapter boundary is the
  function, reference ``ingest_stream_to_online_store.py:38-57``).
- ST7: user transform hook = plain ``DataFrame -> DataFrame`` callable.
- ST9: replay source = file stream over parquet/json (standing in for the
  Kafka producer, ``produce_json.py``).

Scale notes: windowed aggregation state is bounded by the watermark;
foreachBatch upsert rewrites only the online table (|keys| rows), and at
real scale the sink adapter would be a KV store write, not a file rewrite.
"""

from __future__ import annotations

import os
import shutil
import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from ..operators.aggregates import latest_per_key


def stream_from_parquet(
    spark: SparkSession, path: str, schema=None
) -> DataFrame:
    """File-stream source over parquet (bounded replay for tests; swap for
    the Kafka reader in production)."""
    if schema is None:
        schema = spark.read.parquet(path).schema
    return spark.readStream.schema(schema).parquet(path)


def _run_bounded(writer: DataStreamWriter) -> None:
    """Start ``writer`` on an availableNow trigger, drain it, stop it."""
    q = writer.trigger(availableNow=True).start()
    q.processAllAvailable()
    q.stop()


def run_bounded_to_memory(
    stream_df: DataFrame,
    output_mode: str = "complete",
    state_partitions: int | None = None,
) -> DataFrame:
    """Run a bounded streaming query to a memory sink and return the result
    table. availableNow + processAllAvailable = deterministic completion.

    ``state_partitions`` sizes the stateful operators' store count
    explicitly (via ``spark.sql.shuffle.partitions`` scoped to this
    query's lifetime — restored afterwards). Streaming state partitioning
    is PINNED at checkpoint creation and never re-derived, so production
    jobs must size it to expected state volume up front: the batch
    default (high, AQE-coalesced) is wrong for streams because AQE does
    not apply to stateful exchanges, and every micro-batch pays a
    fixed per-store maintenance cost (snapshot, delta file, commit) —
    32 near-empty HDFS-backed stores cost more scheduling than one
    well-filled store per core does work.

    CONCURRENCY: the scoping mutates the SESSION conf for the query's
    (bounded, availableNow) run — any OTHER query planned on the same
    SparkSession inside that window silently inherits the reduced
    partition count. Callers are single-threaded here (bench/driver_sim
    run queries serially); a concurrent caller should pass a cloned
    session (``spark.newSession()``) so the conf stays private."""
    qname = f"mem_{uuid.uuid4().hex[:12]}"
    spark = stream_df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions") if state_partitions else None
    if state_partitions:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        _run_bounded(
            stream_df.writeStream.format("memory")
            .queryName(qname)
            .outputMode(output_mode)
        )
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    return stream_df.sparkSession.table(qname)


def stream_dedup(
    stream_df: DataFrame,
    keys: list[str],
    ts_col: str,
    watermark: str,
) -> DataFrame:
    """Streaming exact deduplication with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` keeps a key's dedup state only
    until the watermark passes it, so at-least-once sources (Kafka
    replays, retried producers) are de-duplicated without the unbounded
    state of plain ``dropDuplicates`` on a stream. Duplicates are
    guaranteed dropped when they arrive within the watermark delay of
    the first occurrence — size the delay to the source's redelivery
    window."""
    return stream_df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys
    )


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | str,
    left_ts: str,
    right_ts: str,
    watermark: str,
    before: str = "10 minutes",
    after: str = "0 seconds",
    join_type: str = "inner",
) -> DataFrame:
    """Event-time interval join of two STREAMS (e.g. click↔view
    attribution: for each click, the views by the same user in the
    preceding N minutes). Returns the joined stream with sides aliased
    ``l`` / ``r`` — select with ``F.col("l.x")`` / ``F.col("r.x")``.

    Matches rows where ``r.right_ts ∈ [l.left_ts - before,
    l.left_ts + after]`` and the key columns are equal.

    State-boundedness is the scale story: BOTH sides carry a watermark
    and the join condition bounds event-time distance, so Spark derives
    how long each side's rows can still match and evicts state older
    than that — without the interval bounds a stream-stream join would
    buffer both streams forever. Outer variants emit the unmatched row
    only once the watermark proves no future match can arrive.
    """
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = right.withWatermark(right_ts, watermark).alias("r")
    cond = None
    for k in [on] if isinstance(on, str) else on:
        c = F.col(f"l.{k}") == F.col(f"r.{k}")
        cond = c if cond is None else cond & c
    cond = cond & F.expr(
        f"r.{right_ts} >= l.{left_ts} - INTERVAL {before}"
    ) & F.expr(f"r.{right_ts} <= l.{left_ts} + INTERVAL {after}")
    return l.join(r, cond, join_type)


class OnlineStore:
    """Latest-per-key online table maintained by foreachBatch upserts (ST6).

    Local adapter: a parquet directory. Each upsert merges the batch into
    the current table, writes the result ONCE into a fresh sibling
    directory (``<path>__tmp_<id>``), then swaps it in by renames: the
    live table moves aside, the new one takes ``path``, the old one is
    removed. ``path`` therefore only ever holds a complete table, and no
    ``<path>__tmp_*`` sibling outlives an upsert. Reads pass the schema
    this object last wrote, so they run no parquet schema inference (one
    Spark job per read); a new object on an existing store (a restart)
    infers it until its first write. The production adapter would push
    the same ``latest`` frame to Redis — the upsert semantics (newest row
    per key wins, within and across batches) live here, not in the sink."""

    def __init__(self, path: str, keys: list[str], ts: str, tiebreak: list[str] | None = None):
        self.path = path
        self.keys = keys
        self.ts = ts
        self.tiebreak = tiebreak
        self.schema = None  # of the last write; None until this object writes

    def read(self, spark: SparkSession) -> DataFrame | None:
        if not os.path.exists(self.path):
            return None
        reader = spark.read if self.schema is None else spark.read.schema(self.schema)
        return reader.parquet(self.path)

    def upsert_batch(self, batch_df: DataFrame, epoch_id: int | None = None) -> None:
        spark = batch_df.sparkSession
        existing = self.read(spark)
        merged = batch_df if existing is None else existing.unionByName(batch_df)
        latest = latest_per_key(merged, self.keys, self.ts, self.tiebreak)
        fresh = f"{self.path}__tmp_{uuid.uuid4().hex[:8]}"
        latest.write.parquet(fresh)
        if existing is None:
            os.rename(fresh, self.path)
        else:
            os.rename(self.path, f"{fresh}_old")
            os.rename(fresh, self.path)
            shutil.rmtree(f"{fresh}_old")
        self.schema = latest.schema

    def foreach_batch(self) -> Callable[[DataFrame, int], None]:
        return lambda df, epoch: self.upsert_batch(df, epoch)


def kafka_sink_options(
    bootstrap_servers: str, topic: str, checkpoint_dir: str
) -> dict[str, str]:
    """The exact option dict ``write_kafka_stream`` applies — factored
    out so a broker-less environment can still contract-test the wiring
    against the reference's strings (``stream_silver_to_gold.py:135-145``:
    topic, checkpointLocation; append mode and the processing-time
    trigger are writer-level calls asserted alongside). Pinned by
    tests/test_streaming.py::test_kafka_sink_option_contract."""
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "topic": topic,
        "checkpointLocation": checkpoint_dir,
    }


def kafka_message_key(df: DataFrame, partition_by: str | None) -> DataFrame:
    """Kafka's partition routing: a string ``key`` column (the analogue
    of the reference's ``partitionBy("user_group")`` on its file sink).
    Factored out of ``write_kafka_stream`` so the transform is testable
    on a batch frame without a broker."""
    if partition_by is None:
        return df
    return df.withColumn("key", F.col(partition_by).cast("string"))


def write_kafka_stream(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint_dir: str,
    trigger_seconds: int = 10,
    partition_by: str | None = None,
):
    """Kafka stream sink (reference S7, ``stream_silver_to_gold.py:135-145``):
    append mode, processing-time trigger, checkpointed. ``df`` must already
    have a string/binary ``value`` column (use ``F.to_json(F.struct(...))``).
    ``partition_by`` sets the Kafka message key column (controls broker
    partition routing, the analogue of the reference's partitionBy).
    Requires spark-sql-kafka on the classpath; config-builder only in this
    container (no broker to test against)."""
    out = kafka_message_key(df, partition_by)
    writer = (
        out.writeStream.format("kafka")
        .options(**kafka_sink_options(bootstrap_servers, topic, checkpoint_dir))
        .outputMode("append")
        .trigger(processingTime=f"{trigger_seconds} seconds")
    )
    return writer.start()


def run_stream_upsert(
    stream_df: DataFrame,
    store: OnlineStore,
    checkpoint_dir: str,
    transform: Callable[[DataFrame], DataFrame] | None = None,
) -> None:
    """ST6+ST7: optional user transform, then foreachBatch online upsert,
    bounded (availableNow) with an exactly-once checkpoint."""
    df = transform(stream_df) if transform else stream_df
    _run_bounded(
        df.writeStream.foreachBatch(store.foreach_batch())
        .option("checkpointLocation", checkpoint_dir)
    )


def run_stream_enrich(
    stream_df: DataFrame,
    store: OnlineStore,
    checkpoint_dir: str,
    sink_path: str,
    enrich: Callable[[DataFrame, DataFrame | None], DataFrame],
) -> None:
    """Serve half of the Feast stream→online→serve loop: each micro-batch
    of requests is enriched against the CURRENT online table and appended
    to the offline sink (reference surface: the stream processor keeps
    the online table fresh, ``ingest_stream_to_online_store.py:38-57``,
    and serving reads entity rows back out of it, ``get_fv.py:25-29``;
    this helper is the two wired into one foreachBatch loop).

    ``enrich(batch_df, online_df)`` receives the online table as read at
    that micro-batch (None while the store is empty) and returns the
    frame to append — the join strategy lives with the caller, because
    only the caller knows whether the online table is broadcast-sized
    (|entities| small) or needs a shuffle join. Bounded (availableNow) +
    checkpointed, same exactly-once contract as ``run_stream_upsert``."""

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        online = store.read(batch_df.sparkSession)
        enrich(batch_df, online).write.mode("append").parquet(sink_path)

    _run_bounded(
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )

