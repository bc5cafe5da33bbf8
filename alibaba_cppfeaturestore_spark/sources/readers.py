"""Source adapters: csv / parquet / delta / kafka.

Mirrors the reference's source surface (SURVEY.md §2.1) behind plain
functions. External services (Kafka broker, Postgres, MinIO, Delta jars)
are not present in the test container, so those readers are thin
configuration builders gated behind availability checks — the *capability*
is the contract, local substitutes (parquet/file-stream/memory) carry the
tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    delimiter: str = ",",
    header: bool = False,
) -> DataFrame:
    """CSV scan (reference S1, ``batch_process_Bronze_to_Silver.py:89,176``).
    Schema should be passed explicitly in production paths — inference does
    an extra full read."""
    reader = spark.read.option("delimiter", delimiter).option("header", header)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.csv(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def delta_available(spark: SparkSession) -> bool:
    """True if the Delta Lake jars are on the classpath. (Must use
    ``Class.forName`` — py4j package traversal like ``_jvm.org.apache...``
    returns a lazy JavaPackage and never raises for missing classes.)"""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.spark.sql.delta.DeltaLog"
        )
        return True
    except Exception:
        return False


def read_delta(spark: SparkSession, path: str) -> DataFrame:
    """Delta scan (reference S2). Falls back to parquet when the Delta jars
    are absent (this container) — Delta tables store data as parquet, so a
    snapshot read of a freshly-written table is equivalent for tests."""
    if delta_available(spark):
        return spark.read.format("delta").load(path)
    return spark.read.parquet(path)


def kafka_source_options(
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
) -> dict[str, str]:
    """The exact option dict ``read_kafka_stream`` applies — factored out
    so a broker-less environment can still contract-test the wiring
    against the reference's strings (``stream_silver_to_gold.py:71-77``:
    subscribe topic, earliest offsets, auto-commit off). Pinned by
    tests/test_streaming.py::test_kafka_source_option_contract."""
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        "enable.auto.commit": "false",
    }


def read_kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka stream source (reference S6, ``stream_silver_to_gold.py:71-77``).
    Requires spark-sql-kafka on the classpath; raises otherwise."""
    return (
        spark.readStream.format("kafka")
        .options(**kafka_source_options(bootstrap_servers, topic, starting_offsets))
        .load()
    )


def read_parquet_evolving(spark: SparkSession, *paths: str) -> DataFrame:
    """Read parquet written under an EVOLVING schema (S2-adjacent: the
    capability Delta's schema evolution provides on the reference's
    bronze tables): ``mergeSchema`` unions the footers' schemas by
    column NAME, so files written before a column existed yield NULLs
    for it instead of a read error or silent truncation to the first
    file's schema.

    Scale note: schema merging reads every file FOOTER at planning time
    (not the data); on very large tables prefer a user-provided schema
    (``spark.read.schema(...)``) once the union schema is known."""
    return spark.read.option("mergeSchema", "true").parquet(*paths)
