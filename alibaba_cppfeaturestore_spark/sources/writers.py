"""Sink adapters: parquet/delta, jdbc, partitioned and observed writes.

Covers the reference's sink surface (SURVEY.md §2.1 S3-S4; the Kafka sink
S7 is ``streaming/pipeline.py::write_kafka_stream``). File sizing
is declarative (``spark.sql.files.maxRecordsPerFile`` in the session
factory) instead of the reference's count()+repartition() two-job dance
(``batch_process_Bronze_to_Silver.py:308-312``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .readers import delta_available


def write_table(
    df: DataFrame,
    path: str,
    mode: str = "ignore",
    partition_by: list[str] | None = None,
    fmt: str | None = None,
) -> None:
    """Idempotent table write (reference S3: Delta ``mode("ignore")``).
    Uses Delta when available, parquet otherwise. ``partition_by`` gives
    partition pruning on downstream reads — choose low-cardinality columns
    (the reference partitions its stream output by user_group, 13 values).
    """
    use_fmt = fmt or ("delta" if delta_available(df.sparkSession) else "parquet")
    writer = df.write.format(use_fmt).mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def write_with_metrics(
    df: DataFrame,
    path: str,
    metrics: dict | None = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> dict:
    """Write a table AND collect data-quality metrics in the SAME job
    (Spark ``Observation``): row counts, null counts, sums, whatever
    aggregate expressions the caller passes — evaluated on the rows as
    they stream to the sink, so there is NO second scan to audit the
    write. Returns ``{metric_name: value}``.

    At 100 TB the difference between this and a follow-up validation
    query is a full re-read of the output. ``metrics`` defaults to a
    plain row count. Batch only (streaming queries report metrics via
    ``StreamingQueryProgress.observedMetrics`` instead).
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    metrics = metrics or {"n_rows": F.count(F.lit(1))}
    obs = Observation()
    observed = df.observe(obs, *[expr.alias(name) for name, expr in metrics.items()])
    observed.write.format(fmt).mode(mode).save(path)
    return dict(obs.get)


def morton_code(cols, bits: int = 8):
    """Interleave the low ``bits`` of pre-scaled integer columns into one
    Morton (Z-order) key — a pure bit-shift expression tree (2·bits·n
    integer ops, codegen-friendly)."""
    from pyspark.sql import functions as F

    n = len(cols)
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(cols):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1)),
                    b * n + i,
                )
            )
    return z


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "overwrite",
    properties: dict[str, str] | None = None,
) -> None:
    """JDBC sink (reference S4, ``batch_process_Silver_to_Gold.py:166-172``).
    Executors open parallel connections — repartition to a sane connection
    count (≤32) before calling at scale."""
    df.write.jdbc(url=url, table=table, mode=mode, properties=properties or {})
