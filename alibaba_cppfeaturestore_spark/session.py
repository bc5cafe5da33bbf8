"""SparkSession factory for the engine.

Centralizes the configuration the whole engine depends on:

- ``spark.sql.mapKeyDedupPolicy=LAST_WIN`` — the Ali-CCP map-merge semantics
  (Python ``dict.update`` in the reference,
  ``data_processing/batch_processing/batch_process_Bronze_to_Silver.py:80-84``)
  require last-key-wins when concatenating feature maps.
- AQE on (coalesce shuffle partitions, skew-join splitting) — replaces the
  reference's hand-tuned ``coalesce(13)`` / ``repartition(count//100000+1)``
  (``batch_process_Bronze_to_Silver.py:91,308-312``).
- ``spark.sql.session.timeZone=UTC`` — deterministic timestamps, matches the
  DuckDB oracle's UTC-naive timestamps.
- Arrow enabled — the sanctioned UDF tier is pandas_udf/mapInPandas.
- ``maxRecordsPerFile`` — declarative replacement for the reference's manual
  output-file sizing (100k rows/file, ``batch_process_Bronze_to_Silver.py:308-312``).
- Local masters run Python workers from ``worker_daemon`` (and put this
  package's parent directory on the workers' ``PYTHONPATH``, so a driver
  started anywhere finds it): PySpark's own daemon re-reads three archives'
  zip directories before every Python task, ~160 ms each on CPython < 3.13.
  Cluster masters keep PySpark's daemon (see ``SCALING.md``).

At cluster scale the same factory applies; only ``master`` and the memory
settings change. Shuffle partitions default to one per local core
(``SPARK_GRAFT_CPUS``, 32 when unset); on a real cluster leave AQE to
coalesce from a high initial number.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "alibaba_cppfeaturestore_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine-required settings.

    Settings marked (required) change query semantics; the rest are
    performance defaults that callers may override via ``extra_conf``.
    """
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # (required) Ali-CCP map merge: common features override skeleton.
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        # (required) deterministic timestamps vs the DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # AQE: runtime shuffle-partition coalescing + skew-join handling.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # Arrow for pandas_udf / toPandas round-trips.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Declarative output-file sizing (replaces count()+repartition()).
        .config("spark.sql.files.maxRecordsPerFile", "100000")
        # PySpark 4's DataFrame-debugging wraps EVERY F.* call with a
        # stack capture plus ~4 py4j round-trips (one of them a
        # conf.get RPC per expression). On wide plans this dominates
        # driver-side plan construction — measured 1.3 s → 0.3 s to
        # build the minhash-LSH entry's DataFrame. Pure diagnostics
        # (call-site enrichment in error messages); semantics unchanged.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    if master.startswith("local"):
        # Workers share this filesystem: run them from the package's daemon.
        builder = builder.config(
            "spark.python.daemon.module", "alibaba_cppfeaturestore_spark.worker_daemon"
        ).config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
