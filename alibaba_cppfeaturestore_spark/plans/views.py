"""SQL entry point: register TESTDATA tables as views, run spark.sql.

Replaces the reference's Trino-over-Delta ad-hoc SQL surface
(``trino/catalog/lakehouse.properties:1``, ``trino/READEME.md:12-23``) with
Spark's own SQL engine over registered views — same Catalyst plans as the
DataFrame API.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..resources import memo

TESTDATA_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


# Columns written as parquet INT64 TIMESTAMP(NANOS), which Spark 4 rejects
# by default (PARQUET_TYPE_ILLEGAL). Read as long via the legacy flag, then
# convert ns→µs with integer `div` (float division would lose precision on
# ~1e18 nanosecond values: doubles carry only 53 bits).
_NANOS_TS_COLUMNS: dict[str, list[str]] = {"events": ["ts"]}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One TESTDATA table as a DataFrame. The analyzed plan is memoized
    per session and file (``resources.memo``): PLANS, never results —
    every action still scans the parquet. What it saves is the per-call
    driver work of ``spark.read.parquet`` (file listing, footer read,
    analysis: ~60-150 ms per table per query build at the bench's
    scale); real engines keep exactly this state in the session
    catalog, as ``register_views``' temp views do."""
    nanos_cols = _NANOS_TS_COLUMNS.get(name, [])
    if nanos_cols:
        # Runtime-settable; needed because the driver may hand us a session
        # built without this flag. Set on memo hits too — the flag is
        # consulted at execution, and a caller may have flipped it back.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")

    def read() -> DataFrame:
        df = spark.read.parquet(path)
        for c in nanos_cols:
            if dict(df.dtypes).get(c) == "bigint":
                df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
        return df

    return memo(spark, [path], ("table",), read)


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every TESTDATA parquet as a temp view; returns the frames."""
    out = {}
    for name in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = load_table(spark, sf_dir, name)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out


def sql(spark: SparkSession, query: str) -> DataFrame:
    """The engine's SQL surface (Trino-equivalent role)."""
    return spark.sql(query)
