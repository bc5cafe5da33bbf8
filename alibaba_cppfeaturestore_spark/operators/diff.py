"""Snapshot diff / change-data-capture between two table states.

The reconciliation primitive a feature store needs in production:
validate that the streaming online path and the batch offline path
materialized the same state, emit a minimal change feed between daily
snapshots, or audit a backfill. Pure DataFrame plan — one full-outer
join on the keys, null-safe struct comparison for the values.

Scale shape: the join shuffles both snapshots by key once (AQE handles
skew); value comparison is a per-row native expression. For repeated
diffs of huge tables, write both sides bucketed on the keys
(``DataFrameWriter.bucketBy``) and the join runs with no exchange at
all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def snapshot_diff(old: DataFrame, new: DataFrame, keys: list[str]) -> DataFrame:
    """Row-level diff of two snapshots sharing a schema: one output row
    per changed key with ``op`` ∈ {'insert', 'delete', 'update'} and the
    non-key columns prefixed ``old_`` / ``new_`` (nulls on the absent
    side). Unchanged keys produce no row. Value comparison is null-safe
    (NULL ↔ value counts as a change, NULL ↔ NULL does not).
    """
    value_cols = [c for c in old.columns if c not in keys]
    if new.columns != old.columns:
        raise ValueError(f"schema mismatch: {old.columns} vs {new.columns}")

    o = old.select(
        *keys,
        F.lit(True).alias("__in_old"),
        *[F.col(c).alias(f"old_{c}") for c in value_cols],
    )
    n = new.select(
        *keys,
        F.lit(True).alias("__in_new"),
        *[F.col(c).alias(f"new_{c}") for c in value_cols],
    )
    joined = o.join(n, keys, "full_outer")
    same = F.struct(*[F.col(f"old_{c}") for c in value_cols]).eqNullSafe(
        F.struct(*[F.col(f"new_{c}") for c in value_cols])
    )
    op = (
        F.when(F.col("__in_old").isNull(), F.lit("insert"))
        .when(F.col("__in_new").isNull(), F.lit("delete"))
        .when(~same, F.lit("update"))
    )
    return (
        joined.withColumn("op", op)
        .filter(F.col("op").isNotNull())
        .select(
            *keys,
            "op",
            *[f"old_{c}" for c in value_cols],
            *[f"new_{c}" for c in value_cols],
        )
    )
