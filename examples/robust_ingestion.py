"""Robust ingestion: the finite-domain discipline on corrupted feeds.

    PYTHONPATH=. python examples/robust_ingestion.py

Production feeds emit NaN, ±Inf and absurd magnitudes (sensor glitches,
upstream div-by-zero, unit bugs) and embedding pipelines emit vectors
with non-finite components. This example corrupts a feed ON PURPOSE and
shows each engine surface handling it by declared policy instead of
crashing (Spark 4's ANSI decimal cast throws on specials) or silently
absorbing garbage:

- scalar measurements  -> out-of-domain becomes MISSING (NULL), so sums,
  percentiles, histograms and scalers see only real readings;
- embedding vectors    -> a vector with any non-finite component is one
  corrupt measurement and its row is excluded before similarity search;
- histogram bins       -> NaN/±Inf readings are EXCLUDED (a corrupt
  reading never fabricates a bin count), while every FINITE value —
  however large — clamps into an edge bin per the operator's contract.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from alibaba_cppfeaturestore_spark.functions.finite import finite_double
from alibaba_cppfeaturestore_spark.functions.vectors import (
    cosine_similarity,
    finite_vector,
    is_finite_vector,
)
from alibaba_cppfeaturestore_spark.operators.scaling import (
    apply_standard_scaler,
    fit_standard_scaler,
)
from alibaba_cppfeaturestore_spark.operators.sketches import binned_histogram
from alibaba_cppfeaturestore_spark.session import get_spark

NAN, INF = float("nan"), float("inf")


def main() -> None:
    spark = get_spark(app_name="robust_ingestion_example")

    # --- a corrupted scalar feed -----------------------------------------
    readings = spark.createDataFrame(
        [(1, 12.5), (2, 14.1), (3, NAN), (4, INF), (5, -INF),
         (6, 1e300), (7, 13.2), (8, None)],
        "sensor_id long, value double",
    )

    # out-of-domain -> NULL; every downstream aggregate skips it
    clean = readings.select("sensor_id", finite_double("value").alias("value"))
    stats = clean.agg(
        F.count("value").alias("n_observed"),
        F.round(F.avg("value"), 3).alias("mean"),
        F.round(F.expr("percentile(value, 0.5)"), 3).alias("p50"),
    )
    print("scalar feed (3 real readings survive 5 corrupt/missing):")
    stats.show()

    # the histogram EXCLUDES NaN/±Inf (no fabricated bin-0 counts —
    # greatest/least would otherwise resurrect them) but CLAMPS the
    # finite 1e300 outlier into the top bin per the clamp contract
    print("histogram over the same feed (NaN/Inf dropped, 1e300 -> top bin):")
    binned_histogram(readings, "value", 5.0, 4).orderBy("bin").show()

    # a scaler fit never sees the specials, so z-scores stay informative
    scaled = apply_standard_scaler(clean, fit_standard_scaler(clean, ["value"]))
    print("z-scores (corrupt rows NULL, fit unpoisoned):")
    scaled.orderBy("sensor_id").show()

    # --- a corrupted embedding feed --------------------------------------
    vecs = spark.createDataFrame(
        [
            (1, [0.1, 0.9, 0.2]),
            (2, [0.2, 0.8, 0.1]),
            (3, [NAN, 0.5, 0.5]),   # NaN component -> corrupt vector
            (4, [INF, 0.0, 0.0]),   # Inf component -> corrupt vector
            (5, [0.9, 0.1, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    kept = vecs.where(is_finite_vector(F.col("embedding")))
    print(f"embeddings: {vecs.count()} in, {kept.count()} finite kept")

    q = kept.where(F.col("vec_id") == 1).select(
        F.col("embedding").alias("__scalar_qv")
    )
    sims = (
        kept.where(F.col("vec_id") != 1)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(
                cosine_similarity(F.col("embedding"), F.col("__scalar_qv")), 4
            ).alias("cos"),
        )
        .orderBy(F.desc("cos"))
    )
    print("cosine neighbors of vec 1 (corrupt vectors never scored):")
    sims.show()

    # finite_vector as a projection (NULL instead of exclusion), for
    # pipelines that must keep the row but mark the vector missing
    marked = vecs.select("vec_id", finite_vector(F.col("embedding")).alias("emb"))
    print("finite_vector projection (corrupt -> NULL, row kept):")
    marked.orderBy("vec_id").show(truncate=False)

    spark.stop()
    print("robust ingestion example complete.")


if __name__ == "__main__":
    main()
