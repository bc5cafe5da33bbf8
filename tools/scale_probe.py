"""Scale-growth probe: measure how each scale-sensitive operator's
INTERMEDIATE volumes grow across sf0.001 / sf0.01 / sf0.1, as exact
engine-computed row counts.

Wall-clock at laptop scale is dominated by fixed overheads; candidate /
wedge / pair-row counts are the quantities the 100 TB arguments in
SCALING.md actually make claims about ("output-bound, not quadratic").
This prints a markdown table of counts and the growth exponent
log(count_ratio)/log(input_ratio) between successive SFs — ~1.0 means
linear in input, ~2.0 quadratic.

Usage: python tools/scale_probe.py  (≈2-3 min on local[32])
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from alibaba_cppfeaturestore_spark.operators import dedup as DD
from alibaba_cppfeaturestore_spark.operators.joins import bloom_prefilter
from alibaba_cppfeaturestore_spark.operators.retrieval import skipgram_pairs
from alibaba_cppfeaturestore_spark.plans.views import load_table
from alibaba_cppfeaturestore_spark.session import get_spark

SFS = ["sf0.001", "sf0.01", "sf0.1"]


def probes(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    li = load_table(spark, sf_dir, "lineitem")
    out = {}
    out["input_docs"] = docs.count()
    out["input_lineitem"] = li.count()

    # LSH band candidates (pre-verify pair space — the claimed-bounded set)
    banded = DD.minhash_band_index(docs, "text", "doc_id", 32, 4, 5)
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "bucket"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id"), F.col("b.id"))
        .distinct()
    )
    out["lsh_band_candidates"] = cand.count()

    # skip-gram pair rows before aggregation (claimed w×|tokens|)
    toks = docs.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("t"))
    out["corpus_tokens"] = toks.count()
    pairs = skipgram_pairs(docs, window=3, k=10**9)
    out["skipgram_distinct_pairs"] = pairs.count()

    # triangle wedges under degree orientation (claimed Σ out-deg² with
    # out-deg ≲ √E) vs naive Σ deg²
    b = li.select("l_orderkey", "l_partkey").distinct()
    e = (
        b.alias("x")
        .join(b.alias("y"), "l_orderkey")
        .where(F.col("x.l_partkey") < F.col("y.l_partkey"))
        .select(
            F.least("x.l_partkey", "y.l_partkey").alias("a"),
            F.greatest("x.l_partkey", "y.l_partkey").alias("b"),
        )
        .distinct()
    )
    out["copurchase_edges"] = e.count()
    deg = (
        e.select(F.col("a").alias("n"))
        .unionAll(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    ranked = e.join(deg.withColumnRenamed("n", "a").withColumnRenamed("deg", "deg_a"), "a").join(
        deg.withColumnRenamed("n", "b").withColumnRenamed("deg", "deg_b"), "b"
    )
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = ranked.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
    )
    outdeg = oriented.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    [w_row] = outdeg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).alias("wedges")
    ).collect()
    out["triangle_wedges_oriented"] = int(w_row["wedges"])
    [w_naive] = deg.agg(F.sum(F.col("deg") * (F.col("deg") - 1) / 2).alias("w")).collect()
    out["triangle_wedges_naive"] = int(w_naive["w"])

    # ExactSubstr (duplicated_substring_spans) intermediates: total
    # k-gram postings (claimed |tokens|-linear), postings surviving the
    # ≥2-distinct-docs filter (the claimed-bounded set — a boilerplate
    # gram shared by m docs costs m rows, never m²), and output spans
    post = DD.substring_gram_postings(docs, "text", "doc_id", k=8)
    out["exactsubstr_postings"] = post.count()
    dup_h = (
        post.groupBy("h")
        .agg(F.count_distinct("id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    out["exactsubstr_dup_postings"] = post.join(dup_h, "h", "left_semi").count()
    out["exactsubstr_spans"] = DD.duplicated_substring_spans(
        docs, "text", "doc_id", k=8
    ).count()

    # PPJoin (ngram_jaccard_pairs_indexed) intermediates, measured on the
    # operator's OWN index build (pure-code-motion split, not a replica):
    # prefix postings (claimed (1-t)·|tokens|-linear) and distinct
    # candidate pairs surviving the prefix+size filters (the claimed-
    # bounded set — this is what the equi-self-join actually exchanges)
    sorted_docs, postings, bnames, par = DD._ppjoin_index(
        docs, "text", "doc_id", 0.9, None, None
    )
    out["ppjoin_prefix_postings"] = postings.count()
    cand = DD._ppjoin_candidates(postings, bnames, 0.9, par)
    out["ppjoin_candidates"] = cand.count()
    out["ppjoin_pairs_out"] = DD._verify_jaccard(cand, sorted_docs, 0.9).count()
    sorted_docs.unpersist()
    postings.unpersist()

    # bloom prefilter survivors on a 1-nation supplier key set
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    keys = (
        sup.join(nat, sup.s_nationkey == nat.n_nationkey)
        .where(F.col("n_name") == "NATION_7")
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    out["bloom_survivors"] = bloom_prefilter(li, keys, "l_suppkey").count()
    return out


def skew_probe(spark):
    """Quantify the LSH degenerate-bucket defense on the hot-key copy
    (``driver_sim --perturb-skew``: one text owning ~10% of documents at
    sf0.1 → every band collides those docs into one bucket). Candidate
    volumes are computed ARITHMETICALLY from the bucket-size histogram
    (Σ C(m,2)), so the probe itself never materializes the m² pairs it
    measures."""
    from tools.driver_sim import perturb

    skewed = perturb("/root/testdata/sf0.1", "--perturb-skew", 7)
    docs = load_table(spark, skewed, "documents").select("doc_id", "text")
    banded = DD.minhash_band_index(docs, "text", "doc_id", 32, 4, 5)
    sizes = banded.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("m"))
    pair_vol = F.sum(F.col("m") * (F.col("m") - 1) / 2)
    [row] = sizes.agg(
        F.max("m").alias("max_bucket"),
        pair_vol.alias("cand_uncapped"),
        F.sum(
            F.when(F.col("m") <= 10_000, F.col("m") * (F.col("m") - 1) / 2).otherwise(0)
        ).alias("cand_cap_10k"),
        F.sum(
            F.when(F.col("m") <= 100, F.col("m") * (F.col("m") - 1) / 2).otherwise(0)
        ).alias("cand_cap_100"),
    ).collect()
    n_docs = docs.count()
    print(f"# skewed sf0.1: {n_docs} docs, hottest bucket = {row['max_bucket']} members")
    print(f"| candidate pairs (Σ C(m,2) over buckets) | {int(row['cand_uncapped'])} |")
    print(f"| …surviving max_bucket_size=10000 (default) | {int(row['cand_cap_10k'])} |")
    print(f"| …surviving max_bucket_size=100 | {int(row['cand_cap_100'])} |")
    print(
        "# the cap trades recall ON the hot bucket for boundedness: members of a\n"
        "# dropped bucket stay candidates only via their other bands, and for\n"
        "# IDENTICAL texts every band is the same bucket — so capping below the\n"
        "# duplicate-group size drops those pairs. Size the cap above the largest\n"
        "# legitimate duplicate group, not at the shuffle-comfort point."
    )


def overlap_probe(spark):
    """Quantify ``interval_overlap_join``'s hot-bin worst case (r10
    verdict item 6) the way the LSH degenerate bucket was probed:
    per-bin occupancy histograms of the sessionized sf0.1 spans, on the
    NATURAL time distribution and on a flash-crowd variant (~30% of
    sessions re-based into one hour). Pair volumes are computed
    ARITHMETICALLY from the histogram (Σ m·(m−1)/2 within each hourly
    bin), so the probe never materializes the m² pairs it measures. The
    hottest bin's C(m,2) is what one reducer owns (a crowded hour's
    pairs genuinely all overlap, so the OUTPUT is ~m²)."""
    from pyspark.sql import Window

    ev = load_table(spark, "/root/testdata/sf0.1", "events")
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cum = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lag_ts = F.lag("ts").over(order)
    new_s = F.when(
        lag_ts.isNull() | (F.col("ts") - lag_ts > F.expr("INTERVAL 30 MINUTES")), 1
    ).otherwise(0)
    spans = (
        ev.withColumn("new_s", new_s)
        .withColumn("sid", F.sum("new_s").over(cum))
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
        .select(
            F.unix_timestamp("lo").cast("double").alias("lo"),
            F.unix_timestamp("hi").cast("double").alias("hi"),
        )
    )

    def histo(df, label):
        # occupancy per hourly bin: each interval touches bins
        # floor(lo/3600)..floor(hi/3600); pairs meet in ONE bin, and the
        # within-bin comparison volume is bounded by C(m,2) per bin
        occ = (
            df.withColumn(
                "bin",
                F.explode(
                    F.sequence(
                        F.floor(F.col("lo") / 3600).cast("bigint"),
                        F.floor(F.col("hi") / 3600).cast("bigint"),
                    )
                ),
            )
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("m"))
        )
        [row] = occ.agg(
            F.count(F.lit(1)).alias("n_bins"),
            F.max("m").alias("max_m"),
            F.sum(F.col("m") * (F.col("m") - 1) / 2).alias("pairs"),
        ).collect()
        n = df.count()
        hot_pairs = row["max_m"] * (row["max_m"] - 1) // 2
        print(
            f"| {label} | {n} | {row['n_bins']} | {row['max_m']} "
            f"| {int(row['pairs'])} | {hot_pairs} |"
        )
        return row

    print("| regime | n_sessions | bins touched | hottest bin m | Σ C(m,2) | hot-bin C(m,2) |")
    print("|---|---|---|---|---|---|")
    nat = histo(spans, "natural sf0.1")
    # flash-crowd: re-base ~30% of sessions into one hour, preserving
    # (capped) duration so every re-based interval stays in-bin
    hot_start = 3600.0 * 1_000_000
    crowd = spans.withColumn("dur", F.least(F.col("hi") - F.col("lo"), F.lit(3500.0)))
    crowd = crowd.select(
        F.when(
            F.pmod(F.xxhash64("lo", "hi"), F.lit(10)) < 3,
            F.lit(hot_start) + F.pmod(F.xxhash64("hi", "lo"), F.lit(100)).cast("double"),
        )
        .otherwise(F.col("lo"))
        .alias("lo2"),
        F.col("lo").alias("olo"),
        "hi",
        "dur",
    ).select(
        F.col("lo2").alias("lo"),
        F.when(F.col("lo2") != F.col("olo"), F.col("lo2") + F.col("dur"))
        .otherwise(F.col("hi"))
        .alias("hi"),
    )
    hot = histo(crowd, "flash-crowd 30%")
    hot_share = (hot["max_m"] * (hot["max_m"] - 1) / 2) / max(hot["pairs"], 1)
    nat_share = (nat["max_m"] * (nat["max_m"] - 1) / 2) / max(nat["pairs"], 1)
    print(
        "# reading: the natural distribution's hottest hourly bin is tiny (events\n"
        "# spread over the generator's date range); the flash-crowd bin owns ~30%\n"
        "# of sessions and C(m,2) of it is the REAL output size (they all overlap),\n"
        "# owned by one reducer.\n"
        f"# hot-bin share of total pair volume: natural {nat_share:.1%} -> "
        f"flash-crowd {hot_share:.1%}"
    )


def tpr_probe(spark):
    """Measure ``two_phase_rank``'s scale behavior the way ExactSubstr
    was probed: for the pareto-shaped |customers|-row aggregate at
    sf0.01 / sf0.1 and B ∈ {64, 512}, count boundaries actually sampled,
    bucket-size balance (max / ideal n/(#buckets)), and the stats-stage
    row volume — the quantities the SCALING.md argument ("two balanced
    shuffles + tiny broadcasts, no single-partition window") makes
    claims about. Boundary sampling is hash-Bernoulli with p = 1/mod,
    so #bounds ≈ B with binomial spread; balance degrades only with
    boundary luck, never with data volume."""
    import math as _math

    from alibaba_cppfeaturestore_spark.operators import ranks as R

    print("| sf | n_input | B | mod | n_bounds | n_buckets | max_bucket | ideal | balance(max/ideal) | stats_rows |")
    print("|---|---|---|---|---|---|---|---|---|---|")
    results = {}
    for sf in ["sf0.001", "sf0.01", "sf0.1"]:
        o = load_table(spark, f"/root/testdata/{sf}", "orders")
        cust = o.groupBy("o_custkey").agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
        )
        keyed = cust.withColumn(
            R._KEY,
            F.struct(
                F.col("rev").isNull().cast("int").alias("k0"),
                (-F.col("rev")).alias("k1"),
                F.col("o_custkey").alias("k2"),
            ),
        ).persist()
        n = keyed.count()
        for B in [64, 512]:
            mod = max(1, n // B)
            bounds = keyed.where(F.pmod(F.xxhash64(R._KEY), F.lit(mod)) == 0)
            n_bounds = bounds.count()
            barr = bounds.agg(
                F.array_sort(F.collect_list(R._KEY)).alias("__scalar_bounds")
            )
            sizes = (
                keyed.crossJoin(F.broadcast(barr))
                .withColumn(
                    "__bkt",
                    F.size(F.filter(F.col("__scalar_bounds"), lambda b: b < F.col(R._KEY))),
                )
                .groupBy("__bkt")
                .agg(F.count(F.lit(1)).alias("m"))
            )
            [srow] = sizes.agg(
                F.count(F.lit(1)).alias("nb"), F.max("m").alias("mx")
            ).collect()
            ideal = n / srow["nb"]
            results[(sf, B)] = (n, n_bounds, srow["nb"], srow["mx"])
            print(
                f"| {sf} | {n} | {B} | {mod} | {n_bounds} | {srow['nb']} | "
                f"{srow['mx']} | {ideal:.0f} | {srow['mx'] / ideal:.2f} | {srow['nb']} |"
            )
        keyed.unpersist()
    # growth exponents for the boundary/stats stage (the only new
    # materialized sets; the windowed stage is the input itself = 1.0
    # by construction)
    for B in [64, 512]:
        (n0, b0, _, _) = results[("sf0.01", B)]
        (n1, b1, _, _) = results[("sf0.1", B)]
        e = _math.log(max(b1, 1) / max(b0, 1)) / _math.log(n1 / n0)
        print(f"# B={B}: boundary-count exponent sf0.01→0.1 = {e:.2f} "
              "(≈0 expected — #bounds targets B regardless of n)")


def main():
    spark = get_spark()
    if "--skew" in sys.argv:
        skew_probe(spark)
        return
    if "--tpr" in sys.argv:
        tpr_probe(spark)
        return
    if "--overlap" in sys.argv:
        overlap_probe(spark)
        return
    rows = {}
    for sf in SFS:
        rows[sf] = probes(spark, f"/root/testdata/{sf}")
        print(f"# {sf}: {rows[sf]}", flush=True)

    metrics = list(rows[SFS[0]].keys())
    print("\n| metric | " + " | ".join(SFS) + " | exp(0.001→0.01) | exp(0.01→0.1) |")
    print("|" + "---|" * (len(SFS) + 3))
    for m in metrics:
        vals = [rows[sf][m] for sf in SFS]
        base = (
            "input_docs"
            if "doc" in m or "token" in m or "lsh" in m or "skip" in m
            or "exactsubstr" in m or "ppjoin" in m
            else "input_lineitem"
        )
        exps = []
        for i in range(2):
            c0, c1 = vals[i], vals[i + 1]
            b0, b1 = rows[SFS[i]][base], rows[SFS[i + 1]][base]
            if c0 > 0 and b1 > b0:
                exps.append(f"{math.log(max(c1, 1) / c0) / math.log(b1 / b0):.2f}")
            else:
                exps.append("—")
        print(f"| {m} | " + " | ".join(str(v) for v in vals) + f" | {exps[0]} | {exps[1]} |")


if __name__ == "__main__":
    main()
