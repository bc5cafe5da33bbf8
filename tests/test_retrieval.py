"""Lexical retrieval (BM25, term stats) and JL random projection.

Oracle parity at sf0.01 is covered by test_oracle_parity; these tests pin
the SEMANTICS on tiny hand-computable corpora and the determinism
contracts (seeded matrices, pinned ties).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from alibaba_cppfeaturestore_spark.functions.vectors import (
    projection_signs,
    random_projection,
)
from alibaba_cppfeaturestore_spark.operators.retrieval import (
    BM25_B,
    BM25_K1,
    bm25_scores,
    bm25_topk,
    top_terms,
)


@pytest.fixture(scope="module")
def tiny_corpus(spark):
    rows = [
        (1, "spark joins data with data"),
        (2, "joins joins joins everywhere"),
        (3, "nothing relevant here at all"),
        (4, "data data data data data data"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _bm25_expected(corpus_tokens: dict[int, list[str]], terms: list[str]) -> dict[int, float]:
    n = len(corpus_tokens)
    avgdl = sum(len(t) for t in corpus_tokens.values()) / n
    dfreq = {
        t: sum(1 for toks in corpus_tokens.values() if t in toks) for t in terms
    }
    out: dict[int, float] = {}
    for doc, toks in corpus_tokens.items():
        s = 0.0
        for t in terms:
            tf = toks.count(t)
            if tf == 0 or dfreq[t] == 0:
                continue
            idf = math.log(1 + (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            s += idf * (tf * (BM25_K1 + 1)) / (
                tf + BM25_K1 * (1 - BM25_B + BM25_B * len(toks) / avgdl)
            )
        if s > 0:
            out[doc] = s
    return out


def test_bm25_matches_hand_formula(tiny_corpus):
    terms = ["joins", "data"]
    got = {
        r["doc_id"]: r["bm25"]
        for r in bm25_scores(tiny_corpus, terms).collect()
    }
    toks = {
        1: "spark joins data with data".split(),
        2: "joins joins joins everywhere".split(),
        3: "nothing relevant here at all".split(),
        4: "data data data data data data".split(),
    }
    want = _bm25_expected(toks, terms)
    assert set(got) == set(want)  # doc 3 matches no term -> absent
    for doc, score in want.items():
        assert got[doc] == pytest.approx(score, rel=1e-9)


def test_bm25_empty_terms_returns_empty_typed_frame(tiny_corpus):
    # regression (r08): the columnar shape crashed on [] (comp_sum None);
    # an empty query matches no document, typed (doc_id, bm25 double)
    out = bm25_scores(tiny_corpus, [])
    assert out.columns == ["doc_id", "bm25"]
    assert dict(out.dtypes)["bm25"] == "double"
    assert out.count() == 0


def test_bm25_duplicate_terms_dedup_both_shapes(tiny_corpus):
    # a repeated term must not double its component — and the dedup must
    # hold on BOTH physical shapes (<=16 terms columnar, >16 postings)
    clean = {r["doc_id"]: r["bm25"] for r in bm25_scores(tiny_corpus, ["joins", "data"]).collect()}
    dup_cols = {
        r["doc_id"]: r["bm25"]
        for r in bm25_scores(tiny_corpus, ["joins", "data", "joins"]).collect()
    }
    # 15 distinct absent fillers + dup crosses the 16-term threshold into
    # the postings shape with the same distinct-term set
    fillers = [f"zz{i}" for i in range(15)]
    dup_postings = {
        r["doc_id"]: r["bm25"]
        for r in bm25_scores(tiny_corpus, ["joins", "data", "joins", *fillers]).collect()
    }
    assert dup_cols == pytest.approx(clean, rel=1e-9)
    assert dup_postings == pytest.approx(clean, rel=1e-9)


def test_bm25_topk_cut_and_tiebreak(tiny_corpus):
    rows = bm25_topk(tiny_corpus, ["joins", "data"], k=2).collect()
    assert len(rows) == 2
    # scores strictly ordered desc; ties would fall back to doc_id asc
    assert rows[0]["bm25"] >= rows[1]["bm25"]


def test_top_terms_counts_and_rank(tiny_corpus):
    rows = top_terms(tiny_corpus, k=3).collect()
    assert [r["rank"] for r in rows] == [1, 2, 3]
    head = rows[0]
    # 'data' occurs 8 times across docs 1 and 4
    assert head["token"] == "data"
    assert head["n_occurrences"] == 8
    assert head["n_docs"] == 2
    # rank 2: 'joins' (4 occurrences, docs 1 and 2)
    assert rows[1]["token"] == "joins"
    assert rows[1]["n_occurrences"] == 4


def test_projection_signs_deterministic_and_shaped():
    a = projection_signs(4, 64)
    b = projection_signs(4, 64)
    assert a == b
    assert len(a) == 4 and all(len(r) == 64 for r in a)
    assert all(s in (1.0, -1.0) for r in a for s in r)
    # a different seed/dims pair gives a different matrix
    assert projection_signs(4, 64, seed=1) != a


def test_random_projection_of_basis_vectors(spark):
    """Projecting unit basis vector e_i must yield signs[:, i] / sqrt(out):
    the projection is exactly the matrix column."""
    signs = projection_signs(4, 8)
    basis = [(i, [1.0 if j == i else 0.0 for j in range(8)]) for i in range(8)]
    df = spark.createDataFrame(basis, ["i", "v"])
    out = df.select(
        "i", random_projection(F.col("v"), signs).alias("p")
    ).collect()
    for row in out:
        expect = [signs[j][row["i"]] / math.sqrt(4) for j in range(4)]
        assert row["p"] == pytest.approx(expect, abs=1e-12)


def test_random_projection_preserves_scaled_norm(spark):
    """E[|p|^2] = |v|^2 under the Achlioptas scaling — for the all-ones
    vector the projection components are (row sums)/sqrt(out), checkable
    exactly."""
    signs = projection_signs(4, 16)
    df = spark.createDataFrame([([1.0] * 16,)], ["v"])
    (row,) = df.select(random_projection(F.col("v"), signs).alias("p")).collect()
    expect = [sum(r) / math.sqrt(4) for r in signs]
    assert row["p"] == pytest.approx(expect, abs=1e-12)


def test_bottomk_sketch_estimates_jaccard(spark):
    """Identical docs share the full sketch; disjoint docs share none;
    a doc overlapping half its shingles lands in between."""
    from alibaba_cppfeaturestore_spark.operators.dedup import bottomk_sketch_pairs

    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    b = a  # exact duplicate
    c = "one two three four five six seven eight nine ten " * 3
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], ["doc_id", "text"]
    )
    rows = bottomk_sketch_pairs(
        df, shingle_n=3, k=16, min_shared=1
    ).collect()
    got = {(r["id_a"], r["id_b"]): r["shared_hashes"] for r in rows}
    # the exact-duplicate pair shares its whole (distinct-shingle) sketch
    assert (1, 2) in got and got[(1, 2)] >= 10
    # the disjoint doc pairs with nobody
    assert all(3 not in pair for pair in got)


def test_bottomk_sketch_bucket_cap_drops_hot_hash(spark):
    from alibaba_cppfeaturestore_spark.operators.dedup import bottomk_sketch_pairs

    boiler = "common boiler plate text repeated everywhere always " * 2
    df = spark.createDataFrame(
        [(i, boiler) for i in range(6)], ["doc_id", "text"]
    )
    uncapped = bottomk_sketch_pairs(df, min_shared=1).count()
    capped = bottomk_sketch_pairs(df, min_shared=1, max_bucket_size=3).count()
    assert uncapped == 15  # 6 choose 2
    assert capped == 0  # every bucket is hotter than the cap


def test_unigram_logprob_orders_quality(spark):
    """A doc made of corpus-typical tokens must outscore a doc of
    singleton junk tokens; values match the hand-computed distribution."""
    import math

    from alibaba_cppfeaturestore_spark.operators.retrieval import (
        unigram_logprob_scores,
    )

    rows = [
        (1, "the the the cat"),
        (2, "the cat"),
        (3, "zxqv jkwp"),  # junk: each token occurs once in the corpus
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_tokens"], r["avg_logprob"])
        for r in unigram_logprob_scores(df).collect()
    }
    # corpus: the=4, cat=2, zxqv=1, jkwp=1, total=8
    lp = lambda c: math.log(c / 8)
    want1 = (3 * lp(4) + lp(2)) / 4
    want3 = lp(1)
    assert got[1][0] == 4 and got[1][1] == pytest.approx(want1, rel=1e-12)
    assert got[3][1] == pytest.approx(want3, rel=1e-12)
    assert got[1][1] > got[3][1]  # typical text beats junk


def test_skipgram_pairs_matches_python_reference(spark):
    from alibaba_cppfeaturestore_spark.operators.retrieval import skipgram_pairs
    from collections import Counter

    rows = [(1, "a b a c"), (2, "b a b"), (3, "c c a")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.w1, r.w2): r.n for r in skipgram_pairs(df, window=2, k=100).collect()}
    ref = Counter()
    for _, text in rows:
        ts = text.split()
        for i, w1 in enumerate(ts):
            for j in range(i + 1, min(i + 3, len(ts))):
                ref[(w1, ts[j])] += 1
    assert got == dict(ref)


def test_skipgram_join_is_hash_join_not_nested_loop(spark):
    from alibaba_cppfeaturestore_spark.operators.retrieval import skipgram_pairs

    df = spark.createDataFrame([(i, "x y z w v") for i in range(50)], "doc_id long, text string")
    plan = skipgram_pairs(df)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_tfidf_doc_terms_matches_sklearn_style_reference(spark):
    import math
    from collections import Counter
    from alibaba_cppfeaturestore_spark.operators.retrieval import tfidf_doc_terms

    rows = [(1, "cat dog cat"), (2, "dog fish"), (3, "cat fish fish bird")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sel = spark.createDataFrame([(1,), (3,)], "doc_id long")
    got = {
        (r.doc_id, r.term): (r.tf, r.df, r.tfidf)
        for r in tfidf_doc_terms(df, sel, k=10).collect()
    }
    dfreq = Counter()
    for _, t in rows:
        for w in set(t.split()):
            dfreq[w] += 1
    for doc_id, text in rows:
        if doc_id == 2:
            continue
        tf = Counter(text.split())
        for w, n in tf.items():
            want = round(n * math.log(3 / dfreq[w]), 6)
            assert got[(doc_id, w)] == (n, dfreq[w], want)
    assert not any(d == 2 for d, _ in got)


def test_bpe_merge_pair_counts_matches_python_reference(spark):
    import re
    from collections import Counter
    from alibaba_cppfeaturestore_spark.functions.text import BPE_PRETOKEN_PATTERN
    from alibaba_cppfeaturestore_spark.operators.retrieval import bpe_merge_pair_counts

    rows = [(1, "low lower lowest"), (2, "new newer newest low")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.left, r.right): r.n for r in bpe_merge_pair_counts(df, k=1000).collect()}
    ref = Counter()
    for _, text in rows:
        for pt in re.findall(BPE_PRETOKEN_PATTERN, text):
            for a, b in zip(pt, pt[1:]):
                ref[(a, b)] += 1
    assert got == dict(ref)


def test_inverted_index_gaps_reconstruct_postings(spark):
    from alibaba_cppfeaturestore_spark.operators.retrieval import inverted_index

    rows = [(1, "a b"), (5, "a c"), (9, "a b c"), (2, "z")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.term: r for r in inverted_index(df, min_df=2, max_df=10).collect()}
    # 'z' (df=1) excluded by band
    assert set(out) == {"a", "b", "c"}
    assert out["a"].postings == [1, 5, 9] and out["a"].gaps == [1, 4, 4]
    assert out["b"].postings == [1, 9] and out["b"].gaps == [1, 8]
    # cumulative sum of gaps reconstructs the posting list
    for r in out.values():
        acc, rebuilt = 0, []
        for g in r.gaps:
            acc += g
            rebuilt.append(acc)
        assert rebuilt == r.postings and r.df == len(r.postings)


def test_token_entropy_matches_scipy_reference(spark):
    import math
    from collections import Counter
    from alibaba_cppfeaturestore_spark.plans.catalog import QUERIES

    rows = [(1, "a a a a"), (2, "a b c d"), (3, "x x y y z")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.createOrReplaceTempView("__ent_docs")
    # drive the same operator shape on a local frame via the catalog fn's
    # internals: recompute with the python reference
    from pyspark.sql import functions as F
    from alibaba_cppfeaturestore_spark.functions.text import tokens

    toks = df.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    counts = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("tok", "c"))),
                lambda s: (s["c"] * F.log(s["c"])).cast("double"),
            ),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x,
        ).alias("s"),
    ).collect()
    got = {r.doc_id: math.log(r.n) - r.s / r.n for r in per_doc}
    for doc_id, text in rows:
        cnt = Counter(text.split())
        n = sum(cnt.values())
        want = -sum((c / n) * math.log(c / n) for c in cnt.values())
        assert abs(got[doc_id] - want) < 1e-12
    # degenerate: single repeated token → entropy 0; uniform → ln(k)
    assert abs(got[1]) < 1e-12
    assert abs(got[2] - math.log(4)) < 1e-12


def test_hybrid_rrf_properties(spark):
    """RRF fusion: docs ranked by both legs must outrank docs ranked by
    only one at similar positions; output bounded and deterministic."""
    from alibaba_cppfeaturestore_spark.plans.catalog import QUERIES

    sf = "/root/testdata/sf0.01"
    rows = QUERIES["hybrid_rrf_retrieval"].spark(spark, sf).collect()
    assert 0 < len(rows) <= 10
    # rrf strictly equals the two-term formula
    for r in rows:
        want = (1.0 / (60 + r.lex_rank) if r.lex_rank else 0.0) + (
            1.0 / (60 + r.vec_rank) if r.vec_rank else 0.0
        )
        assert r.rrf == want
    # descending fusion order with id tie-break
    scores = [(r.rrf, -r.doc_id) for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_js_divergence_bounds_and_identical_distributions(spark, tmp_path):
    import math
    from alibaba_cppfeaturestore_spark.plans.catalog import QUERIES

    sf = "/root/testdata/sf0.01"
    [row] = QUERIES["corpus_drift_js_divergence"].spark(spark, sf).collect()
    # JS divergence is bounded by ln(2) and non-negative
    assert 0.0 <= row.js_divergence <= math.log(2) + 1e-12
    assert row.n_tokens_old > 0 and row.n_tokens_new > 0
    # identical halves → JS == 0: duplicate every doc into both halves
    docs = spark.createDataFrame(
        [(0, "a b c"), (1, "a b c"), (2, "x y"), (3, "x y")],
        "doc_id long, text string",
    )
    docs.createOrReplaceTempView("documents")  # not used by the fn; direct call:
    from alibaba_cppfeaturestore_spark.plans.catalog import QUERIES as Q
    import os
    d = str(tmp_path)
    docs.withColumn("lang", F.lit("en")).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    [r2] = Q["corpus_drift_js_divergence"].spark(spark, d).collect()
    assert abs(r2.js_divergence) < 1e-15


def test_bigram_logprob_repetitive_beats_random(spark, tmp_path):
    """A perfectly repetitive doc must out-score shuffled token soup
    under the corpus's own bigram model."""
    import os
    from alibaba_cppfeaturestore_spark.plans.catalog import QUERIES

    rows = [
        (1, "the cat sat on the mat the cat sat on the mat", "en"),
        (2, "mat the on cat sat the mat on the sat cat the", "en"),
        (3, "the cat sat on the mat again and again and again", "en"),
    ]
    d = str(tmp_path)
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "documents.parquet"))
    out = {r.doc_id: r for r in QUERIES["quality_bigram_logprob"].spark(spark, d).collect()}
    assert set(out) == {1, 2, 3}
    assert all(r.avg_bigram_logprob < 0 for r in out.values())
    # the coherent repeat (1) scores above the shuffled version (2)
    assert out[1].avg_bigram_logprob > out[2].avg_bigram_logprob
