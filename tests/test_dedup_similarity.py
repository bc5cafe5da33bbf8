"""Semantic tests for dedup and similarity operators (the rows-only ops).

The driver can only count rows for hash-specific operators; these tests pin
the actual semantics: planted near-duplicates are found, unrelated docs are
not, LSH recall tracks brute force, signatures are deterministic.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from alibaba_cppfeaturestore_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_duplicates,
    simhash_duplicates,
)
from alibaba_cppfeaturestore_spark.operators.similarity import (
    brute_force_topk,
    lsh_bucketed_topk,
)
from alibaba_cppfeaturestore_spark.plans.views import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF, "documents").select("doc_id", "text")


def test_exact_dedup_keeps_min_id(spark, docs):
    corpus = docs.unionByName(
        docs.select((F.col("doc_id") + 10_000).alias("doc_id"), "text")
    )
    out = exact_dedup(corpus, cols=["text"], id_col="doc_id")
    assert out.count() == docs.count()
    assert out.agg(F.max("doc_id")).first()[0] < 10_000  # originals win


def test_exact_dedup_tiebreak_closes_the_order_under_duplicate_ids(spark):
    # r11 eleven-mode-stack find (seed 349): duplicated ids let two rows
    # tie on (content, id) while differing in a carried-along column —
    # without a tiebreak, which value the representative carries is a
    # shuffle accident. ASC NULLS FIRST on the tiebreak column.
    rows = [
        (1, "same text", "zz"),
        (1, "same text", "aa"),
        (1, "same text", None),
        (2, "same text", "bb"),
        (7, "other", "cc"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = exact_dedup(df, cols=["text"], id_col="doc_id", tiebreak=["lang"]).collect()
    got = {(r.doc_id, r.lang) for r in out}
    assert got == {(1, None), (7, "cc")}  # NULL lang sorts first among the id-1 ties


def test_minhash_finds_planted_near_dups(spark, docs):
    base = docs.limit(50)
    mutants = base.select(
        (F.col("doc_id") + 10_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"),
    )
    corpus = base.unionByName(mutants)
    pairs = minhash_lsh_duplicates(
        corpus, num_hashes=32, bands=4, jaccard_threshold=0.7
    )
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    planted = {(r["doc_id"], r["doc_id"] + 10_000) for r in base.collect()}
    recall = len(found & planted) / len(planted)
    assert recall >= 0.8, f"LSH recall too low: {recall}"


def test_minhash_duplicate_ids_emit_no_self_pairs(spark, docs):
    """minhash_lsh_duplicates has no unique-id precondition (only the
    catalog entries canonicalize): two rows sharing an id land in the
    same bucket, and the positional pair expansion must not emit an
    (x, x) self-pair — it would survive exact verify with J = 1."""
    base = docs.limit(20)
    dup_ids = base.unionByName(base)  # every id appears twice, same text
    pairs = minhash_lsh_duplicates(
        dup_ids, num_hashes=32, bands=4, jaccard_threshold=0.7
    ).collect()
    assert all(r["id_a"] < r["id_b"] for r in pairs)


def test_minhash_duplicate_ids_differing_texts_merge_signatures(spark, docs):
    """Duplicate ids with DIFFERENT texts: the groupBy(id) aggregation
    produces ONE signature per id over the UNION of the rows' shingles
    (min is associative: sig(S∪T) = elementwise-min(sig(S), sig(T))) —
    the documented per-id contract, matching the oracle's GROUP BY id."""
    from alibaba_cppfeaturestore_spark.operators.dedup import minhash_band_index

    base = docs.limit(10).select("doc_id", "text")
    alt = base.select(
        "doc_id", F.concat(F.lit("totally different prefix words "), F.col("text")).alias("text")
    )
    merged = minhash_band_index(base.unionByName(alt), num_hashes=16, bands=4)
    # per-row signatures from disjoint synthetic ids, then elementwise min
    tagged = base.select((F.col("doc_id") * 2).alias("doc_id"), "text").unionByName(
        alt.select((F.col("doc_id") * 2 + 1).alias("doc_id"), "text")
    )
    per_row = {
        r["id"]: r["sig"]
        for r in minhash_band_index(tagged, num_hashes=16, bands=4)
        .select("id", "sig")
        .distinct()
        .collect()
    }
    got = {r["id"]: r["sig"] for r in merged.select("id", "sig").distinct().collect()}
    assert len(got) == 10
    for i, sig in got.items():
        expect = [min(a, b) for a, b in zip(per_row[2 * i], per_row[2 * i + 1])]
        assert sig == expect, i


def test_bm25_duplicate_and_null_ids_merge_like_one_document(spark):
    """bm25_scores' duplicate-id contract: rows sharing an id (including
    the NULL-id group) are ONE logical document — tf and dl sum across
    copies, N/avgdl/df over merged docs — and BOTH physical shapes
    (columnar ≤16 terms, postings >16 via forced threshold) agree with a
    pre-merged corpus exactly."""
    from alibaba_cppfeaturestore_spark.operators import retrieval as R

    rows = [
        (1, "join the filter window now"),
        (1, "join again with more join tokens"),  # dup id, different text
        (2, "filter only here"),
        (None, "window window join"),  # NULL-id pseudo-doc
        (None, "filter"),
        (3, "nothing relevant at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merged = spark.createDataFrame(
        [
            (1, "join the filter window now join again with more join tokens"),
            (2, "filter only here"),
            (None, "window window join filter"),
            (3, "nothing relevant at all"),
        ],
        "doc_id long, text string",
    )
    terms = ["join", "filter", "window"]

    def scores(frame, term_list):
        return {
            r["doc_id"]: round(r["bm25"], 9)
            for r in R.bm25_scores(frame, term_list).collect()
        }

    col_dup = scores(df, terms)
    col_merged = scores(merged, terms)
    assert col_dup == col_merged
    # postings shape on the duplicate corpus must agree too: call the
    # wide path by slicing bm25_scores' internals via a >16 unique-term
    # list that contains the 3 real terms plus 14 absent fillers (absent
    # terms have df=0 ⇒ no postings ⇒ contribute nothing)
    wide_terms = terms + [f"zz_absent_{i}" for i in range(14)]
    wide_dup = scores(df, wide_terms)
    wide_merged = scores(merged, wide_terms)
    assert wide_dup == wide_merged
    assert set(col_dup) == {1, 2, None}  # doc 3 matches nothing
    assert wide_dup == col_dup  # same idf inputs ⇒ same scores across shapes


def test_minhash_degenerate_texts_get_sentinel_signature(spark):
    """Empty/null/too-short texts must carry the [p]*num_hashes sentinel
    in BOTH hash modes — xxhash64(NULL)=42 would otherwise give every
    degenerate doc a shared 42-derived signature (fold-parity divergence;
    round-7 advisor find) — and sentinel rows are dropped before bucket
    grouping, so degenerate docs never co-bucket into m² screen pairs."""
    from alibaba_cppfeaturestore_spark.operators.dedup import (
        _MINHASH_PRIME,
        _lsh_candidates,
        minhash_band_index,
    )

    rows = [(1, ""), (2, None), (3, "abc"), (4, "x"), (5, "a longer real document text here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for portable in (False, True):
        idx = minhash_band_index(df, num_hashes=8, bands=2, portable=portable)
        sigs = {r["id"]: r["sig"] for r in idx.select("id", "sig").distinct().collect()}
        sentinel = [_MINHASH_PRIME] * 8
        for did in (1, 2, 3, 4):  # shorter than the 5-char shingle ⇒ no shingles
            assert sigs[did] == sentinel, (portable, did, sigs[did])
        assert sigs[5] != sentinel
        # threshold 0 passes every co-bucketed pair through the screen,
        # so any pair here would be a sentinel bucket's expansion
        pairs = _lsh_candidates(idx, 8, 0.0, None).collect()
        assert pairs == [], pairs


def test_minhash_no_false_pairs_between_distinct_docs(spark, docs):
    pairs = minhash_lsh_duplicates(
        docs.limit(50), num_hashes=32, bands=4, jaccard_threshold=0.9
    )
    # Every emitted pair is exact-Jaccard-verified ≥ 0.9, so only true
    # near-dups may appear. The sf0.001 corpus plants exactly one such
    # pair among the first 50 docs: (8, 12) with jaccard ≈ 0.985.
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert found <= {(8, 12)}, f"false pairs: {found - {(8, 12)}}"


def test_simhash_finds_planted_near_dups(spark, docs):
    base = docs.limit(30)
    mutants = base.select(
        (F.col("doc_id") + 10_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"),
    )
    pairs = simhash_duplicates(base.unionByName(mutants), max_hamming=3)
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    planted = {(r["doc_id"], r["doc_id"] + 10_000) for r in base.collect()}
    recall = len(found & planted) / len(planted)
    assert recall >= 0.5, f"simhash recall too low: {recall}"


def test_winnow_shared_substring_guarantee(spark):
    from alibaba_cppfeaturestore_spark.functions.text import winnow_fingerprints

    shared = "the quick brown fox jumps over the lazy dog many many times"
    rows = [
        (1, f"AAAA unrelated prefix {shared} unrelated suffix BBBB"),
        (2, f"zzz totally different framing. {shared}. and more text here"),
        (3, "nothing in common with the others at all, different words"),
        (4, ""),
        (5, "tiny"),  # shorter than k → empty fingerprint set
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r["fp"]
        for r in df.select(
            "doc_id", winnow_fingerprints("text", k=5, window=4).alias("fp")
        ).collect()
    }
    # substring of length ≥ window+k-1 shared → fingerprint sets intersect
    assert set(out[1]) & set(out[2])
    # incidental word-level 5-gram overlap (" the ", etc.) is allowed but
    # must stay far below the containment of the truly-quoting pair
    def containment(x, y):
        return len(set(x) & set(y)) / max(min(len(set(x)), len(set(y))), 1)

    assert containment(out[1], out[2]) >= 0.5
    assert containment(out[1], out[3]) <= 0.25
    assert out[4] == []
    assert out[5] == []
    # deterministic and sorted
    assert out[1] == sorted(out[1])


def test_winnow_containment_finds_quoting_doc(spark, docs):
    from alibaba_cppfeaturestore_spark.operators.dedup import (
        winnow_containment_pairs,
    )

    base = docs.limit(20)
    quoter = base.select(
        (F.col("doc_id") + 10_000).alias("doc_id"),
        F.concat(
            F.lit("completely novel preamble sentence goes first. "),
            F.col("text"),
            F.lit(" and then a long trailing discussion follows afterwards."),
        ).alias("text"),
    )
    pairs = winnow_containment_pairs(
        base.unionByName(quoter), threshold=0.6
    )
    found = {(r["id_a"], r["id_b"]): r["containment"] for r in pairs.collect()}
    planted = {(r["doc_id"], r["doc_id"] + 10_000) for r in base.collect()}
    hit = planted & set(found)
    assert len(hit) / len(planted) >= 0.9, f"winnow recall too low: {found}"
    # containment is high for the quoting pairs despite the length asymmetry
    assert all(found[p] >= 0.6 for p in hit)


def test_lsh_topk_recall_vs_brute_force(spark):
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(emb, queries, k=5)
    approx = lsh_bucketed_topk(emb, queries, k=5, num_bits=4, num_tables=8, dim=64)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"LSH ANN recall vs brute force too low: {recall}"
    # approx results must be a subset of legal pairs and deterministic
    a2 = {(r["query_id"], r["neighbor_id"]) for r in lsh_bucketed_topk(
        emb, queries, k=5, num_bits=4, num_tables=8, dim=64).collect()}
    assert a == a2


def test_brute_force_topk_self_excluded_and_sorted(spark):
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = brute_force_topk(emb, queries, k=5).collect()
    assert all(r["query_id"] != r["neighbor_id"] for r in out)
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r["cosine_sim"])
    for sims in by_q.values():
        assert sims == sorted(sims, reverse=True)
        assert len(sims) == 5


def test_ivf_greedy_topk_recall_determinism_and_edges(spark):
    """The r12 oracle-able learned quantizer (farthest-point greedy):
    recall vs brute force at least matches the arbitrary-id portable
    pick's bar, reruns are bit-identical (no RNG anywhere), a corpus
    smaller than nlist yields fewer cells without error, and an empty
    corpus yields an empty typed result."""
    from alibaba_cppfeaturestore_spark.operators.similarity import ivf_greedy_topk

    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(emb, queries, k=5)
    approx = ivf_greedy_topk(emb, n_queries=10, nlist=8, nprobe=3, k=5)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"greedy IVF recall vs brute force too low: {recall}"
    # no RNG: a second run reproduces every (query, neighbor, sim) triple
    a2 = {(r["query_id"], r["neighbor_id"], r["cosine_sim"])
          for r in ivf_greedy_topk(emb, n_queries=10, nlist=8, nprobe=3, k=5).collect()}
    a1 = {(r["query_id"], r["neighbor_id"], r["cosine_sim"])
          for r in ivf_greedy_topk(emb, n_queries=10, nlist=8, nprobe=3, k=5).collect()}
    assert a1 == a2
    # corpus smaller than nlist: greedy exhausts (or hits all-duplicate
    # dmin=0) and serves with the cells it found
    tiny = emb.filter(F.col("vec_id") < 4)
    got = ivf_greedy_topk(tiny, n_queries=4, nlist=16, nprobe=4, k=3)
    assert got.count() > 0
    # empty corpus: empty typed result, no crash
    degraded = ivf_greedy_topk(emb.filter(F.lit(False)), nlist=8)
    assert degraded.count() == 0
    assert set(degraded.columns) == {"query_id", "neighbor_id", "cosine_sim"}


def test_scorer_written_once_across_generators(spark):
    """Every top-k path scores its pairs with the same scorer: for each
    scorer, each pair an approximate candidate generator returns (LSH
    buckets, k-center greedy IVF, smallest-id IVF) carries a
    cosine bit-identical to the exact all-pairs generator's score for
    that pair, and the approximate generators return a strict subset."""
    from alibaba_cppfeaturestore_spark.operators import similarity as S

    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cols = ("vec_id", "embedding")
    for scorer in (S.FLOAT, S.INT8):
        def scores(pairs):
            rows = pairs.select(
                "query_id", "neighbor_id", S._cos(scorer).alias("s")
            ).collect()
            return [((r["query_id"], r["neighbor_id"]), repr(r["s"])) for r in rows]

        exact = dict(scores(S._all_pairs(queries, emb, scorer, *cols, "query_id")))
        generators = {
            "lsh": S._lsh_pairs(queries, emb, scorer, *cols, "query_id", 4, 8, 64),
            "greedy_ivf": S._greedy_pairs(emb, scorer, 10, 8, 3, *cols, 16384),
            "smallest_id_ivf": S._smallest_id_pairs(emb, scorer, 10, 8, 3, *cols),
        }
        for name, pairs in generators.items():
            got = scores(pairs)
            assert 0 < len(dict(got)) < len(exact), (name, len(got), len(exact))
            bad = [(pair, s, exact.get(pair)) for pair, s in got if exact.get(pair) != s]
            assert not bad, f"{name} × {scorer.norm.__name__}: {bad[:3]}"


def test_incremental_minhash_matches_full_corpus(spark, docs):
    """Incremental dedup of a batch against a materialized band index ==
    the full-corpus pairs restricted to pairs touching the batch — in
    both hash modes and under a bucket cap small enough to drop the
    multi-member buckets (the two paths share one generator, so the cap
    must bite the same buckets)."""
    from alibaba_cppfeaturestore_spark.operators.dedup import (
        minhash_band_index,
        minhash_lsh_duplicates_incremental,
    )

    history = docs.limit(40)
    # batch: mutants of history docs (cross-pairs) + fresh near-dup pair
    batch = history.limit(10).select(
        (F.col("doc_id") + 10_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"),
    )
    # fresh near-dup trio: 20_002 and 20_003 are identical, so they
    # share every bucket, and any bucket 20_001 joins has three members
    extra = spark.createDataFrame(
        [
            (20_001, "a brand new document " * 30),
            (20_002, "a brand new document " * 30 + "tail"),
            (20_003, "a brand new document " * 30 + "tail"),
        ],
        ["doc_id", "text"],
    )
    batch = batch.unionByName(extra)
    batch_ids = {r["doc_id"] for r in batch.collect()}
    results = {}

    for portable, cap in [(False, 10_000), (True, 10_000), (False, 2), (True, 2)]:
        kw = dict(
            num_hashes=32, bands=4, jaccard_threshold=0.7,
            max_bucket_size=cap, portable=portable,
        )
        full = minhash_lsh_duplicates(history.unionByName(batch), **kw)
        expected = {
            (r["id_a"], r["id_b"], r["jaccard_sim"])
            for r in full.collect()
            if r["id_a"] in batch_ids or r["id_b"] in batch_ids
        }
        index = minhash_band_index(history, portable=portable)
        got = {
            tuple(r)
            for r in minhash_lsh_duplicates_incremental(
                batch, index, history, **kw
            ).collect()
        }
        assert got == expected, (portable, cap)
        # no history-history pairs leak in
        assert all(a in batch_ids or b in batch_ids for a, b, _ in got)
        results[portable, cap] = got
    for portable in (False, True):
        uncapped, capped = results[portable, 10_000], results[portable, 2]
        assert len(uncapped) >= 11  # 10 cross-pairs + the fresh trio's pairs
        assert capped < uncapped, portable  # the cap dropped buckets


def test_lsh_pair_expansion_sorts_each_bucket_once(spark, docs):
    """The bucket member list is sorted ONCE per bucket and bound as a
    lambda variable: an ``array_sort`` written inside the expansion's
    lambdas re-sorts the whole list per member (m sorts of an m-member
    bucket). Asserted on the optimized plan's expressions, for the full
    and the incremental MinHash paths and for winnow's posting lists."""
    from alibaba_cppfeaturestore_spark.operators.dedup import (
        minhash_band_index,
        minhash_lsh_duplicates_incremental,
        winnow_containment_pairs,
    )

    history = docs.limit(20)
    batch = history.limit(5).select(
        (F.col("doc_id") + 10_000).alias("doc_id"), "text"
    )
    frames = {
        "full": minhash_lsh_duplicates(history),
        "incremental": minhash_lsh_duplicates_incremental(
            batch, minhash_band_index(history), history
        ),
        "winnow": winnow_containment_pairs(history),
    }
    for name, df in frames.items():
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        # the expansion's Generate (a persisted generator stage prints
        # once per consumer)
        lines = [ln for ln in plan.splitlines() if "explode(" in ln and "array_sort(" in ln]
        assert lines, name
        for ln in lines:
            assert ln.count("array_sort(") == 1, (name, ln.count("array_sort("))
            # the one sort is the argument of the 1-element binding
            # transform, outside every lambda body
            assert "transform(array(array_sort(" in ln, name


def test_jaccard_verify_written_once_across_generators(spark, docs):
    """Every MinHash and PPJoin pair carries the exact Jaccard of its two
    sets: for the full LSH path, the incremental path (char 5-shingle
    sets) and PPJoin (token sets, plain and shingled), each emitted
    ``jaccard_sim`` equals a plain-Python set computation rounded
    HALF_UP at 6 places (Spark's ``round`` on the double's shortest
    repr). PPJoin is exact, so its pair set must equal the Python
    all-pairs answer too."""
    import re
    from decimal import ROUND_HALF_UP, Decimal

    from alibaba_cppfeaturestore_spark.functions.text import (
        TOKEN_SPLIT_REGEX,
        WS_TRIM_CHARS,
    )
    from alibaba_cppfeaturestore_spark.operators.dedup import (
        minhash_band_index,
        minhash_lsh_duplicates_incremental,
        ngram_jaccard_pairs_indexed,
    )

    history = docs.limit(40)
    batch = history.limit(15).select(
        (F.col("doc_id") + 10_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"),
    )
    corpus = history.unionByName(batch)
    texts = {r["doc_id"]: r["text"] for r in corpus.collect()}

    def shingles(t, n=5):
        return {t[i : i + n] for i in range(len(t) - n + 1)}

    def toks(t):
        return re.split(TOKEN_SPLIT_REGEX, t.strip(WS_TRIM_CHARS))

    def word_shingles(t, n=3):
        w = toks(t)
        return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}

    def exact(a, b):
        j = len(a & b) / max(len(a | b), 1)
        return float(Decimal(repr(j)).quantize(Decimal("1e-6"), ROUND_HALF_UP))

    def check(name, df, sets, threshold, complete):
        got = {(r["id_a"], r["id_b"]): r["jaccard_sim"] for r in df.collect()}
        assert got, name
        bad = {
            p: (j, exact(sets[p[0]], sets[p[1]])) for p, j in got.items()
            if j != exact(sets[p[0]], sets[p[1]])
        }
        assert not bad, (name, list(bad.items())[:3])
        assert all(j >= threshold for j in got.values()), name
        if complete:
            ids = sorted(sets)
            want = {
                (a, b) for k, a in enumerate(ids) for b in ids[k + 1 :]
                if exact(sets[a], sets[b]) >= threshold
            }
            assert set(got) == want, (name, set(got) ^ want)
        return got

    sh = {i: shingles(t) for i, t in texts.items()}
    kw = dict(num_hashes=32, bands=4, jaccard_threshold=0.7)
    full = check("full", minhash_lsh_duplicates(corpus, **kw), sh, 0.7, False)
    # the planted (doc, doc + 10k) pairs are near-identical: LSH finds them
    assert len([p for p in full if p[1] - p[0] == 10_000]) >= 12
    check(
        "incremental",
        minhash_lsh_duplicates_incremental(
            batch, minhash_band_index(history), history, **kw
        ),
        sh, 0.7, False,
    )
    check(
        "ppjoin",
        ngram_jaccard_pairs_indexed(corpus, threshold=0.6),
        {i: set(toks(t)) for i, t in texts.items()}, 0.6, True,
    )
    check(
        "ppjoin_shingled",
        ngram_jaccard_pairs_indexed(corpus, threshold=0.6, shingle_n=3),
        {i: word_shingles(t) for i, t in texts.items()}, 0.6, True,
    )


def test_clean_text_normalization(spark):
    from alibaba_cppfeaturestore_spark.functions.text import clean_text

    rows = [
        (1, "<div><b>Hello</b>\x00\x07 world</div>"),
        (2, "a b c​d　e"),
        (3, "  already   clean  text  "),
        (4, "<a href='x'>link</a>tail"),
    ]
    df = spark.createDataFrame(rows, ["id", "t"])
    out = {r["id"]: r["c"] for r in df.select("id", clean_text("t").alias("c")).collect()}
    assert out[1] == "Hello world"
    assert out[2] == "a b c d e"
    assert out[3] == "already clean text"
    assert out[4] == "link tail"


def test_prefix_indexed_jaccard_equals_quadratic(spark, docs):
    """The prefix-filtered set-similarity join must return EXACTLY the
    pairs of the naive all-pairs formulation — same ids, same scores."""
    from alibaba_cppfeaturestore_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_indexed,
    )

    base = docs.limit(80)
    mutants = base.limit(30).select(
        (F.col("doc_id") + 10_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" qq")).alias("text"),
    )
    corpus = base.unionByName(mutants)
    for t in (0.7, 0.9):
        quad = {
            tuple(r)
            for r in ngram_jaccard_pairs(
                corpus, text_col="text", id_col="doc_id", block_cols=None, threshold=t
            ).collect()
        }
        idx = {
            tuple(r)
            for r in ngram_jaccard_pairs_indexed(
                corpus, text_col="text", id_col="doc_id", threshold=t
            ).collect()
        }
        assert idx == quad, f"t={t}: {idx ^ quad}"
        assert len(idx) >= 30  # the planted mutants are found


def _quadratic_shingle_pairs(corpus, n, threshold, block_col):
    """Blocked all-pairs Jaccard over distinct word n-gram shingles: the
    reference the prefix-indexed join must reproduce."""
    from alibaba_cppfeaturestore_spark.functions.text import token_shingles
    from alibaba_cppfeaturestore_spark.operators.dedup import jaccard

    base = corpus.select(
        F.col("doc_id").alias("id"),
        block_col,
        F.array_distinct(token_shingles(F.col("text"), n)).alias("s"),
    )
    a, b = base.alias("a"), base.alias("b")
    cond = (F.col("a.id") < F.col("b.id")) & (
        F.col(f"a.{block_col}") == F.col(f"b.{block_col}")
    )
    return (
        a.join(b, cond)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(jaccard(F.col("a.s"), F.col("b.s")), 6).alias("jaccard_sim"),
        )
        .filter(F.col("jaccard_sim") >= threshold)
    )


def test_prefix_indexed_jaccard_blocked_shingles_equals_quadratic(spark, docs):
    """Round-6 parameters: the indexed join with shingle_n (word-shingle
    sets) and block_cols (pairs must agree on the block) must reproduce
    the blocked quadratic join exactly — including the NULL-block rows,
    which pair with nobody under equality on both paths. This is the
    configuration the curation pipeline's oracle near-dup stage runs."""
    from alibaba_cppfeaturestore_spark.operators.dedup import ngram_jaccard_pairs_indexed

    base = docs.limit(60).withColumn(
        "blk",
        F.when(F.col("doc_id") % 7 == 0, F.lit(None).cast("string")).otherwise(
            (F.col("doc_id") % 2).cast("string")
        ),
    )
    mutants = base.limit(25).select(
        (F.col("doc_id") + 10_000).alias("doc_id"),
        F.concat(F.lit("zz9 "), F.col("text")).alias("text"),
        "blk",
    )
    corpus = base.unionByName(mutants)
    quad = {tuple(r) for r in _quadratic_shingle_pairs(corpus, 5, 0.8, "blk").collect()}
    idx = {
        tuple(r)
        for r in ngram_jaccard_pairs_indexed(
            corpus, text_col="text", id_col="doc_id",
            threshold=0.8, shingle_n=5, block_cols=["blk"],
        ).collect()
    }
    assert idx == quad, f"{idx ^ quad}"
    assert len(idx) >= 10  # planted same-block prefix copies are found


def test_int8_quantization_roundtrip_and_cosine(spark):
    from alibaba_cppfeaturestore_spark.functions.vectors import (
        cosine_similarity,
        dot_int8,
        norm_int8,
        quantize_int8,
    )

    emb = load_table(spark, SF, "embeddings").limit(50)
    q = emb.select("vec_id", "embedding", quantize_int8(F.col("embedding")).alias("qv"))
    # round-trip error bounded by scale/2 per component
    err = q.select(
        F.aggregate(
            F.zip_with(
                F.col("embedding"),
                F.transform(F.col("qv.q"), lambda x: x.cast("double") * F.col("qv.scale")),
                lambda a, b: F.abs(a.cast("double") - b.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, x: F.greatest(acc, x),
        ).alias("maxerr"),
        (F.col("qv.scale") / 2 + 1e-9).alias("bound"),
    )
    bad = err.filter(F.col("maxerr") > F.col("bound")).count()
    assert bad == 0
    # quantized cosine (the INT8 scorer's integer dot / norms) tracks exact cosine
    pairs = (
        q.alias("a")
        .crossJoin(q.alias("b"))
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .limit(200)
        .select(
            cosine_similarity(F.col("a.embedding"), F.col("b.embedding")).alias("exact"),
            (
                dot_int8(F.col("a.qv"), F.col("b.qv"))
                / F.greatest(norm_int8(F.col("a.qv")) * norm_int8(F.col("b.qv")), F.lit(1e-12))
            ).alias("approx"),
        )
    )
    worst = pairs.agg(F.max(F.abs(F.col("exact") - F.col("approx")))).first()[0]
    assert worst < 0.02, f"quantized cosine drifts too far: {worst}"


def test_shingle_jaccard_matches_python_reference(spark):
    """Differential test: the native shingle + Jaccard expressions must
    agree with a plain-Python set implementation on random strings
    (unicode, whitespace runs, short/empty edge cases)."""
    import random

    from alibaba_cppfeaturestore_spark.functions.text import char_shingles
    from alibaba_cppfeaturestore_spark.operators.dedup import jaccard

    rng = random.Random(123)
    alphabet = "ab cd\teé日 xyz"
    strs = ["".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 40)))
            for _ in range(300)]
    rows = [(i, strs[i], strs[(i * 7 + 3) % 300]) for i in range(300)]
    df = spark.createDataFrame(rows, ["i", "sa", "sb"])
    out = df.select(
        "i",
        jaccard(
            F.array_distinct(char_shingles("sa", 5)),
            F.array_distinct(char_shingles("sb", 5)),
        ).alias("j"),
    ).collect()

    def py_shingles(s, n=5):
        return {s[i : i + n] for i in range(max(len(s) - n + 1, 0))}

    for r in out:
        a, b = py_shingles(rows[r["i"]][1]), py_shingles(rows[r["i"]][2])
        expected = len(a & b) / max(len(a | b), 1)
        assert abs(r["j"] - expected) < 1e-9, (rows[r["i"]], r["j"], expected)


def test_record_linkage_typos_and_nulls(spark):
    from alibaba_cppfeaturestore_spark.operators.linkage import (
        field_similarity,
        record_linkage_pairs,
    )

    rows = [
        (1, "Jonathan Smith", "NY", "gold"),
        (2, "Jonathon Smith", "NY", "gold"),    # 1-char typo, same block
        (3, "Jonathan Smith", "CA", "gold"),    # identical name, other block
        (4, "Maria Gonzalez", "NY", "silver"),
        (5, None, "NY", "gold"),                # null name can't match
    ]
    df = spark.createDataFrame(rows, ["rid", "name", "state", "tier"])
    pairs = {
        (r["id_a"], r["id_b"]): r["score"]
        for r in record_linkage_pairs(
            df, "rid", ["state"], {"name": 0.9, "tier": 0.1}, threshold=0.8
        ).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.9
    assert all(a != 3 and b != 3 for a, b in pairs)  # blocking respected
    assert all(5 not in p for p in pairs)            # null field -> no match
    assert (1, 4) not in pairs

    # similarity function bounds
    sims = spark.range(1).select(
        field_similarity(F.lit("abc"), F.lit("abc")).alias("same"),
        field_similarity(F.lit("abc"), F.lit("xyz")).alias("diff"),
        field_similarity(F.lit(None).cast("string"), F.lit("abc")).alias("nul"),
    ).collect()[0]
    assert sims["same"] == 1.0 and sims["diff"] == 0.0 and sims["nul"] == 0.0


def test_portable_minhash_matches_default_pairs(spark, docs):
    """portable=True swaps the base/bucket hash family (xxhash64 →
    md5-derived, DuckDB-replayable) but not the pipeline: shingling,
    permutations, band geometry, screen, and exact verification are
    shared. The final pair set is exact-Jaccard-verified, so on a
    planted-near-dup corpus both hash families must surface the same
    pairs with the same (hash-independent) jaccard_sim values."""
    base = docs.limit(50)
    mutants = base.select(
        (F.col("doc_id") + 10_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"),
    )
    corpus = base.unionByName(mutants)
    kw = dict(num_hashes=32, bands=4, jaccard_threshold=0.7)
    default = {
        (r["id_a"], r["id_b"]): r["jaccard_sim"]
        for r in minhash_lsh_duplicates(corpus, **kw).collect()
    }
    portable = {
        (r["id_a"], r["id_b"]): r["jaccard_sim"]
        for r in minhash_lsh_duplicates(corpus, portable=True, **kw).collect()
    }
    assert default == portable


def test_portable_simhash_finds_planted_near_dups(spark, docs):
    """Portable SimHash (60-bit md5-derived votes) keeps the semantic
    guarantees of the default: planted near-dups recalled via the chunk
    pigeonhole, hamming bounded by max_hamming."""
    base = docs.limit(30)
    mutants = base.select(
        (F.col("doc_id") + 10_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"),
    )
    pairs = simhash_duplicates(
        base.unionByName(mutants), max_hamming=3, portable=True
    )
    rows = pairs.collect()
    found = {(r["id_a"], r["id_b"]) for r in rows}
    planted = {(r["doc_id"], r["doc_id"] + 10_000) for r in base.collect()}
    recall = len(found & planted) / len(planted)
    assert recall >= 0.5, f"portable simhash recall too low: {recall}"
    assert all(0 <= r["hamming"] <= 3 for r in rows)


def test_lloyd_assign_matches_numpy_argmin(spark):
    import numpy as np
    from pyspark.sql import functions as F
    from alibaba_cppfeaturestore_spark.operators.similarity import lloyd_assign

    rng = np.random.RandomState(11)
    vecs = rng.randn(200, 8).astype("float64")
    cents = rng.randn(3, 8).tolist()
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)], "vec_id long, embedding array<double>"
    )
    got = {
        r.vec_id: r.c
        for r in df.select("vec_id", lloyd_assign(F.col("embedding"), cents).alias("c")).collect()
    }
    want = np.argmin(
        ((vecs[:, None, :] - np.array(cents)[None, :, :]) ** 2).sum(axis=2), axis=1
    )
    assert all(got[i] == want[i] for i in range(len(vecs)))


def test_kmeans_lloyd_step_reduces_inertia(spark):
    import numpy as np
    from alibaba_cppfeaturestore_spark.operators.similarity import kmeans_lloyd_step

    # three planted blobs; axis seeds near them
    rng = np.random.RandomState(5)
    blobs = np.concatenate(
        [rng.normal(m, 0.05, (50, 2)) for m in ((0.0, 0.0), (1.0, 0.0), (0.0, 1.0))]
    )
    df = spark.createDataFrame(
        [(i, list(map(float, v))) for i, v in enumerate(blobs)],
        "vec_id long, embedding array<double>",
    )
    seeds = [[0.1, 0.1], [0.9, 0.1], [0.1, 0.9]]
    out = {r.cluster: r for r in kmeans_lloyd_step(df, seeds, "embedding").collect()}
    assert sum(r.n_vectors for r in out.values()) == len(blobs)
    # updated centroids land on the blob means, closer than the seeds
    for j, mean in enumerate([(0.0, 0.0), (1.0, 0.0), (0.0, 1.0)]):
        r = out[j]
        assert abs(r.new_c0 - mean[0]) < 0.05 and abs(r.new_c1 - mean[1]) < 0.05


def test_paragraph_exact_dedup_first_occurrence_wins(spark):
    """Repeated sentences are flagged everywhere except their global
    first occurrence, ordered by (doc_id, para_idx); unique sentences
    and whitespace-variant duplicates behave as specified (trim-only
    normalization — case/inner-space variants are distinct)."""
    from alibaba_cppfeaturestore_spark.operators.dedup import paragraph_exact_dedup

    rows = [
        (1, "shared boilerplate. unique one. shared boilerplate"),
        (2, "shared boilerplate.   unique two"),
        (3, "Shared Boilerplate. unique one"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r.doc_id, r.para_idx): r
        for r in paragraph_exact_dedup(df).collect()
    }
    # doc1: ["shared boilerplate", "unique one", "shared boilerplate"]
    assert out[(1, 0)].is_dup == 0          # global first
    assert out[(1, 1)].is_dup == 0          # first "unique one"
    assert out[(1, 2)].is_dup == 1          # repeat within the same doc
    assert out[(2, 0)].is_dup == 1          # repeat across docs (leading ws trimmed)
    assert out[(2, 1)].is_dup == 0          # unique
    assert out[(3, 0)].is_dup == 0          # case differs -> distinct segment
    assert out[(3, 1)].is_dup == 1          # "unique one" second occurrence
    assert out[(1, 0)].para_hash == out[(2, 0)].para_hash == out[(1, 2)].para_hash


def test_curation_pipeline_stage_semantics(spark):
    """The composed curation pipeline's planted-duplicate accounting:
    a planted copy never coexists with its surviving original, the
    funnel is monotone, and its tail equals the manifest size."""
    from alibaba_cppfeaturestore_spark.plans.catalog import QUERIES

    man = QUERIES["llm_corpus_curation_e2e"].spark(spark, SF).collect()
    ids = {r.doc_id for r in man}
    assert man, "manifest must be non-empty"
    # exact copies (+1M) are caught at exact dedup, near copies (+2M) at
    # the shingle-Jaccard stage — IF the original survived to that stage
    assert not [d for d in ids if d < 1_000_000 and d + 1_000_000 in ids]
    assert not [d for d in ids if d < 1_000_000 and d + 2_000_000 in ids]
    fun = sorted(
        QUERIES["llm_corpus_curation_funnel"].spark(spark, SF).collect(),
        key=lambda r: r.stage_ord,
    )
    ns = [r.n_docs for r in fun]
    assert [r.stage for r in fun] == [
        "input", "lang_id", "quality", "exact_dedup", "near_dedup",
    ]
    assert ns == sorted(ns, reverse=True), "each stage only removes rows"
    assert ns[-1] == len(man)
    # the near-dup stage must actually fire on the planted prefix copies
    assert ns[-1] < ns[-2], "near-dedup stage removed nothing"


def test_shingle_jaccard_discriminates_where_tokenset_saturates(spark, docs):
    """shingle_n pairs: a one-token-PREFIXED copy scores ≈(N-4)/(N-3) ≥ 0.9
    while unrelated small-vocabulary docs stay below threshold — the
    measured failure of token-set Jaccard on a 31-word vocabulary."""
    from alibaba_cppfeaturestore_spark.operators.dedup import ngram_jaccard_pairs_indexed

    from alibaba_cppfeaturestore_spark.functions.text import tokens as _toks

    # J = (N-4)/(N-3) for a one-token prefix needs N ≥ ~14 shingles to
    # clear 0.9 — short docs legitimately fall below (measured: a
    # 10-token doc scores 6/7). The curation pipeline is immune: its
    # quality gate implies ≥ 50 tokens before the near-dup stage.
    long_docs = docs.filter(F.size(_toks(F.col("text"))) >= 30).limit(40)
    corpus = long_docs.unionByName(
        long_docs.select(
            (F.col("doc_id") + 10_000).alias("doc_id"),
            F.concat(F.lit("zz9 "), F.col("text")).alias("text"),
        )
    )
    pairs = ngram_jaccard_pairs_indexed(
        corpus, text_col="text", id_col="doc_id", threshold=0.9, shingle_n=5
    ).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    planted = {(r.doc_id, r.doc_id + 10_000) for r in long_docs.collect()}
    assert planted <= found, "every prefixed near-copy must pair with its original"
    # the only non-planted pairs allowed are TRUE near-dups already in the
    # corpus (sf0.001 contains one: docs 8/12) and their planted derivatives
    # — i.e. every extra pair's base ids must themselves be a found pair
    extras = found - planted
    base_extras = {tuple(sorted((a % 10_000, b % 10_000))) for a, b in extras}
    assert all(p in found for p in base_extras), (
        f"extras must trace to a real near-dup pair: {extras}"
    )
    assert len(base_extras) <= 2, f"unrelated shingle pairs should be rare: {base_extras}"


def test_curation_pipeline_lsh_mode_scale_path(spark):
    """The 100 TB near-dup variant (near_dup='lsh'): same composed
    pipeline, MinHash-LSH candidates instead of the blocked pair join.
    LSH recall is probabilistic, so the pin is ≥90% planted-catch (the
    oracle entry keeps the exactly-replayable blocked join)."""
    from alibaba_cppfeaturestore_spark.plans.catalog import _curation_stages

    st = _curation_stages(spark, SF, near_dup="lsh")
    deduped_ids = {r.doc_id for r in st["deduped"].select("doc_id").collect()}
    final_ids = {r.doc_id for r in st["final"].select("doc_id").collect()}
    assert final_ids <= deduped_ids and final_ids
    # planted prefix near-copies that reached the dedup stage alongside
    # their original must be mostly caught by the banding
    planted_present = {
        d for d in deduped_ids if d >= 2_000_000 and d - 2_000_000 in deduped_ids
    }
    caught = planted_present - final_ids
    assert planted_present, "fixture must exercise the near-dup stage"
    assert len(caught) >= 0.9 * len(planted_present), (
        f"LSH caught {len(caught)}/{len(planted_present)} planted near-copies"
    )
    # monotone: the lsh stage only removes rows
    assert len(final_ids) <= len(deduped_ids)


def test_duplicated_substring_spans_semantics(spark):
    """ExactSubstr spans: maximal merge, cross-doc-only, k-alignment,
    min-span cut, and hash-mode equivalence."""
    from alibaba_cppfeaturestore_spark.operators.dedup import (
        duplicated_substring_spans,
    )

    shared = "s1 s2 s3 s4 s5 s6 s7 s8 s9 s10"  # 10 tokens
    df = spark.createDataFrame(
        [
            # docs 1/2 share the 10-token prefix; doc 1 then repeats a
            # phrase WITHIN itself only (must not be flagged)
            (1, shared + " u1 u2 u3 rep rep rep rep u4 rep rep rep rep"),
            (2, shared + " v1 v2 v3 v4 v5 v6 v7 v8 v9 v10 v11 v12"),
            # doc 3 shares a 4-token run with doc 2 — shorter than k,
            # invisible by design
            (3, "v1 v2 v3 v4 w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11"),
        ],
        "doc_id long, text string",
    )
    out = duplicated_substring_spans(df, k=5, min_span_tokens=8)
    got = {(r.doc_id, r.span_start, r.span_end, r.span_tokens) for r in out.collect()}
    # the shared 10-token prefix = one maximal span [1,10] in both docs;
    # nothing else qualifies (within-doc repetition excluded, sub-k run
    # invisible, min_span cuts chance collisions)
    assert got == {(1, 1, 10, 10), (2, 1, 10, 10)}, got

    fast = duplicated_substring_spans(df, k=5, min_span_tokens=8, portable=False)
    portable = duplicated_substring_spans(df, k=5, min_span_tokens=8, portable=True)
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, portable.collect()))


def test_duplicated_substring_spans_island_merge_boundaries(spark):
    """Island semantics: duplicated runs whose covered tokens are
    CONTIGUOUS merge into one removal span (even when the grams
    bridging them are unique); runs separated by an uncovered token
    never merge — a non-duplicated token in between means the text is
    not one contiguous duplicated region."""
    from alibaba_cppfeaturestore_spark.operators.dedup import (
        duplicated_substring_spans,
    )

    a = "a1 a2 a3 a4 a5"
    b = "b1 b2 b3 b4 b5"
    df = spark.createDataFrame(
        [
            # doc 1: a-run and b-run ADJACENT (a5 directly followed by
            # b1) but the boundary grams (a4 a5 b1, a5 b1 b2) exist
            # nowhere else; also a re-run of `a` after an uncovered gap
            (1, a + " " + b + " y1 y2 y3 y4 y5 " + a),
            # doc 2: same runs separated by unique filler — shares every
            # a-gram and b-gram with doc 1 but no boundary gram
            (2, a + " q1 q2 q3 " + b),
        ],
        "doc_id long, text string",
    )
    out = duplicated_substring_spans(df, k=3, min_span_tokens=3)
    by_doc = {}
    for r in out.collect():
        by_doc.setdefault(r.doc_id, []).append((r.span_start, r.span_end))
    # doc 1: duplicated gram starts 1,2,3 (a) and 6,7,8 (b) — 3 apart
    # (= k), so covered tokens 1..10 are contiguous -> ONE span [1,10];
    # the trailing a-run [16,20] sits past uncovered tokens -> its own
    assert sorted(by_doc[1]) == [(1, 10), (16, 20)], by_doc
    # doc 2: a [1,5] and b [9,13] gram starts 8 apart (> k): the filler
    # tokens are uncovered -> two spans, never merged
    assert sorted(by_doc[2]) == [(1, 5), (9, 13)], by_doc


def test_remove_duplicated_spans_scrub_semantics(spark):
    """Scrub contract: shared prefix cut from both docs, unique material
    kept verbatim (tokenized reconstruction), fully-duplicated docs
    scrub to NULL, untouched and NULL-text docs pass through."""
    from alibaba_cppfeaturestore_spark.operators.dedup import (
        duplicated_substring_spans,
        remove_duplicated_spans,
    )

    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j unique one here now"),
            (2, "a b c d e f g h i j other tail text too"),
            (3, "clean doc nothing shared zz yy xx ww vv uu"),
            (4, "a b c d e f g h i j"),
            (5, None),
        ],
        "doc_id long, text string",
    )
    spans = duplicated_substring_spans(df, k=4, min_span_tokens=8)
    out = {r.doc_id: r for r in remove_duplicated_spans(df, spans).collect()}
    assert out[1].clean_text == "unique one here now"
    assert out[2].clean_text == "other tail text too"
    assert (out[1].n_tokens_kept, out[1].n_tokens_removed) == (4, 10)
    assert out[3].clean_text == "clean doc nothing shared zz yy xx ww vv uu"
    assert out[3].n_tokens_removed == 0
    assert out[4].clean_text is None and out[4].n_tokens_removed == 10
    assert out[5].clean_text is None and out[5].n_tokens_kept == 0


def test_winnow_drops_null_ids_at_the_gate(spark):
    # r09 five-way-stack find (seed 59): winnow is the one pair generator
    # that expands pairs POSITIONALLY (array_sort + slice), so a NULL-id
    # row would pair with every doc sharing its text instead of being
    # dropped by a NULL-propagating id_a < id_b comparison like the
    # join-based generators. Contract: NULL ids never appear in output.
    from alibaba_cppfeaturestore_spark.operators.dedup import (
        winnow_containment_pairs,
    )

    hot = "the same long shared boilerplate text appears here verbatim in full"
    df = spark.createDataFrame(
        [(1, hot), (2, hot), (None, hot), (4, "a totally unrelated document")],
        "doc_id long, text string",
    )
    pairs = winnow_containment_pairs(
        df, k=5, window=4, threshold=0.5, portable=True
    ).collect()
    assert pairs, "the two non-null hot docs must still pair"
    for r in pairs:
        assert r.id_a is not None and r.id_b is not None
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}


def test_ivf_portable_drops_null_ids_at_the_gate(spark):
    # r09 five-way-stack find (seed 71): the portable IVF's coarse
    # quantizer is id-KEYED (centroids = nlist smallest ids), and
    # Spark's ASC sort default (NULLS FIRST) differs from DuckDB's
    # (NULLS LAST) — so an id-less vector claimed a centroid slot on one
    # engine only. Contract: a NULL-id vector is never a centroid, query,
    # or neighbor; the id-bearing rows behave as if it never existed.
    from alibaba_cppfeaturestore_spark.operators.similarity import (
        ivf_portable_topk,
    )

    base = [(i, [float((i * 7 + j) % 13) - 6.0 for j in range(8)]) for i in range(10)]
    clean = spark.createDataFrame(base, "vec_id long, embedding array<float>")
    # the NULL-id vector copies vec 1 exactly: without the gate it would
    # be vec 1's perfect-cosine neighbor AND the smallest "id" centroid
    dirty = clean.unionByName(
        spark.createDataFrame(
            [(None, [float((1 * 7 + j) % 13) - 6.0 for j in range(8)])],
            "vec_id long, embedding array<float>",
        )
    )
    kw = dict(n_queries=3, nlist=4, nprobe=2, k=3)
    got = {
        (r.query_id, r.neighbor_id, r.cosine_sim)
        for r in ivf_portable_topk(dirty, **kw).collect()
    }
    want = {
        (r.query_id, r.neighbor_id, r.cosine_sim)
        for r in ivf_portable_topk(clean, **kw).collect()
    }
    assert got == want
    assert all(n is not None for _, n, _ in got)
