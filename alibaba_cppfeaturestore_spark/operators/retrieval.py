"""Lexical retrieval over document corpora — BM25 scoring, term stats.

Not in the reference (its data is tabular); first-class engine capability
for LLM-training-data pipelines: scoring a corpus against query terms is
the standard primitive for quality-targeted sampling ("keep documents
similar to this reference set"), contamination auditing, and plain search
over a 100 TB text lake.

Scale shape of ``bm25_topk``: ONE corpus scan (tokenize → explode →
filter to the query terms — the filter lands before the shuffle, so only
matching postings move), one small groupBy per (doc, term), per-term
document frequencies from that same tiny postings set, and corpus-level
scalars (N, avgdl) as a 1-row broadcast join. Nothing driver-side, no
|corpus|² anything; the only full-corpus cost is the scan every retrieval
engine pays. Query terms are compile-time literals (an IN filter), so
Catalyst folds them into the scan predicate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.text import tokens
from ..resources import own

# Lucene-standard BM25 parameters.
BM25_K1 = 1.2
BM25_B = 0.75


def bm25_scores(
    corpus: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Per-document BM25 score against ``query_terms``.

    Returns (id_col, bm25) for every document matching ≥1 term —
    idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)) (Lucene's non-negative
    form), tf component = tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl)).

    Duplicate ids (the operator has no unique-id precondition): rows
    sharing an id are ONE logical document — tf sums across copies, dl
    is the TOTAL token count of all copies, N/avgdl range over merged
    documents, df counts distinct ids. The same per-id contract as
    ``minhash_band_index``; deterministic (the earlier ``first(dl)`` /
    oracle ``ANY_VALUE(dl)`` pair was engine-arbitrary for duplicate
    ids with differing texts — a ``--perturb-ids`` find this round).
    With unique ids every number is unchanged.

    Two physical shapes, same values:

    - ``len(query_terms) ≤ 16`` (the interactive-retrieval case): ONE
      tokenize pass. Per-term tf rides the projection as
      ``size(toks) − size(array_remove(toks, t))`` (codegen'd collection
      expressions, no higher-order fold, no explode); the per-id merge
      groupBy doubles as the materialization point — its shuffle
      exchange is REUSED by both consumers (the 1-row
      N/avgdl/df aggregate and the scoring projection), so no persist
      and no second tokenize (measured: exchange reuse beats an
      explicit cache here, 0.49 → 0.36 s core shape). The old shape
      tokenized the corpus TWICE and paid an explode → groupBy(id, tok)
      → dfreq-join chain; full query 0.84 → ~0.6 s at sf0.1 with
      identical output.
    - wider term lists: the postings shape below (explode + pre-shuffle
      IN filter), whose cost is independent of term count.

    ``query_terms`` is deduplicated on entry (first occurrence wins) so
    both shapes see distinct terms — the columnar shape builds one tf
    column per LIST INDEX and would otherwise double-count a repeated
    term, while the postings shape dedups implicitly via groupBy(tok);
    without the entry dedup the two shapes would diverge exactly when a
    duplicated list crosses the 16-term threshold. An EMPTY term list
    returns an empty, correctly-typed (id_col, bm25) frame (no document
    matches ≥1 of zero terms) instead of entering either shape.
    """
    query_terms = list(dict.fromkeys(query_terms))

    base = corpus.select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("toks")
    ).select("id", "toks", F.size("toks").alias("dl"))

    if not query_terms:
        return base.select(
            F.col("id").alias(id_col), F.lit(None).cast("double").alias("bm25")
        ).limit(0)

    if len(query_terms) <= 16:
        return _bm25_scores_columnar(base, list(query_terms), id_col, k1, b)

    # merged logical documents: per-id total dl (the duplicate-id
    # contract above; identity map for unique ids)
    docs = base.groupBy("id").agg(F.sum("dl").alias("dl"))

    # Corpus scalars: one tiny agg, broadcast as a 1-row cross join (the
    # repo-standard "__scalar_" pattern — no collect, stays one job, and
    # the plan audit recognizes the prefix as a sanctioned 1-row BNLJ).
    scalars = docs.agg(
        F.count("*").alias("__scalar_n_docs"), F.avg("dl").alias("__scalar_avgdl")
    )

    postings = (
        base.select("id", F.explode("toks").alias("tok"))
        .filter(F.col("tok").isin(list(query_terms)))
        .groupBy("id", "tok")
        .agg(F.count("*").alias("tf"))
        # null-SAFE equality: the NULL-id pseudo-document merges under
        # groupBy like any id, so the dl attach must not drop it
        .join(docs.withColumnRenamed("id", "__did"), F.col("id").eqNullSafe(F.col("__did")))
        .drop("__did")
    )
    dfreq = postings.groupBy("tok").agg(F.count("*").alias("df"))

    scored = (
        postings.join(F.broadcast(dfreq), "tok")
        .crossJoin(F.broadcast(scalars))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("__scalar_n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "component",
            F.col("idf")
            * (F.col("tf") * F.lit(k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("__scalar_avgdl"))
            ),
        )
    )
    return scored.groupBy("id").agg(F.sum("component").alias("bm25")).select(
        F.col("id").alias(id_col), "bm25"
    )


def _bm25_scores_columnar(
    base: DataFrame, terms: list[str], id_col: str, k1: float, b: float
) -> DataFrame:
    """Single-scan BM25 for small term lists: per-term tf columns, a
    per-id merge groupBy whose shuffle exchange both consumers reuse,
    one 1-row stats aggregate (N, avgdl, all dfs) broadcast back. The
    per-term components sum in term-list order through a when-chain so
    a document's score is NULL only if it matches no term (those rows
    are filtered). The exchanged set is |corpus| fixed-width rows
    (16 + 8·|terms| bytes each) — the only full-corpus cost is the one
    tokenize scan feeding it."""
    per_row = base.select(
        "id",
        "dl",
        *[
            (F.size("toks") - F.size(F.array_remove("toks", t))).alias(f"__tf{i}")
            for i, t in enumerate(terms)
        ],
    )
    # id-merge BEFORE scoring — the duplicate-id contract (see
    # bm25_scores): one logical document per id, tf and dl summed
    # across copies, N/avgdl over merged documents, df over distinct
    # ids. Deterministic; identity map for unique ids.
    per_doc = per_row.groupBy("id").agg(
        F.sum("dl").alias("dl"),
        *[F.sum(f"__tf{i}").alias(f"__tf{i}") for i in range(len(terms))],
    )
    stats = per_doc.agg(
        F.count("*").alias("__scalar_n_docs"),
        F.avg("dl").alias("__scalar_avgdl"),
        *[
            F.sum((F.col(f"__tf{i}") > 0).cast("long")).alias(f"__scalar_df{i}")
            for i in range(len(terms))
        ],
    )
    comp_sum = None
    for i in range(len(terms)):
        tf = F.col(f"__tf{i}")
        # identical operand types to the postings shape (long df, long
        # n_docs, double avgdl) ⇒ identical doubles per term
        idf = F.log(
            F.lit(1.0)
            + (F.col("__scalar_n_docs") - F.col(f"__scalar_df{i}") + F.lit(0.5))
            / (F.col(f"__scalar_df{i}") + F.lit(0.5))
        )
        c = (
            idf
            * (tf * F.lit(k1 + 1.0))
            / (tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("__scalar_avgdl")))
        )
        # a tf=0 term contributes EXACTLY 0.0 (zero numerator, positive
        # denominator) and x + 0.0 == x in IEEE, so a plain fixed-order
        # sum reproduces the postings shape's matching-terms-only SUM —
        # no per-term conditional (a when-chain that re-nests the prior
        # sum in both branches grows the expression tree exponentially
        # in |terms|; it measurably doubled the whole query's cost)
        comp_sum = c if comp_sum is None else comp_sum + c
    matched = per_doc.filter(
        sum(F.col(f"__tf{i}") for i in range(len(terms))) > 0
    )
    return matched.crossJoin(F.broadcast(stats)).select(
        F.col("id").alias(id_col), comp_sum.alias("bm25")
    )


def bm25_topk(
    corpus: DataFrame,
    query_terms: list[str],
    k: int = 15,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Top-k documents by BM25 — global orderBy(limit k) on the (tiny)
    scored set; ties broken by ascending doc id so the cut is
    deterministic across engines and runs."""
    scores = bm25_scores(corpus, query_terms, text_col, id_col, k1, b)
    return (
        scores.select(id_col, F.round("bm25", 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col(id_col).asc())
        .limit(k)
    )


def top_terms(
    corpus: DataFrame,
    k: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus term-frequency head: top-k tokens with total count, document
    frequency, and 1-based frequency rank (count desc, token asc — pinned
    ties). The Zipf head is the first diagnostic over any new crawl
    (boilerplate detection, stopword calibration, tokenizer sanity).

    One explode + one groupBy over (token): |corpus tokens| shuffle rows
    with map-side combine. The top-k cut uses ``orderBy().limit(k)`` —
    Spark's TakeOrdered, a per-partition partial top-k merged on the
    driver — NOT an unpartitioned rank window, which would funnel the
    entire vocabulary (billions of tokens at crawl scale) through one
    task. Only the k survivors see a window, and k is tiny."""
    from pyspark.sql import Window

    exploded = corpus.select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    counts = exploded.groupBy("tok").agg(
        F.count("*").alias("n_occurrences"),
        F.countDistinct("id").alias("n_docs"),
    )
    head = counts.orderBy(
        F.col("n_occurrences").desc(), F.col("tok").asc()
    ).limit(k)
    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("tok").asc())
    return head.withColumn("rank", F.row_number().over(w)).select(
        "rank", F.col("tok").alias("token"), "n_occurrences", "n_docs"
    )


def unigram_logprob_scores(
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Model-free perplexity proxy: per-document mean log-probability of
    its tokens under the corpus's own unigram distribution
    (perplexity = exp(−score)). The standard cheap quality gate in
    training-data pipelines — documents full of tokens the corpus rarely
    produces (OCR noise, foreign-script spill, markup debris) score far
    below the corpus mode and can be quarantined without any external
    model.

    Two corpus scans, both linear: (1) unigram counts — one groupBy with
    map-side combine; the corpus total rides a 1-row broadcast
    (``__scalar_`` pattern); (2) tokens re-exploded and joined to the
    unigram table (broadcast for bounded vocabularies, shuffled hash
    join at web scale — Catalyst/AQE decides), then mean log p per doc.
    Every token is in-vocabulary by construction (the distribution comes
    from the same corpus), so no smoothing term is needed.

    The (|vocab|-row) unigram table is PERSISTED: it has two consumers
    (the total and the probability table), and without materialization
    each recompiles the tokenize→explode→groupBy chain — a third full
    corpus scan for one scalar.

    Output: (id_col, n_tokens, avg_logprob).
    """
    from pyspark import StorageLevel

    exploded = corpus.select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    unigrams = own(
        exploded.groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    total = unigrams.agg(F.sum("cnt").alias("__scalar_total"))
    probs = unigrams.crossJoin(F.broadcast(total)).select(
        "tok", F.log(F.col("cnt") / F.col("__scalar_total")).alias("logp")
    )
    return (
        exploded.join(probs, "tok")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.avg("logp").alias("avg_logprob"),
        )
        .select(F.col("id").alias(id_col), "n_tokens", "avg_logprob")
    )


def skipgram_pairs(
    corpus: DataFrame,
    window: int = 3,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k directional skip-gram co-occurrence pairs — the counting
    stage of word2vec/GloVe-style embedding training and of collocation
    mining. A (center, context) pair is counted when the context token
    follows the center within ``window`` positions in the same document.

    Shape: posexplode → explode of the ``window`` literal offsets →
    EQUI-join on (doc, position+offset). Expressing "pos_b − pos_a ≤ w"
    as w exact-offset equi-keys keeps the join a hash join (a BETWEEN
    predicate on a doc-only key degrades to a per-doc nested loop over
    full documents); fanout is exactly ``window × |tokens|`` rows, and
    the pair count aggregation partial-combines map-side. The final cut
    is TakeOrdered with a total (n, w1, w2) tie-break."""
    toks = corpus.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "tok"),
    )
    offsets = F.array(*[F.lit(i) for i in range(1, window + 1)])
    left = toks.select(
        "id",
        F.col("tok").alias("w1"),
        "pos",
        F.explode(offsets).alias("__k"),
    ).select("id", "w1", (F.col("pos") + F.col("__k")).alias("pos_b"))
    pairs = left.join(
        toks.select("id", F.col("pos").alias("pos_b"), F.col("tok").alias("w2")),
        ["id", "pos_b"],
    )
    return (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("w1"), F.asc("w2"))
        .limit(k)
    )


def tfidf_doc_terms(
    corpus: DataFrame,
    selected_docs: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document TF-IDF term profile: the top-k terms of each selected
    document scored tf · ln(N/df) against CORPUS-WIDE document
    frequencies — keyword extraction / doc labeling for retrieval and
    dataset curation.

    Scale shape: term frequencies are aggregated only for the selected
    docs (the semi join lands before the explode's shuffle), while df
    comes from one full-corpus pass whose output is |vocabulary| — the
    join with the tiny selected-side tf table hashes on the token, and
    the corpus scalar N rides a 1-row broadcast. The per-doc top-k is a
    window over the selected docs only. Scores are ROUND(·, 6) — the
    BM25 discipline: identical integer operands into one ln and one
    multiply, rounded once on both engines."""
    toks = corpus.select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    dfreq = toks.groupBy("tok").agg(F.countDistinct("id").alias("df"))
    n_docs = corpus.agg(F.count(F.lit(1)).alias("__scalar_n_docs"))
    sel = selected_docs.select(F.col(id_col).alias("id")).distinct()
    tf = (
        toks.join(F.broadcast(sel), "id", "left_semi")
        .groupBy("id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    scored = (
        tf.join(dfreq, "tok")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("__scalar_n_docs") / F.col("df")), 6),
        )
    )
    from .aggregates import top_k_per_group

    return top_k_per_group(
        scored, ["id"], "tfidf", k, descending=True, tiebreak=["tok"]
    ).select(
        F.col("id").alias(id_col),
        F.col("tok").alias("term"),
        F.col("tf").cast("long").alias("tf"),
        F.col("df").cast("long").alias("df"),
        "tfidf",
    )


def bpe_merge_pair_counts(
    corpus: DataFrame,
    k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """The BPE-training inner loop, round one: corpus-wide counts of
    adjacent character pairs inside pre-tokenization segments — the
    statistic whose argmax becomes the first merge rule. Returns the
    top-k ``(left, right, n)`` pairs.

    The classic BPE-training trick, which is also the scale story: pair
    counting runs over the DISTINCT pre-token vocabulary weighted by
    frequency, not over the corpus. The corpus-size pass is one explode +
    groupBy (map-side combined); everything after operates on |vocab|
    rows — millions, not trillions, at crawl scale. Pair extraction is a
    native sequence→transform→explode; counts are integer sums with a
    total (n desc, left, right) tie-break ⇒ exact cross-engine."""
    from ..functions.text import bpe_pretokens

    pre = corpus.select(F.explode(bpe_pretokens(F.col(text_col))).alias("pt"))
    vocab = pre.groupBy("pt").agg(F.count(F.lit(1)).alias("freq"))
    pairs = (
        vocab.where(F.length("pt") >= 2)
        .select(
            "freq",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("pt") - 1),
                    lambda i: F.struct(
                        F.col("pt").substr(i, F.lit(1)).alias("left"),
                        F.col("pt").substr(i + 1, F.lit(1)).alias("right"),
                    ),
                )
            ).alias("p"),
        )
        .select("freq", "p.left", "p.right")
    )
    return (
        pairs.groupBy("left", "right")
        .agg(F.sum("freq").alias("n"))
        .orderBy(F.desc("n"), F.asc("left"), F.asc("right"))
        .limit(k)
    )


def inverted_index(
    corpus: DataFrame,
    min_df: int = 2,
    max_df: int = 400,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Inverted-index build: per-term sorted posting lists with
    delta-encoded gaps — the physical structure behind every lexical
    retrieval system, as a DataFrame of
    ``(term, df, postings, gaps)``. ``postings`` is the ascending doc-id
    list; ``gaps`` is its delta encoding (first id, then successive
    differences), the form posting lists are compressed in on disk.

    Df-band filtering ([min_df, max_df]) happens BEFORE list
    materialization, so stopword-scale terms (df ≈ |corpus|) never
    build a corpus-length array on one key — the classic inverted-index
    skew. Terms above the band are the ones a real index stores as
    bitmaps/skip lists instead; here they are excluded by contract.
    One explode + distinct + groupBy; the sort is per-list
    (``sort_array``), never global; gaps are a native ``transform`` over
    the sorted array."""
    tok = corpus.select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("term")
    ).distinct()
    band = (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .where((F.col("df") >= min_df) & (F.col("df") <= max_df))
    )
    postings = (
        tok.join(band, "term")
        .groupBy("term")
        .agg(
            F.first("df").alias("df"),
            F.sort_array(F.collect_list("id")).alias("postings"),
        )
    )
    gaps = F.transform(
        F.col("postings"),
        lambda x, i: F.when(i == 0, x).otherwise(
            x - F.element_at(F.col("postings"), i)
        ),
    )
    return postings.select("term", "df", "postings", gaps.alias("gaps"))
