"""Deduplication operators for training-data pipelines.

Exact (hash groupBy), MinHash+LSH, SimHash, winnowing, bottom-k and
n-gram Jaccard near-dup. Not in the reference (tabular data); first-class
engine additions per the north-star scope. Design target is the 100 TB
case: every candidate source is a shuffle on a hash key, so only
documents sharing a key ever meet — pair volume is Σ|key group|², never
|corpus|².

Each near-duplicate pair operator is a CANDIDATE GENERATOR × VERIFIER,
and each part is written once:

- ``minhash_lsh_duplicates``: generator :func:`_lsh_candidates` over the
  :func:`minhash_band_index` rows (sentinel drop → groupBy(band, bucket)
  → size cap → :func:`_pairs` expansion with the signature screen
  inline); verifier :func:`_verify_jaccard` over the same persisted
  :func:`_shingle_sets` frame the signatures were built from.
- ``minhash_lsh_duplicates_incremental``: the same generator over
  ``index ∪ batch`` band rows, keeping pairs that touch the batch;
  verifier :func:`_verify_jaccard` over the candidate-pruned history
  shingles ∪ the batch shingles.
- ``ngram_jaccard_pairs_indexed`` (PPJoin): generator
  :func:`_ppjoin_candidates`, a prefix-postings equi-join; verifier
  :func:`_verify_jaccard` over the rank-encoded token sets.
- ``winnow_containment_pairs``: generator :func:`_pairs` over each
  fingerprint's posting list; verifier: shared-fingerprint count over
  the smaller fingerprint set (containment, not Jaccard).
- ``simhash_duplicates``: 16-bit chunk self-join; verifier: Hamming
  distance of the two signatures.
- ``bottomk_sketch_pairs``: sketch-postings self-join; verifier:
  shared-hash count.
- ``ngram_jaccard_pairs``: blocked quadratic join; verifier: inline
  :func:`jaccard`.

All signature computation is native column expressions (xxhash64 or the
md5-derived :func:`portable_hash60`) — deterministic, no Python in the
scan.

Duplicate-resolution semantics: "keep smallest doc_id". A row is dropped
iff it pairs (above threshold) with ANY smaller-id row. Pair-loser
dropping is one-hop; for transitive duplicate CLUSTERS (chains merged,
one canonical row per component) close the pairs with
``operators/graph.py::dedup_keep_canonical``.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import (
    _let,
    char_shingles,
    token_shingles,
    tokens,
    winnow_fingerprints,
)
from ..resources import own


def exact_dedup(
    df: DataFrame, cols: list[str], id_col: str, tiebreak: list[str] | None = None
) -> DataFrame:
    """Exact dedup on ``cols`` content: keep one row per distinct content,
    the one with the smallest ``id_col`` (deterministic).

    Shuffles on a 256-bit content hash rather than raw content, so shuffle
    keys stay 32 bytes regardless of document size.

    A NULL id NEVER wins representative selection (NULLS LAST): "keep
    smallest id" means the smallest IDENTIFIED document — Spark's bare
    ``asc()`` is nulls-first, which would elect the one row nobody can
    reference as the survivor of its duplicate group, while SQL engines'
    bare ``ASC`` elects the smallest real id (``driver_sim
    --perturb-nulls`` find on NULL-seeded ids).

    ``tiebreak`` (r11, seed-349 stack find): under DUPLICATED ids two
    rows can tie on (content, id) while differing in a carried-along
    column — which one survives is then a shuffle accident. Callers
    that project extra columns off the representative must close the
    order over them (ASC NULLS FIRST, the house tie convention)."""
    content_hash = F.sha2(F.concat_ws("\x00", *[F.col(c).cast("string") for c in cols]), 256)
    w = Window.partitionBy(content_hash).orderBy(
        F.col(id_col).asc_nulls_last(),
        *[F.asc_nulls_first(c) for c in (tiebreak or [])],
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# Universal-hash permutation constants: h_i(x) = (a_i*x + b_i) mod p over a
# 31-bit Mersenne prime. Products stay < 2^62 so the arithmetic is safe under
# ANSI overflow checking; constants are fixed (deterministic across runs).
_MINHASH_PRIME = (1 << 31) - 1


def portable_hash60(col: Column) -> Column:
    """md5-derived 60-bit non-negative integer hash, reproducible
    bit-identically by any engine with md5: the first 15 hex chars of
    md5(s) parsed base-16. DuckDB replay:
    ``CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)``.

    This is the PORTABLE base hash behind ``portable=True`` on the
    MinHash/SimHash operators — it trades xxhash64's one-pass speed
    (md5 is ~3-4× slower per byte) for a full cross-engine value oracle,
    the ``bottomk_sketch_pairs`` pattern generalized. Production default
    stays xxhash64."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _perm_constants(num_hashes: int, seed: int = 0x5EED) -> tuple[list[int], list[int]]:
    import random

    rng = random.Random(seed)
    a = [rng.randrange(1, _MINHASH_PRIME) for _ in range(num_hashes)]
    b = [rng.randrange(0, _MINHASH_PRIME) for _ in range(num_hashes)]
    return a, b


def _spread(df: DataFrame) -> DataFrame:
    """Repartition up to cluster parallelism when the scan produced fewer
    splits. Shingling/hashing is CPU-bound at ~200+ ops/char while input
    bytes are comparatively tiny, so bytes-based file-split granularity
    underestimates the work — a single-split file would hash on one core.
    One exchange of the raw text, reused by every downstream branch."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < parallelism:
        return df.repartition(parallelism)
    return df


def _shingle_sets(
    df: DataFrame, text_col: str, id_col: str, shingle_size: int
) -> DataFrame:
    """``(id, sh)``: each row's DISTINCT character shingles — the one
    shingling projection behind the MinHash signatures and every
    exact-verify side. Callers pass the source through ``_spread``
    first: a small or singly-split source would otherwise shingle on one
    core, and when AQE broadcasts a verify side its shingle expressions
    run inside the broadcast collect, serially (round-5 find: 3.4 s →
    0.6 s at sf0.1 for the identical 253-pair output). The spread stays
    with the caller because it must sit on the scan: ``_spread`` reads
    the partition count, which would run any shuffle above it."""
    return df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(char_shingles(F.col(text_col), shingle_size)).alias("sh"),
    )


def _pairs(members: Column, pair) -> Column:
    """``array(pair(a, b))`` over every two members a, b of one list,
    a before b in ``array_sort`` order — the ONE pair expansion behind
    the LSH buckets and winnow's posting lists. A struct list sorts by
    its first field (the id), so positional slicing emits each unordered
    pair once with id_a ≤ id_b; callers still filter id_a < id_b where
    duplicate ids can share a list.

    The sorted list is bound ONCE with ``_let``: written inside the
    outer lambda, ``array_sort`` re-ran per member — m sorts of an
    m-member list (one 1,500-member bucket: 10–12 s → 4.5–5.4 s on 4
    cores, identical 1,124,195 pairs)."""
    return _let(
        F.array_sort(members),
        lambda arr: F.flatten(
            F.transform(
                arr,
                lambda a, i: F.transform(
                    F.slice(arr, i + 2, F.greatest(F.size(arr) - i - 1, F.lit(0))),
                    lambda b: pair(a, b),
                ),
            )
        ),
    )


def jaccard(a: Column, b: Column) -> Column:
    """Jaccard similarity of two DISTINCT arrays (set semantics — callers
    must pre-``array_distinct``; doing it here would rebuild the hash set
    per pair). |∪| = |a|+|b|-|∩| avoids materializing the union array.
    The duplicated ``array_intersect`` collapses under codegen CSE; hot
    paths split the projection instead (see :func:`_verify_jaccard`)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return inter / F.greatest(union, F.lit(1))


def _verify_jaccard(cand: DataFrame, sets: DataFrame, threshold: float) -> DataFrame:
    """The ONE exact-Jaccard verify: candidate pairs ``(id_a, id_b)``
    joined to ``sets`` ``(id, sh)`` — distinct-element arrays covering
    every candidate id — on both sides, scored
    ``round(|∩| / max(|a|+|b|−|∩|, 1), 6)`` and kept at ≥ ``threshold``.
    Returns ``(id_a, id_b, jaccard_sim)``.

    |∪| comes from the sizes, so no ``array_union`` (which re-hashes
    both arrays) is built, and the intersection size sits in its own
    projection, evaluated once there. The optimizer still pushes the
    ≥ ``threshold`` filter into the second join's condition, which
    spells the intersection twice more (measured, left to Spark's
    join-condition subexpression elimination; see ROADMAP)."""
    return (
        cand.join(sets.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sets.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).alias("__i"),
            (F.size(F.col("sh_a")) + F.size(F.col("sh_b"))).alias("__t"),
        )
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("__i") / F.greatest(F.col("__t") - F.col("__i"), F.lit(1)), 6
            ).alias("jaccard_sim"),
        )
        .filter(F.col("jaccard_sim") >= threshold)
    )


def minhash_lsh_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 4,
    shingle_size: int = 5,
    jaccard_threshold: float = 0.8,
    max_bucket_size: int | None = 10_000,
    portable: bool = False,
) -> DataFrame:
    """Candidate generation via LSH banding (:func:`_lsh_candidates`) +
    exact-Jaccard verification (:func:`_verify_jaccard`).

    Returns duplicate pairs ``(id_a, id_b, jaccard_sim)`` with id_a < id_b.
    No corpus-wide cross join anywhere.

    Band geometry matters: with ``b`` bands of ``r`` rows the candidate
    threshold is ≈ (1/b)^(1/r); the default 4×8 (≈0.84) is tuned to
    ``jaccard_threshold=0.8``. Wider bands (8×4 ≈ 0.59) flood the
    verification stage with sub-threshold pairs — 50×+ more candidates on
    corpora with moderate background similarity.

    ``max_bucket_size`` is the skew guard: a degenerate bucket of m rows
    (boilerplate/empty docs) contributes m² pairs, so one hot key can
    dominate the whole job at scale. Buckets above the cap are dropped
    (their members are still candidates via their other bands); set None
    to disable. The cap also bounds the per-task memory of the bucket's
    collect_list (≤ cap × (8 B id + num_hashes × 8 B sig) per group row
    — ~2.7 MB at the 10 k default).

    Shingling is ONE persisted pass (r13, guide §2.3: compute the
    expensive projection once, shuffle/reuse the small thing): one
    ``(id, sh)`` frame feeds the signature aggregation and both verify
    join sides, where the corpus used to be shingled three times (Spark
    compiles the two verify sides independently). char_shingles
    dominates executor CPU (~200 ops/char), so sharing it cut the
    query's task-time ~35% (24 s → 15.5 s at sf0.1) and wall −7% at 32
    cores / −14% at 8 cores. Persisting the shingles for the verify
    stage ALONE (2 passes → 1) measured neutral-to-worse (round 4): the
    persist is a blocking stage, while the duplicate shingle passes ran
    concurrently on idle threads — sharing with the signature pass too
    (3 → 1) is what flips the sign. Nor is the verify source pruned to
    candidate ids: with a near-copy per document (candidates ≈ corpus)
    the semi-join prunes nothing and blocks on a persisted pair
    materialization (measured 3.4 s → 6.1 s at sf0.1). The persist is an
    intermediate of THIS job, owned by ``resources`` — never a
    cross-run cache.
    """
    sh = own(
        _shingle_sets(_spread(df), text_col, id_col, shingle_size).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    )
    banded = minhash_band_index(
        df, text_col, id_col, num_hashes, bands, shingle_size,
        portable=portable, _shingled=sh,
    )
    cand = _lsh_candidates(banded, num_hashes, jaccard_threshold, max_bucket_size)
    return _verify_jaccard(cand, sh, jaccard_threshold)


def _lsh_candidates(
    banded: DataFrame,
    num_hashes: int,
    jaccard_threshold: float,
    max_bucket_size: int | None,
    batch_col: str | None = None,
) -> DataFrame:
    """The MinHash-LSH candidate generator: band rows ``(id, sig, band,
    bucket)`` → distinct screened pairs ``(id_a, id_b)``, id_a < id_b.

    ONE groupBy (band, bucket) → collect_list → per-bucket pair
    expansion (:func:`_pairs`) with the signature screen evaluated
    inline — a single shuffle of (id, sig) keyed by bucket, the size
    cap a free ``size(ms)`` filter, and sub-threshold pairs die inside
    the projection without ever being exchanged (the earlier index
    self-join needed a persisted band index, a window-count cap and
    two join exchanges for the same Σ|bucket|² pair volume).

    - Sentinel signatures (``[p]*num_hashes`` — empty/null/too-short
      texts, which all share one bucket per band) can never verify: no
      shingles ⇒ exact Jaccard 0. They are dropped BEFORE grouping,
      which is output-identical and removes the m² degenerate-bucket
      expansion. Min-hashes are pmod(·, p) < p, so sig[0] = p
      identifies the sentinel exactly.
    - The screen: the fraction of agreeing signature components
      estimates Jaccard with σ ≈ √(j(1-j)/k), so a 3σ margin below the
      threshold rejects only (almost surely) sub-threshold pairs — k
      long comparisons per pair instead of a shingle-set intersection.
      It is a pure function of the two signatures, so screening before
      the pair dedup (pairs colliding in several bands) is equivalent
      and strictly cheaper.
    - id_a < id_b (not just ≤, which the sort gives): an input with
      duplicate ids puts two rows of one id in a bucket, and the
      positional expansion would emit an (x, x) self-pair with est = 1.
    - ``batch_col`` (the incremental path): a boolean band-row column
      that rides in the member struct; only pairs with at least one
      batch member are kept.
    """
    members = ["id", "sig"] + ([batch_col] if batch_col else [])
    grouped = (
        banded.filter(F.element_at("sig", 1) < F.lit(_MINHASH_PRIME).cast("long"))
        .groupBy("band", "bucket")
        .agg(F.collect_list(F.struct(*members)).alias("ms"))
        .filter(F.size("ms") >= 2)
    )
    if max_bucket_size is not None:
        grouped = grouped.filter(F.size("ms") <= max_bucket_size)
    est_margin = 3.0 * (0.25 / num_hashes) ** 0.5

    def pair(a: Column, b: Column) -> Column:
        agree = F.filter(F.zip_with(a["sig"], b["sig"], lambda x, y: x == y), lambda e: e)
        fields = [
            a["id"].alias("id_a"),
            b["id"].alias("id_b"),
            (F.size(agree) / F.lit(num_hashes)).alias("est"),
        ]
        if batch_col:
            fields.append((a[batch_col] | b[batch_col]).alias("batch"))
        return F.struct(*fields)

    keep = (F.col("est") >= jaccard_threshold - est_margin) & (F.col("id_a") < F.col("id_b"))
    if batch_col:
        keep = keep & F.col("batch")
    return (
        grouped.select(F.explode(_pairs(F.col("ms"), pair)).alias("p"))
        .select("p.*")
        .filter(keep)
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )


def minhash_band_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 4,
    shingle_size: int = 5,
    portable: bool = False,
    _shingled: DataFrame | None = None,
) -> DataFrame:
    """LSH band index rows ``(id, sig, band, bucket)`` for a corpus —
    ``bands`` rows per document. Materialize once (ideally bucketed on
    (band, bucket) via ``DataFrameWriter.bucketBy``) and reuse with
    ``minhash_lsh_duplicates_incremental`` so history is never re-hashed.

    Banding shuffles only (id, sig, band, bucket) — never the document
    text: at 100 TB the banded exchange is |corpus|×bands small rows.

    The signature is computed as a CODEGEN'D AGGREGATION, not a per-row
    higher-order fold: explode the distinct shingles, hash each once in
    a scalar projection, then groupBy(id) with ``num_hashes`` ``min()``
    aggregates — one per permutation — exactly the shape the DuckDB
    oracle spells (``MIN((h0*pa+pb) %% p) ... GROUP BY id, i``). Spark
    NEVER whole-stage-codegens higher-order functions (aggregate/
    zip_with/transform are interpreted, with per-element boxing and
    array allocation): a HOF fold burned ~21 s of executor CPU at sf0.1
    where this aggregation burns ~2 s for bit-identical signatures.
    The extra groupBy(id) exchange is |corpus| rows of 32 longs — and
    map-side partial aggregation collapses the exploded shingles before
    the shuffle. Empty/too-short texts (no shingles) keep the
    ``[p]*num_hashes`` sentinel signature via explode_outer + coalesce
    (the base hash is NULL-guarded — xxhash64(NULL)=42 would otherwise
    defeat the coalesce); null texts get the same sentinel — either way
    those rows are dropped before bucket grouping (a null/empty text has
    no shingles, so its verified Jaccard can never reach the threshold),
    matching the oracle, which never emits them.

    Duplicate ids: the groupBy(id) aggregation produces ONE signature
    per id over the UNION of all its rows' shingles. The operator has no
    unique-id precondition, so this per-id semantics is the contract:
    rows sharing an id are treated as one logical document — matching
    the oracle's ``GROUP BY id`` shape (pinned in
    tests/test_dedup_similarity.py::test_minhash_duplicate_ids_*).

    ``_shingled`` (private, for the two MinHash dedup paths): the
    :func:`_shingle_sets` frame of the same rows, typically persisted;
    when given, it is read instead of shingling here (bit-identical
    values: the same expression tree, evaluated once and shared with the
    verify stage).
    """
    rows_per_band = num_hashes // bands
    a, b = _perm_constants(num_hashes)
    p = _MINHASH_PRIME
    base = portable_hash60 if portable else F.xxhash64

    if _shingled is None:
        _shingled = _shingle_sets(_spread(df), text_col, id_col, shingle_size)
    exploded = _shingled.select("id", F.explode_outer("sh").alias("__s"))
    h0 = (
        exploded
        .select(
            "id",
            # NULL must PROPAGATE so the sentinel coalesce below fires:
            # xxhash64(NULL) = 42 (a real hash, not NULL), so without the
            # guard every empty/null-text row would share a 42-derived
            # signature instead of the documented [p]*num_hashes sentinel
            # (round-7 advisor find) and, with max_bucket_size=None,
            # co-bucket with est=1.0 into m² junk pairs.
            F.when(
                F.col("__s").isNotNull(),
                F.pmod(base(F.col("__s")), F.lit(p).cast("long")),
            ).alias("__h0"),
        )
    )
    # The wide expression lists below are built as SQL strings (one
    # F.expr round-trip each) rather than Column-combinator trees: every
    # F.* call is a py4j socket round-trip (~0.4 ms), and the
    # combinator form of these 32 aggregates + 4 band buckets costs
    # ~450 round-trips ≈ 0.3 s of driver time PER PLAN BUILD. The parsed
    # expressions are node-for-node identical.
    sig_rows = h0.groupBy("id").agg(
        *[
            F.expr(
                f"coalesce(min(pmod(__h0 * {ai}L + {bi}L, {p}L)), {p}L) AS __m{i}"
            )
            for i, (ai, bi) in enumerate(zip(a, b))
        ]
    )
    # Banding straight off the aggregate's flat columns (no element_at
    # on an intermediate array — column references are free), sig
    # re-assembled as an array only for the output schema. Portable
    # buckets hash the same comma-joined band string with
    # portable_hash60 (DuckDB: ``string_agg(v, ',' ORDER BY i)``).
    def _bucket_sql(bb: int) -> str:
        cols = ", ".join(
            f"CAST(__m{bb * rows_per_band + r} AS STRING)"
            for r in range(rows_per_band)
        )
        joined = f"concat_ws(',', {cols})"
        if portable:
            return f"CAST(conv(substring(md5({joined}), 1, 15), 16, 10) AS BIGINT)"
        return f"xxhash64({joined})"

    band_arr = F.expr(
        "array("
        + ", ".join(
            f"named_struct('band', {bb}, 'bucket', {_bucket_sql(bb)})"
            for bb in range(bands)
        )
        + ")"
    )
    sig = F.expr("array(" + ", ".join(f"__m{i}" for i in range(num_hashes)) + ")")
    return sig_rows.select(
        "id", sig.alias("sig"), F.explode(band_arr).alias("bb")
    ).select("id", "sig", "bb.band", "bb.bucket")


def minhash_lsh_duplicates_incremental(
    new_df: DataFrame,
    index: DataFrame,
    history_texts: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 4,
    shingle_size: int = 5,
    jaccard_threshold: float = 0.8,
    max_bucket_size: int | None = 10_000,
    portable: bool = False,
) -> DataFrame:
    """Dedup an INGEST BATCH against an already-materialized LSH band
    index (``minhash_band_index`` output) plus within itself — the
    daily-ingestion pattern: history is never re-hashed, and its text is
    scanned only for the candidate ids the buckets surface.

    Returns pairs (id_a, id_b, jaccard_sim), id_a < id_b, where at least
    one side is a new document. Ids must be unique across history ∪ new —
    in particular history and batch id sets are assumed DISJOINT (an id
    in both, with edited text, carries two signatures into its buckets,
    and a pair is kept if any signature combination passes the screen).
    ``history_texts`` is the historical ``(id_col, text_col)`` source used
    for exact verification. The hash parameters MUST match the ones the
    index was built with.

    Equivalence: on history H and batch N, this returns exactly the
    pairs of ``minhash_lsh_duplicates(H ∪ N)`` that touch N, bucket cap
    included — it IS that path's generator (:func:`_lsh_candidates`)
    over ``index ∪ batch`` band rows, with a batch flag riding in each
    bucket member. Proven in tests.

    Verify (:func:`_verify_jaccard`): the batch is shingled ONCE — one
    persisted :func:`_shingle_sets` frame feeds the band-index
    signatures and the verify. History shingles are not stored in the
    index, so the candidate pairs are persisted and the history text is
    semi-joined down to candidate ids before it is shingled: every pair
    touches the small batch, so candidates ≪ history and "history text
    is scanned only for candidate ids" holds literally (no broadcast
    hint: candidate ids can be huge at 100 TB; AQE downgrades the
    semi-join to broadcast when they are small).
    """
    sh_new = own(
        _shingle_sets(_spread(new_df), text_col, id_col, shingle_size).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    )
    banded = index.select("id", "sig", "band", "bucket").withColumn(
        "__new", F.lit(False)
    ).unionByName(
        minhash_band_index(
            new_df, text_col, id_col, num_hashes, bands, shingle_size,
            portable=portable, _shingled=sh_new,
        ).withColumn("__new", F.lit(True))
    )
    cand = own(
        _lsh_candidates(
            banded, num_hashes, jaccard_threshold, max_bucket_size, batch_col="__new"
        ).persist(StorageLevel.MEMORY_AND_DISK)
    )
    cand_ids = (
        cand.select(F.col("id_a").alias(id_col))
        .unionByName(cand.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    hist = _shingle_sets(
        _spread(history_texts).join(cand_ids, id_col, "left_semi"),
        text_col, id_col, shingle_size,
    )
    return _verify_jaccard(cand, hist.unionByName(sh_new), jaccard_threshold)


def simhash_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    portable: bool = False,
) -> DataFrame:
    """Near-dup pairs by SimHash: band the 64 bits into 4×16-bit chunks;
    pairs within hamming ≤ 3 share at least one chunk (pigeonhole), so the
    candidate join is an equi-join on (chunk_idx, chunk_value).

    ``portable=True`` uses 60-bit md5-derived signatures (chunks of
    16/16/16/12 effective bits — the pigeonhole argument is unchanged:
    4 chunks still partition every signature bit, so hamming ≤ 3 implies
    a shared chunk) and replays fully in DuckDB SQL.

    The signature is computed as a CODEGEN'D AGGREGATION (explode
    tokens → one hash per row → ``hash_bits`` signed-vote ``sum()``
    aggregates → one bit-assembly projection), not a per-row
    higher-order fold — the same interpreted-HOF rewrite as
    ``minhash_band_index``: a fold allocates two ``hash_bits``-wide
    arrays per token and evaluates ~3×``hash_bits`` boxed ops outside
    codegen. Null-text rows are filtered up front: they have no tokens,
    and their null chunk values would never equi-join anyway."""
    hash_bits = 60 if portable else 64
    base = portable_hash60 if portable else F.xxhash64
    toks = (
        _spread(df)
        .filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("id"),
            F.explode(tokens(F.col(text_col))).alias("__t"),
        )
        .select("id", base(F.col("__t")).alias("__h"))
    )
    votes = toks.groupBy("id").agg(
        *[
            F.expr(
                f"sum(CASE WHEN (shiftright(__h, {p}) & 1) = 1"
                f" THEN 1 ELSE -1 END) AS __v{p}"
            )
            for p in range(hash_bits)
        ]
    )
    # powers are disjoint bits, so bitwise OR assembles the signature;
    # the sign bit's literal must dodge the -2^63 parse overflow
    terms = " | ".join(
        f"(CASE WHEN __v{p} > 0 THEN "
        + (f"{1 << p}L" if p < 63 else "(-9223372036854775807L - 1L)")
        + " ELSE 0L END)"
        for p in range(hash_bits)
    )
    sigs = votes.select("id", F.expr(f"CAST({terms} AS BIGINT)").alias("sig"))
    chunks = own(sigs.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_idx"),
                        F.shiftrightunsigned(F.col("sig"), i * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("chunk_val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    # persisted: the chunk index feeds both self-join sides; without it
    # every document's signature (a full token-hash vote aggregation) is
    # computed twice (Spark plans the two sides independently; no
    # ReusedExchange fires)
    ).select("id", "sig", "c.chunk_idx", "c.chunk_val").persist(
        StorageLevel.MEMORY_AND_DISK
    ))
    a, b = chunks.alias("a"), chunks.alias("b")
    # Hamming is computed and FILTERED before the pair dedup (r13, guide
    # §2.3 — don't shuffle what you throw away): it is a pure function
    # of the two signatures, so every duplicate occurrence of a pair
    # carries the identical value, and filtering first removes ALL
    # occurrences of failing pairs — the dedup exchange then carries
    # only the (rare) qualifying pairs instead of every 16-bit chunk
    # collision. Output identical: same distinct pairs, same hamming.
    return (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_cols: list[str] | None = None,
    threshold: float = 0.5,
) -> DataFrame:
    """Token-set Jaccard similarity pairs, blocked by ``block_cols`` to
    bound the pair space (at scale ALWAYS block — unblocked is |corpus|²;
    the LSH variants above are the unblocked-scale path). Word-shingle
    sets are ``ngram_jaccard_pairs_indexed``'s ``shingle_n``."""
    df = _spread(df)
    base = df.select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in (block_cols or [])],
        F.array_distinct(tokens(F.col(text_col))).alias("tokset"),
    ).withColumn("sz", F.size("tokset"))
    a, b = base.alias("a"), base.alias("b")
    cond = F.col("a.id") < F.col("b.id")
    for c in block_cols or []:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    # Size filter (set-similarity-join standard): J(a,b) ≤ min/max of the
    # set sizes, so J ≥ t requires min ≥ t·max. Evaluated in the join
    # condition on two ints, it prunes the bulk of the blocked pair space
    # before any O(|set|) intersection is attempted — same output, the
    # oracle is unchanged.
    cond = cond & (
        F.least(F.col("a.sz"), F.col("b.sz"))
        >= F.greatest(F.col("a.sz"), F.col("b.sz")) * F.lit(threshold)
    )
    return (
        a.join(b, cond)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(jaccard(F.col("a.tokset"), F.col("b.tokset")), 6).alias("jaccard_sim"),
        )
        .filter(F.col("jaccard_sim") >= threshold)
    )


def ngram_jaccard_pairs_indexed(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    shingle_n: int | None = None,
    block_cols: list[str] | None = None,
) -> DataFrame:
    """EXACT token-set Jaccard pairs ≥ threshold with NO blocking column
    and no quadratic pair space — the prefix-filtering set-similarity
    join (PPJoin family, Xiao et al., WWW'08), on DataFrames.

    ``shingle_n``: compare distinct word n-gram SHINGLES instead of
    distinct tokens. Order-sensitive, so it still discriminates where
    token-set Jaccard saturates — under a small vocabulary any two long
    documents share nearly all distinct tokens (measured on the synthetic
    corpus: 31-word vocab, 444 of ~125k unrelated doc pairs at token-set
    J ≥ 0.98), while their 5-gram shingle overlap stays ≈ 0.

    Guarantee (with the size filter min ≥ t·max): any qualifying pair
    overlaps in ≥ ⌈t·|a|⌉ tokens, so the two sets MUST share a token in
    each other's first ``|x| − ⌈t·|x|⌉ + 1`` tokens under one global
    order. Ordering tokens rarest-first makes those prefix tokens the
    most selective ones, so the inverted-index join stays sparse.

    Plan shape (all linear in corpus size except the candidate join):
    tokenize → global token-frequency rank (one agg over exploded
    tokens) → re-assemble each doc's rank-sorted token array → explode
    only the PREFIX into postings → equi-self-join on token (+ size
    filter) → exact verify (:func:`_verify_jaccard`) on the full sorted
    arrays. Output is identical to the quadratic formulation — same
    oracle.

    The rank-sorted index (``sorted_docs``) and its prefix postings are
    PERSISTED: the index is consumed five times downstream (both sides of
    the candidate self-join re-derive postings; the verify step joins the
    full arrays back twice) and the paper's model is precisely "build the
    index once, probe it". Without persistence Spark re-runs the
    tokenize→rank→sort pipeline per consumer — 3× wall-clock on a
    duplicate-heavy corpus. MEMORY_AND_DISK so a 100 TB index spills
    instead of OOMing; callers that keep the result lazy inherit the
    materialized index on first action.
    """
    sorted_docs, postings, bnames, parallelism = _ppjoin_index(
        df, text_col, id_col, threshold, shingle_n, block_cols
    )
    cand = _ppjoin_candidates(postings, bnames, threshold, parallelism)
    return _verify_jaccard(cand, sorted_docs, threshold)


def _ppjoin_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    shingle_n: int | None = None,
    block_cols: list[str] | None = None,
) -> tuple[DataFrame, DataFrame, list[str], int]:
    """The PPJoin index build: (sorted_docs, prefix postings, block-col
    names, parallelism). ``sorted_docs`` is ``(id, sh, block cols, sz)``
    with ``sh`` the rank-encoded token set, the shape
    :func:`_verify_jaccard` reads. Split out of
    :func:`ngram_jaccard_pairs_indexed` so ``tools/scale_probe.py`` can
    count the operator's ACTUAL intermediate volumes — not a replica's —
    across scale factors. Both returned frames are persisted; callers
    that materialize them own the unpersist."""
    # ``shingle_n``: compare distinct word-SHINGLE sets instead of token
    # sets (order-sensitive — discriminates where token-set Jaccard
    # saturates; see ngram_jaccard_pairs). ``block_cols``: candidate
    # pairs must also agree on these columns — the PPJoin pruning is
    # per-pair, so adding block equality to the candidate join yields
    # exactly the blocked-quadratic output (a same-block qualifying pair
    # still shares a prefix element and passes the size filter; NULL
    # blocks pair with nobody under equality, same as the join form).
    elems = (
        token_shingles(F.col(text_col), shingle_n)
        if shingle_n
        else tokens(F.col(text_col))
    )
    bcols = [F.col(c).alias(f"__b{i}") for i, c in enumerate(block_cols or [])]
    bnames = [f"__b{i}" for i in range(len(block_cols or []))]
    base = _spread(df).select(
        F.col(id_col).alias("id"),
        F.array_distinct(elems).alias("toks"),
        *bcols,
    )
    exploded = base.select(
        "id", *bnames, F.explode_outer("toks").alias("tok")
    ).filter(F.col("tok").isNotNull())
    # PACKED vocab rank (SURVEY §7.3's W2 hazard, closed round 6): a
    # bare Window.orderBy(cnt, tok) over the vocabulary serializes the
    # whole vocab through ONE partition — invisible at sf0.1, fatal on a
    # 100 TB corpus with a billions-row vocabulary. And a naive
    # partitionBy(cnt) two-phase just moves the hazard: the cnt=1
    # (hapax) bucket IS most of a web-scale vocab. Instead of a global
    # row_number the rank is PACKED bits — clipped count class, an
    # xxhash salt (uniform over hapax tokens, so every window partition
    # is |vocab|/n_salts), and a within-(class, salt) row_number:
    # injective by construction, ascending in count class, computed with
    # ONE balanced window and no stats pass, offsets join, or
    # single-partition exchange anywhere. Rarest-first survives at
    # count-class granularity, which is all the selectivity heuristic
    # can use — within one frequency class every token is equally
    # selective (counts above the 2^21 clip are all saturated stopwords).
    # The OUTPUT PAIRS are provably unchanged under any consistent total
    # order: the prefix-filter guarantee is order-agnostic, and the
    # verified Jaccard is invariant under any token bijection (tests pin
    # equality against the unblocked quadratic formulation).
    # Bit budget: cls ≤ 2^21 shifted 41 ⇒ < 2^62; salt < 2^10 shifted
    # 30; row_number needs < 2^30 per (cls, salt) group ⇒ headroom for a
    # ~10^12-token vocabulary at 1024 salts.
    n_salts = 1024  # fixed, so ranks are deterministic across cluster sizes
    counts = exploded.groupBy("tok").agg(F.count("*").alias("cnt"))
    keyed = counts.select(
        "tok",
        F.least(F.col("cnt"), F.lit(1 << 21)).cast("long").alias("__cls"),
        F.pmod(F.xxhash64("tok"), F.lit(n_salts)).cast("long").alias("__salt"),
    )
    in_w = Window.partitionBy("__cls", "__salt").orderBy("tok")
    ranks = keyed.select(
        "tok",
        (
            F.col("__cls") * F.lit(1 << 41).cast("long")
            + F.col("__salt") * F.lit(1 << 30).cast("long")
            + F.row_number().over(in_w)
        ).alias("rank"),
    )
    # Dictionary-encode: every token is replaced by its packed frequency
    # RANK and all downstream work — postings join key, prefix slice,
    # verify intersection — runs on array<bigint> instead of
    # array<string>. Ranks sort ascending = rarest-first (no struct sort
    # needed), integer equality beats UTF8 comparison in the hot verify
    # loop, and the shuffled index bytes shrink by ~the average token
    # length. Jaccard is invariant under the bijection, so the output is
    # unchanged.
    # The explicit repartition pins the CACHED index at cluster
    # parallelism: the index is small in BYTES (ranks, not strings), so
    # AQE would coalesce the groupBy's shuffle to one partition — and
    # every downstream stage that probes the cache (candidate join,
    # prefix explode) would inherit that single partition and serialize.
    # The repartition sits BELOW the groupBy (r13): HashPartitioning(id)
    # satisfies the aggregate's ClusteredDistribution(id), so ONE
    # explicit exchange both feeds the aggregate and pins the cache —
    # the former shape paid an ENSURE_REQUIREMENTS exchange for the
    # groupBy and then a second REPARTITION_BY_NUM of its output.
    # Shuffle volume is unchanged: collect_list has no map-side
    # collapse, so the aggregate exchange always carried every
    # (id, rank) row anyway.
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    sorted_docs = own(
        exploded.join(ranks, "tok")
        .repartition(parallelism, "id")
        .groupBy("id")
        .agg(
            F.array_sort(F.collect_list("rank")).alias("sh"),
            *[F.first(bn).alias(bn) for bn in bnames],
        )
        .withColumn("sz", F.size("sh"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    prefix_len = F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")).cast("int") + 1
    postings = own(
        sorted_docs.select(
            "id",
            "sz",
            *bnames,
            F.explode_outer(F.slice("sh", 1, prefix_len)).alias("tok"),
        )
        .filter(F.col("tok").isNotNull())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return sorted_docs, postings, bnames, parallelism


def _ppjoin_candidates(
    postings: DataFrame,
    bnames: list[str],
    threshold: float,
    parallelism: int,
) -> DataFrame:
    """Prefix-postings equi-self-join → distinct candidate id pairs
    (the Σ-postings² bound the SCALING.md claim is about)."""
    a, b = postings.alias("a"), postings.alias("b")
    cand_cond = (
        (F.col("a.tok") == F.col("b.tok"))
        & (F.col("a.id") < F.col("b.id"))
        & (
            F.least(F.col("a.sz"), F.col("b.sz"))
            >= F.greatest(F.col("a.sz"), F.col("b.sz")) * F.lit(threshold)
        )
    )
    for bn in bnames:
        cand_cond = cand_cond & (F.col(f"a.{bn}") == F.col(f"b.{bn}"))
    cand = (
        a.join(b, cand_cond)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        # dropDuplicates FIRST: its partial aggregation collapses raw
        # join pairs map-side (8.8M raw -> 3.7M distinct at sf0.1), so
        # the exchange ships distinct pairs only — re-ordering it below
        # the repartition was tried in r13 and shuffles 2.7x the bytes
        # for no stage saving at scale (guide §2.3, aggregate before
        # you shuffle).
        .dropDuplicates(["id_a", "id_b"])
        # The candidate rows are two longs — tiny bytes-per-row — so AQE
        # coalesces the dedup shuffle toward ONE partition, which then
        # serializes the expensive per-pair array_intersect verify onto a
        # single core (measured 38 s of single-task CPU at sf0.1; 4× the
        # whole rest of the query). Explicitly repartitioning by id_a keeps
        # the verify data-parallel AND pre-clusters the first verify join
        # key. Bytes are the wrong coalesce signal when downstream
        # cost-per-row dwarfs row width.
        .repartition(parallelism, "id_a")
    )
    return cand


# winnow_containment_pairs' hot-fingerprint cap: a hash posted by more
# docs than this is boilerplate, and its C(m, 2) pairs are dropped.
_MAX_POSTINGS = 1_000


def winnow_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 12,
    window: int = 8,
    threshold: float = 0.5,
    portable: bool = False,
) -> DataFrame:
    """Containment pairs via winnowing (rolling-hash) fingerprints: the
    MOSS pipeline on DataFrames. Returns ``(id_a, id_b, containment)``
    with id_a < id_b, containment = |shared fingerprints| /
    min(|fp_a|, |fp_b|) — asymmetric-length-robust, so a document heavily
    quoting a shorter one still scores high (unlike Jaccard).

    Scale shape: fingerprints are a per-row expression; the inverted
    index (explode → equi-self-join on the hash) shuffles (id, n, hash)
    postings — winnowing selects ~2/(window+1) of the k-gram hashes, so
    the posting volume is a fraction of a shingle-level index. The
    per-pair overlap count is a groupBy with map-side partial
    aggregation. Hashes shared by more than ``_MAX_POSTINGS`` docs are
    dropped (boilerplate guard — one hot fingerprint would
    otherwise contribute |docs|² join rows); affected docs still pair
    through their other fingerprints.

    ``k`` sets gram discriminativeness and is the knob that keeps the
    inverted index sparse: short grams (k≈5) are common English substrings
    (" the ") shared across unrelated docs, whose m-doc postings each cost
    m² join rows — 20× slowdowns on ordinary corpora. k=12 (MOSS uses
    25-50 for source code) makes incidental collisions rare while any
    ≥ window+k-1 = 19-char shared run still guarantees a match.
    """
    # NULL ids dropped AT THE GATE (r09 five-way-stack find, seed 59):
    # pairs come from the positional _pairs expansion with no
    # id_a < id_b comparison after it, so nothing downstream would drop
    # a NULL-id row the way SQL's NULL-propagating `<` does everywhere
    # else (minhash's screen filter, bottomk's join condition, the
    # oracles' a.doc_id < b.doc_id). A pair with an unattributable member is
    # unactionable output; the divergence stayed latent until a NULL-id
    # doc carried a HOT (skew-planted) text — unique-text NULL-id docs
    # never cross the containment threshold with anyone.
    fps = _spread(df.filter(F.col(id_col).isNotNull())).select(
        F.col(id_col).alias("id"),
        winnow_fingerprints(F.col(text_col), k, window, portable=portable).alias("fp"),
    )
    # explode_OUTER, not explode: for an inner Generate over a computed
    # array attribute, InferFiltersFromGenerate adds `size(fp)>0 AND
    # isnotnull(fp)` below, and predicate pushdown inlines the WHOLE
    # fingerprint expression into that filter — 3 evaluations per row,
    # interpreted (20× on this query). Outer generates are exempt from
    # the rule; the null rows from empty arrays are dropped by a cheap
    # filter on the OUTPUT column instead.
    posted = fps.select(
        "id", F.size("fp").alias("n"), F.explode_outer("fp").alias("h")
    ).filter(F.col("h").isNotNull())
    # Join-free pair generation: gather each hash's posting list with ONE
    # groupBy shuffle and emit the C(m,2) pairs from higher-order
    # expressions — a postings SELF-JOIN would shuffle the 5M-row index
    # twice more and re-partition it. The cap bounds the worst per-row
    # expansion at C(_MAX_POSTINGS, 2) structs.
    #
    # The parallelism pin sits BEFORE the groupBy, as the groupBy's own
    # exchange: collect_list partials don't shrink data, so an explicit
    # hash-repartition on `h` costs the same shuffle bytes the groupBy
    # would, the aggregation reuses the partitioning (no second
    # exchange), and — the point — the reduce side keeps 32-way
    # parallelism instead of AQE's byte-based coalesce. The earlier
    # shape (groupBy, then repartition the lists) let AQE coalesce the
    # agg to 5 partitions, and those 5 tasks then re-serialized the
    # whole 119 MB posting-list table into the pin exchange — 3.4 s of
    # the query's 6.7 s at sf0.1; this shape runs agg + expansion +
    # overlap-count partials in ONE 32-wide stage (measured 5.1 → 3.9 s
    # end-to-end, identical output; the remaining floor is fingerprint
    # hashing plus the inherent 8M-pair overlap-count exchange, both
    # already 32-wide). Cost-per-row dwarfs row width here (each list
    # fans out C(|ps|,2) structs), which is exactly when byte-based
    # coalescing picks wrong.
    posted = posted.repartition(
        df.sparkSession.sparkContext.defaultParallelism, "h"
    )
    lists = posted.groupBy("h").agg(F.collect_list(F.struct("id", "n")).alias("ps"))
    # singleton posting lists generate no pairs — drop them before the
    # combo expansion (~30% of hashes on a typical corpus)
    lists = lists.filter(F.size("ps") >= 2).filter(F.size("ps") <= _MAX_POSTINGS)

    combos = _pairs(
        F.col("ps"),
        lambda x, y: F.struct(
            x["id"].alias("id_a"),
            y["id"].alias("id_b"),
            x["n"].alias("n_a"),
            y["n"].alias("n_b"),
        ),
    )
    return (
        # explode_outer: same InferFiltersFromGenerate guard as above —
        # an inner explode would re-expand the C(m,2) combo array twice
        # more inside an inferred size/isnotnull filter
        lists.select(F.explode_outer(combos).alias("pr"))
        .filter(F.col("pr").isNotNull())
        .groupBy("pr.id_a", "pr.id_b", "pr.n_a", "pr.n_b")
        .agg(F.count("*").alias("shared"))
        .select(
            "id_a",
            "id_b",
            # portable mode publishes the UNROUNDED ratio: identical ints
            # divide to identical doubles on every engine, while
            # ROUND(double, 6) does NOT cross engines (binary-exact
            # ratios like 1/128 sit exactly on the half boundary —
            # Spark HALF_UPs, DuckDB half-evens; see SCALING.md round-3
            # field notes). Default keeps the rounded human-facing form.
            (
                F.col("shared") / F.greatest(F.least("n_a", "n_b"), F.lit(1))
                if portable
                else F.round(
                    F.col("shared") / F.greatest(F.least("n_a", "n_b"), F.lit(1)), 6
                )
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def bottomk_sketch_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    k: int = 16,
    min_shared: int = 8,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs via a bottom-k sketch with a
    PORTABLE hash (md5 hex, lexicographic min) — the original
    oracle-checkable member of the sketch-dedup family (MinHash/SimHash
    have since gained ``portable=True`` modes built on the same idea).

    The sketch trades k permutations for ONE hash function + the k
    smallest distinct values. NB the pairing statistic |B_k(A) ∩ B_k(B)|
    is a RECALL-ORIENTED CANDIDATE score, not Cohen's bottom-k Jaccard
    estimator (which intersects each sketch with B_k(A ∪ B)); counting
    raw sketch overlap OVERestimates Jaccard, so ``min_shared`` maps to a
    somewhat lower true-similarity cutoff than min_shared/k suggests —
    fine for candidate generation feeding an exact verify, not for
    reporting similarity values. md5 exists bit-identically in Spark and
    DuckDB, so the ENTIRE pipeline — sketch, inverted index, shared-hash
    counts — has a full value oracle.

    Scale shape = the LSH-band pattern: explode each doc's ≤ k sketch
    hashes into postings, equi-self-join on the hash (only docs sharing
    a bottom hash ever meet — no |corpus|² pair space), count shared
    hashes per pair with map-side combine. ``max_bucket_size`` caps
    degenerate hash buckets (boilerplate guard, same lever as winnow's
    ``_MAX_POSTINGS``); leave None when the output must match the
    capless oracle.
    """
    sk = _spread(df).select(
        F.col(id_col).alias("id"),
        F.slice(
            F.array_sort(
                F.array_distinct(
                    F.transform(
                        token_shingles(F.col(text_col), shingle_n),
                        lambda s: F.md5(s),
                    )
                )
            ),
            1,
            k,
        ).alias("sketch"),
    )
    # persisted: postings feed both self-join sides (same recompute trap
    # as the simhash chunk index — the md5 sketch would be built twice)
    posts = own(
        sk.select("id", F.explode("sketch").alias("h")).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    )
    if max_bucket_size is not None:
        hot = (
            posts.groupBy("h")
            .agg(F.count("*").alias("__n"))
            .filter(F.col("__n") > max_bucket_size)
            .select("h")
        )
        posts = posts.join(F.broadcast(hot), "h", "left_anti")
    a, b = posts.alias("a"), posts.alias("b")
    return (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("shared_hashes"))
        .filter(F.col("shared_hashes") >= min_shared)
    )


def paragraph_exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    split_regex: str = r"\.[ ]+",
    min_chars: int = 1,
) -> DataFrame:
    """Corpus-wide exact SEGMENT dedup, first-occurrence-wins — the
    C4/RefinedWeb scrub pass one granularity below document dedup:
    boilerplate sentences/paragraphs repeated across documents are
    flagged everywhere except their first appearance, so a writer can
    drop them without touching unique content.

    Returns one row per kept segment:
    ``(id_col, para_idx, para_hash, is_dup)`` where ``para_idx`` is the
    0-based segment position within its document, ``para_hash`` the md5
    of the trimmed segment (md5 so the ledger is portable to any engine
    — same reasoning as ``fingerprint_md5``), and ``is_dup`` = 1 for
    every occurrence after the global first. "First" is the total order
    (id, para_idx); callers must feed unique ids (the catalog entry
    id-canonicalizes).

    ``split_regex`` defaults to sentence boundaries ('. ' runs) because
    the bench corpus is single-line; real corpora pass '\\n{2,}' for
    true paragraphs — the plan is identical.

    Scale shape: segmentation is a per-row explode in the scan stage;
    the ONLY shuffle is the window on ``para_hash`` — and it carries
    (hash, id, idx), never the segment text, so shuffle bytes are ~48 B
    per segment at any corpus size. Hash-partitioned window, no global
    sort. A degenerate hash (empty-ish boilerplate) concentrates one
    key; the rows are 3 fixed-width columns, so even a 10⁸-occurrence
    segment is a few GB in one partition — cap-able upstream by a
    pre-filter on segment length if a corpus demands it."""
    from ..functions.text import WS_TRIM_CHARS

    segs = _spread(df).select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), split_regex)).alias("para_idx", "p"),
    )
    hashed = (
        segs.select(
            "id",
            "para_idx",
            F.btrim(F.col("p"), F.lit(WS_TRIM_CHARS)).alias("p"),
        )
        .filter(F.length("p") >= min_chars)
        .select("id", "para_idx", F.md5("p").alias("para_hash"))
    )
    w = Window.partitionBy("para_hash").orderBy(
        F.asc_nulls_first("id"), F.asc_nulls_first("para_idx")
    )
    return hashed.select(
        F.col("id").alias(id_col),
        "para_idx",
        "para_hash",
        (F.row_number().over(w) > 1).cast("int").alias("is_dup"),
    )


def substring_gram_postings(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    portable: bool = False,
) -> DataFrame:
    """The ExactSubstr posting set: one ``(id, pos, h)`` row per token
    ``k``-gram of every attributable document (``h`` = xxhash64, or md5
    under ``portable``). Exactly |tokens| − (k−1)·|docs| rows — LINEAR
    in the corpus; the basis of :func:`duplicated_substring_spans` and
    the quantity ``tools/scale_probe.py`` measures for the linearity
    claim. Factored out so the probe measures the operator's REAL
    intermediate, not a reimplementation."""
    def gram_hash(joined: Column) -> Column:
        return F.md5(joined) if portable else F.xxhash64(joined)

    toks_col = tokens(F.col(text_col))
    grams = _let(
        toks_col,
        lambda toks: _let(
            F.size(toks) - F.lit(k - 1),
            lambda num: F.when(
                num < 1, F.array().cast("array<struct<pos:int,h:string>>")
                if portable
                else F.array().cast("array<struct<pos:int,h:bigint>>"),
            ).otherwise(
                F.transform(
                    F.sequence(F.lit(1), num),
                    lambda i: F.struct(
                        i.cast("int").alias("pos"),
                        gram_hash(
                            F.concat_ws(
                                " ",
                                *[
                                    F.element_at(toks, (i + j).cast("int"))
                                    for j in range(k)
                                ],
                            )
                        ).alias("h"),
                    ),
                )
            ),
        ),
    )
    return (
        _spread(df)
        .filter(F.col(id_col).isNotNull() & F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("id"), F.explode(grams).alias("g"))
        .select("id", F.col("g.pos").alias("pos"), F.col("g.h").alias("h"))
    )


def duplicated_substring_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_span_tokens: int | None = None,
    portable: bool = False,
) -> DataFrame:
    """Exact-substring dedup spans (after the ExactSubstr formulation of
    Lee et al., "Deduplicating Training Data Makes Language Models
    Better"): per document, maximal token spans built from the
    cross-document duplicated ``k``-grams. The precise invariant: every
    token of an emitted span is COVERED by at least one k-gram that also
    occurs in some OTHER document (coverage, not per-gram: the ≤k island
    merge below deliberately bridges two duplicated runs across a short
    unique gap whose tokens still sit inside boundary duplicated grams —
    tests/test_dedup_similarity.py::
    test_duplicated_substring_spans_island_merge_boundaries pins a span
    containing grams found nowhere else; no token OUTSIDE every duplicated gram is ever
    emitted, so the scrub never cuts unique text). Returns
    ``(doc_id, span_start, span_end, span_tokens)`` — 1-based inclusive
    token indices — one row per maximal island of at least
    ``min_span_tokens`` tokens (default ``2*k``). Downstream, a curation
    pass cuts these spans out of the training text instead of dropping
    whole near-duplicate documents.

    The paper builds a corpus-wide suffix array — inherently sequential
    and memory-resident. The distributed formulation is k-gram postings:
    a span of ≥ ``min_span`` tokens shared verbatim between two documents
    contains only shared k-grams, so (1) hash every k-gram (one explode,
    |tokens| rows), (2) keep hashes seen in ≥2 DISTINCT documents (one
    groupBy with map-side partial count-distinct), (3) per document,
    merge surviving gram positions whose starts are ≤ k apart into
    maximal islands (one per-document window — bounded by document
    length, never corpus size) and emit each island's [min_pos,
    max_pos+k-1] token range. Spans shorter than ``min_span_tokens`` are
    chance k-gram collisions between unrelated texts, the same false-
    positive class the paper's 50-token threshold exists for.

    Differences from the paper's verbatim-span semantics, all
    deliberate: span boundaries are k-gram-aligned (a true shared
    substring of length L is reported as the span of its L-k+1 grams —
    identical token range; a shared run SHORTER than k is invisible,
    which the min-span threshold would discard anyway); "duplicated"
    means cross-document (a phrase repeated only within one document is
    kept — within-doc repetition is ``text_repetition_rules``' job);
    and a span need not be ONE verbatim shared substring — the island
    merge can join several (possibly different-partner) duplicated runs
    separated by ≤k-token gaps into one span, trading the paper's
    per-substring precision for a single per-document window instead of
    a partner-aligned matching.

    ``portable=True`` hashes grams with md5 (bit-replayable by any
    engine with md5 — the DuckDB value oracle runs this mode);
    production default is xxhash64 (one pass, no string materialization
    of the hash). Jaccard-invariance does NOT apply here — the span
    positions depend only on hash EQUALITY, so any injective hash gives
    identical output; the mode changes bytes shuffled, not semantics.

    Scale shape: shuffle volume is (hash, id, pos) postings — fixed-width
    rows regardless of document size; the duplicated-hash filter is a
    semi join (no posting list materializes); the island window
    partitions by document. A boilerplate k-gram shared by millions of
    docs costs |docs| posting rows (linear, not quadratic — nothing ever
    pairs postings). Rows with a NULL id or NULL text are dropped at the
    gate: spans are keyed output (an unattributable span cannot be cut
    from anything) and a NULL text has no tokens.
    """
    if min_span_tokens is None:
        min_span_tokens = 2 * k

    postings = substring_gram_postings(df, text_col, id_col, k, portable)
    dup_hashes = (
        postings.groupBy("h")
        .agg(F.count_distinct("id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    dup_pos = postings.join(dup_hashes, "h", "left_semi")
    w = Window.partitionBy("id").orderBy("pos")
    islands = dup_pos.select(
        "id",
        "pos",
        F.sum(
            F.when(
                F.lag("pos").over(w).isNull()
                | (F.col("pos") > F.lag("pos").over(w) + k),
                1,
            ).otherwise(0)
        )
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("island"),
    )
    return (
        islands.groupBy("id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).alias("span_end"),
        )
        .select(
            F.col("id").alias(id_col),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
        .filter(F.col("span_tokens") >= min_span_tokens)
    )


def remove_duplicated_spans(
    df: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply :func:`duplicated_substring_spans`: cut each document's
    duplicated token ranges out and return the scrubbed text — the
    second half of the ExactSubstr flow (Lee et al. REMOVE the spans
    rather than dropping documents, preserving each document's unique
    remainder). Returns ``(id_col, clean_text, n_tokens_kept,
    n_tokens_removed)`` for every identified input document.

    ``clean_text`` is the space-joined KEPT tokens — a tokenized
    reconstruction, so original whitespace runs normalize to single
    spaces even in untouched documents (the tokenizer already defines
    token identity everywhere else in the pipeline, so downstream
    consumers see a consistent surface). A document whose every token is
    duplicated scrubs to NULL (nothing left — the caller drops it), as
    does a NULL input text (no tokens to keep).

    Scale shape: spans collapse to one small per-document array
    (collect_list behind the same id shuffle any groupBy pays); the cut
    itself is a per-row higher-order filter — position-indexed lambda
    against the span array, no explode of the corpus tokens, no second
    shuffle. Span counts per document are bounded by |tokens|/k, so the
    collected array can never exceed the document's own size class.
    """
    spans_by_doc = spans.groupBy(F.col(id_col).alias("__sid")).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__sp")
    )
    joined = df.filter(F.col(id_col).isNotNull()).join(
        spans_by_doc, F.col(id_col) == F.col("__sid"), "left"
    )
    sp = F.coalesce(
        F.col("__sp"),
        F.array().cast("array<struct<span_start:int,span_end:int>>"),
    )
    kept_col = _let(
        tokens(F.col(text_col)),
        lambda toks: _let(
            F.filter(
                toks,
                lambda x, i: ~F.exists(
                    sp,
                    lambda s: (i + 1 >= s["span_start"]) & (i + 1 <= s["span_end"]),
                ),
            ),
            lambda kept: F.struct(
                F.when(F.size(kept) > 0, F.concat_ws(" ", kept)).alias("clean_text"),
                F.coalesce(F.size(kept), F.lit(0)).alias("n_tokens_kept"),
                F.coalesce(F.size(toks) - F.size(kept), F.lit(0)).alias(
                    "n_tokens_removed"
                ),
            ),
        ),
    )
    return joined.select(id_col, kept_col.alias("__k")).select(
        id_col,
        F.col("__k.clean_text").alias("clean_text"),
        F.col("__k.n_tokens_kept").alias("n_tokens_kept"),
        F.col("__k.n_tokens_removed").alias("n_tokens_removed"),
    )
