"""Text-analysis functions for large-scale training-data pipelines.

Not present in the reference (its data is tabular); added as first-class
engine capability per the north-star scope (SURVEY.md §2 intro / §7.2 M5):
token counting, quality scoring, language-ID heuristic, shingling and
document fingerprinting. All are native column expressions (JVM-side,
codegen) — no Python in the hot path — so they hold at 100 TB: a scan +
per-row expressions, no shuffle.

Each ``*_sql`` function is the DuckDB twin of the function it follows
(over a SQL expression), built from the same constants.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Deterministic heuristic stopword table for lang-id scoring. Tiny and
# embedded in the plan as literals (no join needed).
STOPWORDS_EN = ["the", "a", "and", "of", "to", "in", "is", "it", "that", "for"]

# One explicit whitespace class, spelled identically in Spark (Java regex)
# and every oracle's DuckDB (RE2) SQL. Java's `\s` is [ \t\n\x0B\f\r] but
# RE2's `\s` LACKS \x0B (vertical tab), so a bare `\s` silently diverges
# between engines on documents containing exotic whitespace — this class is
# the portable spelling of Java's `\s` and MUST be used verbatim on both
# sides of any differential check.
WS_CLASS = r"[ \t\n\r\f\x0B]"

TOKEN_SPLIT_REGEX = WS_CLASS + "+"

# The same six characters as a literal set, for explicit-set trimming.
# One-arg TRIM is NOT portable either: DuckDB's TRIM(s) strips Unicode
# whitespace (U+3000, NBSP, ...) while Spark's trim(s) strips only ASCII
# space — so every differential pair must trim an explicit set:
# Spark `F.btrim(col, WS_TRIM_CHARS)` ≡ DuckDB `TRIM(s, <same set>)`
# (spelled ``WS_TRIM_SQL`` below to keep control chars out of SQL text).
WS_TRIM_CHARS = " \t\n\r\f\x0b"
WS_TRIM_SQL = "' ' || chr(9) || chr(10) || chr(13) || chr(12) || chr(11)"


def ws_trim(text: Column | str) -> Column:
    """Trim exactly the six portable whitespace chars from both ends."""
    col = F.col(text) if isinstance(text, str) else text
    return F.btrim(col, F.lit(WS_TRIM_CHARS))


def ws_trim_sql(expr: str) -> str:
    return f"TRIM({expr}, {WS_TRIM_SQL})"


# ``lower()`` is NOT portable either (r10 full-BMP sweep, all ~63k
# codepoints + word-final context variants, Spark 4.1.2 vs DuckDB 1.0):
# the engines disagree on EXACTLY 15 codepoints — U+0130 İ (Java's full
# mapping expands to i + U+0307; utf8proc's simple mapping can't expand),
# U+03A3 Σ (Java applies the contextual final-sigma rule → ς at word
# end; utf8proc always σ), and 13 recent-Unicode cased letters
# (U+1C89, U+2C2F, U+A7C0..A7F5) whose mappings Java's tables know and
# utf8proc's older tables don't. The portable spelling PRE-FOLDS those
# 15 before lower(): Σ and the 13 modern letters via a 1:1 translate
# (after which lower() is identity on them in both engines), İ via a
# replace (it needs expansion). Both sides are generated from these
# constants so they cannot drift.
CASEFOLD_PREFOLD_FROM = (
    "ΣᲉⰯꟀꟇꟉꟋꟌ"
    "ꟐꟖꟘꟚꟜꟵ"
)
CASEFOLD_PREFOLD_TO = (
    "σᲊⱟꟁꟈꟊɤꟍ"
    "ꟑꟗꟙꟛƛꟶ"
)


def portable_lower(col: Column) -> Column:
    """lower() that returns identical bytes on Spark and DuckDB for ANY
    input (see CASEFOLD_PREFOLD_FROM comment)."""
    c = F.regexp_replace(col, "İ", "i̇")
    c = F.translate(c, CASEFOLD_PREFOLD_FROM, CASEFOLD_PREFOLD_TO)
    return F.lower(c)


def portable_lower_sql(expr: str) -> str:
    """The DuckDB spelling of ``portable_lower`` over ``expr``."""
    return (
        f"lower(translate(replace({expr}, 'İ', 'i' || chr(775)), "
        f"'{CASEFOLD_PREFOLD_FROM}', '{CASEFOLD_PREFOLD_TO}'))"
    )


PUNCT_REGEX = r"[^.,;:!?]"


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization of trimmed text → array<string>."""
    col = F.col(text) if isinstance(text, str) else text
    return F.split(ws_trim(col), TOKEN_SPLIT_REGEX)


def tokens_sql(expr: str) -> str:
    return f"regexp_split_to_array({ws_trim_sql(expr)}, '{TOKEN_SPLIT_REGEX}')"


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def punct_ratio(text: Column | str) -> Column:
    """Fraction of characters that are sentence punctuation."""
    col = F.col(text) if isinstance(text, str) else text
    puncts = F.length(F.regexp_replace(col, PUNCT_REGEX, ""))
    return puncts / F.greatest(F.length(col), F.lit(1))


def punct_ratio_sql(expr: str) -> str:
    punct = PUNCT_REGEX.replace("[^", "[")
    return (
        f"(LENGTH({expr}) - LENGTH(regexp_replace({expr}, '{punct}', '', 'g'))) "
        f"/ GREATEST(LENGTH({expr}), 1)"
    )


def stopword_ratio(text: Column | str) -> Column:
    """Fraction of tokens that are ``STOPWORDS_EN`` stopwords."""
    toks = tokens(text)
    hits = F.size(F.filter(toks, lambda x: x.isin(STOPWORDS_EN)))
    return hits / F.greatest(F.size(toks), F.lit(1))


# ``STOPWORDS_EN`` as a DuckDB IN-list.
STOPWORDS_SQL = "(" + ",".join(f"'{w}'" for w in STOPWORDS_EN) + ")"


def stopword_ratio_sql(expr: str) -> str:
    """Over ``STOPWORDS_EN``."""
    t = tokens_sql(expr)
    return f"LEN(list_filter({t}, x -> x IN {STOPWORDS_SQL})) / GREATEST(LEN({t}), 1)::DOUBLE"


def quality_score(text: Column | str) -> Column:
    """Composite quality heuristic in [0,1]: rewards reasonable length,
    penalizes very short docs and punctuation-heavy text. Deterministic and
    SQL-expressible (oracle-checkable)."""
    n_tok = token_count(text)
    len_score = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    punct_penalty = F.least(punct_ratio(text) * 5.0, F.lit(1.0))
    return F.round(len_score * (1.0 - punct_penalty), 6)


def quality_score_sql(expr: str) -> str:
    return (
        f"ROUND(LEAST(LEN({tokens_sql(expr)}) / 100.0, 1.0) * "
        f"(1.0 - LEAST({punct_ratio_sql(expr)} * 5.0, 1.0)), 6)"
    )


# lang_id's labels and the least stopword ratio each needs; else "other".
_LANG_CUTS = (("en", 0.15), ("mixed", 0.05))


def lang_id(text: Column | str) -> Column:
    """Heuristic language ID: stopword-hit scoring with a deterministic
    fallback. Real corpora would use per-language stopword/ngram tables;
    the mechanism (token scoring → argmax → CASE) is the engine surface."""
    ratio = stopword_ratio(text)
    (first, first_cut), *rest = _LANG_CUTS
    label = F.when(ratio >= first_cut, F.lit(first))
    for lang, cut in rest:
        label = label.when(ratio >= cut, F.lit(lang))
    return label.otherwise(F.lit("other"))


def lang_id_sql(ratio: str) -> str:
    """Over ``ratio``, a column holding the text's ``stopword_ratio_sql``."""
    whens = " ".join(f"WHEN {ratio} >= {cut} THEN '{lang}'" for lang, cut in _LANG_CUTS)
    return f"CASE {whens} ELSE 'other' END"


def char_shingles(text: Column | str, n: int = 5) -> Column:
    """Character n-gram shingles → array<string> (input to MinHash/Jaccard).
    transform(sequence(...)) is a native higher-order function — per-row,
    no UDF, no shuffle. Text shorter than ``n`` (including empty/null
    length) has NO n-grams → empty array; the guard matters because
    ``sequence(1, 0)`` is DESCENDING in Spark ([1, 0]), which would emit
    two junk shingles and make every too-short doc a near-dup of every
    other."""
    col = F.col(text) if isinstance(text, str) else text
    num = F.length(col) - F.lit(n - 1)
    return F.when(num < 1, F.array().cast("array<string>")).otherwise(
        F.transform(F.sequence(F.lit(1), num), lambda i: col.substr(i, F.lit(n)))
    )


def token_shingles(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles → array<string>. Fewer than ``n`` tokens →
    empty array (same descending-sequence guard as ``char_shingles``).

    The token array is bound ONCE via ``_let``: captured directly, the
    split expression re-evaluates inside the transform lambda — n
    ``element_at`` calls × every shingle re-run the whole tokenization,
    O(n·len²) per row (measured 10× on the contamination query)."""
    return _let(
        tokens(text),
        lambda toks: _let(
            F.size(toks) - F.lit(n - 1),
            lambda num: F.when(num < 1, F.array().cast("array<string>")).otherwise(
                F.transform(
                    F.sequence(F.lit(1), num),
                    lambda i: F.concat_ws(
                        " ",
                        *[F.element_at(toks, (i + j).cast("int")) for j in range(n)],
                    ),
                )
            ),
        ),
    )


def _fingerprint_text(col: Column) -> Column:
    """What the fingerprints hash: each whitespace run one space, lowered."""
    return portable_lower(F.regexp_replace(ws_trim(col), TOKEN_SPLIT_REGEX, " "))


def fingerprint_text_sql(expr: str) -> str:
    return portable_lower_sql(
        f"regexp_replace({ws_trim_sql(expr)}, '{TOKEN_SPLIT_REGEX}', ' ', 'g')"
    )


def fingerprint_md5(text: Column | str) -> Column:
    """128-bit portable fingerprint: md5 hex over the whitespace-normalized,
    lowercased text. md5 exists in every SQL engine (Spark, DuckDB, Trino,
    Postgres), so cross-engine dedup ledgers interoperate."""
    col = F.col(text) if isinstance(text, str) else text
    return F.md5(_fingerprint_text(col))


def fingerprint_md5_sql(expr: str) -> str:
    return f"md5({fingerprint_text_sql(expr)})"


# clean_text's regexes. The unicode spaces (NBSP, en/em/zero-width,
# ideographic) are a character-class body: Java reads the characters
# themselves, DuckDB's twin the same class as RE2 ``\x{....}`` escapes.
MARKUP_REGEX = r"<[^>]*>"
CONTROL_CHAR_REGEX = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]"
UNICODE_SPACES = "\u00a0\u2000-\u200b\u3000"
UNICODE_SPACES_SQL = "".join(
    ch if ch == "-" else f"\\x{{{ord(ch):04X}}}" for ch in UNICODE_SPACES
)


def clean_text(text: Column | str) -> Column:
    """LLM-corpus text normalization, all in the scan stage: strip markup
    tags, drop ASCII control characters, map exotic unicode spaces to
    plain space, collapse whitespace runs, trim. Order matters: tags →
    controls → unicode spaces → collapse."""
    c = F.col(text) if isinstance(text, str) else text
    c = F.regexp_replace(c, MARKUP_REGEX, " ")
    c = F.regexp_replace(c, CONTROL_CHAR_REGEX, "")
    c = F.regexp_replace(c, f"[{UNICODE_SPACES}]", " ")
    return ws_trim(F.regexp_replace(c, TOKEN_SPLIT_REGEX, " "))


def clean_text_sql(expr: str) -> str:
    c = f"regexp_replace({expr}, '{MARKUP_REGEX}', ' ', 'g')"
    c = f"regexp_replace({c}, '{CONTROL_CHAR_REGEX}', '', 'g')"
    c = f"regexp_replace({c}, '[{UNICODE_SPACES_SQL}]', ' ', 'g')"
    return ws_trim_sql(f"regexp_replace({c}, '{TOKEN_SPLIT_REGEX}', ' ', 'g')")


def _let(value: Column, body) -> Column:
    """Evaluate ``value`` once and bind it as a lambda variable for
    ``body``. A subexpression captured inside a higher-order-function
    lambda is re-evaluated on EVERY element; routing it through a
    1-element ``transform`` makes it a lambda variable, which codegen
    materializes exactly once per row."""
    return F.element_at(F.transform(F.array(value), body), 1)


def winnow_fingerprints(
    text: Column | str, k: int = 5, window: int = 4, portable: bool = False
) -> Column:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the
    MOSS rolling-hash scheme): hash every character k-gram, slide a window
    of ``window`` consecutive hashes, select each window's minimum; the
    distinct selected hashes are the document's fingerprint set
    (array<bigint>, sorted for determinism of the column value).

    Guarantee: two documents sharing any substring of length
    ≥ ``window + k - 1`` share at least one selected fingerprint — the
    basis for containment/plagiarism detection, robust to where the match
    sits in the document (unlike whole-doc ``fingerprint_md5``).

    All-native expressions; the k-gram hash array is bound once via
    ``_let`` so the sliding windows index into it instead of re-hashing.
    Cost O(len × window) integer ops per row, no shuffle.

    ``portable=True`` swaps xxhash64 for the md5-derived 60-bit hash
    (``operators/dedup.py::md5_hash60``'s expression — md5 exists
    bit-identically in every engine), which makes the ENTIRE winnowing
    selection SQL-replayable: window-minimum selection picks min VALUES,
    so with a portable hash the fingerprint set itself has a DuckDB
    oracle. Production default stays xxhash64 (one-pass, ~3-4× faster
    per byte).
    """
    col = F.col(text) if isinstance(text, str) else text
    normalized = _fingerprint_text(col)
    if portable:
        gram_hash = lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long")  # noqa: E731
    else:
        # F.transform inspects its callable's arity — F.xxhash64's
        # varargs signature is rejected, so wrap it
        gram_hash = lambda g: F.xxhash64(g)  # noqa: E731
    hashed = F.transform(char_shingles(normalized, k), gram_hash)
    return _let(
        hashed,
        lambda h: F.when(F.size(h) == 0, F.array().cast("array<bigint>")).otherwise(
            F.array_sort(
                F.array_distinct(
                    F.transform(
                        # fewer grams than the window → one window over all
                        F.sequence(
                            F.lit(1),
                            F.greatest(F.size(h) - F.lit(window - 1), F.lit(1)),
                        ),
                        lambda i: F.array_min(F.slice(h, i, window)),
                    )
                )
            )
        ),
    )

# PII patterns are deliberately written in the common subset of Java regex
# (Spark) and RE2 (DuckDB, Go tooling): no lookaround, no backrefs — so the
# exact same pattern string redacts identically in every engine touching
# the corpus. Order matters: emails first (their user part can look like a
# phone), then IPv4 (dotted digits would half-match the phone pattern),
# then phones.
PII_EMAIL_REGEX = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_REGEX = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PII_PHONE_REGEX = r"\+?[0-9][0-9()\- \t\n\r\f\x0B]{6,}[0-9]"
_PII_RULES = ((PII_EMAIL_REGEX, "<EMAIL>"), (PII_IPV4_REGEX, "<IP>"), (PII_PHONE_REGEX, "<PHONE>"))


def _redact(c: Column, rules) -> Column:
    for pattern, token in rules:
        c = F.regexp_replace(c, pattern, token)
    return c


def _redact_sql(expr: str, rules) -> str:
    for pattern, token in rules:
        expr = f"regexp_replace({expr}, '{pattern}', '{token}', 'g')"
    return expr


def redact_pii(text: Column | str) -> Column:
    """Redact emails / IPv4 addresses / phone-like digit runs with typed
    placeholder tokens — the standard pre-training scrub pass. Pure
    ``regexp_replace`` chain: runs in the scan stage, no UDF, no shuffle;
    at 100 TB this is embarrassingly parallel and whole-stage-codegen'd."""
    c = F.col(text) if isinstance(text, str) else text
    return _redact(c, _PII_RULES)


def redact_pii_sql(expr: str) -> str:
    return _redact_sql(expr, _PII_RULES)


def pii_counts(text: Column | str) -> tuple[Column, Column, Column]:
    """Per-document match counts (email, ipv4, phone) for audit reports —
    counted on the PRE-redaction text with the same shared patterns;
    phones after the emails and IPv4s are redacted."""
    c = F.col(text) if isinstance(text, str) else text
    return (
        F.size(F.regexp_extract_all(c, F.lit(PII_EMAIL_REGEX), F.lit(0))),
        F.size(F.regexp_extract_all(c, F.lit(PII_IPV4_REGEX), F.lit(0))),
        F.size(
            F.regexp_extract_all(
                _redact(c, _PII_RULES[:2]), F.lit(PII_PHONE_REGEX), F.lit(0)
            )
        ),
    )


def pii_counts_sql(expr: str) -> tuple[str, str, str]:
    return (
        f"LEN(regexp_extract_all({expr}, '{PII_EMAIL_REGEX}'))",
        f"LEN(regexp_extract_all({expr}, '{PII_IPV4_REGEX}'))",
        f"LEN(regexp_extract_all({_redact_sql(expr, _PII_RULES[:2])}, '{PII_PHONE_REGEX}'))",
    )


def top_token_ratio(text: Column | str) -> Column:
    """Fraction of the document occupied by its single most frequent token
    (Gopher's repetition signal: boilerplate/spam pages repeat one word).
    Per-row higher-order functions over the token array — O(distinct ×
    total) comparisons per row, no shuffle, no UDF."""
    toks = tokens(text)
    return _let(
        toks,
        lambda t: F.when(F.size(t) < 1, F.lit(0.0)).otherwise(
            F.array_max(
                F.transform(
                    F.array_distinct(t),
                    lambda d: F.size(F.filter(t, lambda x: x == d)),
                )
            ).cast("double")
            / F.size(t)
        ),
    )


def distinct_token_ratio(text: Column | str) -> Column:
    """|distinct tokens| / |tokens| — low values mean heavy repetition
    (the Gopher 'fraction of unique words' rule)."""
    toks = tokens(text)
    return _let(
        toks,
        lambda t: F.when(F.size(t) < 1, F.lit(0.0)).otherwise(
            F.size(F.array_distinct(t)).cast("double") / F.size(t)
        ),
    )


# GPT-2-style pre-tokenizer, RE2-safe approximation: contractions, then
# space-prefixed letter runs, digit runs, and punctuation runs, then bare
# whitespace. The upstream pattern's negative lookahead (`\s+(?!\S)`) and
# unicode classes are dropped so ONE pattern means the same thing to
# Java regex (Spark) and RE2 (DuckDB): both engines use leftmost-first
# alternation, so token boundaries are identical.
BPE_PRETOKEN_PATTERN = "'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+| +"


def bpe_pretokens(text: Column | str) -> Column:
    """Split text into BPE pre-tokenization segments (the units a BPE
    tokenizer would merge within) → array<string>. The standard LLM
    token-budget estimator: |pretokens| upper-bounds and tracks the true
    BPE token count far better than whitespace words."""
    text = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(text, F.lit(BPE_PRETOKEN_PATTERN), 0)


def bpe_pretokens_sql(expr: str) -> str:
    pattern = BPE_PRETOKEN_PATTERN.replace("'", "''")
    return f"regexp_extract_all({expr}, '{pattern}')"


def chunk_tokens(
    text: Column | str, chunk_size: int = 64, stride: int = 48
) -> Column:
    """Overlapping token-window chunks (RAG / context-window prep):
    array of structs ``(chunk_id, start_tok, chunk_text, n_chunk_tokens)``
    — explode downstream for one row per chunk. Chunks start every
    ``stride`` tokens (stride < chunk_size ⇒ overlap of
    ``chunk_size − stride``); the tail chunk may be short. Pure native
    higher-order functions: sequence → transform → slice → array_join,
    whole-stage codegen, no UDF, no shuffle."""
    toks = tokens(text)
    return _let(
        toks,
        lambda t: F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(t), F.lit(1)), F.lit(stride)),
            lambda s, i: F.struct(
                (i + 1).alias("chunk_id"),
                s.alias("start_tok"),
                F.array_join(F.slice(t, s, chunk_size), " ").alias("chunk_text"),
                F.least(F.lit(chunk_size), F.size(t) - s + 1).alias("n_chunk_tokens"),
            ),
        ),
    )
