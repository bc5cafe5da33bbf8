"""Golden cross-engine whitespace tests.

Round-3's only red driver row (``sequence_packing_plan``) was a
data-dependent divergence between Java-regex ``\\s`` (includes \\x0B) and
RE2 ``\\s`` (does not), and the follow-up fuzz found a second trap:
DuckDB's one-arg ``TRIM`` strips Unicode whitespace while Spark's ``trim``
strips only ASCII space. These tests pin the portable spellings
(``WS_CLASS`` / ``ws_trim`` ≡ ``TRIM(s, <explicit set>)``) on a synthetic
corpus seeded with every character either engine could treat specially:
vertical tab, form feed, CR, NBSP, ideographic space, zero-width space,
ASCII controls, and leading/trailing separators (empty-edge tokens).
The DuckDB side of each pair is the ``*_sql`` twin the catalog's oracles
call, so the spelling checked here is the one every oracle uses.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from alibaba_cppfeaturestore_spark.functions import text as TX

EXOTIC_DOCS = [
    "plain words here",
    "a\x0bb c",                      # vertical tab: Java-\s yes, RE2-\s no
    "\x0bleading vt",                # leading separator -> empty first token
    "trailing vt\x0b",               # trailing separator -> empty last token
    "form\x0cfeed and\rcr",
    "tab\t\truns",
    "nbsp stays one token",     # NBSP is NOT in the portable class
    "　ideographic edges　",  # DuckDB one-arg TRIM strips these
    "zero​width",
    "ctrl\x01char",
    "  double  spaces  ",
    "",
    " ",
    "\x0b",
    "mixed 　 \x0b\t end",
    # unicode case-fold divergence carriers (r10 full-BMP sweep): Java's
    # full/contextual lower() vs utf8proc's simple mapping disagree on
    # exactly these classes — portable_lower must neutralize them all
    "İstanbul DİYARBAKIR",   # İ: Java lower expands to i+U+0307
    "ΣΣ Ο ΣΙΣΥΦΟΣ",              # final-sigma contextual rule
    "ᲉⰯꟀꟋꟜ", # modern cased letters utf8proc lacks
    "STRASSE ß ẞ",                     # ß/ẞ (upper diverges; lower must not)
    "ﬁligature ǅungla Ǆ",              # ligature/titlecase digraphs
    "é é composed-vs-combining",
    "😀 non-BMP emoji 𐒰",
]

@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(EXOTIC_DOCS)], "doc_id int, text string"
    )


def _duck(sql_expr: str) -> pd.DataFrame:
    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id INTEGER, text VARCHAR)")
    con.executemany(
        "INSERT INTO d VALUES (?, ?)", list(enumerate(EXOTIC_DOCS))
    )
    return con.execute(
        f"SELECT doc_id, {sql_expr} AS v FROM d ORDER BY doc_id"
    ).fetchdf()


def _spark_vals(docs_df, col):
    return [
        r.v for r in docs_df.select("doc_id", col.alias("v")).orderBy("doc_id").collect()
    ]


def test_tokens_match_duckdb(docs_df):
    got = _spark_vals(docs_df, TX.tokens("text"))
    want = _duck(TX.tokens_sql("text"))["v"].tolist()
    assert [list(g) for g in got] == [list(w) for w in want]


def test_token_count_matches_duckdb(docs_df):
    got = _spark_vals(docs_df, TX.token_count("text"))
    want = _duck(f"LEN({TX.tokens_sql('text')})")["v"].tolist()
    assert got == want


def test_ws_trim_matches_duckdb(docs_df):
    got = _spark_vals(docs_df, TX.ws_trim("text"))
    want = _duck(TX.ws_trim_sql("text"))["v"].tolist()
    assert got == want


def test_nonws_length_matches_duckdb(docs_df):
    got = _spark_vals(
        docs_df,
        F.length(F.regexp_replace(TX.ws_trim("text"), TX.WS_CLASS, "")),
    )
    want = _duck(
        f"LENGTH(regexp_replace({TX.ws_trim_sql('text')}, '{TX.WS_CLASS}', '', 'g'))"
    )["v"].tolist()
    assert got == want


def test_fingerprint_md5_matches_duckdb(docs_df):
    got = _spark_vals(docs_df, TX.fingerprint_md5("text"))
    want = _duck(TX.fingerprint_md5_sql("text"))["v"].tolist()
    assert got == want


# Text functions whose oracle spelling is a twin call run on the exotic
# corpus plus PII carriers (pii_counts' phone count sees the text after
# the email and IPv4 redaction) and one document per lang_id label.
TEXT_DOCS = EXOTIC_DOCS + [
    "mail a.b+c@example.co.uk or ops@x.io now",
    "hosts 10.0.0.1 and 192.168.1.255, not 1.2.3",
    "call +1 555-0123 9 or (555) 123\x0b4567",
    "the cat and the hat, in a box; is it? yes!",
    "alpha beta gamma delta epsilon zeta eta theta iota the",
    '<p class="x">tagged\x01 text</p>\t trailing',
]


@pytest.mark.parametrize(
    "spark_fn, sql_fn",
    [
        pytest.param(TX.stopword_ratio, TX.stopword_ratio_sql, id="stopword_ratio"),
        pytest.param(TX.quality_score, TX.quality_score_sql, id="quality_score"),
        pytest.param(TX.redact_pii, TX.redact_pii_sql, id="redact_pii"),
        pytest.param(TX.bpe_pretokens, TX.bpe_pretokens_sql, id="bpe_pretokens"),
        pytest.param(TX.clean_text, TX.clean_text_sql, id="clean_text"),
        *[
            pytest.param(
                lambda c, i=i: TX.pii_counts(c)[i],
                lambda e, i=i: TX.pii_counts_sql(e)[i],
                id=f"pii_counts[{i}]",
            )
            for i in range(3)
        ],
        pytest.param(
            TX.lang_id, lambda e: TX.lang_id_sql(f"({TX.stopword_ratio_sql(e)})"), id="lang_id"
        ),
    ],
)
def test_text_twins_match_duckdb(spark, spark_fn, sql_fn):
    rows = list(enumerate(TEXT_DOCS))
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = [r.v for r in df.orderBy("doc_id").select(spark_fn("text").alias("v")).collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id INTEGER, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", rows)
    sql = f"SELECT {sql_fn('text')} FROM d ORDER BY doc_id"
    want = [r[0] for r in con.execute(sql).fetchall()]
    assert got == want


def test_portable_lower_matches_duckdb_on_divergence_carriers(docs_df):
    """portable_lower neutralizes every codepoint where Spark (Java full
    case mapping) and DuckDB (utf8proc simple mapping) disagree — İ,
    contextual final sigma, and the 13 modern cased letters. The carrier
    docs above would FAIL this test under bare lower()."""
    got = _spark_vals(docs_df, TX.portable_lower(F.col("text")))
    want = _duck(TX.portable_lower_sql("text"))["v"].tolist()
    assert got == want


def test_bare_lower_is_not_portable(docs_df):
    """Sanity: the carriers genuinely diverge under bare lower() — if
    this ever starts passing, the engines converged and the prefold can
    be retired."""
    got = _spark_vals(docs_df, F.lower(F.col("text")))
    want = _duck("lower(text)")["v"].tolist()
    assert got != want


def test_one_arg_trim_is_not_portable():
    """Documents WHY the explicit set exists: one-arg TRIM diverges."""
    con = duckdb.connect()
    stripped = con.execute("SELECT TRIM('　x　')").fetchone()[0]
    assert stripped == "x"  # DuckDB strips ideographic space...
    # ...Spark's trim() does not (pinned via btrim equivalence above).
