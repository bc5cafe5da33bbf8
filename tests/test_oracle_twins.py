"""The kv and vector DuckDB twins agree with their Spark sides, and the
catalog spells none of the twins' outputs by hand.

The catalog's oracles replay the kv parse (``KV_PARSE_SQL`` /
``kv_get_sql`` / ``kv_int_sql``) and the finite-vector filter
(``is_finite_vector_sql``) through functions in the modules that own the
formats. These tests run each twin in DuckDB against its Spark function
on adversarial inputs: malformed integers ('12.5', '1e3', '0x1A', a
trailing newline), duplicate field ids, ragged triplets, and NaN/±Inf/NULL
vector components. The source scan keeps a hand copy from coming back.
"""

from __future__ import annotations

from pathlib import Path

import duckdb
from pyspark.sql import functions as F

from alibaba_cppfeaturestore_spark.functions import kv as KV
from alibaba_cppfeaturestore_spark.functions import text as TX
from alibaba_cppfeaturestore_spark.functions import vectors as V
from alibaba_cppfeaturestore_spark.functions.kv import kv_int, parse_kv_triplets

CATALOG = Path(__file__).resolve().parents[1] / "alibaba_cppfeaturestore_spark/plans/catalog.py"

NAN, INF = float("nan"), float("inf")


def _kv(*triplets: tuple[str, str, str]) -> str:
    return "\x01".join(f"{a}\x02{b}\x03{c}" for a, b, c in triplets)


FEAT_LISTS = [
    _kv(("101", "1234", "1.0"), ("205", "77", "1.0")),
    _kv(("101", "12.5", "1.0"), ("205", "1e3", "1.0")),
    _kv(("101", "0x1A", "1.0"), ("205", "7\n", "1.0")),
    _kv(("101", "+8", "1.0"), ("205", "-0", "1.0")),
    _kv(("101", " 9", "1.0"), ("205", "99999999999", "1.0")),
    # duplicate field id: the last occurrence wins
    _kv(("101", "1", "1.0"), ("205", "2", "1.0"), ("101", "3", "1.0")),
    _kv(("101", "4", "1.0"), ("101", "bad", "1.0")),
    # ragged tails and separator-free fragments
    _kv(("101", "5", "1.0")) + "\x01205\x026",
    _kv(("101", "6", "1.0")) + "\x01URGENT",
    "justonetoken",
    "",
    None,
]
KEYS = ["101", "205"]


def test_kv_twins_match_spark_parse(spark):
    rows = list(enumerate(FEAT_LISTS))
    df = spark.createDataFrame(rows, "id int, s string").select(
        "id", parse_kv_triplets("s").alias("m")
    )
    got = {
        r["id"]: r[1:]
        for r in df.select(
            "id",
            *[F.col("m")[k].alias(f"v{k}") for k in KEYS],
            *[kv_int(F.col("m")[k]).alias(f"i{k}") for k in KEYS],
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id INTEGER, s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    cols = [KV.kv_get_sql(k) for k in KEYS] + [KV.kv_int_sql(KV.kv_get_sql(k)) for k in KEYS]
    want = {
        r[0]: tuple(r[1:])
        for r in con.execute(
            f"SELECT id, {', '.join(cols)} FROM (SELECT id,{KV.KV_PARSE_SQL} FROM t)"
        ).fetchall()
    }
    assert got == want
    # the adversarial rows really reach the gate: malformed -> NULL
    assert want[1][2:] == (None, None) and want[2][2:] == (None, None)
    assert want[5][0] == "3"


VECTORS = [
    [1.0, 2.0],
    [NAN, 1.0],
    [INF],
    [-INF, 0.0],
    [1.0, None],
    [3e38, -3e38],
    [],
    None,
]


def test_finite_vector_twin_matches_spark(spark):
    rows = list(enumerate(VECTORS))
    got = {
        r["id"]: r["f"]
        for r in spark.createDataFrame(rows, "id int, v array<double>")
        .select("id", V.is_finite_vector(F.col("v")).alias("f"))
        .collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id INTEGER, v DOUBLE[])")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = dict(con.execute(f"SELECT id, {V.is_finite_vector_sql('v')} FROM t").fetchall())
    assert got == want
    assert [want[i] for i in range(len(VECTORS))] == [
        True, False, False, False, False, True, True, None
    ]


def _twin_outputs() -> dict[str, str]:
    """Each twin's output that no catalog line may spell by hand."""
    return {
        "whitespace set": TX.WS_TRIM_SQL,
        "whitespace class": TX.WS_CLASS,
        "token regex": TX.TOKEN_SPLIT_REGEX,
        "stopword list": TX.STOPWORDS_SQL,
        "email regex": TX.PII_EMAIL_REGEX,
        "ipv4 regex": TX.PII_IPV4_REGEX,
        "phone regex": TX.PII_PHONE_REGEX,
        "kv separator": KV.KV_SPLIT_SQL,
        "kv int regex": KV.KV_INT_REGEX,
        "finite-vector predicate": V.is_finite_vector_sql("v").split(", ", 1)[1],
        "control-char regex": TX.CONTROL_CHAR_REGEX,
        "unicode-space class": TX.UNICODE_SPACES_SQL,
    }


def hand_spelled_twins(source: str) -> list[str]:
    """The twin outputs ``source`` spells literally, as a raw string,
    with its backslashes escaped, or with its braces doubled (f-string)."""
    return [
        name
        for name, text in _twin_outputs().items()
        if any(
            spelling in source
            for spelling in (
                text,
                text.replace("\\", "\\\\"),
                text.replace("{", "{{").replace("}", "}}"),
            )
        )
    ]


def test_catalog_spells_no_twin_by_hand():
    found = hand_spelled_twins(CATALOG.read_text())
    assert not found, f"plans/catalog.py spells these by hand; call the twin instead: {found}"


def test_twin_scan_sees_both_spellings():
    assert hand_spelled_twins(f"r'{TX.TOKEN_SPLIT_REGEX}'") == ["whitespace class", "token regex"]
    escaped = KV.KV_INT_REGEX.replace("\\", "\\\\")
    assert hand_spelled_twins(f"'{escaped}'") == ["kv int regex"]
    assert hand_spelled_twins(V.is_finite_vector_sql("embedding")) == ["finite-vector predicate"]
    doubled = TX.UNICODE_SPACES_SQL.replace("{", "{{").replace("}", "}}")
    assert hand_spelled_twins(f"'[{doubled}]'") == ["unicode-space class"]
