"""Driver simulator: run every catalog query under a VANILLA SparkSession.

The per-round driver builds its own SparkSession (no engine confs) and runs
``__spark_entry__.queries()`` against ``oracle_sql()`` via DuckDB at sf0.01.
Pytest's fixture uses the engine's tuned session, so it can mask
session-conf dependencies (e.g. ``spark.sql.mapKeyDedupPolicy`` — the
round-1 ``kv_merge_lastwin`` crash).  This script reproduces the hard gate
locally: vanilla session, column-name-sorted value comparison, JSON report.

``--strict`` compares values EXACTLY (the driver hashes values, so a
mismatch in the 7th decimal is red there while the default rtol=1e-6
compare would mask it). ``--perturb SEED`` runs the whole gate on a
deterministically jittered copy of the testdata (every float64 column
scaled by seeded noise in ±1e-4): the driver REGENERATES the parquet
each round, and round 2 lost its only red row to a data-dependent
float-rounding edge that the checked-in data never triggered — jittered
re-runs surface that brittleness locally. Green on ≥2 seeds (plus the
real data) is the round-start bar.
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import random
import shutil
import sys
import time
import traceback
import zlib
from collections.abc import Callable
from typing import NamedTuple

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _src_tag(sf: str) -> str:
    """Deterministic short tag for a source dir in a perturbed-copy name.
    Stacked modes CHAIN output names (each embeds its input's basename),
    which blows the 255-byte filename limit around 10 modes — long
    inputs collapse to a crc32 digest + tail, short ones stay readable
    (and stay byte-identical to the pre-r10 names, so recorded seed
    certifications remain reproducible)."""
    base = os.path.basename(sf.rstrip("/"))
    if len(base) <= 100:
        return base
    return f"x{zlib.crc32(base.encode()):08x}_{base[-60:]}"


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        elif pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].apply(lambda v: str(v) if v is not None else None)
    return df.sort_values(by=list(df.columns), na_position="last").reset_index(drop=True)


# Perturbation modes. Each mode rewrites some tables of a testdata copy
# through one transform ``(table, table_name, seed) -> table``; ``MODES``
# (below the transforms) ties each to its flag. Every seeded choice
# hashes a key string: those strings and the output directory names are
# what recorded seed certifications reproduce, so they never change.


def _crc(key: str) -> int:
    return zlib.crc32(key.encode())


def _with_columns(tbl: pa.Table, cols: dict[str, list]) -> pa.Table:
    """``tbl`` with the named columns replaced by Python lists, each
    keeping its field's type; names absent from the schema are ignored."""
    return pa.Table.from_arrays(
        [
            pa.array(cols[f.name], type=f.type) if f.name in cols else tbl.column(i)
            for i, f in enumerate(tbl.schema)
        ],
        schema=tbl.schema,
    )


def _text_columns(texts: list) -> dict[str, list]:
    """``documents.text`` plus its derived column, for ``_with_columns``:
    keeps the generator's invariant n_chars = len(text)."""
    return {"text": texts, "n_chars": [None if v is None else len(v) for v in texts]}


def _jitter(tbl: pa.Table, t: str, seed: int) -> pa.Table:
    """Deterministically jittered copy of the testdata directory: every
    float64 column is scaled by (1 + U(-1e-4, 1e-4)) with a seed derived
    from (seed, table, column), so each run is reproducible but lands
    every float sum on fresh rounding boundaries. Non-float columns
    (ids, strings, timestamps, embedding lists) pass through untouched —
    the point is float-edge brittleness, not new data semantics."""
    cols = {}
    for f in tbl.schema:
        if pa.types.is_float64(f.type):
            rng = np.random.default_rng(_crc(f"{seed}/{t}/{f.name}"))
            v = tbl.column(f.name).combine_chunks().to_numpy(zero_copy_only=False)
            jit = v * (1.0 + rng.uniform(-1e-4, 1e-4, len(v)))
            # NaN (incl. former nulls) → null
            cols[f.name] = [None if x != x else x for x in jit.tolist()]
    return _with_columns(tbl, cols)


def _exotic_whitespace(tbl: pa.Table, t: str, seed: int) -> pa.Table:
    """Copy of the testdata with exotic whitespace seeded into a
    deterministic ~20% of ``documents.text``: vertical tab (Java-``\\s``
    but NOT RE2-``\\s`` — the char class divergence that flipped
    ``sequence_packing_plan`` red on driver-regenerated data), form feed,
    CR, tab runs, NBSP, ideographic space, and an ASCII control char.
    Both engines see identical bytes, so any red row is a genuine
    cross-engine regex/semantics divergence, not a data change."""
    # last four: astral-plane emoji (UTF-16 surrogate pair — 1 codepoint
    # on both engines, 2 Java chars), CJK, combining accent (decomposed
    # e+U+0301 — no engine normalizes, both must count 2 codepoints),
    # and RTL text; they ride INSIDE tokens, probing length/regex
    # semantics rather than the tokenizer split
    exotic = ["\x0b", "\x0c", "\r", "\t\t", " ", "　", "\x01", " \x0b ",
              "x😀y", "好的", "café", "שָׁלוֹם"]
    mutated = []
    for did, txt in zip(tbl.column("doc_id").to_pylist(), tbl.column("text").to_pylist()):
        h = _crc(f"{seed}/{did}")
        if txt is None or h % 5 != 0:
            mutated.append(txt)
            continue
        ch = exotic[(h >> 3) % len(exotic)]
        toks = txt.split(" ")
        pos = (h >> 7) % max(len(toks), 1)
        toks.insert(pos, ch)
        s = " ".join(toks)
        if (h >> 11) % 2:
            s = ch + s  # leading separator: empty-first-token edge
        if (h >> 12) % 2:
            s = s + ch  # trailing separator: empty-last-token edge
        mutated.append(s)
    return _with_columns(tbl, _text_columns(mutated))


# The custom tables' keys (no TPC-H-style key discipline behind them).
# events joined the ids regime in r09: event_id is the tie-break column
# in most window entries, the exact role doc_id played in the four-round
# sequence_packing_plan divergence.
_ID_COLS = {"documents": "doc_id", "embeddings": "vec_id", "events": "event_id"}


def _dup_ids(tbl: pa.Table, t: str, seed: int) -> pa.Table:
    """Copy of the testdata with a seeded ~5% of ``documents.doc_id``,
    ``embeddings.vec_id``, and ``events.event_id`` (r09) values
    overwritten by ANOTHER row's id, creating duplicate ids in the
    three custom (non-TPC-H) tables.
    The driver regenerates data each round and nothing guarantees doc_id
    uniqueness there; ``sequence_packing_plan`` was red for four rounds
    because its cumulative-sum window ordered by doc_id alone — a
    non-total order that Spark and DuckDB tie-break differently under
    duplicates (identical rows/schema, different start_offsets).  Local
    data is unique, so only this mode reproduces the driver's failure
    shape.  Both engines see identical bytes: any red row is a genuine
    tie-order / uniqueness-assumption divergence."""
    ids = tbl.column(_ID_COLS[t]).to_pylist()
    orig = list(ids)
    for i in range(1, len(ids)):
        if _crc(f"{seed}/{t}/{orig[i]}") % 20 == 0:
            # adjacent duplicate: same shard-locality as a generator
            # emitting colliding ids, and guaranteed to collide with
            # an id that actually exists
            ids[i] = orig[i - 1]
    return _with_columns(tbl, {_ID_COLS[t]: ids})


def _unicode_carriers(tbl: pa.Table, t: str, seed: int) -> pa.Table:
    """Copy of the testdata with UNICODE CASE-FOLD DIVERGENCE CARRIERS
    seeded into ~15% of ``documents.text`` (derived ``n_chars`` kept in
    sync — all three engines count codepoints). The r10 full-BMP sweep
    proved Spark (Java full case mapping) and DuckDB (utf8proc simple
    mapping) disagree under ``lower()`` on exactly 15 codepoints — İ,
    contextual final sigma Σ, and 13 modern cased letters — plus a wider
    set under ``upper()`` (ß→SS vs ẞ, ligatures). The palette below
    carries all of them, plus benign-but-scary unicode (combining marks,
    non-BMP emoji, CJK, fullwidth forms, RTL, zero-width) that exercises
    length/tokenize/shingle paths. Both engines see identical bytes: any
    red row is a genuine unicode-semantics divergence — the class
    ``portable_lower`` (functions/text.py) exists to neutralize."""
    palette = [
        " İstanbul DİYARBAKIR",          # İ: Java lower expands
        " ΣΙΣΥΦΟΣ ΕΙΣ",                  # final-sigma contextual rule
        " ᲉⰯꟀꟋꟜ modern-cased",
        " STRASSE ß ẞ",                  # sharp s (upper diverges)
        " ﬁligature ǅungla Ǆ",           # ligatures / titlecase digraphs
        " café café",              # combining vs precomposed
        " \U0001F600\U0001F680 emoji",   # non-BMP surrogate pairs
        " 漢字テスト한글",                 # CJK + Hangul
        " ＡＢＣ fullwidth", # fullwidth Latin
        " שלום עולם",                    # RTL Hebrew
        " zero​width‍join",    # ZWSP/ZWJ
        " non breaking　space", # NBSP + ideographic space
    ]
    ids = tbl.column("doc_id").to_pylist()
    mutated = [
        v + palette[_crc(f"{seed}/pick/{rid}") % len(palette)]
        if v is not None and _crc(f"{seed}/hit/{rid}") % 100 < 15
        else v
        for rid, v in zip(ids, tbl.column("text").to_pylist())
    ]
    return _with_columns(tbl, _text_columns(mutated))


_TPCH_KEYS = {
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    # p_partkey joined the regime the same round (the q2 seed-157
    # find generalizes: any dimension PK can carry a duplicate whose
    # copies disagree on the filter columns)
    "part": "p_partkey",
}


def _tpch_keys(tbl: pa.Table, t: str, seed: int) -> pa.Table:
    """Copy of the testdata with the TPC-H JOIN KEYS degraded: a seeded
    ~5% of ``orders.o_orderkey``, ``lineitem.l_orderkey``,
    ``customer.c_custkey``, ``supplier.s_suppkey``, and
    ``part.p_partkey`` overwritten by an adjacent row's value (duplicate
    keys), plus a seeded ~2% set to NULL.
    The r09 widened-ids campaign found 7 real divergences on
    events.event_id; this mode exercises the SAME class on the keys that
    every q3/q5/q7/q9-family join, the window tie-breaks, and the txlog
    MERGE key on (r09 verdict item 4). Duplicate dimension PKs fan joins
    out; duplicate fact keys make (key)-only window orders non-total;
    NULL keys never equi-join and sort on opposite ends of the two
    engines' default null order. Both engines see identical bytes: any
    red row is a genuine uniqueness-assumption / join-cardinality /
    null-key divergence, not data noise. Kept SEPARATE from
    ``--perturb-ids`` (custom tables) so r09's recorded seed results
    remain reproducible."""
    ids = tbl.column(_TPCH_KEYS[t]).to_pylist()
    orig = list(ids)
    for i in range(1, len(ids)):
        # the hash keys on ROW INDEX, not value: lineitem's l_orderkey
        # legitimately repeats across lines, and a value-keyed coin
        # would mutate every line of a hit order at once
        h = _crc(f"{seed}/{t}/{i}") % 100
        if h < 5:
            ids[i] = orig[i - 1]  # adjacent duplicate (existing value)
        elif h < 7:
            ids[i] = None  # degenerate NULL key
    # tiny tables (supplier at sf0.001 has ~10 rows) can dodge the
    # percentage coin entirely — force ≥1 duplicate and ≥1 NULL so
    # every target table exercises both regimes at every SF
    if len(ids) >= 3:
        if ids == orig:
            ids[1] = orig[0]
        if not any(v is None for v in ids):
            ids[2] = None
    return _with_columns(tbl, {_TPCH_KEYS[t]: ids})


_FK_COLS = {
    "orders": ["o_custkey"],
    "lineitem": ["l_suppkey", "l_partkey"],
    "events": ["user_id"],
}


def _fk_ids(tbl: pa.Table, t: str, seed: int) -> pa.Table:
    """Copy of the testdata with the FOREIGN-KEY columns degraded: a
    seeded ~2% of ``orders.o_custkey``, ``lineitem.l_suppkey``,
    ``lineitem.l_partkey``, and ``events.user_id`` set to NULL, plus a
    seeded ~3% of the three TPC-H FKs re-pointed at a GUARANTEED-ABSENT
    parent (``-v - 1``: generator keys are positive) — orphans. The
    r10 tpch-ids campaign degraded the PK side; this is the other half
    of referential-integrity loss: NULL FKs never equi-join (inner
    joins drop the row, outer joins NULL the attributes, window
    partitions gain a NULL group), and orphan FKs make inner-vs-left
    join choices observable (the seed-137 bronze_to_silver find was
    exactly an orphan-FK divergence, produced there as a PK side
    effect). Both engines see identical bytes: any red row is a
    genuine null-key / orphan-semantics divergence."""
    cols: dict[str, list] = {}
    for col in _FK_COLS[t]:
        new = []
        for i, v in enumerate(tbl.column(col).to_pylist()):
            h = _crc(f"{seed}/{t}/{col}/{i}") % 100
            if h < 2:
                new.append(None)  # lost reference
            elif h < 5 and t != "events" and v is not None:
                new.append(-v - 1)  # orphan: parent guaranteed absent
            else:
                new.append(v)
        cols[col] = new
    return _with_columns(tbl, cols)


_DIM_PLAN: dict[str, list[tuple[str, int, bool]]] = {
    # (column, mutation pct, allow duplicates)
    "nation": [("n_nationkey", 8, True)],
    "region": [("r_regionkey", 8, True)],
    "customer": [("c_nationkey", 2, False)],
    "supplier": [("s_nationkey", 2, False)],
}


def _dim_ids(tbl: pa.Table, t: str, seed: int) -> pa.Table:
    """Copy of the testdata with the small-dimension key chain degraded:
    ~8% of ``nation.n_nationkey`` / ``region.r_regionkey`` duplicated
    (adjacent value) or NULLed, and ~2% of ``customer.c_nationkey`` /
    ``supplier.s_nationkey`` NULLed. nation/region are the keys the
    q5/q7/q8/q9/q10 broadcast-join chain pivots on, and the only key
    family the r10 tpch-ids/fk-ids regimes left untouched; tiny tables
    get higher rates plus the forced ≥1-dup/≥1-NULL floor so every SF
    exercises both regimes. Both engines see identical bytes."""
    cols: dict[str, list] = {}
    for col, pct, dups in _DIM_PLAN[t]:
        vals = tbl.column(col).to_pylist()
        orig = list(vals)
        for i in range(1, len(vals)):
            h = _crc(f"{seed}/{t}/{col}/{i}") % 100
            if h < pct // 2 and dups:
                vals[i] = orig[i - 1]
            elif h < pct:
                vals[i] = None
        if dups and len(vals) >= 3:
            if vals == orig:
                vals[1] = orig[0]
            if not any(v is None for v in vals):
                vals[2] = None
        cols[col] = vals
    return _with_columns(tbl, cols)


def _ts_ties(tbl: pa.Table, t: str, seed: int) -> pa.Table:
    """Copy of the testdata with a seeded ~20% of ``events.ts``
    truncated to the hour, forcing duplicate timestamps — including
    (user_id, ts) collisions — throughout the event stream. Every
    windowed entry orders by (ts, event_id) or an equivalent total
    order (audited round 5); this mode checks that discipline
    empirically: regenerated data carries no tie-freeness guarantee,
    and a bare ORDER BY ts lets each engine place the tied rows
    differently. Both engines see identical bytes."""
    eid = tbl.column("event_id").to_pylist()
    mutated = [
        v.replace(minute=0, second=0, microsecond=0)
        if v is not None and _crc(f"{seed}/{e}") % 5 == 0
        else v
        for v, e in zip(tbl.column("ts").to_pylist(), eid)
    ]
    return _with_columns(tbl, {"ts": mutated})


def _time_holes(vals: list, keys: list, prefix: str) -> list:
    """A seeded ~2% each of ``vals`` overwritten by NULL, the epoch floor
    (1970-01-01) and the far-future extreme (2200-01-01); the coin of
    row ``k`` hashes ``f"{prefix}/{k}"``."""
    holes = (None, datetime.datetime(1970, 1, 1), datetime.datetime(2200, 1, 1))
    mutated = []
    for v, k in zip(vals, keys):
        pick = _crc(f"{prefix}/{k}") % 50
        mutated.append(v if v is None or pick > 2 else holes[pick])
    return mutated


def _ts_nulls(tbl: pa.Table, t: str, seed: int) -> pa.Table:
    """Copy of the testdata with the event-time spine itself degraded
    (r10 verdict item 4 — the last un-fuzzed column family): a seeded
    ~2% of ``events.ts`` overwritten by NULL, ~2% by the epoch floor
    (1970-01-01), and ~2% by a far-future extreme (2200-01-01; far
    beyond the data range yet safe under both engines' interval
    arithmetic — 9999-12-31 would overflow Spark's session_window
    gap-add). Real feeds emit all three (producer clock loss, zeroed
    fields, unit bugs), and the whole asof/session/watermark/cadence
    family keys on ts: a NULL event time must follow each entry's
    pinned null policy on BOTH engines, not either engine's windowing
    accident; an epoch/far-future row stresses watermark max-ts
    derivation, date bucketing, and interval joins. Both engines see
    identical bytes. ``--perturb-ts`` (hour truncation → ties) and this
    mode compose: ties AND holes AND extremes in one regime."""
    eid = tbl.column("event_id").to_pylist()
    return _with_columns(
        tbl, {"ts": _time_holes(tbl.column("ts").to_pylist(), eid, f"{seed}/ts-nulls")}
    )


_DATE_COLS = {"orders": "o_orderdate", "lineitem": "l_shipdate"}


def _date_nulls(tbl: pa.Table, t: str, seed: int) -> pa.Table:
    """Copy of the testdata with the RELATIONAL date spine degraded —
    the sibling of ``--perturb-ts-nulls`` for the TPC-H side (r11: the
    events.ts campaign left ``orders.o_orderdate`` and
    ``lineitem.l_shipdate`` as the last never-degraded time columns): a
    seeded ~2% of each overwritten by NULL, ~2% by the epoch floor
    (1970-01-01), ~2% by a far-future extreme (2200-01-01). Range
    filters drop NULLs identically in both engines by comparison
    semantics, but year()/window() bucketing, weekly rollups, date
    sequences (gap fill), and ORDER BY tie-breaks all have NULL/extreme
    behavior that must be pinned, not inherited. Hit selection keys on
    the ROW INDEX (parquet row order is stable; the natural keys can be
    duplicated/NULLed by the id fuzzers this mode stacks with)."""
    col = _DATE_COLS[t]
    vals = tbl.column(col).to_pylist()
    return _with_columns(
        tbl, {col: _time_holes(vals, range(len(vals)), f"{seed}/date-nulls/{t}")}
    )


def _props_json(tbl: pa.Table, t: str, seed: int) -> pa.Table:
    """Copy of the testdata with a seeded ~5% of ``events.props``
    overwritten by MALFORMED or type-shifted JSON — truncated objects,
    bare text, empty string, wrong-typed / overflowing / null ``k``,
    wrong-cased keys, an array. Real producers emit every one of these
    (serializer bugs, truncation at the transport MTU, schema drift),
    and the engines diverge hard on them: Spark's ``get_json_object``
    returns NULL on malformed input while DuckDB's ``json_extract``
    HARD-ERRORS, Spark's ANSI ``CAST('x' AS INT)`` throws while
    TRY_CAST returns NULL, and ``parse_json`` vs ``try_parse_json`` is
    the same split on the variant path. Green means every JSON-consuming
    entry pins an explicit invalid-input policy (malformed → NULL,
    non-numeric k → NULL) instead of inheriting either engine's
    accident. Both engines see identical bytes."""
    variants = [
        "not json",
        '{"k":',
        "",
        '{"k": "x"}',
        "[1, 2",
        '{"k": 99999999999999999999}',
        '{"K": 7}',
        '{"k": null}',
        '{"k": [1, 2]}',
        "   ",
    ]
    eid = tbl.column("event_id").to_pylist()
    mutated = []
    for v, e in zip(tbl.column("props").to_pylist(), eid):
        h = _crc(f"{seed}/props-json/{e}")
        if v is None or h % 20 != 0:
            mutated.append(v)
        else:
            mutated.append(variants[(h // 20) % len(variants)])
    return _with_columns(tbl, {"props": mutated})


_NEG_ID_COLS: dict[str, list[str]] = {
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "events": ["event_id", "user_id"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey"],
    "customer": ["c_custkey"],
}


def _neg_ids(tbl: pa.Table, t: str, seed: int) -> pa.Table:
    """Copy of the testdata with a seeded ~3% of the integer ID columns
    NEGATED — documents.doc_id, embeddings.vec_id, events.event_id /
    user_id, orders.o_orderkey / o_custkey, lineitem.l_orderkey,
    customer.c_custkey. Signed ids are real (migration artifacts,
    sentinel encodings, pre-epoch snowflakes), and they probe a
    semantics family no other mode reaches: the SIGN of ``%`` bucketing
    (both engines keep the dividend's sign — but every oracle that
    buckets by ``id % N = 0`` or maps ``key % 10`` must agree with the
    engine expression on negatives), ordering boundaries (negative ids
    sort before every natural id, so min-id representative selection
    and LIMIT tie-breaks shift), and synthetic-id arithmetic
    (``doc_id + 1000000`` can now collide with a natural id — the
    duplicate-id regime by another door). Hit selection keys on the
    ROW INDEX. Both engines see identical bytes."""
    return _with_columns(tbl, {
        col: [
            -v
            if v is not None
            and _crc(f"{seed}/neg-ids/{t}/{col}/{i}") % 33 == 0
            else v
            for i, v in enumerate(tbl.column(col).to_pylist())
        ]
        for col in _NEG_ID_COLS[t]
    })


# Decimal-precision boundary values (--perturb-decimal-edge). The r11
# twap find proved the class: a declared decimal width met a value the
# generator never emits and overflowed. These sit exactly ON the
# catalog's declared-type edges. Every value is an EXACTLY-REPRESENTABLE
# double whose shortest decimal repr has <= 6 fractional digits — above
# ~2^33 the two engines' double->decimal conversions legitimately
# disagree in the 6th decimal (Spark converts the shortest repr, DuckDB
# the binary value), so a tie-adjacent magnitude would fuzz the
# CONVERSION GAP, not the catalog; the pinned domain stresses the
# declared widths without leaving engine-equal ground.
DECIMAL_EDGES = [
    8999999999.0, -8999999999.0,    # max integral in the oracle-exact domain
    8999999999.5, -8999999999.5,    # dyadic fraction at that edge (v*1e6 < 2^53)
    1e12, -1e12,                    # past DECIMAL(18,6): try_cast -> NULL
    1e14,                           # past (18,6), inside (24,6); power of 10 = exact
    123456789.654321, -123456789.654321,  # full scale-6 fraction, 15 sig digits
    1e-6, -1e-6,                    # smallest nonzero at scale 6
    2147483647.0, 2147483648.0,     # int32 try_cast edges
    -2147483648.0, -2147483649.0,
    1000000000.0,                   # 1e9: sum-headroom stressor
]


def _decimal_edges(tbl: pa.Table, t: str, seed: int) -> pa.Table:
    """Copy of the testdata with a seeded ~5% of ``events.value``
    overwritten by decimal-precision BOUNDARY values (``DECIMAL_EDGES``):
    the guarded-decimal catalog declares DECIMAL(18,6)/(24,6) ingestion
    domains, int32 encodings, and micro-scaled integer rails, and the
    r11 twap overflow proved a declared width can be wrong at values
    the generator never emits (r12 finder, seed 491: write_ignore's
    BIGINT micro-rail overflowed at in-domain magnitudes — real
    sum-headroom bug).

    TWO DELIBERATE DOMAIN PINS (the physics found by seed 491):
    - magnitudes stay inside |v|*10^6 < 2^53 (~9.0e9): DuckDB converts
      double→decimal by multiplying in DOUBLE, so past that bound the
      ORACLE ingests -999999999999.0 as -999999999999.000064 — a red
      there grades the oracle's conversion, not the catalog. Exact
      powers of 10 (1e12, 1e14) are exempt (exactly representable
      scaled) and probe the overflow→NULL boundary.
    - only ``events.value`` is planted: its consumers are guarded or
      single-value passthrough. The TPC-H price columns feed
      DECLARED-RAW double sums (q1's canary contract), where finite
      cancelling magnitudes make cross-engine equality physically
      unattainable (order-dependent absorption) — their fuzz regime is
      ``--perturb-extremes``, whose NaN/±Inf plants saturate sums
      order-INDEPENDENTLY.
    Green means every declared width/overflow edge behaves identically
    on both engines. Both engines see identical bytes."""
    col = "value"
    return _with_columns(tbl, {col: [
        DECIMAL_EDGES[_crc(f"{seed}/decpick/{t}/{col}/{k}") % len(DECIMAL_EDGES)]
        if _crc(f"{seed}/dechit/{t}/{col}/{k}") % 20 == 0
        else v
        for k, v in enumerate(tbl.column(col).to_pylist())
    ]})


# Adversarial Ali-CCP kv fragments (--perturb-kv). Each replaces a value
# of the raw-fragment carrier columns the kv entries thread into their
# constructed feat_lists (orders.o_orderpriority -> skeleton _c5,
# customer.c_name -> common _c2). Covers the malformation families the
# r11 verdict named: duplicate field_ids (LAST_WIN's real test), ragged
# triplets, frame-shifting lone separators, empty fragments/values,
# non-numeric / decimal / scientific / hex / overflowing feat values
# (the string->int cast divergence carriers), a label-key plant (labels
# are injected after the merge and must still win), and whitespace
# padding (the strict integral gate rejects it on both engines).
KV_FRAGMENTS = [
    "101\x02666666\x031.0",                  # duplicate field id: last wins
    "205\x02notanint\x031.0",                # non-numeric value -> NULL
    "205\x0212.5\x031.0",                    # decimal: raw casts disagree (12.5 -> 13 in DuckDB)
    "101\x021e3\x031.0",                     # scientific: DuckDB accepts, Spark doesn't
    "101\x020x1A\x031.0",                    # hex: same class
    "101\x029999999999999999999999\x031.0",  # int32 overflow -> NULL
    "122\x02\x031.0",                        # empty value (present key, '' value)
    "888\x02",                               # ragged: key+sep, missing weight
    "x\x01y",                                # frame shift: lone triplet separator
    "\x01\x02\x03",                          # separator soup
    "",                                      # empty fragment
    "101\x02-42\x031.0",                     # negative override
    "click\x02777\x031.0",                   # label-key plant
    "301\x02 7 \x031.0",                     # whitespace-padded value -> NULL
    "101\x027\n\x031.0",                     # trailing newline -> NULL (Java '$'
                                             # matches before it; \A..\z doesn't — r12 advice)
]

_KV_COLS = {"orders": "o_orderpriority", "customer": "c_name"}


def _kv_fragments(tbl: pa.Table, t: str, seed: int) -> pa.Table:
    """Copy of the testdata with adversarial kv fragments overwriting a
    seeded ~10% of ``orders.o_orderpriority`` and ``customer.c_name`` —
    the data-driven tails of the Ali-CCP kv golden path
    (``kv_parse_roundtrip``, ``aliccp_bronze_to_silver_e2e``; the
    fourteen prior modes never touched the kv-string domain). On clean
    data those columns are separator-free, so they parse away as one
    truncated key token; these fragments turn them into real triplets
    that exercise duplicate-field last-win, frame shifts, and the
    ``kv_int`` ingestion gate. Hit selection keys on the ROW INDEX
    (natural keys may be NULLed/duplicated by stacked id fuzzers).
    Both engines see identical bytes: a red row is a genuine parse /
    merge / cast policy divergence, not noise."""
    col = _KV_COLS[t]
    mutated = []
    for i, v in enumerate(tbl.column(col).to_pylist()):
        h = _crc(f"{seed}/kv/{t}/{i}")
        if h % 10 != 0:
            mutated.append(v)
        else:
            mutated.append(KV_FRAGMENTS[(h // 10) % len(KV_FRAGMENTS)])
    return _with_columns(tbl, {col: mutated})


_NULL_COLS = {
    "documents": ["text", "lang", "source"],
    "embeddings": ["label"],
    "events": ["event_type", "props", "value"],
}


def _plant_nulls(tbl: pa.Table, t: str, seed: int) -> pa.Table:
    """Copy of the testdata with a seeded ~5% of nullable CUSTOM-table
    values overwritten by NULL: documents.text / documents.lang /
    documents.source, embeddings.label, and events.event_type /
    events.props / events.value, plus a seeded ~2% of the custom-table
    KEYS (documents.doc_id / embeddings.vec_id) — the advisor's
    degenerate-key regime: NULL keys never equi-join, never win a
    ``count(col)`` probe, and sort on opposite ends of the two engines'
    windows, so representative-selection and LIMIT-boundary tie-breaks
    must spell their null order explicitly. events.event_id and
    timestamps stay non-null IN THIS MODE (a NULL *value* column is
    exactly what a lossy upstream producer emits; the event-time spine
    gets its own dedicated regime — ``--perturb-ts-nulls`` — so the two
    failure families stay bisectable). The
    driver regenerates data
    each round with no null-freeness promise on the custom tables, and
    NULL is the classic cross-engine divergence carrier: Java-regex vs
    RE2 never see it the same way COUNT/count_distinct/window ORDER BY
    do — the round-6 advisor found exactly this class in the
    NDV-uniqueness probe (count(col) ignores NULL keys). TPC-H tables
    stay untouched (their generators guarantee non-null columns).
    Both engines see identical bytes: any red row is a genuine
    null-semantics divergence."""
    ids = tbl.column(_ID_COLS[t]).to_pylist()
    cols = {
        c: [
            None if _crc(f"{seed}/{t}/{c}/{rid}") % 20 == 0 else v
            for rid, v in zip(ids, tbl.column(c).to_pylist())
        ]
        for c in _NULL_COLS[t]
    }
    if t != "events":
        cols[_ID_COLS[t]] = [
            None if _crc(f"{seed}/{t}/id/{rid}") % 50 == 0 else rid for rid in ids
        ]
    if "text" in cols:
        cols.update(_text_columns(cols["text"]))
    return _with_columns(tbl, cols)


def _reorder(tbl: pa.Table, t: str, seed: int) -> pa.Table:
    """Copy of the testdata with EVERY table's rows re-ordered by a
    seeded permutation and rewritten ``max(n // 4, 1)`` rows per row group
    (4 groups when 4 divides the row count, 5 otherwise; one per row
    below 4 rows). Values are
    untouched — any red row is a genuine physical-order sensitivity:
    ``first()`` / ``collect_list`` order, a non-total window order, or
    partition-boundary dependence. The driver's generator makes no
    ordering promise between rounds; neither engine should either.
    Both engines see identical (re-ordered) bytes."""
    idx = list(range(tbl.num_rows))
    random.Random(f"{seed}/{t}").shuffle(idx)
    return tbl.take(idx)


_DOWNCAST = {
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "events": ["event_id", "user_id"],
}


def _schema_drift(tbl: pa.Table, t: str, seed: int) -> pa.Table:
    """Copy of the testdata with every table's COLUMN ORDER reversed and
    the custom-table int64 ids downcast to int32 (values unchanged — all
    fit). The driver regenerates the parquet each round with no promise
    on column order or physical integer width, and the repo has already
    been bitten by exactly this class once (events.ts arrived as
    INT64-nanos in round 1, native timestamp from round 2 — the
    ``load_table`` shim exists because of it). Green means every reader
    binds columns BY NAME and widens types instead of assuming the
    generator's current layout. ``seed`` is accepted for CLI symmetry;
    the transform is deterministic."""
    cols, fields = [], []
    for name in reversed(tbl.schema.names):
        col, f = tbl.column(name), tbl.schema.field(name)
        if name in _DOWNCAST.get(t, []):
            col, f = col.cast(pa.int32()), pa.field(name, pa.int32())
        cols.append(col)
        fields.append(f)
    return pa.Table.from_arrays(cols, schema=pa.schema(fields))


# table -> (column to overwrite, key column(s) seeding the coin, pct)
_SKEW_PLAN = {
    "events": ("user_id", ["event_id"], 30),
    "orders": ("o_custkey", ["o_orderkey"], 20),
    "lineitem": ("l_suppkey", ["l_orderkey", "l_linenumber"], 20),
    "documents": ("text", ["doc_id"], 10),
}


def _hot_keys(tbl: pa.Table, t: str, seed: int) -> pa.Table:
    """Copy of the testdata with HOT KEYS planted: a seeded ~30% of
    ``events.user_id`` collapses onto one existing user, ~20% of
    ``orders.o_custkey`` onto one customer, ~20% of
    ``lineitem.l_suppkey`` onto one supplier, and ~10% of
    ``documents.text`` onto one document's text. Values are swapped,
    never invented, so referential integrity holds and both engines see
    identical bytes — any red row is a genuine skew-regime divergence
    (a tie-break that was total only because groups were small, a
    bucket/candidate cap that drops pairs the oracle keeps, a
    representative selection that assumed near-unique keys). This is
    also the local stand-in for the 100 TB hot-key regime the salted
    join / bucket-cap / AQE-skew designs exist for: the catalog must be
    value-correct on exactly the data shape those designs defend
    against. Hot values are chosen deterministically from the data
    (first non-null value of the table's first row group), so the mode
    survives driver-regenerated testdata."""
    col_name, key_cols, pct = _SKEW_PLAN[t]
    vals = tbl.column(col_name).to_pylist()
    keys = list(zip(*(tbl.column(k).to_pylist() for k in key_cols)))
    hot = next((v for v in vals if v is not None), None)
    mutated = [
        hot
        if _crc(f"{seed}/{t}/{'/'.join(map(str, k))}") % 100 < pct
        else v
        for v, k in zip(vals, keys)
    ]
    return _with_columns(tbl, {col_name: mutated})


def _empty(tbl: pa.Table, t: str, seed: int) -> pa.Table:
    """Copy of the testdata with the three PIPELINE-FED tables
    (``events``, ``documents``, ``embeddings``) truncated to ZERO rows,
    schema preserved. The TPC-H tables stay intact — they model curated
    warehouse dimensions/facts — but the custom tables model production
    FEEDS, and a daily feed partition being empty is routine (upstream
    outage, first run of a new tenant, weekend gap). Green means every
    operator degrades to an empty-but-well-typed result instead of
    crashing in a fit/collect step or writing nothing where a reader
    expects a directory. Both engines see identical (zero-row) bytes;
    SQL aggregate-on-empty semantics (global agg → one NULL row,
    GROUP BY → no rows) are shared, so any divergence is a genuine
    empty-input bug. ``seed`` is accepted for CLI symmetry; the
    transform is deterministic."""
    return tbl.slice(0, 0)


# table -> columns to mutate; the hit/pick hash keys on the ROW INDEX
# (parquet row order is stable), which stays unique even where the
# natural key repeats (lineitem's l_orderkey spans multiple lines)
_EXTREME_COLS: dict[str, list[str]] = {
    "events": ["value"],
    "orders": ["o_totalprice"],
    "lineitem": ["l_extendedprice", "l_quantity", "l_discount", "l_tax"],
    "customer": ["c_acctbal"],
    "supplier": ["s_acctbal"],
    "part": ["p_retailprice"],
    "embeddings": ["embedding"],
}


def _extremes(tbl: pa.Table, t: str, seed: int) -> pa.Table:
    """Copy of the testdata with a seeded ~5% of EVERY raw DOUBLE
    measurement column overwritten by IEEE specials and out-of-domain
    magnitudes: NaN, ±Inf, ±1e300 in the scalar doubles — ring 1 (r08):
    ``events.value``, ``orders.o_totalprice``,
    ``lineitem.l_extendedprice``; ring 2 (r09, closing the surface —
    no unexercised double column remains): ``lineitem.l_quantity /
    l_discount / l_tax``, ``customer.c_acctbal``, ``supplier.s_acctbal``,
    ``part.p_retailprice`` — and NaN/±Inf/±3e38 in
    ``embeddings.embedding`` components (float32 — ±3e38 is the in-type
    extreme magnitude; 1e300 would round to Inf on the cast and collapse
    two cases into one). Real feeds emit all of these (sensor glitches,
    div-by-zero upstream, unit bugs), and they are the values where
    engine semantics diverge hardest: NaN ordering, decimal-cast
    overflow (Spark ANSI throws, DuckDB's TRY_CAST has a NaN hole),
    STDDEV over Inf, cosine of a non-finite vector. Green means every
    consuming entry pins an explicit FINITE-DOMAIN policy
    (out-of-domain → NULL/excluded → the already-pinned null policies
    absorb it) instead of inheriting either engine's accident. Both
    engines see identical bytes.

    REGIME NOTE (r09): the hit/pick hash keys gained the column name
    when the per-table target became a column LIST, so a given seed
    selects a DIFFERENT row subset for the ring-1 columns than it did
    in r08 — r09's certification re-ran every seed under this wider
    regime, so no green row rests on the old key shape."""
    specials = [float("nan"), float("inf"), float("-inf"), 1e300, -1e300]
    f32_specials = [float("nan"), float("inf"), float("-inf"), 3e38, -3e38]
    cols: dict[str, list] = {}
    for col in _EXTREME_COLS[t]:
        mut = []
        for k, v in enumerate(tbl.column(col).to_pylist()):
            hit = _crc(f"{seed}/hit/{t}/{col}/{k}") % 20 == 0
            if t == "embeddings":
                # mutate ONE seeded component of ~5% of vectors
                if v and hit:
                    v = list(v)
                    pos = _crc(f"{seed}/pos/{k}") % len(v)
                    v[pos] = f32_specials[
                        _crc(f"{seed}/pick/{t}/{col}/{k}") % len(f32_specials)
                    ]
            elif hit:
                v = specials[_crc(f"{seed}/pick/{t}/{col}/{k}") % len(specials)]
            mut.append(v)
        cols[col] = mut
    return _with_columns(tbl, cols)


class Mode(NamedTuple):
    """One perturbation mode: its flag and help text, the stem of its
    output directory, and the transform of each table it rewrites."""

    flag: str
    help: str
    stem: str
    transforms: dict[str, Callable[[pa.Table, str, int], pa.Table]]
    seeded: bool = True  # False: the directory name carries no seed
    row_groups: int = 0  # > 0: rewrite each table max(n // row_groups, 1) rows per row group


# In stacking order: ``main()`` applies the requested modes top to bottom,
# each to the previous mode's output.
MODES: dict[str, Mode] = {m.flag: m for m in (
    Mode("--perturb", "run on a float-jittered copy of the testdata",
         "perturbed", dict.fromkeys(TABLES, _jitter)),
    Mode("--perturb-text", "seed exotic whitespace into documents.text",
         "textperturbed", {"documents": _exotic_whitespace}),
    Mode("--perturb-ids", "duplicate a seeded ~5%% of documents.doc_id, "
         "embeddings.vec_id and events.event_id",
         "idperturbed", dict.fromkeys(_ID_COLS, _dup_ids)),
    Mode("--perturb-tpch-ids", "duplicate ~5%% + NULL ~2%% of the TPC-H join keys "
         "(o_orderkey, l_orderkey, c_custkey, s_suppkey, p_partkey)",
         "tpchids", dict.fromkeys(_TPCH_KEYS, _tpch_keys)),
    Mode("--perturb-fk-ids", "NULL ~2%% of the FK columns (o_custkey, l_suppkey, "
         "l_partkey, events.user_id) + orphan ~3%% of the "
         "TPC-H FKs (re-point at absent parents)",
         "fkids", dict.fromkeys(_FK_COLS, _fk_ids)),
    Mode("--perturb-dim-ids", "duplicate/NULL ~8%% of nation/region keys + NULL "
         "~2%% of c_nationkey / s_nationkey",
         "dimids", dict.fromkeys(_DIM_PLAN, _dim_ids)),
    Mode("--perturb-unicode", "seed unicode case-fold divergence carriers "
         "(İ, final sigma, ligatures, emoji, CJK, RTL) "
         "into ~15%% of documents.text",
         "unicode", {"documents": _unicode_carriers}),
    Mode("--perturb-ts", "truncate a seeded ~20%% of events.ts to the hour",
         "tsperturbed", {"events": _ts_ties}),
    Mode("--perturb-ts-nulls", "NULL ~2%% of events.ts + seed epoch-0 / far-future "
         "(2200-01-01) extremes into ~2%% each",
         "tsnulls", {"events": _ts_nulls}),
    Mode("--perturb-date-nulls", "NULL/epoch/far-future ~2%% each into o_orderdate "
         "and l_shipdate (the TPC-H date spine)",
         "datenulls", dict.fromkeys(_DATE_COLS, _date_nulls)),
    Mode("--perturb-props-json", "overwrite ~5%% of events.props with malformed / "
         "type-shifted JSON (truncated, bare text, wrong-typed k)",
         "propsjson", {"events": _props_json}),
    Mode("--perturb-neg-ids", "negate ~3%% of the integer id columns (doc/vec/event/"
         "user/order/cust keys) — signed-id regime",
         "negids", dict.fromkeys(_NEG_ID_COLS, _neg_ids)),
    Mode("--perturb-decimal-edge", "seed decimal-precision boundary values (DECIMAL(18,6) "
         "max, one-past overflow, int32 edges, sum stressors) "
         "into ~5%% of events.value",
         "decedge", {"events": _decimal_edges}),
    Mode("--perturb-kv", "seed adversarial Ali-CCP kv fragments (dup field_ids, "
         "ragged triplets, frame shifts, malformed ints) into "
         "~10%% of o_orderpriority / c_name",
         "kvperturbed", dict.fromkeys(_KV_COLS, _kv_fragments)),
    Mode("--perturb-nulls", "NULL a seeded ~5%% of documents+events value columns "
         "+ embeddings.label, and ~2%% of the doc_id / vec_id keys",
         "nullperturbed", dict.fromkeys(_NULL_COLS, _plant_nulls)),
    Mode("--perturb-order", "shuffle every table's row order (n//4 rows per row group)",
         "orderperturbed", dict.fromkeys(TABLES, _reorder), row_groups=4),
    Mode("--perturb-schema", "reverse column order + downcast custom ids to int32",
         "schemadrift", dict.fromkeys(TABLES, _schema_drift), seeded=False),
    Mode("--perturb-skew", "plant hot keys: ~30%% of events.user_id, ~20%% of "
         "orders.o_custkey / lineitem.l_suppkey, ~10%% of "
         "documents.text collapse onto one value",
         "skewperturbed", dict.fromkeys(_SKEW_PLAN, _hot_keys)),
    Mode("--perturb-empty", "truncate the feed tables (events/documents/embeddings) to 0 rows",
         "emptyfeeds", dict.fromkeys(("events", "documents", "embeddings"), _empty),
         seeded=False),
    Mode("--perturb-extremes", "seed NaN/±Inf/±1e300 into ~5%% of EVERY double "
         "column (events.value, o_totalprice, all four "
         "lineitem doubles, c_acctbal, s_acctbal, "
         "p_retailprice) + ±3e38 into embedding components",
         "extremes", dict.fromkeys(_EXTREME_COLS, _extremes)),
)}


def _perturbed_copy(sf: str, out: str, mode: Mode, seed: int) -> str:
    """Write ``mode``'s copy of the testdata ``sf`` to ``out``: the tables
    it lists go through their transform, every other table is copied
    byte for byte."""
    os.makedirs(out, exist_ok=True)
    for t in TABLES:
        src, dst = f"{sf}/{t}.parquet", f"{out}/{t}.parquet"
        if t not in mode.transforms:
            # ALWAYS overwrite: the driver regenerates the source data
            # between rounds, and an exists-check would silently mix a
            # stale cached copy with freshly perturbed tables.
            shutil.copyfile(src, dst)
            continue
        tbl = mode.transforms[t](pq.read_table(src), t, seed)
        rows = max(tbl.num_rows // mode.row_groups, 1) if mode.row_groups else None
        pq.write_table(tbl, dst, row_group_size=rows)
    return out


def perturb(sf: str, flag: str, seed: int, root: str = "/tmp") -> str:
    """The ``flag`` mode's perturbed copy of the testdata directory ``sf``,
    written as ``<root>/driver_sim_<stem>_…`` (always overwritten);
    returns its path."""
    mode = MODES[flag]
    seed_tag = f"s{seed}_" if mode.seeded else ""
    return _perturbed_copy(
        sf, f"{root}/driver_sim_{mode.stem}_{seed_tag}{_src_tag(sf)}", mode, seed
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default="")
    ap.add_argument("--out", default="/tmp/driver_sim.json")
    ap.add_argument("--strict", action="store_true",
                    help="exact value compare (driver-hash fidelity)")
    for flag, mode in MODES.items():
        ap.add_argument(flag, dest=flag, type=int, default=None, metavar="SEED",
                        help=mode.help)
    args = ap.parse_args()
    for flag in MODES:  # modes stack
        seed = vars(args)[flag]
        if seed is not None:
            args.sf = perturb(args.sf, flag, seed)
            print(f"# {flag} {seed} -> {args.sf}")

    import __spark_entry__ as entry

    queries = entry.queries()
    oracles = entry.oracle_sql()
    names = [n.strip() for n in args.only.split(",") if n.strip()] or list(queries)

    # Vanilla session: deliberately NO engine confs. local[32] + AQE default.
    spark = (
        SparkSession.builder.master("local[32]")
        .appName("driver_sim")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')"
        )

    # Engine versions in every artifact: cross-engine entries (regex
    # classes, window tie semantics, TRIM behavior) can diverge on a
    # version bump alone — debugging a driver-red row needs this fact.
    import pyspark

    versions = {"pyspark": pyspark.__version__, "duckdb": duckdb.__version__,
                "pandas": pd.__version__}
    print(f"# engines: {versions}")

    # versions live OUT-OF-BAND under "meta" — a pseudo-row key mixed in
    # with query rows would surface as a phantom query to any consumer
    # that iterates keys as query names (cross-round diffing scripts).
    report: dict = {"meta": {"versions": versions}, "rows": {}}
    rows: dict[str, dict] = report["rows"]
    t_all = time.time()
    for name in names:
        row: dict = {}
        t0 = time.time()
        try:
            spark_pd = queries[name](spark, args.sf).toPandas()
            row["spark_rows"] = len(spark_pd)
            sql = oracles.get(name)
            if sql is None:
                row["err"] = "no_oracle"
            else:
                oracle_pd = con.execute(sql).fetchdf()
                row["oracle_rows"] = len(oracle_pd)
                row["rows_match"] = len(spark_pd) == len(oracle_pd)
                row["schema_match"] = sorted(spark_pd.columns) == sorted(oracle_pd.columns)
                if row["rows_match"] and row["schema_match"]:
                    a, b = canon(spark_pd), canon(oracle_pd)
                    try:
                        if args.strict:
                            pd.testing.assert_frame_equal(
                                a, b, check_dtype=False, check_exact=True
                            )
                        else:
                            pd.testing.assert_frame_equal(
                                a, b, check_dtype=False, check_exact=False,
                                rtol=1e-6, atol=1e-6,
                            )
                        row["hash_match"] = True
                    except AssertionError as e:
                        row["hash_match"] = False
                        row["err"] = f"value_mismatch: {str(e)[:300]}"
                else:
                    row["hash_match"] = False
                    row["err"] = "rows_or_schema_mismatch"
        except Exception:
            row["err"] = traceback.format_exc()[-1500:]
        row["sec"] = round(time.time() - t0, 2)
        rows[name] = row
        # Release what the entry registered (persists, checkpoints,
        # tempdirs) now that its output is materialized — without this
        # they accumulate across the run.
        try:
            from alibaba_cppfeaturestore_spark.resources import release

            release()
        except Exception as exc:  # never fail the gate over cleanup
            print(f"# release failed for {name}: {exc!r}", flush=True)
        ok = row.get("hash_match")
        tag = "PASS" if ok else ("NO_ORACLE" if row.get("err") == "no_oracle" else "FAIL")
        print(f"{tag:9s} {name:45s} {row['sec']:7.2f}s", flush=True)

    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)

    n_pass = sum(1 for r in rows.values() if r.get("hash_match"))
    n_nor = sum(1 for r in rows.values() if r.get("err") == "no_oracle")
    n_fail = len(rows) - n_pass - n_nor
    print(
        f"\n== {n_pass} pass, {n_nor} no_oracle, {n_fail} FAIL of {len(rows)} "
        f"in {time.time() - t_all:.0f}s  -> {args.out}"
    )
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
