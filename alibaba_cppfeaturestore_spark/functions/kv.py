"""Ali-CCP key-value feature-list parsing — native column expressions.

The reference parses ``feat_list`` strings of the form

    field_id \\x02 feat_id \\x03 feat_val [\\x01 field_id \\x02 feat_id \\x03 feat_val]...

with a row-at-a-time Python UDF + NumPy stride tricks
(``data_processing/batch_processing/batch_process_Bronze_to_Silver.py:69-84``),
keeping token positions 0 (field_id) and 1 (feat_id) of each triplet and
dropping feat_val. That UDF crosses the JVM→Python boundary per row; here the
same semantics are pure Catalyst expressions (split + lambda filter +
map_from_arrays) that stay inside whole-stage codegen — no Python worker.

Merge semantics (``merge_feature_maps``) replicate Python ``dict.update``:
the *right-most* map wins on key collisions (reference ``:80-82`` — common
features override skeleton features). Conf-independent: works under any
``spark.sql.mapKeyDedupPolicy`` (duplicates are filtered before concat).

``KV_PARSE_SQL``, ``kv_get_sql`` and ``kv_int_sql`` replay the parse in
DuckDB for the oracles, built from the same regexes.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Control-byte separators of the Ali-CCP encoding (reference :70-73).
KV_SPLIT_REGEX = "[\x01\x02\x03]"
# The same class as DuckDB text: chr() keeps the control bytes out of SQL.
KV_SPLIT_SQL = "'[' || " + " || ".join(f"chr({ord(c)})" for c in KV_SPLIT_REGEX[1:-1]) + " || ']'"


def parse_kv_triplets(feat_list: Column | str) -> Column:
    """Parse an Ali-CCP feat_list string into ``map<string,string>``.

    Equivalent to the reference's ``process_csv_line`` UDF
    (``batch_process_Bronze_to_Silver.py:69-73``): splits on the three
    control bytes, then takes every (3i)-th token as key (field_id) and
    every (3i+1)-th token as value (feat_id); feat_val (3i+2) is dropped.

    Pure column expression — JVM-side, codegen-friendly, no Python UDF.
    """
    from .text import _let

    col = F.col(feat_list) if isinstance(feat_list, str) else feat_list
    toks = F.split(col, KV_SPLIT_REGEX)
    keys = F.filter(toks, lambda _, i: i % 3 == 0)
    vals = F.filter(toks, lambda _, i: i % 3 == 1)
    # Malformed/empty input yields ragged key/value arrays (split("") is
    # [""], so keys=[""] but vals=[]); keep only complete triplets so
    # map_from_arrays never sees mismatched lengths.
    n = F.least(F.size(keys), F.size(vals))

    # Duplicate field_ids: keep the LAST occurrence — the reference
    # builds a dict from the token stride, so a later assignment to the
    # same field wins (``batch_process_Bronze_to_Silver.py:69-73``).
    # Dedup BEFORE map_from_arrays makes this conf-independent: under
    # the default ``spark.sql.mapKeyDedupPolicy=EXCEPTION`` a duplicate
    # key is DUPLICATED_MAP_KEY, under LAST_WIN it happens to match —
    # the parser must not inherit a session accident (r12 --perturb-kv
    # campaign: a data-driven fragment can repeat a planted field_id).
    # _let-bound: the filter predicates index into the full key array
    # per element; unbound, the split would re-run per comparison.
    def _build(ks: Column, vs: Column) -> Column:
        keep = lambda i: ~F.array_contains(  # noqa: E731 — last occurrence
            F.slice(ks, i + 2, F.greatest(F.size(ks) - i - 1, F.lit(0))),
            F.element_at(ks, i + 1),
        )
        return F.map_from_arrays(
            F.filter(ks, lambda _, i: keep(i)),
            F.filter(vs, lambda _, i: keep(i)),
        )

    return _let(
        F.slice(keys, 1, n), lambda ks: _let(F.slice(vals, 1, n), lambda vs: _build(ks, vs))
    )


# DuckDB twin of ``parse_kv_triplets``' framing, as the columns of a parse
# CTE over a string column ``s``: split on the control bytes, key and
# value strides, truncation to complete pairs. ``kv_get_sql`` reads it.
KV_PARSE_SQL = f"""
         string_split_regex(s, {KV_SPLIT_SQL}) AS toks,
         list_filter(toks, (x, i) -> (i-1) % 3 = 0) AS ks,
         list_filter(toks, (x, i) -> (i-1) % 3 = 1) AS vs,
         least(len(ks), len(vs)) AS n"""


def kv_get_sql(key: str) -> str:
    """The parsed map's value for ``key`` over ``KV_PARSE_SQL``'s (ks, vs,
    n): the last occurrence of a field_id wins, as in the map."""
    return (
        "vs[list_max(list_transform(generate_series(1, n), "
        f"j -> CASE WHEN ks[j] = '{key}' THEN j END))]"
    )


# Strict integral-format gate: optional sign, digits, nothing else.
# Shared Java∩RE2 subset (no lookaround, no unicode classes) so both
# engines' regex semantics coincide — the text_pii_redact discipline.
# \A/\z anchors, NOT ^/$ (r12 advice): Java's Matcher lets '$' match
# before a FINAL line terminator, so '7\n' passed the gate in Spark
# while RE2's '$' (end-of-text) rejected it in DuckDB — a silent
# engine divergence on exactly the malformed-producer class the gate
# exists for. \A and \z mean end-of-text in BOTH engines.
KV_INT_REGEX = r"\A[+-]?[0-9]+\z"


def kv_int(value: Column) -> Column:
    """The kv-domain integer-ingestion policy: a parsed feature value is
    an int iff it is a strict integral-format string (``\\A[+-]?[0-9]+\\z``
    — no whitespace, no trailing newline, no decimal point, no scientific
    notation, no hex); anything else, including overflow past int32, is
    NULL.

    Why a regexp gate and not a bare cast (r12 ``--perturb-kv`` find):
    a data-driven feat value reaches this cast unvalidated, and the
    engines' native string→int casts disagree on exactly the malformed
    forms a broken producer emits — Spark's ANSI cast THROWS on
    ``'12.5'`` (``try_cast`` → NULL) while DuckDB rounds it to 13, and
    DuckDB also accepts ``'1e3'`` and ``'0x1A'``. The gate pins one
    engine-free answer: malformed → NULL (the reference's wide
    projection ran under Spark-2 non-ANSI cast semantics — NULL on bad
    input — so this also matches reference behavior,
    ``batch_process_Bronze_to_Silver.py:206-300``). Its DuckDB twin is
    ``kv_int_sql``."""
    return F.when(F.regexp_like(value, F.lit(KV_INT_REGEX)), value.try_cast("int"))


def kv_int_sql(v: str) -> str:
    return f"(CASE WHEN regexp_matches({v}, '{KV_INT_REGEX}') THEN TRY_CAST({v} AS INTEGER) END)"


def merge_feature_maps(*maps: Column) -> Column:
    """Merge feature maps, last-wins on duplicate keys (dict.update order).

    Reference semantics: ``feat_dict.update(value_dict)`` lets the common
    feature map override the skeleton map
    (``batch_process_Bronze_to_Silver.py:80-82``). Pass maps in increasing
    priority order. NULL maps are treated as empty so a LEFT-join miss on
    the common side does not null out the whole merged map.

    Session-conf-independent: duplicate keys are removed from the
    lower-priority side *before* ``map_concat``, so the merge works under any
    SparkSession regardless of ``spark.sql.mapKeyDedupPolicy`` (the default
    EXCEPTION policy throws DUPLICATED_MAP_KEY when map_concat sees a key
    twice).
    """
    safe = [
        F.coalesce(m, F.from_json(F.lit("{}"), "map<string,string>")) for m in maps
    ]
    merged = safe[0]
    for nxt in safe[1:]:
        # Keys present in the higher-priority map shadow the accumulator, so
        # map_concat never sees a duplicate key under any dedup policy.
        merged = F.map_concat(
            F.map_filter(merged, lambda k, _v: ~F.map_contains_key(nxt, k)),
            nxt,
        )
    return merged


def labels_map(click: Column, conversion: Column) -> Column:
    """Build the ``{"click": c, "conversion": v}`` label map injected by the
    reference's skeleton UDF (``batch_process_Bronze_to_Silver.py:82-84``)."""
    return F.create_map(
        F.lit("click"), click.cast("string"), F.lit("conversion"), conversion.cast("string")
    )
