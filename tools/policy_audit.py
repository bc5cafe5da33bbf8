"""Finite-domain policy audit: where do the four hazard columns enter
the catalog, and which entries carry an explicit guard?

The extremes regime (driver_sim --perturb-extremes) seeds IEEE specials
and overflow magnitudes into EVERY double column: events.value,
orders.o_totalprice, embeddings.embedding, and — since the r09 ring-2
widening — l_extendedprice / l_quantity / l_discount / l_tax,
c_acctbal, s_acctbal, and p_retailprice. This audit scans
every catalog ORACLE (the SQL is the entry's declared semantics) and
classifies each (entry, column) consumption as:

- GUARDED   — the oracle spells the policy idiom for that column
              (isnan-guarded TRY_CAST / isfinite / list_filter-isfinite)
- RAW       — the column is consumed without a guard. These are NOT
              bugs: every one is certified green under the extremes
              seeds named in COVERAGE.md's closing certification,
              because the consumption is either a pure
              passthrough/projection (both engines surface the same
              special and the driver's NaN-equal compare accepts it) or
              arithmetic whose special-value result is IEEE-identical
              on both engines. The audit exists so the distinction is
              DECLARED, not accidental: a refactor that moves a RAW
              column into an exact domain (decimal cast, percentile,
              render, bin) must add the guard or the extremes sweep
              goes red.

Usage: python tools/policy_audit.py   (pure text scan — no Spark)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HAZARDS = {
    "o_totalprice": r"o_totalprice",
    "l_extendedprice": r"l_extendedprice",
    "events.value": r"\bvalue\b",
    "embedding": r"\bembedding\b",
    # ring 2 (r09): the remaining double columns — the extremes regime
    # now seeds specials into every one of these too
    "l_quantity": r"l_quantity",
    "l_discount": r"l_discount",
    "l_tax": r"l_tax",
    "c_acctbal": r"c_acctbal",
    "s_acctbal": r"s_acctbal",
    "p_retailprice": r"p_retailprice",
}

def _scalar_idioms(col: str) -> list[str]:
    return [
        rf"isnan\({col}\)",
        rf"TRY_CAST\({col}",
        rf"isfinite\({col}\)",
    ]


GUARD_IDIOMS = {
    "o_totalprice": _scalar_idioms("o_totalprice"),
    "l_extendedprice": _scalar_idioms("l_extendedprice"),
    "events.value": _scalar_idioms("value"),
    "embedding": [r"list_filter\(embedding,\s*x\s*->\s*x IS NULL OR NOT isfinite"],
    "l_quantity": _scalar_idioms("l_quantity"),
    "l_discount": _scalar_idioms("l_discount"),
    "l_tax": _scalar_idioms("l_tax"),
    "c_acctbal": _scalar_idioms("c_acctbal"),
    "s_acctbal": _scalar_idioms("s_acctbal"),
    "p_retailprice": _scalar_idioms("p_retailprice"),
}


# Idiom SPANS stripped from the SQL before counting leftover mentions.
# Each pattern contains exactly the column mentions the guard idiom
# itself spells, so whatever survives the strip is a mention OUTSIDE any
# guard — an alias reuse or a genuinely raw consumption (both -> MIXED
# when a guard is also present; human review decides which).
_STRIP = {
    "scalar": [
        r"isnan\(\s*{col}\s*\)",
        r"TRY_CAST\(\s*(?:TRUNC\()?\s*{col}",
        r"THEN\s+{col}\s+END",
        r"isfinite\(\s*{col}\s*\)",
        # the binned_histogram clamp — valid only directly inside the
        # isfinite CASE guard (r09): LEAST(GREATEST(col, 0), top)
        r"THEN\s+CAST\(FLOOR\(\s*LEAST\(GREATEST\(\s*{col}\s*,\s*0\s*\)",
    ],
    "embedding": [
        r"list_filter\(embedding,\s*x\s*->\s*x IS NULL OR NOT isfinite\(x\)\)",
    ],
}


def _classify(sql: str, col: str, pat: str) -> tuple[str, int, int, str]:
    """(tag, n_mentions, n_unguarded_mentions). GUARDED means EVERY
    mention of the column sits inside a guard idiom span (strip the
    spans, nothing is left); MIXED means a guard exists but extra
    mentions survive the strip (alias reuse or raw consumption — the
    refactoring hazard this audit flags); RAW means no guard at all.
    Unlike a fixed per-idiom allowance, span-stripping leaves NO slack:
    one raw consumption added to a fully-guarded oracle flips it to
    MIXED."""
    mentions = len(re.findall(pat, sql))
    guards = sum(len(re.findall(g, sql)) for g in GUARD_IDIOMS[col])
    strips = _STRIP["embedding"] if col == "embedding" else [
        s.format(col=re.escape(col) if col != "events.value" else r"value")
        for s in _STRIP["scalar"]
    ]
    stripped = sql
    for s in strips:
        stripped = re.sub(s, "", stripped)
    leftover = len(re.findall(pat, stripped))
    if guards == 0:
        return "RAW", mentions, leftover, stripped
    return ("GUARDED" if leftover == 0 else "MIXED"), mentions, leftover, stripped


# Exact-domain sinks: functions whose output leaves the IEEE double
# domain, where a special value stops being "the same bits on both
# engines" and becomes an overflow/error/format divergence. An
# UNGUARDED hazard mention inside one of these spans is the class the
# r08 verdict ordered burned down ("no raw consumption feeding a
# decimal cast, percentile, bin, or render"). Detection runs on the
# guard-STRIPPED SQL, so mentions inside a guard idiom never count.
# ROUND(x, n) is deliberately NOT a sink: it returns double and is
# IEEE-identical on specials (round(Inf)=Inf, round(NaN)=NaN on both
# engines) — it renders nothing.
_SINK_OPENERS = {
    # CAST target type is checked separately inside the span
    "decimal-or-int-cast": [r"\bCAST\s*\("],
    "percentile": [
        r"\bPERCENTILE_CONT\s*\(", r"\bPERCENTILE_DISC\s*\(",
        r"\bAPPROX_PERCENTILE\s*\(", r"\bQUANTILE_CONT\s*\(",
        r"\bQUANTILE_DISC\s*\(", r"\bMEDIAN\s*\(", r"\bNTILE\s*\(",
    ],
    "bin": [r"\bFLOOR\s*\(", r"\bCEIL\s*\(", r"\bCEILING\s*\(",
            r"\bWIDTH_BUCKET\s*\("],
    "render": [r"\bFORMAT\s*\(", r"\bPRINTF\s*\(", r"\bBAR\s*\(",
               r"\bTO_CHAR\s*\(", r"\bFORMAT_NUMBER\s*\("],
}

_EXACT_CAST_TYPES = re.compile(
    r"\bAS\s+(DECIMAL|NUMERIC|INT|INTEGER|BIGINT|SMALLINT|TINYINT|"
    r"VARCHAR|STRING|CHAR)\b", re.IGNORECASE)


def _paren_span(sql: str, open_idx: int) -> str:
    """The balanced-paren argument span starting at sql[open_idx]=='('."""
    depth = 0
    for i in range(open_idx, len(sql)):
        if sql[i] == "(":
            depth += 1
        elif sql[i] == ")":
            depth -= 1
            if depth == 0:
                return sql[open_idx : i + 1]
    return sql[open_idx:]  # unbalanced (shouldn't happen): take the rest


def exact_domain_sinks(stripped_sql: str, col_pat: str) -> list[str]:
    """Sink classes whose argument span contains an UNGUARDED mention
    of the hazard column. `stripped_sql` must already have the guard
    idiom spans removed (so TRY_CAST/isnan/isfinite/clamp mentions —
    the sanctioned paths into exact domains — never count)."""
    hits = []
    for sink, openers in _SINK_OPENERS.items():
        for op in openers:
            for m in re.finditer(op, stripped_sql, re.IGNORECASE):
                span = _paren_span(stripped_sql, m.end() - 1)
                if sink == "percentile":
                    # the ordered-set form puts the column OUTSIDE the
                    # function parens: PERCENTILE_CONT(f) WITHIN GROUP
                    # (ORDER BY col)
                    rest = stripped_sql[m.end() - 1 + len(span):]
                    wg = re.match(r"\s*WITHIN\s+GROUP\s*\(", rest,
                                  re.IGNORECASE)
                    if wg:
                        span += _paren_span(rest, wg.end() - 1)
                if not re.search(col_pat, span):
                    continue
                if sink == "decimal-or-int-cast":
                    # only exact target types count; CAST(.. AS DOUBLE)
                    # stays in the IEEE domain
                    tail = _EXACT_CAST_TYPES.search(span)
                    if not tail:
                        continue
                    # the col mention must sit BEFORE the AS <type>
                    # (a col inside a nested expression after AS is
                    # impossible in SQL, but keep the check honest)
                    if not re.search(col_pat, span[: tail.start()]):
                        continue
                if sink not in hits:
                    hits.append(sink)
    return hits


# Sink rows reviewed by hand (r09) — every one is alias/CTE reuse of an
# ALREADY-GUARDED value or a hazard-pattern false match, i.e. no raw
# hazard value actually reaches the exact domain. The audit is a text
# scan; it cannot see that a guard CTE renames the sanitized column
# back to its original name. Keeping these here (instead of weakening
# the detector) preserves the tripwire: a NEW unreviewed sink row exits
# nonzero, and a reviewed row that STOPS tripping (oracle refactored)
# must be deleted from this table or the audit also exits nonzero.
REVIEWED_SINKS = {
    ("feature_quantile_bins", "events.value"):
        "quantile_cont consumes the guard CTE's sanitized output "
        "(END AS value alias-reuse); out-of-domain readings are NULL "
        "before the fit",
    ("feature_impute_missing", "events.value"):
        "same guard-CTE alias-reuse; the median fit and the imputed "
        "output only ever see sanitized values",
    ("dict_encode_event_type", "events.value"):
        "'value' is event_type (a STRING) aliased in the counts CTE — "
        "the \\bvalue\\b hazard pattern false-matches; no double is "
        "consumed at all",
    ("hybrid_rrf_retrieval", "embedding"):
        "embedding mentions read the ef finite-filtered CTE; the "
        "flagged CAST .. AS BIGINT casts ROW_NUMBER (exact by "
        "construction), with the vector merely inside its ORDER BY",
    ("timeseries_twap_user", "events.value"):
        "the r09 order-totality tie-break put value inside the LEAD "
        "window's ORDER BY, which nests inside the CAST .. AS "
        "DECIMAL(19,0) span (duration width r12) — but that cast "
        "targets the microsecond DIFFERENCE; value itself enters "
        "decimal only via the guarded finite_decimal_sql CASE (stripped "
        "before detection)",
}


# --- DECIMAL→DOUBLE conversion-route audit (r12 decimal-edge class) --
# DuckDB's direct DECIMAL→DOUBLE cast is double-rounded (int128→double
# then ÷10^scale) — 1 ulp off Spark's correctly-rounded
# BigDecimal.doubleValue once the scaled operand passes 2^53. The
# sanctioned spellings are the VARCHAR route (strtod is correctly
# rounded) or a ROUND(·,2) rail (the published scale bounds the scaled
# magnitude at driver sf). Every remaining DIRECT site must be reviewed
# here — a new unreviewed site (or a stale review row) exits nonzero.
# Detection is inline-textual (the cast's own span must contain the
# DECIMAL ingestion or a SUM); alias-carried decimals are covered by
# the fuzz campaigns, not this scan.
REVIEWED_DEC2DBL = {
    # TPC-H revenue/ratio sums: natural price-domain magnitudes (~1e9
    # total at scale 4-6 at driver sf — scaled units well inside 2^53).
    # The decimal-edge fuzz domain deliberately never plants boundary
    # magnitudes into the price columns (declared-RAW physics pin), so
    # these conversions stay exact everywhere a campaign reaches.
    # VARCHAR-route on first contact with a fuzz domain that feeds them.
    "q14_promo_revenue_share": "natural price-domain sums, 2 sites",
    "q8_market_share": "natural price-domain sums, 2 sites",
    "q11_important_part_values": "natural price-domain sum",
    "q17_small_quantity_revenue": "natural qty/price sums, 2 sites",
    "q22_dormant_high_balance": "natural acctbal-domain sum",
    "agg_ratio_to_report": "natural price-domain windowed sum",
    # events.value consumers whose sums the decimal-edge mode DOES
    # reach, but whose magnitudes stay convertible: d0/d1/nrm are
    # per-component embedding stats (float32 domain, sums ≪ 2^47);
    # target encoding and the occupancy audit sum counts/(18,6) over
    # groups small enough that every campaign seed stayed green.
    "embedding_stats_by_label": "float32-component sums, 3 sites",
    "feature_target_encoding": "per-category sums, campaign-green",
    "ann_index_occupancy_audit": "cell-count sums (integers)",
}


def dec2dbl_rows():
    """(entry, class, n_sites) for every oracle CAST(… AS DOUBLE) whose
    span contains a DECIMAL ingestion or SUM: class ∈ varchar-routed /
    round-rail / DIRECT."""
    from alibaba_cppfeaturestore_spark.plans.catalog import QUERIES

    out = []
    for name, qd in QUERIES.items():
        sql = qd.oracle
        if not sql:
            continue
        counts = {"varchar-routed": 0, "round-rail": 0, "DIRECT": 0}
        for m in re.finditer(r"\bCAST\s*\(", sql):
            span = _paren_span(sql, m.end() - 1)
            if not re.search(r"AS\s+DOUBLE\s*\)\s*$", span):
                continue
            # the VARCHAR-route signature is itself the evidence — the
            # routed operand is usually an alias, carrying no inline
            # DECIMAL/SUM text
            if "AS VARCHAR" in span:
                counts["varchar-routed"] += 1
                continue
            if "DECIMAL" not in span and not re.search(r"\bSUM\s*\(", span):
                continue
            if re.search(r"\bROUND\s*\(", span):
                counts["round-rail"] += 1
            else:
                counts["DIRECT"] += 1
        for cls, n in counts.items():
            if n:
                out.append((name, cls, n))
    return out


def audit_rows():
    """All (entry, column) classification rows, for main() and tests."""
    from alibaba_cppfeaturestore_spark.plans.catalog import QUERIES

    rows = []
    for name, qd in QUERIES.items():
        sql = qd.oracle
        if not sql:
            continue
        for col, pat in HAZARDS.items():
            if col == "events.value" and "FROM events" not in sql and "events " not in sql:
                continue
            if not re.search(pat, sql):
                continue
            tag, mentions, leftover, stripped = _classify(sql, col, pat)
            sinks = exact_domain_sinks(stripped, pat) if leftover else []
            rows.append((name, col, tag, mentions, leftover, sinks))
    return rows


def main() -> None:
    rows = audit_rows()
    counts = {"GUARDED": 0, "RAW": 0, "MIXED": 0}
    for _, _, tag, _, _, _ in rows:
        counts[tag] += 1

    print("| entry | hazard column | policy | mentions | outside guards | exact-domain sinks |")
    print("|---|---|---|---|---|---|")
    sink_rows = []
    for name, col, tag, mentions, leftover, sinks in rows:
        print(f"| {name} | {col} | {tag} | {mentions} | {leftover} | {','.join(sinks) or '-'} |")
        if sinks:
            sink_rows.append((name, col, sinks))
    total = sum(counts.values())
    print(
        f"\n# {total} (entry, column) consumptions: "
        f"{counts['GUARDED']} guarded (every mention inside a guard idiom), "
        f"{counts['MIXED']} mixed (guard present + mentions outside it — "
        f"alias reuse or raw; review each), {counts['RAW']} raw "
        "(raw/mixed-extra = passthrough/IEEE-identical, certified by "
        "the extremes seeds in COVERAGE.md's closing certification)"
    )
    unreviewed = [(n, c, s) for n, c, s in sink_rows
                  if (n, c) not in REVIEWED_SINKS]
    stale = [key for key in REVIEWED_SINKS
             if key not in {(n, c) for n, c, _ in sink_rows}]
    print(
        f"# textual sink hits: {len(sink_rows)} "
        f"({len(sink_rows) - len(unreviewed)} reviewed alias-reuse/"
        f"false-match, {len(unreviewed)} UNREVIEWED)"
    )
    for name, col, sinks in sink_rows:
        if (name, col) in REVIEWED_SINKS:
            print(f"#   reviewed: {name} / {col} -> {','.join(sinks)}: "
                  f"{REVIEWED_SINKS[(name, col)]}")
    for name, col, sinks in unreviewed:
        print(f"#   BURN DOWN (unreviewed): {name} / {col} -> {','.join(sinks)}")
    for key in stale:
        print(f"#   STALE review row (no longer trips — delete it): {key}")

    d2d = dec2dbl_rows()
    n_routed = sum(n for _, c, n in d2d if c == "varchar-routed")
    n_rail = sum(n for _, c, n in d2d if c == "round-rail")
    direct = [(name, n) for name, c, n in d2d if c == "DIRECT"]
    print(
        f"# decimal->double conversion routes: {n_routed} varchar-routed, "
        f"{n_rail} round-rail, {sum(n for _, n in direct)} direct "
        f"across {len(direct)} entries"
    )
    d2d_unreviewed = [name for name, _ in direct if name not in REVIEWED_DEC2DBL]
    d2d_stale = [k for k in REVIEWED_DEC2DBL if k not in {n for n, _ in direct}]
    for name in d2d_unreviewed:
        print(f"#   BURN DOWN (unreviewed direct decimal->double): {name}")
    for name in d2d_stale:
        print(f"#   STALE dec2dbl review row (no longer trips — delete it): {name}")

    if unreviewed or stale or d2d_unreviewed or d2d_stale:
        sys.exit(1)


if __name__ == "__main__":
    main()
