"""The perturbation fuzzers themselves are load-bearing test
infrastructure: a fuzzer that silently stops mutating a column turns
every downstream "certified under extremes" claim vacuous (the r08
bench-detector lesson, applied to the data side). These tests pin the
r09 widened extremes regime — EVERY double column seeded — the other
modes' own contracts, and the copy contract every mode in
``driver_sim.MODES`` shares, with pure pyarrow, no Spark session."""

from __future__ import annotations

import math
import os
import sys

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

import driver_sim  # noqa: E402

SF = "/root/testdata/sf0.001"

RING = {
    "events": ["value"],
    "orders": ["o_totalprice"],
    "lineitem": ["l_extendedprice", "l_quantity", "l_discount", "l_tax"],
    "customer": ["c_acctbal"],
    "supplier": ["s_acctbal"],
    "part": ["p_retailprice"],
}


def _specials(vals):
    n_nan = sum(1 for v in vals if v is not None and isinstance(v, float) and math.isnan(v))
    n_inf = sum(1 for v in vals if v is not None and isinstance(v, float) and math.isinf(v))
    n_big = sum(
        1
        for v in vals
        if v is not None and isinstance(v, float) and math.isfinite(v) and abs(v) >= 1e299
    )
    return n_nan, n_inf, n_big


def test_extremes_seeds_every_double_column():
    from driver_sim import perturb

    out = perturb(SF, "--perturb-extremes", 97)
    for table, cols in RING.items():
        tbl = pq.read_table(os.path.join(out, f"{table}.parquet"))
        for col in cols:
            vals = tbl.column(col).to_pylist()
            n_nan, n_inf, n_big = _specials(vals)
            n_hit = n_nan + n_inf + n_big
            # ~5% hit rate, all three special classes present on any
            # column with enough rows to make that statistically certain
            assert n_hit > 0, f"{table}.{col}: no specials seeded"
            if len(vals) >= 400:
                assert n_nan and n_inf and n_big, (
                    f"{table}.{col}: special mix incomplete "
                    f"(nan={n_nan}, inf={n_inf}, big={n_big})"
                )
                frac = n_hit / len(vals)
                assert 0.02 < frac < 0.10, f"{table}.{col}: hit rate {frac:.3f}"

    # embeddings: ~5% of vectors carry one non-finite or ±3e38 component
    emb = pq.read_table(os.path.join(out, "embeddings.parquet")).column("embedding").to_pylist()
    n_bad = sum(
        1
        for v in emb
        if v and any(x is not None and (math.isnan(x) or math.isinf(x) or abs(x) >= 3e38) for x in v)
    )
    assert n_bad > 0 and 0.01 < n_bad / max(len(emb), 1) < 0.12

    # different columns get DIFFERENT hit rows (the r09 key-shape point:
    # per-column keys, not per-table) — on lineitem the four columns'
    # hit sets must not coincide
    li = pq.read_table(os.path.join(out, "lineitem.parquet"))
    hitsets = {}
    for col in RING["lineitem"]:
        vals = li.column(col).to_pylist()
        hitsets[col] = {
            i
            for i, v in enumerate(vals)
            if v is not None and (math.isnan(v) or math.isinf(v) or abs(v) >= 1e299)
        }
    sets = list(hitsets.values())
    assert any(sets[0] != s for s in sets[1:]), "per-column hit keys collapsed to per-table"


def test_extremes_leaves_non_target_columns_intact():
    from driver_sim import perturb

    out = perturb(SF, "--perturb-extremes", 97)
    for table, key in [("orders", "o_orderkey"), ("lineitem", "l_orderkey"), ("customer", "c_custkey")]:
        before = pq.read_table(os.path.join(SF, f"{table}.parquet")).column(key).to_pylist()
        after = pq.read_table(os.path.join(out, f"{table}.parquet")).column(key).to_pylist()
        assert before == after, f"{table}.{key} mutated by the extremes fuzzer"


def test_ids_fuzzer_duplicates_every_custom_table_key():
    """The r09-widened ids regime: duplicate ids planted in ALL THREE
    custom tables' keys — documents.doc_id, embeddings.vec_id, and (new)
    events.event_id, the tie-break column in most window entries. A
    fuzzer that silently stops mutating a key column would make every
    "green under --perturb-ids" claim vacuous."""
    import driver_sim as DS

    out = DS.perturb(SF, "--perturb-ids", seed=9001)
    for table, col in (
        ("documents", "doc_id"),
        ("embeddings", "vec_id"),
        ("events", "event_id"),
    ):
        tbl = pq.read_table(f"{out}/{table}.parquet")
        vals = [v for v in tbl.column(col).to_pylist() if v is not None]
        n_dups = len(vals) - len(set(vals))
        assert n_dups > 0, f"{table}.{col}: fuzzer planted no duplicate ids"
        # only ids move; row count and the other columns stay intact
        src = pq.read_table(f"{SF}/{table}.parquet")
        assert tbl.num_rows == src.num_rows
        other = [f.name for f in src.schema if f.name != col][0]
        assert tbl.column(other).to_pylist() == src.column(other).to_pylist()


def test_tpch_ids_fuzzer_duplicates_and_nulls_every_join_key():
    """r10 regime (r09 verdict item 4): the TPC-H join keys — the columns
    every q3/q5/q7/q9-family join, window tie-break, and txlog MERGE
    key on — get duplicate AND NULL values planted. Contract: every
    target key column gains duplicates and NULLs, nothing else moves,
    and the custom tables pass through byte-identical (this mode
    composes with --perturb-ids, which owns those)."""
    import driver_sim as DS

    out = DS.perturb(SF, "--perturb-tpch-ids", seed=9001)
    for table, col in (
        ("orders", "o_orderkey"),
        ("lineitem", "l_orderkey"),
        ("customer", "c_custkey"),
        ("supplier", "s_suppkey"),
        ("part", "p_partkey"),
    ):
        tbl = pq.read_table(f"{out}/{table}.parquet")
        src = pq.read_table(f"{SF}/{table}.parquet")
        before = src.column(col).to_pylist()
        after = tbl.column(col).to_pylist()
        n_null = sum(1 for v in after if v is None)
        assert n_null > 0, f"{table}.{col}: fuzzer planted no NULL keys"
        # duplicates BEYOND what the source already carries (l_orderkey
        # legitimately repeats across a multi-line order)
        vals = [v for v in after if v is not None]
        src_vals = [v for v in before if v is not None]
        extra_dups = (len(vals) - len(set(vals))) - (len(src_vals) - len(set(src_vals)))
        assert extra_dups + n_null > 0 and vals != src_vals[: len(vals)], (
            f"{table}.{col}: fuzzer planted no duplicate keys"
        )
        if len(after) >= 400:
            n_mut = sum(1 for a, b in zip(after, before) if a != b)
            assert 0.02 < n_mut / len(after) < 0.12, f"{table}.{col}: mutation rate off"
        # only the key column moves
        assert tbl.num_rows == src.num_rows
        other = [f.name for f in src.schema if f.name != col][0]
        assert tbl.column(other).to_pylist() == src.column(other).to_pylist()
    # custom tables byte-identical
    for t in ("documents", "embeddings", "events"):
        a = pq.read_table(f"{out}/{t}.parquet")
        b = pq.read_table(f"{SF}/{t}.parquet")
        assert a.equals(b), f"{t} mutated by the tpch-ids fuzzer"


def test_fk_ids_fuzzer_nulls_and_orphans_every_fk():
    """r10 FK regime: NULLs in every FK column, plus orphan values
    (re-pointed at guaranteed-absent parents) in the TPC-H FKs.
    Contract: every target column gains NULLs; TPC-H FKs gain negative
    orphans absent from the parent; PK columns and other tables stay
    byte-identical (composes with --perturb-tpch-ids, which owns PKs)."""
    import driver_sim as DS

    out = DS.perturb(SF, "--perturb-fk-ids", seed=9001)
    targets = {
        "orders": ["o_custkey"],
        "lineitem": ["l_suppkey", "l_partkey"],
        "events": ["user_id"],
    }
    parents = {
        "o_custkey": ("customer", "c_custkey"),
        "l_suppkey": ("supplier", "s_suppkey"),
        "l_partkey": ("part", "p_partkey"),
    }
    for t, cols in targets.items():
        tbl = pq.read_table(f"{out}/{t}.parquet")
        src = pq.read_table(f"{SF}/{t}.parquet")
        assert tbl.num_rows == src.num_rows
        for col in cols:
            after = tbl.column(col).to_pylist()
            assert any(v is None for v in after), f"{t}.{col}: no NULL FKs"
            if col in parents:
                orphans = [v for v in after if v is not None and v < 0]
                assert orphans, f"{t}.{col}: no orphan FKs"
                ptab, pcol = parents[col]
                pvals = set(pq.read_table(f"{out}/{ptab}.parquet").column(pcol).to_pylist())
                assert not (set(orphans) & pvals), f"{t}.{col}: orphan present in parent"
        # non-target columns untouched
        other = [f.name for f in src.schema if f.name not in cols][0]
        assert tbl.column(other).to_pylist() == src.column(other).to_pylist()
    for t in ("customer", "supplier", "part", "documents", "embeddings"):
        assert pq.read_table(f"{out}/{t}.parquet").equals(
            pq.read_table(f"{SF}/{t}.parquet")
        ), f"{t} mutated by the fk-ids fuzzer"


def test_dim_ids_fuzzer_degrades_the_nation_region_chain():
    """r10 dim-key regime: nation/region PKs gain duplicates AND NULLs
    (forced floor — the tables are tiny), the c_nationkey/s_nationkey
    FKs gain NULLs; everything else byte-identical."""
    import driver_sim as DS

    out = DS.perturb(SF, "--perturb-dim-ids", seed=9001)
    for t, col, want_dups in (
        ("nation", "n_nationkey", True),
        ("region", "r_regionkey", True),
        ("customer", "c_nationkey", False),
        ("supplier", "s_nationkey", False),
    ):
        after = pq.read_table(f"{out}/{t}.parquet").column(col).to_pylist()
        before = pq.read_table(f"{SF}/{t}.parquet").column(col).to_pylist()
        assert len(after) == len(before)
        if want_dups:
            assert any(v is None for v in after), f"{t}.{col}: no NULLs"
            vals = [v for v in after if v is not None]
            assert len(vals) > len(set(vals)) or sorted(vals) != sorted(
                v for v in before if v is not None
            ), f"{t}.{col}: no duplicates planted"
        elif len(before) >= 400:
            assert any(v is None for v in after), f"{t}.{col}: no NULLs"
    for t in ("orders", "lineitem", "part", "documents", "embeddings", "events"):
        assert pq.read_table(f"{out}/{t}.parquet").equals(
            pq.read_table(f"{SF}/{t}.parquet")
        ), f"{t} mutated by the dim-ids fuzzer"


def test_ts_nulls_fuzzer_degrades_the_event_time_spine():
    """r11 regime (r10 verdict item 4): events.ts — the column the
    whole asof/session/watermark/cadence family keys on — gains NULLs,
    epoch-0 floors, and far-future (2200-01-01) extremes. Contract:
    all three degradations present at ~2% each, only events.ts moves,
    every other table passes through byte-identical."""
    import datetime

    import driver_sim as DS

    out = DS.perturb(SF, "--perturb-ts-nulls", seed=9001)
    src = pq.read_table(f"{SF}/events.parquet")
    tbl = pq.read_table(f"{out}/events.parquet")
    before = src.column("ts").to_pylist()
    after = tbl.column("ts").to_pylist()
    assert len(after) == len(before) and tbl.num_rows == src.num_rows
    n_null = sum(1 for v in after if v is None) - sum(1 for v in before if v is None)
    n_epoch = sum(
        1 for v in after if v is not None and v.replace(tzinfo=None) == datetime.datetime(1970, 1, 1)
    )
    n_far = sum(
        1 for v in after if v is not None and v.replace(tzinfo=None) == datetime.datetime(2200, 1, 1)
    )
    assert n_null > 0, "fuzzer planted no NULL event times"
    assert n_epoch > 0, "fuzzer planted no epoch-0 extremes"
    assert n_far > 0, "fuzzer planted no far-future extremes"
    if len(after) >= 400:
        rate = (n_null + n_epoch + n_far) / len(after)
        assert 0.02 < rate < 0.12, f"mutation rate off: {rate}"
    # only ts moves; every other column and table is untouched
    for f in src.schema:
        if f.name != "ts":
            assert tbl.column(f.name).to_pylist() == src.column(f.name).to_pylist()
    for t in ("orders", "lineitem", "part", "customer", "supplier",
              "nation", "region", "documents", "embeddings"):
        assert pq.read_table(f"{out}/{t}.parquet").equals(
            pq.read_table(f"{SF}/{t}.parquet")
        ), f"{t} mutated by the ts-nulls fuzzer"


def test_date_nulls_fuzzer_degrades_the_tpch_date_spine():
    """r11: the relational date spine (o_orderdate, l_shipdate) gains
    NULLs, epoch-0 floors, and far-future extremes at ~2% each; only
    the two date columns move, every other table byte-identical."""
    import datetime

    import driver_sim as DS

    out = DS.perturb(SF, "--perturb-date-nulls", seed=9001)
    for table, col in (("orders", "o_orderdate"), ("lineitem", "l_shipdate")):
        src = pq.read_table(f"{SF}/{table}.parquet")
        tbl = pq.read_table(f"{out}/{table}.parquet")
        before = src.column(col).to_pylist()
        after = tbl.column(col).to_pylist()
        assert len(after) == len(before)
        n_null = sum(1 for v in after if v is None) - sum(1 for v in before if v is None)
        n_epoch = sum(
            1 for v in after
            if v is not None and v.replace(tzinfo=None) == datetime.datetime(1970, 1, 1)
        )
        n_far = sum(
            1 for v in after
            if v is not None and v.replace(tzinfo=None) == datetime.datetime(2200, 1, 1)
        )
        assert n_null > 0 and n_epoch > 0 and n_far > 0, f"{table}.{col}: degradations missing"
        if len(after) >= 400:
            rate = (n_null + n_epoch + n_far) / len(after)
            assert 0.02 < rate < 0.12, f"{table}.{col}: mutation rate off: {rate}"
        for f in src.schema:
            if f.name != col:
                assert tbl.column(f.name).to_pylist() == src.column(f.name).to_pylist()
    for t in ("customer", "supplier", "nation", "region", "part",
              "documents", "embeddings", "events"):
        assert pq.read_table(f"{out}/{t}.parquet").equals(
            pq.read_table(f"{SF}/{t}.parquet")
        ), f"{t} mutated by the date-nulls fuzzer"


def test_props_json_fuzzer_malfomed_variants_present():
    """r11: ~5% of events.props becomes malformed / type-shifted JSON —
    truncated objects, bare text, empty, wrong-typed/overflowing k.
    Only props moves; every other column and table byte-identical."""
    import driver_sim as DS

    out = DS.perturb(SF, "--perturb-props-json", seed=9001)
    src = pq.read_table(f"{SF}/events.parquet")
    tbl = pq.read_table(f"{out}/events.parquet")
    before = src.column("props").to_pylist()
    after = tbl.column("props").to_pylist()
    changed = [a for a, b in zip(after, before) if a != b]
    assert changed, "fuzzer planted nothing"
    assert any(a in ('not json', '{"k":', '', '[1, 2', '   ') for a in changed), (
        "no malformed variant planted"
    )
    assert any(a == '{"k": "x"}' for a in changed), "no type-shifted k planted"
    if len(after) >= 400:
        rate = len(changed) / len(after)
        assert 0.02 < rate < 0.10, f"mutation rate off: {rate}"
    for f in src.schema:
        if f.name != "props":
            assert tbl.column(f.name).to_pylist() == src.column(f.name).to_pylist()
    for t in ("orders", "lineitem", "part", "customer", "supplier",
              "nation", "region", "documents", "embeddings"):
        assert pq.read_table(f"{out}/{t}.parquet").equals(
            pq.read_table(f"{SF}/{t}.parquet")
        ), f"{t} mutated by the props-json fuzzer"


def test_neg_ids_fuzzer_negates_every_target_key():
    """r11: ~3% of each integer id column flips sign; everything else
    byte-identical (signed-id regime — modulo sign, ordering
    boundaries, synthetic-id collisions)."""
    import driver_sim as DS

    out = DS.perturb(SF, "--perturb-neg-ids", seed=9001)
    targets = {
        "documents": ["doc_id"], "embeddings": ["vec_id"],
        "events": ["event_id", "user_id"],
        "orders": ["o_orderkey", "o_custkey"],
        "lineitem": ["l_orderkey"], "customer": ["c_custkey"],
    }
    for t, cols in targets.items():
        src = pq.read_table(f"{SF}/{t}.parquet")
        tbl = pq.read_table(f"{out}/{t}.parquet")
        for col in cols:
            before = src.column(col).to_pylist()
            after = tbl.column(col).to_pylist()
            flipped = [
                (a, b) for a, b in zip(after, before)
                if a is not None and b is not None and a != b
            ]
            assert flipped, f"{t}.{col}: nothing negated"
            assert all(a == -b for a, b in flipped), f"{t}.{col}: non-negation mutation"
            if len(after) >= 400:
                rate = len(flipped) / len(after)
                assert 0.005 < rate < 0.08, f"{t}.{col}: rate off: {rate}"
        for f in src.schema:
            if f.name not in cols:
                assert tbl.column(f.name).to_pylist() == src.column(f.name).to_pylist()
    for t in ("supplier", "nation", "region", "part"):
        assert pq.read_table(f"{out}/{t}.parquet").equals(
            pq.read_table(f"{SF}/{t}.parquet")
        ), f"{t} mutated by the neg-ids fuzzer"


def test_kv_fuzzer_plants_adversarial_fragments():
    """r12: ~10% of orders.o_orderpriority and customer.c_name becomes an
    adversarial Ali-CCP kv fragment — duplicate field_ids, ragged
    triplets, frame-shifting lone separators, malformed int values.
    Only the two carrier columns move; everything else byte-identical."""
    import driver_sim as DS

    out = DS.perturb(SF, "--perturb-kv", seed=9001)
    for table, col in (("orders", "o_orderpriority"), ("customer", "c_name")):
        src = pq.read_table(f"{SF}/{table}.parquet")
        tbl = pq.read_table(f"{out}/{table}.parquet")
        before = src.column(col).to_pylist()
        after = tbl.column(col).to_pylist()
        changed = [a for a, b in zip(after, before) if a != b]
        assert changed, f"fuzzer planted nothing in {table}.{col}"
        # every planted value is from the documented fragment list
        assert set(changed) <= set(DS.KV_FRAGMENTS), f"alien fragment in {table}"
        # the campaign's three find classes are all represented
        assert any("\x01" in a for a in changed), "no frame-shift fragment"
        assert any(a.startswith("101\x02") for a in changed), "no duplicate-field plant"
        assert any(a in ("205\x02notanint\x031.0", "205\x0212.5\x031.0",
                         "101\x021e3\x031.0") for a in changed), "no malformed int"
        if len(after) >= 400:
            rate = len(changed) / len(after)
            assert 0.05 < rate < 0.18, f"mutation rate off for {table}: {rate}"
        for f in src.schema:
            if f.name != col:
                assert tbl.column(f.name).to_pylist() == src.column(f.name).to_pylist()
    for t in ("lineitem", "part", "supplier", "nation", "region",
              "events", "documents", "embeddings"):
        assert pq.read_table(f"{out}/{t}.parquet").equals(
            pq.read_table(f"{SF}/{t}.parquet")
        ), f"{t} mutated by the kv fuzzer"


def test_decimal_edge_fuzzer_seeds_boundary_values():
    """r12: ~5% of events.value becomes a declared-width
    boundary value — all exactly-representable doubles (the mode must
    stress the catalog's decimal domains, not the engines' legitimate
    shortest-repr-vs-binary conversion gap above 2^33)."""
    import driver_sim as DS

    # domain sanity: every edge survives a float round-trip bit-exactly
    # and its decimal repr has <= 6 fractional digits
    for v in DS.DECIMAL_EDGES:
        assert v == float(repr(v))
        frac = repr(float(v)).split(".")[-1] if "." in repr(float(v)) else ""
        assert "e" in repr(v) or len(frac) <= 6, repr(v)

    # oracle-exact conversion domain: every in-domain magnitude keeps
    # v*1e6 inside 2^53 (DuckDB converts double->decimal by multiplying
    # in double); the exact powers of 10 probe the overflow boundary
    for v in DS.DECIMAL_EDGES:
        assert abs(v) * 1e6 < 2**53 or v in (1e12, -1e12, 1e14), repr(v)

    out = DS.perturb(SF, "--perturb-decimal-edge", seed=9001)
    src = pq.read_table(f"{SF}/events.parquet")
    tbl = pq.read_table(f"{out}/events.parquet")
    before = src.column("value").to_pylist()
    after = tbl.column("value").to_pylist()
    changed = [a for a, b in zip(after, before) if a != b]
    assert changed, "fuzzer planted nothing"
    assert set(changed) <= set(DS.DECIMAL_EDGES), "alien value planted"
    if len(after) >= 400:
        rate = len(changed) / len(after)
        assert 0.02 < rate < 0.10, f"mutation rate off: {rate}"
    for f in src.schema:
        if f.name != "value":
            assert tbl.column(f.name).to_pylist() == src.column(f.name).to_pylist()
    # only events.value moves: the TPC-H price columns feed DECLARED-RAW
    # double sums where finite cancelling magnitudes cannot be made
    # engine-equal (see driver_sim._decimal_edges' domain pins)
    for t in ("orders", "lineitem", "customer", "supplier", "part",
              "documents", "embeddings", "nation", "region"):
        assert pq.read_table(f"{out}/{t}.parquet").equals(
            pq.read_table(f"{SF}/{t}.parquet")
        ), f"{t} mutated by the decimal-edge fuzzer"


def _file_bytes(sf: str, t: str) -> bytes:
    with open(os.path.join(sf, f"{t}.parquet"), "rb") as f:
        return f.read()


@pytest.mark.parametrize("flag", list(driver_sim.MODES))
def test_every_mode_keeps_the_copy_contract(flag):
    """The contract every mode shares: all tables are written, the ones
    the mode does not list are byte copies, a listed one really changes,
    row counts hold (0 for the emptied feeds), the copy is reproducible,
    and a seeded mode moves with its seed."""
    mode = driver_sim.MODES[flag]
    out = driver_sim.perturb(SF, flag, 5)
    assert all(os.path.isfile(os.path.join(out, f"{t}.parquet")) for t in driver_sim.TABLES)
    first = {t: _file_bytes(out, t) for t in driver_sim.TABLES}
    changed = []
    for t in driver_sim.TABLES:
        if t not in mode.transforms:
            assert first[t] == _file_bytes(SF, t), f"{flag}: {t} is not a byte copy"
            continue
        src = pq.read_table(os.path.join(SF, f"{t}.parquet"))
        got = pq.read_table(os.path.join(out, f"{t}.parquet"))
        assert got.num_rows == (0 if flag == "--perturb-empty" else src.num_rows), t
        if not got.equals(src):
            changed.append(t)
    assert changed, f"{flag}: no listed table differs from its source"

    assert driver_sim.perturb(SF, flag, 5) == out
    assert {t: _file_bytes(out, t) for t in driver_sim.TABLES} == first, "not reproducible"
    if mode.seeded:
        other = driver_sim.perturb(SF, flag, 6)
        assert other != out
        assert any(
            not pq.read_table(os.path.join(other, f"{t}.parquet")).equals(
                pq.read_table(os.path.join(out, f"{t}.parquet"))
            )
            for t in mode.transforms
        ), f"{flag}: seeds 5 and 6 give the same copy"


def test_all_modes_stack_within_the_filename_limit():
    """Stacked modes chain their output names; ``_src_tag`` keeps the
    last of all 20 within the 255-byte filename limit."""
    sf = SF
    for flag in driver_sim.MODES:
        sf = driver_sim.perturb(sf, flag, 3)
    assert len(os.path.basename(sf).encode()) <= 255
    assert all(os.path.isfile(os.path.join(sf, f"{t}.parquet")) for t in driver_sim.TABLES)
