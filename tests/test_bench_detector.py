"""bench.py regression-detector contract.

The detector compares this run's canary-normalized series against one
prev artifact: the newest ``BENCH_r<N>.json`` round artifact recorded at
this run's core count (a wrapper whose ``parsed`` dict is the bench's
compact stdout line), else the committed full-payload
``BENCH_LOCAL.json`` anchor. These tests pin the reader on the REAL committed artifacts and
on synthetic ones of both shapes, the dual-canary correction and its
noise floors, and the compact stdout line; an empty comparison must
surface as an explicit error, never as a zero-flag pass.
"""

from __future__ import annotations

import json
import os

import pytest

import bench

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _read(name: str) -> str:
    with open(os.path.join(REPO, name)) as f:
        return f.read()


def _check_committed_artifact(name: str) -> None:
    # a round wrapper gives its parsed stdout line, the anchor itself
    raw = json.loads(_read(name))
    line = raw.get("parsed", raw)
    fields = bench._extract_bench_fields(_read(name))
    c = line["canary"]["sec"]
    norm = fields["queries_canary_normalized"]
    assert len(norm) == 18
    assert norm == {q: round(t / c, 2) for q, t in line["queries"].items()}
    assert fields["canary2_spread"] == line["canary2"]["spread"]
    assert fields["methodology"] == bench.METHODOLOGY
    if "queries_canary_normalized" in line:  # the anchor stores its own
        assert norm == line["queries_canary_normalized"]


def test_extracts_from_untruncated_driver_wrapper():
    _check_committed_artifact("BENCH_r14.json")


def test_extracts_committed_anchor():
    _check_committed_artifact("BENCH_LOCAL.json")


def test_extracts_full_payload_anchor():
    payload = {
        "queries": {"qx": 1.5},
        "canary": {"name": "q_other", "sec": 0.75},
        "canary2": {"name": "minhash_lsh_fixed_probe", "sec": 1.2, "spread": 0.3},
        "methodology": bench.METHODOLOGY,
    }
    fields = bench._extract_bench_fields(json.dumps(payload))
    assert fields == {
        "queries_canary_normalized": {"qx": 2.0}, "methodology": bench.METHODOLOGY,
        "canary_name": "q_other", "canary_sec": 0.75, "canary2_sec": 1.2, "canary2_spread": 0.3,
    }


def test_unparsed_round_artifact_falls_to_the_anchor(tmp_path):
    # BENCH_r12.json is a wrapper whose stdout line was never parsed
    # (parsed: null): it gives no fields, and the comparison moves
    # on to the anchor
    assert bench._extract_bench_fields(_read("BENCH_r12.json")) == {}
    assert bench._extract_bench_fields("not json {") == {}
    wrapper = {"n": 42, "rc": 0, "cpus": 32, "tail": "...", "parsed": None}
    (tmp_path / "BENCH_r42.json").write_text(json.dumps(wrapper))
    _write_prev(tmp_path, None, {"q1_pricing_summary": 1.0, "qa": 2.0})
    block = bench._prev_comparison(
        {"q1_pricing_summary": 1.0, "qa": 2.0}, artifact_dir=str(tmp_path)
    )
    assert block["prev_artifact"] == "BENCH_LOCAL.json"
    assert block["deltas"]["qa"] == 0.0


def _write_prev(
    tmp_path,
    rnd: int | str | None,
    norm: dict,
    spread: dict | None = None,
    canary_sec: float = 1.0,
    canary2_sec: float | None = None,
    canary2_spread: float | None = None,
    cpus: int = 32,
):
    """Write a prev artifact whose stdout line reproduces ``norm``: the
    round's ``BENCH_r<rnd>.json`` wrapper (run on ``cpus`` cores) with
    the line as ``parsed``, or, for ``rnd=None``, the full-payload
    ``BENCH_LOCAL.json`` anchor."""
    line: dict = {
        "methodology": bench.METHODOLOGY,
        "queries": {q: v * canary_sec for q, v in norm.items()},
        "canary": {"name": "q1_pricing_summary", "sec": canary_sec},
    }
    if spread is not None:
        line["queries_sample_spread"] = spread
    if canary2_sec is not None:
        line["canary2"] = {"name": "minhash_lsh_fixed_probe", "sec": canary2_sec}
        if canary2_spread is not None:
            line["canary2"]["spread"] = canary2_spread
    if rnd is None:  # main()'s full payload also stores the series
        line["queries_canary_normalized"] = norm
        (tmp_path / "BENCH_LOCAL.json").write_text(json.dumps(line))
    else:
        wrapper = {"n": rnd, "rc": 0, "cpus": cpus, "tail": "...", "parsed": line}
        (tmp_path / f"BENCH_r{rnd}.json").write_text(json.dumps(wrapper))


def test_dual_canary_corrects_structural_canary_speedup(tmp_path):
    """r13 basis (r12 verdict item 4): q1 got structurally 2x faster
    (plan-build memo) while canary2 and the query under test did not
    move. Single-canary deltas read +100% fleet-wide; the dual-canary
    correction (divide by the LESS-moved canary's ratio) must bring the
    unmoved query's delta back to ~0 and flag nothing."""
    _write_prev(
        tmp_path, 42, {"q1_pricing_summary": 1.0, "qa": 2.0},
        canary_sec=0.4, canary2_sec=1.5,
    )
    # q1 halved (0.4 -> 0.2); qa raw unchanged at 0.8 s -> norm doubles
    norm = {"q1_pricing_summary": 1.0, "qa": 4.0}
    block = bench._prev_comparison(
        norm, artifact_dir=str(tmp_path),
        canary_sec=0.2, canary2_sec=1.5,
    )
    assert block["canary_basis"]["applied"] is True
    assert block["canary_basis"]["host_ratio_used"] == 1.0  # canary2 unmoved
    assert block["deltas"]["qa"] == 0.0  # corrected: flat (single-canary +100%)
    # q1's own corrected delta now carries its TRUE movement (-50%) —
    # under the single-canary basis it was 0 by construction, hiding
    # exactly the structural canary change this basis exists to expose
    assert block["deltas"]["q1_pricing_summary"] == -0.5
    assert block["flagged_over_25pct"] == ["q1_pricing_summary"]
    assert "qa" not in block["flagged_subnoise_over_25pct"]


def test_dual_canary_ignores_the_mover_not_the_host(tmp_path):
    """A genuine uniform HOST slowdown moves BOTH canaries together; the
    correction must then be ~1 and deltas match the single-canary basis
    (host movement already cancels inside the normalization)."""
    _write_prev(
        tmp_path, 42, {"q1_pricing_summary": 1.0, "qa": 2.0},
        canary_sec=0.4, canary2_sec=1.5,
    )
    # host 1.5x slower: q1 0.6, c2 2.25, qa raw 0.8 -> 1.2, norm stays 2.0
    block = bench._prev_comparison(
        {"q1_pricing_summary": 1.0, "qa": 2.0}, artifact_dir=str(tmp_path),
        canary_sec=0.6, canary2_sec=2.25,
    )
    assert block["canary_basis"]["applied"] is True
    assert abs(block["canary_basis"]["correction"] - 1.0) < 1e-9
    assert block["deltas"]["qa"] == 0.0


def test_dual_canary_falls_back_without_prev_canary_secs(tmp_path):
    """A prev artifact without canary2 seconds keeps the single-canary
    basis (correction off)."""
    _write_prev(tmp_path, 42, {"q1_pricing_summary": 1.0, "qa": 2.0})
    block = bench._prev_comparison(
        {"q1_pricing_summary": 1.0, "qa": 2.6}, artifact_dir=str(tmp_path),
        canary_sec=0.2, canary2_sec=1.5,
    )
    assert block["canary_basis"]["applied"] is False
    assert block["deltas"]["qa"] == 0.3


def test_prev_comparison_yields_nonempty_deltas_and_flags(tmp_path):
    # HERMETIC (r09 verdict item 1): the old version globbed the repo's
    # newest BENCH_r*.json and hard-coded r08 values, so the driver's
    # own artifact deposit re-broke it every round. Now the prev
    # artifact is synthesized into tmp_path and the glob root injected.
    _write_prev(tmp_path, 42, {"q1_pricing_summary": 1.0, "q5_local_supplier_volume": 3.33})
    norm = {"q1_pricing_summary": 1.0, "q5_local_supplier_volume": 3.33 * 1.3}
    block = bench._prev_comparison(norm, artifact_dir=str(tmp_path))
    assert "error" not in block, block
    assert block["deltas"], "empty deltas is the r08 failure mode"
    assert "q5_local_supplier_volume" in block["flagged_over_25pct"]
    assert block["deltas"]["q1_pricing_summary"] == 0.0
    assert block["same_measurement_basis"] is True


def test_prev_comparison_picks_newest_artifact(tmp_path):
    _write_prev(tmp_path, 2, {"qa": 1.0})
    _write_prev(tmp_path, 10, {"qa": 2.0})  # lexicographic sort would pick r2
    block = bench._prev_comparison({"qa": 2.0}, artifact_dir=str(tmp_path))
    assert block["prev_artifact"] == "BENCH_r10.json"
    assert block["deltas"]["qa"] == 0.0


def test_variance_floor_demotes_subnoise_flags(tmp_path):
    # r09 verdict item 2: a +30% delta whose magnitude does not clear
    # this run's sample spread (+ the prev artifact's recorded spread)
    # is a measurement, not a regression — it must land in the subnoise
    # list, never the attributable flag list.
    _write_prev(
        tmp_path,
        42,
        {"q_noisy": 2.0, "q_quiet": 2.0},
        spread={"q_noisy": 0.15, "q_quiet": 0.0},
    )
    norm = {"q_noisy": 2.6, "q_quiet": 2.6}  # both +30%
    block = bench._prev_comparison(
        norm,
        artifact_dir=str(tmp_path),
        spreads={"q_noisy": 0.20, "q_quiet": 0.01},
    )
    # q_noisy: noise = 0.20 + 0.15 = 0.35 > 0.30 -> subnoise
    # q_quiet: noise = 0.01 + 0.00 = 0.01 < 0.30 -> real flag
    assert block["flagged_over_25pct"] == ["q_quiet"]
    assert block["flagged_subnoise_over_25pct"] == ["q_noisy"]


def test_canary_spread_joins_every_noise_term(tmp_path):
    # The canary divides every normalized value, so ITS sample spread
    # (either run's) is noise on every delta: a +30% delta on a query
    # whose own samples were tight must still demote to subnoise when
    # the canary drew a lucky best-of-2 (r10 freeze-run finding).
    _write_prev(
        tmp_path, 42, {"q1_pricing_summary": 1.0, "qx": 2.0},
        spread={"q1_pricing_summary": 0.0, "qx": 0.0},
    )
    block = bench._prev_comparison(
        {"q1_pricing_summary": 1.0, "qx": 2.6},
        artifact_dir=str(tmp_path),
        spreads={"q1_pricing_summary": 0.38, "qx": 0.01},
    )
    assert block["flagged_subnoise_over_25pct"] == ["qx"]
    assert block["flagged_over_25pct"] == []


def test_canary_noise_key_follows_fallback_canary(tmp_path):
    # r10 advice: the noise term hard-coded 'q1_pricing_summary' while
    # the canary pick falls back to min(timings) when q1 is absent — in
    # that fallback the real canary's spread silently left every noise
    # budget. The noise key must follow the SAME name main() divided by.
    _write_prev(
        tmp_path, 42, {"q_canary": 1.0, "qx": 2.0},
        spread={"q_canary": 0.0, "qx": 0.0},
    )
    block = bench._prev_comparison(
        {"q_canary": 1.0, "qx": 2.6},
        artifact_dir=str(tmp_path),
        spreads={"q_canary": 0.38, "qx": 0.01},
        canary_name="q_canary",
    )
    assert block["flagged_subnoise_over_25pct"] == ["qx"]
    assert block["flagged_over_25pct"] == []


def test_prev_canary_name_extracted_from_prev_artifact():
    # The PREV run's spread lookup uses the canary name recorded in the
    # prev artifact itself (it may differ from this run's fallback pick).
    raw = json.dumps(
        {"canary": {"name": "q_other", "sec": 1.5}, "queries": {"q_other": 1.5}}
    )
    assert bench._extract_bench_fields(raw)["canary_name"] == "q_other"


def test_plain_run_output_path_is_not_the_committed_anchor():
    # r10 verdict item 3: a driver bench run must leave `git status`
    # clean — the default write target is the gitignored LATEST path,
    # and the committed anchor moves only under --promote-anchor.
    assert os.path.basename(bench.LATEST_OUT) == "BENCH_LATEST.json"
    assert os.path.basename(bench.LOCAL_ANCHOR) == "BENCH_LOCAL.json"
    with open(os.path.join(REPO, ".gitignore")) as f:
        assert "BENCH_LATEST.json" in f.read()
    # and the anchor path appears in main() only behind the flag
    import inspect

    src = inspect.getsource(bench.main)
    assert "--promote-anchor" in src


def test_empty_comparison_is_an_error_not_a_pass(tmp_path):
    # queries that exist in NO prior artifact -> explicit error field;
    # hermetic via an artifact dir containing one non-overlapping prev
    _write_prev(tmp_path, 42, {"some_other_query": 1.0})
    block = bench._prev_comparison(
        {"a_query_no_artifact_has": 1.0}, artifact_dir=str(tmp_path)
    )
    assert "error" in block
    assert "deltas" not in block


def test_compact_stdout_line_fits_driver_tail():
    # r13 verdict item 2: the one-line stdout JSON must survive the
    # driver's 2000-byte tail WHOLE. Build the compact payload with the
    # REAL headline-query names and worst-case numeric widths (999.999 s
    # timings, 9.999 spreads) and assert the serialized line fits with
    # margin for a handful of future query additions.
    from alibaba_cppfeaturestore_spark.plans.catalog import QUERIES

    headline = [n for n, qd in QUERIES.items() if qd.headline]
    assert len(headline) >= 18
    payload = {
        "metric": "headline_queries_total",
        "value": 9999.999,
        "unit": "sec",
        "queries": {n: 999.999 for n in headline},
        "sf": 0.1,
        "canary": {"name": "q1_pricing_summary", "sec": 999.999},
        "canary2": {"name": "minhash_lsh_fixed_probe", "sec": 999.999, "spread": 9.999},
        "queries_sample_spread": {n: 9.999 for n in headline},
        "methodology": bench.METHODOLOGY,
    }
    line = json.dumps(bench._compact_stdout_payload(payload), separators=(",", ":"))
    assert len(line.encode()) < 1900, len(line.encode())  # 100 B headroom under 2000
    # and the compact subset keeps the driver's one-line contract fields
    got = json.loads(line)
    for k in ("metric", "value", "unit", "queries", "sf"):
        assert k in got


def test_detector_derives_norm_from_compact_v4_line(tmp_path):
    # v4 artifacts no longer print queries_canary_normalized; the
    # detector must derive it from queries + the canary dict's sec —
    # a full comparison against a compact-line prev artifact engages.
    line = {
        "metric": "headline_queries_total",
        "value": 1.2,
        "unit": "sec",
        "queries": {"q1_pricing_summary": 0.4, "qa": 0.8},
        "sf": 0.1,
        "canary": {"name": "q1_pricing_summary", "sec": 0.4},
        "canary2": {"name": "minhash_lsh_fixed_probe", "sec": 1.5, "spread": 0.02},
        "queries_sample_spread": {"q1_pricing_summary": 0.0, "qa": 0.0},
        "methodology": bench.METHODOLOGY,
    }
    wrapper = {"n": 42, "rc": 0, "cpus": 32, "tail": "...", "parsed": line}
    (tmp_path / "BENCH_r42.json").write_text(json.dumps(wrapper))
    fields = bench._extract_bench_fields((tmp_path / "BENCH_r42.json").read_text())
    assert fields["queries_canary_normalized"] == {"q1_pricing_summary": 1.0, "qa": 2.0}
    assert fields["canary2_spread"] == 0.02
    block = bench._prev_comparison(
        {"q1_pricing_summary": 1.0, "qa": 2.0},
        artifact_dir=str(tmp_path),
        canary_sec=0.4,
        canary2_sec=1.5,
    )
    assert block["canary_basis"]["applied"] is True
    assert block["deltas"]["qa"] == 0.0
    assert block["same_measurement_basis"] is True


@pytest.mark.parametrize("rnd", [42, None], ids=["round_wrapper", "anchor"])
def test_canary2_spread_joins_noise_when_it_is_the_host_witness(tmp_path, rnd):
    # r13 advice: when the dual-canary correction flows through canary2
    # (host witness = r2), canary2's best-of variance enters every
    # corrected delta — BOTH runs' spreads, whichever shape the prev
    # artifact has — and a flag that does not clear it must demote.
    # q1 halves (structural), canary2 flat -> host witness is canary2,
    # correction = 0.5; qx raw 0.8 -> 1.04 gives a corrected +30%.
    for prev_c2_spread, now_c2_spread, flag_list in (
        (0.4, 0.0, "flagged_subnoise_over_25pct"),  # the prev run's spread
        (0.0, 0.4, "flagged_subnoise_over_25pct"),  # this run's spread
        (0.0, 0.0, "flagged_over_25pct"),  # neither: the delta is a flag
    ):
        _write_prev(
            tmp_path, rnd, {"q1_pricing_summary": 1.0, "qx": 2.0},
            spread={"q1_pricing_summary": 0.0, "qx": 0.0},
            canary_sec=0.4, canary2_sec=1.5, canary2_spread=prev_c2_spread,
        )
        block = bench._prev_comparison(
            {"q1_pricing_summary": 1.0, "qx": 5.2},
            artifact_dir=str(tmp_path),
            spreads={"q1_pricing_summary": 0.0, "qx": 0.0},
            canary_sec=0.2, canary2_sec=1.5, canary2_spread=now_c2_spread,
        )
        assert block["canary_basis"]["host_ratio_used"] == 1.0
        assert block["deltas"]["qx"] == 0.3
        assert "qx" in block[flag_list]


def test_descend_to_flat_sampling_policy():
    # v4: extra attempts trigger on (a) >25% disagreement of the first
    # two samples (the v3 rule) or (b) the newest sample being a >5% new
    # minimum (still descending the JIT decay curve). Converged or
    # noisy-but-flat series stop immediately.
    need = bench._needs_another_sample
    assert need([3.3, 2.0]) is True            # v3 spread rule
    assert need([2.72, 2.50]) is True          # v4: -8% new min, still descending
    assert need([1.00, 0.99]) is False         # flat within noise
    assert need([1.00, 1.20]) is False         # slower second sample, agrees
    assert need([2.72, 2.50, 1.88]) is True    # the r14 minhash decay curve
    assert need([2.72, 2.50, 1.88, 1.87]) is False  # plateaued -> stop
    assert need([1.0, 0.9, 0.95]) is False     # newest not a new min
    assert bench._MAX_ATTEMPTS == 5            # hard cap documented


def test_low_core_artifacts_never_chosen_as_prev(tmp_path):
    # The driver deposits BENCH_r13_c8.json (8-core scaling run) next to
    # BENCH_r13.json under the same round number. The wrappers' recorded
    # core counts, not their names, decide which one a run compares to.
    _write_prev(tmp_path, "13_c8", {"q1_pricing_summary": 1.0, "qa": 99.0}, cpus=8)
    _write_prev(tmp_path, 13, {"q1_pricing_summary": 1.0, "qa": 2.0})
    block = bench._prev_comparison(
        {"q1_pricing_summary": 1.0, "qa": 2.0}, artifact_dir=str(tmp_path)
    )
    assert block["prev_artifact"] == "BENCH_r13.json"
    assert block["prev_cpus"] == 32
    assert block["deltas"]["qa"] == 0.0
    block = bench._prev_comparison(
        {"q1_pricing_summary": 1.0, "qa": 99.0}, artifact_dir=str(tmp_path), cpus=8
    )
    assert block["prev_artifact"] == "BENCH_r13_c8.json"
    assert block["prev_cpus"] == 8
    assert block["deltas"]["qa"] == 0.0


def test_cross_core_wrapper_never_compares(tmp_path):
    # A local[4] run was once read against the local[32] r14 and filed a
    # +173% delta as subnoise. With only a 32-core wrapper, a 4-core run
    # falls to the anchor (which records no core count), and with no
    # anchor either it reports the explicit error.
    _write_prev(tmp_path, 14, {"q1_pricing_summary": 1.0, "qa": 2.0})
    block = bench._prev_comparison(
        {"q1_pricing_summary": 1.0, "qa": 5.46}, artifact_dir=str(tmp_path), cpus=4
    )
    assert "error" in block and "deltas" not in block
    _write_prev(tmp_path, None, {"q1_pricing_summary": 1.0, "qa": 5.0})
    block = bench._prev_comparison(
        {"q1_pricing_summary": 1.0, "qa": 5.0}, artifact_dir=str(tmp_path), cpus=4
    )
    assert block["prev_artifact"] == "BENCH_LOCAL.json"
    assert block["prev_cpus"] is None
    assert block["deltas"]["qa"] == 0.0
