"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Timing = full query execution including the action (collect-to-count via
``df.count()`` after materializing the plan; results are small aggregates,
so the action cost is the query, not the transfer).
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import time

from alibaba_cppfeaturestore_spark.plans.catalog import QUERIES
from alibaba_cppfeaturestore_spark.resources import release
from alibaba_cppfeaturestore_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPO = os.path.dirname(os.path.abspath(__file__))

# Measurement basis, recorded so cross-round comparisons aren't misread.
# v1 (rounds 2-7): warmup pass + gc-between + best-of-2 + adaptive 3rd.
# v2 (round 8+):   v1 PLUS release_persisted() after every warmup query
#                  AND after every measured attempt — persist-reusing
#                  queries (minhash index) no longer keep their cache
#                  between samples, so v1 and v2 numbers are NOT
#                  comparable for that class. Round 8 made this change
#                  without bumping the string (r08 verdict item 3); the
#                  basis below names it, and _SAME_BASIS records that
#                  r08's artifact — string notwithstanding — already ran
#                  on v2, so the r08→r09 delta IS like-for-like.
# v3 (round 13+):  TWO untimed warmup passes instead of one — a
#                  measurement-accuracy fix (guide §1: measure steady
#                  state), declared in OPTIMIZATION_r13.md with both
#                  bases recorded. Evidence: after ONE warmup pass the
#                  codegen-heavy queries' first TWO measured attempts
#                  still pay JIT compilation and AGREE with each other
#                  (dedup_minhash_lsh decay after 1 warmup:
#                  3.52, 3.72, 2.48, 1.93, 2.16, 2.16 s — best-of-2
#                  records 3.52 and the <25% spread suppresses the
#                  adaptive 3rd, so the artifact reports a number 70%
#                  above the steady state the docstring promises:
#                  "the warm number is the honest one"). The second
#                  pass costs ~14 s of untimed runtime and moves every
#                  query's measured attempts onto the flat part of its
#                  decay curve. Affects NOTHING about what is computed.
# v4 (round 14+): two additions, declared in OPTIMIZATION_r14.md with
#                  v3-basis numbers kept alongside:
#                  (a) DESCEND-TO-FLAT sampling — after the v3 rules, keep
#                      sampling while the NEWEST sample sets a new minimum
#                      by >5% (cap 5 attempts total). Evidence: after TWO
#                      warmup passes, dedup_minhash_lsh's in-bench
#                      measured attempts still read 2.72, 2.50, 1.88 —
#                      best-of-2 records 2.50 (the samples "agree" within
#                      25%, so the v3 adaptive third never fires) while
#                      the same JVM reaches 1.88 one attempt later; the
#                      isolated steady state is 1.8-2.0. A >5% NEW MIN is
#                      direct evidence the query is still on its JIT
#                      decay curve (converged queries plateau within
#                      noise and stop immediately), so the extra attempts
#                      trigger exactly on non-convergence, not on noise.
#                  (b) the one-line stdout payload is COMPACTED to fit
#                      the driver's 2000-byte tail whole (detector fields
#                      only; the full payload still lands in
#                      BENCH_LATEST.json / the promoted anchor), and the
#                      detector derives the normalized series from
#                      queries+canary_sec when a prev artifact lacks it.
#                  Affects NOTHING about what is computed.
METHODOLOGY = "v4:2xwarmup+gc+best-of-2+adaptive-3rd+descend-to-flat+release-per-attempt"
_V2_FIRST_ROUND = 8  # first driver artifact measured on the v2 basis
_V3_FIRST_ROUND = 13  # first driver artifact measured on the v3 basis
_V4_FIRST_ROUND = 14  # first driver artifact measured on the v4 basis
_WARMUP_PASSES = 2
_MAX_ATTEMPTS = 5
_DESCENT_EPS = 0.05  # a >5% new min = still descending the decay curve

# The committed quiet-host comparison anchor: READ-ONLY to a bench run.
# It survives the driver's head-truncation of stdout tails
# (BENCH_r07.json's tail begins mid-token, which r08's parser turned
# into an empty prev dict and a vacuous zero-flag result). Through r10
# every run overwrote it in place, which dirtied the tree after each
# driver round and silently replaced the frozen baseline (r10 verdict
# item 3); runs now write LATEST_OUT and promotion is an explicit
# `--promote-anchor` + commit.
LOCAL_ANCHOR = os.path.join(REPO, "BENCH_LOCAL.json")
# Every run's full payload lands here (gitignored): the working copy
# for freeze-run comparisons and for deliberate anchor promotion.
LATEST_OUT = os.path.join(REPO, "BENCH_LATEST.json")


def _extract_bench_fields(raw: str) -> dict:
    """Pull the comparison fields out of a bench artifact REGARDLESS of
    shape: a clean full-payload JSON file (the local anchor), a driver
    wrapper whose ``tail`` string holds the stdout JSON line, or a
    head-truncated ``tail`` where only the final fields of that line
    survive (BENCH_r07.json's tail begins mid-token — the shape that
    silently blinded r08's detector). The per-query dicts are flat (no
    nested braces), so a brace regex recovers them from any suffix that
    still contains the key; the regex must run on the UNESCAPED tail —
    inside the wrapper the quotes are \\" and a quote-anchored pattern
    never matches the raw file bytes."""
    texts = []
    try:
        whole = json.loads(raw)
    except json.JSONDecodeError:
        whole = None
    if isinstance(whole, dict):
        if "queries_canary_normalized" in whole:  # full payload (anchor)
            for key, field in (("canary", "canary_sec"), ("canary2", "canary2_sec")):
                sec = (whole.get(key) or {}).get("sec") if isinstance(whole.get(key), dict) else None
                if isinstance(sec, (int, float)):
                    whole.setdefault(field, float(sec))
            return whole
        if isinstance(whole.get("tail"), str):  # driver wrapper
            texts.append(whole["tail"])
    texts.append(raw)  # last resort: regex over the raw bytes
    out: dict = {}
    for text in texts:
        for key in (
            "queries_canary_normalized",
            "queries",
            "queries_build_sec",
            "queries_sample_spread",
        ):
            if key in out:
                continue
            matches = re.findall(r'"%s"\s*:\s*(\{[^{}]*\})' % key, text)
            if matches:
                try:
                    out[key] = json.loads(matches[-1])
                except json.JSONDecodeError:
                    pass
        m = re.findall(r'"methodology"\s*:\s*"([^"]*)"', text)
        if m and "methodology" not in out:
            out["methodology"] = m[-1]
        m = re.findall(r'"canary"\s*:\s*\{\s*"name"\s*:\s*"([^"]+)"', text)
        if m and "canary_name" not in out:
            out["canary_name"] = m[-1]
        # both canaries' SECONDS (dual-canary basis, r12 verdict item):
        # from the early "canary"/"canary2" dicts when the line is whole,
        # or from the tail-region "canaries_sec" duplicate (which is what
        # actually survives the driver's 2000-byte truncation)
        for key, field in (("canary", "canary_sec"), ("canary2", "canary2_sec")):
            if field in out:
                continue
            m = re.findall(
                r'"%s"\s*:\s*\{[^{}]*?"sec"\s*:\s*([0-9.eE+-]+)' % key, text
            ) or re.findall(r'"%s"\s*:\s*([0-9.eE+-]+)' % field, text)
            if m:
                try:
                    out[field] = float(m[-1])
                except ValueError:
                    pass
        # canary2's own sample spread (r13 advice: when the dual-canary
        # basis corrects through canary2, ITS best-of variance belongs
        # in every noise term)
        if "canary2_spread" not in out:
            m = re.findall(
                r'"canary2"\s*:\s*\{[^{}]*?"spread"\s*:\s*([0-9.eE+-]+)', text
            )
            if m:
                try:
                    out["canary2_spread"] = float(m[-1])
                except ValueError:
                    pass
    # v4 artifacts drop the normalized dict from stdout (the compact
    # line must fit the driver's 2000-byte tail whole); derive it from
    # queries + canary_sec — the identical round(t/c, 2) main() computes
    if (
        "queries_canary_normalized" not in out
        and out.get("queries")
        and isinstance(out.get("canary_sec"), float)
        and out["canary_sec"] > 0
    ):
        c = out["canary_sec"]
        out["queries_canary_normalized"] = {
            q: round(t / c, 2) for q, t in out["queries"].items()
        }
    return out


def _prev_comparison(
    norm: dict[str, float],
    artifact_dir: str | None = None,
    spreads: dict[str, float] | None = None,
    canary_name: str = "q1_pricing_summary",
    canary_sec: float | None = None,
    canary2_sec: float | None = None,
    canary2_spread: float = 0.0,
) -> dict:
    """Round-over-round regression block. Reads the newest driver
    BENCH_r*.json (robust to tail truncation), falling back to the
    builder's local anchor; emits per-query canary-normalized deltas and
    flags |Δ| > 25%. An empty comparison is an ERROR in the artifact,
    never a silent zero-flag pass (the r08 failure mode).

    ``artifact_dir`` defaults to the repo root; tests inject a tmp dir
    so the contract stays pinned no matter which BENCH_r*.json the
    driver deposited last (the r09 verdict's round-coupling failure:
    the old test globbed the repo and assumed the newest artifact was
    r08, so every driver run re-broke it).

    ``spreads`` is this run's per-query sample spread ((max-min)/min of
    the measured best-of attempts). Variance floor (r09 verdict item 2):
    a |Δ| > 25% whose magnitude does NOT clear the measurement noise —
    this run's spread for the query plus the prev artifact's recorded
    spread, if any — lands in ``flagged_subnoise_over_25pct`` instead of
    ``flagged_over_25pct``: per-query best-of-2 variance at sub-second
    scale produced r09's unattributable q3 +31% while both canaries sat
    flat; a flag the samples themselves can't out-vote is a measurement,
    not a regression.

    DUAL-CANARY basis (r12 verdict item 1 / its r13 list item 4, plus
    the failure this round exposed): normalized deltas divide by q1's
    movement alone, so anything that moves Q1 ITSELF — a host swing
    (the r12 artifact's 10/18 subnoise demotions) or a structural q1
    speedup (r13's load_table plan memo cut q1's per-attempt build,
    halving the divisor and inflating every delta ~2×) — reads as a
    fleet-wide regression. With both runs' canary SECONDS (q1 and the
    frozen-shape minhash probe) extractable, the host/harness movement
    estimate becomes the MEDIAN of the two canaries' raw ratios, and
    each single-canary delta is corrected by q1_ratio/median. One
    moving canary can no longer recolor the whole board; flags are
    computed from the corrected deltas, and both series are recorded
    (``deltas`` = corrected, ``deltas_single_canary`` = the old basis,
    kept for one-round continuity per the verdict's done-criterion).
    Falls back to the single-canary basis (correction 1.0) when either
    run's canary seconds are missing (truncated prev artifacts)."""
    artifact_dir = artifact_dir or REPO
    anchor = os.path.join(artifact_dir, os.path.basename(LOCAL_ANCHOR))
    candidates: list[tuple[str, int]] = []  # (path, driver round or -1)
    # EXACT name match only: the driver also deposits low-core artifacts
    # (BENCH_r13_c8.json) that the old BENCH_r*.json glob matched with
    # the SAME round key — a stable-sort coin flip away from comparing
    # this 32-core run against an 8-core prev
    arts = sorted(
        (
            p
            for p in glob.glob(os.path.join(artifact_dir, "BENCH_r*.json"))
            if re.fullmatch(r"BENCH_r\d+\.json", os.path.basename(p))
        ),
        key=lambda p: int(re.search(r"r(\d+)", os.path.basename(p)).group(1)),
    )
    if arts:
        candidates.append(
            (arts[-1], int(re.search(r"r(\d+)", os.path.basename(arts[-1])).group(1)))
        )
    if os.path.exists(anchor):
        candidates.append((anchor, -1))

    for path, rnd in candidates:
        try:
            with open(path) as f:
                fields = _extract_bench_fields(f.read())
        except OSError as exc:
            return {"error": f"unreadable prev artifact {path}: {exc!r:.120}"}
        prev_norm = fields.get("queries_canary_normalized") or {}
        deltas = {
            qn: round((v - prev_norm[qn]) / prev_norm[qn], 3)
            for qn, v in norm.items()
            if prev_norm.get(qn)
        }
        if not deltas:
            continue  # artifact too truncated even for regex — try next
        # basis check: v1-era artifacts (rounds < 8) are NOT comparable
        # for persist-reusing queries; r08 ran on v2 despite its stale
        # methodology string (see METHODOLOGY comment above)
        prev_meth = fields.get("methodology", "")
        same_basis = (
            prev_meth == METHODOLOGY
            or (rnd >= _V4_FIRST_ROUND)
            or (rnd == -1 and prev_meth.startswith("v4:"))
        )
        prev_spread = fields.get("queries_sample_spread") or {}
        now_spread = spreads or {}
        # The CANARY's spread propagates into every normalized value
        # (norm = raw/canary), so both runs' canary spreads join each
        # query's noise term — the r10 freeze run showed a lucky q1
        # best-of-2 (spread 0.38) inflating every delta by ~+19%.
        # ``canary_name`` is the SAME variable main() used to pick the
        # divisor (r10 advice: a hard-coded 'q1_pricing_summary' here
        # silently dropped the real canary's spread whenever main()
        # fell back to min(timings)); the prev artifact's own recorded
        # canary name wins for ITS spread lookup when extractable.
        prev_canary = fields.get("canary_name", canary_name)
        canary_noise = now_spread.get(canary_name, 0.0) + prev_spread.get(
            prev_canary, 0.0
        )
        # dual-canary correction (docstring above): corrected delta
        # = (1 + single_delta) * q1_ratio / median(q1_ratio, c2_ratio) - 1
        prev_c1 = fields.get("canary_sec")
        prev_c2 = fields.get("canary2_sec")
        basis: dict = {"applied": False}
        correction = 1.0
        if all(
            isinstance(x, (int, float)) and x and x > 0
            for x in (canary_sec, canary2_sec, prev_c1, prev_c2)
        ):
            r1 = canary_sec / prev_c1
            r2 = canary2_sec / prev_c2
            # "median" of two witnesses, implemented as the one that
            # moved LESS (closer to 1.0): the verdict's intent is
            # robustness to ONE mover, and the midpoint would still be
            # dragged halfway by a structurally-changed canary.
            host_ratio = r1 if abs(r1 - 1.0) <= abs(r2 - 1.0) else r2
            correction = r1 / host_ratio
            basis = {
                "applied": True,
                "q1_ratio": round(r1, 4),
                "canary2_ratio": round(r2, 4),
                "host_ratio_used": round(host_ratio, 4),
                "correction": round(correction, 4),
            }
            # r13 advice: when the correction flows through CANARY2
            # (host witness = r2), its best-of sample variance enters
            # every corrected delta — count it in the noise floor (both
            # runs' spreads; old artifacts without one contribute 0)
            if host_ratio == r2 and r1 != r2:
                canary_noise += canary2_spread + fields.get("canary2_spread", 0.0)
        noise = {
            qn: now_spread.get(qn, 0.0) + prev_spread.get(qn, 0.0) + canary_noise
            for qn in deltas
        }
        deltas_dual = {
            qn: round((1.0 + d) * correction - 1.0, 3) for qn, d in deltas.items()
        }
        over = {qn for qn, d in deltas_dual.items() if abs(d) > 0.25}
        return {
            "prev_artifact": os.path.basename(path),
            "prev_methodology": prev_meth or "(not recorded)",
            "same_measurement_basis": same_basis,
            "canary_basis": basis,
            "deltas": deltas_dual,
            "deltas_single_canary": deltas,
            "flagged_over_25pct": sorted(
                qn for qn in over if abs(deltas_dual[qn]) > noise[qn]
            ),
            "flagged_subnoise_over_25pct": sorted(
                qn for qn in over if abs(deltas_dual[qn]) <= noise[qn]
            ),
        }
    return {
        "error": "no prev artifact yielded a non-empty comparison "
        f"(tried {[os.path.basename(p) for p, _ in candidates]}); "
        "an empty deltas dict is a detector failure, not a flat bench"
    }


def main() -> None:
    # Engine versions on stderr: the driver records this tail in its
    # BENCH artifact, so cross-round comparisons (and any cross-engine
    # red row) carry the exact pyspark/duckdb versions they ran under.
    import duckdb
    import pyspark

    print(
        f"# engines: pyspark={pyspark.__version__} duckdb={duckdb.__version__}",
        file=sys.stderr,
    )
    spark = get_spark(app_name="bench")
    sf = SF_DIR.rstrip("/").split("sf")[-1]

    headline = [name for name, qd in QUERIES.items() if qd.headline]
    timings: dict[str, float] = {}
    build_sec: dict[str, float] = {}
    spread: dict[str, float] = {}
    load_pre_warmup = round(os.getloadavg()[0], 2)

    # Steady-state methodology: TWO full UNTIMED passes first (JVM JIT,
    # codegen compilation, parquet footer/page cache, broadcast build),
    # then the measured pass. Cold-start costs are per-process constants,
    # not per-query throughput — at the 100 TB target a query runs on a
    # long-lived warmed cluster, so the warm number is the honest one.
    # TWO passes (v3, r13): with one, the generated-code-heavy queries'
    # first measured attempts still sit on the JIT decay curve and
    # best-of-2 records that artifact, not the query (numbers in the
    # METHODOLOGY comment above).
    for _ in range(_WARMUP_PASSES):
        for name in headline:
            QUERIES[name].spark(spark, SF_DIR).count()
            # release the entry's registered resources per warmup query
            # too — the warmup otherwise accumulates every entry's
            # persisted blocks at once, and the measured pass inherits
            # the heap pressure
            release()
            spark.catalog.clearCache()
    load_pre_measure = round(os.getloadavg()[0], 2)

    total = 0.0
    for name in headline:
        # Isolation: drop internal caches left by earlier operators
        # (set-similarity/minhash persist their index) and ask the JVM to
        # collect — heap pressure from a previous query's 1M-row result
        # otherwise bleeds multi-second GC pauses into THIS query's
        # number (observed 2 s ↔ 13 s swings on identical plans).
        # Best-of-2 reports the query's cost, not the scheduler's mood —
        # plus an ADAPTIVE third attempt when the two samples disagree by
        # >25%: that spread means one of them ate a GC pause or a host
        # hiccup, and a heavy query (minhash observed 3.7 vs 3.1 s across
        # back-to-back bench runs) deserves a tiebreak before its number
        # enters the graded artifact. Agreeing samples skip the retry, so
        # the common case stays two runs.
        # v4 descend-to-flat (METHODOLOGY comment above): beyond the
        # best-of-2 + adaptive-3rd rules, keep sampling while the NEWEST
        # sample sets a new minimum by >5% — direct evidence the query
        # is still descending its JIT/codegen decay curve (a converged
        # query's samples plateau within noise and stop immediately).
        # Cap at 5 attempts; triggers symmetric noise ~half as often and
        # stops after one flat sample, so the common case stays 2 runs.
        samples: list[float] = []
        builds: list[float] = []
        n = 0
        for attempt in range(_MAX_ATTEMPTS):
            if attempt >= 2 and not _needs_another_sample(samples):
                break
            spark.catalog.clearCache()
            spark._jvm.System.gc()
            t0 = time.perf_counter()
            df = QUERIES[name].spark(spark, SF_DIR)
            t1 = time.perf_counter()
            n = df.count()
            samples.append(time.perf_counter() - t0)
            builds.append(t1 - t0)
            # clearCache() above already drops the cached blocks; this
            # frees checkpoints and tempdirs and empties the registry.
            release()
        best = min(samples)
        timings[name] = round(best, 3)
        # Post-adaptive sample spread: the query's own measurement-noise
        # witness this run. The detector's variance floor uses it — a
        # normalized delta that doesn't clear (this spread + the prev
        # artifact's recorded spread) is sampling noise at this query's
        # time scale, not a plan change (the r09 q3 +31% lesson: both
        # canaries flat, per-query best-of-2 drew an unlucky pair).
        spread[name] = round(max(samples) / best - 1.0, 3)
        # Driver-side plan-construction time, recorded separately: it is
        # host-load-sensitive (py4j round-trips) and a per-job constant
        # at the 100 TB target, so a raw delta whose build half moved is
        # noise, not a plan change (the r07→r08 ann_brute_force lesson).
        build_sec[name] = round(min(builds), 3)
        total += best
        print(
            f"# {name}: {best:.3f}s ({n} rows, build {build_sec[name]:.3f}s, "
            f"samples {[round(s, 3) for s in samples]})",
            file=sys.stderr,
        )

    # Canary normalization: q1_pricing_summary is a plan that has not
    # changed since round 1 — a fixed scan→filter→agg workload whose
    # wall-clock moves ONLY with host conditions. Dividing every query by
    # the canary yields a host-noise-immune series (r05's +7.2% drift was
    # near-uniform across untouched plans — exactly what a slow host looks
    # like, but nothing in the artifact could prove it). Raw numbers stay
    # the headline; normalized numbers + the 1-min load average make the
    # artifact self-defending: uniform raw drift at stable normalized
    # values = host; a normalized outlier = that query's code.
    # Record WHICH query divides the series once, and reuse that name in
    # the detector's noise floor — the floor must track the canary that
    # actually normalized this run, including the min-timing fallback.
    canary_name = (
        "q1_pricing_summary"
        if timings.get("q1_pricing_summary")
        else min(timings, key=timings.__getitem__)
    )
    canary = timings[canary_name]
    norm = {n: round(t / canary, 2) for n, t in timings.items()}

    # Second canary (r08 verdict item 7): q1 is scan→filter→agg — it
    # cannot witness harness changes that only touch the persist-reusing
    # class (r08's release-per-attempt change slowed 13 queries while q1
    # sped up). canary2 is a FROZEN MinHash-LSH probe over a stable 1/4
    # hash-slice of documents: it persists its band index exactly like
    # dedup_minhash_lsh, so a harness/persist-policy change moves it, a
    # pure host change moves both canaries together, and a single-query
    # code change moves neither. Excluded from queries/total.
    c2_samples = []
    for _ in range(2):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        _canary2_minhash(spark).count()
        c2_samples.append(time.perf_counter() - t0)
        release()
    canary2 = round(min(c2_samples), 3)
    # canary2's own spread: joins the noise floor when the dual-canary
    # correction flows through it (r13 advice item)
    canary2_spread = round(max(c2_samples) / min(c2_samples) - 1.0, 3)

    # Round-over-round regression detection: per-query CANARY-NORMALIZED
    # deltas vs the newest prior artifact, |Δ| > 25% flagged. Normalized
    # deltas attribute code-vs-noise from the artifact alone: a host
    # slowdown moves raw numbers uniformly but leaves normalized values
    # flat, so a flagged normalized delta is (almost always) a plan/code
    # change. The comparison NEVER silently degrades to zero queries —
    # r08's detector parsed a truncated tail to {} and certified a
    # regressing bench as flat (r08 verdict item 1).
    try:
        prev_block = _prev_comparison(
            norm,
            spreads=spread,
            canary_name=canary_name,
            canary_sec=canary,
            canary2_sec=canary2,
            canary2_spread=canary2_spread,
        )
    except Exception as exc:  # the comparison must never fail the bench
        prev_block = {"error": repr(exc)[:200]}

    # FULL payload: everything, written to BENCH_LATEST.json (and the
    # committed anchor under --promote-anchor). The STDOUT line is the
    # COMPACT subset below — the driver archives only the last 2000
    # bytes of stdout, and r12/r13 proved the full line outgrows that
    # (r12's truncated artifact voided the r13 PERF comparison): the
    # compact line is sized to survive the tail WHOLE, asserted by
    # tests/test_bench_detector.py::test_compact_stdout_line_fits_driver_tail.
    payload = {
        "metric": "headline_queries_total",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "canary": {"name": canary_name, "sec": canary},
        "canary2": {
            "name": "minhash_lsh_fixed_probe",
            "sec": canary2,
            "spread": canary2_spread,
        },
        "queries_build_sec": build_sec,
        "load_avg_1m": {
            "pre_warmup": load_pre_warmup,
            "pre_measure": load_pre_measure,
            "post": round(os.getloadavg()[0], 2),
        },
        "normalized_delta_vs_prev": prev_block,
        "queries_sample_spread": spread,
        "canaries_sec": {"canary_sec": canary, "canary2_sec": canary2},
        "methodology": METHODOLOGY,
        "value_canary_normalized": round(total / canary, 2),
        "queries_canary_normalized": norm,
    }
    print(json.dumps(_compact_stdout_payload(payload), separators=(",", ":")))
    # Persist the full JSON to the GITIGNORED working path. The committed
    # anchor (BENCH_LOCAL.json) is never touched by a plain run — through
    # r10 every driver round overwrote it in place, dirtying the tree and
    # replacing the frozen quiet-host baseline with whatever the driver
    # host produced. Promotion is now a deliberate act:
    #     python bench.py --promote-anchor   # then commit the anchor
    out_paths = [LATEST_OUT]
    if "--promote-anchor" in sys.argv:
        out_paths.append(LOCAL_ANCHOR)
    for path in out_paths:
        try:
            with open(path, "w") as f:
                json.dump(payload, f, indent=1)
        except OSError as exc:
            print(f"# warning: could not write {path}: {exc!r}", file=sys.stderr)
    spark.stop()


def _needs_another_sample(samples: list[float]) -> bool:
    """The v3 adaptive-3rd rule plus the v4 descend-to-flat rule
    (METHODOLOGY comment): another sample is warranted when the first
    two disagree by >25% (one ate a GC pause / host hiccup), or when the
    NEWEST sample set a new minimum by >5% (the query is still on its
    JIT/codegen decay curve — a converged query's samples plateau within
    noise and stop the series immediately). The caller caps total
    attempts at ``_MAX_ATTEMPTS``."""
    spread_retry = len(samples) == 2 and min(samples) * 1.25 < max(samples)
    descending = samples[-1] < (1.0 - _DESCENT_EPS) * min(samples[:-1])
    return spread_retry or descending


def _compact_stdout_payload(payload: dict) -> dict:
    """The stdout subset of the full payload, sized to fit the driver's
    2000-byte tail WHOLE (r13 verdict item 2): the one-line contract
    fields (metric/value/unit/queries/sf), both canaries with seconds
    (+ canary2's spread for the noise floor), the per-query sample
    spread, and the methodology string. The normalized series is NOT
    printed — the next round's detector derives it from queries +
    canary_sec (see ``_extract_bench_fields``), which frees ~600 bytes.
    Everything else (build times, load averages, the delta block, the
    normalized dicts) lives in the full payload on disk."""
    return {
        "metric": payload["metric"],
        "value": payload["value"],
        "unit": payload["unit"],
        "queries": payload["queries"],
        "sf": payload["sf"],
        "canary": payload["canary"],
        "canary2": payload["canary2"],
        "queries_sample_spread": payload["queries_sample_spread"],
        "methodology": payload["methodology"],
    }


def _canary2_minhash(spark):
    """Frozen persist-class canary: MinHash-LSH near-dup pairs over a
    deterministic hash-slice of documents. This plan must NEVER change —
    its wall-clock moves only with host conditions and persist/harness
    policy, which is exactly what it exists to witness."""
    from pyspark.sql import functions as F

    from alibaba_cppfeaturestore_spark.operators import dedup as DD

    docs = (
        spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        .where(F.pmod(F.xxhash64("doc_id"), F.lit(4)) == 0)
        .select("doc_id", "text")
    )
    return DD.minhash_lsh_duplicates(
        docs,
        text_col="text",
        id_col="doc_id",
        num_hashes=32,
        bands=4,
        jaccard_threshold=0.8,
    )


if __name__ == "__main__":
    main()
