"""Driver-window integrity contract (r10 verdict items 1 + 8).

Round 10 violated the repo's own "changed entries always head the
window" rule for three entries because the changed-set was assembled by
hand mid-round. These tests make that class of omission structurally
impossible: the window is validated mechanically (size, uniqueness,
oracle coverage, queries() prefix), and every catalog.py entry
git-touched since the last driver round-close commit must either sit in
``_DRIVER_WINDOW`` or be spelled in ``_WINDOW_EXEMPT_CHANGED`` with a
written reason.
"""

from __future__ import annotations

import os
import sys
from types import SimpleNamespace

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))
sys.path.insert(0, REPO)

import __spark_entry__ as entry  # noqa: E402
import freshness  # noqa: E402


@pytest.fixture(scope="module")
def live():
    """The live diff against the last round-close commit, attributed once
    for every test that reads it: each attribution re-parses the package
    and rebuilds its call graph."""
    base = freshness.last_round_commit()
    module_deps = freshness.entry_module_deps()
    if base is None:
        return SimpleNamespace(base=None, module_deps=module_deps)
    return SimpleNamespace(
        base=base,
        module_deps=module_deps,
        touched_entries=freshness.git_touched_entries(base),
        touched_modules=freshness.git_touched_modules(base),
        causes=freshness.module_touch_causes(base),
        changed=freshness.effectively_changed(base),
    )


def test_window_shape():
    # The playbook's hand-checks, mechanized: 50 entries, no dupes,
    # every one oracled (the driver's strict gate needs the SQL twin),
    # and the window is exactly the prefix of queries() — the driver
    # runs a 50-entry prefix, so any reordering bug silently swaps
    # which entries get checked.
    w = entry._DRIVER_WINDOW
    assert len(w) == 50
    assert len(set(w)) == 50
    oracles = entry.oracle_sql()
    missing = [n for n in w if n not in oracles]
    assert not missing, f"window entries without oracles: {missing}"
    assert list(entry.queries())[:50] == w


def test_entry_spans_parse_the_real_catalog():
    with open(os.path.join(REPO, freshness.CATALOG_REL)) as f:
        spans = freshness.entry_spans(f.read())
    names = [n for _, _, n in spans]
    assert len(names) >= 200
    assert len(set(names)) == len(names)
    assert "q1_pricing_summary" in names
    # spans are contiguous and ordered
    for (s1, e1, _), (s2, _, _) in zip(spans, spans[1:]):
        assert s1 <= e1 and e1 + 1 == s2


def test_entry_spans_hermetic():
    src = (
        "PREAMBLE = 1\n"
        "@_q(\n"
        '    "alpha",\n'
        '    "SELECT 1",\n'
        ")\n"
        "def a(spark, sf):\n"
        "    pass\n"
        "@_q(\n"
        '    "beta",\n'
        ")\n"
        "def b(spark, sf):\n"
        "    pass\n"
    )
    spans = freshness.entry_spans(src)
    assert spans == [(2, 7, "alpha"), (8, 12, "beta")]


def test_mid_file_helper_edits_attribute_to_callers():
    # A helper def or constant defined between two entries sits inside
    # the previous entry's span; an edit to it must touch the entries
    # that use it (directly or through another mid-file helper), not
    # that host span.
    src = (
        "@_q(\n"  # 1
        '    "alpha",\n'
        ")\n"
        "def a(spark, sf):\n"
        "    pass\n"  # 5
        "\n"
        "def _stage(x):\n"
        "    return x\n"  # 8
        "_SQL = 'SELECT 1'\n"  # 9
        "def _wrap(x):\n"
        "    return _stage(x)\n"  # 11
        "@_q(\n"
        '    "beta",\n'
        "    _SQL,\n"
        ")\n"
        "def b(spark, sf):\n"
        "    return _wrap(1)\n"  # 17
        "@_q(\n"
        '    "gamma",\n'
        ")\n"
        "def c(spark, sf):\n"
        "    return _stage(2)\n"  # 22
    )
    assert freshness.entry_spans(src)[0] == (1, 11, "alpha")
    assert freshness.entries_for_lines(src, {8}) == {"beta", "gamma"}
    assert freshness.entries_for_lines(src, {9}) == {"beta"}
    assert freshness.entries_for_lines(src, {11}) == {"beta"}
    assert freshness.entries_for_lines(src, {5}) == {"alpha"}
    assert freshness.entries_for_lines(src, {6}) == set()  # blank separator
    assert freshness.entries_for_lines(src, {17, 22}) == {"beta", "gamma"}


def test_plan_fails_on_untracked_package_module(tmp_path, monkeypatch):
    # git diff cannot see an untracked module, so --plan must refuse to
    # plan and name the file instead of silently attributing nothing.
    import subprocess

    repo = tmp_path / "r"
    pkg = repo / "alibaba_cppfeaturestore_spark"
    pkg.mkdir(parents=True)
    subprocess.run(["git", "init", "-q"], cwd=repo, check=True)
    (pkg / "m.py").write_text("X = 1\n")
    (repo / ".gitignore").write_text("__pycache__/\n")
    subprocess.run(["git", "add", "-A"], cwd=repo, check=True)
    subprocess.run(
        ["git", "-c", "user.email=t@t", "-c", "user.name=t",
         "commit", "-qm", "round 0: base"], cwd=repo, check=True)
    monkeypatch.setattr(freshness, "REPO", str(repo))
    assert freshness.untracked_modules() == []
    (pkg / "new.py").write_text("Y = 2\n")
    (pkg / "__pycache__").mkdir()
    (pkg / "__pycache__" / "ignored.py").write_text("")
    assert freshness.untracked_modules() == ["alibaba_cppfeaturestore_spark/new.py"]
    monkeypatch.setattr(sys, "argv", ["freshness.py", "--plan"])
    with pytest.raises(SystemExit) as exc:
        freshness.main()
    assert "alibaba_cppfeaturestore_spark/new.py" in str(exc.value.code)


def test_entry_spans_name_after_comment():
    # r11 advice: a comment (or blank line) between `@_q(` and the name
    # string must not silently merge the entry into the previous span.
    src = (
        "@_q(\n"
        '    "alpha",\n'
        ")\n"
        "def a(spark, sf):\n"
        "    pass\n"
        "@_q(\n"
        "    # policy note ahead of the name\n"
        "\n"
        '    "beta",\n'
        ")\n"
        "def b(spark, sf):\n"
        "    pass\n"
    )
    spans = freshness.entry_spans(src)
    assert [n for _, _, n in spans] == ["alpha", "beta"]


def test_entry_spans_raise_on_unparsed_decorator():
    # Every @_q( occurrence must yield exactly one name — a decorator
    # whose name can't be found is a window-integrity hole, not a skip.
    import pytest as _pytest

    src = (
        "@_q(\n"
        "    NAME_CONSTANT,\n"  # not a string literal
        ")\n"
        "def a(spark, sf):\n"
        "    pass\n"
    )
    with _pytest.raises(ValueError, match="entry names parsed"):
        freshness.entry_spans(src)


def test_touched_entries_in_window_or_exempt(live):
    base = live.base
    if base is None:
        pytest.skip("no round-close commit to diff against")
    touched = live.touched_entries
    oracles = entry.oracle_sql()
    window = set(entry._DRIVER_WINDOW)
    exempt = entry._WINDOW_EXEMPT_CHANGED
    for name, reason in exempt.items():
        assert reason.strip(), f"exemption for {name} needs a written reason"
    missing = sorted(
        n for n in touched if n in oracles and n not in window and n not in exempt
    )
    assert not missing, (
        f"entries git-touched since {base[:8]} but neither windowed nor "
        f"exempted: {missing} — regenerate the window "
        f"(python tools/freshness.py --plan --changed ...) or add a "
        f"reasoned _WINDOW_EXEMPT_CHANGED entry"
    )


def test_module_touched_entries_in_window_or_exempt(live):
    """r11 verdict item 4, refined at r12: an entry whose fix lands in
    operators/*.py changes behavior with no catalog span edit — the
    FUNCTION-level attribution (freshness.module_touch_causes: per-def
    diff spans + cross-module call-graph reverse closure, conservative
    '*'/preamble fallbacks) makes exactly those entries windowable
    mechanically. A module rel path in _WINDOW_EXEMPT_CHANGED exempts
    dependents whose promotion causes are all exempted (escape hatch
    for wide-blast-radius files, certified by a full strict run)."""
    untracked = freshness.untracked_modules()
    assert not untracked, (
        f"untracked package modules {untracked} are invisible to the "
        f"git-diff attribution — git add them"
    )
    base = live.base
    if base is None:
        pytest.skip("no round-close commit to diff against")
    causes = live.causes
    oracles = entry.oracle_sql()
    window = set(entry._DRIVER_WINDOW)
    exempt = entry._WINDOW_EXEMPT_CHANGED
    missing = sorted(
        n
        for n, cm in causes.items()
        if n in oracles
        and n not in window
        and n not in exempt
        and not cm <= set(exempt)
    )
    assert not missing, (
        f"entries whose used defs changed since {base[:8]} but neither "
        f"windowed nor exempted: {missing} — regenerate the window "
        f"(python tools/freshness.py --plan) or add a reasoned "
        f"_WINDOW_EXEMPT_CHANGED entry (entry name or module rel path)"
    )


def test_entry_module_deps_sanity(live):
    """The dependency map must attribute the known hard cases: the kv
    entries depend on functions/kv.py, every _t-loading entry on
    plans/views.py (via the preamble helper), the curation funnel on
    the shared mid-file _curation_stages helper's modules, and the
    timeseries entries on operators/timeseries.py."""
    deps = live.module_deps
    pkg = "alibaba_cppfeaturestore_spark"
    assert f"{pkg}/functions/kv.py" in deps["kv_parse_roundtrip"]
    assert f"{pkg}/plans/views.py" in deps["q1_pricing_summary"]
    assert f"{pkg}/operators/dedup.py" in deps["llm_corpus_curation_funnel"]
    assert f"{pkg}/operators/timeseries.py" in deps["timeseries_twap_user"]
    assert f"{pkg}/streaming/pipeline.py" in deps["stream_tumbling_window_counts"]
    # transitive: the aliccp e2e goes through plans/aliccp.py -> functions/kv.py
    assert f"{pkg}/plans/aliccp.py" in deps["aliccp_bronze_to_silver_e2e"]
    assert f"{pkg}/functions/kv.py" in deps["aliccp_bronze_to_silver_e2e"]


def test_function_level_attribution_on_the_live_diff(live):
    """Acceptance pins for the r12 function-level refinement, run
    against the real diff vs the last round-close commit (they hold for
    any diff shape by construction; the assertions target invariants,
    not this round's specifics):
    - promotion ⊆ the coarse module-level answer (refinement only ever
      SUBTRACTS — the conservative direction is preserved);
    - every promoted entry's causes are git-touched or call-graph
      affected modules;
    - a module whose diff touches only ONE def never promotes entries
      that neither use that def nor reach it through the call graph."""
    base = live.base
    if base is None:
        pytest.skip("no round-close commit to diff against")
    touched = live.touched_modules
    if not touched:
        pytest.skip("no module diff to attribute")
    causes = live.causes
    coarse = {
        n for n, deps in live.module_deps.items() if deps & touched
    }
    assert set(causes) <= coarse, "refinement promoted OUTSIDE the coarse set"
    affected, preamble = live.changed
    affected_mods = {m for m, _ in affected} | set(preamble) | touched
    for n, cm in causes.items():
        assert cm <= affected_mods, f"{n} promoted by an unaffected module {cm}"


def test_changed_functions_ignore_blank_line_insertions(tmp_path, monkeypatch):
    """A purely-additive function insertion drags blank separator lines
    into the diff; those must not flag the module preamble (which would
    conservatively promote every dependent)."""
    import subprocess

    repo = tmp_path / "r"
    repo.mkdir()
    subprocess.run(["git", "init", "-q"], cwd=repo, check=True)
    pkg = repo / "alibaba_cppfeaturestore_spark"
    pkg.mkdir()
    mod = pkg / "m.py"
    mod.write_text("X = 1\n\n\ndef f():\n    return X\n")
    subprocess.run(["git", "add", "-A"], cwd=repo, check=True)
    subprocess.run(
        ["git", "-c", "user.email=t@t", "-c", "user.name=t",
         "commit", "-qm", "round 0: base"], cwd=repo, check=True)
    ref = subprocess.run(["git", "rev-parse", "HEAD"], cwd=repo,
                         capture_output=True, text=True, check=True).stdout.strip()
    # additive: new def g, separated by blank lines; f untouched
    mod.write_text("X = 1\n\n\ndef f():\n    return X\n\n\ndef g():\n    return 2\n")
    monkeypatch.setattr(freshness, "REPO", str(repo))
    direct, preamble = freshness.changed_functions(ref)
    rel = "alibaba_cppfeaturestore_spark/m.py"
    assert (rel, "g") in direct
    assert (rel, "f") not in direct
    assert rel not in preamble, "blank separator lines flagged the preamble"
    # and a REAL preamble change (the constant) flags it
    mod.write_text("X = 2\n\n\ndef f():\n    return X\n\n\ndef g():\n    return 2\n")
    direct2, preamble2 = freshness.changed_functions(ref)
    assert rel in preamble2


def test_call_graph_reverse_closure_is_cross_module():
    """bronze_to_silver (plans/aliccp.py) calls parse_kv_triplets
    (functions/kv.py): if kv.py's parser def is changed, aliccp's
    caller must be effectively changed through the closure."""
    graph = freshness.module_function_graph()
    pkg = "alibaba_cppfeaturestore_spark"
    refs = graph[(f"{pkg}/plans/aliccp.py", "bronze_to_silver")]
    assert (f"{pkg}/functions/kv.py", "parse_kv_triplets") in refs or (
        f"{pkg}/functions/kv.py", "*") in refs
