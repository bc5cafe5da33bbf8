"""Driver-row freshness ledger and next-window planner.

The per-round driver checks a 50-entry prefix of ``queries()`` against
the DuckDB oracles and records the rows in ``CORRECTNESS_r{N}.json``.
Entries not in the window keep their last green row, which AGES — and
entries whose implementation or oracle changed need fresh rows
regardless of age. This tool turns the round-start planning ritual into
one command:

    python tools/freshness.py            # ledger: latest round per entry
    python tools/freshness.py --plan     # proposed next 50-entry window
    python tools/freshness.py --plan --changed a,b,c
                                         # changed entries head the window

The proposal is the policy every round has followed by hand: (1) entries
whose code/oracle changed this round (pass via --changed), (2) the
oldest driver rows, oldest round first then alphabetical, (3) entries
with NO driver row yet (new this round), ahead of everything except
changed ones. Oracle-less entries are listed but never windowed (the
driver records only rows-only checks for them).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import subprocess
import sys
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
WINDOW = 50
CATALOG_REL = "alibaba_cppfeaturestore_spark/plans/catalog.py"


def last_round_commit() -> str | None:
    """Hash of the newest driver round-close commit ('round N: ...') —
    the baseline 'what changed this round' diffs against."""
    try:
        out = subprocess.run(
            ["git", "log", "--format=%H %s"],
            cwd=REPO, capture_output=True, text=True, check=True,
        ).stdout
    except (OSError, subprocess.CalledProcessError):
        return None
    for line in out.splitlines():
        h, _, subj = line.partition(" ")
        if re.match(r"round \d+:", subj):
            return h
    return None


def entry_spans(catalog_src: str) -> list[tuple[int, int, str]]:
    """(start_line, end_line, entry_name) 1-based inclusive spans of each
    ``@_q(...)``-decorated entry in catalog.py: decorator line through
    the line before the next decorator (last entry runs to EOF). Lines
    before the first decorator are shared preamble (helpers/constants) —
    deliberately unattributed: a preamble edit potentially touches every
    entry and is certified by the full-catalog strict run, not by
    windowing all 200+ entries."""
    lines = catalog_src.splitlines()
    starts: list[tuple[int, str]] = []
    n_decorators = 0
    for i, line in enumerate(lines):
        if line.startswith("@_q("):
            n_decorators += 1
            # Scan forward past comment/blank lines to the first string
            # literal — a comment between `@_q(` and the name (r11
            # advice) must not silently merge the entry into the
            # previous span.
            m = re.search(r'"([^"]+)"', line)
            j = i + 1
            while m is None and j < len(lines):
                stripped = lines[j].strip()
                if stripped and not stripped.startswith("#"):
                    m = re.search(r'"([^"]+)"', lines[j])
                    break
                j += 1
            if m:
                starts.append((i + 1, m.group(1)))
    if len(starts) != n_decorators:
        raise ValueError(
            f"entry_spans: {n_decorators} @_q( decorators but only "
            f"{len(starts)} entry names parsed — a decorator's name "
            "string was not found (window-integrity gate would miss it)"
        )
    spans = []
    for k, (start, name) in enumerate(starts):
        end = starts[k + 1][0] - 1 if k + 1 < len(starts) else len(lines)
        spans.append((start, end, name))
    return spans


def git_touched_entries(ref: str) -> set[str]:
    """Catalog entries whose span intersects any line changed since
    ``ref`` (new-file coordinates from ``git diff -U0``). Pure deletions
    (+c,0 hunks) touch the boundary lines c and c+1, so a removed oracle
    clause still attributes to the entry it was removed from."""
    try:
        diff = subprocess.run(
            ["git", "diff", "-U0", ref, "--", CATALOG_REL],
            cwd=REPO, capture_output=True, text=True, check=True,
        ).stdout
    except (OSError, subprocess.CalledProcessError):
        return set()
    touched: set[int] = set()
    for m in re.finditer(r"^@@ -\d+(?:,\d+)? \+(\d+)(?:,(\d+))? @@", diff, re.M):
        c = int(m.group(1))
        d = int(m.group(2)) if m.group(2) is not None else 1
        touched.update(range(c, c + d) if d else (c, c + 1))
    if not touched:
        return set()
    with open(os.path.join(REPO, CATALOG_REL)) as f:
        return entries_for_lines(f.read(), touched)


def _stmt_start(node) -> int:
    return min([node.lineno] + [d.lineno for d in getattr(node, "decorator_list", [])])


def mid_file_helpers(catalog_src: str) -> dict[str, tuple[int, int, set[str]]]:
    """name -> (start, end, names it references) for every top-level
    helper def or constant that sits BETWEEN two entries. Such a helper
    lies inside the previous entry's span but belongs to the entries
    that reference it (``_stream_events``, defined after
    ``json_codec_roundtrip``, is called only by the stream entries), so
    every attribution here reads entry spans without these lines."""
    import ast

    spans = entry_spans(catalog_src)
    if not spans:
        return {}
    starts = {start for start, _, _ in spans}
    helpers: dict[str, tuple[int, int, set[str]]] = {}
    for node in ast.parse(catalog_src).body:
        start = _stmt_start(node)
        if start < spans[0][0] or start in starts:
            continue
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            bound = [node.name]
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            bound = [t.id for t in targets if isinstance(t, ast.Name)]
        else:
            bound = []
        used = {n.id for n in ast.walk(node) if isinstance(n, ast.Name)}
        for name in bound:
            helpers[name] = (start, node.end_lineno, used - {name})
    return helpers


def _entry_lines(catalog_src: str) -> list[str]:
    """The catalog's lines with every mid-file helper blanked out, so
    that a span's text is its own entry's."""
    lines = catalog_src.splitlines()
    for s, e, _ in mid_file_helpers(catalog_src).values():
        lines[s - 1 : e] = [""] * (e - s + 1)
    return lines


def entries_for_lines(catalog_src: str, lines: set[int]) -> set[str]:
    """Entries that changed catalog ``lines`` (1-based) touch: a line in
    an entry's own statement touches that entry; a line in a
    :func:`mid_file_helpers` helper touches every entry whose decorator
    or body names it, directly or through other mid-file helpers;
    another statement between entries touches the span it sits in.
    Blank and comment lines between statements touch nothing (they
    carry no behavior — a helper edit's separator lines must not promote
    the host span either). The preamble before the first entry stays
    unattributed (see ``entry_spans``)."""
    import ast

    spans = entry_spans(catalog_src)
    helpers = mid_file_helpers(catalog_src)
    names_at = {start: name for start, _, name in spans}
    entry_refs: dict[str, set[str]] = {}
    in_stmt: set[int] = set()
    for node in ast.parse(catalog_src).body:
        start = _stmt_start(node)
        in_stmt.update(range(start, node.end_lineno + 1))
        if start in names_at:
            entry_refs[names_at[start]] = {
                n.id for n in ast.walk(node) if isinstance(n, ast.Name)
            }
    touched = {h for h, (s, e, _) in helpers.items() if any(s <= ln <= e for ln in lines)}
    grown = True  # helper-uses-helper closure
    while grown:
        grown = False
        for h, (_, _, refs) in helpers.items():
            if h not in touched and refs & touched:
                touched.add(h)
                grown = True
    in_helper = {ln for s, e, _ in helpers.values() for ln in range(s, e + 1)}
    own_lines = (lines & in_stmt) - in_helper
    return {
        name
        for start, end, name in spans
        if any(start <= ln <= end for ln in own_lines)
        or entry_refs.get(name, set()) & touched
    }


PKG = "alibaba_cppfeaturestore_spark"


def _imports_of(rel_path: str, src: str) -> dict[str, str]:
    """bound-name -> package-internal module rel path, for every
    ``import``/``from-import`` in ``src`` (a file at ``rel_path``).
    Resolves relative levels against the file's package and absolute
    ``alibaba_cppfeaturestore_spark.*`` imports; stdlib/pyspark imports
    are dropped. When an imported name is itself a submodule file, the
    binding points at that file; otherwise at the parent module."""
    import ast

    pkg_parts = rel_path.split("/")[:-1]  # file's package directories
    out: dict[str, str] = {}

    def _target(parts: list[str], name: str) -> str | None:
        sub = os.path.join(REPO, *parts, f"{name}.py")
        if os.path.isfile(sub):
            return "/".join(parts + [f"{name}.py"])
        mod = os.path.join(REPO, *parts) + ".py"
        if os.path.isfile(mod):
            return "/".join(parts) + ".py"
        init = os.path.join(REPO, *parts, "__init__.py")
        if os.path.isfile(init):
            return "/".join(parts + ["__init__.py"])
        return None

    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.ImportFrom):
            if node.level:
                base = pkg_parts[: len(pkg_parts) - (node.level - 1)]
            elif node.module and node.module.split(".")[0] == PKG:
                base = []
            else:
                continue
            parts = base + (node.module.split(".") if node.module else [])
            for alias in node.names:
                tgt = _target(parts, alias.name)
                if tgt and tgt.startswith(PKG + "/"):
                    out[alias.asname or alias.name] = tgt
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] != PKG:
                    continue
                tgt = _target(alias.name.split(".")[:-1], alias.name.split(".")[-1])
                if tgt and tgt.startswith(PKG + "/"):
                    out[alias.asname or alias.name.split(".")[0]] = tgt
    return out


def package_import_graph() -> dict[str, set[str]]:
    """rel path -> set of package-internal rel paths it imports (direct)."""
    graph: dict[str, set[str]] = {}
    for path in glob.glob(os.path.join(REPO, PKG, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, REPO)
        with open(path) as f:
            graph[rel] = set(_imports_of(rel, f.read()).values())
    return graph


# ---------------------------------------------------------------------------
# Function-level refinement (r12): module-level promotion re-windowed 16
# fresh entries for two purely-ADDITIVE module diffs, and could not see
# that only time_weighted_avg's body changed inside timeseries.py. The
# function layer attributes each entry to the specific module DEFS it
# uses, builds a cross-module function call graph, and promotes an entry
# only when a def it (transitively) depends on actually intersects the
# diff. Everything unresolvable stays CONSERVATIVE: a bare module dep is
# (mod, "*") and any touch of that module promotes; a changed preamble
# (code outside every top-level def: imports, constants) effectively
# changes every def in the module.
# ---------------------------------------------------------------------------


def module_def_spans(src: str) -> dict[str, tuple[int, int]]:
    """Top-level def/class name -> (start_line, end_line), decorators
    included. Lines outside every span are the module preamble."""
    import ast

    tree = ast.parse(src)
    spans: dict[str, tuple[int, int]] = {}
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            start = min(
                [node.lineno] + [d.lineno for d in node.decorator_list]
            )
            spans[node.name] = (start, node.end_lineno)
    return spans


def _segments(src: str):
    """``ast.get_source_segment`` over ``src``, which it splits once: the
    stdlib splits the whole source again on every call, in pure Python,
    ~0.05 s per call on the catalog and most of an attribution's time."""
    lines = re.findall(r"[^\r\n]*(?:\r\n|\r|\n)|[^\r\n]+$", src)

    def segment(node) -> str:
        first, last = node.lineno - 1, node.end_lineno - 1
        head = lines[first].encode()
        if first == last:
            return head[node.col_offset : node.end_col_offset].decode()
        tail = lines[last].encode()[: node.end_col_offset].decode()
        return "".join([head[node.col_offset :].decode(), *lines[first + 1 : last], tail])

    return segment


def _module_sources() -> dict[str, str]:
    out = {}
    for path in glob.glob(os.path.join(REPO, PKG, "**", "*.py"), recursive=True):
        with open(path) as f:
            out[os.path.relpath(path, REPO)] = f.read()
    return out


def _refs_in(node, binds: dict[str, str], mod_defs: dict[str, dict[str, tuple]],
             self_mod: str, self_defs: dict[str, tuple]) -> set[tuple[str, str]]:
    """(mod, def) references inside one ast node: sibling defs by Name,
    from-imported defs by Name, internal-module aliases by attribute
    access; an alias used WITHOUT attribute resolution degrades to
    (mod, '*')."""
    import ast

    refs: set[tuple[str, str]] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Attribute) and isinstance(n.value, ast.Name):
            mod = binds.get(n.value.id)
            if mod is not None:
                if n.attr in mod_defs.get(mod, {}):
                    refs.add((mod, n.attr))
                else:
                    refs.add((mod, "*"))  # constant / unresolvable attr
        elif isinstance(n, ast.Name):
            if n.id in self_defs:
                refs.add((self_mod, n.id))
            else:
                mod = binds.get(n.id)
                if mod is not None:
                    name = n.id if n.id in mod_defs.get(mod, {}) else "*"
                    refs.add((mod, name))
    return refs


def module_function_graph() -> dict[tuple[str, str], set[tuple[str, str]]]:
    """(mod, def) -> directly-referenced (mod2, def2) edges across the
    whole package (imports resolved; '*' = conservative whole-module)."""
    import ast

    sources = _module_sources()
    mod_defs = {rel: module_def_spans(src) for rel, src in sources.items()}
    graph: dict[tuple[str, str], set[tuple[str, str]]] = {}
    for rel, src in sources.items():
        binds = _imports_of(rel, src)
        tree = ast.parse(src)
        segment = _segments(src)
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                # in-def imports bind locally; merge them over the module binds
                local = dict(binds)
                local.update(_imports_of(rel, segment(node)))
                refs = _refs_in(node, local, mod_defs, rel, mod_defs[rel])
                graph[(rel, node.name)] = {
                    r for r in refs if r != (rel, node.name)
                }
    return graph


def changed_functions(ref: str) -> tuple[set[tuple[str, str]], set[str]]:
    """(directly diff-touched (mod, def) set, modules whose PREAMBLE
    changed) for every package module changed since ``ref``. A deleted
    hunk (+c,0) touches lines c and c+1 like git_touched_entries."""
    touched_defs: set[tuple[str, str]] = set()
    preamble_mods: set[str] = set()
    for mod in git_touched_modules(ref):
        try:
            diff = subprocess.run(
                ["git", "diff", "-U0", ref, "--", mod],
                cwd=REPO, capture_output=True, text=True, check=True,
            ).stdout
        except (OSError, subprocess.CalledProcessError):
            preamble_mods.add(mod)  # can't read the diff: conservative
            continue
        lines: set[int] = set()
        for m in re.finditer(r"^@@ -\d+(?:,\d+)? \+(\d+)(?:,(\d+))? @@", diff, re.M):
            c = int(m.group(1))
            d = int(m.group(2)) if m.group(2) is not None else 1
            lines.update(range(c, c + d) if d else (c, c + 1))
        path = os.path.join(REPO, mod)
        if not os.path.isfile(path):
            preamble_mods.add(mod)  # deleted module: conservative
            continue
        with open(path) as f:
            mod_src = f.read()
        spans = module_def_spans(mod_src)
        in_any = set()
        for name, (s, e) in spans.items():
            hit = {ln for ln in lines if s <= ln <= e}
            if hit:
                touched_defs.add((mod, name))
                in_any |= hit
        # Preamble = changed CODE outside every def span. Blank and
        # comment-only lines are excluded: a purely-additive function
        # insertion drags its blank separator lines into the diff, and
        # those must not flag the whole module (they carry no behavior).
        src_lines = mod_src.splitlines()
        for ln in lines - in_any:
            text = src_lines[ln - 1].strip() if 0 < ln <= len(src_lines) else ""
            if text and not text.startswith("#"):
                preamble_mods.add(mod)
                break
    return touched_defs, preamble_mods


def effectively_changed(ref: str) -> tuple[set[tuple[str, str]], set[str]]:
    """Reverse call-graph closure of the diff: every (mod, def) whose
    behavior can differ because something it (transitively) references
    changed, plus preamble-changed modules (ALL their defs count)."""
    direct, preamble_mods = changed_functions(ref)
    graph = module_function_graph()
    # expand preamble-changed modules to all of their defs
    seeds = set(direct)
    for (mod, name) in graph:
        if mod in preamble_mods:
            seeds.add((mod, name))
    # reverse closure: f is affected if any ref of f is affected. A
    # (mod, '*') reference counts as affected when ANY def of mod (or
    # its preamble) is in the affected set.
    affected = set(seeds)
    changed_mods = {m for m, _ in seeds} | set(preamble_mods)
    progress = True
    while progress:
        progress = False
        for fn, refs in graph.items():
            if fn in affected:
                continue
            for (m, d) in refs:
                if (m, d) in affected or (d == "*" and m in changed_mods):
                    affected.add(fn)
                    changed_mods.add(fn[0])
                    progress = True
                    break
    return affected, preamble_mods


def entry_module_deps() -> dict[str, set[str]]:
    """entry name -> TRANSITIVE set of package module rel paths whose
    behavior the entry's Spark side depends on (r11 verdict item 4 —
    the planner's catalog-span diff cannot see a fix that lands in
    operators/*.py; this map makes module edits attributable).

    Attribution inside catalog.py: an import statement physically
    inside an entry's span binds to that entry; module-level imports
    (col 0) bind names globally, and any span whose source mentions a
    globally-bound name (word boundary) picks up that module. String/
    comment mentions over-attribute — safe direction: more windowing,
    never less. The per-entry set is then closed over the package
    import graph (an aliccp.py caller depends on functions/kv.py too)."""
    import ast

    with open(os.path.join(REPO, CATALOG_REL)) as f:
        src = f.read()
    spans = entry_spans(src)
    lines = _entry_lines(src)
    tree = ast.parse(src)
    segment = _segments(src)

    global_binds: dict[str, str] = {}
    direct: dict[str, set[str]] = {name: set() for _, _, name in spans}

    def span_of(lineno: int) -> str | None:
        for start, end, name in spans:
            if start <= lineno <= end and lines[lineno - 1]:
                return name
        return None

    for node in ast.walk(tree):
        if not isinstance(node, (ast.Import, ast.ImportFrom)):
            continue
        binds = _imports_of(CATALOG_REL, segment(node))
        if not binds:
            continue
        if node.col_offset == 0:
            global_binds.update(binds)
        owner = span_of(node.lineno)
        if owner and node.col_offset > 0:
            direct[owner].update(binds.values())

    pats = {
        name: re.compile(rf"\b{re.escape(name)}\b") for name in global_binds
    }
    for start, end, name in spans:
        body = "\n".join(lines[start - 1 : end])
        for bound, pat in pats.items():
            if pat.search(body):
                direct[name].add(global_binds[bound])

    # Preamble helpers (_t, _emb_finite, ...) carry module deps of their
    # own (views.load_table inside _t, vectors.is_finite_vector inside
    # _emb_finite) — the preamble is span-unattributed, so those deps
    # must flow to exactly the entries that USE each helper, or a
    # views.py edit would attribute to nothing while a vectors.py edit
    # universal-attributed would window every TPC-H entry for no reason.
    helper_deps: dict[str, set[str]] = {}
    helper_refs: dict[str, set[str]] = {}

    def _is_entry_def(node) -> bool:
        return any(
            isinstance(d, ast.Call) and getattr(d.func, "id", "") == "_q"
            for d in node.decorator_list
        )

    # Helpers = every module-level def that is not an @_q entry — both
    # the preamble (_t, _emb_finite) and mid-file shared stages
    # (_curation_stages): a mid-file helper physically sits inside the
    # PREVIOUS entry's span, so name-scan attribution must route its
    # deps to the entries that CALL it, not its accidental host span.
    preamble_defs = [
        node
        for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and not _is_entry_def(node)
    ]
    helper_names = {d.name for d in preamble_defs}
    for d in preamble_defs:
        used = {
            n.id for n in ast.walk(d) if isinstance(n, ast.Name)
        }
        helper_deps[d.name] = {global_binds[u] for u in used if u in global_binds}
        helper_refs[d.name] = (used & helper_names) - {d.name}
    changed_fp = True  # helper-calls-helper fixpoint
    while changed_fp:
        changed_fp = False
        for h, refs in helper_refs.items():
            for r in refs:
                if not helper_deps[r] <= helper_deps[h]:
                    helper_deps[h] |= helper_deps[r]
                    changed_fp = True
    helper_pats = {
        h: re.compile(rf"\b{re.escape(h)}\b")
        for h, mods in helper_deps.items()
        if mods
    }
    for start, end, name in spans:
        body = "\n".join(lines[start - 1 : end])
        for h, pat in helper_pats.items():
            if pat.search(body):
                direct[name] |= helper_deps[h]

    graph = package_import_graph()

    closure_cache: dict[str, set[str]] = {}

    def closure(mod: str) -> set[str]:
        if mod in closure_cache:
            return closure_cache[mod]
        closure_cache[mod] = {mod}  # cycle guard
        acc = {mod}
        for dep in graph.get(mod, ()):
            acc |= closure(dep)
        closure_cache[mod] = acc
        return acc

    return {
        name: set().union(*(closure(m) for m in mods)) if mods else set()
        for name, mods in direct.items()
    }


def _imports_of_detail(rel_path: str, src: str) -> dict[str, tuple[str, str]]:
    """bound-name -> (module rel path, kind): kind 'module' when the
    binding IS the module object (``from ..functions import text as
    TX``), 'member' when it binds a name defined inside the module."""
    import ast

    pkg_parts = rel_path.split("/")[:-1]
    out: dict[str, tuple[str, str]] = {}

    def _target(parts, name):
        sub = os.path.join(REPO, *parts, f"{name}.py")
        if os.path.isfile(sub):
            return "/".join(parts + [f"{name}.py"]), "module"
        mod = os.path.join(REPO, *parts) + ".py"
        if os.path.isfile(mod):
            return "/".join(parts) + ".py", "member"
        init = os.path.join(REPO, *parts, "__init__.py")
        if os.path.isfile(init):
            return "/".join(parts + ["__init__.py"]), "member"
        return None, ""

    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.ImportFrom):
            if node.level:
                base = pkg_parts[: len(pkg_parts) - (node.level - 1)]
            elif node.module and node.module.split(".")[0] == PKG:
                base = []
            else:
                continue
            parts = base + (node.module.split(".") if node.module else [])
            for alias in node.names:
                tgt, kind = _target(parts, alias.name)
                if tgt and tgt.startswith(PKG + "/"):
                    out[alias.asname or alias.name] = (tgt, kind)
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] != PKG:
                    continue
                tgt, kind = _target(
                    alias.name.split(".")[:-1], alias.name.split(".")[-1]
                )
                if tgt and tgt.startswith(PKG + "/"):
                    out[alias.asname or alias.name.split(".")[0]] = (tgt, "module")
    return out


def entry_function_deps() -> dict[str, set[tuple[str, str]]]:
    """entry -> DIRECT (module rel path, def name) dependencies; '*' as
    the def means the whole module (unresolvable reference —
    conservative). Same attribution walk as ``entry_module_deps``
    (in-span imports, global binds, helper routing) but at def
    granularity: member binds attribute the named def, module aliases
    attribute each ``ALIAS.attr`` that resolves to a top-level def (a
    bare alias or unresolved attr degrades to '*'). Transitivity is NOT
    closed here — ``effectively_changed``'s function call graph carries
    it at diff time."""
    import ast

    with open(os.path.join(REPO, CATALOG_REL)) as f:
        src = f.read()
    spans = entry_spans(src)
    lines = _entry_lines(src)
    tree = ast.parse(src)
    segment = _segments(src)
    mod_defs = {rel: module_def_spans(s) for rel, s in _module_sources().items()}

    def pairs_for(binds: dict[str, tuple[str, str]], body: str) -> set[tuple[str, str]]:
        out: set[tuple[str, str]] = set()
        for name, (mod, kind) in binds.items():
            if kind == "member":
                if re.search(rf"\b{re.escape(name)}\b", body):
                    out.add((mod, name if name in mod_defs.get(mod, {}) else "*"))
            else:  # module alias: resolve attribute accesses
                used = False
                for m in re.finditer(rf"\b{re.escape(name)}\.(\w+)", body):
                    used = True
                    attr = m.group(1)
                    out.add((mod, attr if attr in mod_defs.get(mod, {}) else "*"))
                if not used and re.search(rf"\b{re.escape(name)}\b", body):
                    out.add((mod, "*"))  # bare module reference
        return out

    global_binds: dict[str, tuple[str, str]] = {}
    direct: dict[str, set[tuple[str, str]]] = {n: set() for _, _, n in spans}

    def span_of(lineno):
        for s, e, n in spans:
            if s <= lineno <= e and lines[lineno - 1]:
                return n
        return None

    for node in ast.walk(tree):
        if not isinstance(node, (ast.Import, ast.ImportFrom)):
            continue
        seg = segment(node)
        binds = _imports_of_detail(CATALOG_REL, seg)
        if not binds:
            continue
        if node.col_offset == 0:
            global_binds.update(binds)
        owner = span_of(node.lineno)
        if owner and node.col_offset > 0:
            s, e = next((s, e) for s, e, n in spans if n == owner)
            direct[owner] |= pairs_for(binds, "\n".join(lines[s - 1 : e]))

    for s, e, name in spans:
        body = "\n".join(lines[s - 1 : e])
        direct[name] |= pairs_for(global_binds, body)

    # helper routing, def-level (same shape as entry_module_deps)
    def _is_entry_def(node):
        return any(
            isinstance(d, ast.Call) and getattr(d.func, "id", "") == "_q"
            for d in node.decorator_list
        )

    helper_nodes = [
        n for n in tree.body
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        and not _is_entry_def(n)
    ]
    helper_names = {h.name for h in helper_nodes}
    helper_deps: dict[str, set[tuple[str, str]]] = {}
    helper_refs: dict[str, set[str]] = {}
    for h in helper_nodes:
        hb = segment(h)
        helper_deps[h.name] = pairs_for(global_binds, hb) | pairs_for(
            _imports_of_detail(CATALOG_REL, hb), hb
        )
        used = {n.id for n in ast.walk(h) if isinstance(n, ast.Name)}
        helper_refs[h.name] = (used & helper_names) - {h.name}
    changed_fp = True
    while changed_fp:
        changed_fp = False
        for h, refs in helper_refs.items():
            for r in refs:
                if not helper_deps[r] <= helper_deps[h]:
                    helper_deps[h] |= helper_deps[r]
                    changed_fp = True
    for s, e, name in spans:
        body = "\n".join(lines[s - 1 : e])
        for h, hdeps in helper_deps.items():
            if hdeps and re.search(rf"\b{re.escape(h)}\b", body):
                direct[name] |= hdeps
    return direct


def untracked_modules() -> list[str]:
    """Untracked, non-ignored ``.py`` files under the package. Every
    attribution here diffs against git, so such a file is invisible to
    it: its dependents would be neither promoted nor reported."""
    try:
        out = subprocess.run(
            ["git", "ls-files", "--others", "--exclude-standard", "--", PKG],
            cwd=REPO, capture_output=True, text=True, check=True,
        ).stdout.split()
    except (OSError, subprocess.CalledProcessError):
        return []
    return sorted(p for p in out if p.endswith(".py"))


def git_touched_modules(ref: str) -> set[str]:
    """Package files (rel paths) changed since ``ref``, catalog excluded."""
    try:
        out = subprocess.run(
            ["git", "diff", "--name-only", ref, "--", PKG],
            cwd=REPO, capture_output=True, text=True, check=True,
        ).stdout.split()
    except (OSError, subprocess.CalledProcessError):
        return set()
    return {p for p in out if p != CATALOG_REL and p.endswith(".py")}


def module_touch_causes(ref: str) -> dict[str, set[str]]:
    """entry -> the modules whose diff-affected defs cause its
    promotion, at FUNCTION granularity (r12 refinement): an entry is
    promoted only when a def it directly uses is effectively changed
    (diff-touched, preamble-module, or reachable through the
    cross-module call graph's reverse closure), or when its dep on a
    touched/affected module is unresolvable ('*' — conservative)."""
    mods = git_touched_modules(ref)
    if not mods:
        return {}
    affected, preamble_mods = effectively_changed(ref)
    affected_mods = {m for m, _ in affected} | set(preamble_mods)
    causes: dict[str, set[str]] = {}
    for entry, pairs in entry_function_deps().items():
        hit = set()
        for (m, d) in pairs:
            if d == "*":
                if m in mods or m in affected_mods:
                    hit.add(m)
            elif (m, d) in affected:
                hit.add(m)
        if hit:
            causes[entry] = hit
    return causes


def module_touched_entries(ref: str) -> set[str]:
    """Entries promoted by module/function-level diff attribution — the
    module half of the changed set (the span diff is the catalog half).
    Function-refined since r12; the coarse module-level answer
    (entry_module_deps ∩ touched modules) is printed by ``--plan`` as a
    visibility check on what the refinement subtracted."""
    return set(module_touch_causes(ref))


def load_ledger() -> dict[str, int]:
    """entry -> latest round with a driver row (any color — the driver
    re-runs reds too, and a red's existence still dates the check)."""
    latest: dict[str, int] = {}
    for f in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        m = re.search(r"r(\d+)", os.path.basename(f))
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            rows = json.load(open(f))
        except json.JSONDecodeError:
            continue
        if not isinstance(rows, dict):  # malformed-but-valid JSON: skip like a parse error
            print(f"# warning: skipping non-dict artifact {os.path.basename(f)}", file=sys.stderr)
            continue
        rows = rows.get("rows", rows)  # driver_sim wraps; driver doesn't
        if not isinstance(rows, dict):
            print(f"# warning: skipping non-dict rows in {os.path.basename(f)}", file=sys.stderr)
            continue
        for name in rows:
            if name == "meta":
                continue
            latest[name] = max(latest.get(name, 0), rnd)
    return latest


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--plan", action="store_true", help="propose the next window")
    ap.add_argument("--changed", default="", help="comma list of changed entries")
    args = ap.parse_args()
    untracked = untracked_modules() if args.plan else []
    if untracked:
        sys.exit(
            f"FAIL: untracked package modules {untracked} are invisible to "
            "the git-diff attribution — git add them before planning"
        )

    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    names = list(entry.queries())
    ledger = load_ledger()

    dist = Counter(ledger.get(n, 0) for n in names)
    print("# latest-driver-row distribution (0 = never checked):")
    for rnd in sorted(dist):
        print(f"#   r{rnd:02d}: {dist[rnd]}")

    never = [n for n in names if n not in ledger]
    no_oracle = [n for n in names if n not in oracles]
    if never:
        print(f"# never checked: {sorted(never)}")
    if no_oracle:
        print(f"# oracle-less (never windowable): {sorted(no_oracle)}")

    if not args.plan:
        for n in sorted(names, key=lambda n: (ledger.get(n, 0), n)):
            print(f"{ledger.get(n, 0):3d}  {n}")
        return

    changed = [n.strip() for n in args.changed.split(",") if n.strip()]
    bad = [n for n in changed if n not in names]
    if bad:
        sys.exit(f"unknown changed entries: {bad}")

    # r10 verdict item 8: the changed-set was assembled by hand and
    # missed three oracle-fixed entries. The planner now diffs catalog.py
    # against the last driver round-close commit itself and PROMOTES any
    # git-touched entry the hand list forgot — deliberate omissions must
    # be spelled in __spark_entry__._WINDOW_EXEMPT_CHANGED with a reason.
    exempt = getattr(entry, "_WINDOW_EXEMPT_CHANGED", {})
    base = last_round_commit()
    if base:
        auto = git_touched_entries(base)
        forgotten = sorted(
            (auto & set(names)) - set(changed) - set(exempt)
        )
        if forgotten:
            print(
                f"# auto-promoting git-touched entries missing from --changed: {forgotten}",
                file=sys.stderr,
            )
            changed += forgotten
        # Module-level half of the changed set (r11 verdict item 4): an
        # entry whose fix lands in operators/*.py changes behavior with
        # no catalog span edit (the r11 multimodal case — the pmod fix
        # touched three entries, only one had an oracle edit, and the
        # other two had to be HAND-listed). The import-graph map makes
        # those entries auto-promote like span-touched ones. A module
        # rel path in _WINDOW_EXEMPT_CHANGED exempts all its dependents
        # (the escape hatch for wide-blast-radius files like
        # plans/views.py, certified by the full-catalog strict run).
        touched_mods = git_touched_modules(base)
        if touched_mods:
            causes = module_touch_causes(base)
            # visibility check on the r12 function-level refinement:
            # show what the coarse module-level rule WOULD have promoted
            # that function attribution left out, so a human can audit
            # the subtraction instead of trusting it blind
            coarse = {
                n for n, deps in entry_module_deps().items()
                if deps & touched_mods
            }
            refined_away = sorted(coarse - set(causes))
            if refined_away:
                print(
                    f"# function-level refinement left unpromoted (their "
                    f"defs are untouched by the diff): {refined_away}",
                    file=sys.stderr,
                )
            forgotten_mod = sorted(
                n
                for n, cm in causes.items()
                if n in names
                and n not in changed
                and n not in exempt
                and not cm <= set(exempt)
            )
            if forgotten_mod:
                print(
                    f"# auto-promoting entries whose used defs changed in "
                    f"{sorted(touched_mods)}: {forgotten_mod}",
                    file=sys.stderr,
                )
                changed += forgotten_mod

    eligible = [n for n in names if n in oracles]
    pool = [n for n in eligible if n not in changed]
    # new (never-checked) entries first, then oldest rows
    pool.sort(key=lambda n: (ledger.get(n, 0), n))
    window = [n for n in changed if n in oracles] + pool
    window = window[:WINDOW]
    left_out = [n for n in changed if n in oracles and n not in window]
    if left_out:
        sys.exit(
            f"FAIL: changed entries do not fit the {WINDOW}-entry window: "
            f"{left_out} — shrink the changed set or split across rounds"
        )
    print(f"\n# proposed _DRIVER_WINDOW ({len(window)} entries):")
    print("_DRIVER_WINDOW = [")
    for n in window:
        tag = "changed" if n in changed else (
            "NEW" if n not in ledger else f"r{ledger[n]:02d}"
        )
        print(f'    "{n}",  # {tag}')
    print("]")
    leftover = [n for n in eligible if n not in window]
    oldest_left = sorted(leftover, key=lambda n: (ledger.get(n, 0), n))[:15]
    print(f"# {len(leftover)} eligible entries left out; oldest 15: {oldest_left}")


if __name__ == "__main__":
    main()
