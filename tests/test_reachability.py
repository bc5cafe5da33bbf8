"""Every public package function, and every option it branches on, has
a caller outside the tests.

An AST pass over the code that runs outside pytest — the package,
``examples/``, ``tools/``, ``bench.py``, ``perfbench/`` and
``__spark_entry__.py`` — collects every top-level ``def`` in the package,
and every method of a top-level class, whose name (and class name) has
no leading underscore. A def counts as reached when its name appears as
a ``Name`` or an ``Attribute`` anywhere in those files outside its own
body; ``@_q`` catalog entries are reached through the catalog. A public
def that only tests reach is code no gate checks: it is deleted, or it
is listed in ``ALLOWED`` with the reason it stays.

The same defs' options get the same rule. An option is a defaulted
parameter that the body branches on: its name appears in the test of an
``if``/``elif``/``while``, a conditional expression or a comprehension
filter, or on the left of an ``or`` whose right side is not an empty
literal (``x or []`` is a default, not a branch). It counts as set when
a call outside the tests (matched by name, like the defs) passes it by
keyword or by position. An option no such call sets keeps a code path
only tests run: the branch is deleted, or the option is listed in
``ALLOWED_PARAMS`` with the reason it stays.

Run it alone (no Spark, under a second):

    python -m pytest tests/test_reachability.py -q -p no:cacheprovider
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "alibaba_cppfeaturestore_spark"

# "<module path under the package>.<name>" (a method as
# "<module>.<Class>.<name>") -> why it stays unreached
ALLOWED = {
    "sources.readers.read_kafka_stream": (
        "reference S6 Kafka source; no broker or connector jar on this "
        "host, its option dict is contract-tested via kafka_source_options"
    ),
    "streaming.pipeline.write_kafka_stream": (
        "reference S7 Kafka sink; no broker or connector jar on this "
        "host, its option dict is contract-tested via kafka_sink_options"
    ),
    "sources.readers.read_delta": (
        "reference S2 Delta scan; no Delta jars on this host, so no "
        "caller can exercise the Delta branch"
    ),
    "operators.aggregates.latest_per_key_window": (
        "row_number reference that tests compare latest_per_key against"
    ),
    "operators.dictionary.fit_dictionary_mllib": (
        "StringIndexer reference that tests compare fit_dictionary against"
    ),
    "functions.vectors.cosine_similarity_arrow": (
        "Arrow UDF reference that tests compare the native cosine against"
    ),
    "sources.writers.write_with_metrics": (
        "the one-job Observation write that guards reporting their "
        "dropped rows build on"
    ),
    "sources.txlog.TxTable.commit_idempotent": (
        "Delta's txnAppId/txnVersion commit, which makes a foreachBatch "
        "sink exactly-once across a replayed micro-batch; its tests "
        "drive it from a real checkpointed stream"
    ),
}

# "<module>.<def>(<parameter>)" (a method as "<module>.<Class>.<def>(...)")
# -> why the option stays although no caller outside the tests sets it
ALLOWED_PARAMS = {
    "session.get_spark(master)": (
        "deployment setting: a cluster or a test harness names its master; "
        "the package's own callers run on the local default"
    ),
    "session.get_spark(shuffle_partitions)": (
        "deployment setting: sized to the cluster, not to a pipeline"
    ),
    "operators.aggregates.latest_per_key_window(tiebreak)": (
        "the row_number reference's tie order, which the max_by "
        "latest_per_key is compared against"
    ),
    "operators.scaling.apply_quantile_bins(out_col)": (
        "column-name binding of the encoded output, not a code path"
    ),
    "operators.scaling.apply_target_encoding(out_col)": (
        "column-name binding of the encoded output, not a code path"
    ),
    "operators.dedup.bottomk_sketch_pairs(max_bucket_size)": (
        "boilerplate guard for corpora where one bottom-k hash is shared "
        "by so many docs that its m² self-join rows dominate; the "
        "oracle-checked catalog entry must stay capless"
    ),
    "sources.writers.write_with_metrics(metrics)": (
        "the guard metrics a data-quality filter reports; the def itself "
        "is in ALLOWED for the guards that will pass them"
    ),
}


def _scanned_files() -> list[Path]:
    files = sorted(PACKAGE.rglob("*.py"))
    for d in ("examples", "tools", "perfbench"):
        files += sorted((ROOT / d).rglob("*.py"))
    return files + [ROOT / "bench.py", ROOT / "__spark_entry__.py"]


def _is_catalog_entry(node: ast.FunctionDef) -> bool:
    return any(
        isinstance(d, ast.Call) and isinstance(d.func, ast.Name) and d.func.id == "_q"
        for d in node.decorator_list
    )


def _public_defs(tree: ast.Module, module: str):
    """``(key, def node)`` for the public top-level defs and the public
    methods of public top-level classes."""
    for node in tree.body:
        if isinstance(node, ast.ClassDef) and not node.name.startswith("_"):
            for m in node.body:
                if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)) and m.name[0] != "_":
                    yield f"{module}.{node.name}.{m.name}", m
        elif (
            isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
            and not node.name.startswith("_")
            and not _is_catalog_entry(node)
        ):
            yield f"{module}.{node.name}", node


def _is_empty_literal(node: ast.expr) -> bool:
    if isinstance(node, ast.Dict):
        return not node.keys
    if isinstance(node, (ast.List, ast.Tuple, ast.Set)):
        return not node.elts
    return isinstance(node, ast.Constant) and not node.value


def _branched_names(fn: ast.AST) -> set[str]:
    """Names read where ``fn``'s body chooses between code paths."""
    tests: list[ast.expr] = []
    for node in ast.walk(fn):
        if isinstance(node, (ast.If, ast.While, ast.IfExp)):
            tests.append(node.test)
        elif isinstance(node, ast.comprehension):
            tests += node.ifs
        elif isinstance(node, ast.BoolOp) and isinstance(node.op, ast.Or):
            tests += [
                left
                for left, right in zip(node.values, node.values[1:])
                if not _is_empty_literal(right)
            ]
    return {n.id for t in tests for n in ast.walk(t) if isinstance(n, ast.Name)}


def _options(fn: ast.FunctionDef, is_method: bool):
    """``(name, position)`` of each defaulted parameter ``fn`` branches
    on; position counts from the first argument a caller passes, None
    for keyword-only."""
    args = fn.args
    positional = args.posonlyargs + args.args
    first_default = len(positional) - len(args.defaults)
    defaulted = [
        (a.arg, i - is_method) for i, a in enumerate(positional) if i >= first_default
    ] + [(a.arg, None) for a, d in zip(args.kwonlyargs, args.kw_defaults) if d is not None]
    branched = _branched_names(fn)
    return [(name, pos) for name, pos in defaulted if name in branched]


def _sets(call: ast.Call, name: str, pos: int | None) -> bool:
    if any(k.arg in (name, None) for k in call.keywords):  # None: **kwargs
        return True
    return pos is not None and (
        len(call.args) > pos or any(isinstance(a, ast.Starred) for a in call.args)
    )


def unset_options() -> dict[str, tuple[str, int]]:
    """``{"<module>.<def>(<param>)": (relative path, line)}`` for every
    option of a public package def that no call outside the tests and
    outside the def's own body sets."""
    options = []  # (key, def name, param, position, path, first, last)
    calls: dict[str, list[tuple[Path, ast.Call]]] = {}
    for path in _scanned_files():
        tree = ast.parse(path.read_text(), filename=str(path))
        if path.is_relative_to(PACKAGE):
            module = ".".join(path.relative_to(PACKAGE).with_suffix("").parts)
            for key, node in _public_defs(tree, module):
                is_method = key.count(".") > module.count(".") + 1
                for name, pos in _options(node, is_method):
                    options.append(
                        (f"{key}({name})", node.name, name, pos, path, node.lineno, node.end_lineno)
                    )
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                f = node.func
                called = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                calls.setdefault(called, []).append((path, node))
    return {
        key: (str(path.relative_to(ROOT)), first)
        for key, fname, name, pos, path, first, last in options
        if not any(
            _sets(call, name, pos) and not (p == path and first <= call.lineno <= last)
            for p, call in calls.get(fname, ())
        )
    }


def unreached_defs() -> dict[str, tuple[str, int]]:
    """``{"<module>.<name>": (relative path, line)}`` for every public
    package def (top-level, or a method of a public class) with no
    reference outside its own body."""
    defs = []  # (key, name, path, first line, last line)
    uses: dict[str, list[tuple[Path, int]]] = {}
    for path in _scanned_files():
        tree = ast.parse(path.read_text(), filename=str(path))
        if path.is_relative_to(PACKAGE):
            module = ".".join(path.relative_to(PACKAGE).with_suffix("").parts)
            for key, node in _public_defs(tree, module):
                first = min([node.lineno] + [d.lineno for d in node.decorator_list])
                defs.append((key, node.name, path, first, node.end_lineno))
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                uses.setdefault(node.id, []).append((path, node.lineno))
            elif isinstance(node, ast.Attribute):
                uses.setdefault(node.attr, []).append((path, node.lineno))
    return {
        key: (str(path.relative_to(ROOT)), first)
        for key, name, path, first, last in defs
        if not any(
            not (p == path and first <= line <= last) for p, line in uses.get(name, ())
        )
    }


def test_every_public_def_is_reached_outside_tests():
    unreached = unreached_defs()
    missing = {k: v for k, v in unreached.items() if k not in ALLOWED}
    assert not missing, (
        "public package defs that only tests reach; delete them or add a "
        "reason to ALLOWED: "
        + ", ".join(f"{path}:{line} {key}" for key, (path, line) in sorted(missing.items()))
    )
    stale = sorted(k for k in ALLOWED if k not in unreached)
    assert not stale, f"ALLOWED names defs that are reached or gone; drop them: {stale}"
    assert all(reason.strip() for reason in ALLOWED.values())


def test_every_option_is_set_outside_tests():
    unset = unset_options()
    missing = {k: v for k, v in unset.items() if k not in ALLOWED_PARAMS}
    assert not missing, (
        "options of public package defs that no caller outside the tests "
        "sets; delete the branch or add a reason to ALLOWED_PARAMS: "
        + ", ".join(f"{path}:{line} {key}" for key, (path, line) in sorted(missing.items()))
    )
    stale = sorted(k for k in ALLOWED_PARAMS if k not in unset)
    assert not stale, f"ALLOWED_PARAMS names options that are set or gone; drop them: {stale}"
    assert all(reason.strip() for reason in ALLOWED_PARAMS.values())
