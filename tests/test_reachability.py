"""Every public package function has a caller outside the tests.

An AST pass over the code that runs outside pytest — the package,
``examples/``, ``tools/``, ``bench.py``, ``perfbench/`` and
``__spark_entry__.py`` — collects every top-level ``def`` in the package
whose name has no leading underscore. A def counts as reached when its
name appears as a ``Name`` or an ``Attribute`` anywhere in those files
outside its own body; ``@_q`` catalog entries are reached through the
catalog. A public def that only tests reach is code no gate checks: it
is deleted, or it is listed in ``ALLOWED`` with the reason it stays.

Run it alone (no Spark, under a second):

    python -m pytest tests/test_reachability.py -q -p no:cacheprovider
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "alibaba_cppfeaturestore_spark"

# "<module path under the package>.<name>" -> why it stays unreached
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


def unreached_defs() -> dict[str, tuple[str, int]]:
    """``{"<module>.<name>": (relative path, line)}`` for every public
    top-level package def with no reference outside its own body."""
    defs = []  # (key, name, path, first line, last line)
    uses: dict[str, list[tuple[Path, int]]] = {}
    for path in _scanned_files():
        tree = ast.parse(path.read_text(), filename=str(path))
        if path.is_relative_to(PACKAGE):
            module = ".".join(path.relative_to(PACKAGE).with_suffix("").parts)
            for node in tree.body:
                if (
                    isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                    and not node.name.startswith("_")
                    and not _is_catalog_entry(node)
                ):
                    first = min([node.lineno] + [d.lineno for d in node.decorator_list])
                    defs.append((f"{module}.{node.name}", node.name, path, first, node.end_lineno))
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
