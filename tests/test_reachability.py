"""Every module-level ``def`` and ``class`` of ``lexicator_spark/`` is
reached from outside ``tests/``: from the package itself, the query
registry (``__spark_entry__.py``), ``bench.py``, ``perfbench/`` or
``scripts/``.  A definition only tests reach is either deleted or
listed in ``KEPT`` with the reason it stays.

A reference is an ``ast.Name``, an ``ast.Attribute`` or an import
alias naming the definition; docstring and comment text never
counts."""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent

# reached only from tests, kept on purpose: name -> why
KEPT = {
    "salted_count": "salting stays until skew is measured on a corpus that has it",
    "replicate_for_salt": "salting stays until skew is measured on a corpus that has it",
    "stream_turns": "source of the epoch sink that the CLI's --compact folds",
    "start_extract_stream": "writes the epoch sink that the CLI's --compact folds",
    "start_extract_stream_stateful": "streaming operator awaiting its batch-twin crossover measurement",
    "dedup_turns_stream": "streaming operator awaiting its batch-twin crossover measurement",
    "mention_spans": "reference implementation tests/oracle.py compares spans against",
    "jaccard": "reference implementation tests/oracle.py compares link scores against",
}


def _referenced_names(paths) -> set[str]:
    names: set[str] = set()
    for path in paths:
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
            elif isinstance(node, ast.alias):
                names.add(node.name.rsplit(".", 1)[-1])
    return names


def _py(sub: str) -> list[pathlib.Path]:
    return sorted((ROOT / sub).rglob("*.py"))


def test_no_definition_is_reached_only_from_tests():
    package = _py("lexicator_spark")
    reached = _referenced_names(
        package
        + [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
        + _py("perfbench")
        + _py("scripts")
    )
    from_tests = _referenced_names(_py("tests"))
    tests_only = {}
    for path in package:
        for node in ast.parse(path.read_text(), str(path)).body:
            if (
                isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                and node.name in from_tests
                and node.name not in reached
            ):
                tests_only[node.name] = str(path.relative_to(ROOT))
    unlisted = {n: p for n, p in tests_only.items() if n not in KEPT}
    assert not unlisted, (
        f"reached only from tests/: {unlisted}; delete them with their "
        "tests, or add each to KEPT with its reason"
    )
    stale = sorted(set(KEPT) - set(tests_only))
    assert not stale, (
        f"KEPT lists {stale}, which are now reached outside tests/ or "
        "gone: drop them from KEPT"
    )
