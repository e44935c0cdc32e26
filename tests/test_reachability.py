"""Every module-level ``def`` and ``class`` of ``lexicator_spark/`` is
reached from outside ``tests/`` through a chain of references: from the
query registry (``__spark_entry__.py``), ``bench.py``, ``perfbench/``,
``scripts/`` or a package module's top-level statements, then on through
the bodies of the definitions reached.  A definition only tests reach —
directly, or only through other such definitions — is either deleted or
listed in ``KEPT`` with the reason it stays.

A reference is an ``ast.Name``, an ``ast.Attribute`` or an import
alias naming the definition; docstring and comment text never
counts.  Names are matched without their module, so a name defined in
two modules is reached when either is."""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent

# reached by no chain from outside tests/, kept on purpose: name -> why
KEPT = {
    "salted_count": "salting stays until skew is measured on a corpus that has it",
    "replicate_for_salt": "salting stays until skew is measured on a corpus that has it",
    "with_salt": "salting stays until skew is measured on a corpus that has it",
    "stream_turns": "source of the epoch sink that the CLI's --compact folds",
    "start_extract_stream": "writes the epoch sink that the CLI's --compact folds",
    "start_extract_stream_stateful": "streaming operator awaiting its batch-twin crossover measurement",
    "dedup_turns_stream": "streaming operator awaiting its batch-twin crossover measurement",
    "stateful_replies_stream": "streaming operator awaiting its batch-twin crossover measurement",
    "mention_spans": "reference implementation tests/oracle.py compares spans against",
    "jaccard": "reference implementation tests/oracle.py compares link scores against",
}


def _referenced_names(trees) -> set[str]:
    names: set[str] = set()
    for tree in trees:
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
            elif isinstance(node, ast.alias):
                names.add(node.name.rsplit(".", 1)[-1])
    return names


def _py(sub: str) -> list[pathlib.Path]:
    return sorted((ROOT / sub).rglob("*.py"))


def _parse(path: pathlib.Path) -> ast.Module:
    return ast.parse(path.read_text(), str(path))


def test_no_definition_is_reached_only_from_tests():
    defs: dict[str, list[ast.AST]] = {}
    where: dict[str, str] = {}
    roots = _referenced_names(
        _parse(p)
        for p in [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
        + _py("perfbench")
        + _py("scripts")
    )
    for path in _py("lexicator_spark"):
        for node in _parse(path).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.setdefault(node.name, []).append(node)
                where[node.name] = str(path.relative_to(ROOT))
            else:
                roots |= _referenced_names([node])
    reached: set[str] = set()
    pending = set(roots)
    while pending:
        name = pending.pop()
        reached.add(name)
        pending |= _referenced_names(defs.get(name, [])) - reached
    tests_only = {n: p for n, p in where.items() if n not in reached}
    unlisted = {n: p for n, p in tests_only.items() if n not in KEPT}
    assert not unlisted, (
        f"reached by no chain from outside tests/: {unlisted}; delete "
        "them with their tests, or add each to KEPT with its reason"
    )
    stale = sorted(set(KEPT) - set(tests_only))
    assert not stale, (
        f"KEPT lists {stale}, which are now reached outside tests/ or "
        "gone: drop them from KEPT"
    )
