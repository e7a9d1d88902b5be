"""Static guards over the package source: every module under
``edinet_etl_spark/`` is parsed and checked — production code never
imports test code, and eager checkpoints go through one helper."""

from __future__ import annotations

import ast
from pathlib import Path

import edinet_etl_spark

PACKAGE = Path(edinet_etl_spark.__file__).parent


def _imported_modules(tree: ast.AST):
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            yield from (alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            yield node.module


def test_package_does_not_import_tests():
    offenders = [
        f"{path.relative_to(PACKAGE.parent)}: {mod}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for mod in _imported_modules(ast.parse(path.read_text(), str(path)))
        if mod == "tests" or mod.startswith("tests.")
    ]
    assert offenders == []


def _materialize_lines() -> range:
    tree = ast.parse((PACKAGE / "session.py").read_text())
    return next(
        (
            range(n.lineno, n.end_lineno + 1)
            for n in tree.body
            if isinstance(n, ast.FunctionDef) and n.name == "materialize"
        ),
        range(0),
    )


def test_checkpoints_only_through_materialize():
    """One checkpoint policy: every eager checkpoint in the package goes
    through ``session.materialize``, the only code that may call
    ``.checkpoint(`` or ``.localCheckpoint(``."""
    allowed = _materialize_lines()
    offenders = [
        f"{path.relative_to(PACKAGE.parent)}:{node.lineno}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("checkpoint", "localCheckpoint")
        and not (path.name == "session.py" and node.lineno in allowed)
    ]
    assert offenders == []
