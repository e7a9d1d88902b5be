"""Production code never imports test code: every module under
``edinet_etl_spark/`` is parsed and its imports checked."""

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
