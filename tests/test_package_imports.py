"""Static guards over the package source: every module under
``edinet_etl_spark/`` is parsed and checked — production code never
imports test code, eager checkpoints go through one helper, scratch
space is named by one helper (and removed when the process exits),
Python-side exact decimals come from one helper, and the session
policy (``session.prep``) is applied only by the registry."""

from __future__ import annotations

import ast
import glob
import inspect
import os
import shutil
import subprocess
import sys
import textwrap
from pathlib import Path
from urllib.parse import urlparse

import pytest

import edinet_etl_spark
from edinet_etl_spark import registry
from edinet_etl_spark.session import scratch_dir, staged_dir

from tests.conftest import SF_DIR

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


def test_scratch_space_only_through_session():
    """One scratch policy: ``session.scratch_dir`` names every
    per-session working dir, so no other module may import
    ``tempfile``."""
    offenders = [
        str(path.relative_to(PACKAGE.parent))
        for path in sorted(PACKAGE.rglob("*.py"))
        if path.name != "session.py"
        and "tempfile" in _imported_modules(ast.parse(path.read_text(), str(path)))
    ]
    assert offenders == []


def test_scratch_dirs_removed_at_exit(tmp_path):
    """A session's scratch lives until its Python process exits: a dir
    built through ``staged_dir`` exists while the process runs and is
    gone once it has exited."""
    script = textwrap.dedent(
        f"""
        import os
        from types import SimpleNamespace

        from edinet_etl_spark.session import staged_dir

        spark = SimpleNamespace(
            sparkContext=SimpleNamespace(applicationId="exit-hook-test")
        )

        def build(staging):
            open(os.path.join(staging, "part"), "w").close()

        d = staged_dir(spark, {str(tmp_path)!r}, "exit_test", build)
        print(d, os.listdir(d))
        """
    )
    done = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        cwd=PACKAGE.parent,
        env={**os.environ, "PYTHONPATH": str(PACKAGE.parent)},
        timeout=120,
    )
    assert done.returncode == 0, done.stderr
    path, listing = done.stdout.strip().split(" ", 1)
    assert listing == "['part']"
    assert not os.path.exists(path)


def test_exact_decimals_only_through_numeric():
    """One Python-side exact-decimal rule: ``numeric.dec8`` is the only
    code that may call ``.quantize(``."""
    offenders = [
        f"{path.relative_to(PACKAGE.parent)}:{node.lineno}"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path.name != "numeric.py"
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "quantize"
    ]
    assert offenders == []


def test_staged_dir_failed_build_leaves_nothing(spark):
    final = scratch_dir(spark, SF_DIR, "staged_fail_test")

    def build(staging):
        open(os.path.join(staging, "part"), "w").close()
        raise RuntimeError("build cancelled")

    with pytest.raises(RuntimeError, match="build cancelled"):
        staged_dir(spark, SF_DIR, "staged_fail_test", build)
    assert not os.path.exists(final)
    assert glob.glob(f"{final}.staging-*") == []


def test_staged_dir_builds_once(spark):
    builds = []

    def build(staging):
        builds.append(staging)
        open(os.path.join(staging, "part"), "w").close()

    first = staged_dir(spark, SF_DIR, "staged_once_test", build)
    try:
        assert staged_dir(spark, SF_DIR, "staged_once_test", build) == first
        assert first == scratch_dir(spark, SF_DIR, "staged_once_test")
        assert len(builds) == 1 and os.listdir(first) == ["part"]
    finally:
        shutil.rmtree(first, ignore_errors=True)


def test_staged_dir_keeps_a_concurrent_winner(spark):
    """A builder whose rename loses to one that finished first drops its
    own staging dir and returns the winner's dir unchanged."""
    final = scratch_dir(spark, SF_DIR, "staged_race_test")

    def build(staging):
        os.makedirs(final)
        open(os.path.join(final, "winner"), "w").close()
        open(os.path.join(staging, "loser"), "w").close()

    try:
        assert staged_dir(spark, SF_DIR, "staged_race_test", build) == final
        assert os.listdir(final) == ["winner"]
        assert glob.glob(f"{final}.staging-*") == []
    finally:
        shutil.rmtree(final, ignore_errors=True)


def test_formats_scratch_is_per_session(spark):
    """The format round-trips write and read back inside this session's
    scratch dir, so another session on the same input directory never
    overwrites files under a pending lazy read-back."""
    registry.load_all()
    files = registry.QUERIES["orc_roundtrip_stats"](spark, SF_DIR).inputFiles()
    root = scratch_dir(spark, SF_DIR, "fmt_orc")
    assert files
    assert all(urlparse(f).path.startswith(f"{root}/") for f in files), files


def _prep_call_sites(tree: ast.AST, scope: str = ""):
    """(enclosing function, line) of every ``prep(...)`` call."""
    for node in ast.iter_child_nodes(tree):
        inner = scope
        if isinstance(node, ast.FunctionDef | ast.AsyncFunctionDef):
            inner = node.name if not scope else f"{scope}.{node.name}"
        if isinstance(node, ast.Call) and (
            getattr(node.func, "id", None) == "prep"
            or getattr(node.func, "attr", None) == "prep"
        ):
            yield scope, node.lineno
        yield from _prep_call_sites(node, inner)


def test_session_policy_only_in_registry():
    """One session policy: ``registry.query`` wraps every query so it
    applies ``prep`` on each call; no query body calls it.  The only
    other callers are the two public stream readers, which tests call
    directly."""
    sites = sorted(
        (str(path.relative_to(PACKAGE)), fn)
        for path in PACKAGE.rglob("*.py")
        for fn, _ in _prep_call_sites(ast.parse(path.read_text(), str(path)))
    )
    assert sites == [
        ("registry.py", "query.deco.pinned"),
        ("streaming/jobs.py", "_events_stream"),
        ("streaming/jobs.py", "read_documents_stream"),
    ]


def test_registered_query_repins_hostile_session(spark):
    """A session with another timezone and AQE off is repinned to UTC +
    AQE by the registered callable itself (building the DataFrame runs
    no action), and every registered callable is the wrapper around a
    body that keeps its own module."""
    registry.load_all()
    tz, aqe = "spark.sql.session.timeZone", "spark.sql.adaptive.enabled"
    saved = {k: spark.conf.get(k) for k in (tz, aqe)}
    try:
        spark.conf.set(tz, "America/New_York")
        spark.conf.set(aqe, "false")
        registry.QUERIES["pricing_summary"](spark, SF_DIR)
        assert spark.conf.get(tz) == "UTC"
        assert spark.conf.get(aqe) == "true"
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    for name, fn in registry.QUERIES.items():
        body = inspect.unwrap(fn)
        assert body is not fn, name
        assert fn.__module__ == body.__module__ != registry.__name__, name
