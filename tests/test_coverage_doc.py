"""COVERAGE.md stays in lockstep with the registry: every registered
query name must be listed, and the stated counts must match. The
registry in turn covers every query function its modules define, and
every other public library name has a user outside the tests."""

from __future__ import annotations

import ast
import importlib
import inspect
import re
import subprocess
from pathlib import Path

from oraaud_kafka_spark import registry

ROOT = Path(__file__).resolve().parent.parent
DOC = ROOT / "COVERAGE.md"

# Library names that only tests use, kept on purpose: the gzip decoder
# pair that is the R-12 reference for conditional_gzip's output.
TEST_ONLY_ALLOWED = {
    "gzip_decompress",
    "is_gzip",
}


def test_every_query_listed_in_coverage_doc():
    registry.load_all()
    text = DOC.read_text()
    missing = [n for n in registry.QUERIES if f"`{n}`" not in text]
    assert not missing, f"COVERAGE.md missing: {missing}"


def test_coverage_doc_counts_match_registry():
    registry.load_all()
    text = DOC.read_text()
    m = re.search(r"`queries\(\)` exposes (\d+) entries; (\d+)\n?", text)
    assert m, "counts line not found"
    assert int(m.group(1)) == len(registry.QUERIES)
    assert int(m.group(2)) == len(registry.ORACLES)


def test_every_query_function_is_registered():
    """No unregistered operator queues: every public ``q*_`` function a
    registry module defines is a registered query, so nothing is built,
    tested and maintained without the registry (and its parity sweep)
    ever running it."""
    registry.load_all()
    registered = {fn.__wrapped__ for fn in registry.QUERIES.values()}
    unregistered = [
        f"{mod}.{name}"
        for mod in registry._MODULES
        for name, obj in vars(importlib.import_module(mod)).items()
        if re.match(r"q\d*_", name)
        and inspect.isfunction(obj)
        and obj.__module__ == mod
        and obj not in registered
    ]
    assert not unregistered, f"unregistered query functions: {unregistered}"


def _tracked_py_files() -> list[str]:
    try:
        out = subprocess.run(
            ["git", "ls-files", "*.py"],
            cwd=ROOT,
            capture_output=True,
            text=True,
            check=True,
        ).stdout.split()
    except (OSError, subprocess.CalledProcessError):
        out = []
    return out or [str(p.relative_to(ROOT)) for p in ROOT.rglob("*.py")]


def test_library_names_reach_beyond_tests():
    """Every public top-level function or class in the package is a
    registered query or is referenced by code outside ``tests/`` (the
    daemon, the queries, perfbench, scripts): library surface that only
    tests reach is deleted, not kept and maintained."""
    registry.load_all()
    registered = set(registry.QUERIES.values())
    files = _tracked_py_files()
    referenced: set[str] = set()
    for f in files:
        if f.startswith("tests/"):
            continue
        for node in ast.walk(ast.parse((ROOT / f).read_text())):
            if isinstance(node, ast.Name):
                referenced.add(node.id)
            elif isinstance(node, ast.Attribute):
                referenced.add(node.attr)
            elif isinstance(node, ast.alias):
                referenced.add(node.name.rsplit(".", 1)[-1])
    unused = []
    for f in files:
        if not f.startswith("oraaud_kafka_spark/"):
            continue
        mod = f[: -len(".py")].replace("/", ".").removesuffix(".__init__")
        for node in ast.parse((ROOT / f).read_text()).body:
            if not isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                continue
            name = node.name
            if name.startswith("_") or name in TEST_ONLY_ALLOWED:
                continue
            if name in referenced:
                continue
            if getattr(importlib.import_module(mod), name, None) in registered:
                continue
            unused.append(f"{mod}.{name}")
    assert not unused, f"library names only tests reach: {unused}"
