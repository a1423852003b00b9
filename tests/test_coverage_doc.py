"""COVERAGE.md stays in lockstep with the registry: every registered
query name must be listed, and the stated counts must match. The
registry in turn covers every query function its modules define."""

from __future__ import annotations

import importlib
import inspect
import re
from pathlib import Path

from oraaud_kafka_spark import registry

DOC = Path(__file__).resolve().parent.parent / "COVERAGE.md"


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
