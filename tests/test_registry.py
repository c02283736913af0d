"""The operator registry: every listed module loads, every op comes
from a listed module, and the order of ``queries()`` is fixed by the
committed snapshot rather than by file layout."""

from __future__ import annotations

import importlib
import re
from pathlib import Path

from vectordb_agentic_rag_spark import registry

REPO = Path(__file__).resolve().parents[1]
N_OPERATORS = 529


def test_every_listed_module_imports_and_owns_its_ops():
    for mod in registry._OPERATOR_MODULES:
        importlib.import_module(mod)  # a stale entry must fail here
    registry.load_all_operators()
    assert len(registry.QUERIES) == N_OPERATORS
    listed = set(registry._OPERATOR_MODULES)
    strays = {
        name: fn.__module__
        for name, fn in registry.QUERIES.items()
        if fn.__module__ not in listed
    }
    assert not strays


def test_order_is_pinned_to_the_snapshot(monkeypatch):
    """With every op verified (the state the snapshot was taken in),
    ``ordered_queries`` is exactly the committed order: domain ops
    first, each group in snapshot order."""
    registry.load_all_operators()
    monkeypatch.setattr(
        registry,
        "_verification_history",
        lambda: (set(registry.QUERIES), set(), set()),
    )
    expected = (REPO / "tests" / "expected_query_order.txt").read_text().split()
    assert list(registry.ordered_queries()) == expected


def test_ops_missing_from_the_snapshot_sort_by_name(monkeypatch):
    registry.load_all_operators()
    verified = set(registry.QUERIES)
    monkeypatch.setattr(
        registry, "_verification_history", lambda: (verified, set(), set())
    )
    extra = dict(registry.QUERIES)
    extra["zz_unlisted"] = extra["aa_unlisted"] = lambda spark, sf: None
    monkeypatch.setattr(registry, "QUERIES", extra)
    names = list(registry.ordered_queries())
    # never checked (tier 1) ahead of verified; unknown position -> by name
    assert names[:2] == ["aa_unlisted", "zz_unlisted"]
    assert len(names) == N_OPERATORS + 2


def test_no_module_or_tool_is_named_after_a_round():
    round_named = re.compile(r"^(analytics\d*|queue_r\d+|.*_r\d+)\.py$")
    roots = [REPO / "vectordb_agentic_rag_spark", REPO / "tools"]
    hits = [
        str(p.relative_to(REPO))
        for root in roots
        for p in root.rglob("*.py")
        if round_named.match(p.name)
    ]
    assert not hits
