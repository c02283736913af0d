"""The session-artifact memo (``memo.session_artifact``) and its clear.

Every driver-side session memo in the package goes through
``session_artifact``: one key scheme (application id + the build
function's positional arguments) and one registry, which
``clear_session_caches`` walks to unpersist what the builds
persisted and to forget write-once layouts. These tests pin the hit,
miss and release behaviour, and a text scan keeps hand-rolled memos
from coming back.
"""

from __future__ import annotations

import re
import uuid
from pathlib import Path

import pytest

from vectordb_agentic_rag_spark import memo, tables

PKG_ROOT = Path(__file__).resolve().parents[1] / "vectordb_agentic_rag_spark"

# worker-side memos of pure functions of bytes: no session state
_WORKER_MEMOS = {
    "_JPEG_DHT_CACHE",
    "_JPEG_HUFF_LUT_CACHE",
    "_JPEG_DCONLY_MEMO",
    "_DEFLATE_REV_MEMO",
    "_LZW_BASE_DEC",
    "_JAC_CODES_CACHE",
}
# module-level memo by name (any *cache* / *written* / *memo* global) or
# by shape (an empty dict or set bound at column 0)
_MEMO_DECL = re.compile(
    r"^(_\w*(?:cache|written|memo)\w*)\s*[:=]"
    r"|^(_\w+)\s*(?::[^=\n]*)?=\s*(?:\{\}|set\(\)|dict\(\))",
    re.MULTILINE | re.IGNORECASE,
)


def _count_jobs(spark, fn):
    """fn()'s result and the number of Spark jobs it started, counted
    with statusTracker under a job group of its own."""
    sc = spark.sparkContext
    group = f"memo-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _persistent_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_hit_returns_same_object_without_jobs(spark, sf_dir):
    from vectordb_agentic_rag_spark.operators.stats import timeseries
    from vectordb_agentic_rag_spark.sources import readers

    for build in (timeseries._day_cent_totals, readers._events_by_type):
        first = build(spark, sf_dir)
        again, jobs = _count_jobs(spark, lambda: build(spark, sf_dir))
        assert again is first and jobs == 0, build.__name__
    orders = tables.table(spark, sf_dir, "orders")
    assert tables.table(spark, sf_dir, "orders") is orders


def test_key_is_application_id_plus_arguments(spark, monkeypatch):
    built = []

    @memo.session_artifact
    def probe(spark, n):
        built.append(n)
        return object()

    a = probe(spark, 1)
    assert probe(spark, 1) is a
    assert probe(spark, 2) is not a  # different argument
    app_id, jsc = memo._context(spark)
    monkeypatch.setitem(
        memo._CONTEXTS, spark.sparkContext, (f"{app_id}-other", jsc)
    )
    assert probe(spark, 1) is not a  # different application
    assert built == [1, 2, 1]
    with pytest.raises(TypeError, match="positionally"):
        probe(spark, n=3)  # a keyed argument must not bypass the key


def test_monkeypatched_lut_text_misses(spark, sf_dir, monkeypatch):
    from vectordb_agentic_rag_spark.operators import ml

    healthy = ml._pq16_frames(spark, sf_dir, ml._pq16_lut_expr())
    monkeypatch.setattr(
        ml, "_pq16_lut_expr", lambda: "CAST(0 AS DECIMAL(18,9))"
    )
    zeroed = ml._pq16_frames(spark, sf_dir, ml._pq16_lut_expr())
    assert zeroed is not healthy
    lutv = zeroed[1].select("lutv").distinct().collect()
    assert [r.lutv for r in lutv] == [0]


def test_clear_session_caches_empties_every_cache(spark, sf_dir):
    """clear_session_caches unpersists every RDD the builds persisted —
    returned checkpoints, intermediate ones (_day_type_cells,
    _polish_frames) and pinned hot tables — then forgets every entry,
    so the next call rebuilds, and rewrites write-once layouts."""
    from vectordb_agentic_rag_spark.operators.stats import (
        distribution,
        timeseries,
    )

    memo.clear_session_caches()
    before = _persistent_rdds(spark)
    distribution._day_type_cells(spark, sf_dir)
    timeseries._polish_frames(spark, sf_dir)
    tables.cache_hot_tables(spark, sf_dir, ["region"])
    assert _persistent_rdds(spark) - before, "builds persisted nothing?"

    memo.clear_session_caches()
    assert _persistent_rdds(spark) <= before
    assert not any(memo._MEMOS)
    assert not tables.table(spark, sf_dir, "region").is_cached
    assert distribution._day_type_cells(spark, sf_dir).count() > 0

    from vectordb_agentic_rag_spark.sources import readers

    readers._events_by_type(spark, sf_dir)
    memo.clear_session_caches()
    _, jobs = _count_jobs(
        spark, lambda: readers._events_by_type(spark, sf_dir)
    )
    assert jobs > 0  # the write-once layout is written again


def test_every_cache_module_is_sweepable():
    """No session memo outside the registry: no module-level cache,
    written-set or memo global (the worker-side byte memos aside), no
    id(spark) key, and no hard-coded checkout path."""
    for py in PKG_ROOT.rglob("*.py"):
        src = py.read_text()
        rel = py.relative_to(PKG_ROOT)
        assert "id(spark)" not in src, rel
        assert str(PKG_ROOT.parent) not in src, rel
        for m in _MEMO_DECL.finditer(src):
            name = m.group(1) or m.group(2)
            if (str(rel), name) == ("memo.py", "_MEMOS"):
                continue
            assert name in _WORKER_MEMOS, f"{rel}: hand-rolled memo {name}"


def test_no_tool_hard_codes_the_checkout_path():
    """Tools derive the checkout from ``__file__``, so a second checkout
    runs its own code and writes its own reports."""
    for py in (PKG_ROOT.parent / "tools").glob("*.py"):
        assert str(PKG_ROOT.parent) not in py.read_text(), py.name
