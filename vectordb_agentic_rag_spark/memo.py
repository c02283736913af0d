"""The session artifact memo every driver-side cache in the package shares.

It imports only pyspark, so the product path (``plans.pipeline``) can
memoize per session without loading the fixture-table module
``tables``, which re-exports everything here.
"""

from __future__ import annotations

import functools
import inspect
import weakref

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession

# One dict per @session_artifact function: (applicationId, *args) ->
# (value, first RDD id, end RDD id). The ids bracket every RDD the build
# created, so a clear also unpersists the intermediate checkpoints a
# build took on the way to its value.
_MEMOS: list[dict] = []
# SparkContext -> (applicationId, JVM SparkContext), resolved once per
# context: applicationId costs two py4j hops and table() runs on every
# plan build, so a memo hit must make no py4j call
_CONTEXTS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _context(spark: SparkSession) -> tuple:
    sc = spark.sparkContext
    ctx = _CONTEXTS.get(sc)
    if ctx is None:
        ctx = _CONTEXTS[sc] = (sc.applicationId, sc._jsc.sc())
    return ctx


def session_artifact(build):
    """Run ``build(spark, *args)`` once per Spark application and hand
    every later call the same object.

    The key is the application id plus the positional arguments, so
    they must be hashable and must name every input the value depends
    on — expression text a caller may vary included (``ml._pq16_frames``
    takes its LUT text as an argument). Keyword-only parameters of
    ``build`` are unkeyed inputs: pass through them only what the key
    already determines. The value is whatever ``build`` returns:
    checkpointed frames, collected rows, the path of a write-once
    layout, JVM-side objects with their Python wrappers.
    ``clear_session_caches`` releases and forgets them all.
    """
    memo: dict = {}
    _MEMOS.append(memo)
    unkeyed = frozenset(
        name
        for name, p in inspect.signature(build).parameters.items()
        if p.kind is p.KEYWORD_ONLY
    )

    @functools.wraps(build)
    def artifact(spark: SparkSession, *args, **inputs):
        app_id, jsc = _context(spark)
        key = (app_id, *args)
        hit = memo.get(key)
        if hit is None:
            if not unkeyed.issuperset(inputs):
                raise TypeError(
                    f"{build.__name__}: pass keyed arguments positionally"
                )
            first = jsc.newRddId()
            value = build(spark, *args, **inputs)
            hit = memo[key] = (value, first, jsc.newRddId())
        return hit[0]

    def put(spark: SparkSession, *args, value) -> None:
        """Make ``value`` what later calls with ``args`` return."""
        memo[(_context(spark)[0], *args)] = (value, 0, 0)

    artifact.put = put
    return artifact


def clear_session_caches() -> None:
    """Release every session artifact and forget it.

    Unpersists every RDD an artifact build persisted — the checkpoints
    it returned and the intermediate ones — and un-caches pinned hot
    tables; write-once layouts are forgotten, so the next call rewrites
    them. Artifacts of a stopped application are only forgotten (their
    RDDs went with it). A long-lived session sweeping many sf dirs
    would otherwise hold every checkpoint it ever built (ADVICE r10).

    A frame derived from an artifact before the clear fails afterwards
    with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND: call the operator again for
    a fresh one.
    """
    sc = SparkContext._active_spark_context
    ctx = _CONTEXTS.get(sc) if sc is not None else None
    persistent = sc._jsc.getPersistentRDDs() if ctx else {}
    rdd_ids = list(persistent.keys())
    doomed = set()
    for memo in _MEMOS:
        for (app_id, *_), (value, first, end) in memo.items():
            if ctx is None or app_id != ctx[0]:
                continue
            if isinstance(value, DataFrame) and value.is_cached:
                value.unpersist()
            doomed.update(i for i in rdd_ids if first <= i < end)
        memo.clear()
    for i in doomed:
        persistent[i].unpersist(True)
