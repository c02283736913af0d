"""Vector math as pure Catalyst column expressions.

The reference delegates all vector math to Qdrant with
``Distance.COSINE`` over 1024-dim Cohere vectors
(/root/reference/app.py:87). Here the same metric is a *column
expression* built from SQL higher-order functions (zip_with /
aggregate), so it runs inside whole-stage codegen on every executor —
no Python UDF, no Arrow transfer, fully distributable over a 100 TB
embedding table.

Arithmetic notes:
- cast to double *before* multiplying: fixtures store float32 and we
  want the oracle (DuckDB ``::DOUBLE[]``) to reproduce bit-identical
  sums — both engines then do a sequential double-precision fold in
  array order.
- every declared query rounds the final similarity to 6 decimals on
  both sides (FIXTURES.md parity rules).

Every helper takes column NAMES and renders ONE SQL string, parsed by a
single F.expr call (``cosine`` and ``mmr_picks`` return the string
itself, so a caller can splice it into a whole ``spark.sql`` text): a
Python-built Column tree costs one py4j round-trip per node (~400
calls, measured 1.05 s of the cold-query latency for 64-dim cosine), a
Python lambda several per frame.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

from . import _quote


def _dot_hof_sql(a: str, b: str) -> str:
    """``dot`` as SQL text over two array expressions."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "0D, (acc, v) -> acc + v)"
    )


def dot(a: str, b: str) -> Column:
    """Sequential-fold dot product of two array<float|double> columns."""
    return F.expr(_dot_hof_sql(_quote(a), _quote(b)))


def norm(a: str) -> Column:
    """L2 norm."""
    return F.expr(f"sqrt({_dot_hof_sql(_quote(a), _quote(a))})")


def cosine(a: str, b: str) -> str:
    """Cosine similarity, the reference's distance metric (app.py:87),
    as SQL text over the columns ``a`` and ``b``: wrap it in ``F.expr``
    or splice it into a ``spark.sql`` text.

    0 when either vector has norm 0 (``operators.ml.mmr_select``'s
    convention), where 0/0 would raise DIVIDE_BY_ZERO under ANSI — e.g.
    for a query whose TF-IDF vector is all zero.
    """
    a, b = _quote(a), _quote(b)
    return (
        f"coalesce({_dot_hof_sql(a, b)} / nullif(sqrt({_dot_hof_sql(a, a)}) * "
        f"sqrt({_dot_hof_sql(b, b)}), 0D), 0D)"
    )


# Spark's higher-order functions (aggregate / zip_with) are
# CodegenFallback: they evaluate INTERPRETED, one lambda frame per
# element, even inside a WholeStageCodegen span. For a KNOWN embedding
# dimension, an unrolled element_at multiply-add chain compiles into
# straight-line JVM bytecode instead — measured 2.5x faster on the
# 64-dim bench corpus, bit-identical results (same left-to-right
# sequential fold order). Above _UNROLL_LIMIT dims the expression tree
# would bloat codegen (64KB JVM method limit forces splits), so the
# fixed-dim helpers fall back to the HOF path.
_UNROLL_LIMIT = 256

def _esql(name: str, i: int) -> str:
    return f"CAST(element_at({_quote(name)}, {i + 1}) AS DOUBLE)"


def _dot_sql(a: str, b: str, d: int) -> str:
    """<a, b> for a KNOWN dimension d as SQL text. `+` and `*` parse
    left-associative, so the unrolled chain folds in the HOF's order."""
    if d > _UNROLL_LIMIT:
        return _dot_hof_sql(_quote(a), _quote(b))
    return " + ".join(f"{_esql(a, i)} * {_esql(b, i)}" for i in range(d))


def _dot_const_sql(a: str, qv: list) -> str:
    # repr(float) of nan/inf renders invalid SQL ('nanD') that only
    # fails at parse time with an opaque error — reject up front.
    for i, x in enumerate(qv):
        if not math.isfinite(float(x)):
            raise ValueError(
                f"_dot_const_sql: query component {i} is {x!r}; "
                "vector literals must be finite"
            )
    lits = [f"{float(x)!r}D" for x in qv]
    if len(qv) > _UNROLL_LIMIT:
        return _dot_hof_sql(_quote(a), f"array({', '.join(lits)})")
    return " + ".join(f"{_esql(a, i)} * {x}" for i, x in enumerate(lits))


def dot_fixed(a: str, b: str, d: int) -> Column:
    """dot(a, b) for a KNOWN dimension d: codegen'd unrolled chain,
    same sequential fold order as the HOF (bit-identical)."""
    return F.expr(_dot_sql(a, b, d))


def norm_fixed(a: str, d: int) -> Column:
    return F.expr(f"sqrt({_dot_sql(a, a, d)})")


def cosine_fixed(a: str, b: str, d: int) -> Column:
    """cosine(a, b) for a KNOWN dimension — the hot-path variant."""
    return F.expr(
        f"({_dot_sql(a, b, d)}) / "
        f"(sqrt({_dot_sql(a, a, d)}) * sqrt({_dot_sql(b, b, d)}))"
    )


def cosine_to_const_fixed(a: str, qv: list, q_norm: float) -> Column:
    """cosine against a literal query vector: unrolled dot (each query
    component a codegen'd double literal) + unrolled corpus norm +
    precomputed (seq_norm) query norm."""
    return F.expr(
        f"({_dot_const_sql(a, qv)}) / "
        f"(sqrt({_dot_sql(a, a, len(qv))}) * {float(q_norm)!r}D)"
    )


def seq_norm(vec) -> float:
    """Driver-side L2 norm with HOF-identical arithmetic: sequential
    left-fold of float64 products in array order (NOT numpy pairwise
    summation, which differs in the last ulp)."""
    s = 0.0
    for x in vec:
        s += float(x) * float(x)
    return math.sqrt(s)


# Greedy Maximal Marginal Relevance as ONE Catalyst expression over a
# per-group candidate array (typically ``collect_list(struct(...))`` of
# the <= fetch_k rows a window top-k kept). It replays
# ``operators.ml.mmr_select`` exactly: sequential-fold cosines that are 0
# when either norm is 0, the score ``lam*sim - (1-lam)*max cos to the
# picked`` (0 before the first pick), arg-max by raw score with ties to
# the lowest id. The state is an ``aggregate`` over least(k, n) steps
# carrying the picks and each candidate's running max cosine to them,
# so a step scores n candidates against ONE new pick. Rendered as one
# SQL string: a single parse at plan build, no Python worker.


def mmr_picks(cands: str, k: int, lam: float, id_field: str = "id") -> str:
    """Greedy-MMR picks over the array<struct> column ``cands``, as SQL
    text of an ``array<struct<idx: int, score: double>>`` in pick order
    (wrap it in ``F.expr`` or splice it into a ``spark.sql`` text): ``idx`` is
    the 0-based position of the pick in ``cands`` and ``score`` its raw
    (unrounded) MMR score. Each candidate struct has an integral
    ``id_field`` (the tie-break), an ``embedding`` array and ``sim``, its
    similarity to the query. Candidate order does not matter; ``k <= 0``
    or an empty array gives no picks."""
    c = _quote(cands)
    nrm = f"transform({c}, x -> sqrt({_dot_hof_sql('x.embedding', 'x.embedding')}))"
    zero = (
        "named_struct('picks', CAST(array() AS ARRAY<STRUCT<idx: INT, score: DOUBLE>>), "
        f"'red', array_repeat(CAST(NULL AS DOUBLE), size({c})), 'nrm', {nrm})"
    )
    # best unpicked candidate: struct order = (score desc, id asc)
    best = (
        f"array_max(filter(transform({c}, (x, i) -> named_struct("
        f"'score', {float(lam)!r}D * CAST(x.sim AS DOUBLE) - "
        f"{float(1 - lam)!r}D * coalesce(st.red[i], 0D), "
        f"'neg_id', -CAST(x.{_quote(id_field)} AS BIGINT), 'idx', i)), "
        "e -> NOT exists(st.picks, p -> p.idx = e.idx)))"
    )
    cos = (
        "CASE WHEN s.nrm[j] * s.nrm[b.idx] = 0D THEN 0D ELSE "
        f"{_dot_hof_sql(f'{c}[j].embedding', f'{c}[b.idx].embedding')} "
        "/ (s.nrm[j] * s.nrm[b.idx]) END"
    )
    step = (
        f"aggregate(array({best}), st, (s, b) -> named_struct("
        "'picks', concat(s.picks, array(named_struct('idx', b.idx, 'score', b.score))), "
        f"'red', transform(s.red, (r, j) -> greatest(r, {cos})), "
        "'nrm', s.nrm))"
    )
    return (
        f"aggregate(array_repeat(0, least({int(k)}, size({c}))), {zero}, "
        f"(st, _) -> {step}, st -> st.picks)"
    )
