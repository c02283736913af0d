"""Unit tests for vector functions and operators (SURVEY.md §5.4)."""

import math

import pytest
from pyspark.sql import functions as F

from vectordb_agentic_rag_spark.functions.vector import cosine, dot, norm


@pytest.fixture(scope="module")
def pairs(spark):
    return spark.createDataFrame(
        [
            ([1.0, 2.0], [3.0, 4.0]),
            ([1.0, 0.0], [0.0, 1.0]),
            ([2.0, 0.0], [4.0, 0.0]),
        ],
        "a array<double>, b array<double>",
    )


def test_dot(pairs):
    got = [r[0] for r in pairs.select(dot("a", "b")).collect()]
    assert got == [11.0, 0.0, 8.0]


def test_norm(pairs):
    got = [r[0] for r in pairs.select(norm("a")).collect()]
    assert got == pytest.approx([math.sqrt(5), 1.0, 2.0])


def test_cosine_bounds_and_known(pairs):
    got = [r[0] for r in pairs.select(F.expr(cosine("a", "b"))).collect()]
    assert got[1] == pytest.approx(0.0)  # orthogonal
    assert got[2] == pytest.approx(1.0)  # parallel
    assert all(-1.0 - 1e-9 <= g <= 1.0 + 1e-9 for g in got)


def test_cosine_of_zero_vector_is_zero(spark, pairs):
    """A zero vector has cosine 0 (mmr_select's convention), not a 0/0
    that raises DIVIDE_BY_ZERO under ANSI."""
    zero = spark.createDataFrame(
        [([0.0, 0.0], [3.0, 4.0]), ([1.0, 2.0], [0.0, 0.0]), ([0.0], [0.0])],
        "a array<double>, b array<double>",
    )
    rows = pairs.select(F.expr(cosine("a", "b")).alias("c")).collect()
    # nonzero pairs: unchanged from the plain quotient
    plain = pairs.select(dot("a", "b") / (norm("a") * norm("b"))).collect()
    assert [r.c for r in rows] == [r[0] for r in plain]
    assert [r[0] for r in zero.select(F.expr(cosine("a", "b"))).collect()] == [0.0] * 3


def test_topk_subset_of_full_sort(spark, sf_dir):
    """Property: top-k == head of the full sort (SURVEY §5.6)."""
    from vectordb_agentic_rag_spark.operators.vector import vec_cosine_topk
    from vectordb_agentic_rag_spark.functions.vector import cosine
    from vectordb_agentic_rag_spark.tables import table

    topk = {r.vec_id for r in vec_cosine_topk(spark, sf_dir).collect()}
    emb = table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    full = (
        emb.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", F.round(F.expr(cosine("embedding", "qv")), 6).alias("sim"))
        .orderBy(F.col("sim").desc(), "vec_id")
        .collect()
    )
    assert topk == {r.vec_id for r in full[:5]}


def test_similarity_join_symmetric_threshold(spark, sf_dir):
    from vectordb_agentic_rag_spark.operators.vector import join_similarity_theta

    rows = join_similarity_theta(spark, sf_dir).collect()
    assert all(r.vec_id_a < r.vec_id_b for r in rows)
    assert all(r.sim >= 0.4 for r in rows)


def test_entry_smoke(spark):
    import importlib
    import __spark_entry__ as e

    importlib.reload(e)
    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) == 5
    assert set(df.columns) == {"vec_id", "sim", "preview"}


# ------------------------------------------- greedy MMR as one expression

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_MMR_SCHEMA = (
    "g int, k int, lam double, "
    "c array<struct<id: bigint, embedding: array<double>, sim: double>>"
)
# components: small integers (exact ties, zero vectors) plus finite
# floats kept away from underflow, where mmr_select itself divides by 0
_component = st.one_of(
    st.sampled_from([0.0, 1.0, -1.0, 2.0, 0.5]),
    st.floats(-4, 4, allow_nan=False).filter(lambda x: x == 0 or abs(x) > 1e-3),
)
# 6-decimal similarities, as the callers round them; a few values recur
_sim = st.one_of(
    st.sampled_from([0.0, 0.5, 0.25, -0.125]),
    st.integers(-1_000_000, 1_000_000).map(lambda i: i / 1e6),
)


@st.composite
def _mmr_case(draw):
    d = draw(st.integers(1, 4))
    # candidates share vectors from a small pool: duplicates and the
    # zero vector come up often
    pool = draw(st.lists(st.lists(_component, min_size=d, max_size=d),
                         min_size=1, max_size=3))
    pool.append([0.0] * d)
    ids = draw(st.lists(st.integers(-10**6, 10**6), unique=True, max_size=8))
    cand = [(i, draw(st.sampled_from(pool)), draw(_sim)) for i in ids]
    k = draw(st.integers(0, 7))  # covers k = 0 and k > len(cand)
    lam = draw(st.sampled_from([0.0, 0.3, 0.5, 1.0]) | st.floats(0, 1))
    return cand, k, lam


@settings(max_examples=30, deadline=None)
@given(st.lists(_mmr_case(), min_size=1, max_size=6))
def test_mmr_picks_matches_mmr_select(spark, cases):
    """Property: functions.vector.mmr_picks picks the same ids, in the
    same order, as the Python reference operators.ml.mmr_select,
    with scores within 1e-6 (mmr_select rounds its scores to 6
    decimals; the expression returns them raw)."""
    from vectordb_agentic_rag_spark.functions.vector import mmr_picks
    from vectordb_agentic_rag_spark.operators.ml import mmr_select

    rows = [
        (g, k, lam, [{"id": i, "embedding": e, "sim": sim} for i, e, sim in cand])
        for g, (cand, k, lam) in enumerate(cases)
    ]
    # k and lam are literals of the expression: one branch per case
    pick = None
    for g, (_, k, lam) in enumerate(cases):
        e = F.expr(mmr_picks("c", k, lam))
        pick = F.when(F.col("g") == g, e) if pick is None else pick.when(F.col("g") == g, e)
    out = spark.createDataFrame(rows, _MMR_SCHEMA).select("g", "c", pick.alias("p"))
    got = {r.g: [(r.c[p.idx].id, p.score) for p in r.p] for r in out.collect()}
    for g, (cand, k, lam) in enumerate(cases):
        want = mmr_select(cand, k, lam)
        assert [i for i, _ in got[g]] == [i for i, _ in want], (cand, k, lam)
        for (_, a), (_, b) in zip(got[g], want):
            assert abs(a - b) <= 1e-6
