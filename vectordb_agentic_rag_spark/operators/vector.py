"""Vector / similarity operators — the reference's core domain.

The reference stores 1024-dim cosine vectors in Qdrant
(/root/reference/app.py:87) and retrieves with MMR top-k
(fetch_k=20, k=5, /root/reference/app.py:264-266). Here the same
semantics are batch DataFrame plans over the ``embeddings`` fixture
(64-dim stand-in, FIXTURES.md):

- exact top-k  = cosine column + ORDER BY + LIMIT, which Spark plans as
  TakeOrderedAndProject (per-partition partial top-k, then a single
  k-row merge on the driver — the scalable analogue of Qdrant's
  fetch_k candidate fetch);
- per-query batch kNN = broadcast the (small) query side, stream the
  corpus, window top-k per query — no shuffle of the corpus at all;
- similarity theta-join = exact path here; the 100 TB path is the LSH
  banding join in operators/ml.py (approxSimilarityJoin).

All similarity math is Catalyst higher-order functions
(functions/vector.py) — zero Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.vector import (
    cosine_fixed,
    cosine_to_const_fixed,
    dot,
    dot_fixed,
    norm,
    norm_fixed,
    seq_norm,
)
from ..memo import session_artifact
from ..registry import query
from ..tables import SCRATCH, sf_tag, table
from .dedup import _KM_D, _KM_ITERS, _km_asg_ctes, _km_assignments

# DuckDB fragment: cosine similarity between two DOUBLE[] lists, with the
# same sequential-fold arithmetic as functions.vector.cosine.
_DD_COS = (
    "list_dot_product({a}::DOUBLE[], {b}::DOUBLE[]) / "
    "(sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[])) * "
    "sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[])))"
)


def _query_vectors(spark: SparkSession, sf_dir: str, n: int = 10) -> DataFrame:
    """First n vectors double as the 'query set' for batch kNN ops."""
    return (
        table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < n)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    )


@session_artifact
def _query_vector_raw(spark: SparkSession, sf_dir: str, vec_id: int) -> list:
    """One query vector via a driver-side pyarrow point read (~ms),
    memoized per session."""
    import pyarrow.parquet as pq

    t = pq.read_table(
        f"{sf_dir}/embeddings.parquet",
        columns=["vec_id", "embedding"],
        filters=[("vec_id", "==", vec_id)],
    )
    return t.column("embedding")[0].as_py()


@query(
    "vec_norm_dot",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           round(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])), 6) AS l2_norm,
           round(list_dot_product(e.embedding::DOUBLE[], q.qv::DOUBLE[]), 6) AS dot_q0
    FROM embeddings e CROSS JOIN q
    """,
)
def vec_norm_dot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 norm and dot-product as plain columns (SURVEY §2B).

    Broadcast the single query row; the corpus side never shuffles.
    """
    emb = table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return emb.crossJoin(F.broadcast(q)).select(
        "vec_id",
        F.round(norm("embedding"), 6).alias("l2_norm"),
        F.round(dot("embedding", "qv"), 6).alias("dot_q0"),
    )


@query(
    "vec_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id, round({_DD_COS.format(a='e.embedding', b='q.qv')}, 6) AS sim
    FROM embeddings e CROSS JOIN q
    WHERE e.vec_id <> 0
    ORDER BY sim DESC, e.vec_id
    LIMIT 5
    """,
)
def vec_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP: batch kNN, k=5 cosine vs vec_id=0 (reference k=5,
    app.py:264; cosine metric app.py:87).

    Plan shape at scale: parquet scan -> codegen'd cosine column against
    the *inlined* query vector (a query parameter, not data: a broadcast
    1-row DataFrame would cost an extra job) ->
    TakeOrderedAndProject(limit=5). One job, zero shuffles, zero
    broadcasts; each partition emits <=5 candidates. Ties broken on
    vec_id for determinism.
    """
    emb = table(spark, sf_dir, "embeddings")
    qvec = _query_vector_raw(spark, sf_dir, 0)
    qnorm = seq_norm(qvec)
    return (
        emb.where(F.col("vec_id") != 0)
        .select(
            "vec_id",
            F.round(
                cosine_to_const_fixed("embedding", qvec, qnorm), 6
            ).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(5)
    )


@query(
    "vec_cosine_topk_per_query",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, embedding FROM embeddings WHERE vec_id >= 10),
    sims AS (
      SELECT q.query_id, c.neighbor_id,
             round({_DD_COS.format(a='c.embedding', b='q.qv')}, 6) AS sim
      FROM c CROSS JOIN q)
    SELECT query_id, neighbor_id, sim, rn
    FROM (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rn
          FROM sims) t
    WHERE rn <= 3
    """,
)
def vec_cosine_topk_per_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Many-queries batch kNN: top-3 neighbors for each of 10 query vectors.

    The query side is broadcast (it is small by construction — queries
    are a working set, the corpus is the 100 TB side); the corpus
    streams through a single codegen stage, then a window top-k
    partitioned by query_id. rn column kept so rank is auditable.
    """
    emb = table(spark, sf_dir, "embeddings")
    q = _query_vectors(spark, sf_dir, 10)
    corpus = emb.where(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("neighbor_id"), "embedding"
    )
    d = len(_query_vector_raw(spark, sf_dir, 0))
    sims = corpus.crossJoin(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        F.round(cosine_fixed("embedding", "qv", d), 6).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return sims.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 3)


@query(
    "vec_knn_classify",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id >= 10),
    sims AS (
      SELECT q.query_id, c.vec_id, c.label,
             round({_DD_COS.format(a='c.embedding', b='q.qv')}, 6) AS sim
      FROM c CROSS JOIN q),
    nn AS (
      SELECT query_id, label
      FROM (SELECT query_id, label, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn
            FROM sims) t
      WHERE rn <= 5),
    votes AS (SELECT query_id, label, count(*) AS votes FROM nn GROUP BY 1, 2)
    SELECT query_id, label AS pred_label, votes
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, label) AS r FROM votes) t
    WHERE r = 1
    """,
)
def vec_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-NN majority-label classification using embeddings.label as ground
    truth (FIXTURES.md). Ties: higher vote count, then lowest label."""
    emb = table(spark, sf_dir, "embeddings")
    q = _query_vectors(spark, sf_dir, 10)
    corpus = emb.where(F.col("vec_id") >= 10)
    d = len(_query_vector_raw(spark, sf_dir, 0))
    sims = corpus.crossJoin(F.broadcast(q)).select(
        "query_id",
        "vec_id",
        "label",
        F.round(cosine_fixed("embedding", "qv", d), 6).alias("sim"),
    )
    w_nn = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("vec_id"))
    nn = sims.withColumn("rn", F.row_number().over(w_nn)).where(F.col("rn") <= 5)
    votes = nn.groupBy("query_id", "label").agg(F.count("*").alias("votes"))
    w_maj = Window.partitionBy("query_id").orderBy(F.col("votes").desc(), F.col("label"))
    return (
        votes.withColumn("r", F.row_number().over(w_maj))
        .where(F.col("r") == 1)
        .select("query_id", F.col("label").alias("pred_label"), "votes")
    )


def similarity_join_blocked(
    emb: DataFrame, threshold: float, n_blocks: int = 4
) -> DataFrame:
    """Exact all-pairs cosine join as a BLOCKED GEMM: tile the corpus
    into `n_blocks` vec_id blocks, fan each row out to every block-pair
    it participates in, and compute each tile's full similarity matrix
    with one vectorized float64 matrix product inside applyInPandas.

    Why not the pure-SQL theta join: Spark's higher-order functions
    (aggregate/zip_with) are CodegenFallback — the per-pair dot product
    runs interpreted at ~11 us/pair (measured), and an unrolled
    element_at sum is even slower (47 s; the depth-64 expression tree
    defeats codegen). One BLAS matmul per tile does the identical
    float64 arithmetic at memory bandwidth: 24 s -> ~1 s at sf0.1.

    Scale shape: a row in block k joins block-pairs (k, j>=k) and
    (i<=k, k), so each row is replicated n_blocks times (shuffle
    amplification O(n_blocks), like any blocked matrix multiply) and
    each task holds at most two blocks — pick n_blocks so a block's
    vectors fit an executor (rows/n_blocks * dim * 8 bytes). At 100 TB
    the exact form still runs on samples / candidate sets; the full-
    corpus path is the LSH-bucketed join (operators/ml.py), which feeds
    candidate PAIRS through this same tile kernel.

    Arrow is the only Python boundary (batch columnar transfer); the
    final rounding stays JVM-side so HALF_UP matches the DuckDB oracle.
    """
    import numpy as np
    import pandas as pd

    pair_structs = F.array(
        *[
            F.struct(
                F.least(F.col("blk"), F.lit(j)).alias("bi"),
                F.greatest(F.col("blk"), F.lit(j)).alias("bj"),
            )
            for j in range(n_blocks)
        ]
    )
    fanned = (
        emb.select("vec_id", "embedding", (F.col("vec_id") % n_blocks).alias("blk"))
        .withColumn("bp", F.explode(F.array_distinct(pair_structs)))
        .select("vec_id", "embedding", "blk", "bp.bi", "bp.bj")
    )

    empty = pd.DataFrame(
        {
            "vec_id_a": pd.Series(dtype="int64"),
            "vec_id_b": pd.Series(dtype="int64"),
            "sim_raw": pd.Series(dtype="float64"),
        }
    )

    def tile(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        bi, bj = key
        left = pdf[pdf["blk"] == bi]
        right = pdf[pdf["blk"] == bj]
        if left.empty or right.empty:
            return empty
        lids = left["vec_id"].to_numpy()
        rids = right["vec_id"].to_numpy()
        lm = np.stack(left["embedding"].to_numpy()).astype(np.float64)
        rm = np.stack(right["embedding"].to_numpy()).astype(np.float64)
        ln = np.sqrt((lm * lm).sum(axis=1))
        rn = np.sqrt((rm * rm).sum(axis=1))
        sims = (lm @ rm.T) / np.outer(ln, rn)
        mask = sims >= threshold
        if bi == bj:
            # Diagonal tile: both sides are the same block; emit each
            # unordered pair once via the id order.
            mask &= lids[:, None] < rids[None, :]
        ii, jj = np.nonzero(mask)
        if not len(ii):
            return empty
        li, rj = lids[ii], rids[jj]
        # Off-diagonal blocks are disjoint, so each unordered pair shows
        # up exactly once — but the smaller vec_id may sit in the
        # higher-numbered block, so normalize to (min, max).
        return pd.DataFrame(
            {
                "vec_id_a": np.minimum(li, rj),
                "vec_id_b": np.maximum(li, rj),
                "sim_raw": sims[ii, jj],
            }
        )

    return (
        fanned.groupBy("bi", "bj")
        .applyInPandas(tile, "vec_id_a bigint, vec_id_b bigint, sim_raw double")
        .select("vec_id_a", "vec_id_b", F.round("sim_raw", 6).alias("sim"))
    )


@query(
    "join_similarity_theta",
    oracle=f"""
    SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
           round({_DD_COS.format(a='a.embedding', b='b.embedding')}, 6) AS sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE {_DD_COS.format(a='a.embedding', b='b.embedding')} >= 0.4
    """,
)
def join_similarity_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs similarity join: cosine >= 0.4, vec_id_a < vec_id_b,
    executed as a blocked GEMM (see similarity_join_blocked). At 100 TB
    the full-corpus path is the LSH-bucketed candidate join
    (operators/ml.py); the exact kernel here verifies candidates and
    runs on samples."""
    return similarity_join_blocked(
        table(spark, sf_dir, "embeddings"), threshold=0.4, n_blocks=4
    )


_DD_UNIT = (
    "list_transform({a}::DOUBLE[], x -> x / "
    "sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[])))"
)


@session_artifact
def _unit_embeddings(spark: SparkSession, sf_dir: str) -> str:
    """Write the unit-normalized corpus once per session; return its
    path."""
    out = f"{SCRATCH}/unit_embeddings_{sf_tag(sf_dir)}.parquet"
    emb = table(spark, sf_dir, "embeddings")
    # divide, don't multiply by a reciprocal: x/n rounds once, while
    # x*(1/n) rounds twice — the oracle divides, so we must too for
    # bit parity at round(…,6)
    n_col = norm("embedding")
    (
        emb.select(
            "vec_id",
            F.transform(
                "embedding", lambda x: x.cast("double") / n_col
            ).alias("u"),
        )
        .write.mode("overwrite")
        .parquet(out)
    )
    return out


@query(
    "vec_prenormalized_topk",
    oracle=f"""
    WITH unit AS (
      SELECT vec_id, {_DD_UNIT.format(a='embedding')} AS u FROM embeddings),
    q AS (SELECT vec_id AS query_id, u AS qv FROM unit WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, u FROM unit WHERE vec_id >= 10),
    sims AS (
      SELECT q.query_id, c.neighbor_id,
             round(list_dot_product(c.u, q.qv), 6) AS sim
      FROM c CROSS JOIN q)
    SELECT query_id, neighbor_id, sim FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
      FROM sims)
    WHERE rn <= 3
    """,
)
def vec_prenormalized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-normalized batch kNN: unit-normalize the corpus ONCE (write
    time), then every query's cosine is a single dot-product fold —
    1/3 of the per-pair arithmetic of vec_cosine_topk_per_query, and
    the amortization grows with the query count. This is THE standard
    trick for cosine retrieval at 100 TB: norms are data properties,
    not query properties, so they belong in the stored layout (here a
    materialized parquet table in scratch, memoized per session).
    Top-3 per query via partitioned window, ties on neighbor_id."""
    unit = spark.read.parquet(_unit_embeddings(spark, sf_dir))
    q = unit.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("u").alias("qv")
    )
    corpus = unit.where(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("neighbor_id"), "u"
    )
    sim = F.round(
        dot_fixed("u", "qv", len(_query_vector_raw(spark, sf_dir, 0))), 6
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), "neighbor_id")
    return (
        corpus.crossJoin(F.broadcast(q))
        .select("query_id", "neighbor_id", sim.alias("sim"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .drop("rn")
    )


@query(
    "vec_centroid_per_label",
    # NOTE: the driver's result canonicalizer cannot hash list-typed
    # cells (CORRECTNESS_r02: "unhashable type: 'list'"), so the packed
    # centroid is emitted as comma-joined micro-units (round(mean*1e6)
    # as BIGINT) — integer strings are bit-exact across engines.
    oracle="""
    WITH flat AS (
      SELECT label, i, embedding[i] AS x
      FROM embeddings,
           LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i)),
    means AS (
      SELECT label, i,
             CAST(round(avg(CAST(x AS DOUBLE)) * 1000000) AS BIGINT) AS m
      FROM flat GROUP BY label, i)
    SELECT label,
           string_agg(CAST(m AS VARCHAR), ',' ORDER BY i) AS centroid_micro,
           n
    FROM means JOIN (SELECT label, count(*) AS n FROM embeddings GROUP BY label) c
      USING (label)
    GROUP BY label, n
    """,
)
def vec_centroid_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class centroid embeddings (nearest-centroid classification /
    cluster seeding). posexplode -> (label, dim) mean -> re-pack sorted
    by dim: two shuffles regardless of dimensionality, partial
    aggregation does the heavy lifting map-side. At 100 TB this is the
    preferred shape over aggregate-by-struct because the (label, dim)
    key spreads 1024 dims x L labels evenly across the cluster.
    Centroid serialized to micro-unit CSV — see oracle note."""
    emb = table(spark, sf_dir, "embeddings")
    flat = emb.select("label", F.posexplode("embedding").alias("i", "x"))
    means = flat.groupBy("label", "i").agg(
        F.round(F.avg(F.col("x").cast("double")) * 1e6, 0).cast("long").alias("m")
    )
    counts = emb.groupBy("label").agg(F.count("*").alias("n"))
    packed = (
        means.groupBy("label")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "m"))),
                    lambda s: s.m.cast("string"),
                ),
            ).alias("centroid_micro")
        )
    )
    return packed.join(counts, "label").select("label", "centroid_micro", "n")


@query(
    "vec_quantize_int8",
    oracle="""
    WITH scaled AS (
      SELECT vec_id,
             greatest(list_max(list_transform(embedding::DOUBLE[], x -> abs(x))), 1e-12) / 127 AS scale,
             embedding::DOUBLE[] AS e
      FROM embeddings),
    q AS (
      SELECT vec_id, round(scale, 9) AS scale,
             list_transform(e, x -> CAST(round(x / scale) AS BIGINT)) AS qvec
      FROM scaled)
    SELECT vec_id, scale,
           array_to_string(list_transform(qvec, x -> CAST(x AS VARCHAR)), ',')
             AS qvec_csv,
           CAST(list_max(list_transform(qvec, x -> abs(x))) AS BIGINT) AS q_absmax
    FROM q
    """,
)
def vec_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization with a per-vector scale
    (absmax/127) — 4x storage reduction vs float32, THE lever that
    turns a 100 TB embedding table into 25 TB while keeping cosine
    ranking nearly intact. Row-local map pass, no shuffle; q_absmax
    <= 127 by construction (the oracle checks every value, proving
    scale/round parity across engines). Dequantize is qvec*scale; at
    query time the int8 dot product runs on quantized values and
    rescales once per pair. The code array travels as comma-joined
    VARCHAR (qvec_csv) because the driver's canonicalizer can't hash
    list cells — integer CSV is bit-exact on both engines."""
    emb = table(spark, sf_dir, "embeddings")
    e = F.transform("embedding", lambda x: x.cast("double"))
    absmax = F.greatest(
        F.array_max(F.transform(e, lambda x: F.abs(x))), F.lit(1e-12)
    )
    scale = absmax / 127
    q = emb.select(
        "vec_id",
        F.round(scale, 9).alias("scale"),
        F.transform(e, lambda x: F.round(x / scale).cast("bigint")).alias("qvec"),
    )
    return q.select(
        "vec_id",
        "scale",
        F.concat_ws(
            ",", F.transform("qvec", lambda x: x.cast("string"))
        ).alias("qvec_csv"),
        F.array_max(F.transform("qvec", lambda x: F.abs(x)))
        .cast("bigint")
        .alias("q_absmax"),
    )


_DD_COS16 = (
    "list_dot_product({a}[1:16]::DOUBLE[], {b}[1:16]::DOUBLE[]) / "
    "(sqrt(list_dot_product({a}[1:16]::DOUBLE[], {a}[1:16]::DOUBLE[])) * "
    "sqrt(list_dot_product({b}[1:16]::DOUBLE[], {b}[1:16]::DOUBLE[])))"
)


@query(
    "vec_matryoshka_topk",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    cand AS (
      SELECT e.vec_id, e.embedding
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> 0
      ORDER BY {_DD_COS16.format(a='e.embedding', b='q.qv')} DESC, e.vec_id
      LIMIT 50)
    SELECT c.vec_id, round({_DD_COS.format(a='c.embedding', b='q.qv')}, 6) AS sim
    FROM cand c CROSS JOIN q
    ORDER BY sim DESC, c.vec_id
    LIMIT 5
    """,
)
def vec_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (MRL-style) two-phase kNN: rank candidates on the
    first 16 dims only, then rescore the 50 survivors with exact
    full-dim cosine and keep 5. This is the fetch_k->k funnel of the
    reference's retriever (fetch_k=20 -> k=5, app.py:264-266) recast
    as a *cost* optimization: at 100 TB the phase-1 scan reads a
    16-float prefix column (stored as its own parquet column via
    slice-at-ingest) — 1/4 the bytes and FLOPs of the full vector —
    and still plans as one TakeOrderedAndProject; only the <=50-row
    candidate set ever touches full vectors. Both phases stay
    JVM-side; ties pinned on vec_id."""
    emb = table(spark, sf_dir, "embeddings")
    qvec = _query_vector_raw(spark, sf_dir, 0)
    qnorm16 = seq_norm(qvec[:16])
    qnorm = seq_norm(qvec)
    # prefix cosine == unrolled chain over elements 1..16 of the full
    # column (no slice() array materialization at all)
    cand = (
        emb.where(F.col("vec_id") != 0)
        .select(
            "vec_id",
            "embedding",
            cosine_to_const_fixed("embedding", qvec[:16], qnorm16).alias(
                "sim16"
            ),
        )
        .orderBy(F.col("sim16").desc(), "vec_id")
        .limit(50)
    )
    return (
        cand.select(
            "vec_id",
            F.round(
                cosine_to_const_fixed("embedding", qvec, qnorm), 6
            ).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(5)
    )


@query(
    "vec_radius_search",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < 5)
    SELECT q.query_id, e.vec_id AS neighbor_id,
           round({_DD_COS.format(a='e.embedding', b='q.qv')}, 6) AS sim
    FROM embeddings e CROSS JOIN q
    WHERE e.vec_id >= 5
      AND {_DD_COS.format(a='e.embedding', b='q.qv')} >= 0.35
    """,
)
def vec_radius_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius (score-threshold) retrieval — the other half of the
    vector-store query surface next to top-k: return EVERY neighbor
    with cosine >= tau rather than a fixed k (Qdrant's score_threshold
    search parameter; the LangChain retriever the reference builds on
    exposes it as search_kwargs['score_threshold']). Broadcast the
    query side, stream the corpus once, keep the predicate row-local —
    the result size is data-dependent, so there is no TakeOrdered cap,
    but also no shuffle: each corpus partition emits its own matches
    independently at any scale."""
    emb = table(spark, sf_dir, "embeddings")
    d = len(_query_vector_raw(spark, sf_dir, 0))
    # Norms are per-ROW quantities: compute each side's norm BEFORE the
    # crossJoin so the post-join expression is only the d-term dot,
    # evaluated ONCE (alias + filter-on-alias). The earlier shape
    # inlined the full unrolled cosine twice (predicate + projection),
    # which blew janino's 64 KB method limit -> interpreted fallback
    # (~1.4 s at sf0.1 vs ~0.3 s codegen'd). Same double arithmetic as
    # the oracle: sqrt of the identical sequential-fold norm2, so
    # round(.,6) parity is unchanged. Helpers take column NAMES so the
    # whole chain renders as one F.expr (CLAUDE.md round-2 note).
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        norm_fixed("embedding", d).alias("q_norm"),
    )
    return (
        emb.where(F.col("vec_id") >= 5)
        .select("vec_id", "embedding", norm_fixed("embedding", d).alias("e_norm"))
        .crossJoin(F.broadcast(q))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (dot_fixed("embedding", "qv", d) / (F.col("e_norm") * F.col("q_norm"))).alias("sim_raw"),
        )
        .where(F.col("sim_raw") >= 0.35)
        .select("query_id", "neighbor_id", F.round("sim_raw", 6).alias("sim"))
    )


@query(
    "udf_registered_cosine",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id,
           round({_DD_COS.format(a='embedding', b='(SELECT qv FROM q)')}, 6) AS sim
    FROM embeddings WHERE vec_id <> 0
    ORDER BY sim DESC, vec_id LIMIT 5
    """,
)
def udf_registered_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered-UDF surface: an Arrow-vectorized @pandas_udf
    cosine registered into the SQL catalog (spark.udf.register) and
    invoked from plain SQL — how a migrating user plugs custom Python
    math into the SQL front-end when no built-in exists. Batch-at-a-
    time numpy over Arrow columns (one GEMM-like pass per batch), NOT
    row-at-a-time Python. The JVM higher-order-function twin
    (vec_cosine_topk) remains the preferred hot path — this op exists
    to keep the escape hatch tested; same top-5, same oracle shape."""
    from ..functions.pyudf import make_cosine_to_const_udf

    spark.udf.register(
        "cos_to_q", make_cosine_to_const_udf(_query_vector_raw(spark, sf_dir, 0))
    )
    table(spark, sf_dir, "embeddings").createOrReplaceTempView("_udf_emb")
    return spark.sql(
        """SELECT vec_id, round(cos_to_q(embedding), 6) AS sim
           FROM _udf_emb WHERE vec_id <> 0
           ORDER BY sim DESC, vec_id LIMIT 5"""
    )


@query(
    "vec_signbit_hamming_topk",
    # the oracle computes the SAME hamming distance from the unpacked
    # sign bits (per-dimension comparison) — the packed-word XOR on the
    # Spark side is a physical encoding, not different semantics
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, embedding
          FROM embeddings WHERE vec_id >= 10),
    h AS (
      SELECT q.query_id, c.neighbor_id,
             CAST(len(list_filter(range(1, len(c.embedding) + 1),
                  i -> (c.embedding[i] > 0) <> (q.qv[i] > 0))) AS INTEGER)
               AS hamming
      FROM c CROSS JOIN q)
    SELECT query_id, neighbor_id, hamming
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY hamming, neighbor_id) AS rn
          FROM h) t
    WHERE rn <= 3
    """,
)
def vec_signbit_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary (sign-bit) quantization kNN — the extreme memory play for
    100 TB corpora: each <=64-dim float vector collapses to ONE int64
    word (256 bytes -> 8 bytes, 32x), and candidate ranking becomes
    XOR + popcount (`bit_count(sig ^ qsig)`), which whole-stage codegen
    compiles to two machine instructions per comparison. The corpus is
    packed in the same scan that ranks it (no materialized index here;
    at scale the sig column would be written once and reused), queries
    broadcast, and only (query_id, neighbor_id, hamming) rows — never
    embeddings — reach the per-query top-k shuffle.

    This is the binary-quantization path the reference's Qdrant backend
    exposes as `binary_quantization` (reference stores raw 1024-dim
    cosine vectors, app.py:87); re-ranking survivors with exact cosine
    is vec_pq_ann's refine pattern and is omitted here to keep the op
    a pure hamming ranker with an exact oracle."""
    emb = table(spark, sf_dir, "embeddings")
    d = len(_query_vector_raw(spark, sf_dir, 0))
    if d > 64:  # pragma: no cover - fixture dim is 64
        raise ValueError("sign-bit packing beyond 64 dims needs 2+ words")
    # pack: bit i set iff embedding[i] > 0 (0-indexed); the 2-arg
    # transform lambda provides the element index JVM-side
    sig = (
        "aggregate(transform(embedding, (x, i) -> "
        "IF(x > 0D, shiftleft(1L, i), 0L)), 0L, (a, b) -> a | b)"
    )
    q = _query_vectors(spark, sf_dir, 10).select(
        "query_id", F.expr(sig.replace("embedding", "qv")).alias("qsig")
    )
    corpus = emb.where(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("neighbor_id"), F.expr(sig).alias("sig")
    )
    ham = corpus.crossJoin(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        F.bit_count(F.col("sig").bitwiseXOR(F.col("qsig"))).cast("int").alias("hamming"),
    )
    w = Window.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    return (
        ham.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("query_id", "neighbor_id", "hamming")
    )


@query(
    "vec_filtered_knn",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, embedding, label
          FROM embeddings WHERE vec_id >= 10 AND label IN (1, 2)),
    sims AS (
      SELECT q.query_id, c.neighbor_id, c.label,
             round({_DD_COS.format(a='c.embedding', b='q.qv')}, 6) AS sim
      FROM c CROSS JOIN q)
    SELECT query_id, neighbor_id, label, sim
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, neighbor_id) AS rn
          FROM sims) t
    WHERE rn <= 3
    """,
)
def vec_filtered_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search — the metadata-predicate + kNN combo
    (Qdrant payload filters on the reference's collection; the classic
    'filtered ANN' problem): top-3 by cosine among only the corpus
    rows whose label passes the predicate. In batch Spark the filter
    simply pushes into the parquet scan BEFORE any vector math — the
    plan reads only qualifying rows (PushedFilters: In(label, [1,2])),
    which is the one place batch beats an ANN index: a pre-filtered
    exact scan has no post-filter recall loss, while index-first ANN
    must over-fetch when the predicate is selective."""
    emb = table(spark, sf_dir, "embeddings")
    q = _query_vectors(spark, sf_dir, 10)
    corpus = emb.where(
        (F.col("vec_id") >= 10) & F.col("label").isin(1, 2)
    ).select(F.col("vec_id").alias("neighbor_id"), "embedding", "label")
    d = len(_query_vector_raw(spark, sf_dir, 0))
    sims = corpus.crossJoin(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        "label",
        F.round(cosine_fixed("embedding", "qv", d), 6).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), "neighbor_id")
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("query_id", "neighbor_id", "label", "sim")
    )


def eval_rankings_topk(spark: SparkSession, sf_dir: str):
    """(truth, system) top-10 ranking DataFrames for the offline
    retrieval-eval ops: truth = exact cosine (round(6), neighbor_id
    tiebreak), system = sign-bit hamming — the shared CTE pair behind
    rag_eval_recall_mrr / rag_eval_ndcg / rag_rbo_overlap (their DuckDB
    twins pin the identical SQL). Both rankings stream the corpus once
    against the broadcast 10-query set; per-query top-10 is a window
    over per-partition-reduced candidates.

    truth columns: (query_id, neighbor_id, rn); system: (query_id,
    neighbor_id, p)."""
    emb = table(spark, sf_dir, "embeddings")
    d = len(_query_vector_raw(spark, sf_dir, 0))
    qs = _query_vectors(spark, sf_dir, 10)
    corpus = emb.where(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("neighbor_id"), "embedding"
    )
    paired = corpus.crossJoin(F.broadcast(qs))
    w_cos = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), "neighbor_id"
    )
    truth = (
        paired.select(
            "query_id",
            "neighbor_id",
            F.round(cosine_fixed("embedding", "qv", d), 6).alias("sim"),
        )
        .withColumn("rn", F.row_number().over(w_cos))
        .where(F.col("rn") <= 10)
        .select("query_id", "neighbor_id", "rn")
    )
    sig = (
        "aggregate(transform({v}, (x, i) -> "
        "IF(x > 0D, shiftleft(1L, i), 0L)), 0L, (a, b) -> a | b)"
    )
    w_ham = Window.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    system = (
        paired.select(
            "query_id",
            "neighbor_id",
            F.bit_count(
                F.expr(sig.format(v="embedding")).bitwiseXOR(
                    F.expr(sig.format(v="qv"))
                )
            ).alias("hamming"),
        )
        .withColumn("p", F.row_number().over(w_ham))
        .where(F.col("p") <= 10)
        .select("query_id", "neighbor_id", "p")
    )
    return truth, system


# ---------------------------------------------------------------------------
# vec_topk_scatter_gather
# ---------------------------------------------------------------------------

_SG_SHARDS = 8


@query(
    "vec_topk_scatter_gather",
    # The oracle computes the DIRECT global top-3 — while the Spark
    # side computes it by shard scatter-gather. A hash match IS the
    # proof of the merge identity (top-k of a union == top-k of the
    # per-shard top-k's), the theorem every distributed vector-serving
    # gather step rests on.
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, embedding,
                 (vec_id * 2654435761) % 4294967296 // 536870912
                   AS shard
          FROM embeddings WHERE vec_id >= 10),
    sims AS (
      SELECT q.query_id, c.neighbor_id, c.shard,
             round({{cos}}, 6) AS sim
      FROM c CROSS JOIN q)
    SELECT query_id, CAST(rn AS BIGINT) AS rn, neighbor_id,
           CAST(shard AS BIGINT) AS shard, sim
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, neighbor_id)
                      AS rn
          FROM sims) z
    WHERE rn <= 3
    ORDER BY query_id, rn
    """.format(
        cos=_DD_COS.format(a="c.embedding", b="q.qv")
    ),
)
def vec_topk_scatter_gather(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCATTER-GATHER top-k — the distributed vector-serving shape
    (reference app.py:261-271's Qdrant call fans out to shard-local
    searches and merges; every sharded ANN service does): the corpus
    is hash-sharded (_SG_SHARDS = 8 shards on the HIGH bits of a
    multiplicative hash — the low bit of id*odd is the id's own
    parity, the round-9 no-op-hash trap), each shard computes its
    LOCAL exact top-3 per query, and the gather stage takes the
    global top-3 over the <= 8*3 shard survivors per
    query.  Correct by the top-k merge theorem: any global top-3 row
    is its own shard's top-3, so the gather input always contains
    the answer — the same k-smallest-of-union property the KMV
    sketch union rides (tests/test_analytics13.py).  The ORACLE
    computes the DIRECT unsharded top-3: the driver's hash check is
    therefore an end-to-end proof of the scatter-gather identity,
    not a mirrored reimplementation.

    Parity: sims round(6) with the shared cosine shape; shard ids
    exact integer arithmetic; ties break on neighbor_id.

    Shape at 100 TB: stage 1's window partitions by (shard,
    query_id) — each shard sorts only its own candidates (on a real
    cluster this is the map-side partial top-k that makes global
    top-k communication O(shards * k), not O(corpus)); stage 2
    windows over the bounded gather set.  The broadcast query panel
    streams the corpus once."""
    emb = table(spark, sf_dir, "embeddings")
    q = _query_vectors(spark, sf_dir, 10)
    d = len(_query_vector_raw(spark, sf_dir, 0))
    corpus = emb.where(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("neighbor_id"),
        "embedding",
        F.expr(
            "CAST((vec_id * 2654435761) % 4294967296 div 536870912 "
            "AS BIGINT)"
        ).alias("shard"),
    )
    sims = corpus.crossJoin(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        "shard",
        F.round(cosine_fixed("embedding", "qv", d), 6).alias("sim"),
    )
    w_shard = Window.partitionBy("shard", "query_id").orderBy(
        F.col("sim").desc(), "neighbor_id"
    )
    local = (
        sims.withColumn("lrn", F.row_number().over(w_shard))
        .where(F.col("lrn") <= 3)
        .drop("lrn")
    )
    w_g = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), "neighbor_id"
    )
    return (
        local.withColumn("rn", F.row_number().over(w_g))
        .where(F.col("rn") <= 3)
        .select(
            "query_id",
            F.col("rn").cast("bigint").alias("rn"),
            "neighbor_id",
            "shard",
            "sim",
        )
        .orderBy("query_id", "rn")
    )


_KM_DSEL = (
    "CASE WHEN cl = 0 THEN d0 WHEN cl = 1 THEN d1 "
    "WHEN cl = 2 THEN d2 ELSE d3 END"
)


def _km_oracle() -> str:
    dims = range(1, _KM_D + 1)
    T = _KM_ITERS
    parts = _km_asg_ctes()
    parts.append(
        f"per AS (SELECT cl, count(*) AS n_points, "
        f"sum(CAST(round({_KM_DSEL}, 9) AS DECIMAL(28,12))) AS inert "
        f"FROM asg{T} GROUP BY cl)"
    )
    body = ",\n    ".join(parts)
    return (
        body
        + f"""
    SELECT p.cl AS cluster_id, p.n_points,
           {', '.join(f'round(c.c{i}, 6) AS c{i}' for i in dims)},
           round(CAST(p.inert AS DOUBLE), 4) AS inertia
    FROM per p JOIN cent{_KM_ITERS} c ON p.cl = c.cl
    """
    )


@query("vec_kmeans_lloyd", oracle=_km_oracle())
def vec_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTED K-MEANS (Lloyd, k=4, 3 unrolled iterations) over the
    8-dim matryoshka prefix of the embedding corpus — the clustering
    primitive under IVF coarse quantizers (vec_ivf_ann trains one on a
    bounded sample; THIS op is the full-corpus variant), corpus
    topic-bucketing, and diversity sampling.

    Per iteration the corpus is scanned ONCE: centroids pivot to a
    single broadcast row (k*d values — never a shuffled join), distance
    + argmin are codegen'd scalar arithmetic (distances aliased so each
    is evaluated once, the Janino-64KB lesson of vec_radius_search),
    and the update is one map-side-combined aggregate producing k rows.
    Linear in corpus size, k*d bytes of driver state, zero collects —
    the exact shape that holds at 100 TB x 1000 executors.

    Parity discipline (the PageRank recipe): dimension means accumulate
    as DECIMAL(18,9) (order-independent sums), every centroid re-
    quantizes to the round(9) grid each iteration so sub-ulp drift
    cannot compound across iterations, and per-point inertia terms are
    round(9)-quantized before the DECIMAL total. The oracle unrolls the
    same three iterations as chained CTEs (a recursive CTE cannot
    reference itself twice)."""
    dims = range(1, _KM_D + 1)
    asg, cent = _km_assignments(spark, sf_dir)
    per = asg.groupBy("cl").agg(
        F.count("*").alias("n_points"),
        F.sum(
            F.expr(f"CAST(round({_KM_DSEL}, 9) AS DECIMAL(28,12))")
        ).alias("inert"),
    )
    return per.join(F.broadcast(cent), "cl").select(
        F.col("cl").alias("cluster_id"),
        "n_points",
        *[F.round(F.col(f"c{i}"), 6).alias(f"c{i}") for i in dims],
        F.round(F.col("inert").cast("double"), 4).alias("inertia"),
    )


# ---------------------------------------------------------------------------
# vec_pca_power_iter
# ---------------------------------------------------------------------------

_PCA_D = 8  # dim prefix (same matryoshka prefix as vec_kmeans_lloyd)
_PCA_ITERS = 5  # fixed power iterations, unrolled on both engines


def _pca_cov(i: int, j: int) -> str:
    """cov(i,j) from the raw moment sums — identical expression text on
    both engines; round(9)-quantized so iteration arithmetic starts
    from the same grid."""
    a, b = min(i, j), max(i, j)
    return (
        f"round(CAST(s{a}_{b} AS DOUBLE) / n "
        f"- (CAST(s{a} AS DOUBLE) / n) * (CAST(s{b} AS DOUBLE) / n), 9)"
    )


def _pca_w(i: int) -> str:
    """Row i of C*v — fixed left-to-right addition order on both
    engines, so the fold is bit-identical."""
    return " + ".join(f"c{i}_{j} * v{j}" for j in range(1, _PCA_D + 1))


_PCA_NORM = " + ".join(f"w{i} * w{i}" for i in range(1, _PCA_D + 1))
_PCA_LAMBDA = " + ".join(f"v{i} * w{i}" for i in range(1, _PCA_D + 1))
_PCA_TRACE = " + ".join(f"c{i}_{i}" for i in range(1, _PCA_D + 1))


def _pca_oracle() -> str:
    D, T = _PCA_D, _PCA_ITERS
    dims = range(1, D + 1)
    ccols = ", ".join(f"c{i}_{j}" for i in dims for j in dims)
    parts = [
        "WITH pts AS (SELECT "
        + ", ".join(
            f"CAST(list_extract(embedding, {i}) AS DOUBLE) AS e{i}" for i in dims
        )
        + " FROM embeddings)",
        "mom AS (SELECT count(*) AS n, "
        + ", ".join(f"sum(CAST(e{i} AS DECIMAL(18,9))) AS s{i}" for i in dims)
        + ", "
        + ", ".join(
            f"sum(CAST(e{i} AS DECIMAL(18,9)) * CAST(e{j} AS DECIMAL(18,9)))"
            f" AS s{i}_{j}"
            for i in dims
            for j in dims
            if i <= j
        )
        + " FROM pts)",
        "cov AS (SELECT "
        + ", ".join(f"{_pca_cov(i, j)} AS c{i}_{j}" for i in dims for j in dims)
        + " FROM mom)",
        f"v0 AS (SELECT {ccols}, "
        + ", ".join(
            f"{'1.0' if i == 1 else '0.0'} AS v{i}" for i in dims
        )
        + " FROM cov)",
    ]
    for t in range(1, T + 1):
        parts.append(
            f"w{t} AS (SELECT {ccols}, "
            + ", ".join(f"{_pca_w(i)} AS w{i}" for i in dims)
            + f" FROM v{t - 1})"
        )
        parts.append(
            f"v{t} AS (SELECT {ccols}, "
            + ", ".join(
                f"round(w{i} / sqrt({_PCA_NORM}), 9) AS v{i}" for i in dims
            )
            + f" FROM w{t})"
        )
    parts.append(
        f"wf AS (SELECT *, "
        + ", ".join(f"{_pca_w(i)} AS w{i}" for i in dims)
        + f" FROM v{T})"
    )
    body = ",\n    ".join(parts)
    return (
        body
        + f"""
    SELECT round({_PCA_LAMBDA}, 6) AS lambda1,
           round(({_PCA_LAMBDA}) / ({_PCA_TRACE}), 6) AS explained_ratio,
           {', '.join(f'round(CASE WHEN v1 < 0 THEN -v{i} ELSE v{i} END, 6) AS v{i}' for i in dims)}
    FROM wf
    """
    )


@query("vec_pca_power_iter", oracle=_pca_oracle())
def vec_pca_power_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP PRINCIPAL COMPONENT of the embedding corpus (8-dim prefix)
    via distributed covariance + power iteration — the dimensionality
    probe behind OPQ rotations, embedding-drift monitors, and whitening
    stages. The heavy part — the d*(d+1)/2 second-moment sums — is ONE
    map-side-combined aggregate over the corpus (scan-shaped, linear,
    no shuffle beyond the k=1-row combine); the 5 power iterations then
    run on a single 1-row DataFrame entirely inside the plan (no
    driver collect, no loop over actions — the iteration unrolls into
    chained projections exactly like the oracle's CTEs).

    Parity discipline: moment sums accumulate as DECIMAL(18,9)
    products (exact, order-independent); the covariance and every
    iterate re-quantize to the round(9) grid (the PageRank recipe) so
    drift cannot compound; C*v rows and norms are fixed left-to-right
    sums with identical text on both engines. The eigenvector sign is
    canonicalized (v1 >= 0) — power iteration's sign is otherwise an
    artifact of the start vector."""
    emb = table(spark, sf_dir, "embeddings")
    dims = range(1, _PCA_D + 1)
    pts = emb.select(
        *[
            F.expr(f"CAST(element_at(embedding, {i}) AS DOUBLE)").alias(f"e{i}")
            for i in dims
        ]
    )
    mom = pts.agg(
        F.count("*").alias("n"),
        *[
            F.sum(F.col(f"e{i}").cast("decimal(18,9)")).alias(f"s{i}")
            for i in dims
        ],
        *[
            F.sum(
                F.col(f"e{i}").cast("decimal(18,9)")
                * F.col(f"e{j}").cast("decimal(18,9)")
            ).alias(f"s{i}_{j}")
            for i in dims
            for j in dims
            if i <= j
        ],
    )
    cov = mom.select(
        *[F.expr(_pca_cov(i, j)).alias(f"c{i}_{j}") for i in dims for j in dims]
    )
    ccols = [f"c{i}_{j}" for i in dims for j in dims]
    cur = cov.select(
        *ccols,
        *[F.lit(1.0 if i == 1 else 0.0).alias(f"v{i}") for i in dims],
    )
    for _ in range(_PCA_ITERS):
        w = cur.select(*ccols, *[F.expr(_pca_w(i)).alias(f"w{i}") for i in dims])
        cur = w.select(
            *ccols,
            *[
                F.expr(f"round(w{i} / sqrt({_PCA_NORM}), 9)").alias(f"v{i}")
                for i in dims
            ],
        )
    wf = cur.select("*", *[F.expr(_pca_w(i)).alias(f"w{i}") for i in dims])
    return wf.select(
        F.expr(f"round({_PCA_LAMBDA}, 6)").alias("lambda1"),
        F.expr(f"round(({_PCA_LAMBDA}) / ({_PCA_TRACE}), 6)").alias(
            "explained_ratio"
        ),
        *[
            F.expr(
                f"round(CASE WHEN v1 < 0 THEN -v{i} ELSE v{i} END, 6)"
            ).alias(f"v{i}")
            for i in dims
        ],
    )


# ---------------------------------------------------------------------------
# vec_pairwise_cos_hist
# ---------------------------------------------------------------------------

_GEO_PANEL = 512  # deterministic probe panel size


@query(
    "vec_pairwise_cos_hist",
    oracle=f"""
    WITH pan AS (
      SELECT vec_id, embedding FROM embeddings
      ORDER BY vec_id LIMIT {_GEO_PANEL}),
    n AS (
      SELECT vec_id, embedding,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
               AS nm
      FROM pan),
    p AS (
      SELECT CAST(floor(
               list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
               / (a.nm * b.nm) * 10.0) AS BIGINT) AS bucket
      FROM n a JOIN n b ON a.vec_id < b.vec_id)
    SELECT bucket, CAST(count(*) AS BIGINT) AS n_pairs
    FROM p GROUP BY bucket
    """,
)
def vec_pairwise_cos_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS-GEOMETRY PROBE: the histogram of pairwise cosines over a
    deterministic bounded panel (first 512 vectors by id) in 0.1-wide
    buckets — the diagnostic that decides which ANN/dedup strategy can
    work at all (this repo's round-6 finding that the fixture is
    quasi-uniform on the sphere — median pairwise cos ~0, so LSH
    pruning is geometry-limited — was exactly this measurement, now a
    first-class operator a pipeline runs before choosing tau/k/bands).

    Shape at 100 TB: the panel is orderBy+limit (TakeOrderedAndProject
    — a FIXED-size sample regardless of corpus size), so the pairwise
    stage is a constant ~131k pairs; norms are computed per-row BEFORE
    the self-join (the Janino lesson); the histogram is one tiny
    aggregate. Never an all-pairs join over the corpus.

    Parity: both engines fold the same 64-dim double dots
    (list_dot_product == the sequential-fold dot, the repo-wide
    precedent), identical division shape, floor on identical doubles;
    counts exact."""
    emb = table(spark, sf_dir, "embeddings")
    d = len(_query_vector_raw(spark, sf_dir, 0))
    pan = (
        emb.select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(_GEO_PANEL)
        .select("vec_id", "embedding", norm_fixed("embedding", d).alias("nm"))
    )
    a = pan.select(
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("ea"),
        F.col("nm").alias("na"),
    )
    b = pan.select(
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("eb"),
        F.col("nm").alias("nb"),
    )
    cos = dot_fixed("ea", "eb", d) / (F.col("na") * F.col("nb"))
    return (
        a.crossJoin(b)
        .where(F.col("a_id") < F.col("b_id"))
        .select(F.floor(cos * 10.0).cast("bigint").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
    )


# ---------------------------------------------------------------------------
# vec_centroid_shift_drift
# ---------------------------------------------------------------------------


@query(
    "vec_centroid_shift_drift",
    oracle="""
    WITH dv AS (
      SELECT vec_id % 2 AS half, t.dim, CAST(round(t.val, 6)
             AS DECIMAL(16,6)) AS v
      FROM embeddings, LATERAL (
        SELECT unnest(embedding) AS val,
               generate_subscripts(embedding, 1) AS dim) t),
    m AS (
      SELECT half, dim, CAST(sum(v) AS DOUBLE) / count(*) AS mu
      FROM dv GROUP BY half, dim),
    p AS (
      SELECT a.dim, a.mu AS ma, b.mu AS mb
      FROM m a JOIN m b ON a.dim = b.dim AND a.half = 0 AND b.half = 1),
    s AS (
      SELECT
        CAST(sum(CAST(round((ma - mb) * (ma - mb), 9) AS DECIMAL(28,9)))
             AS DOUBLE) AS d2,
        CAST(sum(CAST(round(ma * mb, 9) AS DECIMAL(28,9))) AS DOUBLE) AS dot,
        CAST(sum(CAST(round(ma * ma, 9) AS DECIMAL(28,9))) AS DOUBLE) AS na,
        CAST(sum(CAST(round(mb * mb, 9) AS DECIMAL(28,9))) AS DOUBLE) AS nb
      FROM p),
    n AS (
      SELECT CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_b
      FROM embeddings)
    SELECT n.n_a, n.n_b,
           round(sqrt(s.d2), 6) AS centroid_l2_shift,
           round(s.dot / (sqrt(s.na) * sqrt(s.nb)), 6) AS centroid_cosine
    FROM s CROSS JOIN n
    """,
)
def vec_centroid_shift_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING DRIFT between two corpus halves (vec_id parity as the
    deterministic stand-in for "last ingest vs this ingest"): the L2
    distance and cosine between the half centroids — the cheapest
    always-on drift monitor for an embedding column (a centroid shift
    means the upstream encoder or corpus mix changed, and every ANN
    index/codebok trained on the old geometry needs revalidation —
    the operational complement to vec_pairwise_cos_hist's geometry
    probe).

    Scale shape: one explode to (half, dim, value) and ONE keyed
    aggregate to 2 x dims rows; everything after runs on the bounded
    DIMENSION domain. Map-side partial sums make the fact pass one
    shuffle of 128 partial rows per partition at any corpus size.

    Parity: components quantize round(6) into exact DECIMAL sums;
    per-dim means divide in shared text; the 64-term dim-domain
    reductions quantize round(9) into DECIMAL; sqrt-only assembly,
    round(6)."""
    emb = table(spark, sf_dir, "embeddings")
    dv = emb.select(
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode("embedding").alias("dim0", "val"),
    ).select(
        "half",
        (F.col("dim0") + 1).alias("dim"),
        F.expr("CAST(round(val, 6) AS DECIMAL(16,6))").alias("v"),
    )
    m = dv.groupBy("half", "dim").agg(
        F.expr("CAST(sum(v) AS DOUBLE) / count(*)").alias("mu")
    )
    p = (
        m.where(F.col("half") == 0)
        .select("dim", F.col("mu").alias("ma"))
        .join(
            m.where(F.col("half") == 1).select("dim", F.col("mu").alias("mb")),
            "dim",
        )
    )
    s = p.agg(
        F.expr(
            "CAST(sum(CAST(round((ma - mb) * (ma - mb), 9) AS DECIMAL(28,9)))"
            " AS DOUBLE)"
        ).alias("d2"),
        F.expr(
            "CAST(sum(CAST(round(ma * mb, 9) AS DECIMAL(28,9))) AS DOUBLE)"
        ).alias("dot"),
        F.expr(
            "CAST(sum(CAST(round(ma * ma, 9) AS DECIMAL(28,9))) AS DOUBLE)"
        ).alias("na"),
        F.expr(
            "CAST(sum(CAST(round(mb * mb, 9) AS DECIMAL(28,9))) AS DOUBLE)"
        ).alias("nb"),
    )
    n = emb.agg(
        F.sum((F.col("vec_id") % 2 == 0).cast("int")).cast("bigint").alias("n_a"),
        F.sum((F.col("vec_id") % 2 == 1).cast("int")).cast("bigint").alias("n_b"),
    )
    return s.crossJoin(F.broadcast(n)).selectExpr(
        "n_a",
        "n_b",
        "round(sqrt(d2), 6) AS centroid_l2_shift",
        "round(dot / (sqrt(na) * sqrt(nb)), 6) AS centroid_cosine",
    )


# ---------------------------------------------------------------------------
# vec_topk_margin_stats
# ---------------------------------------------------------------------------


@query(
    "vec_topk_margin_stats",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 10),
    sims AS (
      SELECT q.query_id, c.vec_id,
             round({_DD_COS.format(a='c.embedding', b='q.qv')}, 6) AS sim
      FROM c CROSS JOIN q),
    top AS (
      SELECT query_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, vec_id) AS rn
      FROM sims)
    SELECT query_id,
           CAST(count(*) AS BIGINT) AS k,
           round(max(CASE WHEN rn = 1 THEN sim END), 6) AS top1,
           round(max(CASE WHEN rn = 2 THEN sim END), 6) AS top2,
           round(max(CASE WHEN rn = 1 THEN sim END)
                 - max(CASE WHEN rn = 2 THEN sim END), 6) AS margin,
           round(CAST(sum(CAST(sim AS DECIMAL(18,6))) AS DOUBLE)
                 / count(*), 6) AS mean_topk
    FROM top WHERE rn <= 10 GROUP BY query_id
    """,
)
def vec_topk_margin_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETRIEVAL-CONFIDENCE MARGINS: for each query, the top-1/top-2
    cosine gap and the mean of the top-10 — the abstention signal a
    RAG router reads before trusting retrieval (a thin margin means
    the nearest neighbor is not meaningfully nearer than the runner-up
    and the answer should route to search or decline; the reference's
    retrieval loop, app.py:256-278, gates on a keyword heuristic
    because Qdrant's scores arrive without this context).

    Shape at 100 TB: the query side is a broadcast working set; the
    corpus streams through one codegen cosine stage; the per-query
    window reduces to top-10 before any driver-visible data exists.
    Same plan family as vec_cosine_topk_per_query, plus a 10-row-per-
    query aggregate.

    Parity: sims are the shared fixed-dim cosine, round(6) (identical
    doubles both engines); top-k membership orders on (sim DESC,
    vec_id); the mean accumulates the rounded sims as DECIMAL(18,6)
    so the 10-term sum is order-independent, then one identical
    division; margin subtracts two identical doubles."""
    emb = table(spark, sf_dir, "embeddings")
    q = _query_vectors(spark, sf_dir, 10)
    corpus = emb.where(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("neighbor_id"), "embedding"
    )
    d = len(_query_vector_raw(spark, sf_dir, 0))
    sims = corpus.crossJoin(F.broadcast(q)).select(
        "query_id",
        F.col("neighbor_id"),
        F.round(cosine_fixed("embedding", "qv", d), 6).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    top = sims.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= 10
    )
    return top.groupBy("query_id").agg(
        F.count("*").cast("bigint").alias("k"),
        F.round(F.max(F.when(F.col("rn") == 1, F.col("sim"))), 6).alias(
            "top1"
        ),
        F.round(F.max(F.when(F.col("rn") == 2, F.col("sim"))), 6).alias(
            "top2"
        ),
        F.round(
            F.max(F.when(F.col("rn") == 1, F.col("sim")))
            - F.max(F.when(F.col("rn") == 2, F.col("sim"))),
            6,
        ).alias("margin"),
        F.round(
            F.sum(F.col("sim").cast("decimal(18,6)")).cast("double")
            / F.count("*"),
            6,
        ).alias("mean_topk"),
    )


# ---------------------------------------------------------------------------
# vec_dim_variance_profile
# ---------------------------------------------------------------------------


@query(
    "vec_dim_variance_profile",
    oracle="""
    WITH pos AS (
      SELECT unnest(generate_series(1, len(embedding))) AS dim,
             embedding
      FROM embeddings),
    ex AS (
      SELECT CAST(dim AS BIGINT) AS dim,
             CAST(round(CAST(list_extract(embedding, CAST(dim AS INT))
                             AS DOUBLE) * 1000000, 0) AS BIGINT) AS vi
      FROM pos),
    mo AS (
      SELECT dim,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(vi) AS BIGINT) AS sx,
             sum(CAST(vi AS HUGEINT) * vi) AS sxx
      FROM ex GROUP BY dim),
    v AS (
      SELECT dim, n, sx,
             CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS c
      FROM mo)
    SELECT dim, n,
           round(CAST(sx AS DOUBLE) / n / 1e6, 6) AS mean,
           round(CAST(c AS DOUBLE) / (CAST(n AS DOUBLE) * n) / 1e12, 6)
             AS variance,
           round(CAST(c AS DOUBLE)
                 / CAST(sum(c) OVER () AS DOUBLE), 6) AS var_share
    FROM v ORDER BY dim
    """,
)
def vec_dim_variance_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-DIMENSION MOMENT PROFILE of the embedding corpus — the
    whitening / anisotropy screen run before any vector-index design:
    near-uniform per-dim variance (this fixture's quasi-uniform
    sphere, the round-6 finding) says PCA/OPQ rotation buys little;
    a skewed var_share says rotate first, and near-zero dims are
    truncation candidates (the vec_matryoshka_topk decision).
    Completes the vector-diagnostics family: vec_pca_power_iter
    extracts ONE principal direction, vec_pairwise_cos_hist profiles
    pair geometry; this is the per-COORDINATE table.

    Parity: each float coordinate quantizes to integer MICRO-units —
    CAST(round(CAST(v AS DOUBLE) * 1e6, 0) AS BIGINT); exact halves
    k.5 are always representable doubles below 2^52, so Spark's
    shortest-repr HALF_UP and DuckDB's binary half-away agree on
    every input (no round-8 digit-7 trap) — then all moments are
    exact BIGINT/HUGEINT integers: variance numerator c = n*Sxx -
    Sx^2, displayed via shared-text double divisions, round(6).
    var_share divides exact integers over the 64-row dim frame.

    Shape at 100 TB: one explode + (dim)-keyed aggregate (map-side
    combined, 64 output rows); the var_share window runs over the
    CONSTANT-size dim frame."""
    emb = table(spark, sf_dir, "embeddings")
    ex = emb.select(
        F.posexplode("embedding").alias("pos", "v")
    ).selectExpr(
        "CAST(pos + 1 AS BIGINT) AS dim",
        "CAST(round(CAST(v AS DOUBLE) * 1000000, 0) AS BIGINT) AS vi",
    )
    mo = ex.groupBy("dim").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("vi").cast("bigint").alias("sx"),
        F.expr("sum(CAST(vi AS DECIMAL(19,0)) * vi)").alias("sxx"),
    )
    v = mo.selectExpr(
        "dim",
        "n",
        "sx",
        "CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx"
        " AS c",
    )
    w_all = Window.partitionBy()
    return (
        v.select(
            "dim",
            "n",
            F.expr("round(CAST(sx AS DOUBLE) / n / 1e6, 6)").alias("mean"),
            F.expr(
                "round(CAST(c AS DOUBLE) / (CAST(n AS DOUBLE) * n)"
                " / 1e12, 6)"
            ).alias("variance"),
            F.round(
                F.col("c").cast("double")
                / F.sum("c").over(w_all).cast("double"),
                6,
            ).alias("var_share"),
        )
        .orderBy("dim")
    )


# ---------------------------------------------------------------------------
# vec_nn_distance_ratio
# ---------------------------------------------------------------------------


def _nn_ratio_oracle() -> str:

    cos = _DD_COS.format(a="c.embedding", b="q.qv")
    return f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, embedding
          FROM embeddings WHERE vec_id >= 10),
    sims AS (
      SELECT q.query_id, c.neighbor_id, round({cos}, 6) AS sim
      FROM c CROSS JOIN q),
    nn AS (
      SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rn
      FROM sims),
    piv AS (
      SELECT query_id,
             max(CASE WHEN rn = 1 THEN neighbor_id END) AS nn1_id,
             max(CASE WHEN rn = 2 THEN neighbor_id END) AS nn2_id,
             max(CASE WHEN rn = 1 THEN sim END) AS sim1,
             max(CASE WHEN rn = 2 THEN sim END) AS sim2
      FROM nn WHERE rn <= 2 GROUP BY query_id)
    SELECT query_id, nn1_id, nn2_id, sim1, sim2,
           CASE WHEN sim2 >= 1.0 THEN NULL
                ELSE round((1.0 - sim1) / (1.0 - sim2), 6) END
             AS dist_ratio,
           CASE WHEN sim2 >= 1.0 THEN NULL
                WHEN (1.0 - sim1) / (1.0 - sim2) < 0.8 THEN 1 ELSE 0 END
             AS match_reliable
    FROM piv ORDER BY query_id
    """


@query("vec_nn_distance_ratio", oracle=_nn_ratio_oracle())
def vec_nn_distance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOWE RATIO TEST over the 10-query panel: the cosine-DISTANCE
    ratio of the nearest to the second-nearest corpus neighbor,
    (1 - sim1) / (1 - sim2), with the classic < 0.8 reliability gate —
    the standard screen for whether a nearest-neighbor match is
    DISCRIMINATIVE (a near-tie between the top two neighbors means the
    match carries little signal; feature-matching and retrieval
    pipelines discard those).  Completes the retrieval-diagnostics
    family: vec_topk_margin_stats profiles absolute top-k score gaps,
    this op emits the per-query RELATIVE distance ratio and the
    accept/reject bit a matcher would act on.

    Parity: ranks order by the ROUND(6) sim with neighbor_id
    tie-break (the vec_cosine_topk_per_query convention — rank parity
    is then exact); the ratio divides doubles produced by identical
    expression text on identical inputs (+,-,/ are IEEE-exact ops, no
    libm), round(6).  sim2 >= 1 (an exact-duplicate corpus vector)
    CASE-gates to NULL on both engines — the ANSI divide-by-zero rule.

    Shape at 100 TB: broadcast query panel, one corpus scan, window
    top-2 partitioned by query_id, 10-row pivot — the exact
    per-query-kNN plan with k=2."""
    emb = table(spark, sf_dir, "embeddings")
    q = _query_vectors(spark, sf_dir, 10)
    corpus = emb.where(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("neighbor_id"), "embedding"
    )
    d = len(_query_vector_raw(spark, sf_dir, 0))
    sims = corpus.crossJoin(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        F.round(cosine_fixed("embedding", "qv", d), 6).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    nn = sims.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 2)
    piv = nn.groupBy("query_id").agg(
        F.expr("max(CASE WHEN rn = 1 THEN neighbor_id END)").alias("nn1_id"),
        F.expr("max(CASE WHEN rn = 2 THEN neighbor_id END)").alias("nn2_id"),
        F.expr("max(CASE WHEN rn = 1 THEN sim END)").alias("sim1"),
        F.expr("max(CASE WHEN rn = 2 THEN sim END)").alias("sim2"),
    )
    return piv.selectExpr(
        "query_id",
        "nn1_id",
        "nn2_id",
        "sim1",
        "sim2",
        "CASE WHEN sim2 >= 1.0 THEN NULL"
        " ELSE round((1.0 - sim1) / (1.0 - sim2), 6) END AS dist_ratio",
        "CASE WHEN sim2 >= 1.0 THEN NULL"
        " WHEN (1.0 - sim1) / (1.0 - sim2) < 0.8 THEN 1 ELSE 0 END"
        " AS match_reliable",
    ).orderBy("query_id")


# ---------------------------------------------------------------------------
# vec_hubness_topk_counts
# ---------------------------------------------------------------------------

_HUB_QUERIES = 50
_HUB_K = 3


def _hubness_oracle() -> str:

    cos = _DD_COS.format(a="c.embedding", b="q.qv")
    return f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < {_HUB_QUERIES}),
    c AS (SELECT vec_id AS neighbor_id, embedding
          FROM embeddings WHERE vec_id >= {_HUB_QUERIES}),
    sims AS (
      SELECT q.query_id, c.neighbor_id, round({cos}, 6) AS sim
      FROM c CROSS JOIN q),
    nn AS (
      SELECT query_id, neighbor_id
      FROM (SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY sim DESC, neighbor_id) AS rn
            FROM sims) t
      WHERE rn <= {_HUB_K}),
    occ AS (
      SELECT neighbor_id, CAST(count(*) AS BIGINT) AS occurrences
      FROM nn GROUP BY neighbor_id),
    hist AS (
      SELECT occurrences, CAST(count(*) AS BIGINT) AS n_neighbors
      FROM occ GROUP BY occurrences),
    z AS (
      SELECT CAST(0 AS BIGINT) AS occurrences,
             (SELECT count(*) FROM c) - (SELECT count(*) FROM occ)
               AS n_neighbors)
    SELECT occurrences, n_neighbors,
           round(CAST(n_neighbors AS DOUBLE)
                 / (SELECT count(*) FROM c), 6) AS corpus_share
    FROM (SELECT * FROM hist UNION ALL SELECT * FROM z) u
    ORDER BY occurrences
    """


@query("vec_hubness_topk_counts", oracle=_hubness_oracle())
def vec_hubness_topk_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-OCCURRENCE (HUBNESS) DISTRIBUTION of the corpus under exact
    top-3 retrieval from a 50-query panel: for each occurrence level
    m, how many corpus vectors appear in exactly m result lists —
    including the m = 0 ANTIHUB row (vectors no query retrieves).
    High-dimensional similarity search concentrates results onto hub
    points (Radovanovic et al., JMLR 2010); a heavy right tail here
    says recall evaluation must stratify by hubness, and an oversized
    antihub mass says the index wastes space on unreachable points.
    Completes the vector-diagnostics family next to
    vec_pairwise_cos_hist (pair geometry) and vec_dim_variance_profile
    (coordinate anisotropy) with the RETRIEVAL-graph view.

    Parity: ranks order by ROUND(6) sim + neighbor_id tie-break (rank
    parity exact, the per-query-kNN convention); all counts exact
    BIGINT; corpus_share divides exact integers, round(6).

    Shape at 100 TB: broadcast panel, one corpus scan, per-query
    window top-k, then two bounded aggregates (occurrence counts over
    <= k*|panel| hit rows; histogram over <= |panel|*k levels) and a
    1-row corpus count for the antihub row."""
    emb = table(spark, sf_dir, "embeddings")
    q = _query_vectors(spark, sf_dir, _HUB_QUERIES)
    corpus = emb.where(F.col("vec_id") >= _HUB_QUERIES).select(
        F.col("vec_id").alias("neighbor_id"), "embedding"
    )
    d = len(_query_vector_raw(spark, sf_dir, 0))
    sims = corpus.crossJoin(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        F.round(cosine_fixed("embedding", "qv", d), 6).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    nn = (
        sims.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _HUB_K)
        .select("query_id", "neighbor_id")
    )
    occ = nn.groupBy("neighbor_id").agg(
        F.count("*").cast("bigint").alias("occurrences")
    )
    hist = occ.groupBy("occurrences").agg(
        F.count("*").cast("bigint").alias("n_neighbors")
    )
    nc = corpus.agg(F.count("*").cast("bigint").alias("nc"))
    nr = occ.agg(F.count("*").cast("bigint").alias("nret"))
    zero = (
        nc.crossJoin(F.broadcast(nr))
        .selectExpr(
            "CAST(0 AS BIGINT) AS occurrences",
            "nc - nret AS n_neighbors",
        )
    )
    return (
        hist.unionByName(zero)
        .crossJoin(F.broadcast(nc))
        .selectExpr(
            "occurrences",
            "n_neighbors",
            "round(CAST(n_neighbors AS DOUBLE) / nc, 6) AS corpus_share",
        )
        .orderBy("occurrences")
    )


# ---------------------------------------------------------------------------
# vec_matryoshka_recall_sweep
# ---------------------------------------------------------------------------

_MRS_DIMS = [16, 32, 48, 64]
_MRS_K = 3
_MRS_QUERIES = 10


def _mrs_oracle() -> str:
    sims = ",\n             ".join(
        f"round(list_dot_product(c.embedding[1:{d}]::DOUBLE[],"
        f" q.qv[1:{d}]::DOUBLE[])"
        f" / (sqrt(list_dot_product(c.embedding[1:{d}]::DOUBLE[],"
        f" c.embedding[1:{d}]::DOUBLE[]))"
        f" * sqrt(list_dot_product(q.qv[1:{d}]::DOUBLE[],"
        f" q.qv[1:{d}]::DOUBLE[]))), 6) AS sim{d}"
        for d in _MRS_DIMS
    )
    rns = ",\n             ".join(
        f"row_number() OVER (PARTITION BY query_id"
        f" ORDER BY sim{d} DESC, neighbor_id) AS rn{d}"
        for d in _MRS_DIMS
    )
    hits = ",\n             ".join(
        f"CAST(sum(CASE WHEN rn{d} <= {_MRS_K}"
        f" AND rn{max(_MRS_DIMS)} <= {_MRS_K} THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS h{d}"
        for d in _MRS_DIMS
    )
    denom = _MRS_K * _MRS_QUERIES
    fan = "\n    UNION ALL ".join(
        f"SELECT CAST({d} AS BIGINT) AS dim, h{d} AS n_hits,"
        f" round(CAST(h{d} AS DOUBLE) / {denom}, 6) AS recall FROM agg"
        for d in _MRS_DIMS
    )
    return f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < {_MRS_QUERIES}),
    c AS (SELECT vec_id AS neighbor_id, embedding
          FROM embeddings WHERE vec_id >= {_MRS_QUERIES}),
    sims AS (
      SELECT q.query_id, c.neighbor_id,
             {sims}
      FROM c CROSS JOIN q),
    rk AS (
      SELECT query_id, neighbor_id,
             {rns}
      FROM sims),
    agg AS MATERIALIZED (
      SELECT {hits}
      FROM rk)
    {fan}
    ORDER BY dim
    """


@query("vec_matryoshka_recall_sweep", oracle=_mrs_oracle())
def vec_matryoshka_recall_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MATRYOSHKA TRUNCATION RECALL SWEEP: exact top-3 recall of
    PREFIX-truncated embeddings (16/32/48/64 of 64 dims) against the
    full-dimension ground truth over the 10-query panel — the table
    that decides how far a matryoshka index (vec_matryoshka_topk's
    two-stage retrieve) can truncate before recall pays, and the
    operational companion to vec_dim_variance_profile (this fixture's
    near-uniform per-dim variance predicts recall should degrade
    smoothly; the sweep MEASURES it).  The dim=64 row is the built-in
    self-check (recall = 1 by construction).

    Parity: each truncated cosine is the same sequential-fold
    arithmetic over the prefix dims (Spark cosine_fixed unrolled text
    / DuckDB sliced-list dot), ROUND(6) before ranking with
    neighbor_id tie-break (rank parity exact); hits and recalls are
    exact integers over the fixed 3 x 10 denominator.

    Shape at 100 TB: broadcast panel, ONE corpus scan computing all
    four truncated sims, ONE shuffle (the four rank windows share the
    query_id partitioning), a 1-row conditional aggregate fanned to
    four rows — never a per-dim rescan."""
    emb = table(spark, sf_dir, "embeddings")
    q = _query_vectors(spark, sf_dir, _MRS_QUERIES)
    corpus = emb.where(F.col("vec_id") >= _MRS_QUERIES).select(
        F.col("vec_id").alias("neighbor_id"), "embedding"
    )
    full_d = len(_query_vector_raw(spark, sf_dir, 0))
    sims = corpus.crossJoin(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        *[
            F.round(cosine_fixed("embedding", "qv", d), 6).alias(f"sim{d}")
            for d in _MRS_DIMS
        ],
    )
    rk = sims.select(
        "query_id",
        "neighbor_id",
        *[
            F.row_number()
            .over(
                Window.partitionBy("query_id").orderBy(
                    F.col(f"sim{d}").desc(), "neighbor_id"
                )
            )
            .alias(f"rn{d}")
            for d in _MRS_DIMS
        ],
    )
    full = max(_MRS_DIMS)
    agg = rk.agg(
        *[
            F.expr(
                f"CAST(sum(CASE WHEN rn{d} <= {_MRS_K}"
                f" AND rn{full} <= {_MRS_K} THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias(f"h{d}")
            for d in _MRS_DIMS
        ]
    )
    denom = _MRS_K * _MRS_QUERIES
    return agg.selectExpr(
        f"stack({len(_MRS_DIMS)}, "
        + ", ".join(
            f"CAST({d} AS BIGINT), h{d}" for d in _MRS_DIMS
        )
        + ") AS (dim, n_hits)",
    ).selectExpr(
        "dim",
        "n_hits",
        f"round(CAST(n_hits AS DOUBLE) / {denom}, 6) AS recall",
    ).orderBy("dim")
