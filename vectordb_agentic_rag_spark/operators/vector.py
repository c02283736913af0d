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
    cosine,
    cosine_fixed,
    cosine_to_const,
    cosine_to_const_fixed,
    dot,
    dot_fixed,
    norm,
    norm_fixed,
    seq_norm,
)
from ..registry import query
from ..tables import SCRATCH, session_artifact, sf_tag, table

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
        F.round(norm(F.col("embedding")), 6).alias("l2_norm"),
        F.round(dot(F.col("embedding"), F.col("qv")), 6).alias("dot_q0"),
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
    n_col = norm(F.col("embedding"))
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
    from ..functions.vector import cosine_fixed

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
