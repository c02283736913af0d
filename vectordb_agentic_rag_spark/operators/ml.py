"""ML-backed operators: deterministic embeddings, approximate-NN paths,
and the MMR re-rank — the reference's retrieval stack re-expressed for
batch scale (SURVEY.md §7 step 5).

The reference calls Cohere for embeddings (app.py:70) and Qdrant's HNSW
for ANN (app.py:271). Batch Spark replaces them with:

- text_tfidf_embed    : HashingTF+IDF — a deterministic, distributed
                        featurizer (the IDF fit is the one global agg);
- text_termfreq_embed : pure-SQL fixed-vocab term-frequency vector with
                        a DuckDB oracle (exact integer counts);
- vec_lsh_ann         : BucketedRandomProjectionLSH similarity join —
                        the 100 TB ANN path (bucket equi-join, not a
                        cross product); recall vs exact is pinned in
                        tests/test_ml.py;
- vec_ivf_ann         : IVF partitioning + probed centroids — the
                        other standard batch-ANN shape; round 14 moved
                        the whole IVF/PQ family onto SQL-exact
                        quantizers (unrolled prefix Lloyd / refined
                        sampled codebooks) with FULL DuckDB oracles;
- vec_ivfpq_ann       : IVF lists + PQ codes combined (IndexIVFPQ) —
                        the serving config that bounds both which rows
                        are scored and what each row costs;
- vec_mmr_rerank      : exact port of the reference's MMR
                        (fetch_k=20, k=5, lambda=0.5, app.py:264-266)
                        as one Catalyst expression over the tiny
                        candidate set (functions.vector.mmr_picks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.vector import cosine_fixed, mmr_picks
from ..registry import query
from ..tables import session_artifact, table

# fixed 32-token vocabulary for the oracle-checkable TF embedding
_VOCAB = [
    "spark", "table", "scan", "merge", "window", "batch", "stream", "query",
    "join", "filter", "group", "sort", "agg", "hash", "vector", "column",
    "row", "line", "data", "key", "value", "order", "part", "customer",
    "fast", "slow", "big", "small", "the", "a", "slowly", "quickly",
]


@query(
    "text_termfreq_embed",
    # the vector is emitted CSV-serialized: the driver's result hasher
    # canonicalizes via pandas sort_values, which cannot order list
    # cells (CORRECTNESS_r03 "unhashable type: 'list'") — integer CSV
    # is bit-exact on both engines
    oracle=f"""
    SELECT doc_id,
           array_to_string(list_transform({_VOCAB!r}::VARCHAR[],
             v -> CAST(len(list_filter(string_split(text, ' '), t -> t = v)) AS BIGINT)),
             ',') AS tf
    FROM documents
    """,
)
def text_termfreq_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus embedding, exact-arithmetic variant: a
    32-dim term-frequency vector over a fixed vocabulary. Integer
    counts => bit-exact oracle. One map pass; the vocab broadcast is a
    literal. The vector leaves the operator CSV-encoded (see oracle
    note); downstream vector ops consume the array form via
    text_termfreq_vector()."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.array_join(
            F.transform(_termfreq_vector(), lambda x: x.cast("string")), ","
        ).alias("tf"),
    )


def _termfreq_vector():
    """array<long> term-frequency column expression over `text`."""
    vocab = F.array(*[F.lit(v) for v in _VOCAB])
    toks = F.split("text", " ")
    return F.transform(
        vocab, lambda v: F.size(F.filter(toks, lambda t: t == v)).cast("long")
    )


@query("text_tfidf_embed")  # rows-only: MLlib murmur hashing isn't SQL
def text_tfidf_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HashingTF(64) + IDF — the engine's stand-in for the reference's
    Cohere embed-english-v3.0 (app.py:70): deterministic (murmur3 +
    closed-form idf), distributed, one global aggregate (the IDF
    document-frequency reduce) exactly as SURVEY §3.1 plans the ingest
    path. The 64-dim vector is emitted as a fixed-format CSV string
    (%.6f per element) because the driver's hasher cannot canonicalize
    list cells; formatting is deterministic so the rows-only hash is
    stable across runs."""
    from pyspark.ml.feature import IDF, HashingTF, Tokenizer
    from pyspark.ml.functions import vector_to_array

    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = Tokenizer(inputCol="text", outputCol="words").transform(d)
    tf = HashingTF(inputCol="words", outputCol="tf", numFeatures=64).transform(toks)
    idf = IDF(inputCol="tf", outputCol="tfidf").fit(tf)
    out = idf.transform(tf)
    return out.select(
        "doc_id",
        F.array_join(
            F.transform(
                vector_to_array("tfidf"),
                lambda x: F.format_string("%.6f", F.round(x, 6)),
            ),
            ",",
        ).alias("tfidf"),
    )


def _queries_and_corpus(spark: SparkSession, sf_dir: str, n_q: int = 10):
    emb = table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < n_q).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    corpus = emb.where(F.col("vec_id") >= n_q)
    return q, corpus


@session_artifact
def _corpus_sample(spark: SparkSession, sf_dir: str):
    """The first 4096 embeddings by vec_id as a float64 matrix — a
    DETERMINISTIC bounded sample that dedup_semantic_cluster_purge's
    coarse quantizer trains on, collected once per session."""
    import numpy as np

    return np.array(
        [
            r["embedding"]
            for r in table(spark, sf_dir, "embeddings")
            .select("embedding")
            .orderBy("vec_id")
            .limit(4096)
            .collect()
        ],
        dtype=np.float64,
    )


def _lloyd_multispace(xs, K: int, iters: int, seed: int):
    """Vectorized Lloyd over M independent subspaces AT ONCE.
    xs: (N, M, SUB). Returns (M, K, SUB) codebooks. One einsum scores
    all subspaces per iteration (argmin euclidean == argmax
    x.c - |c|^2/2); centroid updates are a single bincount/add.at pass
    — the per-subspace Python loop with a broadcasted (N, K, SUB)
    distance tensor measured ~2.5 s of vec_pq_ann's 3.6 s."""
    import numpy as np

    n, m_sub, sub = xs.shape
    rng = np.random.RandomState(seed)
    k_eff = min(K, n)
    c = np.stack(
        [
            xs[rng.choice(n, size=k_eff, replace=False), m, :]
            for m in range(m_sub)
        ]
    )  # (M, K', SUB)
    # (M, N, SUB) layout: batched matmul (BLAS) beats the einsum loop
    # ~2.5x on this shape
    xm = np.ascontiguousarray(xs.transpose(1, 0, 2))
    flat_x = xm.reshape(-1, sub)  # m-major, n-minor — matches flat below
    m_off = (np.arange(m_sub) * k_eff)[:, None]  # (M, 1)
    for _ in range(iters):
        scores = xm @ c.transpose(0, 2, 1) - 0.5 * (c * c).sum(-1)[:, None, :]
        lab = scores.argmax(axis=2)  # (M, N)
        flat = (lab + m_off).ravel()
        cnt = np.bincount(flat, minlength=m_sub * k_eff)
        sums = np.zeros((m_sub * k_eff, sub))
        np.add.at(sums, flat, flat_x)
        nz = cnt > 0
        cflat = c.reshape(m_sub * k_eff, sub)
        cflat[nz] = sums[nz] / cnt[nz, None]
        c = cflat.reshape(m_sub, k_eff, sub)
    return c


def _with_recall_guard(
    ann: DataFrame,
    q: DataFrame,
    corpus: DataFrame,
    sf_dir: str,
    floor: float,
    k: int = 3,
) -> DataFrame:
    """Make an ANN op SELF-CHECKING to the driver: compute the exact
    top-k per query IN-PLAN (broadcast query side, codegen'd unrolled
    cosine, one window), left-join it onto the approximate result, and
    emit `recall_at_k` (hits / output rows) with an
    `assert_true(recall >= floor)` folded into a filter — the
    heavy-hitters MG-guard trick (text.py): output rows are unchanged
    when the floor holds, and a recall collapse (corrupted codebook,
    broken bucketing) RAISES at execution instead of silently passing
    the rows-only driver check. Floors are set from measured per-sf
    recall minus a float-tie margin (tests/test_ml.py pins the exact
    values per op).

    Cost: one extra broadcast-join scan of the corpus. At production
    scale this guard runs on a sampled query panel, not every query —
    here the panel IS 10 queries, so it guards them all."""
    from .vector import _query_vector_raw
    from pyspark.sql import Window

    d = len(_query_vector_raw(ann.sparkSession, sf_dir, 0))
    w_x = Window.partitionBy("query_id").orderBy(
        F.col("xsim").desc(), "neighbor_id"
    )
    exact = (
        corpus.select("vec_id", "embedding")
        .crossJoin(F.broadcast(q))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_fixed("embedding", "qv", d).alias("xsim"),
        )
        .withColumn("xrn", F.row_number().over(w_x))
        .where(F.col("xrn") <= k)
        .select("query_id", "neighbor_id", F.lit(1).alias("xhit"))
    )
    w_all = Window.partitionBy()
    return (
        ann.join(exact, ["query_id", "neighbor_id"], "left")
        .withColumn(
            "recall_at_k",
            F.round(
                F.sum(F.coalesce(F.col("xhit"), F.lit(0))).over(w_all)
                / F.count("*").over(w_all),
                4,
            ),
        )
        .where(
            F.assert_true(
                F.col("recall_at_k") >= F.lit(floor),
                F.format_string(
                    f"ANN recall collapse: recall_at_k=%s < floor={floor}",
                    F.col("recall_at_k"),
                ),
            ).isNull()
        )
        .drop("xhit")
    )


_LSH_TABLES = 4
_LSH_BUCKET_LEN = "0.125"  # binary-exact literal on both engines
_LSH_DIM = 64


def _lsh_planes() -> list[list[float]]:
    """Deterministic random-projection planes: seeded normals,
    unit-normalized, then quantized to k/1024 so every component has
    an EXACT decimal repr — the literal parses to the identical double
    on both engines (k/1024 is a 10-digit decimal; DECIMAL->DOUBLE and
    string->DOUBLE both correctly round the same rational)."""
    import numpy as np

    rs = np.random.RandomState(42)
    p = rs.standard_normal((_LSH_TABLES, _LSH_DIM))
    p /= np.linalg.norm(p, axis=1, keepdims=True)
    return (np.round(p * 1024) / 1024).tolist()


def _lsh_bucket_sql(col: str, plane: list[float], duck: bool) -> str:
    """floor(dot(col, plane) / L) as one expression string — identical
    left-assoc fold on both engines, so equal doubles -> equal floors."""
    el = (lambda i: f"CAST({col}[{i + 1}] AS DOUBLE)") if duck else (
        lambda i: f"CAST(element_at({col}, {i + 1}) AS DOUBLE)"
    )
    dot = " + ".join(f"{el(i)} * {float(x)!r}" for i, x in enumerate(plane))
    return f"CAST(floor(({dot}) / {_LSH_BUCKET_LEN}) AS BIGINT)"


def _lsh_dist_sql(a: str, b: str, duck: bool) -> str:
    el = (lambda c, i: f"CAST({c}[{i + 1}] AS DOUBLE)") if duck else (
        lambda c, i: f"CAST(element_at({c}, {i + 1}) AS DOUBLE)"
    )
    terms = " + ".join(
        f"({el(a, i)} - {el(b, i)}) * ({el(a, i)} - {el(b, i)})"
        for i in range(_LSH_DIM)
    )
    return f"round(sqrt({terms}), 6)"


def _lsh_oracle() -> str:
    planes = _lsh_planes()
    qx = " UNION ALL ".join(
        f"SELECT query_id, qv, {t} AS t, "
        f"{_lsh_bucket_sql('qv', planes[t], duck=True)} AS bk FROM q"
        for t in range(_LSH_TABLES)
    )
    cx = " UNION ALL ".join(
        f"SELECT neighbor_id, {t} AS t, "
        f"{_lsh_bucket_sql('embedding', planes[t], duck=True)} AS bk FROM c"
        for t in range(_LSH_TABLES)
    )
    cos = (
        "list_dot_product(c.embedding::DOUBLE[], q.qv::DOUBLE[]) / "
        "(sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[])) * "
        "sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[])))"
    )
    return f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, embedding
          FROM embeddings WHERE vec_id >= 10),
    qx AS ({qx}),
    cx AS ({cx}),
    cand AS (SELECT DISTINCT qx.query_id, cx.neighbor_id
             FROM cx JOIN qx ON cx.t = qx.t AND cx.bk = qx.bk),
    dst AS (
      SELECT cand.query_id, cand.neighbor_id,
             {_lsh_dist_sql('c.embedding', 'q.qv', duck=True)} AS dist
      FROM cand
      JOIN c ON cand.neighbor_id = c.neighbor_id
      JOIN q ON cand.query_id = q.query_id),
    top AS (
      SELECT query_id, neighbor_id, dist, CAST(rn AS INTEGER) AS rn
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY dist, neighbor_id) AS rn
            FROM dst) z
      WHERE rn <= 3),
    exact AS (
      SELECT query_id, neighbor_id
      FROM (SELECT q.query_id, c.neighbor_id,
                   row_number() OVER (PARTITION BY q.query_id
                                      ORDER BY {cos} DESC, c.neighbor_id)
                     AS xrn
            FROM c CROSS JOIN q) z
      WHERE xrn <= 3)
    SELECT t.query_id, t.neighbor_id, t.dist, t.rn,
           round(CAST((SELECT count(*) FROM top t2 JOIN exact e
                       ON t2.query_id = e.query_id
                      AND t2.neighbor_id = e.neighbor_id) AS DOUBLE)
                 / (SELECT count(*) FROM top), 4) AS recall_at_k
    FROM top t
    """


@query("vec_lsh_ann", oracle=_lsh_oracle())
def vec_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via bucketed random projection LSH, hand-rolled
    on DETERMINISTIC planes (seeded, k/1024-quantized literals) so the
    whole pipeline — bucketing, candidate equi-join, euclidean
    ranking, and the recall self-check — is SQL-expressible and
    carries a full DuckDB oracle (round-6 item: the MLlib
    BucketedRandomProjectionLSH predecessor's internal planes forced a
    rows-only check; same join shape, same recall floor, now
    hash-verified).

    Shape at 100 TB: each side computes {_LSH_TABLES} bucket ids
    (floor(dot(x, p_t)/L) — unrolled codegen'd mul-add chains, the
    planes are plan literals), explodes to (table, bucket) keys, and
    candidates come from an equi-join on those keys with the 10-query
    side BROADCAST — candidates only, never all pairs. Distances are
    computed once per deduped candidate pair. On THIS fixture the
    corpus is quasi-uniform on the 64-dim sphere (CLAUDE.md round-6),
    so pruning is weak by geometry (~70% candidates/query at
    L=0.125, measured recall 0.83-0.87 vs exact cosine top-3); the
    clustered-data regime where LSH actually prunes is pinned by
    tests/test_dedup.py's recall+pruning test on synthetic clusters.

    Parity: bucket ids compare exact doubles (identical literal
    planes, identical fold order -> identical floor); distances are
    round(6)-quantized before ranking; ties break on neighbor_id."""
    from pyspark.sql import Window

    q, corpus = _queries_and_corpus(spark, sf_dir)
    # the bucketed index + candidate equi-join materialize once per
    # session (_lsh_pairs — shared with the recall sweep / pareto ops);
    # dist is identical for every collision of a pair, so the deduped
    # pair frame IS the old dropDuplicates result
    flat = _lsh_pairs(spark, sf_dir).select(
        "query_id", "neighbor_id", "dist"
    )
    w = Window.partitionBy("query_id").orderBy("dist", "neighbor_id")
    top = flat.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 3)
    return _with_recall_guard(top, q, corpus, sf_dir, floor=0.7)


# Session-scoped STORED-ARTIFACT frames: the exact-top-3 ground truth,
# the IVF probed candidate lists, and the LSH candidate pairs are
# shared index artifacts — materialized ONCE per session via
# localCheckpoint and reused by vec_lsh_ann / vec_ann_recall_sweep /
# vec_ann_latency_recall_pareto (the _cosupply_edges rule: provably
# bounded intermediates referenced by several consumers get
# checkpointed, never re-derived).


@session_artifact
def _exact3_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-3 of the 10-query panel as (query_id,
    neighbor_id, xhit=1) — the ground truth every ANN recall join
    uses; bounded 3 x 10 rows, checkpointed once per session."""
    from pyspark.sql import Window

    from .vector import _query_vector_raw

    q, corpus = _queries_and_corpus(spark, sf_dir)
    d = len(_query_vector_raw(spark, sf_dir, 0))
    w_x = Window.partitionBy("query_id").orderBy(
        F.col("xsim").desc(), "neighbor_id"
    )
    return (
        corpus.select("vec_id", "embedding")
        .crossJoin(F.broadcast(q.select("query_id", "qv")))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_fixed("embedding", "qv", d).alias("xsim"),
        )
        .withColumn("xrn", F.row_number().over(w_x))
        .where(F.col("xrn") <= 3)
        .select("query_id", "neighbor_id", F.lit(1).alias("xhit"))
        .localCheckpoint()
    )


@session_artifact
def _ivf_panel_cands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF probed candidate LISTS of the query panel, scored:
    (query_id, neighbor_id, r, sim) where r is the probe rank of the
    candidate's list for that query (1 = nearest centroid) and sim the
    exact cosine.  This is the stored-index artifact a serving node
    scans; r <= p slices it into the nprobe=p candidate set (nested by
    construction).  Materialized once per session.  Round 14: built
    from the SQL-exact _ivf16 quantizer (the one vec_ivf_ann /
    vec_ivfpq_ann / vec_ann_recall_sweep serve from), so every
    consumer of this panel reads the SAME stored index."""
    from .vector import _query_vector_raw

    q, corpus = _queries_and_corpus(spark, sf_dir)
    d = len(_query_vector_raw(spark, sf_dir, 0))
    asg, probesall = _ivf16_assignments(spark, sf_dir)
    max_p = max(_SWEEP_PROBES)
    probes = probesall.where(F.col("pr") <= max_p).select(
        "query_id", "cl", F.col("pr").alias("r")
    )
    return (
        asg.join(F.broadcast(probes), "cl")
        .join(corpus.select("vec_id", "embedding"), "vec_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "r",
            cosine_fixed("embedding", "qv", d).alias("sim"),
        )
        .localCheckpoint()
    )


@session_artifact
def _lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deduped LSH candidate pairs of the query panel as (query_id,
    neighbor_id, r, dist): r is the FIRST table index (1-based) where
    the pair collides — r <= t slices the pairs reachable by probing
    the first t tables (nested level sets) — and dist the euclidean
    distance (identical for every collision of a pair, so min ==
    value).  The probed bucket index, materialized once per session."""
    q, corpus = _queries_and_corpus(spark, sf_dir)
    planes = _lsh_planes()
    qx = q.select(
        "query_id",
        "qv",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("t"),
                        F.expr(
                            _lsh_bucket_sql("qv", planes[t], duck=False)
                        ).alias("bk"),
                    )
                    for t in range(_LSH_TABLES)
                ]
            )
        ).alias("tb"),
    ).select(
        "query_id",
        "qv",
        F.col("tb.t").alias("t"),
        F.col("tb.bk").alias("bk"),
    )
    cx = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        "embedding",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("t"),
                        F.expr(
                            _lsh_bucket_sql(
                                "embedding", planes[t], duck=False
                            )
                        ).alias("bk"),
                    )
                    for t in range(_LSH_TABLES)
                ]
            )
        ).alias("tb"),
    ).select(
        "neighbor_id",
        "embedding",
        F.col("tb.t").alias("t"),
        F.col("tb.bk").alias("bk"),
    )
    return (
        cx.join(F.broadcast(qx), ["t", "bk"])
        .select(
            "query_id",
            "neighbor_id",
            (F.col("t") + 1).alias("t1"),
            F.expr(_lsh_dist_sql("embedding", "qv", duck=False)).alias(
                "dist"
            ),
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.min("t1").alias("r"), F.min("dist").alias("dist"))
        .localCheckpoint()
    )


_DD_COS_ML = (
    "list_dot_product({a}::DOUBLE[], {b}::DOUBLE[]) / "
    "(sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[])) * "
    "sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[])))"
)


# ---------------------------------------------------------------------------
# SQL-exact IVF coarse quantizer (round-14 oracle upgrade)
# ---------------------------------------------------------------------------
# The round-2 vec_ivf_ann trained its coarse quantizer driver-side in
# numpy, which forced the driver gate down to the weak rows-only check.
# Round 14 re-parameterizes the quantizer to the exactly-reproducible
# construction vec_kmeans_lloyd pioneered (unrolled Lloyd, DECIMAL-
# accumulated means re-quantized round(9) per iteration, identical
# expression text on both engines) over the 8-dim MATRYOSHKA PREFIX of
# the embeddings — real systems coarse-quantize on a reduced projection
# for exactly this cheapness — so list assignment, probe selection, and
# the final exact-cosine rerank are ALL hash-verified end to end.

_IVF16_K = 16  # coarse lists, seeded from the 16 lowest corpus vec_ids
_IVF16_D = 8  # matryoshka prefix dims used by the quantizer
_IVF16_T = 2  # unrolled Lloyd iterations
_IVF16_NPROBE = 8  # lists probed per query (6 measured 0.533 recall
# at sf0.1 on the 2-iter prefix quantizer — below the historical 0.55
# floor; 8/16 lists measures 0.767/0.80/0.767 at sf0.001/0.01/0.1)
_IVF16_QN = 10  # query panel (vec_id < 10; corpus is the rest)


def _ivf16_dist(j: int) -> str:
    """Squared L2 of prefix dims e1..eD to pivoted centroid j; an
    EMPTY list's NULL centroid coalesces to 1e308 so it can never win
    the argmin (identical semantics both engines)."""
    s = " + ".join(
        f"(e{i} - c{j}_{i}) * (e{i} - c{j}_{i})"
        for i in range(1, _IVF16_D + 1)
    )
    return f"coalesce({s}, 1e308)"


def _ivf16_argmin() -> str:
    """First-index-wins argmin over d0..d15 (the _KM_ARGMIN shape,
    generalized)."""
    clauses = []
    for j in range(_IVF16_K - 1):
        cond = " AND ".join(
            f"d{j} <= d{i}" for i in range(j + 1, _IVF16_K)
        )
        clauses.append(f"WHEN {cond} THEN {j}")
    return "CASE " + " ".join(clauses) + f" ELSE {_IVF16_K - 1} END"


def _ivf16_newdim(i: int) -> str:
    return (
        f"round(CAST(sum(CAST(e{i} AS DECIMAL(18,9))) AS DOUBLE)"
        f" / count(*), 9)"
    )


@session_artifact
def _ivf16_assignments(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(corpus assignments (vec_id, cl), query probes (query_id, cl,
    pr)) of the SQL-exact IVF quantizer — the Spark twin of
    _ivf16_oracle_ctes, expression text shared verbatim.

    Session-cached as localCheckpointed frames (round-14 optimization,
    the _cosupply_edges / _ivf_panel_cands rule): the T+1 unrolled
    Lloyd rounds are the STORED-INDEX build a serving system pays once
    — four consumers (vec_ivf_ann, vec_ivfpq_ann,
    vec_ivf_list_balance_audit, the IVF candidate panel) were each
    re-deriving the whole 3-pass training DAG per DataFrame build
    (OPS_BENCH r14 before: 11.0 / 18.8 / 12.4 s per call). Both frames
    are corpus-bounded: asg = one (vec_id, cl) row per corpus vector,
    probes = 10 queries x 16 lists."""
    emb = table(spark, sf_dir, "embeddings")
    dims = range(1, _IVF16_D + 1)
    K, T = _IVF16_K, _IVF16_T
    pts = emb.where(F.col("vec_id") >= _IVF16_QN).select(
        "vec_id",
        *[
            F.expr(f"CAST(element_at(embedding, {i}) AS DOUBLE)").alias(
                f"e{i}"
            )
            for i in dims
        ],
    )
    cent = pts.where(F.col("vec_id") < _IVF16_QN + K).select(
        (F.col("vec_id") - _IVF16_QN).cast("int").alias("cl"),
        *[F.round(F.col(f"e{i}"), 9).alias(f"c{i}") for i in dims],
    )
    asg = None
    for t in range(T + 1):
        cw = cent.groupBy().agg(
            *[
                F.max(F.when(F.col("cl") == j, F.col(f"c{i}"))).alias(
                    f"c{j}_{i}"
                )
                for j in range(K)
                for i in dims
            ]
        )
        dist = pts.crossJoin(F.broadcast(cw)).select(
            "vec_id",
            *[F.col(f"e{i}") for i in dims],
            *[F.expr(_ivf16_dist(j)).alias(f"d{j}") for j in range(K)],
        )
        asg = dist.select("*", F.expr(_ivf16_argmin()).alias("cl"))
        if t < T:
            cent = asg.groupBy("cl").agg(
                *[F.expr(_ivf16_newdim(i)).alias(f"c{i}") for i in dims]
            )
    # query probes: distance of each query's prefix to the FINAL
    # centroids (the `cent` frame that fed the last assignment),
    # nprobe lowest (ties by cl)
    cw_q = cent.groupBy().agg(
        *[
            F.max(F.when(F.col("cl") == j, F.col(f"c{i}"))).alias(
                f"c{j}_{i}"
            )
            for j in range(K)
            for i in dims
        ]
    )
    qpts = emb.where(F.col("vec_id") < _IVF16_QN).select(
        F.col("vec_id").alias("query_id"),
        *[
            F.expr(f"CAST(element_at(embedding, {i}) AS DOUBLE)").alias(
                f"e{i}"
            )
            for i in dims
        ],
    )
    qd = qpts.crossJoin(F.broadcast(cw_q)).select(
        "query_id",
        *[F.expr(_ivf16_dist(j)).alias(f"d{j}") for j in range(K)],
    )
    stacked = qd.selectExpr(
        "query_id",
        "stack({}, {}) AS (cl, dist)".format(
            K, ", ".join(f"{j}, d{j}" for j in range(K))
        ),
    )
    w_p = Window.partitionBy("query_id").orderBy("dist", "cl")
    probes = stacked.withColumn("pr", F.row_number().over(w_p)).select(
        "query_id", "cl", "pr"
    )
    # ALL 16 ranked lists are returned (vec_ann_recall_sweep reads the
    # full frontier); point lookups filter pr <= _IVF16_NPROBE
    return (
        asg.select("vec_id", "cl").localCheckpoint(),
        probes.localCheckpoint(),
    )


def _ivf16_oracle_ctes() -> list[str]:
    """DuckDB twin of _ivf16_assignments: the shared CTE chain through
    the final corpus assignments (asg{T}) and query probes."""
    D, K, T, NQ = _IVF16_D, _IVF16_K, _IVF16_T, _IVF16_QN
    dims = range(1, D + 1)
    e_cols = ", ".join(f"e{i}" for i in dims)
    parts = [
        "WITH pts AS (SELECT vec_id, "
        + ", ".join(
            f"CAST(list_extract(embedding, {i}) AS DOUBLE) AS e{i}"
            for i in dims
        )
        + f" FROM embeddings WHERE vec_id >= {NQ})",
        f"cent0 AS (SELECT CAST(vec_id - {NQ} AS INTEGER) AS cl, "
        + ", ".join(f"round(e{i}, 9) AS c{i}" for i in dims)
        + f" FROM pts WHERE vec_id < {NQ + K})",
    ]
    for t in range(T + 1):
        parts.append(
            f"cw{t} AS (SELECT "
            + ", ".join(
                f"max(CASE WHEN cl = {j} THEN c{i} END) AS c{j}_{i}"
                for j in range(K)
                for i in dims
            )
            + f" FROM cent{t})"
        )
        parts.append(
            f"dist{t} AS (SELECT p.vec_id, {e_cols}, "
            + ", ".join(f"{_ivf16_dist(j)} AS d{j}" for j in range(K))
            + f" FROM pts p CROSS JOIN cw{t})"
        )
        parts.append(
            f"asg{t} AS (SELECT *, {_ivf16_argmin()} AS cl FROM dist{t})"
        )
        if t < T:
            parts.append(
                f"cent{t + 1} AS (SELECT cl, "
                + ", ".join(f"{_ivf16_newdim(i)} AS c{i}" for i in dims)
                + f" FROM asg{t} GROUP BY cl)"
            )
    parts.append(
        "qpts AS (SELECT vec_id AS query_id, "
        + ", ".join(
            f"CAST(list_extract(embedding, {i}) AS DOUBLE) AS e{i}"
            for i in dims
        )
        + f" FROM embeddings WHERE vec_id < {NQ})",
    )
    parts.append(
        "qd AS MATERIALIZED (SELECT q.query_id, "
        + ", ".join(f"{_ivf16_dist(j)} AS d{j}" for j in range(K))
        + f" FROM qpts q CROSS JOIN cw{T})"
    )
    unpiv = " UNION ALL ".join(
        f"SELECT query_id, {j} AS cl, d{j} AS dist FROM qd"
        for j in range(K)
    )
    parts.append(
        "probesall AS MATERIALIZED (SELECT query_id, cl, "
        "row_number() OVER (PARTITION BY query_id ORDER BY dist, cl)"
        f" AS pr FROM ({unpiv}) u)"
    )
    parts.append(
        "probes AS (SELECT query_id, cl FROM probesall"
        f" WHERE pr <= {_IVF16_NPROBE})"
    )
    return parts


def _ivf_oracle() -> str:
    cos = _DD_COS_ML.format(a="c.embedding", b="q.qv")
    parts = _ivf16_oracle_ctes()
    parts += [
        f"""q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < {_IVF16_QN})""",
        f"""c AS (SELECT vec_id, embedding
               FROM embeddings WHERE vec_id >= {_IVF16_QN})""",
        f"""cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
               FROM asg{_IVF16_T} a JOIN probes p ON a.cl = p.cl)""",
        f"""sims AS (SELECT cand.query_id, cand.neighbor_id,
               round({cos}, 6) AS sim
               FROM cand JOIN c ON cand.neighbor_id = c.vec_id
                         JOIN q ON cand.query_id = q.query_id)""",
        """top AS (SELECT query_id, neighbor_id, sim
               FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                     ORDER BY sim DESC, neighbor_id) AS rn FROM sims) z
               WHERE rn <= 3)""",
        f"""exact AS (SELECT query_id, neighbor_id
               FROM (SELECT q.query_id, c.vec_id AS neighbor_id,
                     row_number() OVER (PARTITION BY q.query_id
                       ORDER BY {cos} DESC, c.vec_id) AS xrn
                     FROM c CROSS JOIN q) z
               WHERE xrn <= 3)""",
    ]
    return (
        ",\n    ".join(parts)
        + """
    SELECT t.query_id, t.neighbor_id, t.sim,
           round(CAST((SELECT count(*) FROM top t2 JOIN exact e
                       ON t2.query_id = e.query_id
                      AND t2.neighbor_id = e.neighbor_id) AS DOUBLE)
                 / (SELECT count(*) FROM top), 4) AS recall_at_k
    FROM top t
    """
    )


@query("vec_ivf_ann", oracle=_ivf_oracle())
def vec_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a FULLY HASH-VERIFIED pipeline (round-14 upgrade of
    the r2 rows-only op): the coarse quantizer is the exactly-
    reproducible unrolled-Lloyd construction (k=16 lists seeded from
    the 16 lowest corpus vec_ids, 2 iterations, DECIMAL-accumulated
    means re-quantized round(9) — vec_kmeans_lloyd's parity recipe)
    over the 8-dim MATRYOSHKA PREFIX of the embeddings (coarse
    quantization on a reduced projection is standard practice — the
    list geometry only has to be a partition, not a metric-exact
    one). Each query probes its 8 nearest lists by the same prefix
    distance, and only those lists are scored with the FULL 64-dim
    exact cosine (round(6), ties by neighbor_id) for the top-3. The
    DuckDB oracle replays every stage — seeding, both Lloyd updates,
    assignment argmin, probe ranking, rerank, and the recall column —
    so the driver hash match verifies the ENTIRE index construction,
    not just row counts.

    vs the r2 numpy version: training moves from a driver-side sample
    fit to two distributed unrolled iterations (the corpus is touched
    T+2 times: T+1 assigns + 1 search — still no MLlib per-iteration
    job overhead); assignment stays one codegen'd pass (16 eight-term
    distances, far under the Janino budget). At production dims the
    assignment GEMM belongs in mapInArrow (vec_ivfpq_ann keeps that
    path); THIS op keeps every stage SQL-exact so the gate can verify
    it end to end.

    Parity: distances share expression text (left-assoc IEEE sums of
    round(9)-quantized centroids — bit-identical); empty lists
    coalesce to 1e308 on both engines; cosine ordering uses round(6)
    + id tiebreak; recall_at_k is the _with_recall_guard column,
    recomputed by the oracle from its own exact twin.

    Shape at 100 TB: list assignment is a broadcast cross join against
    ONE pivoted centroid row (map-side, no shuffle); candidates form
    by an equi-join on cl (probed lists only — never the full corpus
    per query); top-3 is a per-query window over ~8/16 of the corpus.
    """
    from .vector import _query_vector_raw

    q, corpus = _queries_and_corpus(spark, sf_dir)
    asg, probes = _ivf16_assignments(spark, sf_dir)
    d = len(_query_vector_raw(spark, sf_dir, 0))
    probed = probes.where(F.col("pr") <= _IVF16_NPROBE).select(
        "query_id", "cl"
    )
    cand = asg.join(F.broadcast(probed), "cl").select(
        "query_id", F.col("vec_id").alias("neighbor_id")
    )
    sims = (
        cand.join(
            corpus.select(
                F.col("vec_id").alias("neighbor_id"), "embedding"
            ),
            "neighbor_id",
        )
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_fixed("embedding", "qv", d), 6).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), "neighbor_id"
    )
    out = (
        sims.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("query_id", "neighbor_id", "sim")
    )
    return _with_recall_guard(out, q, corpus, sf_dir, floor=0.55)


def mmr_select(
    cand: list[tuple[int, list[float], float]], k: int, lam: float
) -> list[tuple[int, float]]:
    """Greedy Maximal-Marginal-Relevance on a candidate list
    [(vec_id, embedding, sim_to_query)] — the exact algorithm behind
    the reference's search_type="mmr" (app.py:261-268): pick
    argmax( lam*sim(q,d) - (1-lam)*max_{s in S} sim(d,s) ), ties by
    lowest vec_id. Driver/executor-local: candidates are <= fetch_k."""
    import math

    def cos(a: list[float], b: list[float]) -> float:
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb) if na and nb else 0.0

    out: list[tuple[int, float]] = []
    selected_embs: list[list[float]] = []
    remaining = sorted(cand, key=lambda t: (-t[2], t[0]))
    while remaining and len(out) < k:
        best = None  # (score, vec_id, embedding)
        for vid, emb, sim in remaining:
            red = max((cos(emb, se) for se in selected_embs), default=0.0)
            score = lam * sim - (1 - lam) * red
            if best is None or score > best[0] or (score == best[0] and vid < best[1]):
                best = (score, vid, emb)
        out.append((best[1], round(best[0], 6)))
        selected_embs.append(best[2])
        remaining = [c for c in remaining if c[0] != best[1]]
    return out


_DD_RED = (
    "coalesce(list_max(list_transform(m.sel_embs, "
    "se -> list_dot_product(c.emb, se) / "
    "(sqrt(list_dot_product(c.emb, c.emb)) * sqrt(list_dot_product(se, se))))), 0.0)"
)


@query(
    "vec_mmr_rerank",
    # greedy MMR as a DuckDB RECURSIVE CTE: each recursion step joins
    # LATERAL to the argmax of 0.5*sim - 0.5*max_cos_to_selected over
    # the not-yet-picked candidates, carrying the selected ids and
    # embeddings forward as lists. Verified bit-for-bit against the
    # greedy loop (same sequential-fold cosine, raw-score ordering,
    # lowest-vec_id ties).
    oracle=f"""
    WITH RECURSIVE
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    cand AS (
      SELECT e.vec_id, e.embedding::DOUBLE[] AS emb,
             round({_DD_COS_ML.format(a='e.embedding', b='q.qv')}, 6) AS sim
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> 0
      ORDER BY sim DESC, e.vec_id
      LIMIT 20),
    mmr AS (
      SELECT 1 AS rank, [vec_id] AS sel, [emb] AS sel_embs,
             vec_id, round(0.5 * sim, 6) AS mmr_score
      FROM (SELECT * FROM cand ORDER BY sim DESC, vec_id LIMIT 1)
      UNION ALL
      SELECT m.rank + 1, list_append(m.sel, s.vec_id),
             list_append(m.sel_embs, s.emb), s.vec_id, s.score_r
      FROM mmr m JOIN LATERAL (
        SELECT c.vec_id, c.emb,
               round(0.5 * c.sim - 0.5 * {_DD_RED}, 6) AS score_r,
               0.5 * c.sim - 0.5 * {_DD_RED} AS score_raw
        FROM cand c
        WHERE NOT list_contains(m.sel, c.vec_id)
        ORDER BY score_raw DESC, c.vec_id
        LIMIT 1) s ON true
      WHERE m.rank < 5)
    SELECT CAST(0 AS INTEGER) AS query_id, vec_id, mmr_score,
           CAST(rank AS INTEGER) AS rank
    FROM mmr
    """,
)
def vec_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R8 port (perform_vector_search, app.py:256-296): fetch_k=20
    candidates by cosine vs query vec_id=0, then greedy MMR with
    lambda=0.5 down to k=5. Candidate fetch is the scalable
    TakeOrderedAndProject; the greedy loop is the shared Catalyst
    expression ``functions.vector.mmr_picks`` over each query's
    collected candidates — O(k*fetch_k) work on <=fetch_k rows, never
    the corpus, no Python worker. Deterministic: ties broken on vec_id.
    Fully oracle-checked: the greedy selection is expressible as a
    DuckDB recursive CTE (see oracle), so this op is NOT rows-only."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select(
        F.lit(0).alias("query_id"), F.col("embedding").alias("qv")
    )
    cand = (
        emb.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "query_id",
            "vec_id",
            "embedding",
            F.round(cosine_fixed("embedding", "qv", 64), 6).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(20)
    )
    picked = (
        cand.groupBy("query_id")
        .agg(F.collect_list(F.struct("vec_id", "embedding", "sim")).alias("c"))
        .select(
            "query_id", "c",
            F.expr(mmr_picks("c", 5, 0.5, id_field="vec_id")).alias("p"),
        )
    )
    return picked.select(
        "query_id",
        F.expr(
            "inline(transform(p, (x, r) -> named_struct('vec_id', c[x.idx].vec_id, "
            "'mmr_score', round(x.score, 6), 'rank', r + 1)))"
        ),
    )


# ---------------------------------------------------------------------------
# SQL-exact product quantizer (round-14 oracle upgrade)
# ---------------------------------------------------------------------------
# Like the IVF quantizer above, the r2 PQ trained 256-entry codebooks
# driver-side in numpy (rows-only forever). Round 14 re-parameterizes
# to a SAMPLED codebook — per subspace, the sub-vectors of the 16
# lowest corpus vec_ids (the classical kmeans++-style "use data points
# as codes" initialization, frozen): every stage (normalize, encode,
# ADC, shortlist, exact rerank) becomes SQL-expressible and the whole
# index is hash-verified. The ADC shortlist also moves from per-Arrow-
# batch (partition-DEPENDENT output!) to a global per-query window —
# the r2 op's per-batch cut was itself unverifiable by construction.

_PQ16_M = 8  # subspaces
_PQ16_SUB = 8  # dims per subspace (8 x 8 = the 64-dim embedding)
_PQ16_K = 32  # codes per subspace, sampled from the corpus ("16"
# in the family name is the SEED0 anchor, not the code count)
_PQ16_SHORT = 60  # global ADC shortlist per query, exact-reranked
# (measured recall at K=32/T=2: 0.833/0.90/0.667 at sf0.001/0.01/0.1)
_PQ16_SEED0 = 10  # codebook rows: vec_id in [SEED0, SEED0 + K)
_PQ16_T = 2  # Lloyd refinement iterations over the sampled seeds


def _pq16_sqdist() -> str:
    return " + ".join(
        f"(x{i} - c{i}) * (x{i} - c{i})" for i in range(1, _PQ16_SUB + 1)
    )


def _pq16_lut_expr() -> str:
    dot = " + ".join(f"x{i} * c{i}" for i in range(1, _PQ16_SUB + 1))
    return f"CAST(round({dot}, 9) AS DECIMAL(18,9))"


@session_artifact
def _pq16_frames(
    spark: SparkSession, sf_dir: str, lut_expr: str
) -> tuple[DataFrame, DataFrame]:
    """(codes (vec_id, m, code), lut (query_id, m, code, lutv)) of the
    SQL-exact PQ — Spark twin of _pq16_oracle_ctes.

    Session-cached as localCheckpointed frames (round-14, same rule as
    _ivf16_assignments): the codebook refinement is the stored-index
    build; vec_pq_ann and vec_ivfpq_ann were re-deriving the T-round
    encode/refine DAG per call (OPS_BENCH r14 before: 8.3 / 18.8 s).
    codes = M rows per corpus vector, lut = 10 queries x M x K — both
    corpus-bounded. Callers pass _pq16_lut_expr() as ``lut_expr``,
    so the LUT text is part of the session key and the recall-collapse
    pytests (which monkeypatch _pq16_lut_expr to zero) still build —
    and fail — their own frames."""
    emb = table(spark, sf_dir, "embeddings")
    D = _PQ16_M * _PQ16_SUB
    dims = range(1, D + 1)
    pts = emb.select(
        "vec_id",
        *[
            F.expr(f"CAST(element_at(embedding, {j}) AS DOUBLE)").alias(
                f"e{j}"
            )
            for j in dims
        ],
    )
    nrm = "sqrt(" + " + ".join(f"e{j} * e{j}" for j in dims) + ")"
    nn = pts.withColumn("nrm", F.expr(nrm)).select(
        "vec_id",
        *[F.expr(f"e{j} / nrm").alias(f"nx{j}") for j in dims],
    )
    stack_args = ", ".join(
        f"{m}, "
        + ", ".join(f"nx{m * _PQ16_SUB + i}" for i in range(1, _PQ16_SUB + 1))
        for m in range(_PQ16_M)
    )
    xcols = ", ".join(f"x{i}" for i in range(1, _PQ16_SUB + 1))
    sub = nn.selectExpr(
        "vec_id", f"stack({_PQ16_M}, {stack_args}) AS (m, {xcols})"
    )
    seed_hi = _PQ16_SEED0 + _PQ16_K
    cb = sub.where(
        (F.col("vec_id") >= _PQ16_SEED0) & (F.col("vec_id") < seed_hi)
    ).select(
        (F.col("vec_id") - _PQ16_SEED0).cast("int").alias("code"),
        "m",
        *[
            F.col(f"x{i}").alias(f"c{i}")
            for i in range(1, _PQ16_SUB + 1)
        ],
    )
    csub = sub.where(F.col("vec_id") >= _PQ16_SEED0)
    w_e = Window.partitionBy("vec_id", "m").orderBy("dist", "code")

    def assign(book: DataFrame) -> DataFrame:
        return (
            csub.join(F.broadcast(book), "m")
            .select(
                "vec_id",
                "m",
                "code",
                *[F.col(f"x{i}") for i in range(1, _PQ16_SUB + 1)],
                F.expr(_pq16_sqdist()).alias("dist"),
            )
            .withColumn("rn", F.row_number().over(w_e))
            .where(F.col("rn") == 1)
        )

    # _PQ16_T Lloyd refinement iterations over the sampled seeds (the
    # _ivf16 recipe: DECIMAL-accumulated means re-quantized round(9))
    for _ in range(_PQ16_T):
        cb = assign(cb).groupBy("m", "code").agg(
            *[
                F.expr(
                    f"round(CAST(sum(CAST(x{i} AS DECIMAL(18,9)))"
                    f" AS DOUBLE) / count(*), 9)"
                ).alias(f"c{i}")
                for i in range(1, _PQ16_SUB + 1)
            ]
        )
    codes = assign(cb).select("vec_id", "m", "code")
    qsub = sub.where(F.col("vec_id") < _PQ16_SEED0).withColumnRenamed(
        "vec_id", "query_id"
    )
    lut = qsub.join(F.broadcast(cb), "m").select(
        "query_id", "m", "code", F.expr(lut_expr).alias("lutv")
    )
    return codes.localCheckpoint(), lut.localCheckpoint()


def _pq16_oracle_ctes() -> list[str]:
    """DuckDB twin of _pq16_frames: CTEs through `codes` and `lut`."""
    D = _PQ16_M * _PQ16_SUB
    dims = range(1, D + 1)
    seed_hi = _PQ16_SEED0 + _PQ16_K
    nrm = "sqrt(" + " + ".join(f"e{j} * e{j}" for j in dims) + ")"
    sub_branches = " UNION ALL ".join(
        f"SELECT vec_id, {m} AS m, "
        + ", ".join(
            f"nx{m * _PQ16_SUB + i} AS x{i}"
            for i in range(1, _PQ16_SUB + 1)
        )
        + " FROM nn"
        for m in range(_PQ16_M)
    )
    return [
        "pq_pts AS (SELECT vec_id, "
        + ", ".join(
            f"CAST(list_extract(embedding, {j}) AS DOUBLE) AS e{j}"
            for j in dims
        )
        + " FROM embeddings)",
        "nn AS MATERIALIZED (SELECT vec_id, "
        + ", ".join(f"e{j} / nrm AS nx{j}" for j in dims)
        + f" FROM (SELECT *, {nrm} AS nrm FROM pq_pts) z)",
        f"sub AS MATERIALIZED ({sub_branches})",
        f"cb0 AS MATERIALIZED (SELECT CAST(vec_id - {_PQ16_SEED0} AS"
        " INTEGER) AS code, m, "
        + ", ".join(
            f"x{i} AS c{i}" for i in range(1, _PQ16_SUB + 1)
        )
        + f" FROM sub WHERE vec_id >= {_PQ16_SEED0}"
        f" AND vec_id < {seed_hi})",
    ] + _pq16_refine_ctes() + [
        "qsub AS (SELECT vec_id AS query_id, m, "
        + ", ".join(f"x{i}" for i in range(1, _PQ16_SUB + 1))
        + f" FROM sub WHERE vec_id < {_PQ16_SEED0})",
        f"lut AS MATERIALIZED (SELECT q.query_id, cb.m, cb.code, "
        f"{_pq16_lut_expr()} AS lutv FROM qsub q"
        f" JOIN cb{_PQ16_T} cb ON q.m = cb.m)",
    ]


def _pq16_refine_ctes() -> list[str]:
    """Lloyd-refinement CTEs cb0 -> cb{T} plus the final `codes`."""
    xs = ", ".join(f"x{i}" for i in range(1, _PQ16_SUB + 1))
    parts = []

    def enc_cte(name: str, book: str) -> str:
        return (
            f"{name} AS (SELECT vec_id, m, code, {xs} FROM ("
            f"SELECT s.vec_id, s.m, cb.code, {xs}, "
            f"row_number() OVER (PARTITION BY s.vec_id, s.m"
            f" ORDER BY {_pq16_sqdist()}, cb.code) AS rn"
            f" FROM sub s JOIN {book} cb ON s.m = cb.m"
            f" WHERE s.vec_id >= {_PQ16_SEED0}) z WHERE rn = 1)"
        )

    for t in range(_PQ16_T):
        parts.append(enc_cte(f"pqasg{t}", f"cb{t}"))
        parts.append(
            f"cb{t + 1} AS MATERIALIZED (SELECT m, code, "
            + ", ".join(
                f"round(CAST(sum(CAST(x{i} AS DECIMAL(18,9)))"
                f" AS DOUBLE) / count(*), 9) AS c{i}"
                for i in range(1, _PQ16_SUB + 1)
            )
            + f" FROM pqasg{t} GROUP BY m, code)"
        )
    parts.append(
        f"codes AS MATERIALIZED (SELECT vec_id, m, code FROM ("
        f"SELECT s.vec_id, s.m, cb.code, "
        f"row_number() OVER (PARTITION BY s.vec_id, s.m"
        f" ORDER BY {_pq16_sqdist()}, cb.code) AS rn"
        f" FROM sub s JOIN cb{_PQ16_T} cb ON s.m = cb.m"
        f" WHERE s.vec_id >= {_PQ16_SEED0}) z WHERE rn = 1)"
    )
    return parts


_PQ_RERANK_TAIL = """
    SELECT t.query_id, t.neighbor_id, t.sim,
           round(CAST((SELECT count(*) FROM top t2 JOIN exact e
                       ON t2.query_id = e.query_id
                      AND t2.neighbor_id = e.neighbor_id) AS DOUBLE)
                 / (SELECT count(*) FROM top), 4) AS recall_at_k
    FROM top t
    """


def _pq_oracle() -> str:
    cos = _DD_COS_ML.format(a="c.embedding", b="q.qv")
    parts = _pq16_oracle_ctes()
    parts += [
        f"""q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < {_PQ16_SEED0})""",
        f"""c AS (SELECT vec_id, embedding
               FROM embeddings WHERE vec_id >= {_PQ16_SEED0})""",
        """adc AS (SELECT l.query_id, cd.vec_id, sum(l.lutv) AS adc
               FROM codes cd JOIN lut l ON cd.m = l.m AND cd.code = l.code
               GROUP BY l.query_id, cd.vec_id)""",
        f"""short AS (SELECT query_id, vec_id FROM (
               SELECT query_id, vec_id, row_number() OVER (
                 PARTITION BY query_id ORDER BY adc DESC, vec_id) AS rn
               FROM adc) z WHERE rn <= {_PQ16_SHORT})""",
        f"""sims AS (SELECT s.query_id, s.vec_id AS neighbor_id,
               round({cos}, 6) AS sim
               FROM short s JOIN c ON s.vec_id = c.vec_id
                            JOIN q ON s.query_id = q.query_id)""",
        """top AS (SELECT query_id, neighbor_id, sim
               FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                     ORDER BY sim DESC, neighbor_id) AS rn FROM sims) z
               WHERE rn <= 3)""",
        f"""exact AS (SELECT query_id, neighbor_id
               FROM (SELECT q.query_id, c.vec_id AS neighbor_id,
                     row_number() OVER (PARTITION BY q.query_id
                       ORDER BY {cos} DESC, c.vec_id) AS xrn
                     FROM c CROSS JOIN q) z
               WHERE xrn <= 3)""",
    ]
    return "WITH " + ",\n    ".join(parts) + _PQ_RERANK_TAIL


@query("vec_pq_ann", oracle=_pq_oracle())
def vec_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (the FAISS IndexPQ shape), FULLY
    HASH-VERIFIED since round 14: unit-normalize, split each 64-dim
    vector into M=8 subspaces of 8 dims, quantize each sub-vector to
    its nearest of 32 codes (seeded from the sub-vectors of the 32
    lowest corpus vec_ids — data-points-as-codes initialization —
    then refined by 2 SQL-unrolled Lloyd iterations, round(9)
    DECIMAL-mean recipe), store each corpus vector as 8 5-bit codes,
    and answer queries by asymmetric distance computation: a per-query
    8x32 lookup table (round(9)-quantized DECIMAL entries, so the
    8-term ADC sum is EXACT and order-independent on both engines), a
    GLOBAL top-60 ADC shortlist per query, then an exact cosine rerank
    of the shortlist only (the FAISS IndexRefineFlat pattern).

    vs the r2 numpy version: the codebook moves from a driver-side
    256-entry Lloyd fit (unverifiable) to the sampled construction;
    the ADC shortlist moves from per-Arrow-batch (whose output
    depended on batch boundaries — unverifiable BY CONSTRUCTION) to
    one per-query window over the code table. The memory story is
    unchanged and is THE 100 TB play: 8 small codes per vector (here
    5-bit), corpus read once to encode, searches run on the code
    table; the LUT join is a broadcast (10 queries x 8 x 16 rows) and
    the ADC aggregate map-side-combines on (query, vec).

    Parity: normalization, sub-distances, and LUT dots share
    expression text (left-assoc IEEE); encode argmin is row_number
    over (dist, code); ADC is an exact DECIMAL(18,9) sum; rerank
    orders round(6) cosine with id ties; recall_at_k is the
    _with_recall_guard column, recomputed by the oracle."""
    from .vector import _query_vector_raw

    q, corpus = _queries_and_corpus(spark, sf_dir)
    codes, lut = _pq16_frames(spark, sf_dir, _pq16_lut_expr())
    d = len(_query_vector_raw(spark, sf_dir, 0))
    adc = (
        codes.join(F.broadcast(lut), ["m", "code"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("lutv").alias("adc"))
    )
    w_s = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc(), "vec_id"
    )
    short = (
        adc.withColumn("rn", F.row_number().over(w_s))
        .where(F.col("rn") <= _PQ16_SHORT)
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    sims = (
        short.join(
            corpus.select(
                F.col("vec_id").alias("neighbor_id"), "embedding"
            ),
            "neighbor_id",
        )
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_fixed("embedding", "qv", d), 6).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), "neighbor_id"
    )
    out = (
        sims.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("query_id", "neighbor_id", "sim")
    )
    return _with_recall_guard(out, q, corpus, sf_dir, floor=0.55)


def _ivfpq_oracle() -> str:
    cos = _DD_COS_ML.format(a="c.embedding", b="q.qv")
    parts = _ivf16_oracle_ctes() + _pq16_oracle_ctes()
    parts += [
        f"""q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < {_IVF16_QN})""",
        f"""c AS (SELECT vec_id, embedding
               FROM embeddings WHERE vec_id >= {_IVF16_QN})""",
        f"""cand AS (SELECT p.query_id, a.vec_id
               FROM asg{_IVF16_T} a JOIN probes p ON a.cl = p.cl)""",
        """adc AS (SELECT cn.query_id, cn.vec_id, sum(l.lutv) AS adc
               FROM cand cn
               JOIN codes cd ON cn.vec_id = cd.vec_id
               JOIN lut l ON l.query_id = cn.query_id
                         AND l.m = cd.m AND l.code = cd.code
               GROUP BY cn.query_id, cn.vec_id)""",
        f"""short AS (SELECT query_id, vec_id FROM (
               SELECT query_id, vec_id, row_number() OVER (
                 PARTITION BY query_id ORDER BY adc DESC, vec_id) AS rn
               FROM adc) z WHERE rn <= {_PQ16_SHORT})""",
        f"""sims AS (SELECT s.query_id, s.vec_id AS neighbor_id,
               round({cos}, 6) AS sim
               FROM short s JOIN c ON s.vec_id = c.vec_id
                            JOIN q ON s.query_id = q.query_id)""",
        """top AS (SELECT query_id, neighbor_id, sim
               FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                     ORDER BY sim DESC, neighbor_id) AS rn FROM sims) z
               WHERE rn <= 3)""",
        f"""exact AS (SELECT query_id, neighbor_id
               FROM (SELECT q.query_id, c.vec_id AS neighbor_id,
                     row_number() OVER (PARTITION BY q.query_id
                       ORDER BY {cos} DESC, c.vec_id) AS xrn
                     FROM c CROSS JOIN q) z
               WHERE xrn <= 3)""",
    ]
    return ",\n    ".join(parts) + _PQ_RERANK_TAIL


@query("vec_ivfpq_ann", oracle=_ivfpq_oracle())
def vec_ivfpq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ combined — the FAISS IndexIVFPQ shape and the actual
    100 TB serving config, FULLY HASH-VERIFIED since round 14: the
    SQL-exact coarse quantizer (vec_ivf_ann's 16 prefix-Lloyd lists,
    probe 8) bounds WHICH rows each query scores, and vec_pq_ann's
    SQL-exact 8x5-bit codes bound WHAT each scored row costs.
    vec_ivf_ann pays full float vectors per candidate; vec_pq_ann
    ADC-scans the whole corpus; this op does neither — candidates are
    the probed lists only, scored via the broadcast 8x32 DECIMAL
    lookup table, with the exact cosine re-rank touching just the
    global per-query shortlist (IndexRefineFlat pattern).

    The oracle replays BOTH index constructions (coarse Lloyd +
    codebook refinement) plus the probe/ADC/rerank pipeline — one
    hash match verifies the complete serving config end to end.
    Parity arguments inherit from vec_ivf_ann (prefix quantizer) and
    vec_pq_ann (DECIMAL ADC, round(6)+id rerank order)."""
    from .vector import _query_vector_raw

    q, corpus = _queries_and_corpus(spark, sf_dir)
    asg, probes = _ivf16_assignments(spark, sf_dir)
    codes, lut = _pq16_frames(spark, sf_dir, _pq16_lut_expr())
    d = len(_query_vector_raw(spark, sf_dir, 0))
    probed = probes.where(F.col("pr") <= _IVF16_NPROBE).select(
        "query_id", "cl"
    )
    cand = asg.join(F.broadcast(probed), "cl").select("query_id", "vec_id")
    adc = (
        cand.join(codes, "vec_id")
        .join(F.broadcast(lut), ["query_id", "m", "code"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("lutv").alias("adc"))
    )
    w_s = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc(), "vec_id"
    )
    short = (
        adc.withColumn("rn", F.row_number().over(w_s))
        .where(F.col("rn") <= _PQ16_SHORT)
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    sims = (
        short.join(
            corpus.select(
                F.col("vec_id").alias("neighbor_id"), "embedding"
            ),
            "neighbor_id",
        )
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_fixed("embedding", "qv", d), 6).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), "neighbor_id"
    )
    out = (
        sims.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("query_id", "neighbor_id", "sim")
    )
    return _with_recall_guard(out, q, corpus, sf_dir, floor=0.5)


# ---------------------------------------------------------------------------
# vec_ann_recall_sweep
# ---------------------------------------------------------------------------

_SWEEP_PROBES = (1, 2, 4, 8)  # nprobe grid over the 16 coarse lists


def _sweep_oracle() -> str:
    cos = _DD_COS_ML.format(a="c.embedding", b="q.qv")
    pdom = " UNION ALL ".join(
        f"SELECT CAST({p} AS INTEGER) AS nprobe" for p in _SWEEP_PROBES
    )
    parts = _ivf16_oracle_ctes()
    parts += [
        f"""q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < {_IVF16_QN})""",
        f"""c AS (SELECT vec_id, embedding
               FROM embeddings WHERE vec_id >= {_IVF16_QN})""",
        f"""cands AS MATERIALIZED (SELECT p.query_id,
               a.vec_id AS neighbor_id, p.pr
               FROM asg{_IVF16_T} a JOIN probesall p ON a.cl = p.cl
               WHERE p.pr <= {max(_SWEEP_PROBES)})""",
        f"""sims AS MATERIALIZED (SELECT cd.query_id, cd.neighbor_id,
               cd.pr, {cos} AS sim
               FROM cands cd JOIN c ON cd.neighbor_id = c.vec_id
                             JOIN q ON cd.query_id = q.query_id)""",
        f"pdom AS ({pdom})",
        """approx AS (SELECT nprobe, query_id, neighbor_id
               FROM (SELECT d.nprobe, s.query_id, s.neighbor_id,
                     row_number() OVER (PARTITION BY d.nprobe, s.query_id
                       ORDER BY s.sim DESC, s.neighbor_id) AS rn
                     FROM sims s JOIN pdom d ON s.pr <= d.nprobe) z
               WHERE rn <= 3)""",
        f"""exact AS (SELECT query_id, neighbor_id
               FROM (SELECT q.query_id, c.vec_id AS neighbor_id,
                     row_number() OVER (PARTITION BY q.query_id
                       ORDER BY {cos} DESC, c.vec_id) AS xrn
                     FROM c CROSS JOIN q) z
               WHERE xrn <= 3)""",
        f"""rec AS (SELECT d.nprobe,
               round(CAST(coalesce(sum(CASE WHEN e.neighbor_id
                     IS NOT NULL THEN 1 ELSE 0 END), 0) AS DOUBLE)
                     / (3.0 * {_IVF16_QN}), 4) AS recall_at_3
               FROM pdom d LEFT JOIN approx a ON a.nprobe = d.nprobe
               LEFT JOIN exact e
                 ON a.query_id = e.query_id
                AND a.neighbor_id = e.neighbor_id
               GROUP BY d.nprobe)""",
        f"""cnt AS (SELECT d.nprobe,
               CAST(count(cd.pr) AS BIGINT) AS n_candidates
               FROM pdom d LEFT JOIN cands cd ON cd.pr <= d.nprobe
               GROUP BY d.nprobe)""",
        f"""tot AS (SELECT CAST(count(*) AS BIGINT) * {_IVF16_QN}
               AS ntot FROM c)""",
    ]
    return (
        ",\n    ".join(parts)
        + """
    SELECT r.nprobe, r.recall_at_3, cnt.n_candidates,
           round(CAST(cnt.n_candidates AS DOUBLE) / tot.ntot, 6)
             AS candidate_frac
    FROM rec r JOIN cnt ON r.nprobe = cnt.nprobe CROSS JOIN tot
    ORDER BY r.nprobe
    """
    )


@query("vec_ann_recall_sweep", oracle=_sweep_oracle())
def vec_ann_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN TUNING TABLE: the recall / candidate-fraction frontier of
    the IVF index across probe widths (nprobe in 1/2/4/8 of 16 lists)
    — the table an ANN deployment actually reads to pick its
    operating point (recall@3 vs fraction of corpus scanned; FAISS
    calls this the nprobe sweep). One run produces the whole
    frontier over the SESSION-CHECKPOINTED probed-candidate panel
    (_ivf_panel_cands — built once from the SQL-exact _ivf16
    quantizer; round 14 upgraded this op from rows-only to a FULL
    oracle alongside vec_ivf_ann): "visible at nprobe p" is just
    probe rank <= p, so the sweep costs bounded slices of one stored
    artifact, not 4 index builds. Ranking uses the panel's RAW
    cosine (monotonicity in nprobe is provable only for raw-score
    ranking — a round-6 tie could let a widened candidate set
    displace an exact-top-3 member; review r14). The oracle replays
    the quantizer, probe ranks, per-width top-3, recall against its
    own exact twin, and candidate volumes over a DENSIFIED nprobe
    domain (an unobserved exact rank must emit its row, not drop it).

    Self-checks in-plan (unchanged): recall is monotone in p
    (candidate sets are nested), asserted pairwise; the widest probe
    must clear the 0.55 floor vec_ivf_ann pins. At production scale
    the sweep runs on a sampled query panel — here the panel IS the
    10-query set."""
    q, corpus = _queries_and_corpus(spark, sf_dir)
    max_p = max(_SWEEP_PROBES)
    cands = _ivf_panel_cands(spark, sf_dir)  # (query_id, neighbor_id,
    # r, sim[RAW]) — localCheckpointed once per session
    pdom = spark.createDataFrame(
        [(p,) for p in _SWEEP_PROBES], "nprobe int"
    )
    w3 = Window.partitionBy("nprobe", "query_id").orderBy(
        F.col("sim").desc(), "neighbor_id"
    )
    approx = (
        cands.crossJoin(F.broadcast(pdom))
        .where(F.col("r") <= F.col("nprobe"))
        .withColumn("rn", F.row_number().over(w3))
        .where(F.col("rn") <= 3)
    )
    exact = _exact3_twin(spark, sf_dir)
    rec = (
        pdom.join(approx, "nprobe", "left")
        .join(exact, ["query_id", "neighbor_id"], "left")
        .groupBy("nprobe")
        .agg(
            # exact-twin denominator: a query with < 3 candidates at a
            # probe width must LOWER recall, not shrink the denominator
            F.round(
                F.coalesce(
                    F.sum(F.coalesce(F.col("xhit"), F.lit(0))), F.lit(0)
                )
                / F.lit(3.0 * _IVF16_QN),
                4,
            ).alias("recall_at_3"),
        )
    )
    # candidate volume per nprobe over the DENSIFIED probe domain
    # (review r14: an exact rank with zero candidates must still emit)
    cum = (
        pdom.join(cands, F.col("r") <= F.col("nprobe"), "left")
        .groupBy("nprobe")
        .agg(F.count("r").cast("bigint").alias("n_candidates"))
    )
    ntot = corpus.count() * _IVF16_QN  # bounded scalars
    w_mono = Window.orderBy("nprobe")
    return (
        rec.join(cum, "nprobe")
        .withColumn(
            "candidate_frac",
            F.round(F.col("n_candidates") / F.lit(float(ntot)), 6),
        )
        .withColumn("prev_recall", F.lag("recall_at_3").over(w_mono))
        .where(
            F.assert_true(
                F.col("prev_recall").isNull()
                | (F.col("recall_at_3") >= F.col("prev_recall")),
                F.lit("recall not monotone in nprobe — bucketing broken"),
            ).isNull()
        )
        .where(
            F.assert_true(
                (F.col("nprobe") < F.lit(max_p))
                | (F.col("recall_at_3") >= 0.55),
                F.lit("widest-probe recall under the 0.55 IVF floor"),
            ).isNull()
        )
        .select("nprobe", "recall_at_3", "n_candidates", "candidate_frac")
    )


# ---------------------------------------------------------------------------
# vec_ann_latency_recall_pareto
# ---------------------------------------------------------------------------

_PARETO_LSH_LEVELS = (1, 2, 4)  # probed-table grid over the 4 LSH tables
# timed fetches per operating point: 1 warm + median of N timed. Round
# 15 dropped N from 3 to 1 — at toy scale every reading sits at the
# per-action floor (the floor itself is the noise witness, see the op
# docstring), and the pq/ivfpq points re-run their full encode+search
# pipeline per fetch, so the two extra runs were ~5 s of pure repeat.
_PARETO_TIMED_RUNS = 1


@query("vec_ann_latency_recall_pareto")  # rows-only BY DESIGN: the
# operating points carry MEASURED wall-clock latency (not SQL-
# reproducible) and trained-model recalls; the op self-checks instead —
# per-family candidate-volume monotonicity and the LSH/IVF/PQ/IVFPQ
# recall floors are asserted in-plan, and the underlying family ops
# raise on recall collapse via their own _with_recall_guard.
def vec_ann_latency_recall_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOINT LATENCY/RECALL FRONTIER across the four ANN families —
    the one table an ANN deployment reads to pick its serving config
    (FAISS's bench_all_ivf summary shape): one row per operating
    point, its measured top-3 retrieval latency, its recall@3 against
    the exact cosine top-3, the corpus fraction it scans, and a
    `pareto` flag marking the non-dominated (recall, latency) points.

    Operating points (9 rows, fixed):
    - `ivf` nprobe 1/2/4/8 of 16 lists — the probed candidate lists
      (assignment join x query probe ranks) materialize ONCE as the
      stored-index artifact (localCheckpoint); recall + candidate_frac
      come from one level-domain plan over that frame
      (vec_ann_recall_sweep's machinery inlined, exact-twin
      denominator), and each point's latency times the
      DATA-PROPORTIONAL serving work — distance computation + top-k
      over the point's candidate slice (its size is exactly
      candidate_frac) — not an index-build or join-plan rebuild.
    - `lsh` probing 1/2/4 of the 4 deterministic tables — nested
      candidate sets by construction (first-collide table index r
      makes level sets nested); same materialized-candidate protocol,
      pair-deduped once; the 4-table point is vec_lsh_ann's exact
      config and must clear its 0.7 floor (asserted in-plan).
    - `pq` (full ADC scan + exact refine) and `ivfpq` (probe 8 +
      ADC + refine) — the two fused encode+search ops timed as built
      (their index IS the per-batch encode; vec_pq_ann docstring),
      recalls read from their _with_recall_guard output, which RAISES
      on collapse before this op can emit a row.

    Latency methodology: per point, one warm fetch (plan + JIT), then
    one timed collect (_PARETO_TIMED_RUNS; round 15 cut the
    median-of-3 to 1 — the readings sit at the per-action floor at toy
    scale, so the extra runs bought no precision while the pq/ivfpq
    points re-ran their whole encode+search pipeline per fetch;
    pq/ivfpq reuse their recall collect as the warm fetch).
    Sub-45 ms readings sit at the per-action floor on this box
    (tools/floor_probe.py), so toy-scale points cluster there; the
    DATA-PROPORTIONAL term is what separates families at scale, and
    the candidate_frac column is its deterministic witness (asserted
    monotone per family in-plan).  Timing filter+distance+top-k over
    the shared warmed candidate frame (instead of rebuilding each
    point's join plan) cut the op from 18 s to under 10 s in the
    OPS_BENCH sweep without changing the emitted schema — the
    removed per-point cost was driver-side Catalyst/codegen, not
    retrieval work.

    Pareto flag: a point is dominated iff another point has
    recall >= r AND latency <= l with one strict; computed with a
    9x9 broadcast self-join on the bounded frame. The frontier is
    asserted non-empty in-plan."""
    import time

    from pyspark.sql import Window

    q, corpus = _queries_and_corpus(spark, sf_dir)
    n_corpus = corpus.count()
    q_rows = q.collect()  # bounded: the 10-query panel
    ntot = float(n_corpus * len(q_rows))

    def timed_ms(df: DataFrame, warmed: bool = False) -> float:
        if not warmed:
            df.collect()  # warm: plan, codegen, shuffle files
        ts = []
        for _ in range(_PARETO_TIMED_RUNS):
            t0 = time.perf_counter()
            df.collect()
            ts.append(time.perf_counter() - t0)
        return round(sorted(ts)[len(ts) // 2] * 1000.0, 1)

    points: list[tuple[str, int, float, float, float]] = []

    # exact top-3 twin (one definition for every family's recall join;
    # session-cached — the recall sweep warms it)
    exact3 = _exact3_twin(spark, sf_dir)

    # ---- IVF nprobe grid ------------------------------------------------
    max_p = max(_SWEEP_PROBES)
    # the probed candidate LISTS for the query panel, materialized once
    # per session (what a serving node actually scans); every per-point
    # timed plan is filter + top-k over this shared warmed frame
    cands_ivf = _ivf_panel_cands(spark, sf_dir)
    w_s = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), "neighbor_id"
    )

    def ivf_point(p: int) -> DataFrame:
        return (
            cands_ivf.where(F.col("r") <= p)
            .withColumn("rn", F.row_number().over(w_s))
            .where(F.col("rn") <= 3)
            .select("query_id", "neighbor_id", F.round("sim", 6).alias("sim"))
        )

    # recall + candidate volume for ALL probe widths in one
    # level-domain plan (vec_ann_recall_sweep's machinery inlined on
    # the shared candidate frame; its monotonicity / floor asserts
    # live in the final 9-row plan below)
    pdom = spark.createDataFrame([(p,) for p in _SWEEP_PROBES], "lvl int")
    w_iv = Window.partitionBy("lvl", "query_id").orderBy(
        F.col("sim").desc(), "neighbor_id"
    )
    ivf_rec = {
        int(r_["lvl"]): float(r_["recall_at_3"])
        for r_ in (
            cands_ivf.crossJoin(F.broadcast(pdom))
            .where(F.col("r") <= F.col("lvl"))
            .withColumn("rn", F.row_number().over(w_iv))
            .where(F.col("rn") <= 3)
            .join(exact3, ["query_id", "neighbor_id"], "left")
            .groupBy("lvl")
            .agg(
                F.round(
                    F.sum(F.coalesce(F.col("xhit"), F.lit(0)))
                    / F.lit(3.0 * len(q_rows)),
                    4,
                ).alias("recall_at_3")
            )
            .collect()
        )
    }
    rc_i = cands_ivf.groupBy("r").agg(F.count("*").alias("c"))
    w_rc = Window.orderBy("r").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ivf_frac = {
        int(r_["r"]): float(r_["frac"])
        for r_ in rc_i.select(
            "r",
            F.round(F.sum("c").over(w_rc) / F.lit(ntot), 6).alias("frac"),
        ).collect()
    }
    for p in _SWEEP_PROBES:
        points.append(
            (
                "ivf",
                p,
                ivf_rec.get(p, 0.0),
                max(
                    [f for r_, f in ivf_frac.items() if r_ <= p],
                    default=0.0,
                ),
                timed_ms(ivf_point(p)),
            )
        )

    # ---- LSH probed-tables grid ----------------------------------------
    w_d = Window.partitionBy("query_id").orderBy("dist", "neighbor_id")
    # the deduped candidate pairs of the 10-query panel with their
    # first-collide table index (the stored bucket index, probed;
    # session-cached — vec_lsh_ann warms it): level sets are nested, so
    # every per-point timed plan is filter + top-k over this frame
    lsh_cand = _lsh_pairs(spark, sf_dir)

    def lsh_point(t_probe: int) -> DataFrame:
        return (
            lsh_cand.where(F.col("r") <= t_probe)
            .withColumn("rn", F.row_number().over(w_d))
            .where(F.col("rn") <= 3)
            .select("query_id", "neighbor_id", "dist")
        )

    ldom = spark.createDataFrame(
        [(int(t),) for t in _PARETO_LSH_LEVELS], "lvl int"
    )
    w_l = Window.partitionBy("lvl", "query_id").orderBy(
        "dist", "neighbor_id"
    )
    lsh_rec = {
        int(r["lvl"]): float(r["recall_at_3"])
        for r in (
            lsh_cand.crossJoin(F.broadcast(ldom))
            .where(F.col("r") <= F.col("lvl"))
            .withColumn("rn", F.row_number().over(w_l))
            .where(F.col("rn") <= 3)
            .join(exact3, ["query_id", "neighbor_id"], "left")
            .groupBy("lvl")
            .agg(
                # exact-twin denominator (3 exact hits per query ALWAYS
                # exist): a query returning < 3 candidates at a probe
                # level must LOWER recall, not shrink the denominator —
                # hits/count(*) silently inflated degraded points, and
                # a level with zero rows now reports a true 0.0
                F.round(
                    F.sum(F.coalesce(F.col("xhit"), F.lit(0)))
                    / F.lit(3.0 * len(q_rows)),
                    4,
                ).alias("recall_at_3")
            )
            .collect()
        )
    }
    rc = lsh_cand.groupBy("r").agg(F.count("*").alias("c"))
    w_r = Window.orderBy("r").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    lsh_frac = {
        int(r["r"]): float(r["frac"])
        for r in rc.select(
            "r",
            F.round(F.sum("c").over(w_r) / F.lit(ntot), 6).alias("frac"),
        ).collect()
    }
    for t_probe in _PARETO_LSH_LEVELS:
        points.append(
            (
                "lsh",
                t_probe,
                lsh_rec.get(t_probe, 0.0),
                max(
                    [f for r_, f in lsh_frac.items() if r_ <= t_probe],
                    default=0.0,
                ),
                timed_ms(lsh_point(t_probe)),
            )
        )

    # ---- PQ (full ADC scan) and IVFPQ (probe 8) -------------------------
    pq_df = vec_pq_ann(spark, sf_dir)
    # bounded 3x10; raises on recall collapse; doubles as the warm fetch
    pq_rows = pq_df.collect()
    points.append(
        (
            "pq",
            8,
            float(pq_rows[0]["recall_at_k"]),
            1.0,
            timed_ms(pq_df, warmed=True),
        )
    )
    ivfpq_df = vec_ivfpq_ann(spark, sf_dir)
    ivfpq_rows = ivfpq_df.collect()
    ivfpq_frac = round(
        cands_ivf.where(F.col("r") <= _IVF16_NPROBE).count() / ntot, 6
    )
    points.append(
        (
            "ivfpq",
            6,
            float(ivfpq_rows[0]["recall_at_k"]),
            ivfpq_frac,
            timed_ms(ivfpq_df, warmed=True),
        )
    )

    # ---- assemble + in-plan self-checks ---------------------------------
    out = spark.createDataFrame(
        points,
        "family string, param bigint, recall_at_3 double, "
        "candidate_frac double, latency_ms double",
    )
    dominated = (
        out.alias("a")
        .join(
            F.broadcast(out.alias("b")),
            (F.col("b.recall_at_3") >= F.col("a.recall_at_3"))
            & (F.col("b.latency_ms") <= F.col("a.latency_ms"))
            & (
                (F.col("b.recall_at_3") > F.col("a.recall_at_3"))
                | (F.col("b.latency_ms") < F.col("a.latency_ms"))
            ),
            "left_semi",
        )
        .select("family", "param", F.lit(1).alias("dom"))
    )
    w_f = Window.partitionBy("family").orderBy("param")
    w_all = Window.partitionBy()
    return (
        out.join(dominated, ["family", "param"], "left")
        .withColumn("pareto", F.col("dom").isNull().cast("bigint"))
        .drop("dom")
        .withColumn("prev_frac", F.lag("candidate_frac").over(w_f))
        .where(
            F.assert_true(
                F.col("prev_frac").isNull()
                | (F.col("candidate_frac") >= F.col("prev_frac")),
                F.lit(
                    "candidate volume not monotone in the family grid — "
                    "nested-candidate construction broken"
                ),
            ).isNull()
        )
        .drop("prev_frac")
        .withColumn("prev_rec", F.lag("recall_at_3").over(w_f))
        .where(
            # monotone recall is THEOREM-backed only for ivf (its top-3
            # ranks by the same unrounded sim as the exact twin); lsh
            # ranks by round(dist, 6), so a tie-band candidate arriving
            # at a wider probe can legitimately displace a hit — assert
            # only where nested candidates guarantee the property
            F.assert_true(
                (F.col("family") != "ivf")
                | F.col("prev_rec").isNull()
                | (F.col("recall_at_3") >= F.col("prev_rec")),
                F.lit(
                    "IVF recall not monotone in nprobe — bucketing broken"
                ),
            ).isNull()
        )
        .drop("prev_rec")
        .where(
            F.assert_true(
                (F.col("family") != "lsh")
                | (F.col("param") < F.lit(_LSH_TABLES))
                | (F.col("recall_at_3") >= 0.7),
                F.lit("full-table LSH point under vec_lsh_ann's 0.7 floor"),
            ).isNull()
        )
        .where(
            F.assert_true(
                (F.col("family") != "ivf")
                | (F.col("param") < F.lit(max_p))
                | (F.col("recall_at_3") >= 0.55),
                F.lit("widest-probe IVF recall under vec_ivf_ann's 0.55 floor"),
            ).isNull()
        )
        .withColumn("any_pareto", F.max("pareto").over(w_all))
        .where(
            F.assert_true(
                F.col("any_pareto") == 1,
                F.lit("empty pareto frontier — dominance join broken"),
            ).isNull()
        )
        .select(
            "family",
            "param",
            "recall_at_3",
            "candidate_frac",
            "latency_ms",
            "pareto",
        )
    )


# ---------------------------------------------------------------------------
# vec_ann_prefilter_vs_postfilter — the filtered-search design table
# ---------------------------------------------------------------------------

# Three label predicates spanning the selectivity range a production
# payload filter sees (~10% / ~30% / ~70% of the corpus; labels are
# near-uniform over 0-9 at every sf — probed 2026-08-16).
_PFPF_FILTERS: list[tuple[int, tuple[int, ...]]] = [
    (0, (1,)),
    (1, (1, 2, 3)),
    (2, (0, 1, 2, 3, 4, 5, 6)),
]
_PFPF_SHORTLIST = 20  # post-filter over-fetch depth (ANN top-K')
_PFPF_K = 3           # final top-k, matching the ANN family ops


def _pfpf_fid_expr() -> str:
    """filter(array(fids), fid -> label passes fid) — the Spark-side
    explode source; one row per (row, passing filter)."""
    cases = " ".join(
        f"WHEN {fid} THEN label IN ({', '.join(map(str, labs))})"
        for fid, labs in _PFPF_FILTERS[:-1]
    )
    last = ", ".join(map(str, _PFPF_FILTERS[-1][1]))
    fids = ", ".join(str(fid) for fid, _ in _PFPF_FILTERS)
    return (
        f"filter(array({fids}), fid -> CASE fid {cases} "
        f"ELSE label IN ({last}) END)"
    )


def _pfpf_duck_fan(src: str, cols: str) -> str:
    """UNION ALL fan-out of `src` into one branch per filter — the
    DuckDB twin of the Spark-side fid explode."""
    return " UNION ALL ".join(
        f"SELECT CAST({fid} AS BIGINT) AS fid, {cols} FROM {src} "
        f"WHERE label IN ({', '.join(map(str, labs))})"
        for fid, labs in _PFPF_FILTERS
    )


def _pfpf_oracle() -> str:
    planes = _lsh_planes()
    qx = " UNION ALL ".join(
        f"SELECT query_id, qv, {t} AS t, "
        f"{_lsh_bucket_sql('qv', planes[t], duck=True)} AS bk FROM q"
        for t in range(_LSH_TABLES)
    )
    cx = " UNION ALL ".join(
        f"SELECT neighbor_id, {t} AS t, "
        f"{_lsh_bucket_sql('embedding', planes[t], duck=True)} AS bk FROM c"
        for t in range(_LSH_TABLES)
    )
    cos = (
        "list_dot_product(c.embedding::DOUBLE[], q.qv::DOUBLE[]) / "
        "(sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding"
        "::DOUBLE[])) * "
        "sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[])))"
    )
    denom = _PFPF_K * 10
    return f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, embedding, label
          FROM embeddings WHERE vec_id >= 10),
    qx AS ({qx}),
    cx AS ({cx}),
    cand AS (SELECT DISTINCT qx.query_id, cx.neighbor_id
             FROM cx JOIN qx ON cx.t = qx.t AND cx.bk = qx.bk),
    pl AS MATERIALIZED (
      SELECT cand.query_id, cand.neighbor_id, c.label,
             {_lsh_dist_sql('c.embedding', 'q.qv', duck=True)} AS dist
      FROM cand JOIN c ON cand.neighbor_id = c.neighbor_id
                JOIN q ON cand.query_id = q.query_id),
    plf AS MATERIALIZED (
      {_pfpf_duck_fan('pl', 'query_id, neighbor_id, dist')}),
    s20 AS MATERIALIZED (
      SELECT query_id, neighbor_id, label, dist FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY dist, neighbor_id) AS rn
        FROM pl) z
      WHERE rn <= {_PFPF_SHORTLIST}),
    s20f AS (
      {_pfpf_duck_fan('s20', 'query_id, neighbor_id, dist')}),
    pre3 AS MATERIALIZED (
      SELECT fid, query_id, neighbor_id FROM (
        SELECT fid, query_id, neighbor_id,
               row_number() OVER (PARTITION BY fid, query_id
                                  ORDER BY dist, neighbor_id) AS rn
        FROM plf) z
      WHERE rn <= {_PFPF_K}),
    post3 AS MATERIALIZED (
      SELECT fid, query_id, neighbor_id FROM (
        SELECT fid, query_id, neighbor_id,
               row_number() OVER (PARTITION BY fid, query_id
                                  ORDER BY dist, neighbor_id) AS rn
        FROM s20f) z
      WHERE rn <= {_PFPF_K}),
    sims AS MATERIALIZED (
      SELECT q.query_id, c.neighbor_id, c.label,
             round({cos}, 6) AS sim
      FROM c CROSS JOIN q),
    gtf AS (
      {_pfpf_duck_fan('sims', 'query_id, neighbor_id, sim')}),
    gt AS MATERIALIZED (
      SELECT fid, query_id, neighbor_id FROM (
        SELECT fid, query_id, neighbor_id,
               row_number() OVER (PARTITION BY fid, query_id
                                  ORDER BY sim DESC, neighbor_id) AS rn
        FROM gtf) z
      WHERE rn <= {_PFPF_K}),
    cp AS ({_pfpf_duck_fan('c', 'neighbor_id')}),
    cpc AS (SELECT fid, count(*) AS corpus_pass FROM cp GROUP BY fid),
    tot AS (SELECT count(*) AS cand FROM pl),
    pre_cand AS (SELECT fid, count(*) AS cand FROM plf GROUP BY fid),
    pre_ret AS (SELECT fid, count(*) AS returned FROM pre3 GROUP BY fid),
    post_ret AS (SELECT fid, count(*) AS returned FROM post3 GROUP BY fid),
    pre_hit AS (
      SELECT a.fid, count(*) AS hits
      FROM pre3 a JOIN gt USING (fid, query_id, neighbor_id)
      GROUP BY a.fid),
    post_hit AS (
      SELECT a.fid, count(*) AS hits
      FROM post3 a JOIN gt USING (fid, query_id, neighbor_id)
      GROUP BY a.fid)
    SELECT cpc.fid, 'pre_filter' AS strategy, cpc.corpus_pass,
           pc.cand AS cand_pairs, pr.returned,
           coalesce(ph.hits, 0) AS hits,
           round(CAST(coalesce(ph.hits, 0) AS DOUBLE) / {denom}, 6)
             AS recall_at_k
    FROM cpc JOIN pre_cand pc USING (fid)
             JOIN pre_ret pr USING (fid)
             LEFT JOIN pre_hit ph USING (fid)
    UNION ALL
    SELECT cpc.fid, 'post_filter', cpc.corpus_pass,
           tot.cand, sr.returned, coalesce(sh.hits, 0),
           round(CAST(coalesce(sh.hits, 0) AS DOUBLE) / {denom}, 6)
    FROM cpc CROSS JOIN tot
             JOIN post_ret sr USING (fid)
             LEFT JOIN post_hit sh USING (fid)
    ORDER BY fid, strategy
    """


@query("vec_ann_prefilter_vs_postfilter", oracle=_pfpf_oracle())
def vec_ann_prefilter_vs_postfilter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FILTERED-ANN OPERATING TABLE — the production filtered-search
    design question (reference app.py:261-271: Qdrant payload filter +
    HNSW; SURVEY round-13 queue; VERDICT r12 top item): at three
    predicate selectivities (~10/30/70% of the corpus, label
    predicates), compare the two ways to combine a metadata filter
    with an ANN index —

    - PRE-FILTER: restrict the corpus first, then search. Candidates
      are the LSH collisions whose corpus row passes the predicate
      (bucket keys are per-row, so filtering commutes with banding:
      collisions-on-filtered-corpus == filtered collisions, the same
      identity the dedup cascade audit rides). Recall is limited only
      by the index (no over-fetch needed), but the serving index must
      support the predicate.
    - POST-FILTER: search the full index, over-fetch a top-20
      shortlist, filter the shortlist, keep top-3 survivors. The
      index stays predicate-agnostic, but selective filters starve
      the shortlist (a 10% filter leaves ~2 of 20) and recall decays
      — exactly the operating tradeoff this table quantifies.

    Both arms rank by the same round(6) euclidean distance over
    vec_lsh_ann's deterministic literal-plane buckets (_lsh_pairs,
    the session-cached stored-index artifact), and recall is measured
    against the EXACT per-filter cosine top-3 (denominator k*n_queries
    = 30, the round-10 rule — never count(*) of possibly-short
    results). One output row per (filter, strategy): corpus_pass,
    candidate-pair volume, rows returned, hits, recall_at_k.

    Parity: distances and sims round(6) with identical fold shapes;
    counts exact BIGINT; recall = round(CAST(hits AS DOUBLE)/30, 6)
    on both engines. Full oracle — every stage (buckets, collisions,
    shortlists, ground truth) is deterministic SQL.

    Shape at 100 TB: the candidate generation is the LSH equi-join
    (never all-pairs); the filter fan-out is an explode over a 3-slot
    literal array (no extra scan); all windows are partitioned by
    (fid, query_id); the exact ground-truth cross join is the
    AUDIT-ONLY twin (a production table drops it and keeps the two
    arms). Bounded intermediates (90-row ground truth) are
    localCheckpointed once per the bounded-intermediate rule."""
    q, corpus = _queries_and_corpus(spark, sf_dir)
    d = 64
    pairs = _lsh_pairs(spark, sf_dir).select(
        "query_id", "neighbor_id", "dist"
    )
    labels = corpus.select(
        F.col("vec_id").alias("neighbor_id"), "label"
    )
    pl = pairs.join(labels, "neighbor_id")

    fid_col = F.explode(F.expr(_pfpf_fid_expr())).alias("fid")
    plf = pl.select("query_id", "neighbor_id", "dist", fid_col)

    w_pre = Window.partitionBy("fid", "query_id").orderBy(
        "dist", "neighbor_id"
    )
    pre3 = (
        plf.withColumn("rn", F.row_number().over(w_pre))
        .where(F.col("rn") <= _PFPF_K)
        .select("fid", "query_id", "neighbor_id")
    )

    w_s = Window.partitionBy("query_id").orderBy("dist", "neighbor_id")
    s20 = (
        pl.withColumn("rn", F.row_number().over(w_s))
        .where(F.col("rn") <= _PFPF_SHORTLIST)
        .select("query_id", "neighbor_id", "label", "dist")
    )
    s20f = s20.select("query_id", "neighbor_id", "dist", fid_col)
    post3 = (
        s20f.withColumn("rn", F.row_number().over(w_pre))
        .where(F.col("rn") <= _PFPF_K)
        .select("fid", "query_id", "neighbor_id")
    )

    sims = corpus.select("vec_id", "embedding", "label").crossJoin(
        F.broadcast(q)
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        "label",
        F.round(cosine_fixed("embedding", "qv", d), 6).alias("sim"),
    )
    gtf = sims.select("query_id", "neighbor_id", "sim", fid_col)
    w_gt = Window.partitionBy("fid", "query_id").orderBy(
        F.col("sim").desc(), "neighbor_id"
    )
    gt = (
        gtf.withColumn("rn", F.row_number().over(w_gt))
        .where(F.col("rn") <= _PFPF_K)
        .select("fid", "query_id", "neighbor_id")
        .localCheckpoint()  # 90-row ground truth, referenced by both
        # arms' hit joins — the bounded-intermediate ckpt rule
    )

    denom = _PFPF_K * 10
    cpc = labels.select(fid_col).groupBy("fid").agg(
        F.count("*").cast("bigint").alias("corpus_pass")
    )
    tot = pl.agg(F.count("*").cast("bigint").alias("cand"))
    pre_cand = plf.groupBy("fid").agg(
        F.count("*").cast("bigint").alias("cand")
    )
    pre_ret = pre3.groupBy("fid").agg(
        F.count("*").cast("bigint").alias("returned")
    )
    post_ret = post3.groupBy("fid").agg(
        F.count("*").cast("bigint").alias("returned")
    )
    pre_hit = (
        pre3.join(gt, ["fid", "query_id", "neighbor_id"])
        .groupBy("fid")
        .agg(F.count("*").cast("bigint").alias("hits"))
    )
    post_hit = (
        post3.join(gt, ["fid", "query_id", "neighbor_id"])
        .groupBy("fid")
        .agg(F.count("*").cast("bigint").alias("hits"))
    )

    def arm(strategy, cand_df, ret_df, hit_df):
        base = (
            cpc.join(F.broadcast(cand_df), "fid")
            if "fid" in cand_df.columns
            else cpc.crossJoin(F.broadcast(cand_df))
        )
        return (
            base.join(F.broadcast(ret_df), "fid")
            .join(F.broadcast(hit_df), "fid", "left")
            .selectExpr(
                "CAST(fid AS BIGINT) AS fid",
                f"'{strategy}' AS strategy",
                "corpus_pass",
                "cand AS cand_pairs",
                "returned",
                "CAST(coalesce(hits, 0) AS BIGINT) AS hits",
                f"round(CAST(coalesce(hits, 0) AS DOUBLE) / {denom}, 6)"
                " AS recall_at_k",
            )
        )

    return (
        arm("pre_filter", pre_cand, pre_ret, pre_hit)
        .unionByName(arm("post_filter", tot, post_ret, post_hit))
        .orderBy("fid", "strategy")
    )


# ---------------------------------------------------------------------------
# vec_ivf_list_balance_audit — round-14 pull-forward
# ---------------------------------------------------------------------------


def _balance_oracle() -> str:
    parts = _ivf16_oracle_ctes()
    parts += [
        f"""sizes AS (SELECT cl, CAST(count(*) AS BIGINT) AS n_vectors
               FROM asg{_IVF16_T} GROUP BY cl)""",
        """ranked AS (SELECT cl, n_vectors, row_number() OVER (
               ORDER BY n_vectors, cl) AS i FROM sizes)""",
        """g AS (SELECT
               CAST(sum(CAST(i AS BIGINT) * n_vectors) AS BIGINT) AS iws,
               CAST(sum(n_vectors) AS BIGINT) AS s,
               CAST(count(*) AS BIGINT) AS k,
               CAST(max(n_vectors) AS BIGINT) AS mx
               FROM ranked)""",
    ]
    return (
        ",\n    ".join(parts)
        + """
    SELECT CAST(sizes.cl AS BIGINT) AS list_id, sizes.n_vectors,
           round(CAST(sizes.n_vectors AS DOUBLE) / g.s, 6) AS share,
           round(CAST(2 * g.iws AS DOUBLE) / (g.k * g.s)
                 - CAST(g.k + 1 AS DOUBLE) / g.k, 6) AS gini,
           round(CAST(g.mx * g.k AS DOUBLE) / g.s, 6) AS max_to_mean
    FROM sizes CROSS JOIN g
    ORDER BY list_id
    """
    )


@query("vec_ivf_list_balance_audit", oracle=_balance_oracle())
def vec_ivf_list_balance_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IVF COARSE-QUANTIZER HEALTH TABLE (SURVEY round-14 queue, and
    since round 14 FULLY HASH-VERIFIED on the SQL-exact _ivf16
    quantizer vec_ivf_ann serves from): the list-size distribution of
    the k=16 assignment — the serving-hotspot question.  An
    imbalanced quantizer makes nprobe latency bimodal (a probe
    landing on a mega-list scans many times the mean) and recall
    uneven (small lists starve); production systems re-train or split
    lists when the imbalance factor drifts.  One row per non-empty
    list: size, share of the corpus, the max-to-mean imbalance
    factor, and the Gini coefficient of list sizes (0 = perfectly
    balanced) — the two standard quantizer-health scalars, repeated
    per row the way vec_lsh_ann carries recall_at_k.

    The conservation invariant (list sizes sum to the corpus count)
    is asserted IN-PLAN; the oracle replays quantizer + counts +
    the sorted-cumulative Gini identity exactly (integer iws/s/k/mx,
    two round(6) divisions shared textually).

    Shape at 100 TB: one codegen'd assignment pass over the corpus,
    a 16-group count, and bounded 16-row windows for the Gini
    cumulative — the audit a serving fleet runs nightly against its
    stored index."""
    q, corpus = _queries_and_corpus(spark, sf_dir)
    asg, _probes = _ivf16_assignments(spark, sf_dir)
    sizes = asg.groupBy("cl").agg(
        F.count("*").cast("bigint").alias("n_vectors")
    )
    tot = corpus.agg(F.count("*").cast("bigint").alias("n_corpus"))
    # bounded 16-row frame: Gini via the sorted-cumulative identity
    w_rank = Window.orderBy("n_vectors", "cl")
    ranked = sizes.withColumn("i", F.row_number().over(w_rank))
    g = ranked.agg(
        F.expr(
            "CAST(sum(CAST(i AS BIGINT) * n_vectors) AS BIGINT)"
        ).alias("iws"),
        F.sum("n_vectors").cast("bigint").alias("s"),
        F.count("*").cast("bigint").alias("k"),
        F.max("n_vectors").cast("bigint").alias("mx"),
    ).selectExpr(
        "round(CAST(2 * iws AS DOUBLE) / (k * s)"
        " - CAST(k + 1 AS DOUBLE) / k, 6) AS gini",
        "round(CAST(mx * k AS DOUBLE) / s, 6) AS max_to_mean",
        "s AS assigned_total",
        "k AS n_lists",
    )
    return (
        sizes.crossJoin(F.broadcast(g))
        .crossJoin(F.broadcast(tot))
        .where(
            F.assert_true(
                F.col("assigned_total") == F.col("n_corpus"),
                F.format_string(
                    "IVF assignment lost rows: %s assigned vs %s corpus",
                    F.col("assigned_total"),
                    F.col("n_corpus"),
                ),
            ).isNull()
        )
        .where(
            F.assert_true(
                F.col("n_lists") <= F.lit(_IVF16_K),
                F.lit("more lists than centroids"),
            ).isNull()
        )
        .selectExpr(
            "CAST(cl AS BIGINT) AS list_id",
            "n_vectors",
            "round(CAST(n_vectors AS DOUBLE) / n_corpus, 6) AS share",
            "gini",
            "max_to_mean",
        )
    )
