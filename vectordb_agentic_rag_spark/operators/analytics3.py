"""Round-7 operators: robust trend estimation, semantic dedup purge,
tokenizer fertility (SURVEY.md §8 round-7 queue).

Each op composes primitives that already exist standalone —
win_theil_sen_slope extends the sequential/windowed family
(win_rolling_slope's robust sibling), dedup_semantic_cluster_purge
composes vec_kmeans_lloyd's cells with the dedup keep-first rule, and
pipeline_tokenizer_fertility re-tokenizes the corpus with
pipeline_bpe_merges' trained vocab. The reference analogue is R5's
embed+upsert loop (app.py:150-210): what it outsources to Cohere's
tokenizer and Qdrant's dedup-on-upsert, these ops do as engine
operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.domain import dist_exclusive_prefix
from ..registry import query
from ..tables import table
from .analytics import _KM_D, _km_asg_ctes, _km_assignments
from .analytics2 import (
    _COSUPPLY_MIN_SUPPORT,
    _TRI_PN_CTES,
    _cosupply_edges,
    _tri_per_node,
)
from .text import _bpe_duck_ctes, _bpe_train

# ---------------------------------------------------------------------------
# win_theil_sen_slope
# ---------------------------------------------------------------------------

_TS_FRAME = 20  # events per user entering the pairwise-slope frame


@query(
    "win_theil_sen_slope",
    oracle=f"""
    WITH s AS (
      SELECT user_id, epoch_us(ts) AS us, round(value, 6) AS x,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events),
    f AS (SELECT * FROM s WHERE rn <= {_TS_FRAME}),
    p AS (
      SELECT a.user_id,
             (b.x - a.x) * 3600000000.0 / CAST(b.us - a.us AS DOUBLE) AS sl
      FROM f a JOIN f b
        ON a.user_id = b.user_id AND a.rn < b.rn AND b.us > a.us),
    r AS (
      SELECT user_id, sl,
             row_number() OVER (PARTITION BY user_id ORDER BY sl) AS k,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM p)
    SELECT user_id, CAST(max(n) AS BIGINT) AS n_pairs,
           round((max(CASE WHEN k = (n + 1) // 2 THEN sl END)
                  + max(CASE WHEN k = (n + 2) // 2 THEN sl END)) / 2.0, 6)
             AS sen_slope
    FROM r GROUP BY user_id
    """,
)
def win_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL-SEN robust trend per user: the median of all pairwise
    slopes (value/hour) over each user's first 20 events — the
    standard outlier-resistant alternative to least-squares
    (win_rolling_slope); a 29% contamination breakdown point makes it
    the monitoring-grade trend estimator.

    Scale shape: the frame is a PARTITIONED row_number gate (<= 20
    rows/user ride the pairwise stage), so the O(frame^2) = 190 slope
    pairs per user are generated JVM-side by a nested HOF over one
    collected-and-sorted per-user array — bounded work per key, one
    exchange on user_id shared by the window and the aggregate, never
    an all-events self-join. The median comes from sort_array +
    explicit middle picks (the win_rolling_median recipe — Spark has
    no frame-capable median).

    Parity: inputs round(6)-quantized; each slope is the identical
    left-assoc expression (dx * 3600000000.0 / dt) on both engines;
    same-timestamp pairs (dt = 0) are excluded on both sides; equal
    slope doubles make rank ties value-identical, so the (lo+hi)/2
    middle picks agree bit-wise before the final round(6)."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = (
        ev.select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("us"),
            F.round("value", 6).alias("x"),
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") <= _TS_FRAME)
    )
    g = s.groupBy("user_id").agg(
        F.sort_array(F.collect_list(F.struct("us", "event_id", "x"))).alias("ss")
    )
    slopes = (
        "array_sort(filter(flatten(transform(sequence(1, size(ss) - 1), i -> "
        "transform(sequence(i + 1, size(ss)), j -> "
        "IF(element_at(ss, j).us > element_at(ss, i).us, "
        "(element_at(ss, j).x - element_at(ss, i).x) * 3600000000.0D "
        "/ CAST(element_at(ss, j).us - element_at(ss, i).us AS DOUBLE), "
        "CAST(NULL AS DOUBLE))))), v -> v IS NOT NULL))"
    )
    return (
        g.select("user_id", F.expr(slopes).alias("sl"))
        .where(F.size("sl") >= 1)
        .select(
            "user_id",
            F.size("sl").cast("bigint").alias("n_pairs"),
            F.round(
                (
                    F.expr("element_at(sl, CAST((size(sl) + 1) div 2 AS INT))")
                    + F.expr("element_at(sl, CAST((size(sl) + 2) div 2 AS INT))")
                )
                / 2.0,
                6,
            ).alias("sen_slope"),
        )
    )


# ---------------------------------------------------------------------------
# dedup_semantic_cluster_purge
# ---------------------------------------------------------------------------

_PURGE_TAU = 0.8  # cosine threshold on the 8-dim matryoshka prefix



_PURGE_CELL_TARGET = 512  # target cell population for the coarse quantizer


def _purge_k(sf_dir: str) -> int:
    """k for the purge's coarse quantizer, deterministic from parquet
    metadata (driver-side ms): k = max(4, n_vectors // 512), so cell
    population — and with it the in-cell pairwise work — stays bounded
    as the corpus grows. At the driver-verified fixtures (<= 2000
    vectors) this is exactly 4, matching the SQL-unrolled Lloyd oracle;
    the scaled path kicks in on larger corpora (SCALE.md's sf1x blow-up
    measured ratio 1.42 super-linear at fixed k=4 — this is the fix)."""
    import pyarrow.dataset as ds

    # dataset() handles both the single-file driver fixtures and
    # Spark-written directory tables (the sf1x blow-up); count_rows
    # reads footer metadata only
    n = ds.dataset(f"{sf_dir}/embeddings.parquet", format="parquet").count_rows()
    return max(4, n // _PURGE_CELL_TARGET)


def _purge_assignments(spark: SparkSession, sf_dir: str):
    """(vec_id, e1..e8, cl) cell assignments for the semantic purge.
    k == 4: the shared SQL-expressible Lloyd chain (oracle parity).
    k > 4: numpy Lloyd (seed 42, 8 iters) on the bounded 4096-vector
    deterministic sample's 8-dim prefix (the vec_ivf_ann training
    recipe), centroids inlined as plan literals, assignment = aliased
    per-centroid squared distances + an array_min(struct(d, j)) argmin
    — all JVM-side, one scan, no Python in the corpus path."""
    if _purge_k(sf_dir) == 4:
        asg, _ = _km_assignments(spark, sf_dir)
        return asg
    import numpy as np

    from .ml import _corpus_sample, _lloyd_multispace

    k = _purge_k(sf_dir)
    emb = table(spark, sf_dir, "embeddings")
    dims = range(1, _KM_D + 1)
    sample = _corpus_sample(spark, sf_dir)[:, : _KM_D]
    cents = _lloyd_multispace(sample[:, None, :], K=k, iters=8, seed=42)[0]
    pts = emb.select(
        "vec_id",
        *[
            F.expr(f"CAST(element_at(embedding, {i}) AS DOUBLE)").alias(f"e{i}")
            for i in dims
        ],
    )
    d_cols = [
        F.expr(
            " + ".join(
                f"(e{i} - {float(cents[j][i - 1])!r}) * "
                f"(e{i} - {float(cents[j][i - 1])!r})"
                for i in dims
            )
        ).alias(f"d{j}")
        for j in range(len(cents))
    ]
    argmin = (
        "array_min(array("
        + ", ".join(
            f"named_struct('d', d{j}, 'j', {j})" for j in range(len(cents))
        )
        + ")).j"
    )
    return pts.select("*", *d_cols).select(
        "vec_id", *[f"e{i}" for i in dims], F.expr(argmin).alias("cl")
    )


def _purge_oracle() -> str:
    dims = range(1, _KM_D + 1)
    n8 = " + ".join(f"e{i} * e{i}" for i in dims)
    dot = " + ".join(f"a.e{i} * b.e{i}" for i in dims)
    parts = _km_asg_ctes()
    parts.append(
        f"pts8 AS (SELECT vec_id, cl, "
        + ", ".join(f"e{i}" for i in dims)
        + f", {n8} AS n8 FROM asg3)"
    )
    parts.append(
        f"""pr AS (
      SELECT a.cl AS cluster_id, b.vec_id AS vec_id, a.vec_id AS a_id,
             round(({dot}) / (sqrt(a.n8) * sqrt(b.n8)), 6) AS cos
      FROM pts8 a JOIN pts8 b
        ON a.cl = b.cl AND a.vec_id < b.vec_id)"""
    )
    return (
        ",\n    ".join(parts)
        + f"""
    SELECT cluster_id, vec_id, CAST(min(a_id) AS BIGINT) AS dup_of,
           arg_min(cos, a_id) AS cos_dup
    FROM pr WHERE cos >= {_PURGE_TAU} GROUP BY cluster_id, vec_id
    """
    )


@query("dedup_semantic_cluster_purge", oracle=_purge_oracle())
def dedup_semantic_cluster_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC near-duplicate purge, cluster-scoped: assign every
    embedding to its vec_kmeans_lloyd cell (k=4, 3 Lloyd iterations,
    8-dim matryoshka prefix — the SAME cells that op reports, CTE-
    shared oracle), then within each cell mark every vector that has a
    lower-id neighbor at cosine >= 0.8 as a duplicate of its LOWEST
    such neighbor (keep-first, the dedup_near_minhash rule). This is
    the semantic-dedup stage of a pretraining pipeline (SemDeDup,
    Abbas et al. 2023): k-means cells scope the pairwise check, so the
    corpus-wide O(n^2) becomes sum over cells of |cell|^2 — at 100 TB,
    k scales with corpus size to hold |cell| at the ~10k vectors where
    exact in-cell cosine is cheap, and cross-cell near-dups are
    accepted misses BY CONSTRUCTION (the SemDeDup tradeoff; the
    recall-bounded alternative is dedup_near_embedding's LSH). k DOES
    scale here: _purge_k = max(4, n//512) from parquet metadata — at
    the driver-verified fixtures that is exactly the oracle's k=4
    Lloyd chain; beyond it the coarse quantizer switches to the
    vec_ivf_ann training recipe (bounded numpy sample, literal
    centroids, JVM argmin) so in-cell pair work stays ~n*512 instead
    of n^2/k (SCALE.md measured 1.42x super-linear at fixed k — the
    scaled path is the fix).

    Scale shape: the Lloyd assignment is linear scan + broadcast
    centroids (vec_kmeans_lloyd's plan); the in-cell self-join is an
    equi-join on cl; per-row norms are computed BEFORE the join so the
    post-join expression stays inside one codegen method (the Janino
    lesson of vec_radius_search); the keep-first reduction is one
    map-side-combinable min/min_by aggregate, never a window.

    Parity: e-dims and cells come from the shared kmeans CTE chain;
    the cosine is the identical left-assoc dot / (sqrt*sqrt) text,
    round(6)-quantized before the threshold compare on BOTH engines,
    so the >= 0.8 gate sees identical doubles."""
    dims = range(1, _KM_D + 1)
    asg = _purge_assignments(spark, sf_dir)
    n8 = " + ".join(f"e{i} * e{i}" for i in dims)
    pts = asg.select(
        "vec_id", "cl", *[f"e{i}" for i in dims], F.expr(n8).alias("n8")
    )
    a = pts.select(
        F.col("cl"),
        F.col("vec_id").alias("a_id"),
        *[F.col(f"e{i}").alias(f"a{i}") for i in dims],
        F.col("n8").alias("na"),
    )
    b = pts.select(
        F.col("cl"),
        F.col("vec_id").alias("b_id"),
        *[F.col(f"e{i}").alias(f"b{i}") for i in dims],
        F.col("n8").alias("nb"),
    )
    dot = " + ".join(f"a{i} * b{i}" for i in dims)
    cos = F.expr(f"round(({dot}) / (sqrt(na) * sqrt(nb)), 6)")
    pr = (
        a.join(b, "cl")
        .where(F.col("a_id") < F.col("b_id"))
        .select(
            F.col("cl").alias("cluster_id"),
            F.col("b_id").alias("vec_id"),
            "a_id",
            cos.alias("cos"),
        )
        .where(F.col("cos") >= _PURGE_TAU)
    )
    return pr.groupBy("cluster_id", "vec_id").agg(
        F.min("a_id").cast("bigint").alias("dup_of"),
        F.min_by("cos", "a_id").alias("cos_dup"),
    )


# ---------------------------------------------------------------------------
# pipeline_tokenizer_fertility
# ---------------------------------------------------------------------------


def _fertility_oracle() -> str:
    return (
        _bpe_duck_ctes(5)
        + """,
    wl AS (
      SELECT lang, t AS w, count(*) AS cnt
      FROM (SELECT lang, unnest(string_split(text, ' ')) AS t
            FROM documents) z
      GROUP BY 1, 2)
    SELECT lang, CAST(sum(wl.cnt) AS BIGINT) AS n_words,
           CAST(sum(wl.cnt * len(w5.syms)) AS BIGINT) AS total_bpe_tokens,
           round(CAST(sum(wl.cnt * len(w5.syms)) AS DOUBLE)
                 / sum(wl.cnt), 6) AS fertility
    FROM wl JOIN w5 ON wl.w = w5.w
    GROUP BY lang
    """
    )


@query("pipeline_tokenizer_fertility", oracle=_fertility_oracle())
def pipeline_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER FERTILITY by language — tokens-per-word under the
    5-merge BPE vocab pipeline_bpe_merges trains (shared training loop
    + CTE chain, so both ops pin the SAME merge sequence): fertility =
    sum(word_count * symbols_after_merges) / sum(word_count) per lang.
    Fertility is THE tokenizer-quality metric a multilingual
    pretraining mix is balanced on (Rust et al. 2021) — a language
    whose words fragment into many tokens pays more compute per word
    and needs its mixture weight adjusted (text_domain_mix_sample
    consumes exactly this signal).

    Scale shape: training is vocabulary-bounded after one corpus pass
    (pipeline_bpe_merges' argument); the re-tokenization here never
    touches document text again — the per-(lang, word) count table
    joins the folded word->n_symbols table on the word key, a plain
    shuffle equi-join on vocabulary-sized inputs (NOT broadcast: the
    vocab grows with corpus size, the text_ccnet_ppl_bucket lesson).
    All-integer arithmetic until the single final division."""
    _, words = _bpe_train(spark, sf_dir, 5)
    wt = words.select(F.col("t").alias("w"), F.size("syms").alias("n_sym"))
    d = table(spark, sf_dir, "documents")
    wl = (
        d.select("lang", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count("*").alias("cnt"))
    )
    tok = F.sum(F.col("cnt") * F.col("n_sym"))
    return (
        wl.join(wt, "w")
        .groupBy("lang")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_words"),
            tok.cast("bigint").alias("total_bpe_tokens"),
            F.round(tok.cast("double") / F.sum("cnt"), 6).alias("fertility"),
        )
    )


# ---------------------------------------------------------------------------
# win_drawdown
# ---------------------------------------------------------------------------


@query(
    "win_drawdown",
    oracle="""
    WITH s AS (
      SELECT user_id, event_id, ts,
             CASE WHEN event_type IN ('purchase', 'signup')
                  THEN CAST(round(value, 6) AS DECIMAL(28,6))
                  ELSE -CAST(round(value, 6) AS DECIMAL(28,6)) END AS x
      FROM events),
    c AS (
      SELECT user_id, ts, event_id,
             sum(x) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
      FROM s),
    p AS (
      SELECT user_id, cum,
             max(cum) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS peak
      FROM c)
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           round(CAST(max(peak) AS DOUBLE), 6) AS peak_value,
           round(CAST(max(peak - cum) AS DOUBLE), 6) AS max_drawdown
    FROM p GROUP BY user_id
    """,
)
def win_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAXIMUM DRAWDOWN per user over the signed event-value series
    (purchases/signups credit, other events debit): running cumulative
    -> running peak -> max(peak - cum) — the risk statistic every
    balance/quota/exposure monitor tracks (and the workload shape of
    any 'running high-water mark' query).

    Scale shape: both windows are PARTITIONED by user_id and ride ONE
    hash exchange (same-key windows chain without re-shuffling); the
    final per-user reduction shares it too. The cumulative accumulates
    round(6)-quantized values as DECIMAL(28,6) — exact, order-fixed by
    (ts, event_id) — so peak and drawdown are exact decimals on both
    engines and the double cast at the end is lossless (< 2^53
    quanta). No global window anywhere."""
    ev = table(spark, sf_dir, "events")
    x = F.when(
        F.col("event_type").isin("purchase", "signup"),
        F.round("value", 6).cast("decimal(28,6)"),
    ).otherwise(-F.round("value", 6).cast("decimal(28,6)"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = ev.select("user_id", "ts", "event_id", x.alias("x")).select(
        "user_id", "ts", "event_id", F.sum("x").over(w).alias("cum")
    )
    p = c.select("user_id", "cum", F.max("cum").over(w).alias("peak"))
    return p.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.round(F.max("peak").cast("double"), 6).alias("peak_value"),
        F.round(F.max(F.col("peak") - F.col("cum")).cast("double"), 6).alias(
            "max_drawdown"
        ),
    )


# ---------------------------------------------------------------------------
# win_bollinger_bands
# ---------------------------------------------------------------------------

_BOLL_N = 20  # rolling frame length
_BOLL_K = "2.0"  # band width in stddevs, binary-exact


@query(
    "win_bollinger_bands",
    oracle=f"""
    WITH s AS (
      SELECT user_id, event_id, ts, round(value, 6) AS x,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events),
    m AS (
      SELECT user_id, event_id, rn,
             sum(CAST(x AS DECIMAL(28,6))) OVER w AS s1,
             sum(CAST(x AS DECIMAL(16,6)) * CAST(x AS DECIMAL(16,6)))
               OVER w AS s2,
             count(*) OVER w AS cnt
      FROM s
      WINDOW w AS (PARTITION BY user_id ORDER BY rn
                   ROWS BETWEEN {_BOLL_N - 1} PRECEDING AND CURRENT ROW))
    SELECT user_id, event_id,
           round(CAST(s1 AS DOUBLE) / cnt, 6) AS mid,
           round(CAST(s1 AS DOUBLE) / cnt
                 + {_BOLL_K} * sqrt(greatest(0.0,
                     CAST(s2 AS DOUBLE) / cnt
                     - (CAST(s1 AS DOUBLE) / cnt)
                       * (CAST(s1 AS DOUBLE) / cnt))), 6) AS upper_band,
           round(CAST(s1 AS DOUBLE) / cnt
                 - {_BOLL_K} * sqrt(greatest(0.0,
                     CAST(s2 AS DOUBLE) / cnt
                     - (CAST(s1 AS DOUBLE) / cnt)
                       * (CAST(s1 AS DOUBLE) / cnt))), 6) AS lower_band
    FROM m WHERE rn >= {_BOLL_N}
    """,
)
def win_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOLLINGER BANDS per user: 20-event rolling mean +/- 2 rolling
    stddevs — the adaptive-envelope outlier gate (win_zscore_outlier's
    windowed sibling: the envelope tracks local drift instead of using
    global moments). Only rows with a full 20-event frame emit.

    Scale shape: one PARTITIONED window exchange carries the rank, the
    two moment sums, and the count; moments accumulate as exact
    DECIMALs over round(6)-quantized inputs (order-independent — the
    frame sum's internal order differs between engines, so float
    accumulation would drift), and the variance is assembled from the
    exact sums in ONE identically-shaped double expression per column.
    greatest(0, .) guards the sub-ulp negative variance a constant
    frame produces.

    Parity: both engines divide the same exact decimal sums in the
    same textual shape; round(6) lands once per output column."""
    ev = table(spark, sf_dir, "events")
    wr = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "user_id",
        "event_id",
        F.round("value", 6).alias("x"),
        F.row_number().over(wr).alias("rn"),
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("rn")
        .rowsBetween(-(_BOLL_N - 1), Window.currentRow)
    )
    m = s.select(
        "user_id",
        "event_id",
        "rn",
        F.sum(F.col("x").cast("decimal(28,6)")).over(wf).alias("s1"),
        # decimal(16,6) squares to decimal(33,12) WITHOUT Spark's
        # precision-overflow scale truncation (38,12 squared adjusts to
        # scale 6, which silently rounds x^2 if the fixture ever grows
        # past 2 value decimals); 12 exact decimals hold any round(6) x
        F.sum(
            F.col("x").cast("decimal(16,6)") * F.col("x").cast("decimal(16,6)")
        )
        .over(wf)
        .alias("s2"),
        F.count("*").over(wf).alias("cnt"),
    ).where(F.col("rn") >= _BOLL_N)
    mean = F.col("s1").cast("double") / F.col("cnt")
    var = F.greatest(
        F.lit(0.0),
        F.col("s2").cast("double") / F.col("cnt") - mean * mean,
    )
    band = F.expr(_BOLL_K) * F.sqrt(var)
    return m.select(
        "user_id",
        "event_id",
        F.round(mean, 6).alias("mid"),
        F.round(mean + band, 6).alias("upper_band"),
        F.round(mean - band, 6).alias("lower_band"),
    )


# ---------------------------------------------------------------------------
# win_kalman_1d
# ---------------------------------------------------------------------------

_KAL_Q = 0.25  # process noise, binary-exact
_KAL_R = 1.0  # measurement noise, binary-exact


@query(
    "win_kalman_1d",
    # Recursive-CTE oracle: the Kalman state is a STRUCT (est, p) and
    # DuckDB list_reduce mis-folds struct accumulators (round-6 note;
    # win_holt_linear pins the same workaround).
    oracle=f"""
    WITH RECURSIVE seq AS (
      SELECT user_id, round(value, 6) AS x,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events),
    nn AS (SELECT user_id, max(rn) AS n FROM seq GROUP BY user_id),
    k AS (
      SELECT user_id, 1 AS i, x AS est, CAST(1.0 AS DOUBLE) AS p
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT k.user_id, k.i + 1,
             k.est + ((k.p + {_KAL_Q}) / (k.p + {_KAL_Q} + {_KAL_R}))
                     * (s.x - k.est),
             (1.0 - (k.p + {_KAL_Q}) / (k.p + {_KAL_Q} + {_KAL_R}))
             * (k.p + {_KAL_Q})
      FROM k JOIN seq s ON s.user_id = k.user_id AND s.rn = k.i + 1)
    SELECT k.user_id, CAST(nn.n AS BIGINT) AS n_events,
           round(k.est, 6) AS kalman_est,
           round(k.p, 6) AS kalman_var
    FROM k JOIN nn ON k.user_id = nn.user_id AND k.i = nn.n
    """,
)
def win_kalman_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D KALMAN FILTER per user (random-walk state, Q=0.25, R=1.0):
    the adaptive-gain smoother — unlike the fixed-gain EWMA
    (win_ewma_smooth), the gain K_t = P'/(P'+R) starts high (trust the
    first observations) and converges to the steady-state ratio, which
    is exactly the filter a metrics pipeline wants after restarts or
    key churn. Reports each user's final state estimate and posterior
    variance.

    Same per-key-bounded sequential-fold shape as win_holt_linear: the
    series is collected per user and folded JVM-side as an (est, p)
    STRUCT accumulator — the per-step division makes the recurrence
    non-linear, so there is no closed form and no window-function
    equivalent; the fold IS the operator. Both noise constants are
    binary-exact; the gain expression appears textually identical in
    the est and p updates on both engines, so the folds agree bit-wise
    and round(6) lands once at the end."""
    ev = table(spark, sf_dir, "events")
    v = (
        ev.select(
            "user_id",
            F.struct(
                F.unix_micros("ts").alias("us"),
                "event_id",
                F.round("value", 6).alias("x"),
            ).alias("s"),
        )
        .groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.expr(
                "transform(sort_array(collect_list(s)), r -> r.x)"
            ).alias("vals"),
        )
    )
    fold = F.expr(
        "aggregate(slice(vals, 2, size(vals) - 1), "
        "named_struct('est', element_at(vals, 1), "
        "'p', CAST(1.0 AS DOUBLE)), "
        f"(s, x) -> named_struct("
        f"'est', s.est + ((s.p + {_KAL_Q}D) / (s.p + {_KAL_Q}D + {_KAL_R}D))"
        f" * (x - s.est), "
        f"'p', (1.0D - (s.p + {_KAL_Q}D) / (s.p + {_KAL_Q}D + {_KAL_R}D))"
        f" * (s.p + {_KAL_Q}D)))"
    )
    return v.select("user_id", "n_events", fold.alias("st")).select(
        "user_id",
        "n_events",
        F.round(F.col("st.est"), 6).alias("kalman_est"),
        F.round(F.col("st.p"), 6).alias("kalman_var"),
    )


# ---------------------------------------------------------------------------
# graph_clustering_coefficient
# ---------------------------------------------------------------------------


@query(
    "graph_clustering_coefficient",
    oracle=_TRI_PN_CTES
    + """,
    deg AS (
      SELECT n AS node, count(*) AS degree FROM (
        SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e) z
      GROUP BY n HAVING count(*) >= 2)
    SELECT s.s_suppkey,
           CAST(deg.degree AS BIGINT) AS degree,
           CAST(coalesce(pn.tri_count, 0) AS BIGINT) AS tri_count,
           round(2 * coalesce(pn.tri_count, 0)
                 / (deg.degree * (deg.degree - 1) * 1.0), 6)
             AS clustering_coef
    FROM deg
    LEFT JOIN pn ON deg.node = pn.node
    JOIN supplier s ON deg.node = s.s_suppkey
    ORDER BY clustering_coef DESC, s.s_suppkey
    LIMIT 20
    """,
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCAL CLUSTERING COEFFICIENT per supplier on the support-3
    co-supply graph: cc(n) = 2*tri(n) / (deg(n)*(deg(n)-1)) — how close
    a node's neighborhood is to a clique (Watts-Strogatz), THE
    community-embeddedness score next to raw triangle counts. Top-20
    most-clustered suppliers with degree >= 2.

    Composes the shared primitives: per-node triangle counts reuse the
    degree-oriented wedge listing (_tri_per_node — one implementation,
    one oracle CTE chain with graph_triangle_cosupply), degrees are one
    hash aggregate over the checkpointed edge list, and nodes without
    triangles keep a row (LEFT join, cc = 0) — dropping them is the
    classic averaging bug. Top-20 is TakeOrderedAndProject.

    Parity: 2*tri and deg*(deg-1) are exact integers; one division,
    round(6); ties break on (cc DESC, s_suppkey)."""
    e = _cosupply_edges(spark, sf_dir, _COSUPPLY_MIN_SUPPORT)
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
        .where(F.col("degree") >= 2)
    )
    pn = _tri_per_node(spark, sf_dir)
    sup = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    cc = F.round(
        (2 * F.coalesce(F.col("tri_count"), F.lit(0)))
        / (F.col("degree") * (F.col("degree") - 1) * F.lit(1.0)),
        6,
    )
    return (
        deg.join(pn, "node", "left")
        .join(F.broadcast(sup), deg.node == sup.s_suppkey)
        .select(
            "s_suppkey",
            F.col("degree").cast("bigint").alias("degree"),
            F.coalesce(F.col("tri_count"), F.lit(0)).cast("bigint").alias(
                "tri_count"
            ),
            cc.alias("clustering_coef"),
        )
        .orderBy(F.col("clustering_coef").desc(), "s_suppkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# agg_degree_assortativity
# ---------------------------------------------------------------------------


@query(
    "agg_degree_assortativity",
    oracle="""
    WITH os AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM os a JOIN os b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2),
    deg AS (
      SELECT n, count(*) AS d FROM (
        SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e) z
      GROUP BY n),
    ed AS (
      SELECT du.d AS du, dv.d AS dv
      FROM e JOIN deg du ON e.u = du.n JOIN deg dv ON e.v = dv.n),
    s AS (
      SELECT CAST(2 * count(*) AS BIGINT) AS m2,
             CAST(sum(du + dv) AS BIGINT) AS s1,
             CAST(sum(CAST(du AS BIGINT)*du + CAST(dv AS BIGINT)*dv)
                  AS BIGINT) AS s2,
             CAST(2 * sum(CAST(du AS BIGINT) * dv) AS BIGINT) AS p
      FROM ed)
    SELECT CAST(m2 / 2 AS BIGINT) AS n_edges,
           round((m2 * CAST(p AS DOUBLE) - CAST(s1 AS DOUBLE) * s1)
                 / (m2 * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1), 6)
             AS assortativity
    FROM s
    WHERE m2 * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 <> 0
    """,
)
def agg_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEGREE ASSORTATIVITY (Newman 2002) of the support-2 part
    CO-PURCHASE graph (parts sharing >= 2 orders — the co-SUPPLY graph
    is degree-REGULAR at small sf: complete, every degree equal, so
    its assortativity is 0/0 by construction; the part graph keeps
    degree variance at every fixture scale):
    the Pearson correlation of endpoint degrees over all edges
    — one number that says whether hubs link to hubs (r > 0, social
    graphs) or hubs link to leaves (r < 0, infrastructure). The
    graph-level summary that tells you whether degree-based
    partitioning/salting will face hub-hub super-edges at scale.

    Scale shape: degrees are one hash aggregate; the edge-degree join
    shuffles the edge list twice on node keys; the correlation is ONE
    map-side-combinable aggregate of integer moments (each directed
    endpoint pair counted once per direction via the symmetric sums —
    no materialized doubled edge list). Everything stays integer until
    the single final division.

    Parity: all moments are exact BIGINTs; both engines assemble
    r = (M*P - S1^2) / (M*S2 - S1^2) from the same integers with the
    identical expression shape, one round(6)."""
    li = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    e = (
        a.join(b, "ok")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("ns"))
        .where(F.col("ns") >= 2)
        .select("u", "v")
    )
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    ed = (
        e.join(deg.select(F.col("n").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("n").alias("v"), F.col("d").alias("dv")), "v")
        .select("du", "dv")
    )
    s = ed.agg(
        (2 * F.count("*")).cast("bigint").alias("m2"),
        F.sum(F.col("du") + F.col("dv")).cast("bigint").alias("s1"),
        F.sum(
            F.col("du").cast("bigint") * F.col("du")
            + F.col("dv").cast("bigint") * F.col("dv")
        )
        .cast("bigint")
        .alias("s2"),
        (2 * F.sum(F.col("du").cast("bigint") * F.col("dv")))
        .cast("bigint")
        .alias("p"),
    )
    denom = F.col("m2") * F.col("s2").cast("double") - F.col("s1").cast(
        "double"
    ) * F.col("s1")
    return s.where(denom != 0).select(
        (F.col("m2") / 2).cast("bigint").alias("n_edges"),
        F.round(
            (F.col("m2") * F.col("p").cast("double")
             - F.col("s1").cast("double") * F.col("s1"))
            / denom,
            6,
        ).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# agg_bootstrap_ci
# ---------------------------------------------------------------------------

_BOOT_B = 32  # bootstrap replicas
# Poisson(1) CDF thresholds on a 1e6 integer hash range (truncated at
# w=3): P(0)=.367879, P(<=1)=.735759, P(<=2)=.919699 — exact integer
# compares, so both engines draw identical weights.
_BOOT_W = (
    "(CASE WHEN (event_id * 2654435761 + {r} * 40503) % 1000000 < 367879 "
    "THEN 0 "
    "WHEN (event_id * 2654435761 + {r} * 40503) % 1000000 < 735759 THEN 1 "
    "WHEN (event_id * 2654435761 + {r} * 40503) % 1000000 < 919699 THEN 2 "
    "ELSE 3 END)"
)


def _boot_oracle() -> str:
    cols = ", ".join(
        f"CAST(sum({_BOOT_W.format(r=r)} "
        f"* CAST(round(value, 6) AS DECIMAL(28,6))) AS DOUBLE) "
        f"/ sum({_BOOT_W.format(r=r)}) AS m{r}"
        for r in range(_BOOT_B)
    )
    ms = ", ".join(f"m{r}" for r in range(_BOOT_B))
    return f"""
    WITH agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CAST(round(value, 6) AS DECIMAL(28,6))) AS DOUBLE)
               / count(*) AS mean_raw,
             {cols}
      FROM events),
    s AS (SELECT *, list_sort([{ms}]) AS sm FROM agg)
    SELECT n_events, round(mean_raw, 6) AS mean_value,
           round(sm[2], 6) AS ci_lo_95,
           round(sm[{_BOOT_B - 1}], 6) AS ci_hi_95
    FROM s
    """


@query("agg_bootstrap_ci", oracle=_boot_oracle())
def agg_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POISSON BOOTSTRAP confidence interval for the event-value mean
    (Chamandy et al. 2012 — the bootstrap that works on data too big
    to resample): each of 32 replicas weights every row by a
    DETERMINISTIC hash-drawn Poisson(1) count (truncated at 3), all 32
    weighted means accumulate in ONE scan as 64 conditional aggregate
    columns — no explode, no 32x shuffle, no RNG state — and the
    95% CI is the 2nd/31st order statistic of the replica means. This
    is the uncertainty gate a data pipeline puts behind every
    before/after metric comparison (agg_welch_ttest's nonparametric
    sibling for means of skewed data).

    Shape at 100 TB: one map-side-combinable aggregate pass; the
    conditional weights are codegen'd integer arithmetic on event_id,
    so replica membership is reproducible run-to-run AND shard-stable
    (a reshuffled corpus draws the same weights — hash sampling's
    defining property, same as sample_hash_deterministic).

    Parity: weights are exact integer compares on an integer hash;
    weighted sums accumulate as DECIMAL(28,6) (order-independent);
    each replica mean is the identical CAST-DOUBLE division; the order
    statistics sort 32 identical doubles; one round(6) per output."""
    ev = table(spark, sf_dir, "events")
    aggs = [
        F.expr(
            f"CAST(sum({_BOOT_W.format(r=r)} "
            f"* CAST(round(value, 6) AS DECIMAL(28,6))) AS DOUBLE) "
            f"/ sum({_BOOT_W.format(r=r)})"
        ).alias(f"m{r}")
        for r in range(_BOOT_B)
    ]
    agg = ev.agg(
        F.count("*").cast("bigint").alias("n_events"),
        (
            F.sum(F.round("value", 6).cast("decimal(28,6)")).cast("double")
            / F.count("*")
        ).alias("mean_raw"),
        *aggs,
    )
    ms = ", ".join(f"m{r}" for r in range(_BOOT_B))
    return agg.select(
        "n_events",
        F.round("mean_raw", 6).alias("mean_value"),
        F.round(F.expr(f"element_at(array_sort(array({ms})), 2)"), 6).alias(
            "ci_lo_95"
        ),
        F.round(
            F.expr(f"element_at(array_sort(array({ms})), {_BOOT_B - 1})"), 6
        ).alias("ci_hi_95"),
    )


# ---------------------------------------------------------------------------
# agg_covariance_matrix
# ---------------------------------------------------------------------------


def _cov_oracle() -> str:
    dims = range(1, _KM_D + 1)
    moms = ", ".join(
        f"sum(CAST(e{i} AS DECIMAL(18,9)) * CAST(e{j} AS DECIMAL(18,9))) AS s{i}_{j}"
        for i in dims
        for j in dims
        if i <= j
    )
    sums = ", ".join(f"sum(CAST(e{i} AS DECIMAL(28,9))) AS s{i}" for i in dims)
    outs = ", ".join(
        f"round(CAST(s{i}_{j} AS DOUBLE) / n "
        f"- (CAST(s{i} AS DOUBLE) / n) * (CAST(s{j} AS DOUBLE) / n), 6) "
        f"AS cov_{i}_{j}"
        for i in dims
        for j in dims
        if i <= j
    )
    return f"""
    WITH pts AS (SELECT {", ".join(
        f"round(CAST(list_extract(embedding, {i}) AS DOUBLE), 9) AS e{i}"
        for i in dims)}
      FROM embeddings),
    m AS (SELECT CAST(count(*) AS BIGINT) AS n, {sums}, {moms} FROM pts)
    SELECT n, {outs} FROM m
    """


@query("agg_covariance_matrix", oracle=_cov_oracle())
def agg_covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COVARIANCE MATRIX of the 8-dim matryoshka prefix in ONE scan —
    the input statistic under PCA (vec_pca_power_iter computes it
    per-iteration from the same raw moments), whitening, and Mahalanobis
    outlier gates. All 36 upper-triangle covariances come from a single
    map-side-combinable aggregate of DECIMAL raw moments: no per-pair
    passes, no corpus re-scan per entry — the textbook 'sufficient
    statistics beat resampling' shape for 100 TB (same recipe as
    agg_moments_stats, widened to the full pairwise triangle).

    Parity: inputs round(9)-quantized, moment sums exact DECIMAL
    (order-independent), each covariance assembled from the identical
    CAST-DOUBLE expression (E[xy] - E[x]E[y]), one round(6) each.

    Build cost: the 45 aggregate + 36 output expressions render as
    THREE selectExpr string calls (round-15; the per-Column py4j tree
    made each DataFrame build ~1.1 s in the per-op audit while
    execution was 76 ms — the round-2 one-expr-string rule)."""
    emb = table(spark, sf_dir, "embeddings")
    dims = range(1, _KM_D + 1)
    pts = emb.selectExpr(
        *[
            f"round(CAST(element_at(embedding, {i}) AS DOUBLE), 9) AS e{i}"
            for i in dims
        ]
    )
    m = pts.selectExpr(
        "CAST(count(*) AS BIGINT) AS n",
        *[f"sum(CAST(e{i} AS DECIMAL(28,9))) AS s{i}" for i in dims],
        *[
            # decimal(18,9): the product is (37,18) — exact; (28,9)
            # squared overflows precision and Spark truncates the scale
            # to 6 (the round-7 CLAUDE.md multiply pitfall)
            f"sum(CAST(e{i} AS DECIMAL(18,9))"
            f" * CAST(e{j} AS DECIMAL(18,9))) AS s{i}_{j}"
            for i in dims
            for j in dims
            if i <= j
        ],
    )
    return m.selectExpr(
        "n",
        *[
            f"round(CAST(s{i}_{j} AS DOUBLE) / n"
            f" - (CAST(s{i} AS DOUBLE) / n)"
            f" * (CAST(s{j} AS DOUBLE) / n), 6) AS cov_{i}_{j}"
            for i in dims
            for j in dims
            if i <= j
        ],
    )


# ---------------------------------------------------------------------------
# agg_mutual_information
# ---------------------------------------------------------------------------


@query(
    "agg_mutual_information",
    oracle="""
    WITH j AS (
      SELECT event_type AS et, CAST(floor(value / 50) AS BIGINT) AS vb,
             count(*) AS c
      FROM events GROUP BY 1, 2),
    tot AS (SELECT sum(c) AS n FROM j),
    mrow AS (SELECT et, sum(c) AS cr FROM j GROUP BY et),
    mcol AS (SELECT vb, sum(c) AS cc FROM j GROUP BY vb)
    SELECT CAST(tot.n AS BIGINT) AS n_events,
           CAST((SELECT count(*) FROM j) AS BIGINT) AS n_cells,
           round(CAST(sum(CAST(round(
             (CAST(j.c AS DOUBLE) / tot.n)
             * ln((CAST(j.c AS DOUBLE) * tot.n)
                  / (CAST(mrow.cr AS DOUBLE) * mcol.cc)), 9)
             AS DECIMAL(28,9))) AS DOUBLE), 6) AS mi_nats
    FROM j
    JOIN mrow ON j.et = mrow.et
    JOIN mcol ON j.vb = mcol.vb
    CROSS JOIN tot
    GROUP BY tot.n
    """,
)
def agg_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MUTUAL INFORMATION between event type and the value's 50-unit
    bucket — the dependence screen a feature pipeline runs before
    treating columns as independent (0 nats = independent; here the
    per-type value distributions differ, so MI > 0). The plug-in
    estimator I = sum p(x,y) ln(p(x,y)/(p(x)p(y))) over the joint
    contingency table.

    Shape at scale: ONE shuffle builds the joint table (map-side
    combine collapses events to |types| x |buckets| cells); marginals
    re-aggregate the CELLS, not the events; the MI sum runs over the
    tiny contingency table with both marginals broadcast. Same
    integers-first discipline as agg_chi_square_independence.

    Parity: all counts exact integers; each cell's term is one
    identically-shaped double expression, round(9)-quantized into a
    DECIMAL sum (order-independent), one final round(6)."""
    ev = table(spark, sf_dir, "events")
    j = ev.select(
        F.col("event_type").alias("et"),
        F.expr("CAST(floor(value / 50) AS BIGINT)").alias("vb"),
    ).groupBy("et", "vb").agg(F.count("*").alias("c"))
    tot = j.agg(F.sum("c").alias("n"), F.count("*").alias("n_cells"))
    mrow = j.groupBy("et").agg(F.sum("c").alias("cr"))
    mcol = j.groupBy("vb").agg(F.sum("c").alias("cc"))
    term = F.expr(
        "CAST(round((CAST(c AS DOUBLE) / n) "
        "* ln((CAST(c AS DOUBLE) * n) / (CAST(cr AS DOUBLE) * cc)), 9) "
        "AS DECIMAL(28,9))"
    )
    return (
        j.join(F.broadcast(mrow), "et")
        .join(F.broadcast(mcol), "vb")
        .crossJoin(F.broadcast(tot))
        .groupBy("n")
        .agg(
            F.max("n_cells").cast("bigint").alias("n_cells"),
            F.round(F.sum(term).cast("double"), 6).alias("mi_nats"),
        )
        .select(
            F.col("n").cast("bigint").alias("n_events"), "n_cells", "mi_nats"
        )
    )


# ---------------------------------------------------------------------------
# text_readability_score
# ---------------------------------------------------------------------------


@query(
    "text_readability_score",
    oracle="""
    WITH m AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
             CAST(len(regexp_extract_all(text, '[aeiou]+')) AS BIGINT)
               AS n_syllables
      FROM documents)
    SELECT doc_id, lang, n_words, n_syllables,
           round(206.835 - 1.015 * n_words
                 - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 6)
             AS flesch
    FROM m WHERE n_words > 0
    """,
)
def text_readability_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLESCH READING EASE per document — the classic readability gate
    a curation pipeline uses next to the Gopher rules (too-hard and
    too-easy tails both correlate with low-quality text). Syllables
    are approximated by vowel-group counts (runs of [aeiou]+ — the
    standard cheap proxy), and the fixture's documents carry no
    sentence punctuation, so each document is one 'sentence' (the
    words/sentences term becomes n_words — stated in the formula
    rather than hidden).

    One map-side pass: split + one regexp scan per document, zero
    shuffles, scan throughput at any corpus size. Parity: counts are
    exact integers on both regex engines (non-overlapping [aeiou]+
    matches agree on ASCII); the score is one identically-shaped
    double expression, round(6)."""
    d = table(spark, sf_dir, "documents")
    m = d.select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).cast("bigint").alias("n_words"),
        F.expr("CAST(regexp_count(text, '[aeiou]+') AS BIGINT)").alias(
            "n_syllables"
        ),
    ).where(F.col("n_words") > 0)
    return m.select(
        "doc_id",
        "lang",
        "n_words",
        "n_syllables",
        F.round(
            206.835
            - 1.015 * F.col("n_words")
            - 84.6 * (F.col("n_syllables").cast("double") / F.col("n_words")),
            6,
        ).alias("flesch"),
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
    from .vector import _query_vector_raw
    from ..functions.vector import dot_fixed, norm_fixed

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
# agg_spearman_corr
# ---------------------------------------------------------------------------


def _spearman_ranks_duck(col: str) -> str:
    """Tied average ranks x2 (DOUBLED to stay integer) over the value
    DOMAIN of `col`: R2(v) = 2*cum_less(v) + count(v) + 1."""
    return f"""
      SELECT {col} AS v,
             CAST(2 * (sum(c) OVER (ORDER BY {col}
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING) IS NULL AND 0
                       OR coalesce(sum(c) OVER (ORDER BY {col}
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0))
                  + c + 1 AS BIGINT) AS r2
      FROM (SELECT {col}, CAST(count(*) AS BIGINT) AS c
            FROM lineitem GROUP BY {col}) t"""


@query(
    "agg_spearman_corr",
    oracle="""
    WITH xr AS (
      SELECT l_quantity AS v,
             CAST(2 * coalesce(sum(c) OVER (ORDER BY l_quantity
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  + c + 1 AS BIGINT) AS r2
      FROM (SELECT l_quantity, CAST(count(*) AS BIGINT) AS c
            FROM lineitem GROUP BY l_quantity) t),
    yr AS (
      SELECT l_extendedprice AS v,
             CAST(2 * coalesce(sum(c) OVER (ORDER BY l_extendedprice
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  + c + 1 AS BIGINT) AS r2
      FROM (SELECT l_extendedprice, CAST(count(*) AS BIGINT) AS c
            FROM lineitem GROUP BY l_extendedprice) t),
    j AS (
      SELECT xr.r2 AS x2, yr.r2 AS y2
      FROM lineitem l
      JOIN xr ON xr.v = l.l_quantity
      JOIN yr ON yr.v = l.l_extendedprice),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(x2 AS DECIMAL(38,0))) AS DOUBLE) AS sx,
             CAST(sum(CAST(y2 AS DECIMAL(38,0))) AS DOUBLE) AS sy,
             CAST(sum(CAST(x2 AS DECIMAL(19,0))
                      * CAST(y2 AS DECIMAL(19,0))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(x2 AS DECIMAL(19,0))
                      * CAST(x2 AS DECIMAL(19,0))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(y2 AS DECIMAL(19,0))
                      * CAST(y2 AS DECIMAL(19,0))) AS DOUBLE) AS syy
      FROM j)
    SELECT n,
           round((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)),
                 6) AS spearman_rho
    FROM s
    """,
)
def agg_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPEARMAN RANK CORRELATION between l_quantity and
    l_extendedprice — the monotone-dependence measure a data-quality
    monitor prefers over Pearson (price scales with quantity
    nonlinearly through per-part prices; rank correlation is
    invariant to that). Tie handling is the full tied-average-rank
    formula, evaluated as Pearson over the rank variables.

    Rank statistics WITHOUT per-row ranks (the agg_mann_whitney_u
    machinery): each variable collapses to its VALUE DOMAIN, tied
    average ranks reconstruct from cumulative counts as the INTEGER
    R2 = 2*cum_less + count + 1 (doubled so .5s never appear), and
    rows join their rank by value key — the only ordered cumulative
    runs over the bounded domain, never the fact table. Rank products
    square inside DECIMAL(19,0)x(19,0) (exact; DuckDB's width-19
    operands force the HUGEINT kernel — the round-7 squares rule),
    sums are exact decimals, and the one float expression — the
    Pearson ratio over six exact aggregates — shares text on both
    engines before round(6)."""
    li = table(spark, sf_dir, "lineitem")

    def ranks(col: str, bounded: bool) -> DataFrame:
        cnt = li.groupBy(col).agg(F.count("*").cast("bigint").alias("c"))
        if bounded:
            # quantity domain is 1..50 — a bounded window is fine
            wd = Window.orderBy(col).rowsBetween(
                Window.unboundedPreceding, -1
            )
            pre = F.coalesce(F.sum("c").over(wd), F.lit(0))
            cum = cnt.withColumn("_pre_c", pre)
        else:
            # the price domain is part-grain — distributed prefix sum
            # (functions/domain.py; round-10 verdict window rule)
            cum = dist_exclusive_prefix(
                cnt, [(col, False)], ["c"],
                cache_key=f"spearman:{col}:{sf_dir}",
            )
        return cum.select(
            F.col(col).alias("v"),
            (2 * F.col("_pre_c") + F.col("c") + 1)
            .cast("bigint")
            .alias("r2"),
        )

    xr = ranks("l_quantity", bounded=True).select(
        F.col("v").alias("l_quantity"), F.col("r2").alias("x2")
    )
    yr = ranks("l_extendedprice", bounded=False).select(
        F.col("v").alias("l_extendedprice"), F.col("r2").alias("y2")
    )
    j = (
        li.select("l_quantity", "l_extendedprice")
        .join(F.broadcast(xr), "l_quantity")
        .join(yr, "l_extendedprice")
    )
    s = j.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.expr("CAST(x2 AS DECIMAL(38,0))")).cast("double").alias("sx"),
        F.sum(F.expr("CAST(y2 AS DECIMAL(38,0))")).cast("double").alias("sy"),
        F.sum(
            F.expr("CAST(x2 AS DECIMAL(19,0)) * CAST(y2 AS DECIMAL(19,0))")
        )
        .cast("double")
        .alias("sxy"),
        F.sum(
            F.expr("CAST(x2 AS DECIMAL(19,0)) * CAST(x2 AS DECIMAL(19,0))")
        )
        .cast("double")
        .alias("sxx"),
        F.sum(
            F.expr("CAST(y2 AS DECIMAL(19,0)) * CAST(y2 AS DECIMAL(19,0))")
        )
        .cast("double")
        .alias("syy"),
    )
    return s.selectExpr(
        "n",
        "round((n * sxy - sx * sy)"
        " / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)"
        " AS spearman_rho",
    )


# ---------------------------------------------------------------------------
# agg_decision_stump_gini
# ---------------------------------------------------------------------------


@query(
    "agg_decision_stump_gini",
    oracle="""
    WITH b AS (
      SELECT CAST(floor(value) AS BIGINT) AS vb,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events),
    dom AS (
      SELECT vb, CAST(count(*) AS BIGINT) AS c,
             CAST(sum(y) AS BIGINT) AS p
      FROM b GROUP BY vb),
    cum AS (
      SELECT vb,
             CAST(sum(c) OVER (ORDER BY vb ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS nl,
             CAST(sum(p) OVER (ORDER BY vb ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS pl,
             CAST((SELECT sum(c) FROM dom) AS BIGINT) AS n,
             CAST((SELECT sum(p) FROM dom) AS BIGINT) AS pt
      FROM dom),
    g AS (
      SELECT vb AS threshold, nl AS n_left, n - nl AS n_right,
             round((nl * (1.0
                          - (CAST(pl AS DOUBLE) / nl)
                            * (CAST(pl AS DOUBLE) / nl)
                          - (CAST(nl - pl AS DOUBLE) / nl)
                            * (CAST(nl - pl AS DOUBLE) / nl))
                    + (n - nl) * (1.0
                          - (CAST(pt - pl AS DOUBLE) / (n - nl))
                            * (CAST(pt - pl AS DOUBLE) / (n - nl))
                          - (CAST((n - nl) - (pt - pl) AS DOUBLE) / (n - nl))
                            * (CAST((n - nl) - (pt - pl) AS DOUBLE)
                               / (n - nl)))) / n, 9) AS gini,
             round(1.0 - (CAST(pt AS DOUBLE) / n) * (CAST(pt AS DOUBLE) / n)
                   - (CAST(n - pt AS DOUBLE) / n)
                     * (CAST(n - pt AS DOUBLE) / n), 9) AS gini_root
      FROM cum WHERE nl < n)
    SELECT threshold, n_left, n_right,
           round(gini, 6) AS gini_split,
           round(gini_root, 6) AS gini_root
    FROM g ORDER BY gini, threshold LIMIT 1
    """,
)
def agg_decision_stump_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECISION-STUMP TRAINING by exact Gini impurity: the best
    single threshold on `value` separating purchase events from the
    rest — the feature-scoring primitive behind tree ensembles and
    the quickest answer to "does this column predict the label at
    all" (gini_split ~ gini_root means no signal; the fixture's
    uniform value-type coupling lands exactly there, which is itself
    the audit result).

    The standard tree-learner shape, distributed: candidate
    thresholds live on the BOUNDED integer magnitude domain
    (floor(value) — the split-point grid every histogram-based GBDT
    uses), class counts per grid cell aggregate map-side, ONE
    cumulative window over the domain yields every split's left/right
    class counts, and the argmin is an orderBy+limit over the domain
    — the events table is scanned once and never sorted. Gini per
    threshold evaluates identical double expressions over exact
    integers (round 9 before the argmin, so the selected threshold is
    engine-independent; round 6 on output)."""
    ev = table(spark, sf_dir, "events")
    b = ev.select(
        F.expr("CAST(floor(value) AS BIGINT)").alias("vb"),
        F.expr(
            "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END"
        ).alias("y"),
    )
    dom = b.groupBy("vb").agg(
        F.count("*").cast("bigint").alias("c"),
        F.sum("y").cast("bigint").alias("p"),
    )
    tot = dom.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum("p").cast("bigint").alias("pt"),
    )
    wd = Window.orderBy("vb").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = dom.select(
        "vb",
        F.sum("c").over(wd).cast("bigint").alias("nl"),
        F.sum("p").over(wd).cast("bigint").alias("pl"),
    ).crossJoin(F.broadcast(tot))
    g = cum.where(F.col("nl") < F.col("n")).selectExpr(
        "vb AS threshold",
        "nl AS n_left",
        "n - nl AS n_right",
        """round((nl * (1.0
                 - (CAST(pl AS DOUBLE) / nl) * (CAST(pl AS DOUBLE) / nl)
                 - (CAST(nl - pl AS DOUBLE) / nl)
                   * (CAST(nl - pl AS DOUBLE) / nl))
           + (n - nl) * (1.0
                 - (CAST(pt - pl AS DOUBLE) / (n - nl))
                   * (CAST(pt - pl AS DOUBLE) / (n - nl))
                 - (CAST((n - nl) - (pt - pl) AS DOUBLE) / (n - nl))
                   * (CAST((n - nl) - (pt - pl) AS DOUBLE)
                      / (n - nl)))) / n, 9) AS gini""",
        """round(1.0 - (CAST(pt AS DOUBLE) / n) * (CAST(pt AS DOUBLE) / n)
           - (CAST(n - pt AS DOUBLE) / n)
             * (CAST(n - pt AS DOUBLE) / n), 9) AS gini_root""",
    )
    return (
        g.orderBy("gini", "threshold")
        .limit(1)
        .select(
            "threshold",
            "n_left",
            "n_right",
            F.round("gini", 6).alias("gini_split"),
            F.round("gini_root", 6).alias("gini_root"),
        )
    )


# ---------------------------------------------------------------------------
# agg_kendall_tau_grid
# ---------------------------------------------------------------------------


@query(
    "agg_kendall_tau_grid",
    oracle="""
    WITH pts AS (
      SELECT CAST(l_quantity AS BIGINT) AS a,
             CAST(floor(l_extendedprice / 1000) AS BIGINT) AS b
      FROM lineitem),
    cells AS (SELECT a, b, CAST(count(*) AS BIGINT) AS nn
              FROM pts GROUP BY a, b),
    grid AS (
      SELECT da.a, db.b, coalesce(c.nn, 0) AS nn
      FROM (SELECT DISTINCT a FROM cells) da
      CROSS JOIN (SELECT DISTINCT b FROM cells) db
      LEFT JOIN cells c ON c.a = da.a AND c.b = db.b),
    rowc AS (
      SELECT a, b, nn,
             CAST(sum(nn) OVER (PARTITION BY a ORDER BY b
                                ROWS UNBOUNDED PRECEDING) - nn
                  AS BIGINT) AS cb,
             CAST(sum(nn) OVER (PARTITION BY a) AS BIGINT) AS rtot,
             CAST(sum(nn) OVER (PARTITION BY a ORDER BY b
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS rc
      FROM grid),
    pref AS (
      SELECT a, b, nn,
             CAST(coalesce(sum(cb) OVER (PARTITION BY b ORDER BY a
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS p_cd,
             CAST(coalesce(sum(rtot - rc) OVER (PARTITION BY b ORDER BY a
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS p_dc
      FROM rowc),
    cd AS (
      SELECT CAST(sum(nn * p_cd) AS BIGINT) AS c_pairs,
             CAST(sum(nn * p_dc) AS BIGINT) AS d_pairs
      FROM pref),
    ties AS (
      SELECT CAST((SELECT count(*) FROM pts) AS BIGINT) AS n,
             CAST((SELECT sum(t * (t - 1) / 2) FROM
                   (SELECT count(*) AS t FROM pts GROUP BY a) x)
                  AS BIGINT) AS n1,
             CAST((SELECT sum(t * (t - 1) / 2) FROM
                   (SELECT count(*) AS t FROM pts GROUP BY b) y)
                  AS BIGINT) AS n2)
    SELECT n, c_pairs, d_pairs,
           round((c_pairs - d_pairs)
                 / sqrt(CAST(n * (n - 1) / 2 - n1 AS DOUBLE)
                        * CAST(n * (n - 1) / 2 - n2 AS DOUBLE)), 6)
             AS kendall_tau_b
    FROM cd CROSS JOIN ties
    """,
)
def agg_kendall_tau_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KENDALL'S TAU-B between quantity and price magnitude — the
    other standard rank-dependence measure next to agg_spearman_corr
    (tau has the cleaner probabilistic reading: P(concordant) -
    P(discordant)), with full tie correction. The y side is
    deliberately the floor(price/1000) magnitude grid: Kendall on raw
    pairs is O(n^2), but on a BOUNDED 2D GRID concordance becomes a
    prefix-sum identity — exactly how histogram-based libraries make
    tau tractable.

    Scale shape: the fact table collapses to grid-cell counts (one
    map-side-combined groupBy); the grid dense-ifies by a
    domain-bounded cross join; concordant/discordant pair counts are
    TWO cumulative windows over the grid (strictly-less row prefix,
    then strictly-less column prefix of it) and one weighted sum —
    the corpus is never pair-joined or sorted. All pair counts are
    exact integers; the single float is the final tau ratio (shared
    text, round 6)."""
    li = table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_quantity").cast("bigint").alias("a"),
        F.expr("CAST(floor(l_extendedprice / 1000) AS BIGINT)").alias("b"),
    )
    cells = pts.groupBy("a", "b").agg(
        F.count("*").cast("bigint").alias("nn")
    )
    da = cells.select("a").distinct()
    db = cells.select("b").distinct()
    grid = (
        da.crossJoin(db)
        .join(cells, ["a", "b"], "left")
        .select("a", "b", F.coalesce("nn", F.lit(0)).alias("nn"))
    )
    w_row = Window.partitionBy("a").orderBy("b").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    rowc = grid.select(
        "a",
        "b",
        "nn",
        (F.sum("nn").over(w_row) - F.col("nn")).cast("bigint").alias("cb"),
        F.sum("nn").over(Window.partitionBy("a")).cast("bigint").alias("rtot"),
        F.sum("nn").over(w_row).cast("bigint").alias("rc"),
    )
    w_col = Window.partitionBy("b").orderBy("a").rowsBetween(
        Window.unboundedPreceding, -1
    )
    pref = rowc.select(
        "a",
        "b",
        "nn",
        F.coalesce(F.sum("cb").over(w_col), F.lit(0))
        .cast("bigint")
        .alias("p_cd"),
        F.coalesce(F.sum(F.col("rtot") - F.col("rc")).over(w_col), F.lit(0))
        .cast("bigint")
        .alias("p_dc"),
    )
    cd = pref.agg(
        F.sum(F.col("nn") * F.col("p_cd")).cast("bigint").alias("c_pairs"),
        F.sum(F.col("nn") * F.col("p_dc")).cast("bigint").alias("d_pairs"),
    )
    ta = pts.groupBy("a").agg(F.count("*").alias("t")).agg(
        F.sum(F.expr("t * (t - 1) / 2")).cast("bigint").alias("n1")
    )
    tb = pts.groupBy("b").agg(F.count("*").alias("t")).agg(
        F.sum(F.expr("t * (t - 1) / 2")).cast("bigint").alias("n2")
    )
    n = pts.agg(F.count("*").cast("bigint").alias("n"))
    return (
        cd.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(ta))
        .crossJoin(F.broadcast(tb))
        .selectExpr(
            "n",
            "c_pairs",
            "d_pairs",
            "round((c_pairs - d_pairs)"
            " / sqrt(CAST(n * (n - 1) / 2 - n1 AS DOUBLE)"
            " * CAST(n * (n - 1) / 2 - n2 AS DOUBLE)), 6)"
            " AS kendall_tau_b",
        )
    )


# ---------------------------------------------------------------------------
# agg_trimmed_winsorized_stats
# ---------------------------------------------------------------------------

_TRIM_PCT_NUM, _TRIM_PCT_DEN = 5, 100  # 5% per tail, integer-exact


@query(
    "agg_trimmed_winsorized_stats",
    oracle=f"""
    WITH v AS (
      SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS vc
      FROM events),
    dom AS (
      SELECT event_type, vc, CAST(count(*) AS BIGINT) AS c
      FROM v GROUP BY event_type, vc),
    cum AS (
      SELECT event_type, vc, c,
             CAST(coalesce(sum(c) OVER (PARTITION BY event_type ORDER BY vc
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS cb,
             CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM dom),
    k AS (
      SELECT *, n * {_TRIM_PCT_NUM} // {_TRIM_PCT_DEN} AS kt FROM cum),
    inter AS (
      SELECT event_type, n, kt,
             CAST(sum(vc * greatest(0,
               least(cb + c, n - kt) - greatest(cb + 1, kt + 1) + 1))
               AS BIGINT) AS tsum,
             CAST(max(CASE WHEN cb < kt + 1 AND kt + 1 <= cb + c
                           THEN vc END) AS BIGINT) AS v_lo,
             CAST(max(CASE WHEN cb < n - kt AND n - kt <= cb + c
                           THEN vc END) AS BIGINT) AS v_hi
      FROM k GROUP BY event_type, n, kt)
    SELECT event_type, n, kt AS n_trimmed_per_tail,
           round(CAST(tsum AS DOUBLE) / (n - 2 * kt) / 100.0, 6)
             AS trimmed_mean,
           round(CAST(tsum + kt * (v_lo + v_hi) AS DOUBLE) / n / 100.0, 6)
             AS winsorized_mean,
           round(CAST(v_lo AS DOUBLE) / 100.0, 6) AS p_lo,
           round(CAST(v_hi AS DOUBLE) / 100.0, 6) AS p_hi
    FROM inter
    """,
)
def agg_trimmed_winsorized_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ROBUST LOCATION per event type: the 5%-per-tail TRIMMED mean
    (drop the tails) and WINSORIZED mean (clamp the tails to the 5th/
    95th order statistics) — what a monitoring pipeline reports when
    agg_moments_stats' plain mean is hostage to the heavy tail the
    Hill estimator just diagnosed. p_lo/p_hi are the exact clamp
    values (order statistics, not interpolated quantiles).

    Exact rank machinery, never a per-row sort: values quantize to
    integer cents, collapse to the per-type VALUE DOMAIN, and one
    cumulative window over the domain gives every value-run its rank
    interval [cb+1, cb+c]; each run contributes
    overlap([cb+1, cb+c], [kt+1, n-kt]) copies to the trimmed sum —
    pure integer interval arithmetic — and the two clamp values are
    the runs whose intervals contain ranks kt+1 and n-kt. Integer
    cents end-to-end; two final divisions, round(6)."""
    ev = table(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        F.expr("CAST(round(value * 100, 0) AS BIGINT)").alias("vc"),
    )
    dom = v.groupBy("event_type", "vc").agg(
        F.count("*").cast("bigint").alias("c")
    )
    wd = (
        Window.partitionBy("event_type")
        .orderBy("vc")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = dom.select(
        "event_type",
        "vc",
        "c",
        F.coalesce(F.sum("c").over(wd), F.lit(0)).cast("bigint").alias("cb"),
        F.sum("c")
        .over(Window.partitionBy("event_type"))
        .cast("bigint")
        .alias("n"),
    )
    k = cum.withColumn(
        "kt", F.expr(f"n * {_TRIM_PCT_NUM} div {_TRIM_PCT_DEN}")
    )
    inter = k.groupBy("event_type", "n", "kt").agg(
        F.sum(
            F.expr(
                "vc * greatest(0, least(cb + c, n - kt)"
                " - greatest(cb + 1, kt + 1) + 1)"
            )
        )
        .cast("bigint")
        .alias("tsum"),
        F.max(
            F.expr("CASE WHEN cb < kt + 1 AND kt + 1 <= cb + c THEN vc END")
        )
        .cast("bigint")
        .alias("v_lo"),
        F.max(
            F.expr("CASE WHEN cb < n - kt AND n - kt <= cb + c THEN vc END")
        )
        .cast("bigint")
        .alias("v_hi"),
    )
    return inter.selectExpr(
        "event_type",
        "n",
        "kt AS n_trimmed_per_tail",
        "round(CAST(tsum AS DOUBLE) / (n - 2 * kt) / 100.0, 6)"
        " AS trimmed_mean",
        "round(CAST(tsum + kt * (v_lo + v_hi) AS DOUBLE) / n / 100.0, 6)"
        " AS winsorized_mean",
        "round(CAST(v_lo AS DOUBLE) / 100.0, 6) AS p_lo",
        "round(CAST(v_hi AS DOUBLE) / 100.0, 6) AS p_hi",
    )


# ---------------------------------------------------------------------------
# agg_abc_pareto_class
# ---------------------------------------------------------------------------


@query(
    "agg_abc_pareto_class",
    oracle="""
    WITH rev AS (
      SELECT l_partkey,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,2))))
                  AS DECIMAL(28,4)) AS r
      FROM lineitem GROUP BY l_partkey),
    cum AS (
      SELECT l_partkey, r,
             CAST(coalesce(sum(r) OVER (ORDER BY r DESC, l_partkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   CAST(0 AS DECIMAL(28,4))) AS DECIMAL(28,4)) AS cb,
             CAST((SELECT sum(r) FROM rev) AS DECIMAL(28,4)) AS tot
      FROM rev),
    cls AS (
      SELECT CASE WHEN cb * 100 < tot * 80 THEN 'A'
                  WHEN cb * 100 < tot * 95 THEN 'B'
                  ELSE 'C' END AS abc_class,
             r, tot
      FROM cum)
    SELECT abc_class,
           CAST(count(*) AS BIGINT) AS n_parts,
           round(CAST(sum(r) AS DOUBLE), 2) AS revenue,
           round(CAST(sum(r) AS DOUBLE) / CAST(max(tot) AS DOUBLE), 6)
             AS revenue_share
    FROM cls GROUP BY abc_class
    """,
)
def agg_abc_pareto_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (PARETO) CLASSIFICATION of parts by revenue — the
    warehouse-management classic: class A = parts covering the first
    80% of cumulative revenue (ranked by revenue descending), B the
    next 15%, C the tail — inventory policy, cache tiering, and "what
    to optimize first" all read this table. A part's class depends on
    the revenue of everything ABOVE it, hence the cumulative share.

    Exactness: per-part revenue is the exact DECIMAL money sum
    (price(2dp) x (1-disc)(2dp) = 4dp, order-independent); the class
    boundaries are integer cross-multiplications of exact decimals
    (cb*100 < tot*80), never a float share; the reported share
    divides once, round(6).

    Scale shape: revenue collapses to the PART DIMENSION first (one
    fact-table groupBy, map-side combined) — the ordered cumulative
    window runs over the dimension, which is the object whose global
    order the business question is ABOUT (at 100 TB: a range-
    partitioned sort of millions of parts, decoupled from billions of
    fact rows)."""
    li = table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.expr(
            "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))"
            " * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(28,4))"
        ).alias("r")
    )
    tot = rev.agg(
        F.expr("CAST(sum(r) AS DECIMAL(28,4))").alias("tot")
    )
    # the revenue-DESC cumulative runs over the PART dimension —
    # fact-key-grain, so it takes the distributed two-level prefix
    # sum, never a single-partition sort (functions/domain.py)
    cum = (
        dist_exclusive_prefix(
            rev, [("r", True), ("l_partkey", False)], ["r"],
            cache_key=f"abc_rev:{sf_dir}",
        )
        .select(
            "l_partkey",
            "r",
            F.col("_pre_r").cast("decimal(28,4)").alias("cb"),
        )
        .crossJoin(F.broadcast(tot))
    )
    cls = cum.selectExpr(
        """CASE WHEN cb * 100 < tot * 80 THEN 'A'
                WHEN cb * 100 < tot * 95 THEN 'B'
                ELSE 'C' END AS abc_class""",
        "r",
        "tot",
    )
    return cls.groupBy("abc_class").agg(
        F.count("*").cast("bigint").alias("n_parts"),
        F.round(F.sum("r").cast("double"), 2).alias("revenue"),
        F.round(
            F.sum("r").cast("double") / F.max("tot").cast("double"), 6
        ).alias("revenue_share"),
    )


# ---------------------------------------------------------------------------
# agg_overdispersion_nb_fit
# ---------------------------------------------------------------------------


@query(
    "agg_overdispersion_nb_fit",
    oracle="""
    WITH cnt AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS k
      FROM events GROUP BY user_id),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(k) AS BIGINT) AS sk,
             CAST(sum(k * k) AS BIGINT) AS skk
      FROM cnt),
    m AS (
      SELECT n,
             CAST(sk AS DOUBLE) / n AS mean_k,
             (CAST(skk AS DOUBLE) - CAST(sk AS DOUBLE)
              * CAST(sk AS DOUBLE) / n) / (n - 1) AS var_k
      FROM s)
    SELECT n AS n_users,
           round(mean_k, 6) AS mean_events,
           round(var_k, 6) AS var_events,
           round(var_k / mean_k, 6) AS dispersion_index,
           var_k > mean_k AS is_overdispersed,
           CASE WHEN var_k > mean_k
                THEN round(mean_k * mean_k / (var_k - mean_k), 6) END
             AS nb_r,
           CASE WHEN var_k > mean_k
                THEN round(mean_k / var_k, 6) END AS nb_p
    FROM m
    """,
)
def agg_overdispersion_nb_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT-DATA OVERDISPERSION diagnostic + negative-binomial fit:
    per-user event counts compared against the Poisson assumption
    (variance == mean) — the first question about any arrival-count
    model (capacity planning, anomaly thresholds on counts): a
    dispersion index >> 1 means per-user rates are heterogeneous and
    Poisson alert thresholds will false-alarm. When overdispersed,
    the method-of-moments NB parameters r = m^2/(s^2 - m),
    p = m/s^2 are the drop-in replacement model; under-dispersed data
    returns NULL fits, never fake parameters.

    Exactness: per-user counts are integers, their sum and
    sum-of-squares exact BIGINTs (squares bounded by (events/user)^2
    x users — far inside int64 at any realistic skew), and the
    mean/variance/fit expressions share double text on both engines;
    round(6) at the end. One groupBy(user) + a 1-row moment
    aggregate."""
    ev = table(spark, sf_dir, "events")
    cnt = ev.groupBy("user_id").agg(F.count("*").cast("bigint").alias("k"))
    s = cnt.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("k").cast("bigint").alias("sk"),
        F.sum(F.col("k") * F.col("k")).cast("bigint").alias("skk"),
    )
    m = s.selectExpr(
        "n",
        "CAST(sk AS DOUBLE) / n AS mean_k",
        "(CAST(skk AS DOUBLE) - CAST(sk AS DOUBLE)"
        " * CAST(sk AS DOUBLE) / n) / (n - 1) AS var_k",
    )
    return m.selectExpr(
        "n AS n_users",
        "round(mean_k, 6) AS mean_events",
        "round(var_k, 6) AS var_events",
        "round(var_k / mean_k, 6) AS dispersion_index",
        "var_k > mean_k AS is_overdispersed",
        "CASE WHEN var_k > mean_k"
        " THEN round(mean_k * mean_k / (var_k - mean_k), 6) END AS nb_r",
        "CASE WHEN var_k > mean_k"
        " THEN round(mean_k / var_k, 6) END AS nb_p",
    )


# ---------------------------------------------------------------------------
# agg_calibration_brier
# ---------------------------------------------------------------------------


@query(
    "agg_calibration_brier",
    oracle="""
    WITH b AS (
      SELECT CAST(floor(value) AS BIGINT) AS vb,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events),
    dom AS (
      SELECT vb, CAST(count(*) AS BIGINT) AS c, CAST(sum(y) AS BIGINT) AS p
      FROM b GROUP BY vb),
    cum AS (
      SELECT vb, c, p,
             CAST(coalesce(sum(c) OVER (ORDER BY vb
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS cb,
             CAST((SELECT sum(c) FROM dom) AS BIGINT) AS n
      FROM dom),
    scored AS (
      SELECT vb, c, p, n,
             CAST(2 * cb + c + 1 AS BIGINT) AS r2,
             (2.0 * cb + c + 1) / (2.0 * n) AS score
      FROM cum),
    binned AS (
      SELECT CAST(least(9, CAST(floor(score * 10) AS BIGINT)) AS BIGINT)
               AS bin,
             CAST(sum(c) AS BIGINT) AS n_rows,
             CAST(sum(p) AS BIGINT) AS n_pos,
             sum(CAST(round(score * c, 9) AS DECIMAL(28,9))) AS ssum,
             sum(CAST(round((score - 1.0) * (score - 1.0), 9)
                      AS DECIMAL(28,9)) * p
                 + CAST(round(score * score, 9) AS DECIMAL(28,9))
                   * (c - p)) AS brier_sum
      FROM scored GROUP BY 1)
    SELECT bin,
           n_rows, n_pos,
           round(CAST(ssum AS DOUBLE) / n_rows, 6) AS mean_score,
           round(CAST(n_pos AS DOUBLE) / n_rows, 6) AS observed_rate,
           round(CAST(brier_sum AS DOUBLE) / n_rows, 6) AS brier_in_bin
    FROM binned
    """,
)
def agg_calibration_brier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALIBRATION / RELIABILITY TABLE with per-bin Brier score for a
    rank-based scorer: "predicted probability" = each event's VALUE
    PERCENTILE (the monotone score a thresholding monitor implicitly
    uses), outcome = is-purchase. Per score decile: mean predicted
    score vs observed positive rate — the reliability diagram's data
    — and the bin's Brier contribution. A well-calibrated score has
    mean_score ~ observed_rate per bin; the fixture's independent
    value/type coupling shows flat observed rates, which is the
    audit's correct verdict (the scorer carries no signal, exactly
    what agg_decision_stump_gini found).

    Rank percentiles come from the value-DOMAIN doubled-rank trick
    (exact rationals, no per-row sort); per-row Brier terms are
    identical per DOMAIN CELL, so they quantize round(9) into DECIMAL
    once per cell and multiply by exact class counts — the whole
    Brier sum is order-independent decimal arithmetic. One groupBy to
    the domain, one bounded cumulative window, one decile aggregate."""
    ev = table(spark, sf_dir, "events")
    b = ev.select(
        F.expr("CAST(floor(value) AS BIGINT)").alias("vb"),
        F.expr(
            "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END"
        ).alias("y"),
    )
    dom = b.groupBy("vb").agg(
        F.count("*").cast("bigint").alias("c"),
        F.sum("y").cast("bigint").alias("p"),
    )
    tot = dom.agg(F.sum("c").cast("bigint").alias("n"))
    wd = Window.orderBy("vb").rowsBetween(Window.unboundedPreceding, -1)
    cum = dom.select(
        "vb",
        "c",
        "p",
        F.coalesce(F.sum("c").over(wd), F.lit(0)).cast("bigint").alias("cb"),
    ).crossJoin(F.broadcast(tot))
    scored = cum.selectExpr(
        "vb", "c", "p", "n",
        "(2.0 * cb + c + 1) / (2.0 * n) AS score",
    )
    binned = scored.groupBy(
        F.expr(
            "CAST(least(9, CAST(floor(score * 10) AS BIGINT)) AS BIGINT)"
        ).alias("bin")
    ).agg(
        F.sum("c").cast("bigint").alias("n_rows"),
        F.sum("p").cast("bigint").alias("n_pos"),
        F.sum(
            F.expr("CAST(round(score * c, 9) AS DECIMAL(28,9))")
        ).alias("ssum"),
        F.sum(
            F.expr(
                "CAST(round((score - 1.0) * (score - 1.0), 9)"
                " AS DECIMAL(28,9)) * p"
                " + CAST(round(score * score, 9) AS DECIMAL(28,9))"
                " * (c - p)"
            )
        ).alias("brier_sum"),
    )
    return binned.selectExpr(
        "bin",
        "n_rows",
        "n_pos",
        "round(CAST(ssum AS DOUBLE) / n_rows, 6) AS mean_score",
        "round(CAST(n_pos AS DOUBLE) / n_rows, 6) AS observed_rate",
        "round(CAST(brier_sum AS DOUBLE) / n_rows, 6) AS brier_in_bin",
    )


# ---------------------------------------------------------------------------
# agg_psi_drift
# ---------------------------------------------------------------------------

_PSI_EPS = "0.000001"  # zero-bin guard, identical literal on both engines


@query(
    "agg_psi_drift",
    oracle=f"""
    WITH ev2 AS (
      SELECT CAST(round(value * 100, 0) AS BIGINT) AS vc,
             CASE WHEN epoch_us(ts) * 2 <=
                  (SELECT min(epoch_us(ts)) + max(epoch_us(ts)) FROM events)
                  THEN 1 ELSE 0 END AS in_a
      FROM events),
    dom AS (
      SELECT vc,
             CAST(sum(in_a) AS BIGINT) AS ca,
             CAST(sum(1 - in_a) AS BIGINT) AS cb
      FROM ev2 GROUP BY vc),
    tot AS (
      SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
      FROM dom),
    cum AS (
      SELECT vc, ca, cb,
             CAST(coalesce(sum(ca) OVER (ORDER BY vc
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS cal
      FROM dom),
    binned AS (
      SELECT least(9, 10 * cum.cal // tot.na) AS bin,
             CAST(sum(ca) AS BIGINT) AS n_a,
             CAST(sum(cb) AS BIGINT) AS n_b,
             max(tot.na) AS na, max(tot.nb) AS nb
      FROM cum CROSS JOIN tot GROUP BY 1),
    terms AS (
      SELECT bin, n_a, n_b,
             round(CAST(n_a AS DOUBLE) / na, 6) AS pct_a,
             round(CAST(n_b AS DOUBLE) / nb, 6) AS pct_b,
             CAST(round(
               (greatest(CAST(n_a AS DOUBLE) / na, {_PSI_EPS})
                - greatest(CAST(n_b AS DOUBLE) / nb, {_PSI_EPS}))
               * ln(greatest(CAST(n_a AS DOUBLE) / na, {_PSI_EPS})
                    / greatest(CAST(n_b AS DOUBLE) / nb, {_PSI_EPS})),
               9) AS DECIMAL(28,9)) AS term
      FROM binned)
    SELECT bin, n_a, n_b, pct_a, pct_b,
           round(CAST(term AS DOUBLE), 6) AS psi_term,
           round(CAST(sum(term) OVER () AS DOUBLE), 6) AS psi_total
    FROM terms
    """,
)
def agg_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POPULATION STABILITY INDEX — the industry-standard
    feature-drift metric in ML monitoring: the event stream splits at
    its midpoint timestamp into reference (A) and current (B)
    periods, B's value distribution is binned by A's DECILES, and
    PSI = sum((pa - pb) * ln(pa/pb)) over the 10 bins (rule of thumb:
    < 0.1 stable, > 0.25 drifted — the fixture's stationary generator
    should land near 0, which is the audit's correct baseline).
    Emitted per bin with the total, so the drift's LOCATION is
    visible, not just its size.

    Decile binning without any sort of the data: values quantize to
    integer cents, collapse to the value DOMAIN with per-period
    counts, one cumulative window over the domain gives A's CDF, and
    bin = least(9, 10*cumA div nA) — exact integer arithmetic (the
    period split itself is an integer cross-multiplication of epoch
    bounds). Per-bin PSI terms quantize round(9) into DECIMAL before
    the 10-term sum; the 1e-6 zero-bin guard is the standard PSI
    convention, identical text both engines."""
    ev = table(spark, sf_dir, "events")
    piv = ev.agg(
        (F.min(F.unix_micros("ts")) + F.max(F.unix_micros("ts")))
        .cast("bigint")
        .alias("pv")
    )
    ev2 = ev.crossJoin(F.broadcast(piv)).select(
        F.expr("CAST(round(value * 100, 0) AS BIGINT)").alias("vc"),
        F.expr(
            "CASE WHEN unix_micros(ts) * 2 <= pv THEN 1 ELSE 0 END"
        ).alias("in_a"),
    )
    dom = ev2.groupBy("vc").agg(
        F.sum("in_a").cast("bigint").alias("ca"),
        F.sum(1 - F.col("in_a")).cast("bigint").alias("cb"),
    )
    tot = dom.agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
    )
    wd = Window.orderBy("vc").rowsBetween(Window.unboundedPreceding, -1)
    cum = dom.select(
        "vc",
        "ca",
        "cb",
        F.coalesce(F.sum("ca").over(wd), F.lit(0)).cast("bigint").alias("cal"),
    )
    binned = (
        cum.crossJoin(F.broadcast(tot))
        .groupBy(F.expr("least(9, 10 * cal div na)").alias("bin"))
        .agg(
            F.sum("ca").cast("bigint").alias("n_a"),
            F.sum("cb").cast("bigint").alias("n_b"),
            F.max("na").alias("na"),
            F.max("nb").alias("nb"),
        )
    )
    terms = binned.selectExpr(
        "bin",
        "n_a",
        "n_b",
        "round(CAST(n_a AS DOUBLE) / na, 6) AS pct_a",
        "round(CAST(n_b AS DOUBLE) / nb, 6) AS pct_b",
        f"""CAST(round(
          (greatest(CAST(n_a AS DOUBLE) / na, {_PSI_EPS})
           - greatest(CAST(n_b AS DOUBLE) / nb, {_PSI_EPS}))
          * ln(greatest(CAST(n_a AS DOUBLE) / na, {_PSI_EPS})
               / greatest(CAST(n_b AS DOUBLE) / nb, {_PSI_EPS})),
          9) AS DECIMAL(28,9)) AS term""",
    )
    w_all = Window.partitionBy()
    return terms.select(
        "bin",
        "n_a",
        "n_b",
        "pct_a",
        "pct_b",
        F.round(F.col("term").cast("double"), 6).alias("psi_term"),
        F.round(F.sum("term").over(w_all).cast("double"), 6).alias(
            "psi_total"
        ),
    )


# ---------------------------------------------------------------------------
# agg_runs_test_randomness
# ---------------------------------------------------------------------------


@query(
    "agg_runs_test_randomness",
    oracle="""
    WITH med AS (
      SELECT CAST(round(value * 100, 0) AS BIGINT) AS vc FROM events),
    dom AS (SELECT vc, CAST(count(*) AS BIGINT) AS c FROM med GROUP BY vc),
    cum AS (
      SELECT vc, c,
             CAST(coalesce(sum(c) OVER (ORDER BY vc
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS cb,
             CAST((SELECT sum(c) FROM dom) AS BIGINT) AS n
      FROM cum_src),
    cum_src AS (SELECT * FROM dom),
    m AS (
      SELECT min(vc) AS median_c
      FROM cum WHERE cb < (n + 1) / 2 AND (n + 1) / 2 <= cb + c),
    seq AS (
      SELECT user_id,
             CASE WHEN CAST(round(value * 100, 0) AS BIGINT)
                       > (SELECT median_c FROM m) THEN 1 ELSE 0 END AS s,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn,
             lag(CASE WHEN CAST(round(value * 100, 0) AS BIGINT)
                      > (SELECT median_c FROM m) THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_s
      FROM events),
    st AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(s) AS BIGINT) AS n1,
             CAST(count(*) - sum(s) AS BIGINT) AS n2,
             CAST(sum(CASE WHEN prev_s IS NULL OR s <> prev_s
                           THEN 1 ELSE 0 END) AS BIGINT) AS runs
      FROM seq)
    SELECT n, n1, n2, runs,
           round(1.0 + 2.0 * CAST(n1 AS DOUBLE) * n2 / n, 6) AS expected_runs,
           round((runs - (1.0 + 2.0 * CAST(n1 AS DOUBLE) * n2 / n))
                 / sqrt(2.0 * CAST(n1 AS DOUBLE) * n2 * (2.0 * CAST(n1 AS DOUBLE) * n2 - n)
                        / (CAST(n AS DOUBLE) * n * (n - 1))), 6) AS z_stat
    FROM st
    """,
)
def agg_runs_test_randomness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WALD-WOLFOWITZ RUNS TEST for serial randomness: dichotomize
    every event value against the GLOBAL median (above/below), count
    the runs of equal signs along each user's time order (a new run
    starts at each user's first event — per-user series are
    independent), and compare to the expected run count under
    exchangeability. |z| >> 2 means values cluster in time (positive
    serial dependence — bursts) or alternate too regularly; the
    autocorrelation ops measure the SIZE of dependence, this one
    needs no distributional assumptions at all.

    Exactness: the median is an exact order statistic on the integer-
    cent value DOMAIN (rank-interval containment, no interpolation);
    signs, run boundaries (lag inequality) and all four counts are
    exact integers; expected runs and z evaluate one shared double
    expression, round(6). One domain cumsum + one user-partitioned
    lag window."""
    ev = table(spark, sf_dir, "events")
    dom = ev.select(
        F.expr("CAST(round(value * 100, 0) AS BIGINT)").alias("vc")
    ).groupBy("vc").agg(F.count("*").cast("bigint").alias("c"))
    tot = dom.agg(F.sum("c").cast("bigint").alias("n"))
    wd = Window.orderBy("vc").rowsBetween(Window.unboundedPreceding, -1)
    cum = dom.select(
        "vc",
        "c",
        F.coalesce(F.sum("c").over(wd), F.lit(0)).cast("bigint").alias("cb"),
    ).crossJoin(F.broadcast(tot))
    med = cum.where(
        (F.col("cb") < (F.col("n") + 1) / 2)
        & ((F.col("n") + 1) / 2 <= F.col("cb") + F.col("c"))
    ).agg(F.min("vc").alias("median_c"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s_expr = F.expr(
        "CASE WHEN CAST(round(value * 100, 0) AS BIGINT) > median_c"
        " THEN 1 ELSE 0 END"
    )
    seq = ev.crossJoin(F.broadcast(med)).select(
        s_expr.alias("s"), F.lag(s_expr).over(w).alias("prev_s")
    )
    st = seq.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("s").cast("bigint").alias("n1"),
        (F.count("*") - F.sum("s")).cast("bigint").alias("n2"),
        F.sum(
            F.when(
                F.col("prev_s").isNull() | (F.col("s") != F.col("prev_s")), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("runs"),
    )
    return st.selectExpr(
        "n",
        "n1",
        "n2",
        "runs",
        "round(1.0 + 2.0 * CAST(n1 AS DOUBLE) * n2 / n, 6) AS expected_runs",
        "round((runs - (1.0 + 2.0 * CAST(n1 AS DOUBLE) * n2 / n))"
        " / sqrt(2.0 * CAST(n1 AS DOUBLE) * n2 * (2.0 * CAST(n1 AS DOUBLE) * n2 - n)"
        " / (CAST(n AS DOUBLE) * n * (n - 1))), 6) AS z_stat",
    )


# ---------------------------------------------------------------------------
# agg_interarrival_exp_fit
# ---------------------------------------------------------------------------


@query(
    "agg_interarrival_exp_fit",
    oracle="""
    WITH gaps AS (
      SELECT CAST(epoch_us(ts) - lag(epoch_us(ts)) OVER
                  (PARTITION BY user_id ORDER BY ts, event_id)
                  AS BIGINT) AS g
      FROM events
      QUALIFY g IS NOT NULL),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(g) AS BIGINT) AS sg
      FROM gaps),
    dom AS (SELECT g, CAST(count(*) AS BIGINT) AS c FROM gaps GROUP BY g),
    cum AS (
      SELECT g, CAST(sum(c) OVER (ORDER BY g ROWS UNBOUNDED PRECEDING)
                     AS BIGINT) AS cle
      FROM dom),
    d AS (
      SELECT max(abs(CAST(cum.cle AS DOUBLE) / s.n
                     - (1.0 - exp(-(CAST(s.n AS DOUBLE) / s.sg)
                                  * cum.g)))) AS ks
      FROM cum CROSS JOIN s)
    SELECT s.n AS n_gaps,
           round(CAST(s.sg AS DOUBLE) / s.n / 1000000.0, 6)
             AS mean_gap_sec,
           round(CAST(s.n AS DOUBLE) / s.sg * 1000000.0, 9)
             AS lambda_per_sec,
           round(d.ks, 6) AS ks_distance
    FROM s CROSS JOIN d
    """,
)
def agg_interarrival_exp_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARRIVAL-PROCESS VALIDATION: fit an exponential law to per-user
    inter-event gaps (MLE lambda = 1/mean) and measure the
    Kolmogorov-Smirnov distance between the empirical gap CDF and the
    fitted CDF — the test behind every "assume Poisson arrivals"
    capacity model (a large KS distance says the arrival process is
    bursty/heavy-tailed and exponential-based queue math will lie;
    pairs with agg_overdispersion_nb_fit, which diagnoses the COUNT
    side of the same assumption).

    Exactness: gaps are exact integer microseconds (per-user lag over
    the pinned order); the empirical CDF lives on the gap VALUE
    DOMAIN (one bounded cumulative window — the agg_ks_test_two_sample
    discipline), so the KS max runs over domain cells, not rows. The
    fitted-CDF term evaluates one shared transcendental expression
    per cell; a cross-libm exp() ulp flip perturbs the max by ~1e-16,
    ten orders under round(6). lambda reports at round(9) (it is
    ~1e-5/sec on this fixture)."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        ev.select(
            (
                F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
            ).alias("g")
        )
        .where(F.col("g").isNotNull())
    )
    s = gaps.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("g").cast("bigint").alias("sg"),
    )
    dom = gaps.groupBy("g").agg(F.count("*").cast("bigint").alias("c"))
    wd = Window.orderBy("g").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = dom.select(
        "g", F.sum("c").over(wd).cast("bigint").alias("cle")
    )
    d = cum.crossJoin(F.broadcast(s)).agg(
        F.max(
            F.expr(
                "abs(CAST(cle AS DOUBLE) / n"
                " - (1.0 - exp(-(CAST(n AS DOUBLE) / sg) * g)))"
            )
        ).alias("ks")
    )
    return s.crossJoin(F.broadcast(d)).selectExpr(
        "n AS n_gaps",
        "round(CAST(sg AS DOUBLE) / n / 1000000.0, 6) AS mean_gap_sec",
        "round(CAST(n AS DOUBLE) / sg * 1000000.0, 9) AS lambda_per_sec",
        "round(ks, 6) AS ks_distance",
    )


# ---------------------------------------------------------------------------
# agg_seasonality_strength
# ---------------------------------------------------------------------------


@query(
    "agg_seasonality_strength",
    oracle="""
    WITH b AS (
      SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr,
             CAST(round(value * 100, 0) AS BIGINT) AS vc
      FROM events),
    hc AS (
      SELECT event_type, hr,
             CAST(count(*) AS BIGINT) AS c, CAST(sum(vc) AS BIGINT) AS sv,
             CAST(sum(vc * vc) AS BIGINT) AS svv
      FROM b GROUP BY event_type, hr),
    t AS (
      SELECT event_type,
             CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(sv) AS BIGINT) AS s,
             CAST(sum(svv) AS BIGINT) AS ss,
             CAST(sum(CAST(round(CAST(sv AS DOUBLE) * sv / c, 9)
                           AS DECIMAL(28,9))) AS DOUBLE) AS sb
      FROM hc GROUP BY event_type)
    SELECT event_type, n,
           round((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / n
                 / 10000.0, 6) AS var_total,
           round((sb - CAST(s AS DOUBLE) * s / n) / n / 10000.0, 6)
             AS var_seasonal,
           round((sb - CAST(s AS DOUBLE) * s / n)
                 / (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n), 6)
             AS seasonality_strength
    FROM t
    """,
)
def agg_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEASONALITY STRENGTH per event type — the variance share
    explained by the hour-of-day profile (between-hour variance /
    total variance, the eta-squared of the one-way seasonal
    decomposition): the one number that says whether a forecaster
    should bother with a seasonal component (win_seasonal_naive_mae
    measures a chosen seasonal model's error; this measures how much
    seasonality EXISTS). Near 0 on this fixture's stationary
    generator — the correct audit baseline.

    Exactness: values quantize to integer cents, so per-(type, hour)
    count/sum/sum-of-squares are exact BIGINTs; the between-group sum
    sum(sv^2/c) and the three variance expressions share double text
    over those exact integers (round 6 at the end; the /10000 undoes
    the cents scaling on the variance read-outs). One (type, hour)
    aggregate — 120 cells — then a type-sized reduce; no window, no
    second scan."""
    ev = table(spark, sf_dir, "events")
    b = ev.select(
        "event_type",
        F.hour("ts").cast("bigint").alias("hr"),
        F.expr("CAST(round(value * 100, 0) AS BIGINT)").alias("vc"),
    )
    hc = b.groupBy("event_type", "hr").agg(
        F.count("*").cast("bigint").alias("c"),
        F.sum("vc").cast("bigint").alias("sv"),
        F.sum(F.col("vc") * F.col("vc")).cast("bigint").alias("svv"),
    )
    t = hc.groupBy("event_type").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum("sv").cast("bigint").alias("s"),
        F.sum("svv").cast("bigint").alias("ss"),
        F.sum(
            F.expr(
                "CAST(round(CAST(sv AS DOUBLE) * sv / c, 9)"
                " AS DECIMAL(28,9))"
            )
        )
        .cast("double")
        .alias("sb"),
    )
    return t.selectExpr(
        "event_type",
        "n",
        "round((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / n"
        " / 10000.0, 6) AS var_total",
        "round((sb - CAST(s AS DOUBLE) * s / n) / n / 10000.0, 6)"
        " AS var_seasonal",
        "round((sb - CAST(s AS DOUBLE) * s / n)"
        " / (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n), 6)"
        " AS seasonality_strength",
    )
