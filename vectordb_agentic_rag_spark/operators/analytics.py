"""Corpus-analytics and evaluation operators (SURVEY.md §2B north-star
additions, round 6 second wave).

These extend the LLM-data-pipeline surface past the reference's own
operator set (the reference's retrieval loop is app.py:248-374; its
corpus is whatever Qdrant holds): collocation mining, retrieval
evaluation, market-basket co-occurrence, time-weighted resampling and
weighted hybrid fusion — the queries a team curating a 100 TB corpus
runs *around* the ingest/retrieve core.

Float-parity discipline (CLAUDE.md): group sums of doubles accumulate
as DECIMAL so they are order-independent across engines; every output
double is round(6)'d with the same expression shape on both sides;
ranking keys prefer exact integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..tables import session_artifact, table
from .rag import _BM25_B, _BM25_K1, _BM25_TERMS, _KEYWORDS

# ---------------------------------------------------------------------------
# text_pmi_collocations
# ---------------------------------------------------------------------------

_PMI_MIN_COUNT = 5


@query(
    "text_pmi_collocations",
    oracle=f"""
    WITH toks AS (SELECT string_split(text, ' ') AS tk FROM documents),
    uni AS (
      SELECT w, count(*) AS cw
      FROM (SELECT unnest(tk) AS w FROM toks) z GROUP BY w),
    bg AS (
      SELECT list_extract(tk, i) AS w1, list_extract(tk, i + 1) AS w2
      FROM toks, LATERAL unnest(generate_series(1, len(tk) - 1)) AS t(i)
      WHERE len(tk) >= 2),
    pc AS (SELECT w1, w2, count(*) AS pair_count FROM bg GROUP BY 1, 2),
    tot AS (
      SELECT CAST((SELECT sum(len(tk)) FROM toks) AS BIGINT) AS n_tok,
             CAST((SELECT sum(len(tk) - 1) FROM toks WHERE len(tk) >= 2)
                  AS BIGINT) AS n_bg)
    SELECT w1, w2, pair_count,
           round(ln((pair_count / n_bg)
                    / ((u1.cw / n_tok) * (u2.cw / n_tok))), 6) AS pmi
    FROM pc
    JOIN uni u1 ON pc.w1 = u1.w
    JOIN uni u2 ON pc.w2 = u2.w
    CROSS JOIN tot
    WHERE pair_count >= {_PMI_MIN_COUNT}
    ORDER BY pmi DESC, w1, w2
    LIMIT 50
    """,
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINTWISE-MUTUAL-INFORMATION collocation mining over adjacent
    token pairs — the standard phrase detector (word2vec's phrase pass,
    Mikolov et al. 2013 §4) a corpus pipeline runs before tokenizer
    training: PMI = ln(p(w1,w2) / (p(w1) p(w2))) with a min-count
    support gate against low-frequency noise.

    Shape at scale: one map pass emits unigrams and bigrams, two
    vocabulary-sized hash aggregates (map-side partial combine does
    the heavy lifting — corpus rows collapse to vocab rows before the
    shuffle), then the pair table joins the unigram table twice. The
    unigram side is broadcast (a vocabulary fits an executor even for
    web-scale corpora; the PAIR table is the big side and never
    shuffles again). Top-50 plans as TakeOrderedAndProject.

    Parity: counts are exact integers; the single PMI expression has
    the identical nesting on both engines so the doubles agree bit-wise
    before the one round(6)."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(F.split("text", " ").alias("tk"))
    uni = (
        toks.select(F.explode("tk").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cw"))
    )
    bg = (
        toks.where(F.size("tk") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(tk) - 1), "
                    "i -> struct(element_at(tk, i) AS w1, "
                    "element_at(tk, i + 1) AS w2))"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
    )
    pc = bg.groupBy("w1", "w2").agg(F.count("*").alias("pair_count"))
    tot = toks.agg(
        F.sum(F.size("tk")).cast("bigint").alias("n_tok"),
        F.sum(
            F.when(F.size("tk") >= 2, F.size("tk") - 1)
        ).cast("bigint").alias("n_bg"),
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("cw").alias("cw1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("cw").alias("cw2"))
    pmi = F.round(
        F.log(
            (F.col("pair_count") / F.col("n_bg"))
            / ((F.col("cw1") / F.col("n_tok")) * (F.col("cw2") / F.col("n_tok")))
        ),
        6,
    )
    return (
        pc.where(F.col("pair_count") >= _PMI_MIN_COUNT)
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", "pair_count", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# agg_copurchase_pairs
# ---------------------------------------------------------------------------

_PAIR_MIN_SUPPORT = 2


@query(
    "agg_copurchase_pairs",
    oracle=f"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    freq AS (
      SELECT l_partkey FROM li GROUP BY l_partkey
      HAVING count(*) >= {_PAIR_MIN_SUPPORT}),
    lif AS (SELECT li.* FROM li JOIN freq USING (l_partkey)),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             count(*) AS support
      FROM lif a JOIN lif b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2)
    SELECT part_a, part_b, support FROM pairs
    WHERE support >= {_PAIR_MIN_SUPPORT}
    ORDER BY support DESC, part_a, part_b
    LIMIT 100
    """,
)
def agg_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FREQUENT-PAIR mining (market-basket / SON first phase): parts
    co-occurring in the same order with support >= s, top-100. The
    recommendation-precompute every commerce warehouse runs nightly,
    and the same shape as co-citation / co-occurrence graph builds
    over document corpora.

    Scale design — the Apriori monotonicity prefilter is the whole
    game: a pair's support cannot exceed either item's support, so
    items in fewer than s baskets are removed BEFORE the per-basket
    self-join (exact, not heuristic — no qualifying pair is lost).
    That caps the join's per-basket fan-out at (frequent items per
    basket choose 2); both join sides hash-partition on the basket key
    (orderkey) so the pair explosion stays co-located and the only
    wide shuffle is the vocabulary-sized pair aggregate (map-side
    combined). Top-100 plans as TakeOrderedAndProject."""
    li = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    freq = (
        li.groupBy("l_partkey")
        .agg(F.count("*").alias("n_ord"))
        .where(F.col("n_ord") >= _PAIR_MIN_SUPPORT)
        .select("l_partkey")
    )
    lif = li.join(F.broadcast(freq), "l_partkey")
    a = lif.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a")
    )
    b = lif.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_b")
    )
    return (
        a.join(b, ["ok"])
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("support"))
        .where(F.col("support") >= _PAIR_MIN_SUPPORT)
        .orderBy(F.col("support").desc(), "part_a", "part_b")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# win_time_weighted_avg
# ---------------------------------------------------------------------------


@query(
    "win_time_weighted_avg",
    oracle="""
    WITH e AS (
      SELECT user_id, CAST(ts AS DATE) AS day, epoch_us(ts) AS us, value,
             event_id,
             lead(epoch_us(ts)) OVER (
               PARTITION BY user_id, CAST(ts AS DATE)
               ORDER BY ts, event_id) AS nxt
      FROM events),
    g AS (
      SELECT user_id, day, (nxt - us) // 1000 AS gap_ms,
             CAST(value AS DECIMAL(18,6)) AS vd
      FROM e WHERE nxt IS NOT NULL)
    SELECT user_id, day, count(*) AS n_intervals,
           CASE WHEN sum(gap_ms) > 0
                THEN round(CAST(sum(vd * gap_ms) AS DOUBLE)
                           / CAST(sum(gap_ms) AS DOUBLE), 6)
           END AS twap
    FROM g GROUP BY user_id, day
    """,
)
def win_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-WEIGHTED average (TWAP) of `value` per (user, day): each
    observation is held until the next one and weighted by its holding
    time — the correct daily average for irregularly-sampled series
    (sensor readings, prices, gauges), where the naive avg() over-
    weights bursts. The last observation of a day carries no interval.

    One shuffle on user_id drives both the lead() window and the
    (user, day) aggregate. Parity discipline: holding times are exact
    integer milliseconds (truncating division, non-negative on both
    engines); values accumulate as DECIMAL(18,6) so the weighted sum
    is order-independent (the win_rolling_slope discipline); one
    round(6) after the final division; zero-length days (all events in
    the same millisecond) yield NULL on both sides."""
    ev = table(spark, sf_dir, "events")
    day = F.to_date("ts").alias("day")
    # us == unix_micros(ts): ordering by (us, event_id) is the same total
    # order as (ts, event_id), so ts itself need not survive the select
    w = Window.partitionBy("user_id", "day").orderBy("us", "event_id")
    e = ev.select(
        "user_id", day, F.unix_micros("ts").alias("us"), "value", "event_id"
    ).select(
        "user_id",
        "day",
        "us",
        "value",
        F.lead("us").over(w).alias("nxt"),
    )
    g = e.where(F.col("nxt").isNotNull()).select(
        "user_id",
        "day",
        F.expr("(nxt - us) div 1000").alias("gap_ms"),
        F.col("value").cast("decimal(18,6)").alias("vd"),
    )
    agg = g.groupBy("user_id", "day").agg(
        F.count("*").alias("n_intervals"),
        F.sum(F.col("vd") * F.col("gap_ms")).alias("num"),
        F.sum("gap_ms").alias("den"),
    )
    return agg.select(
        "user_id",
        "day",
        "n_intervals",
        F.when(
            F.col("den") > 0,
            F.round(
                F.col("num").cast("double") / F.col("den").cast("double"), 6
            ),
        ).alias("twap"),
    )


# ---------------------------------------------------------------------------
# rag_hybrid_weighted_fusion
# ---------------------------------------------------------------------------

_FUSION_ALPHA = 0.7  # dense/sparse mix weight (standard hybrid-search knob)


def _bm25_scored_duck() -> str:
    """DuckDB CTE body: (doc_id, s) = rounded BM25 score per document —
    the same scorer as rag.py's rag_bm25_topk oracle."""
    return f"""
    toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    stats AS (
      SELECT count(*) AS n_docs, avg(len(tk)) AS avgdl,
             {', '.join(
                 f"sum(CASE WHEN list_contains(tk, '{t}') THEN 1 ELSE 0 END) AS df_{i}"
                 for i, t in enumerate(_KEYWORDS))}
      FROM toks),
    scored AS (
      SELECT doc_id,
             round({' + '.join(
                 f"(ln(1 + (n_docs - df_{i} + 0.5) / (df_{i} + 0.5)) * "
                 f"(len(list_filter(tk, x -> x = '{t}')) * ({_BM25_K1} + 1)) / "
                 f"(len(list_filter(tk, x -> x = '{t}')) + {_BM25_K1} * "
                 f"(1 - {_BM25_B} + {_BM25_B} * len(tk) / avgdl)))"
                 for i, t in enumerate(_KEYWORDS))}, 6) AS s,
             CAST(len(list_filter({_KEYWORDS}, kw -> list_contains(tk, kw)))
                  AS BIGINT) AS ov
      FROM toks CROSS JOIN stats)"""


def _bm25_scored_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, s, ov): rounded BM25 score + keyword-overlap count —
    the Spark twin of _bm25_scored_duck (rag.py's scorer shape)."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("tk"))
    tf = lambda t: F.size(F.filter("tk", lambda x: x == F.lit(t)))  # noqa: E731
    stats = toks.agg(
        F.count("*").alias("n_docs"),
        F.avg(F.size("tk")).alias("avgdl"),
        *[
            F.sum(F.array_contains("tk", t).cast("bigint")).alias(f"df_{i}")
            for i, t in enumerate(_BM25_TERMS)
        ],
    )
    dl = F.size("tk")
    score = None
    for i, t in enumerate(_BM25_TERMS):
        idf = F.log(
            1
            + (F.col("n_docs") - F.col(f"df_{i}") + 0.5) / (F.col(f"df_{i}") + 0.5)
        )
        term = (
            idf
            * (tf(t) * (_BM25_K1 + 1))
            / (tf(t) + _BM25_K1 * (1 - _BM25_B + _BM25_B * dl / F.col("avgdl")))
        )
        score = term if score is None else score + term
    kw_arr = F.array(*[F.lit(k) for k in _KEYWORDS])
    ov = F.size(F.filter(kw_arr, lambda kw: F.array_contains("tk", kw)))
    return toks.crossJoin(F.broadcast(stats)).select(
        "doc_id",
        F.round(score, 6).alias("s"),
        ov.cast("bigint").alias("ov"),
    )


@query(
    "rag_hybrid_weighted_fusion",
    oracle=f"""
    WITH {_bm25_scored_duck()},
    rng AS (
      SELECT min(s) AS min_s, max(s) AS max_s,
             min(ov) AS min_o, max(ov) AS max_o
      FROM scored)
    SELECT doc_id, s AS bm25_score, ov AS kw_overlap,
           round({_FUSION_ALPHA} * (CASE WHEN max_s > min_s
                      THEN (s - min_s) / (max_s - min_s) ELSE 0.0 END)
                 + {1 - _FUSION_ALPHA} * (CASE WHEN max_o > min_o
                      THEN (ov - min_o) / CAST(max_o - min_o AS DOUBLE)
                      ELSE 0.0 END), 6) AS hybrid
    FROM scored CROSS JOIN rng
    ORDER BY hybrid DESC, doc_id
    LIMIT 10
    """,
)
def rag_hybrid_weighted_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED-SCORE hybrid fusion — the other standard fusion next to
    RRF (rag_rrf_fusion): min-max normalize each retriever's score to
    [0,1], then blend with a fixed alpha (0.7 sparse BM25 + 0.3
    keyword-overlap here; the reference's hybrid loop concatenates the
    two result lists instead, app.py:348-374 — score fusion is what a
    real engine does with calibrated scores).

    The normalization bounds come from ONE tiny aggregate broadcast
    back over the scored scan — not a global window (which would sort
    the world on one partition); at 100 TB each retriever contributes
    only its top-k frontier and min-max runs over k+k rows. Top-10 is
    TakeOrderedAndProject. Scores are round(6)'d BEFORE normalization
    so both engines normalize identical doubles."""
    scored = _bm25_scored_spark(spark, sf_dir)
    rng = scored.agg(
        F.min("s").alias("min_s"),
        F.max("s").alias("max_s"),
        F.min("ov").alias("min_o"),
        F.max("ov").alias("max_o"),
    )
    bn = F.when(
        F.col("max_s") > F.col("min_s"),
        (F.col("s") - F.col("min_s")) / (F.col("max_s") - F.col("min_s")),
    ).otherwise(0.0)
    on_ = F.when(
        F.col("max_o") > F.col("min_o"),
        (F.col("ov") - F.col("min_o"))
        / (F.col("max_o") - F.col("min_o")).cast("double"),
    ).otherwise(0.0)
    return (
        scored.crossJoin(F.broadcast(rng))
        .select(
            "doc_id",
            F.col("s").alias("bm25_score"),
            F.col("ov").alias("kw_overlap"),
            F.round(_FUSION_ALPHA * bn + (1 - _FUSION_ALPHA) * on_, 6).alias(
                "hybrid"
            ),
        )
        .orderBy(F.col("hybrid").desc(), "doc_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# text_zipf_slope
# ---------------------------------------------------------------------------


@query(
    "text_zipf_slope",
    oracle="""
    WITH cnt AS (
      SELECT lang, w, count(*) AS c
      FROM (SELECT lang, unnest(string_split(text, ' ')) AS w
            FROM documents) z
      GROUP BY lang, w),
    ranked AS (
      SELECT lang, c,
             row_number() OVER (PARTITION BY lang
                                ORDER BY c DESC, w) AS rnk
      FROM cnt),
    xy AS (
      SELECT lang,
             CAST(round(ln(CAST(rnk AS DOUBLE)), 9) AS DECIMAL(18,9)) AS x,
             CAST(round(ln(CAST(c AS DOUBLE)), 9) AS DECIMAL(18,9)) AS y
      FROM ranked WHERE rnk <= 1000),
    s AS (
      SELECT lang, count(*) AS n,
             CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(x * y) AS DOUBLE) AS sxy,
             CAST(sum(x * x) AS DOUBLE) AS sxx
      FROM xy GROUP BY lang)
    SELECT lang, n AS n_terms,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope
    FROM s
    """,
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIPF-LAW fit per language: OLS slope of ln(frequency) on
    ln(rank) over the top-1000 vocabulary — the classic corpus sanity
    check (natural text slopes ~ -1; generated/boilerplate corpora
    drift far off, making this a cheap synthetic-data detector next to
    text_entropy_per_lang).

    One vocabulary aggregate (map-side combined — corpus tokens
    collapse to vocab rows before the shuffle), a per-lang top-1000
    window over the *vocabulary* (bounded rows, never the corpus),
    then five frame sums. Parity discipline: ln values are quantized
    round(9) then accumulated as DECIMAL(18,9) so the group sums are
    order-independent (the win_rolling_slope discipline — a 1-ulp libm
    difference is 1e-6 of the quantization grid and cannot flip the
    final round(6) through the slope division)."""
    d = table(spark, sf_dir, "documents")
    cnt = (
        d.select("lang", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count("*").alias("c"))
    )
    wr = Window.partitionBy("lang").orderBy(F.col("c").desc(), "w")
    xy = (
        cnt.withColumn("rnk", F.row_number().over(wr))
        .where(F.col("rnk") <= 1000)
        .select(
            "lang",
            F.round(F.log(F.col("rnk").cast("double")), 9)
            .cast("decimal(18,9)")
            .alias("x"),
            F.round(F.log(F.col("c").cast("double")), 9)
            .cast("decimal(18,9)")
            .alias("y"),
        )
    )
    s = xy.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        "lang", F.col("n").alias("n_terms"), F.round(slope, 6).alias("zipf_slope")
    )


# ---------------------------------------------------------------------------
# win_ewma_smooth
# ---------------------------------------------------------------------------

_EWMA_ALPHA = 0.25  # exactly representable in binary (1/4), as is 0.75


@query(
    "win_ewma_smooth",
    oracle=f"""
    WITH v AS (
      SELECT user_id, count(*) AS n_events,
             list(value ORDER BY ts, event_id) AS vals
      FROM events GROUP BY user_id)
    SELECT user_id, n_events,
           round(list_reduce(vals,
                 (a, b) -> a * {1 - _EWMA_ALPHA} + b * {_EWMA_ALPHA}), 6)
             AS ewma
    FROM v
    """,
)
def win_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPONENTIALLY-WEIGHTED moving average of `value` per user
    (alpha = 0.25): the O(1)-state smoother every metrics pipeline
    runs — the final EWMA state per key, i.e. what a streaming job
    would hold after draining the topic.

    An EWMA is an inherently SEQUENTIAL fold, so the engine collects
    each user's series into an array (bounded by per-user activity —
    the same per-key-bounded contract as chat_memory_window) and folds
    it JVM-side with a higher-order aggregate — one shuffle, no UDF,
    no window. Parity: both engines fold the identical value sequence
    (total order (ts, event_id); Spark sorts an array of structs,
    DuckDB's list() takes ORDER BY) with alpha = 0.25 and 1-alpha =
    0.75 both exactly representable in binary — the folds are
    bit-identical, rounded once at the end."""
    ev = table(spark, sf_dir, "events")
    v = (
        ev.select(
            "user_id",
            F.struct(
                F.unix_micros("ts").alias("us"), "event_id", "value"
            ).alias("s"),
        )
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sort_array(F.collect_list("s")).alias("ss"),
        )
    )
    fold = F.expr(
        "aggregate(slice(vals, 2, size(vals) - 1), vals[0], "
        f"(a, b) -> a * {1 - _EWMA_ALPHA}D + b * {_EWMA_ALPHA}D)"
    )
    return (
        v.select(
            "user_id",
            "n_events",
            F.expr("transform(ss, s -> s.value)").alias("vals"),
        )
        .select("user_id", "n_events", F.round(fold, 6).alias("ewma"))
    )


# ---------------------------------------------------------------------------
# win_mad_outlier
# ---------------------------------------------------------------------------


@query(
    "win_mad_outlier",
    oracle="""
    WITH r AS (
      SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY value, event_id) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM events),
    med AS (
      SELECT user_id,
             (max(CASE WHEN rn = (n + 1) // 2 THEN value END)
              + max(CASE WHEN rn = (n + 2) // 2 THEN value END)) / 2 AS med
      FROM r GROUP BY user_id),
    dev AS (
      SELECT r.user_id, r.event_id, r.value,
             abs(r.value - m.med) AS d, m.med
      FROM r JOIN med m ON r.user_id = m.user_id),
    dr AS (
      SELECT user_id, med, d,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY d, event_id) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM dev),
    mad AS (
      SELECT user_id, med,
             (max(CASE WHEN rn = (n + 1) // 2 THEN d END)
              + max(CASE WHEN rn = (n + 2) // 2 THEN d END)) / 2 AS mad
      FROM dr GROUP BY user_id, med)
    SELECT d.user_id, round(m.med, 6) AS med, round(m.mad, 6) AS mad,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN d.d > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers
    FROM dev d JOIN mad m ON d.user_id = m.user_id
    GROUP BY d.user_id, m.med, m.mad
    """,
)
def win_mad_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEDIAN-ABSOLUTE-DEVIATION outlier screen per user: med =
    median(value), mad = median(|value - med|), flag |value - med| >
    3*mad — the robust alternative to win_zscore_outlier (a single
    wild value drags a z-score's mean and std; it cannot drag two
    medians).

    Exact order-statistic medians on both engines — never an
    interpolating percentile whose lerp shape differs between engines
    (the win_rolling_median lesson): row_number picks the (n+1)/2 and
    (n+2)/2 elements and averages them with the same (lo+hi)/2
    expression. Two sorted windows + one join, all hash-partitioned on
    user_id — one logical shuffle key end-to-end, so at 100 TB this is
    two sorts within already-co-located partitions."""
    ev = table(spark, sf_dir, "events")
    wv = Window.partitionBy("user_id").orderBy("value", "event_id")
    wu = Window.partitionBy("user_id")
    r = ev.select(
        "user_id",
        "event_id",
        "value",
        F.row_number().over(wv).alias("rn"),
        F.count("*").over(wu).alias("n"),
    )
    lo = F.max(F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("value")))
    hi = F.max(F.when(F.col("rn") == F.expr("(n + 2) div 2"), F.col("value")))
    med = r.groupBy("user_id").agg(((lo + hi) / 2).alias("med"))
    dev = r.join(med, "user_id").select(
        "user_id",
        "event_id",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("d"),
    )
    wd = Window.partitionBy("user_id").orderBy("d", "event_id")
    dr = dev.select(
        "user_id",
        "med",
        "d",
        F.row_number().over(wd).alias("rn"),
        F.count("*").over(wu).alias("n"),
    )
    lo_d = F.max(F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("d")))
    hi_d = F.max(F.when(F.col("rn") == F.expr("(n + 2) div 2"), F.col("d")))
    mad = dr.groupBy("user_id", "med").agg(((lo_d + hi_d) / 2).alias("mad"))
    return (
        dev.join(mad.select("user_id", "mad"), "user_id")
        .groupBy("user_id", "med", "mad")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(
                (F.col("d") > 3 * F.col("mad")).cast("int")
            ).cast("bigint").alias("n_outliers"),
        )
        .select(
            "user_id",
            F.round("med", 6).alias("med"),
            F.round("mad", 6).alias("mad"),
            "n_events",
            "n_outliers",
        )
    )


# ---------------------------------------------------------------------------
# pipeline_train_val_split
# ---------------------------------------------------------------------------

_ROLL_DUCK = """list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(text, ' '),
                 t -> CAST(ascii(substring(t, 1, 1)) * 961
                           + ascii(substring(t, length(t), 1)) * 31
                           + length(t) AS BIGINT))),
             (h, c) -> (h * 131 + c) % 1000000007)"""

_ROLL_SPARK = (
    "aggregate(transform(split(text, ' '), "
    "t -> CAST(ascii(substring(t, 1, 1)) * 961 "
    "+ ascii(substring(t, length(t), 1)) * 31 + length(t) AS BIGINT)), "
    "CAST(0 AS BIGINT), (h, c) -> (h * 131 + c) % 1000000007)"
)


def _train_val_oracle() -> str:
    from .dedup import _DUCK_CODES, _simhash_expr

    return f"""
    WITH base AS (
      SELECT doc_id,
             CASE WHEN {_ROLL_DUCK} % 10 = 9 THEN 'val' ELSE 'train' END
               AS split,
             {_simhash_expr(f'({_DUCK_CODES})', spark_side=False)} AS simhash,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents),
    leak AS (
      SELECT simhash, CAST(1 AS INTEGER) AS lk FROM base
      GROUP BY simhash HAVING count(DISTINCT split) = 2)
    SELECT split,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(count(DISTINCT b.simhash) AS BIGINT) AS n_buckets,
           CAST(count(DISTINCT CASE WHEN l.lk = 1 THEN b.simhash END)
                AS BIGINT) AS leaked_buckets
    FROM base b LEFT JOIN leak l ON b.simhash = l.simhash
    GROUP BY split
    """


@query("pipeline_train_val_split", oracle=_train_val_oracle())
def pipeline_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC content-keyed train/val split with a NEAR-DUP
    LEAKAGE audit — the step between dedup and shard-assign in a
    pretraining pipeline: split on a hash of the CONTENT (the
    text_fingerprint rolling hash, mod 10 -> 90/10), never on doc_id
    or random(), so identical text always lands in the same split and
    the split is reproducible across re-ingests. The audit counts
    16-bit SimHash buckets (dedup_simhash's near-dup key) that span
    both splits — the residual near-duplicate contamination an exact
    content split cannot remove, which is exactly what a team decides
    to purge (pipeline_near_dup_purge) before an eval run.

    One map pass computes hash + simhash + token count; the bucket
    audit is a vocabulary-sized aggregate joined back to the per-split
    rollup. All-integer arithmetic — exact parity by construction."""
    d = table(spark, sf_dir, "documents")
    from .dedup import _SPARK_CODES, _simhash_expr

    base = d.select(
        "doc_id",
        F.when(F.expr(_ROLL_SPARK) % 10 == 9, F.lit("val"))
        .otherwise("train")
        .alias("split"),
        F.expr(_simhash_expr(f"({_SPARK_CODES})", spark_side=True)).alias(
            "simhash"
        ),
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )
    leak = (
        base.groupBy("simhash")
        .agg(F.countDistinct("split").alias("ns"))
        .where(F.col("ns") == 2)
        .select("simhash", F.lit(1).alias("lk"))
    )
    return (
        base.join(F.broadcast(leak), "simhash", "left")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.countDistinct("simhash").cast("bigint").alias("n_buckets"),
            F.countDistinct(
                F.when(F.col("lk") == 1, F.col("simhash"))
            ).cast("bigint").alias("leaked_buckets"),
        )
    )


# ---------------------------------------------------------------------------
# rag_eval_recall_mrr
# ---------------------------------------------------------------------------

_DD_COS_A = (
    "list_dot_product({a}::DOUBLE[], {b}::DOUBLE[]) / "
    "(sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[])) * "
    "sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[])))"
)


@query(
    "rag_eval_recall_mrr",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, embedding
          FROM embeddings WHERE vec_id >= 10),
    truth AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, c.neighbor_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 round({_DD_COS_A.format(a='c.embedding', b='q.qv')}, 6) DESC,
                 c.neighbor_id) AS rn
        FROM c CROSS JOIN q) t
      WHERE rn <= 10),
    sys AS (
      SELECT query_id, neighbor_id, rn AS sys_rank FROM (
        SELECT q.query_id, c.neighbor_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 len(list_filter(range(1, len(c.embedding) + 1),
                     i -> (c.embedding[i] > 0) <> (q.qv[i] > 0))),
                 c.neighbor_id) AS rn
        FROM c CROSS JOIN q) t
      WHERE rn <= 10),
    hits AS (
      SELECT t.query_id, count(*) AS n_hits,
             min(s.sys_rank) AS first_rank
      FROM truth t JOIN sys s
        ON t.query_id = s.query_id AND t.neighbor_id = s.neighbor_id
      GROUP BY t.query_id)
    SELECT q2.query_id,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           round(coalesce(h.n_hits, 0) / 10.0, 6) AS recall_at_10,
           CASE WHEN h.first_rank IS NULL THEN 0.0
                ELSE round(1.0 / h.first_rank, 6) END AS mrr
    FROM (SELECT DISTINCT query_id FROM q) q2
    LEFT JOIN hits h ON q2.query_id = h.query_id
    """,
)
def rag_eval_recall_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETRIEVAL-QUALITY evaluation — recall@10 and MRR of the sign-bit
    hamming ranker (vec_signbit_hamming_topk's 32x-compressed index)
    against exact-cosine ground truth, per query. This is the offline
    eval loop every vector-search deployment runs before swapping a
    cheaper index in (the reference trusts Qdrant blindly; an engine
    measures): ground truth = exact top-10, system = hamming top-10,
    recall = overlap/10, MRR = 1/rank of the first true hit.

    Both rankings stream the corpus once against broadcast queries; at
    100 TB each side keeps per-query top-10 frontiers (window over
    candidates already reduced per partition) and the metric join
    touches 10x10 rows per query. Joining system to truth on
    (query, neighbor) and aggregating count + min(rank) is exact
    integer arithmetic; the two divisions are round(6)'d identically.
    Queries with zero true hits keep a row (LEFT join from the query
    list) with recall 0 — silent query dropout is the classic eval
    bug."""
    from .vector import _query_vectors, eval_rankings_topk

    truth_r, system = eval_rankings_topk(spark, sf_dir)
    q = _query_vectors(spark, sf_dir, 10)
    truth = truth_r.select("query_id", "neighbor_id")
    sys_rank = system.select(
        "query_id", "neighbor_id", F.col("p").alias("sys_rank")
    )
    hits = truth.join(sys_rank, ["query_id", "neighbor_id"]).groupBy(
        "query_id"
    ).agg(
        F.count("*").alias("n_hits"), F.min("sys_rank").alias("first_rank")
    )
    qids = q.select("query_id").distinct()
    return qids.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
        F.round(F.coalesce(F.col("n_hits"), F.lit(0)) / 10.0, 6).alias(
            "recall_at_10"
        ),
        F.when(F.col("first_rank").isNull(), 0.0)
        .otherwise(F.round(1.0 / F.col("first_rank"), 6))
        .alias("mrr"),
    )


# ---------------------------------------------------------------------------
# vec_kmeans_lloyd
# ---------------------------------------------------------------------------

_KM_K = 4  # clusters (seeded from vec_id 0..3 — deterministic)
_KM_D = 8  # dim prefix used (vec_matryoshka_topk's prefix trick)
_KM_ITERS = 3  # fixed Lloyd iterations, unrolled on both engines


def _km_dist(j: int) -> str:
    """Squared L2 distance of point dims e1..eD to centroid j's pivoted
    dims cj_1..cj_D — dialect-neutral arithmetic, identical text on
    both engines so the doubles agree bit-wise."""
    return " + ".join(
        f"(e{i} - c{j}_{i}) * (e{i} - c{j}_{i})" for i in range(1, _KM_D + 1)
    )


_KM_ARGMIN = (
    "CASE WHEN d0 <= d1 AND d0 <= d2 AND d0 <= d3 THEN 0 "
    "WHEN d1 <= d2 AND d1 <= d3 THEN 1 "
    "WHEN d2 <= d3 THEN 2 ELSE 3 END"
)

_KM_DSEL = (
    "CASE WHEN cl = 0 THEN d0 WHEN cl = 1 THEN d1 "
    "WHEN cl = 2 THEN d2 ELSE d3 END"
)


def _km_newdim(i: int) -> str:
    """Per-cluster mean of dim i: DECIMAL-accumulated (order-independent
    across engines), divided once, re-quantized to the round(9) grid so
    the next iteration's comparisons see identical doubles."""
    return (
        f"round(CAST(sum(CAST(e{i} AS DECIMAL(18,9))) AS DOUBLE)"
        f" / count(*), 9)"
    )


def _km_asg_ctes() -> list[str]:
    """The shared CTE chain through asg{_KM_ITERS} (points, unrolled
    Lloyd iterations, final assignments) — vec_kmeans_lloyd and
    dedup_semantic_cluster_purge both build on it, so the two oracles
    pin the SAME cluster cells."""
    D, K, T = _KM_D, _KM_K, _KM_ITERS
    dims = range(1, D + 1)
    e_cols = ", ".join(f"e{i}" for i in dims)
    parts = [
        "WITH pts AS (SELECT vec_id, "
        + ", ".join(
            f"CAST(list_extract(embedding, {i}) AS DOUBLE) AS e{i}" for i in dims
        )
        + " FROM embeddings)",
        "cent0 AS (SELECT CAST(vec_id AS INTEGER) AS cl, "
        + ", ".join(f"round(e{i}, 9) AS c{i}" for i in dims)
        + f" FROM pts WHERE vec_id < {K})",
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
            + ", ".join(f"{_km_dist(j)} AS d{j}" for j in range(K))
            + f" FROM pts p CROSS JOIN cw{t})"
        )
        parts.append(
            f"asg{t} AS (SELECT *, {_KM_ARGMIN} AS cl FROM dist{t})"
        )
        if t < T:
            parts.append(
                f"cent{t + 1} AS (SELECT cl, "
                + ", ".join(f"{_km_newdim(i)} AS c{i}" for i in dims)
                + f" FROM asg{t} GROUP BY cl)"
            )
    return parts


@session_artifact
def _km_assignments(spark: SparkSession, sf_dir: str):
    """Spark twin of _km_asg_ctes: the final Lloyd assignment frame
    (vec_id, e1..eD, d0..d{K-1}, cl) plus the final centroid frame —
    the exact plan vec_kmeans_lloyd aggregates over.

    Session-cached as localCheckpointed frames (round-14, the
    _ivf16_assignments rule): two registered ops (vec_kmeans_lloyd,
    dedup_semantic_cluster_purge) were each re-running the 3-iteration
    unrolled Lloyd chain per DataFrame build. Both frames are
    corpus-bounded: asg = one row per embedding, cent = k rows."""
    emb = table(spark, sf_dir, "embeddings")
    dims = range(1, _KM_D + 1)
    pts = emb.select(
        "vec_id",
        *[
            F.expr(f"CAST(element_at(embedding, {i}) AS DOUBLE)").alias(f"e{i}")
            for i in dims
        ],
    )
    cent = pts.where(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").cast("int").alias("cl"),
        *[F.round(F.col(f"e{i}"), 9).alias(f"c{i}") for i in dims],
    )
    asg = None
    for t in range(_KM_ITERS + 1):
        cw = cent.groupBy().agg(
            *[
                F.max(F.when(F.col("cl") == j, F.col(f"c{i}"))).alias(
                    f"c{j}_{i}"
                )
                for j in range(_KM_K)
                for i in dims
            ]
        )
        dist = pts.crossJoin(F.broadcast(cw)).select(
            "vec_id",
            *[F.col(f"e{i}") for i in dims],
            *[F.expr(_km_dist(j)).alias(f"d{j}") for j in range(_KM_K)],
        )
        asg = dist.select("*", F.expr(_KM_ARGMIN).alias("cl"))
        if t < _KM_ITERS:
            cent = asg.groupBy("cl").agg(
                *[F.expr(_km_newdim(i)).alias(f"c{i}") for i in dims]
            )
    return asg.localCheckpoint(), cent.localCheckpoint()


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
# agg_markov_transition
# ---------------------------------------------------------------------------


@query(
    "agg_markov_transition",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events),
    c AS (
      SELECT prev_type, event_type AS next_type, count(*) AS n_trans
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY 1, 2),
    tot AS (
      SELECT prev_type, sum(n_trans) AS row_total FROM c GROUP BY prev_type)
    SELECT c.prev_type, c.next_type, c.n_trans,
           round(CAST(c.n_trans AS DOUBLE) / CAST(t.row_total AS DOUBLE), 6)
             AS p
    FROM c JOIN tot t ON c.prev_type = t.prev_type
    """,
)
def agg_markov_transition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST-ORDER MARKOV transition matrix over per-user event
    sequences: P(next_type | prev_type) estimated from adjacent pairs
    in each user's (ts, event_id)-ordered stream — the behavioral
    model behind session prediction, anomaly scoring (improbable
    transitions) and funnel design, and the event-stream analogue of
    text_bigram_logprob's language model.

    One shuffle on user_id feeds the lag window; adjacent pairs then
    collapse to a |types|^2-sized aggregate (map-side combined — at
    100 TB the shuffle carries at most types^2 rows per partition, not
    events). Row-normalization joins the k-row totals back — exact
    integer counts, one identically-shaped division, round(6)."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    c = (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n_trans"))
    )
    tot = c.groupBy("prev_type").agg(F.sum("n_trans").alias("row_total"))
    return c.join(F.broadcast(tot), "prev_type").select(
        "prev_type",
        "next_type",
        "n_trans",
        F.round(
            F.col("n_trans").cast("double") / F.col("row_total").cast("double"),
            6,
        ).alias("p"),
    )


# ---------------------------------------------------------------------------
# text_top_tfidf_terms
# ---------------------------------------------------------------------------


@query(
    "text_top_tfidf_terms",
    oracle="""
    WITH tf AS (
      SELECT doc_id, w AS term, count(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
            FROM documents) z
      GROUP BY doc_id, w),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf,
             round(tf.tf * ln(CAST(n_docs AS DOUBLE) / df.df), 6) AS score
      FROM tf JOIN df ON tf.term = df.term CROSS JOIN n)
    SELECT doc_id, term, tf, score, rn
    FROM (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
                         ORDER BY score DESC, term) AS INTEGER) AS rn
          FROM scored) t
    WHERE rn <= 5
    """,
)
def text_top_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP-5 TF-IDF terms per document — explicit-vocabulary keyword
    extraction (the exact-join twin of the hashed text_tfidf_embed,
    which trades the join for murmur buckets): score = tf * ln(N/df),
    per-doc top-5 with deterministic (score, term) ties.

    One explode collapses to a (doc, term) aggregate (map-side
    combined); document frequency is a vocabulary-sized aggregate
    BROADCAST back over the big side (a vocabulary fits an executor at
    any corpus size — the (doc,term) table is the one that doesn't);
    the per-doc top-5 is a window over each doc's own terms, bounded
    by document length, riding the same doc_id partitioning. Exact
    integer tf/df; one identically-shaped log expression, round(6)."""
    d = table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = d.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("int"))
        .where(F.col("rn") <= 5)
        .select("doc_id", "term", "tf", "score", "rn")
    )


# ---------------------------------------------------------------------------
# win_holt_linear
# ---------------------------------------------------------------------------

_HOLT_A = 0.5  # level smoothing (binary-exact)
_HOLT_G = 0.25  # trend smoothing (binary-exact)


@query(
    "win_holt_linear",
    # NOTE: this oracle iterates via a RECURSIVE CTE, not list_reduce —
    # DuckDB 1.0's list_reduce silently mis-folds STRUCT accumulators
    # once more than ~2 elements are folded (scalar accumulators are
    # exact left-folds at any length — probed to 5000; win_ewma_smooth
    # relies on that). Struct state therefore steps row-by-row, all
    # users advancing in parallel per recursion round.
    oracle=f"""
    WITH RECURSIVE seq AS (
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events),
    nn AS (
      SELECT user_id, max(rn) AS n FROM seq GROUP BY user_id
      HAVING max(rn) >= 2),
    h AS (
      SELECT s2.user_id, 2 AS i, s2.value AS l,
             s2.value - s1.value AS b
      FROM seq s1 JOIN seq s2
        ON s1.user_id = s2.user_id AND s1.rn = 1 AND s2.rn = 2
      UNION ALL
      SELECT h.user_id, h.i + 1,
             {_HOLT_A} * s.value + {1 - _HOLT_A} * (h.l + h.b),
             {_HOLT_G} * ({_HOLT_A} * s.value
                + {1 - _HOLT_A} * (h.l + h.b) - h.l) + {1 - _HOLT_G} * h.b
      FROM h JOIN seq s ON s.user_id = h.user_id AND s.rn = h.i + 1)
    SELECT h.user_id, CAST(nn.n AS BIGINT) AS n_events,
           round(h.l, 6) AS level, round(h.b, 6) AS trend,
           round(h.l + h.b, 6) AS forecast_1
    FROM h JOIN nn ON h.user_id = nn.user_id AND h.i = nn.n
    """,
)
def win_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOLT'S LINEAR-TREND double exponential smoothing per user
    (level alpha=0.5, trend gamma=0.25): the one-step-ahead
    forecaster monitoring systems run where a plain EWMA
    (win_ewma_smooth) lags trending series. Classic init — level =
    x2, trend = x2 - x1, fold from x3.

    Same per-key-bounded sequential-fold shape as win_ewma_smooth: the
    series is collected per user (bounded by per-user activity) and
    folded JVM-side as a (level, trend) STRUCT accumulator — no UDF,
    no iteration over actions. Both smoothing constants are
    binary-exact; the new level appears inside the trend update as the
    textually-identical expression on both engines, so the folds agree
    bit-wise and round(6) lands once at the end. Users with a single
    event carry no trend and are excluded on both sides."""
    ev = table(spark, sf_dir, "events")
    v = (
        ev.select(
            "user_id",
            F.struct(
                F.unix_micros("ts").alias("us"), "event_id", "value"
            ).alias("s"),
        )
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sort_array(F.collect_list("s")).alias("ss"),
        )
        .where(F.col("n_events") >= 2)
    )
    fold = F.expr(
        "aggregate(slice(vals, 3, size(vals) - 2), "
        "named_struct('l', element_at(vals, 2), "
        "'b', element_at(vals, 2) - element_at(vals, 1)), "
        f"(s, x) -> named_struct("
        f"'l', {_HOLT_A}D * x + {1 - _HOLT_A}D * (s.l + s.b), "
        f"'b', {_HOLT_G}D * ({_HOLT_A}D * x "
        f"+ {1 - _HOLT_A}D * (s.l + s.b) - s.l) + {1 - _HOLT_G}D * s.b))"
    )
    return (
        v.select(
            "user_id",
            "n_events",
            F.expr("transform(ss, s -> s.value)").alias("vals"),
        )
        .select("user_id", "n_events", fold.alias("st"))
        .select(
            "user_id",
            "n_events",
            F.round(F.col("st.l"), 6).alias("level"),
            F.round(F.col("st.b"), 6).alias("trend"),
            F.round(F.col("st.l") + F.col("st.b"), 6).alias("forecast_1"),
        )
    )


# ---------------------------------------------------------------------------
# pipeline_mixture_reweight
# ---------------------------------------------------------------------------

_MIX_MAX_EPOCHS = 3.0  # repetition cap (binary-exact)


@query(
    "pipeline_mixture_reweight",
    oracle=f"""
    WITH cur AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens,
             1 + CAST(substring(source, 4) AS INTEGER) % 4 AS tw
      FROM documents GROUP BY source),
    tot AS (
      SELECT CAST(sum(tokens) AS BIGINT) AS total_tokens,
             CAST(sum(tw) AS BIGINT) AS total_tw
      FROM cur)
    SELECT source, n_docs, tokens,
           round(CAST(tokens AS DOUBLE) / total_tokens, 6) AS current_frac,
           round(CAST(tw AS DOUBLE) / total_tw, 6) AS target_frac,
           round(least((CAST(tw AS DOUBLE) / total_tw)
                       * total_tokens / tokens, {_MIX_MAX_EPOCHS}), 6)
             AS weight,
           CAST(round(tokens * least((CAST(tw AS DOUBLE) / total_tw)
                      * total_tokens / tokens, {_MIX_MAX_EPOCHS}), 0)
                AS BIGINT) AS effective_tokens
    FROM cur CROSS JOIN tot
    """,
)
def pipeline_mixture_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOMAIN-MIXTURE reweighting — the data-mixing step of a
    pretraining pipeline (the DoReMi / Pile recipe, simplified to
    fixed target weights): given a target mixture over sources
    (deterministic here: weight 1 + idx%4 per source), compute each
    source's sampling weight = target_share * total_tokens /
    source_tokens, CAPPED at 3 epochs (repeating a small domain
    forever degrades models — the standard up-sampling cap), and the
    effective token budget it contributes.

    One source-sized aggregate (map-side combined over the corpus
    scan), a 1-row totals broadcast, pure arithmetic after — the
    whole op is corpus-scan-bound at any scale. Integer token counts;
    the weight expression has identical text on both engines;
    round(6) on ratios, round(...,0) then BIGINT for the token
    budget (same half-up rule on positives on both engines)."""
    d = table(spark, sf_dir, "documents")
    cur = d.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("tokens"),
        (
            1 + F.expr("CAST(substring(source, 4) AS INT)") % 4
        ).alias("tw"),
    )
    tot = cur.agg(
        F.sum("tokens").cast("bigint").alias("total_tokens"),
        F.sum("tw").cast("bigint").alias("total_tw"),
    )
    wexpr = F.least(
        (F.col("tw").cast("double") / F.col("total_tw"))
        * F.col("total_tokens")
        / F.col("tokens"),
        F.lit(_MIX_MAX_EPOCHS),
    )
    return cur.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "tokens",
        F.round(F.col("tokens").cast("double") / F.col("total_tokens"), 6).alias(
            "current_frac"
        ),
        F.round(F.col("tw").cast("double") / F.col("total_tw"), 6).alias(
            "target_frac"
        ),
        F.round(wexpr, 6).alias("weight"),
        F.round(F.col("tokens") * wexpr, 0).cast("bigint").alias(
            "effective_tokens"
        ),
    )


# ---------------------------------------------------------------------------
# pipeline_domain_upsample
# ---------------------------------------------------------------------------

_UPS_MAX_EPOCHS = 3.0  # repetition cap shared with pipeline_mixture_reweight
_UPS_BUCKET = 64  # doc_id range per rank bucket (2^20 at corpus scale)

_UPS_W = (
    "least(greatest(CAST(tw AS DOUBLE) / total_tw * total_tokens / tokens,"
    f" 1.0), {_UPS_MAX_EPOCHS})"
)


@query(
    "pipeline_domain_upsample",
    oracle=f"""
    WITH cur AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens,
             1 + CAST(substring(source, 4) AS INTEGER) % 4 AS tw
      FROM documents GROUP BY source),
    tot AS (
      SELECT CAST(sum(tokens) AS BIGINT) AS total_tokens,
             CAST(sum(cur.tw) AS BIGINT) AS total_tw
      FROM cur),
    src AS (
      SELECT source, n_docs, {_UPS_W} AS w
      FROM cur CROSS JOIN tot),
    quota AS (
      SELECT source,
             CAST(floor(w) AS BIGINT) AS base,
             CAST(round(n_docs * (w - floor(w)), 0) AS BIGINT) AS n_extra
      FROM src),
    rk AS (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rk
      FROM documents),
    copies AS (
      SELECT r.doc_id, r.source,
             q.base + CASE WHEN r.rk <= q.n_extra THEN 1 ELSE 0 END
               AS n_copies
      FROM rk r JOIN quota q USING (source))
    SELECT doc_id, source,
           CAST(n_copies AS BIGINT) AS n_copies,
           CAST(u.r AS BIGINT) AS replica
    FROM copies, unnest(generate_series(1, n_copies)) AS u(r)
    """,
)
def pipeline_domain_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOMAIN UPSAMPLING — the replication half of data mixing that
    pipeline_mixture_reweight (weights as METADATA, downsample-capable)
    cannot do: materialize each source at its target mixture weight by
    REPLICATING documents, factors in [1, 3] epochs (same cap — and
    the same target-share formula, so the two ops describe one
    recipe). Per source with weight w: every doc gets floor(w) copies,
    and the first round(n_docs * frac(w)) docs in doc_id order get ONE
    extra copy — deterministic fractional rounding, so the realized
    per-source doc count hits the quota exactly and reruns are
    byte-identical (a hash-Bernoulli draw would only hit it in
    expectation). Output is the exploded replica stream a data loader
    shards (doc_id, source, n_copies, replica).

    Scale shape: NO per-source global sort for the quota ranks — a
    row_number() partitioned by source would funnel an entire domain
    (possibly 30% of a 100 TB corpus) through one task. Instead the
    two-phase VALUE-DOMAIN rank (pipeline_curriculum_order /
    pipeline_shard_assign's machinery keyed by source): (1) counts per
    (source, doc_id div {_UPS_BUCKET}) bucket and a cumulative offset
    over the bounded bucket DOMAIN, (2) a window partitioned by
    (source, bucket) ranks within buckets by doc_id, offset +
    within-rank = the exact per-source rank. The per-source weight
    table and the bucket-offset table both broadcast; the explode is
    row-local with fan-out <= {_UPS_MAX_EPOCHS} (the epoch cap), so
    the op is one corpus scan + map-side work at any scale.

    Parity: w evaluates the IDENTICAL double expression text on both
    engines from exact integer aggregates; floor/frac/round(.,0) are
    half-up on positives on both; ranks and copy counts are exact
    integers. Reference behavior analogue: re-ingesting a collection
    to rebalance it (app.py:453's re-ingest path) generalized to
    mixture-weighted replication."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("toks")
    )
    cur = d.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("toks").cast("bigint").alias("tokens"),
        (1 + F.expr("CAST(substring(source, 4) AS INT)") % 4).alias("tw"),
    )
    tot = cur.agg(
        F.sum("tokens").cast("bigint").alias("total_tokens"),
        F.sum("tw").cast("bigint").alias("total_tw"),
    )
    quota = (
        cur.crossJoin(F.broadcast(tot))
        .select("source", "n_docs", F.expr(_UPS_W).alias("w"))
        .select(
            "source",
            F.floor("w").cast("bigint").alias("base"),
            F.round(F.col("n_docs") * (F.col("w") - F.floor("w")), 0)
            .cast("bigint")
            .alias("n_extra"),
        )
    )
    bucketed = d.select(
        "doc_id", "source", F.expr(f"doc_id div {_UPS_BUCKET}").alias("bkt")
    )
    cnt = bucketed.groupBy("source", "bkt").agg(F.count("*").alias("c"))
    wb = (
        Window.partitionBy("source")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = cnt.select(
        "source",
        "bkt",
        F.coalesce(F.sum("c").over(wb), F.lit(0)).cast("bigint").alias("off"),
    )
    wr = Window.partitionBy("source", "bkt").orderBy("doc_id")
    ranked = bucketed.join(F.broadcast(off), ["source", "bkt"]).select(
        "doc_id",
        "source",
        (F.col("off") + F.row_number().over(wr)).alias("rk"),
    )
    copies = ranked.join(F.broadcast(quota), "source").select(
        "doc_id",
        "source",
        (
            F.col("base")
            + F.when(F.col("rk") <= F.col("n_extra"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_copies"),
    )
    return copies.select(
        "doc_id",
        "source",
        "n_copies",
        F.explode(F.expr("sequence(1L, n_copies)")).alias("replica"),
    )


# ---------------------------------------------------------------------------
# scalar_url_suite / dedup_url_canonical
# ---------------------------------------------------------------------------

# Deterministic synthetic URL per document (the fixture has no URL
# column; web-corpus curation is URL-heavy, so the suite synthesizes
# the same URL on both engines from (source, lang, doc_id) — including
# tracking params on every third doc and a shared path bucket so
# canonicalization produces real duplicates).
_URL_DUCK = (
    "'https://' || source || '.example.com/' || lang || '/doc-' "
    "|| CAST(doc_id % 50 AS VARCHAR) "
    "|| CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&ref=' || source "
    "WHEN doc_id % 3 = 1 THEN '?q=' || lang ELSE '' END"
)
_URL_SPARK = (
    "concat('https://', source, '.example.com/', lang, '/doc-', "
    "CAST(doc_id % 50 AS STRING), "
    "CASE WHEN doc_id % 3 = 0 THEN concat('?utm_source=feed&ref=', source) "
    "WHEN doc_id % 3 = 1 THEN concat('?q=', lang) ELSE '' END)"
)

_RE_HOST = "^https?://([^/?]+)"
_RE_PATH = "^https?://[^/?]+([^?]*)"
_RE_Q = "[?&]q=([^&]*)"


@query(
    "scalar_url_suite",
    oracle=f"""
    WITH u AS (SELECT doc_id, {_URL_DUCK} AS url FROM documents)
    SELECT doc_id, url,
           regexp_extract(url, '{_RE_HOST}', 1) AS host,
           regexp_extract(regexp_extract(url, '{_RE_HOST}', 1),
                          '([^.]+)$', 1) AS tld,
           regexp_extract(url, '{_RE_PATH}', 1) AS path,
           regexp_extract(url, '{_RE_Q}', 1) AS q_param,
           lower(regexp_extract(url, '{_RE_HOST}', 1))
             || regexp_extract(url, '{_RE_PATH}', 1)
             || CASE WHEN regexp_extract(url, '{_RE_Q}', 1) <> ''
                     THEN '?q=' || regexp_extract(url, '{_RE_Q}', 1)
                     ELSE '' END AS canonical
    FROM u
    WHERE doc_id < 100
    """,
)
def scalar_url_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing + canonicalization scalar suite — the string surface
    of web-corpus curation (CommonCrawl-style pipelines spend a pass
    on exactly this): host / TLD / path / query-param extraction via
    anchored regexes, and a canonical form that lowercases the host
    and STRIPS tracking parameters (utm_*, ref) while keeping
    semantic ones (q). Synthetic URLs are derived deterministically
    from fixture columns on both engines (no URL column in the
    fixture; the derivation IS part of the parity surface).

    Pure map-side regexp — scan throughput at any scale. The same
    regex text runs on both engines (RE2-class patterns only: no
    lookahead, anchored where it matters)."""
    d = table(spark, sf_dir, "documents")
    u = d.where(F.col("doc_id") < 100).select(
        "doc_id", F.expr(_URL_SPARK).alias("url")
    )
    host = F.regexp_extract("url", _RE_HOST, 1)
    path = F.regexp_extract("url", _RE_PATH, 1)
    q = F.regexp_extract("url", _RE_Q, 1)
    canonical = F.concat(
        F.lower(host),
        path,
        F.when(q != "", F.concat(F.lit("?q="), q)).otherwise(""),
    )
    return u.select(
        "doc_id",
        "url",
        host.alias("host"),
        F.regexp_extract(host, "([^.]+)$", 1).alias("tld"),
        path.alias("path"),
        q.alias("q_param"),
        canonical.alias("canonical"),
    )


@query(
    "dedup_url_canonical",
    oracle=f"""
    WITH u AS (SELECT doc_id, {_URL_DUCK} AS url FROM documents),
    c AS (
      SELECT doc_id,
             lower(regexp_extract(url, '{_RE_HOST}', 1))
               || regexp_extract(url, '{_RE_PATH}', 1)
               || CASE WHEN regexp_extract(url, '{_RE_Q}', 1) <> ''
                       THEN '?q=' || regexp_extract(url, '{_RE_Q}', 1)
                       ELSE '' END AS canonical
      FROM u)
    SELECT canonical,
           count(*) AS n_docs,
           min(doc_id) AS keeper_doc_id
    FROM c GROUP BY canonical
    HAVING count(*) >= 2
    ORDER BY n_docs DESC, canonical
    LIMIT 50
    """,
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-CANONICAL dedup — the cheapest web-corpus dedup pass, run
    BEFORE any content hashing (same page fetched via different
    tracking links / host casing): group by the canonical URL
    (scalar_url_suite's normalization), keep the lowest doc_id, report
    duplicate groups. One map pass + one hash aggregate on the
    canonical key — at 100 TB this is the same shape as dedup_exact
    with a cheaper key (no content digest needed). Top-50 groups plan
    as TakeOrderedAndProject; keeper = min(doc_id) is the
    deterministic keep-first rule shared with dedup_near_embedding."""
    d = table(spark, sf_dir, "documents")
    u = d.select("doc_id", F.expr(_URL_SPARK).alias("url"))
    host = F.regexp_extract("url", _RE_HOST, 1)
    path = F.regexp_extract("url", _RE_PATH, 1)
    q = F.regexp_extract("url", _RE_Q, 1)
    canonical = F.concat(
        F.lower(host),
        path,
        F.when(q != "", F.concat(F.lit("?q="), q)).otherwise(""),
    )
    return (
        u.select("doc_id", canonical.alias("canonical"))
        .groupBy("canonical")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .where(F.col("n_docs") >= 2)
        .orderBy(F.col("n_docs").desc(), "canonical")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# agg_gini_concentration
# ---------------------------------------------------------------------------


@query(
    "agg_gini_concentration",
    oracle="""
    WITH rev AS (
      SELECT c.c_custkey, c.c_nationkey AS nationkey,
             CAST(coalesce(sum(CAST(o.o_totalprice AS DECIMAL(18,6))), 0)
                  AS DECIMAL(18,6)) AS revenue
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey, c.c_nationkey),
    ranked AS (
      SELECT nationkey, revenue,
             row_number() OVER (PARTITION BY nationkey
                                ORDER BY revenue, c_custkey) AS i
      FROM rev),
    s AS (
      SELECT nationkey, count(*) AS n,
             CAST(sum(i * revenue) AS DOUBLE) AS swx,
             CAST(sum(revenue) AS DOUBLE) AS sx
      FROM ranked GROUP BY nationkey)
    SELECT nationkey, CAST(n AS BIGINT) AS n_customers,
           CASE WHEN sx > 0
                THEN round((2.0 * swx) / (n * sx)
                           - (n + 1.0) / n, 6)
           END AS gini
    FROM s
    """,
)
def agg_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GINI COEFFICIENT of customer revenue per nation — the standard
    concentration metric (whale-dependence of a market; the identical
    formula measures token-frequency concentration of a corpus):
    G = 2*sum(i*x_i)/(n*sum(x_i)) - (n+1)/n over ascending-sorted
    revenues. Customers with no orders count with revenue 0 (dropping
    them understates concentration — the classic mistake).

    One join shuffle builds per-customer revenue; the rank window and
    both sums ride the nation partitioning (bounded groups). Parity:
    revenues accumulate as DECIMAL(18,6) money (exact, order-
    independent — the rank weight i is an exact integer), one double
    division chain at the end, round(6). All-zero nations yield NULL
    on both engines."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    rev = (
        cust.join(
            orders, cust.c_custkey == orders.o_custkey, "left"
        )
        .groupBy("c_custkey", F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.coalesce(
                F.sum(F.col("o_totalprice").cast("decimal(18,6)")),
                F.lit(0),
            )
            .cast("decimal(18,6)")
            .alias("revenue")
        )
    )
    wr = Window.partitionBy("nationkey").orderBy("revenue", "c_custkey")
    ranked = rev.withColumn("i", F.row_number().over(wr))
    s = ranked.groupBy("nationkey").agg(
        F.count("*").alias("n"),
        F.sum(F.col("i") * F.col("revenue")).cast("double").alias("swx"),
        F.sum("revenue").cast("double").alias("sx"),
    )
    gini = F.round(
        (2.0 * F.col("swx")) / (F.col("n") * F.col("sx"))
        - (F.col("n") + 1.0) / F.col("n"),
        6,
    )
    return s.select(
        "nationkey",
        F.col("n").cast("bigint").alias("n_customers"),
        F.when(F.col("sx") > 0, gini).alias("gini"),
    )


# ---------------------------------------------------------------------------
# text_kl_drift
# ---------------------------------------------------------------------------


@query(
    "text_kl_drift",
    oracle="""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
    vocab AS (SELECT w, count(*) AS cw FROM tok GROUP BY w),
    srcs AS (SELECT source, count(*) AS ts FROM tok GROUP BY source),
    sw AS (SELECT source, w, count(*) AS csw FROM tok GROUP BY source, w),
    tot AS (
      SELECT CAST((SELECT sum(cw) FROM vocab) AS BIGINT) AS t,
             CAST((SELECT count(*) FROM vocab) AS BIGINT) AS v),
    grid AS (
      SELECT s.source, s.ts, vb.w, vb.cw, coalesce(x.csw, 0) AS csw
      FROM srcs s CROSS JOIN vocab vb
      LEFT JOIN sw x ON x.source = s.source AND x.w = vb.w),
    terms AS (
      SELECT source,
             CAST(CASE WHEN csw > 0 THEN 1 ELSE 0 END AS BIGINT) AS present,
             CAST(round(
               ((csw + 1e0) / (ts + v))
               * ln(((csw + 1e0) / (ts + v)) / ((cw + 1e0) / (t + v))),
               12) AS DECIMAL(20,12)) AS term
      FROM grid CROSS JOIN tot)
    SELECT source,
           CAST(sum(present) AS BIGINT) AS n_terms_present,
           round(CAST(sum(term) AS DOUBLE), 6) AS kl_divergence
    FROM terms GROUP BY source
    """,
)
def text_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTION-DRIFT detector: KL(P_source || P_corpus) of
    add-one-smoothed unigram distributions, per source — the monitor a
    corpus pipeline runs per ingest batch to catch a source going off
    the rails (scraper drift, language flips, spam floods) before it
    pollutes training data. Smoothing covers vocabulary the source
    never emits (those terms still contribute mass).

    The corpus collapses to vocabulary-sized aggregates in one pass
    (map-side combined); the per-(source, term) grid is
    |sources| x |vocab| — built from the VOCAB side, never the corpus,
    and joined to per-source counts riding the term key. Parity: the
    KL integrand is one identically-shaped expression, each term
    round(12)-quantized then summed as DECIMAL(20,12) (order-
    independent; a 1-ulp libm wobble is 1e-4 of the grid and vanishes
    in the round(6) total)."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(F.split("text", " ")).alias("w"))
    vocab = tok.groupBy("w").agg(F.count("*").alias("cw"))
    srcs = tok.groupBy("source").agg(F.count("*").alias("ts"))
    sw = tok.groupBy("source", "w").agg(F.count("*").alias("csw"))
    tot = vocab.agg(
        F.sum("cw").cast("bigint").alias("t"),
        F.count("*").cast("bigint").alias("v"),
    )
    grid = (
        srcs.crossJoin(vocab)
        .join(F.broadcast(sw), ["source", "w"], "left")
        .select(
            "source", "ts", "w", "cw", F.coalesce("csw", F.lit(0)).alias("csw")
        )
    )
    # 1e0, not 1.0: a bare 1.0 literal parses as DECIMAL(2,1) in Spark
    # SQL (and DuckDB), dragging the whole quotient through low-scale
    # decimal division (~1e-6 relative error); 1e0 is a DOUBLE literal
    # in both dialects, keeping the integrand in float64 end to end.
    term = F.expr(
        "CAST(round(((csw + 1e0) / (ts + v)) "
        "* ln(((csw + 1e0) / (ts + v)) / ((cw + 1e0) / (t + v))), 12) "
        "AS DECIMAL(20,12))"
    )
    return (
        grid.crossJoin(F.broadcast(tot))
        .select(
            "source",
            (F.col("csw") > 0).cast("bigint").alias("present"),
            term.alias("term"),
        )
        .groupBy("source")
        .agg(
            F.sum("present").cast("bigint").alias("n_terms_present"),
            F.round(F.sum("term").cast("double"), 6).alias("kl_divergence"),
        )
    )


# ---------------------------------------------------------------------------
# join_bloom_prefilter
# ---------------------------------------------------------------------------

_BLOOM_BITS = 4096  # m: 64 int64 words
_BLOOM_WORDS = _BLOOM_BITS // 64
# two independent integer hash lanes (Knuth multiplicative + affine)
_BLOOM_H1 = "(s * 2654435761) % 4096"
_BLOOM_H2 = "(s * 40503 + 17) % 4096"


@query(
    "join_bloom_prefilter",
    # the bloom is a PREFILTER, not a semantics change: the exact join
    # still runs, so the oracle is the plain join+aggregate
    oracle="""
    SELECT l.l_suppkey,
           count(*) AS n_items,
           round(CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                          * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
                      AS DOUBLE) / 10000, 2) AS revenue
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    WHERE s.s_nationkey < 5
    GROUP BY l.l_suppkey
    """,
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOOM-PREFILTERED dimension join — the hand-rolled runtime row
    filter (Spark's own bloom_filter_agg is internal-only on this
    build, CLAUDE.md round-5): qualifying supplier keys fold into a
    4096-bit / 2-hash bloom bitmap (64 int64 words, ONE row) in a tiny
    aggregate; the fact scan probes the broadcast bitmap with pure
    integer bit math BEFORE the exact join, so non-qualifying rows
    never reach the join's shuffle or build side. False positives are
    removed by the exact join that follows — output is bit-identical
    to the plain join (the oracle), only the plan differs.

    Why it matters at 100 TB: when the filtered dimension is too big
    to broadcast, the JOIN must shuffle both sides — but the BLOOM of
    the dimension is 512 bytes regardless of dimension size, and a
    ~1% selective prefilter cuts the fact-side shuffle by ~99%. Probe
    cost is two multiplies + two shifts per row inside whole-stage
    codegen. Money sums in exact integer cents (functions/money.py)."""
    from ..functions.money import cents

    li = table(spark, sf_dir, "lineitem")
    sup = table(spark, sf_dir, "supplier")
    dim = sup.where(F.col("s_nationkey") < 5).select("s_suppkey")
    h1 = _BLOOM_H1.replace("s", "s_suppkey")
    h2 = _BLOOM_H2.replace("s", "s_suppkey")
    bloom = dim.agg(
        *[
            F.expr(
                f"bit_or(CASE WHEN ({h1}) div 64 = {j} "
                f"THEN shiftleft(1L, CAST(({h1}) % 64 AS INT)) ELSE 0L END | "
                f"CASE WHEN ({h2}) div 64 = {j} "
                f"THEN shiftleft(1L, CAST(({h2}) % 64 AS INT)) ELSE 0L END)"
            ).alias(f"w{j}")
            for j in range(_BLOOM_WORDS)
        ]
    ).select(
        F.array(*[F.col(f"w{j}") for j in range(_BLOOM_WORDS)]).alias("words")
    )
    p1 = _BLOOM_H1.replace("s", "l_suppkey")
    p2 = _BLOOM_H2.replace("s", "l_suppkey")
    probe = (
        f"((element_at(words, CAST(({p1}) div 64 AS INT) + 1) "
        f">> CAST(({p1}) % 64 AS INT)) & 1L) = 1L AND "
        f"((element_at(words, CAST(({p2}) div 64 AS INT) + 1) "
        f">> CAST(({p2}) % 64 AS INT)) & 1L) = 1L"
    )
    prefiltered = (
        li.select("l_suppkey", "l_extendedprice", "l_discount")
        .crossJoin(F.broadcast(bloom))
        .where(F.expr(probe))
    )
    return (
        prefiltered.join(F.broadcast(dim), prefiltered.l_suppkey == dim.s_suppkey)
        .groupBy("l_suppkey")
        .agg(
            F.count("*").alias("n_items"),
            # exact integer cents x basis points (operators/tpch.py
            # discipline — never round a PRODUCT of doubles to cents:
            # 4-decimal products sit exactly on .5 boundaries where
            # Spark's floor(+0.5) and DuckDB's half-even cast disagree)
            F.round(
                F.sum(
                    cents("l_extendedprice") * (100 - cents("l_discount"))
                ).cast("double")
                / 10000,
                2,
            ).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# text_lang_confusion
# ---------------------------------------------------------------------------


def _lang_confusion_oracle() -> str:
    from .text import _LANG_MARKERS

    def hits(lang: str) -> str:
        return (
            f"len(list_filter({_LANG_MARKERS[lang]}, "
            "m -> list_contains(string_split(text, ' '), m)))"
        )

    return f"""
    WITH pred AS (
      SELECT lang,
             CASE
               WHEN {hits('de')} > {hits('en')} AND {hits('de')} >= {hits('fr')}
               THEN 'de'
               WHEN {hits('fr')} > {hits('en')} THEN 'fr'
               ELSE 'en'
             END AS pred_lang
      FROM documents),
    m AS (SELECT lang, pred_lang, count(*) AS n_docs
          FROM pred GROUP BY lang, pred_lang),
    tot AS (SELECT lang, sum(n_docs) AS row_total FROM m GROUP BY lang)
    SELECT m.lang, m.pred_lang, m.n_docs,
           round(CAST(m.n_docs AS DOUBLE) / CAST(t.row_total AS DOUBLE), 6)
             AS share
    FROM m JOIN tot t ON m.lang = t.lang
    """


@query("text_lang_confusion", oracle=_lang_confusion_oracle())
def text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONFUSION MATRIX of the lexicon-vote language classifier
    (text_langid) against the fixture's ground-truth lang column —
    the eval every heuristic corpus gate needs before its output is
    trusted to route documents (rag_eval_recall_mrr's counterpart for
    the text side): per (actual, predicted) cell, document count and
    row-normalized share (recall on the diagonal).

    One codegen'd classification pass collapses straight to a
    |langs|^2-row aggregate (map-side combined — the shuffle carries
    at most k^2 rows per partition at any corpus size); exact integer
    counts, one identically-shaped division, round(6)."""
    from .text import _LANG_MARKERS

    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")

    def hits(markers: list[str]):
        arr = F.array(*[F.lit(m) for m in markers])
        return F.size(F.filter(arr, lambda m: F.array_contains(toks, m)))

    h_en, h_de, h_fr = (
        hits(_LANG_MARKERS["en"]),
        hits(_LANG_MARKERS["de"]),
        hits(_LANG_MARKERS["fr"]),
    )
    pred = (
        F.when((h_de > h_en) & (h_de >= h_fr), "de")
        .when(h_fr > h_en, "fr")
        .otherwise("en")
    )
    m = (
        d.select("lang", pred.alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n_docs"))
    )
    tot = m.groupBy("lang").agg(F.sum("n_docs").alias("row_total"))
    return m.join(F.broadcast(tot), "lang").select(
        "lang",
        "pred_lang",
        "n_docs",
        F.round(
            F.col("n_docs").cast("double") / F.col("row_total").cast("double"),
            6,
        ).alias("share"),
    )


# ---------------------------------------------------------------------------
# agg_markov_stationary
# ---------------------------------------------------------------------------

_MKS_ITERS = 12  # fixed power iterations (dense 5-state chain mixes in ~3)


def _markov_stationary_oracle() -> str:
    parts = [
        """seq AS MATERIALIZED (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events),
    c AS MATERIALIZED (
      SELECT prev_type, event_type AS next_type,
             CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2),
    trans AS MATERIALIZED (
      SELECT c.prev_type, c.next_type, c.n,
             CAST(t.rt AS BIGINT) AS rt
      FROM c JOIN (SELECT prev_type, sum(n) AS rt FROM c GROUP BY 1) t
        ON c.prev_type = t.prev_type),
    k AS MATERIALIZED (
      SELECT CAST(count(DISTINCT prev_type) AS BIGINT) AS k FROM trans),
    pi0 AS MATERIALIZED (
      SELECT DISTINCT prev_type AS et,
             CAST(1.0 AS DOUBLE) / (SELECT k FROM k) AS pi
      FROM trans)"""
    ]
    for i in range(_MKS_ITERS):
        parts.append(
            f"""pi{i + 1} AS MATERIALIZED (
      SELECT trans.next_type AS et,
             round(sum(pi{i}.pi * (CAST(trans.n AS DOUBLE) / trans.rt)), 9)
               AS pi
      FROM trans JOIN pi{i} ON trans.prev_type = pi{i}.et
      GROUP BY trans.next_type)"""
        )
    R = _MKS_ITERS
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f""",
    h AS (
      SELECT prev_type AS et,
             sum(CAST(round((CAST(n AS DOUBLE) / rt)
                            * ln(CAST(n AS DOUBLE) / rt), 9)
                      AS DECIMAL(28,9))) AS hsum
      FROM trans GROUP BY prev_type)
    SELECT p.et AS event_type, round(p.pi, 6) AS pi,
           round(-CAST(h.hsum AS DOUBLE), 6) AS h_row
    FROM pi{R} p JOIN h ON p.et = h.et"""
    )


@query("agg_markov_stationary", oracle=_markov_stationary_oracle())
def agg_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATIONARY DISTRIBUTION of the event-type Markov chain
    (agg_markov_transition's matrix) by fixed-round power iteration,
    plus each state's conditional transition entropy — together the
    long-run occupancy forecast and the per-state predictability that
    behavioral monitoring reads off a user-event model (a state with
    high pi and low h_row is a stable attractor; high h_row marks
    branching states where prediction degrades).

    Iteration discipline (the graph_pagerank_neardup rules): the
    transition matrix is DOMAIN-BOUNDED (|types|^2 rows) and
    referenced every round, so it is localCheckpoint-ed once; every
    iteration quantizes with round(9) on BOTH engines so sub-ulp
    drift in unordered float sums cannot compound; the oracle unrolls
    the same _MKS_ITERS = 12 rounds as chained AS MATERIALIZED CTEs.
    An in-plan assert_true(|pi_12 - pi_11| <= 1e-6 per state) turns
    non-convergence into a query failure instead of a wrong-looking
    stationary vector. Entropy terms quantize round(9) into DECIMAL
    before the order-independent sum (ln drift perturbs h_row ~1e-9,
    three orders under the round(6) quantum).

    Scale shape: one user_id-partitioned lag window over the event
    stream (the only data-sized stage), then everything lives on the
    types^2 domain — 12 tiny joins, no corpus rescan."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    c = (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    tot = c.groupBy("prev_type").agg(
        F.sum("n").cast("bigint").alias("rt")
    )
    trans = c.join(tot, "prev_type").localCheckpoint()  # types^2 rows
    k = trans.select("prev_type").distinct().count()  # bounded domain
    pi = trans.select("prev_type").distinct().select(
        F.col("prev_type").alias("et"),
        F.expr(f"CAST(1.0 AS DOUBLE) / {k}").alias("pi"),
    )
    conf = spark.conf
    old_sp = conf.get("spark.sql.shuffle.partitions")
    conf.set("spark.sql.shuffle.partitions", "1")
    try:
        prev = pi.localCheckpoint()
        for _ in range(_MKS_ITERS):
            cur = (
                trans.join(prev, trans.prev_type == prev.et)
                .groupBy(F.col("next_type").alias("et2"))
                .agg(
                    F.round(
                        F.sum(
                            F.col("pi")
                            * (F.col("n").cast("double") / F.col("rt"))
                        ),
                        9,
                    ).alias("pi")
                )
                .select(F.col("et2").alias("et"), "pi")
                .localCheckpoint()
            )
            prev, prior = cur, prev
        h = trans.groupBy(F.col("prev_type").alias("et")).agg(
            F.sum(
                F.expr(
                    "CAST(round((CAST(n AS DOUBLE) / rt)"
                    " * ln(CAST(n AS DOUBLE) / rt), 9) AS DECIMAL(28,9))"
                )
            ).alias("hsum")
        )
        checked = (
            prev.join(
                prior.select(
                    F.col("et").alias("et_p"), F.col("pi").alias("pi_p")
                ),
                prev.et == F.col("et_p"),
            )
            .where(
                F.assert_true(
                    F.abs(F.col("pi") - F.col("pi_p")) <= 1e-6,
                    F.lit("markov power iteration not converged"),
                ).isNull()
            )
            .select("et", "pi")
        )
        out = checked.join(h, "et").select(
            F.col("et").alias("event_type"),
            F.round("pi", 6).alias("pi"),
            F.round(-F.col("hsum").cast("double"), 6).alias("h_row"),
        )
        return out.localCheckpoint()  # bounded: one row per event type
    finally:
        conf.set("spark.sql.shuffle.partitions", old_sp)


# ---------------------------------------------------------------------------
# agg_attribution_position
# ---------------------------------------------------------------------------


@query(
    "agg_attribution_position",
    oracle="""
    WITH conv AS (
      SELECT user_id, epoch_us(ts) AS cus, event_id AS cid
      FROM (
        SELECT user_id, ts, event_id,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS prn
        FROM events WHERE event_type = 'purchase') p
      WHERE prn = 1),
    touch AS (
      SELECT e.user_id, e.event_type,
             row_number() OVER (PARTITION BY e.user_id
                                ORDER BY e.ts, e.event_id) AS rn,
             count(*) OVER (PARTITION BY e.user_id) AS n
      FROM events e JOIN conv c ON e.user_id = c.user_id
      WHERE epoch_us(e.ts) < c.cus
         OR (epoch_us(e.ts) = c.cus AND e.event_id < c.cid)),
    credit AS (
      SELECT user_id, event_type,
             CAST(CASE WHEN n = 1 THEN 1.0
                       WHEN n = 2 THEN 0.5
                       WHEN rn = 1 OR rn = n THEN 0.4
                       ELSE round(0.2 / (n - 2), 9) END
                  AS DECIMAL(18,9)) AS cr
      FROM touch)
    SELECT event_type,
           round(CAST(sum(cr) AS DOUBLE), 6) AS credit,
           CAST(count(*) AS BIGINT) AS n_touches,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_converters
    FROM credit GROUP BY event_type
    """,
)
def agg_attribution_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POSITION-BASED (U-shaped 40/20/40) MULTI-TOUCH ATTRIBUTION:
    each converting user's touches before their FIRST purchase share
    the conversion credit — 40% to the first touch, 40% to the last,
    20% split across the middle (1 touch takes 100%, 2 touches split
    50/50) — the standard rule-based upgrade over the single-touch
    model join_asof_forward_attribution implements, answering "which
    channels open vs close journeys" per event type.

    Parity discipline: every per-touch credit quantizes into
    DECIMAL(18,9) (the middle share 0.2/(n-2) is the one non-literal
    — round(9) before the cast), so per-channel sums are exact and
    order-independent; one round(6) on output. The conversion cutoff
    is the strict (ts, event_id) order, written as the explicit
    OR-form compare on both engines.

    Scale shape: one groupBy(user) for first-purchase timestamps, one
    join back (both sides hash-partitioned on user_id — co-located),
    one per-user window for positions, one channel-sized aggregate."""
    ev = table(spark, sf_dir, "events")
    conv = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.min(F.unix_micros("ts")).alias("cus"),
            F.expr(
                "min_by(event_id, struct(unix_micros(ts), event_id))"
            ).alias("cid"),
        )
    )
    touch = (
        ev.join(conv, "user_id")
        .where(
            (F.unix_micros("ts") < F.col("cus"))
            | (
                (F.unix_micros("ts") == F.col("cus"))
                & (F.col("event_id") < F.col("cid"))
            )
        )
        .select(
            "user_id",
            "event_type",
            F.row_number()
            .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
            .alias("rn"),
            F.count("*")
            .over(Window.partitionBy("user_id"))
            .alias("n"),
        )
    )
    cr = F.expr(
        "CAST(CASE WHEN n = 1 THEN 1.0 "
        "WHEN n = 2 THEN 0.5 "
        "WHEN rn = 1 OR rn = n THEN 0.4 "
        "ELSE round(0.2 / (n - 2), 9) END AS DECIMAL(18,9))"
    )
    return (
        touch.select("user_id", "event_type", cr.alias("cr"))
        .groupBy("event_type")
        .agg(
            F.round(F.sum("cr").cast("double"), 6).alias("credit"),
            F.count("*").cast("bigint").alias("n_touches"),
            F.countDistinct("user_id").cast("bigint").alias("n_converters"),
        )
    )
