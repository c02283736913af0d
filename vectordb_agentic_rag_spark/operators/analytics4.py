"""Round-7 fifth wave: regression/diagnostic statistics, link
prediction, retrieval MAP, admission-control folds, and curation
frontiers.

Reference context: the reference app (app.py) outsources all corpus
analytics to its vector store; these are the engine-side diagnostics a
team running the same RAG corpus at 100 TB would need — trend fits over
event telemetry (agg_ols_regression, agg_autocorr_daily), retrieval
quality (rag_eval_map alongside rag_eval_ndcg / rag_eval_recall_mrr,
app.py:348-374's fused retriever being the system under test), data-
quality screens (agg_benford_deviation), rate-limit replay
(win_token_bucket — the admission analogue of app.py:334-340's API
throttling), series repair (win_interpolate_linear), graph link
prediction over co-purchase structure (graph_adamic_adar), and
multi-objective corpus selection (pipeline_pareto_frontier).

House rules observed throughout: exact integer/DECIMAL arithmetic until
one final division, identical expression text on both engines for any
double math, no array columns in output, bounded windows (per-key or
value-domain only), global top-k via orderBy+limit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..tables import session_artifact, table

# ---------------------------------------------------------------------------
# agg_ols_regression
# ---------------------------------------------------------------------------

# Cramer's-rule determinants for the 3x3 normal equations of
# value ~ b0 + b1*hour + b2*dow.  The moment names (n, s1, s2, s11,
# s12, s22, sy, s1y, s2y, syy) are identical column aliases on both
# engines, and these textual templates are shared verbatim, so every
# double multiply/add happens in the same order bit-for-bit.
_DET_A = "(n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2) + s2*(s1*s12 - s11*s2))"
_DET_0 = "(sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y) + s2*(s1y*s12 - s11*s2y))"
_DET_1 = "(n*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2) + s2*(s1*s2y - s1y*s2))"
_DET_2 = "(n*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2) + sy*(s1*s12 - s11*s2))"

_OLS_OUT = f"""
    CAST(n AS BIGINT) AS n_obs,
    round({_DET_0} / {_DET_A}, 6) AS b0,
    round({_DET_1} / {_DET_A}, 6) AS b1,
    round({_DET_2} / {_DET_A}, 6) AS b2,
    round(1.0 - (syy - {_DET_0} / {_DET_A} * sy - {_DET_1} / {_DET_A} * s1y
                     - {_DET_2} / {_DET_A} * s2y)
              / (syy - sy * sy / n), 6) AS r2
"""


@query(
    "agg_ols_regression",
    oracle=f"""
    WITH x AS (
      SELECT CAST(hour(ts) AS BIGINT) AS x1,
             CAST(dayofweek(ts) AS BIGINT) AS x2,
             CAST(round(value, 6) AS DECIMAL(16,6)) AS yq
      FROM events),
    m AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(x1) AS DOUBLE) AS s1,
             CAST(sum(x2) AS DOUBLE) AS s2,
             CAST(sum(x1 * x1) AS DOUBLE) AS s11,
             CAST(sum(x1 * x2) AS DOUBLE) AS s12,
             CAST(sum(x2 * x2) AS DOUBLE) AS s22,
             CAST(sum(yq) AS DOUBLE) AS sy,
             CAST(sum(x1 * yq) AS DOUBLE) AS s1y,
             CAST(sum(x2 * yq) AS DOUBLE) AS s2y,
             CAST(sum(yq * yq) AS DOUBLE) AS syy
      FROM x)
    SELECT {_OLS_OUT} FROM m
    """,
)
def agg_ols_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTIPLE LINEAR REGRESSION by normal equations: fit
    value ~ b0 + b1*hour_of_day + b2*day_of_week over all events and
    report the coefficients plus R² — the closed-form OLS every
    telemetry dashboard wants, computed as ONE map-side-combinable
    moment aggregate (count + 9 sums) and a constant-time 3x3
    Cramer solve on the single result row. No gradient iterations, no
    collect of data, no shuffle beyond the scalar aggregate — the
    shape that is identical at 100 TB.

    Parity: regressors are exact integers (Spark dayofweek is 1-7
    Sunday=1, DuckDB's is 0-6 Sunday=0 — the Spark side subtracts 1);
    y is round(6)-quantized into DECIMAL(16,6) so every moment sum is
    exact and order-independent (yq*yq lands in DECIMAL(33,12), exact
    per the round-7 Bollinger note). The Cramer determinants then run
    in DOUBLE from the same exact moments with textually identical
    expressions (_DET_* shared between engine and oracle), so both
    engines execute the same IEEE ops in the same order; round(6)
    lands once per output."""
    m = _ols_moments(_ols_x(spark, sf_dir))
    return m.selectExpr(*[s.strip() for s in _OLS_OUT.split(",\n")])


def _ols_x(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared regressor frame for agg_ols_regression /
    agg_breusch_pagan: integer (hour, dow) regressors + round(6)-
    quantized DECIMAL response."""
    ev = table(spark, sf_dir, "events")
    return ev.select(
        F.hour("ts").cast("bigint").alias("x1"),
        (F.dayofweek("ts") - 1).cast("bigint").alias("x2"),
        F.round(F.col("value"), 6).cast("decimal(16,6)").alias("yq"),
    )


def _ols_moments(x: DataFrame) -> DataFrame:
    """One map-side-combinable moment pass: exact integer/DECIMAL sums
    cast to DOUBLE once, for the shared Cramer templates."""
    return x.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x1").cast("double").alias("s1"),
        F.sum("x2").cast("double").alias("s2"),
        F.sum(F.col("x1") * F.col("x1")).cast("double").alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).cast("double").alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).cast("double").alias("s22"),
        F.sum("yq").cast("double").alias("sy"),
        F.expr("CAST(sum(x1 * yq) AS DOUBLE)").alias("s1y"),
        F.expr("CAST(sum(x2 * yq) AS DOUBLE)").alias("s2y"),
        F.expr("CAST(sum(yq * yq) AS DOUBLE)").alias("syy"),
    )


# ---------------------------------------------------------------------------
# agg_autocorr_daily
# ---------------------------------------------------------------------------


@query(
    "agg_autocorr_daily",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
             count(*) AS cnt
      FROM events GROUP BY 1, 2),
    s AS (
      SELECT event_type, day,
             CAST(round(CAST(cents AS DOUBLE) / cnt / 100.0, 6)
                  AS DECIMAL(18,6)) AS m
      FROM daily),
    p AS (
      SELECT a.event_type, a.m AS x, b.m AS y
      FROM s a JOIN s b
        ON a.event_type = b.event_type AND b.day = a.day + 1),
    mo AS (
      SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(x * x) AS DOUBLE) AS sxx,
             CAST(sum(x * y) AS DOUBLE) AS sxy,
             CAST(sum(y * y) AS DOUBLE) AS syy
      FROM p GROUP BY event_type)
    SELECT event_type, CAST(n AS BIGINT) AS n_pairs,
           round((n*sxy - sx*sy)
                 / (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy)), 6)
             AS acf_lag1
    FROM mo
    WHERE (n*sxx - sx*sx) > 0 AND (n*syy - sy*sy) > 0
    """,
)
def agg_autocorr_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG-1 AUTOCORRELATION of the daily-mean value series per event
    type — the first thing a seasonality/drift investigation computes
    (is today's level informative about tomorrow's?), and the
    statistic behind choosing win_ewma_smooth vs win_holt_linear for a
    series.

    Scale shape: the fact table collapses to the DAY x TYPE domain
    with one map-side-combinable pre-aggregate (exact integer cents +
    counts); everything after — the lag-1 self-join and the Pearson
    moments — runs on the bounded day domain (hundreds of rows per
    type at ANY corpus size). This is the same domain-collapse move as
    win_running_total_range, applied to correlation.

    Parity: daily means are round(6)-quantized into DECIMAL(18,6), so
    the pair moments (products land in DECIMAL scale 12) are exact and
    order-independent; the final Pearson assembly runs in DOUBLE with
    identical expression text, one round(6). Degenerate types with a
    constant series (zero variance) are excluded on both sides."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.date_trunc("DAY", F.col("ts")).cast("date").alias("day"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"),
        F.count("*").alias("cnt"),
    )
    s = daily.select(
        "event_type",
        "day",
        F.expr(
            "CAST(round(CAST(cents AS DOUBLE) / cnt / 100.0, 6)"
            " AS DECIMAL(18,6))"
        ).alias("m"),
    )
    a = s.select("event_type", "day", F.col("m").alias("x"))
    b = s.select(
        "event_type", F.date_add("day", -1).alias("day"), F.col("m").alias("y")
    )
    p = a.join(b, ["event_type", "day"]).select("event_type", "x", "y")
    mo = p.groupBy("event_type").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.expr("CAST(sum(x * x) AS DOUBLE)").alias("sxx"),
        F.expr("CAST(sum(x * y) AS DOUBLE)").alias("sxy"),
        F.expr("CAST(sum(y * y) AS DOUBLE)").alias("syy"),
    )
    return mo.where(
        (F.expr("n*sxx - sx*sx") > 0) & (F.expr("n*syy - sy*sy") > 0)
    ).selectExpr(
        "event_type",
        "CAST(n AS BIGINT) AS n_pairs",
        "round((n*sxy - sx*sy)"
        " / (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy)), 6) AS acf_lag1",
    )


# ---------------------------------------------------------------------------
# graph_adamic_adar
# ---------------------------------------------------------------------------


@session_artifact
def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (u < v) part co-purchase edges with >= 2 shared orders,
    materialized once per (application, sf_dir) via
    localCheckpoint — graph_adamic_adar references the edge list THREE
    times (two directed copies for the wedge join + the non-edge
    anti-join) and without materialization each reference re-derives
    the support join from the fact table (measured: 25 exchanges /
    6 lineitem scans in the naive plan). Bounded by |P| choose 2,
    orders of magnitude below the fact table — the same 100 TB play
    as analytics2._cosupply_edges."""
    li = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u")
    )
    b = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v")
    )
    return (
        a.join(b, "ok")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("ns"))
        .where(F.col("ns") >= 2)
        .select("u", "v")
        .localCheckpoint()
    )


@query(
    "graph_adamic_adar",
    oracle="""
    WITH os AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM os a JOIN os b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2),
    d AS (SELECT u AS m, v AS n FROM e UNION ALL SELECT v AS m, u AS n FROM e),
    deg AS (SELECT m, count(*) AS dg FROM d GROUP BY m),
    w AS (
      SELECT d1.n AS a, d2.n AS b, d1.m AS m
      FROM d d1 JOIN d d2 ON d1.m = d2.m AND d1.n < d2.n),
    sc AS (
      SELECT w.a, w.b, count(*) AS n_common,
             sum(CAST(round(CAST(1 AS DOUBLE) / ln(deg.dg), 9)
                      AS DECIMAL(28,9))) AS aa
      FROM w JOIN deg ON w.m = deg.m
      GROUP BY w.a, w.b),
    nc AS (
      SELECT sc.a, sc.b, sc.n_common, sc.aa
      FROM sc LEFT JOIN e ON sc.a = e.u AND sc.b = e.v
      WHERE e.u IS NULL)
    SELECT a AS part_u, b AS part_v,
           CAST(n_common AS BIGINT) AS n_common,
           round(CAST(aa AS DOUBLE), 6) AS aa_score
    FROM nc
    ORDER BY aa DESC, a, b
    LIMIT 20
    """,
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADAMIC-ADAR LINK PREDICTION on the support-2 part co-purchase
    graph: for every non-adjacent part pair, sum 1/ln(deg(m)) over
    common neighbors m — rare shared neighbors count more than hub
    neighbors, the classic "which products will be bought together
    next" score. Top-20 predicted links. (The co-purchase graph keeps
    degree variance at every fixture sf; the co-supply graph is
    degree-regular — agg_degree_assortativity documents why.)

    Scale shape: edges come from the same support-gated equi-join as
    agg_degree_assortativity; wedge enumeration joins the directed
    edge list to itself on the MIDDLE node, so cost is the wedge mass
    sum(deg²) that the support gate bounds (the analytics2 wedge-mass
    note documents the measurement per gate); degrees ride the wedge
    via one broadcastable (node, deg) join; non-edges via LEFT anti
    semantics against the canonical u<v edge list; final top-20 is
    orderBy+limit (TakeOrderedAndProject), ordered on the EXACT
    decimal score so both engines pick identical survivors.

    Parity: each wedge term round(1/ln(deg), 9) quantizes the only
    transcendental before the DECIMAL(28,9) sum (order-independent);
    ln(integer) agrees across engines well inside 1e-9 (the NDCG
    precedent); middles always have deg >= 2 so ln > 0."""
    e = _copurchase_edges(spark, sf_dir)
    d = e.select(F.col("u").alias("m"), F.col("v").alias("n")).unionAll(
        e.select(F.col("v").alias("m"), F.col("u").alias("n"))
    )
    deg = d.groupBy("m").agg(F.count("*").alias("dg"))
    d1 = d.select("m", F.col("n").alias("a"))
    d2 = d.select("m", F.col("n").alias("b"))
    w = d1.join(d2, "m").where(F.col("a") < F.col("b"))
    sc = (
        w.join(deg, "m")
        .groupBy("a", "b")
        .agg(
            F.count("*").alias("n_common"),
            F.sum(
                F.expr(
                    "CAST(round(CAST(1 AS DOUBLE) / ln(dg), 9)"
                    " AS DECIMAL(28,9))"
                )
            ).alias("aa"),
        )
    )
    nc = sc.join(
        e.select(F.col("u").alias("a"), F.col("v").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    return (
        nc.orderBy(F.col("aa").desc(), "a", "b")
        .limit(20)
        .select(
            F.col("a").alias("part_u"),
            F.col("b").alias("part_v"),
            F.col("n_common").cast("bigint").alias("n_common"),
            F.round(F.col("aa").cast("double"), 6).alias("aa_score"),
        )
    )


# ---------------------------------------------------------------------------
# rag_eval_map
# ---------------------------------------------------------------------------

# shared ranking CTE pair — identical to rag_eval_ndcg / rag_rbo_overlap
from .analytics2 import _DD_RANKINGS  # noqa: E402


@query(
    "rag_eval_map",
    oracle=f"""
    WITH {_DD_RANKINGS},
    h AS (
      SELECT s.query_id, s.p,
             CASE WHEN t.neighbor_id IS NULL THEN 0 ELSE 1 END AS hit
      FROM sys s LEFT JOIN truth t
        ON s.query_id = t.query_id AND s.neighbor_id = t.neighbor_id),
    cm AS (
      SELECT query_id, p, hit,
             sum(hit) OVER (PARTITION BY query_id ORDER BY p
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ch
      FROM h)
    SELECT query_id,
           CAST(sum(hit) AS BIGINT) AS n_hits_10,
           round(CAST(sum(CASE WHEN hit = 1
                     THEN CAST(round(CAST(ch AS DOUBLE) / p, 9)
                               AS DECIMAL(28,9))
                     ELSE CAST(0 AS DECIMAL(28,9)) END) AS DOUBLE)
                 / 10.0, 6) AS ap_10
    FROM cm GROUP BY query_id
    """,
)
def rag_eval_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP@10 (mean average precision) of the sign-bit-hamming ranker
    against exact-cosine truth — the order-sensitive eval metric that
    completes the offline suite next to recall/MRR (rag_eval_recall_mrr)
    and NDCG (rag_eval_ndcg): AP rewards putting EVERY relevant hit
    early, not just the first (MRR) or graded positions (NDCG).
    AP@10 = (1/10) * sum over hit positions p of precision@p.

    Shape at scale: both rankings are the shared one-pass broadcast-
    query corpus scans (vector.py::eval_rankings_topk — one
    implementation for all four eval ops); the metric arithmetic then
    touches 10 rows per query, and the running-hit window is bounded
    at 10 rows per partition key.

    Parity: precision@p = ch/p is round(9)-quantized per term, summed
    as DECIMAL(28,9) (order-independent), one final /10 and round(6);
    the divisor is the fixed truth size 10, identical on both sides."""
    from .vector import eval_rankings_topk

    truth, sys_rank = eval_rankings_topk(spark, sf_dir)
    h = (
        sys_rank.join(
            truth.select("query_id", "neighbor_id", F.lit(1).alias("hit")),
            ["query_id", "neighbor_id"],
            "left",
        )
        .select(
            "query_id", "p", F.coalesce(F.col("hit"), F.lit(0)).alias("hit")
        )
    )
    w = (
        Window.partitionBy("query_id")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = h.withColumn("ch", F.sum("hit").over(w))
    term = (
        "CASE WHEN hit = 1 THEN CAST(round(CAST(ch AS DOUBLE) / p, 9)"
        " AS DECIMAL(28,9)) ELSE CAST(0 AS DECIMAL(28,9)) END"
    )
    return c.groupBy("query_id").agg(
        F.sum("hit").cast("bigint").alias("n_hits_10"),
        F.round(F.expr(f"CAST(sum({term}) AS DOUBLE)") / 10.0, 6).alias(
            "ap_10"
        ),
    )


# ---------------------------------------------------------------------------
# win_token_bucket
# ---------------------------------------------------------------------------

_TB_FRAME = 50  # events per user entering the replay frame
_TB_CAP = 21_600_000_000  # bucket capacity: 21600 token-seconds (6 h)
_TB_COST = 10_800_000_000  # cost per admitted event: 10800 token-seconds (3 h)
# refill rate is 1 token per second == exactly 1 micro-token per
# microsecond, so refill = elapsed_us and the whole fold is BIGINT.

_TB_REFILL = f"least(CAST({_TB_CAP} AS BIGINT), {{tok}} + ({{us}} - {{last}}))"


@query(
    "win_token_bucket",
    oracle=f"""
    WITH RECURSIVE seq AS (
      SELECT user_id, epoch_us(ts) AS us,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events),
    f AS (SELECT * FROM seq WHERE rn <= {_TB_FRAME}),
    nn AS (SELECT user_id, max(rn) AS n FROM f GROUP BY user_id),
    r AS (
      SELECT user_id, 1 AS i,
             CAST({_TB_CAP - _TB_COST} AS BIGINT) AS tok,
             CAST(1 AS BIGINT) AS adm, us AS last_us
      FROM f WHERE rn = 1
      UNION ALL
      SELECT r.user_id, r.i + 1,
             CASE WHEN {_TB_REFILL.format(tok='r.tok', us='f.us', last='r.last_us')}
                       >= {_TB_COST}
                  THEN {_TB_REFILL.format(tok='r.tok', us='f.us', last='r.last_us')}
                       - {_TB_COST}
                  ELSE {_TB_REFILL.format(tok='r.tok', us='f.us', last='r.last_us')}
             END,
             r.adm + CASE WHEN {_TB_REFILL.format(tok='r.tok', us='f.us', last='r.last_us')}
                               >= {_TB_COST} THEN 1 ELSE 0 END,
             f.us
      FROM r JOIN f ON f.user_id = r.user_id AND f.rn = r.i + 1)
    SELECT r.user_id, CAST(nn.n AS BIGINT) AS n_events,
           CAST(r.adm AS BIGINT) AS n_admitted,
           r.tok AS end_tokens_us
    FROM r JOIN nn ON r.user_id = nn.user_id AND r.i = nn.n
    """,
)
def win_token_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-BUCKET ADMISSION REPLAY per user: a bucket of capacity
    21600 token-seconds (6 h) refills at 1 token/s; each event costs
    10800 token-seconds (3 h of budget — an expensive batch API call)
    and is admitted iff the refreshed bucket covers the cost — the standard rate-limiter (the engine-side replay of the
    API throttling around app.py:334-340's LLM calls: which requests
    WOULD have been admitted under this policy?). Reports per user:
    events seen, events admitted, and the final bucket level.

    Same per-key-bounded sequential-fold shape as win_holt_linear /
    win_theil_sen_slope: first {_TB_FRAME} events per user (rank
    window per key), timestamps collected and folded JVM-side as a
    (tok, adm, last) STRUCT accumulator — no UDF. Arithmetic is
    PURELY BIGINT: the refill rate is exactly 1 micro-token per
    microsecond, so refill = elapsed_us, the cap/cost are integer
    constants, and the fold is exact on both engines with no float
    anywhere — the strongest parity class in the repo. The constants
    were sized against the FIXTURE's measured inter-event gap
    distribution (p50 ~ 27000 s, p10 ~ 4000 s) so the limiter really
    rejects (~3% of events) instead of vacuously admitting everything
    — the stream_cusum_live "check the fixture before picking detector
    constants" rule. The oracle
    steps the same fold as a recursive CTE (struct list_reduce is
    broken in DuckDB 1.0 — the win_holt_linear note)."""
    ev = table(spark, sf_dir, "events")
    wn = Window.partitionBy("user_id").orderBy("ts", "event_id")
    f = (
        ev.select(
            "user_id",
            F.unix_micros("ts").alias("us"),
            F.row_number().over(wn).alias("rn"),
        )
        .where(F.col("rn") <= _TB_FRAME)
    )
    g = f.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sort_array(F.collect_list(F.struct("rn", "us"))).alias("ss"),
    )
    refill = _TB_REFILL.format(tok="s.tok", us="x", last="s.last")
    fold = F.expr(
        f"""aggregate(
          slice(vals, 2, size(vals) - 1),
          named_struct('tok', CAST({_TB_CAP - _TB_COST} AS BIGINT),
                       'adm', CAST(1 AS BIGINT),
                       'last', element_at(vals, 1)),
          (s, x) -> named_struct(
            'tok', CASE WHEN {refill} >= {_TB_COST}
                        THEN {refill} - {_TB_COST}
                        ELSE {refill} END,
            'adm', s.adm + CASE WHEN {refill} >= {_TB_COST}
                                THEN CAST(1 AS BIGINT)
                                ELSE CAST(0 AS BIGINT) END,
            'last', x))"""
    )
    return (
        g.select(
            "user_id",
            "n_events",
            F.expr("transform(ss, s -> s.us)").alias("vals"),
        )
        .select("user_id", "n_events", fold.alias("st"))
        .select(
            "user_id",
            F.col("n_events").cast("bigint").alias("n_events"),
            F.col("st.adm").alias("n_admitted"),
            F.col("st.tok").alias("end_tokens_us"),
        )
    )


# ---------------------------------------------------------------------------
# agg_benford_deviation
# ---------------------------------------------------------------------------


@query(
    "agg_benford_deviation",
    oracle="""
    WITH c AS (
      SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                              AS VARCHAR), 1, 1) AS INTEGER) AS digit
      FROM orders WHERE o_totalprice >= 1.0),
    g AS (SELECT digit, count(*) AS obs FROM c GROUP BY digit),
    t AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM g)
    SELECT g.digit, CAST(g.obs AS BIGINT) AS obs_count,
           round(CAST(g.obs AS DOUBLE) / t.n, 6) AS obs_p,
           round(ln(CAST(1 AS DOUBLE) + CAST(1 AS DOUBLE) / g.digit)
                 / ln(CAST(10 AS DOUBLE)), 6) AS exp_p,
           round(CAST(g.obs AS DOUBLE) / t.n
                 - ln(CAST(1 AS DOUBLE) + CAST(1 AS DOUBLE) / g.digit)
                   / ln(CAST(10 AS DOUBLE)), 6) AS dev
    FROM g CROSS JOIN t
    """,
)
def agg_benford_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENFORD'S-LAW DEVIATION over order totals: the observed
    first-significant-digit distribution against log10(1 + 1/d) — the
    classic fabricated-data / pipeline-corruption screen (synthetic or
    truncated money columns drift from Benford long before summary
    stats move). Nine rows: digit, observed count/frequency, expected
    frequency, signed deviation.

    Scale shape: one map-side-combinable digit histogram (9 groups)
    plus a broadcast 1-row total — nothing else touches the fact
    table.

    Parity: the first significant digit is extracted from the INTEGER
    cents value via string head — integer-to-string is exact and
    identical on both engines, dodging the floor(log10(x)) ulp trap
    near powers of ten entirely (money >= $1 so cents >= 100 and the
    leading cent digit IS the leading significant digit). Expected
    frequencies and deviations run in DOUBLE with identical expression
    text (decimal-literal division differs between engines, so the
    constants are CAST(1 AS DOUBLE)-style on both sides)."""
    o = table(spark, sf_dir, "orders").where(F.col("o_totalprice") >= 1.0)
    c = o.select(
        F.expr(
            "CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)"
            " AS STRING), 1, 1) AS INTEGER)"
        ).alias("digit")
    )
    g = c.groupBy("digit").agg(F.count("*").alias("obs"))
    t = g.agg(F.sum("obs").cast("bigint").alias("n"))
    exp_p = (
        "ln(CAST(1 AS DOUBLE) + CAST(1 AS DOUBLE) / digit)"
        " / ln(CAST(10 AS DOUBLE))"
    )
    return g.crossJoin(F.broadcast(t)).selectExpr(
        "digit",
        "CAST(obs AS BIGINT) AS obs_count",
        "round(CAST(obs AS DOUBLE) / n, 6) AS obs_p",
        f"round({exp_p}, 6) AS exp_p",
        f"round(CAST(obs AS DOUBLE) / n - {exp_p}, 6) AS dev",
    )


# ---------------------------------------------------------------------------
# win_interpolate_linear
# ---------------------------------------------------------------------------


@query(
    "win_interpolate_linear",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2),
    spans AS (
      SELECT user_id, min(day) AS lo, max(day) AS hi FROM daily
      GROUP BY user_id),
    spine AS (
      SELECT user_id,
             CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
               AS day
      FROM spans),
    filled AS (
      SELECT s.user_id, s.day, d.cents,
             CASE WHEN d.cents IS NULL THEN 1 ELSE 0 END AS is_gap
      FROM spine s LEFT JOIN daily d
        ON s.user_id = d.user_id AND s.day = d.day),
    ctx AS (
      SELECT user_id, day, cents, is_gap,
        last_value(cents IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY day
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
        last_value(CASE WHEN cents IS NOT NULL THEN day END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY day
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pd,
        first_value(cents IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY day
          ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
        first_value(CASE WHEN cents IS NOT NULL THEN day END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY day
          ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nd
      FROM filled)
    SELECT user_id, day, CAST(is_gap AS INTEGER) AS is_gap,
           round(CASE WHEN is_gap = 0 THEN CAST(cents AS DOUBLE)
                      ELSE CAST(pv AS DOUBLE)
                           + (CAST(nv AS DOUBLE) - CAST(pv AS DOUBLE))
                             * ((day - pd) / (nd - pd))
                 END / 100.0, 6) AS value_interp
    FROM ctx
    """,
)
def win_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR-INTERPOLATION gap fill: the two-sided sibling of
    win_gap_fill_forward. Per-user daily rollup, per-key date spine,
    and every missing day filled by the straight line between the
    surrounding observed days — the repair step numeric feature
    pipelines prefer over forward-fill when the series trends.

    Same scale contract as win_gap_fill_forward: partitioning is by
    user key throughout (one shuffle for the rollup, one for the
    windows); the spine is generated per key, never a global cross
    join; spine endpoints are observed days, so every gap has both a
    previous and a next anchor by construction.

    Parity: anchors stay exact integer cents; day distances are exact
    integers (Spark datediff == DuckDB date subtraction); the single
    interpolation expression runs in DOUBLE with identical structure
    — pv + (nv - pv) * (gap_offset / gap_width) — and round(6) lands
    once after the /100 cents conversion."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.date_trunc("DAY", F.col("ts")).cast("date").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"))
    spine = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
        .select(
            "user_id",
            F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias(
                "day"
            ),
        )
    )
    filled = spine.join(daily, ["user_id", "day"], "left").withColumn(
        "is_gap", F.when(F.col("cents").isNull(), 1).otherwise(0)
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    obs_day = F.when(F.col("cents").isNotNull(), F.col("day"))
    ctx = filled.select(
        "user_id",
        "day",
        "cents",
        "is_gap",
        F.last("cents", ignorenulls=True).over(wb).alias("pv"),
        F.last(obs_day, ignorenulls=True).over(wb).alias("pd"),
        F.first("cents", ignorenulls=True).over(wf).alias("nv"),
        F.first(obs_day, ignorenulls=True).over(wf).alias("nd"),
    )
    interp = (
        "CASE WHEN is_gap = 0 THEN CAST(cents AS DOUBLE)"
        " ELSE CAST(pv AS DOUBLE) + (CAST(nv AS DOUBLE) - CAST(pv AS DOUBLE))"
        " * (CAST(datediff(day, pd) AS DOUBLE)"
        " / CAST(datediff(nd, pd) AS DOUBLE)) END"
    )
    return ctx.selectExpr(
        "user_id",
        "day",
        "CAST(is_gap AS INTEGER) AS is_gap",
        f"round(({interp}) / 100.0, 6) AS value_interp",
    )


# ---------------------------------------------------------------------------
# pipeline_pareto_frontier
# ---------------------------------------------------------------------------


@query(
    "pipeline_pareto_frontier",
    oracle="""
    WITH dw AS (
      SELECT doc_id, n_chars,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
      FROM documents),
    g AS (SELECT n_chars, max(n_words) AS my FROM dw GROUP BY n_chars),
    sx AS (
      SELECT n_chars, my,
             max(my) OVER (ORDER BY n_chars
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS smax
      FROM g)
    SELECT d.doc_id, d.n_chars, d.n_words
    FROM dw d JOIN sx ON d.n_chars = sx.n_chars
    WHERE d.n_words = sx.my AND (sx.smax IS NULL OR sx.smax < sx.my)
    """,
)
def pipeline_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARETO (SKYLINE) corpus selection: documents on the token-
    density frontier — maximize whitespace-token count while
    minimizing character count; a doc survives iff no other doc is at
    least as good on both axes and strictly better on one. The
    multi-objective selection primitive behind "shortest docs that
    still carry the most content" curation cuts; ties (duplicate
    frontier points) all survive, matching standard skyline
    semantics.

    Scale shape — the two-pass VALUE-DOMAIN skyline, not a global
    sort: (1) per-x maxima via one hash aggregate over the bounded
    n_chars domain; (2) a strict-prefix running max ordered over that
    DOMAIN (thousands of distinct lengths at any corpus size — the
    win_running_total_range day-domain move); (3) a join back tags
    each doc in one pass. A doc is on the frontier iff it attains its
    length's max word count AND no strictly-shorter length reaches
    it. Never a single-partition sort of the corpus.

    Parity: all-integer comparisons — no floats anywhere."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.size(F.split("text", " ")).cast("bigint").alias("n_words"),
    )
    g = d.groupBy("n_chars").agg(F.max("n_words").alias("my"))
    wx = Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, -1)
    sx = g.select("n_chars", "my", F.max("my").over(wx).alias("smax"))
    return (
        d.join(F.broadcast(sx), "n_chars")
        .where(
            (F.col("n_words") == F.col("my"))
            & (F.col("smax").isNull() | (F.col("smax") < F.col("my")))
        )
        .select("doc_id", "n_chars", "n_words")
    )


# ---------------------------------------------------------------------------
# agg_breusch_pagan
# ---------------------------------------------------------------------------


def _aux(t: str) -> str:
    """Rewrite a Cramer template from y-moments to u-moments (the
    Breusch-Pagan auxiliary regression of squared residuals on the
    same regressors). Order matters: syy before sy."""
    return (
        t.replace("syy", "suu")
        .replace("s1y", "s1u")
        .replace("s2y", "s2u")
        .replace("sy", "su")
    )


_BP_R2 = (
    f"(1.0 - (suu - {_aux(_DET_0)} / {_DET_A} * su"
    f" - {_aux(_DET_1)} / {_DET_A} * s1u"
    f" - {_aux(_DET_2)} / {_DET_A} * s2u)"
    f" / (suu - su * su / n))"
)

_BP_E = (
    "(CAST(yq AS DOUBLE) - (b0 + b1 * x1 + b2 * x2))"
)


@query(
    "agg_breusch_pagan",
    oracle=f"""
    WITH x AS (
      SELECT CAST(hour(ts) AS BIGINT) AS x1,
             CAST(dayofweek(ts) AS BIGINT) AS x2,
             CAST(round(value, 6) AS DECIMAL(16,6)) AS yq
      FROM events),
    m AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(x1) AS DOUBLE) AS s1,
             CAST(sum(x2) AS DOUBLE) AS s2,
             CAST(sum(x1 * x1) AS DOUBLE) AS s11,
             CAST(sum(x1 * x2) AS DOUBLE) AS s12,
             CAST(sum(x2 * x2) AS DOUBLE) AS s22,
             CAST(sum(yq) AS DOUBLE) AS sy,
             CAST(sum(x1 * yq) AS DOUBLE) AS s1y,
             CAST(sum(x2 * yq) AS DOUBLE) AS s2y,
             CAST(sum(yq * yq) AS DOUBLE) AS syy
      FROM x),
    bt AS (
      SELECT {_DET_0} / {_DET_A} AS b0, {_DET_1} / {_DET_A} AS b1,
             {_DET_2} / {_DET_A} AS b2
      FROM m),
    r AS (
      SELECT x1, x2,
             CAST(round({_BP_E} * {_BP_E}, 6) AS DECIMAL(18,6)) AS u6
      FROM x CROSS JOIN bt),
    a AS (
      SELECT CAST(sum(u6) AS DOUBLE) AS su,
             CAST(sum(x1 * u6) AS DOUBLE) AS s1u,
             CAST(sum(x2 * u6) AS DOUBLE) AS s2u,
             -- width-19 operands force DuckDB's int128 multiply
             -- kernel (width-18 physical int64 squares overflow)
             CAST(sum(CAST(u6 AS DECIMAL(19,6)) * CAST(u6 AS DECIMAL(19,6)))
                  AS DOUBLE) AS suu
      FROM r)
    SELECT CAST(n AS BIGINT) AS n_obs,
           round({_BP_R2}, 6) AS r2_aux,
           round(n * {_BP_R2}, 6) AS lm_stat,
           CAST(CASE WHEN n * {_BP_R2} > 5.991 THEN 1 ELSE 0 END AS INTEGER)
             AS heteroskedastic
    FROM a CROSS JOIN m
    """,
)
def agg_breusch_pagan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BREUSCH-PAGAN heteroskedasticity test on agg_ols_regression's
    fit: regress the SQUARED RESIDUALS on the same (hour, dow)
    regressors and report LM = n * R²_aux against the chi²(2) 95%
    critical value — the standard "are the OLS variance assumptions
    broken?" diagnostic that should accompany any reported
    coefficient table.

    Scale shape: two fact-table passes, both map-side-combinable
    moment aggregates — pass 1 the shared OLS moments (a 1-row result
    broadcast back as the beta row), pass 2 the residual-squared
    moments. No per-row beta collect to the driver: the coefficient
    row stays a DataFrame and reaches the fact scan as a broadcast
    cross join, so the whole test is SQL-planar at any corpus size.

    Parity: betas are the SAME shared Cramer text as
    agg_ols_regression (bit-identical doubles from exact moments);
    each residual square is round(6)-quantized into DECIMAL(18,6) so
    the auxiliary moments are exact order-independent sums; the
    auxiliary R² re-uses the Cramer templates with y-moments renamed
    to u-moments (_aux), and the critical-value flag compares the
    UNROUNDED identical double on both engines."""
    x = _ols_x(spark, sf_dir)
    # the 1-row moment result feeds BOTH the beta row and the final
    # assembly — materialize it once or each reference re-runs the
    # fact-table moment pass (measured: 6 parquet scans -> 2)
    m = _ols_moments(x).localCheckpoint()
    bt = m.selectExpr(
        f"{_DET_0} / {_DET_A} AS b0",
        f"{_DET_1} / {_DET_A} AS b1",
        f"{_DET_2} / {_DET_A} AS b2",
    )
    r = x.crossJoin(F.broadcast(bt)).selectExpr(
        "x1",
        "x2",
        f"CAST(round({_BP_E} * {_BP_E}, 6) AS DECIMAL(18,6)) AS u6",
    )
    a = r.agg(
        F.sum("u6").cast("double").alias("su"),
        F.expr("CAST(sum(x1 * u6) AS DOUBLE)").alias("s1u"),
        F.expr("CAST(sum(x2 * u6) AS DOUBLE)").alias("s2u"),
        F.expr("CAST(sum(u6 * u6) AS DOUBLE)").alias("suu"),
    )
    return a.crossJoin(F.broadcast(m)).selectExpr(
        "CAST(n AS BIGINT) AS n_obs",
        f"round({_BP_R2}, 6) AS r2_aux",
        f"round(n * {_BP_R2}, 6) AS lm_stat",
        f"CAST(CASE WHEN n * {_BP_R2} > 5.991 THEN 1 ELSE 0 END AS INTEGER)"
        " AS heteroskedastic",
    )


# ---------------------------------------------------------------------------
# agg_kaplan_meier
# ---------------------------------------------------------------------------

_KM_CENSOR_US = 7_200_000_000  # sessions ending in the final 2 h are censored


@query(
    "agg_kaplan_meier",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    numbered AS (
      SELECT user_id, ts,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_no
      FROM flagged),
    sess AS (
      SELECT user_id, sess_no,
             CAST(epoch_us(max(ts)) AS BIGINT) AS end_us,
             CAST((epoch_us(max(ts)) - epoch_us(min(ts))) // 60000000
                  AS INTEGER) AS dur_min
      FROM numbered GROUP BY user_id, sess_no),
    mxx AS (SELECT max(end_us) AS m FROM sess),
    lab AS (
      SELECT dur_min,
             CASE WHEN end_us > m - {_KM_CENSOR_US} THEN 1 ELSE 0 END AS cen
      FROM sess CROSS JOIN mxx),
    g AS (
      SELECT dur_min, CAST(sum(1 - cen) AS BIGINT) AS d,
             CAST(sum(cen) AS BIGINT) AS c
      FROM lab GROUP BY dur_min),
    o AS (
      SELECT dur_min, d, c,
             sum(d + c) OVER (ORDER BY dur_min
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS removed,
             sum(d + c) OVER () AS total
      FROM g),
    r AS (
      SELECT dur_min, d, c,
             CAST(total - coalesce(removed, 0) AS BIGINT) AS n_risk
      FROM o),
    arr AS (
      SELECT list(struct_pack(
               t := dur_min,
               f := round(CAST(1 AS DOUBLE) - CAST(d AS DOUBLE) / n_risk, 9))
             ORDER BY dur_min) AS a
      FROM r),
    km AS (
      SELECT a[i].t AS dur_min,
             list_reduce(list_transform(a[1:i], s -> s.f),
                         (xx, yy) -> xx * yy) AS surv
      FROM arr, UNNEST(range(1, len(a) + 1)) AS u(i))
    SELECT r.dur_min, r.n_risk, r.d AS n_deaths, r.c AS n_censored,
           round(km.surv, 6) AS survival
    FROM r JOIN km ON r.dur_min = km.dur_min
    """,
)
def agg_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KAPLAN-MEIER survival curve over SESSION DURATIONS (minute
    buckets): S(t) = prod over buckets <= t of (1 - deaths/at-risk),
    with sessions that end inside the final 2 h of the observation
    window treated as right-CENSORED (their true duration is unknown
    — the cutoff may have truncated them). The estimator behind every
    "how long do sessions last?" product question, composed directly
    on agg_sessionize_batch's session definition.

    Scale shape: the fact table collapses to sessions (one user-key
    exchange, the sessionize shape), sessions collapse to the bounded
    MINUTE-duration domain (one hash aggregate), and everything
    after — the at-risk cumulative, the product fold — runs on that
    domain (hundreds of rows at any corpus size; the value-domain
    discipline of agg_mann_whitney_u). The censor horizon is one
    broadcast scalar.

    Parity: deaths/at-risk counts are exact integers; each hazard
    factor is round(9)-quantized, so the left-associative prefix
    products multiply IDENTICAL doubles in identical order on both
    engines (Spark aggregate() with 1.0 init vs DuckDB list_reduce —
    the extra leading 1.0*x is exact); scalar-accumulator list folds
    are exact in DuckDB (the win_ewma_smooth note; struct folds are
    not, and this fold is scalar by construction). One round(6) at
    the end."""
    from .relational import agg_sessionize_batch

    s = agg_sessionize_batch(spark, sf_dir).select(
        (F.unix_micros("session_start") + F.col("duration_us")).alias("end_us"),
        F.expr("CAST(duration_us DIV 60000000 AS INT)").alias("dur_min"),
    )
    mxx = s.agg(F.max("end_us").alias("m"))
    lab = s.crossJoin(F.broadcast(mxx)).select(
        "dur_min",
        F.when(F.col("end_us") > F.col("m") - _KM_CENSOR_US, 1)
        .otherwise(0)
        .alias("cen"),
    )
    g = lab.groupBy("dur_min").agg(
        F.sum(1 - F.col("cen")).cast("bigint").alias("d"),
        F.sum("cen").cast("bigint").alias("c"),
    )
    w_prev = Window.orderBy("dur_min").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    r = g.select(
        "dur_min",
        "d",
        "c",
        (
            F.sum(F.col("d") + F.col("c")).over(w_all)
            - F.coalesce(
                F.sum(F.col("d") + F.col("c")).over(w_prev), F.lit(0)
            )
        )
        .cast("bigint")
        .alias("n_risk"),
    )
    # the duration-domain table (hundreds of rows at any corpus size)
    # feeds both the product fold and the final join — materialize it
    # once or each reference re-runs the sessionize chain (8 scans -> 4)
    r = r.localCheckpoint()
    arr = r.agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("dur_min").alias("t"),
                    F.expr(
                        "round(CAST(1 AS DOUBLE) - CAST(d AS DOUBLE)"
                        " / n_risk, 9)"
                    ).alias("f"),
                )
            )
        ).alias("a")
    )
    km = arr.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(a)), i -> struct("
                "a[i-1].t AS dur_min, "
                "aggregate(slice(a, 1, i), CAST(1.0 AS DOUBLE),"
                " (xx, yy) -> xx * yy.f) AS surv))"
            )
        ).alias("s")
    ).select("s.dur_min", "s.surv")
    return r.join(F.broadcast(km), "dur_min").select(
        "dur_min",
        "n_risk",
        F.col("d").alias("n_deaths"),
        F.col("c").alias("n_censored"),
        F.round(F.col("surv"), 6).alias("survival"),
    )


# ---------------------------------------------------------------------------
# graph_kcore
# ---------------------------------------------------------------------------

_KCORE_K = 2
_KCORE_ROUNDS = 16  # measured peeling depth <= 5 at every fixture sf


def _kcore_oracle() -> str:
    """Unrolled peeling rounds (a recursive CTE cannot aggregate over
    its own working table; fixed unrolling is the PageRank-oracle
    move). Extra rounds past the fixpoint are identity filters, so
    round-{_KCORE_ROUNDS} output equals the converged core whenever
    peeling converges within the budget — and the Spark side RAISES
    if it does not, so a mismatch cannot pass silently."""
    parts = [
        """os AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e0 AS MATERIALIZED (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM os a JOIN os b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2)"""
    ]
    for i in range(_KCORE_ROUNDS):
        parts.append(
            f"""d{i} AS MATERIALIZED (
      SELECT nn, count(*) AS cc FROM (
        SELECT u AS nn FROM e{i} UNION ALL SELECT v AS nn FROM e{i}) z{i}
      GROUP BY nn),
    k{i} AS MATERIALIZED (SELECT nn FROM d{i} WHERE cc >= {_KCORE_K}),
    e{i + 1} AS MATERIALIZED (
      SELECT e{i}.u, e{i}.v FROM e{i}
      JOIN k{i} ka ON e{i}.u = ka.nn JOIN k{i} kb ON e{i}.v = kb.nn)"""
        )
    R = _KCORE_ROUNDS
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f""",
    df AS (
      SELECT nn, count(*) AS cc FROM (
        SELECT u AS nn FROM e{R} UNION ALL SELECT v AS nn FROM e{R}) zf
      GROUP BY nn)
    SELECT nn AS part_key, CAST(cc AS BIGINT) AS core_degree
    FROM df WHERE cc >= {_KCORE_K}"""
    )


@query("graph_kcore", oracle=_kcore_oracle())
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-CORE DECOMPOSITION (k = _KCORE_K = 2) of the support-2 part
    co-purchase graph by iterative peeling: repeatedly delete nodes
    with fewer than k surviving neighbors until a fixpoint; survivors
    with their in-core degrees are the maximal subgraph where every
    node keeps >= k co-purchase partners — the standard
    dense-community extractor (and the cheap preconditioner that
    shrinks a graph before triangle/clique work).

    Scale shape, following dedup_connected_components' loop
    disciplines: the loop runs over the CHECKPOINTED domain-bounded
    edge list only (_copurchase_edges — never the fact table); each
    round is one degree hash-aggregate + one semi-filtering join,
    localCheckpoint truncates lineage so plan size stays O(1) in
    rounds; shuffle partitions are sized once from |E| and restored
    in finally. Peeling is monotone (edges only leave), so an
    unchanged edge COUNT is a valid fixpoint witness — the per-round
    count is a scalar action on the checkpointed edge list, bounded
    by the measured <= 5-round depth. If the 16-round budget is
    exhausted before the fixpoint the operator RAISES rather than
    returning a non-core — which is what makes the unrolled
    fixed-round oracle exact.

    Parity: pure integer counting — no floats anywhere."""
    e = _copurchase_edges(spark, sf_dir)
    n_edges = e.count()
    loop_partitions = max(1, min(200, n_edges // 1_000_000 + 1))
    conf = spark.conf
    old_sp = conf.get("spark.sql.shuffle.partitions")
    old_aqe = conf.get("spark.sql.adaptive.enabled")
    conf.set("spark.sql.shuffle.partitions", str(loop_partitions))
    conf.set("spark.sql.adaptive.enabled", "false")

    def degrees(edges: DataFrame) -> DataFrame:
        return (
            edges.select(F.col("u").alias("nn"))
            .unionAll(edges.select(F.col("v").alias("nn")))
            .groupBy("nn")
            .agg(F.count("*").alias("cc"))
        )

    converged = False
    try:
        edges, prev_count = e, n_edges
        for _ in range(_KCORE_ROUNDS):
            keep = degrees(edges).where(F.col("cc") >= _KCORE_K).select("nn")
            edges = (
                edges.join(keep.withColumnRenamed("nn", "u"), "u")
                .join(keep.withColumnRenamed("nn", "v"), "v")
                .select("u", "v")
                .localCheckpoint()
            )
            cur = edges.count()
            if cur == prev_count:
                converged = True
                break
            prev_count = cur
        out = degrees(edges).where(F.col("cc") >= _KCORE_K)
    finally:
        conf.set("spark.sql.shuffle.partitions", old_sp)
        conf.set("spark.sql.adaptive.enabled", old_aqe)
    if not converged:
        raise RuntimeError(
            f"k-core peeling not converged after {_KCORE_ROUNDS} rounds — "
            "raise the round budget for deeper degeneracy orderings"
        )
    return out.select(
        F.col("nn").alias("part_key"),
        F.col("cc").cast("bigint").alias("core_degree"),
    )


# ---------------------------------------------------------------------------
# agg_jarque_bera
# ---------------------------------------------------------------------------

# central-moment assembly from raw cents moments — shared text so both
# engines run identical IEEE ops. Skew/kurtosis are scale-invariant, so
# computing them on cents (100x value) changes nothing.
_JB_MEAN = "(s1 / n)"
_JB_M2 = f"(s2 / n - {_JB_MEAN} * {_JB_MEAN})"
_JB_M3 = (
    f"(s3 / n - 3.0 * {_JB_MEAN} * (s2 / n)"
    f" + 2.0 * {_JB_MEAN} * {_JB_MEAN} * {_JB_MEAN})"
)
_JB_M4 = (
    f"(s4 / n - 4.0 * {_JB_MEAN} * (s3 / n)"
    f" + 6.0 * {_JB_MEAN} * {_JB_MEAN} * (s2 / n)"
    f" - 3.0 * {_JB_MEAN} * {_JB_MEAN} * {_JB_MEAN} * {_JB_MEAN})"
)
_JB_S = f"({_JB_M3} / sqrt({_JB_M2} * {_JB_M2} * {_JB_M2}))"
_JB_K = f"({_JB_M4} / ({_JB_M2} * {_JB_M2}) - 3.0)"


@query(
    "agg_jarque_bera",
    oracle=f"""
    WITH c AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
      FROM events),
    m AS (
      SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(c) AS DOUBLE) AS s1,
             CAST(sum(c * c) AS DOUBLE) AS s2,
             CAST(sum(c * c * c) AS DOUBLE) AS s3,
             CAST(sum(CAST(c * c AS HUGEINT) * (c * c)) AS DOUBLE) AS s4
      FROM c GROUP BY event_type)
    SELECT event_type, CAST(n AS BIGINT) AS n_obs,
           round({_JB_S}, 6) AS skewness,
           round({_JB_K}, 6) AS excess_kurtosis,
           round(n / 6.0 * ({_JB_S} * {_JB_S}
                 + {_JB_K} * {_JB_K} / 4.0), 6) AS jb_stat
    FROM m
    """,
)
def agg_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JARQUE-BERA normality test per event type: skewness, excess
    kurtosis, and JB = n/6 * (S² + K²/4) from one raw-moment scan —
    the screen that tells you the value distribution is exponential-
    ish (it is: the fixture note says mean≈50 exponential), so
    Gaussian-assuming monitors (z-scores, Bollinger) need the robust
    variants. Complements agg_ks_test_two_sample (two-sample shape
    drift) with a one-sample parametric check.

    Scale shape: ONE map-side-combinable aggregate — count + 4 power
    sums per type — then constant-time assembly per group row.

    Parity: values become exact integer CENTS (skew/kurtosis are
    scale-invariant, so the 100x rescale changes nothing) and every
    power sum is exact: c² and c³ fit int64 per row (c <= ~56k), c⁴
    does not — DuckDB squares into HUGEINT, Spark into DECIMAL(19,0)²
    = DECIMAL(38,0); both exact, mechanism-specific. The central-
    moment/statistic assembly runs in DOUBLE with shared expression
    text (sqrt not pow — sqrt is IEEE-correctly-rounded on both
    engines, pow is a cross-libm coin flip), one round(6) per
    output."""
    ev = table(spark, sf_dir, "events")
    c = ev.select(
        "event_type", F.round(F.col("value") * 100).cast("bigint").alias("c")
    )
    m = c.groupBy("event_type").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("c").cast("double").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("double").alias("s2"),
        F.expr(
            "CAST(sum(CAST(c * c AS DECIMAL(28,0)) * c) AS DOUBLE)"
        ).alias("s3"),
        F.expr(
            "CAST(sum(CAST(c * c AS DECIMAL(19,0))"
            " * CAST(c * c AS DECIMAL(19,0))) AS DOUBLE)"
        ).alias("s4"),
    )
    return m.selectExpr(
        "event_type",
        "CAST(n AS BIGINT) AS n_obs",
        f"round({_JB_S}, 6) AS skewness",
        f"round({_JB_K}, 6) AS excess_kurtosis",
        f"round(n / 6.0 * ({_JB_S} * {_JB_S}"
        f" + {_JB_K} * {_JB_K} / 4.0), 6) AS jb_stat",
    )


# ---------------------------------------------------------------------------
# agg_durbin_watson_daily
# ---------------------------------------------------------------------------


@query(
    "agg_durbin_watson_daily",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
             count(*) AS cnt
      FROM events GROUP BY 1, 2),
    s AS (
      SELECT event_type, day,
             CAST(round(CAST(cents AS DOUBLE) / cnt / 100.0, 6)
                  AS DECIMAL(18,6)) AS m
      FROM daily),
    p AS (
      SELECT a.event_type,
             CAST(round(CAST(b.m AS DOUBLE) - CAST(a.m AS DOUBLE), 6)
                  AS DECIMAL(16,6)) AS df
      FROM s a JOIN s b
        ON a.event_type = b.event_type AND b.day = a.day + 1),
    num AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(df * df) AS DOUBLE) AS sdd
      FROM p GROUP BY event_type),
    den AS (
      SELECT event_type, CAST(count(*) AS DOUBLE) AS nd,
             CAST(sum(m) AS DOUBLE) AS sx,
             CAST(sum(m * m) AS DOUBLE) AS sxx
      FROM s GROUP BY event_type)
    SELECT num.event_type, CAST(den.nd AS BIGINT) AS n_days, num.n_pairs,
           round(num.sdd / (den.sxx - den.sx * den.sx / den.nd), 6) AS dw
    FROM num JOIN den ON num.event_type = den.event_type
    WHERE den.sxx - den.sx * den.sx / den.nd > 0
    """,
)
def agg_durbin_watson_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DURBIN-WATSON serial-correlation statistic of the daily-mean
    value series per event type (intercept-only model, so residuals
    are the demeaned series): DW = sum of squared successive
    differences / sum of squared deviations — near 2 means no serial
    correlation, toward 0 positive, toward 4 negative. The
    model-diagnostic companion to agg_autocorr_daily (DW ≈ 2(1 - ρ₁))
    and the check agg_ols_regression's iid-error assumption needs.

    Scale shape: the same day-domain collapse as agg_autocorr_daily —
    one fact pre-aggregate, then a lag equi-join and two moment
    aggregates on the bounded day domain.

    Parity: daily means quantize round(6) into DECIMAL; successive
    differences re-quantize round(6) into DECIMAL(16,6) so their
    squares are exact DECIMAL(33,12) sums (the Bollinger width rule);
    the demeaned denominator expands to sxx - sx²/n in DOUBLE with
    shared text; one division, round(6)."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.date_trunc("DAY", F.col("ts")).cast("date").alias("day"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"),
        F.count("*").alias("cnt"),
    )
    s = daily.select(
        "event_type",
        "day",
        F.expr(
            "CAST(round(CAST(cents AS DOUBLE) / cnt / 100.0, 6)"
            " AS DECIMAL(18,6))"
        ).alias("m"),
    )
    a = s.select("event_type", "day", F.col("m").alias("x"))
    b = s.select(
        "event_type", F.date_add("day", -1).alias("day"), F.col("m").alias("y")
    )
    p = a.join(b, ["event_type", "day"]).select(
        "event_type",
        F.expr(
            "CAST(round(CAST(y AS DOUBLE) - CAST(x AS DOUBLE), 6)"
            " AS DECIMAL(16,6))"
        ).alias("df"),
    )
    num = p.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.expr("CAST(sum(df * df) AS DOUBLE)").alias("sdd"),
    )
    den = s.groupBy("event_type").agg(
        F.count("*").cast("double").alias("nd"),
        F.sum("m").cast("double").alias("sx"),
        F.expr("CAST(sum(m * m) AS DOUBLE)").alias("sxx"),
    )
    return (
        num.join(den, "event_type")
        .where(F.expr("sxx - sx * sx / nd") > 0)
        .selectExpr(
            "event_type",
            "CAST(nd AS BIGINT) AS n_days",
            "n_pairs",
            "round(sdd / (sxx - sx * sx / nd), 6) AS dw",
        )
    )


# ---------------------------------------------------------------------------
# agg_grubbs_test
# ---------------------------------------------------------------------------

_GRUBBS_SD = "sqrt((s2 - s1 * s1 / n) / (n - 1.0))"


@query(
    "agg_grubbs_test",
    oracle=f"""
    WITH c AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
      FROM events),
    m AS (
      SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(c) AS DOUBLE) AS s1,
             CAST(sum(c * c) AS DOUBLE) AS s2,
             CAST(max(c) AS DOUBLE) AS mx,
             CAST(min(c) AS DOUBLE) AS mn
      FROM c GROUP BY event_type)
    SELECT event_type, CAST(n AS BIGINT) AS n_obs,
           round((mx - s1 / n) / {_GRUBBS_SD}, 6) AS g_high,
           round((s1 / n - mn) / {_GRUBBS_SD}, 6) AS g_low,
           round(greatest(mx - s1 / n, s1 / n - mn)
                 / {_GRUBBS_SD}, 6) AS g_stat,
           CAST(CASE WHEN mx - s1 / n >= s1 / n - mn
                     THEN mx ELSE mn END AS BIGINT) AS suspect_cents
    FROM m WHERE n >= 3 AND s2 - s1 * s1 / n > 0
    """,
)
def agg_grubbs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRUBBS' OUTLIER statistic per event type: G = max deviation
    from the mean in sd units, reported for both tails plus the
    suspect value itself — the classic single-outlier screen a
    monitoring pipeline runs before trusting min/max-based features
    (its null assumes normality, which agg_jarque_bera just rejected
    for this fixture — exactly why the docstring pair matters: a huge
    G on exponential data is expected, not an anomaly).

    Scale shape: ONE map-side-combinable aggregate per type (count,
    two power sums, min, max) and constant-time assembly.

    Parity: moments/extremes are exact integer cents; the G assembly
    is shared-text DOUBLE (sqrt only — IEEE-exact), round(6); the
    suspect value stays an exact integer."""
    ev = table(spark, sf_dir, "events")
    c = ev.select(
        "event_type", F.round(F.col("value") * 100).cast("bigint").alias("c")
    )
    m = c.groupBy("event_type").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("c").cast("double").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("double").alias("s2"),
        F.max("c").cast("double").alias("mx"),
        F.min("c").cast("double").alias("mn"),
    )
    return m.where(
        (F.col("n") >= 3) & (F.expr("s2 - s1 * s1 / n") > 0)
    ).selectExpr(
        "event_type",
        "CAST(n AS BIGINT) AS n_obs",
        f"round((mx - s1 / n) / {_GRUBBS_SD}, 6) AS g_high",
        f"round((s1 / n - mn) / {_GRUBBS_SD}, 6) AS g_low",
        f"round(greatest(mx - s1 / n, s1 / n - mn) / {_GRUBBS_SD}, 6)"
        " AS g_stat",
        "CAST(CASE WHEN mx - s1 / n >= s1 / n - mn THEN mx ELSE mn END"
        " AS BIGINT) AS suspect_cents",
    )


# ---------------------------------------------------------------------------
# agg_theil_index
# ---------------------------------------------------------------------------


@query(
    "agg_theil_index",
    oracle="""
    WITH c AS (
      SELECT o_orderpriority,
             CAST(round(o_totalprice * 100) AS BIGINT) AS c
      FROM orders WHERE o_totalprice > 0),
    m AS (
      SELECT o_orderpriority,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(c) AS DOUBLE) AS s1,
             sum(CAST(round(c * ln(CAST(c AS DOUBLE)), 6)
                      AS DECIMAL(28,6))) AS slc
      FROM c GROUP BY o_orderpriority)
    SELECT o_orderpriority, CAST(n AS BIGINT) AS n_orders,
           round(s1 / n / 100.0, 2) AS mean_price,
           round(CAST(slc AS DOUBLE) / s1 - ln(s1 / n), 6) AS theil_t
    FROM m
    """,
)
def agg_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL T INEQUALITY INDEX of order value per priority class:
    T = (1/n) sum (x/mu) ln(x/mu) = sum(x ln x)/sum(x) - ln(mean) —
    0 means perfectly equal order sizes, ln(n) means one order
    carries everything. The decomposable inequality measure next to
    agg_gini_concentration (Theil splits exactly into within-group +
    between-group terms, which Gini cannot); in a data pipeline it is
    the shard/customer concentration diagnostic that predicts skew.

    Scale shape: ONE map-side-combinable aggregate per group — count,
    exact cents sum, and the quantized x*ln(x) sum.

    Parity: the per-row transcendental term round(6)-quantizes into
    an order-independent DECIMAL sum. Quantization-boundary flips
    from cross-libm ln drift (~2e-7 absolute at this magnitude) can
    differ between engines on a handful of rows, but each flip moves
    the SUM by only 1e-6, and the final statistic divides by
    sum(x) ~ 1e13 cents — a perturbation of ~1e-19, eleven orders of
    magnitude below the round(6) output quantum. Same ulp-gap
    argument class as sample_weighted_reservoir."""
    o = table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    c = o.select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c"),
    )
    m = c.groupBy("o_orderpriority").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("c").cast("double").alias("s1"),
        F.sum(
            F.expr(
                "CAST(round(c * ln(CAST(c AS DOUBLE)), 6) AS DECIMAL(28,6))"
            )
        ).alias("slc"),
    )
    return m.selectExpr(
        "o_orderpriority",
        "CAST(n AS BIGINT) AS n_orders",
        "round(s1 / n / 100.0, 2) AS mean_price",
        "round(CAST(slc AS DOUBLE) / s1 - ln(s1 / n), 6) AS theil_t",
    )


# ---------------------------------------------------------------------------
# agg_k_anonymity
# ---------------------------------------------------------------------------


@query(
    "agg_k_anonymity",
    oracle="""
    WITH q AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             length(bin(CAST(floor(value) AS BIGINT) + 1)) AS vb
      FROM events),
    c AS (
      SELECT event_type, day, vb, CAST(count(*) AS BIGINT) AS sz
      FROM q GROUP BY 1, 2, 3),
    tot AS (SELECT CAST(sum(sz) AS BIGINT) AS n FROM c)
    SELECT CAST(1 AS BIGINT) << (length(bin(sz)) - 1) AS band,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(sum(sz) AS BIGINT) AS n_rows,
           round(CAST(sum(sz) AS DOUBLE) / max(tot.n), 6) AS pct_rows
    FROM c CROSS JOIN tot
    GROUP BY 1
    """,
)
def agg_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-ANONYMITY SPECTRUM of the event stream under the quasi-
    identifier (event_type, event day, magnitude bucket of value) —
    the privacy audit a training-data pipeline runs before releasing
    event-derived features: every row in an equivalence class of size
    s is re-identifiable among s candidates, so the mass in small
    classes (band 1-2) is the disclosure risk and the dataset's
    k-anonymity is the smallest populated band. Output: per power-of-
    two class-size band, the class count, row count, and row share.

    Exactness discipline: NO float log2 anywhere — the magnitude
    bucket is length(bin(floor(value) + 1)) (floor is exact on
    doubles, bin length = integer floor-log2 + 1) and the band is
    1 << (length(bin(sz)) - 1); a floor(log2(x)) formulation flips at
    bucket boundaries on cross-libm ulp drift. Everything is integer
    until the final row-share division (round 6, same shape both
    engines).

    Scale shape: one groupBy over the QI columns (map-side combined),
    one groupBy over the bounded class-size DOMAIN, a 1-row total
    broadcast. The QI aggregate is the only data-sized shuffle."""
    ev = table(spark, sf_dir, "events")
    q = ev.select(
        "event_type",
        F.date_trunc("day", "ts").alias("day"),
        F.expr(
            "length(bin(CAST(floor(value) AS BIGINT) + 1))"
        ).alias("vb"),
    )
    c = q.groupBy("event_type", "day", "vb").agg(
        F.count("*").cast("bigint").alias("sz")
    )
    tot = c.agg(F.sum("sz").cast("bigint").alias("n"))
    return (
        c.crossJoin(F.broadcast(tot))
        .groupBy(
            F.expr(
                "CAST(1 AS BIGINT) << (length(bin(sz)) - 1)"
            ).alias("band")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_classes"),
            F.sum("sz").cast("bigint").alias("n_rows"),
            F.round(
                F.sum("sz").cast("double") / F.max("n"), 6
            ).alias("pct_rows"),
        )
    )


# ---------------------------------------------------------------------------
# agg_heaps_law_fit
# ---------------------------------------------------------------------------

_HEAPS_BUCKET = 8  # docs per checkpoint bucket (2^20 at corpus scale)


def _heaps_oracle() -> str:
    from .dedup import _DUCK_SHINGLES

    return f"""
    WITH sh AS ({_DUCK_SHINGLES}),
    pm AS (
      SELECT doc_id // {_HEAPS_BUCKET} AS bkt,
             CAST(sum(len(g)) AS BIGINT) AS m
      FROM sh GROUP BY 1),
    fd AS (
      SELECT t.code, min(sh.doc_id) AS fdoc
      FROM sh, unnest(sh.g) AS t(code) GROUP BY t.code),
    nv AS (
      SELECT fdoc // {_HEAPS_BUCKET} AS bkt,
             CAST(count(*) AS BIGINT) AS newv
      FROM fd GROUP BY 1),
    cp AS (
      SELECT pm.bkt,
             sum(pm.m) OVER (ORDER BY pm.bkt) AS nacc,
             sum(coalesce(nv.newv, 0)) OVER (ORDER BY pm.bkt) AS vacc
      FROM pm LEFT JOIN nv USING (bkt)),
    xy AS (
      SELECT CAST(round(ln(CAST(nacc AS DOUBLE)), 6) AS DECIMAL(16,6)) AS x,
             CAST(round(ln(CAST(vacc AS DOUBLE)), 6) AS DECIMAL(16,6)) AS y
      FROM cp),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(x * y) AS DOUBLE) AS sxy,
             CAST(sum(x * x) AS DOUBLE) AS sxx,
             CAST(sum(y * y) AS DOUBLE) AS syy
      FROM xy)
    SELECT n AS n_checkpoints,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS beta,
           round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n,
                 6) AS ln_k,
           round((n * sxy - sx * sy) * (n * sxy - sx * sy)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM s
    """


@query("agg_heaps_law_fit", oracle=_heaps_oracle())
def agg_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEAPS' LAW FIT over the corpus shingle space: vocabulary growth
    V(N) ~ K * N^beta, fitted by log-log OLS over doc-order
    checkpoints — the curation statistic that tells a pretraining
    pipeline whether more data keeps buying new content (beta near
    the 0.4-0.6 natural-text range) or the corpus has gone
    template-degenerate (beta -> 0: new docs add volume, not
    vocabulary). N = cumulative shingle occurrences, V = cumulative
    DISTINCT shingles (first-occurrence attribution: each shingle
    counts at its min doc_id), checkpointed per doc_id-div-8 bucket.

    Scale shape: first-occurrence via one groupBy(code) min — never a
    sort of the corpus; checkpoints live on the BUCKET domain (docs /
    bucket width — 2^20 at corpus scale keeps it broadcastable), so
    the one ordered cumulative window runs over a bounded domain.
    One-row output.

    Parity: ln of identical INTEGERS quantized round(6) into
    DECIMAL(16,6) — products are (33,12), exact on both engines
    (operand width 16 keeps DuckDB's int64 kernel in range: max
    scaled ln ~ 2.1e7, squares ~ 4.4e14 << 2^63). A cross-libm ulp
    flip at the 1e-6 grid moves one checkpoint's x or y by 1e-6,
    which perturbs beta by ~1e-6 * x / (n * var(x)) ~ 1e-9 at 60+
    checkpoints — three orders below the round(6) quantum (the
    agg_theil_index argument)."""
    from .dedup import _ngram_sets

    sh = _ngram_sets(spark, sf_dir)
    pm = sh.groupBy(
        F.expr(f"doc_id div {_HEAPS_BUCKET}").alias("bkt")
    ).agg(F.sum(F.size("cs")).cast("bigint").alias("m"))
    fd = (
        sh.select("doc_id", F.explode("cs").alias("code"))
        .groupBy("code")
        .agg(F.min("doc_id").alias("fdoc"))
    )
    nv = fd.groupBy(
        F.expr(f"fdoc div {_HEAPS_BUCKET}").alias("bkt")
    ).agg(F.count("*").cast("bigint").alias("newv"))
    wc = Window.orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cp = (
        pm.join(nv, "bkt", "left")
        .select(
            "bkt",
            F.sum("m").over(wc).alias("nacc"),
            F.sum(F.coalesce(F.col("newv"), F.lit(0))).over(wc).alias("vacc"),
        )
    )
    xy = cp.select(
        F.expr(
            "CAST(round(ln(CAST(nacc AS DOUBLE)), 6) AS DECIMAL(16,6))"
        ).alias("x"),
        F.expr(
            "CAST(round(ln(CAST(vacc AS DOUBLE)), 6) AS DECIMAL(16,6))"
        ).alias("y"),
    )
    s = xy.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    return s.selectExpr(
        "n AS n_checkpoints",
        "round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS beta",
        "round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n,"
        " 6) AS ln_k",
        "round((n * sxy - sx * sy) * (n * sxy - sx * sy)"
        " / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2",
    )


# ---------------------------------------------------------------------------
# pipeline_dataset_diff
# ---------------------------------------------------------------------------

# Deterministic synthetic snapshots over the one documents fixture
# (the fixture has no history; the diff MACHINERY — content-hash
# manifests + full outer join — is the op):
#   snapshot A ("old")  = docs with doc_id % 10 != 0
#   snapshot B ("new")  = docs with doc_id % 13 != 0, and docs with
#                         doc_id % 7 == 0 carry edited text
_DIFF_A = "doc_id % 10 <> 0"
_DIFF_B = "doc_id % 13 <> 0"
_DIFF_EDIT = "doc_id % 7 = 0"


@query(
    "pipeline_dataset_diff",
    oracle=f"""
    WITH a AS (
      SELECT doc_id, source, sha256(text) AS h
      FROM documents WHERE {_DIFF_A}),
    b AS (
      SELECT doc_id, source,
             sha256(CASE WHEN {_DIFF_EDIT} THEN upper(text) ELSE text END)
               AS h
      FROM documents WHERE {_DIFF_B}),
    d AS (
      SELECT coalesce(a.source, b.source) AS source,
             CASE WHEN a.doc_id IS NULL THEN 'added'
                  WHEN b.doc_id IS NULL THEN 'removed'
                  WHEN a.h <> b.h THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM a FULL OUTER JOIN b USING (doc_id))
    SELECT source, status, CAST(count(*) AS BIGINT) AS n_docs
    FROM d GROUP BY source, status
    """,
)
def pipeline_dataset_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATASET SNAPSHOT DIFF — the data-versioning audit between two
    releases of a corpus: per (source, status) counts of added /
    removed / changed / unchanged documents, where "changed" is a
    CONTENT-HASH mismatch (sha-256 manifests — at 100 TB you diff
    manifests, never text; the hash columns here are exactly the rows
    pipeline_pretrain_manifest ships). Snapshots are synthesized
    deterministically from the one documents fixture (module
    constants above) — the machinery under test is the manifest
    join, not the snapshot rule.

    Scale shape: one full outer equi-join on the doc key (the
    manifests co-partition; with bucketed manifest tables it is
    shuffle-free), hashes computed scan-side so text never rides the
    shuffle, then a source-sized aggregate. Reference behavior
    analogue: the cache-invalidation / re-ingest decision
    (app.py:453) done set-wide instead of per-file.

    Parity: sha-256 of identical strings on both engines; statuses
    are pure CASE logic; integer counts."""
    d = table(spark, sf_dir, "documents")
    a = d.where(_DIFF_A).select(
        "doc_id", "source", F.sha2("text", 256).alias("h")
    )
    b = d.where(_DIFF_B).select(
        "doc_id",
        "source",
        F.sha2(
            F.expr(f"CASE WHEN {_DIFF_EDIT} THEN upper(text) ELSE text END"),
            256,
        ).alias("h"),
    )
    diff = a.alias("a").join(
        b.alias("b"), on="doc_id", how="full_outer"
    ).select(
        F.coalesce(F.col("a.source"), F.col("b.source")).alias("source"),
        F.when(F.col("a.h").isNull(), "added")
        .when(F.col("b.h").isNull(), "removed")
        .when(F.col("a.h") != F.col("b.h"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )
    return diff.groupBy("source", "status").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )


# ---------------------------------------------------------------------------
# agg_tail_index_hill
# ---------------------------------------------------------------------------

_HILL_M = 100  # tail order statistics used by the estimator


@query(
    "agg_tail_index_hill",
    oracle=f"""
    WITH top AS (
      SELECT value, event_id,
             row_number() OVER (ORDER BY value DESC, event_id) AS rk
      FROM (
        SELECT value, event_id FROM events
        ORDER BY value DESC, event_id LIMIT {_HILL_M + 1}) t),
    thr AS (SELECT value AS xt FROM top WHERE rk = {_HILL_M + 1}),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS m,
             sum(CAST(round(ln(top.value / thr.xt), 9) AS DECIMAL(28,9)))
               AS lsum,
             max(thr.xt) AS xt
      FROM top CROSS JOIN thr WHERE top.rk <= {_HILL_M})
    SELECT m, round(xt, 6) AS x_threshold,
           round(m / CAST(lsum AS DOUBLE), 6) AS hill_alpha,
           round(CAST(lsum AS DOUBLE) / m, 6) AS mean_log_excess
    FROM s
    """,
)
def agg_tail_index_hill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HILL TAIL-INDEX estimator over event values: alpha =
    m / sum_{i<=m} ln(x_(i) / x_(m+1)) from the top m+1 order
    statistics — THE standard heavy-tail diagnostic (Hill 1975). A
    monitoring pipeline reads it before trusting any mean-based SLO:
    alpha <= 2 means infinite variance (percentile alerting only),
    and a falling alpha under drift means the tail is fattening
    faster than the median moves. The fixture's exponential values
    are a known light-tail reference point (Hill on exponential data
    drifts high), pinned by the pytest against numpy.

    Scale shape: the ONLY data-sized stage is a global top-(m+1) —
    orderBy + limit, which Spark plans as TakeOrderedAndProject
    (per-partition heaps + one k-row merge; the round-6 rule: never a
    global row_number window). Everything after lives on m+1 rows.

    Parity: the deterministic tail SET comes from the shared
    (value DESC, event_id) order; per-row log-excess terms quantize
    round(9) into DECIMAL before the order-independent sum; the two
    final divisions share text. A cross-libm ln flip moves one term
    by 1e-9 and alpha by ~alpha^2 * 1e-9 / m ~ 1e-13."""
    ev = table(spark, sf_dir, "events")
    top = (
        ev.select("value", "event_id")
        .orderBy(F.col("value").desc(), "event_id")
        .limit(_HILL_M + 1)
        .select(
            "value",
            "event_id",
            F.row_number()
            .over(Window.orderBy(F.col("value").desc(), "event_id"))
            .alias("rk"),
        )
    )
    thr = top.where(F.col("rk") == _HILL_M + 1).select(
        F.col("value").alias("xt")
    )
    s = (
        top.where(F.col("rk") <= _HILL_M)
        .crossJoin(F.broadcast(thr))
        .agg(
            F.count("*").cast("bigint").alias("m"),
            F.sum(
                F.expr(
                    "CAST(round(ln(value / xt), 9) AS DECIMAL(28,9))"
                )
            ).alias("lsum"),
            F.max("xt").alias("xt"),
        )
    )
    return s.select(
        "m",
        F.round("xt", 6).alias("x_threshold"),
        F.round(F.col("m") / F.col("lsum").cast("double"), 6).alias(
            "hill_alpha"
        ),
        F.round(F.col("lsum").cast("double") / F.col("m"), 6).alias(
            "mean_log_excess"
        ),
    )


# ---------------------------------------------------------------------------
# agg_gumbel_block_maxima
# ---------------------------------------------------------------------------

# Euler-Mascheroni constant, 15 significant digits (double-exact text)
_GUMBEL_GAMMA = "0.577215664901533"


@query(
    "agg_gumbel_block_maxima",
    oracle=f"""
    WITH bm AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(round(max(value), 6) AS DECIMAL(18,6)) AS mx
      FROM events GROUP BY 1),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(mx) AS DOUBLE) AS sx,
             CAST(sum(mx * mx) AS DOUBLE) AS sxx
      FROM bm),
    m AS (
      SELECT n, sx / n AS mean_mx,
             sqrt((sxx - sx * sx / n) / (n - 1)) AS sd_mx
      FROM s)
    SELECT n AS n_blocks,
           round(mean_mx, 6) AS mean_max,
           round(sd_mx * sqrt(6.0) / pi(), 6) AS gumbel_beta,
           round(mean_mx - {_GUMBEL_GAMMA} * sd_mx * sqrt(6.0) / pi(), 6)
             AS gumbel_mu,
           round(mean_mx - {_GUMBEL_GAMMA} * sd_mx * sqrt(6.0) / pi()
                 - sd_mx * sqrt(6.0) / pi() * ln(-ln(0.99)), 6)
             AS return_level_100
    FROM m
    """,
)
def agg_gumbel_block_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTREME-VALUE MONITORING — a Gumbel fit over DAILY BLOCK MAXIMA
    of event values by method of moments (beta = s*sqrt(6)/pi, mu =
    mean - gamma*beta, the standard quick EVT fit), plus the 100-block
    return level mu - beta*ln(-ln(0.99)) — the value exceeded once per
    ~100 days, which is what capacity planning and alert-threshold
    design actually consume (a p99 over raw events says nothing about
    daily worst cases; block maxima are the EVT-correct object).

    Scale shape: one map-side-combined groupBy(day) max over the
    stream — the only data-sized stage — then moments over the
    bounded day domain. One-row output.

    Parity: block maxima are round(6) DECIMAL(18,6) (exact,
    order-independent sums; squares are (37,12), exact for round-6
    inputs — the win_bollinger_bands width rule); mean/sd/fit evaluate
    the IDENTICAL double expression text on both engines (sqrt and
    pi() are correctly-rounded/identical constants; ln(-ln(0.99)) is
    one shared transcendental of a literal). gamma is a 15-digit
    literal, double-exact on both sides."""
    ev = table(spark, sf_dir, "events")
    bm = ev.groupBy(
        F.date_trunc("DAY", F.col("ts")).cast("date").alias("day")
    ).agg(
        F.expr("CAST(round(max(value), 6) AS DECIMAL(18,6))").alias("mx")
    )
    s = bm.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("mx").cast("double").alias("sx"),
        F.sum(F.col("mx") * F.col("mx")).cast("double").alias("sxx"),
    )
    m = s.selectExpr(
        "n",
        "sx / n AS mean_mx",
        "sqrt((sxx - sx * sx / n) / (n - 1)) AS sd_mx",
    )
    beta = "sd_mx * sqrt(6.0) / pi()"
    return m.selectExpr(
        "n AS n_blocks",
        "round(mean_mx, 6) AS mean_max",
        f"round({beta}, 6) AS gumbel_beta",
        f"round(mean_mx - {_GUMBEL_GAMMA} * {beta}, 6) AS gumbel_mu",
        f"round(mean_mx - {_GUMBEL_GAMMA} * {beta}"
        f" - {beta} * ln(-ln(0.99)), 6) AS return_level_100",
    )


# ---------------------------------------------------------------------------
# pipeline_annotation_agreement
# ---------------------------------------------------------------------------

# Two deterministic weak labelers for "document length class": A reads
# raw characters, B reads whitespace tokens — real, imperfectly
# correlated proxies (exactly the disagreement pattern a labeling QA
# gate sees), not hash noise.
_ANN_A = (
    "CASE WHEN n_chars < 200 THEN 'short' "
    "WHEN n_chars < 350 THEN 'medium' ELSE 'long' END"
)
_ANN_B_DUCK = (
    "CASE WHEN len(string_split(text, ' ')) < 40 THEN 'short' "
    "WHEN len(string_split(text, ' ')) < 70 THEN 'medium' "
    "ELSE 'long' END"
)
_ANN_B_SPARK = (
    "CASE WHEN size(split(text, ' ')) < 40 THEN 'short' "
    "WHEN size(split(text, ' ')) < 70 THEN 'medium' "
    "ELSE 'long' END"
)


@query(
    "pipeline_annotation_agreement",
    oracle=f"""
    WITH lab AS (
      SELECT {_ANN_A} AS la, {_ANN_B_DUCK} AS lb FROM documents),
    cm AS (
      SELECT la, lb, CAST(count(*) AS BIGINT) AS c FROM lab GROUP BY 1, 2),
    marg AS (
      SELECT a.la AS lbl,
             CAST(ra.r AS BIGINT) AS row_a, CAST(cb.c AS BIGINT) AS col_b
      FROM (SELECT DISTINCT la FROM cm) a
      JOIN (SELECT la, sum(c) AS r FROM cm GROUP BY la) ra ON ra.la = a.la
      JOIN (SELECT lb, sum(c) AS c FROM cm GROUP BY lb) cb ON cb.lb = a.la),
    s AS (
      SELECT CAST((SELECT sum(c) FROM cm) AS BIGINT) AS n,
             CAST((SELECT sum(c) FROM cm WHERE la = lb) AS BIGINT) AS agree,
             CAST((SELECT sum(row_a * col_b) FROM marg) AS BIGINT) AS prod)
    SELECT n AS n_docs,
           round(CAST(agree AS DOUBLE) / n, 6) AS po,
           round(CAST(prod AS DOUBLE) / (n * n), 6) AS pe,
           round(CAST(agree * n - prod AS DOUBLE) / (n * n - prod), 6)
             AS kappa
    FROM s
    """,
)
def pipeline_annotation_agreement(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INTER-ANNOTATOR AGREEMENT (Cohen's kappa) between two
    deterministic weak labelers of document length class — the QA
    gate a labeling/weak-supervision pipeline runs before trusting a
    label source: raw agreement po means nothing when the label
    distribution is skewed; kappa corrects for chance agreement
    pe = sum_i p_A(i) * p_B(i). Labeler A classes by characters,
    labeler B by whitespace tokens (module constants) — genuinely
    correlated-but-imperfect proxies, so the confusion matrix has
    real off-diagonal mass.

    Exactness: kappa reduces to the EXACT INTEGER ratio
    (agree*n - sum_i rowA_i*colB_i) / (n^2 - sum_i rowA_i*colB_i) —
    one double division at the end, round(6); po and pe likewise
    single divisions of integers. No float ever enters the confusion
    counting.

    Scale shape: one scan -> |labels|^2 confusion aggregate
    (map-side combined); marginals and kappa live on the bounded
    label domain. One-row output."""
    d = table(spark, sf_dir, "documents")
    lab = d.selectExpr(f"{_ANN_A} AS la", f"{_ANN_B_SPARK} AS lb")
    cm = lab.groupBy("la", "lb").agg(
        F.count("*").cast("bigint").alias("c")
    )
    ra = cm.groupBy("la").agg(F.sum("c").cast("bigint").alias("row_a"))
    cb = cm.groupBy(F.col("lb").alias("la")).agg(
        F.sum("c").cast("bigint").alias("col_b")
    )
    marg = ra.join(cb, "la")
    s = (
        cm.agg(
            F.sum("c").cast("bigint").alias("n"),
            F.sum(F.when(F.col("la") == F.col("lb"), F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("agree"),
        )
        .crossJoin(
            F.broadcast(
                marg.agg(
                    F.sum(F.col("row_a") * F.col("col_b"))
                    .cast("bigint")
                    .alias("prod")
                )
            )
        )
    )
    return s.selectExpr(
        "n AS n_docs",
        "round(CAST(agree AS DOUBLE) / n, 6) AS po",
        "round(CAST(prod AS DOUBLE) / (n * n), 6) AS pe",
        "round(CAST(agree * n - prod AS DOUBLE) / (n * n - prod), 6)"
        " AS kappa",
    )


# ---------------------------------------------------------------------------
# agg_l_diversity
# ---------------------------------------------------------------------------


@query(
    "agg_l_diversity",
    oracle="""
    WITH q AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             length(bin(CAST(floor(value) AS BIGINT) + 1)) AS vb,
             user_id
      FROM events),
    c AS (
      SELECT event_type, day, vb,
             CAST(count(*) AS BIGINT) AS sz,
             CAST(count(DISTINCT user_id) AS BIGINT) AS l
      FROM q GROUP BY 1, 2, 3),
    tot AS (SELECT CAST(sum(sz) AS BIGINT) AS n FROM c)
    SELECT l AS l_distinct_users,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(sum(sz) AS BIGINT) AS n_rows,
           round(CAST(sum(sz) AS DOUBLE) / max(tot.n), 6) AS pct_rows
    FROM c CROSS JOIN tot
    GROUP BY l
    """,
)
def agg_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L-DIVERSITY SPECTRUM — agg_k_anonymity's companion audit: for
    the same quasi-identifier classes (event_type, day, magnitude
    bucket), how many DISTINCT sensitive values (user_id) each class
    contains. k-anonymity alone is fooled by a large class whose rows
    all belong to ONE user (homogeneity attack: the QI combination
    still identifies the person); l-diversity counts the classes
    where the sensitive attribute is effectively constant. Output:
    per l (distinct users in class), class count, row count, row
    share — the l=1 row is the disclosure mass a release gate blocks
    on.

    Same exactness discipline as agg_k_anonymity (integer bin-length
    magnitude bucket, no float log boundaries); one QI groupBy with a
    count-distinct (the only addition), one bounded-domain histogram,
    a 1-row total broadcast."""
    ev = table(spark, sf_dir, "events")
    q = ev.select(
        "event_type",
        F.date_trunc("DAY", F.col("ts")).cast("date").alias("day"),
        F.expr("length(bin(CAST(floor(value) AS BIGINT) + 1))").alias("vb"),
        "user_id",
    )
    c = q.groupBy("event_type", "day", "vb").agg(
        F.count("*").cast("bigint").alias("sz"),
        F.countDistinct("user_id").cast("bigint").alias("l"),
    )
    tot = c.agg(F.sum("sz").cast("bigint").alias("n"))
    return (
        c.crossJoin(F.broadcast(tot))
        .groupBy(F.col("l").alias("l_distinct_users"))
        .agg(
            F.count("*").cast("bigint").alias("n_classes"),
            F.sum("sz").cast("bigint").alias("n_rows"),
            F.round(F.sum("sz").cast("double") / F.max("n"), 6).alias(
                "pct_rows"
            ),
        )
    )
