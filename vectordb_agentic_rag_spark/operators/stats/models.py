"""Models and causal estimators: linear and logistic regression,
decision stumps, classifier evaluation (ROC, calibration, gains),
treatment-effect estimators (stratified ATE, DiD, IV, CUPED, uplift,
mediation) and survival analysis.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ...functions.domain import dist_exclusive_prefix
from ...memo import session_artifact
from ...registry import query
from ...tables import table


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
    from ..relational import agg_sessionize_batch

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
# agg_beta_binomial_shrinkage
# ---------------------------------------------------------------------------


@query(
    "agg_beta_binomial_shrinkage",
    oracle="""
    WITH u AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS x
      FROM events GROUP BY user_id),
    r AS (
      SELECT user_id, n, x,
             CAST(round(CAST(x AS DOUBLE) / n, 9) AS DECIMAL(12,9)) AS p
      FROM u),
    st AS (
      SELECT CAST(count(*) AS BIGINT) AS uu,
             CAST(sum(p) AS DECIMAL(28,9)) AS s,
             CAST(sum(CAST(p AS DECIMAL(19,9)) * p) AS DECIMAL(38,18))
               AS q
      FROM r),
    pri AS (
      SELECT uu,
             CAST(s AS DOUBLE) / uu AS mu,
             (CAST(s AS DOUBLE) / uu) * (1.0 - CAST(s AS DOUBLE) / uu)
               / ((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                   / uu) / (uu - 1)) - 1.0 AS m
      FROM st)
    SELECT r.user_id, r.n AS n_events, r.x AS n_purchases,
           round(CAST(r.x AS DOUBLE) / r.n, 6) AS raw_rate,
           round((r.x + pri.mu * pri.m) / (r.n + pri.m), 6)
             AS shrunk_rate,
           round(pri.m, 6) AS prior_strength,
           round(pri.mu, 6) AS prior_mean
    FROM r CROSS JOIN pri
    ORDER BY round((r.x + pri.mu * pri.m) / (r.n + pri.m), 9) DESC,
             r.user_id
    LIMIT 10
    """,
)
def agg_beta_binomial_shrinkage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EMPIRICAL-BAYES (beta-binomial) SHRINKAGE of per-user purchase
    rates: fit the beta prior by method of moments on the observed
    per-user rates (prior strength M = mu(1-mu)/var - 1, i.e. the
    whole population acts as M pseudo-events for every user), then
    score each user by the posterior mean (x + mu·M)/(n + M) and
    report the top-10 — THE canonical per-key rate-estimation move at
    100 TB, where millions of keys have 10 observations each and raw
    rate rankings are just a lottery of small denominators
    (agg_two_proportion_ztest decides ONE comparison; shrinkage makes
    every per-key rate comparable at once). Fixture M ~ 67-72 at
    every sf, so low-n users visibly pull toward the prior mean —
    the reordering vs raw_rate is the point of the output.

    Shape at 100 TB: one grouped scan to per-user (n, x); one 1-row
    moment reduce for the prior; one broadcast of that row back for
    scoring; top-10 via orderBy+limit (TakeOrderedAndProject). The
    per-user frame is unbounded and is deliberately NOT checkpointed
    — it derives twice (moments + scoring), each a single
    map-side-combinable pass.

    Parity: (n, x) exact integers; per-user rates quantize round(9)
    into DECIMAL so the prior moments are exact decimal sums (the
    squares stay inside DECIMAL(19,9) operands — the DuckDB int64
    kernel rule); mu, M, and every posterior mean are shared double
    expressions, ordered by their round(9) quantization with user_id
    tie-break (inter-user posterior gaps ~1e-3 >> 1e-9)."""
    ev = table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(
            F.expr("CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END")
        )
        .cast("bigint")
        .alias("x"),
    )
    r = u.select(
        "user_id",
        "n",
        "x",
        F.expr(
            "CAST(round(CAST(x AS DOUBLE) / n, 9) AS DECIMAL(12,9))"
        ).alias("p"),
    )
    st = r.agg(
        F.count("*").cast("bigint").alias("uu"),
        F.sum("p").cast("decimal(28,9)").alias("s"),
        F.sum(F.expr("CAST(p AS DECIMAL(19,9)) * p"))
        .cast("decimal(38,18)")
        .alias("q"),
    )
    pri = st.selectExpr(
        "uu",
        "CAST(s AS DOUBLE) / uu AS mu",
        "(CAST(s AS DOUBLE) / uu) * (1.0 - CAST(s AS DOUBLE) / uu)"
        " / ((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)"
        " / uu) / (uu - 1)) - 1.0 AS m",
    ).localCheckpoint()
    return (
        r.crossJoin(F.broadcast(pri))
        .orderBy(
            F.expr(
                "round((x + mu * m) / (n + m), 9)"
            ).desc(),
            "user_id",
        )
        .limit(10)
        .selectExpr(
            "user_id",
            "n AS n_events",
            "x AS n_purchases",
            "round(CAST(x AS DOUBLE) / n, 6) AS raw_rate",
            "round((x + mu * m) / (n + m), 6) AS shrunk_rate",
            "round(m, 6) AS prior_strength",
            "round(mu, 6) AS prior_mean",
        )
    )


# ---------------------------------------------------------------------------
# agg_roc_youden
# ---------------------------------------------------------------------------


@query(
    "agg_roc_youden",
    oracle="""
    WITH r AS (
      SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS c
      FROM events WHERE event_type IN ('click', 'view')),
    blk AS MATERIALIZED (
      SELECT c,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS f1,
             CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS BIGINT) AS f2
      FROM r GROUP BY c),
    tot AS MATERIALIZED (
      SELECT CAST(sum(f1) AS BIGINT) AS n1, CAST(sum(f2) AS BIGINT) AS n2
      FROM blk),
    cum AS MATERIALIZED (
      SELECT c,
             sum(f1) OVER (ORDER BY c) - f1 AS c1less,
             sum(f2) OVER (ORDER BY c) - f2 AS c2less,
             f1, f2
      FROM blk),
    auc AS (
      SELECT CAST(sum(f1 * (2 * c2less + f2)) AS BIGINT) AS a2num
      FROM cum),
    j AS (
      SELECT c AS thr,
             tot.n1 - c1less AS tp, tot.n2 - c2less AS fp, tot.n1,
             tot.n2,
             (tot.n1 - c1less) * tot.n2 - (tot.n2 - c2less) * tot.n1
               AS jnum
      FROM cum CROSS JOIN tot),
    best AS (
      SELECT * FROM j ORDER BY jnum DESC, thr LIMIT 1)
    SELECT b.n1 AS n_click, b.n2 AS n_view,
           round(CAST(b.thr AS DOUBLE) / 100.0, 6) AS best_threshold,
           round(CAST(b.tp AS DOUBLE) / b.n1, 6) AS tpr,
           round(CAST(b.fp AS DOUBLE) / b.n2, 6) AS fpr,
           round(CAST(b.jnum AS DOUBLE) / (b.n1 * b.n2), 6) AS youden_j,
           round(CAST(a.a2num AS DOUBLE) / (2.0 * b.n1 * b.n2), 6)
             AS auc
    FROM best b CROSS JOIN auc a
    """,
)
def agg_roc_youden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC ANALYSIS of value as a click-vs-view classifier: the exact
    AUC (Mann-Whitney identity with the tie correction — 2·AUC·n1·n2
    = Σ_c f1(c)·(2·#view<c + #view=c), an exact integer) and the
    YOUDEN-OPTIMAL threshold maximizing J = TPR - FPR over the
    complete value domain (classify click when value >= t) — the
    threshold-free discrimination number (AUC) plus the single best
    operating point, completing the classifier-eval family
    (agg_calibration_brier scores probability quality,
    agg_decision_stump_gini picks a purity split; Youden picks the
    screening cutoff). J's argmax compares exact integer
    cross-products (J·n1·n2), so no division enters the decision.

    Shape at 100 TB: one grouped scan to the distinct-cents value
    domain; cumulative counts are windows over that bounded domain;
    argmax is orderBy+limit 1. The same value-domain machinery as
    agg_mann_whitney_u, re-read as ROC.

    Parity: all counts exact BIGINT; the argmax key is an exact
    integer with threshold tie-break; outputs are single divisions,
    round(6)."""
    ev = table(spark, sf_dir, "events")
    r = ev.where(F.col("event_type").isin("click", "view")).select(
        "event_type", F.expr("CAST(value * 100 + 0.5 AS BIGINT)").alias("c")
    )
    blk = r.groupBy("c").agg(
        F.sum(F.expr("CASE WHEN event_type = 'click' THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("f1"),
        F.sum(F.expr("CASE WHEN event_type = 'view' THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("f2"),
    ).localCheckpoint()
    tot = blk.agg(
        F.sum("f1").cast("bigint").alias("n1"),
        F.sum("f2").cast("bigint").alias("n2"),
    ).localCheckpoint()
    w_c = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    cum = blk.select(
        "c",
        (F.sum("f1").over(w_c) - F.col("f1")).alias("c1less"),
        (F.sum("f2").over(w_c) - F.col("f2")).alias("c2less"),
        "f1",
        "f2",
    )
    auc = cum.agg(
        F.sum(F.expr("f1 * (2 * c2less + f2)")).cast("bigint").alias("a2num")
    )
    j = cum.crossJoin(F.broadcast(tot)).selectExpr(
        "c AS thr",
        "n1 - c1less AS tp",
        "n2 - c2less AS fp",
        "n1",
        "n2",
        "(n1 - c1less) * n2 - (n2 - c2less) * n1 AS jnum",
    )
    best = j.orderBy(F.col("jnum").desc(), "thr").limit(1)
    return best.crossJoin(F.broadcast(auc)).selectExpr(
        "n1 AS n_click",
        "n2 AS n_view",
        "round(CAST(thr AS DOUBLE) / 100.0, 6) AS best_threshold",
        "round(CAST(tp AS DOUBLE) / n1, 6) AS tpr",
        "round(CAST(fp AS DOUBLE) / n2, 6) AS fpr",
        "round(CAST(jnum AS DOUBLE) / (n1 * n2), 6) AS youden_j",
        "round(CAST(a2num AS DOUBLE) / (2.0 * n1 * n2), 6) AS auc",
    )


# ---------------------------------------------------------------------------
# agg_discount_elasticity
# ---------------------------------------------------------------------------


@query(
    "agg_discount_elasticity",
    oracle="""
    WITH r AS (
      SELECT CAST(round(l_discount * 100, 0) AS BIGINT) AS d,
             CAST(round(l_quantity, 0) AS BIGINT) AS q
      FROM lineitem),
    lev AS MATERIALIZED (
      SELECT d, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(q) AS BIGINT) AS sq
      FROM r GROUP BY d),
    mo AS (
      SELECT CAST(sum(n) AS BIGINT) AS n,
             CAST(sum(d * n) AS BIGINT) AS sx,
             CAST(sum(sq) AS BIGINT) AS sy,
             CAST(sum(d * d * n) AS BIGINT) AS sxx,
             CAST(sum(d * sq) AS BIGINT) AS sxy
      FROM lev),
    fit AS (
      SELECT n, sx, sy, sxx, sxy,
             (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
               / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
               AS slope
      FROM mo)
    SELECT lev.d AS discount_pct, lev.n AS n_lines,
           round(CAST(lev.sq AS DOUBLE) / lev.n, 6) AS mean_quantity,
           round(f.slope, 6) AS qty_per_discount_pct,
           round((CAST(f.sy AS DOUBLE) - f.slope * f.sx) / f.n, 6)
             AS intercept_qty,
           round(f.slope * 100.0
                 / ((CAST(f.sy AS DOUBLE) - f.slope * f.sx) / f.n), 6)
             AS elasticity_at_zero
    FROM lev CROSS JOIN fit f
    """,
)
def agg_discount_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISCOUNT-QUANTITY ELASTICITY from the lineitem fact table: the
    OLS slope of order quantity on the discount level (in integer
    percent points, the fixture's exact 0-10 domain), the zero-
    discount intercept, and the implied elasticity at list price
    (slope·100/intercept: % quantity change per 100% discount change)
    — the pricing read the TPC-H-style revenue ops
    (agg_rollup_revenue, win_running_total_range) never ask of the
    same scan. Per-level mean quantities ride along so the linearity
    assumption is visually checkable against the fit (on the
    synthetic fixture the slope is ~0 — the documented null case: the
    generator draws quantity independent of discount, and a pipeline
    should SHOW that, not assume it).

    Shape at 100 TB: one groupBy on the 11-value discount domain
    (map-side combinable) collapses the fact table; the regression is
    bounded-domain arithmetic on exact integer moments (quantities
    and discount points are exact integers, so Sxy, Sxx are exact
    BIGINTs — no decimal machinery needed at all).

    Parity: both columns round-trip through exact integer casts; the
    slope/intercept/elasticity are shared double expressions of exact
    integers, round(6)."""
    li = table(spark, sf_dir, "lineitem")
    r = li.select(
        F.expr("CAST(l_discount * 100 + 0.5 AS BIGINT)").alias("d"),
        F.expr("CAST(l_quantity + 0.5 AS BIGINT)").alias("q"),
    )
    lev = r.groupBy("d").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("q").cast("bigint").alias("sq"),
    ).localCheckpoint()
    mo = lev.agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum(F.expr("d * n")).cast("bigint").alias("sx"),
        F.sum("sq").cast("bigint").alias("sy"),
        F.sum(F.expr("d * d * n")).cast("bigint").alias("sxx"),
        F.sum(F.expr("d * sq")).cast("bigint").alias("sxy"),
    )
    fit = mo.selectExpr(
        "n AS ntot",
        "sx",
        "sy",
        "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
        " / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) AS slope",
    )
    return lev.crossJoin(F.broadcast(fit)).selectExpr(
        "d AS discount_pct",
        "n AS n_lines",
        "round(CAST(sq AS DOUBLE) / n, 6) AS mean_quantity",
        "round(slope, 6) AS qty_per_discount_pct",
        "round((CAST(sy AS DOUBLE) - slope * sx) / ntot, 6)"
        " AS intercept_qty",
        "round(slope * 100.0"
        " / ((CAST(sy AS DOUBLE) - slope * sx) / ntot), 6)"
        " AS elasticity_at_zero",
    )


# ---------------------------------------------------------------------------
# agg_stratified_ate
# ---------------------------------------------------------------------------


@query(
    "agg_stratified_ate",
    oracle="""
    WITH u AS MATERIALIZED (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS clicks,
             CAST(CASE WHEN sum(CASE WHEN event_type = 'purchase'
                                     THEN 1 ELSE 0 END) >= 12
                       THEN 1 ELSE 0 END AS BIGINT) AS converted
      FROM events GROUP BY user_id),
    dom AS MATERIALIZED (
      SELECT n_events AS v, CAST(count(*) AS BIGINT) AS c
      FROM u GROUP BY n_events),
    cum AS MATERIALIZED (
      SELECT v, sum(c) OVER (ORDER BY v) - c AS cum_less,
             (SELECT sum(c) FROM dom) AS n
      FROM dom),
    su AS MATERIALIZED (
      SELECT u.user_id,
             CAST(least(4, 5 * cum.cum_less // cum.n) AS BIGINT)
               AS stratum,
             CAST(CASE WHEN u.clicks >= 15 THEN 1 ELSE 0 END AS BIGINT)
               AS treated,
             u.converted
      FROM u JOIN cum ON u.n_events = cum.v),
    cell AS MATERIALIZED (
      SELECT stratum,
             CAST(count(*) AS BIGINT) AS n_s,
             CAST(sum(treated) AS BIGINT) AS n_t,
             CAST(sum(treated * converted) AS BIGINT) AS x_t,
             CAST(sum((1 - treated) * converted) AS BIGINT) AS x_c
      FROM su GROUP BY stratum),
    ok AS MATERIALIZED (
      SELECT *, n_s - n_t AS n_c FROM cell
      WHERE n_t > 0 AND n_s - n_t > 0),
    tot AS MATERIALIZED (
      SELECT CAST(sum(n_s) AS BIGINT) AS n_used FROM ok),
    ate AS (
      SELECT CAST(sum(CAST(round(
               (CAST(o.x_t AS DOUBLE) / o.n_t
                - CAST(o.x_c AS DOUBLE) / o.n_c)
               * o.n_s / t.n_used, 12) AS DECIMAL(20,12)))
             AS DOUBLE) AS ate
      FROM ok o CROSS JOIN tot t)
    SELECT o.stratum, o.n_s AS n_users, o.n_t AS n_treated,
           round(CAST(o.x_t AS DOUBLE) / o.n_t, 6) AS p_treated,
           round(CAST(o.x_c AS DOUBLE) / o.n_c, 6) AS p_control,
           round(CAST(o.x_t AS DOUBLE) / o.n_t
                 - CAST(o.x_c AS DOUBLE) / o.n_c, 6) AS stratum_effect,
           round(a.ate, 6) AS stratified_ate
    FROM ok o CROSS JOIN ate a
    """,
)
def agg_stratified_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRATIFIED AVERAGE TREATMENT EFFECT of heavy clicking (>= 15
    clicks) on conversion (>= 12 purchases), stratifying users by
    activity quintile — the observational-causal adjustment for the
    obvious confounder (active users click more AND buy more; the
    naive treated-vs-control gap conflates the two). Within each
    activity quintile the comparison is like-for-like; the ATE is the
    size-weighted mean of the stratum effects — sub/stratification
    being the assumption-light first rung of the causal ladder
    (agg_two_proportion_ztest is the UNADJUSTED rung). Strata missing
    an arm are excluded and the ATE reweights over the used
    population (documented, standard practice).

    Quintiles come from the exact value-domain rank machinery
    (least(4, 5*cum_less div n) — no ntile, whose tie behavior is
    order-dependent), so stratum assignment is deterministic under
    ties at ANY scale.

    Shape at 100 TB: one grouped scan to per-user counts; the
    quintile map is a bounded count-domain cumsum joined back; cells
    are a 5-row aggregate. Per-stratum rows + the grand ATE.

    Parity: all counts exact integers; stratum effects are single
    divisions; each ATE term quantizes round(12) into DECIMAL before
    the order-independent sum; outputs round(6)."""
    ev = table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(F.expr("CASE WHEN event_type = 'click' THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("clicks"),
        F.expr(
            "CAST(CASE WHEN sum(CASE WHEN event_type = 'purchase'"
            " THEN 1 ELSE 0 END) >= 12 THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("converted"),
    )
    dom = u.groupBy(F.col("n_events").alias("v")).agg(
        F.count("*").cast("bigint").alias("c")
    )
    w_v = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = dom.select(
        "v",
        (F.sum("c").over(w_v) - F.col("c")).alias("cum_less"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
    )
    su = u.join(
        F.broadcast(cum.withColumnRenamed("v", "n_events")), "n_events"
    ).selectExpr(
        "user_id",
        "CAST(least(4, 5 * cum_less div n) AS BIGINT) AS stratum",
        "CAST(CASE WHEN clicks >= 15 THEN 1 ELSE 0 END AS BIGINT)"
        " AS treated",
        "converted",
    )
    cell = su.groupBy("stratum").agg(
        F.count("*").cast("bigint").alias("n_s"),
        F.sum("treated").cast("bigint").alias("n_t"),
        F.sum(F.expr("treated * converted")).cast("bigint").alias("x_t"),
        F.sum(F.expr("(1 - treated) * converted"))
        .cast("bigint")
        .alias("x_c"),
    )
    ok = cell.where(
        (F.col("n_t") > 0) & (F.col("n_s") - F.col("n_t") > 0)
    ).withColumn("n_c", F.col("n_s") - F.col("n_t")).localCheckpoint()
    tot = ok.agg(F.sum("n_s").cast("bigint").alias("n_used"))
    ate = ok.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.expr(
                "CAST(round((CAST(x_t AS DOUBLE) / n_t"
                " - CAST(x_c AS DOUBLE) / n_c) * n_s / n_used, 12)"
                " AS DECIMAL(20,12))"
            )
        )
        .cast("double")
        .alias("ate")
    )
    return ok.crossJoin(F.broadcast(ate)).selectExpr(
        "stratum",
        "n_s AS n_users",
        "n_t AS n_treated",
        "round(CAST(x_t AS DOUBLE) / n_t, 6) AS p_treated",
        "round(CAST(x_c AS DOUBLE) / n_c, 6) AS p_control",
        "round(CAST(x_t AS DOUBLE) / n_t - CAST(x_c AS DOUBLE) / n_c, 6)"
        " AS stratum_effect",
        "round(ate, 6) AS stratified_ate",
    )


# ---------------------------------------------------------------------------
# agg_sprt_ab_replay
# ---------------------------------------------------------------------------


@query(
    "agg_sprt_ab_replay",
    oracle="""
    WITH d1 AS MATERIALIZED (
      SELECT ts, event_id,
             CAST(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                  AS BIGINT) AS x
      FROM events
      WHERE CAST(ts AS DATE) = (SELECT min(CAST(ts AS DATE))
                                FROM events)),
    llr AS MATERIALIZED (
      SELECT x,
             CAST(row_number() OVER (ORDER BY ts, event_id) AS BIGINT)
               AS t,
             CAST(sum(CASE WHEN x = 1
                  THEN CAST(round(ln(CAST(0.21 AS DOUBLE) / 0.19), 12)
                            AS DECIMAL(20,12))
                  ELSE CAST(round(ln(CAST(0.79 AS DOUBLE) / 0.81), 12)
                            AS DECIMAL(20,12)) END)
                  OVER (ORDER BY ts, event_id) AS DECIMAL(28,12)) AS s
      FROM d1),
    cross_t AS MATERIALIZED (
      SELECT min(t) AS t_dec FROM llr
      WHERE CAST(s AS DOUBLE) >= 2.944439 OR
            CAST(s AS DOUBLE) <= -2.944439),
    fin AS (
      SELECT l.t, l.s FROM llr l CROSS JOIN cross_t c
      WHERE l.t = coalesce(c.t_dec, (SELECT max(t) FROM llr)))
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM d1) AS n_day1_events,
           f.t AS n_steps_used,
           CAST(round(f.s, 6) AS DOUBLE) AS llr_at_stop,
           CASE WHEN CAST(f.s AS DOUBLE) >= 2.944439 THEN 'accept_h1'
                WHEN CAST(f.s AS DOUBLE) <= -2.944439 THEN 'accept_h0'
                ELSE 'inconclusive' END AS decision
    FROM fin f
    """,
)
def agg_sprt_ab_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WALD SPRT REPLAY on day-1 events: sequential probability ratio
    test of conversion rate H0: p = 0.19 vs H1: p = 0.21 (bracketing
    the fixture's ~0.20), stepping the log-likelihood-ratio walk
    event-by-event in time order and stopping at the first crossing
    of ln(19) = ±2.944439 (alpha = beta = 0.05) — the sequential
    design that answers in HOWEVER many observations it needs, vs
    agg_two_proportion_ztest's fixed-horizon verdict; the batch
    replay twin of what stream_cusum_live does for level shifts.
    Replay is deliberately scoped to the FIRST DAY (a pushed
    partition-pruning filter): an SPRT is an inherently sequential
    diagnostic — at production scale it runs on the stream, and the
    batch op exists to calibrate it.

    Parity: the two per-event increments are CONSTANTS quantized
    round(12) into DECIMAL, so the cumulative walk is an exact
    decimal cumsum over the (ts, event_id) total order; the boundary
    compare reads the exact decimal cast once to double; first
    crossing is a min over exact comparisons."""
    ev = table(spark, sf_dir, "events")
    first_day = ev.agg(
        F.min(F.col("ts").cast("date")).alias("d0")
    )
    d1 = (
        ev.join(
            F.broadcast(first_day),
            F.col("ts").cast("date") == F.col("d0"),
        )
        .select(
            "ts",
            "event_id",
            F.expr(
                "CAST(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0"
                " END AS BIGINT)"
            ).alias("x"),
        )
        .localCheckpoint()
    )
    w_t = Window.orderBy("ts", "event_id")
    w_cum = w_t.rowsBetween(Window.unboundedPreceding, 0)
    llr = d1.select(
        "x",
        F.row_number().over(w_t).cast("bigint").alias("t"),
        F.sum(
            F.expr(
                "CASE WHEN x = 1 THEN"
                " CAST(round(ln(CAST(0.21 AS DOUBLE) / 0.19), 12)"
                " AS DECIMAL(20,12))"
                " ELSE CAST(round(ln(CAST(0.79 AS DOUBLE) / 0.81), 12)"
                " AS DECIMAL(20,12)) END"
            )
        )
        .over(w_cum)
        .cast("decimal(28,12)")
        .alias("s"),
    ).localCheckpoint()
    cross_t = llr.where(
        F.expr(
            "CAST(s AS DOUBLE) >= 2.944439 OR CAST(s AS DOUBLE)"
            " <= -2.944439"
        )
    ).agg(F.min("t").alias("t_dec"))
    tmax = llr.agg(F.max("t").alias("t_max"))
    fin = (
        llr.crossJoin(F.broadcast(cross_t))
        .crossJoin(F.broadcast(tmax))
        .where(F.col("t") == F.expr("coalesce(t_dec, t_max)"))
    )
    nd = d1.agg(F.count("*").cast("bigint").alias("n_day1_events"))
    return fin.crossJoin(F.broadcast(nd)).selectExpr(
        "n_day1_events",
        "t AS n_steps_used",
        "CAST(round(s, 6) AS DOUBLE) AS llr_at_stop",
        "CASE WHEN CAST(s AS DOUBLE) >= 2.944439 THEN 'accept_h1'"
        " WHEN CAST(s AS DOUBLE) <= -2.944439 THEN 'accept_h0'"
        " ELSE 'inconclusive' END AS decision",
    )


# ---------------------------------------------------------------------------
# agg_logrank_test
# ---------------------------------------------------------------------------


@query(
    "agg_logrank_test",
    oracle="""
    WITH conv AS MATERIALIZED (
      SELECT user_id FROM events WHERE event_type = 'purchase'
      GROUP BY user_id HAVING count(*) >= 12),
    flagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                      > 1800000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    numbered AS (
      SELECT user_id, ts,
             sum(new_sess) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_no
      FROM flagged),
    sess AS MATERIALIZED (
      SELECT user_id, sess_no,
             CAST(epoch_us(max(ts)) AS BIGINT) AS end_us,
             CAST((epoch_us(max(ts)) - epoch_us(min(ts))) // 60000000
                  AS BIGINT) AS dur_min
      FROM numbered GROUP BY user_id, sess_no),
    mxx AS MATERIALIZED (SELECT max(end_us) AS m FROM sess),
    lab AS MATERIALIZED (
      SELECT s.dur_min,
             CASE WHEN s.end_us > x.m - 7200000000 THEN 1 ELSE 0 END
               AS cen,
             CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END AS grp
      FROM sess s CROSS JOIN mxx x
      LEFT JOIN conv c ON s.user_id = c.user_id),
    g AS MATERIALIZED (
      SELECT dur_min,
             CAST(sum(CASE WHEN grp = 1 THEN 1 - cen ELSE 0 END)
                  AS BIGINT) AS d1,
             CAST(sum(CASE WHEN grp = 1 THEN cen ELSE 0 END)
                  AS BIGINT) AS c1,
             CAST(sum(CASE WHEN grp = 0 THEN 1 - cen ELSE 0 END)
                  AS BIGINT) AS d0,
             CAST(sum(CASE WHEN grp = 0 THEN cen ELSE 0 END)
                  AS BIGINT) AS c0
      FROM lab GROUP BY dur_min),
    r AS MATERIALIZED (
      SELECT dur_min, d1, d0,
             sum(d1 + c1) OVER () -
               coalesce(sum(d1 + c1) OVER (ORDER BY dur_min
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n1,
             sum(d0 + c0) OVER () -
               coalesce(sum(d0 + c0) OVER (ORDER BY dur_min
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n0
      FROM g),
    terms AS (
      SELECT CAST(count(*) AS BIGINT) AS n_times,
             CAST(sum(CAST(round(
               d1 - CAST(d1 + d0 AS DOUBLE) * n1 / (n1 + n0), 9)
               AS DECIMAL(28,9))) AS DECIMAL(38,9)) AS ome,
             CAST(sum(CAST(round(
               CAST(d1 + d0 AS DOUBLE) * n1 * n0
               * (n1 + n0 - d1 - d0)
               / (CAST(n1 + n0 AS DOUBLE) * (n1 + n0)
                  * (n1 + n0 - 1)), 9)
               AS DECIMAL(28,9))) AS DECIMAL(38,9)) AS v
      FROM r
      WHERE d1 + d0 > 0 AND n1 + n0 > 1),
    tot AS (
      SELECT CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS s1,
             CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS s0
      FROM lab)
    SELECT tot.s1 AS n_sessions_conv, tot.s0 AS n_sessions_non,
           t.n_times AS n_death_times,
           round(CAST(t.ome AS DOUBLE), 6) AS o_minus_e,
           round(CAST(t.ome AS DOUBLE) * CAST(t.ome AS DOUBLE)
                 / CAST(t.v AS DOUBLE), 6) AS logrank_chi2,
           CAST(CASE WHEN round(CAST(t.ome AS DOUBLE)
                                * CAST(t.ome AS DOUBLE)
                                / CAST(t.v AS DOUBLE), 9) > 3.841
                     THEN 1 ELSE 0 END AS BIGINT)
             AS survival_differs_05
    FROM terms t CROSS JOIN tot
    """,
)
def agg_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOG-RANK TEST comparing session-duration survival between
    CONVERTER (>= 12 purchases) and non-converter users: at each
    distinct death time (minute bucket with uncensored session ends),
    observed-minus-expected converter deaths under the shared-hazard
    null, variance-weighted into the chi²(1) statistic — THE standard
    two-group survival comparison, completing agg_kaplan_meier (which
    draws the curves; the log-rank decides whether they differ) on
    the identical session/censoring definitions (30-min gaps, final
    2 h right-censored).

    Shape at 100 TB: the sessionize exchange collapses the fact
    table to sessions, sessions collapse to the bounded minute-
    duration domain; at-risk counts are two suffix cumulatives over
    that domain; the O-E/variance reduction is one pass. A 1-row
    output.

    Parity: deaths/at-risk are exact integers; each O-E and variance
    term is one shared double expression of exact integers quantized
    round(9) into DECIMAL before the order-independent sums; the
    chi² ratio quantizes round(9) before the 3.841 compare."""
    from ..relational import agg_sessionize_batch

    conv = (
        table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count("*").alias("np"))
        .where(F.col("np") >= 12)
        .select("user_id", F.lit(1).alias("cv"))
    )
    s = agg_sessionize_batch(spark, sf_dir).select(
        "user_id",
        (F.unix_micros("session_start") + F.col("duration_us")).alias(
            "end_us"
        ),
        F.expr("CAST(duration_us DIV 60000000 AS BIGINT)").alias(
            "dur_min"
        ),
    )
    mxx = s.agg(F.max("end_us").alias("m"))
    lab = (
        s.crossJoin(F.broadcast(mxx))
        .join(F.broadcast(conv), "user_id", "left")
        .select(
            "dur_min",
            F.when(
                F.col("end_us") > F.col("m") - 7_200_000_000, 1
            )
            .otherwise(0)
            .alias("cen"),
            F.coalesce(F.col("cv"), F.lit(0)).alias("grp"),
        )
        .localCheckpoint()
    )
    g = lab.groupBy("dur_min").agg(
        F.sum(F.expr("CASE WHEN grp = 1 THEN 1 - cen ELSE 0 END"))
        .cast("bigint")
        .alias("d1"),
        F.sum(F.expr("CASE WHEN grp = 1 THEN cen ELSE 0 END"))
        .cast("bigint")
        .alias("c1"),
        F.sum(F.expr("CASE WHEN grp = 0 THEN 1 - cen ELSE 0 END"))
        .cast("bigint")
        .alias("d0"),
        F.sum(F.expr("CASE WHEN grp = 0 THEN cen ELSE 0 END"))
        .cast("bigint")
        .alias("c0"),
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_prev = Window.orderBy("dur_min").rowsBetween(
        Window.unboundedPreceding, -1
    )
    r = g.select(
        "dur_min",
        "d1",
        "d0",
        (
            F.sum(F.col("d1") + F.col("c1")).over(w_all)
            - F.coalesce(
                F.sum(F.col("d1") + F.col("c1")).over(w_prev), F.lit(0)
            )
        ).alias("n1"),
        (
            F.sum(F.col("d0") + F.col("c0")).over(w_all)
            - F.coalesce(
                F.sum(F.col("d0") + F.col("c0")).over(w_prev), F.lit(0)
            )
        ).alias("n0"),
    )
    terms = r.where(
        (F.col("d1") + F.col("d0") > 0) & (F.col("n1") + F.col("n0") > 1)
    ).agg(
        F.count("*").cast("bigint").alias("n_times"),
        F.sum(
            F.expr(
                "CAST(round(d1 - CAST(d1 + d0 AS DOUBLE) * n1"
                " / (n1 + n0), 9) AS DECIMAL(28,9))"
            )
        )
        .cast("decimal(38,9)")
        .alias("ome"),
        F.sum(
            F.expr(
                "CAST(round(CAST(d1 + d0 AS DOUBLE) * n1 * n0"
                " * (n1 + n0 - d1 - d0)"
                " / (CAST(n1 + n0 AS DOUBLE) * (n1 + n0)"
                " * (n1 + n0 - 1)), 9) AS DECIMAL(28,9))"
            )
        )
        .cast("decimal(38,9)")
        .alias("v"),
    )
    tot = lab.agg(
        F.sum(F.expr("CASE WHEN grp = 1 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("s1"),
        F.sum(F.expr("CASE WHEN grp = 0 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("s0"),
    )
    return terms.crossJoin(F.broadcast(tot)).selectExpr(
        "s1 AS n_sessions_conv",
        "s0 AS n_sessions_non",
        "n_times AS n_death_times",
        "round(CAST(ome AS DOUBLE), 6) AS o_minus_e",
        "round(CAST(ome AS DOUBLE) * CAST(ome AS DOUBLE)"
        " / CAST(v AS DOUBLE), 6) AS logrank_chi2",
        "CAST(CASE WHEN round(CAST(ome AS DOUBLE) * CAST(ome AS DOUBLE)"
        " / CAST(v AS DOUBLE), 9) > 3.841 THEN 1 ELSE 0 END AS BIGINT)"
        " AS survival_differs_05",
    )


# ---------------------------------------------------------------------------
# agg_oaxaca_blinder_gap
# ---------------------------------------------------------------------------


@query(
    "agg_oaxaca_blinder_gap",
    oracle="""
    WITH pts AS MATERIALIZED (
      SELECT event_type,
             date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) + 1
               AS x,
             CAST(round(value * 100, 0) AS BIGINT) AS y
      FROM events WHERE event_type IN ('click', 'view')),
    m AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(x * y) AS BIGINT) AS sxy
      FROM pts GROUP BY event_type),
    co AS (
      SELECT event_type, n,
             CAST(sx AS DOUBLE) / n AS xbar,
             CAST(sy AS DOUBLE) / n AS ybar,
             (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
               / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
               AS beta
      FROM m),
    w AS (
      SELECT
        max(CASE WHEN event_type = 'click' THEN n END) AS n1,
        max(CASE WHEN event_type = 'view' THEN n END) AS n2,
        max(CASE WHEN event_type = 'click' THEN xbar END) AS x1,
        max(CASE WHEN event_type = 'view' THEN xbar END) AS x2,
        max(CASE WHEN event_type = 'click' THEN ybar END) AS y1,
        max(CASE WHEN event_type = 'view' THEN ybar END) AS y2,
        max(CASE WHEN event_type = 'click' THEN beta END) AS b1,
        max(CASE WHEN event_type = 'view' THEN beta END) AS b2
      FROM co)
    SELECT CAST(n1 AS BIGINT) AS n_click, CAST(n2 AS BIGINT) AS n_view,
           round(y1 - y2, 6) AS gap_cents,
           round(b2 * (x1 - x2), 6) AS explained_cents,
           round((y1 - y2) - b2 * (x1 - x2), 6) AS unexplained_cents,
           round(b1 - b2, 6) AS slope_gap
    FROM w
    """,
)
def agg_oaxaca_blinder_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OAXACA-BLINDER DECOMPOSITION of the click-vs-view mean value
    gap over the day covariate: gap = ybar1 - ybar2 splits into the
    EXPLAINED part beta2*(xbar1 - xbar2) — the share attributable to
    the two cohorts being observed on different days (composition /
    traffic-mix shift) — and the UNEXPLAINED remainder (level +
    slope differences at equal composition), the standard two-fold
    decomposition with the view cohort as reference. This is the
    attribution step after agg_welch_ttest says the means differ:
    HOW MUCH of the difference is mix, how much is behavior — the
    question every dashboard regression dispute is actually about.

    Parity: per-group OLS slopes and means come from five exact
    BIGINT moments per group (x is the day index, y exact cents —
    products inside int64 far past sf1x); every derived quantity is
    one shared double expression, round(6) on output.

    Shape at 100 TB: one grouped moment scan, a 2-row pivot, 1-row
    output. Nothing row-scaled after the scan."""
    ev = table(spark, sf_dir, "events")
    pts = ev.where(F.col("event_type").isin("click", "view")).select(
        "event_type",
        F.expr("datediff(CAST(ts AS DATE), DATE '2024-01-01') + 1").alias(
            "x"
        ),
        F.expr("CAST(value * 100 + 0.5 AS BIGINT)").alias("y"),
    )
    m = pts.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.expr("x * x")).cast("bigint").alias("sxx"),
        F.sum(F.expr("x * y")).cast("bigint").alias("sxy"),
    )
    co = m.selectExpr(
        "event_type",
        "n",
        "CAST(sx AS DOUBLE) / n AS xbar",
        "CAST(sy AS DOUBLE) / n AS ybar",
        "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
        " / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) AS beta",
    )
    w = co.agg(
        F.expr("max(CASE WHEN event_type = 'click' THEN n END)").alias("n1"),
        F.expr("max(CASE WHEN event_type = 'view' THEN n END)").alias("n2"),
        F.expr("max(CASE WHEN event_type = 'click' THEN xbar END)").alias(
            "x1"
        ),
        F.expr("max(CASE WHEN event_type = 'view' THEN xbar END)").alias(
            "x2"
        ),
        F.expr("max(CASE WHEN event_type = 'click' THEN ybar END)").alias(
            "y1"
        ),
        F.expr("max(CASE WHEN event_type = 'view' THEN ybar END)").alias(
            "y2"
        ),
        F.expr("max(CASE WHEN event_type = 'click' THEN beta END)").alias(
            "b1"
        ),
        F.expr("max(CASE WHEN event_type = 'view' THEN beta END)").alias(
            "b2"
        ),
    )
    return w.selectExpr(
        "CAST(n1 AS BIGINT) AS n_click",
        "CAST(n2 AS BIGINT) AS n_view",
        "round(y1 - y2, 6) AS gap_cents",
        "round(b2 * (x1 - x2), 6) AS explained_cents",
        "round((y1 - y2) - b2 * (x1 - x2), 6) AS unexplained_cents",
        "round(b1 - b2, 6) AS slope_gap",
    )


# ---------------------------------------------------------------------------
# agg_ab_srm_check
# ---------------------------------------------------------------------------


@query(
    "agg_ab_srm_check",
    oracle="""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    arm AS (
      SELECT CAST((user_id * 2654435761) % 4294967296 // 2147483648
                  AS BIGINT) AS arm
      FROM u),
    s AS (
      SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n0,
             CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n1
      FROM arm)
    SELECT n0 AS n_arm_a, n1 AS n_arm_b,
           round(CAST(n1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE), 6)
             AS observed_ratio_b,
           round(CAST((n0 - n1) * (n0 - n1) AS DOUBLE)
                 / CAST(n0 + n1 AS DOUBLE), 6) AS chi2_stat,
           CAST(CASE WHEN round(CAST((n0 - n1) * (n0 - n1) AS DOUBLE)
                               / CAST(n0 + n1 AS DOUBLE), 9) >= 3.8415
                THEN 1 ELSE 0 END AS BIGINT) AS srm_detected_05
    FROM s
    """,
)
def agg_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLE-RATIO-MISMATCH (SRM) CHECK for a 50/50 user split — the
    guardrail every experimentation platform runs BEFORE reading an
    A/B metric: assign each distinct user to an arm by a
    deterministic multiplicative hash (Knuth 2654435761 mod 2^32,
    parity as the arm), then chi^2-test the arm counts against the
    declared 50/50.  A significant SRM means the assignment or
    logging pipeline is biased and every downstream metric
    comparison (agg_two_proportion_ztest, agg_sprt_ab_replay,
    agg_tost_equivalence — the tests this one GATES) is invalid.

    Parity: the hash is pure 64-bit integer arithmetic (user_id *
    2654435761 fits ~2^48 at every sf), so arms are exact integers
    on both engines — a platform would use a seeded cryptographic
    hash, but engine-native hash() functions differ between Spark
    and DuckDB.  The arm is the HIGH bit of the 32-bit product
    (div 2^31), the classic Knuth bucket bit: the LOW bit of an
    odd-multiplier product mod 2^32 is arithmetically just
    user_id's own parity (caught in round-9 self-review), while the
    high bit mixes all input bits.  chi^2 = (n0 - n1)^2 / N is one double division
    over exact integers, round(6), round(9) gate at chi^2(1) 5%.

    Shape at 100 TB: one distinct-users aggregate (map-side
    combined), one 2-way conditional count — the cheapest guardrail
    in the repo."""
    ev = table(spark, sf_dir, "events")
    u = ev.select("user_id").distinct()
    arm = u.selectExpr(
        "CAST((user_id * 2654435761) % 4294967296 div 2147483648"
        " AS BIGINT) AS arm"
    )
    s = arm.agg(
        F.expr(
            "CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("n0"),
        F.expr(
            "CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("n1"),
    )
    chi_txt = (
        "CAST((n0 - n1) * (n0 - n1) AS DOUBLE)"
        " / CAST(n0 + n1 AS DOUBLE)"
    )
    return s.selectExpr(
        "n0 AS n_arm_a",
        "n1 AS n_arm_b",
        "round(CAST(n1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE), 6)"
        " AS observed_ratio_b",
        f"round({chi_txt}, 6) AS chi2_stat",
        f"CAST(CASE WHEN round({chi_txt}, 9) >= 3.8415 THEN 1 ELSE 0 END"
        " AS BIGINT) AS srm_detected_05",
    )


# ---------------------------------------------------------------------------
# agg_cuped_adjustment
# ---------------------------------------------------------------------------


@query(
    "agg_cuped_adjustment",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CAST(sum(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                           THEN CAST(round(value * 100, 0) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS pre,
             CAST(sum(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
                           THEN CAST(round(value * 100, 0) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS post
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id),
    a AS (
      SELECT user_id, pre, post,
             CAST((user_id * 2654435761) % 4294967296 // 2147483648
                  AS BIGINT) AS arm
      FROM u),
    mo AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(pre) AS BIGINT) AS sx,
             CAST(sum(post) AS BIGINT) AS sy,
             sum(CAST(pre AS HUGEINT) * pre) AS sxx,
             sum(CAST(pre AS HUGEINT) * post) AS sxy,
             sum(CAST(post AS HUGEINT) * post) AS syy,
             CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS na,
             CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS nb,
             CAST(sum(CASE WHEN arm = 0 THEN pre ELSE 0 END) AS BIGINT)
               AS sxa,
             CAST(sum(CASE WHEN arm = 1 THEN pre ELSE 0 END) AS BIGINT)
               AS sxb,
             CAST(sum(CASE WHEN arm = 0 THEN post ELSE 0 END) AS BIGINT)
               AS sya,
             CAST(sum(CASE WHEN arm = 1 THEN post ELSE 0 END) AS BIGINT)
               AS syb
      FROM a),
    d AS (
      SELECT n, na, nb,
             CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
               / CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
               AS theta,
             (CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
              * CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE))
             / (CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                * CAST(n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE))
               AS rho_sq,
             CAST(syb AS DOUBLE) / nb - CAST(sya AS DOUBLE) / na
               AS raw_diff,
             CAST(sxb AS DOUBLE) / nb - CAST(sxa AS DOUBLE) / na
               AS pre_diff
      FROM mo)
    SELECT n AS n_users, na AS n_arm_a, nb AS n_arm_b,
           round(theta, 6) AS theta,
           round(rho_sq, 6) AS var_reduction,
           round(raw_diff, 6) AS raw_diff_cents,
           round(raw_diff - theta * pre_diff, 6) AS cuped_diff_cents
    FROM d
    """,
)
def agg_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Controlled-experiment Using Pre-Experiment Data)
    variance reduction: regress each purchaser's post-period revenue
    (days 16-30) on their pre-period revenue (days 1-15), adjust the
    arm difference by theta*(pre-period imbalance), and report the
    variance share removed (rho^2 — the fraction of metric noise the
    covariate explains, i.e. how much smaller the experiment could
    be).  Arms come from the agg_ab_srm_check multiplicative-hash
    HIGH bit, so the A/B suite composes: SRM gates validity, CUPED
    sharpens the read, agg_power_mde sizes the next test.
    Purchasers only (users with no purchase have no metric; unlike
    agg_gini_concentration's include-zeros choice, CUPED adjusts a
    metric defined on the exposed population).

    Parity: pre/post are exact cent sums; every centered moment is
    the n-scaled integer n*Sxy - Sx*Sy (HUGEINT / Spark DECIMAL
    products — per-user cents reach ~7e6 at the sf1x blow-up, so
    squares need 128-bit); theta, rho^2, and the arm means are
    shared-text double divisions over those exact integers,
    round(6).  The day-15 split is a calendar constant of the 30-day
    fixture (the agg_chow_test convention).

    Shape at 100 TB: one filtered groupBy(user) collapse, ONE
    moments aggregate over the user domain (arm sums ride the same
    pass as conditional aggregates — no second scan, no join),
    constant assembly."""
    ev = table(spark, sf_dir, "events")
    u = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.expr(
                "CAST(sum(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'"
                " THEN CAST(value * 100 + 0.5 AS BIGINT) ELSE 0 END)"
                " AS BIGINT)"
            ).alias("pre"),
            F.expr(
                "CAST(sum(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'"
                " THEN CAST(value * 100 + 0.5 AS BIGINT) ELSE 0 END)"
                " AS BIGINT)"
            ).alias("post"),
        )
    )
    a = u.selectExpr(
        "pre",
        "post",
        "CAST((user_id * 2654435761) % 4294967296 div 2147483648"
        " AS BIGINT) AS arm",
    )
    mo = a.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("pre").cast("bigint").alias("sx"),
        F.sum("post").cast("bigint").alias("sy"),
        F.expr("sum(CAST(pre AS DECIMAL(19,0)) * pre)").alias("sxx"),
        F.expr("sum(CAST(pre AS DECIMAL(19,0)) * post)").alias("sxy"),
        F.expr("sum(CAST(post AS DECIMAL(19,0)) * post)").alias("syy"),
        F.expr(
            "CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("na"),
        F.expr(
            "CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("nb"),
        F.expr(
            "CAST(sum(CASE WHEN arm = 0 THEN pre ELSE 0 END) AS BIGINT)"
        ).alias("sxa"),
        F.expr(
            "CAST(sum(CASE WHEN arm = 1 THEN pre ELSE 0 END) AS BIGINT)"
        ).alias("sxb"),
        F.expr(
            "CAST(sum(CASE WHEN arm = 0 THEN post ELSE 0 END) AS BIGINT)"
        ).alias("sya"),
        F.expr(
            "CAST(sum(CASE WHEN arm = 1 THEN post ELSE 0 END) AS BIGINT)"
        ).alias("syb"),
    )
    d = mo.selectExpr(
        "n",
        "na",
        "nb",
        "CAST(n * sxy - CAST(sx AS DECIMAL(19,0)) * sy AS DOUBLE)"
        " / CAST(n * sxx - CAST(sx AS DECIMAL(19,0)) * sx AS DOUBLE)"
        " AS theta",
        "(CAST(n * sxy - CAST(sx AS DECIMAL(19,0)) * sy AS DOUBLE)"
        " * CAST(n * sxy - CAST(sx AS DECIMAL(19,0)) * sy AS DOUBLE))"
        " / (CAST(n * sxx - CAST(sx AS DECIMAL(19,0)) * sx AS DOUBLE)"
        " * CAST(n * syy - CAST(sy AS DECIMAL(19,0)) * sy AS DOUBLE))"
        " AS rho_sq",
        "CAST(syb AS DOUBLE) / nb - CAST(sya AS DOUBLE) / na AS raw_diff",
        "CAST(sxb AS DOUBLE) / nb - CAST(sxa AS DOUBLE) / na AS pre_diff",
    )
    return d.selectExpr(
        "n AS n_users",
        "na AS n_arm_a",
        "nb AS n_arm_b",
        "round(theta, 6) AS theta",
        "round(rho_sq, 6) AS var_reduction",
        "round(raw_diff, 6) AS raw_diff_cents",
        "round(raw_diff - theta * pre_diff, 6) AS cuped_diff_cents",
    )


# ---------------------------------------------------------------------------
# agg_power_mde
# ---------------------------------------------------------------------------


@query(
    "agg_power_mde",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                      END) AS BIGINT) AS converted
      FROM events GROUP BY user_id),
    a AS (
      SELECT converted,
             CAST((user_id * 2654435761) % 4294967296 // 2147483648
                  AS BIGINT) AS arm
      FROM u),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(converted) AS BIGINT) AS conv,
             CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS na,
             CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS nb
      FROM a)
    SELECT n AS n_users, least(na, nb) AS n_per_arm,
           round(CAST(conv AS DOUBLE) / n, 6) AS base_rate,
           round((1.959964 + 0.841621)
                 * sqrt(CAST(2 * conv * (n - conv) AS DOUBLE)
                        / (CAST(n AS DOUBLE) * n * least(na, nb))), 6)
             AS mde_abs,
           round(((1.959964 + 0.841621)
                  * sqrt(CAST(2 * conv * (n - conv) AS DOUBLE)
                         / (CAST(n AS DOUBLE) * n * least(na, nb))))
                 / (CAST(conv AS DOUBLE) / n), 6) AS mde_rel
    FROM s
    """,
)
def agg_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MINIMUM DETECTABLE EFFECT for a two-proportion A/B test on
    user purchase conversion at alpha = .05 (two-sided) and 80%
    power: MDE = (z_.975 + z_.80) * sqrt(2*p*(1-p)/n_arm) with the
    observed base rate p and the SMALLER hash-assigned arm as the
    conservative n.  The experiment-DESIGN member of the A/B suite:
    agg_two_proportion_ztest reads a finished test,
    agg_ab_srm_check validates its assignment, this one says what
    effect size the NEXT test can even see — the first number a
    growth team asks for.

    Parity: conversion flags and arm counts are exact integers;
    p*(1-p)/n_arm is assembled as the all-integer ratio
    2*conv*(n-conv) / (n^2 * n_arm) with ONE double cast each side
    (the round-8 decimal-literal rule), one IEEE sqrt; the z
    constants are 6-decimal literals identical in both texts,
    round(6).

    Shape at 100 TB: one groupBy(user) conversion collapse, one
    aggregate — the SRM shape with a max() flag."""
    ev = table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.expr(
            "CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)"
            " AS BIGINT)"
        ).alias("converted")
    )
    a = u.selectExpr(
        "converted",
        "CAST((user_id * 2654435761) % 4294967296 div 2147483648"
        " AS BIGINT) AS arm",
    )
    s = a.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("converted").cast("bigint").alias("conv"),
        F.expr(
            "CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("na"),
        F.expr(
            "CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("nb"),
    )
    mde_txt = (
        "(1.959964 + 0.841621)"
        " * sqrt(CAST(2 * conv * (n - conv) AS DOUBLE)"
        " / (CAST(n AS DOUBLE) * n * least(na, nb)))"
    )
    return s.selectExpr(
        "n AS n_users",
        "least(na, nb) AS n_per_arm",
        "round(CAST(conv AS DOUBLE) / n, 6) AS base_rate",
        f"round({mde_txt}, 6) AS mde_abs",
        f"round(({mde_txt}) / (CAST(conv AS DOUBLE) / n), 6) AS mde_rel",
    )


# ---------------------------------------------------------------------------
# agg_did_estimator
# ---------------------------------------------------------------------------

_AB_ARM = (
    "CAST((user_id * 2654435761) % 4294967296 div 2147483648"
    " AS BIGINT) AS arm"
)


@query(
    "agg_did_estimator",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CAST(sum(CASE WHEN event_type = 'purchase'
                            AND CAST(ts AS DATE) < DATE '2024-01-16'
                           THEN CAST(round(value * 100, 0) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS pre,
             CAST(sum(CASE WHEN event_type = 'purchase'
                            AND CAST(ts AS DATE) >= DATE '2024-01-16'
                           THEN CAST(round(value * 100, 0) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS post
      FROM events GROUP BY user_id),
    a AS (
      SELECT pre, post, post - pre AS d,
             CAST((user_id * 2654435761) % 4294967296 // 2147483648
                  AS BIGINT) AS arm
      FROM u),
    mo AS (
      SELECT
        CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nt,
        CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
        CAST(sum(CASE WHEN arm = 1 THEN pre ELSE 0 END) AS BIGINT)
          AS s_pre_t,
        CAST(sum(CASE WHEN arm = 0 THEN pre ELSE 0 END) AS BIGINT)
          AS s_pre_c,
        CAST(sum(CASE WHEN arm = 1 THEN post ELSE 0 END) AS BIGINT)
          AS s_post_t,
        CAST(sum(CASE WHEN arm = 0 THEN post ELSE 0 END) AS BIGINT)
          AS s_post_c,
        CAST(sum(CASE WHEN arm = 1 THEN d ELSE 0 END) AS BIGINT) AS sd_t,
        CAST(sum(CASE WHEN arm = 0 THEN d ELSE 0 END) AS BIGINT) AS sd_c,
        sum(CASE WHEN arm = 1 THEN CAST(d AS HUGEINT) * d
                 ELSE CAST(0 AS HUGEINT) END) AS sdd_t,
        sum(CASE WHEN arm = 0 THEN CAST(d AS HUGEINT) * d
                 ELSE CAST(0 AS HUGEINT) END) AS sdd_c
      FROM a)
    SELECT nt AS n_treat, nc AS n_control,
           round(CAST(s_pre_t AS DOUBLE) / nt, 6) AS mean_pre_treat,
           round(CAST(s_pre_c AS DOUBLE) / nc, 6) AS mean_pre_control,
           round(CAST(s_post_t AS DOUBLE) / nt, 6) AS mean_post_treat,
           round(CAST(s_post_c AS DOUBLE) / nc, 6) AS mean_post_control,
           round(CAST(sd_t AS DOUBLE) / nt - CAST(sd_c AS DOUBLE) / nc, 6)
             AS did_cents,
           round(sqrt(
             CAST(nt * sdd_t - CAST(sd_t AS HUGEINT) * sd_t AS DOUBLE)
               / (CAST(nt AS DOUBLE) * nt * (nt - 1))
             + CAST(nc * sdd_c - CAST(sd_c AS HUGEINT) * sd_c AS DOUBLE)
               / (CAST(nc AS DOUBLE) * nc * (nc - 1))), 6) AS se_did,
           CAST(CASE WHEN round(abs(
             (CAST(sd_t AS DOUBLE) / nt - CAST(sd_c AS DOUBLE) / nc)
             / sqrt(
               CAST(nt * sdd_t - CAST(sd_t AS HUGEINT) * sd_t AS DOUBLE)
                 / (CAST(nt AS DOUBLE) * nt * (nt - 1))
               + CAST(nc * sdd_c - CAST(sd_c AS HUGEINT) * sd_c AS DOUBLE)
                 / (CAST(nc AS DOUBLE) * nc * (nc - 1)))), 9) >= 1.959964
             THEN 1 ELSE 0 END AS BIGINT) AS significant_05
    FROM mo
    """,
)
def agg_did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIFFERENCE-IN-DIFFERENCES estimator — the workhorse
    quasi-experimental read when an experiment has a pre-period: per
    user, purchase revenue in the pre (days 1-15) and post (days
    16-30) windows over ALL event users (zeros kept — DiD is a panel
    estimator, no selection on outcome, unlike agg_cuped_adjustment's
    exposed-purchasers choice); arms from the agg_ab_srm_check
    multiplicative-hash HIGH bit.  DiD = (post_t - pre_t) -
    (post_c - pre_c) = mean per-user diff(treat) - diff(control),
    with the two-sample SE from per-arm diff variances and a 5%
    two-sided gate — equivalent to the interaction coefficient of
    the 2x2 OLS, computed from sufficient statistics only.  On the
    fixture's random split the true effect is 0, which is the
    correct calibration read (the same logic agg_cusum_arl_calibration
    uses).  Completes the causal corner of the A/B suite: SRM gates,
    CUPED sharpens, power sizes, DiD reads the panel.

    Parity: per-user cents are exact; per-arm diff moments are
    n-scaled integers (HUGEINT / DECIMAL squares — per-user diffs
    reach ~7e6 cents at the sf1x blow-up); the variance, SE (one
    IEEE sqrt — correctly rounded on both engines, unlike pow/ln),
    and z-gate are shared-text double expressions, round(6)/round(9).

    Shape at 100 TB: one groupBy(user) collapse of events, ONE
    conditional-moments aggregate (both arms ride the same pass),
    constant assembly — the agg_cuped_adjustment plan shape."""
    ev = table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.expr(
            "CAST(sum(CASE WHEN event_type = 'purchase'"
            " AND CAST(ts AS DATE) < DATE '2024-01-16'"
            " THEN CAST(value * 100 + 0.5 AS BIGINT) ELSE 0 END)"
            " AS BIGINT)"
        ).alias("pre"),
        F.expr(
            "CAST(sum(CASE WHEN event_type = 'purchase'"
            " AND CAST(ts AS DATE) >= DATE '2024-01-16'"
            " THEN CAST(value * 100 + 0.5 AS BIGINT) ELSE 0 END)"
            " AS BIGINT)"
        ).alias("post"),
    )
    a = u.selectExpr("pre", "post", "post - pre AS d", _AB_ARM)
    mo = a.agg(
        F.expr(
            "CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("nt"),
        F.expr(
            "CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("nc"),
        F.expr(
            "CAST(sum(CASE WHEN arm = 1 THEN pre ELSE 0 END) AS BIGINT)"
        ).alias("s_pre_t"),
        F.expr(
            "CAST(sum(CASE WHEN arm = 0 THEN pre ELSE 0 END) AS BIGINT)"
        ).alias("s_pre_c"),
        F.expr(
            "CAST(sum(CASE WHEN arm = 1 THEN post ELSE 0 END) AS BIGINT)"
        ).alias("s_post_t"),
        F.expr(
            "CAST(sum(CASE WHEN arm = 0 THEN post ELSE 0 END) AS BIGINT)"
        ).alias("s_post_c"),
        F.expr(
            "CAST(sum(CASE WHEN arm = 1 THEN d ELSE 0 END) AS BIGINT)"
        ).alias("sd_t"),
        F.expr(
            "CAST(sum(CASE WHEN arm = 0 THEN d ELSE 0 END) AS BIGINT)"
        ).alias("sd_c"),
        F.expr(
            "sum(CASE WHEN arm = 1 THEN CAST(d AS DECIMAL(19,0)) * d"
            " ELSE CAST(0 AS DECIMAL(19,0)) END)"
        ).alias("sdd_t"),
        F.expr(
            "sum(CASE WHEN arm = 0 THEN CAST(d AS DECIMAL(19,0)) * d"
            " ELSE CAST(0 AS DECIMAL(19,0)) END)"
        ).alias("sdd_c"),
    )
    var_txt = (
        "CAST(nt * sdd_t - CAST(sd_t AS DECIMAL(38,0)) * sd_t AS DOUBLE)"
        " / (CAST(nt AS DOUBLE) * nt * (nt - 1))"
        " + CAST(nc * sdd_c - CAST(sd_c AS DECIMAL(38,0)) * sd_c AS DOUBLE)"
        " / (CAST(nc AS DOUBLE) * nc * (nc - 1))"
    )
    did_txt = "CAST(sd_t AS DOUBLE) / nt - CAST(sd_c AS DOUBLE) / nc"
    return mo.selectExpr(
        "nt AS n_treat",
        "nc AS n_control",
        "round(CAST(s_pre_t AS DOUBLE) / nt, 6) AS mean_pre_treat",
        "round(CAST(s_pre_c AS DOUBLE) / nc, 6) AS mean_pre_control",
        "round(CAST(s_post_t AS DOUBLE) / nt, 6) AS mean_post_treat",
        "round(CAST(s_post_c AS DOUBLE) / nc, 6) AS mean_post_control",
        f"round({did_txt}, 6) AS did_cents",
        f"round(sqrt({var_txt}), 6) AS se_did",
        f"CAST(CASE WHEN round(abs(({did_txt}) / sqrt({var_txt})), 9)"
        " >= 1.959964 THEN 1 ELSE 0 END AS BIGINT) AS significant_05",
    )


# ---------------------------------------------------------------------------
# agg_iv_wald_estimator
# ---------------------------------------------------------------------------


@query(
    "agg_iv_wald_estimator",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CAST(CASE WHEN sum(CASE WHEN event_type = 'purchase'
                                     THEN 1 ELSE 0 END) >= 12
                       THEN 1 ELSE 0 END AS BIGINT) AS d,
             CAST(sum(CASE WHEN event_type = 'purchase'
                           THEN CAST(round(value * 100, 0) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS y
      FROM events GROUP BY user_id),
    a AS (
      SELECT d, y,
             CAST((user_id * 2654435761) % 4294967296 // 2147483648
                  AS BIGINT) AS z
      FROM u),
    mo AS (
      SELECT
        CAST(sum(CASE WHEN z = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        CAST(sum(CASE WHEN z = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        CAST(sum(CASE WHEN z = 1 THEN d ELSE 0 END) AS BIGINT) AS d1,
        CAST(sum(CASE WHEN z = 0 THEN d ELSE 0 END) AS BIGINT) AS d0,
        CAST(sum(CASE WHEN z = 1 THEN y ELSE 0 END) AS BIGINT) AS y1,
        CAST(sum(CASE WHEN z = 0 THEN y ELSE 0 END) AS BIGINT) AS y0
      FROM a),
    t AS (
      SELECT n1, n0, d1, d0, y1, y0,
             CAST(d1 + d0 AS DOUBLE) / (n1 + n0) AS pp,
             CAST(d1 AS DOUBLE) / n1 - CAST(d0 AS DOUBLE) / n0 AS fs
      FROM mo)
    SELECT n1 AS n_encouraged, n0 AS n_control,
           round(CAST(d1 AS DOUBLE) / n1, 6) AS uptake_encouraged,
           round(CAST(d0 AS DOUBLE) / n0, 6) AS uptake_control,
           round(CAST(y1 AS DOUBLE) / n1, 6) AS y_mean_encouraged,
           round(CAST(y0 AS DOUBLE) / n0, 6) AS y_mean_control,
           round(fs, 6) AS first_stage,
           round(CASE WHEN pp * (1.0 - pp) = 0.0 THEN 0.0
                 ELSE fs * fs / (pp * (1.0 - pp)
                 * (1.0 / n1 + 1.0 / n0)) END, 6) AS first_stage_f,
           CAST(CASE WHEN round(CASE WHEN pp * (1.0 - pp) = 0.0 THEN 0.0
                  ELSE fs * fs / (pp * (1.0 - pp)
                  * (1.0 / n1 + 1.0 / n0)) END, 9) < 10.0
                THEN 1 ELSE 0 END AS BIGINT) AS weak_instrument,
           CASE WHEN round(CASE WHEN pp * (1.0 - pp) = 0.0 THEN 0.0
                  ELSE fs * fs / (pp * (1.0 - pp)
                  * (1.0 / n1 + 1.0 / n0)) END, 9) < 10.0 THEN NULL
                ELSE round((CAST(y1 AS DOUBLE) / n1
                            - CAST(y0 AS DOUBLE) / n0) / fs, 6)
           END AS wald_late
    FROM t
    """,
)
def agg_iv_wald_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSTRUMENTAL-VARIABLE WALD ESTIMATOR with the weak-instrument
    guardrail — the encouragement-design read: instrument Z = the
    agg_ab_srm_check hash arm (as-if random), treatment uptake D =
    the user crossed the 12-purchase adopter threshold (the
    agg_tost_equivalence converter rule; "ever clicked" is degenerate
    on this fixture — every user clicks), outcome Y = total purchase cents; the LATE is
    Wald = (E[Y|Z=1] - E[Y|Z=0]) / (E[D|Z=1] - E[D|Z=0]).  The op's
    primary product is the FIRST-STAGE F statistic (the two-proportion
    z squared): below the Staiger-Stock F < 10 rule the ratio is
    meaningless noise, so `wald_late` is emitted NULL and
    `weak_instrument` = 1 — which is exactly what a RANDOM hash arm
    must produce on this fixture (the instrument does not move
    clicks), making the fixture run the guardrail's positive
    calibration: an estimator that fabricated a LATE here would be
    wrong.  The strong-instrument arithmetic path is pinned by the
    pytest on synthetic sufficient statistics through the same
    expression text.

    Parity: all six sufficient statistics are exact integers from one
    conditional aggregate; first_stage, F, and the gated ratio are
    shared-text double divisions, round(6)/round(9); the NULL gate
    compares the same round(9) value on both engines.

    Shape at 100 TB: one groupBy(user) collapse, one 6-way
    conditional aggregate, constant assembly — no join, no window."""
    ev = table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.expr(
            "CAST(CASE WHEN sum(CASE WHEN event_type = 'purchase'"
            " THEN 1 ELSE 0 END) >= 12 THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("d"),
        F.expr(
            "CAST(sum(CASE WHEN event_type = 'purchase'"
            " THEN CAST(value * 100 + 0.5 AS BIGINT) ELSE 0 END)"
            " AS BIGINT)"
        ).alias("y"),
    )
    a = u.selectExpr(
        "d",
        "y",
        "CAST((user_id * 2654435761) % 4294967296 div 2147483648"
        " AS BIGINT) AS z",
    )
    mo = a.agg(
        F.expr(
            "CAST(sum(CASE WHEN z = 1 THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("n1"),
        F.expr(
            "CAST(sum(CASE WHEN z = 0 THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("n0"),
        F.expr(
            "CAST(sum(CASE WHEN z = 1 THEN d ELSE 0 END) AS BIGINT)"
        ).alias("d1"),
        F.expr(
            "CAST(sum(CASE WHEN z = 0 THEN d ELSE 0 END) AS BIGINT)"
        ).alias("d0"),
        F.expr(
            "CAST(sum(CASE WHEN z = 1 THEN y ELSE 0 END) AS BIGINT)"
        ).alias("y1"),
        F.expr(
            "CAST(sum(CASE WHEN z = 0 THEN y ELSE 0 END) AS BIGINT)"
        ).alias("y0"),
    )
    t = mo.selectExpr(
        "n1",
        "n0",
        "d1",
        "d0",
        "y1",
        "y0",
        "CAST(d1 + d0 AS DOUBLE) / (n1 + n0) AS pp",
        "CAST(d1 AS DOUBLE) / n1 - CAST(d0 AS DOUBLE) / n0 AS fs",
    )
    f_txt = (
        "CASE WHEN pp * (1.0 - pp) = 0.0 THEN 0.0"
        " ELSE fs * fs / (pp * (1.0 - pp) * (1.0 / n1 + 1.0 / n0)) END"
    )
    return t.selectExpr(
        "n1 AS n_encouraged",
        "n0 AS n_control",
        "round(CAST(d1 AS DOUBLE) / n1, 6) AS uptake_encouraged",
        "round(CAST(d0 AS DOUBLE) / n0, 6) AS uptake_control",
        "round(CAST(y1 AS DOUBLE) / n1, 6) AS y_mean_encouraged",
        "round(CAST(y0 AS DOUBLE) / n0, 6) AS y_mean_control",
        "round(fs, 6) AS first_stage",
        f"round({f_txt}, 6) AS first_stage_f",
        f"CAST(CASE WHEN round({f_txt}, 9) < 10.0 THEN 1 ELSE 0 END"
        " AS BIGINT) AS weak_instrument",
        f"CASE WHEN round({f_txt}, 9) < 10.0 THEN NULL"
        " ELSE round((CAST(y1 AS DOUBLE) / n1"
        " - CAST(y0 AS DOUBLE) / n0) / fs, 6) END AS wald_late",
    )


# ---------------------------------------------------------------------------
# agg_qini_uplift_curve
# ---------------------------------------------------------------------------


@query(
    "agg_qini_uplift_curve",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CAST(sum(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                           THEN CAST(round(value * 100, 0) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS score,
             CAST(max(CASE WHEN event_type = 'purchase'
                            AND CAST(ts AS DATE) >= DATE '2024-01-16'
                            AND value * 100 >= 10000
                           THEN 1 ELSE 0 END) AS BIGINT) AS resp
      FROM events GROUP BY user_id),
    a AS (
      SELECT score, resp,
             CAST((user_id * 2654435761) % 4294967296 // 2147483648
                  AS BIGINT) AS arm
      FROM u),
    dom AS (
      SELECT score, CAST(count(*) AS BIGINT) AS c FROM a GROUP BY score),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM dom),
    cum AS (
      SELECT score,
             CAST(coalesce(sum(c) OVER (ORDER BY score DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS cal
      FROM dom),
    binned AS (
      SELECT a.score, a.resp, a.arm,
             least(9, 10 * cum.cal // tot.n) AS decile
      FROM a JOIN cum ON a.score = cum.score CROSS JOIN tot),
    cells AS (
      SELECT decile,
             CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_t,
             CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_c,
             CAST(sum(CASE WHEN arm = 1 THEN resp ELSE 0 END) AS BIGINT)
               AS x_t,
             CAST(sum(CASE WHEN arm = 0 THEN resp ELSE 0 END) AS BIGINT)
               AS x_c
      FROM binned GROUP BY decile),
    cums AS (
      SELECT decile, n_t, n_c, x_t, x_c,
             CAST(sum(n_t) OVER w AS BIGINT) AS cn_t,
             CAST(sum(n_c) OVER w AS BIGINT) AS cn_c,
             CAST(sum(x_t) OVER w AS BIGINT) AS cx_t,
             CAST(sum(x_c) OVER w AS BIGINT) AS cx_c
      FROM cells
      WINDOW w AS (ORDER BY decile ROWS UNBOUNDED PRECEDING))
    SELECT decile, n_t AS n_treat, n_c AS n_control,
           x_t AS resp_treat, x_c AS resp_control,
           CASE WHEN n_t = 0 OR n_c = 0 THEN NULL
                ELSE round(CAST(x_t AS DOUBLE) / n_t
                           - CAST(x_c AS DOUBLE) / n_c, 6) END AS uplift,
           CASE WHEN cn_c = 0 THEN NULL
                ELSE round(CAST(cx_t AS DOUBLE)
                     - CAST(cx_c AS DOUBLE) * cn_t / cn_c, 6)
           END AS qini_cum
    FROM cums ORDER BY decile
    """,
)
def agg_qini_uplift_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QINI / UPLIFT CURVE — the uplift-modeling evaluation table
    (Radcliffe's Qini): users are ranked by a targeting score (here
    the pre-period days-1-15 total activity cents — the behavioral
    covariate a real uplift model would refine), cut into score
    deciles by the agg_psi_drift domain-CDF machinery (decile 0 =
    highest scores; DESC cumulative), and per decile the treated-vs-
    control response rates (post-period >= 100.00 big-purchase
    conversion, arms from the agg_ab_srm_check hash bit) give the
    incremental uplift; the cumulative Qini(k) = X_t(k) -
    X_c(k) * N_t(k)/N_c(k) is the curve whose area picks between
    uplift models.  On the fixture's random assignment the true
    uplift is 0 per decile — the calibration read — while the
    machinery (domain-CDF deciles, cumulative Qini, exact cells) is
    what the op ships.

    Parity: score is exact cents; deciles are exact integer
    domain-CDF arithmetic (no sort of the users — one cumulative
    over the bounded distinct-score domain); cell counts exact;
    uplift and Qini are shared-text double divisions, round(6),
    NULL-gated when a decile's arm cell (or the cumulative control
    count) is empty — tiny-sf deciles can miss an arm entirely.

    Shape at 100 TB: one groupBy(user) collapse, then the score-domain
    CDF via a DISTRIBUTED two-level prefix sum — the domain is
    user-grain (~|users| distinct cent totals), so a plain
    Window.orderBy(score) would single-partition-sort the world
    (round-10 verdict finding).  Instead: repartitionByRange on score
    DESC (equal scores land in one range bucket by construction),
    per-bucket totals cumulated over the <=16-row bucket frame
    (bounded by the partition COUNT, a config constant, not by data),
    and a PARTITIONED exclusive cumulative within each bucket; cal =
    bucket offset + within-bucket cum, exact regardless of where the
    sampled range boundaries land.  Users meet their score's decile
    through a shuffle equi-join on score (never a broadcast of a
    user-grain domain), then a 10-row rollup."""
    ev = table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.expr(
            "CAST(sum(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'"
            " THEN CAST(value * 100 + 0.5 AS BIGINT) ELSE 0 END)"
            " AS BIGINT)"
        ).alias("score"),
        F.expr(
            "CAST(max(CASE WHEN event_type = 'purchase'"
            " AND CAST(ts AS DATE) >= DATE '2024-01-16'"
            " AND value * 100 >= 10000 THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("resp"),
    )
    a = u.selectExpr("score", "resp", _AB_ARM).localCheckpoint()
    # user-grain frame referenced by the score domain AND the decile
    # join-back — without the checkpoint each reference re-derives the
    # events scan (3 scans in the round-10 plan audit; the rfm rule)
    dom = a.groupBy("score").agg(F.count("*").cast("bigint").alias("c"))
    tot = dom.agg(F.sum("c").cast("bigint").alias("n"))
    # distributed exclusive prefix sum over the user-grain score
    # domain (functions/domain.py — the shared two-level machinery;
    # this op carries the plan pin)
    cum = dist_exclusive_prefix(
        dom, [("score", True)], ["c"], cache_key=f"qini:{sf_dir}"
    ).selectExpr(
        "score", "CAST(_pre_c AS BIGINT) AS cal"
    )
    binned = (
        a.join(cum, "score")  # shuffle equi-join: the score domain is
        # user-grain — broadcasting it would ship |users| rows
        .crossJoin(F.broadcast(tot))
        .selectExpr("resp", "arm", "least(9, 10 * cal div n) AS decile")
    )
    cells = binned.groupBy("decile").agg(
        F.expr(
            "CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("n_t"),
        F.expr(
            "CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("n_c"),
        F.expr(
            "CAST(sum(CASE WHEN arm = 1 THEN resp ELSE 0 END) AS BIGINT)"
        ).alias("x_t"),
        F.expr(
            "CAST(sum(CASE WHEN arm = 0 THEN resp ELSE 0 END) AS BIGINT)"
        ).alias("x_c"),
    )
    w_c = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cums = cells.select(
        "decile",
        "n_t",
        "n_c",
        "x_t",
        "x_c",
        F.sum("n_t").over(w_c).cast("bigint").alias("cn_t"),
        F.sum("n_c").over(w_c).cast("bigint").alias("cn_c"),
        F.sum("x_t").over(w_c).cast("bigint").alias("cx_t"),
        F.sum("x_c").over(w_c).cast("bigint").alias("cx_c"),
    )
    return cums.selectExpr(
        "decile",
        "n_t AS n_treat",
        "n_c AS n_control",
        "x_t AS resp_treat",
        "x_c AS resp_control",
        "CASE WHEN n_t = 0 OR n_c = 0 THEN NULL"
        " ELSE round(CAST(x_t AS DOUBLE) / n_t"
        " - CAST(x_c AS DOUBLE) / n_c, 6) END AS uplift",
        "CASE WHEN cn_c = 0 THEN NULL"
        " ELSE round(CAST(cx_t AS DOUBLE)"
        " - CAST(cx_c AS DOUBLE) * cn_t / cn_c, 6) END AS qini_cum",
    ).orderBy("decile")


# ---------------------------------------------------------------------------
# agg_newsvendor_quantile
# ---------------------------------------------------------------------------


@query(
    "agg_newsvendor_quantile",
    oracle="""
    WITH daily AS (
      SELECT CAST(CAST(ts AS DATE) AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS d
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
    st AS (
      SELECT list_sort(list(d)) AS ds, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(d) AS BIGINT) AS sd
      FROM daily),
    pick AS (
      SELECT n, sd, ds,
             list_extract(ds, CAST((75 * n + 99) // 100 AS INT)) AS s_opt
      FROM st)
    SELECT n AS n_days,
           CAST(0.75 AS DOUBLE) AS critical_ratio,
           s_opt AS stock_optimal,
           round(CAST(sd AS DOUBLE) / n, 6) AS mean_demand,
           round(CAST(3 * list_sum(list_transform(ds,
                   x -> greatest(x - s_opt, 0)))
                 + 1 * list_sum(list_transform(ds,
                   x -> greatest(s_opt - x, 0))) AS DOUBLE) / n, 6)
             AS expected_cost,
           round(CAST(list_sum(list_transform(ds,
                   x -> least(x, s_opt))) AS DOUBLE) / sd, 6)
             AS fill_rate
    FROM pick
    """,
)
def agg_newsvendor_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEWSVENDOR CRITICAL-FRACTILE STOCKING DECISION on daily
    purchase demand — the canonical operations-research one-period
    inventory answer: with underage cost 3 and overage cost 1, the
    optimal stock is the cu/(cu+co) = 0.75 demand quantile (the
    smallest s with F(s) >= 0.75, an exact order-statistic pick);
    emitted with the expected daily mismatch cost at that stock and
    the fill rate (sum min(d, s)/sum d).  Decision-layer sibling of
    the forecasting ops: win_holt_winters predicts the demand path,
    this op converts the distribution into an order quantity.

    Parity: demand counts are exact integers over the bounded day
    domain; the quantile pick uses (75n + 99) div 100 (the repo's
    integer-index convention); cost and fill-rate numerators are
    exact integer HOF sums with ONE double division each, round(6).

    Shape at 100 TB: one filtered scan -> day-domain count; the
    sorted bounded list does everything else."""
    daily = (
        table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy(F.expr("CAST(ts AS DATE)").alias("day"))
        .agg(F.count("*").cast("bigint").alias("d"))
    )
    st = daily.agg(
        F.sort_array(F.collect_list("d")).alias("ds"),
        F.count("*").cast("bigint").alias("n"),
        F.sum("d").cast("bigint").alias("sd"),
    )
    pick = st.selectExpr(
        "n",
        "sd",
        "ds",
        "element_at(ds, CAST((75 * n + 99) div 100 AS INT)) AS s_opt",
    )
    return pick.selectExpr(
        "n AS n_days",
        "CAST(0.75 AS DOUBLE) AS critical_ratio",
        "s_opt AS stock_optimal",
        "round(CAST(sd AS DOUBLE) / n, 6) AS mean_demand",
        "round(CAST(3 * aggregate(transform(ds,"
        " x -> greatest(x - s_opt, CAST(0 AS BIGINT))),"
        " CAST(0 AS BIGINT), (a, x) -> a + x)"
        " + 1 * aggregate(transform(ds,"
        " x -> greatest(s_opt - x, CAST(0 AS BIGINT))),"
        " CAST(0 AS BIGINT), (a, x) -> a + x) AS DOUBLE) / n, 6)"
        " AS expected_cost",
        "round(CAST(aggregate(transform(ds, x -> least(x, s_opt)),"
        " CAST(0 AS BIGINT), (a, x) -> a + x) AS DOUBLE) / sd, 6)"
        " AS fill_rate",
    )


# ---------------------------------------------------------------------------
# agg_churn_lifetable_weeks
# ---------------------------------------------------------------------------


@query(
    "agg_churn_lifetable_weeks",
    oracle="""
    WITH u AS (
      SELECT user_id,
             datediff('day', DATE '2024-01-01',
                      min(CAST(ts AS DATE))) AS fd,
             datediff('day', DATE '2024-01-01',
                      max(CAST(ts AS DATE))) AS ld
      FROM events GROUP BY user_id),
    lab AS (
      SELECT CAST((ld - fd) // 7 AS BIGINT) AS wk,
             CASE WHEN ld >= 23 THEN 1 ELSE 0 END AS cen
      FROM u),
    g AS (
      SELECT wk, CAST(sum(1 - cen) AS BIGINT) AS d,
             CAST(sum(cen) AS BIGINT) AS c
      FROM lab GROUP BY wk),
    r AS (
      SELECT wk, d, c,
             CAST(sum(d + c) OVER () - coalesce(sum(d + c) OVER (
                    ORDER BY wk ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
      FROM g),
    arr AS (
      SELECT list_sort(list({'t': wk,
               'f': round(1.0 - CAST(d AS DOUBLE) / n_risk, 9)})) AS a
      FROM r),
    km AS (
      SELECT a[i].t AS wk,
             list_reduce(list_transform(a[1:i], s -> s.f),
                         (xx, yy) -> xx * yy) AS surv
      FROM arr, UNNEST(range(1, len(a) + 1)) AS u(i))
    SELECT r.wk AS tenure_week, r.n_risk, r.d AS n_churned,
           r.c AS n_censored,
           round(CAST(r.d AS DOUBLE) / r.n_risk, 6) AS hazard,
           round(km.surv, 6) AS survival
    FROM r JOIN km ON r.wk = km.wk
    ORDER BY tenure_week
    """,
)
def agg_churn_lifetable_weeks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISCRETE-TIME CHURN LIFE TABLE over USER TENURE WEEKS: each
    user's tenure is last-activity minus first-activity days (week
    buckets); users still active in the final 7 days of the 30-day
    window are right-CENSORED (their churn is not yet observable);
    hazard_w = churners_w / at-risk_w and survival is the cumulative
    product of round(1 - hazard, 9) factors — the retention curve a
    subscription business reads weekly.  Sibling differentiation:
    agg_kaplan_meier estimates survival of SESSION DURATIONS (minute
    grain, event-level); this is the user-grain tenure table, and
    win_retention_cohort counts raw return rates without censoring —
    the life table is what makes the last weeks statistically honest.

    Parity: tenure and censor flags are exact integer day arithmetic
    (datediff from the fixture's day-1 anchor); the life-table counts
    are exact; per-week factors quantize round(9) before the
    SORTED-prefix product fold (agg_kaplan_meier's exact left-assoc
    convention), outputs round(6).

    Shape at 100 TB: one groupBy(user) collapse, a <=5-row week
    domain for everything else."""
    ev = table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.expr(
            "datediff(min(CAST(ts AS DATE)), DATE '2024-01-01')"
        ).alias("fd"),
        F.expr(
            "datediff(max(CAST(ts AS DATE)), DATE '2024-01-01')"
        ).alias("ld"),
    )
    lab = u.selectExpr(
        "CAST((ld - fd) div 7 AS BIGINT) AS wk",
        "CASE WHEN ld >= 23 THEN 1 ELSE 0 END AS cen",
    )
    g = lab.groupBy("wk").agg(
        F.sum(1 - F.col("cen")).cast("bigint").alias("d"),
        F.sum("cen").cast("bigint").alias("c"),
    )
    w_prev = Window.orderBy("wk").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    r = g.select(
        "wk",
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
    ).localCheckpoint()  # <=5-row week domain, feeds fold + final join
    arr = r.agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("wk").alias("t"),
                    F.expr(
                        "round(CAST(1 AS DOUBLE) - CAST(d AS DOUBLE)"
                        " / n_risk, 9)"
                    ).alias("f"),
                )
            )
        ).alias("a")
    )
    km = arr.selectExpr(
        "explode(transform(sequence(1, size(a)),"
        " i -> struct(element_at(a, i).t AS wk,"
        " aggregate(slice(a, 1, i), CAST(1.0 AS DOUBLE),"
        " (xx, s) -> xx * s.f) AS surv))) AS z"
    ).select("z.wk", "z.surv")
    return (
        r.join(F.broadcast(km), "wk")
        .selectExpr(
            "wk AS tenure_week",
            "n_risk",
            "d AS n_churned",
            "c AS n_censored",
            "round(CAST(d AS DOUBLE) / n_risk, 6) AS hazard",
            "round(surv, 6) AS survival",
        )
        .orderBy("tenure_week")
    )


# ---------------------------------------------------------------------------
# agg_woe_information_value
# ---------------------------------------------------------------------------


@query(
    "agg_woe_information_value",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CAST(sum(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                           THEN CAST(round(value * 100, 0) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS score,
             CAST(max(CASE WHEN event_type = 'purchase'
                            AND CAST(ts AS DATE) >= DATE '2024-01-16'
                            AND value * 100 >= 10000
                           THEN 1 ELSE 0 END) AS BIGINT) AS good
      FROM events GROUP BY user_id),
    dom AS (
      SELECT score, CAST(count(*) AS BIGINT) AS c FROM u GROUP BY score),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM dom),
    cum AS (
      SELECT score,
             CAST(coalesce(sum(c) OVER (ORDER BY score
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS cal
      FROM dom),
    binned AS (
      SELECT u.good, least(9, 10 * cum.cal // tot.n) AS decile
      FROM u JOIN cum ON u.score = cum.score CROSS JOIN tot),
    cells AS (
      SELECT decile,
             CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(good) AS BIGINT) AS n_good,
             CAST(count(*) - sum(good) AS BIGINT) AS n_bad
      FROM binned GROUP BY decile),
    g AS (SELECT CAST(sum(n_good) AS BIGINT) AS gt,
                 CAST(sum(n_bad) AS BIGINT) AS bt
          FROM cells),
    t AS (
      SELECT c.decile, c.n_users, c.n_good, c.n_bad,
             CASE WHEN c.n_good = 0 OR c.n_bad = 0 THEN NULL
                  ELSE round(ln(CAST(c.n_good * g.bt AS DOUBLE)
                                / CAST(c.n_bad * g.gt AS DOUBLE)), 6)
             END AS woe,
             CASE WHEN c.n_good = 0 OR c.n_bad = 0 THEN NULL
                  ELSE CAST(round(
                    (CAST(c.n_good AS DOUBLE) / g.gt
                     - CAST(c.n_bad AS DOUBLE) / g.bt)
                    * ln(CAST(c.n_good * g.bt AS DOUBLE)
                         / CAST(c.n_bad * g.gt AS DOUBLE)),
                    9) AS DECIMAL(28,9))
             END AS term
      FROM cells c CROSS JOIN g)
    SELECT decile, n_users, n_good, n_bad, woe,
           round(CAST(term AS DOUBLE), 6) AS iv_term,
           round(CAST(sum(term) OVER () AS DOUBLE), 6) AS iv_total
    FROM t ORDER BY decile
    """,
)
def agg_woe_information_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHT-OF-EVIDENCE / INFORMATION-VALUE table — the credit-
    scoring feature screen (Siddiqi's scorecard convention): users are
    binned into deciles of the pre-period activity score (days 1-15
    cents — the same behavioral covariate agg_qini_uplift_curve
    ranks), the outcome is the post-period big-purchase conversion,
    and each decile's WOE = ln((good_d/G)/(bad_d/B)) with IV =
    sum (good_d/G - bad_d/B) * WOE_d.  IV reads on the 0.02/0.1/0.3
    rule-of-thumb scale ("too weak to use" .. "suspiciously strong").
    Acronym note: agg_iv_wald_estimator's IV is INSTRUMENTAL VARIABLES
    (causal); this IV is INFORMATION VALUE (predictive screening) —
    different statistics, both standard names.

    Parity: decile assignment is the integer strict-less domain-CDF
    (ascending; decile 9 = most active); WOE is ONE double division of
    exact integer cross-products ln((good_d*B)/(bad_d*G)), round(6);
    IV terms quantize round(9) into DECIMAL before the
    order-independent sum (dynamic-term rule); empty-class deciles
    NULL-gate WOE and drop out of IV (the textbook treatment short of
    smoothing).

    Shape at 100 TB: one groupBy(user) collapse; the score-domain CDF
    here rides the ORACLE-simple single window because the decile
    join-back is the same machinery as agg_qini_uplift_curve — whose
    DISTRIBUTED two-level prefix sum (range buckets + partitioned
    cumulative) is the production plan; at fixture scale this op
    keeps the plain form and the qini op carries the plan pin."""
    ev = table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.expr(
            "CAST(sum(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'"
            " THEN CAST(value * 100 + 0.5 AS BIGINT) ELSE 0 END)"
            " AS BIGINT)"
        ).alias("score"),
        F.expr(
            "CAST(max(CASE WHEN event_type = 'purchase'"
            " AND CAST(ts AS DATE) >= DATE '2024-01-16'"
            " AND value * 100 >= 10000 THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("good"),
    ).localCheckpoint()  # user-grain frame referenced by the score
    # domain AND the decile join-back (the qini rule)
    dom = u.groupBy("score").agg(F.count("*").cast("bigint").alias("c"))
    tot = dom.agg(F.sum("c").cast("bigint").alias("n"))
    # distributed exclusive prefix sum over the user-grain score
    # domain (functions/domain.py, ascending here: decile 9 = top)
    cum = dist_exclusive_prefix(
        dom, [("score", False)], ["c"], cache_key=f"woe:{sf_dir}"
    ).selectExpr(
        "score", "CAST(_pre_c AS BIGINT) AS cal"
    )
    binned = (
        u.join(cum, "score")
        .crossJoin(F.broadcast(tot))
        .selectExpr("good", "least(9, 10 * cal div n) AS decile")
    )
    cells = binned.groupBy("decile").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("good").cast("bigint").alias("n_good"),
        F.expr("CAST(count(*) - sum(good) AS BIGINT)").alias("n_bad"),
    )
    g = cells.agg(
        F.sum("n_good").cast("bigint").alias("gt"),
        F.sum("n_bad").cast("bigint").alias("bt"),
    )
    t = cells.crossJoin(F.broadcast(g)).selectExpr(
        "decile",
        "n_users",
        "n_good",
        "n_bad",
        "CASE WHEN n_good = 0 OR n_bad = 0 THEN NULL"
        " ELSE round(ln(CAST(n_good * bt AS DOUBLE)"
        " / CAST(n_bad * gt AS DOUBLE)), 6) END AS woe",
        "CASE WHEN n_good = 0 OR n_bad = 0 THEN NULL"
        " ELSE CAST(round((CAST(n_good AS DOUBLE) / gt"
        " - CAST(n_bad AS DOUBLE) / bt)"
        " * ln(CAST(n_good * bt AS DOUBLE)"
        " / CAST(n_bad * gt AS DOUBLE)), 9) AS DECIMAL(28,9))"
        " END AS term",
    )
    w_all = Window.partitionBy()
    return (
        t.select(
            "decile",
            "n_users",
            "n_good",
            "n_bad",
            "woe",
            F.round(F.col("term").cast("double"), 6).alias("iv_term"),
            F.round(F.sum("term").over(w_all).cast("double"), 6).alias(
                "iv_total"
            ),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# agg_cumulative_gains_curve
# ---------------------------------------------------------------------------


@query(
    "agg_cumulative_gains_curve",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CAST(sum(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                           THEN CAST(round(value * 100, 0) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS score,
             CAST(max(CASE WHEN event_type = 'purchase'
                            AND CAST(ts AS DATE) >= DATE '2024-01-16'
                            AND value * 100 >= 10000
                           THEN 1 ELSE 0 END) AS BIGINT) AS resp
      FROM events GROUP BY user_id),
    dom AS (
      SELECT score, CAST(count(*) AS BIGINT) AS c FROM u GROUP BY score),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM dom),
    cum AS (
      SELECT score,
             CAST(coalesce(sum(c) OVER (ORDER BY score DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS cal
      FROM dom),
    binned AS (
      SELECT u.resp, least(9, 10 * cum.cal // tot.n) AS decile
      FROM u JOIN cum ON u.score = cum.score CROSS JOIN tot),
    cells AS (
      SELECT decile,
             CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(resp) AS BIGINT) AS n_resp
      FROM binned GROUP BY decile),
    g AS (SELECT CAST(sum(n_users) AS BIGINT) AS nu,
                 CAST(sum(n_resp) AS BIGINT) AS nr FROM cells),
    cc AS (
      SELECT decile, n_users, n_resp,
             CAST(sum(n_users) OVER w AS BIGINT) AS cum_users,
             CAST(sum(n_resp) OVER w AS BIGINT) AS cum_resp
      FROM cells
      WINDOW w AS (ORDER BY decile ROWS UNBOUNDED PRECEDING))
    SELECT cc.decile, cc.n_users, cc.n_resp, cc.cum_users, cc.cum_resp,
           CASE WHEN g.nr = 0 THEN NULL
                ELSE round(CAST(cc.cum_resp AS DOUBLE) / g.nr, 6)
           END AS gain,
           CASE WHEN g.nr = 0 OR cc.cum_users = 0 THEN NULL
                ELSE round(CAST(cc.cum_resp * g.nu AS DOUBLE)
                           / (CAST(cc.cum_users AS DOUBLE) * g.nr), 6)
           END AS lift
    FROM cc CROSS JOIN g ORDER BY cc.decile
    """,
)
def agg_cumulative_gains_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUMULATIVE GAINS / LIFT CURVE for a response ranking — the
    campaign-targeting sheet: rank users by the pre-period activity
    score (decile 0 = top scorers), and per decile report the
    cumulative share of all converters captured (gain) and the lift
    over random targeting (gain / population share).  "Mail the top 3
    deciles, get X% of responders" is read straight off this table.
    Family placement: agg_qini_uplift_curve measures INCREMENTAL
    response between randomized arms (causal); the gains curve ranks
    a single-cohort RESPONSE model (no arms, no counterfactual) —
    the campaign sheet when no experiment ran.  agg_roc_youden sweeps
    a threshold on a per-event diagnostic; this op is decile-grain on
    the user domain.

    Parity: deciles via the exact strict-less domain-CDF (DESC);
    counts exact; gain and lift are single double divisions of exact
    integer (cross-)products, round(6), NULL-gated when no converters
    exist (the blow-up saturation rule).

    Shape at 100 TB: one groupBy(user) collapse; the score-domain CDF
    rides the shared DISTRIBUTED two-level prefix sum
    (functions/domain.py); deciles join back through a shuffle
    equi-join; the cumulative runs over the 10-row decile frame."""
    ev = table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.expr(
            "CAST(sum(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'"
            " THEN CAST(value * 100 + 0.5 AS BIGINT) ELSE 0 END)"
            " AS BIGINT)"
        ).alias("score"),
        F.expr(
            "CAST(max(CASE WHEN event_type = 'purchase'"
            " AND CAST(ts AS DATE) >= DATE '2024-01-16'"
            " AND value * 100 >= 10000 THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("resp"),
    ).localCheckpoint()  # user-grain frame: score domain + join-back
    dom = u.groupBy("score").agg(F.count("*").cast("bigint").alias("c"))
    tot = dom.agg(F.sum("c").cast("bigint").alias("n"))
    cum = dist_exclusive_prefix(
        dom, [("score", True)], ["c"], cache_key=f"gains:{sf_dir}"
    ).selectExpr(
        "score", "CAST(_pre_c AS BIGINT) AS cal"
    )
    binned = (
        u.join(cum, "score")
        .crossJoin(F.broadcast(tot))
        .selectExpr("resp", "least(9, 10 * cal div n) AS decile")
    )
    cells = binned.groupBy("decile").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("resp").cast("bigint").alias("n_resp"),
    )
    g = cells.agg(
        F.sum("n_users").cast("bigint").alias("nu"),
        F.sum("n_resp").cast("bigint").alias("nr"),
    )
    w_c = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    cc = cells.select(
        "decile",
        "n_users",
        "n_resp",
        F.sum("n_users").over(w_c).cast("bigint").alias("cum_users"),
        F.sum("n_resp").over(w_c).cast("bigint").alias("cum_resp"),
    )
    return (
        cc.crossJoin(F.broadcast(g))
        .selectExpr(
            "decile",
            "n_users",
            "n_resp",
            "cum_users",
            "cum_resp",
            "CASE WHEN nr = 0 THEN NULL"
            " ELSE round(CAST(cum_resp AS DOUBLE) / nr, 6) END AS gain",
            "CASE WHEN nr = 0 OR cum_users = 0 THEN NULL"
            " ELSE round(CAST(cum_resp * nu AS DOUBLE)"
            " / (CAST(cum_users AS DOUBLE) * nr), 6) END AS lift",
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# agg_ratio_metric_delta_ci
# ---------------------------------------------------------------------------

_ARM = "(user_id * 2654435761) % 4294967296"  # Knuth hash, high bit = arm


def _ratio_ci_stack(dialect: str) -> str:
    """Shared SELECT stack: per-user (x=purchase cents, y=events) ->
    per-arm exact moments -> delta-method se.  dialect only swaps the
    cents cast, integer division, and wide-decimal type."""
    if dialect == "duck":
        cents = "CAST(round(value * 100, 0) AS BIGINT)"
        idiv, big = "//", "HUGEINT"
    else:
        cents = "CAST(value * 100 + 0.5 AS BIGINT)"
        idiv, big = "div", "DECIMAL(38,0)"
    return f"""
    WITH u AS (
      SELECT user_id,
             CAST({_ARM} {idiv} 2147483648 AS BIGINT) AS arm,
             CAST(sum(CASE WHEN event_type = 'purchase'
                      THEN {cents} ELSE 0 END) AS BIGINT) AS x,
             CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY user_id),
    mo AS (
      SELECT arm,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             sum(CAST(x AS {big}) * x) AS sxx,
             sum(CAST(x AS {big}) * y) AS sxy,
             sum(CAST(y AS {big}) * y) AS syy
      FROM u GROUP BY arm),
    c AS (
      SELECT arm, n, sx, sy,
             CAST(n AS {big}) * sxx - CAST(sx AS {big}) * sx AS cxx,
             CAST(n AS {big}) * sxy - CAST(sx AS {big}) * sy AS cxy,
             CAST(n AS {big}) * syy - CAST(sy AS {big}) * sy AS cyy
      FROM mo),
    r AS (
      SELECT arm, n, sx, sy, cxy, cyy,
             CAST(sx AS DOUBLE) / sy AS ratio,
             CAST(cxx AS DOUBLE) AS dxx,
             CAST(cxy AS DOUBLE) AS dxy,
             CAST(cyy AS DOUBLE) AS dyy
      FROM c),
    s AS (
      SELECT arm, n, sx, sy, ratio,
             sqrt((dxx - 2.0 * ratio * dxy + ratio * ratio * dyy)
                  / (CAST(sy AS DOUBLE) * sy * (n - 1))) AS se
      FROM r)
    SELECT arm, n AS n_users, sx AS sum_x_cents, sy AS sum_y_events,
           round(ratio, 6) AS ratio,
           round(se, 6) AS se,
           round(ratio - 1.96 * se, 6) AS ci_lo,
           round(ratio + 1.96 * se, 6) AS ci_hi
    FROM s ORDER BY arm
    """


@query("agg_ratio_metric_delta_ci", oracle=_ratio_ci_stack("duck"))
def agg_ratio_metric_delta_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELTA-METHOD CONFIDENCE INTERVAL for a RATIO metric per
    experiment arm — revenue-per-event R = sum(x)/sum(y) where the
    randomization unit (the user) differs from the analysis unit (the
    event), the canonical hard case in A/B analysis: naive per-event
    variance is wrong because events within a user correlate, so the
    se comes from the user-level delta method,
    var(R) ~= (Cxx - 2R*Cxy + R^2*Cyy) / (Sy^2 * (n-1)) with C the
    n-scaled centered user moments.  Completes the experimentation
    family: agg_two_proportion_ztest (binary outcome),
    agg_cuped_adjustment (variance reduction), agg_ab_srm_check
    (validity) — this op is the continuous RATIO-metric CI they all
    report next to.  Arms use the same Knuth multiplicative-hash high
    bit as agg_ab_srm_check (user_id * 2654435761 mod 2^32, top bit).

    Parity: per-user x (exact cents — engine-specific cast, round-8
    money rule) and y are exact integers; all second moments
    accumulate in DECIMAL(38,0)/HUGEINT; the ratio, the quadratic
    form, and sqrt evaluate in shared-text IEEE double arithmetic
    (no libm beyond correctly-rounded sqrt), round(6) at the edge;
    1.96 parses to the identical double on both engines.

    Shape at 100 TB: one user-grain aggregate (map-side combined),
    one 2-row arm aggregate — the exact shape of a production
    experiment pipeline's metric pass; no windows, no collect."""
    ev = table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("events")
    return spark.sql(_ratio_ci_stack("spark"))


# ---------------------------------------------------------------------------
# agg_logistic_newton
# ---------------------------------------------------------------------------

_LGN_T = 4  # Fisher-scoring iterations (betas move < 1e-6 by step 4)


def _lgn_user_sql(duck: bool) -> str:
    """Per-user label/features; identical arithmetic text both
    engines (x scales are /64 — an exact power-of-two division)."""
    return """
      SELECT CASE WHEN np >= 12 THEN 1 ELSE 0 END AS y,
             CAST(nv AS DOUBLE) / 64 AS x1,
             CAST(nc AS DOUBLE) / 64 AS x2
      FROM (
        SELECT user_id,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 AS np,
               sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                 AS nv,
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                 AS nc
        FROM events GROUP BY user_id) g
    """


def _lgn_link_exprs(b0: str, b1: str, b2: str) -> dict:
    """Shared per-row link expressions given beta SQL references: the
    ALGEBRAIC sigmoid p = 0.5 + eta/(2(1+|eta|)) and its derivative
    w = 0.5/(1+|eta|)^2 — division/abs only, so the per-row values
    are bit-identical on both engines (no exp(), no libm)."""
    eta = f"({b0} + {b1} * x1 + {b2} * x2)"
    d = f"(1 + abs({eta}))"
    return {
        "eta": eta,
        "p": f"(0.5 + {eta} / (2 * {d}))",
        "w": f"(0.5 / ({d} * {d}))",
    }


_LGN_TERMS = [
    ("g0", "(CAST(y AS DOUBLE) - {p})"),
    ("g1", "((CAST(y AS DOUBLE) - {p}) * x1)"),
    ("g2", "((CAST(y AS DOUBLE) - {p}) * x2)"),
    ("h00", "{w}"),
    ("h01", "({w} * x1)"),
    ("h02", "({w} * x2)"),
    ("h11", "({w} * x1 * x1)"),
    ("h12", "({w} * x1 * x2)"),
    ("h22", "({w} * x2 * x2)"),
]


def _lgn_term_selects(b0: str, b1: str, b2: str) -> list:
    e = _lgn_link_exprs(b0, b1, b2)
    return [
        f"CAST(round({tpl.format(**e)}, 9) AS DECIMAL(38,9)) AS t_{nm}"
        for nm, tpl in _LGN_TERMS
    ]


def _lgn_solve_selects(b0: str, b1: str, b2: str) -> list:
    """Cramer 3x3 solve over the DOUBLE casts of the decimal sums —
    one fixed literal expression chain per determinant, identical
    text both engines; new betas are round(9) decimals."""
    ref = {nm: f"CAST(s_{nm} AS DOUBLE)" for nm, _ in _LGN_TERMS}
    a, b, c = ref["h00"], ref["h01"], ref["h02"]
    d, e, f_ = ref["h11"], ref["h12"], ref["h22"]
    g0, g1, g2 = ref["g0"], ref["g1"], ref["g2"]
    det = (
        f"({a} * ({d} * {f_} - {e} * {e})"
        f" - {b} * ({b} * {f_} - {e} * {c})"
        f" + {c} * ({b} * {e} - {d} * {c}))"
    )
    det0 = (
        f"({g0} * ({d} * {f_} - {e} * {e})"
        f" - {b} * ({g1} * {f_} - {e} * {g2})"
        f" + {c} * ({g1} * {e} - {d} * {g2}))"
    )
    det1 = (
        f"({a} * ({g1} * {f_} - {e} * {g2})"
        f" - {g0} * ({b} * {f_} - {e} * {c})"
        f" + {c} * ({b} * {g2} - {g1} * {c}))"
    )
    det2 = (
        f"({a} * ({d} * {g2} - {g1} * {e})"
        f" - {b} * ({b} * {g2} - {g1} * {c})"
        f" + {g0} * ({b} * {e} - {d} * {c}))"
    )
    return [
        f"CAST(round({b0} + {det0} / {det}, 9) AS DECIMAL(38,9)) AS b0",
        f"CAST(round({b1} + {det1} / {det}, 9) AS DECIMAL(38,9)) AS b1",
        f"CAST(round({b2} + {det2} / {det}, 9) AS DECIMAL(38,9)) AS b2",
        f"{det} AS det",
    ]


def _lgn_correct_expr(b0: str, b1: str, b2: str) -> str:
    e = _lgn_link_exprs(b0, b1, b2)
    return (
        "CAST(sum(CASE WHEN (CASE WHEN"
        f" {e['eta']} >= 0 THEN 1 ELSE 0 END) = y"
        " THEN 1 ELSE 0 END) AS BIGINT)"
    )


@session_artifact
def _lgn_fit(spark: SparkSession, sf_dir: str) -> tuple:
    """Session-cached (users_ckpt, per-iteration beta strings): the
    fit machinery shared by agg_logistic_newton and the downstream
    model-evaluation ops (AUC). Caching the collected betas makes
    rebuilding the output DataFrame pure plan-build (the round-13
    localCheckpoint-in-op lesson: never redo driver actions per
    build)."""
    ev = table(spark, sf_dir, "events")
    users = (
        ev.groupBy("user_id")
        .agg(
            F.sum(
                F.expr(
                    "CASE WHEN event_type = 'purchase' THEN 1"
                    " ELSE 0 END"
                )
            ).alias("np"),
            F.sum(
                F.expr("CASE WHEN event_type = 'view' THEN 1 ELSE 0 END")
            ).alias("nv"),
            F.sum(
                F.expr("CASE WHEN event_type = 'click' THEN 1 ELSE 0 END")
            ).alias("nc"),
        )
        .selectExpr(
            "CASE WHEN np >= 12 THEN 1 ELSE 0 END AS y",
            "CAST(nv AS DOUBLE) / 64 AS x1",
            "CAST(nc AS DOUBLE) / 64 AS x2",
        )
        .localCheckpoint()
    )
    betas = [("0.0", "0.0", "0.0")]
    cur = betas[0]
    for _ in range(_LGN_T):
        bref = [f"CAST({b} AS DOUBLE)" for b in cur]
        terms = users.selectExpr(*_lgn_term_selects(*bref))
        sums = terms.agg(
            *[F.sum(f"t_{nm}").alias(f"s_{nm}") for nm, _ in _LGN_TERMS]
        )
        row = sums.selectExpr(*_lgn_solve_selects(*bref)).first()
        if row["det"] == 0.0:
            raise ValueError("logistic_newton: singular information matrix")
        cur = tuple(f"{row[c]:.9f}" for c in ("b0", "b1", "b2"))
        betas.append(cur)
    return users, betas


def _lgn_cte_chain() -> list:
    """The oracle-side fit: WITH-parts for u, s0..s{T} (MATERIALIZED)
    — shared by agg_logistic_newton's oracle and the downstream
    model-eval oracles so both engines derive the SAME betas."""
    parts = [
        f"WITH u AS MATERIALIZED ({_lgn_user_sql(duck=True)})",
        "s0 AS MATERIALIZED (SELECT"
        " CAST(0 AS DECIMAL(38,9)) AS b0,"
        " CAST(0 AS DECIMAL(38,9)) AS b1,"
        " CAST(0 AS DECIMAL(38,9)) AS b2)",
    ]
    for i in range(1, _LGN_T + 1):
        bref = [f"CAST(s{i-1}.b{j} AS DOUBLE)" for j in range(3)]
        terms = ", ".join(_lgn_term_selects(*bref))
        sums = ", ".join(
            f"sum(t_{nm}) AS s_{nm}" for nm, _ in _LGN_TERMS
        )
        solve = ", ".join(_lgn_solve_selects(*bref)[:3])
        parts.append(f"t{i} AS (SELECT {terms} FROM u, s{i-1})")
        parts.append(f"a{i} AS (SELECT {sums} FROM t{i})")
        parts.append(
            f"s{i} AS MATERIALIZED (SELECT {solve} FROM a{i}, s{i-1})"
        )
    return parts


def _lgn_oracle() -> str:
    parts = _lgn_cte_chain()
    outs = []
    for i in range(_LGN_T + 1):
        bref = [f"CAST(s{i}.b{j} AS DOUBLE)" for j in range(3)]
        cexp = _lgn_correct_expr(*bref)
        outs.append(
            f"SELECT CAST({i} AS BIGINT) AS iter,"
            f" CAST(round(s{i}.b0, 6) AS DOUBLE) AS b0,"
            f" CAST(round(s{i}.b1, 6) AS DOUBLE) AS b1,"
            f" CAST(round(s{i}.b2, 6) AS DOUBLE) AS b2,"
            f" {cexp} AS n_correct,"
            " CAST(count(*) AS BIGINT) AS n_users"
            f" FROM u, s{i} GROUP BY s{i}.b0, s{i}.b1, s{i}.b2"
        )
    return (
        ",\n".join(parts)
        + "\n"
        + "\nUNION ALL\n".join(outs)
        + "\nORDER BY iter"
    )


@query("agg_logistic_newton", oracle=_lgn_oracle())
def agg_logistic_newton(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTED GLM TRAINING — Fisher-scoring (Newton/IRLS) fit of
    a binary adopter model (>= 12 purchases, the round-10 rule that
    splits fixture users ~68/32 at every sf) on per-user view/click
    rates, the one model-TRAINING op the engine lacked
    (vec_knn_classify infers, vec_kmeans_lloyd clusters; nothing
    fitted supervised coefficients). Each of the 4 unrolled
    iterations is the textbook distributed GLM step a 100 TB trainer
    runs: ONE scan computing the 9 sufficient statistics X'(y-p) and
    X'WX as map-side-combinable sums, a driver-side (here in-plan)
    3x3 Cramer solve, betas rebroadcast into the next pass — the
    same shape as agg_ols_regression's one-shot solve, iterated.

    Full cross-engine parity WITHOUT a shared libm: the link is the
    ALGEBRAIC sigmoid p = 0.5 + eta/(2(1+|eta|)) (the 'fast
    sigmoid'; division and abs are correctly-rounded IEEE ops, so
    per-row p and w = 0.5/(1+|eta|)^2 are bit-identical on both
    engines — the trick that makes an ITERATIVE fit verifiable where
    exp() would drift per-ulp and compound). Per-user terms quantize
    round(9) -> DECIMAL(38,9) before the unordered sums (the
    PageRank recipe); the solve runs on DOUBLE casts of the exact
    decimal sums in one shared expression text; new betas round(9)
    back into DECIMAL. Features scale by /64 (exact power-of-two).
    The oracle steps the identical recursion as chained MATERIALIZED
    CTEs; accuracy rows use the link's monotonicity (p >= 0.5 iff
    eta >= 0) so n_correct is pure integer comparison.

    Output: one row per iteration 0..4 with round(6) betas,
    n_correct at those betas, and n_users — the convergence trace.
    Signal is weak by fixture construction (counts are random), so
    accuracy hovers near the base rate; the op demonstrates the
    distributed fit mechanics, not the fixture's predictability.

    Shape at 100 TB: each iteration is one groupBy-free aggregate
    over the user grain (itself one shuffled pre-aggregate of
    events); state between iterations is 3 numbers. The per-user
    frame is checkpointed once and reused across all 4 iterations +
    5 accuracy branches (bounded-intermediate rule); collected betas
    are session-cached so warm rebuilds are pure plan-build."""
    users, betas = _lgn_fit(spark, sf_dir)

    outs = []
    for i, (b0, b1, b2) in enumerate(betas):
        bref = [f"CAST({b} AS DOUBLE)" for b in (b0, b1, b2)]
        outs.append(
            users.agg(
                F.expr(f"CAST({i} AS BIGINT)").alias("iter"),
                F.expr(
                    f"CAST(round(CAST({b0} AS DECIMAL(38,9)), 6)"
                    " AS DOUBLE)"
                ).alias("b0"),
                F.expr(
                    f"CAST(round(CAST({b1} AS DECIMAL(38,9)), 6)"
                    " AS DOUBLE)"
                ).alias("b1"),
                F.expr(
                    f"CAST(round(CAST({b2} AS DECIMAL(38,9)), 6)"
                    " AS DOUBLE)"
                ).alias("b2"),
                F.expr(_lgn_correct_expr(*bref)).alias("n_correct"),
                F.expr("CAST(count(*) AS BIGINT)").alias("n_users"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionAll(o)
    return res.orderBy("iter")


# ---------------------------------------------------------------------------
# agg_decision_stump
# ---------------------------------------------------------------------------


def _stump_sql(duck: bool) -> str:
    """Engine-shared stump search; only integer division spelling
    differs (none needed — all arithmetic is products/sums) and the
    unpivot syntax (stack vs UNION ALL)."""
    if duck:
        unpivot = """
      SELECT 'views' AS feature, nv AS x, y FROM u
      UNION ALL
      SELECT 'clicks' AS feature, nc AS x, y FROM u"""
    else:
        unpivot = (
            "SELECT stack(2, 'views', nv, 'clicks', nc)"
            " AS (feature, x), y FROM u"
        )
    return f"""
    WITH u AS (
      SELECT CASE WHEN np >= 12 THEN 1 ELSE 0 END AS y,
             CAST(nv AS BIGINT) AS nv, CAST(nc AS BIGINT) AS nc
      FROM (
        SELECT user_id,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 AS np,
               sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                 AS nv,
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                 AS nc
        FROM events GROUP BY user_id) g),
    fx AS ({unpivot}),
    vals AS (
      SELECT feature, x AS threshold,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(y) AS BIGINT) AS pos
      FROM fx GROUP BY feature, x),
    cum AS (
      SELECT feature, threshold,
             sum(cnt) OVER w AS n_left,
             sum(pos) OVER w AS pos_left,
             sum(cnt) OVER (PARTITION BY feature) AS n_all,
             sum(pos) OVER (PARTITION BY feature) AS pos_all
      FROM vals
      WINDOW w AS (PARTITION BY feature ORDER BY threshold
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    split AS (
      SELECT feature, threshold,
             CAST(n_left AS BIGINT) AS n_left,
             CAST(pos_left AS BIGINT) AS pos_left,
             CAST(n_all - n_left AS BIGINT) AS n_right,
             CAST(pos_all - pos_left AS BIGINT) AS pos_right
      FROM cum WHERE n_all - n_left > 0),
    scored AS (
      SELECT feature, threshold, n_left, pos_left, n_right, pos_right,
             (n_left * n_left - pos_left * pos_left
              - (n_left - pos_left) * (n_left - pos_left)) * n_right
             + (n_right * n_right - pos_right * pos_right
                - (n_right - pos_right) * (n_right - pos_right))
               * n_left AS cost_num,
             n_left * n_right AS cost_den
      FROM split)
    SELECT feature, threshold, n_left, pos_left, n_right, pos_right,
           round(CAST(cost_num AS DOUBLE) / CAST(cost_den AS DOUBLE), 6)
             AS gini_cost,
           CAST(row_number() OVER (
             ORDER BY CAST(cost_num AS DOUBLE) / CAST(cost_den AS DOUBLE),
                      feature, threshold) AS BIGINT) AS sel_rank
    FROM scored
    ORDER BY feature, threshold
    """


@query("agg_decision_stump", oracle=_stump_sql(duck=True))
def agg_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECISION-STUMP TRAINING (exact Gini split search) — the
    integer-exact counterpart to agg_logistic_newton, completing the
    supervised-training pair: for each feature (per-user view and
    click counts) and each threshold in its VALUE DOMAIN (~25
    distinct counts — the round-7 value-domain collapse, so the
    search grid is bounded by the domain, not the row count), the
    weighted Gini impurity of the x <= t split against the >= 12-
    purchase adopter label.

    Parity needs no quantization argument anywhere: with integer
    class counts, weighted impurity is the exact rational
    (aL*nR + aR*nL) / (nL*nR) where aX = nX^2 - posX^2 - negX^2 —
    every term BIGINT; the only float is the final ranking/display
    division of two exact integers < 2^53, which is one correctly-
    rounded IEEE op and therefore identical on both engines
    (the round-9 dyadic-p-value principle, extended to ratios of
    exact ints). sel_rank = 1 marks the trained stump; the rank
    window runs over the bounded threshold panel.

    Shape at 100 TB: one shuffled user-grain pre-aggregate of
    events, one groupBy per (feature, value) onto the bounded
    domain, cumulative sums over that domain (partitioned by
    feature), and a ~50-row scoring panel — the classic distributed
    split-finder every tree library (XGBoost's exact mode) runs per
    node."""
    ev = table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("events")
    return spark.sql(_stump_sql(duck=False))


# ---------------------------------------------------------------------------
# agg_model_auc_exact
# ---------------------------------------------------------------------------


def _auc_oracle() -> str:
    bref = [f"CAST(s{_LGN_T}.b{j} AS DOUBLE)" for j in range(3)]
    score = f"({bref[0]} + {bref[1]} * x1 + {bref[2]} * x2)"
    parts = _lgn_cte_chain()
    parts.append(
        f"sc AS (SELECT {score} AS s, y FROM u, s{_LGN_T})"
    )
    parts.append(
        "g AS (SELECT s, CAST(sum(y) AS BIGINT) AS c1,"
        " CAST(count(*) - sum(y) AS BIGINT) AS c0"
        " FROM sc GROUP BY s)"
    )
    parts.append(
        "w AS (SELECT s, c1, c0,"
        " CAST(coalesce(sum(c0) OVER (ORDER BY s"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)"
        " AS BIGINT) AS cum0 FROM g)"
    )
    return (
        ",\n".join(parts)
        + """
    SELECT CAST(sum(c1) AS BIGINT) AS n_pos,
           CAST(sum(c0) AS BIGINT) AS n_neg,
           CAST(sum(c1 * (2 * cum0 + c0)) AS BIGINT) AS u2,
           round(CAST(sum(c1 * (2 * cum0 + c0)) AS DOUBLE)
                 / CAST(2 * sum(c1) * sum(c0) AS DOUBLE), 6) AS auc
    FROM w
    """
    )


@query("agg_model_auc_exact", oracle=_auc_oracle())
def agg_model_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC-AUC OF THE TRAINED GLM — the evaluation half of the
    round-14 training pair, composing agg_logistic_newton's fitted
    betas (shared _lgn_fit cache / oracle CTE chain, the
    rag_prf-style pass-2-from-pass-1 pattern) with the repo's exact
    rank machinery: AUC == U/(n1*n0) (the Mann-Whitney identity),
    computed tie-correctly WITHOUT per-row ranks by collapsing users
    to distinct SCORE values (bounded by the feature-count support
    grid, not the row count — the round-7 value-domain rule) and
    folding 2U = sum c1*(2*cum_less_0 + c0) in exact BIGINTs, the
    midrank doubling trick from agg_mann_whitney_u applied to model
    scores.

    Parity: scores eta = b0 + b1*x1 + b2*x2 are bit-identical on
    both engines (literal-embedded round(9) decimal betas, exact /64
    features, one shared expression shape); grouping and ordering by
    a bit-identical double is deterministic; everything after is
    integer arithmetic with ONE final division of exact ints < 2^53
    (correctly rounded, identical both engines — the decision-stump
    principle). u2 is emitted so the driver hash pins the exact
    integer statistic, not just the rounded ratio.

    Shape at 100 TB: one user-grain pre-aggregate, one groupBy onto
    the bounded score domain, one cumulative window over that
    domain, a 1-row reduce. The betas arrive as plan literals from
    the session-cached fit."""
    users, betas = _lgn_fit(spark, sf_dir)
    b0, b1, b2 = betas[-1]
    bref = [f"CAST({b} AS DOUBLE)" for b in (b0, b1, b2)]
    score = f"({bref[0]} + {bref[1]} * x1 + {bref[2]} * x2)"
    g = (
        users.selectExpr(f"{score} AS s", "y")
        .groupBy("s")
        .agg(
            F.expr("CAST(sum(y) AS BIGINT)").alias("c1"),
            F.expr("CAST(count(*) - sum(y) AS BIGINT)").alias("c0"),
        )
    )
    w = g.selectExpr(
        "s",
        "c1",
        "c0",
        "CAST(coalesce(sum(c0) OVER (ORDER BY s"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)"
        " AS BIGINT) AS cum0",
    )
    return w.agg(
        F.expr("CAST(sum(c1) AS BIGINT)").alias("n_pos"),
        F.expr("CAST(sum(c0) AS BIGINT)").alias("n_neg"),
        F.expr(
            "CAST(sum(c1 * (2 * cum0 + c0)) AS BIGINT)"
        ).alias("u2"),
        F.expr(
            "round(CAST(sum(c1 * (2 * cum0 + c0)) AS DOUBLE)"
            " / CAST(2 * sum(c1) * sum(c0) AS DOUBLE), 6)"
        ).alias("auc"),
    )


# ---------------------------------------------------------------------------
# agg_calibration_bins
# ---------------------------------------------------------------------------


def _cal_oracle() -> str:
    bref = [f"CAST(s{_LGN_T}.b{j} AS DOUBLE)" for j in range(3)]
    e = _lgn_link_exprs(*bref)
    parts = _lgn_cte_chain()
    parts.append(
        f"sc AS (SELECT {e['p']} AS p, y FROM u, s{_LGN_T})"
    )
    parts.append(
        "b AS (SELECT CAST(floor(p * 5) AS BIGINT) AS bin,"
        " CAST(round(p, 9) AS DECIMAL(38,9)) AS pq, y FROM sc)"
    )
    return (
        ",\n".join(parts)
        + """
    SELECT bin,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(y) AS BIGINT) AS n_pos,
           round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS rate,
           round(CAST(sum(pq) AS DOUBLE) / count(*), 6) AS mean_p,
           round(abs(CAST(sum(y) AS DOUBLE) / count(*)
                     - CAST(sum(pq) AS DOUBLE) / count(*)), 6) AS gap
    FROM b
    GROUP BY bin
    ORDER BY bin
    """
    )


@query("agg_calibration_bins", oracle=_cal_oracle())
def agg_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALIBRATION AUDIT OF THE TRAINED GLM — the third leg of the
    round-14 model triple (train: agg_logistic_newton, discriminate:
    agg_model_auc_exact, calibrate: THIS): users bin by their
    predicted adoption probability (5 equal-width bins of the
    algebraic-sigmoid p) and each bin reports observed adopter rate
    vs mean predicted p — the reliability-diagram rows whose
    n-weighted gap sum is expected calibration error.

    Parity: p is bit-identical on both engines (the _lgn_link_exprs
    shared shape — division/abs only, betas as round(9) decimal
    literals), so floor(p*5) binning is deterministic; per-user p
    quantizes round(9) -> DECIMAL before the unordered bin sum (the
    module rule); rate/mean/gap are shared-shape divisions of exact
    quantities with one round(6). The oracle re-derives the SAME
    betas through the MATERIALIZED fit CTE chain.

    Shape at 100 TB: one user-grain pass, one groupBy onto <= 5
    bins; betas are plan literals from the session-cached fit."""
    users, betas = _lgn_fit(spark, sf_dir)
    bref = [f"CAST({b} AS DOUBLE)" for b in betas[-1]]
    e = _lgn_link_exprs(*bref)
    b = users.selectExpr(
        f"CAST(floor({e['p']} * 5) AS BIGINT) AS bin",
        f"CAST(round({e['p']}, 9) AS DECIMAL(38,9)) AS pq",
        "y",
    )
    return (
        b.groupBy("bin")
        .agg(
            F.expr("CAST(count(*) AS BIGINT)").alias("n_users"),
            F.expr("CAST(sum(y) AS BIGINT)").alias("n_pos"),
            F.expr(
                "round(CAST(sum(y) AS DOUBLE) / count(*), 6)"
            ).alias("rate"),
            F.expr(
                "round(CAST(sum(pq) AS DOUBLE) / count(*), 6)"
            ).alias("mean_p"),
            F.expr(
                "round(abs(CAST(sum(y) AS DOUBLE) / count(*)"
                " - CAST(sum(pq) AS DOUBLE) / count(*)), 6)"
            ).alias("gap"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# agg_survival_rmst
# ---------------------------------------------------------------------------

_RMST_TAUS = [30, 60, 120]  # restriction horizons, minutes


def _rmst_oracle() -> str:
    from ...registry import ORACLES

    km = ORACLES["agg_kaplan_meier"]
    tau_rows = "\n    UNION ALL\n    ".join(
        f"""SELECT CAST({tau} AS BIGINT) AS tau_min,
           round(CAST(sum(CAST(round(sp *
                 (least(CAST(dur_min AS BIGINT), {tau})
                  - least(pt, {tau})), 9) AS DECIMAL(38,9)))
                 AS DOUBLE)
                 + max(CASE WHEN rn = nr THEN survival
                       * ({tau} - least(CAST(dur_min AS BIGINT), {tau}))
                       ELSE 0 END), 6) AS rmst_min,
           CAST(count(CASE WHEN CAST(dur_min AS BIGINT) <= {tau}
                      THEN 1 END) AS BIGINT) AS n_steps
    FROM steps"""
        for tau in _RMST_TAUS
    )
    return f"""
    WITH km AS ({km}),
    steps AS (
      SELECT dur_min, survival,
             coalesce(lag(survival) OVER (ORDER BY dur_min), 1.0) AS sp,
             coalesce(CAST(lag(dur_min) OVER (ORDER BY dur_min)
                           AS BIGINT), 0) AS pt,
             row_number() OVER (ORDER BY dur_min) AS rn,
             count(*) OVER () AS nr
      FROM km)
    {tau_rows}
    ORDER BY tau_min
    """


@query("agg_survival_rmst", oracle=_rmst_oracle())
def agg_survival_rmst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTRICTED MEAN SURVIVAL TIME over agg_kaplan_meier's curve at
    horizons 30/60/120 minutes: the area under the KM step function
    up to tau — "expected session minutes within the first tau" —
    the single-number survival summary analysts quote when median
    survival is undefined (curve never crosses 0.5) and the standard
    model-free effect measure next to agg_logrank_test.  Composes the
    registered KM op VERBATIM (same oracle text as a CTE), completing
    the survival family: curve (kaplan_meier), comparison (logrank),
    discrete hazard (churn_lifetable), scalar summary (this op).

    Parity: the KM survival values arrive round(6) (identical doubles
    both engines); each interval term S_prev * (min(t_i, tau) -
    min(t_{{i-1}}, tau)) multiplies those by exact integer widths and
    quantizes round(9) into DECIMAL(38,9) before the
    order-independent sum; the tail extension past the last observed
    time uses the last survival value via an exact argmax pick.

    Shape at 100 TB: everything after the sessionize collapse runs on
    the bounded minute-duration domain (the KM shape); the lag window
    and the three tau aggregates touch only that domain frame."""

    km = agg_kaplan_meier(spark, sf_dir).localCheckpoint()  # bounded
    # duration-domain frame referenced by 3 tau branches
    w = Window.orderBy("dur_min")
    w_all = Window.partitionBy()
    steps = km.select(
        "dur_min",
        "survival",
        F.coalesce(F.lag("survival").over(w), F.lit(1.0)).alias("sp"),
        F.coalesce(
            F.lag("dur_min").over(w).cast("bigint"), F.lit(0)
        ).alias("pt"),
        F.row_number().over(w).alias("rn"),
        F.count("*").over(w_all).alias("nr"),
    ).localCheckpoint()
    out = None
    for tau in _RMST_TAUS:
        row = steps.agg(
            F.lit(tau).cast("bigint").alias("tau_min"),
            F.expr(
                f"round(CAST(sum(CAST(round(sp *"
                f" (least(CAST(dur_min AS BIGINT), {tau})"
                f" - least(pt, {tau})), 9) AS DECIMAL(38,9)))"
                f" AS DOUBLE)"
                f" + max(CASE WHEN rn = nr THEN survival"
                f" * ({tau} - least(CAST(dur_min AS BIGINT), {tau}))"
                f" ELSE 0 END), 6)"
            ).alias("rmst_min"),
            F.expr(
                f"CAST(count(CASE WHEN CAST(dur_min AS BIGINT) <= {tau}"
                f" THEN 1 END) AS BIGINT)"
            ).alias("n_steps"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("tau_min")


# ---------------------------------------------------------------------------
# agg_mediation_product
# ---------------------------------------------------------------------------

_MED_ARM = "(user_id * 2654435761) % 4294967296"


def _mediation_sql(dialect: str) -> str:
    if dialect == "duck":
        cents = "CAST(round(value * 100, 0) AS BIGINT)"
        idiv, big = "//", "HUGEINT"
    else:
        cents = "CAST(value * 100 + 0.5 AS BIGINT)"
        idiv, big = "div", "DECIMAL(38,0)"
    return f"""
    WITH u AS (
      SELECT user_id,
             CAST({_MED_ARM} {idiv} 2147483648 AS BIGINT) AS x,
             CAST(count(*) AS BIGINT) AS m,
             CAST(sum(CASE WHEN event_type = 'purchase'
                      THEN {cents} ELSE 0 END) AS BIGINT) AS y
      FROM events GROUP BY user_id),
    mo AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(m) AS BIGINT) AS sm,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * m) AS BIGINT) AS sxm,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             sum(CAST(m AS {big}) * m) AS smm,
             sum(CAST(m AS {big}) * y) AS smy
      FROM u),
    c AS (
      SELECT n,
             CAST(n AS {big}) * sx - CAST(sx AS {big}) * sx AS cxx,
             CAST(n AS {big}) * sxm - CAST(sx AS {big}) * sm AS cxm,
             CAST(n AS {big}) * sxy - CAST(sx AS {big}) * sy AS cxy,
             CAST(n AS {big}) * smm - CAST(sm AS {big}) * sm AS cmm,
             CAST(n AS {big}) * smy - CAST(sm AS {big}) * sy AS cmy
      FROM mo),
    d AS (
      SELECT n,
             CAST(cxx AS DOUBLE) AS dxx, CAST(cxm AS DOUBLE) AS dxm,
             CAST(cxy AS DOUBLE) AS dxy, CAST(cmm AS DOUBLE) AS dmm,
             CAST(cmy AS DOUBLE) AS dmy,
             CAST(cxx AS DOUBLE) * CAST(cmm AS DOUBLE)
               - CAST(cxm AS DOUBLE) * CAST(cxm AS DOUBLE) AS det
      FROM c)
    SELECT n AS n_users,
           CASE WHEN dxx > 0 THEN round(dxm / dxx, 6) END AS a_path,
           CASE WHEN det > 0 THEN
             round((dxx * dmy - dxm * dxy) / det, 6) END AS b_path,
           CASE WHEN dxx > 0 AND det > 0 THEN
             round((dxm / dxx) * ((dxx * dmy - dxm * dxy) / det), 6) END
             AS indirect_effect,
           CASE WHEN det > 0 THEN
             round((dmm * dxy - dxm * dmy) / det, 6) END AS direct_effect,
           CASE WHEN dxx > 0 THEN round(dxy / dxx, 6) END AS total_effect
    FROM d
    """


@query("agg_mediation_product", oracle=_mediation_sql("duck"))
def agg_mediation_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEDIATION ANALYSIS (product-of-coefficients, Baron-Kenny):
    does the experiment arm X move revenue Y THROUGH activity M?
    a = slope of M on X; b = slope of Y on M controlling X (the
    two-regressor OLS partial); indirect effect = a*b, direct = c',
    and the exact OLS identity total = direct + indirect holds by
    construction (the recompute pytest pins it).  Completes the
    causal-inference family — agg_did_estimator (time), agg_iv_wald
    (instrument), agg_stratified_ate (confounding), this op
    (mechanism).  On the fixture's RANDOM arm every path is ~0 by
    design — the estimator, gates, and identity are the contract.

    Parity: X is the Knuth-hash arm bit, M exact counts, Y exact
    cents; all centered moments are n-scaled exact
    DECIMAL(38,0)/HUGEINT integers; slopes divide identical doubles
    in shared text (det and variance CASE-gated per the ANSI rule),
    round(6).

    Shape at 100 TB: one user-grain aggregate, one 1-row moment
    reduce — the agg_ols_regression shape."""
    ev = table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("events")
    return spark.sql(_mediation_sql("spark"))
