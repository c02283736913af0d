"""Time-series statistics over the daily event series: autocorrelation,
trend and randomness tests, unit-root and cointegration tests,
changepoint calibration, spectral and complexity measures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ...memo import session_artifact
from ...registry import query
from ...tables import table
from ..windows import _CUSUM_K, _purchase_day_totals


# ---------------------------------------------------------------------------
# agg_decayed_count
# ---------------------------------------------------------------------------

_DECAY_CAP_WEEKS = 8


@query(
    "agg_decayed_count",
    oracle=f"""
    WITH mx AS (SELECT max(epoch_us(ts)) AS us_max FROM events),
    w AS (
      SELECT event_type,
             least(CAST((us_max - epoch_us(ts))
                        // CAST(604800000000 AS BIGINT) AS INTEGER),
                   {_DECAY_CAP_WEEKS}) AS age_wk
      FROM events CROSS JOIN mx)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(CAST(sum(CAST(1.0 / CAST(CAST(1 AS BIGINT) << age_wk
                                          AS DOUBLE)
                               AS DECIMAL(28, 9))) AS DOUBLE), 6)
             AS decayed_count
    FROM w
    GROUP BY event_type
    """,
)
def agg_decayed_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPONENTIALLY TIME-DECAYED event counts per type (halflife =
    1 week, integer week buckets, capped at
    8 weeks) — the recency-weighted popularity counter
    behind trending rankings and feature-store freshness signals: an
    event k weeks old contributes 2^-k.

    Shape at scale: the global max timestamp is one scalar aggregate
    broadcast into a map pass; the decayed sum is then an ordinary
    hash aggregate with map-side partial combine — the whole op is
    scan + two exchanges of 5 rows. The weight never calls pow():
    2^-k is 1.0 / (1 << k), an exact power of two for any capped k,
    so every per-row weight is an exact double AND an exact
    DECIMAL(28,9) (2^-8 has 8 decimal digits), making the group sum
    order-independent without quantization loss.

    Parity: integer floor-division week bucketing on epoch
    microseconds; exact weights; one round(6) on the decimal-to-double
    cast."""
    ev = table(spark, sf_dir, "events")
    mx = ev.agg(F.max(F.unix_micros("ts")).alias("us_max"))
    return (
        ev.crossJoin(F.broadcast(mx))
        .select(
            "event_type",
            F.least(
                F.expr(
                    "CAST((us_max - unix_micros(ts)) "
                    "div CAST(604800000000 AS BIGINT) AS INT)"
                ),
                F.lit(_DECAY_CAP_WEEKS),
            ).alias("age_wk"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.round(
                F.sum(
                    F.expr(
                        "CAST(1.0 / CAST(shiftleft(CAST(1 AS BIGINT), "
                        "age_wk) AS DOUBLE) AS DECIMAL(28,9))"
                    )
                ).cast("double"),
                6,
            ).alias("decayed_count"),
        )
    )


# ---------------------------------------------------------------------------
# agg_cusum_arl_calibration
# ---------------------------------------------------------------------------

_ARL_HS = (50.0, 100.0, 200.0, 400.0)  # binary-exact threshold sweep


def _arl_oracle() -> str:
    h1, h2, h3, h4 = _ARL_HS
    firsts_anchor = ", ".join(
        f"CASE WHEN greatest(0.0, s.x - mu.m - {_CUSUM_K}) > {h}"
        f" THEN 1 ELSE 0 END AS f{j}"
        for j, h in enumerate(_ARL_HS, 1)
    )
    firsts_step = ", ".join(
        f"CASE WHEN st.f{j} = 0 AND"
        f" greatest(0.0, st.cs + s.x - mu.m - {_CUSUM_K}) > {h}"
        f" THEN st.i + 1 ELSE st.f{j} END"
        for j, h in enumerate(_ARL_HS, 1)
    )
    per_h = "\n    UNION ALL ".join(
        f"""SELECT CAST({h} AS DOUBLE) AS h,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(CASE WHEN f.f{j} > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_alarmed,
           round(CAST(sum(CASE WHEN f.f{j} > 0 THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS pct_alarmed,
           round(CAST(sum(CASE WHEN f.f{j} > 0 THEN f.f{j} ELSE 0 END)
                      AS DOUBLE)
                 / nullif(sum(CASE WHEN f.f{j} > 0 THEN 1 ELSE 0 END), 0),
                 6) AS avg_run_length
    FROM f"""
        for j, h in enumerate(_ARL_HS, 1)
    )
    return f"""
    WITH RECURSIVE seq AS (
      SELECT user_id, round(value, 6) AS x,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events),
    mu AS (
      SELECT user_id,
             CAST(sum(CAST(x AS DECIMAL(28, 6))) AS DOUBLE) / count(*) AS m,
             max(rn) AS n
      FROM seq GROUP BY user_id),
    st AS (
      SELECT s.user_id, 1 AS i,
             greatest(0.0, s.x - mu.m - {_CUSUM_K}) AS cs,
             {firsts_anchor}
      FROM seq s JOIN mu ON s.user_id = mu.user_id AND s.rn = 1
      UNION ALL
      SELECT st.user_id, st.i + 1,
             greatest(0.0, st.cs + s.x - mu.m - {_CUSUM_K}),
             {firsts_step}
      FROM st JOIN seq s ON s.user_id = st.user_id AND s.rn = st.i + 1
              JOIN mu ON mu.user_id = st.user_id),
    f AS (
      SELECT st.* FROM st JOIN mu
        ON st.user_id = mu.user_id AND st.i = mu.n)
    {per_h}
    """


@query("agg_cusum_arl_calibration", oracle=_arl_oracle())
def agg_cusum_arl_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM DETECTOR CALIBRATION: the empirical run-length table for
    win_cusum_changepoint's statistic across a threshold sweep
    (h in 50/100/200/400) — per threshold, how many users ever alarm
    and the average index of the FIRST alarm among those who do (the
    empirical ARL). This is how a monitoring team actually picks h:
    too low gives short run lengths (false-alarm storms), too high
    never fires; the fixture's h=200 choice (~4 sigma) sits where the
    alarm fraction drops steeply — the table makes that visible
    instead of folklore.

    One fold computes ALL thresholds: the per-user sequential CUSUM
    fold (sort_array + aggregate, the win_cusum_changepoint shape)
    carries a struct of four first-alarm indices updated as
    fj := i when fj = 0 and cs crosses h_j — integer indices, so the
    per-threshold ARL is a ratio of exact integers. The oracle is the
    same recursive CTE with four first columns (struct list_reduce is
    broken in DuckDB — round-6 note).

    Scale: one user_id shuffle, per-user bounded fold, 4-row output
    via stack() over the threshold domain."""
    ev = table(spark, sf_dir, "events")
    v = (
        ev.select(
            "user_id",
            F.round("value", 6).alias("x"),
            F.struct(
                F.unix_micros("ts").alias("us"),
                "event_id",
                F.round("value", 6).alias("x"),
            ).alias("s"),
        )
        .groupBy("user_id")
        .agg(
            (
                F.sum(F.col("x").cast("decimal(28,6)")).cast("double")
                / F.count("*")
            ).alias("m"),
            F.sort_array(F.collect_list("s")).alias("ss"),
        )
    )
    init_firsts = ", ".join(
        f"'f{j}', CAST(0 AS BIGINT)" for j in range(1, len(_ARL_HS) + 1)
    )
    step_firsts = ", ".join(
        f"'f{j}', IF(s.f{j} = 0 AND "
        f"greatest(0.0D, s.cs + x - m - {_CUSUM_K}D) > {h}D, "
        f"s.i + 1, s.f{j})"
        for j, h in enumerate(_ARL_HS, 1)
    )
    fold = F.expr(
        "aggregate(transform(ss, s -> s.x), "
        f"named_struct('cs', CAST(0.0 AS DOUBLE), 'i', CAST(0 AS BIGINT), "
        f"{init_firsts}), "
        f"(s, x) -> named_struct("
        f"'cs', greatest(0.0D, s.cs + x - m - {_CUSUM_K}D), "
        f"'i', s.i + 1, {step_firsts}))"
    )
    per_user = v.select(fold.alias("st")).select(
        *[F.col(f"st.f{j}").alias(f"f{j}") for j in range(1, len(_ARL_HS) + 1)]
    )
    aggs = []
    for j, h in enumerate(_ARL_HS, 1):
        aggs += [
            F.count("*").cast("bigint").alias(f"nu{j}"),
            F.sum(F.when(F.col(f"f{j}") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias(f"na{j}"),
            F.sum(F.when(F.col(f"f{j}") > 0, F.col(f"f{j}")).otherwise(0))
            .cast("bigint")
            .alias(f"fs{j}"),
        ]
    wide = per_user.agg(*aggs)
    stacked = ", ".join(
        f"{h}D, nu{j}, na{j}, "
        f"round(CAST(na{j} AS DOUBLE) / nu{j}, 6), "
        f"round(CAST(fs{j} AS DOUBLE) / nullif(na{j}, 0), 6)"
        for j, h in enumerate(_ARL_HS, 1)
    )
    return wide.selectExpr(
        f"stack({len(_ARL_HS)}, {stacked}) AS "
        "(h, n_users, n_alarmed, pct_alarmed, avg_run_length)"
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
# agg_mann_kendall_trend
# ---------------------------------------------------------------------------


@query(
    "agg_mann_kendall_trend",
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
    pr AS (
      SELECT a.event_type,
             CAST(sum(CASE WHEN b.m > a.m THEN 1
                           WHEN b.m < a.m THEN -1 ELSE 0 END)
                  AS BIGINT) AS s_stat,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM s a JOIN s b
        ON a.event_type = b.event_type AND b.day > a.day
      GROUP BY a.event_type),
    nn AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nd FROM s
           GROUP BY event_type),
    ties AS (
      SELECT event_type,
             CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
               AS tie_term
      FROM (SELECT event_type, CAST(count(*) AS BIGINT) AS t
            FROM s GROUP BY event_type, m) z
      WHERE t > 1 GROUP BY event_type),
    v AS (
      SELECT nn.event_type, nn.nd, pr.s_stat, pr.n_pairs,
             (CAST(nn.nd AS DOUBLE) * (nn.nd - 1) * (2 * nn.nd + 5)
              - coalesce(t.tie_term, 0)) / 18.0 AS var_s
      FROM nn JOIN pr ON nn.event_type = pr.event_type
      LEFT JOIN ties t ON nn.event_type = t.event_type)
    SELECT event_type, nd AS n_days, s_stat, n_pairs,
           round(var_s, 6) AS var_s,
           round(CASE WHEN s_stat > 0
                      THEN (CAST(s_stat AS DOUBLE) - 1) / sqrt(var_s)
                      WHEN s_stat < 0
                      THEN (CAST(s_stat AS DOUBLE) + 1) / sqrt(var_s)
                      ELSE 0.0 END, 6) AS z_stat
    FROM v WHERE var_s > 0
    """,
)
def agg_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANN-KENDALL TREND TEST on the daily-mean value series per
    event type: S = sum of pairwise sign(later - earlier), its
    tie-corrected variance, and the continuity-corrected z statistic
    — the nonparametric "is there a monotone trend at all?"
    significance test that pairs with win_theil_sen_slope's slope
    ESTIMATE (the two are the classic Mann-Kendall/Sen duo) and with
    agg_autocorr_daily / agg_durbin_watson_daily on the same
    day-domain series.

    Scale shape: the fact table collapses to the DAY x TYPE domain
    once (map-side-combinable exact-cents pre-aggregate); the O(d²)
    pairwise sign sum is a self-join of that bounded domain
    (hundreds of days — never fact rows), and ties come from one
    more domain aggregate.

    Parity: daily means are the shared round(6) DECIMAL quantization,
    so every sign comparison is exact; S, pair counts, and tie terms
    are exact integers; variance and z assemble in shared-text DOUBLE
    (sqrt only), one round(6) each."""
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
    ).localCheckpoint()  # domain-bounded; referenced by 3 aggregates
    a = s.select("event_type", F.col("day").alias("da"), F.col("m").alias("ma"))
    b = s.select("event_type", F.col("day").alias("db"), F.col("m").alias("mb"))
    pr = (
        a.join(b, "event_type")
        .where(F.col("db") > F.col("da"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("mb") > F.col("ma"), 1)
                .when(F.col("mb") < F.col("ma"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s_stat"),
            F.count("*").cast("bigint").alias("n_pairs"),
        )
    )
    nn = s.groupBy("event_type").agg(F.count("*").cast("bigint").alias("nd"))
    ties = (
        s.groupBy("event_type", "m")
        .agg(F.count("*").cast("bigint").alias("t"))
        .where(F.col("t") > 1)
        .groupBy("event_type")
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tie_term")
        )
    )
    v = (
        nn.join(pr, "event_type")
        .join(ties, "event_type", "left")
        .selectExpr(
            "event_type",
            "nd",
            "s_stat",
            "n_pairs",
            "(CAST(nd AS DOUBLE) * (nd - 1) * (2 * nd + 5)"
            " - coalesce(tie_term, 0)) / 18.0 AS var_s",
        )
    )
    return v.where(F.col("var_s") > 0).selectExpr(
        "event_type",
        "nd AS n_days",
        "s_stat",
        "n_pairs",
        "round(var_s, 6) AS var_s",
        "round(CASE WHEN s_stat > 0"
        " THEN (CAST(s_stat AS DOUBLE) - 1) / sqrt(var_s)"
        " WHEN s_stat < 0 THEN (CAST(s_stat AS DOUBLE) + 1) / sqrt(var_s)"
        " ELSE 0.0 END, 6) AS z_stat",
    )


# ---------------------------------------------------------------------------
# agg_hurst_rs_exponent
# ---------------------------------------------------------------------------

# R/S block sizes over the 30-day fixture domain: 6 / 3 / 2 full
# blocks. The log-log regression runs over the three (ln n, ln R/S)
# points with quantized coordinates.
_HURST_NS = (5, 10, 15)


def _hurst_oracle() -> str:
    per_n = []
    for n in _HURST_NS:
        per_n.append(
            f"""blk{n} AS (
      SELECT (t - 1) // {n} AS b, m,
             CAST(round(CAST(sum(m) OVER (PARTITION BY (t - 1) // {n})
                             AS DOUBLE) / {n}, 6) AS DECIMAL(16,6)) AS mu,
             count(*) OVER (PARTITION BY (t - 1) // {n}) AS bc,
             sum(m) OVER (PARTITION BY (t - 1) // {n} ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm,
             CAST(row_number() OVER (PARTITION BY (t - 1) // {n}
               ORDER BY t) AS BIGINT) AS rn
      FROM idx),
    dev{n} AS (
      SELECT b, m - mu AS d, cm - rn * mu AS cum
      FROM blk{n} WHERE bc = {n}),
    rb{n} AS (
      SELECT b, max(cum) - min(cum) AS r,
             sum(CAST(d AS DECIMAL(19,6)) * d) AS ssd
      FROM dev{n} GROUP BY b),
    rs{n} AS (
      SELECT CAST(round(CAST(sum(CAST(round(
               CAST(r AS DOUBLE) / sqrt(CAST(ssd AS DOUBLE) / {n}), 9)
               AS DECIMAL(28,9))) AS DOUBLE) / count(*), 9)
               AS DECIMAL(28,9)) AS mrs
      FROM rb{n} WHERE CAST(ssd AS DOUBLE) > 0),
    pt{n} AS (
      SELECT round(ln(CAST({n} AS DOUBLE)), 9) AS x,
             round(ln(CAST(mrs AS DOUBLE)), 9) AS y,
             CAST(mrs AS DOUBLE) AS mrs
      FROM rs{n})"""
        )
    n1, n2, n3 = _HURST_NS
    blocks = ",\n    ".join(per_n)
    return f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(round(CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                             AS DOUBLE) / count(*) / 100.0, 6)
                  AS DECIMAL(16,6)) AS m
      FROM events GROUP BY 1),
    idx AS (
      SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t, m
      FROM daily),
    {blocks},
    pts AS (
      SELECT x, y, mrs, {n1} AS n FROM pt{n1}
      UNION ALL SELECT x, y, mrs, {n2} FROM pt{n2}
      UNION ALL SELECT x, y, mrs, {n3} FROM pt{n3}),
    mo AS (
      SELECT CAST(count(*) AS DOUBLE) AS k,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx,
             max(CASE WHEN n = {n1} THEN mrs END) AS m1,
             max(CASE WHEN n = {n2} THEN mrs END) AS m2,
             max(CASE WHEN n = {n3} THEN mrs END) AS m3
      FROM pts)
    SELECT CAST(k AS BIGINT) AS n_levels,
           round(m1, 6) AS rs_mean_{n1},
           round(m2, 6) AS rs_mean_{n2},
           round(m3, 6) AS rs_mean_{n3},
           round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6)
             AS hurst_exponent
    FROM mo
    """


@query("agg_hurst_rs_exponent", oracle=_hurst_oracle())
def agg_hurst_rs_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HURST EXPONENT of the daily-mean value series by rescaled-range
    (R/S) analysis: split the series into blocks of 5/10/15 days, per
    block compute the range of mean-centered cumulative deviations
    over the (biased) block std, and fit ln(R/S) against ln(n) — the
    long-memory diagnostic that separates trending/persistent series
    (H > 0.5, todays's surprises echo for weeks) from mean-reverting
    ones (H < 0.5). It answers the question agg_autocorr_daily's
    single lag cannot: whether dependence decays geometrically (ACF
    machinery suffices) or hyperbolically (every window statistic
    needs long-history context). Levels with zero block variance are
    excluded identically on both sides.

    Shape at 100 TB: the fact table collapses to the DAY domain once;
    the three block decompositions are windows PARTITIONED BY block id
    over that bounded domain (parallel across blocks, no global
    sort beyond the one domain-sized index); the regression runs on 3
    points. The cumulative deviation needs no second pass: with rn
    the in-block position, cum_dev = cum_sum(m) - rn * mu exactly
    (both engines share the identity).

    Parity: daily means and block means quantize round(6) into
    DECIMAL(16,6); deviations, cumulative deviations, and R are exact
    decimals; per-block R/S quantizes round(9) before the block mean
    (no fixed fold order exists), the level mean re-quantizes, and
    both regression coordinates quantize round(9) after their ln —
    the slope is one shared double expression over six quantized
    numbers, round(6)."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.expr(
            "CAST(round(CAST(sum(CAST(value * 100 + 0.5 AS BIGINT))"
            " AS DOUBLE) / count(*) / 100.0, 6) AS DECIMAL(16,6))"
        ).alias("m")
    )
    w_t = Window.orderBy("day")
    idx = daily.select(
        F.row_number().over(w_t).cast("bigint").alias("t"), "m"
    ).localCheckpoint()
    pts = None
    for n in _HURST_NS:
        wb = Window.partitionBy("b")
        wc = Window.partitionBy("b").orderBy("t").rowsBetween(
            Window.unboundedPreceding, 0
        )
        blk = idx.select(
            F.expr(f"(t - 1) div {n}").alias("b"), "t", "m"
        ).select(
            "b",
            "m",
            F.expr(
                f"CAST(round(CAST(sum(m) OVER (PARTITION BY b)"
                f" AS DOUBLE) / {n}, 6) AS DECIMAL(16,6))"
            ).alias("mu"),
            F.count("*").over(wb).alias("bc"),
            F.sum("m").over(wc).alias("cm"),
            F.row_number().over(
                Window.partitionBy("b").orderBy("t")
            ).cast("bigint").alias("rn"),
        )
        dev = blk.where(F.col("bc") == n).select(
            "b",
            (F.col("m") - F.col("mu")).alias("d"),
            (F.col("cm") - F.col("rn") * F.col("mu")).alias("cum"),
        )
        rb = dev.groupBy("b").agg(
            (F.max("cum") - F.min("cum")).alias("r"),
            F.sum(F.expr("CAST(d AS DECIMAL(19,6)) * d")).alias("ssd"),
        )
        rs = rb.where(F.expr("CAST(ssd AS DOUBLE) > 0")).agg(
            F.expr(
                f"CAST(round(CAST(sum(CAST(round(CAST(r AS DOUBLE)"
                f" / sqrt(CAST(ssd AS DOUBLE) / {n}), 9)"
                f" AS DECIMAL(28,9))) AS DOUBLE) / count(*), 9)"
                f" AS DECIMAL(28,9))"
            ).alias("mrs")
        )
        pt = rs.selectExpr(
            f"round(ln(CAST({n} AS DOUBLE)), 9) AS x",
            "round(ln(CAST(mrs AS DOUBLE)), 9) AS y",
            "CAST(mrs AS DOUBLE) AS mrs",
            f"CAST({n} AS BIGINT) AS n",
        )
        pts = pt if pts is None else pts.unionAll(pt)
    n1, n2, n3 = _HURST_NS
    mo = pts.agg(
        F.count("*").cast("double").alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.max(F.when(F.col("n") == n1, F.col("mrs"))).alias("m1"),
        F.max(F.when(F.col("n") == n2, F.col("mrs"))).alias("m2"),
        F.max(F.when(F.col("n") == n3, F.col("mrs"))).alias("m3"),
    )
    return mo.selectExpr(
        "CAST(k AS BIGINT) AS n_levels",
        f"round(m1, 6) AS rs_mean_{n1}",
        f"round(m2, 6) AS rs_mean_{n2}",
        f"round(m3, 6) AS rs_mean_{n3}",
        "round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6)"
        " AS hurst_exponent",
    )


# ---------------------------------------------------------------------------
# agg_turning_points_test
# ---------------------------------------------------------------------------


@query(
    "agg_turning_points_test",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(round(CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                             AS DOUBLE) / count(*) / 100.0, 6)
                  AS DECIMAL(16,6)) AS m
      FROM events GROUP BY 1),
    tri AS (
      SELECT m,
             lag(m) OVER (ORDER BY day) AS mp,
             lead(m) OVER (ORDER BY day) AS mn
      FROM daily),
    s AS (
      SELECT CAST(count(*) AS BIGINT) + 2 AS n,
             CAST(sum(CASE WHEN (mp < m AND m > mn)
                             OR (mp > m AND m < mn)
                           THEN 1 ELSE 0 END) AS BIGINT) AS tp
      FROM tri WHERE mp IS NOT NULL AND mn IS NOT NULL)
    SELECT n AS n_days, tp AS n_turning_points,
           round(CAST(2.0 AS DOUBLE) * (n - 2) / 3, 6) AS expected_tp,
           round((tp - 2.0 * (n - 2) / 3)
                 / sqrt((16.0 * n - 29) / 90), 6) AS tp_z
    FROM s
    """,
)
def agg_turning_points_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TURNING-POINTS TEST of randomness on the daily-mean series: a
    turning point is a strict local max or min; under an i.i.d. null
    their count is ~N(2(n-2)/3, (16n-29)/90), and too FEW turning
    points is the signature of trend/persistence that
    agg_runs_test_randomness (sign-based, needs a reference level)
    can miss while too MANY flags oscillatory noise. The ordinal
    companion to the runs test and the cheapest pre-check before
    fitting anything sequential (win_holt_linear, win_ewma_smooth).

    Shape at 100 TB: one map-side-combinable day-domain collapse,
    one lag/lead window over the bounded day series, a 1-row count.

    Parity: daily means are round(6)-quantized DECIMALs, so the
    strict inequalities compare exact decimals identically on both
    engines (interior ties produce no turning point on either);
    expected count and z are shared double expressions of exact
    integers, round(6)."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.expr(
            "CAST(round(CAST(sum(CAST(value * 100 + 0.5 AS BIGINT))"
            " AS DOUBLE) / count(*) / 100.0, 6) AS DECIMAL(16,6))"
        ).alias("m")
    )
    w = Window.orderBy("day")
    tri = daily.select(
        "m",
        F.lag("m").over(w).alias("mp"),
        F.lead("m").over(w).alias("mn"),
    )
    s = tri.where(
        F.col("mp").isNotNull() & F.col("mn").isNotNull()
    ).agg(
        (F.count("*") + 2).cast("bigint").alias("n"),
        F.sum(
            F.expr(
                "CASE WHEN (mp < m AND m > mn) OR (mp > m AND m < mn)"
                " THEN 1 ELSE 0 END"
            )
        )
        .cast("bigint")
        .alias("tp"),
    )
    return s.selectExpr(
        "n AS n_days",
        "tp AS n_turning_points",
        "round(CAST(2.0 AS DOUBLE) * (n - 2) / 3, 6) AS expected_tp",
        "round((tp - 2.0 * (n - 2) / 3)"
        " / sqrt((16.0 * n - 29) / 90), 6) AS tp_z",
    )


# ---------------------------------------------------------------------------
# agg_median_polish_grid
# ---------------------------------------------------------------------------

_POLISH_SWEEPS = 3

# Low-median pick (element at position (n+1) div 2 of the sorted
# values): with it, every intermediate in the polish stays an EXACT
# BIGINT cent — no averaged median ever divides, so there is no float
# parity surface at all. Tukey's procedure is defined up to the median
# convention; the low median is the standard integer-exact variant.
_SPARK_MED = (
    "element_at(sort_array(collect_list({c})),"
    " CAST((count({c}) + 1) div 2 AS INT))"
)
_DUCK_MED = "list_extract(list_sort(list({c})), (count({c}) + 1) // 2)"


def _polish_oracle() -> str:
    """Unrolled materialized-CTE twin of the 3-sweep polish loop.

    Every per-step CTE is AS MATERIALIZED (DuckDB inlines each CTE
    REFERENCE; z/re/ce/t are each referenced 2+ times per sweep, so an
    un-materialized unroll re-derives the whole upstream chain
    exponentially — the graph_kcore lesson).
    """
    steps = []
    s = 0
    for i in range(_POLISH_SWEEPS):
        m_v = _DUCK_MED.format(c="v")
        m_ce = _DUCK_MED.format(c="ce")
        m_re = _DUCK_MED.format(c="re")
        steps.append(
            f"""rd{i} AS MATERIALIZED (
      SELECT day, {m_v} AS m FROM z{s} GROUP BY day),
    z{s + 1} AS MATERIALIZED (
      SELECT z.day, z.typ, z.v - rd{i}.m AS v
      FROM z{s} z JOIN rd{i} USING (day)),
    re{s + 1} AS MATERIALIZED (
      SELECT r.day, r.re + rd{i}.m AS re
      FROM re{s} r JOIN rd{i} USING (day)),
    mc{i} AS MATERIALIZED (SELECT {m_ce} AS m FROM ce{s}),
    t{s + 1} AS MATERIALIZED (
      SELECT t.t + mc{i}.m AS t FROM t{s} t CROSS JOIN mc{i}),
    ce{s + 1} AS MATERIALIZED (
      SELECT c.typ, c.ce - mc{i}.m AS ce
      FROM ce{s} c CROSS JOIN mc{i}),
    cd{i} AS MATERIALIZED (
      SELECT typ, {m_v} AS m FROM z{s + 1} GROUP BY typ),
    z{s + 2} AS MATERIALIZED (
      SELECT z.day, z.typ, z.v - cd{i}.m AS v
      FROM z{s + 1} z JOIN cd{i} USING (typ)),
    ce{s + 2} AS MATERIALIZED (
      SELECT c.typ, c.ce + cd{i}.m AS ce
      FROM ce{s + 1} c JOIN cd{i} USING (typ)),
    mr{i} AS MATERIALIZED (SELECT {m_re} AS m FROM re{s + 1}),
    t{s + 2} AS MATERIALIZED (
      SELECT t.t + mr{i}.m AS t FROM t{s + 1} t CROSS JOIN mr{i}),
    re{s + 2} AS MATERIALIZED (
      SELECT r.day, r.re - mr{i}.m AS re
      FROM re{s + 1} r CROSS JOIN mr{i})"""
        )
        s += 2
    unrolled = ",\n    ".join(steps)
    return f"""
    WITH kk AS MATERIALIZED (
      SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS k
      FROM events),
    cell AS MATERIALIZED (
      SELECT CAST(ts AS DATE) AS day, event_type AS typ,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS tot
      FROM events GROUP BY 1, 2),
    fb AS MATERIALIZED (
      SELECT day FROM cell GROUP BY day
      HAVING count(*) = (SELECT k FROM kk)),
    z0 AS MATERIALIZED (
      SELECT c.day, c.typ, c.tot AS v
      FROM cell c JOIN fb USING (day)),
    re0 AS MATERIALIZED (
      SELECT day, CAST(0 AS BIGINT) AS re FROM fb),
    ce0 AS MATERIALIZED (
      SELECT DISTINCT typ, CAST(0 AS BIGINT) AS ce FROM z0),
    t0 AS MATERIALIZED (SELECT CAST(0 AS BIGINT) AS t),
    {unrolled}
    SELECT z.day, z.typ AS event_type,
           CAST(c.tot AS BIGINT) AS total_cents,
           CAST(t.t AS BIGINT) AS overall_cents,
           CAST(r.re AS BIGINT) AS row_effect_cents,
           CAST(e.ce AS BIGINT) AS col_effect_cents,
           CAST(z.v AS BIGINT) AS residual_cents
    FROM z{s} z
    JOIN re{s} r USING (day)
    JOIN ce{s} e USING (typ)
    JOIN cell c ON c.day = z.day AND c.typ = z.typ
    CROSS JOIN t{s} t
    """


@query("agg_median_polish_grid", oracle=_polish_oracle())
def agg_median_polish_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TUKEY MEDIAN POLISH of the day x event_type revenue grid:
    alternately sweep row (day) and column (type) low-medians out of
    the exact integer-cent cell totals for 3 full sweeps, maintaining
    the additive decomposition total = overall + day_effect +
    type_effect + residual as an invariant — the RESISTANT twin of
    win_seasonal_decompose_additive's mean-based decomposition (one
    wild day perturbs every mean-based component; a median sweep
    shrugs it off), and the classical preprocessing step before
    agg_friedman_test's rank decision. Residual cells are the
    two-way-adjusted anomalies: what a day x type cell did beyond its
    day and its type.

    Algorithm per sweep (R medpolish's schedule): subtract row
    medians (fold into day effects), re-center column effects by
    their median (fold into overall), subtract column medians (fold
    into type effects), re-center day effects by their median (fold
    into overall). LOW median throughout ((n+1) div 2-th sorted pick)
    so every quantity is an exact BIGINT cent forever — Tukey's
    procedure is defined up to the median convention, and the low
    median is the integer-exact variant (the averaged median would
    build 2^-12 dyadics over 12 median applications and force a
    quantization argument; here there is none).

    Shape at 100 TB: one groupBy(day, type) collapses the fact table
    to the 150-cell domain-bounded grid (map-side combined); the
    3-sweep loop then runs on a localCheckpointed 150-row frame —
    12 tiny keyed joins over checkpoint boundaries, so the final plan
    never re-derives the fact scan (the bounded-domain multi-reference
    rule). Loop count is FIXED (3), not data-dependent: no budget or
    convergence raise is needed.

    Parity: cells are CAST(ts AS DATE) x exact BIGINT cents; every
    median is a deterministic sorted pick ((n+1) div 2, INT-cast for
    element_at); all arithmetic is integer add/subtract — the oracle
    unrolls the identical 12 steps as MATERIALIZED CTEs.
    """
    cell, z, re, ce, t = _polish_frames(spark, sf_dir)
    return (
        z.join(re, "day")
        .join(F.broadcast(ce), "typ")
        .join(
            cell.select("day", "typ", "tot"),
            ["day", "typ"],
        )
        .crossJoin(F.broadcast(t))
        .select(
            "day",
            F.col("typ").alias("event_type"),
            F.col("tot").cast("bigint").alias("total_cents"),
            F.col("t").cast("bigint").alias("overall_cents"),
            F.col("re").cast("bigint").alias("row_effect_cents"),
            F.col("ce").cast("bigint").alias("col_effect_cents"),
            F.col("v").cast("bigint").alias("residual_cents"),
        )
    )


# the 3-sweep loop localCheckpoints 12+ domain-bounded frames — every
# ckpt is an EAGER Spark job at DataFrame-BUILD time, so re-running the
# loop per build cost ~2.7 s/call in the per-op audit (the r13
# ckpt-inside-op-body lesson). The polished quadruple is bounded (the
# ~150-cell day x type grid), so it session-caches like the other
# stored-artifact frames.
@session_artifact
def _polish_frames(spark: SparkSession, sf_dir: str):
    ev = table(spark, sf_dir, "events")
    cell = ev.groupBy(
        F.col("ts").cast("date").alias("day"),
        F.col("event_type").alias("typ"),
    ).agg(
        F.sum(F.expr("CAST(value * 100 + 0.5 AS BIGINT)"))
        .cast("bigint")
        .alias("tot")
    )
    kk = ev.agg(F.countDistinct("event_type").cast("bigint").alias("k"))
    fb = (
        cell.groupBy("day")
        .agg(F.count("*").alias("ntypes"))
        .crossJoin(F.broadcast(kk))
        .where(F.col("ntypes") == F.col("k"))
        .select("day")
    )
    cell = cell.join(F.broadcast(fb), "day").localCheckpoint()

    z = cell.select("day", "typ", F.col("tot").alias("v"))
    re = cell.select("day").distinct().select(
        "day", F.lit(0).cast("bigint").alias("re")
    )
    ce = cell.select("typ").distinct().select(
        "typ", F.lit(0).cast("bigint").alias("ce")
    )
    t = spark.range(1).select(F.lit(0).cast("bigint").alias("t"))

    med_v = _SPARK_MED.format(c="v")
    med_ce = _SPARK_MED.format(c="ce")
    med_re = _SPARK_MED.format(c="re")
    for _ in range(_POLISH_SWEEPS):
        rd = z.groupBy("day").agg(F.expr(med_v).alias("m")).localCheckpoint()
        z = z.join(rd, "day").select(
            "day", "typ", (F.col("v") - F.col("m")).alias("v")
        )
        re = re.join(rd, "day").select(
            "day", (F.col("re") + F.col("m")).alias("re")
        )
        mc = ce.agg(F.expr(med_ce).alias("m")).localCheckpoint()
        t = t.crossJoin(F.broadcast(mc)).select(
            (F.col("t") + F.col("m")).alias("t")
        )
        ce = ce.crossJoin(F.broadcast(mc)).select(
            "typ", (F.col("ce") - F.col("m")).alias("ce")
        )
        cd = z.groupBy("typ").agg(F.expr(med_v).alias("m")).localCheckpoint()
        z = z.join(cd, "typ").select(
            "day", "typ", (F.col("v") - F.col("m")).alias("v")
        )
        ce = ce.join(cd, "typ").select(
            "typ", (F.col("ce") + F.col("m")).alias("ce")
        )
        mr = re.agg(F.expr(med_re).alias("m")).localCheckpoint()
        t = t.crossJoin(F.broadcast(mr)).select(
            (F.col("t") + F.col("m")).alias("t")
        )
        re = re.crossJoin(F.broadcast(mr)).select(
            "day", (F.col("re") - F.col("m")).alias("re")
        )
        z = z.localCheckpoint()
        re = re.localCheckpoint()
        ce = ce.localCheckpoint()
        t = t.localCheckpoint()

    return cell, z, re, ce, t


# ---------------------------------------------------------------------------
# agg_ljung_box_test
# ---------------------------------------------------------------------------


@query(
    "agg_ljung_box_test",
    oracle="""
    WITH daily AS MATERIALIZED (
      SELECT event_type,
             CAST(ts AS DATE) AS day,
             CAST(round(CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                             AS DOUBLE) / count(*) / 100.0, 6)
                  AS DECIMAL(18,6)) AS m
      FROM events GROUP BY 1, 2),
    st0 AS MATERIALIZED (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(m) AS DOUBLE) / count(*) AS xbar
      FROM daily GROUP BY event_type),
    dev AS MATERIALIZED (
      SELECT d.event_type,
             CAST(row_number() OVER (PARTITION BY d.event_type
                                     ORDER BY d.day) AS BIGINT) AS t,
             CAST(d.m AS DOUBLE) - s.xbar AS dx
      FROM daily d JOIN st0 s USING (event_type)),
    den AS MATERIALIZED (
      SELECT event_type,
             CAST(sum(CAST(round(dx * dx, 9) AS DECIMAL(28,9)))
                  AS DECIMAL(38,9)) AS den
      FROM dev GROUP BY event_type),
    lags AS (SELECT CAST(unnest(generate_series(1, 7)) AS BIGINT) AS k),
    num AS MATERIALIZED (
      SELECT a.event_type, l.k,
             CAST(sum(CAST(round(a.dx * b.dx, 9) AS DECIMAL(28,9)))
                  AS DECIMAL(38,9)) AS num
      FROM dev a
      CROSS JOIN lags l
      JOIN dev b ON b.event_type = a.event_type AND b.t = a.t - l.k
      GROUP BY 1, 2),
    rho AS MATERIALIZED (
      SELECT n.event_type, n.k,
             round(CAST(n.num AS DOUBLE) / CAST(d.den AS DOUBLE), 9)
               AS rho
      FROM num n JOIN den d USING (event_type)),
    terms AS (
      SELECT r.event_type, r.k, r.rho, s.n,
             CAST(round(r.rho * r.rho / (s.n - r.k), 12)
                  AS DECIMAL(28,12)) AS term
      FROM rho r JOIN st0 s USING (event_type))
    SELECT event_type, k AS lag, n AS n_days,
           round(rho, 6) AS acf,
           round(n * (n + 2.0)
                 * CAST(sum(term) OVER (PARTITION BY event_type
                                        ORDER BY k) AS DOUBLE), 6)
             AS q_stat
    FROM terms
    """,
)
def agg_ljung_box_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LJUNG-BOX PORTMANTEAU TEST per event type: autocorrelations of
    the daily-mean series at lags 1-7 and the cumulative Q statistic
    Q(h) = n(n+2) sum_{k<=h} rho_k^2/(n-k) — the whiteness test that
    closes the Box-Jenkins ladder (agg_autocorr_daily reads ONE lag,
    win_pacf_durbin_levinson reads the partial structure; Q asks the
    decision question "is there ANY linear memory through lag h",
    chi^2(h) under the null). A full week of lags means the test sees
    the weekly cycle win_seasonal_decompose_additive removes.

    Unlike agg_autocorr_daily's per-lag Pearson, these are the acf
    estimates the Q statistic is defined on: deviations from the ONE
    full-series mean, denominator summed over all n days.

    Shape at 100 TB: one groupBy(type, day) collapses the fact table
    to the bounded day x type domain; the lag pairs are a 7-way
    bounded self-join on the integer day index; the cumulative Q is a
    7-row-per-type window. Nothing after the first aggregate is
    row-scaled.

    Parity: daily means quantize round(6) into DECIMAL(18,6); each
    deviation product quantizes round(9) into DECIMAL before the
    order-independent sum (the dynamic-BM25 discipline); rho
    quantizes round(9); each Q term quantizes round(12) into DECIMAL
    so the cumulative window sum is exact; Q renders once, round(6).
    """
    ev = table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type", F.col("ts").cast("date").alias("day")
        )
        .agg(
            F.sum(F.expr("CAST(value * 100 + 0.5 AS BIGINT)")).alias("cents"),
            F.count("*").alias("cnt"),
        )
        .select(
            "event_type",
            "day",
            F.expr(
                "CAST(round(CAST(cents AS DOUBLE) / cnt / 100.0, 6)"
                " AS DECIMAL(18,6))"
            ).alias("m"),
        )
        .localCheckpoint()
    )
    st0 = daily.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.expr("CAST(sum(m) AS DOUBLE) / count(*)").alias("xbar"),
    ).localCheckpoint()
    w_t = Window.partitionBy("event_type").orderBy("day")
    dev = (
        daily.join(F.broadcast(st0), "event_type")
        .select(
            "event_type",
            F.row_number().over(w_t).cast("bigint").alias("t"),
            (F.col("m").cast("double") - F.col("xbar")).alias("dx"),
        )
        .localCheckpoint()
    )
    den = dev.groupBy("event_type").agg(
        F.sum(F.expr("CAST(round(dx * dx, 9) AS DECIMAL(28,9))"))
        .cast("decimal(38,9)")
        .alias("den")
    )
    lags = spark.range(1, 8).select(F.col("id").alias("k"))
    b = dev.select(
        "event_type", F.col("t").alias("tb"), F.col("dx").alias("dy")
    )
    num = (
        dev.crossJoin(F.broadcast(lags))
        .withColumn("tb", F.col("t") - F.col("k"))
        .join(b, ["event_type", "tb"])
        .groupBy("event_type", "k")
        .agg(
            F.sum(F.expr("CAST(round(dx * dy, 9) AS DECIMAL(28,9))"))
            .cast("decimal(38,9)")
            .alias("num")
        )
    )
    rho = num.join(F.broadcast(den), "event_type").select(
        "event_type",
        "k",
        F.expr("round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 9)").alias(
            "rho"
        ),
    )
    terms = rho.join(F.broadcast(st0), "event_type").select(
        "event_type",
        "k",
        "rho",
        "n",
        F.expr(
            "CAST(round(rho * rho / (n - k), 12) AS DECIMAL(28,12))"
        ).alias("term"),
    )
    w_q = Window.partitionBy("event_type").orderBy("k")
    return terms.select(
        "event_type",
        F.col("k").alias("lag"),
        F.col("n").alias("n_days"),
        F.round(F.col("rho"), 6).alias("acf"),
        F.expr(
            "round(n * (n + 2.0) * CAST(sum(term) OVER (PARTITION BY"
            " event_type ORDER BY k) AS DOUBLE), 6)"
        ).alias("q_stat"),
    )


# ---------------------------------------------------------------------------
# agg_variance_ratio_test
# ---------------------------------------------------------------------------


@query(
    "agg_variance_ratio_test",
    oracle="""
    WITH daily AS MATERIALIZED (
      SELECT CAST(ts AS DATE) AS day,
             CAST(round(CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                             AS DOUBLE) / count(*) / 100.0, 6)
                  AS DECIMAL(16,6)) AS m
      FROM events GROUP BY 1),
    idx AS MATERIALIZED (
      SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t, m
      FROM daily),
    d AS MATERIALIZED (
      SELECT a.t, a.m - b.m AS d
      FROM idx a JOIN idx b ON b.t = a.t - 1),
    mu AS MATERIALIZED (
      SELECT CAST(count(*) AS BIGINT) AS nd,
             CAST(sum(d) AS DOUBLE) / count(*) AS mu
      FROM d),
    v1 AS MATERIALIZED (
      SELECT CAST(sum(CAST(round((CAST(d.d AS DOUBLE) - mu.mu)
                                 * (CAST(d.d AS DOUBLE) - mu.mu), 9)
                          AS DECIMAL(28,9))) AS DECIMAL(38,9)) AS s1
      FROM d CROSS JOIN mu),
    qs AS (SELECT CAST(unnest(generate_series(2, 5)) AS BIGINT) AS q),
    wins AS MATERIALIZED (
      SELECT qs.q,
             CAST(count(*) AS BIGINT) AS nw,
             CAST(sum(CAST(round((CAST(a.m - b.m AS DOUBLE) - qs.q * mu.mu)
                                 * (CAST(a.m - b.m AS DOUBLE) - qs.q * mu.mu),
                                 9) AS DECIMAL(28,9))) AS DECIMAL(38,9))
               AS sq
      FROM qs
      JOIN idx a ON TRUE
      JOIN idx b ON b.t = a.t - qs.q
      CROSS JOIN mu
      GROUP BY qs.q)
    SELECT w.q, w.nw AS n_windows, m.nd AS n_diffs,
           round((CAST(w.sq AS DOUBLE) / (w.q * w.nw))
                 / (CAST(v.s1 AS DOUBLE) / (m.nd - 1)), 6) AS vr,
           round(((CAST(w.sq AS DOUBLE) / (w.q * w.nw))
                  / (CAST(v.s1 AS DOUBLE) / (m.nd - 1)) - 1.0)
                 / sqrt(CAST(2 * (2 * w.q - 1) * (w.q - 1) AS DOUBLE)
                        / (3 * w.q * m.nd)), 6) AS z_stat
    FROM wins w CROSS JOIN v1 v CROSS JOIN mu m
    """,
)
def agg_variance_ratio_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LO-MACKINLAY VARIANCE RATIO TEST of the daily-mean value
    series: VR(q) = Var[q-day overlapping increments]/(q Var[1-day
    increments]) for q = 2..5 — the random-walk diagnostic that reads
    the SIGN of memory (VR < 1 mean reversion, VR > 1 trending), the
    model-based companion to agg_hurst_rs_exponent (VR(q) ~ q^(2H-1)
    under fractional noise) and the aggregate answer to what
    agg_ljung_box_test tests lag-by-lag. z is the homoskedastic
    asymptotic statistic (VR-1)/sqrt(2(2q-1)(q-1)/(3qn)).

    The q-day increments telescope to m_t - m_{t-q}, so no window sum
    is ever formed: each VR(q) is one bounded self-join at lag q on
    the day index.

    Shape at 100 TB: the fact table collapses to the day domain in
    one map-side-combinable aggregate; diffs, the 4 lag joins, and
    the moments all live on that bounded domain. The 1-row (nd, mu)
    frame is localCheckpoint-materialized because the variance pass
    and all window passes reference it (the 1-row re-derivation
    rule).

    Parity: daily means quantize round(6) into DECIMAL(16,6); both
    increments are exact decimal differences; every squared deviation
    quantizes round(9) into DECIMAL before its order-independent sum;
    VR and z are shared double expressions over the exact sums,
    round(6)."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.expr("CAST(value * 100 + 0.5 AS BIGINT)")).alias("cents"),
        F.count("*").alias("cnt"),
    )
    idx = daily.select(
        F.row_number().over(Window.orderBy("day")).cast("bigint").alias("t"),
        F.expr(
            "CAST(round(CAST(cents AS DOUBLE) / cnt / 100.0, 6)"
            " AS DECIMAL(16,6))"
        ).alias("m"),
    ).localCheckpoint()
    b = idx.select(F.col("t").alias("tb"), F.col("m").alias("mb"))
    d = (
        idx.withColumn("tb", F.col("t") - 1)
        .join(b, "tb")
        .select((F.col("m") - F.col("mb")).alias("d"))
    )
    mu = d.agg(
        F.count("*").cast("bigint").alias("nd"),
        F.expr("CAST(sum(d) AS DOUBLE) / count(*)").alias("mu"),
    ).localCheckpoint()
    v1 = d.crossJoin(F.broadcast(mu)).agg(
        F.sum(
            F.expr(
                "CAST(round((CAST(d AS DOUBLE) - mu)"
                " * (CAST(d AS DOUBLE) - mu), 9) AS DECIMAL(28,9))"
            )
        )
        .cast("decimal(38,9)")
        .alias("s1")
    )
    qs = spark.range(2, 6).select(F.col("id").alias("q"))
    wins = (
        idx.crossJoin(F.broadcast(qs))
        .withColumn("tb", F.col("t") - F.col("q"))
        .join(b, "tb")
        .crossJoin(F.broadcast(mu))
        .groupBy("q")
        .agg(
            F.count("*").cast("bigint").alias("nw"),
            F.sum(
                F.expr(
                    "CAST(round((CAST(m - mb AS DOUBLE) - q * mu)"
                    " * (CAST(m - mb AS DOUBLE) - q * mu), 9)"
                    " AS DECIMAL(28,9))"
                )
            )
            .cast("decimal(38,9)")
            .alias("sq"),
        )
    )
    return (
        wins.crossJoin(F.broadcast(v1))
        .crossJoin(F.broadcast(mu))
        .selectExpr(
            "q",
            "nw AS n_windows",
            "nd AS n_diffs",
            "round((CAST(sq AS DOUBLE) / (q * nw))"
            " / (CAST(s1 AS DOUBLE) / (nd - 1)), 6) AS vr",
            "round(((CAST(sq AS DOUBLE) / (q * nw))"
            " / (CAST(s1 AS DOUBLE) / (nd - 1)) - 1.0)"
            " / sqrt(CAST(2 * (2 * q - 1) * (q - 1) AS DOUBLE)"
            " / (3 * q * nd)), 6) AS z_stat",
        )
    )


# ---------------------------------------------------------------------------
# agg_scan_statistic_daily
# ---------------------------------------------------------------------------


@query(
    "agg_scan_statistic_daily",
    oracle="""
    WITH daily AS MATERIALIZED (
      SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1),
    idx AS MATERIALIZED (
      SELECT day, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t, c
      FROM daily),
    pre AS MATERIALIZED (
      SELECT t, day, CAST(sum(c) OVER (ORDER BY t) AS BIGINT) AS p
      FROM idx
      UNION ALL
      SELECT CAST(0 AS BIGINT), CAST('1900-01-01' AS DATE),
             CAST(0 AS BIGINT)),
    tot AS MATERIALIZED (
      SELECT max(p) AS n, max(t) AS d FROM pre),
    win AS MATERIALIZED (
      SELECT a.t + 1 AS s, b.t AS t, b.p - a.p AS c,
             b.t - a.t AS w, tot.n, tot.d
      FROM pre a JOIN pre b
        ON b.t > a.t AND b.t - a.t <= 7
      CROSS JOIN tot
      WHERE a.t < (SELECT max(t) FROM pre)),
    scored AS (
      SELECT s, t, c, w, n,
             CAST(n AS DOUBLE) * w / d AS e,
             round(c * ln(c * CAST(d AS DOUBLE) / (n * w))
                   + (n - c) * ln((CAST(n AS DOUBLE) - c)
                                  / (n - CAST(n AS DOUBLE) * w / d)), 9)
               AS llr
      FROM win
      WHERE c * d > n * w AND c < n AND c > 0)
    SELECT i1.day AS start_day, i2.day AS end_day, sc.w AS width_days,
           sc.c AS observed, round(sc.e, 6) AS expected,
           round(sc.llr, 6) AS llr
    FROM scored sc
    JOIN idx i1 ON i1.t = sc.s
    JOIN idx i2 ON i2.t = sc.t
    ORDER BY sc.llr DESC, sc.s, sc.t LIMIT 5
    """,
)
def agg_scan_statistic_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KULLDORFF TEMPORAL SCAN STATISTIC over daily event counts: for
    every day window of width 1-7, the Poisson log-likelihood ratio
    of "this window's rate differs from the rest" vs uniform —
    LLR = c ln(c/e) + (N-c) ln((N-c)/(N-e)), e = N·w/D — reported for
    the top-5 HIGH windows (c > e). The burst localizer that
    completes the anomaly ladder: win_stl_anomaly_flags flags single
    days net of seasonality, win_cusum_changepoint detects a
    persistent shift, the scan statistic finds the most anomalous
    INTERVAL with a likelihood-ratio score that is comparable across
    window widths (raw z-scores are not).

    Shape at 100 TB: one groupBy(day) count collapses the fact table
    to the day domain; windows are the bounded width-limited prefix
    pair grid (< 7·D rows); top-5 is orderBy+limit. Nothing after the
    first aggregate is row-scaled.

    Parity: window counts are exact BIGINT prefix differences; the
    LLR is one shared double expression of exact integers (the two ln
    terms carry cross-libm drift ~1e-16 relative, orders below the
    round(9) quantization quantum — and inter-window LLR gaps on
    every fixture are >> 1e-9, so the quantized ORDER BY cannot flip;
    the agg_theil_index boundary argument); output rounds once more
    at 6."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count("*").cast("bigint").alias("c")
    )
    idx = daily.select(
        "day",
        F.row_number().over(Window.orderBy("day")).cast("bigint").alias("t"),
        "c",
    ).localCheckpoint()
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    pre = (
        idx.select(
            "t", "day", F.sum("c").over(w_cum).cast("bigint").alias("p")
        )
        .unionAll(
            spark.range(1).select(
                F.lit(0).cast("bigint").alias("t"),
                F.lit("1900-01-01").cast("date").alias("day"),
                F.lit(0).cast("bigint").alias("p"),
            )
        )
        .localCheckpoint()
    )
    tot = pre.agg(
        F.max("p").alias("n"), F.max("t").alias("d")
    ).localCheckpoint()
    a = pre.select(F.col("t").alias("ta"), F.col("p").alias("pa"))
    b = pre.select(F.col("t").alias("tb"), F.col("p").alias("pb"))
    win = (
        a.join(
            b,
            (F.col("tb") > F.col("ta"))
            & (F.col("tb") - F.col("ta") <= 7),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            (F.col("ta") + 1).alias("s"),
            F.col("tb").alias("t"),
            (F.col("pb") - F.col("pa")).alias("c"),
            (F.col("tb") - F.col("ta")).alias("w"),
            "n",
            "d",
        )
    )
    scored = win.where(
        (F.col("c") * F.col("d") > F.col("n") * F.col("w"))
        & (F.col("c") < F.col("n"))
        & (F.col("c") > 0)
    ).selectExpr(
        "s",
        "t",
        "c",
        "w",
        "CAST(n AS DOUBLE) * w / d AS e",
        "round(c * ln(c * CAST(d AS DOUBLE) / (n * w))"
        " + (n - c) * ln((CAST(n AS DOUBLE) - c)"
        " / (n - CAST(n AS DOUBLE) * w / d)), 9) AS llr",
    )
    i1 = idx.select(F.col("t").alias("s"), F.col("day").alias("start_day"))
    i2 = idx.select(F.col("t").alias("t"), F.col("day").alias("end_day"))
    return (
        scored.join(F.broadcast(i1), "s")
        .join(F.broadcast(i2), "t")
        .orderBy(F.col("llr").desc(), "s", "t")
        .limit(5)
        .select(
            "start_day",
            "end_day",
            F.col("w").alias("width_days"),
            F.col("c").alias("observed"),
            F.round("e", 6).alias("expected"),
            F.round("llr", 6).alias("llr"),
        )
    )


# ---------------------------------------------------------------------------
# agg_dtw_band_distance
# ---------------------------------------------------------------------------

_DTW_INF = "CAST(1e18 AS DOUBLE)"


def _dtw_step_exprs(ps: str, pe: str):
    """Render the 5 banded-DTW cell updates for one row advance.

    State c1..c5 = D(i, i-2..i+2); element costs cost1..cost5 =
    |x_i - y_{i+k-3}| (NULL when j is out of [1, n]). Cell update:
    D(i,j) = cost + min(D(i-1,j) [up = c_{k+1}], D(i-1,j-1)
    [ul = c_k], D(i,j-1) [left = this row's c_{k-1}, expanded
    textually]). ps/pe: state / element reference prefixes.
    """
    new = {}
    for k in range(1, 6):
        up = f"{ps}c{k + 1}" if k < 5 else _DTW_INF
        ul = f"{ps}c{k}"
        left = new[k - 1] if k > 1 else _DTW_INF
        new[k] = (
            f"(CASE WHEN {pe}cost{k} IS NULL THEN {_DTW_INF}"
            f" ELSE {pe}cost{k} + least({up}, {ul}, {left}) END)"
        )
    return new


def _dtw_oracle() -> str:
    new = _dtw_step_exprs("h.", "s.")
    cols = ",\n             ".join(f"{new[k]} AS c{k}" for k in range(1, 6))
    cost_cols = ",\n             ".join(
        f"CASE WHEN x.t + {k - 3} BETWEEN 1 AND nn.n THEN"
        f" abs(CAST(x.m - y{k}.m AS DOUBLE)) END AS cost{k}"
        for k in range(1, 6)
    )
    cost_joins = "\n      ".join(
        f"LEFT JOIN yy y{k} ON y{k}.t = x.t + {k - 3}"
        for k in range(1, 6)
    )
    return f"""
    WITH RECURSIVE daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(round(CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                             AS DOUBLE) / count(*) / 100.0, 6)
                  AS DECIMAL(16,6)) AS m
      FROM events WHERE event_type IN ('click', 'view')
      GROUP BY 1, 2),
    xx AS MATERIALIZED (
      SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t, m
      FROM daily WHERE event_type = 'click'),
    yy AS MATERIALIZED (
      SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t, m
      FROM daily WHERE event_type = 'view'),
    nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM xx),
    seq AS MATERIALIZED (
      SELECT x.t AS i,
             {cost_cols}
      FROM xx x CROSS JOIN nn
      {cost_joins}),
    h AS (
      SELECT CAST(1 AS BIGINT) AS i,
             {_DTW_INF} AS c1, {_DTW_INF} AS c2,
             cost3 AS c3, cost3 + cost4 AS c4,
             cost3 + cost4 + cost5 AS c5
      FROM seq WHERE i = 1
      UNION ALL
      SELECT h.i + 1,
             {cols}
      FROM h JOIN seq s ON s.i = h.i + 1),
    fin AS MATERIALIZED (
      SELECT h.c3 AS dtw FROM h CROSS JOIN nn WHERE h.i = nn.n),
    diag AS (
      SELECT CAST(sum(CAST(round(abs(CAST(x.m - y.m AS DOUBLE)), 9)
                           AS DECIMAL(28,9))) AS DECIMAL(38,9)) AS l1
      FROM xx x JOIN yy y ON x.t = y.t)
    SELECT nn.n AS n_days,
           round(fin.dtw, 6) AS dtw_distance,
           round(CAST(diag.l1 AS DOUBLE), 6) AS diagonal_l1,
           round((CAST(diag.l1 AS DOUBLE) - fin.dtw)
                 / CAST(diag.l1 AS DOUBLE), 6) AS warp_gain
    FROM fin CROSS JOIN diag CROSS JOIN nn
    """


@query("agg_dtw_band_distance", oracle=_dtw_oracle())
def agg_dtw_band_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAKOE-CHIBA-BANDED DYNAMIC TIME WARPING (band r=2, L1 cell
    cost) between the click and view daily-mean series: the minimal
    cumulative |x_i - y_j| over monotone alignments whose warp never
    strays more than 2 days off the diagonal — the ALIGNMENT distance
    that win_cross_correlation_lags's single best lag approximates
    with one rigid shift (DTW warps locally: view can lead by 2 days
    in week 1 and lag by 1 in week 3). warp_gain = (L1 - DTW)/L1
    reads how much of the rigid-alignment distance warping explains.

    The banded DP folds as a 5-cell anti-band struct: state c_k =
    D(i, i+k-3), one named_struct fold step per day (the Holt-Winters
    9-field fold machinery, re-used for a DP recurrence) — within-row
    left-dependencies expand textually, so the whole row advance is
    ONE expression on both engines. Out-of-band cells are an explicit
    1e18 infinity.

    Shape at 100 TB: the fact table collapses to the day domain; the
    fold is one bounded JVM-side aggregate() — no UDF, no loop. (At
    row-scaled series lengths the anti-diagonal wavefront would
    distribute; on a bounded domain the fold IS the fast path.)

    Parity: daily means quantize round(6) into DECIMAL(16,6); cell
    costs are |exact decimal| cast to double; the fold performs
    IDENTICAL IEEE add/min sequences on both engines (the
    win_holt_linear bit-exactness argument — the DuckDB twin steps
    the same expressions through a RECURSIVE CTE); the diagonal L1
    sum quantizes round(9) per term; round(6) lands at output."""
    ev = table(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("event_type").isin("click", "view"))
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(F.expr("CAST(value * 100 + 0.5 AS BIGINT)")).alias(
                "cents"
            ),
            F.count("*").alias("cnt"),
        )
        .select(
            "event_type",
            "day",
            F.expr(
                "CAST(round(CAST(cents AS DOUBLE) / cnt / 100.0, 6)"
                " AS DECIMAL(16,6))"
            ).alias("m"),
        )
        .localCheckpoint()
    )
    w_d = Window.orderBy("day")
    xx = daily.where(F.col("event_type") == "click").select(
        F.row_number().over(w_d).cast("bigint").alias("t"),
        F.col("m").alias("mx"),
    ).localCheckpoint()
    yy = daily.where(F.col("event_type") == "view").select(
        F.row_number().over(w_d).cast("bigint").alias("t"),
        F.col("m").alias("my"),
    ).localCheckpoint()
    nn = xx.agg(F.count("*").cast("bigint").alias("n")).localCheckpoint()
    seq = xx.crossJoin(F.broadcast(nn))
    for k in range(1, 6):
        yk = yy.select(
            (F.col("t") - (k - 3)).alias("t"), F.col("my").alias(f"y{k}")
        )
        seq = seq.join(yk, "t", "left")
    seq = seq.select(
        F.col("t").alias("i"),
        *[
            F.expr(
                f"CASE WHEN t + {k - 3} BETWEEN 1 AND n THEN"
                f" abs(CAST(mx - y{k} AS DOUBLE)) END"
            ).alias(f"cost{k}")
            for k in range(1, 6)
        ],
    ).localCheckpoint()
    arr = seq.where(F.col("i") >= 2).agg(
        F.sort_array(
            F.collect_list(
                F.struct("i", "cost1", "cost2", "cost3", "cost4", "cost5")
            )
        ).alias("vals")
    )
    init = seq.where(F.col("i") == 1)
    new = _dtw_step_exprs("s.", "e.")
    fold = F.expr(
        "aggregate(vals, named_struct("
        f"'c1', {_DTW_INF}, 'c2', {_DTW_INF}, "
        "'c3', CAST(cost3 AS DOUBLE), "
        "'c4', CAST(cost3 + cost4 AS DOUBLE), "
        "'c5', CAST(cost3 + cost4 + cost5 AS DOUBLE)), "
        "(s, e) -> named_struct("
        + ", ".join(f"'c{k}', {new[k]}" for k in range(1, 6))
        + "))"
    )
    fin = init.crossJoin(F.broadcast(arr)).select(fold.alias("st"))
    diag = (
        xx.join(yy, "t")
        .agg(
            F.sum(
                F.expr(
                    "CAST(round(abs(CAST(mx - my AS DOUBLE)), 9)"
                    " AS DECIMAL(28,9))"
                )
            )
            .cast("decimal(38,9)")
            .alias("l1")
        )
    )
    return (
        fin.crossJoin(F.broadcast(diag))
        .crossJoin(F.broadcast(nn))
        .selectExpr(
            "n AS n_days",
            "round(st.c3, 6) AS dtw_distance",
            "round(CAST(l1 AS DOUBLE), 6) AS diagonal_l1",
            "round((CAST(l1 AS DOUBLE) - st.c3)"
            " / CAST(l1 AS DOUBLE), 6) AS warp_gain",
        )
    )


# ---------------------------------------------------------------------------
# agg_granger_causality_1lag
# ---------------------------------------------------------------------------


@query(
    "agg_granger_causality_1lag",
    oracle="""
    WITH daily AS MATERIALIZED (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(round(CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                             AS DOUBLE) / count(*) / 100.0, 6)
                  AS DECIMAL(16,6)) AS m
      FROM events WHERE event_type IN ('click', 'view')
      GROUP BY 1, 2),
    w AS MATERIALIZED (
      SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
             max(CASE WHEN event_type = 'click' THEN m END) AS c,
             max(CASE WHEN event_type = 'view' THEN m END) AS v
      FROM daily GROUP BY day HAVING count(*) = 2),
    tri AS MATERIALIZED (
      SELECT a.c AS y, b.c AS x, b.v AS z
      FROM w a JOIN w b ON b.t = a.t - 1),
    mo AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS DOUBLE) AS sy, CAST(sum(x) AS DOUBLE) AS sx,
             CAST(sum(z) AS DOUBLE) AS sz,
             CAST(sum(CAST(y AS DECIMAL(19,6)) * y) AS DOUBLE) AS syy,
             CAST(sum(CAST(x AS DECIMAL(19,6)) * x) AS DOUBLE) AS sxx,
             CAST(sum(CAST(z AS DECIMAL(19,6)) * z) AS DOUBLE) AS szz,
             CAST(sum(CAST(x AS DECIMAL(19,6)) * y) AS DOUBLE) AS sxy,
             CAST(sum(CAST(x AS DECIMAL(19,6)) * z) AS DOUBLE) AS sxz,
             CAST(sum(CAST(y AS DECIMAL(19,6)) * z) AS DOUBLE) AS syz
      FROM tri),
    cen AS (
      SELECT n,
             round(n*syy - sy*sy, 9) AS cyy,
             round(n*sxx - sx*sx, 9) AS cxx,
             round(n*szz - sz*sz, 9) AS czz,
             round(n*sxy - sx*sy, 9) AS cxy,
             round(n*sxz - sx*sz, 9) AS cxz,
             round(n*syz - sy*sz, 9) AS cyz
      FROM mo),
    rss AS (
      SELECT n,
             cyy - cxy * cxy / cxx AS rss_r,
             cyy - ((cxy * czz - cyz * cxz) * cxy
                    + (cyz * cxx - cxy * cxz) * cyz)
                   / (cxx * czz - cxz * cxz) AS rss_f
      FROM cen)
    SELECT n AS n_obs,
           round(rss_r / n, 6) AS rss_restricted,
           round(rss_f / n, 6) AS rss_full,
           round((rss_r - rss_f) / (rss_f / (n - 3)), 6) AS f_stat,
           CAST(CASE WHEN round((rss_r - rss_f) / (rss_f / (n - 3)), 9)
                          > 4.225
                     THEN 1 ELSE 0 END AS BIGINT)
             AS view_causes_click_05
    FROM rss
    """,
)
def agg_granger_causality_1lag(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """GRANGER CAUSALITY TEST (lag 1) of "does yesterday's VIEW level
    improve today's CLICK forecast beyond yesterday's click?":
    F = (RSS_restricted - RSS_full)/(RSS_full/(n-3)) comparing
    click_t ~ click_{t-1} against click_t ~ click_{t-1} + view_{t-1},
    both OLS fits in closed form from one moment scan (the restricted
    RSS is the simple-regression identity; the full one is the
    2-regressor Cramer solve on centered moments) — the DIRECTED
    temporal-dependence test that win_cross_correlation_lags's
    symmetric CCF peaks suggest but cannot decide. F ~ F(1, n-3)
    under the null; the fixture's 30-day horizon makes df constant
    (26) at every sf, so the 4.225 critical value is exact for the
    emitted flag.

    Shape at 100 TB: one groupBy to the day x type domain, a lag-1
    self-join on the bounded day index, one moment reduce. The
    centered moments carry an n scale (c = n·S - s·s), so the
    closed-form quantities are n·RSS; one division restores the true
    residual sums.

    Parity: daily means quantize round(6) into DECIMAL(16,6); raw
    moments are exact decimal sums cast once to double; the centered
    moments quantize round(9) (they are n-scaled differences of
    near-equal products — quantization pins the shared value); RSS,
    F, and the flag are shared double expressions with F quantized
    round(9) before the critical-value compare."""
    ev = table(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("event_type").isin("click", "view"))
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(F.expr("CAST(value * 100 + 0.5 AS BIGINT)")).alias(
                "cents"
            ),
            F.count("*").alias("cnt"),
        )
        .select(
            "event_type",
            "day",
            F.expr(
                "CAST(round(CAST(cents AS DOUBLE) / cnt / 100.0, 6)"
                " AS DECIMAL(16,6))"
            ).alias("m"),
        )
    )
    w = (
        daily.groupBy("day")
        .agg(
            F.max(F.when(F.col("event_type") == "click", F.col("m"))).alias(
                "c"
            ),
            F.max(F.when(F.col("event_type") == "view", F.col("m"))).alias(
                "v"
            ),
            F.count("*").alias("k"),
        )
        .where(F.col("k") == 2)
        .select(
            F.row_number()
            .over(Window.orderBy("day"))
            .cast("bigint")
            .alias("t"),
            "c",
            "v",
        )
        .localCheckpoint()
    )
    b = w.select(
        F.col("t").alias("tb"), F.col("c").alias("x"), F.col("v").alias("z")
    )
    tri = (
        w.withColumn("tb", F.col("t") - 1)
        .join(b, "tb")
        .select(F.col("c").alias("y"), "x", "z")
    )
    mo = tri.agg(
        F.count("*").cast("bigint").alias("n"),
        F.expr("CAST(sum(y) AS DOUBLE)").alias("sy"),
        F.expr("CAST(sum(x) AS DOUBLE)").alias("sx"),
        F.expr("CAST(sum(z) AS DOUBLE)").alias("sz"),
        F.expr("CAST(sum(CAST(y AS DECIMAL(19,6)) * y) AS DOUBLE)").alias(
            "syy"
        ),
        F.expr("CAST(sum(CAST(x AS DECIMAL(19,6)) * x) AS DOUBLE)").alias(
            "sxx"
        ),
        F.expr("CAST(sum(CAST(z AS DECIMAL(19,6)) * z) AS DOUBLE)").alias(
            "szz"
        ),
        F.expr("CAST(sum(CAST(x AS DECIMAL(19,6)) * y) AS DOUBLE)").alias(
            "sxy"
        ),
        F.expr("CAST(sum(CAST(x AS DECIMAL(19,6)) * z) AS DOUBLE)").alias(
            "sxz"
        ),
        F.expr("CAST(sum(CAST(y AS DECIMAL(19,6)) * z) AS DOUBLE)").alias(
            "syz"
        ),
    )
    cen = mo.selectExpr(
        "n",
        "round(n*syy - sy*sy, 9) AS cyy",
        "round(n*sxx - sx*sx, 9) AS cxx",
        "round(n*szz - sz*sz, 9) AS czz",
        "round(n*sxy - sx*sy, 9) AS cxy",
        "round(n*sxz - sx*sz, 9) AS cxz",
        "round(n*syz - sy*sz, 9) AS cyz",
    )
    rss = cen.selectExpr(
        "n",
        "cyy - cxy * cxy / cxx AS rss_r",
        "cyy - ((cxy * czz - cyz * cxz) * cxy"
        " + (cyz * cxx - cxy * cxz) * cyz)"
        " / (cxx * czz - cxz * cxz) AS rss_f",
    )
    return rss.selectExpr(
        "n AS n_obs",
        "round(rss_r / n, 6) AS rss_restricted",
        "round(rss_f / n, 6) AS rss_full",
        "round((rss_r - rss_f) / (rss_f / (n - 3)), 6) AS f_stat",
        "CAST(CASE WHEN round((rss_r - rss_f) / (rss_f / (n - 3)), 9)"
        " > 4.225 THEN 1 ELSE 0 END AS BIGINT)"
        " AS view_causes_click_05",
    )


# ---------------------------------------------------------------------------
# agg_adf_unit_root
# ---------------------------------------------------------------------------


@query(
    "agg_adf_unit_root",
    oracle="""
    WITH daily AS MATERIALIZED (
      SELECT CAST(ts AS DATE) AS day,
             CAST(round(CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                             AS DOUBLE) / count(*) / 100.0, 6)
                  AS DECIMAL(16,6)) AS m
      FROM events GROUP BY 1),
    idx AS MATERIALIZED (
      SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t, m
      FROM daily),
    obs AS MATERIALIZED (
      SELECT a.m - b.m AS y, b.m AS x, b.m - c.m AS z
      FROM idx a JOIN idx b ON b.t = a.t - 1
                 JOIN idx c ON c.t = a.t - 2),
    mo AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS DOUBLE) AS sy, CAST(sum(x) AS DOUBLE) AS sx,
             CAST(sum(z) AS DOUBLE) AS sz,
             CAST(sum(CAST(y AS DECIMAL(19,6)) * y) AS DOUBLE) AS syy,
             CAST(sum(CAST(x AS DECIMAL(19,6)) * x) AS DOUBLE) AS sxx,
             CAST(sum(CAST(z AS DECIMAL(19,6)) * z) AS DOUBLE) AS szz,
             CAST(sum(CAST(x AS DECIMAL(19,6)) * y) AS DOUBLE) AS sxy,
             CAST(sum(CAST(x AS DECIMAL(19,6)) * z) AS DOUBLE) AS sxz,
             CAST(sum(CAST(y AS DECIMAL(19,6)) * z) AS DOUBLE) AS syz
      FROM obs),
    cen AS (
      SELECT n,
             round(n*syy - sy*sy, 9) AS cyy,
             round(n*sxx - sx*sx, 9) AS cxx,
             round(n*szz - sz*sz, 9) AS czz,
             round(n*sxy - sx*sy, 9) AS cxy,
             round(n*sxz - sx*sz, 9) AS cxz,
             round(n*syz - sy*sz, 9) AS czy
      FROM mo),
    fit AS (
      SELECT n,
             (cxy * czz - czy * cxz) / (cxx * czz - cxz * cxz) AS rho,
             (czy * cxx - cxy * cxz) / (cxx * czz - cxz * cxz) AS phi,
             (cyy - (cxy * czz - czy * cxz) / (cxx * czz - cxz * cxz)
                    * cxy
                  - (czy * cxx - cxy * cxz) / (cxx * czz - cxz * cxz)
                    * czy) / n AS rss,
             n * czz / (cxx * czz - cxz * cxz) AS invxx
      FROM cen)
    SELECT n AS n_obs,
           round(rho, 6) AS rho,
           round(phi, 6) AS lag_diff_coef,
           round(rho / sqrt(rss / (n - 3) * invxx), 6) AS tau_stat,
           CAST(CASE WHEN round(rho / sqrt(rss / (n - 3) * invxx), 9)
                          < -2.98
                     THEN 1 ELSE 0 END AS BIGINT)
             AS unit_root_rejected_05
    FROM fit
    """,
)
def agg_adf_unit_root(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUGMENTED DICKEY-FULLER UNIT-ROOT TEST (one augmentation lag,
    constant, no trend) on the daily-mean value series: regress
    Δy_t on (1, y_{t-1}, Δy_{t-1}) via the same closed-form
    2-regressor Cramer solve as agg_granger_causality_1lag and read
    tau = rho_hat/se(rho_hat) — the stationarity gate that licenses
    (or vetoes) every ARMA-family reading upstream
    (agg_ljung_box_test, win_pacf_durbin_levinson assume a stationary
    series; a unit root makes their rho estimates spurious). tau is
    compared against the Dickey-Fuller tau_mu 5% critical ~= -2.98
    (n ~ 28; the fixture day count is constant at every sf, so the
    documented approximation is the same everywhere — DF critical
    values are NOT normal quantiles, hence the explicit table value).

    Shape at 100 TB: day-domain collapse, two lag self-joins, one
    moment reduce — bounded after the first aggregate.

    Parity: the Granger discipline verbatim — exact decimal daily
    means, exact decimal raw-moment sums cast once to double,
    centered moments quantized round(9), tau quantized round(9)
    before the critical compare, outputs round(6)."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.expr("CAST(value * 100 + 0.5 AS BIGINT)")).alias("cents"),
        F.count("*").alias("cnt"),
    )
    idx = daily.select(
        F.row_number().over(Window.orderBy("day")).cast("bigint").alias("t"),
        F.expr(
            "CAST(round(CAST(cents AS DOUBLE) / cnt / 100.0, 6)"
            " AS DECIMAL(16,6))"
        ).alias("m"),
    ).localCheckpoint()
    b = idx.select(F.col("t").alias("tb"), F.col("m").alias("mb"))
    c = idx.select(F.col("t").alias("tc"), F.col("m").alias("mc"))
    obs = (
        idx.withColumn("tb", F.col("t") - 1)
        .withColumn("tc", F.col("t") - 2)
        .join(b, "tb")
        .join(c, "tc")
        .select(
            (F.col("m") - F.col("mb")).alias("y"),
            F.col("mb").alias("x"),
            (F.col("mb") - F.col("mc")).alias("z"),
        )
    )
    mo = obs.agg(
        F.count("*").cast("bigint").alias("n"),
        F.expr("CAST(sum(y) AS DOUBLE)").alias("sy"),
        F.expr("CAST(sum(x) AS DOUBLE)").alias("sx"),
        F.expr("CAST(sum(z) AS DOUBLE)").alias("sz"),
        F.expr("CAST(sum(CAST(y AS DECIMAL(19,6)) * y) AS DOUBLE)").alias(
            "syy"
        ),
        F.expr("CAST(sum(CAST(x AS DECIMAL(19,6)) * x) AS DOUBLE)").alias(
            "sxx"
        ),
        F.expr("CAST(sum(CAST(z AS DECIMAL(19,6)) * z) AS DOUBLE)").alias(
            "szz"
        ),
        F.expr("CAST(sum(CAST(x AS DECIMAL(19,6)) * y) AS DOUBLE)").alias(
            "sxy"
        ),
        F.expr("CAST(sum(CAST(x AS DECIMAL(19,6)) * z) AS DOUBLE)").alias(
            "sxz"
        ),
        F.expr("CAST(sum(CAST(y AS DECIMAL(19,6)) * z) AS DOUBLE)").alias(
            "syz"
        ),
    )
    cen = mo.selectExpr(
        "n",
        "round(n*syy - sy*sy, 9) AS cyy",
        "round(n*sxx - sx*sx, 9) AS cxx",
        "round(n*szz - sz*sz, 9) AS czz",
        "round(n*sxy - sx*sy, 9) AS cxy",
        "round(n*sxz - sx*sz, 9) AS cxz",
        "round(n*syz - sy*sz, 9) AS czy",
    )
    fit = cen.selectExpr(
        "n",
        "(cxy * czz - czy * cxz) / (cxx * czz - cxz * cxz) AS rho",
        "(czy * cxx - cxy * cxz) / (cxx * czz - cxz * cxz) AS phi",
        "(cyy - (cxy * czz - czy * cxz) / (cxx * czz - cxz * cxz) * cxy"
        " - (czy * cxx - cxy * cxz) / (cxx * czz - cxz * cxz) * czy)"
        " / n AS rss",
        "n * czz / (cxx * czz - cxz * cxz) AS invxx",
    )
    return fit.selectExpr(
        "n AS n_obs",
        "round(rho, 6) AS rho",
        "round(phi, 6) AS lag_diff_coef",
        "round(rho / sqrt(rss / (n - 3) * invxx), 6) AS tau_stat",
        "CAST(CASE WHEN round(rho / sqrt(rss / (n - 3) * invxx), 9)"
        " < -2.98 THEN 1 ELSE 0 END AS BIGINT) AS unit_root_rejected_05",
    )


# ---------------------------------------------------------------------------
# agg_records_test
# ---------------------------------------------------------------------------


@query(
    "agg_records_test",
    oracle="""
    WITH daily AS MATERIALIZED (
      SELECT CAST(ts AS DATE) AS day,
             CAST(round(CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                             AS DOUBLE) / count(*) / 100.0, 6)
                  AS DECIMAL(16,6)) AS m
      FROM events GROUP BY 1),
    idx AS MATERIALIZED (
      SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t, m
      FROM daily),
    flg AS (
      SELECT t, m,
             max(m) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS pmax,
             min(m) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS pmin
      FROM idx),
    rec AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN t = 1 OR m > pmax THEN 1 ELSE 0 END)
                  AS BIGINT) AS up,
             CAST(sum(CASE WHEN t = 1 OR m < pmin THEN 1 ELSE 0 END)
                  AS BIGINT) AS dn
      FROM flg),
    hh AS (
      SELECT CAST(sum(CAST(round(CAST(1 AS DOUBLE) / i, 12)
                           AS DECIMAL(20,12))) AS DOUBLE) AS h1,
             CAST(sum(CAST(round(CAST(1 AS DOUBLE) / (i * i), 12)
                           AS DECIMAL(20,12))) AS DOUBLE) AS h2
      FROM (SELECT unnest(generate_series(1, (SELECT n FROM rec)))
              AS i))
    SELECT rec.n AS n_days, rec.up AS upper_records,
           rec.dn AS lower_records,
           round(hh.h1, 6) AS expected_records,
           round((rec.up - hh.h1) / sqrt(hh.h1 - hh.h2), 6) AS z_upper,
           round((rec.dn - hh.h1) / sqrt(hh.h1 - hh.h2), 6) AS z_lower
    FROM rec CROSS JOIN hh
    """,
)
def agg_records_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECORDS TEST of the daily-mean series: count strict upper and
    lower records (days beating every prior day) and standardize
    against the exact i.i.d. law — E[R_n] = H_n (harmonic number),
    Var[R_n] = H_n - H_n^(2) — one of the oldest distribution-free
    trend detectors (records accrue like 1/t under exchangeability;
    a trending series keeps setting them). The ordinal complement of
    agg_turning_points_test (local behavior) and
    agg_mann_kendall_trend (global rank slope): three independent
    ordinal reads of the same series.

    Shape at 100 TB: day-domain collapse; records via one running
    min/max window over the bounded domain; harmonic sums over an
    in-plan integer sequence.

    Parity: records are exact-decimal comparisons (daily means
    quantize round(6) into DECIMAL — ties break records on both
    engines identically because a record requires STRICT
    improvement); harmonic terms quantize round(12) into DECIMAL;
    the z statistics are shared double expressions, round(6)."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.expr("CAST(value * 100 + 0.5 AS BIGINT)")).alias("cents"),
        F.count("*").alias("cnt"),
    )
    idx = daily.select(
        F.row_number().over(Window.orderBy("day")).cast("bigint").alias("t"),
        F.expr(
            "CAST(round(CAST(cents AS DOUBLE) / cnt / 100.0, 6)"
            " AS DECIMAL(16,6))"
        ).alias("m"),
    ).localCheckpoint()
    w_prev = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, -1
    )
    rec = idx.select(
        "t",
        "m",
        F.max("m").over(w_prev).alias("pmax"),
        F.min("m").over(w_prev).alias("pmin"),
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(
            F.expr(
                "CASE WHEN t = 1 OR m > pmax THEN 1 ELSE 0 END"
            )
        )
        .cast("bigint")
        .alias("up"),
        F.sum(
            F.expr(
                "CASE WHEN t = 1 OR m < pmin THEN 1 ELSE 0 END"
            )
        )
        .cast("bigint")
        .alias("dn"),
    ).localCheckpoint()
    hh = (
        rec.selectExpr("explode(sequence(CAST(1 AS BIGINT), n)) AS i")
        .agg(
            F.sum(
                F.expr(
                    "CAST(round(CAST(1 AS DOUBLE) / i, 12)"
                    " AS DECIMAL(20,12))"
                )
            )
            .cast("double")
            .alias("h1"),
            F.sum(
                F.expr(
                    "CAST(round(CAST(1 AS DOUBLE) / (i * i), 12)"
                    " AS DECIMAL(20,12))"
                )
            )
            .cast("double")
            .alias("h2"),
        )
    )
    return rec.crossJoin(F.broadcast(hh)).selectExpr(
        "n AS n_days",
        "up AS upper_records",
        "dn AS lower_records",
        "round(h1, 6) AS expected_records",
        "round((up - h1) / sqrt(h1 - h2), 6) AS z_upper",
        "round((dn - h1) / sqrt(h1 - h2), 6) AS z_lower",
    )


# ---------------------------------------------------------------------------
# agg_cointegration_test
# ---------------------------------------------------------------------------


@query(
    "agg_cointegration_test",
    oracle="""
    WITH daily AS MATERIALIZED (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(round(CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                             AS DOUBLE) / count(*) / 100.0, 6)
                  AS DECIMAL(16,6)) AS m
      FROM events WHERE event_type IN ('click', 'view')
      GROUP BY 1, 2),
    w AS MATERIALIZED (
      SELECT day,
             CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
             max(CASE WHEN event_type = 'click' THEN m END) AS y,
             max(CASE WHEN event_type = 'view' THEN m END) AS x
      FROM daily GROUP BY day HAVING count(*) = 2),
    mo AS MATERIALIZED (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS DOUBLE) AS sy, CAST(sum(x) AS DOUBLE) AS sx,
             CAST(sum(CAST(x AS DECIMAL(19,6)) * x) AS DOUBLE) AS sxx,
             CAST(sum(CAST(x AS DECIMAL(19,6)) * y) AS DOUBLE) AS sxy
      FROM w),
    fit AS MATERIALIZED (
      SELECT n,
             (n*sxy - sx*sy) / (n*sxx - sx*sx) AS beta,
             (sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n AS alpha
      FROM mo),
    res AS MATERIALIZED (
      SELECT w.t,
             CAST(round(CAST(w.y AS DOUBLE) - f.alpha
                        - f.beta * CAST(w.x AS DOUBLE), 9)
                  AS DECIMAL(18,9)) AS e
      FROM w CROSS JOIN fit f),
    df AS (
      SELECT CAST(count(*) AS BIGINT) AS m,
             CAST(sum(CAST(a.e AS DECIMAL(19,9)) * b.e) AS DOUBLE)
               AS sed,
             CAST(sum(CAST(b.e AS DECIMAL(19,9)) * b.e) AS DOUBLE)
               AS see,
             CAST(sum(CAST(a.e AS DECIMAL(19,9)) * a.e) AS DOUBLE)
               AS saa
      FROM res a JOIN res b ON b.t = a.t - 1),
    tau AS (
      SELECT f.n, f.beta, f.alpha,
             (d.sed - d.see) / d.see AS rho,
             ((d.saa - 2*d.sed + d.see)
              - ((d.sed - d.see) / d.see)
                * ((d.sed - d.see) / d.see) * d.see)
             / (d.m - 1) / d.see AS se2
      FROM df d CROSS JOIN fit f)
    SELECT n AS n_days,
           round(beta, 6) AS hedge_beta,
           round(alpha, 6) AS intercept,
           round(rho, 6) AS residual_rho,
           round(rho / sqrt(se2), 6) AS tau_stat,
           CAST(CASE WHEN round(rho / sqrt(se2), 9) < -3.37
                     THEN 1 ELSE 0 END AS BIGINT) AS cointegrated_05
    FROM tau
    """,
)
def agg_cointegration_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENGLE-GRANGER COINTEGRATION TEST between the click and view
    daily-mean LEVELS: fit the equilibrium relation click = alpha +
    beta*view by OLS, then Dickey-Fuller-test the residuals
    (no-constant form: rho = (Sum e_{t-1}(e_t - e_{t-1}))/Sum e²,
    tau = rho/se) against the Engle-Granger 5% critical ~= -3.37 —
    the pairs-relationship test that completes the multivariate
    ladder: agg_partial_correlation reads contemporaneous
    association, agg_granger_causality_1lag reads lead-lag,
    cointegration reads whether the two LEVELS share one stochastic
    trend (the license for using their spread as a mean-reverting
    signal; hedge_beta is that spread's ratio). The DF identities
    used: Sum e_{t-1}*de_t = sed - see and Sum de² = saa - 2sed +
    see, so the residual pass needs only three lag-join moments.

    Shape at 100 TB: day-domain collapse, one moment reduce, a 1-row
    fit broadcast back for residuals, one lag self-join. All bounded
    after the first aggregate.

    Parity: exact decimal daily means; the fit is a shared double
    expression of exact-decimal moments; residuals QUANTIZE round(9)
    into DECIMAL before the lag-join moments (squares through
    DECIMAL(19,9) operands), so the DF moments are exact decimal
    sums; tau quantizes round(9) before the critical compare."""
    ev = table(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("event_type").isin("click", "view"))
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(F.expr("CAST(value * 100 + 0.5 AS BIGINT)")).alias(
                "cents"
            ),
            F.count("*").alias("cnt"),
        )
        .select(
            "event_type",
            "day",
            F.expr(
                "CAST(round(CAST(cents AS DOUBLE) / cnt / 100.0, 6)"
                " AS DECIMAL(16,6))"
            ).alias("m"),
        )
    )
    w = (
        daily.groupBy("day")
        .agg(
            F.max(F.when(F.col("event_type") == "click", F.col("m"))).alias(
                "y"
            ),
            F.max(F.when(F.col("event_type") == "view", F.col("m"))).alias(
                "x"
            ),
            F.count("*").alias("k"),
        )
        .where(F.col("k") == 2)
        .select(
            F.row_number()
            .over(Window.orderBy("day"))
            .cast("bigint")
            .alias("t"),
            "y",
            "x",
        )
        .localCheckpoint()
    )
    mo = w.agg(
        F.count("*").cast("bigint").alias("n"),
        F.expr("CAST(sum(y) AS DOUBLE)").alias("sy"),
        F.expr("CAST(sum(x) AS DOUBLE)").alias("sx"),
        F.expr("CAST(sum(CAST(x AS DECIMAL(19,6)) * x) AS DOUBLE)").alias(
            "sxx"
        ),
        F.expr("CAST(sum(CAST(x AS DECIMAL(19,6)) * y) AS DOUBLE)").alias(
            "sxy"
        ),
    )
    fit = mo.selectExpr(
        "n",
        "(n*sxy - sx*sy) / (n*sxx - sx*sx) AS beta",
        "(sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n AS alpha",
    ).localCheckpoint()
    res = w.crossJoin(F.broadcast(fit)).select(
        "t",
        F.expr(
            "CAST(round(CAST(y AS DOUBLE) - alpha"
            " - beta * CAST(x AS DOUBLE), 9) AS DECIMAL(18,9))"
        ).alias("e"),
    ).localCheckpoint()
    b = res.select(F.col("t").alias("tb"), F.col("e").alias("eb"))
    df = (
        res.withColumn("tb", F.col("t") - 1)
        .join(b, "tb")
        .agg(
            F.count("*").cast("bigint").alias("m"),
            F.expr(
                "CAST(sum(CAST(e AS DECIMAL(19,9)) * eb) AS DOUBLE)"
            ).alias("sed"),
            F.expr(
                "CAST(sum(CAST(eb AS DECIMAL(19,9)) * eb) AS DOUBLE)"
            ).alias("see"),
            F.expr(
                "CAST(sum(CAST(e AS DECIMAL(19,9)) * e) AS DOUBLE)"
            ).alias("saa"),
        )
    )
    tau = df.crossJoin(F.broadcast(fit)).selectExpr(
        "n",
        "beta",
        "alpha",
        "(sed - see) / see AS rho",
        "((saa - 2*sed + see)"
        " - ((sed - see) / see) * ((sed - see) / see) * see)"
        " / (m - 1) / see AS se2",
    )
    return tau.selectExpr(
        "n AS n_days",
        "round(beta, 6) AS hedge_beta",
        "round(alpha, 6) AS intercept",
        "round(rho, 6) AS residual_rho",
        "round(rho / sqrt(se2), 6) AS tau_stat",
        "CAST(CASE WHEN round(rho / sqrt(se2), 9) < -3.37"
        " THEN 1 ELSE 0 END AS BIGINT) AS cointegrated_05",
    )


# ---------------------------------------------------------------------------
# agg_arch_lm_test
# ---------------------------------------------------------------------------


@query(
    "agg_arch_lm_test",
    oracle="""
    WITH daily AS MATERIALIZED (
      SELECT CAST(ts AS DATE) AS day,
             CAST(round(CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                             AS DOUBLE) / count(*) / 100.0, 6)
                  AS DECIMAL(16,6)) AS m
      FROM events GROUP BY 1),
    idx AS MATERIALIZED (
      SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t, m
      FROM daily),
    mu AS MATERIALIZED (
      SELECT CAST(sum(m) AS DOUBLE) / count(*) AS mu FROM idx),
    sq AS MATERIALIZED (
      SELECT i.t,
             CAST(round((CAST(i.m AS DOUBLE) - mu.mu)
                        * (CAST(i.m AS DOUBLE) - mu.mu), 6)
                  AS DECIMAL(16,6)) AS s
      FROM idx i CROSS JOIN mu),
    p AS MATERIALIZED (
      SELECT a.s AS y, b.s AS x
      FROM sq a JOIN sq b ON b.t = a.t - 1),
    mo AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS DOUBLE) AS sy, CAST(sum(x) AS DOUBLE) AS sx,
             CAST(sum(CAST(y AS DECIMAL(19,6)) * y) AS DOUBLE) AS syy,
             CAST(sum(CAST(x AS DECIMAL(19,6)) * x) AS DOUBLE) AS sxx,
             CAST(sum(CAST(x AS DECIMAL(19,6)) * y) AS DOUBLE) AS sxy
      FROM p),
    r2 AS (
      SELECT n,
             (n*sxy - sx*sy) * (n*sxy - sx*sy)
               / ((n*sxx - sx*sx) * (n*syy - sy*sy)) AS r2
      FROM mo)
    SELECT n AS n_obs,
           round(r2, 6) AS arch_r2,
           round(n * r2, 6) AS lm_stat,
           CAST(CASE WHEN round(n * r2, 9) > 3.841
                     THEN 1 ELSE 0 END AS BIGINT)
             AS volatility_clustering_05
    FROM r2
    """,
)
def agg_arch_lm_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENGLE'S ARCH LM TEST (one lag) on the daily-mean series: does
    today's squared deviation from the series mean predict
    tomorrow's? LM = n·R² of the s_t ~ s_{t-1} regression, chi²(1)
    under the homoskedastic null (critical 3.841) — the volatility-
    clustering detector that tells you whether win_bollinger_bands'
    constant-sigma bands are even the right model (clustered
    volatility means bands should breathe; unclustered means the
    plain z machinery of win_zscore_outlier is enough).

    Shape at 100 TB: day-domain collapse, a mean broadcast, one lag
    self-join, one moment reduce.

    Parity: squared deviations quantize round(6) into DECIMAL(16,6)
    (they re-enter products — the quantize-before-reuse rule);
    regression moments are exact decimal sums cast once; R² and LM
    are shared double expressions, LM quantized round(9) before the
    critical compare."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.expr("CAST(value * 100 + 0.5 AS BIGINT)")).alias("cents"),
        F.count("*").alias("cnt"),
    )
    idx = daily.select(
        F.row_number().over(Window.orderBy("day")).cast("bigint").alias("t"),
        F.expr(
            "CAST(round(CAST(cents AS DOUBLE) / cnt / 100.0, 6)"
            " AS DECIMAL(16,6))"
        ).alias("m"),
    ).localCheckpoint()
    mu = idx.agg(
        F.expr("CAST(sum(m) AS DOUBLE) / count(*)").alias("mu")
    )
    sq = idx.crossJoin(F.broadcast(mu)).select(
        "t",
        F.expr(
            "CAST(round((CAST(m AS DOUBLE) - mu)"
            " * (CAST(m AS DOUBLE) - mu), 6) AS DECIMAL(16,6))"
        ).alias("s"),
    ).localCheckpoint()
    b = sq.select(F.col("t").alias("tb"), F.col("s").alias("x"))
    p = (
        sq.withColumn("tb", F.col("t") - 1)
        .join(b, "tb")
        .select(F.col("s").alias("y"), "x")
    )
    mo = p.agg(
        F.count("*").cast("bigint").alias("n"),
        F.expr("CAST(sum(y) AS DOUBLE)").alias("sy"),
        F.expr("CAST(sum(x) AS DOUBLE)").alias("sx"),
        F.expr("CAST(sum(CAST(y AS DECIMAL(19,6)) * y) AS DOUBLE)").alias(
            "syy"
        ),
        F.expr("CAST(sum(CAST(x AS DECIMAL(19,6)) * x) AS DOUBLE)").alias(
            "sxx"
        ),
        F.expr("CAST(sum(CAST(x AS DECIMAL(19,6)) * y) AS DOUBLE)").alias(
            "sxy"
        ),
    )
    r2 = mo.selectExpr(
        "n",
        "(n*sxy - sx*sy) * (n*sxy - sx*sy)"
        " / ((n*sxx - sx*sx) * (n*syy - sy*sy)) AS r2",
    )
    return r2.selectExpr(
        "n AS n_obs",
        "round(r2, 6) AS arch_r2",
        "round(n * r2, 6) AS lm_stat",
        "CAST(CASE WHEN round(n * r2, 9) > 3.841 THEN 1 ELSE 0 END"
        " AS BIGINT) AS volatility_clustering_05",
    )


# ---------------------------------------------------------------------------
# agg_spectral_entropy
# ---------------------------------------------------------------------------


@query(
    "agg_spectral_entropy",
    oracle="""
    WITH daily AS MATERIALIZED (
      SELECT CAST(ts AS DATE) AS day,
             CAST(round(CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                             AS DOUBLE) / count(*) / 100.0, 6)
                  AS DECIMAL(16,6)) AS m
      FROM events GROUP BY 1),
    idx AS MATERIALIZED (
      SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t, m
      FROM daily),
    st AS MATERIALIZED (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(m) AS DOUBLE) / count(*) AS xbar
      FROM idx),
    dev AS MATERIALIZED (
      SELECT i.t, CAST(i.m AS DOUBLE) - s.xbar AS x, s.n
      FROM idx i CROSS JOIN st s),
    ks AS (SELECT CAST(unnest(generate_series(1, 14)) AS BIGINT) AS k),
    pw AS MATERIALIZED (
      SELECT ks.k,
             round((CAST(sum(CAST(round(dev.x * cos(2 * pi() * ks.k
                            * dev.t / dev.n), 9) AS DECIMAL(28,9)))
                     AS DOUBLE)
                    * CAST(sum(CAST(round(dev.x * cos(2 * pi() * ks.k
                            * dev.t / dev.n), 9) AS DECIMAL(28,9)))
                       AS DOUBLE)
                    + CAST(sum(CAST(round(dev.x * sin(2 * pi() * ks.k
                            * dev.t / dev.n), 9) AS DECIMAL(28,9)))
                       AS DOUBLE)
                    * CAST(sum(CAST(round(dev.x * sin(2 * pi() * ks.k
                            * dev.t / dev.n), 9) AS DECIMAL(28,9)))
                       AS DOUBLE))
                   * 2.0 / max(dev.n), 9) AS p
      FROM ks CROSS JOIN dev
      GROUP BY ks.k),
    tt AS MATERIALIZED (
      SELECT CAST(sum(CAST(p AS DECIMAL(28,9))) AS DOUBLE) AS tot,
             CAST(count(*) AS BIGINT) AS kk
      FROM pw),
    sh AS (
      SELECT CAST(sum(CAST(round(-(pw.p / tt.tot)
                                 * ln(pw.p / tt.tot), 9)
                           AS DECIMAL(28,9))) AS DOUBLE) AS hsum,
             CAST(sum(CAST(round(ln(pw.p), 9) AS DECIMAL(28,9)))
                  AS DOUBLE) AS lsum
      FROM pw CROSS JOIN tt WHERE pw.p > 0),
    dom AS (
      SELECT k FROM pw ORDER BY p DESC, k LIMIT 1)
    SELECT tt.kk AS n_freqs,
           dom.k AS dominant_freq,
           round(sh.hsum / ln(CAST(tt.kk AS DOUBLE)), 6)
             AS spectral_entropy,
           round(exp(sh.lsum / tt.kk) / (tt.tot / tt.kk), 6)
             AS spectral_flatness
    FROM tt CROSS JOIN sh CROSS JOIN dom
    """,
)
def agg_spectral_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPECTRAL ENTROPY and FLATNESS of the daily-mean series over
    the k = 1..14 Fourier powers: entropy = -Σ q ln q / ln K on the
    normalized power shares (1 = white noise, near 0 = one pure
    tone) and flatness = geometric/arithmetic power mean — the
    one-number summaries of win_periodogram_daily's 14-row spectrum,
    the spectral twins of what agg_entropy_rate_markov does for the
    event-type sequence. dominant_freq names the winning line so the
    two numbers are interpretable at a glance.

    Shape at 100 TB: identical to win_periodogram_daily (bounded
    trig-term grid), plus a 14-row reduction.

    Parity: per-term trig products quantize round(9) into DECIMAL
    (the periodogram discipline); powers quantize round(9); each
    entropy/log term quantizes round(9) before its order-independent
    sum; the final normalizations are shared double expressions,
    round(6). The dominant-frequency pick orders by the quantized
    power with k tie-break."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.expr("CAST(value * 100 + 0.5 AS BIGINT)")).alias("cents"),
        F.count("*").alias("cnt"),
    )
    idx = daily.select(
        F.row_number().over(Window.orderBy("day")).cast("bigint").alias("t"),
        F.expr(
            "CAST(round(CAST(cents AS DOUBLE) / cnt / 100.0, 6)"
            " AS DECIMAL(16,6))"
        ).alias("m"),
    ).localCheckpoint()
    st = idx.agg(
        F.count("*").cast("bigint").alias("n"),
        F.expr("CAST(sum(m) AS DOUBLE) / count(*)").alias("xbar"),
    ).localCheckpoint()
    dev = idx.crossJoin(F.broadcast(st)).select(
        "t", (F.col("m").cast("double") - F.col("xbar")).alias("x"), "n"
    )
    ks = spark.range(1, 15).select(F.col("id").alias("k"))
    pw = (
        ks.crossJoin(dev)
        .groupBy("k")
        .agg(
            F.expr(
                "round((CAST(sum(CAST(round(x * cos(2 * pi() * k * t / n),"
                " 9) AS DECIMAL(28,9))) AS DOUBLE)"
                " * CAST(sum(CAST(round(x * cos(2 * pi() * k * t / n), 9)"
                " AS DECIMAL(28,9))) AS DOUBLE)"
                " + CAST(sum(CAST(round(x * sin(2 * pi() * k * t / n), 9)"
                " AS DECIMAL(28,9))) AS DOUBLE)"
                " * CAST(sum(CAST(round(x * sin(2 * pi() * k * t / n), 9)"
                " AS DECIMAL(28,9))) AS DOUBLE))"
                " * 2.0 / max(n), 9)"
            ).alias("p")
        )
        .localCheckpoint()
    )
    tt = pw.agg(
        F.sum(F.col("p").cast("decimal(28,9)")).cast("double").alias("tot"),
        F.count("*").cast("bigint").alias("kk"),
    ).localCheckpoint()
    sh = (
        pw.crossJoin(F.broadcast(tt))
        .where(F.col("p") > 0)
        .agg(
            F.sum(
                F.expr(
                    "CAST(round(-(p / tot) * ln(p / tot), 9)"
                    " AS DECIMAL(28,9))"
                )
            )
            .cast("double")
            .alias("hsum"),
            F.sum(F.expr("CAST(round(ln(p), 9) AS DECIMAL(28,9))"))
            .cast("double")
            .alias("lsum"),
        )
    )
    dom = pw.orderBy(F.col("p").desc(), "k").limit(1).select(
        F.col("k").alias("dominant_freq")
    )
    return (
        tt.crossJoin(F.broadcast(sh))
        .crossJoin(F.broadcast(dom))
        .selectExpr(
            "kk AS n_freqs",
            "dominant_freq",
            "round(hsum / ln(CAST(kk AS DOUBLE)), 6) AS spectral_entropy",
            "round(exp(lsum / kk) / (tot / kk), 6) AS spectral_flatness",
        )
    )


# ---------------------------------------------------------------------------
# agg_seasonal_mann_kendall
# ---------------------------------------------------------------------------


@query(
    "agg_seasonal_mann_kendall",
    oracle="""
    WITH daily AS MATERIALIZED (
      SELECT CAST(ts AS DATE) AS day,
             CAST(round(CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                             AS DOUBLE) / count(*) / 100.0, 6)
                  AS DECIMAL(16,6)) AS m
      FROM events GROUP BY 1),
    idx AS MATERIALIZED (
      SELECT day,
             CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
             CAST((CAST(row_number() OVER (ORDER BY day) AS BIGINT) - 1)
                  % 7 AS BIGINT) AS dow,
             m
      FROM daily),
    s AS MATERIALIZED (
      SELECT CAST(sum(CASE WHEN b.m > a.m THEN 1
                           WHEN b.m < a.m THEN -1 ELSE 0 END)
                  AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM idx a JOIN idx b
        ON a.dow = b.dow AND b.t > a.t),
    vt AS MATERIALIZED (
      SELECT CAST(sum(n * (n - 1) * (2 * n + 5)) AS BIGINT) AS v0
      FROM (SELECT dow, CAST(count(*) AS BIGINT) AS n
            FROM idx GROUP BY dow) g),
    ties AS MATERIALIZED (
      SELECT CAST(coalesce(sum(tc * (tc - 1) * (2 * tc + 5)), 0)
                  AS BIGINT) AS vtie
      FROM (SELECT dow, m, CAST(count(*) AS BIGINT) AS tc
            FROM idx GROUP BY dow, m HAVING count(*) > 1) t)
    SELECT s.s AS s_stat, s.n_pairs,
           round(CAST(vt.v0 - ties.vtie AS DOUBLE) / 18.0, 6) AS var_s,
           round(CASE WHEN s.s > 0 THEN (s.s - 1)
                      WHEN s.s < 0 THEN (s.s + 1)
                      ELSE 0 END
                 / sqrt(CAST(vt.v0 - ties.vtie AS DOUBLE) / 18.0), 6) AS z_stat,
           CAST(CASE WHEN abs(round(CASE WHEN s.s > 0 THEN (s.s - 1)
                             WHEN s.s < 0 THEN (s.s + 1) ELSE 0 END
                 / sqrt(CAST(vt.v0 - ties.vtie AS DOUBLE) / 18.0), 9)) > 1.959964
                     THEN 1 ELSE 0 END AS BIGINT) AS trend_05
    FROM s CROSS JOIN vt CROSS JOIN ties
    """,
)
def agg_seasonal_mann_kendall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SEASONAL MANN-KENDALL TREND TEST (Hirsch-Slack, period 7) on
    the daily-mean series: the MK sign statistic computed WITHIN each
    weekday (Monday vs later Mondays, never Monday vs Sunday), summed
    across the 7 seasons with the tie-corrected variance — the trend
    test that a weekly cycle cannot fool (plain agg_mann_kendall_trend
    counts every cross-weekday pair, so a strong seasonal pattern
    inflates or masks S; the seasonal variant conditions it out
    entirely). z uses the standard continuity correction; |z| > 1.96
    flags a monotone trend at 5%.

    Shape at 100 TB: day-domain collapse; the pair join is within-dow
    on the bounded domain (7 x C(D/7, 2) pairs); variances are 7-row
    arithmetic. Exact integers everywhere until the final division.

    Parity: signs come from exact-decimal comparisons; S, pair
    counts, and both variance pieces are exact BIGINTs; z is one
    shared double expression quantized round(9) before the critical
    compare."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.expr("CAST(value * 100 + 0.5 AS BIGINT)")).alias("cents"),
        F.count("*").alias("cnt"),
    )
    idx = daily.select(
        "day",
        F.row_number().over(Window.orderBy("day")).cast("bigint").alias("t"),
        F.expr(
            "CAST(round(CAST(cents AS DOUBLE) / cnt / 100.0, 6)"
            " AS DECIMAL(16,6))"
        ).alias("m"),
    ).selectExpr("day", "t", "(t - 1) % 7 AS dow", "m").localCheckpoint()
    b = idx.select(
        F.col("dow").alias("dowb"), F.col("t").alias("tb"), F.col("m").alias("mb")
    )
    s = (
        idx.join(
            b, (F.col("dow") == F.col("dowb")) & (F.col("tb") > F.col("t"))
        )
        .agg(
            F.sum(
                F.expr(
                    "CASE WHEN mb > m THEN 1 WHEN mb < m THEN -1"
                    " ELSE 0 END"
                )
            )
            .cast("bigint")
            .alias("s"),
            F.count("*").cast("bigint").alias("n_pairs"),
        )
    )
    vt = (
        idx.groupBy("dow")
        .agg(F.count("*").cast("bigint").alias("n"))
        .agg(
            F.sum(F.expr("n * (n - 1) * (2 * n + 5)"))
            .cast("bigint")
            .alias("v0")
        )
    )
    ties = (
        idx.groupBy("dow", "m")
        .agg(F.count("*").cast("bigint").alias("tc"))
        .where(F.col("tc") > 1)
        .agg(
            F.coalesce(
                F.sum(F.expr("tc * (tc - 1) * (2 * tc + 5)")), F.lit(0)
            )
            .cast("bigint")
            .alias("vtie")
        )
    )
    z_expr = (
        "CASE WHEN s > 0 THEN (s - 1) WHEN s < 0 THEN (s + 1)"
        " ELSE 0 END / sqrt(CAST(v0 - vtie AS DOUBLE) / 18.0)"
    )
    return (
        s.crossJoin(F.broadcast(vt))
        .crossJoin(F.broadcast(ties))
        .selectExpr(
            "s AS s_stat",
            "n_pairs",
            "round(CAST(v0 - vtie AS DOUBLE) / 18.0, 6) AS var_s",
            f"round({z_expr}, 6) AS z_stat",
            f"CAST(CASE WHEN abs(round({z_expr}, 9)) > 1.959964"
            " THEN 1 ELSE 0 END AS BIGINT) AS trend_05",
        )
    )


# ---------------------------------------------------------------------------
# shared bounded-domain frames (session artifacts — the _cosupply_edges
# rule: materialize once per app/sf, reference many)
# ---------------------------------------------------------------------------


@session_artifact
def _day_cent_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 30-row (day, tot) frame of exact integer-cent daily totals
    over ALL events, localCheckpoint-ed once per (application,
    sf_dir).  Five wave-4/6 serial-structure ops consume this same
    frame (runs test, Durbin-Watson, Grubbs, dow-ANOVA), and several
    reference it more than once internally (median + signs; moments
    + residuals) — the cache removes both the per-op fact rescan and
    the copy-pasted money-cast parity pair (round-9 self-review)."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.select(
            F.expr("CAST(ts AS DATE)").alias("day"),
            F.expr("CAST(value * 100 + 0.5 AS BIGINT)").alias("c"),
        )
        .groupBy("day")
        .agg(F.sum("c").cast("bigint").alias("tot"))
        .localCheckpoint()
    )


# ---------------------------------------------------------------------------
# agg_chow_test
# ---------------------------------------------------------------------------

_CHOW_SPLIT_DAY = 15  # break candidate: mid-series (day 15 of 30)


def _chow_moment_exprs(flt: str, p: str) -> list[str]:
    """Exact integer OLS moments of (day index x, daily cents y) for
    one segment, as SQL aggregate expressions shared by shape across
    engines (the y*y squares run in DECIMAL(19,0) to force exactness
    on both multiply kernels — int64 would overflow sy^2 past sf1x
    and DuckDB's width-18 decimal kernel overflows on squares)."""
    return [
        f"CAST(sum(CASE WHEN {flt} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS {p}n",
        f"CAST(sum(CASE WHEN {flt} THEN x ELSE 0 END) AS BIGINT)"
        f" AS {p}sx",
        f"CAST(sum(CASE WHEN {flt} THEN y ELSE 0 END) AS BIGINT)"
        f" AS {p}sy",
        f"CAST(sum(CASE WHEN {flt} THEN x * x ELSE 0 END) AS BIGINT)"
        f" AS {p}sxx",
        f"CAST(sum(CASE WHEN {flt} THEN x * y ELSE 0 END) AS BIGINT)"
        f" AS {p}sxy",
        f"CAST(sum(CASE WHEN {flt} THEN"
        " CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))"
        f" ELSE CAST(0 AS DECIMAL(19,0)) END) AS DECIMAL(38,0)) AS {p}syy",
    ]


_CHOW_ALL_MOMENT_LIST = (
    _chow_moment_exprs("TRUE", "p")
    + _chow_moment_exprs(f"x <= {_CHOW_SPLIT_DAY}", "a")
    + _chow_moment_exprs(f"x > {_CHOW_SPLIT_DAY}", "b")
)
_CHOW_ALL_MOMENTS = ",\n             ".join(_CHOW_ALL_MOMENT_LIST)

_CHOW_RSS = (
    "(CAST(CAST({p}n AS DECIMAL(19,0)) * CAST({p}syy AS DECIMAL(38,0))"
    " - CAST({p}sy AS DECIMAL(19,0)) * CAST({p}sy AS DECIMAL(19,0))"
    " AS DOUBLE)"
    " - CAST({p}n * {p}sxy - {p}sx * {p}sy AS DOUBLE)"
    " * CAST({p}n * {p}sxy - {p}sx * {p}sy AS DOUBLE)"
    " / CAST({p}n * {p}sxx - {p}sx * {p}sx AS DOUBLE))"
    " / CAST({p}n AS DOUBLE)"
)


@query(
    "agg_chow_test",
    oracle=f"""
    WITH daily AS MATERIALIZED (
      SELECT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) + 1
               AS x,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS y
      FROM events GROUP BY 1),
    m AS (
      SELECT {_CHOW_ALL_MOMENTS}
      FROM daily),
    rss AS (
      SELECT pn AS n_days,
             {_CHOW_RSS.format(p="p")} AS rss_p,
             {_CHOW_RSS.format(p="a")} AS rss_a,
             {_CHOW_RSS.format(p="b")} AS rss_b
      FROM m)
    SELECT n_days,
           round(rss_p, 6) AS rss_pooled,
           round(rss_a, 6) AS rss_pre,
           round(rss_b, 6) AS rss_post,
           round(((rss_p - rss_a - rss_b) / 2)
                 / ((rss_a + rss_b) / (n_days - 4)), 6) AS f_stat,
           CAST(CASE WHEN round(((rss_p - rss_a - rss_b) / 2)
                 / ((rss_a + rss_b) / (n_days - 4)), 9)
                 > CAST(3.369 AS DOUBLE)
                THEN 1 ELSE 0 END AS BIGINT) AS break_detected_05
    FROM rss
    """,
)
def agg_chow_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHOW STRUCTURAL-BREAK TEST at the mid-series split (day 15 of
    the 30-day fixture): fit daily-revenue-vs-day OLS lines to the
    pooled series and to each half, and test whether two regimes fit
    better than one — F = ((RSS_p - RSS_1 - RSS_2)/k) /
    ((RSS_1 + RSS_2)/(n - 2k)), k = 2 parameters, against F(2, 26)'s
    5% critical value 3.369. The INFERENCE companion to the
    changepoint localizers (win_changepoint_pelt_1d finds WHERE;
    Chow answers WHETHER a proposed break is statistically real) —
    the test a pipeline runs before acting on a detected drift.

    All three RSS come from one grouped scan via the centered-moment
    closed form RSS = (Cyy - Cxy^2/Cxx)/n with C = n*S - s*s (the
    agg_granger_causality_1lag machinery, n-scaled then divided once
    — the round-8 lesson): the day-domain moments are exact integers;
    Cyy's n*syy and sy^2 run as DECIMAL(19,0) products on BOTH
    engines (forcing Spark's 38-digit exactness AND DuckDB's HUGEINT
    kernel — width-18 operands would overflow int64 on squares);
    the F-statistic is one shared double expression of those exact
    values, quantized round(9) before the critical-value compare.

    Shape at 100 TB: one map-side-combinable conditional aggregate to
    a 1-row frame of 18 moments; zero joins, zero windows."""
    ev = table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            F.expr(
                "datediff(CAST(ts AS DATE), DATE '2024-01-01') + 1"
            ).alias("x")
        )
        .agg(
            F.sum(F.expr("CAST(value * 100 + 0.5 AS BIGINT)"))
            .cast("bigint")
            .alias("y")
        )
    )

    m = daily.selectExpr("x", "y").agg(
        *[F.expr(e) for e in _CHOW_ALL_MOMENT_LIST]
    )
    rss = m.selectExpr(
        "pn AS n_days",
        _CHOW_RSS.format(p="p") + " AS rss_p",
        _CHOW_RSS.format(p="a") + " AS rss_a",
        _CHOW_RSS.format(p="b") + " AS rss_b",
    )
    f_txt = (
        "((rss_p - rss_a - rss_b) / 2)"
        " / ((rss_a + rss_b) / (n_days - 4))"
    )
    return rss.selectExpr(
        "n_days",
        "round(rss_p, 6) AS rss_pooled",
        "round(rss_a, 6) AS rss_pre",
        "round(rss_b, 6) AS rss_post",
        f"round({f_txt}, 6) AS f_stat",
        f"CAST(CASE WHEN round({f_txt}, 9) > CAST(3.369 AS DOUBLE)"
        " THEN 1 ELSE 0 END AS BIGINT) AS break_detected_05",
    )


# ---------------------------------------------------------------------------
# agg_runs_test
# ---------------------------------------------------------------------------


@query(
    "agg_runs_test",
    oracle="""
    WITH day AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS tot
      FROM events GROUP BY 1),
    med AS (
      SELECT list_extract(list_sort(list(tot)), (count(tot) + 1) // 2)
               AS med
      FROM day),
    kept AS (
      SELECT day.day,
             CAST(CASE WHEN tot > med THEN 1 ELSE 0 END AS BIGINT) AS sgn
      FROM day CROSS JOIN med WHERE tot <> med),
    seq AS (
      SELECT sgn, lag(sgn) OVER (ORDER BY day) AS prev FROM kept),
    s AS (
      SELECT CAST(sum(sgn) AS BIGINT) AS n_above,
             CAST(sum(1 - sgn) AS BIGINT) AS n_below,
             CAST(sum(CASE WHEN prev IS NULL OR prev <> sgn
                           THEN 1 ELSE 0 END) AS BIGINT) AS runs
      FROM seq)
    SELECT n_above, n_below, runs,
           round((CAST(runs AS DOUBLE)
                  - (CAST(1 AS DOUBLE)
                     + CAST(2 * n_above * n_below AS DOUBLE)
                       / CAST(n_above + n_below AS DOUBLE)))
                 / sqrt(CAST(2 * n_above * n_below
                             * (2 * n_above * n_below
                                - (n_above + n_below)) AS DOUBLE)
                        / CAST((n_above + n_below) * (n_above + n_below)
                               * (n_above + n_below - 1) AS DOUBLE)),
                 6) AS z_stat,
           CAST(CASE WHEN abs(round((CAST(runs AS DOUBLE)
                  - (CAST(1 AS DOUBLE)
                     + CAST(2 * n_above * n_below AS DOUBLE)
                       / CAST(n_above + n_below AS DOUBLE)))
                 / sqrt(CAST(2 * n_above * n_below
                             * (2 * n_above * n_below
                                - (n_above + n_below)) AS DOUBLE)
                        / CAST((n_above + n_below) * (n_above + n_below)
                               * (n_above + n_below - 1) AS DOUBLE)),
                 9)) >= 1.96 THEN 1 ELSE 0 END AS BIGINT)
             AS significant_05
    FROM s
    """,
)
def agg_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WALD-WOLFOWITZ RUNS TEST for randomness of the 30-day daily
    revenue sequence: sign each day's exact integer-cent total against
    the LOW MEDIAN of the 30 totals (days equal to the median are
    dropped — the textbook convention, and the low-median pick is the
    agg_median_polish_grid exact-BIGINT machinery), count runs of
    consecutive same-sign days in time order, and compare to the
    exact null moments E[R] = 1 + 2*n1*n2/n and
    Var[R] = 2*n1*n2*(2*n1*n2 - n) / (n^2*(n-1)).  Too FEW runs means
    positive serial dependence (trending days), too MANY means
    alternation — the distribution-free companion to
    agg_durbin_watson's parametric residual test.  Sibling:
    agg_runs_test_randomness runs the same test at EVENT level along
    each user's own time order (population burstiness); this one
    tests the aggregate day series (calendar-level dependence) — the
    two catch disjoint failure modes.

    Exactness: totals, median, signs, and the runs count are all
    BIGINT; numerator and denominator of Var[R] are single exact
    integer products (~1e5 at n=29) cast once to DOUBLE, so z is one
    shared-text IEEE expression — bit-identical both engines, then
    round(6) / round(9)-gated significance (|z| >= 1.96).

    Shape at 100 TB: one groupBy collapses the fact table to the
    30-row day domain; the median collect_list, the lag window, and
    the final aggregate all run on that bounded domain (the
    unpartitioned window is 29 rows by construction — the
    agg_friedman_test day-grid argument)."""
    day = _day_cent_totals(spark, sf_dir)
    med = day.agg(
        F.expr(
            "element_at(sort_array(collect_list(tot)),"
            " CAST((count(tot) + 1) div 2 AS INT))"
        ).alias("med")
    )
    kept = (
        day.crossJoin(F.broadcast(med))
        .where("tot <> med")
        .select(
            "day",
            F.expr(
                "CAST(CASE WHEN tot > med THEN 1 ELSE 0 END AS BIGINT)"
            ).alias("sgn"),
        )
    )
    seq = kept.select(
        "sgn", F.lag("sgn").over(Window.orderBy("day")).alias("prev")
    )
    s = seq.agg(
        F.sum("sgn").cast("bigint").alias("n_above"),
        F.sum(F.expr("1 - sgn")).cast("bigint").alias("n_below"),
        F.sum(
            F.expr("CASE WHEN prev IS NULL OR prev <> sgn THEN 1 ELSE 0 END")
        )
        .cast("bigint")
        .alias("runs"),
    )
    z_txt = (
        "(CAST(runs AS DOUBLE)"
        " - (CAST(1 AS DOUBLE)"
        " + CAST(2 * n_above * n_below AS DOUBLE)"
        " / CAST(n_above + n_below AS DOUBLE)))"
        " / sqrt(CAST(2 * n_above * n_below"
        " * (2 * n_above * n_below - (n_above + n_below)) AS DOUBLE)"
        " / CAST((n_above + n_below) * (n_above + n_below)"
        " * (n_above + n_below - 1) AS DOUBLE))"
    )
    return s.selectExpr(
        "n_above",
        "n_below",
        "runs",
        f"round({z_txt}, 6) AS z_stat",
        f"CAST(CASE WHEN abs(round({z_txt}, 9)) >= 1.96"
        " THEN 1 ELSE 0 END AS BIGINT) AS significant_05",
    )


# ---------------------------------------------------------------------------
# agg_durbin_watson
# ---------------------------------------------------------------------------


@query(
    "agg_durbin_watson",
    oracle="""
    WITH day AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS tot
      FROM events GROUP BY 1),
    x AS (
      SELECT day, tot,
             CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS xi
      FROM day),
    mo AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(xi) AS BIGINT) AS sx,
             CAST(sum(tot) AS BIGINT) AS sy,
             CAST(sum(xi * xi) AS BIGINT) AS sxx,
             CAST(sum(xi * tot) AS BIGINT) AS sxy
      FROM x),
    e AS (
      SELECT day,
             n * (n * sxx - sx * sx) * tot
             - (n * sxx - sx * sx) * sy
             - (n * sxy - sx * sy) * (n * xi - sx) AS ev,
             n * sxx - sx * sx AS d, n * sxy - sx * sy AS bnum
      FROM x CROSS JOIN mo),
    lg AS (
      SELECT ev, lag(ev) OVER (ORDER BY day) AS prev, d, bnum
      FROM e),
    s AS (
      SELECT max(d) AS d, max(bnum) AS bnum,
             CAST(count(*) AS BIGINT) AS n_days,
             sum(CAST(ev AS HUGEINT) * ev) AS esq,
             sum(CASE WHEN prev IS NULL THEN NULL
                      ELSE CAST(ev - prev AS HUGEINT) * (ev - prev) END)
               AS dsq
      FROM lg)
    SELECT n_days,
           round(CAST(bnum AS DOUBLE) / CAST(d AS DOUBLE), 6)
             AS slope_cents_per_day,
           round(CAST(dsq AS DOUBLE) / CAST(esq AS DOUBLE), 6) AS dw_stat,
           CAST(CASE WHEN round(CAST(dsq AS DOUBLE) / CAST(esq AS DOUBLE),
                               9) < 1.352
                THEN 1 ELSE 0 END AS BIGINT) AS positive_autocorr_05
    FROM s
    """,
)
def agg_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DURBIN-WATSON TEST for lag-1 autocorrelation of the residuals
    of daily revenue regressed on the day index: DW = SUM (e_t -
    e_t-1)^2 / SUM e_t^2, flagged against the n=30, k'=1 lower 5%
    bound dL = 1.352 (DW below dL = positive residual
    autocorrelation).  The parametric member of the serial-dependence
    triad (agg_runs_test / agg_ljung_box_test) — it tests dependence
    AFTER removing the linear trend those conflate with it.  Sibling:
    agg_durbin_watson_daily is the intercept-only per-type variant on
    quantized daily means; this one detrends and is exact-integer end
    to end.

    Exact residual machinery: with integer moments (n, Sx, Sy, Sxx,
    Sxy) of the (day index, cent total) pairs, D = n*Sxx - Sx^2 and
    the n*D-scaled residual E_t = n*D*y_t - D*Sy - (n*Sxy -
    Sx*Sy)*(n*x_t - Sx) is an exact BIGINT (~3e13 at sf0.1, ~3e14 at
    the sf1x blow-up); the n*D factor cancels in DW, so numerator and
    denominator are exact integer sums of squares (DECIMAL(19,0)
    self-products on Spark / HUGEINT on DuckDB) with ONE double
    division each.  Slope = bnum/D is emitted for direction.

    Shape at 100 TB: groupBy to the 30-row day domain; the row_number
    and lag windows run on that bounded grid; one aggregate ends it —
    the agg_chow_test scan shape."""
    day = _day_cent_totals(spark, sf_dir)
    x = day.select(
        "day",
        "tot",
        F.row_number().over(Window.orderBy("day")).cast("bigint").alias("xi"),
    ).localCheckpoint()
    mo = x.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("xi").cast("bigint").alias("sx"),
        F.sum("tot").cast("bigint").alias("sy"),
        F.expr("CAST(sum(xi * xi) AS BIGINT)").alias("sxx"),
        F.expr("CAST(sum(xi * tot) AS BIGINT)").alias("sxy"),
    )
    e = x.crossJoin(F.broadcast(mo)).select(
        "day",
        F.expr(
            "n * (n * sxx - sx * sx) * tot"
            " - (n * sxx - sx * sx) * sy"
            " - (n * sxy - sx * sy) * (n * xi - sx)"
        ).alias("ev"),
        F.expr("n * sxx - sx * sx").alias("d"),
        F.expr("n * sxy - sx * sy").alias("bnum"),
    )
    lg = e.select(
        "ev", F.lag("ev").over(Window.orderBy("day")).alias("prev"), "d",
        "bnum",
    )
    s = lg.agg(
        F.max("d").alias("d"),
        F.max("bnum").alias("bnum"),
        F.count("*").cast("bigint").alias("n_days"),
        F.expr("sum(CAST(ev AS DECIMAL(19,0)) * ev)").alias("esq"),
        F.expr(
            "sum(CASE WHEN prev IS NULL THEN NULL"
            " ELSE CAST(ev - prev AS DECIMAL(19,0)) * (ev - prev) END)"
        ).alias("dsq"),
    )
    dw_txt = "CAST(dsq AS DOUBLE) / CAST(esq AS DOUBLE)"
    return s.selectExpr(
        "n_days",
        "round(CAST(bnum AS DOUBLE) / CAST(d AS DOUBLE), 6)"
        " AS slope_cents_per_day",
        f"round({dw_txt}, 6) AS dw_stat",
        f"CAST(CASE WHEN round({dw_txt}, 9) < 1.352 THEN 1 ELSE 0 END"
        " AS BIGINT) AS positive_autocorr_05",
    )


# ---------------------------------------------------------------------------
# agg_grubbs_outlier
# ---------------------------------------------------------------------------


@query(
    "agg_grubbs_outlier",
    oracle="""
    WITH day AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS tot
      FROM events GROUP BY 1),
    mo2 AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(tot) AS BIGINT) AS s,
             CAST(sum(CAST(tot AS HUGEINT) * tot) AS HUGEINT) AS s2
      FROM day),
    dev AS (
      SELECT day.day, abs(n * tot - s) AS ad, n, s,
             CAST(n AS HUGEINT) * s2 - CAST(s AS HUGEINT) * s AS c
      FROM day CROSS JOIN mo2),
    pick AS (
      SELECT day AS outlier_day, ad, n, c,
             row_number() OVER (ORDER BY ad DESC, day) AS rn
      FROM dev)
    SELECT n AS n_days, outlier_day,
           round(CAST(ad AS DOUBLE) / CAST(n AS DOUBLE), 6)
             AS outlier_dev_cents,
           round(CAST(ad AS DOUBLE)
                 * sqrt(CAST(n - 1 AS DOUBLE)
                        / (CAST(n AS DOUBLE) * CAST(c AS DOUBLE))), 6)
             AS g_stat,
           CAST(CASE WHEN round(CAST(ad AS DOUBLE)
                 * sqrt(CAST(n - 1 AS DOUBLE)
                        / (CAST(n AS DOUBLE) * CAST(c AS DOUBLE))), 9)
                     >= 2.9085 THEN 1 ELSE 0 END AS BIGINT)
             AS significant_05
    FROM pick WHERE rn = 1
    """,
)
def agg_grubbs_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRUBBS MAXIMUM-STUDENTIZED-DEVIATE TEST: is the most extreme
    of the 30 daily revenue totals a statistical outlier?
    G = max|y_d - ybar| / s, flagged against the n = 30 two-sided 5%
    critical value 2.9085 (a fixture constant — the events table
    spans exactly 30 days at every sf, per the round-8 note; the
    docstring records the dependence).  Complements
    win_changepoint_pelt_1d (level SHIFTS) with a single-day SPIKE
    detector on the same series, and names WHICH day.  Sibling:
    agg_grubbs_test screens per-event values within each type; this
    one tests the aggregated day series where a revenue-ops anomaly
    actually surfaces.

    Exactness: the n-scaled deviation |n*y_d - S| is exact BIGINT;
    n*S2 - S^2 is exact via DECIMAL(19,0)/HUGEINT self-products (the
    round-7 operand-width kernel rule — BIGINT would overflow at the
    sf1x blow-up); argmax day is a row_number pick over (dev DESC,
    day) — the round-8 min_by-tuple workaround.  G = M * sqrt((n-1) /
    (n*c)) is one shared-text IEEE expression (sqrt is correctly
    rounded, so bit-identical), round(6) output, round(9) gate.

    Shape at 100 TB: one groupBy to the day domain; the deviation
    scan, argmax window, and final filter all run on 30 rows."""
    day = _day_cent_totals(spark, sf_dir)
    mo2 = day.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("tot").cast("bigint").alias("s"),
        F.expr("sum(CAST(tot AS DECIMAL(19,0)) * tot)").alias("s2"),
    )
    dev = day.crossJoin(F.broadcast(mo2)).select(
        "day",
        F.expr("abs(n * tot - s)").alias("ad"),
        "n",
        F.expr(
            "CAST(n AS DECIMAL(19,0)) * s2 - CAST(s AS DECIMAL(19,0)) * s"
        ).alias("c"),
    )
    pick = dev.select(
        F.col("day").alias("outlier_day"),
        "ad",
        "n",
        "c",
        F.row_number()
        .over(Window.orderBy(F.col("ad").desc(), "day"))
        .alias("rn"),
    ).where("rn = 1")
    g_txt = (
        "CAST(ad AS DOUBLE)"
        " * sqrt(CAST(n - 1 AS DOUBLE)"
        " / (CAST(n AS DOUBLE) * CAST(c AS DOUBLE)))"
    )
    return pick.selectExpr(
        "n AS n_days",
        "outlier_day",
        "round(CAST(ad AS DOUBLE) / CAST(n AS DOUBLE), 6)"
        " AS outlier_dev_cents",
        f"round({g_txt}, 6) AS g_stat",
        f"CAST(CASE WHEN round({g_txt}, 9) >= 2.9085 THEN 1 ELSE 0 END"
        " AS BIGINT) AS significant_05",
    )


# ---------------------------------------------------------------------------
# agg_dow_anova
# ---------------------------------------------------------------------------


@query(
    "agg_dow_anova",
    oracle="""
    WITH day AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS tot
      FROM events GROUP BY 1),
    g AS (
      SELECT dayofweek(day) AS dow, CAST(count(*) AS BIGINT) AS ng,
             CAST(sum(tot) AS BIGINT) AS sg,
             CAST(sum(CAST(tot AS HUGEINT) * tot) AS HUGEINT) AS qg
      FROM day GROUP BY 1),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(ng) AS BIGINT) AS n,
             CAST(sum(sg) AS BIGINT) AS s
      FROM g),
    chk AS (
      SELECT g.dow, g.ng, g.sg, g.qg, tot.n AS n_full, tot.s
      FROM g CROSS JOIN tot
      WHERE 60 % g.ng = 0 AND 60 % tot.n = 0),
    parts AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(ng) AS BIGINT) AS n,
             sum(ng * (CAST((60 // ng) * sg - (60 // n_full) * s
                            AS HUGEINT)
                       * ((60 // ng) * sg - (60 // n_full) * s)))
               AS ssb3600,
             sum(3600 * CAST(qg AS HUGEINT)
                 - (3600 // ng) * CAST(sg AS HUGEINT) * sg) AS ssw3600
      FROM chk)
    SELECT n AS n_days, k AS k_groups,
           round(CAST(ssb3600 AS DOUBLE) * CAST(n - k AS DOUBLE)
                 / (CAST(ssw3600 AS DOUBLE) * CAST(k - 1 AS DOUBLE)), 6)
             AS f_stat,
           round(CAST(ssb3600 AS DOUBLE)
                 / CAST(ssb3600 + ssw3600 AS DOUBLE), 6) AS eta_sq,
           CAST(CASE WHEN round(CAST(ssb3600 AS DOUBLE)
                               * CAST(n - k AS DOUBLE)
                 / (CAST(ssw3600 AS DOUBLE) * CAST(k - 1 AS DOUBLE)), 9)
                     >= 2.528 THEN 1 ELSE 0 END AS BIGINT)
             AS significant_05
    FROM parts
    """,
)
def agg_dow_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-WAY ANOVA OF DAILY REVENUE BY DAY-OF-WEEK — the weekly-
    seasonality F-test: do the 7 weekday groups of the 30 daily cent
    totals share a mean?  Completes the serial-structure toolkit
    (runs/DW/Ljung-Box detect dependence; this ATTRIBUTES it to the
    weekly cycle) and differs from agg_anova_oneway (per-event values
    by type) in both grid and question.  eta_sq = SSB/SST is the
    variance share the weekly cycle explains.  Sibling:
    agg_seasonality_strength reads the HOUR-of-day eta^2 per type
    (shared-double arithmetic); this tests the WEEK cycle on the
    day grid with exact integers and an F decision.

    EXACT integer sums of squares via the lcm trick: with group
    sizes ng in {4, 5} (30 consecutive days) and N = 30, every group
    deviation 60*(ybar_g - ybar) = (60/ng)*Sg - (60/N)*S is an exact
    BIGINT because ng and N divide 60; 3600*SSB = sum ng*e_g^2 and
    3600*SSW = sum 3600*Qg - (3600/ng)*Sg^2 are exact HUGEINT /
    Spark-DECIMAL integers and the 3600 cancels in F and eta_sq —
    ONE double division each.  The divisibility precondition is
    ENFORCED in-plan: groups are filtered through 60 % ng = 0 AND
    60 % N = 0, so a future fixture with a different day span makes
    the result visibly wrong (missing groups change k) rather than
    silently inexact — and the 30-day-span pytest pins it.

    Shape at 100 TB: one groupBy to the day domain, a 7-row group
    aggregate, constant work after."""
    day = _day_cent_totals(spark, sf_dir)
    g = day.groupBy(F.expr("dayofweek(day)").alias("dow")).agg(
        F.count("*").cast("bigint").alias("ng"),
        F.sum("tot").cast("bigint").alias("sg"),
        F.expr("sum(CAST(tot AS DECIMAL(19,0)) * tot)").alias("qg"),
    ).localCheckpoint()
    tot = g.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("ng").cast("bigint").alias("n"),
        F.sum("sg").cast("bigint").alias("s"),
    )
    chk = (
        g.crossJoin(F.broadcast(tot))
        .where(F.expr("60 % ng = 0 AND 60 % n = 0"))
        .selectExpr("dow", "ng", "sg", "qg", "n AS n_full", "s")
    )
    # k and n are recomputed POST-filter: if the divisibility gate
    # ever drops a group, k_groups/n_days visibly shrink instead of
    # silently reporting full-looking counts beside truncated sums
    # (round-9 self-review catch). The grand-mean terms keep the
    # FULL-series n/s (n_full), which is what e_g is defined on.
    parts = chk.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("ng").cast("bigint").alias("n"),
        F.expr(
            "sum(ng * (CAST((60 div ng) * sg - (60 div n_full) * s"
            " AS DECIMAL(19,0))"
            " * ((60 div ng) * sg - (60 div n_full) * s)))"
        ).alias("ssb3600"),
        F.expr(
            "sum(3600 * CAST(qg AS DECIMAL(28,0))"
            " - (3600 div ng) * (CAST(sg AS DECIMAL(19,0)) * sg))"
        ).alias("ssw3600"),
    )
    f_txt = (
        "CAST(ssb3600 AS DOUBLE) * CAST(n - k AS DOUBLE)"
        " / (CAST(ssw3600 AS DOUBLE) * CAST(k - 1 AS DOUBLE))"
    )
    return parts.selectExpr(
        "n AS n_days",
        "k AS k_groups",
        f"round({f_txt}, 6) AS f_stat",
        "round(CAST(ssb3600 AS DOUBLE)"
        " / CAST(ssb3600 + ssw3600 AS DOUBLE), 6) AS eta_sq",
        f"CAST(CASE WHEN round({f_txt}, 9) >= 2.528 THEN 1 ELSE 0 END"
        " AS BIGINT) AS significant_05",
    )


# ---------------------------------------------------------------------------
# agg_sample_entropy
# ---------------------------------------------------------------------------


@query(
    "agg_sample_entropy",
    oracle="""
    WITH daily AS (
      SELECT CAST(CAST(ts AS DATE) AS DATE) AS day,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS tot
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
    idx AS (
      SELECT row_number() OVER (ORDER BY day) AS i, tot FROM daily),
    tol AS (
      SELECT CAST(list_extract(list_sort(list(ad)),
               CAST((count(*) + 1) // 2 AS INT)) AS BIGINT) AS r
      FROM (SELECT abs(a.tot - b.tot) AS ad
            FROM idx a JOIN idx b ON b.i = a.i + 1) z),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM idx),
    pairs AS (
      SELECT a.i AS ia, b.i AS ib,
             CASE WHEN abs(a.tot - b.tot) <= t.r THEN 1 ELSE 0 END AS m1
      FROM idx a JOIN idx b ON b.i > a.i CROSS JOIN tol t),
    m AS (
      SELECT CASE WHEN p1.m1 = 1 AND p2.m1 = 1 THEN 1 ELSE 0 END AS m2,
             CASE WHEN p1.m1 = 1 AND p2.m1 = 1 AND p3.m1 = 1
                  THEN 1 ELSE 0 END AS m3
      FROM pairs p1
      JOIN pairs p2 ON p2.ia = p1.ia + 1 AND p2.ib = p1.ib + 1
      JOIN pairs p3 ON p3.ia = p1.ia + 2 AND p3.ib = p1.ib + 2
      CROSS JOIN nn WHERE p1.ib <= nn.n - 2),
    c AS (
      SELECT CAST(sum(m2) AS BIGINT) AS b2,
             CAST(sum(m3) AS BIGINT) AS a3
      FROM m)
    SELECT nn.n AS n_days, tol.r AS tolerance_cents,
           c.b2 AS template_matches_m2, c.a3 AS template_matches_m3,
           CASE WHEN c.a3 = 0 OR c.b2 = 0 THEN NULL
                ELSE round(ln(CAST(c.b2 AS DOUBLE) / c.a3), 6)
           END AS sample_entropy
    FROM c CROSS JOIN nn CROSS JOIN tol
    """,
)
def agg_sample_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLE ENTROPY (SampEn, m=2, Richman-Moorman) of the daily
    purchase-revenue series — the series-complexity measure
    physiology and finance use to distinguish regular oscillation
    (low SampEn) from structureless noise (high): the negative log
    of the conditional probability that two length-2 templates
    matching within tolerance r still match when extended to length
    3.  Tolerance r is the MEDIAN absolute day-over-day change — a
    low-median integer pick (the repo's median convention), so the
    whole match computation is exact integer comparisons.  Sibling
    differentiation: win_permutation_entropy ranks ORDER patterns
    (ordinal), agg_spectral_entropy measures frequency spread;
    SampEn is amplitude-aware template recurrence — the three answer
    different regularity questions.

    Parity: template matches are exact 0/1 integers built from the
    Chebyshev-distance pair grid (|days|^2 bounded); B(2) and A(3)
    are exact counts over templates starting <= n-2 (both the
    length-2 match and its extension are always defined — the
    Richman-Moorman start convention); the single ln of their exact
    ratio is the one
    float (cross-libm drift < 1e-9 for these args — the NDCG
    precedent), round(6); NULL when no template extends (SampEn
    undefined), decided identically on both engines.

    Shape at 100 TB: one scan -> day-domain aggregate; the pair grid
    and self-joins run on the bounded domain."""
    daily = _purchase_day_totals(spark, sf_dir)
    w = Window.orderBy("day")
    idx = daily.select(
        F.row_number().over(w).alias("i"), "tot"
    ).localCheckpoint()  # 30-row indexed series, referenced 4x
    a = idx.select(F.col("i").alias("ia"), F.col("tot").alias("ta"))
    b = idx.select(F.col("i").alias("ib"), F.col("tot").alias("tb"))
    diffs = a.join(b, F.col("ib") == F.col("ia") + 1).select(
        F.abs(F.col("ta") - F.col("tb")).alias("ad")
    )
    tol = diffs.agg(
        F.expr(
            "CAST(element_at(sort_array(collect_list(ad)),"
            " CAST((count(ad) + 1) div 2 AS INT)) AS BIGINT)"
        ).alias("r")
    )
    pairs = (
        a.join(b, F.col("ib") > F.col("ia"))
        .crossJoin(F.broadcast(tol))
        .select(
            "ia",
            "ib",
            F.expr(
                "CASE WHEN abs(ta - tb) <= r THEN 1 ELSE 0 END"
            ).alias("m1"),
        )
        .localCheckpoint()  # bounded pair grid, self-joined twice
    )
    nn = idx.agg(F.count("*").cast("bigint").alias("n"))
    p1 = pairs
    p2 = pairs.select(
        F.col("ia").alias("ia2"), F.col("ib").alias("ib2"),
        F.col("m1").alias("m1b"),
    )
    p3 = pairs.select(
        F.col("ia").alias("ia3"), F.col("ib").alias("ib3"),
        F.col("m1").alias("m1c"),
    )
    m = (
        p1.crossJoin(F.broadcast(nn))
        .where(F.expr("ib <= n - 2"))
        .join(
            p2,
            (F.col("ia2") == F.col("ia") + 1)
            & (F.col("ib2") == F.col("ib") + 1),
        )
        .join(
            p3,
            (F.col("ia3") == F.col("ia") + 2)
            & (F.col("ib3") == F.col("ib") + 2),
        )
        .selectExpr(
            "CASE WHEN m1 = 1 AND m1b = 1 THEN 1 ELSE 0 END AS m2",
            "CASE WHEN m1 = 1 AND m1b = 1 AND m1c = 1 THEN 1 ELSE 0 END"
            " AS m3",
        )
    )
    c = m.agg(
        F.expr("CAST(sum(m2) AS BIGINT)").alias("b2"),
        F.expr("CAST(sum(m3) AS BIGINT)").alias("a3"),
    )
    return (
        c.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(tol))
        .selectExpr(
            "n AS n_days",
            "r AS tolerance_cents",
            "b2 AS template_matches_m2",
            "a3 AS template_matches_m3",
            "CASE WHEN a3 = 0 OR b2 = 0 THEN NULL"
            " ELSE round(ln(CAST(b2 AS DOUBLE) / a3), 6) END"
            " AS sample_entropy",
        )
    )


# ---------------------------------------------------------------------------
# agg_forecast_mase
# ---------------------------------------------------------------------------


def _mase_sql(dialect: str) -> str:
    cents = (
        "CAST(round(value * 100, 0) AS BIGINT)"
        if dialect == "duck"
        else "CAST(value * 100 + 0.5 AS BIGINT)"
    )
    head = f"""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(sum({cents}) AS BIGINT) AS y
      FROM events GROUP BY 1, 2),
    l AS MATERIALIZED (
      SELECT event_type, day, y,
             lag(y, 1) OVER (PARTITION BY event_type ORDER BY day) AS y1,
             lag(y, 7) OVER (PARTITION BY event_type ORDER BY day) AS y7
      FROM d)
    """
    tail = """
    WITH m AS (
      SELECT event_type,
             CAST(count(y1) AS BIGINT) AS n1,
             CAST(sum(abs(y - y1)) AS BIGINT) AS s1,
             CAST(count(y7) AS BIGINT) AS n7,
             CAST(sum(CASE WHEN y7 IS NOT NULL THEN abs(y - y7) END)
                  AS BIGINT) AS s7,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS s
      FROM l GROUP BY event_type),
    mm AS (
      SELECT l.event_type,
             CAST(sum(abs(m.n * l.y - m.s)) AS BIGINT) AS smean
      FROM l JOIN m ON l.event_type = m.event_type
      GROUP BY l.event_type),
    j AS (
      SELECT m.event_type, m.n1, m.s1, m.n7, m.s7, m.n, mm.smean
      FROM m JOIN mm ON m.event_type = mm.event_type)
    SELECT event_type, 'seasonal_naive_7' AS method,
           round(CAST(s7 AS DOUBLE) / n7, 6) AS mae_cents,
           round(CAST(s7 AS DOUBLE) * n1 / (n7 * s1), 6) AS mase
    FROM j
    UNION ALL
    SELECT event_type, 'mean_forecast' AS method,
           round(CAST(smean AS DOUBLE) / (n * n), 6) AS mae_cents,
           round(CAST(smean AS DOUBLE) * n1 / (CAST(n AS DOUBLE) * n * s1), 6)
             AS mase
    FROM j
    ORDER BY event_type, method
    """
    if dialect == "duck":
        return head + ", " + tail.split("WITH ", 1)[1]
    return head.replace(" MATERIALIZED", ""), tail


def _mase_oracle() -> str:
    return _mase_sql("duck")


@query("agg_forecast_mase", oracle=_mase_oracle())
def agg_forecast_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MASE (mean absolute SCALED error, Hyndman-Koehler) for two
    baseline forecasters of the per-type daily revenue series —
    seasonal-naive-7 and the constant mean — each scaled by the
    in-sample naive-1 MAE: the scale-free forecast-quality number
    that compares across event types with wildly different volumes
    (MASE < 1 beats the naive random walk; > 1 loses to it).
    Completes the forecasting family: win_seasonal_naive_mae reports
    the RAW seasonal MAE per type; this op makes the numbers
    comparable and adds the mean-forecast baseline every evaluation
    should include.

    Parity: daily cents are exact integers; every error sum is an
    exact BIGINT (the mean-forecast errors avoid division entirely
    via |n*y_t - S| — the n-scaled-moment trick); each output divides
    exact integers once in shared text, round(6).

    Shape at 100 TB: one map-side-combined day collapse, lag windows
    partitioned by event_type over the 30-day domain, two bounded
    aggregates; the lagged day frame `l` (|types| x 30 rows) is
    localCheckpoint-ed before `m` and `mm` both reference it (the
    bounded-intermediate rule — the DuckDB twin marks the same CTE
    MATERIALIZED), pinned at 0 post-ckpt scans in test_plans.py."""
    ev = table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("events")
    head, tail = _mase_sql("spark")
    lf = spark.sql(head + "\n    SELECT * FROM l").localCheckpoint()
    lf.createOrReplaceTempView("mase_l_ckpt")
    return spark.sql(tail.replace("FROM l", "FROM mase_l_ckpt l"))
