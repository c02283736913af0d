"""Round-9 operators — window-safe names (agg_/win_/graph_) by the
registration rule: round 9's verification window is fully claimed by
the round-8 backlog plus the three declared queue ops, so everything
here queues for round 10's window without displacing any shipped op
(registry.py ordered_queries; the round-8 third-session precedent).

Each op completes an in-tree family with the established exact-parity
machinery:

- agg_cramer_von_mises_2samp — the BODY-sensitive integral companion
  to agg_ks_test_two_sample (sup-norm) and agg_anderson_darling_2samp
  (tail-weighted): same distinct-cents value-domain collapse, doubled
  midranks, per-block closed forms, all-integer numerators.
- agg_chow_test — the structural-break F-test that turns the
  changepoint ops' localization into an inference decision, on the
  day-domain OLS closed forms (agg_granger_causality_1lag's centered
  moments, DECIMAL(19,0) squares per the round-7/8 kernel notes).
- agg_benjamini_hochberg — multiple-testing control over the 10
  event-type-pair exact sign tests: every p-value is a dyadic
  rational computed by the integer-exact C(n,k) fold
  (agg_sign_test_paired), so the whole BH step-up procedure runs on
  bit-identical doubles on both engines.
- graph_hits_bipartite — Kleinberg HITS on the customer->part
  purchase bipartite graph: the ranking view the co-purchase
  projections (graph_adamic_adar etc.) cannot give, with the
  PageRank-style per-iteration quantization (mean-1 scaling keeps the
  round(9) quantum 7 orders above reorder drift).
- win_siegel_repeated_median — 50%-breakdown robust trend
  (repeated-median slope), strengthening win_theil_sen_slope (29%)
  with the exact LOW-median picks of agg_median_polish_grid.

Reference analogue: app.py ships no statistical QA surface; these are
audit ops a Spark-native pipeline runs on the same scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.domain import dist_exclusive_prefix
from ..registry import query
from ..tables import session_artifact, table

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


@session_artifact
def _purchase_day_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 30-row (day, tot) frame of exact integer-cent PURCHASE
    revenue per day, localCheckpoint-ed once per (application,
    sf_dir) — shared by win_revenue_up_streaks,
    agg_cvar_expected_shortfall, and agg_sample_entropy (the round-10
    self-review found three verbatim copies of the filter + money-cast
    + groupBy; one helper removes the rescans and the drift risk)."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(F.expr("CAST(ts AS DATE)").alias("day"))
        .agg(
            F.expr(
                "CAST(sum(CAST(value * 100 + 0.5 AS BIGINT))"
                " AS BIGINT)"
            ).alias("tot")
        )
        .localCheckpoint()
    )


@session_artifact
def _day_type_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DENSIFIED (day, event_type, c) integer-cent grid — missing
    cells are true zeros (the blocked-cells rule) — checkpointed once
    per (application, sf_dir); shared by agg_cronbach_alpha and
    agg_borda_copeland_ranks (round-10 self-review: two verbatim
    ~20-line grid constructions)."""
    ev = table(spark, sf_dir, "events")
    cell0 = (
        ev.groupBy(F.expr("CAST(ts AS DATE)").alias("day"), "event_type")
        .agg(
            F.expr(
                "CAST(sum(CAST(value * 100 + 0.5 AS BIGINT))"
                " AS BIGINT)"
            ).alias("c")
        )
        .localCheckpoint()
    )
    days = cell0.select("day").distinct()
    types = cell0.select("event_type").distinct()
    return (
        days.crossJoin(F.broadcast(types))
        .join(cell0, ["day", "event_type"], "left")
        .select(
            "day",
            "event_type",
            F.coalesce("c", F.lit(0)).alias("c"),
        )
        .localCheckpoint()
    )


@session_artifact
def _cv_value_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distinct-cents (c, f1, f2) click/view frequency blocks —
    the shared substrate of the two-sample rank family (CvM,
    Ansari-Bradley, Brunner-Munzel), localCheckpoint-ed once per
    (application, sf_dir)."""
    ev = table(spark, sf_dir, "events")
    r = ev.where(F.col("event_type").isin("click", "view")).select(
        "event_type",
        F.expr("CAST(value * 100 + 0.5 AS BIGINT)").alias("c"),
    )
    return (
        r.groupBy("c")
        .agg(
            F.sum(
                F.expr("CASE WHEN event_type = 'click' THEN 1 ELSE 0 END")
            )
            .cast("bigint")
            .alias("f1"),
            F.sum(
                F.expr("CASE WHEN event_type = 'view' THEN 1 ELSE 0 END")
            )
            .cast("bigint")
            .alias("f2"),
        )
        .localCheckpoint()
    )



# ---------------------------------------------------------------------------
# agg_cramer_von_mises_2samp
# ---------------------------------------------------------------------------


@query(
    "agg_cramer_von_mises_2samp",
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
      SELECT CAST(sum(f1) AS BIGINT) AS n1,
             CAST(sum(f2) AS BIGINT) AS n2,
             CAST(sum(f1) + sum(f2) AS BIGINT) AS n
      FROM blk),
    cum AS MATERIALIZED (
      SELECT c, f1, f2,
             2 * (sum(f1 + f2) OVER w - (f1 + f2)) + (f1 + f2) + 1 AS rr,
             sum(f1) OVER w - f1 AS a1,
             sum(f2) OVER w - f2 AS a2
      FROM blk
      WINDOW w AS (ORDER BY c ROWS UNBOUNDED PRECEDING)),
    contrib AS (
      SELECT
        CAST(f1 * rr * rr
             - 2 * rr * ((a1 + f1) * (a1 + f1 + 1) - a1 * (a1 + 1))
             + 4 * (((a1 + f1) * (a1 + f1 + 1) * (2 * (a1 + f1) + 1)) // 6
                    - (a1 * (a1 + 1) * (2 * a1 + 1)) // 6)
             AS DECIMAL(28,0)) AS ca,
        CAST(f2 * rr * rr
             - 2 * rr * ((a2 + f2) * (a2 + f2 + 1) - a2 * (a2 + 1))
             + 4 * (((a2 + f2) * (a2 + f2 + 1) * (2 * (a2 + f2) + 1)) // 6
                    - (a2 * (a2 + 1) * (2 * a2 + 1)) // 6)
             AS DECIMAL(28,0)) AS cb
      FROM cum),
    s AS (
      SELECT CAST(sum(ca) AS DECIMAL(38,0)) AS sa,
             CAST(sum(cb) AS DECIMAL(38,0)) AS sb,
             CAST(count(*) AS BIGINT) AS n_blocks
      FROM contrib)
    SELECT tot.n1 AS n_click, tot.n2 AS n_view, s.n_blocks,
           round((tot.n1 * CAST(s.sa AS DOUBLE)
                  + tot.n2 * CAST(s.sb AS DOUBLE))
                 / CAST(4 * tot.n1 * tot.n2 * tot.n AS DOUBLE)
                 - CAST(4 * tot.n1 * tot.n2 - 1 AS DOUBLE)
                   / CAST(6 * tot.n AS DOUBLE), 6) AS t_stat,
           CAST(CASE WHEN
                  round((tot.n1 * CAST(s.sa AS DOUBLE)
                         + tot.n2 * CAST(s.sb AS DOUBLE))
                        / CAST(4 * tot.n1 * tot.n2 * tot.n AS DOUBLE)
                        - CAST(4 * tot.n1 * tot.n2 - 1 AS DOUBLE)
                          / CAST(6 * tot.n AS DOUBLE), 9) >= 0.461
                THEN 1 ELSE 0 END AS BIGINT) AS significant_05
    FROM s CROSS JOIN tot
    """,
)
def agg_cramer_von_mises_2samp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-SAMPLE CRAMER-VON MISES TEST (midrank/ties version) of the
    click vs view value distributions — the INTEGRAL-distance member
    of the in-tree GOF triad: KS (agg_ks_test_two_sample) sees the
    worst single point, Anderson-Darling (agg_anderson_darling_2samp)
    amplifies the tails, CvM weighs the WHOLE body equally:
    T = U/(n1*n2*N) - (4*n1*n2 - 1)/(6*N) with
    U = n1*SUM_i (r_i - i)^2 + n2*SUM_j (s_j - j)^2 over each
    sample's combined-vs-own rank discrepancies (Anderson 1962), and
    the asymptotic 5% critical value 0.461.

    EXACT rank machinery, no row-level sort: the fact table collapses
    to the distinct-cents value DOMAIN; each tied block [lo, hi]
    carries one DOUBLED midrank R = 2*cum_less + block + 1 (exact
    BIGINT — the agg_mann_whitney_u move), and the block's
    SUM (R - 2i)^2 over its members' own-sample positions
    i = a+1..a+f collapses to the closed form
    f*R^2 - 2R*(T1(a+f) - T1(a)) + 4*(S2(a+f) - S2(a)) with
    T1(x) = x(x+1) and S2(x) = x(x+1)(2x+1)/6 — consecutive-integer
    products whose /6 is exact integer division. Every numerator is
    an exact integer (per-block in BIGINT to ~1.4e6 positions, summed
    in DECIMAL(38,0)); the only doubles are the final shared-text
    expression of DECIMAL->DOUBLE casts (correctly rounded on both
    engines, hence bit-identical), quantized round(9) before the
    critical-value compare.

    Shape at 100 TB: one grouped scan to the value domain, one
    bounded-domain window, one aggregate — the AD/MW shape exactly."""
    blk = _cv_value_blocks(spark, sf_dir)
    tot = blk.agg(
        F.sum("f1").cast("bigint").alias("n1"),
        F.sum("f2").cast("bigint").alias("n2"),
        (F.sum("f1") + F.sum("f2")).cast("bigint").alias("n"),
    )
    w_c = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    cum = blk.select(
        "f1",
        "f2",
        (
            2 * (F.sum(F.col("f1") + F.col("f2")).over(w_c)
                 - (F.col("f1") + F.col("f2")))
            + (F.col("f1") + F.col("f2"))
            + 1
        ).alias("rr"),
        (F.sum("f1").over(w_c) - F.col("f1")).alias("a1"),
        (F.sum("f2").over(w_c) - F.col("f2")).alias("a2"),
    )
    c_tpl = (
        "CAST(f{i} * rr * rr"
        " - 2 * rr * ((a{i} + f{i}) * (a{i} + f{i} + 1) - a{i} * (a{i} + 1))"
        " + 4 * (((a{i} + f{i}) * (a{i} + f{i} + 1)"
        " * (2 * (a{i} + f{i}) + 1)) div 6"
        " - (a{i} * (a{i} + 1) * (2 * a{i} + 1)) div 6)"
        " AS DECIMAL(28,0))"
    )
    s = cum.selectExpr(
        c_tpl.format(i=1) + " AS ca", c_tpl.format(i=2) + " AS cb"
    ).agg(
        F.sum("ca").cast("decimal(38,0)").alias("sa"),
        F.sum("cb").cast("decimal(38,0)").alias("sb"),
        F.count("*").cast("bigint").alias("n_blocks"),
    )
    t_txt = (
        "(n1 * CAST(sa AS DOUBLE) + n2 * CAST(sb AS DOUBLE))"
        " / CAST(4 * n1 * n2 * n AS DOUBLE)"
        " - CAST(4 * n1 * n2 - 1 AS DOUBLE) / CAST(6 * n AS DOUBLE)"
    )
    return s.crossJoin(F.broadcast(tot)).selectExpr(
        "n1 AS n_click",
        "n2 AS n_view",
        "n_blocks",
        f"round({t_txt}, 6) AS t_stat",
        f"CAST(CASE WHEN round({t_txt}, 9) >= 0.461"
        " THEN 1 ELSE 0 END AS BIGINT) AS significant_05",
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
# agg_benjamini_hochberg
# ---------------------------------------------------------------------------

_BH_Q = "CAST(0.10 AS DOUBLE)"  # FDR level

# shared DuckDB CTE chain producing the 10 exact pairwise sign-test
# p-values (type_a, type_b, n, s, p) — the oracle twin of
# _pairwise_signtest_pvalues; agg_holm_bonferroni reuses it
_SIGNTEST_PV_CTES = """daily AS MATERIALIZED (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS tot
      FROM events GROUP BY 1, 2),
    pr AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(sum(CASE WHEN a.tot <> b.tot THEN 1 ELSE 0 END)
                  AS BIGINT) AS n,
             CAST(sum(CASE WHEN a.tot > b.tot THEN 1 ELSE 0 END)
                  AS BIGINT) AS s
      FROM daily a JOIN daily b
        ON a.day = b.day AND a.event_type < b.event_type
      GROUP BY 1, 2),
    ks AS (
      SELECT pr.type_a, pr.type_b, pr.n, pr.s, k.k,
             list_reduce(
               list_prepend(CAST(1 AS BIGINT),
                            CAST(generate_series(1, k.k) AS BIGINT[])),
               (acc, i) -> acc * (pr.n - i + 1) // i) AS binom
      FROM pr CROSS JOIN
           (SELECT unnest(generate_series(0, 60)) AS k) k
      WHERE k.k <= least(pr.s, pr.n - pr.s)),
    pv AS (
      SELECT type_a, type_b, n, s,
             least(CAST(1 AS DOUBLE),
                   2 * CAST(sum(binom) AS DOUBLE)
                   / (CAST(1 AS BIGINT) << CAST(n AS INTEGER))) AS p
      FROM ks GROUP BY type_a, type_b, n, s)"""


@query(
    "agg_benjamini_hochberg",
    oracle=f"""
    WITH {_SIGNTEST_PV_CTES},
    rk AS (
      SELECT *,
             row_number() OVER (ORDER BY p, type_a, type_b) AS i,
             count(*) OVER () AS m
      FROM pv),
    ok AS (
      SELECT *,
             CASE WHEN p <= CAST(i AS DOUBLE) * {_BH_Q} / m
                  THEN i ELSE 0 END AS oki
      FROM rk)
    SELECT type_a, type_b, n AS n_informative, s AS n_a_greater,
           round(p, 9) AS p_value,
           CAST(i AS BIGINT) AS bh_rank,
           round(CAST(i AS DOUBLE) * {_BH_Q} / m, 9) AS bh_threshold,
           CAST(CASE WHEN i <= max(oki) OVER () THEN 1 ELSE 0 END
                AS BIGINT) AS rejected
    FROM ok
    """,
)
def agg_benjamini_hochberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENJAMINI-HOCHBERG FDR CONTROL over the family of 10 exact
    paired sign tests between every pair of event types (daily-cents
    comparisons across the 30-day grid) — the multiple-testing step
    every in-tree test family eventually needs: run 10 hypothesis
    tests at alpha = 0.05 each and ~0.4 false positives are EXPECTED;
    BH's step-up rule (reject the largest i with p_(i) <= i*q/m,
    and everything ranked below it) bounds the false-discovery RATE
    at q = 0.10.

    Why this family: each pairwise p-value is the EXACT two-sided
    binomial sign-test probability p = min(1, 2*2^-n*SUM_(j<=min(s,
    n-s)) C(n,j)) computed by the integer-exact stepwise C(n,k) fold
    (agg_sign_test_paired's machinery — every partial product is
    itself a binomial coefficient). With n <= 30 days, p is a DYADIC
    rational exactly representable in a double, so the sort, the
    step-up comparisons, and the rejection front are decided on
    bit-identical values on both engines — a multiple-testing
    procedure with literally zero float-parity surface.

    Shape at 100 TB: the fact table collapses to the |types| x 30
    day grid in one grouped scan; the pair self-join, coefficient
    folds, and both windows run on the bounded grid (10 pairs x <=16
    coefficient rows). The unpartitioned windows span 10 rows."""
    pv = _pairwise_signtest_pvalues(spark, sf_dir)
    w_rank = Window.orderBy("p", "type_a", "type_b")
    w_all = Window.partitionBy()
    rk = pv.withColumn("i", F.row_number().over(w_rank)).withColumn(
        "m", F.count("*").over(w_all)
    )
    ok = rk.withColumn(
        "oki",
        F.expr(
            f"CASE WHEN p <= CAST(i AS DOUBLE) * {_BH_Q} / m"
            " THEN i ELSE 0 END"
        ),
    ).withColumn("maxok", F.max("oki").over(w_all))
    return ok.selectExpr(
        "type_a",
        "type_b",
        "n AS n_informative",
        "s AS n_a_greater",
        "round(p, 9) AS p_value",
        "CAST(i AS BIGINT) AS bh_rank",
        f"round(CAST(i AS DOUBLE) * {_BH_Q} / m, 9) AS bh_threshold",
        "CAST(CASE WHEN i <= maxok THEN 1 ELSE 0 END AS BIGINT)"
        " AS rejected",
    )


def _pairwise_signtest_pvalues(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The 10 exact pairwise sign-test p-values (type_a, type_b, n, s,
    p) over the day grid — factored so multiple-testing procedures
    (agg_benjamini_hochberg's FDR step-up, agg_holm_bonferroni's FWER
    step-down) share one dyadic-exact p family."""
    ev = table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(F.expr("CAST(value * 100 + 0.5 AS BIGINT)"))
            .cast("bigint")
            .alias("tot")
        )
        .localCheckpoint()  # bounded: |types| x 30 grid, read twice
    )
    a = daily.select(
        F.col("event_type").alias("type_a"),
        "day",
        F.col("tot").alias("ta"),
    )
    b = daily.select(
        F.col("event_type").alias("type_b"),
        "day",
        F.col("tot").alias("tb"),
    )
    pr = (
        a.join(b, "day")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.sum(F.expr("CASE WHEN ta <> tb THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("n"),
            F.sum(F.expr("CASE WHEN ta > tb THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("s"),
        )
    )
    ks = (
        pr.crossJoin(
            F.broadcast(spark.range(0, 61).select(F.col("id").alias("k")))
        )
        .where(F.col("k") <= F.least(F.col("s"), F.col("n") - F.col("s")))
        .selectExpr(
            "type_a",
            "type_b",
            "n",
            "s",
            # k = 0 must short-circuit: Spark's sequence(1, 0) steps
            # DOWN to [1, 0] and the fold would divide by zero
            "CASE WHEN k = 0 THEN CAST(1 AS BIGINT)"
            " ELSE aggregate(sequence(1, CAST(k AS INT)),"
            " CAST(1 AS BIGINT),"
            " (acc, i) -> acc * (n - i + 1) div i) END AS binom",
        )
    )
    return ks.groupBy("type_a", "type_b", "n", "s").agg(
        F.expr(
            "least(CAST(1 AS DOUBLE), 2 * CAST(sum(binom) AS DOUBLE)"
            " / shiftleft(CAST(1 AS BIGINT), CAST(n AS INT)))"
        ).alias("p")
    )


# ---------------------------------------------------------------------------
# win_siegel_repeated_median
# ---------------------------------------------------------------------------


@query(
    "win_siegel_repeated_median",
    oracle="""
    WITH daily AS MATERIALIZED (
      SELECT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) + 1
               AS x,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS y
      FROM events GROUP BY 1),
    sl AS (
      SELECT a.x,
             CAST(b.y - a.y AS DOUBLE) / (b.x - a.x) AS s
      FROM daily a JOIN daily b ON a.x <> b.x),
    med AS (
      SELECT x,
             list_extract(list_sort(list(s)), (count(*) + 1) // 2)
               AS ms
      FROM sl GROUP BY x),
    slope AS (
      SELECT list_extract(list_sort(list(ms)), (count(*) + 1) // 2)
               AS sm,
             CAST(count(*) AS BIGINT) AS n_days
      FROM med),
    icept AS (
      SELECT slope.n_days, slope.sm,
             list_extract(list_sort(list(d.y - slope.sm * d.x)),
                          (count(*) + 1) // 2) AS ic
      FROM daily d CROSS JOIN slope
      GROUP BY slope.n_days, slope.sm)
    SELECT n_days, round(sm, 6) AS siegel_slope,
           round(ic, 6) AS siegel_intercept
    FROM icept
    """,
)
def win_siegel_repeated_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIEGEL REPEATED-MEDIAN trend of daily revenue — the
    50%-BREAKDOWN robust regression: slope = median over days d of
    (median over e != d of the pairwise slope (y_e - y_d)/(e - d)),
    intercept = median of (y_d - slope*d). win_theil_sen_slope's
    single median over all pairs breaks down at 29% contamination;
    the repeated median survives until half the DAYS are corrupted —
    the estimator to reach for when a pipeline incident can poison
    whole stretches of the series (Siegel 1982).

    Exactness: daily totals are exact BIGINT cents; every pairwise
    slope is one division of exact integers (correctly rounded,
    bit-identical on both engines); all three medians use the exact
    LOW-median pick — element_at(sort_array(collect_list(v)),
    (count+1) div 2) / DuckDB list_extract(list_sort(list(v)),
    (count+1)//2), the agg_median_polish_grid convention — so no
    averaging ever mixes two floats. The intercept residuals reuse
    the picked slope double verbatim.

    Shape at 100 TB: the fact table collapses to the bounded day
    domain in one grouped scan; the slope grid is |days|^2 = 900
    rows; medians run per-day (partitioned) then once on the 30-row
    domain. Arrays stay internal (no array output columns)."""
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
        .localCheckpoint()  # bounded day domain, read twice
    )
    a = daily.select(F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = daily.select(F.col("x").alias("xb"), F.col("y").alias("yb"))
    sl = (
        a.join(b, F.col("xa") != F.col("xb"))
        .selectExpr(
            "xa AS x", "CAST(yb - ya AS DOUBLE) / (xb - xa) AS s"
        )
    )
    med = sl.groupBy("x").agg(
        F.expr(
            "element_at(sort_array(collect_list(s)),"
            " CAST((count(s) + 1) div 2 AS INT)) AS ms"
        ).alias("ms")
    )
    slope = med.agg(
        F.expr(
            "element_at(sort_array(collect_list(ms)),"
            " CAST((count(ms) + 1) div 2 AS INT))"
        ).alias("sm"),
        F.count("*").cast("bigint").alias("n_days"),
    )
    icept = (
        daily.crossJoin(F.broadcast(slope))
        .groupBy("n_days", "sm")
        .agg(
            F.expr(
                "element_at(sort_array(collect_list(y - sm * x)),"
                " CAST((count(*) + 1) div 2 AS INT))"
            ).alias("ic")
        )
    )
    return icept.selectExpr(
        "n_days",
        "round(sm, 6) AS siegel_slope",
        "round(ic, 6) AS siegel_intercept",
    )


# ---------------------------------------------------------------------------
# graph_hits_bipartite
# ---------------------------------------------------------------------------

_HITS_ITERS = 4


def _hits_oracle() -> str:
    """Unrolled HITS power iterations as materialized CTEs (a
    recursive CTE cannot reference itself twice per step — the
    graph_pagerank_neardup rule). Each step quantizes the MEAN-1
    scaled scores to round(9) on both engines."""
    ctes = [
        """e AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
    cn AS (SELECT count(DISTINCT c) AS nc FROM e),
    pn AS (SELECT count(DISTINCT p) AS np FROM e),
    h0 AS (SELECT DISTINCT c, CAST(1.0 AS DOUBLE) AS h FROM e)"""
    ]
    for i in range(1, _HITS_ITERS + 1):
        ctes.append(
            f"""a{i}r AS MATERIALIZED (
      SELECT e.p, sum(h.h) AS a
      FROM e JOIN h{i - 1} h ON e.c = h.c GROUP BY e.p),
    a{i}s AS (SELECT sum(a) AS s FROM a{i}r),
    a{i} AS MATERIALIZED (
      SELECT p, round(a * (SELECT np FROM pn) / (SELECT s FROM a{i}s), 9)
               AS a
      FROM a{i}r),
    h{i}r AS MATERIALIZED (
      SELECT e.c, sum(a.a) AS h
      FROM e JOIN a{i} a ON e.p = a.p GROUP BY e.c),
    h{i}s AS (SELECT sum(h) AS s FROM h{i}r),
    h{i} AS MATERIALIZED (
      SELECT c, round(h * (SELECT nc FROM cn) / (SELECT s FROM h{i}s), 9)
               AS h
      FROM h{i}r)"""
        )
    k = _HITS_ITERS
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined},
    topa AS (
      SELECT 'authority' AS role, p AS node_id, a AS score
      FROM a{k} ORDER BY a DESC, p LIMIT 10),
    toph AS (
      SELECT 'hub' AS role, c AS node_id, h AS score
      FROM h{k} ORDER BY h DESC, c LIMIT 10),
    u AS (SELECT * FROM topa UNION ALL SELECT * FROM toph)
    SELECT role, node_id, round(score, 6) AS hits_score,
           CAST(row_number() OVER (PARTITION BY role
                                   ORDER BY score DESC, node_id)
                AS BIGINT) AS rank
    FROM u
    """


@query("graph_hits_bipartite", oracle=_hits_oracle())
def graph_hits_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLEINBERG HITS on the customer -> part purchase BIPARTITE graph
    (4 power iterations): authority(part) = sum of its buyers' hub
    scores, hub(customer) = sum of their parts' authority scores —
    the mutually-reinforcing ranking the one-sided co-purchase
    PROJECTIONS (graph_adamic_adar, graph_triangle_cosupply) cannot
    express, because it couples both sides of the original bipartite
    structure instead of collapsing one away. Converges to the
    principal singular vectors of the incidence matrix; 4 iterations
    on a diameter-2-per-side graph separate the head decisively.

    Parity: each half-iteration L1-normalizes to MEAN 1 (score *
    |side| / sum) and quantizes round(9) — scores sit at magnitude
    ~1, so the 1e-9 quantum is ~8 orders above cross-engine reorder
    drift in the unordered sums (the graph_pagerank_neardup
    argument, strengthened by the scaling: raw 1/N-normalized scores
    at N = 2e4 would leave only 4 safe digits). The oracle unrolls
    the same iterations as materialized CTEs.

    Scale shape: the edge list (DISTINCT buyer-part pairs) is built
    once and localCheckpointed (referenced 2x per iteration — the
    _cosupply_edges rule); every iteration is two shuffle joins +
    two tiny aggregates, lazy-chained with NO driver actions beyond
    the checkpoint; top-10 per side is orderBy+limit
    (TakeOrderedAndProject), ranked after the cut."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    e = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p")
        )
        .distinct()
        .localCheckpoint()
    )
    nc = e.select("c").distinct().count()
    np_ = e.select("p").distinct().count()
    h = e.select("c").distinct().select(
        "c", F.expr("CAST(1.0 AS DOUBLE)").alias("h")
    )
    a = None
    for _ in range(_HITS_ITERS):
        # each half-step frame feeds BOTH its normalizer aggregate and
        # the normalized projection: without the checkpoint the lazy
        # chain re-derives every prior iteration per reference (2x per
        # half-step, ~2^iters total — measured 31 s/run at sf0.1;
        # checkpointed: the chain is linear and a run reads the final
        # bounded node-domain frames). Same rule as _cosupply_edges.
        ar = (
            e.join(h, "c")
            .groupBy("p")
            .agg(F.sum("h").alias("a"))
            .localCheckpoint()
        )
        a_s = ar.agg(F.sum("a").alias("s"))
        a = ar.crossJoin(F.broadcast(a_s)).select(
            "p", F.round(F.col("a") * np_ / F.col("s"), 9).alias("a")
        )
        hr = (
            e.join(a, "p")
            .groupBy("c")
            .agg(F.sum("a").alias("h"))
            .localCheckpoint()
        )
        h_s = hr.agg(F.sum("h").alias("s"))
        h = hr.crossJoin(F.broadcast(h_s)).select(
            "c", F.round(F.col("h") * nc / F.col("s"), 9).alias("h")
        )
    topa = (
        a.orderBy(F.col("a").desc(), "p")
        .limit(10)
        .select(
            F.lit("authority").alias("role"),
            F.col("p").alias("node_id"),
            F.col("a").alias("score"),
        )
    )
    toph = (
        h.orderBy(F.col("h").desc(), "c")
        .limit(10)
        .select(
            F.lit("hub").alias("role"),
            F.col("c").alias("node_id"),
            F.col("h").alias("score"),
        )
    )
    w_r = Window.partitionBy("role").orderBy(F.col("score").desc(), "node_id")
    return (
        topa.unionByName(toph)
        .withColumn("rank", F.row_number().over(w_r).cast("bigint"))
        .select(
            "role",
            "node_id",
            F.round("score", 6).alias("hits_score"),
            "rank",
        )
    )


# ---------------------------------------------------------------------------
# agg_cochran_armitage_trend
# ---------------------------------------------------------------------------


@query(
    "agg_cochran_armitage_trend",
    oracle="""
    WITH daily AS MATERIALIZED (
      SELECT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) + 1
               AS d,
             CAST(count(*) AS BIGINT) AS nd,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS xd
      FROM events GROUP BY 1),
    m AS (
      SELECT CAST(sum(nd) AS BIGINT) AS n,
             CAST(sum(xd) AS BIGINT) AS x,
             CAST(sum(xd * d) AS BIGINT) AS sxd,
             CAST(sum(nd * d) AS BIGINT) AS snd,
             CAST(sum(nd * d * d) AS BIGINT) AS snd2,
             CAST(count(*) AS BIGINT) AS n_days
      FROM daily),
    z AS (
      SELECT n_days, n, x,
             (CAST(n AS DOUBLE) * sxd - CAST(x AS DOUBLE) * snd) / n
               AS tnum,
             (CAST(x AS DOUBLE) / n) * (1.0 - CAST(x AS DOUBLE) / n)
               * (CAST(n AS DOUBLE) * snd2 - CAST(snd AS DOUBLE) * snd)
               / n AS vart
      FROM m)
    SELECT n_days, n AS n_events, x AS n_purchases,
           round(tnum / sqrt(vart), 6) AS z_stat,
           CAST(CASE WHEN abs(round(tnum / sqrt(vart), 9)) > 1.959964
                THEN 1 ELSE 0 END AS BIGINT) AS significant_05
    FROM z
    """,
)
def agg_cochran_armitage_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COCHRAN-ARMITAGE TREND TEST: is the purchase PROPORTION drifting
    linearly across the 30 ordered days? The chi-square independence
    test (agg_chi_square_independence) spends its power on arbitrary
    differences between days; Cochran-Armitage concentrates all of it
    on the one ordered alternative a conversion-drift monitor cares
    about — T = sum_d d*(x_d - n_d*pbar), Var(T) = pbar(1-pbar) *
    (sum n_d d^2 - (sum n_d d)^2 / N), z = T/sqrt(Var) against the
    two-sided 5% normal critical value. The proportions companion to
    agg_page_trend_test (ranks) and agg_mann_kendall_trend (signs).

    Parity: all five moments are exact BIGINT sums over the bounded
    day domain (products safely inside int64 to ~1e8 events/day);
    T and Var are one shared double expression of those integers
    (correctly-rounded casts, bit-identical), z quantizes round(9)
    before the significance compare.

    Shape at 100 TB: one map-side-combinable grouped scan to the day
    domain, one 1-row aggregate. Nothing row-scaled after the scan."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.expr("datediff(CAST(ts AS DATE), DATE '2024-01-01') + 1").alias(
            "d"
        )
    ).agg(
        F.count("*").cast("bigint").alias("nd"),
        F.sum(
            F.expr("CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END")
        )
        .cast("bigint")
        .alias("xd"),
    )
    m = daily.agg(
        F.sum("nd").cast("bigint").alias("n"),
        F.sum("xd").cast("bigint").alias("x"),
        F.sum(F.expr("xd * d")).cast("bigint").alias("sxd"),
        F.sum(F.expr("nd * d")).cast("bigint").alias("snd"),
        F.sum(F.expr("nd * d * d")).cast("bigint").alias("snd2"),
        F.count("*").cast("bigint").alias("n_days"),
    )
    z = m.selectExpr(
        "n_days",
        "n",
        "x",
        "(CAST(n AS DOUBLE) * sxd - CAST(x AS DOUBLE) * snd) / n AS tnum",
        "(CAST(x AS DOUBLE) / n) * (1.0 - CAST(x AS DOUBLE) / n)"
        " * (CAST(n AS DOUBLE) * snd2 - CAST(snd AS DOUBLE) * snd)"
        " / n AS vart",
    )
    return z.selectExpr(
        "n_days",
        "n AS n_events",
        "x AS n_purchases",
        "round(tnum / sqrt(vart), 6) AS z_stat",
        "CAST(CASE WHEN abs(round(tnum / sqrt(vart), 9)) > 1.959964"
        " THEN 1 ELSE 0 END AS BIGINT) AS significant_05",
    )


# ---------------------------------------------------------------------------
# win_sen_slope_ci
# ---------------------------------------------------------------------------


@query(
    "win_sen_slope_ci",
    oracle="""
    WITH daily AS MATERIALIZED (
      SELECT event_type,
             date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) + 1
               AS d,
             CAST(round(CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                             AS DOUBLE) / count(*) / 100.0, 6)
                  AS DECIMAL(18,6)) AS m
      FROM events GROUP BY 1, 2),
    sl AS (
      SELECT a.event_type,
             (CAST(b.m AS DOUBLE) - CAST(a.m AS DOUBLE)) / (b.d - a.d)
               AS s
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND b.d > a.d),
    nn AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nd
           FROM daily GROUP BY event_type),
    ties AS (
      SELECT event_type,
             CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
               AS tie_term
      FROM (SELECT event_type, CAST(count(*) AS BIGINT) AS t
            FROM daily GROUP BY event_type, m) z
      WHERE t > 1 GROUP BY event_type),
    v AS (
      SELECT nn.event_type, nn.nd,
             sqrt((CAST(nn.nd AS DOUBLE) * (nn.nd - 1) * (2 * nn.nd + 5)
                   - coalesce(t.tie_term, 0)) / 18.0) * 1.959964 AS c
      FROM nn LEFT JOIN ties t USING (event_type)),
    g AS (
      SELECT sl.event_type,
             list_sort(list(sl.s)) AS ss,
             CAST(count(*) AS BIGINT) AS mcnt
      FROM sl GROUP BY sl.event_type)
    SELECT g.event_type,
           g.mcnt AS n_pairs,
           round(list_extract(g.ss, (g.mcnt + 1) // 2), 6) AS sen_slope,
           round(list_extract(g.ss,
             greatest(CAST(1 AS BIGINT),
               CAST(floor((g.mcnt - v.c) / 2) AS BIGINT) + 1)), 6)
             AS ci_lower,
           round(list_extract(g.ss,
             least(g.mcnt,
               CAST(ceil((g.mcnt + v.c) / 2) AS BIGINT) + 1)), 6)
             AS ci_upper
    FROM g JOIN v USING (event_type)
    """,
)
def win_sen_slope_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEN'S SLOPE WITH ITS NONPARAMETRIC 95% CONFIDENCE INTERVAL per
    event type (Gilbert 1987): the slope estimate is the LOW median
    of the C(30,2) pairwise daily-mean slopes, and the CI bounds are
    the slopes ranked floor((M - C)/2) + 1 and ceil((M + C)/2) + 1
    where C = z_{0.975} * sqrt(Var(S)) and Var(S) is the
    tie-corrected Mann-Kendall variance — turning
    win_theil_sen_slope's point estimate + agg_mann_kendall_trend's
    yes/no into the interval a drift-response runbook actually
    thresholds on ("is the trend worse than X per day?").

    Parity: the daily means are the shared DECIMAL(18,6) series of
    the Mann-Kendall op; every pairwise slope is one shared-text
    double division; Var(S) is a double expression of exact integers;
    the two rank indices come from floor/ceil of identical doubles
    (clamped to [1, M]), so both engines pick the same elements of
    the same sorted slope list. LOW-median convention for the point
    estimate; arrays stay internal.

    Shape at 100 TB: fact table collapses to the day x type domain;
    the slope grid is C(days, 2) per type — domain-bounded, never
    row-scaled; one per-type sorted pick finishes it."""
    ev = table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type",
            F.expr(
                "datediff(CAST(ts AS DATE), DATE '2024-01-01') + 1"
            ).alias("d"),
        )
        .agg(
            F.expr(
                "CAST(round(CAST(sum(CAST(value * 100 + 0.5 AS BIGINT))"
                " AS DOUBLE) / count(*) / 100.0, 6) AS DECIMAL(18,6))"
            ).alias("m")
        )
        .localCheckpoint()  # bounded day x type domain, read 3x
    )
    a = daily.select(
        "event_type", F.col("d").alias("da"), F.col("m").alias("ma")
    )
    b = daily.select(
        "event_type", F.col("d").alias("db"), F.col("m").alias("mb")
    )
    sl = (
        a.join(b, ["event_type"])
        .where(F.col("db") > F.col("da"))
        .selectExpr(
            "event_type",
            "(CAST(mb AS DOUBLE) - CAST(ma AS DOUBLE)) / (db - da) AS s",
        )
    )
    nn = daily.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("nd")
    )
    ties = (
        daily.groupBy("event_type", "m")
        .agg(F.count("*").cast("bigint").alias("t"))
        .where(F.col("t") > 1)
        .groupBy("event_type")
        .agg(
            F.coalesce(
                F.sum(F.expr("t * (t - 1) * (2 * t + 5)")), F.lit(0)
            )
            .cast("bigint")
            .alias("tie_term")
        )
    )
    v = nn.join(ties, "event_type", "left").selectExpr(
        "event_type",
        "sqrt((CAST(nd AS DOUBLE) * (nd - 1) * (2 * nd + 5)"
        " - coalesce(tie_term, 0)) / 18.0) * 1.959964 AS c",
    )
    g = sl.groupBy("event_type").agg(
        F.expr("sort_array(collect_list(s))").alias("ss"),
        F.count("*").cast("bigint").alias("mcnt"),
    )
    return g.join(v, "event_type").selectExpr(
        "event_type",
        "mcnt AS n_pairs",
        "round(element_at(ss, CAST((mcnt + 1) div 2 AS INT)), 6)"
        " AS sen_slope",
        "round(element_at(ss, CAST(greatest(CAST(1 AS BIGINT),"
        " CAST(floor((mcnt - c) / 2) AS BIGINT) + 1) AS INT)), 6)"
        " AS ci_lower",
        "round(element_at(ss, CAST(least(mcnt,"
        " CAST(ceil((mcnt + c) / 2) AS BIGINT) + 1) AS INT)), 6)"
        " AS ci_upper",
    )


# ---------------------------------------------------------------------------
# agg_lorenz_curve_deciles
# ---------------------------------------------------------------------------


@query(
    "agg_lorenz_curve_deciles",
    oracle="""
    WITH cust AS (
      SELECT o_custkey,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS rev
      FROM orders GROUP BY o_custkey),
    blk AS MATERIALIZED (
      SELECT rev, CAST(count(*) AS BIGINT) AS f,
             CAST(rev * count(*) AS BIGINT) AS tot
      FROM cust GROUP BY rev),
    cum AS MATERIALIZED (
      SELECT rev, f, tot,
             sum(f) OVER w - f AS cf_before,
             sum(tot) OVER w - tot AS ct_before
      FROM blk WINDOW w AS (ORDER BY rev ROWS UNBOUNDED PRECEDING)),
    nn AS (SELECT CAST(sum(f) AS BIGINT) AS n,
                  CAST(sum(tot) AS BIGINT) AS t FROM blk),
    dec AS (SELECT CAST(unnest(generate_series(1, 10)) AS BIGINT) AS k),
    pick AS (
      SELECT d.k, nn.n, nn.t,
             (d.k * nn.n) // 10 AS mk,
             c.ct_before + ((d.k * nn.n) // 10 - c.cf_before) * c.rev
               AS cumrev
      FROM dec d CROSS JOIN nn
      JOIN cum c ON c.cf_before < (d.k * nn.n) // 10
                AND (d.k * nn.n) // 10 <= c.cf_before + c.f)
    SELECT k AS decile, mk AS cum_customers,
           CAST(cumrev AS BIGINT) AS cum_rev_cents,
           round(CAST(cumrev AS DOUBLE) / t, 6) AS rev_share
    FROM pick
    """,
)
def agg_lorenz_curve_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LORENZ CURVE AT THE DECILES of per-customer revenue: for each
    k = 1..10, the exact share of total revenue earned by the poorest
    floor(k*n/10) customers — the distribution CURVE behind
    agg_gini_concentration's single number (two datasets can share a
    Gini and differ wildly in where the concentration lives; the
    dataset-card needs the curve) and the concentration companion to
    agg_abc_pareto_class's fixed 80/20 cut.

    EXACT order statistics without a row sort: per-customer cents
    collapse to the distinct-revenue value DOMAIN with block counts
    and block revenue; one bounded-domain cumulative window gives
    every block's preceding customer count and revenue; decile k's
    cumulative revenue is cum_before + (m_k - count_before) * rev of
    the block CONTAINING position m_k = (k*n) div 10 — a closed form
    in exact BIGINTs (the agg_exact_quantile_2pass move extended from
    one rank to a prefix SUM at a rank). The only double is the final
    share division, round(6).

    Shape at 100 TB: one grouped scan to the value domain, one
    window over it, a 10-row domain join. Never a global sort."""
    o = table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.sum(F.expr("CAST(o_totalprice * 100 + 0.5 AS BIGINT)"))
        .cast("bigint")
        .alias("rev")
    )
    blk = cust.groupBy("rev").agg(
        F.count("*").cast("bigint").alias("f"),
        (F.col("rev") * F.count("*")).cast("bigint").alias("tot"),
    ).localCheckpoint()  # customer-grain value domain, read twice
    # exclusive prefixes via the distributed two-level sum — the
    # revenue domain is customer-grain, never a single-partition sort
    # (functions/domain.py; round-10 verdict window rule)
    cum = dist_exclusive_prefix(
        blk, [("rev", False)], ["f", "tot"],
        cache_key=f"lorenz:{sf_dir}",
    ).selectExpr(
        "rev",
        "f",
        "tot",
        "CAST(_pre_f AS BIGINT) AS cf_before",
        "CAST(_pre_tot AS BIGINT) AS ct_before",
    )
    nn = blk.agg(
        F.sum("f").cast("bigint").alias("n"),
        F.sum("tot").cast("bigint").alias("t"),
    )
    dec = spark.range(1, 11).select(F.col("id").alias("k"))
    pick = (
        dec.crossJoin(F.broadcast(nn))
        .join(
            cum,
            F.expr(
                "cf_before < (k * n) div 10"
                " AND (k * n) div 10 <= cf_before + f"
            ),
        )
        .selectExpr(
            "k",
            "n",
            "t",
            "(k * n) div 10 AS mk",
            "ct_before + ((k * n) div 10 - cf_before) * rev AS cumrev",
        )
    )
    return pick.selectExpr(
        "k AS decile",
        "mk AS cum_customers",
        "CAST(cumrev AS BIGINT) AS cum_rev_cents",
        "round(CAST(cumrev AS DOUBLE) / t, 6) AS rev_share",
    )


# ---------------------------------------------------------------------------
# agg_quade_test
# ---------------------------------------------------------------------------


@query(
    "agg_quade_test",
    oracle="""
    WITH grid AS MATERIALIZED (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS tot
      FROM events GROUP BY 1, 2),
    rk AS MATERIALIZED (
      SELECT a.event_type, a.day,
             CAST(sum(CASE WHEN b.tot < a.tot THEN 2
                           WHEN b.tot = a.tot THEN 1 ELSE 0 END) + 1
                  AS BIGINT) AS r2
      FROM grid a JOIN grid b ON a.day = b.day
      GROUP BY a.event_type, a.day),
    rng AS MATERIALIZED (
      SELECT day, max(tot) - min(tot) AS rg
      FROM grid GROUP BY day),
    q2 AS MATERIALIZED (
      SELECT a.day,
             CAST(sum(CASE WHEN b.rg < a.rg THEN 2
                           WHEN b.rg = a.rg THEN 1 ELSE 0 END) + 1
                  AS BIGINT) AS q2
      FROM rng a JOIN rng b ON true
      GROUP BY a.day),
    kk AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS k,
                  CAST(count(DISTINCT day) AS BIGINT) AS n
           FROM grid),
    s4 AS (
      SELECT rk.event_type,
             CAST(sum(q2.q2 * (rk.r2 - (kk.k + 1))) AS BIGINT) AS sj
      FROM rk JOIN q2 USING (day) CROSS JOIN kk
      GROUP BY rk.event_type),
    a2 AS (
      SELECT CAST(sum(q2.q2 * q2.q2 * (rk.r2 - (kk.k + 1))
                      * (rk.r2 - (kk.k + 1))) AS BIGINT) AS a2
      FROM rk JOIN q2 USING (day) CROSS JOIN kk),
    bb AS (SELECT CAST(sum(sj * sj) AS BIGINT) AS b2 FROM s4)
    SELECT kk.n AS n_blocks, kk.k AS k_treatments,
           round((kk.n - 1.0) * bb.b2
                 / (CAST(kk.n AS DOUBLE) * a2.a2 - bb.b2), 6) AS f_stat,
           CAST(CASE WHEN round((kk.n - 1.0) * bb.b2
                 / (CAST(kk.n AS DOUBLE) * a2.a2 - bb.b2), 9)
                 > CAST(2.450 AS DOUBLE)
                THEN 1 ELSE 0 END AS BIGINT) AS significant_05
    FROM kk CROSS JOIN a2 CROSS JOIN bb
    """,
)
def agg_quade_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUADE TEST on the day x event-type revenue grid — the
    WEIGHTED blocked-rank test: agg_friedman_test treats every day
    as equally informative; Quade weights each day (block) by the
    rank of its within-day RANGE, so days where the treatments
    actually separate dominate the statistic — strictly more
    powerful than Friedman at k <= 5 treatments (Quade 1979).
    S_ij = Q_i*(R_ij - (k+1)/2) with R_ij the within-day tied rank
    of type j and Q_i the across-days tied rank of day i's range;
    F = (n-1)*B/(A - B), A = sum S^2, B = (1/n) sum_j S_j^2,
    against F(k-1, (n-1)(k-1)) = F(4, 116)'s 5% critical 2.450.

    ALL-INTEGER machinery: both tied-rank layers use DOUBLED ranks
    (2R = 2*cnt_less + cnt_eq + 1 — the exact-rank identity over the
    5-row day blocks and the 30-row range domain), and
    (k+1) in doubled units replaces (k+1)/2, so every S is a
    QUADRUPLED exact integer; the 16x scale cancels in F = (n-1)*B4
    / (n*A4 - B4) exactly. The only double is the final F division
    (shared text), quantized round(9) before the critical compare.
    Cell totals are exact integer cents — no division enters any
    rank (the agg_friedman_test rule).

    Shape at 100 TB: one grouped scan to the bounded day x type
    grid; both rank layers are self-joins of bounded domains (5-row
    blocks, 30-row range list); three tiny aggregates finish it."""
    ev = table(spark, sf_dir, "events")
    grid = (
        ev.groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(F.expr("CAST(value * 100 + 0.5 AS BIGINT)"))
            .cast("bigint")
            .alias("tot")
        )
        .localCheckpoint()  # bounded day x type grid, read 3x
    )
    ga = grid.select(
        F.col("event_type").alias("ta"), "day", F.col("tot").alias("va")
    )
    gb = grid.select(
        F.col("event_type").alias("tb"), "day", F.col("tot").alias("vb")
    )
    rk = (
        ga.join(gb, "day")
        .groupBy(F.col("ta").alias("event_type"), "day")
        .agg(
            (F.sum(
                F.expr(
                    "CASE WHEN vb < va THEN 2 WHEN vb = va THEN 1"
                    " ELSE 0 END"
                )
            ) + 1)
            .cast("bigint")
            .alias("r2")
        )
    )
    rng = grid.groupBy("day").agg(
        (F.max("tot") - F.min("tot")).alias("rg")
    ).localCheckpoint()  # bounded: one row per day, self-joined
    ra = rng.select(F.col("day").alias("da"), F.col("rg").alias("rga"))
    rb = rng.select(F.col("rg").alias("rgb"))
    q2 = (
        ra.crossJoin(rb)
        .groupBy(F.col("da").alias("day"))
        .agg(
            (F.sum(
                F.expr(
                    "CASE WHEN rgb < rga THEN 2 WHEN rgb = rga THEN 1"
                    " ELSE 0 END"
                )
            ) + 1)
            .cast("bigint")
            .alias("q2")
        )
    )
    kk = grid.agg(
        F.countDistinct("event_type").cast("bigint").alias("k"),
        F.countDistinct("day").cast("bigint").alias("n"),
    )
    cells = rk.join(q2, "day").crossJoin(F.broadcast(kk))
    s4 = cells.groupBy("event_type").agg(
        F.sum(F.expr("q2 * (r2 - (k + 1))")).cast("bigint").alias("sj")
    )
    a2 = cells.agg(
        F.sum(F.expr("q2 * q2 * (r2 - (k + 1)) * (r2 - (k + 1))"))
        .cast("bigint")
        .alias("a2")
    )
    bb = s4.agg(F.sum(F.expr("sj * sj")).cast("bigint").alias("b2"))
    f_txt = (
        "(n - 1.0) * b2 / (CAST(n AS DOUBLE) * a2 - b2)"
    )
    return (
        kk.crossJoin(F.broadcast(a2))
        .crossJoin(F.broadcast(bb))
        .selectExpr(
            "n AS n_blocks",
            "k AS k_treatments",
            f"round({f_txt}, 6) AS f_stat",
            f"CAST(CASE WHEN round({f_txt}, 9) > CAST(2.450 AS DOUBLE)"
            " THEN 1 ELSE 0 END AS BIGINT) AS significant_05",
        )
    )


# ---------------------------------------------------------------------------
# agg_mantel_haenszel
# ---------------------------------------------------------------------------

_MH_CUT = 5000  # outcome split: value >= 50.00 (cents), near the mean


@query(
    "agg_mantel_haenszel",
    oracle=f"""
    WITH cells AS MATERIALIZED (
      SELECT CAST(ts AS DATE) AS day,
             CAST(sum(CASE WHEN event_type = 'click'
                            AND CAST(round(value * 100, 0) AS BIGINT)
                                >= {_MH_CUT} THEN 1 ELSE 0 END)
                  AS BIGINT) AS a,
             CAST(sum(CASE WHEN event_type = 'click'
                            AND CAST(round(value * 100, 0) AS BIGINT)
                                < {_MH_CUT} THEN 1 ELSE 0 END)
                  AS BIGINT) AS b,
             CAST(sum(CASE WHEN event_type = 'view'
                            AND CAST(round(value * 100, 0) AS BIGINT)
                                >= {_MH_CUT} THEN 1 ELSE 0 END)
                  AS BIGINT) AS c,
             CAST(sum(CASE WHEN event_type = 'view'
                            AND CAST(round(value * 100, 0) AS BIGINT)
                                < {_MH_CUT} THEN 1 ELSE 0 END)
                  AS BIGINT) AS d
      FROM events WHERE event_type IN ('click', 'view')
      GROUP BY 1),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_strata,
             sum(CAST(a AS DOUBLE)) AS sa,
             sum(CAST(a + b AS DOUBLE) * (a + c) / (a + b + c + d))
               AS se,
             sum(CAST(a + b AS DOUBLE) * (c + d) * (a + c) * (b + d)
                 / (a + b + c + d) / (a + b + c + d)
                 / (a + b + c + d - 1)) AS sv,
             sum(CAST(a AS DOUBLE) * d / (a + b + c + d)) AS sad,
             sum(CAST(b AS DOUBLE) * c / (a + b + c + d)) AS sbc
      FROM cells)
    SELECT n_strata,
           round(greatest(abs(sa - se) - 0.5, CAST(0 AS DOUBLE)) * greatest(abs(sa - se) - 0.5, CAST(0 AS DOUBLE)) / sv, 6)
             AS cmh_chi2,
           round(sad / sbc, 6) AS mh_common_or,
           CAST(CASE WHEN round(greatest(abs(sa - se) - 0.5, CAST(0 AS DOUBLE))
                              * greatest(abs(sa - se) - 0.5, CAST(0 AS DOUBLE)) / sv, 9)
                          > 3.841459
                THEN 1 ELSE 0 END AS BIGINT) AS significant_05
    FROM agg
    """,
)
def agg_mantel_haenszel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COCHRAN-MANTEL-HAENSZEL TEST + MANTEL-HAENSZEL COMMON ODDS
    RATIO across the 30 day strata: is the click-vs-view association
    with a high-value outcome (value >= 50.00) consistent after
    CONTROLLING for day? Pooling the 2x2 tables invites Simpson's
    paradox (day-level traffic mix confounds the marginal table —
    the exact failure agg_stratified_ate guards for continuous
    outcomes); CMH aggregates the per-stratum hypergeometric
    deviations a_i - E[a_i] and their variances instead, with the
    classic 0.5 continuity correction, against chi2(1)'s 5% critical
    3.841459. The MH estimator sum(a_i d_i/n_i)/sum(b_i c_i/n_i)
    gives the common odds ratio the test is about.

    Parity: every cell is an exact BIGINT from one conditional
    grouped scan; per-stratum E, V, and the MH numerator/denominator
    terms are shared-text double expressions of those integers
    summed over the bounded day domain (order-independent to sub-ulp
    because each term is O(1e4) and there are 30 — drift ~1e-12
    relative, 6 orders under round(6)); the statistic quantizes
    round(9) before the critical-value compare.

    Shape at 100 TB: one map-side-combinable grouped scan to the day
    domain, one 1-row reduce. Nothing row-scaled after the scan."""
    ev = table(spark, sf_dir, "events")
    hi = f"CAST(value * 100 + 0.5 AS BIGINT) >= {_MH_CUT}"
    cells = (
        ev.where(F.col("event_type").isin("click", "view"))
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(
                F.expr(
                    f"CASE WHEN event_type = 'click' AND {hi}"
                    " THEN 1 ELSE 0 END"
                )
            )
            .cast("bigint")
            .alias("a"),
            F.sum(
                F.expr(
                    f"CASE WHEN event_type = 'click' AND NOT ({hi})"
                    " THEN 1 ELSE 0 END"
                )
            )
            .cast("bigint")
            .alias("b"),
            F.sum(
                F.expr(
                    f"CASE WHEN event_type = 'view' AND {hi}"
                    " THEN 1 ELSE 0 END"
                )
            )
            .cast("bigint")
            .alias("c"),
            F.sum(
                F.expr(
                    f"CASE WHEN event_type = 'view' AND NOT ({hi})"
                    " THEN 1 ELSE 0 END"
                )
            )
            .cast("bigint")
            .alias("d"),
        )
    )
    agg = cells.agg(
        F.count("*").cast("bigint").alias("n_strata"),
        F.sum(F.expr("CAST(a AS DOUBLE)")).alias("sa"),
        F.sum(
            F.expr("CAST(a + b AS DOUBLE) * (a + c) / (a + b + c + d)")
        ).alias("se"),
        F.sum(
            F.expr(
                "CAST(a + b AS DOUBLE) * (c + d) * (a + c) * (b + d)"
                " / (a + b + c + d) / (a + b + c + d)"
                " / (a + b + c + d - 1)"
            )
        ).alias("sv"),
        F.sum(F.expr("CAST(a AS DOUBLE) * d / (a + b + c + d)")).alias(
            "sad"
        ),
        F.sum(F.expr("CAST(b AS DOUBLE) * c / (a + b + c + d)")).alias(
            "sbc"
        ),
    )
    return agg.selectExpr(
        "n_strata",
        "round(greatest(abs(sa - se) - 0.5, CAST(0 AS DOUBLE)) * greatest(abs(sa - se) - 0.5, CAST(0 AS DOUBLE)) / sv, 6)"
        " AS cmh_chi2",
        "round(sad / sbc, 6) AS mh_common_or",
        "CAST(CASE WHEN round(greatest(abs(sa - se) - 0.5, CAST(0 AS DOUBLE))"
        " * greatest(abs(sa - se) - 0.5, CAST(0 AS DOUBLE)) / sv, 9) > 3.841459"
        " THEN 1 ELSE 0 END AS BIGINT) AS significant_05",
    )


# ---------------------------------------------------------------------------
# agg_ansari_bradley
# ---------------------------------------------------------------------------


@query(
    "agg_ansari_bradley",
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
    tot AS (
      SELECT CAST(sum(f1) AS BIGINT) AS n1,
             CAST(sum(f2) AS BIGINT) AS n2,
             CAST(sum(f1) + sum(f2) AS BIGINT) AS n
      FROM blk),
    sc AS (
      SELECT f1, f2,
             least(2 * (sum(f1 + f2) OVER w - (f1 + f2)) + (f1 + f2) + 1,
                   2 * (SELECT n FROM tot) + 2
                   - (2 * (sum(f1 + f2) OVER w - (f1 + f2))
                      + (f1 + f2) + 1)) AS s2
      FROM blk
      WINDOW w AS (ORDER BY c ROWS UNBOUNDED PRECEDING)),
    sums AS (
      SELECT CAST(sum(f1 * s2) AS BIGINT) AS t2,
             CAST(sum((f1 + f2) * s2) AS BIGINT) AS p1,
             CAST(sum((f1 + f2) * s2 * s2) AS BIGINT) AS p2
      FROM sc)
    SELECT tot.n1 AS n_click, tot.n2 AS n_view,
           CAST(sums.t2 AS BIGINT) AS ab2_stat,
           round((sums.t2 - CAST(tot.n1 AS DOUBLE) * sums.p1 / tot.n)
                 / sqrt(CAST(tot.n1 AS DOUBLE) * tot.n2
                        * (CAST(tot.n AS DOUBLE) * sums.p2
                           - CAST(sums.p1 AS DOUBLE) * sums.p1)
                        / tot.n / tot.n / (tot.n - 1)), 6) AS z_stat,
           CAST(CASE WHEN abs(round(
                  (sums.t2 - CAST(tot.n1 AS DOUBLE) * sums.p1 / tot.n)
                  / sqrt(CAST(tot.n1 AS DOUBLE) * tot.n2
                         * (CAST(tot.n AS DOUBLE) * sums.p2
                            - CAST(sums.p1 AS DOUBLE) * sums.p1)
                         / tot.n / tot.n / (tot.n - 1)), 9))
                         > 1.959964
                THEN 1 ELSE 0 END AS BIGINT) AS significant_05
    FROM sums CROSS JOIN tot
    """,
)
def agg_ansari_bradley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSARI-BRADLEY SCALE TEST (midrank/ties version) of click vs
    view value DISPERSION: scores s_i = min(R_i, N+1-R_i) grow toward
    the middle of the pooled ordering, so a sample concentrated in
    the center (smaller spread) collects a LARGER score sum — the
    nonparametric complement to agg_levene_brown_forsythe (which
    licenses variance comparisons through deviations from a center)
    and the SCALE sibling of agg_mood_median_test's location test.
    z = (T - E[T])/sqrt(Var(T)) with the exact finite-population
    moments of sampling n1 scores without replacement.

    EXACT machinery: on the distinct-cents value domain, every tied
    block shares one DOUBLED midrank R2 = 2*cum_less + block + 1 and
    hence one DOUBLED score S2 = least(R2, 2N+2-R2); T2 = sum f1*S2,
    and the population sums P1 = sum f*S2, P2 = sum f*S2^2 are exact
    BIGINTs (P2 <= 4N^3 — inside int64 to N ~ 1.3e6). E and Var are
    one shared double expression (P1^2 promotes to double), z
    quantizes round(9) before the two-sided critical compare.

    Shape at 100 TB: one grouped scan to the value domain, one
    bounded-domain window, one 1-row reduce — the CvM/AD shape."""
    blk = _cv_value_blocks(spark, sf_dir)
    tot = blk.agg(
        F.sum("f1").cast("bigint").alias("n1"),
        F.sum("f2").cast("bigint").alias("n2"),
        (F.sum("f1") + F.sum("f2")).cast("bigint").alias("n"),
    ).localCheckpoint()  # 1-row, referenced by score AND final select
    w_c = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    sc = (
        blk.select(
            "f1",
            "f2",
            (
                2 * (F.sum(F.col("f1") + F.col("f2")).over(w_c)
                     - (F.col("f1") + F.col("f2")))
                + (F.col("f1") + F.col("f2"))
                + 1
            ).alias("rr"),
        )
        .crossJoin(F.broadcast(tot.select("n")))
        .selectExpr(
            "f1", "f2", "least(rr, 2 * n + 2 - rr) AS s2"
        )
    )
    sums = sc.agg(
        F.sum(F.expr("f1 * s2")).cast("bigint").alias("t2"),
        F.sum(F.expr("(f1 + f2) * s2")).cast("bigint").alias("p1"),
        F.sum(F.expr("(f1 + f2) * s2 * s2")).cast("bigint").alias("p2"),
    )
    z_txt = (
        "(t2 - CAST(n1 AS DOUBLE) * p1 / n)"
        " / sqrt(CAST(n1 AS DOUBLE) * n2"
        " * (CAST(n AS DOUBLE) * p2 - CAST(p1 AS DOUBLE) * p1)"
        " / n / n / (n - 1))"
    )
    return sums.crossJoin(F.broadcast(tot)).selectExpr(
        "n1 AS n_click",
        "n2 AS n_view",
        "CAST(t2 AS BIGINT) AS ab2_stat",
        f"round({z_txt}, 6) AS z_stat",
        f"CAST(CASE WHEN abs(round({z_txt}, 9)) > 1.959964"
        " THEN 1 ELSE 0 END AS BIGINT) AS significant_05",
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
# agg_kendall_w
# ---------------------------------------------------------------------------


@query(
    "agg_kendall_w",
    oracle="""
    WITH cell AS (
      SELECT CAST(ts AS DATE) AS day, event_type,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS tot
      FROM events GROUP BY 1, 2),
    m AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS m
          FROM cell),
    cd AS (
      SELECT day FROM cell GROUP BY day
      HAVING count(*) = (SELECT m FROM m)),
    rk AS (
      SELECT cell.day,
             CAST(row_number() OVER (PARTITION BY event_type
                                     ORDER BY tot, cell.day) AS BIGINT)
               AS r
      FROM cell JOIN cd ON cell.day = cd.day),
    rd AS (
      SELECT day, CAST(sum(r) AS BIGINT) AS rsum FROM rk GROUP BY day),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(rsum * rsum) AS BIGINT) AS sr2
      FROM rd)
    SELECT n AS n_days, m AS k_types,
           round(CAST(12 * sr2 - 3 * m * m * n * (n + 1) * (n + 1)
                      AS DOUBLE)
                 / CAST(m * m * n * (n * n - 1) AS DOUBLE), 6) AS w_stat,
           round(CAST(m * (n - 1) AS DOUBLE)
                 * (CAST(12 * sr2 - 3 * m * m * n * (n + 1) * (n + 1)
                         AS DOUBLE)
                    / CAST(m * m * n * (n * n - 1) AS DOUBLE)), 6)
             AS chi2_stat,
           CAST(CASE WHEN round(CAST(m * (n - 1) AS DOUBLE)
                 * (CAST(12 * sr2 - 3 * m * m * n * (n + 1) * (n + 1)
                         AS DOUBLE)
                    / CAST(m * m * n * (n * n - 1) AS DOUBLE)), 9)
                     >= 42.557 THEN 1 ELSE 0 END AS BIGINT)
             AS significant_05
    FROM s CROSS JOIN m
    """,
)
def agg_kendall_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KENDALL'S COEFFICIENT OF CONCORDANCE W: do the k event types
    AGREE on how the 30 days rank by revenue?  Each type ranks the
    complete days by its exact integer-cent daily total; W in [0, 1]
    rescales the variance of the per-day rank sums to its maximum,
    and chi^2 = m*(n-1)*W tests concordance against chi^2(n-1)
    (5% critical value 42.557 at n = 30 — a FIXTURE constant like
    agg_grubbs_outlier's 2.9085; the recompute pytest pins the
    30-complete-days precondition so a fixture regeneration that
    shrinks n fails loudly there).  The agreement view the
    blocked-design agg_friedman_test (types ranked within days)
    cannot give — same grid, transposed question.

    Parity: ranks are row_number over (tot, day) within each type —
    exact BIGINT cent totals make the order deterministic and any
    cent-exact tie breaks identically on both engines (the
    agg_friedman_test convention, documented there); rank sums and
    their squares are small exact integers, so W and chi^2 are
    all-integer numerators/denominators with ONE double division in
    shared text (the round-8 decimal-literal rule: no 2.0-style
    literals anywhere).

    Shape at 100 TB: one groupBy(day, type) collapses the fact table
    to the bounded k x 30 grid; ranking windows partition by type over
    30-row partitions; everything after the first aggregate is
    domain-bounded."""
    ev = table(spark, sf_dir, "events")
    cell = (
        ev.select(
            F.expr("CAST(ts AS DATE)").alias("day"),
            "event_type",
            F.expr("CAST(value * 100 + 0.5 AS BIGINT)").alias("c"),
        )
        .groupBy("day", "event_type")
        .agg(F.sum("c").cast("bigint").alias("tot"))
        .localCheckpoint()
    )
    m = cell.agg(
        F.countDistinct("event_type").cast("bigint").alias("m")
    )
    cd = (
        cell.crossJoin(F.broadcast(m))
        .groupBy("day")
        .agg(F.count("*").alias("kk"), F.max("m").alias("m"))
        .where("kk = m")
        .select("day")
    )
    rk = cell.join(cd, "day").select(
        "day",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("tot", "day"))
        .cast("bigint")
        .alias("r"),
    )
    rd = rk.groupBy("day").agg(F.sum("r").cast("bigint").alias("rsum"))
    s = rd.agg(
        F.count("*").cast("bigint").alias("n"),
        F.expr("CAST(sum(rsum * rsum) AS BIGINT)").alias("sr2"),
    )
    w_txt = (
        "CAST(12 * sr2 - 3 * m * m * n * (n + 1) * (n + 1) AS DOUBLE)"
        " / CAST(m * m * n * (n * n - 1) AS DOUBLE)"
    )
    chi_txt = f"CAST(m * (n - 1) AS DOUBLE) * ({w_txt})"
    return s.crossJoin(F.broadcast(m)).selectExpr(
        "n AS n_days",
        "m AS k_types",
        f"round({w_txt}, 6) AS w_stat",
        f"round({chi_txt}, 6) AS chi2_stat",
        f"CAST(CASE WHEN round({chi_txt}, 9) >= 42.557 THEN 1 ELSE 0 END"
        " AS BIGINT) AS significant_05",
    )


# ---------------------------------------------------------------------------
# agg_hodges_lehmann_paired
# ---------------------------------------------------------------------------


@query(
    "agg_hodges_lehmann_paired",
    oracle="""
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(sum(CASE WHEN event_type = 'click'
                           THEN CAST(round(value * 100, 0) AS BIGINT)
                           ELSE -CAST(round(value * 100, 0) AS BIGINT)
                      END) AS BIGINT) AS dd
      FROM events WHERE event_type IN ('click', 'view')
      GROUP BY 1),
    w AS (
      SELECT d1.dd + d2.dd AS ws
      FROM d d1 JOIN d d2 ON d1.day <= d2.day),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_walsh,
             list_extract(list_sort(list(ws)), (count(*) + 1) // 2)
               AS lo,
             list_extract(list_sort(list(ws)), (count(*) + 2) // 2)
               AS hi
      FROM w),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM d)
    SELECT n_days, n_walsh,
           CAST(lo + hi AS BIGINT) AS hl_x4,
           round(CAST(lo + hi AS DOUBLE) / 4, 6) AS hl_shift_cents
    FROM s CROSS JOIN nd
    """,
)
def agg_hodges_lehmann_paired(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """HODGES-LEHMANN PSEUDO-MEDIAN of the daily click-minus-view
    revenue difference: the median of all 465 Walsh averages
    (d_i + d_j)/2 over day pairs i <= j — the location estimator the
    Wilcoxon signed-rank test inverts, 29% breakdown, ~95% Gaussian
    efficiency.  The robust effect-size companion to
    agg_sign_test_paired (which only tests direction) and
    agg_tost_equivalence (mean-based): HOW MUCH more do clicks earn
    per day, robustly?  Sibling: agg_hodges_lehmann_shift estimates
    the TWO-SAMPLE shift (median of cross differences x_i - y_j);
    this is the one-sample pseudo-median of the PAIRED differences —
    the Wilcoxon-signed-rank estimand, a different functional.

    Exactness: day differences are exact signed BIGINT cents
    (conditional +/- sum over the click/view rows; a day missing one
    type contributes its present side only — both engines identical);
    each Walsh sum d_i + d_j is an exact integer equal to 2x the
    Walsh average, and the median picks lo/hi order statistics by
    element_at on the sorted 465-element array (the low/high-median
    machinery of agg_median_polish_grid).  hl_x4 = lo + hi = 4x the
    estimator is emitted as the exact integer; the only double is the
    final display division by 4, round(6).

    Shape at 100 TB: the fact table collapses to the 30-row day
    domain; the Walsh self-join is 30 x 30 / 2 rows and the
    collect_list is over those 465 — all bounded by the calendar, not
    the data (the win_changepoint_pelt_1d pair-grid argument)."""
    ev = table(spark, sf_dir, "events")
    d = (
        ev.where(F.col("event_type").isin("click", "view"))
        .select(
            F.expr("CAST(ts AS DATE)").alias("day"),
            F.expr(
                "CASE WHEN event_type = 'click'"
                " THEN CAST(value * 100 + 0.5 AS BIGINT)"
                " ELSE -CAST(value * 100 + 0.5 AS BIGINT) END"
            ).alias("sc"),
        )
        .groupBy("day")
        .agg(F.sum("sc").cast("bigint").alias("dd"))
        .localCheckpoint()
    )
    d1 = d.select(F.col("day").alias("day1"), F.col("dd").alias("dd1"))
    d2 = d.select(F.col("day").alias("day2"), F.col("dd").alias("dd2"))
    w = d1.join(d2, F.col("day1") <= F.col("day2")).select(
        (F.col("dd1") + F.col("dd2")).alias("ws")
    )
    s = w.agg(
        F.count("*").cast("bigint").alias("n_walsh"),
        F.expr(
            "element_at(sort_array(collect_list(ws)),"
            " CAST((count(*) + 1) div 2 AS INT))"
        ).alias("lo"),
        F.expr(
            "element_at(sort_array(collect_list(ws)),"
            " CAST((count(*) + 2) div 2 AS INT))"
        ).alias("hi"),
    )
    nd = d.agg(F.count("*").cast("bigint").alias("n_days"))
    return s.crossJoin(F.broadcast(nd)).selectExpr(
        "n_days",
        "n_walsh",
        "CAST(lo + hi AS BIGINT) AS hl_x4",
        "round(CAST(lo + hi AS DOUBLE) / 4, 6) AS hl_shift_cents",
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
# agg_brunner_munzel
# ---------------------------------------------------------------------------


@query(
    "agg_brunner_munzel",
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
    cum AS MATERIALIZED (
      SELECT c, f1, f2,
             2 * sum(f1 + f2) OVER w - (f1 + f2) + 1 AS rc2,
             2 * sum(f1) OVER w - f1 + 1 AS r12,
             2 * sum(f2) OVER w - f2 + 1 AS r22
      FROM blk
      WINDOW w AS (ORDER BY c ROWS UNBOUNDED PRECEDING)),
    tot AS MATERIALIZED (
      SELECT CAST(sum(f1) AS BIGINT) AS n1,
             CAST(sum(f2) AS BIGINT) AS n2,
             CAST(sum(f1 * rc2) AS BIGINT) AS sr21,
             CAST(sum(f2 * rc2) AS BIGINT) AS sr22
      FROM cum),
    u AS (
      SELECT n1, n2, sr21, sr22,
             sum(f1 * (CAST(n1 * (rc2 - r12 + n1 + 1) - sr21 AS HUGEINT)
                       * (n1 * (rc2 - r12 + n1 + 1) - sr21))) AS u1,
             sum(f2 * (CAST(n2 * (rc2 - r22 + n2 + 1) - sr22 AS HUGEINT)
                       * (n2 * (rc2 - r22 + n2 + 1) - sr22))) AS u2
      FROM cum CROSS JOIN tot
      GROUP BY n1, n2, sr21, sr22),
    d AS (
      SELECT n1, n2, sr21, sr22,
             CAST(u1 AS DOUBLE) / CAST(4 * n1 * (n1 - 1) AS DOUBLE) AS d1,
             CAST(u2 AS DOUBLE) / CAST(4 * n2 * (n2 - 1) AS DOUBLE) AS d2
      FROM u)
    SELECT n1 AS n_click, n2 AS n_view,
           round(CAST(n1 * sr22 - n2 * sr21 AS DOUBLE)
                 / CAST(2 * n1 * n2 * (n1 + n2) AS DOUBLE)
                 + CAST(1 AS DOUBLE) / 2, 6) AS p_hat,
           round(CAST(n1 * sr22 - n2 * sr21 AS DOUBLE)
                 / (CAST(2 * (n1 + n2) AS DOUBLE) * sqrt(d1 + d2)), 6)
             AS w_stat,
           round((d1 + d2) * (d1 + d2)
                 / (d1 * d1 / CAST(n1 - 1 AS DOUBLE)
                    + d2 * d2 / CAST(n2 - 1 AS DOUBLE)), 6) AS df,
           CAST(CASE WHEN abs(round(CAST(n1 * sr22 - n2 * sr21 AS DOUBLE)
                 / (CAST(2 * (n1 + n2) AS DOUBLE) * sqrt(d1 + d2)), 9))
                     >= 1.96 THEN 1 ELSE 0 END AS BIGINT)
             AS significant_05
    FROM d
    """,
)
def agg_brunner_munzel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BRUNNER-MUNZEL GENERALIZED WILCOXON TEST of click vs view
    values: tests P(X < Y) + P(X = Y)/2 = 1/2 WITHOUT the equal-
    variance assumption agg_mann_whitney_u inherits — the
    heteroscedasticity-robust member of the two-sample rank family
    (and the test modern guidelines recommend over MWU by default).
    Emits the relative-effect estimate p_hat, the studentized W, and
    the Welch-type degrees of freedom.

    Exact quadrupled-midrank machinery on the distinct-cents value
    domain: per tied block, DOUBLED combined and own-group midranks
    rc2 = 2*cumN - fN + 1 and ri2 = 2*cum_i - f_i + 1 are exact
    BIGINTs; the centered placement term of Brunner-Munzel's S_i^2,
    multiplied by 2*n_i, becomes the exact integer
    u_i = n_i*(rc2 - ri2 + n_i + 1) - SR2_i (SR2_i = sum of the
    group's doubled combined midranks), constant within a block — so
    sum t^2 = sum f_i*u_i^2 / (4*n_i^2) collapses per block with NO
    per-row ranks (the agg_mann_whitney_u / CvM move, extended to
    own-group ranks).  n_i*S_i^2 = U_i/(4*n_i*(n_i-1)) with U_i the
    exact HUGEINT/DECIMAL sum; W, p_hat, and df are shared-text IEEE
    expressions over the exact integers (d1/d2 materialized first so
    both engines square the SAME doubles), round(6), round(9) gate at
    the df->inf 5% value 1.96 (df ~ 4000 at sf0.01).

    Shape at 100 TB: one grouped scan to the value domain, one
    bounded-domain window pass, two bounded aggregates — identical to
    agg_cramer_von_mises_2samp."""
    blk = _cv_value_blocks(spark, sf_dir)
    w_c = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    cum = blk.select(
        "f1",
        "f2",
        (
            2 * F.sum(F.col("f1") + F.col("f2")).over(w_c)
            - (F.col("f1") + F.col("f2"))
            + 1
        ).alias("rc2"),
        (2 * F.sum("f1").over(w_c) - F.col("f1") + 1).alias("r12"),
        (2 * F.sum("f2").over(w_c) - F.col("f2") + 1).alias("r22"),
    ).localCheckpoint()
    tot = cum.agg(
        F.sum("f1").cast("bigint").alias("n1"),
        F.sum("f2").cast("bigint").alias("n2"),
        F.expr("CAST(sum(f1 * rc2) AS BIGINT)").alias("sr21"),
        F.expr("CAST(sum(f2 * rc2) AS BIGINT)").alias("sr22"),
    )
    u = (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("n1", "n2", "sr21", "sr22")
        .agg(
            F.expr(
                "sum(f1 * (CAST(n1 * (rc2 - r12 + n1 + 1) - sr21"
                " AS DECIMAL(19,0))"
                " * (n1 * (rc2 - r12 + n1 + 1) - sr21)))"
            ).alias("u1"),
            F.expr(
                "sum(f2 * (CAST(n2 * (rc2 - r22 + n2 + 1) - sr22"
                " AS DECIMAL(19,0))"
                " * (n2 * (rc2 - r22 + n2 + 1) - sr22)))"
            ).alias("u2"),
        )
    )
    d = u.selectExpr(
        "n1",
        "n2",
        "sr21",
        "sr22",
        "CAST(u1 AS DOUBLE) / CAST(4 * n1 * (n1 - 1) AS DOUBLE) AS d1",
        "CAST(u2 AS DOUBLE) / CAST(4 * n2 * (n2 - 1) AS DOUBLE) AS d2",
    )
    w_txt = (
        "CAST(n1 * sr22 - n2 * sr21 AS DOUBLE)"
        " / (CAST(2 * (n1 + n2) AS DOUBLE) * sqrt(d1 + d2))"
    )
    return d.selectExpr(
        "n1 AS n_click",
        "n2 AS n_view",
        "round(CAST(n1 * sr22 - n2 * sr21 AS DOUBLE)"
        " / CAST(2 * n1 * n2 * (n1 + n2) AS DOUBLE)"
        " + CAST(1 AS DOUBLE) / 2, 6) AS p_hat",
        f"round({w_txt}, 6) AS w_stat",
        "round((d1 + d2) * (d1 + d2)"
        " / (d1 * d1 / CAST(n1 - 1 AS DOUBLE)"
        " + d2 * d2 / CAST(n2 - 1 AS DOUBLE)), 6) AS df",
        f"CAST(CASE WHEN abs(round({w_txt}, 9)) >= 1.96"
        " THEN 1 ELSE 0 END AS BIGINT) AS significant_05",
    )


# ---------------------------------------------------------------------------
# agg_fisher_exact
# ---------------------------------------------------------------------------


def _binom_spark(n: str, k: str) -> str:
    """Exact C(n, k) as a BIGINT fold (every partial product is itself
    a binomial coefficient, so div is exact) with the sequence(1, 0)
    descent guard (round-9 note)."""
    return (
        f"CASE WHEN ({k}) = 0 THEN CAST(1 AS BIGINT)"
        f" ELSE aggregate(sequence(1, CAST(({k}) AS INT)),"
        f" CAST(1 AS BIGINT),"
        f" (acc, i) -> acc * (({n}) - i + 1) div i) END"
    )


def _binom_duck(n: str, k: str) -> str:
    """DuckDB twin of _binom_spark (generate_series(1, 0) is already
    empty there, so the fold needs no zero guard)."""
    return (
        f"list_reduce(list_prepend(CAST(1 AS BIGINT),"
        f" CAST(generate_series(1, ({k})) AS BIGINT[])),"
        f" (acc, i) -> acc * (({n}) - i + 1) // i)"
    )


_FISHER_DUCK = f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS cnt
      FROM events WHERE event_type = 'click' GROUP BY 1),
    med AS (
      SELECT list_extract(list_sort(list(cnt)), (count(*) + 1) // 2)
               AS med
      FROM daily),
    fl AS (
      SELECT CAST(CASE WHEN dayofweek(day) IN (0, 6) THEN 1 ELSE 0 END
                  AS BIGINT) AS wk,
             CAST(CASE WHEN cnt > med THEN 1 ELSE 0 END AS BIGINT) AS hi
      FROM daily CROSS JOIN med),
    st AS (
      SELECT CAST(count(*) AS BIGINT) AS nd,
             CAST(sum(wk) AS BIGINT) AS nw,
             CAST(sum(hi) AS BIGINT) AS kh,
             CAST(sum(wk * hi) AS BIGINT) AS a
      FROM fl),
    dom AS (
      SELECT st.nd, st.nw, st.kh, st.a, x.x,
             ({_binom_duck('kh', 'x.x')})
             * ({_binom_duck('nd - kh', 'nw - x.x')}) AS num,
             ({_binom_duck('kh', 'a')})
             * ({_binom_duck('nd - kh', 'nw - a')}) AS numobs
      FROM st CROSS JOIN
           (SELECT unnest(generate_series(0, 60)) AS x) x
      WHERE x.x >= greatest(0, nw + kh - nd) AND x.x <= least(nw, kh)),
    agg AS (
      SELECT nd, nw, kh, a,
             CAST(sum(CASE WHEN num <= numobs THEN num ELSE 0 END)
                  AS BIGINT) AS s2,
             CAST(sum(CASE WHEN x >= a THEN num ELSE 0 END) AS BIGINT)
               AS s1,
             ({_binom_duck('max(nd)', 'max(nw)')}) AS cnn
      FROM dom GROUP BY nd, nw, kh, a)
    SELECT nd AS n_days, nw AS n_weekend, kh AS n_high,
           a AS n_weekend_high,
           round(CAST(s2 AS DOUBLE) / cnn, 9) AS p_two_sided,
           round(CAST(s1 AS DOUBLE) / cnn, 9) AS p_one_sided,
           round(CAST((2 * a + 1) * (2 * (nd - kh - nw + a) + 1)
                      AS DOUBLE)
                 / CAST((2 * (nw - a) + 1) * (2 * (kh - a) + 1)
                        AS DOUBLE), 6) AS or_haldane,
           CAST(CASE WHEN 20 * s2 < cnn THEN 1 ELSE 0 END AS BIGINT)
             AS significant_05
    FROM agg
    """


@query("agg_fisher_exact", oracle=_FISHER_DUCK)
def agg_fisher_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FISHER'S EXACT TEST (2x2): are WEEKEND days over-represented
    among HIGH-CLICK days?  Rows: weekend vs weekday (dayofweek);
    columns: daily click count above vs not above the low median of
    the 30 daily counts.  The conditional hypergeometric p-values are
    computed EXACTLY: the two-sided p sums P(x) over all tables with
    P(x) <= P(observed) ("method of small p"), the one-sided p over
    x >= observed.  The exact-inference companion to
    agg_mantel_haenszel (asymptotic CMH across strata) and
    agg_mcnemar_test (paired 2x2) — at n = 30 days the chi-square
    approximation is exactly what a careful analyst would refuse.

    EXACT arithmetic end-to-end: every C(n, k) is the BIGINT fold
    whose partial products are themselves binomial coefficients
    (agg_sign_test_paired machinery, with the sequence(1, 0) descent
    guard from the round-9 note); the common denominator C(N, n_w)
    cancels in the "P(x) <= P(obs)" comparison, so table selection is
    an INTEGER compare; the significance gate is the exact integer
    inequality 20 * sum_qualifying < C(N, n_w) — zero float error
    anywhere in the DECISION path.  The only doubles are the two
    display p-values (one division each, round(9)) and the Haldane
    odds ratio (2a+1)(2d+1)/((2b+1)(2c+1)), round(6).

    Shape at 100 TB: one filtered groupBy to the 30-day domain; the
    hypergeometric support (<= 9 tables) is a bounded explode off a
    1-row frame — everything after the first aggregate is constant
    work."""
    ev = table(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("event_type") == "click")
        .groupBy(F.expr("CAST(ts AS DATE)").alias("day"))
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .localCheckpoint()
    )
    med = daily.agg(
        F.expr(
            "element_at(sort_array(collect_list(cnt)),"
            " CAST((count(*) + 1) div 2 AS INT))"
        ).alias("med")
    )
    fl = daily.crossJoin(F.broadcast(med)).select(
        F.expr(
            "CAST(CASE WHEN dayofweek(day) IN (1, 7) THEN 1 ELSE 0 END"
            " AS BIGINT)"
        ).alias("wk"),
        F.expr(
            "CAST(CASE WHEN cnt > med THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("hi"),
    )
    st = fl.agg(
        F.count("*").cast("bigint").alias("nd"),
        F.sum("wk").cast("bigint").alias("nw"),
        F.sum("hi").cast("bigint").alias("kh"),
        F.sum(F.col("wk") * F.col("hi")).cast("bigint").alias("a"),
    )
    dom = (
        st.crossJoin(
            F.broadcast(spark.range(0, 61).select(F.col("id").alias("x")))
        )
        .where(
            F.expr(
                "x >= greatest(CAST(0 AS BIGINT), nw + kh - nd)"
                " AND x <= least(nw, kh)"
            )
        )
        .selectExpr(
            "nd",
            "nw",
            "kh",
            "a",
            "x",
            f"({_binom_spark('kh', 'x')})"
            f" * ({_binom_spark('nd - kh', 'nw - x')}) AS num",
            f"({_binom_spark('kh', 'a')})"
            f" * ({_binom_spark('nd - kh', 'nw - a')}) AS numobs",
        )
    )
    agg = dom.groupBy("nd", "nw", "kh", "a").agg(
        F.expr(
            "CAST(sum(CASE WHEN num <= numobs THEN num ELSE 0 END)"
            " AS BIGINT)"
        ).alias("s2"),
        F.expr(
            "CAST(sum(CASE WHEN x >= a THEN num ELSE 0 END) AS BIGINT)"
        ).alias("s1"),
    )
    return agg.selectExpr(
        "nd",
        "nw",
        "kh",
        "a",
        "s2",
        "s1",
        f"({_binom_spark('nd', 'nw')}) AS cnn",
    ).selectExpr(
        "nd AS n_days",
        "nw AS n_weekend",
        "kh AS n_high",
        "a AS n_weekend_high",
        "round(CAST(s2 AS DOUBLE) / cnn, 9) AS p_two_sided",
        "round(CAST(s1 AS DOUBLE) / cnn, 9) AS p_one_sided",
        "round(CAST((2 * a + 1) * (2 * (nd - kh - nw + a) + 1) AS DOUBLE)"
        " / CAST((2 * (nw - a) + 1) * (2 * (kh - a) + 1) AS DOUBLE), 6)"
        " AS or_haldane",
        "CAST(CASE WHEN 20 * s2 < cnn THEN 1 ELSE 0 END AS BIGINT)"
        " AS significant_05",
    )


# ---------------------------------------------------------------------------
# agg_cohens_kappa_daily
# ---------------------------------------------------------------------------


@query(
    "agg_cohens_kappa_daily",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(sum(CASE WHEN event_type = 'click'
                           THEN CAST(round(value * 100, 0) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS ct,
             CAST(sum(CASE WHEN event_type = 'view'
                           THEN CAST(round(value * 100, 0) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS vt
      FROM events WHERE event_type IN ('click', 'view')
      GROUP BY 1),
    rk AS (
      SELECT day,
             row_number() OVER (ORDER BY ct, day) AS rc,
             row_number() OVER (ORDER BY vt, day) AS rv,
             count(*) OVER () AS n
      FROM daily),
    tc AS (
      SELECT CAST((rc - 1) * 3 // n AS BIGINT) AS t1,
             CAST((rv - 1) * 3 // n AS BIGINT) AS t2,
             CAST(n AS BIGINT) AS n
      FROM rk),
    cont AS (
      SELECT t1, t2, CAST(count(*) AS BIGINT) AS cnt, max(n) AS n
      FROM tc GROUP BY t1, t2),
    marg AS (
      SELECT max(n) AS n,
             CAST(sum(CASE WHEN t1 = t2 THEN cnt ELSE 0 END) AS BIGINT)
               AS sd
      FROM cont),
    rm AS (SELECT t1 AS i, CAST(sum(cnt) AS BIGINT) AS ri
           FROM cont GROUP BY t1),
    cm AS (SELECT t2 AS i, CAST(sum(cnt) AS BIGINT) AS ci
           FROM cont GROUP BY t2),
    pe AS (
      SELECT CAST(sum(rm.ri * cm.ci) AS BIGINT) AS spe
      FROM rm JOIN cm ON rm.i = cm.i)
    SELECT n AS n_days, sd AS n_agree,
           round(CAST(sd AS DOUBLE) / CAST(n AS DOUBLE), 6) AS po,
           round(CAST(spe AS DOUBLE) / CAST(n * n AS DOUBLE), 6) AS pe,
           round(CAST(n * sd - spe AS DOUBLE)
                 / CAST(n * n - spe AS DOUBLE), 6) AS kappa
    FROM marg CROSS JOIN pe
    """,
)
def agg_cohens_kappa_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHEN'S KAPPA between two "raters" of daily revenue level: the
    click stream and the view stream each tercile the 30 days (low /
    mid / high) by their own exact integer-cent daily total; kappa
    measures agreement beyond chance on the 3x3 grid.  The
    channel-consistency check an analyst runs before trusting either
    stream alone — and the categorical-agreement companion to
    agg_kendall_w (rank concordance) on the same day domain.

    Parity: terciles come from row_number over (total, day) —
    deterministic on exact BIGINTs, identical tie handling both
    engines — bucketed by the integer formula (r - 1) * 3 div n (NOT
    ntile, whose uneven-bucket placement convention differs between
    engines); diagonal, row, and column sums are exact integers, so
    po, pe, and kappa = (N*sum_diag - sum r_i*c_i)/(N^2 - sum
    r_i*c_i) are each ONE double division, round(6).

    Shape at 100 TB: one conditional-aggregate groupBy to the day
    domain; two 30-row ranking windows; a 3x3 contingency with 3-row
    marginal joins — constant work past the first aggregate."""
    ev = table(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("event_type").isin("click", "view"))
        .groupBy(F.expr("CAST(ts AS DATE)").alias("day"))
        .agg(
            F.sum(
                F.expr(
                    "CASE WHEN event_type = 'click'"
                    " THEN CAST(value * 100 + 0.5 AS BIGINT) ELSE 0 END"
                )
            )
            .cast("bigint")
            .alias("ct"),
            F.sum(
                F.expr(
                    "CASE WHEN event_type = 'view'"
                    " THEN CAST(value * 100 + 0.5 AS BIGINT) ELSE 0 END"
                )
            )
            .cast("bigint")
            .alias("vt"),
        )
    )
    rk = daily.select(
        F.row_number().over(Window.orderBy("ct", "day")).alias("rc"),
        F.row_number().over(Window.orderBy("vt", "day")).alias("rv"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    tc = rk.selectExpr(
        "CAST((rc - 1) * 3 div n AS BIGINT) AS t1",
        "CAST((rv - 1) * 3 div n AS BIGINT) AS t2",
        "CAST(n AS BIGINT) AS n",
    )
    cont = tc.groupBy("t1", "t2").agg(
        F.count("*").cast("bigint").alias("cnt"), F.max("n").alias("n")
    ).localCheckpoint()
    marg = cont.agg(
        F.max("n").alias("n"),
        F.expr(
            "CAST(sum(CASE WHEN t1 = t2 THEN cnt ELSE 0 END) AS BIGINT)"
        ).alias("sd"),
    )
    rm = cont.groupBy(F.col("t1").alias("i")).agg(
        F.sum("cnt").cast("bigint").alias("ri")
    )
    cm = cont.groupBy(F.col("t2").alias("i")).agg(
        F.sum("cnt").cast("bigint").alias("ci")
    )
    pe = (
        rm.join(cm, "i")
        .agg(F.expr("CAST(sum(ri * ci) AS BIGINT)").alias("spe"))
    )
    return marg.crossJoin(F.broadcast(pe)).selectExpr(
        "n AS n_days",
        "sd AS n_agree",
        "round(CAST(sd AS DOUBLE) / CAST(n AS DOUBLE), 6) AS po",
        "round(CAST(spe AS DOUBLE) / CAST(n * n AS DOUBLE), 6) AS pe",
        "round(CAST(n * sd - spe AS DOUBLE)"
        " / CAST(n * n - spe AS DOUBLE), 6) AS kappa",
    )


# ---------------------------------------------------------------------------
# maintenance_column_profile
# ---------------------------------------------------------------------------


@query(
    "maintenance_column_profile",
    oracle="""
    WITH s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
        CAST(count(*) - count(o_orderkey) AS BIGINT) AS nn1,
        CAST(count(DISTINCT o_orderkey) AS BIGINT) AS nd1,
        CAST(min(o_orderkey) AS VARCHAR) AS mn1,
        CAST(max(o_orderkey) AS VARCHAR) AS mx1,
        CAST(count(*) - count(o_custkey) AS BIGINT) AS nn2,
        CAST(count(DISTINCT o_custkey) AS BIGINT) AS nd2,
        CAST(min(o_custkey) AS VARCHAR) AS mn2,
        CAST(max(o_custkey) AS VARCHAR) AS mx2,
        CAST(count(*) - count(o_orderstatus) AS BIGINT) AS nn3,
        CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS nd3,
        CAST(min(o_orderstatus) AS VARCHAR) AS mn3,
        CAST(max(o_orderstatus) AS VARCHAR) AS mx3,
        CAST(count(*) - count(o_totalprice) AS BIGINT) AS nn4,
        CAST(count(DISTINCT CAST(round(o_totalprice * 100, 0) AS BIGINT))
             AS BIGINT) AS nd4,
        CAST(min(CAST(round(o_totalprice * 100, 0) AS BIGINT))
             AS VARCHAR) AS mn4,
        CAST(max(CAST(round(o_totalprice * 100, 0) AS BIGINT))
             AS VARCHAR) AS mx4,
        CAST(count(*) - count(o_orderdate) AS BIGINT) AS nn5,
        CAST(count(DISTINCT CAST(o_orderdate AS DATE)) AS BIGINT) AS nd5,
        CAST(min(CAST(o_orderdate AS DATE)) AS VARCHAR) AS mn5,
        CAST(max(CAST(o_orderdate AS DATE)) AS VARCHAR) AS mx5,
        CAST(count(*) - count(o_orderpriority) AS BIGINT) AS nn6,
        CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS nd6,
        CAST(min(o_orderpriority) AS VARCHAR) AS mn6,
        CAST(max(o_orderpriority) AS VARCHAR) AS mx6
      FROM orders)
    SELECT 'o_orderkey' AS col_name, n_rows, nn1 AS n_nulls,
           nd1 AS n_distinct, mn1 AS min_repr, mx1 AS max_repr FROM s
    UNION ALL SELECT 'o_custkey', n_rows, nn2, nd2, mn2, mx2 FROM s
    UNION ALL SELECT 'o_orderstatus', n_rows, nn3, nd3, mn3, mx3 FROM s
    UNION ALL SELECT 'o_totalprice_cents', n_rows, nn4, nd4, mn4, mx4
      FROM s
    UNION ALL SELECT 'o_orderdate_day', n_rows, nn5, nd5, mn5, mx5 FROM s
    UNION ALL SELECT 'o_orderpriority', n_rows, nn6, nd6, mn6, mx6 FROM s
    ORDER BY col_name
    """,
)
def maintenance_column_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ANALYZE-TABLE COLUMN PROFILE of orders: one row per column
    with exact row/null/distinct counts and min/max — the statistics
    a catalog keeps for CBO join ordering and that a data engineer
    reads first when a table misbehaves.  Completes the maintenance_
    family (referential_integrity checks FKs; this profiles the
    columns themselves).

    Parity choices: o_totalprice profiles as EXACT INTEGER CENTS
    (double min/max string-rendering differs between engines — the
    money rule), o_orderdate as its DATE day (timestamp-to-string
    fractional-second formats differ; ISO date text is identical),
    keys and varchars render identically by construction.  All
    counts exact BIGINT — count(DISTINCT) not approx_count_distinct,
    so the oracle hash-matches.

    Shape at 100 TB: TWO scans, each the cheapest plan for its half
    (round-15 split; values byte-identical to the old single agg,
    probed before shipping). The null/distinct COUNTS keep the
    Expand-based multi-distinct pass but now run as HashAggregate —
    in the combined form the min/max STRING aggregation buffers
    forced the whole pass to SortAggregate, i.e. a full sort of the
    7x-expanded fact rows by the 7 distinct keys (guide §2: don't
    sort what a hash can aggregate). The min/max pass is a plain
    ungrouped aggregate — no Expand, no sort, one streaming pass —
    and the two 1-row results crossJoin (broadcast) before the
    6-row stack() unpivot. Each pass is also built as ONE selectExpr
    (31 separate F.expr py4j round-trips made the per-call DataFrame
    build ~4 s in the per-op audit — the round-2 one-expr-string
    lesson; execution was 60 ms all along). A production profiler
    would swap count(DISTINCT) for HLL sketches per partition; the
    exact form is what an ORACLE-checkable profile needs (the
    agg_approx_distinct twin already covers the sketch path)."""
    o = table(spark, sf_dir, "orders")
    counts = o.selectExpr(
        "CAST(count(*) AS BIGINT) AS n_rows",
        "CAST(count(*) - count(o_orderkey) AS BIGINT) AS nn1",
        "CAST(count(DISTINCT o_orderkey) AS BIGINT) AS nd1",
        "CAST(count(*) - count(o_custkey) AS BIGINT) AS nn2",
        "CAST(count(DISTINCT o_custkey) AS BIGINT) AS nd2",
        "CAST(count(*) - count(o_orderstatus) AS BIGINT) AS nn3",
        "CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS nd3",
        "CAST(count(*) - count(o_totalprice) AS BIGINT) AS nn4",
        "CAST(count(DISTINCT CAST(o_totalprice * 100 + 0.5 AS BIGINT))"
        " AS BIGINT) AS nd4",
        "CAST(count(*) - count(o_orderdate) AS BIGINT) AS nn5",
        "CAST(count(DISTINCT CAST(o_orderdate AS DATE)) AS BIGINT) AS nd5",
        "CAST(count(*) - count(o_orderpriority) AS BIGINT) AS nn6",
        "CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS nd6",
    )
    mm = o.selectExpr(
        "CAST(min(o_orderkey) AS STRING) AS mn1",
        "CAST(max(o_orderkey) AS STRING) AS mx1",
        "CAST(min(o_custkey) AS STRING) AS mn2",
        "CAST(max(o_custkey) AS STRING) AS mx2",
        "CAST(min(o_orderstatus) AS STRING) AS mn3",
        "CAST(max(o_orderstatus) AS STRING) AS mx3",
        "CAST(min(CAST(o_totalprice * 100 + 0.5 AS BIGINT)) AS STRING)"
        " AS mn4",
        "CAST(max(CAST(o_totalprice * 100 + 0.5 AS BIGINT)) AS STRING)"
        " AS mx4",
        "CAST(min(CAST(o_orderdate AS DATE)) AS STRING) AS mn5",
        "CAST(max(CAST(o_orderdate AS DATE)) AS STRING) AS mx5",
        "CAST(min(o_orderpriority) AS STRING) AS mn6",
        "CAST(max(o_orderpriority) AS STRING) AS mx6",
    )
    s = counts.crossJoin(mm)
    return s.selectExpr(
        "stack(6,"
        " 'o_orderkey', nn1, nd1, mn1, mx1,"
        " 'o_custkey', nn2, nd2, mn2, mx2,"
        " 'o_orderstatus', nn3, nd3, mn3, mx3,"
        " 'o_totalprice_cents', nn4, nd4, mn4, mx4,"
        " 'o_orderdate_day', nn5, nd5, mn5, mx5,"
        " 'o_orderpriority', nn6, nd6, mn6, mx6)"
        " AS (col_name, n_nulls, n_distinct, min_repr, max_repr)",
        "n_rows",
    ).selectExpr(
        "col_name", "n_rows", "n_nulls", "n_distinct", "min_repr",
        "max_repr"
    ).orderBy("col_name")


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
# agg_poisson_dispersion
# ---------------------------------------------------------------------------


@query(
    "agg_poisson_dispersion",
    oracle="""
    WITH day AS (
      SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS cnt
      FROM events WHERE event_type = 'click' GROUP BY 1),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cnt) AS BIGINT) AS s,
             CAST(sum(cnt * cnt) AS BIGINT) AS q
      FROM day)
    SELECT n AS n_days, s AS n_events,
           round(CAST(n * q - s * s AS DOUBLE) / CAST(s AS DOUBLE), 6)
             AS chi2_stat,
           round(CAST(n * q - s * s AS DOUBLE)
                 / CAST(s * (n - 1) AS DOUBLE), 6) AS dispersion_ratio,
           CAST(CASE WHEN round(CAST(n * q - s * s AS DOUBLE)
                               / CAST(s AS DOUBLE), 9) >= 45.722
                THEN 1 ELSE 0 END AS BIGINT) AS overdispersed_05,
           CAST(CASE WHEN round(CAST(n * q - s * s AS DOUBLE)
                               / CAST(s AS DOUBLE), 9) <= 16.047
                THEN 1 ELSE 0 END AS BIGINT) AS underdispersed_05
    FROM s
    """,
)
def agg_poisson_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POISSON DISPERSION (variance-to-mean index) TEST on daily
    click arrival counts: chi2 = SUM (c_d - cbar)^2 / cbar ~
    chi^2(n-1) under a homogeneous Poisson process; the dispersion
    ratio chi2/(n-1) reads directly as variance/mean.
    Over-dispersion (> 45.722 at n = 30) is the burstiness /
    day-effect signal that decides between Poisson and negative-
    binomial traffic models — the COUNT-side companion to the
    value-side serial tests (agg_runs_test etc.) on the same day
    grid.  Sibling: agg_overdispersion_nb_fit asks the same question
    of PER-USER lifetime counts (population heterogeneity) and fits
    the NB replacement; this one tests the DAY axis (temporal
    burstiness) where capacity planning lives.

    Exactness: the identity SUM (c - cbar)^2 / cbar = (n*Q - S^2)/S
    makes the statistic a ratio of exact BIGINTs (counts, their
    squares); ONE double division, round(6), with both chi^2(29)
    5% tails gated at round(9).

    Shape at 100 TB: one filtered count-groupBy to the day domain,
    one 30-row aggregate, constant work after."""
    ev = table(spark, sf_dir, "events")
    day = (
        ev.where(F.col("event_type") == "click")
        .groupBy(F.expr("CAST(ts AS DATE)").alias("day"))
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    s = day.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cnt").cast("bigint").alias("s"),
        F.expr("CAST(sum(cnt * cnt) AS BIGINT)").alias("q"),
    )
    chi_txt = "CAST(n * q - s * s AS DOUBLE) / CAST(s AS DOUBLE)"
    return s.selectExpr(
        "n AS n_days",
        "s AS n_events",
        f"round({chi_txt}, 6) AS chi2_stat",
        "round(CAST(n * q - s * s AS DOUBLE)"
        " / CAST(s * (n - 1) AS DOUBLE), 6) AS dispersion_ratio",
        f"CAST(CASE WHEN round({chi_txt}, 9) >= 45.722 THEN 1 ELSE 0 END"
        " AS BIGINT) AS overdispersed_05",
        f"CAST(CASE WHEN round({chi_txt}, 9) <= 16.047 THEN 1 ELSE 0 END"
        " AS BIGINT) AS underdispersed_05",
    )


# ---------------------------------------------------------------------------
# maintenance_constraint_audit
# ---------------------------------------------------------------------------


@query(
    "maintenance_constraint_audit",
    oracle="""
    WITH o AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS v_nullkey,
             CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
               AS v_dupkey,
             CAST(sum(CASE WHEN o_totalprice IS NULL
                             OR o_totalprice <= 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS v_price,
             CAST(sum(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P')
                             OR o_orderstatus IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS v_status
      FROM orders),
    l AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN l_quantity IS NULL
                             OR l_quantity < 1 OR l_quantity > 50
                           THEN 1 ELSE 0 END) AS BIGINT) AS v_qty
      FROM lineitem),
    e AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN value IS NULL OR value < 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS v_value,
             CAST(sum(CASE WHEN user_id IS NULL OR user_id < 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS v_user
      FROM events)
    SELECT * FROM (
      SELECT 'orders.o_orderkey_not_null' AS constraint_name,
             n AS n_checked, v_nullkey AS n_violations,
             CAST(CASE WHEN v_nullkey = 0 THEN 1 ELSE 0 END AS BIGINT)
               AS passed
      FROM o
      UNION ALL
      SELECT 'orders.o_orderkey_unique', n, v_dupkey,
             CAST(CASE WHEN v_dupkey = 0 THEN 1 ELSE 0 END AS BIGINT)
      FROM o
      UNION ALL
      SELECT 'orders.o_totalprice_positive', n, v_price,
             CAST(CASE WHEN v_price = 0 THEN 1 ELSE 0 END AS BIGINT)
      FROM o
      UNION ALL
      SELECT 'orders.o_orderstatus_enum', n, v_status,
             CAST(CASE WHEN v_status = 0 THEN 1 ELSE 0 END AS BIGINT)
      FROM o
      UNION ALL
      SELECT 'lineitem.l_quantity_range_1_50', n, v_qty,
             CAST(CASE WHEN v_qty = 0 THEN 1 ELSE 0 END AS BIGINT)
      FROM l
      UNION ALL
      SELECT 'events.value_non_negative', n, v_value,
             CAST(CASE WHEN v_value = 0 THEN 1 ELSE 0 END AS BIGINT)
      FROM e
      UNION ALL
      SELECT 'events.user_id_non_negative', n, v_user,
             CAST(CASE WHEN v_user = 0 THEN 1 ELSE 0 END AS BIGINT)
      FROM e) t
    ORDER BY constraint_name
    """,
)
def maintenance_constraint_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DECLARATIVE DATA-QUALITY CONSTRAINT AUDIT (the dbt-test /
    Deequ-check analogue): one row per constraint with exact checked
    and violation counts — NOT-NULL and UNIQUE on the orders key, a
    positivity check on the money column, an enum check on the
    status, a physical range on l_quantity, and non-negativity on
    events.value/user_id.  A healthy fixture returns all-pass with
    real counts, which is exactly what the oracle verifies; any
    violation row carries its exact count, so the op doubles as the
    quarantine-sizing query.  Completes the maintenance_ family:
    referential_integrity (FK edges), column_profile (distributions),
    this (invariants).

    Parity: every check is a conditional count over exact
    comparisons — integers, strings, NULL tests — no floats anywhere;
    the UNIQUE check is count(*) - count(DISTINCT key).

    Shape at 100 TB: ONE aggregate scan per audited table (all of a
    table's checks ride the same conditional-sum pass, map-side
    combined), then a constant 7-row union of the three 1-row
    frames.  Adding a check costs one expression, not one scan."""
    o = table(spark, sf_dir, "orders").agg(
        F.count("*").cast("bigint").alias("n"),
        F.expr(
            "CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)"
            " AS BIGINT)"
        ).alias("v_nullkey"),
        F.expr(
            "CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)"
        ).alias("v_dupkey"),
        F.expr(
            "CAST(sum(CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0"
            " THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("v_price"),
        F.expr(
            "CAST(sum(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P')"
            " OR o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("v_status"),
    ).localCheckpoint()  # 1-row frame, referenced once per orders
    # constraint below — without the checkpoint each union branch
    # re-derives the full table scan (4 orders scans, round-10 audit)
    li = table(spark, sf_dir, "lineitem").agg(
        F.count("*").cast("bigint").alias("n"),
        F.expr(
            "CAST(sum(CASE WHEN l_quantity IS NULL OR l_quantity < 1"
            " OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("v_qty"),
    ).localCheckpoint()  # 1-row
    e = table(spark, sf_dir, "events").agg(
        F.count("*").cast("bigint").alias("n"),
        F.expr(
            "CAST(sum(CASE WHEN value IS NULL OR value < 0"
            " THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("v_value"),
        F.expr(
            "CAST(sum(CASE WHEN user_id IS NULL OR user_id < 0"
            " THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("v_user"),
    ).localCheckpoint()  # 1-row

    def rows(frame, specs):
        out = None
        for name, viol in specs:
            r = frame.selectExpr(
                f"'{name}' AS constraint_name",
                "n AS n_checked",
                f"{viol} AS n_violations",
                f"CAST(CASE WHEN {viol} = 0 THEN 1 ELSE 0 END AS BIGINT)"
                " AS passed",
            )
            out = r if out is None else out.unionByName(r)
        return out

    res = rows(
        o,
        [
            ("orders.o_orderkey_not_null", "v_nullkey"),
            ("orders.o_orderkey_unique", "v_dupkey"),
            ("orders.o_totalprice_positive", "v_price"),
            ("orders.o_orderstatus_enum", "v_status"),
        ],
    )
    res = res.unionByName(
        rows(li, [("lineitem.l_quantity_range_1_50", "v_qty")])
    )
    res = res.unionByName(
        rows(
            e,
            [
                ("events.value_non_negative", "v_value"),
                ("events.user_id_non_negative", "v_user"),
            ],
        )
    )
    return res.orderBy("constraint_name")


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
# agg_rfm_segments
# ---------------------------------------------------------------------------


@query(
    "agg_rfm_segments",
    oracle="""
    WITH base AS (
      SELECT o_custkey,
             date_diff('day', max(CAST(o_orderdate AS DATE)),
                       (SELECT max(CAST(o_orderdate AS DATE))
                        FROM orders)) AS rec_days,
             CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS mon
      FROM orders GROUP BY o_custkey),
    rk AS (
      SELECT o_custkey, rec_days, freq, mon,
             row_number() OVER (ORDER BY rec_days DESC, o_custkey)
               AS rr,
             row_number() OVER (ORDER BY freq, o_custkey) AS rf,
             row_number() OVER (ORDER BY mon, o_custkey) AS rm,
             count(*) OVER () AS n
      FROM base),
    sc AS (
      SELECT CAST(1 + (rr - 1) * 5 // n AS BIGINT) AS r_score,
             CAST(1 + (rf - 1) * 5 // n AS BIGINT) AS f_score,
             CAST(1 + (rm - 1) * 5 // n AS BIGINT) AS m_score,
             mon
      FROM rk)
    SELECT r_score, f_score, m_score,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(mon) AS BIGINT) AS total_cents
    FROM sc GROUP BY 1, 2, 3
    ORDER BY r_score, f_score, m_score
    """,
)
def agg_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM SEGMENTATION of purchasing customers: quintile scores for
    Recency (days since last order, relative to the corpus's last
    order date), Frequency (order count), and Monetary (exact cent
    total), rolled up to segment cells with customer counts and
    revenue — the classic marketing-ops 5x5x5 grid ("555" =
    champions, "155" = at-risk whales).  Purchasers only by design:
    RFM scores customer VALUE, unlike agg_gini_concentration which
    deliberately keeps zero-revenue customers to measure market
    concentration.

    Parity: recency is an exact integer day difference anchored to
    max(o_orderdate) (no wall clock — deterministic and
    fixture-stable); quintiles come from the exact (metric, custkey)
    total-order rank bucketed by the integer formula
    1 + (r-1)*5 div n (the agg_cohens_kappa_daily convention — NOT
    ntile), so every score is an exact integer and the rollup is
    pure integer aggregation; recency ranks DESCEND so score 5 =
    most recent on all three axes.

    Shape at 100 TB: one groupBy(custkey) collapse of orders, then
    NO global row_number — each metric's rank decomposes via
    pipeline_shard_assign's value-domain machinery: count per
    distinct metric value, ordered cumulative over that domain for
    the global offset, PARTITIONED row_number within the value by
    custkey; r = offset + within-rank reproduces the exact total
    order.  Recency (<= date-span days) and frequency (<= max order
    count) domains are bounded-small and broadcast back; the
    monetary domain is ~|customers| distinct cents, so its offsets
    come back through a shuffle equi-join on mon — which also
    co-locates the partitionBy(mon) tie-break window (one shuffle,
    reused; the only single-partition sort anywhere is over 2-column
    (value, count) domains, never the customer rows).  A <=125-row
    rollup ends it."""
    o = table(spark, sf_dir, "orders")
    mx = o.agg(
        F.expr("max(CAST(o_orderdate AS DATE))").alias("mxd")
    )
    base = (
        o.crossJoin(F.broadcast(mx))
        .groupBy("o_custkey")
        .agg(
            F.expr(
                "datediff(max(mxd), max(CAST(o_orderdate AS DATE)))"
            ).alias("rec_days"),
            F.count("*").cast("bigint").alias("freq"),
            F.expr(
                "CAST(sum(CAST(o_totalprice * 100 + 0.5 AS BIGINT))"
                " AS BIGINT)"
            ).alias("mon"),
        )
        .localCheckpoint()  # customer-grain aggregate referenced 5x
        # (count + 3 metric domains + the final rank join): without
        # the checkpoint every reference re-derives the orders scan
        # (10 scans in the round-10 plan audit); at scale this is the
        # materialized first shuffle a production job would persist
    )
    tot = base.agg(F.count("*").cast("bigint").alias("n"))

    def _dom_offsets(metric: str, descending: bool, out: str):
        cnt = base.groupBy(metric).agg(F.count("*").alias("c"))
        order = F.col(metric).desc() if descending else F.col(metric)
        wd = Window.orderBy(order).rowsBetween(
            Window.unboundedPreceding, -1
        )
        return cnt.select(
            metric,
            F.coalesce(F.sum("c").over(wd), F.lit(0))
            .cast("bigint")
            .alias(out),
        )

    off_r = _dom_offsets("rec_days", True, "off_r")
    off_f = _dom_offsets("freq", False, "off_f")
    # the monetary domain is customer-grain (~|customers| distinct
    # cents) — distributed two-level prefix sum, never a single-
    # partition sort; the bounded rec_days/freq domains above keep
    # the plain window (functions/domain.py; round-10 verdict rule)
    off_m = dist_exclusive_prefix(
        base.groupBy("mon").agg(F.count("*").alias("c")),
        [("mon", False)],
        ["c"],
        cache_key=f"rfm_mon:{sf_dir}",
    ).selectExpr("mon", "CAST(_pre_c AS BIGINT) AS off_m")
    rk = (
        base.join(off_m, "mon")  # big domain: shuffle join, reused by
        # the partitionBy(mon) window below
        .join(F.broadcast(off_r), "rec_days")
        .join(F.broadcast(off_f), "freq")
        .crossJoin(F.broadcast(tot))
        .select(
            "mon",
            "n",
            (
                F.col("off_r")
                + F.row_number().over(
                    Window.partitionBy("rec_days").orderBy("o_custkey")
                )
            ).alias("rr"),
            (
                F.col("off_f")
                + F.row_number().over(
                    Window.partitionBy("freq").orderBy("o_custkey")
                )
            ).alias("rf"),
            (
                F.col("off_m")
                + F.row_number().over(
                    Window.partitionBy("mon").orderBy("o_custkey")
                )
            ).alias("rm"),
        )
    )
    sc = rk.selectExpr(
        "CAST(1 + (rr - 1) * 5 div n AS BIGINT) AS r_score",
        "CAST(1 + (rf - 1) * 5 div n AS BIGINT) AS f_score",
        "CAST(1 + (rm - 1) * 5 div n AS BIGINT) AS m_score",
        "mon",
    )
    return (
        sc.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            F.sum("mon").cast("bigint").alias("total_cents"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


# ---------------------------------------------------------------------------
# agg_hhi_concentration
# ---------------------------------------------------------------------------


@query(
    "agg_hhi_concentration",
    oracle="""
    WITH rev AS (
      SELECT s.s_nationkey, l.l_suppkey,
             CAST(sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS r
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY 1, 2),
    nat AS (
      SELECT s_nationkey,
             CAST(count(*) AS BIGINT) AS n_suppliers,
             CAST(sum(r) AS BIGINT) AS tot,
             sum(CAST(r AS HUGEINT) * r) AS sq,
             CAST(max(r) AS BIGINT) AS mx
      FROM rev GROUP BY 1)
    SELECT n.s_nationkey AS nationkey, nn.n_name AS nation,
           n_suppliers,
           tot AS total_cents,
           round(CAST(sq AS DOUBLE) / (CAST(tot AS DOUBLE) * tot), 6)
             AS hhi,
           round((CAST(tot AS DOUBLE) * tot) / CAST(sq AS DOUBLE), 6)
             AS effective_competitors,
           round(CAST(mx AS DOUBLE) / CAST(tot AS DOUBLE), 6)
             AS top_share
    FROM nat n JOIN nation nn ON n.s_nationkey = nn.n_nationkey
    ORDER BY nationkey
    """,
)
def agg_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HERFINDAHL-HIRSCHMAN INDEX of supplier revenue concentration
    per nation: HHI = sum(share_i^2), plus its reciprocal (the
    "effective number of competitors") and the top supplier's share —
    the antitrust-standard market-structure read.  Sibling:
    agg_gini_concentration measures CUSTOMER revenue inequality per
    nation (Gini weighs the whole Lorenz curve); HHI weighs the HEAD
    quadratically and is the measure regulators threshold (0.15 /
    0.25), so the pair answers different questions on opposite sides
    of the market.

    Parity: revenues are exact cents; the share squares NEVER happen
    in floats — sum(r_i^2) is an exact HUGEINT/DECIMAL integer and
    HHI = sq / tot^2 is ONE double division (tot^2 as a double
    product of the same exact integer on both engines — tot ~ 1e9
    cents squares to ~1e18, exact in a double up to 2^53 after the
    correctly-rounded cast... the product is the IEEE-rounded square
    of an exactly-represented integer <= 2^53 on BOTH engines, hence
    bit-identical), round(6).

    Shape at 100 TB: one lineitem groupBy(suppkey) after a broadcast
    join to the supplier dim (suppliers are always the small side),
    then a nation-domain aggregate and a broadcast join to the
    25-row nation dim."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.expr("CAST(l_extendedprice * 100 + 0.5 AS BIGINT)").alias("c"),
    )
    su = table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    rev = (
        li.join(F.broadcast(su), li["l_suppkey"] == su["s_suppkey"])
        .groupBy("s_nationkey", "l_suppkey")
        .agg(F.sum("c").cast("bigint").alias("r"))
    )
    nat = rev.groupBy("s_nationkey").agg(
        F.count("*").cast("bigint").alias("n_suppliers"),
        F.sum("r").cast("bigint").alias("tot"),
        F.expr("sum(CAST(r AS DECIMAL(19,0)) * r)").alias("sq"),
        F.max("r").cast("bigint").alias("mx"),
    )
    na = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        nat.join(
            F.broadcast(na), nat["s_nationkey"] == na["n_nationkey"]
        )
        .selectExpr(
            "s_nationkey AS nationkey",
            "n_name AS nation",
            "n_suppliers",
            "tot AS total_cents",
            "round(CAST(sq AS DOUBLE) / (CAST(tot AS DOUBLE) * tot), 6)"
            " AS hhi",
            "round((CAST(tot AS DOUBLE) * tot) / CAST(sq AS DOUBLE), 6)"
            " AS effective_competitors",
            "round(CAST(mx AS DOUBLE) / CAST(tot AS DOUBLE), 6)"
            " AS top_share",
        )
        .orderBy("nationkey")
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
_AB_ARM_DUCK = (
    "CAST((user_id * 2654435761) % 4294967296 // 2147483648"
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
# agg_matthews_phi
# ---------------------------------------------------------------------------


@query(
    "agg_matthews_phi",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CAST(CASE WHEN sum(CASE WHEN event_type = 'purchase'
                                     THEN 1 ELSE 0 END) >= 12
                       THEN 1 ELSE 0 END AS BIGINT) AS x,
             CAST(max(CASE WHEN event_type = 'purchase'
                            AND value * 100 >= 10000
                           THEN 1 ELSE 0 END) AS BIGINT) AS y
      FROM events GROUP BY user_id),
    c AS (
      SELECT
        CAST(sum(CASE WHEN x = 1 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS a,
        CAST(sum(CASE WHEN x = 1 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS b,
        CAST(sum(CASE WHEN x = 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS c,
        CAST(sum(CASE WHEN x = 0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS d
      FROM u)
    SELECT a AS n_both, b AS n_x_only, c AS n_y_only, d AS n_neither,
           CASE WHEN a + b = 0 OR c + d = 0 OR a + c = 0 OR b + d = 0 THEN NULL
                ELSE round(CAST(a * d - b * c AS DOUBLE)
                 / (sqrt(CAST((a + b) * (c + d) AS DOUBLE))
                    * sqrt(CAST((a + c) * (b + d) AS DOUBLE))), 6)
           END AS phi,
           CASE WHEN a + b = 0 OR c + d = 0 OR a + c = 0 OR b + d = 0 THEN NULL
                ELSE round(CAST(a + b + c + d AS DOUBLE)
                 * (CAST(a * d - b * c AS DOUBLE)
                    / (sqrt(CAST((a + b) * (c + d) AS DOUBLE))
                       * sqrt(CAST((a + c) * (b + d) AS DOUBLE))))
                 * (CAST(a * d - b * c AS DOUBLE)
                    / (sqrt(CAST((a + b) * (c + d) AS DOUBLE))
                       * sqrt(CAST((a + c) * (b + d) AS DOUBLE)))), 6)
           END AS chi2_stat,
           CAST(CASE WHEN NOT (a + b = 0 OR c + d = 0 OR a + c = 0
                 OR b + d = 0)
                 AND round(CAST(a + b + c + d AS DOUBLE)
                 * (CAST(a * d - b * c AS DOUBLE)
                    / (sqrt(CAST((a + b) * (c + d) AS DOUBLE))
                       * sqrt(CAST((a + c) * (b + d) AS DOUBLE))))
                 * (CAST(a * d - b * c AS DOUBLE)
                    / (sqrt(CAST((a + b) * (c + d) AS DOUBLE))
                       * sqrt(CAST((a + c) * (b + d) AS DOUBLE)))), 9)
                 >= 3.8415 THEN 1 ELSE 0 END AS BIGINT) AS associated_05
    FROM c
    """,
)
def agg_matthews_phi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATTHEWS / PHI COEFFICIENT between two user-level binary
    behaviors — adopter (>= 12 purchases, the agg_tost_equivalence
    converter rule) vs big-spender (any purchase >= $100): the 2x2
    association measure ML evaluation calls MCC, with its chi^2
    (n*phi^2, df 1) significance gate.  Sibling differentiation:
    agg_cohens_kappa_daily measures chance-corrected AGREEMENT of two
    raters labeling the same days; phi measures ASSOCIATION of two
    different traits on the same units — same 2x2 table, different
    null and normalization.

    Parity: the four cells are exact integers from one pass;
    ad - bc is an exact BIGINT; the denominator is written
    sqrt((a+b)(c+d)) * sqrt((a+c)(b+d)) — each factor is <= n^2
    (exact in a double at any realistic n) and IEEE sqrt is
    correctly rounded on both engines, so the whole expression is
    bit-identical without 128-bit products (a single 4-way product
    would overflow int64 past n ~ 2e4 users).

    Shape at 100 TB: one groupBy(user) collapse, one 4-cell
    conditional aggregate, constant assembly."""
    ev = table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.expr(
            "CAST(CASE WHEN sum(CASE WHEN event_type = 'purchase'"
            " THEN 1 ELSE 0 END) >= 12 THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("x"),
        F.expr(
            "CAST(max(CASE WHEN event_type = 'purchase'"
            " AND value * 100 >= 10000 THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("y"),
    )
    c = u.agg(
        F.expr(
            "CAST(sum(CASE WHEN x = 1 AND y = 1 THEN 1 ELSE 0 END)"
            " AS BIGINT)"
        ).alias("a"),
        F.expr(
            "CAST(sum(CASE WHEN x = 1 AND y = 0 THEN 1 ELSE 0 END)"
            " AS BIGINT)"
        ).alias("b"),
        F.expr(
            "CAST(sum(CASE WHEN x = 0 AND y = 1 THEN 1 ELSE 0 END)"
            " AS BIGINT)"
        ).alias("c"),
        F.expr(
            "CAST(sum(CASE WHEN x = 0 AND y = 0 THEN 1 ELSE 0 END)"
            " AS BIGINT)"
        ).alias("d"),
    )
    phi_txt = (
        "CAST(a * d - b * c AS DOUBLE)"
        " / (sqrt(CAST((a + b) * (c + d) AS DOUBLE))"
        " * sqrt(CAST((a + c) * (b + d) AS DOUBLE)))"
    )
    chi_txt = f"CAST(a + b + c + d AS DOUBLE) * ({phi_txt}) * ({phi_txt})"
    # phi is undefined when either trait saturates (a marginal is 0) —
    # the sf1x blow-up is known to saturate threshold indicators, so
    # gate to NULL instead of an ANSI divide-by-zero (round-10 rule)
    degen = "a + b = 0 OR c + d = 0 OR a + c = 0 OR b + d = 0"
    return c.selectExpr(
        "a AS n_both",
        "b AS n_x_only",
        "c AS n_y_only",
        "d AS n_neither",
        f"CASE WHEN {degen} THEN NULL ELSE round({phi_txt}, 6) END AS phi",
        f"CASE WHEN {degen} THEN NULL ELSE round({chi_txt}, 6) END"
        " AS chi2_stat",
        f"CAST(CASE WHEN NOT ({degen}) AND round({chi_txt}, 9) >= 3.8415"
        " THEN 1 ELSE 0 END AS BIGINT) AS associated_05",
    )


# ---------------------------------------------------------------------------
# agg_last_digit_uniformity
# ---------------------------------------------------------------------------


@query(
    "agg_last_digit_uniformity",
    oracle="""
    WITH d AS (
      SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) % 10 AS digit
      FROM orders),
    c AS (SELECT digit, CAST(count(*) AS BIGINT) AS cnt FROM d GROUP BY 1),
    t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
                 sum(CAST((10 * cnt - (SELECT sum(cnt) FROM c)) AS HUGEINT)
                     * (10 * cnt - (SELECT sum(cnt) FROM c))) AS num
          FROM c)
    SELECT c.digit, c.cnt,
           round(CAST(c.cnt AS DOUBLE) / t.n, 6) AS pct,
           round(CAST(t.num AS DOUBLE) / (10.0 * t.n), 6) AS chi2_total,
           CAST(CASE WHEN round(CAST(t.num AS DOUBLE) / (10.0 * t.n), 9)
                          >= 16.919 THEN 1 ELSE 0 END AS BIGINT)
             AS nonuniform_05
    FROM c CROSS JOIN t ORDER BY c.digit
    """,
)
def agg_last_digit_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAST-DIGIT UNIFORMITY TEST on the money column — the
    data-fabrication / rounding-artifact check auditors run: the
    terminal cent digit of genuine transaction amounts should be
    uniform on 0-9 (chi^2, df 9), while hand-entered or rounded
    figures pile on 0 and 5.  Sibling differentiation:
    agg_benford_deviation tests the FIRST significant digit against
    the logarithmic Benford distribution (scale-invariance of
    magnitudes); the LAST digit is uniform under a completely
    different mechanism and catches a different fabrication mode —
    together they bracket the amount distribution.

    Parity: digits are exact integer cents mod 10; the chi^2
    collapses to sum((10*cnt - n)^2) / (10*n) — an exact HUGEINT /
    DECIMAL numerator (the (obs - n/10)^2 / (n/10) identity cleared
    of fractions) with ONE double division, round(6); gate at
    chi^2(9) 5% = 16.919.

    Shape at 100 TB: one scan, 10-group aggregate (map-side
    combined), broadcast of the 1-row total back to 10 rows."""
    o = table(spark, sf_dir, "orders")
    d = o.selectExpr(
        "CAST(o_totalprice * 100 + 0.5 AS BIGINT) % 10 AS digit"
    )
    c = d.groupBy("digit").agg(F.count("*").cast("bigint").alias("cnt"))
    t = c.agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.expr(
            "sum(CAST(10 * cnt AS DECIMAL(38,0))"
            " * (10 * cnt)) "
        ).alias("s2x100"),
    ).selectExpr(
        "n",
        # sum((10c - n)^2) = 100*sum(c^2) - 20n*sum(c) + 10*n^2
        #                  = s2x100 - 10*n^2   (since sum(c) = n)
        "CAST(s2x100 - 10 * CAST(n AS DECIMAL(38,0)) * n AS DECIMAL(38,0))"
        " AS num",
    )
    return (
        c.crossJoin(F.broadcast(t))
        .selectExpr(
            "digit",
            "cnt",
            "round(CAST(cnt AS DOUBLE) / n, 6) AS pct",
            "round(CAST(num AS DOUBLE) / (10.0 * n), 6) AS chi2_total",
            "CAST(CASE WHEN round(CAST(num AS DOUBLE) / (10.0 * n), 9)"
            " >= 16.919 THEN 1 ELSE 0 END AS BIGINT) AS nonuniform_05",
        )
        .orderBy("digit")
    )


# ---------------------------------------------------------------------------
# win_revenue_up_streaks
# ---------------------------------------------------------------------------


@query(
    "win_revenue_up_streaks",
    oracle="""
    WITH daily AS (
      SELECT CAST(CAST(ts AS DATE) AS DATE) AS day,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS tot
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
    flagged AS (
      SELECT day, tot,
             CASE WHEN lag(tot) OVER (ORDER BY day) IS NULL
                   OR tot <= lag(tot) OVER (ORDER BY day)
                  THEN 1 ELSE 0 END AS brk
      FROM daily),
    grp AS (
      SELECT day, tot,
             sum(brk) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS g
      FROM flagged),
    runs AS (
      SELECT g, CAST(count(*) AS BIGINT) AS len,
             min(day) AS start_day, max(day) AS end_day,
             CAST(max(tot) - min(tot) AS BIGINT) AS gain_cents
      FROM grp GROUP BY g)
    SELECT start_day, end_day, len AS streak_days, gain_cents,
           CAST(max(len) OVER () AS BIGINT) AS longest_streak
    FROM runs WHERE len >= 2 ORDER BY start_day
    """,
)
def win_revenue_up_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOMENTUM STREAKS of the daily purchase-revenue series: maximal
    runs of STRICTLY increasing day totals (>= 2 days), each with its
    start/end date, length, and cents gained — the "N consecutive
    up-days" read a revenue dashboard headlines, plus the corpus-wide
    longest streak.  Gaps-and-islands on the bounded 30-day domain;
    a streak breaks on equal totals (strict) and on missing days only
    implicitly (the fixture has all 30 days — pinned by the recompute
    pytest).  Sibling differentiation: agg_records_test counts
    record HIGHS (a permutation-randomness test), win_drawdown
    tracks peak-to-trough loss; streaks measure consecutive
    first-difference signs.

    Parity: day totals are exact integer cents; run boundaries are
    exact comparisons; gain = max - min of the run's totals (the run
    is increasing, so these are its endpoints).  The only window
    runs over the <= |days| domain after the groupBy collapse —
    bounded, never the event rows.

    Shape at 100 TB: one filtered scan -> day-domain aggregate
    (map-side combined), one bounded-domain window pass."""
    daily = _purchase_day_totals(spark, sf_dir)
    w = Window.orderBy("day")
    flagged = daily.withColumn(
        "brk",
        F.when(
            F.lag("tot").over(w).isNull()
            | (F.col("tot") <= F.lag("tot").over(w)),
            1,
        ).otherwise(0),
    )
    grp = flagged.withColumn(
        "g",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    runs = grp.groupBy("g").agg(
        F.count("*").cast("bigint").alias("len"),
        F.min("day").alias("start_day"),
        F.max("day").alias("end_day"),
        (F.max("tot") - F.min("tot")).cast("bigint").alias("gain_cents"),
    )
    w_all = Window.partitionBy()
    return (
        runs.where(F.col("len") >= 2)
        .select(
            "start_day",
            "end_day",
            F.col("len").alias("streak_days"),
            "gain_cents",
            F.max("len").over(w_all).cast("bigint").alias("longest_streak"),
        )
        .orderBy("start_day")
    )


# ---------------------------------------------------------------------------
# agg_laspeyres_paasche_index
# ---------------------------------------------------------------------------


@query(
    "agg_laspeyres_paasche_index",
    oracle="""
    WITH li AS (
      SELECT l.l_partkey AS pk,
             CASE WHEN CAST(o.o_orderdate AS DATE) < DATE '1998-01-01'
                  THEN 0 ELSE 1 END AS per,
             CAST(round(l.l_extendedprice * 100, 0) AS BIGINT) AS s,
             CAST(round(l.l_quantity, 0) AS BIGINT) AS q
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    p AS (
      SELECT pk,
             CAST(sum(CASE WHEN per = 0 THEN s ELSE 0 END) AS BIGINT) AS s0,
             CAST(sum(CASE WHEN per = 0 THEN q ELSE 0 END) AS BIGINT) AS q0,
             CAST(sum(CASE WHEN per = 1 THEN s ELSE 0 END) AS BIGINT) AS s1,
             CAST(sum(CASE WHEN per = 1 THEN q ELSE 0 END) AS BIGINT) AS q1
      FROM li GROUP BY pk),
    b AS (SELECT * FROM p WHERE q0 > 0 AND q1 > 0),
    t AS (
      SELECT CAST(count(*) AS BIGINT) AS n_parts,
             CAST(sum(s0) AS BIGINT) AS sum_s0,
             CAST(sum(s1) AS BIGINT) AS sum_s1,
             sum(CAST(round(CAST(s1 AS DOUBLE) * q0 / q1, 9)
                      AS DECIMAL(28,9))) AS num_l,
             sum(CAST(round(CAST(s0 AS DOUBLE) * q1 / q0, 9)
                      AS DECIMAL(28,9))) AS den_p
      FROM b)
    SELECT n_parts,
           round(CAST(num_l AS DOUBLE) / sum_s0, 6) AS laspeyres_idx,
           round(CAST(sum_s1 AS DOUBLE) / CAST(den_p AS DOUBLE), 6)
             AS paasche_idx,
           round(sqrt((CAST(num_l AS DOUBLE) / sum_s0)
                 * (CAST(sum_s1 AS DOUBLE) / CAST(den_p AS DOUBLE))), 6)
             AS fisher_idx
    FROM t
    """,
)
def agg_laspeyres_paasche_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PRICE INDEX SUITE (Laspeyres / Paasche / Fisher) between the
    pre-1998 and post-1998 order periods over parts traded in BOTH —
    the national-accounts calculation re-expressed over unit values
    (p_i = period revenue / period quantity per part): Laspeyres
    weighs price relatives by BASE-period quantities, Paasche by
    CURRENT, Fisher is their geometric mean (the superlative index).
    The algebra collapses: sum(p1*q0) needs the cross term s1*q0/q1
    per part, while sum(p0*q0) == sum(s0) exactly (the base-revenue
    identity) — so each index is one exact-sum ratio.

    Parity: revenues are exact cents and quantities exact integers;
    the only per-part floats are the two cross terms, quantized
    round(9) into DECIMAL(28,9) BEFORE the part sum (a double sum
    over parts is partial-aggregation-order dependent — the
    rag_prf_query_expansion rule); the final ratios and the one IEEE
    sqrt are shared-text, round(6).

    Shape at 100 TB: lineitem joins orders on the order key (the
    standard co-partitioned fact-fact join; bucketed layouts make it
    shuffle-free), one part-grain aggregate, one 1-row reduction."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_partkey",
        F.expr("CAST(l_extendedprice * 100 + 0.5 AS BIGINT)").alias("s"),
        F.expr("CAST(round(l_quantity, 0) AS BIGINT)").alias("q"),
    )
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr(
            "CASE WHEN CAST(o_orderdate AS DATE) < DATE '1998-01-01'"
            " THEN 0 ELSE 1 END"
        ).alias("per"),
    )
    p = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_partkey")
        .agg(
            F.expr(
                "CAST(sum(CASE WHEN per = 0 THEN s ELSE 0 END) AS BIGINT)"
            ).alias("s0"),
            F.expr(
                "CAST(sum(CASE WHEN per = 0 THEN q ELSE 0 END) AS BIGINT)"
            ).alias("q0"),
            F.expr(
                "CAST(sum(CASE WHEN per = 1 THEN s ELSE 0 END) AS BIGINT)"
            ).alias("s1"),
            F.expr(
                "CAST(sum(CASE WHEN per = 1 THEN q ELSE 0 END) AS BIGINT)"
            ).alias("q1"),
        )
    )
    t = p.where("q0 > 0 AND q1 > 0").agg(
        F.count("*").cast("bigint").alias("n_parts"),
        F.sum("s0").cast("bigint").alias("sum_s0"),
        F.sum("s1").cast("bigint").alias("sum_s1"),
        F.expr(
            "sum(CAST(round(CAST(s1 AS DOUBLE) * q0 / q1, 9)"
            " AS DECIMAL(28,9)))"
        ).alias("num_l"),
        F.expr(
            "sum(CAST(round(CAST(s0 AS DOUBLE) * q1 / q0, 9)"
            " AS DECIMAL(28,9)))"
        ).alias("den_p"),
    )
    return t.selectExpr(
        "n_parts",
        "round(CAST(num_l AS DOUBLE) / sum_s0, 6) AS laspeyres_idx",
        "round(CAST(sum_s1 AS DOUBLE) / CAST(den_p AS DOUBLE), 6)"
        " AS paasche_idx",
        "round(sqrt((CAST(num_l AS DOUBLE) / sum_s0)"
        " * (CAST(sum_s1 AS DOUBLE) / CAST(den_p AS DOUBLE))), 6)"
        " AS fisher_idx",
    )


# ---------------------------------------------------------------------------
# agg_shapley_attribution
# ---------------------------------------------------------------------------

_SHAP_CHANNELS = [("view", 1), ("click", 2), ("signup", 4), ("error", 8)]


@query(
    "agg_shapley_attribution",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CAST(max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
               + 2 * max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               + 4 * max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
               + 8 * max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS mask,
             CAST(max(CASE WHEN event_type = 'purchase'
                            AND value * 100 >= 10000
                           THEN 1 ELSE 0 END) AS BIGINT) AS conv
      FROM events GROUP BY user_id),
    mc AS (
      SELECT mask, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(conv) AS BIGINT) AS x
      FROM u GROUP BY mask),
    dom AS (
      SELECT CAST(t.range AS BIGINT) AS m,
             coalesce(mc.n, 0) AS n, coalesce(mc.x, 0) AS x,
             CASE WHEN coalesce(mc.n, 0) = 0 THEN 0.0
                  ELSE CAST(mc.x AS DOUBLE) / mc.n END AS v
      FROM range(16) t LEFT JOIN mc ON t.range = mc.mask),
    ch AS (
      SELECT * FROM (VALUES ('view', CAST(1 AS BIGINT)),
                            ('click', CAST(2 AS BIGINT)),
                            ('signup', CAST(4 AS BIGINT)),
                            ('error', CAST(8 AS BIGINT))) c(channel, b)),
    terms AS (
      SELECT ch.channel, ch.b,
             CAST(round(
               (CASE WHEN bit_count(s.m) = 0 THEN 6
                     WHEN bit_count(s.m) = 1 THEN 2
                     WHEN bit_count(s.m) = 2 THEN 2
                     ELSE 6 END)
               * (v1.v - s.v), 9) AS DECIMAL(28,9)) AS t24
      FROM ch JOIN dom s ON (s.m & ch.b) = 0
      JOIN dom v1 ON v1.m = s.m + ch.b),
    phi AS (
      SELECT channel, b, sum(t24) AS phi24 FROM terms GROUP BY channel, b),
    touched AS (
      SELECT ch.channel,
             CAST(sum(d.n) AS BIGINT) AS n_touched,
             CAST(sum(d.x) AS BIGINT) AS x_touched
      FROM ch JOIN dom d ON (d.m & ch.b) != 0
      GROUP BY ch.channel)
    SELECT p.channel,
           t.n_touched,
           round(CASE WHEN t.n_touched = 0 THEN 0.0
                 ELSE CAST(t.x_touched AS DOUBLE) / t.n_touched END, 6)
             AS conv_rate_touched,
           round(CAST(p.phi24 AS DOUBLE) / 24.0, 6) AS shapley_value
    FROM phi p JOIN touched t ON p.channel = t.channel
    ORDER BY p.channel
    """,
)
def agg_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHAPLEY-VALUE MARKETING ATTRIBUTION over the four non-purchase
    channels (view/click/signup/error): the characteristic function
    v(S) is the empirical big-purchase conversion rate of users whose
    ever-touched channel set is EXACTLY S (the data-driven Shapley of
    Zhao et al. 2018), and each channel's credit is the exact Shapley
    sum phi_c = sum over S not containing c of |S|!(k-1-|S|)!/k! *
    (v(S+c) - v(S)).  Sibling differentiation:
    agg_attribution_position splits credit by POSITION inside each
    converting user's path (first/last/middle heuristic); Shapley is
    the coalition-game answer, insensitive to path order, and the two
    disagree exactly when channel synergies matter.

    Exactly computable because k = 4: the mask domain is 16 rows
    (DENSIFIED — empty coalitions contribute v = 0, the blocked-cells
    lesson from the contingency ops), the (channel x subset) grid is
    32 rows, and the factorial weights scale to integers 6/2/2/6 over
    a common 24 denominator — each term quantizes round(9) into
    DECIMAL before the 8-term sum (bounded-count double sums are
    still order-dependent), one division by 24 at the end.

    Shape at 100 TB: one groupBy(user) collapse, a 16-row mask
    aggregate, then constant-size joins — the entire Shapley algebra
    runs on bounded frames regardless of corpus size."""
    ev = table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.expr(
            "CAST(max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)"
            " + 2 * max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)"
            " + 4 * max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)"
            " + 8 * max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)"
            " AS BIGINT)"
        ).alias("mask"),
        F.expr(
            "CAST(max(CASE WHEN event_type = 'purchase'"
            " AND value * 100 >= 10000 THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("conv"),
    )
    mc = u.groupBy("mask").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("conv").cast("bigint").alias("x"),
    )
    dom = (
        spark.range(16)
        .selectExpr("CAST(id AS BIGINT) AS m")
        .join(F.broadcast(mc), F.col("m") == F.col("mask"), "left")
        .selectExpr(
            "m",
            "coalesce(n, 0) AS n",
            "coalesce(x, 0) AS x",
            "CASE WHEN coalesce(n, 0) = 0 THEN 0.0"
            " ELSE CAST(x AS DOUBLE) / n END AS v",
        )
        .localCheckpoint()  # 16 rows, referenced three times below
    )
    ch = spark.createDataFrame(
        _SHAP_CHANNELS, "channel string, b bigint"
    )
    s = dom.selectExpr("m", "v")
    v1 = dom.selectExpr("m AS m1", "v AS vv")
    terms = (
        ch.join(F.broadcast(s), F.expr("(m & b) = 0"))
        .join(F.broadcast(v1), F.expr("m1 = m + b"))
        .selectExpr(
            "channel",
            "b",
            "CAST(round((CASE WHEN bit_count(m) = 0 THEN 6"
            " WHEN bit_count(m) = 1 THEN 2"
            " WHEN bit_count(m) = 2 THEN 2"
            " ELSE 6 END) * (vv - v), 9) AS DECIMAL(28,9)) AS t24",
        )
    )
    phi = terms.groupBy("channel", "b").agg(F.sum("t24").alias("phi24"))
    touched = (
        ch.join(F.broadcast(dom), F.expr("(m & b) != 0"))
        .groupBy("channel")
        .agg(
            F.sum("n").cast("bigint").alias("n_touched"),
            F.sum("x").cast("bigint").alias("x_touched"),
        )
    )
    return (
        phi.join(touched, "channel")
        .selectExpr(
            "channel",
            "n_touched",
            "round(CASE WHEN n_touched = 0 THEN 0.0"
            " ELSE CAST(x_touched AS DOUBLE) / n_touched END, 6)"
            " AS conv_rate_touched",
            "round(CAST(phi24 AS DOUBLE) / 24.0, 6) AS shapley_value",
        )
        .orderBy("channel")
    )


# ---------------------------------------------------------------------------
# graph_local_bridges
# ---------------------------------------------------------------------------


@query(
    "graph_local_bridges",
    oracle="""
    WITH os AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM os a JOIN os b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2),
    d AS (SELECT u AS m, n FROM (SELECT u, v AS n FROM e
          UNION ALL SELECT v AS u, u AS n FROM e) z),
    deg AS (SELECT m, CAST(count(*) AS BIGINT) AS dg FROM d GROUP BY m),
    closed AS (
      SELECT DISTINCT e.u, e.v
      FROM e JOIN d d1 ON d1.m = e.u JOIN d d2
        ON d2.m = e.v AND d2.n = d1.n),
    bridges AS (
      SELECT e.u, e.v FROM e LEFT JOIN closed c
        ON e.u = c.u AND e.v = c.v
      WHERE c.u IS NULL)
    SELECT b.u AS part_u, b.v AS part_v,
           du.dg AS deg_u, dv.dg AS deg_v,
           CAST(count(*) OVER () AS BIGINT) AS n_bridges
    FROM bridges b JOIN deg du ON b.u = du.m JOIN deg dv ON b.v = dv.m
    ORDER BY part_u, part_v
    """,
)
def graph_local_bridges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCAL BRIDGES of the support-2 part co-purchase graph: edges
    whose endpoints share NO common neighbor (span > 2) — Granovetter's
    weak ties, the edges whose removal disconnects their endpoints'
    neighborhoods and along which novel information (here: cross-
    category purchase affinity) flows.  Emits each bridge with its
    endpoint degrees and the global bridge count.  Sibling
    differentiation: graph_jaccard_neighbor_sim scores HOW MUCH
    neighborhoods overlap; this op finds the edges where the overlap
    is exactly zero, the structurally special set.

    Scale shape: common-neighbor detection is one wedge-closing join
    (directed lists joined on both endpoints, the triangle-probe
    shape whose cost the support gate bounds — analytics2's wedge-mass
    note), DISTINCT-collapsed to the closed-edge set; bridges are the
    LEFT-ANTI complement against the checkpointed edge list; degrees
    ride in via two broadcastable (node, deg) joins.  All exact
    integers, no floats anywhere."""
    e = _copurchase_edges_a9(spark, sf_dir)
    d = e.select(F.col("u").alias("m"), F.col("v").alias("n")).unionAll(
        e.select(F.col("v").alias("m"), F.col("u").alias("n"))
    )
    deg = d.groupBy("m").agg(F.count("*").cast("bigint").alias("dg"))
    d1 = d.select(F.col("m").alias("m1"), F.col("n").alias("w1"))
    d2 = d.select(F.col("m").alias("m2"), F.col("n").alias("w2"))
    closed = (
        e.join(d1, F.col("u") == F.col("m1"))
        .join(d2, (F.col("v") == F.col("m2")) & (F.col("w2") == F.col("w1")))
        .select("u", "v")
        .distinct()
    )
    bridges = e.join(closed, ["u", "v"], "left_anti")
    du = deg.select(F.col("m").alias("u"), F.col("dg").alias("deg_u"))
    dv = deg.select(F.col("m").alias("v"), F.col("dg").alias("deg_v"))
    w_all = Window.partitionBy()
    return (
        bridges.join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .select(
            F.col("u").alias("part_u"),
            F.col("v").alias("part_v"),
            "deg_u",
            "deg_v",
            F.count("*").over(w_all).cast("bigint").alias("n_bridges"),
        )
        .orderBy("part_u", "part_v")
    )


def _copurchase_edges_a9(spark: SparkSession, sf_dir: str):
    """Shared support-2 co-purchase edge list (analytics4's cached
    frame — imported lazily to keep module import order acyclic)."""
    from .analytics4 import _copurchase_edges

    return _copurchase_edges(spark, sf_dir)


# ---------------------------------------------------------------------------
# agg_cronbach_alpha
# ---------------------------------------------------------------------------


@query(
    "agg_cronbach_alpha",
    oracle="""
    WITH cell0 AS (
      SELECT CAST(CAST(ts AS DATE) AS DATE) AS day, event_type,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS c
      FROM events GROUP BY 1, 2),
    days AS (SELECT DISTINCT day FROM cell0),
    types AS (SELECT DISTINCT event_type FROM cell0),
    cells AS (
      SELECT d.day, t.event_type, coalesce(c0.c, 0) AS c
      FROM days d CROSS JOIN types t
      LEFT JOIN cell0 c0 ON d.day = c0.day
        AND t.event_type = c0.event_type),
    iv AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(c) AS BIGINT) AS s,
             sum(CAST(c AS HUGEINT) * c) AS ss
      FROM cells GROUP BY event_type),
    item_var AS (
      SELECT CAST(count(*) AS BIGINT) AS k, max(n) AS n,
             sum(n * ss - CAST(s AS HUGEINT) * s) AS sum_ci
      FROM iv),
    rows_ AS (
      SELECT day, CAST(sum(c) AS BIGINT) AS r FROM cells GROUP BY day),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(r) AS BIGINT) AS s,
             sum(CAST(r AS HUGEINT) * r) AS ss
      FROM rows_)
    SELECT i.k AS k_items, t.n AS n_cases,
           round(CAST(i.k AS DOUBLE) / (i.k - 1)
                 * (1.0 - CAST(i.sum_ci AS DOUBLE)
                   / CAST(t.n * t.ss - CAST(t.s AS HUGEINT) * t.s
                          AS DOUBLE)), 6) AS cronbach_alpha
    FROM item_var i CROSS JOIN tot t
    """,
)
def agg_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRONBACH'S ALPHA internal-consistency reliability of the five
    event-type daily-revenue series treated as items measuring one
    construct ("site activity"): alpha = k/(k-1) * (1 - sum(item
    variances) / variance(item sums)) over the 30 day-cases.  The
    psychometric workhorse re-expressed for telemetry: high alpha
    means the per-type series co-move (one latent load), near-zero
    means the types are independent signals — the fixture's
    independent generators should land near 0, the calibration read.

    Parity: the day x type grid is DENSIFIED (missing cells are TRUE
    ZEROS — the blocked-cells rule from the contingency ops); every
    variance is the n-scaled exact integer n*Sxx - Sx^2 in HUGEINT /
    DECIMAL, and since every item shares the same n the variance
    RATIO equals the scaled-sum ratio with no division until the one
    shared-text double at the end, round(6).

    Shape at 100 TB: one scan -> (day x type) aggregate, a bounded
    densify cross join, two bounded-domain reductions."""
    cells = _day_type_cells(spark, sf_dir)
    iv = cells.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
        F.expr("sum(CAST(c AS DECIMAL(19,0)) * c)").alias("ss"),
    )
    item_var = iv.agg(
        F.count("*").cast("bigint").alias("k"),
        F.max("n").alias("n"),
        F.expr(
            "sum(n * ss - CAST(s AS DECIMAL(38,0)) * s)"
        ).alias("sum_ci"),
    )
    rows_ = cells.groupBy("day").agg(
        F.sum("c").cast("bigint").alias("r")
    )
    tot = rows_.agg(
        F.count("*").cast("bigint").alias("n_cases"),
        F.sum("r").cast("bigint").alias("s_tot"),
        F.expr("sum(CAST(r AS DECIMAL(19,0)) * r)").alias("ss_tot"),
    )
    return (
        item_var.drop("n")
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "k AS k_items",
            "n_cases",
            "round(CAST(k AS DOUBLE) / (k - 1)"
            " * (1.0 - CAST(sum_ci AS DOUBLE)"
            " / CAST(n_cases * ss_tot"
            " - CAST(s_tot AS DECIMAL(38,0)) * s_tot"
            " AS DOUBLE)), 6) AS cronbach_alpha",
        )
    )


# ---------------------------------------------------------------------------
# agg_cvar_expected_shortfall
# ---------------------------------------------------------------------------


@query(
    "agg_cvar_expected_shortfall",
    oracle="""
    WITH daily AS (
      SELECT CAST(CAST(ts AS DATE) AS DATE) AS day,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS tot
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
    chg AS (
      SELECT tot - lag(tot) OVER (ORDER BY day) AS ch
      FROM daily QUALIFY ch IS NOT NULL),
    st AS (
      SELECT list_sort(list(ch)) AS cs, CAST(count(*) AS BIGINT) AS n
      FROM chg),
    pick AS (
      SELECT n,
             list_extract(cs, CAST((5 * n + 99) // 100 AS INT)) AS var_c,
             cs
      FROM st),
    tail AS (
      SELECT p.n, p.var_c,
             CAST(len(list_filter(cs, x -> x <= var_c)) AS BIGINT)
               AS n_tail,
             CAST(list_sum(list_filter(cs, x -> x <= var_c)) AS BIGINT)
               AS s_tail
      FROM pick p)
    SELECT n AS n_changes, var_c AS var95_cents,
           n_tail AS n_tail_days,
           round(CAST(s_tail AS DOUBLE) / n_tail, 6) AS cvar95_cents
    FROM tail
    """,
)
def agg_cvar_expected_shortfall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """VALUE-AT-RISK + EXPECTED SHORTFALL (CVaR) of daily purchase-
    revenue CHANGES — the risk pair a finance desk quotes: VaR(95) is
    the exact 5th-percentile worst day-over-day change (order
    statistic, index ceil(0.05 n)), and CVaR(95) the mean of all
    changes at or below it — the coherent tail measure that, unlike
    VaR alone, sees how BAD the tail is.  Sibling differentiation:
    win_drawdown tracks cumulative peak-to-trough loss (path risk);
    VaR/CVaR summarize the one-step change distribution.

    Parity: changes are exact integer cents over the bounded day
    domain; the order statistic is an exact integer-index pick from
    the sorted bounded list ((5n + 99) div 100 — the
    text_minhash_band_tuning quantile convention); the tail is an
    exact <=-filter (ties at the VaR boundary INCLUDED on both
    engines) and CVaR one double division, round(6).

    Shape at 100 TB: one filtered scan -> day-domain aggregate; all
    later arithmetic runs on the <= |days| domain."""
    daily = _purchase_day_totals(spark, sf_dir)
    w = Window.orderBy("day")
    chg = (
        daily.withColumn("ch", F.col("tot") - F.lag("tot").over(w))
        .where(F.col("ch").isNotNull())
        .select("ch")
    )
    st = chg.agg(
        F.sort_array(F.collect_list("ch")).alias("cs"),
        F.count("*").cast("bigint").alias("n"),
    )
    pick = st.selectExpr(
        "n",
        "element_at(cs, CAST((5 * n + 99) div 100 AS INT)) AS var_c",
        "cs",
    )
    return pick.selectExpr(
        "n AS n_changes",
        "var_c AS var95_cents",
        "CAST(size(filter(cs, x -> x <= var_c)) AS BIGINT) AS n_tail_days",
        "round(CAST(aggregate(filter(cs, x -> x <= var_c),"
        " CAST(0 AS BIGINT), (a, x) -> a + x) AS DOUBLE)"
        " / size(filter(cs, x -> x <= var_c)), 6) AS cvar95_cents",
    )


# ---------------------------------------------------------------------------
# sample_neyman_allocation
# ---------------------------------------------------------------------------

_NEYMAN_N = 1000  # target total sample size


@query(
    "sample_neyman_allocation",
    oracle=f"""
    WITH j AS (
      SELECT c.c_nationkey AS nk,
             CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
    st AS (
      SELECT nk, CAST(count(*) AS BIGINT) AS n_pop,
             CAST(sum(cents) AS BIGINT) AS s,
             sum(CAST(cents AS HUGEINT) * cents) AS ss
      FROM j GROUP BY nk),
    wt AS (
      SELECT nk, n_pop,
             sqrt(CAST(n_pop * ss - CAST(s AS HUGEINT) * s AS DOUBLE))
               AS nsd
      FROM st),
    tw AS (SELECT sum(nsd) AS tot FROM wt),
    base AS (
      SELECT w.nk, w.n_pop,
             CASE WHEN t.tot = 0 THEN NULL ELSE w.nsd / t.tot END AS wgt,
             CASE WHEN t.tot = 0 THEN NULL
                  ELSE CAST(floor({_NEYMAN_N} * w.nsd / t.tot) AS BIGINT)
             END AS fl,
             CASE WHEN t.tot = 0 THEN NULL
                  ELSE {_NEYMAN_N} * w.nsd / t.tot
                       - floor({_NEYMAN_N} * w.nsd / t.tot)
             END AS rem
      FROM wt w CROSS JOIN tw t),
    topup AS (
      SELECT nk, n_pop, wgt, fl, rem,
             row_number() OVER (ORDER BY rem DESC, nk) AS rr,
             CAST({_NEYMAN_N} - sum(fl) OVER () AS BIGINT) AS short
      FROM base)
    SELECT nk AS nationkey, n_pop,
           round(wgt, 6) AS neyman_weight,
           CAST(fl + CASE WHEN rr <= short THEN 1 ELSE 0 END AS BIGINT)
             AS alloc
    FROM topup ORDER BY nationkey
    """,
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEYMAN OPTIMAL ALLOCATION of a 1000-row sample across customer-
    nation strata of the orders table — the survey-sampling design
    that minimizes the estimator variance for a fixed budget:
    allocation_h proportional to N_h * S_h.  The algebra collapses
    exactly: N_h * S_h(population) = sqrt(N_h*Sxx_h - Sx_h^2), the
    square root of the n-scaled INTEGER central moment, so the weights
    need no per-stratum division at all.  Fractional allocations
    resolve to integers by the largest-remainder (Hamilton) method
    with the nationkey tie-break — deterministic, sums to exactly
    1000.  Companion to sample_stratified_hash (which DRAWS a
    hash-gated sample): this op decides HOW MANY to draw per stratum.

    Parity: the scaled moments are exact HUGEINT/DECIMAL integers;
    sqrt is IEEE-correctly-rounded on both engines, so weights,
    floors, and remainders are bit-identical doubles; the top-up rank
    orders (remainder DESC, nationkey) — exact same order both sides.

    Shape at 100 TB: one fact scan with a broadcast customer-dim
    join, a 25-row stratum aggregate, constant-size apportionment."""
    o = table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr("CAST(o_totalprice * 100 + 0.5 AS BIGINT)").alias("cents"),
    )
    cst = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    st = (
        o.join(F.broadcast(cst), o["o_custkey"] == cst["c_custkey"])
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(
            F.count("*").cast("bigint").alias("n_pop"),
            F.sum("cents").cast("bigint").alias("s"),
            F.expr("sum(CAST(cents AS DECIMAL(19,0)) * cents)").alias("ss"),
        )
    )
    wt = st.localCheckpoint().selectExpr(
        # 25-row stratum moments feed both the weight total and the
        # apportionment — checkpoint or each re-derives the fact join
        "nk",
        "n_pop",
        "sqrt(CAST(n_pop * ss - CAST(s AS DECIMAL(38,0)) * s AS DOUBLE))"
        " AS nsd",
    )
    tw = wt.agg(F.sum("nsd").alias("tot"))
    base = wt.crossJoin(F.broadcast(tw)).selectExpr(
        "nk",
        "n_pop",
        # tot = 0 iff every stratum is within-stratum constant — gate
        # to NULL instead of an ANSI divide-by-zero (round-10 rule)
        "CASE WHEN tot = 0 THEN NULL ELSE nsd / tot END AS wgt",
        f"CASE WHEN tot = 0 THEN NULL"
        f" ELSE CAST(floor({_NEYMAN_N} * nsd / tot) AS BIGINT) END AS fl",
        f"CASE WHEN tot = 0 THEN NULL"
        f" ELSE {_NEYMAN_N} * nsd / tot"
        f" - floor({_NEYMAN_N} * nsd / tot) END AS rem",
    )
    w_r = Window.orderBy(F.col("rem").desc(), "nk")
    w_all = Window.partitionBy()
    return (
        base.withColumn("rr", F.row_number().over(w_r))
        .withColumn(
            "short",
            (F.lit(_NEYMAN_N) - F.sum("fl").over(w_all)).cast("bigint"),
        )
        .selectExpr(
            "nk AS nationkey",
            "n_pop",
            "round(wgt, 6) AS neyman_weight",
            "CAST(fl + CASE WHEN rr <= short THEN 1 ELSE 0 END AS BIGINT)"
            " AS alloc",
        )
        .orderBy("nationkey")
    )


# ---------------------------------------------------------------------------
# agg_borda_copeland_ranks
# ---------------------------------------------------------------------------


@query(
    "agg_borda_copeland_ranks",
    oracle="""
    WITH cell0 AS (
      SELECT CAST(CAST(ts AS DATE) AS DATE) AS day, event_type,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS c
      FROM events GROUP BY 1, 2),
    days AS (SELECT DISTINCT day FROM cell0),
    types AS (SELECT DISTINCT event_type FROM cell0),
    cells AS (
      SELECT d.day, t.event_type, coalesce(c0.c, 0) AS c
      FROM days d CROSS JOIN types t
      LEFT JOIN cell0 c0 ON d.day = c0.day
        AND t.event_type = c0.event_type),
    pw AS (
      SELECT a.event_type AS i, b.event_type AS j,
             CAST(sum(CASE WHEN a.c > b.c THEN 2
                           WHEN a.c = b.c THEN 1 ELSE 0 END) AS BIGINT)
               AS pts2
      FROM cells a JOIN cells b
        ON a.day = b.day AND a.event_type != b.event_type
      GROUP BY 1, 2),
    sc AS (
      SELECT i AS event_type,
             CAST(sum(pts2) AS BIGINT) AS borda2,
             CAST(sum(CASE WHEN 2 * pts2 > (SELECT count(*) FROM days) * 2
                           THEN 2
                           WHEN 2 * pts2 = (SELECT count(*) FROM days) * 2
                           THEN 1 ELSE 0 END) AS BIGINT) AS copeland2
      FROM pw GROUP BY i)
    SELECT event_type, borda2, copeland2,
           CAST(row_number() OVER (ORDER BY borda2 DESC, event_type)
                AS BIGINT) AS borda_rank,
           CAST(row_number() OVER (ORDER BY copeland2 DESC, borda2 DESC,
                                   event_type) AS BIGINT) AS copeland_rank
    FROM sc ORDER BY event_type
    """,
)
def agg_borda_copeland_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANK AGGREGATION by Borda count and Copeland's method: the 30
    days are voters, the five event types candidates, each day's
    preference its revenue order.  Borda awards each candidate the
    number of candidates it beats per day (ties half — kept exact by
    DOUBLING: 2 per win, 1 per tie, summed across days and
    opponents); Copeland scores head-to-head MAJORITIES (2 per
    opponent beaten across more days than lost, 1 per exact split).
    The two disagree exactly when margins matter vs majorities — the
    classic social-choice read, used in ensembling ranked retrievers.
    Sibling differentiation: agg_kendall_w measures how much the
    daily rankings AGREE; this op produces the consensus ranking
    itself.

    Parity: the day x type grid is densified (zero-revenue days are
    real votes); every score is exact integer arithmetic; the final
    ranks order by the exact integers with name tie-breaks.

    Shape at 100 TB: one scan -> day x type aggregate, one bounded
    self-join on day (|types|^2 x |days| rows), two 5-row windows."""
    cells = _day_type_cells(spark, sf_dir)
    n_days = cells.select("day").distinct().count()
    a = cells.select(
        F.col("day").alias("d1"),
        F.col("event_type").alias("i"),
        F.col("c").alias("ca"),
    )
    b = cells.select(
        F.col("day").alias("d2"),
        F.col("event_type").alias("j"),
        F.col("c").alias("cb"),
    )
    pw = (
        a.join(b, (F.col("d1") == F.col("d2")) & (F.col("i") != F.col("j")))
        .groupBy("i", "j")
        .agg(
            F.expr(
                "CAST(sum(CASE WHEN ca > cb THEN 2 WHEN ca = cb THEN 1"
                " ELSE 0 END) AS BIGINT)"
            ).alias("pts2")
        )
    )
    # copeland's majority threshold needs n_days (bounded, counted once)
    sc = pw.groupBy(F.col("i").alias("event_type")).agg(
        F.sum("pts2").cast("bigint").alias("borda2"),
        F.expr(
            f"CAST(sum(CASE WHEN 2 * pts2 > 2 * {n_days} THEN 2"
            f" WHEN 2 * pts2 = 2 * {n_days} THEN 1 ELSE 0 END)"
            " AS BIGINT)"
        ).alias("copeland2"),
    )
    w_b = Window.orderBy(F.col("borda2").desc(), "event_type")
    w_c = Window.orderBy(
        F.col("copeland2").desc(), F.col("borda2").desc(), "event_type"
    )
    return sc.select(
        "event_type",
        "borda2",
        "copeland2",
        F.row_number().over(w_b).cast("bigint").alias("borda_rank"),
        F.row_number().over(w_c).cast("bigint").alias("copeland_rank"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# agg_hoeffding_d_independence
# ---------------------------------------------------------------------------


@query(
    "agg_hoeffding_d_independence",
    oracle="""
    WITH daily AS (
      SELECT CAST(CAST(ts AS DATE) AS DATE) AS day,
             CAST(sum(CASE WHEN event_type = 'purchase'
                           THEN CAST(round(value * 100, 0) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS x,
             CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1),
    pg AS (
      SELECT a.day,
             CAST(sum(CASE WHEN b.x < a.x THEN 2 ELSE 0 END)
                  + sum(CASE WHEN b.x = a.x THEN 1 ELSE 0 END) + 1
                  AS BIGINT) AS r2,
             CAST(sum(CASE WHEN b.y < a.y THEN 2 ELSE 0 END)
                  + sum(CASE WHEN b.y = a.y THEN 1 ELSE 0 END) + 1
                  AS BIGINT) AS s2,
             CAST(4 + sum(CASE
                    WHEN b.day = a.day THEN 0
                    WHEN b.x < a.x AND b.y < a.y THEN 4
                    WHEN b.x = a.x AND b.y < a.y THEN 2
                    WHEN b.x < a.x AND b.y = a.y THEN 2
                    WHEN b.x = a.x AND b.y = a.y THEN 1
                    ELSE 0 END) AS BIGINT) AS q4
      FROM daily a CROSS JOIN daily b
      GROUP BY a.day),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum((q4 - 4) * (q4 - 8)) AS BIGINT) AS d1_16,
             sum(CAST((r2 - 2) * (r2 - 4) AS HUGEINT)
                 * ((s2 - 2) * (s2 - 4))) AS d2_16,
             sum(CAST((r2 - 4) * (s2 - 4) AS HUGEINT) * (q4 - 4))
               AS d3_16
      FROM pg)
    SELECT n AS n_days,
           round(30.0 * CAST((n - 2) * (n - 3) * d1_16
                 + d2_16 - 2 * (n - 2) * d3_16 AS DOUBLE)
                 / (16.0 * n * (n - 1) * (n - 2) * (n - 3) * (n - 4)), 6)
             AS hoeffding_d,
           CAST(CASE WHEN round(30.0 * CAST((n - 2) * (n - 3) * d1_16
                 + d2_16 - 2 * (n - 2) * d3_16 AS DOUBLE)
                 / (16.0 * n * (n - 1) * (n - 2) * (n - 3) * (n - 4)), 9)
                 > 0.005 THEN 1 ELSE 0 END AS BIGINT) AS dependent_hint
    FROM s
    """,
)
def agg_hoeffding_d_independence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """HOEFFDING'S D INDEPENDENCE TEST between daily purchase revenue
    and daily event volume — the rank-based test that detects ANY
    dependence (including non-monotone U-shapes that Pearson,
    Spearman, and Kendall all miss; the only such test in the repo:
    agg_mutual_information needs a binning choice, energy/KS are
    two-sample tests, agg_spearman_corr is monotone-only).
    D = 30 * ((n-2)(n-3)D1 + D2 - 2(n-2)D3) / (n(n-1)...(n-4)) over
    bivariate ranks, with Hollander-Wolfe tie handling.

    Exactly computable: midranks DOUBLE to integers (r2 = 2*cnt_less
    + cnt_eq_incl + 1 — the repo's rank identity) and the bivariate
    concordance count Q QUADRUPLES (q4 = 4 + 4*both-less + 2*each
    half-tie + 1*double-tie), so 16*D1, 16*D2, 16*D3 are exact
    HUGEINT/DECIMAL sums and D is ONE double division of exact
    integers, round(6).  The pair grid is |days|^2 = 900 rows — the
    O(T^2) day-domain budget every changepoint/DP op here uses.

    Shape at 100 TB: one scan -> 30-row day aggregate; everything
    after runs on the bounded domain."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.expr("CAST(ts AS DATE)").alias("day")).agg(
        F.expr(
            "CAST(sum(CASE WHEN event_type = 'purchase'"
            " THEN CAST(value * 100 + 0.5 AS BIGINT) ELSE 0 END)"
            " AS BIGINT)"
        ).alias("x"),
        F.count("*").cast("bigint").alias("y"),
    ).localCheckpoint()  # 30-row domain, self-joined below
    a = daily.select(
        F.col("day").alias("da"), F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    b = daily.select(
        F.col("day").alias("db"), F.col("x").alias("xb"), F.col("y").alias("yb")
    )
    pg = (
        a.crossJoin(b)
        .groupBy("da")
        .agg(
            F.expr(
                "CAST(sum(CASE WHEN xb < xa THEN 2 ELSE 0 END)"
                " + sum(CASE WHEN xb = xa THEN 1 ELSE 0 END) + 1"
                " AS BIGINT)"
            ).alias("r2"),
            F.expr(
                "CAST(sum(CASE WHEN yb < ya THEN 2 ELSE 0 END)"
                " + sum(CASE WHEN yb = ya THEN 1 ELSE 0 END) + 1"
                " AS BIGINT)"
            ).alias("s2"),
            F.expr(
                "CAST(4 + sum(CASE"
                " WHEN db = da THEN 0"
                " WHEN xb < xa AND yb < ya THEN 4"
                " WHEN xb = xa AND yb < ya THEN 2"
                " WHEN xb < xa AND yb = ya THEN 2"
                " WHEN xb = xa AND yb = ya THEN 1"
                " ELSE 0 END) AS BIGINT)"
            ).alias("q4"),
        )
    )
    s = pg.agg(
        F.count("*").cast("bigint").alias("n"),
        F.expr("CAST(sum((q4 - 4) * (q4 - 8)) AS BIGINT)").alias("d1_16"),
        F.expr(
            "sum(CAST((r2 - 2) * (r2 - 4) AS DECIMAL(19,0))"
            " * ((s2 - 2) * (s2 - 4)))"
        ).alias("d2_16"),
        F.expr(
            "sum(CAST((r2 - 4) * (s2 - 4) AS DECIMAL(19,0)) * (q4 - 4))"
        ).alias("d3_16"),
    )
    d_txt = (
        "30.0 * CAST((n - 2) * (n - 3) * d1_16"
        " + d2_16 - 2 * (n - 2) * d3_16 AS DOUBLE)"
        " / (16.0 * n * (n - 1) * (n - 2) * (n - 3) * (n - 4))"
    )
    return s.selectExpr(
        "n AS n_days",
        f"round({d_txt}, 6) AS hoeffding_d",
        f"CAST(CASE WHEN round({d_txt}, 9) > 0.005 THEN 1 ELSE 0 END"
        " AS BIGINT) AS dependent_hint",
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
# agg_markov_removal_attribution
# ---------------------------------------------------------------------------

_MRA_STATES = ["start", "view", "click", "signup", "error", "conv"]
_MRA_CHANNELS = ["view", "click", "signup", "error"]
_MRA_STEPS = 40  # absorption horizon; fixture paths are << 40 steps


def _mra_step_exprs() -> list[str]:
    """The per-iteration state-vector update, IDENTICAL text on both
    engines: p0 (start) is structurally never re-entered; p1..p4 sum
    the transient inflows; p5 (conv) absorbs (+ p5 self term).  Each
    component quantizes round(9) so unordered-sum drift cannot
    compound across the 40 steps (the PageRank rule) — though every
    sum here is a FIXED-ORDER expression, not an aggregate."""
    exprs = ["CAST(0.0 AS DOUBLE) AS p0"]
    for j in range(1, 5):
        terms = " + ".join(f"p{i} * m_{i}_{j}" for i in range(5))
        exprs.append(f"round({terms}, 9) AS p{j}")
    conv_terms = " + ".join(f"p{i} * m_{i}_5" for i in range(5))
    exprs.append(f"round({conv_terms} + p5, 9) AS p5")
    exprs += [f"m_{i}_{j}" for i in range(5) for j in range(1, 6)]
    return exprs


def _mra_matrix_cols() -> list[str]:
    """Pivot (ch, u, v, p) edge rows into the 25 transient-matrix
    columns m_i_j (i = source 0..4, j = target 1..5), 0.0 where the
    edge was never observed — identical conditional-max text on both
    engines."""
    cols = []
    for i in range(5):
        for j in range(1, 6):
            cols.append(
                f"coalesce(max(CASE WHEN u = '{_MRA_STATES[i]}' AND "
                f"v = '{_MRA_STATES[j]}' THEN p END), CAST(0.0 AS DOUBLE))"
                f" AS m_{i}_{j}"
            )
    return cols


def _mra_oracle() -> str:
    chains = " UNION ALL ".join(
        f"SELECT '{c}' AS ch" for c in ["all"] + _MRA_CHANNELS
    )
    mx_cols = ",\n             ".join(_mra_matrix_cols())
    step_cols = ",\n             ".join(_mra_step_exprs())
    steps = ",\n    ".join(
        f"s{k} AS (SELECT ch,\n             {step_cols}\n      FROM s{k - 1})"
        for k in range(1, _MRA_STEPS + 1)
    )
    m_pass = ", ".join(
        f"m_{i}_{j}" for i in range(5) for j in range(1, 6)
    )
    return f"""
    WITH fp AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'purchase'
                      THEN row(epoch_us(ts), event_id) END) AS fpk
      FROM events GROUP BY user_id),
    pre AS (
      SELECT e.user_id, e.event_type,
             row_number() OVER (PARTITION BY e.user_id
                                ORDER BY e.ts, e.event_id) AS rn,
             count(*) OVER (PARTITION BY e.user_id) AS mx,
             fp.fpk IS NOT NULL AS conv
      FROM events e JOIN fp ON e.user_id = fp.user_id
      WHERE e.event_type != 'purchase'
        AND (fp.fpk IS NULL
             OR row(epoch_us(e.ts), e.event_id) < fp.fpk)),
    seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY rn)
               AS prev,
             rn, mx, conv
      FROM pre),
    edges_raw AS (
      SELECT coalesce(prev, 'start') AS u, event_type AS v FROM seq
      UNION ALL
      SELECT event_type AS u,
             CASE WHEN conv THEN 'conv' ELSE 'null' END AS v
      FROM seq WHERE rn = mx
      UNION ALL
      SELECT 'start' AS u, 'conv' AS v
      FROM fp WHERE fpk IS NOT NULL
        AND user_id NOT IN (SELECT DISTINCT user_id FROM pre)),
    ec AS (SELECT u, v, CAST(count(*) AS BIGINT) AS c
           FROM edges_raw GROUP BY 1, 2),
    chains AS ({chains}),
    rc AS (
      SELECT ch, u,
             CASE WHEN ch != 'all' AND v = ch THEN 'null' ELSE v END AS v,
             CAST(sum(c) AS BIGINT) AS c
      FROM ec CROSS JOIN chains GROUP BY 1, 2, 3),
    rt AS (SELECT ch, u, CAST(sum(c) AS BIGINT) AS r FROM rc
           GROUP BY 1, 2),
    mm AS (
      SELECT rc.ch, rc.u, rc.v,
             round(CAST(rc.c AS DOUBLE) / rt.r, 9) AS p
      FROM rc JOIN rt ON rc.ch = rt.ch AND rc.u = rt.u),
    mx0 AS (
      SELECT ch,
             {mx_cols}
      FROM mm GROUP BY ch),
    s0 AS (SELECT ch, CAST(1.0 AS DOUBLE) AS p0, CAST(0.0 AS DOUBLE) AS p1,
                  CAST(0.0 AS DOUBLE) AS p2, CAST(0.0 AS DOUBLE) AS p3,
                  CAST(0.0 AS DOUBLE) AS p4, CAST(0.0 AS DOUBLE) AS p5,
                  {m_pass}
           FROM mx0),
    {steps},
    res AS (SELECT ch, p5 AS pconv FROM s{_MRA_STEPS}),
    base AS (SELECT pconv AS pall FROM res WHERE ch = 'all'),
    eff AS (
      SELECT r.ch, r.pconv, b.pall,
             CAST(round(b.pall - r.pconv, 9) AS DECIMAL(28,9)) AS de
      FROM res r CROSS JOIN base b WHERE r.ch != 'all'),
    tot AS (SELECT sum(de) AS te FROM eff)
    SELECT eff.ch AS channel,
           round(eff.pall, 6) AS p_conv_full,
           round(eff.pconv, 6) AS p_conv_removed,
           CASE WHEN eff.pall = 0.0 THEN NULL
                ELSE round(CAST(eff.de AS DOUBLE) / eff.pall, 6)
           END AS removal_effect,
           CASE WHEN CAST(tot.te AS DOUBLE) = 0.0 THEN NULL
                ELSE round(CAST(eff.de AS DOUBLE)
                           / CAST(tot.te AS DOUBLE), 6)
           END AS attribution_share
    FROM eff CROSS JOIN tot ORDER BY channel
    """


@query("agg_markov_removal_attribution", oracle=_mra_oracle())
def agg_markov_removal_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MARKOV REMOVAL-EFFECT ATTRIBUTION (Anderl et al. 2014) — the
    third standard multi-touch attribution model, completing the
    repo's trio: agg_attribution_position splits credit by path
    position, agg_shapley_attribution by coalition counterfactuals,
    and this one by CHAIN counterfactuals: fit a first-order Markov
    chain over pre-conversion channel paths (states start/view/click/
    signup/error + absorbing conv/null; first purchase ends a path in
    conv, no purchase ends it in null), then for each channel
    re-route every transition INTO it to null (the removal chain) and
    measure how much absorption probability into conv is lost.
    removal_effect = (P_all - P_removed)/P_all; shares normalize the
    effects.  Absorption is computed as 40 unrolled steps of the
    transient state vector — fixture paths are far shorter, and both
    engines run the same truncation, so the horizon is exact by
    construction.

    Parity: path extraction orders by (ts, event_id) with composite
    struct/row comparison against the first-purchase key; edge counts
    are exact integers; transition probabilities round(9) from
    integer ratios; every vector step is a FIXED-ORDER multiply-add
    expression quantized round(9) (never a float aggregate — the
    5-row x 25-matrix-column frame makes the update a projection);
    per-channel effects quantize into DECIMAL before the 4-term
    share sum; final outputs round(6), share NULL-gated on zero
    total effect.

    Shape at 100 TB: one events pass builds paths (per-user window),
    one edge aggregate; everything after — redirect, normalize,
    pivot, 40 projection steps — runs on a 5-row frame (checkpointed
    every 8 steps to bound Catalyst depth)."""
    ev = table(spark, sf_dir, "events")
    fp = ev.groupBy("user_id").agg(
        F.expr(
            "min(CASE WHEN event_type = 'purchase'"
            " THEN struct(unix_micros(ts) AS us, event_id AS eid) END)"
        ).alias("fpk")
    )
    pre = (
        ev.join(fp, "user_id")
        .where(
            "event_type != 'purchase' AND (fpk IS NULL"
            " OR struct(unix_micros(ts) AS us, event_id AS eid) < fpk)"
        )
        .select(
            "user_id",
            "event_type",
            F.row_number()
            .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
            .alias("rn"),
            F.count("*")
            .over(Window.partitionBy("user_id"))
            .alias("mx"),
            F.expr("fpk IS NOT NULL").alias("conv"),
        )
    )
    seq = pre.select(
        "user_id",
        "event_type",
        F.lag("event_type")
        .over(Window.partitionBy("user_id").orderBy("rn"))
        .alias("prev"),
        "rn",
        "mx",
        "conv",
    )
    e1 = seq.selectExpr("coalesce(prev, 'start') AS u", "event_type AS v")
    e2 = seq.where("rn = mx").selectExpr(
        "event_type AS u",
        "CASE WHEN conv THEN 'conv' ELSE 'null' END AS v",
    )
    e3 = (
        fp.where("fpk IS NOT NULL")
        .join(pre.select("user_id").distinct(), "user_id", "left_anti")
        .selectExpr("'start' AS u", "'conv' AS v")
    )
    ec = (
        e1.unionByName(e2)
        .unionByName(e3)
        .groupBy("u", "v")
        .agg(F.count("*").cast("bigint").alias("c"))
        .localCheckpoint()  # bounded edge-count table (<= 7x7 rows),
        # referenced by all five chains
    )
    chains = spark.createDataFrame(
        [(c,) for c in ["all"] + _MRA_CHANNELS], "ch string"
    )
    rc = (
        ec.crossJoin(F.broadcast(chains))
        .selectExpr(
            "ch",
            "u",
            "CASE WHEN ch != 'all' AND v = ch THEN 'null' ELSE v END AS v",
            "c",
        )
        .groupBy("ch", "u", "v")
        .agg(F.sum("c").cast("bigint").alias("c"))
    )
    rt = rc.groupBy("ch", "u").agg(F.sum("c").cast("bigint").alias("r"))
    mm = rc.join(rt, ["ch", "u"]).selectExpr(
        "ch", "u", "v", "round(CAST(c AS DOUBLE) / r, 9) AS p"
    )
    mx0 = mm.groupBy("ch").agg(
        *[F.expr(col) for col in _mra_matrix_cols()]
    )
    s = mx0.selectExpr(
        "ch",
        "CAST(1.0 AS DOUBLE) AS p0",
        "CAST(0.0 AS DOUBLE) AS p1",
        "CAST(0.0 AS DOUBLE) AS p2",
        "CAST(0.0 AS DOUBLE) AS p3",
        "CAST(0.0 AS DOUBLE) AS p4",
        "CAST(0.0 AS DOUBLE) AS p5",
        *[f"m_{i}_{j}" for i in range(5) for j in range(1, 6)],
    )
    step = _mra_step_exprs()
    for k in range(1, _MRA_STEPS + 1):
        s = s.selectExpr("ch", *step)
        if k % 8 == 0:
            s = s.localCheckpoint()  # 5-row frame; bounds plan depth
    res = s.selectExpr("ch", "p5 AS pconv").localCheckpoint()
    base = res.where("ch = 'all'").selectExpr("pconv AS pall")
    eff = (
        res.where("ch != 'all'")
        .crossJoin(F.broadcast(base))
        .selectExpr(
            "ch",
            "pconv",
            "pall",
            "CAST(round(pall - pconv, 9) AS DECIMAL(28,9)) AS de",
        )
    )
    tot = eff.agg(F.sum("de").alias("te"))
    return (
        eff.crossJoin(F.broadcast(tot))
        .selectExpr(
            "ch AS channel",
            "round(pall, 6) AS p_conv_full",
            "round(pconv, 6) AS p_conv_removed",
            "CASE WHEN pall = 0.0 THEN NULL"
            " ELSE round(CAST(de AS DOUBLE) / pall, 6) END"
            " AS removal_effect",
            "CASE WHEN CAST(te AS DOUBLE) = 0.0 THEN NULL"
            " ELSE round(CAST(de AS DOUBLE) / CAST(te AS DOUBLE), 6) END"
            " AS attribution_share",
        )
        .orderBy("channel")
    )


# ---------------------------------------------------------------------------
# agg_taylor_power_law
# ---------------------------------------------------------------------------


@query(
    "agg_taylor_power_law",
    oracle="""
    WITH cell0 AS (
      SELECT CAST(CAST(ts AS DATE) AS DATE) AS day, event_type,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    days AS (SELECT DISTINCT day FROM cell0),
    types AS (SELECT DISTINCT event_type FROM cell0),
    cells AS (
      SELECT t.event_type, coalesce(c0.c, 0) AS c
      FROM days d CROSS JOIN types t
      LEFT JOIN cell0 c0 ON d.day = c0.day
        AND t.event_type = c0.event_type),
    mv AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(c) AS BIGINT) AS s,
             sum(CAST(c AS HUGEINT) * c) AS ss
      FROM cells GROUP BY event_type),
    pt AS (
      SELECT event_type,
             CAST(round(ln(CAST(s AS DOUBLE) / n), 9)
                  AS DECIMAL(16,9)) AS x,
             CAST(round(ln(CAST(n * ss - CAST(s AS HUGEINT) * s AS DOUBLE)
                  / (CAST(n AS DOUBLE) * n)), 9) AS DECIMAL(16,9)) AS y
      FROM mv WHERE s > 0 AND n * ss - CAST(s AS HUGEINT) * s > 0),
    mo AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(x * x) AS DOUBLE) AS sxx,
             CAST(sum(x * y) AS DOUBLE) AS sxy,
             CAST(sum(y * y) AS DOUBLE) AS syy
      FROM pt)
    SELECT k AS n_types,
           round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6)
             AS taylor_exponent,
           round((sy - ((k * sxy - sx * sy) / (k * sxx - sx * sx)) * sx)
                 / k, 6) AS intercept,
           round(((k * sxy - sx * sy) * (k * sxy - sx * sy))
                 / ((k * sxx - sx * sx) * (k * syy - sy * sy)), 6) AS r2
    FROM mo
    """,
)
def agg_taylor_power_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TAYLOR'S POWER LAW (fluctuation scaling) across event types:
    variance of an activity stream scales as variance = a * mean^b,
    so log(var) regressed on log(mean) of the per-type DAILY counts
    estimates the exponent b — b ~ 1 is Poisson-like arrival noise,
    b -> 2 is bursty/clustered traffic, the classic ecology-to-ops
    diagnostic for which capacity model applies.  Sibling
    differentiation: agg_overdispersion_nb_fit tests ONE stream's
    variance-vs-mean at a point; Taylor's law fits the scaling
    ACROSS streams; text_burstiness is token-level.

    Parity: per-type day counts densify (zero days are real
    observations); means and n-scaled variances are exact integers;
    each point's (ln mean, ln variance) quantizes round(9) into
    DECIMAL(16,9) before the 5-point OLS moment sums (bounded-count
    float sums are still order-dependent — the quantize-then-sum
    rule; the narrow precision keeps per-row products exact at
    (33,18) instead of tripping Spark's 38-precision truncation);
    the exact sums cast once to DOUBLE and the final algebra is a
    shared-text 1-row expression, round(6).  Types with zero mean or zero variance are
    excluded by both engines (log undefined).

    Shape at 100 TB: one scan -> day x type aggregate, a bounded
    densify, a 5-row moments pass."""
    cells = _day_type_cells(spark, sf_dir)
    # the shared grid carries cent sums; this op needs COUNTS — derive
    # them through the same grid shape for the same densify semantics
    ev = table(spark, sf_dir, "events")
    cell0 = ev.groupBy(
        F.expr("CAST(ts AS DATE)").alias("day"), "event_type"
    ).agg(F.count("*").cast("bigint").alias("c"))
    days = cells.select("day").distinct()
    types = cells.select("event_type").distinct()
    cnt_cells = (
        days.crossJoin(F.broadcast(types))
        .join(cell0, ["day", "event_type"], "left")
        .select("event_type", F.coalesce("c", F.lit(0)).alias("c"))
    )
    mv = cnt_cells.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
        F.expr("sum(CAST(c AS DECIMAL(19,0)) * c)").alias("ss"),
    )
    pt = mv.where(
        "s > 0 AND n * ss - CAST(s AS DECIMAL(38,0)) * s > 0"
    ).selectExpr(
        # DECIMAL(16,9) operands keep per-row products at (33,18) —
        # (28,9) squares hit Spark's 38-precision truncation and
        # silently rounded sxx to 6 decimals (the win_bollinger_bands
        # rule; caught by the first selfcheck)
        "CAST(round(ln(CAST(s AS DOUBLE) / n), 9) AS DECIMAL(16,9)) AS x",
        "CAST(round(ln(CAST(n * ss - CAST(s AS DECIMAL(38,0)) * s"
        " AS DOUBLE) / (CAST(n AS DOUBLE) * n)), 9) AS DECIMAL(16,9))"
        " AS y",
    )
    mo = pt.agg(
        F.count("*").cast("bigint").alias("k"),
        F.expr("CAST(sum(x) AS DOUBLE)").alias("sx"),
        F.expr("CAST(sum(y) AS DOUBLE)").alias("sy"),
        F.expr("CAST(sum(x * x) AS DOUBLE)").alias("sxx"),
        F.expr("CAST(sum(x * y) AS DOUBLE)").alias("sxy"),
        F.expr("CAST(sum(y * y) AS DOUBLE)").alias("syy"),
    )
    b_txt = "(k * sxy - sx * sy) / (k * sxx - sx * sx)"
    return mo.selectExpr(
        "k AS n_types",
        f"round({b_txt}, 6) AS taylor_exponent",
        f"round((sy - ({b_txt}) * sx) / k, 6) AS intercept",
        "round(((k * sxy - sx * sy) * (k * sxy - sx * sy))"
        " / ((k * sxx - sx * sx) * (k * syy - sy * sy)), 6) AS r2",
    )
