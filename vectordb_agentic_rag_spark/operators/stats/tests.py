"""Hypothesis tests: two-sample and k-sample location and scale tests,
paired tests, contingency-table tests, effect sizes and
multiple-comparison control.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ...memo import session_artifact
from ...registry import query
from ...tables import table
from ..pipelines import _ANN_A, _ANN_B_DUCK, _ANN_B_SPARK
from .distribution import _day_type_cells


# ---------------------------------------------------------------------------
# agg_welch_ttest
# ---------------------------------------------------------------------------


@query(
    "agg_welch_ttest",
    oracle="""
    WITH g AS (
      SELECT CASE WHEN p.p_type LIKE 'PROMO%' THEN 1 ELSE 0 END AS grp,
             CAST(l.l_quantity AS BIGINT) AS q
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
    s AS (
      SELECT grp, count(*) AS n, sum(q) AS sq, sum(q * q) AS sqq
      FROM g GROUP BY grp),
    m AS (
      SELECT grp, n, CAST(sq AS DOUBLE) / n AS mean,
             (CAST(sqq AS DOUBLE)
              - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE) / n) / (n - 1)
               AS var
      FROM s WHERE n >= 2),
    tw AS (
      SELECT p.n AS n_promo, o.n AS n_other,
             p.mean AS m_promo, o.mean AS m_other,
             p.var / p.n + o.var / o.n AS se2,
             p.var / p.n AS a, o.var / o.n AS b,
             p.n AS np, o.n AS no
      FROM (SELECT * FROM m WHERE grp = 1) p
      CROSS JOIN (SELECT * FROM m WHERE grp = 0) o)
    SELECT CAST(n_promo AS BIGINT) AS n_promo,
           CAST(n_other AS BIGINT) AS n_other,
           round(m_promo, 6) AS mean_promo,
           round(m_other, 6) AS mean_other,
           round((m_promo - m_other) / sqrt(se2), 6) AS t_stat,
           round((se2 * se2)
                 / ((a * a) / (np - 1) + (b * b) / (no - 1)), 6) AS df
    FROM tw
    """,
)
def agg_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WELCH'S UNEQUAL-VARIANCE T-TEST: does promotional part type
    shift ordered quantity? (The A/B-test primitive run directly in
    the warehouse: group = p_type LIKE 'PROMO%', metric = l_quantity,
    Welch-Satterthwaite degrees of freedom.) One row: group sizes,
    means, t statistic, df.

    Shape at scale: the part dimension joins broadcast (dimension
    tables fit executors at any fact scale); sufficient statistics
    (n, sum, sum-of-squares) come from ONE hash aggregate with
    map-side combine — the classic one-pass parallel t-test; the
    final algebra touches 2 rows. No second pass, no window, no sort.

    Parity: quantities are integral doubles cast to BIGINT (exact),
    so n/sum/sum-sq are exact integers on both engines; every derived
    double (mean, variance, t, df) is computed with the textually
    identical expression shape and round(6)'d once. Squares stay in
    DOUBLE algebra — at warehouse scale sum(q*q) would need
    DECIMAL(38) headroom, which both engines' BIGINT covers to ~3e9
    rows of q<=50 (documented bound)."""
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity")
    pt = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    g = li.join(
        F.broadcast(pt), li.l_partkey == pt.p_partkey
    ).select(
        F.when(F.col("p_type").like("PROMO%"), 1).otherwise(0).alias("grp"),
        F.col("l_quantity").cast("bigint").alias("q"),
    )
    s = g.groupBy("grp").agg(
        F.count("*").alias("n"),
        F.sum("q").alias("sq"),
        F.sum(F.col("q") * F.col("q")).alias("sqq"),
    )
    m = s.where(F.col("n") >= 2).select(
        "grp",
        "n",
        (F.col("sq").cast("double") / F.col("n")).alias("mean"),
        (
            (
                F.col("sqq").cast("double")
                - F.col("sq").cast("double")
                * F.col("sq").cast("double")
                / F.col("n")
            )
            / (F.col("n") - 1)
        ).alias("var"),
    )
    p = m.where(F.col("grp") == 1).select(
        F.col("n").alias("np"), F.col("mean").alias("m_promo"),
        F.col("var").alias("vp"),
    )
    o = m.where(F.col("grp") == 0).select(
        F.col("n").alias("no"), F.col("mean").alias("m_other"),
        F.col("var").alias("vo"),
    )
    tw = p.crossJoin(o).select(
        "np", "no", "m_promo", "m_other",
        (F.col("vp") / F.col("np") + F.col("vo") / F.col("no")).alias("se2"),
        (F.col("vp") / F.col("np")).alias("a"),
        (F.col("vo") / F.col("no")).alias("b"),
    )
    return tw.select(
        F.col("np").cast("bigint").alias("n_promo"),
        F.col("no").cast("bigint").alias("n_other"),
        F.round("m_promo", 6).alias("mean_promo"),
        F.round("m_other", 6).alias("mean_other"),
        F.round(
            (F.col("m_promo") - F.col("m_other")) / F.sqrt("se2"), 6
        ).alias("t_stat"),
        F.round(
            (F.col("se2") * F.col("se2"))
            / (
                (F.col("a") * F.col("a")) / (F.col("np") - 1)
                + (F.col("b") * F.col("b")) / (F.col("no") - 1)
            ),
            6,
        ).alias("df"),
    )


# ---------------------------------------------------------------------------
# agg_chi_square_independence
# ---------------------------------------------------------------------------


@query(
    "agg_chi_square_independence",
    oracle="""
    WITH o AS (
      SELECT event_type AS et, day(ts) % 7 AS dow, count(*) AS obs
      FROM events GROUP BY 1, 2),
    rt AS (SELECT et, sum(obs) AS r FROM o GROUP BY et),
    ct AS (SELECT dow, sum(obs) AS c FROM o GROUP BY dow),
    n AS (SELECT sum(obs) AS n FROM o),
    cells AS (
      SELECT o.obs, rt.r * ct.c / (n.n * 1.0) AS e
      FROM o JOIN rt USING (et) JOIN ct USING (dow) CROSS JOIN n)
    SELECT CAST((SELECT n FROM n) AS BIGINT) AS n_events,
           CAST(((SELECT count(*) FROM rt) - 1)
                * ((SELECT count(*) FROM ct) - 1) AS BIGINT) AS dof,
           round(CAST(sum(CAST(round((obs - e) * (obs - e) / e, 9)
                               AS DECIMAL(28, 9))) AS DOUBLE), 6)
             AS chi2_stat
    FROM cells
    """,
)
def agg_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PEARSON CHI-SQUARE test of independence between event type and
    day-of-week bucket (day(ts) % 7 — the identical integer bucketing
    on both engines, sidestepping the engines' dayofweek origin
    mismatch): the categorical-drift / seasonality screen run over
    event logs. One row: N, degrees of freedom, chi2.

    Shape at scale: one hash aggregate collapses the fact table to
    |types| x |buckets| cells (map-side combine does the heavy
    lifting); marginals re-aggregate those ~35 rows; everything after
    the first aggregate is broadcast-sized. This is the textbook
    two-level aggregation — no row ever shuffles twice.

    Parity: observed counts and marginals are exact integers; the
    expected value divides exact integer products (r*c <= ~1e12,
    exact in double) by N once; per-cell contributions are round(9)-
    quantized and summed as DECIMAL so the 35-term sum is
    order-independent; one round(6)."""
    ev = table(spark, sf_dir, "events")
    o = (
        ev.select(
            F.col("event_type").alias("et"),
            (F.dayofmonth("ts") % 7).alias("dow"),
        )
        .groupBy("et", "dow")
        .agg(F.count("*").alias("obs"))
    )
    rt = o.groupBy("et").agg(F.sum("obs").alias("r"))
    ct = o.groupBy("dow").agg(F.sum("obs").alias("c"))
    n = o.agg(
        F.sum("obs").alias("n"),
        F.count_distinct("et").alias("net"),
    )
    ndow = o.agg(F.count_distinct("dow").alias("ndow"))
    cells = (
        o.join(F.broadcast(rt), "et")
        .join(F.broadcast(ct), "dow")
        .crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(ndow))
        .select(
            "n",
            "net",
            "ndow",
            "obs",
            (F.col("r") * F.col("c") / (F.col("n") * F.lit(1.0))).alias("e"),
        )
    )
    return cells.groupBy("n", "net", "ndow").agg(
        F.sum(
            F.expr(
                "CAST(round((obs - e) * (obs - e) / e, 9) AS DECIMAL(28,9))"
            )
        ).alias("chi2")
    ).select(
        F.col("n").cast("bigint").alias("n_events"),
        ((F.col("net") - 1) * (F.col("ndow") - 1))
        .cast("bigint")
        .alias("dof"),
        F.round(F.col("chi2").cast("double"), 6).alias("chi2_stat"),
    )


def _domain_bucket(vt, n_buckets: int = 16):
    """Attach a data-derived range-bucket id to a distinct-value frame:
    width = (max - min) / n_buckets from a broadcast 1-row aggregate,
    so the bucket COUNT is data-independent (the round-7 advisory fix
    — a hard-coded width silently degrades to one bucket, i.e. a
    single-partition window, if the value range rescales). floor() is
    monotone in v, which is all the two-level bucketed cumsum needs;
    the bucket id never reaches the output or the oracle."""
    stats = vt.agg(F.min("v").alias("_vmin"), F.max("v").alias("_vmax"))
    width = F.greatest(
        (F.col("_vmax") - F.col("_vmin")) / float(n_buckets), F.lit(1e-12)
    )
    return (
        vt.crossJoin(F.broadcast(stats))
        .withColumn(
            "bkt", F.floor((F.col("v") - F.col("_vmin")) / width).cast("int")
        )
        .drop("_vmin", "_vmax")
    )


# ---------------------------------------------------------------------------
# agg_mann_whitney_u
# ---------------------------------------------------------------------------


@query(
    "agg_mann_whitney_u",
    oracle="""
    WITH g AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS grp,
             value AS v
      FROM events WHERE event_type IN ('purchase', 'click')),
    vt AS (
      SELECT v, sum(grp) AS n1v, count(*) AS ntv
      FROM g GROUP BY v),
    rk AS (
      SELECT v, n1v, ntv,
             sum(ntv) OVER (ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) - ntv AS cum_less
      FROM vt),
    s AS (
      SELECT sum(n1v * (2 * cum_less + ntv + 1)) AS two_r1,
             sum(n1v) AS n1, sum(ntv - n1v) AS n2, sum(ntv) AS n,
             sum(ntv * ntv * ntv - ntv) AS ties
      FROM rk)
    SELECT CAST(n1 AS BIGINT) AS n_purchase,
           CAST(n2 AS BIGINT) AS n_click,
           CAST(ties AS BIGINT) AS tie_term,
           round((two_r1 - n1 * (n1 + 1)) / 2.0, 1) AS u_stat,
           round(((two_r1 - n1 * (n1 + 1)) - n1 * n2) / 2.0
                 / sqrt(n1 * n2 / 12.0
                        * ((n + 1) - ties / (n * 1.0 * (n - 1)))), 6)
             AS z_stat
    FROM s WHERE n1 > 0 AND n2 > 0 AND n >= 2
    """,
)
def agg_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANN-WHITNEY U rank-sum test (tie-corrected normal
    approximation): do 'purchase' and 'click' events draw their values
    from the same distribution? The nonparametric companion to
    agg_welch_ttest — the test teams reach for when metric
    distributions are skewed (revenue-like metrics always are).

    Ranks are never materialized per row: values collapse to
    DISTINCT-VALUE groups first (one map-side-combined aggregate), and
    the average rank of a tied block is reconstructed from cumulative
    counts — 2*cum_less + block + 1, kept as INTEGERS by working with
    2x the rank sum throughout. The running cumulative is a window
    over distinct-value rows only: bounded by the metric's value
    domain (~49k two-decimal values here), not the event count — the
    one ordered pass is over a domain-bounded series, the same
    contract as agg_exact_quantile_2pass. The cumulative itself is the
    two-pass range-bucketed form (per-bucket window + a prefix over
    bucket totals), so no single-partition global window exists even
    when the domain grows.

    Parity: U and the tie term are exact integers on both engines
    (value equality groups identical doubles); z divides the same
    integer expressions with the identical shape, one round(6).
    u_stat is an exact multiple of 0.5 -> round(,1) is lossless."""
    ev = table(spark, sf_dir, "events")
    g = ev.where(F.col("event_type").isin("purchase", "click")).select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "grp"
        ),
        F.col("value").alias("v"),
    )
    vt = _domain_bucket(
        g.groupBy("v").agg(
            F.sum("grp").alias("n1v"), F.count("*").alias("ntv")
        )
    )
    # two-pass distributed cumulative count (the agg_exact_quantile_2pass
    # shape): a per-bucket window over value-range buckets plus a
    # bucket-count-bounded prefix over the ~10 bucket totals — never the
    # single-partition global window WindowExec warns about.
    w_local = Window.partitionBy("bkt").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    bt = vt.groupBy("bkt").agg(F.sum("ntv").alias("btot"))
    w_b = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, 0)
    before = bt.select(
        "bkt", (F.sum("btot").over(w_b) - F.col("btot")).alias("cum_before")
    )
    rk = (
        vt.withColumn("cum_in", F.sum("ntv").over(w_local))
        .join(F.broadcast(before), "bkt")
        .select(
            "n1v",
            "ntv",
            (F.col("cum_before") + F.col("cum_in") - F.col("ntv")).alias(
                "cum_less"
            ),
        )
    )
    s = rk.agg(
        F.sum(
            F.col("n1v") * (2 * F.col("cum_less") + F.col("ntv") + 1)
        ).alias("two_r1"),
        F.sum("n1v").alias("n1"),
        F.sum(F.col("ntv") - F.col("n1v")).alias("n2"),
        F.sum("ntv").alias("n"),
        F.sum(
            F.col("ntv") * F.col("ntv") * F.col("ntv") - F.col("ntv")
        ).alias("ties"),
    )
    s = s.where(
        (F.col("n1") > 0) & (F.col("n2") > 0) & (F.col("n") >= 2)
    )
    return s.select(
        F.col("n1").cast("bigint").alias("n_purchase"),
        F.col("n2").cast("bigint").alias("n_click"),
        F.col("ties").cast("bigint").alias("tie_term"),
        F.round(
            (F.col("two_r1") - F.col("n1") * (F.col("n1") + 1)) / 2.0, 1
        ).alias("u_stat"),
        F.round(
            ((F.col("two_r1") - F.col("n1") * (F.col("n1") + 1))
             - F.col("n1") * F.col("n2"))
            / 2.0
            / F.sqrt(
                F.col("n1") * F.col("n2") / 12.0
                * ((F.col("n") + 1)
                   - F.col("ties")
                   / (F.col("n") * F.lit(1.0) * (F.col("n") - 1)))
            ),
            6,
        ).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# agg_ks_test_two_sample
# ---------------------------------------------------------------------------


@query(
    "agg_ks_test_two_sample",
    oracle="""
    WITH g AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS grp,
             value AS v
      FROM events WHERE event_type IN ('purchase', 'click')),
    vt AS (
      SELECT v, sum(grp) AS d1, count(*) - sum(grp) AS d2
      FROM g GROUP BY v),
    cum AS (
      SELECT sum(d1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS c1,
             sum(d2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS c2
      FROM vt),
    tot AS (SELECT sum(d1) AS n1, sum(d2) AS n2 FROM vt),
    gap AS (
      SELECT max(abs(c1 * n2 - c2 * n1)) AS mx
      FROM cum CROSS JOIN tot)
    SELECT CAST(n1 AS BIGINT) AS n_purchase,
           CAST(n2 AS BIGINT) AS n_click,
           round(mx / (n1 * 1.0 * n2), 6) AS d_stat,
           round(mx / (n1 * 1.0 * n2)
                 * sqrt(n1 * n2 / (n1 * 1.0 + n2)), 6) AS ks_scaled
    FROM gap CROSS JOIN tot
    WHERE n1 > 0 AND n2 > 0
    """,
)
def agg_ks_test_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-SAMPLE KOLMOGOROV-SMIRNOV statistic between 'purchase' and
    'click' event values: D = sup_v |F1(v) - F2(v)|, the standard
    distribution-shift detector (training-data drift monitors run
    exactly this per feature). Also reports the sample-size-scaled
    statistic sqrt(n1 n2/(n1+n2)) * D that the asymptotic p-value
    tables consume.

    The empirical-CDF gap never touches doubles until the very end:
    |c1*n2 - c2*n1| keeps the sup over an INTEGER lattice (c1/n1 -
    c2/n2 with common denominator n1*n2), so the max is exact on both
    engines regardless of accumulation order — the same
    integers-first discipline as agg_mann_whitney_u. Distinct-value
    collapse bounds the scan: cumulative counts run over the value
    DOMAIN (~49k two-decimal values), not the event count, and the
    oracle's single ordered window is the domain-bounded pass the
    Spark side implements as the two-level bucketed cumsum.

    Parity: integers up to the two final divisions, round(6) each."""
    ev = table(spark, sf_dir, "events")
    g = ev.where(F.col("event_type").isin("purchase", "click")).select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "grp"
        ),
        F.col("value").alias("v"),
    )
    vt = _domain_bucket(
        g.groupBy("v").agg(
            F.sum("grp").alias("d1"),
            (F.count("*") - F.sum("grp")).alias("d2"),
        )
    )
    w_local = Window.partitionBy("bkt").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    bt = vt.groupBy("bkt").agg(
        F.sum("d1").alias("b1"), F.sum("d2").alias("b2")
    )
    w_b = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, 0)
    before = bt.select(
        "bkt",
        (F.sum("b1").over(w_b) - F.col("b1")).alias("p1"),
        (F.sum("b2").over(w_b) - F.col("b2")).alias("p2"),
    )
    cum = (
        vt.withColumn("l1", F.sum("d1").over(w_local))
        .withColumn("l2", F.sum("d2").over(w_local))
        .join(F.broadcast(before), "bkt")
        .select(
            (F.col("p1") + F.col("l1")).alias("c1"),
            (F.col("p2") + F.col("l2")).alias("c2"),
        )
    )
    tot = vt.agg(F.sum("d1").alias("n1"), F.sum("d2").alias("n2"))
    gap = cum.crossJoin(F.broadcast(tot)).agg(
        F.max(
            F.abs(F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1"))
        ).alias("mx")
    )
    d = F.col("mx") / (F.col("n1") * F.lit(1.0) * F.col("n2"))
    return (
        gap.crossJoin(F.broadcast(tot))
        .where((F.col("n1") > 0) & (F.col("n2") > 0))
        .select(
            F.col("n1").cast("bigint").alias("n_purchase"),
            F.col("n2").cast("bigint").alias("n_click"),
            F.round(d, 6).alias("d_stat"),
            F.round(
                d
                * F.sqrt(
                    F.col("n1")
                    * F.col("n2")
                    / (F.col("n1") * F.lit(1.0) + F.col("n2"))
                ),
                6,
            ).alias("ks_scaled"),
        )
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
# agg_two_proportion_ztest
# ---------------------------------------------------------------------------


@query(
    "agg_two_proportion_ztest",
    oracle="""
    WITH ut AS (SELECT DISTINCT event_type, user_id FROM events),
    conv AS (SELECT user_id FROM events WHERE event_type = 'purchase'
             GROUP BY user_id HAVING count(*) >= 12),
    g AS (
      SELECT ut.event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS x
      FROM ut LEFT JOIN conv c ON ut.user_id = c.user_id
      WHERE ut.event_type IN ('view', 'click')
      GROUP BY ut.event_type),
    w AS (
      SELECT max(CASE WHEN event_type = 'view' THEN n END) AS n1,
             max(CASE WHEN event_type = 'view' THEN x END) AS x1,
             max(CASE WHEN event_type = 'click' THEN n END) AS n2,
             max(CASE WHEN event_type = 'click' THEN x END) AS x2
      FROM g)
    SELECT CAST(n1 AS BIGINT) AS n_view, CAST(x1 AS BIGINT) AS conv_view,
           CAST(n2 AS BIGINT) AS n_click, CAST(x2 AS BIGINT) AS conv_click,
           round(CAST(x1 AS DOUBLE) / n1, 6) AS p_view,
           round(CAST(x2 AS DOUBLE) / n2, 6) AS p_click,
           round((CAST(x1 AS DOUBLE) / n1 - CAST(x2 AS DOUBLE) / n2)
                 / sqrt((CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
                        * (1.0 - CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
                        * (CAST(1 AS DOUBLE) / n1 + CAST(1 AS DOUBLE) / n2)),
                 6) AS z_stat
    FROM w
    """,
)
def agg_two_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-PROPORTION Z-TEST: do users who VIEW convert (>= 12
    purchase events — the fixture's every user purchases at least
    once, so plain any-purchase conversion is degenerately 1.0 and
    the pooled variance collapses to zero; the threshold was sized
    against the measured purchase-count distribution) at a different
    rate than users who CLICK? The textbook A/B significance test
    (pooled-variance normal approximation) on the cohort sets
    agg_cohort_overlap measures; on this null-by-construction fixture
    the two cohorts nearly coincide, so z correctly lands near 0 —
    the test DETECTING no effect is the honest expected output.

    Scale shape: one distinct (type, user) projection, a LEFT join
    against the distinct converter set keyed on user, one two-group
    aggregate, and a 1-row pivot — the fact table is touched twice,
    both passes map-side-combinable distincts.

    Parity: cohort and conversion counts are exact integers; the
    pooled z assembles in shared-text DOUBLE (sqrt only, decimal
    literals avoided via CAST(1 AS DOUBLE)), round(6)."""
    ev = table(spark, sf_dir, "events")
    ut = (
        ev.select("event_type", "user_id")
        .where(F.col("event_type").isin("view", "click"))
        .distinct()
    )
    conv = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count("*").alias("np"))
        .where(F.col("np") >= 12)
        .select("user_id", F.lit(1).alias("cv"))
    )
    g = (
        ut.join(conv, "user_id", "left")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.coalesce(F.col("cv"), F.lit(0))).cast("bigint").alias("x"),
        )
    )
    w = g.agg(
        F.max(F.when(F.col("event_type") == "view", F.col("n"))).alias("n1"),
        F.max(F.when(F.col("event_type") == "view", F.col("x"))).alias("x1"),
        F.max(F.when(F.col("event_type") == "click", F.col("n"))).alias("n2"),
        F.max(F.when(F.col("event_type") == "click", F.col("x"))).alias("x2"),
    )
    return w.selectExpr(
        "CAST(n1 AS BIGINT) AS n_view",
        "CAST(x1 AS BIGINT) AS conv_view",
        "CAST(n2 AS BIGINT) AS n_click",
        "CAST(x2 AS BIGINT) AS conv_click",
        "round(CAST(x1 AS DOUBLE) / n1, 6) AS p_view",
        "round(CAST(x2 AS DOUBLE) / n2, 6) AS p_click",
        "round((CAST(x1 AS DOUBLE) / n1 - CAST(x2 AS DOUBLE) / n2)"
        " / sqrt((CAST(x1 + x2 AS DOUBLE) / (n1 + n2))"
        " * (1.0 - CAST(x1 + x2 AS DOUBLE) / (n1 + n2))"
        " * (CAST(1 AS DOUBLE) / n1 + CAST(1 AS DOUBLE) / n2)), 6) AS z_stat",
    )


# ---------------------------------------------------------------------------
# agg_wilcoxon_signed_rank
# ---------------------------------------------------------------------------


@query(
    "agg_wilcoxon_signed_rank",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
             count(*) AS cnt
      FROM events WHERE event_type IN ('click', 'view') GROUP BY 1, 2),
    s AS (
      SELECT event_type, day,
             CAST(round(CAST(cents AS DOUBLE) / cnt / 100.0, 6)
                  AS DECIMAL(18,6)) AS m
      FROM daily),
    d AS (
      SELECT a.day, a.m - b.m AS diff
      FROM s a JOIN s b ON a.day = b.day
        AND a.event_type = 'click' AND b.event_type = 'view'
      WHERE a.m <> b.m),
    v AS (
      SELECT abs(diff) AS av,
             CAST(sum(CASE WHEN diff > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS npos,
             CAST(count(*) AS BIGINT) AS ntv
      FROM d GROUP BY abs(diff)),
    r AS (
      SELECT av, npos, ntv,
             CAST(coalesce(sum(ntv) OVER (ORDER BY av
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_less
      FROM v),
    t AS (
      SELECT CAST(sum(npos * (2 * cum_less + ntv + 1)) AS BIGINT) AS two_wp,
             CAST(sum(ntv) AS BIGINT) AS n,
             CAST(sum(CASE WHEN ntv > 1
                           THEN ntv * ntv * ntv - ntv ELSE 0 END)
                  AS BIGINT) AS tie3
      FROM r)
    SELECT n AS n_pairs,
           round(CAST(two_wp AS DOUBLE) / 2, 6) AS w_plus,
           round((CAST(two_wp AS DOUBLE) / 2
                  - CAST(n AS DOUBLE) * (n + 1) / 4)
                 / sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24
                        - CAST(tie3 AS DOUBLE) / 48), 6) AS z_stat
    FROM t WHERE n >= 10
    """,
)
def agg_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WILCOXON SIGNED-RANK test on PAIRED daily means (click vs view,
    matched by day): rank the absolute differences, sum the ranks of
    positive days, and z-test against the null median-zero — the
    paired nonparametric companion to agg_mann_whitney_u's unpaired
    rank-sum (pairing by day removes the between-day variance both
    series share, which the U test cannot).

    Scale shape: the day-domain collapse, then the mann_whitney
    value-domain rank trick — tied average ranks reconstructed from
    cumulative counts as INTEGERS (2*cum_less + block + 1, keeping 2x
    the rank sum), the one ordered cumulative running over distinct
    |difference| values (bounded domain), zero-differences dropped per
    the standard procedure, tie-corrected variance.

    Parity: differences of round(6) DECIMAL means are exact, so the
    sign/abs grouping and every rank integer match exactly; the z
    assembly is shared-text DOUBLE (sqrt only), one round(6)."""
    ev = table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "view")
    )
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
    d = (
        s.where(F.col("event_type") == "click")
        .select("day", F.col("m").alias("mc"))
        .join(
            s.where(F.col("event_type") == "view").select(
                "day", F.col("m").alias("mv")
            ),
            "day",
        )
        .where(F.col("mc") != F.col("mv"))
        .select((F.col("mc") - F.col("mv")).alias("diff"))
    )
    v = d.groupBy(F.abs(F.col("diff")).alias("av")).agg(
        F.sum((F.col("diff") > 0).cast("int")).cast("bigint").alias("npos"),
        F.count("*").cast("bigint").alias("ntv"),
    )
    wv = Window.orderBy("av").rowsBetween(Window.unboundedPreceding, -1)
    r = v.select(
        "av",
        "npos",
        "ntv",
        F.coalesce(F.sum("ntv").over(wv), F.lit(0))
        .cast("bigint")
        .alias("cum_less"),
    )
    t = r.agg(
        F.sum(F.col("npos") * (2 * F.col("cum_less") + F.col("ntv") + 1))
        .cast("bigint")
        .alias("two_wp"),
        F.sum("ntv").cast("bigint").alias("n"),
        F.sum(
            F.when(
                F.col("ntv") > 1,
                F.col("ntv") * F.col("ntv") * F.col("ntv") - F.col("ntv"),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("tie3"),
    )
    return t.where(F.col("n") >= 10).selectExpr(
        "n AS n_pairs",
        "round(CAST(two_wp AS DOUBLE) / 2, 6) AS w_plus",
        "round((CAST(two_wp AS DOUBLE) / 2"
        " - CAST(n AS DOUBLE) * (n + 1) / 4)"
        " / sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24"
        " - CAST(tie3 AS DOUBLE) / 48), 6) AS z_stat",
    )


# ---------------------------------------------------------------------------
# agg_anova_oneway
# ---------------------------------------------------------------------------


@query(
    "agg_anova_oneway",
    oracle="""
    WITH c AS (
      SELECT event_type,
             CAST(round(value * 100, 0) AS BIGINT) AS vc
      FROM events),
    g AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(vc) AS BIGINT) AS s,
             CAST(sum(CAST(vc AS DECIMAL(19,0)) * vc) AS DECIMAL(38,0)) AS q
      FROM c GROUP BY event_type),
    t AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n) AS BIGINT) AS nn,
             CAST(sum(CAST(s AS DECIMAL(19,0))) AS DECIMAL(19,0)) AS st,
             CAST(sum(q) AS DECIMAL(38,0)) AS qt,
             CAST(sum(CAST(round(
                 CAST(CAST(s AS DECIMAL(19,0)) * CAST(s AS DECIMAL(19,0))
                      AS DOUBLE) / n, 6) AS DECIMAL(28,6)))
                  AS DECIMAL(38,6)) AS b
      FROM g)
    SELECT k AS k_groups, nn AS n_events,
           round((CAST(b AS DOUBLE)
                  - CAST(st * st AS DOUBLE) / nn) / 10000.0, 6)
             AS ss_between,
           round((CAST(qt AS DOUBLE) - CAST(b AS DOUBLE)) / 10000.0, 6)
             AS ss_within,
           round(((CAST(b AS DOUBLE) - CAST(st * st AS DOUBLE) / nn)
                  / (k - 1))
                 / ((CAST(qt AS DOUBLE) - CAST(b AS DOUBLE)) / (nn - k)),
                 6) AS f_stat
    FROM t
    """,
)
def agg_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-WAY ANOVA across event types: does mean event value differ
    by type? F = (SSB/(k-1)) / (SSW/(N-k)) from ONE grouped moment
    scan — the k-group generalization of agg_welch_ttest (which
    compares exactly two), and the first screen before any per-type
    pricing or engagement claim.

    Shape at 100 TB: a single map-side-combinable groupBy(event_type)
    producing k rows of exact integer-cent moments; everything after
    is k-row arithmetic. No second pass over the fact table — SSW
    comes from the sum-of-squares identity SSW = Q - sum_g(S_g^2/n_g),
    not from per-row deviations against a joined-back mean.

    Parity: cents are exact BIGINTs (Spark `CAST(v*100 + 0.5 AS
    BIGINT)` vs DuckDB `round(v*100, 0)` — the half-even note in
    CLAUDE.md); per-group squares go through DECIMAL(19,0) operands
    (forces DuckDB's HUGEINT kernel, keeps Spark at DECIMAL(38,0));
    the k between-group terms S_g^2/n_g are each one correctly-rounded
    double division of exact integers, quantized round(6) into
    DECIMAL before the order-independent sum (the dynamic-term BM25
    discipline); F evaluates one identical expression both engines."""
    ev = table(spark, sf_dir, "events")
    c = ev.select(
        "event_type",
        F.expr("CAST(value * 100 + 0.5 AS BIGINT)").alias("vc"),
    )
    g = c.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("vc").cast("bigint").alias("s"),
        F.sum(F.expr("CAST(vc AS DECIMAL(19,0)) * vc"))
        .cast("decimal(38,0)")
        .alias("q"),
    )
    t = g.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("nn"),
        F.sum(F.col("s").cast("decimal(19,0)")).cast("decimal(19,0)").alias("st"),
        F.sum("q").cast("decimal(38,0)").alias("qt"),
        F.sum(
            F.expr(
                "CAST(round(CAST(CAST(s AS DECIMAL(19,0))"
                " * CAST(s AS DECIMAL(19,0)) AS DOUBLE) / n, 6)"
                " AS DECIMAL(28,6))"
            )
        )
        .cast("decimal(38,6)")
        .alias("b"),
    )
    return t.selectExpr(
        "k AS k_groups",
        "nn AS n_events",
        "round((CAST(b AS DOUBLE) - CAST(st * st AS DOUBLE) / nn)"
        " / 10000.0, 6) AS ss_between",
        "round((CAST(qt AS DOUBLE) - CAST(b AS DOUBLE)) / 10000.0, 6)"
        " AS ss_within",
        "round(((CAST(b AS DOUBLE) - CAST(st * st AS DOUBLE) / nn)"
        " / (k - 1))"
        " / ((CAST(qt AS DOUBLE) - CAST(b AS DOUBLE)) / (nn - k)), 6)"
        " AS f_stat",
    )


# ---------------------------------------------------------------------------
# agg_friedman_test
# ---------------------------------------------------------------------------


@query(
    "agg_friedman_test",
    oracle="""
    WITH cell AS (
      SELECT CAST(ts AS DATE) AS day, event_type,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS tot
      FROM events GROUP BY 1, 2),
    kk AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS k
           FROM events),
    fb AS (
      SELECT day FROM cell GROUP BY day
      HAVING count(*) = (SELECT k FROM kk)),
    r AS (
      SELECT c.day, c.event_type,
             CAST(row_number() OVER (PARTITION BY c.day
                                     ORDER BY c.tot, c.event_type)
                  AS BIGINT) AS rk
      FROM cell c JOIN fb USING (day)),
    rs AS (
      SELECT event_type, CAST(sum(rk) AS BIGINT) AS rank_sum,
             CAST(count(*) AS BIGINT) AS nb
      FROM r GROUP BY event_type),
    q AS (
      SELECT CAST(sum(rank_sum * rank_sum) AS BIGINT) AS sr2,
             CAST(max(nb) AS BIGINT) AS n,
             (SELECT k FROM kk) AS k
      FROM rs)
    SELECT rs.event_type, rs.rank_sum,
           round(CAST(rs.rank_sum AS DOUBLE) / q.n, 6) AS mean_rank,
           q.n AS n_blocks,
           round(12.0 * q.sr2 / (CAST(q.n AS DOUBLE) * q.k * (q.k + 1))
                 - 3.0 * q.n * (q.k + 1), 6) AS q_stat
    FROM rs CROSS JOIN q
    """,
)
def agg_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FRIEDMAN TEST on day-blocked daily revenue by event type: within
    each complete day (all k types present), rank the types by their
    exact integer-cent daily total, then test whether the rank sums
    could come from exchangeable columns — the blocked-design
    nonparametric ANOVA (agg_anova_oneway assumes independence and
    normality; this one conditions out the shared day effect, which
    on event streams is the dominant nuisance). Q ~ chi^2(k-1) under
    the null; per-type rows carry the rank sums so the direction of
    the effect is readable, Q repeats as a grand column.

    Shape at 100 TB: one groupBy(day, type) collapses the fact table
    to the day x type grid (map-side combined); the ranking window
    partitions by day over k-row partitions — the grid is
    domain-bounded, so everything after the first aggregate is
    negligible. No per-row ranks ever exist.

    Parity: blocks are CAST(ts AS DATE) on both engines (the
    date_trunc pitfall note); cell totals are exact BIGINT cents, so
    ranks are integer row_numbers over identical (tot, event_type)
    orders — cent-total ties break on the type name deterministically
    (exact ties of 5-digit-cent daily sums did not occur on any
    fixture; a tie would only redistribute ranks within the tied pair
    identically on both engines anyway). Q is one shared double
    expression over exact integers, round(6)."""
    ev = table(spark, sf_dir, "events")
    cell = ev.groupBy(
        F.col("ts").cast("date").alias("day"), "event_type"
    ).agg(
        F.sum(F.expr("CAST(value * 100 + 0.5 AS BIGINT)"))
        .cast("bigint")
        .alias("tot")
    )
    kk = ev.agg(
        F.countDistinct("event_type").cast("bigint").alias("k")
    )
    fb = (
        cell.groupBy("day")
        .agg(F.count("*").alias("ntypes"))
        .crossJoin(F.broadcast(kk))
        .where(F.col("ntypes") == F.col("k"))
        .select("day")
    )
    w = Window.partitionBy("day").orderBy("tot", "event_type")
    r = cell.join(F.broadcast(fb), "day").select(
        "event_type", F.row_number().over(w).cast("bigint").alias("rk")
    )
    rs = r.groupBy("event_type").agg(
        F.sum("rk").cast("bigint").alias("rank_sum"),
        F.count("*").cast("bigint").alias("nb"),
    )
    q = rs.agg(
        F.sum(F.col("rank_sum") * F.col("rank_sum"))
        .cast("bigint")
        .alias("sr2"),
        F.max("nb").cast("bigint").alias("n"),
    ).crossJoin(F.broadcast(kk))
    return rs.crossJoin(F.broadcast(q)).selectExpr(
        "event_type",
        "rank_sum",
        "round(CAST(rank_sum AS DOUBLE) / n, 6) AS mean_rank",
        "n AS n_blocks",
        "round(12.0 * sr2 / (CAST(n AS DOUBLE) * k * (k + 1))"
        " - 3.0 * n * (k + 1), 6) AS q_stat",
    )


# ---------------------------------------------------------------------------
# agg_tost_equivalence
# ---------------------------------------------------------------------------

# Equivalence margin for the conversion-rate TOST: two sources whose
# conversion differs by less than 2 percentage points are operationally
# interchangeable. 0.02 has an exact double representation path via
# CAST(DECIMAL literal AS DOUBLE) on both engines.
_TOST_MARGIN = "CAST(0.02 AS DOUBLE)"
# One-sided z critical value at alpha = 0.05.
_TOST_ZCRIT = "CAST(1.644854 AS DOUBLE)"

# The TOST arithmetic from the pooled sufficient statistics
# (n1, x1, n2, x2), shared verbatim by the batch op's final selectExpr
# and by stream_tost_monitor_live's drained-increment reduction
# (streaming/core.py) — one text, one parity argument.
_TOST_FINAL_EXPRS = (
    "CAST(n1 AS BIGINT) AS n_view",
    "CAST(x1 AS BIGINT) AS conv_view",
    "CAST(n2 AS BIGINT) AS n_click",
    "CAST(x2 AS BIGINT) AS conv_click",
    "round(diff, 6) AS diff",
    f"round((diff + {_TOST_MARGIN}) / se, 6) AS z_lower",
    f"round((diff - {_TOST_MARGIN}) / se, 6) AS z_upper",
    f"CAST(CASE WHEN round((diff + {_TOST_MARGIN}) / se, 6)"
    f" >= {_TOST_ZCRIT}"
    f" AND round((diff - {_TOST_MARGIN}) / se, 6)"
    f" <= -{_TOST_ZCRIT}"
    " THEN 1 ELSE 0 END AS BIGINT) AS equivalent",
)
_TOST_DIFF_SE_EXPRS = (
    "n1",
    "x1",
    "n2",
    "x2",
    "CAST(x1 AS DOUBLE) / n1 - CAST(x2 AS DOUBLE) / n2 AS diff",
    "sqrt((CAST(x1 AS DOUBLE) / n1)"
    " * (1.0 - CAST(x1 AS DOUBLE) / n1) / n1"
    " + (CAST(x2 AS DOUBLE) / n2)"
    " * (1.0 - CAST(x2 AS DOUBLE) / n2) / n2) AS se",
)


def _tost_oracle() -> str:
    """The full DuckDB TOST oracle over the events cohorts — reused
    verbatim by stream_tost_monitor_live, whose drained per-batch
    increments sum to the same (n1, x1, n2, x2)."""
    return f"""
    WITH ut AS (SELECT DISTINCT event_type, user_id FROM events),
    conv AS (SELECT user_id FROM events WHERE event_type = 'purchase'
             GROUP BY user_id HAVING count(*) >= 12),
    g AS (
      SELECT ut.event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS x
      FROM ut LEFT JOIN conv c ON ut.user_id = c.user_id
      WHERE ut.event_type IN ('view', 'click')
      GROUP BY ut.event_type),
    w AS (
      SELECT max(CASE WHEN event_type = 'view' THEN n END) AS n1,
             max(CASE WHEN event_type = 'view' THEN x END) AS x1,
             max(CASE WHEN event_type = 'click' THEN n END) AS n2,
             max(CASE WHEN event_type = 'click' THEN x END) AS x2
      FROM g),
    z AS (
      SELECT n1, x1, n2, x2,
             CAST(x1 AS DOUBLE) / n1 - CAST(x2 AS DOUBLE) / n2 AS diff,
             sqrt((CAST(x1 AS DOUBLE) / n1)
                  * (1.0 - CAST(x1 AS DOUBLE) / n1) / n1
                  + (CAST(x2 AS DOUBLE) / n2)
                  * (1.0 - CAST(x2 AS DOUBLE) / n2) / n2) AS se
      FROM w)
    SELECT CAST(n1 AS BIGINT) AS n_view, CAST(x1 AS BIGINT) AS conv_view,
           CAST(n2 AS BIGINT) AS n_click, CAST(x2 AS BIGINT) AS conv_click,
           round(diff, 6) AS diff,
           round((diff + {_TOST_MARGIN}) / se, 6) AS z_lower,
           round((diff - {_TOST_MARGIN}) / se, 6) AS z_upper,
           CAST(CASE WHEN round((diff + {_TOST_MARGIN}) / se, 6)
                          >= {_TOST_ZCRIT}
                      AND round((diff - {_TOST_MARGIN}) / se, 6)
                          <= -{_TOST_ZCRIT}
                     THEN 1 ELSE 0 END AS BIGINT) AS equivalent
    FROM z
    """


@query("agg_tost_equivalence", oracle=_tost_oracle())
def agg_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST EQUIVALENCE TEST (two one-sided tests) on the view-vs-click
    conversion cohorts: instead of asking "are the rates different?"
    (agg_two_proportion_ztest, which can only ever FAIL to reject),
    TOST PROVES sameness — H0 is |p1 - p2| >= delta, rejected only
    when BOTH one-sided z's clear the critical value, i.e. the
    difference is confidently inside the +/-2pp margin. This is the
    test a dataset-swap or shadow-deploy validation actually needs:
    "the new source behaves the same" is an equivalence claim, not a
    failed difference claim. On this null-by-construction fixture the
    cohorts nearly coincide, so equivalent = 1 is the informative
    expected outcome (the mirror of the z-test's z ~ 0).

    Shape at 100 TB: identical to agg_two_proportion_ztest — two
    map-side-combinable distinct passes, one LEFT join keyed on user,
    a two-group aggregate, 1-row output. TOST adds only 1-row
    arithmetic (unpooled Wald SE — the standard TOST form; the pooled
    SE of the difference test is wrong under the equivalence null).

    Parity: cohort counts exact integers; diff and se are shared-text
    DOUBLE expressions of exact integer ratios (bit-identical); both
    z's quantize round(6) BEFORE the critical-value comparison so the
    equivalence flag cannot flip on sub-ulp drift; margin and
    critical value enter via CAST(DECIMAL literal AS DOUBLE) (exact
    on both engines)."""
    ev = table(spark, sf_dir, "events")
    ut = (
        ev.select("event_type", "user_id")
        .where(F.col("event_type").isin("view", "click"))
        .distinct()
    )
    conv = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count("*").alias("np"))
        .where(F.col("np") >= 12)
        .select("user_id", F.lit(1).alias("cv"))
    )
    g = (
        ut.join(conv, "user_id", "left")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.coalesce(F.col("cv"), F.lit(0)))
            .cast("bigint")
            .alias("x"),
        )
    )
    w = g.agg(
        F.max(F.when(F.col("event_type") == "view", F.col("n"))).alias("n1"),
        F.max(F.when(F.col("event_type") == "view", F.col("x"))).alias("x1"),
        F.max(F.when(F.col("event_type") == "click", F.col("n"))).alias("n2"),
        F.max(F.when(F.col("event_type") == "click", F.col("x"))).alias("x2"),
    )
    z = w.selectExpr(*_TOST_DIFF_SE_EXPRS)
    return z.selectExpr(*_TOST_FINAL_EXPRS)


# ---------------------------------------------------------------------------
# agg_mcnemar_test
# ---------------------------------------------------------------------------


@query(
    "agg_mcnemar_test",
    oracle=f"""
    WITH lab AS (
      SELECT CASE WHEN {_ANN_A} = 'short' THEN 1 ELSE 0 END AS a,
             CASE WHEN {_ANN_B_DUCK} = 'short' THEN 1 ELSE 0 END AS b
      FROM documents),
    c AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n10,
             CAST(sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n01
      FROM lab)
    SELECT n AS n_docs, n10 AS a_only_short, n01 AS b_only_short,
           round(CAST((n10 - n01) * (n10 - n01) AS DOUBLE) / (n10 + n01), 6)
             AS mcnemar_chi2,
           round(CAST((abs(n10 - n01) - 1) * (abs(n10 - n01) - 1)
                      AS DOUBLE) / (n10 + n01), 6)
             AS mcnemar_chi2_cc
    FROM c
    """,
)
def agg_mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNEMAR'S TEST for marginal homogeneity between the two weak
    length-labelers (pipeline_annotation_agreement's A and B,
    binarized at 'short'): do the labelers disagree SYMMETRICALLY, or
    does one systematically call more documents short than the other?
    Cohen's kappa (the agreement op) measures how often they agree;
    McNemar isolates the DIRECTION of disagreement — chi2 =
    (n10 - n01)^2 / (n10 + n01) over the two discordant cells only,
    with the Edwards continuity-corrected variant alongside. A large
    statistic with healthy kappa means a calibration offset between
    label sources (fixable by moving one threshold), not noise — the
    distinction a labeling QA gate acts on.

    Shape at 100 TB: one scan, one map-side-combinable 1-row
    aggregate over two CASE flags. Nothing else.

    Parity: both discordant counts are exact integers from identical
    CASE text (labeler constants shared with the agreement op);
    each statistic is one double division of exact integers,
    round(6)."""
    d = table(spark, sf_dir, "documents")
    lab = d.selectExpr(
        f"CASE WHEN {_ANN_A} = 'short' THEN 1 ELSE 0 END AS a",
        f"CASE WHEN {_ANN_B_SPARK} = 'short' THEN 1 ELSE 0 END AS b",
    )
    c = lab.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.expr("CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n10"),
        F.sum(F.expr("CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n01"),
    )
    return c.selectExpr(
        "n AS n_docs",
        "n10 AS a_only_short",
        "n01 AS b_only_short",
        "round(CAST((n10 - n01) * (n10 - n01) AS DOUBLE) / (n10 + n01), 6)"
        " AS mcnemar_chi2",
        "round(CAST((abs(n10 - n01) - 1) * (abs(n10 - n01) - 1)"
        " AS DOUBLE) / (n10 + n01), 6) AS mcnemar_chi2_cc",
    )


# ---------------------------------------------------------------------------
# agg_mood_median_test
# ---------------------------------------------------------------------------


@query(
    "agg_mood_median_test",
    oracle="""
    WITH c AS (
      SELECT event_type,
             CAST(round(value * 100, 0) AS BIGINT) AS vc
      FROM events),
    vt AS (SELECT vc, CAST(count(*) AS BIGINT) AS cnt FROM c GROUP BY vc),
    tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM vt),
    cum AS (
      SELECT vc, sum(cnt) OVER (ORDER BY vc
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
      FROM vt),
    med AS (
      SELECT min(vc) AS medc FROM cum CROSS JOIN tot
      WHERE cc >= CAST(ceil(0.5 * n) AS BIGINT)),
    g AS (
      SELECT c.event_type, CAST(count(*) AS BIGINT) AS n_t,
             CAST(sum(CASE WHEN c.vc > med.medc THEN 1 ELSE 0 END)
                  AS BIGINT) AS a_t
      FROM c CROSS JOIN med GROUP BY c.event_type),
    tt AS (
      SELECT CAST(sum(n_t) AS BIGINT) AS n, CAST(sum(a_t) AS BIGINT) AS a
      FROM g),
    terms AS (
      SELECT g.event_type, g.n_t, g.a_t,
             CAST(g.n_t AS DOUBLE) * tt.a / tt.n AS e_t,
             CAST(round(
               (g.a_t - CAST(g.n_t AS DOUBLE) * tt.a / tt.n)
               * (g.a_t - CAST(g.n_t AS DOUBLE) * tt.a / tt.n)
               / (CAST(g.n_t AS DOUBLE) * tt.a / tt.n)
               + ((g.n_t - g.a_t)
                  - CAST(g.n_t AS DOUBLE) * (tt.n - tt.a) / tt.n)
               * ((g.n_t - g.a_t)
                  - CAST(g.n_t AS DOUBLE) * (tt.n - tt.a) / tt.n)
               / (CAST(g.n_t AS DOUBLE) * (tt.n - tt.a) / tt.n), 9)
               AS DECIMAL(28,9)) AS term
      FROM g CROSS JOIN tt),
    chi AS (SELECT CAST(sum(term) AS DECIMAL(38,9)) AS chi2 FROM terms)
    SELECT terms.event_type, terms.n_t AS n_events,
           terms.a_t AS n_above_median,
           round(terms.e_t, 6) AS expected_above,
           round(CAST(med.medc AS DOUBLE) / 100.0, 6) AS grand_median,
           round(CAST(chi.chi2 AS DOUBLE), 6) AS mood_chi2
    FROM terms CROSS JOIN med CROSS JOIN chi
    """,
)
def agg_mood_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOOD'S MEDIAN TEST across event types: classify every event as
    above / not-above the POOLED exact median and chi-square the
    resulting k x 2 contingency table — the fully rank-robust
    location test that stays valid when agg_anova_oneway's normality
    and agg_mann_whitney_u's two-sample restriction both fail. Ties
    at the median count as not-above (the classical convention);
    per-type rows expose which types sit high (a_t > e_t), with the
    grand chi2 and the pooled median repeated as columns.

    Shape at 100 TB: the pooled median comes from the distinct
    CENTS domain (~56k values regardless of row count) via the
    two-level bucketed cumulative sum (_domain_bucket — no
    single-partition window over the domain); the classification
    pass re-scans the fact table once against the broadcast 1-row
    median; the contingency table is a k-row map-side-combinable
    aggregate. Two fact scans total, both projection-pruned.

    Parity: cents are exact BIGINTs (the money discipline); the
    median is the min domain value whose exact cumulative count
    reaches ceil(N/2) (agg_exact_quantile_2pass's pinned rank
    convention); cell counts and marginals are exact integers; each
    type's two-cell chi2 term is one shared double expression
    quantized round(9) into DECIMAL before the order-independent
    sum (the agg_cramers_v discipline)."""

    ev = table(spark, sf_dir, "events")
    c = ev.select(
        "event_type", F.expr("CAST(value * 100 + 0.5 AS BIGINT)").alias("vc")
    )
    vt = _domain_bucket(
        c.groupBy(F.col("vc").alias("v")).agg(
            F.count("*").cast("bigint").alias("cnt")
        )
    ).localCheckpoint()
    tot = vt.agg(F.sum("cnt").cast("bigint").alias("n"))
    w_local = Window.partitionBy("bkt").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    bt = vt.groupBy("bkt").agg(F.sum("cnt").alias("b"))
    w_b = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, 0)
    before = bt.select(
        "bkt", (F.sum("b").over(w_b) - F.col("b")).alias("p")
    )
    cum = (
        vt.withColumn("l", F.sum("cnt").over(w_local))
        .join(F.broadcast(before), "bkt")
        .select("v", (F.col("p") + F.col("l")).alias("cc"))
    )
    med = (
        cum.crossJoin(F.broadcast(tot))
        .where(F.col("cc") >= F.expr("CAST(ceil(0.5 * n) AS BIGINT)"))
        .agg(F.min("v").alias("medc"))
    )
    g = (
        c.crossJoin(F.broadcast(med))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_t"),
            F.sum(F.expr("CASE WHEN vc > medc THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("a_t"),
        )
        .localCheckpoint()
    )
    tt = g.agg(
        F.sum("n_t").cast("bigint").alias("n"),
        F.sum("a_t").cast("bigint").alias("a"),
    )
    terms = g.crossJoin(F.broadcast(tt)).select(
        "event_type",
        "n_t",
        "a_t",
        F.expr("CAST(n_t AS DOUBLE) * a / n").alias("e_t"),
        F.expr(
            "CAST(round((a_t - CAST(n_t AS DOUBLE) * a / n)"
            " * (a_t - CAST(n_t AS DOUBLE) * a / n)"
            " / (CAST(n_t AS DOUBLE) * a / n)"
            " + ((n_t - a_t) - CAST(n_t AS DOUBLE) * (n - a) / n)"
            " * ((n_t - a_t) - CAST(n_t AS DOUBLE) * (n - a) / n)"
            " / (CAST(n_t AS DOUBLE) * (n - a) / n), 9) AS DECIMAL(28,9))"
        ).alias("term"),
    )
    chi = terms.agg(F.sum("term").cast("decimal(38,9)").alias("chi2"))
    return (
        terms.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(chi))
        .selectExpr(
            "event_type",
            "n_t AS n_events",
            "a_t AS n_above_median",
            "round(e_t, 6) AS expected_above",
            "round(CAST(medc AS DOUBLE) / 100.0, 6) AS grand_median",
            "round(CAST(chi2 AS DOUBLE), 6) AS mood_chi2",
        )
    )


# ---------------------------------------------------------------------------
# agg_levene_brown_forsythe
# ---------------------------------------------------------------------------


@query(
    "agg_levene_brown_forsythe",
    oracle="""
    WITH c AS (
      SELECT event_type,
             CAST(round(value * 100, 0) AS BIGINT) AS vc
      FROM events),
    vt AS (
      SELECT event_type, vc, CAST(count(*) AS BIGINT) AS cnt
      FROM c GROUP BY 1, 2),
    nt AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n_t
           FROM vt GROUP BY event_type),
    cum AS (
      SELECT event_type, vc,
             sum(cnt) OVER (PARTITION BY event_type ORDER BY vc
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
      FROM vt),
    med AS (
      SELECT cum.event_type, min(vc) AS medc
      FROM cum JOIN nt USING (event_type)
      WHERE cc >= CAST(ceil(0.5 * n_t) AS BIGINT)
      GROUP BY cum.event_type),
    z AS (
      SELECT c.event_type, abs(c.vc - med.medc) AS zc
      FROM c JOIN med USING (event_type)),
    g AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(zc) AS BIGINT) AS s,
             CAST(sum(CAST(zc AS DECIMAL(19,0)) * zc) AS DECIMAL(38,0)) AS q
      FROM z GROUP BY event_type),
    t AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n) AS BIGINT) AS nn,
             CAST(sum(CAST(s AS DECIMAL(19,0))) AS DECIMAL(19,0)) AS st,
             CAST(sum(q) AS DECIMAL(38,0)) AS qt,
             CAST(sum(CAST(round(
                 CAST(CAST(s AS DECIMAL(19,0)) * CAST(s AS DECIMAL(19,0))
                      AS DOUBLE) / n, 6) AS DECIMAL(28,6)))
                  AS DECIMAL(38,6)) AS b
      FROM g)
    SELECT k AS k_groups, nn AS n_events,
           round((CAST(b AS DOUBLE)
                  - CAST(st * st AS DOUBLE) / nn) / 10000.0, 6)
             AS ss_between,
           round((CAST(qt AS DOUBLE) - CAST(b AS DOUBLE)) / 10000.0, 6)
             AS ss_within,
           round(((CAST(b AS DOUBLE) - CAST(st * st AS DOUBLE) / nn)
                  / (k - 1))
                 / ((CAST(qt AS DOUBLE) - CAST(b AS DOUBLE)) / (nn - k)),
                 6) AS bf_stat
    FROM t
    """,
)
def agg_levene_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BROWN-FORSYTHE TEST (Levene's test with median centers) for
    variance homogeneity across event types: one-way ANOVA on the
    absolute deviations z = |x - median_group| — the assumption check
    that licenses agg_anova_oneway's pooled-variance F (heteroscedastic
    groups inflate its false-positive rate) and the robust
    spread-comparison in its own right (medians, not means, center
    the deviations, so heavy tails don't masquerade as variance
    differences). A large BF statistic says per-type spreads differ
    and downstream per-type z-score thresholds need per-type scales.

    Shape at 100 TB: per-type exact medians come from the (type,
    cents) DOMAIN (distinct-value counts + a per-type ordered cumsum
    over the bounded per-type cents domain — parallel across types,
    never a row-level sort); the deviation pass re-scans the fact
    table once against the broadcast k-row median table; the F
    assembles from ONE grouped moment aggregate via the
    sum-of-squares identity — agg_anova_oneway's exact machinery with
    z as the response.

    Parity: cents and medians are exact BIGINTs, so every deviation
    is an exact integer; group moments use the DECIMAL(19,0) square
    discipline; the per-group S^2/n terms quantize round(6) into
    DECIMAL before the sum; ss columns rescale to value^2 units
    (/10000) and the statistic is one shared double expression,
    round(6)."""
    ev = table(spark, sf_dir, "events")
    c = ev.select(
        "event_type", F.expr("CAST(value * 100 + 0.5 AS BIGINT)").alias("vc")
    )
    vt = c.groupBy("event_type", "vc").agg(
        F.count("*").cast("bigint").alias("cnt")
    ).localCheckpoint()
    nt = vt.groupBy("event_type").agg(
        F.sum("cnt").cast("bigint").alias("n_t")
    )
    w_cum = Window.partitionBy("event_type").orderBy("vc").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = vt.select(
        "event_type", "vc", F.sum("cnt").over(w_cum).alias("cc")
    )
    med = (
        cum.join(F.broadcast(nt), "event_type")
        .where(F.col("cc") >= F.expr("CAST(ceil(0.5 * n_t) AS BIGINT)"))
        .groupBy("event_type")
        .agg(F.min("vc").alias("medc"))
    )
    z = c.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("vc") - F.col("medc")).alias("zc")
    )
    g = z.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("zc").cast("bigint").alias("s"),
        F.sum(F.expr("CAST(zc AS DECIMAL(19,0)) * zc"))
        .cast("decimal(38,0)")
        .alias("q"),
    )
    t = g.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("nn"),
        F.sum(F.col("s").cast("decimal(19,0)")).cast("decimal(19,0)").alias("st"),
        F.sum("q").cast("decimal(38,0)").alias("qt"),
        F.sum(
            F.expr(
                "CAST(round(CAST(CAST(s AS DECIMAL(19,0))"
                " * CAST(s AS DECIMAL(19,0)) AS DOUBLE) / n, 6)"
                " AS DECIMAL(28,6))"
            )
        )
        .cast("decimal(38,6)")
        .alias("b"),
    )
    return t.selectExpr(
        "k AS k_groups",
        "nn AS n_events",
        "round((CAST(b AS DOUBLE) - CAST(st * st AS DOUBLE) / nn)"
        " / 10000.0, 6) AS ss_between",
        "round((CAST(qt AS DOUBLE) - CAST(b AS DOUBLE)) / 10000.0, 6)"
        " AS ss_within",
        "round(((CAST(b AS DOUBLE) - CAST(st * st AS DOUBLE) / nn)"
        " / (k - 1))"
        " / ((CAST(qt AS DOUBLE) - CAST(b AS DOUBLE)) / (nn - k)), 6)"
        " AS bf_stat",
    )


# ---------------------------------------------------------------------------
# agg_kruskal_wallis
# ---------------------------------------------------------------------------


@query(
    "agg_kruskal_wallis",
    oracle="""
    WITH c AS (
      SELECT event_type,
             CAST(round(value * 100, 0) AS BIGINT) AS vc
      FROM events),
    vt AS (
      SELECT vc, event_type, CAST(count(*) AS BIGINT) AS ct
      FROM c GROUP BY 1, 2),
    vv AS (SELECT vc, CAST(sum(ct) AS BIGINT) AS nv FROM vt GROUP BY vc),
    cum AS (
      SELECT vc, nv,
             CAST(coalesce(sum(nv) OVER (ORDER BY vc
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS less
      FROM vv),
    rs AS (
      SELECT vt.event_type,
             CAST(sum(vt.ct) AS BIGINT) AS n_t,
             CAST(sum(vt.ct * (2 * cum.less + cum.nv + 1)) AS BIGINT)
               AS rs2
      FROM vt JOIN cum USING (vc) GROUP BY vt.event_type),
    ties AS (
      SELECT CAST(sum(nv * nv * nv - nv) AS BIGINT) AS tie FROM vv),
    tot AS (
      SELECT CAST(sum(n_t) AS BIGINT) AS n,
             CAST(sum(CAST(round(
                 CAST(CAST(rs2 AS DECIMAL(19,0)) * rs2 AS DOUBLE) / n_t, 6)
                 AS DECIMAL(28,6))) AS DECIMAL(38,6)) AS sq
      FROM rs)
    SELECT rs.event_type, rs.n_t AS n_events, rs.rs2 AS rank_sum_x2,
           round(3.0 * CAST(tot.sq AS DOUBLE)
                 / (CAST(tot.n AS DOUBLE) * (tot.n + 1))
                 - 3.0 * (tot.n + 1), 6) AS h_stat,
           round((3.0 * CAST(tot.sq AS DOUBLE)
                  / (CAST(tot.n AS DOUBLE) * (tot.n + 1))
                  - 3.0 * (tot.n + 1))
                 / (1.0 - CAST(ties.tie AS DOUBLE)
                    / (CAST(tot.n AS DOUBLE) * tot.n * tot.n - tot.n)), 6)
             AS h_stat_tie_corrected
    FROM rs CROSS JOIN tot CROSS JOIN ties
    """,
)
def agg_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KRUSKAL-WALLIS H TEST across event types — the k-sample rank
    ANOVA completing the location-test ladder: agg_mann_whitney_u
    (2 samples, unblocked), agg_friedman_test (k samples, day-blocked),
    and now k samples unblocked with NO normality assumption (the
    robust alternative agg_anova_oneway's F needs when
    agg_levene_brown_forsythe vetoes it). Per-type rows carry the
    exact doubled rank sums; H and its tie-corrected form repeat as
    grand columns.

    Shape at 100 TB: ranks never exist per row — tied average ranks
    reconstruct as INTEGERS on the distinct-cents DOMAIN
    (R2 = 2*cum_less + n_v + 1, the agg_mann_whitney_u machinery
    generalized to k groups), so the one ordered cumsum runs over
    ~18k domain rows regardless of row count, and the per-type rank
    sums are a domain-sized join + aggregate.

    Parity: doubled rank sums are exact BIGINTs; their squares go
    through DECIMAL(19,0) operands; the per-type RS^2/n_t terms
    quantize round(6) into DECIMAL before the order-independent sum
    (the agg_anova_oneway b-term discipline; the /4 from doubling
    folds into the shared 3.0 factor: 12/4 = 3); the tie term
    sum(n_v^3 - n_v) stays BIGINT (bounded by N * max_multiplicity^2
    — measured multiplicities <= 37 at sf0.1; a DECIMAL widening is
    the documented switch if a corpus ever pushes it). H assembles
    in one shared double expression, round(6)."""
    ev = table(spark, sf_dir, "events")
    c = ev.select(
        "event_type", F.expr("CAST(value * 100 + 0.5 AS BIGINT)").alias("vc")
    )
    vt = c.groupBy("vc", "event_type").agg(
        F.count("*").cast("bigint").alias("ct")
    ).localCheckpoint()
    vv = vt.groupBy("vc").agg(F.sum("ct").cast("bigint").alias("nv"))
    w_less = Window.orderBy("vc").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = vv.select(
        "vc",
        "nv",
        F.coalesce(F.sum("nv").over(w_less), F.lit(0))
        .cast("bigint")
        .alias("less"),
    )
    rs = (
        vt.join(cum, "vc")
        .groupBy("event_type")
        .agg(
            F.sum("ct").cast("bigint").alias("n_t"),
            F.sum(
                F.col("ct") * (2 * F.col("less") + F.col("nv") + 1)
            )
            .cast("bigint")
            .alias("rs2"),
        )
    )
    ties = vv.agg(
        F.sum(
            F.col("nv") * F.col("nv") * F.col("nv") - F.col("nv")
        )
        .cast("bigint")
        .alias("tie")
    )
    tot = rs.agg(
        F.sum("n_t").cast("bigint").alias("n"),
        F.sum(
            F.expr(
                "CAST(round(CAST(CAST(rs2 AS DECIMAL(19,0)) * rs2"
                " AS DOUBLE) / n_t, 6) AS DECIMAL(28,6))"
            )
        )
        .cast("decimal(38,6)")
        .alias("sq"),
    )
    return (
        rs.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ties))
        .selectExpr(
            "event_type",
            "n_t AS n_events",
            "rs2 AS rank_sum_x2",
            "round(3.0 * CAST(sq AS DOUBLE)"
            " / (CAST(n AS DOUBLE) * (n + 1)) - 3.0 * (n + 1), 6)"
            " AS h_stat",
            "round((3.0 * CAST(sq AS DOUBLE)"
            " / (CAST(n AS DOUBLE) * (n + 1)) - 3.0 * (n + 1))"
            " / (1.0 - CAST(tie AS DOUBLE)"
            " / (CAST(n AS DOUBLE) * n * n - n)), 6)"
            " AS h_stat_tie_corrected",
        )
    )


# ---------------------------------------------------------------------------
# agg_cochran_q
# ---------------------------------------------------------------------------

# Third deterministic weak labeler for the k-labeler design: sentence
# count (period-split), imperfectly correlated with A (characters) and
# B (whitespace tokens) — three REAL proxies of the same latent
# "short document" judgment.
_ANN_C_DUCK = "CASE WHEN len(string_split(text, '.')) < 4 THEN 1 ELSE 0 END"
_ANN_C_SPARK = "CASE WHEN size(split(text, '\\\\.')) < 4 THEN 1 ELSE 0 END"


@query(
    "agg_cochran_q",
    oracle=f"""
    WITH lab AS (
      SELECT CASE WHEN {_ANN_A} = 'short' THEN 1 ELSE 0 END AS a,
             CASE WHEN {_ANN_B_DUCK} = 'short' THEN 1 ELSE 0 END AS b,
             {_ANN_C_DUCK} AS c
      FROM documents),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(a) AS BIGINT) AS ga,
             CAST(sum(b) AS BIGINT) AS gb,
             CAST(sum(c) AS BIGINT) AS gc,
             CAST(sum(a + b + c) AS BIGINT) AS su,
             CAST(sum((a + b + c) * (a + b + c)) AS BIGINT) AS su2
      FROM lab)
    SELECT n AS n_docs, ga AS short_by_a, gb AS short_by_b,
           gc AS short_by_c,
           round(2.0 * (3.0 * (CAST(ga AS DOUBLE) * ga
                               + CAST(gb AS DOUBLE) * gb
                               + CAST(gc AS DOUBLE) * gc)
                        - CAST(su AS DOUBLE) * su)
                 / (3.0 * su - su2), 6) AS cochran_q
    FROM s
    """,
)
def agg_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COCHRAN'S Q TEST across THREE weak binary labelers (characters,
    whitespace tokens, sentence count — module constants shared with
    pipeline_annotation_agreement / agg_mcnemar_test): do the k
    labelers call 'short' at the same marginal rate? The k-labeler
    generalization of McNemar (k = 2 reduces to it exactly):
    Q = k(k-1) (sum_j G_j^2 - (sum G)^2 / k... assembled in the
    equivalent k(k-1)*(k*sum G_j^2 - (sum G)^2) / (k*sum u_i -
    sum u_i^2) form) ~ chi^2(k-1) under exchangeable labelers. A
    labeling pipeline adding a third heuristic source runs exactly
    this before pooling votes — McNemar only compares two at a time.

    Shape at 100 TB: one scan, one 1-row aggregate over three CASE
    flags and their per-doc sum. Nothing else.

    Parity: all six sufficient statistics are exact integers from
    identical CASE text; Q is one shared double expression
    (k = 3 folds into the literals: k(k-1) = 6 = 2*3), round(6)."""
    d = table(spark, sf_dir, "documents")
    lab = d.selectExpr(
        f"CASE WHEN {_ANN_A} = 'short' THEN 1 ELSE 0 END AS a",
        f"CASE WHEN {_ANN_B_SPARK} = 'short' THEN 1 ELSE 0 END AS b",
        f"{_ANN_C_SPARK} AS c",
    )
    s = lab.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("a").cast("bigint").alias("ga"),
        F.sum("b").cast("bigint").alias("gb"),
        F.sum("c").cast("bigint").alias("gc"),
        F.sum(F.expr("a + b + c")).cast("bigint").alias("su"),
        F.sum(F.expr("(a + b + c) * (a + b + c)"))
        .cast("bigint")
        .alias("su2"),
    )
    return s.selectExpr(
        "n AS n_docs",
        "ga AS short_by_a",
        "gb AS short_by_b",
        "gc AS short_by_c",
        "round(2.0 * (3.0 * (CAST(ga AS DOUBLE) * ga"
        " + CAST(gb AS DOUBLE) * gb"
        " + CAST(gc AS DOUBLE) * gc)"
        " - CAST(su AS DOUBLE) * su)"
        " / (3.0 * su - su2), 6) AS cochran_q",
    )


# ---------------------------------------------------------------------------
# agg_dunn_posthoc
# ---------------------------------------------------------------------------

# Bonferroni-adjusted two-sided critical value for k = 5 groups
# (10 comparisons) at family alpha = 0.05: Phi^-1(1 - 0.05/20).
_DUNN_ZCRIT = "CAST(2.807034 AS DOUBLE)"


@query(
    "agg_dunn_posthoc",
    oracle=f"""
    WITH c AS (
      SELECT event_type,
             CAST(round(value * 100, 0) AS BIGINT) AS vc
      FROM events),
    vt AS (
      SELECT vc, event_type, CAST(count(*) AS BIGINT) AS ct
      FROM c GROUP BY 1, 2),
    vv AS (SELECT vc, CAST(sum(ct) AS BIGINT) AS nv FROM vt GROUP BY vc),
    cum AS (
      SELECT vc, nv,
             CAST(coalesce(sum(nv) OVER (ORDER BY vc
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS less
      FROM vv),
    rs AS (
      SELECT vt.event_type,
             CAST(sum(vt.ct) AS BIGINT) AS n_t,
             CAST(sum(vt.ct * (2 * cum.less + cum.nv + 1)) AS BIGINT)
               AS rs2
      FROM vt JOIN cum USING (vc) GROUP BY vt.event_type),
    ties AS (
      SELECT CAST(sum(nv * nv * nv - nv) AS BIGINT) AS tie FROM vv),
    tot AS (SELECT CAST(sum(n_t) AS BIGINT) AS n FROM rs),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             a.n_t AS na, b.n_t AS nb, a.rs2 AS ra, b.rs2 AS rb
      FROM rs a JOIN rs b ON a.event_type < b.event_type)
    SELECT pairs.type_a, pairs.type_b,
           pairs.na AS n_a, pairs.nb AS n_b,
           round(CAST(pairs.ra AS DOUBLE) / (2 * pairs.na), 6)
             AS mean_rank_a,
           round(CAST(pairs.rb AS DOUBLE) / (2 * pairs.nb), 6)
             AS mean_rank_b,
           round((CAST(pairs.ra AS DOUBLE) / (2 * pairs.na)
                  - CAST(pairs.rb AS DOUBLE) / (2 * pairs.nb))
                 / sqrt((CAST(tot.n AS DOUBLE) * (tot.n + 1) / 12
                         - CAST(ties.tie AS DOUBLE) / (12 * (tot.n - 1)))
                        * (CAST(1 AS DOUBLE) / pairs.na
                           + CAST(1 AS DOUBLE) / pairs.nb)), 6)
             AS dunn_z,
           CAST(CASE WHEN abs(round((CAST(pairs.ra AS DOUBLE)
                                     / (2 * pairs.na)
                  - CAST(pairs.rb AS DOUBLE) / (2 * pairs.nb))
                 / sqrt((CAST(tot.n AS DOUBLE) * (tot.n + 1) / 12
                         - CAST(ties.tie AS DOUBLE) / (12 * (tot.n - 1)))
                        * (CAST(1 AS DOUBLE) / pairs.na
                           + CAST(1 AS DOUBLE) / pairs.nb)), 6))
                          >= {_DUNN_ZCRIT}
                     THEN 1 ELSE 0 END AS BIGINT) AS significant
    FROM pairs CROSS JOIN tot CROSS JOIN ties
    """,
)
def agg_dunn_posthoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DUNN'S POST-HOC TEST for every event-type pair — the follow-up
    agg_kruskal_wallis licenses: the omnibus H only says SOME types
    differ; Dunn's tie-corrected pairwise z on mean ranks, with the
    Bonferroni-adjusted critical value for 10 comparisons, says WHICH
    (running unadjusted pairwise Mann-Whitney tests after an omnibus
    is the classic multiplicity mistake this op exists to prevent).
    Output: one row per unordered pair with both mean ranks, z, and
    the family-wise significance flag.

    Shape at 100 TB: identical domain machinery to agg_kruskal_wallis
    (exact doubled rank sums on the distinct-cents domain — ranks
    never exist per row); the pair frame is k(k-1)/2 rows of scalar
    arithmetic.

    Parity: rank sums, group sizes, and the tie term are exact
    integers; mean ranks and z are shared-text double expressions of
    exact integers; z quantizes round(6) BEFORE the critical-value
    comparison so the flag cannot flip on sub-ulp drift (the
    agg_tost_equivalence discipline)."""
    ev = table(spark, sf_dir, "events")
    c = ev.select(
        "event_type", F.expr("CAST(value * 100 + 0.5 AS BIGINT)").alias("vc")
    )
    vt = c.groupBy("vc", "event_type").agg(
        F.count("*").cast("bigint").alias("ct")
    ).localCheckpoint()
    vv = vt.groupBy("vc").agg(F.sum("ct").cast("bigint").alias("nv"))
    w_less = Window.orderBy("vc").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = vv.select(
        "vc",
        "nv",
        F.coalesce(F.sum("nv").over(w_less), F.lit(0))
        .cast("bigint")
        .alias("less"),
    )
    rs = (
        vt.join(cum, "vc")
        .groupBy("event_type")
        .agg(
            F.sum("ct").cast("bigint").alias("n_t"),
            F.sum(F.col("ct") * (2 * F.col("less") + F.col("nv") + 1))
            .cast("bigint")
            .alias("rs2"),
        )
    )
    ties = vv.agg(
        F.sum(F.col("nv") * F.col("nv") * F.col("nv") - F.col("nv"))
        .cast("bigint")
        .alias("tie")
    )
    tot = rs.agg(F.sum("n_t").cast("bigint").alias("n"))
    a = rs.select(
        F.col("event_type").alias("type_a"),
        F.col("n_t").alias("na"),
        F.col("rs2").alias("ra"),
    )
    b = rs.select(
        F.col("event_type").alias("type_b"),
        F.col("n_t").alias("nb"),
        F.col("rs2").alias("rb"),
    )
    pairs = a.join(b, F.col("type_a") < F.col("type_b"))
    z_expr = (
        "(CAST(ra AS DOUBLE) / (2 * na)"
        " - CAST(rb AS DOUBLE) / (2 * nb))"
        " / sqrt((CAST(n AS DOUBLE) * (n + 1) / 12"
        " - CAST(tie AS DOUBLE) / (12 * (n - 1)))"
        " * (CAST(1 AS DOUBLE) / na + CAST(1 AS DOUBLE) / nb))"
    )
    return (
        pairs.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ties))
        .selectExpr(
            "type_a",
            "type_b",
            "na AS n_a",
            "nb AS n_b",
            "round(CAST(ra AS DOUBLE) / (2 * na), 6) AS mean_rank_a",
            "round(CAST(rb AS DOUBLE) / (2 * nb), 6) AS mean_rank_b",
            f"round({z_expr}, 6) AS dunn_z",
            f"CAST(CASE WHEN abs(round({z_expr}, 6)) >= {_DUNN_ZCRIT}"
            " THEN 1 ELSE 0 END AS BIGINT) AS significant",
        )
    )


# ---------------------------------------------------------------------------
# agg_page_trend_test
# ---------------------------------------------------------------------------


@query(
    "agg_page_trend_test",
    oracle="""
    WITH cell AS (
      SELECT CAST(ts AS DATE) AS day, event_type,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS tot
      FROM events GROUP BY 1, 2),
    kk AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS k
           FROM events),
    fb AS (
      SELECT day FROM cell GROUP BY day
      HAVING count(*) = (SELECT k FROM kk)),
    r AS (
      SELECT c.day, c.event_type,
             CAST(row_number() OVER (PARTITION BY c.day
                                     ORDER BY c.tot, c.event_type)
                  AS BIGINT) AS rk
      FROM cell c JOIN fb USING (day)),
    ord AS (
      SELECT event_type,
             CAST(row_number() OVER (ORDER BY event_type) AS BIGINT) AS cj
      FROM (SELECT DISTINCT event_type FROM cell) t),
    rs AS (
      SELECT r.event_type, ord.cj,
             CAST(sum(r.rk) AS BIGINT) AS rank_sum,
             CAST(count(*) AS BIGINT) AS nb
      FROM r JOIN ord USING (event_type) GROUP BY 1, 2),
    l AS (
      SELECT CAST(sum(cj * rank_sum) AS BIGINT) AS lstat,
             CAST(max(nb) AS BIGINT) AS b,
             CAST(count(*) AS BIGINT) AS k
      FROM rs)
    SELECT rs.event_type, rs.cj AS hypothesized_rank, rs.rank_sum,
           l.lstat AS page_l,
           round((l.lstat - CAST(l.b AS DOUBLE) * l.k * (l.k + 1)
                            * (l.k + 1) / 4)
                 / sqrt(CAST(l.b AS DOUBLE) * l.k * l.k * (l.k + 1)
                        * (l.k * l.k - 1) / 144), 6) AS page_z
    FROM rs CROSS JOIN l
    """,
)
def agg_page_trend_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAGE'S L TEST for ordered alternatives in the day-blocked
    design: agg_friedman_test asks "do the event types differ at
    all?"; Page's L asks the sharper monotone question — do the
    within-day rank sums INCREASE along a pre-specified type ordering
    (here the alphabetical order, fixed a priori; any hypothesized
    ordering slots into the cj column)? L = sum_j c_j R_j with its
    exact normal standardization. When a trend direction is
    hypothesized, Page's L has strictly more power than the omnibus
    Friedman Q — the difference between detecting "something differs"
    and "engagement escalates along the funnel".

    Shape at 100 TB: identical to agg_friedman_test — one
    map-side-combinable groupBy collapses the fact table to the
    day x type grid; ranking windows run over k-row day partitions;
    L lives on the k-row rank-sum frame.

    Parity: day-cell totals are exact integer cents, so within-day
    ranks are deterministic integer row_numbers (ties break on the
    type name identically); the hypothesized ranks come from one
    row_number over the distinct type domain; L is an exact integer
    and z is one shared double expression, round(6)."""
    ev = table(spark, sf_dir, "events")
    cell = ev.groupBy(
        F.col("ts").cast("date").alias("day"), "event_type"
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
    w = Window.partitionBy("day").orderBy("tot", "event_type")
    r = cell.join(F.broadcast(fb), "day").select(
        "event_type", F.row_number().over(w).cast("bigint").alias("rk")
    )
    w_ord = Window.orderBy("event_type")
    ordx = (
        cell.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.row_number().over(w_ord).cast("bigint").alias("cj"),
        )
    )
    rs = (
        r.join(F.broadcast(ordx), "event_type")
        .groupBy("event_type", "cj")
        .agg(
            F.sum("rk").cast("bigint").alias("rank_sum"),
            F.count("*").cast("bigint").alias("nb"),
        )
    )
    l = rs.agg(
        F.sum(F.col("cj") * F.col("rank_sum")).cast("bigint").alias("lstat"),
        F.max("nb").cast("bigint").alias("b"),
        F.count("*").cast("bigint").alias("k"),
    )
    return rs.crossJoin(F.broadcast(l)).selectExpr(
        "event_type",
        "cj AS hypothesized_rank",
        "rank_sum",
        "lstat AS page_l",
        "round((lstat - CAST(b AS DOUBLE) * k * (k + 1) * (k + 1) / 4)"
        " / sqrt(CAST(b AS DOUBLE) * k * k * (k + 1)"
        " * (k * k - 1) / 144), 6) AS page_z",
    )


# ---------------------------------------------------------------------------
# agg_jonckheere_terpstra
# ---------------------------------------------------------------------------


@query(
    "agg_jonckheere_terpstra",
    oracle="""
    WITH c AS (
      SELECT event_type,
             CAST(round(value * 100, 0) AS BIGINT) AS vc
      FROM events),
    vt AS (
      SELECT event_type, vc, CAST(count(*) AS BIGINT) AS ct
      FROM c GROUP BY 1, 2),
    dom AS (SELECT DISTINCT vc FROM vt),
    types AS (SELECT DISTINCT event_type FROM vt),
    grid AS (
      SELECT t.event_type, d.vc,
             CAST(coalesce(vt.ct, 0) AS BIGINT) AS ct
      FROM types t CROSS JOIN dom d
      LEFT JOIN vt ON vt.event_type = t.event_type AND vt.vc = d.vc),
    cum AS (
      SELECT event_type, vc, ct,
             CAST(sum(ct) OVER (PARTITION BY event_type ORDER BY vc
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - ct
               AS BIGINT) AS less
      FROM grid),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(sum(b.ct * (2 * a.less + a.ct)) AS BIGINT) AS u2
      FROM cum a JOIN cum b
        ON a.vc = b.vc AND a.event_type < b.event_type
      GROUP BY 1, 2),
    nt AS (SELECT event_type, CAST(sum(ct) AS BIGINT) AS n
           FROM vt GROUP BY event_type),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn,
             CAST(sum(n * n) AS BIGINT) AS sn2,
             CAST(sum(CAST(n AS DECIMAL(19,0)) * n * (2 * n + 3))
                  AS DECIMAL(38,0)) AS sn23
      FROM nt),
    j AS (SELECT CAST(sum(u2) AS BIGINT) AS j2 FROM pairs)
    SELECT pairs.type_a, pairs.type_b, pairs.u2 AS u_x2,
           j.j2 AS j_stat_x2,
           round((CAST(j.j2 AS DOUBLE) / 2
                  - (CAST(tot.nn AS DOUBLE) * tot.nn - tot.sn2) / 4)
                 / sqrt((CAST(tot.nn AS DOUBLE) * tot.nn * (2 * tot.nn + 3)
                         - CAST(tot.sn23 AS DOUBLE)) / 72), 6) AS jt_z
    FROM pairs CROSS JOIN j CROSS JOIN tot
    """,
)
def agg_jonckheere_terpstra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JONCKHEERE-TERPSTRA TEST for an ordered alternative across
    event types (alphabetical a-priori ordering, as in
    agg_page_trend_test): J sums the pairwise Mann-Whitney counts
    over every ordered type pair — the unblocked sibling of Page's L
    and the trend-sharpened version of agg_kruskal_wallis. Doubled
    counting (2*strictly-less + ties) keeps J an exact integer with
    ties at half weight; the z standardization uses the classical
    no-ties moments (the docstring-level approximation: with ~37 max
    multiplicity on an 18k-value domain the tie correction moves z in
    the 4th decimal; J itself is exact).

    Shape at 100 TB: the pairwise counts NEVER enumerate pairs — the
    (type x distinct-cents) grid is DENSIFIED (types cross join the
    value domain, the agg_cramers_v move) so each type's cumulative
    count is defined at EVERY domain value, and each ordered pair's U
    is one equi-join on the value key + aggregate. Everything is
    domain-sized; the fact table is touched once.

    Parity: all counts, cumulative counts, and U's are exact
    integers; the n^2(2n+3) variance pieces go through DECIMAL(19,0)
    operands; z is one shared double expression, round(6)."""
    ev = table(spark, sf_dir, "events")
    c = ev.select(
        "event_type", F.expr("CAST(value * 100 + 0.5 AS BIGINT)").alias("vc")
    )
    vt = (
        c.groupBy("event_type", "vc")
        .agg(F.count("*").cast("bigint").alias("ct"))
        .localCheckpoint()
    )
    dom = vt.select("vc").distinct()
    types = vt.select("event_type").distinct()
    grid = (
        types.crossJoin(dom)
        .join(vt, ["event_type", "vc"], "left")
        .select(
            "event_type",
            "vc",
            F.coalesce(F.col("ct"), F.lit(0)).cast("bigint").alias("ct"),
        )
    )
    w_cum = Window.partitionBy("event_type").orderBy("vc").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = grid.select(
        "event_type",
        "vc",
        "ct",
        (F.sum("ct").over(w_cum) - F.col("ct"))
        .cast("bigint")
        .alias("less"),
    ).localCheckpoint()
    a = cum.select(
        F.col("event_type").alias("type_a"),
        "vc",
        F.col("ct").alias("cta"),
        F.col("less").alias("lessa"),
    )
    b = cum.select(
        F.col("event_type").alias("type_b"),
        "vc",
        F.col("ct").alias("ctb"),
    )
    pairs = (
        a.join(b, "vc")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.sum(F.col("ctb") * (2 * F.col("lessa") + F.col("cta")))
            .cast("bigint")
            .alias("u2")
        )
    )
    nt = vt.groupBy("event_type").agg(
        F.sum("ct").cast("bigint").alias("n")
    )
    tot = nt.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.sum(F.col("n") * F.col("n")).cast("bigint").alias("sn2"),
        F.sum(F.expr("CAST(n AS DECIMAL(19,0)) * n * (2 * n + 3)"))
        .cast("decimal(38,0)")
        .alias("sn23"),
    )
    j = pairs.agg(F.sum("u2").cast("bigint").alias("j2"))
    return (
        pairs.crossJoin(F.broadcast(j))
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "type_a",
            "type_b",
            "u2 AS u_x2",
            "j2 AS j_stat_x2",
            "round((CAST(j2 AS DOUBLE) / 2"
            " - (CAST(nn AS DOUBLE) * nn - sn2) / 4)"
            " / sqrt((CAST(nn AS DOUBLE) * nn * (2 * nn + 3)"
            " - CAST(sn23 AS DOUBLE)) / 72), 6) AS jt_z",
        )
    )


# ---------------------------------------------------------------------------
# agg_bartlett_test
# ---------------------------------------------------------------------------


@query(
    "agg_bartlett_test",
    oracle="""
    WITH c AS (
      SELECT event_type,
             CAST(round(value * 100, 0) AS BIGINT) AS vc
      FROM events),
    g AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(vc) AS BIGINT) AS s,
             CAST(sum(CAST(vc AS DECIMAL(19,0)) * vc) AS DECIMAL(38,0)) AS q
      FROM c GROUP BY event_type),
    v AS (
      SELECT event_type, n,
             (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1)
               AS s2
      FROM g),
    t AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n) AS BIGINT) AS nn,
             CAST(sum(CAST(round((n - 1) * s2, 6) AS DECIMAL(28,6)))
                  AS DECIMAL(38,6)) AS pooled_num,
             CAST(sum(CAST(round((n - 1) * ln(s2), 9) AS DECIMAL(28,9)))
                  AS DECIMAL(38,9)) AS sum_ln,
             CAST(sum(CAST(round(CAST(1 AS DOUBLE) / (n - 1), 9)
                           AS DECIMAL(28,9))) AS DECIMAL(38,9)) AS sum_inv
      FROM v)
    SELECT v.event_type, v.n AS n_events,
           round(v.s2 / 10000.0, 6) AS group_variance,
           round(((CAST(t.nn AS DOUBLE) - t.k)
                  * ln(CAST(t.pooled_num AS DOUBLE) / (t.nn - t.k))
                  - CAST(t.sum_ln AS DOUBLE))
                 / (1.0 + (CAST(t.sum_inv AS DOUBLE)
                           - 1.0 / (t.nn - t.k)) / (3.0 * (t.k - 1))), 6)
             AS bartlett_stat
    FROM v CROSS JOIN t
    """,
)
def agg_bartlett_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BARTLETT'S TEST for variance homogeneity across event types —
    the normal-theory companion to agg_levene_brown_forsythe: more
    powerful when the data really are near-normal, notoriously
    fragile when they are not (running both and comparing is itself
    the diagnostic: Bartlett rejecting while Brown-Forsythe does not
    is a kurtosis signature, not a variance difference). Per-type
    rows carry the unbiased group variances (value^2 units); the
    corrected statistic repeats as a grand column.

    Shape at 100 TB: ONE map-side-combinable grouped moment scan
    (the agg_anova_oneway pass verbatim); everything after is k-row
    arithmetic.

    Parity: cents moments are exact (DECIMAL(19,0) squares); each
    group variance is a shared double expression of exact integers;
    the three k-term sums quantize round(6)/round(9) into DECIMAL
    before their order-independent additions; ln is applied to
    identical doubles (cents^2 scale — the scale constant cancels
    exactly in the statistic because sum(n_i - 1) ln c == (N - k)
    ln c). One shared final expression, round(6)."""
    ev = table(spark, sf_dir, "events")
    c = ev.select(
        "event_type", F.expr("CAST(value * 100 + 0.5 AS BIGINT)").alias("vc")
    )
    g = c.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("vc").cast("bigint").alias("s"),
        F.sum(F.expr("CAST(vc AS DECIMAL(19,0)) * vc"))
        .cast("decimal(38,0)")
        .alias("q"),
    )
    v = g.selectExpr(
        "event_type",
        "n",
        "(CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1) AS s2",
    ).localCheckpoint()
    t = v.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("nn"),
        F.sum(F.expr("CAST(round((n - 1) * s2, 6) AS DECIMAL(28,6))"))
        .cast("decimal(38,6)")
        .alias("pooled_num"),
        F.sum(F.expr("CAST(round((n - 1) * ln(s2), 9) AS DECIMAL(28,9))"))
        .cast("decimal(38,9)")
        .alias("sum_ln"),
        F.sum(
            F.expr(
                "CAST(round(CAST(1 AS DOUBLE) / (n - 1), 9)"
                " AS DECIMAL(28,9))"
            )
        )
        .cast("decimal(38,9)")
        .alias("sum_inv"),
    )
    return v.crossJoin(F.broadcast(t)).selectExpr(
        "event_type",
        "n AS n_events",
        "round(s2 / 10000.0, 6) AS group_variance",
        "round(((CAST(nn AS DOUBLE) - k)"
        " * ln(CAST(pooled_num AS DOUBLE) / (nn - k))"
        " - CAST(sum_ln AS DOUBLE))"
        " / (1.0 + (CAST(sum_inv AS DOUBLE)"
        " - 1.0 / (nn - k)) / (3.0 * (k - 1))), 6) AS bartlett_stat",
    )


# ---------------------------------------------------------------------------
# agg_contingency_gtest
# ---------------------------------------------------------------------------


@query(
    "agg_contingency_gtest",
    oracle="""
    WITH o AS (
      SELECT lang, source, CAST(count(*) AS BIGINT) AS obs
      FROM documents GROUP BY 1, 2),
    rt AS (SELECT lang, CAST(sum(obs) AS BIGINT) AS r FROM o GROUP BY lang),
    ct AS (SELECT source, CAST(sum(obs) AS BIGINT) AS c
           FROM o GROUP BY source),
    n AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM o),
    cells AS (
      SELECT o.obs,
             CAST(round(o.obs * ln(CAST(o.obs AS DOUBLE) * n.n
                                   / (CAST(rt.r AS DOUBLE) * ct.c)), 9)
                  AS DECIMAL(28,9)) AS term
      FROM o JOIN rt USING (lang) JOIN ct USING (source) CROSS JOIN n),
    g AS (
      SELECT CAST(sum(term) AS DECIMAL(38,9)) AS gsum FROM cells),
    dims AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM rt) AS r,
             (SELECT CAST(count(*) AS BIGINT) FROM ct) AS c)
    SELECT n.n AS n_docs, dims.r AS n_langs, dims.c AS n_sources,
           (dims.r - 1) * (dims.c - 1) AS df,
           round(2.0 * CAST(g.gsum AS DOUBLE), 6) AS g_stat
    FROM g CROSS JOIN dims CROSS JOIN n
    """,
)
def agg_contingency_gtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKELIHOOD-RATIO G-TEST of language x source independence:
    G = 2 sum O ln(O/E) on the observed cells — the
    information-theoretic twin of agg_chi_square_independence (G is
    exactly 2N times the mutual information in nats, linking this to
    agg_mutual_information), preferred when any O/E ratio is large
    (chi-square's quadratic approximation degrades exactly where G
    stays exact). Unlike the chi-square/Cramér's-V pair, EMPTY cells
    contribute ZERO to G (O ln O -> 0), so the observed-cells join is
    the CORRECT grid here — the densification note on agg_cramers_v
    documents the opposite convention and why each is right for its
    statistic.

    Shape at 100 TB: one (lang, source) groupBy collapses the corpus
    to the bounded grid; marginals and the term sum are grid-row
    arithmetic. One-row output.

    Parity: observed counts and marginals exact integers; each cell
    term is one shared double expression (ln of a ratio of exact-
    integer products) quantized round(9) into DECIMAL before the
    order-independent sum; G renders once, round(6)."""
    docs = table(spark, sf_dir, "documents")
    o = docs.groupBy("lang", "source").agg(
        F.count("*").cast("bigint").alias("obs")
    )
    rt = o.groupBy("lang").agg(F.sum("obs").cast("bigint").alias("r"))
    ct = o.groupBy("source").agg(F.sum("obs").cast("bigint").alias("c"))
    n = o.agg(F.sum("obs").cast("bigint").alias("n"))
    cells = (
        o.join(F.broadcast(rt), "lang")
        .join(F.broadcast(ct), "source")
        .crossJoin(F.broadcast(n))
        .select(
            F.expr(
                "CAST(round(obs * ln(CAST(obs AS DOUBLE) * n"
                " / (CAST(r AS DOUBLE) * c)), 9) AS DECIMAL(28,9))"
            ).alias("term")
        )
    )
    g = cells.agg(F.sum("term").cast("decimal(38,9)").alias("gsum"))
    dims = rt.agg(F.count("*").cast("bigint").alias("r")).crossJoin(
        ct.agg(F.count("*").cast("bigint").alias("c"))
    )
    return (
        g.crossJoin(F.broadcast(dims))
        .crossJoin(F.broadcast(n))
        .selectExpr(
            "n AS n_docs",
            "r AS n_langs",
            "c AS n_sources",
            "(r - 1) * (c - 1) AS df",
            "round(2.0 * CAST(gsum AS DOUBLE), 6) AS g_stat",
        )
    )


# ---------------------------------------------------------------------------
# agg_cohen_h_effect
# ---------------------------------------------------------------------------


@query(
    "agg_cohen_h_effect",
    oracle="""
    WITH ut AS (SELECT DISTINCT event_type, user_id FROM events),
    conv AS (SELECT user_id FROM events WHERE event_type = 'purchase'
             GROUP BY user_id HAVING count(*) >= 12),
    g AS (
      SELECT ut.event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS x
      FROM ut LEFT JOIN conv c ON ut.user_id = c.user_id
      WHERE ut.event_type IN ('view', 'click')
      GROUP BY ut.event_type),
    w AS (
      SELECT max(CASE WHEN event_type = 'view' THEN n END) AS n1,
             max(CASE WHEN event_type = 'view' THEN x END) AS x1,
             max(CASE WHEN event_type = 'click' THEN n END) AS n2,
             max(CASE WHEN event_type = 'click' THEN x END) AS x2
      FROM g),
    phi AS (
      SELECT n1, x1, n2, x2,
             CAST(round(asin(sqrt(CAST(x1 AS DOUBLE) / n1)), 9)
                  AS DECIMAL(18,9)) AS a1,
             CAST(round(asin(sqrt(CAST(x2 AS DOUBLE) / n2)), 9)
                  AS DECIMAL(18,9)) AS a2
      FROM w)
    SELECT CAST(n1 AS BIGINT) AS n_view, CAST(x1 AS BIGINT) AS conv_view,
           CAST(n2 AS BIGINT) AS n_click, CAST(x2 AS BIGINT) AS conv_click,
           round(CAST(x1 AS DOUBLE) / n1, 6) AS p_view,
           round(CAST(x2 AS DOUBLE) / n2, 6) AS p_click,
           round(CAST(2 * (a1 - a2) AS DOUBLE), 6) AS cohen_h,
           CASE WHEN abs(CAST(2 * (a1 - a2) AS DOUBLE)) < 0.2 THEN 'negligible'
                WHEN abs(CAST(2 * (a1 - a2) AS DOUBLE)) < 0.5 THEN 'small'
                WHEN abs(CAST(2 * (a1 - a2) AS DOUBLE)) < 0.8 THEN 'medium'
                ELSE 'large' END AS magnitude
    FROM phi
    """,
)
def agg_cohen_h_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHEN'S h EFFECT SIZE for the view-vs-click conversion gap:
    h = 2 asin sqrt(p1) - 2 asin sqrt(p2), the variance-stabilized
    difference of proportions — the number the significance pair
    (agg_two_proportion_ztest, agg_tost_equivalence) deliberately
    does not report: at 100 TB every difference is "significant"
    (z scales with sqrt n), and h is the sample-size-free magnitude
    a launch decision actually weighs, with Cohen's conventional
    0.2/0.5/0.8 bands as the magnitude column.

    Shape at 100 TB: identical to agg_two_proportion_ztest — two
    map-side distinct passes, one LEFT join, 1-row arithmetic.

    Parity: cohort counts exact; each arcsine term quantizes
    round(9) into DECIMAL so h is an exact decimal difference (the
    asin inputs are correctly-rounded doubles of exact rationals;
    cross-libm asin drift is sub-ulp ~ 1e-16, eleven orders below
    the 1e-9 quantum except within 1e-16 of a grid boundary — the
    agg_theil_index boundary argument); the magnitude CASE reads the
    same exact decimal on both engines."""
    ev = table(spark, sf_dir, "events")
    ut = (
        ev.select("event_type", "user_id")
        .where(F.col("event_type").isin("view", "click"))
        .distinct()
    )
    conv = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count("*").alias("np"))
        .where(F.col("np") >= 12)
        .select("user_id", F.lit(1).alias("cv"))
    )
    g = (
        ut.join(conv, "user_id", "left")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.coalesce(F.col("cv"), F.lit(0)))
            .cast("bigint")
            .alias("x"),
        )
    )
    w = g.agg(
        F.max(F.when(F.col("event_type") == "view", F.col("n"))).alias("n1"),
        F.max(F.when(F.col("event_type") == "view", F.col("x"))).alias("x1"),
        F.max(F.when(F.col("event_type") == "click", F.col("n"))).alias("n2"),
        F.max(F.when(F.col("event_type") == "click", F.col("x"))).alias("x2"),
    )
    phi = w.selectExpr(
        "n1",
        "x1",
        "n2",
        "x2",
        "CAST(round(asin(sqrt(CAST(x1 AS DOUBLE) / n1)), 9)"
        " AS DECIMAL(18,9)) AS a1",
        "CAST(round(asin(sqrt(CAST(x2 AS DOUBLE) / n2)), 9)"
        " AS DECIMAL(18,9)) AS a2",
    )
    return phi.selectExpr(
        "CAST(n1 AS BIGINT) AS n_view",
        "CAST(x1 AS BIGINT) AS conv_view",
        "CAST(n2 AS BIGINT) AS n_click",
        "CAST(x2 AS BIGINT) AS conv_click",
        "round(CAST(x1 AS DOUBLE) / n1, 6) AS p_view",
        "round(CAST(x2 AS DOUBLE) / n2, 6) AS p_click",
        "round(CAST(2 * (a1 - a2) AS DOUBLE), 6) AS cohen_h",
        "CASE WHEN abs(CAST(2 * (a1 - a2) AS DOUBLE)) < 0.2"
        " THEN 'negligible'"
        " WHEN abs(CAST(2 * (a1 - a2) AS DOUBLE)) < 0.5 THEN 'small'"
        " WHEN abs(CAST(2 * (a1 - a2) AS DOUBLE)) < 0.8 THEN 'medium'"
        " ELSE 'large' END AS magnitude",
    )


# ---------------------------------------------------------------------------
# agg_hodges_lehmann_shift
# ---------------------------------------------------------------------------


@query(
    "agg_hodges_lehmann_shift",
    oracle="""
    WITH daily AS MATERIALIZED (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(round(CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                             AS DOUBLE) / count(*) / 100.0, 6)
                  AS DECIMAL(16,6)) AS m
      FROM events WHERE event_type IN ('click', 'view')
      GROUP BY 1, 2),
    x AS (SELECT day, m FROM daily WHERE event_type = 'click'),
    y AS (SELECT day, m FROM daily WHERE event_type = 'view'),
    d AS MATERIALIZED (
      SELECT x.m - y.m AS d, x.day AS di, y.day AS dj
      FROM x CROSS JOIN y),
    rk AS (
      SELECT d, row_number() OVER (ORDER BY d, di, dj) AS rn,
             count(*) OVER () AS cnt
      FROM d),
    hl AS (
      SELECT CAST(max(cnt) AS BIGINT) AS n_pairs,
             (CAST(sum(CASE WHEN rn = (cnt + 1) // 2 THEN d END)
                   AS DOUBLE)
              + CAST(sum(CASE WHEN rn = (cnt + 2) // 2 THEN d END)
                     AS DOUBLE)) / 2 AS hl
      FROM rk),
    p AS MATERIALIZED (
      SELECT x.m - y.m AS d, x.day
      FROM x JOIN y ON x.day = y.day),
    prk AS (
      SELECT d, row_number() OVER (ORDER BY d, day) AS rn,
             count(*) OVER () AS cnt
      FROM p),
    pm AS (
      SELECT CAST(max(cnt) AS BIGINT) AS n_days,
             (CAST(sum(CASE WHEN rn = (cnt + 1) // 2 THEN d END)
                   AS DOUBLE)
              + CAST(sum(CASE WHEN rn = (cnt + 2) // 2 THEN d END)
                     AS DOUBLE)) / 2 AS pmed
      FROM prk),
    mn AS (
      SELECT (CAST((SELECT sum(m) FROM x) AS DOUBLE)
              - CAST((SELECT sum(m) FROM y) AS DOUBLE))
             / (SELECT count(*) FROM x) AS mshift)
    SELECT hl.n_pairs, pm.n_days,
           round(hl.hl, 6) AS hl_shift,
           round(pm.pmed, 6) AS paired_median_shift,
           round(mn.mshift, 6) AS mean_shift
    FROM hl CROSS JOIN pm CROSS JOIN mn
    """,
)
def agg_hodges_lehmann_shift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """HODGES-LEHMANN SHIFT ESTIMATOR between the click and view
    daily-mean series: the median of all pairwise differences
    x_i - y_j — the robust LOCATION-SHIFT magnitude that
    agg_mann_whitney_u's significance verdict does not report (U
    says the distributions differ; HL says BY HOW MUCH, with 29%
    breakdown resistance where the mean shift has none). The paired
    within-day median difference and the plain mean shift ride along
    so all three location readings are comparable in one row.

    Shape at 100 TB: the fact table collapses to the bounded
    day x type domain; the pairwise-difference grid is day² (bounded
    at ANY corpus size — the win_changepoint_pelt_1d move), ranked
    once, middle-picked exactly.

    Parity: daily means quantize round(6) into DECIMAL(16,6), so
    every pairwise difference is an exact decimal and the
    (d, di, dj)-ordered row_number picks are deterministic; the
    averaged median is (lo+hi) summed exactly in double then halved
    (dyadic — exact); round(6) lands once."""
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
    x = daily.where(F.col("event_type") == "click").select(
        F.col("day").alias("di"), F.col("m").alias("mx")
    )
    y = daily.where(F.col("event_type") == "view").select(
        F.col("day").alias("dj"), F.col("m").alias("my")
    )
    d = x.crossJoin(y).select(
        (F.col("mx") - F.col("my")).alias("d"), "di", "dj"
    )
    rk = d.select(
        "d",
        F.row_number().over(Window.orderBy("d", "di", "dj")).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("cnt"),
    )
    hl = rk.agg(
        F.max("cnt").cast("bigint").alias("n_pairs"),
        F.expr(
            "(CAST(sum(CASE WHEN rn = (cnt + 1) div 2 THEN d END)"
            " AS DOUBLE)"
            " + CAST(sum(CASE WHEN rn = (cnt + 2) div 2 THEN d END)"
            " AS DOUBLE)) / 2"
        ).alias("hl"),
    )
    p = x.join(y, F.col("di") == F.col("dj")).select(
        (F.col("mx") - F.col("my")).alias("d"), F.col("di").alias("day")
    )
    prk = p.select(
        "d",
        F.row_number().over(Window.orderBy("d", "day")).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("cnt"),
    )
    pm = prk.agg(
        F.max("cnt").cast("bigint").alias("n_days"),
        F.expr(
            "(CAST(sum(CASE WHEN rn = (cnt + 1) div 2 THEN d END)"
            " AS DOUBLE)"
            " + CAST(sum(CASE WHEN rn = (cnt + 2) div 2 THEN d END)"
            " AS DOUBLE)) / 2"
        ).alias("pmed"),
    )
    mn = (
        x.agg(
            F.sum("mx").alias("sx"), F.count("*").alias("nx")
        )
        .crossJoin(y.agg(F.sum("my").alias("sy")))
        .selectExpr(
            "(CAST(sx AS DOUBLE) - CAST(sy AS DOUBLE)) / nx AS mshift"
        )
    )
    return (
        hl.crossJoin(F.broadcast(pm))
        .crossJoin(F.broadcast(mn))
        .selectExpr(
            "n_pairs",
            "n_days",
            "round(hl, 6) AS hl_shift",
            "round(pmed, 6) AS paired_median_shift",
            "round(mshift, 6) AS mean_shift",
        )
    )


# ---------------------------------------------------------------------------
# agg_sign_test_paired
# ---------------------------------------------------------------------------


@query(
    "agg_sign_test_paired",
    oracle="""
    WITH daily AS MATERIALIZED (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS tot
      FROM events WHERE event_type IN ('click', 'view')
      GROUP BY 1, 2),
    p AS (
      SELECT c.day, c.tot AS ct, v.tot AS vt
      FROM (SELECT day, tot FROM daily WHERE event_type = 'click') c
      JOIN (SELECT day, tot FROM daily WHERE event_type = 'view') v
        USING (day)),
    st AS (
      SELECT CAST(sum(CASE WHEN ct <> vt THEN 1 ELSE 0 END) AS BIGINT)
               AS n,
             CAST(sum(CASE WHEN ct > vt THEN 1 ELSE 0 END) AS BIGINT)
               AS s
      FROM p),
    ks AS (
      SELECT st.n, st.s, k.k,
             list_reduce(
               list_prepend(CAST(1 AS BIGINT),
                            CAST(generate_series(1, k.k) AS BIGINT[])),
               (acc, i) -> acc * (st.n - i + 1) // i) AS binom
      FROM st CROSS JOIN
           (SELECT unnest(generate_series(0, 60)) AS k) k
      WHERE k.k <= st.n AND k.k >= st.s)
    SELECT n AS n_informative, s AS n_click_greater,
           round(CAST(s AS DOUBLE) / n, 6) AS frac_click_greater,
           round(CAST(sum(binom) AS DOUBLE)
                 / (CAST(1 AS BIGINT) << CAST(n AS INTEGER)), 6)
             AS p_one_sided,
           CAST(CASE WHEN CAST(sum(binom) AS DOUBLE)
                          / (CAST(1 AS BIGINT) << CAST(n AS INTEGER))
                          < 0.05
                     THEN 1 ELSE 0 END AS BIGINT) AS significant_05
    FROM ks GROUP BY n, s
    """,
)
def agg_sign_test_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT PAIRED SIGN TEST of click vs view daily revenue: S =
    #days click out-earned view among informative (untied) days, with
    the EXACT one-sided binomial p-value P(Bin(n, 1/2) >= S) =
    2^-n Σ_{k>=S} C(n,k) — no normal approximation anywhere, which at
    a 30-day horizon is the difference between a right answer and a
    textbook warning (agg_wilcoxon_signed_rank uses magnitudes + a
    z approximation; the sign test is its assumption-free floor:
    valid under ANY continuous paired distribution).

    The binomial coefficients are computed EXACTLY: C(n,k) folds as
    acc·(n-k+1)/k over k, integer-exact at every step (each partial
    product is itself a binomial coefficient — divisibility is a
    theorem), summed in BIGINT, divided once by 2^n (dyadic, exact in
    double). A p-value with zero float error.

    Shape at 100 TB: the fact table collapses to the day x type
    domain; the k-domain coefficient fold is a bounded HOF.

    Parity: daily totals are exact BIGINT cents; ties drop on both
    sides; the coefficient fold is the identical scalar-accumulator
    left-fold on both engines (DuckDB list_reduce is exact for SCALAR
    accumulators — the round-6 note); the final division is one
    shared double expression, round(6)."""
    ev = table(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("event_type").isin("click", "view"))
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(F.expr("CAST(value * 100 + 0.5 AS BIGINT)"))
            .cast("bigint")
            .alias("tot")
        )
        .localCheckpoint()
    )
    c = daily.where(F.col("event_type") == "click").select(
        "day", F.col("tot").alias("ct")
    )
    v = daily.where(F.col("event_type") == "view").select(
        "day", F.col("tot").alias("vt")
    )
    st = (
        c.join(v, "day")
        .agg(
            F.sum(F.expr("CASE WHEN ct <> vt THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("n"),
            F.sum(F.expr("CASE WHEN ct > vt THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("s"),
        )
        .localCheckpoint()
    )
    ks = (
        st.crossJoin(
            F.broadcast(spark.range(0, 61).select(F.col("id").alias("k")))
        )
        .where((F.col("k") <= F.col("n")) & (F.col("k") >= F.col("s")))
        .selectExpr(
            "n",
            "s",
            # k = 0 must short-circuit: Spark's sequence(1, 0) steps
            # DOWN to [1, 0] and the fold would divide by zero (never
            # fires while s >= 1 on this fixture, but s = 0 is legal)
            "CASE WHEN k = 0 THEN CAST(1 AS BIGINT)"
            " ELSE aggregate(sequence(1, CAST(k AS INT)),"
            " CAST(1 AS BIGINT),"
            " (acc, i) -> acc * (n - i + 1) div i) END AS binom",
        )
    )
    return ks.groupBy("n", "s").agg(
        F.sum("binom").alias("sb")
    ).selectExpr(
        "n AS n_informative",
        "s AS n_click_greater",
        "round(CAST(s AS DOUBLE) / n, 6) AS frac_click_greater",
        "round(CAST(sb AS DOUBLE)"
        " / shiftleft(CAST(1 AS BIGINT), CAST(n AS INT)), 6)"
        " AS p_one_sided",
        "CAST(CASE WHEN CAST(sb AS DOUBLE)"
        " / shiftleft(CAST(1 AS BIGINT), CAST(n AS INT)) < 0.05"
        " THEN 1 ELSE 0 END AS BIGINT) AS significant_05",
    )


# ---------------------------------------------------------------------------
# agg_anderson_darling_2samp
# ---------------------------------------------------------------------------


@query(
    "agg_anderson_darling_2samp",
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
      SELECT c, f1, f2, f1 + f2 AS l,
             2 * (sum(f1 + f2) OVER (ORDER BY c) - (f1 + f2)) + (f1 + f2)
               AS twob,
             2 * (sum(f1) OVER (ORDER BY c) - f1) + f1 AS twom1,
             2 * (sum(f2) OVER (ORDER BY c) - f2) + f2 AS twom2
      FROM blk),
    terms AS (
      SELECT CAST(sum(CAST(round(
               cum.l * (
                 CAST(CAST(tot.n * cum.twom1 - tot.n1 * cum.twob
                           AS DECIMAL(19,0))
                      * CAST(tot.n * cum.twom1 - tot.n1 * cum.twob
                             AS DECIMAL(19,0)) AS DOUBLE)
                 / (cum.twob * (2 * tot.n - cum.twob) - tot.n * cum.l)
                 / tot.n1
                 +
                 CAST(CAST(tot.n * cum.twom2 - tot.n2 * cum.twob
                           AS DECIMAL(19,0))
                      * CAST(tot.n * cum.twom2 - tot.n2 * cum.twob
                             AS DECIMAL(19,0)) AS DOUBLE)
                 / (cum.twob * (2 * tot.n - cum.twob) - tot.n * cum.l)
                 / tot.n2), 9) AS DECIMAL(28,9))) AS DECIMAL(38,9)) AS ss,
             CAST(count(*) AS BIGINT) AS n_blocks
      FROM cum CROSS JOIN tot
      WHERE cum.twob * (2 * tot.n - cum.twob) - tot.n * cum.l > 0),
    hh AS MATERIALIZED (
      SELECT i,
             CAST(round(CAST(1 AS DOUBLE) / i, 12) AS DECIMAL(20,12))
               AS hterm
      FROM (SELECT unnest(generate_series(1, (SELECT n - 1 FROM tot)))
              AS i)),
    hcum AS MATERIALIZED (
      SELECT i, CAST(sum(hterm) OVER (ORDER BY i) AS DECIMAL(28,12))
               AS hi
      FROM hh),
    hfin AS MATERIALIZED (
      SELECT max(hi) AS h FROM hcum),
    gg AS MATERIALIZED (
      SELECT CAST(sum(CAST(round(
               (CAST(hf.h AS DOUBLE) - CAST(hc.hi AS DOUBLE))
               / (tot.n - hc.i), 12) AS DECIMAL(20,12)))
             AS DECIMAL(38,12)) AS g
      FROM hcum hc CROSS JOIN hfin hf CROSS JOIN tot
      WHERE hc.i <= tot.n - 2),
    fin AS (
      SELECT tot.n1, tot.n2, tot.n, t.n_blocks,
             (tot.n - 1.0) * CAST(t.ss AS DOUBLE) / tot.n / tot.n AS a2,
             CAST(1 AS DOUBLE) / tot.n1 + CAST(1 AS DOUBLE) / tot.n2
               AS bh,
             CAST(hf.h AS DOUBLE) AS h, CAST(gg.g AS DOUBLE) AS g
      FROM terms t CROSS JOIN tot CROSS JOIN hfin hf CROSS JOIN gg)
    SELECT n1 AS n_click, n2 AS n_view, n_blocks,
           round(a2, 6) AS a2_stat,
           round((a2 - 1.0)
                 / sqrt(((4 * g - 6) * 1 + (10 - 6 * g) * bh) * n * n * n
                        / ((n - 1.0) * (n - 2) * (n - 3))
                        + ((2 * g - 4) * 4 + 8 * h * 2
                           + (2 * g - 14 * h - 4) * bh - 8 * h + 4 * g
                           - 6) * n * n
                          / ((n - 1.0) * (n - 2) * (n - 3))
                        + ((6 * h + 2 * g - 2) * 4
                           + (4 * h - 4 * g + 6) * 2 + (2 * h - 6) * bh
                           + 4 * h) * n
                          / ((n - 1.0) * (n - 2) * (n - 3))
                        + ((2 * h + 6) * 4 - 4 * h * 2)
                          / ((n - 1.0) * (n - 2) * (n - 3))), 6)
             AS t_stat,
           CAST(CASE WHEN round((a2 - 1.0)
                 / sqrt(((4 * g - 6) * 1 + (10 - 6 * g) * bh) * n * n * n
                        / ((n - 1.0) * (n - 2) * (n - 3))
                        + ((2 * g - 4) * 4 + 8 * h * 2
                           + (2 * g - 14 * h - 4) * bh - 8 * h + 4 * g
                           - 6) * n * n
                          / ((n - 1.0) * (n - 2) * (n - 3))
                        + ((6 * h + 2 * g - 2) * 4
                           + (4 * h - 4 * g + 6) * 2 + (2 * h - 6) * bh
                           + 4 * h) * n
                          / ((n - 1.0) * (n - 2) * (n - 3))
                        + ((2 * h + 6) * 4 - 4 * h * 2)
                          / ((n - 1.0) * (n - 2) * (n - 3))), 9)
                          >= 1.960
                     THEN 1 ELSE 0 END AS BIGINT) AS significant_05
    FROM fin
    """,
)
def agg_anderson_darling_2samp(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TWO-SAMPLE ANDERSON-DARLING TEST (Scholz-Stephens k-sample
    statistic, midrank/ties version, k=2) of click vs view value
    distributions: A² weights discrepancies by 1/(F(1-F)), so it
    sees TAIL differences the KS statistic's sup-norm misses
    (agg_ks_test_two_sample is the body test; this is the tail
    test), with the exact Scholz-Stephens standardization
    T = (A²-1)/σ_N — σ² from the published closed form in N, H =
    1/n1+1/n2, the harmonic sum h, and the double harmonic g (folded
    to O(N) with harmonic prefix sums) — and the k=2, alpha=0.05
    critical value 1.960.

    Shape at 100 TB: the fact table collapses to the distinct-cents
    value domain in one grouped scan (the agg_mann_whitney_u move);
    every cumulative is a window over that bounded domain; h and g
    are bounded index-domain sums with a prefix-sum rewrite replacing
    the naive O(N²) double harmonic.

    Parity: block counts and the doubled midrank cumulatives (2B,
    2M_i) are exact BIGINTs — the x4-scaled term is a ratio of exact
    integers with the squared numerator in DECIMAL(19,0)² (int64
    would overflow at N ~ 4e4); per-block contributions quantize
    round(9) and h/g terms round(12) into DECIMAL before their
    order-independent sums; A², σ, and T are shared double
    expressions, T quantizing round(9) before the critical-value
    compare."""
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
        (F.sum("f1") + F.sum("f2")).cast("bigint").alias("n"),
    ).localCheckpoint()
    w_c = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    cum = blk.select(
        "c",
        "f1",
        "f2",
        (F.col("f1") + F.col("f2")).alias("l"),
        (
            2 * (F.sum(F.col("f1") + F.col("f2")).over(w_c)
                 - (F.col("f1") + F.col("f2")))
            + (F.col("f1") + F.col("f2"))
        ).alias("twob"),
        (2 * (F.sum("f1").over(w_c) - F.col("f1")) + F.col("f1")).alias(
            "twom1"
        ),
        (2 * (F.sum("f2").over(w_c) - F.col("f2")) + F.col("f2")).alias(
            "twom2"
        ),
    )
    t_tpl = (
        "CAST(CAST(n * twom{i} - n{i} * twob AS DECIMAL(19,0))"
        " * CAST(n * twom{i} - n{i} * twob AS DECIMAL(19,0)) AS DOUBLE)"
        " / (twob * (2 * n - twob) - n * l) / n{i}"
    )
    terms = (
        cum.crossJoin(F.broadcast(tot))
        .where(
            F.expr("twob * (2 * n - twob) - n * l > 0")
        )
        .agg(
            F.sum(
                F.expr(
                    "CAST(round(l * ("
                    + t_tpl.format(i=1)
                    + " + "
                    + t_tpl.format(i=2)
                    + "), 9) AS DECIMAL(28,9))"
                )
            )
            .cast("decimal(38,9)")
            .alias("ss"),
            F.count("*").cast("bigint").alias("n_blocks"),
        )
    )
    hh = tot.selectExpr(
        "explode(sequence(CAST(1 AS BIGINT), n - 1)) AS i"
    ).selectExpr(
        "i",
        "CAST(round(CAST(1 AS DOUBLE) / i, 12) AS DECIMAL(20,12))"
        " AS hterm",
    )
    w_i = Window.orderBy("i").rowsBetween(Window.unboundedPreceding, 0)
    hcum = hh.select(
        "i", F.sum("hterm").over(w_i).cast("decimal(28,12)").alias("hi")
    ).localCheckpoint()
    hfin = hcum.agg(F.max("hi").alias("h")).localCheckpoint()
    gg = (
        hcum.crossJoin(F.broadcast(hfin))
        .crossJoin(F.broadcast(tot))
        .where(F.col("i") <= F.col("n") - 2)
        .agg(
            F.sum(
                F.expr(
                    "CAST(round((CAST(h AS DOUBLE) - CAST(hi AS DOUBLE))"
                    " / (n - i), 12) AS DECIMAL(20,12))"
                )
            )
            .cast("decimal(38,12)")
            .alias("g")
        )
    )
    var_expr = (
        "(((4 * g - 6) * 1 + (10 - 6 * g) * bh) * n * n * n"
        " / ((n - 1.0) * (n - 2) * (n - 3))"
        " + ((2 * g - 4) * 4 + 8 * h * 2"
        " + (2 * g - 14 * h - 4) * bh - 8 * h + 4 * g - 6) * n * n"
        " / ((n - 1.0) * (n - 2) * (n - 3))"
        " + ((6 * h + 2 * g - 2) * 4"
        " + (4 * h - 4 * g + 6) * 2 + (2 * h - 6) * bh + 4 * h) * n"
        " / ((n - 1.0) * (n - 2) * (n - 3))"
        " + ((2 * h + 6) * 4 - 4 * h * 2)"
        " / ((n - 1.0) * (n - 2) * (n - 3)))"
    )
    fin = (
        terms.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(hfin))
        .crossJoin(F.broadcast(gg))
        .selectExpr(
            "n1",
            "n2",
            "n",
            "n_blocks",
            "(n - 1.0) * CAST(ss AS DOUBLE) / n / n AS a2",
            "CAST(1 AS DOUBLE) / n1 + CAST(1 AS DOUBLE) / n2 AS bh",
            "CAST(h AS DOUBLE) AS h",
            "CAST(g AS DOUBLE) AS g",
        )
    )
    return fin.selectExpr(
        "n1 AS n_click",
        "n2 AS n_view",
        "n_blocks",
        "round(a2, 6) AS a2_stat",
        f"round((a2 - 1.0) / sqrt({var_expr}), 6) AS t_stat",
        f"CAST(CASE WHEN round((a2 - 1.0) / sqrt({var_expr}), 9)"
        " >= 1.960 THEN 1 ELSE 0 END AS BIGINT) AS significant_05",
    )


# ---------------------------------------------------------------------------
# agg_cohens_d_family
# ---------------------------------------------------------------------------


@query(
    "agg_cohens_d_family",
    oracle="""
    WITH c AS (
      SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS c
      FROM events WHERE event_type IN ('click', 'view')),
    mo AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(c) AS BIGINT) AS s,
             CAST(sum(CAST(c AS HUGEINT) * c) AS DOUBLE) AS q
      FROM c GROUP BY event_type),
    w AS (
      SELECT max(CASE WHEN event_type = 'click' THEN n END) AS n1,
             max(CASE WHEN event_type = 'click' THEN s END) AS s1,
             max(CASE WHEN event_type = 'click' THEN q END) AS q1,
             max(CASE WHEN event_type = 'view' THEN n END) AS n2,
             max(CASE WHEN event_type = 'view' THEN s END) AS s2,
             max(CASE WHEN event_type = 'view' THEN q END) AS q2
      FROM mo),
    st AS (
      SELECT n1, n2,
             CAST(s1 AS DOUBLE) / n1 AS m1, CAST(s2 AS DOUBLE) / n2 AS m2,
             (q1 - CAST(s1 AS DOUBLE) * s1 / n1) AS ss1,
             (q2 - CAST(s2 AS DOUBLE) * s2 / n2) AS ss2
      FROM w)
    SELECT n1 AS n_click, n2 AS n_view,
           round((m1 - m2) / 100.0, 6) AS mean_diff,
           round((m1 - m2)
                 / sqrt((ss1 + ss2) / (n1 + n2 - 2)), 6) AS cohens_d,
           round((m1 - m2) / sqrt((ss1 + ss2) / (n1 + n2 - 2))
                 * (1.0 - 3.0 / (4 * (n1 + n2) - 9)), 6) AS hedges_g,
           round((m1 - m2) / sqrt(ss2 / (n2 - 1)), 6) AS glass_delta
    FROM st
    """,
)
def agg_cohens_d_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTINUOUS EFFECT SIZES for the click-vs-view value gap:
    Cohen's d (pooled-sd standardized mean difference), Hedges' g
    (its small-sample bias correction), and Glass's delta
    (control-sd standardized, for when the treatment also changes
    the variance) — the continuous-outcome counterpart of
    agg_cohen_h_effect and the magnitude layer under
    agg_welch_ttest's significance verdict (at 100 TB everything is
    significant; d is what a decision weighs). Three variants in one
    row because WHICH denominator is right is itself the analytical
    decision the columns make visible.

    Shape at 100 TB: one grouped moment scan — count, sum, square
    sum per arm. Nothing else.

    Parity: cents exact; square sums via HUGEINT (DuckDB) /
    DECIMAL(19,0)-operand products (Spark) cast once to double; all
    three ratios are shared double expressions, round(6)."""
    ev = table(spark, sf_dir, "events")
    c = ev.where(F.col("event_type").isin("click", "view")).select(
        "event_type", F.expr("CAST(value * 100 + 0.5 AS BIGINT)").alias("c")
    )
    mo = c.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
        F.expr(
            "CAST(sum(CAST(c AS DECIMAL(19,0)) * c) AS DOUBLE)"
        ).alias("q"),
    )
    w = mo.agg(
        *[
            F.max(
                F.when(F.col("event_type") == t, F.col(col))
            ).alias(f"{col}{i}")
            for i, t in ((1, "click"), (2, "view"))
            for col in ("n", "s", "q")
        ]
    )
    st = w.selectExpr(
        "n1",
        "n2",
        "CAST(s1 AS DOUBLE) / n1 AS m1",
        "CAST(s2 AS DOUBLE) / n2 AS m2",
        "(q1 - CAST(s1 AS DOUBLE) * s1 / n1) AS ss1",
        "(q2 - CAST(s2 AS DOUBLE) * s2 / n2) AS ss2",
    )
    return st.selectExpr(
        "n1 AS n_click",
        "n2 AS n_view",
        "round((m1 - m2) / 100.0, 6) AS mean_diff",
        "round((m1 - m2) / sqrt((ss1 + ss2) / (n1 + n2 - 2)), 6)"
        " AS cohens_d",
        "round((m1 - m2) / sqrt((ss1 + ss2) / (n1 + n2 - 2))"
        " * (1.0 - 3.0 / (4 * (n1 + n2) - 9)), 6) AS hedges_g",
        "round((m1 - m2) / sqrt(ss2 / (n2 - 1)), 6) AS glass_delta",
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
# agg_holm_bonferroni
# ---------------------------------------------------------------------------

_HOLM_ALPHA = "CAST(0.05 AS DOUBLE)"  # FWER level


def _holm_oracle() -> str:

    return f"""
    WITH {_SIGNTEST_PV_CTES},
    rk AS (
      SELECT *,
             row_number() OVER (ORDER BY p, type_a, type_b) AS i,
             count(*) OVER () AS m
      FROM pv),
    ff AS (
      SELECT min(CASE WHEN p > {_HOLM_ALPHA} / (m - i + 1)
                      THEN i ELSE m + 1 END) OVER () AS first_fail
             , *
      FROM rk)
    SELECT type_a, type_b, n AS n_informative, s AS n_a_greater,
           round(p, 9) AS p_value,
           CAST(i AS BIGINT) AS holm_rank,
           round({_HOLM_ALPHA} / (m - i + 1), 9) AS holm_threshold,
           CAST(CASE WHEN i < first_fail THEN 1 ELSE 0 END AS BIGINT)
             AS rejected
    FROM ff
    """


@query("agg_holm_bonferroni", oracle=_holm_oracle())
def agg_holm_bonferroni(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOLM-BONFERRONI STEP-DOWN over the same family of 10 exact
    pairwise sign tests agg_benjamini_hochberg controls — the FWER
    side of the multiple-testing coin: BH bounds the false-discovery
    RATE at q = 0.10 (appropriate for screening), Holm bounds the
    probability of even ONE false rejection at alpha = 0.05
    (appropriate when a single false claim is costly), uniformly more
    powerful than plain Bonferroni and valid under arbitrary
    dependence.  Step-down rule: sort p ascending, reject while
    p_(i) <= alpha/(m - i + 1); the FIRST failure stops every later
    rejection regardless of its own p.

    Parity: the p family is the shared dyadic-exact sign-test
    pipeline (_pairwise_signtest_pvalues — every p is a ratio of
    exact integers to a power of two, bit-identical in a double), the
    thresholds alpha/(m-i+1) are identical double texts, and the
    rejection front is an integer compare against the min failing
    rank — zero float-parity surface, like the BH sibling.

    Shape at 100 TB: identical to BH — one grouped scan to the
    bounded day grid; every window spans the 10-row p family."""

    pv = _pairwise_signtest_pvalues(spark, sf_dir)
    w_rank = Window.orderBy("p", "type_a", "type_b")
    w_all = Window.partitionBy()
    rk = pv.withColumn("i", F.row_number().over(w_rank)).withColumn(
        "m", F.count("*").over(w_all)
    )
    ff = rk.withColumn(
        "first_fail",
        F.min(
            F.expr(
                f"CASE WHEN p > {_HOLM_ALPHA} / (m - i + 1)"
                " THEN i ELSE m + 1 END"
            )
        ).over(w_all),
    )
    return ff.selectExpr(
        "type_a",
        "type_b",
        "n AS n_informative",
        "s AS n_a_greater",
        "round(p, 9) AS p_value",
        "CAST(i AS BIGINT) AS holm_rank",
        f"round({_HOLM_ALPHA} / (m - i + 1), 9) AS holm_threshold",
        "CAST(CASE WHEN i < first_fail THEN 1 ELSE 0 END AS BIGINT)"
        " AS rejected",
    )


# ---------------------------------------------------------------------------
# agg_tukey_hsd_qstat
# ---------------------------------------------------------------------------

_TUKEY_Q2_CRIT = "17.3889"  # q_crit(k=7, df=inf, alpha=.05)=4.17, squared


def _tukey_sql(dialect: str) -> str:
    if dialect == "duck":
        cents = "CAST(round(value * 100, 0) AS BIGINT)"
        dow = "dayofweek(CAST(ts AS DATE)) + 1"
        big = "HUGEINT"
    else:
        cents = "CAST(value * 100 + 0.5 AS BIGINT)"
        dow = "dayofweek(CAST(ts AS DATE))"
        big = "DECIMAL(38,0)"
    piv_cols = ",\n             ".join(
        f"CAST(sum(CASE WHEN dow = {g} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS n_{g},\n             "
        f"CAST(sum(CASE WHEN dow = {g} THEN v ELSE 0 END) AS BIGINT)"
        f" AS s_{g},\n             "
        f"sum(CASE WHEN dow = {g} THEN CAST(v AS {big}) * v"
        f" ELSE CAST(0 AS {big}) END) AS sq_{g}"
        for g in range(1, 8)
    )
    c_cols = ",\n             ".join(
        f"CAST(n_{g} AS {big}) * sq_{g} - CAST(s_{g} AS {big}) * s_{g}"
        f" AS c_{g}"
        for g in range(1, 8)
    )
    # SSW as a PINNED-ORDER 7-term double sum (groupBy float sums have
    # no deterministic order; a literal left-to-right chain does)
    ssw = " + ".join(f"CAST(c_{g} AS DOUBLE) / n_{g}" for g in range(1, 8))
    ntot = " + ".join(f"n_{g}" for g in range(1, 8))
    pair_rows = []
    for i in range(1, 8):
        for j in range(i + 1, 8):
            d = f"(CAST(s_{i} AS DOUBLE) / n_{i} - CAST(s_{j} AS DOUBLE) / n_{j})"
            # ONE double division; `1.0 / n` would be DECIMAL division
            # on Spark vs DOUBLE on DuckDB (round-8 literal trap)
            q2 = (
                f"2.0 * {d} * {d} * n_{i} * n_{j}"
                f" / (msw * (n_{i} + n_{j}))"
            )
            pair_rows.append(
                f"SELECT CAST({i} AS BIGINT) AS dow_a,"
                f" CAST({j} AS BIGINT) AS dow_b,"
                f" n_{i} AS n_a, n_{j} AS n_b,"
                f" round(CAST(s_{i} AS DOUBLE) / n_{i} / 100.0, 6)"
                f" AS mean_a,"
                f" round(CAST(s_{j} AS DOUBLE) / n_{j} / 100.0, 6)"
                f" AS mean_b,"
                f" round(sqrt({q2}), 6) AS q_stat,"
                f" CASE WHEN {q2} > {_TUKEY_Q2_CRIT} THEN 1 ELSE 0 END"
                f" AS significant"
                f" FROM m"
            )
    pairs = "\n    UNION ALL\n    ".join(pair_rows)
    stack = f"""
    WITH e AS (
      SELECT {dow} AS dow, {cents} AS v FROM events),
    piv AS (
      SELECT {piv_cols}
      FROM e),
    cc AS (
      SELECT *,
             {c_cols}
      FROM piv),
    m AS (
      SELECT *,
             ({ssw}) / (({ntot}) - 7) AS msw
      FROM cc)
    """
    return stack, pairs


def _tukey_oracle() -> str:
    stack, pairs = _tukey_sql("duck")
    return f"{stack}\n    {pairs}\n    ORDER BY dow_a, dow_b"


@query("agg_tukey_hsd_qstat", oracle=_tukey_oracle())
def agg_tukey_hsd_qstat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TUKEY HSD PAIRWISE q STATISTICS over the 7 day-of-week groups
    of event value (cents): the PARAMETRIC post-hoc that follows a
    significant one-way ANOVA (agg_anova_oneway / agg_dow_anova) —
    for every group pair, the studentized-range statistic
    q = |m_i - m_j| / sqrt(MSW/2 * (1/n_i + 1/n_j)) and the
    significance call against q_crit(k=7, df=inf, .05) = 4.17.
    Sibling differentiation: agg_dunn_posthoc is the NONPARAMETRIC
    post-hoc (rank sums after Kruskal-Wallis); this op is the
    equal-variance parametric ladder rung, and the two together are
    the standard report pair.

    Parity: cents are exact integers; per-group moments and centered
    c_g = n_g*Sxx_g - S_g^2 are exact DECIMAL(38,0)/HUGEINT; the
    7 groups PIVOT into one row so SSW = sum_g c_g/n_g is a
    LITERAL 7-term left-to-right double chain — pinned order, no
    unordered float aggregation anywhere; q and the crit compare then
    evaluate on bit-identical doubles (IEEE ops + correctly-rounded
    sqrt; 17.3889 parses identically).  Spark dayofweek is 1-7
    Sun-Sat; DuckDB's 0-6 shifts by +1 (round-9 rule).

    Shape at 100 TB: ONE map-side-combined scan produces the 21
    conditional-aggregate columns (plain CASE sums); the 1-row m
    frame is localCheckpoint-ed before the 21 pair branches reference
    it (the bounded-intermediate rule — the lazy UNION would
    re-derive the scan once per branch; pinned at 1 scan, i.e. 0 in
    the post-ckpt plan, by tests/test_plans.py)."""
    ev = table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("events")
    stack, pairs = _tukey_sql("spark")
    m = spark.sql(f"{stack}\n    SELECT * FROM m").localCheckpoint()
    m.createOrReplaceTempView("tukey_m_ckpt")
    return spark.sql(
        pairs.replace("FROM m", "FROM tukey_m_ckpt")
        + "\n    ORDER BY dow_a, dow_b"
    )
