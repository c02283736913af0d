"""Round-11 wave operators.

Window math (registry.ordered_queries simulation at round-11 start):
the never-checked residual is 24 ops (19 window-safe round-10 +
queue_r11's 2 + the 3 declared round-11 queue ops), so this module can
register further ops freely while the window holds <= 50 — re-simulate
before each wave, as always.

Each op completes an in-tree family with established exact-parity
machinery:

- agg_markov_first_passage — mean first-passage steps to 'purchase',
  completing the Markov suite (transition / stationary / entropy-rate
  / removal-attribution) with the absorption-time view: an all-integer
  4x4 Cramer solve (cofactor determinants in DECIMAL(38,0)/HUGEINT),
  ONE double division per state.
- agg_woe_information_value — weight-of-evidence / information-value
  feature screen over activity-score deciles, on the qini op's
  distributed domain-CDF machinery.
- win_xbar_r_control — Shewhart X-bar/R control chart (subgroup =
  each day's first 5 purchases), the PRE-sequential SPC view next to
  win_cusum_changepoint / win_page_hinkley (sequential detectors);
  out-of-control flags are pure-integer cross-products.
  (A Baumgartner-Weiss-Schindler rank test was CONSIDERED and
  dropped: its per-index variance weights i/(n+1)*(1-i/(n+1)) sit in
  the DENOMINATOR, so tied blocks have no closed form and the
  value-domain collapse the MWU/CvM family rides does not apply —
  an exact-parity BWS would need per-row global ranks.)
- maintenance_join_key_skew — per-key shuffle-skew diagnostic
  (top-key share, skew ratio) for the fact tables' join keys — the
  table an engineer reads before picking salting factors (the WRITE
  layout sibling already exists as maintenance_partition_skew_report).
- vec_dim_variance_profile — per-dimension moment profile of the
  embedding corpus (the whitening/anisotropy screen next to
  vec_pca_power_iter's single component).
- pipeline_dedup_threshold_sensitivity — near-dup purge volume as a
  function of the Jaccard threshold, from ONE verified-pair table
  (the "what if we lower tau" sheet for dedup_near_minhash).
- agg_holm_bonferroni — FWER step-down over the shared dyadic-exact
  sign-test p family (agg_benjamini_hochberg's FDR sibling).
- agg_cumulative_gains_curve — gains/lift deciles for a response
  ranking (the no-experiment sibling of agg_qini_uplift_curve).
- text_vocab_coverage_topn — top-N token-occurrence coverage (the
  operational integral of text_zipf_slope's curve; tokenizer budget).

Reference analogue: app.py ships none of this QA/ops surface; these
are the audit operators a Spark-native pipeline runs on the same
scans (SURVEY §2C).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.domain import dist_exclusive_prefix
from ..registry import query
from ..tables import table

# ---------------------------------------------------------------------------
# agg_markov_first_passage
# ---------------------------------------------------------------------------

_FP_TARGET = "purchase"
_FP_STATES = ["click", "error", "signup", "view"]  # transient, sorted


def _det3(m: list[list[str]]) -> str:
    return (
        f"({m[0][0]}) * (({m[1][1]}) * ({m[2][2]})"
        f" - ({m[1][2]}) * ({m[2][1]}))"
        f" - ({m[0][1]}) * (({m[1][0]}) * ({m[2][2]})"
        f" - ({m[1][2]}) * ({m[2][0]}))"
        f" + ({m[0][2]}) * (({m[1][0]}) * ({m[2][1]})"
        f" - ({m[1][1]}) * ({m[2][0]}))"
    )


def _det4(m: list[list[str]]) -> str:
    parts = []
    for j in range(4):
        minor = [[m[r][c] for c in range(4) if c != j] for r in range(1, 4)]
        sign = "+" if j % 2 == 0 else "-"
        parts.append(f"{sign} ({m[0][j]}) * ({_det3(minor)})")
    return " ".join(parts).lstrip("+ ")


def _fp_matrix(cast: str) -> tuple[str, list[str]]:
    """(det(A) text, [det(A_i) texts]) over the pivoted count columns
    c_<i>_<j> / n_<i>; entries pre-cast with ``cast`` so every product
    runs in 38-digit integer arithmetic on both engines."""
    a = [
        [
            (
                f"CAST(n_{si} - c_{si}_{sj} AS {cast})"
                if si == sj
                else f"CAST(0 - c_{si}_{sj} AS {cast})"
            )
            for sj in _FP_STATES
        ]
        for si in _FP_STATES
    ]
    b = [f"CAST(n_{si} AS {cast})" for si in _FP_STATES]
    det_a = _det4(a)
    det_i = []
    for col in range(4):
        m = [
            [b[r] if c == col else a[r][c] for c in range(4)]
            for r in range(4)
        ]
        det_i.append(_det4(m))
    return det_a, det_i


def _fp_oracle() -> str:
    cells = ",\n             ".join(
        f"CAST(sum(CASE WHEN prev_type = '{si}' AND next_type = '{sj}'"
        f" THEN n ELSE 0 END) AS BIGINT) AS c_{si}_{sj}"
        for si in _FP_STATES
        for sj in _FP_STATES + [_FP_TARGET]
    )
    rows_n = ",\n             ".join(
        f"CAST({' + '.join(f'c_{si}_{sj}' for sj in _FP_STATES + [_FP_TARGET])}"
        f" AS BIGINT) AS n_{si}"
        for si in _FP_STATES
    )
    det_a, det_i = _fp_matrix("HUGEINT")
    det_cols = ",\n             ".join(
        [f"({det_a}) AS det_a"]
        + [f"({d}) AS det_{k}" for k, d in enumerate(det_i)]
    )
    outs = "\n    UNION ALL\n    ".join(
        f"SELECT '{si}' AS from_state, n_{si} AS n_from,"
        f" CASE WHEN det_a = 0 THEN NULL"
        f" ELSE round(CAST(det_{k} AS DOUBLE)"
        f" / CAST(det_a AS DOUBLE), 6) END AS mean_steps_to_purchase"
        f" FROM d"
        for k, si in enumerate(_FP_STATES)
    )
    return f"""
    WITH seq AS (
      SELECT event_type AS next_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events),
    c AS (
      SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2),
    piv AS (
      SELECT {cells}
      FROM c),
    m AS (
      SELECT *,
             {rows_n}
      FROM piv),
    d AS (
      SELECT *,
             {det_cols}
      FROM m)
    {outs}
    ORDER BY from_state
    """


@query("agg_markov_first_passage", oracle=_fp_oracle())
def agg_markov_first_passage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEAN FIRST-PASSAGE TIME to the 'purchase' state from each other
    event type, under the per-user first-order Markov chain — the
    absorption-time view that completes the in-tree Markov suite:
    agg_markov_transition estimates the matrix, agg_markov_stationary
    its long-run mix, agg_entropy_rate_markov its predictability,
    agg_markov_removal_attribution its channel counterfactuals; THIS
    op answers "from a click, how many steps until a purchase, in
    expectation?" — the funnel-latency read in steps rather than
    wall-clock (agg_time_to_convert is the wall-clock twin).

    Exact machinery: m_i = 1 + sum_{{k != purchase}} P_ik m_k has the
    integer form n_i*m_i - sum_k c_ik*m_k = n_i (multiply each row by
    its transition total n_i), a 4x4 linear system with BIGINT
    coefficients.  Cramer's rule solves it with FIVE cofactor-expanded
    determinants whose products run in DECIMAL(38,0) (Spark) /
    HUGEINT (DuckDB) — 4-entry products of ~1e6-scale counts stay
    ~1e24, far inside 38 digits — and each mean is ONE double
    division of two exact integers, round(6), NULL-gated on det = 0
    (an unreachable target would make the system singular).

    Shape at 100 TB: one user-partitioned lag window (the shared
    sequence shuffle every Markov op rides), a 25-cell aggregate,
    then constant-size 1-row arithmetic."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("next_type"),
        F.lag("event_type").over(w).alias("prev_type"),
    )
    c = (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    piv = c.agg(
        *[
            F.expr(
                f"CAST(sum(CASE WHEN prev_type = '{si}'"
                f" AND next_type = '{sj}' THEN n ELSE 0 END) AS BIGINT)"
            ).alias(f"c_{si}_{sj}")
            for si in _FP_STATES
            for sj in _FP_STATES + [_FP_TARGET]
        ]
    )
    m = piv.selectExpr(
        "*",
        *[
            f"CAST({' + '.join(f'c_{si}_{sj}' for sj in _FP_STATES + [_FP_TARGET])}"
            f" AS BIGINT) AS n_{si}"
            for si in _FP_STATES
        ],
    )
    det_a, det_i = _fp_matrix("DECIMAL(38,0)")
    dets = m.selectExpr(
        "*",
        f"({det_a}) AS det_a",
        *[f"({d}) AS det_{k}" for k, d in enumerate(det_i)],
    ).localCheckpoint()  # 1-row frame referenced by all 4 union
    # branches — without the checkpoint each branch re-derives the
    # lag-window scan (bounded-intermediate rule)
    out = None
    for k, si in enumerate(_FP_STATES):
        row = dets.selectExpr(
            f"'{si}' AS from_state",
            f"n_{si} AS n_from",
            f"CASE WHEN det_a = 0 THEN NULL"
            f" ELSE round(CAST(det_{k} AS DOUBLE)"
            f" / CAST(det_a AS DOUBLE), 6)"
            f" END AS mean_steps_to_purchase",
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("from_state")


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
# win_xbar_r_control
# ---------------------------------------------------------------------------

# Shewhart constants for subgroup size n = 5 (published SPC tables,
# exact rationals here: A2 = 0.577 = 577/1000, D3 = 0, D4 = 2.114 =
# 2114/1000) — kept as INTEGER numerators so every control-limit
# compare is exact BIGINT arithmetic.
_SPC_N = 5
_SPC_A2_MILLI = 577
_SPC_D4_MILLI = 2114


@query(
    "win_xbar_r_control",
    oracle=f"""
    WITH pur AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(round(value * 100, 0) AS BIGINT) AS cents,
             row_number() OVER (PARTITION BY CAST(ts AS DATE)
                                ORDER BY ts, event_id) AS rn
      FROM events WHERE event_type = 'purchase'),
    sub AS (
      SELECT day,
             CAST(sum(cents) AS BIGINT) AS s,
             CAST(max(cents) - min(cents) AS BIGINT) AS r
      FROM pur WHERE rn <= {_SPC_N}
      GROUP BY day HAVING count(*) = {_SPC_N}),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS d,
             CAST(sum(s) AS BIGINT) AS st,
             CAST(sum(r) AS BIGINT) AS rt
      FROM sub)
    SELECT sub.day,
           round(CAST(sub.s AS DOUBLE) / {_SPC_N} / 100.0, 6) AS xbar,
           sub.r AS range_cents,
           round(CAST(tot.st AS DOUBLE) / ({_SPC_N} * tot.d) / 100.0, 6)
             AS center,
           round((CAST(tot.st AS DOUBLE) / ({_SPC_N} * tot.d)
                  + {_SPC_A2_MILLI} * CAST(tot.rt AS DOUBLE)
                    / (1000.0 * tot.d)) / 100.0, 6) AS ucl,
           round((CAST(tot.st AS DOUBLE) / ({_SPC_N} * tot.d)
                  - {_SPC_A2_MILLI} * CAST(tot.rt AS DOUBLE)
                    / (1000.0 * tot.d)) / 100.0, 6) AS lcl,
           CAST(CASE WHEN 1000 * sub.s * tot.d
                          > 1000 * tot.st + {_SPC_N} * {_SPC_A2_MILLI}
                            * tot.rt
                       OR 1000 * sub.s * tot.d
                          < 1000 * tot.st - {_SPC_N} * {_SPC_A2_MILLI}
                            * tot.rt
                     THEN 1 ELSE 0 END AS BIGINT) AS xbar_out,
           CAST(CASE WHEN 1000 * sub.r * tot.d
                          > {_SPC_D4_MILLI} * tot.rt
                     THEN 1 ELSE 0 END AS BIGINT) AS range_out
    FROM sub CROSS JOIN tot ORDER BY sub.day
    """,
)
def win_xbar_r_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHEWHART X-BAR / R CONTROL CHART over daily purchase-amount
    subgroups — the pre-sequential SPC view: win_cusum_changepoint and
    win_page_hinkley DETECT a shift after it happens; the Shewhart
    chart is the standing per-subgroup limit check a process monitor
    renders every day.  Rational subgrouping: each day's FIRST
    n = 5 purchases by (ts, event_id) — a deterministic constant-size
    subgroup, the textbook requirement (days with fewer drop out via
    HAVING, exact on both engines).  Limits: X-double-bar +/- A2 * R-bar
    and D4 * R-bar with the published n = 5 constants (A2 = 0.577,
    D3 = 0, D4 = 2.114).

    Parity: subgroup sums and ranges are exact integer cents; the
    DISPLAYED center/limits divide once and round(6); the out-of-
    control FLAGS never touch a float — A2 = 577/1000 and D4 =
    2114/1000 clear denominators into pure BIGINT cross-products
    (1000 * s_i * D vs 1000 * S_tot +/- 5 * 577 * R_tot), so the
    decision column cannot drift even when a limit lands on a
    representation boundary.

    Shape at 100 TB: the subgroup pick is a day-partitioned
    row_number (never global), the day grid is calendar-bounded, and
    the 1-row totals broadcast back — one fact scan end to end."""
    ev = table(spark, sf_dir, "events")
    w_day = Window.partitionBy(F.expr("CAST(ts AS DATE)")).orderBy(
        "ts", "event_id"
    )
    pur = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.expr("CAST(ts AS DATE)").alias("day"),
            F.expr("CAST(value * 100 + 0.5 AS BIGINT)").alias("cents"),
            F.row_number().over(w_day).alias("rn"),
        )
        .where(F.col("rn") <= _SPC_N)
    )
    sub = (
        pur.groupBy("day")
        .agg(
            F.sum("cents").cast("bigint").alias("s"),
            (F.max("cents") - F.min("cents")).cast("bigint").alias("r"),
            F.count("*").alias("k"),
        )
        .where(F.col("k") == _SPC_N)
        .drop("k")
    )
    tot = sub.agg(
        F.count("*").cast("bigint").alias("d"),
        F.sum("s").cast("bigint").alias("st"),
        F.sum("r").cast("bigint").alias("rt"),
    )
    return (
        sub.crossJoin(F.broadcast(tot))
        .selectExpr(
            "day",
            f"round(CAST(s AS DOUBLE) / {_SPC_N} / 100.0, 6) AS xbar",
            "r AS range_cents",
            f"round(CAST(st AS DOUBLE) / ({_SPC_N} * d) / 100.0, 6)"
            " AS center",
            f"round((CAST(st AS DOUBLE) / ({_SPC_N} * d)"
            f" + {_SPC_A2_MILLI} * CAST(rt AS DOUBLE) / (1000.0 * d))"
            " / 100.0, 6) AS ucl",
            f"round((CAST(st AS DOUBLE) / ({_SPC_N} * d)"
            f" - {_SPC_A2_MILLI} * CAST(rt AS DOUBLE) / (1000.0 * d))"
            " / 100.0, 6) AS lcl",
            f"CAST(CASE WHEN 1000 * s * d"
            f" > 1000 * st + {_SPC_N} * {_SPC_A2_MILLI} * rt"
            f" OR 1000 * s * d"
            f" < 1000 * st - {_SPC_N} * {_SPC_A2_MILLI} * rt"
            " THEN 1 ELSE 0 END AS BIGINT) AS xbar_out",
            f"CAST(CASE WHEN 1000 * r * d > {_SPC_D4_MILLI} * rt"
            " THEN 1 ELSE 0 END AS BIGINT) AS range_out",
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# maintenance_partition_skew_report
# ---------------------------------------------------------------------------

_SKEW_KEYS = [
    ("orders", "o_custkey"),
    ("lineitem", "l_partkey"),
    ("lineitem", "l_suppkey"),
    ("events", "user_id"),
]


def _skew_oracle() -> str:
    branches = []
    for tbl, key in _SKEW_KEYS:
        branches.append(f"""
    SELECT '{tbl}.{key}' AS join_key,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(c) AS BIGINT) AS n_rows,
           CAST(max(c) AS BIGINT) AS max_key_rows,
           round(CAST(sum(c) AS DOUBLE) / count(*), 6) AS avg_key_rows,
           round(CAST(max(c) * count(*) AS DOUBLE) / sum(c), 6)
             AS skew_ratio,
           round(CAST((SELECT sum(c) FROM (
                    SELECT c FROM (SELECT count(*) AS c FROM {tbl}
                                   GROUP BY {key}) z2
                    ORDER BY c DESC LIMIT 10) t10) AS DOUBLE)
                 / sum(c), 6) AS top10_share
    FROM (SELECT count(*) AS c FROM {tbl} GROUP BY {key}) z""")
    return "\n    UNION ALL".join(branches) + "\n    ORDER BY join_key"


@query("maintenance_join_key_skew", oracle=_skew_oracle())
def maintenance_join_key_skew(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """JOIN-KEY SKEW REPORT for the fact tables' shuffle keys — the
    table an engineer reads BEFORE sizing a cluster job: a shuffle
    join partitions by key, so one hot key = one straggler task, and
    the mitigation decision (AQE skew-join thresholds, salting factor,
    broadcast instead) needs exactly these numbers per candidate key:
    key cardinality, max-key row count, skew ratio (max / average —
    1.0 is perfectly uniform), and the top-10-key row share.  The
    maintenance_* family's operational companion to
    maintenance_column_profile (value quality) — this one profiles
    SHUFFLE feasibility.  Sibling differentiation:
    maintenance_partition_skew_report (relational.py) audits a
    proposed HIVE-PARTITIONED WRITE layout (event_type x day file
    sizes); this op audits JOIN/SHUFFLE KEYS — per-key row-count
    concentration, the straggler-task risk — a different physical
    decision (salting/broadcast vs writer coalesce).

    Parity: counts are exact; the three ratios divide exact integers
    once each, round(6).  The top-10 mass is a TakeOrderedAndProject
    over the key-count frame (never a global row_number — round-6
    rule), summed as an exact BIGINT before its one division.

    Shape at 100 TB: per key a single map-side-combined groupBy count
    (the same aggregate a shuffle planner would sample), a 1-row
    moment reduce, and a top-10 heap merge; branches union to a
    4-row report."""
    out = None
    for tbl, key in _SKEW_KEYS:
        t = table(spark, sf_dir, tbl)
        kc = t.groupBy(key).agg(F.count("*").alias("c"))
        mom = kc.agg(
            F.count("*").cast("bigint").alias("n_keys"),
            F.sum("c").cast("bigint").alias("n_rows"),
            F.max("c").cast("bigint").alias("max_key_rows"),
        )
        top10 = (
            kc.orderBy(F.col("c").desc())
            .limit(10)
            .agg(F.sum("c").cast("bigint").alias("t10"))
        )
        row = (
            mom.crossJoin(F.broadcast(top10))
            .selectExpr(
                f"'{tbl}.{key}' AS join_key",
                "n_keys",
                "n_rows",
                "max_key_rows",
                "round(CAST(n_rows AS DOUBLE) / n_keys, 6)"
                " AS avg_key_rows",
                "round(CAST(max_key_rows * n_keys AS DOUBLE) / n_rows, 6)"
                " AS skew_ratio",
                "round(CAST(t10 AS DOUBLE) / n_rows, 6) AS top10_share",
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("join_key")


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
# pipeline_dedup_threshold_sensitivity
# ---------------------------------------------------------------------------

_SENS_TAUS = [50, 60, 70, 80, 90]  # Jaccard thresholds, percent


def _sens_oracle() -> str:
    from .dedup import (
        _DUCK_BANDS_RANKED,
        _DUCK_CAND_WHERE,
        _DUCK_CODES,
        _SIG_ORACLE,
    )

    rows = "\n    UNION ALL\n    ".join(
        f"SELECT CAST({t} AS BIGINT) AS tau_pct,"
        f" CAST(count(CASE WHEN jac >= {t / 100} THEN 1 END) AS BIGINT)"
        f" AS n_pairs,"
        f" CAST(count(DISTINCT CASE WHEN jac >= {t / 100} THEN doc_b END)"
        f" AS BIGINT) AS n_docs_removed,"
        f" (SELECT CAST(count(*) AS BIGINT) FROM documents) AS docs_total,"
        f" round(CAST(count(DISTINCT CASE WHEN jac >= {t / 100}"
        f" THEN doc_b END) AS DOUBLE)"
        f" / (SELECT count(*) FROM documents), 6) AS pct_docs_removed"
        f" FROM pairs"
        for t in _SENS_TAUS
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS t
      FROM documents),
    codes AS MATERIALIZED (
      SELECT doc_id, list_distinct({_DUCK_CODES}) AS cs
      FROM (SELECT doc_id, array_to_string(t, ' ') AS text FROM toks) z),
    sigs AS (
      SELECT doc_id, {_SIG_ORACLE} FROM codes),
    bands AS (
      {_DUCK_BANDS_RANKED}),
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM bands x JOIN bands y
        ON x.band_no = y.band_no AND x.band_key = y.band_key
       AND x.doc_id < y.doc_id
      {_DUCK_CAND_WHERE}),
    pairs AS MATERIALIZED (
      SELECT c.doc_b,
             CAST(len(list_intersect(ta.cs, tb.cs)) AS DOUBLE)
             / len(list_distinct(ta.cs || tb.cs)) AS jac
      FROM cand c JOIN codes ta ON c.doc_a = ta.doc_id
                  JOIN codes tb ON c.doc_b = tb.doc_id
      WHERE CAST(len(list_intersect(ta.cs, tb.cs)) AS DOUBLE)
            / len(list_distinct(ta.cs || tb.cs)) >= 0.5)
    {rows}
    ORDER BY tau_pct
    """


@query("pipeline_dedup_threshold_sensitivity", oracle=_sens_oracle())
def pipeline_dedup_threshold_sensitivity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DEDUP THRESHOLD SENSITIVITY SHEET — "what happens if we lower
    tau": for Jaccard thresholds 0.5..0.9 over dedup_near_minhash's
    OWN banding candidates, the verified pair count, the number of
    docs the keep-first policy would remove, and the removed share of
    the corpus.  The curation counterpart to text_minhash_band_tuning
    (which sweeps the BANDING scheme at fixed tau; this sweeps TAU at
    the fixed production banding) — together they span the two knobs
    of the LSH dedup stage.  One verified-pair table at the loosest
    tau (0.5) feeds every row: the threshold is a post-filter on the
    exact Jaccard, so the sweep costs ONE candidate verify, not five.

    Parity: jac = |A∩B| / |A∪B| is the same single division of exact
    integers on both engines (numpy float64 == IEEE SQL double), and
    each tau literal is the same double text, so the >= compares are
    bit-identical; counts are exact; one round(6) share per row.

    Shape at 100 TB: the banding equi-join + Arrow verify kernel is
    dedup_near_minhash's scale-audited plan (side-file codes, 16
    B/pair across Arrow); the sweep itself is 5 conditional
    aggregates over the checkpointed pair table (Expand x5 on
    pairs-at-0.5, still map-side combinable)."""
    from .dedup import _minhash_verified_pairs

    # session-cached ckpt pair table at the loosest tau (threshold is
    # a kernel post-filter; same codes side-file as the 0.7 op) —
    # referenced by all 5 tau rows
    pairs = _minhash_verified_pairs(spark, sf_dir, 0.5).select(
        "doc_b", "jac"
    )
    docs_total = (
        table(spark, sf_dir, "documents")
        .agg(F.count("*").cast("bigint").alias("docs_total"))
    )
    out = None
    for t in _SENS_TAUS:
        row = (
            pairs.agg(
                F.expr(
                    f"CAST(count(CASE WHEN jac >= {t / 100} THEN 1 END)"
                    " AS BIGINT)"
                ).alias("n_pairs"),
                F.expr(
                    f"CAST(count(DISTINCT CASE WHEN jac >= {t / 100}"
                    " THEN doc_b END) AS BIGINT)"
                ).alias("n_docs_removed"),
            )
            .crossJoin(F.broadcast(docs_total))
            .selectExpr(
                f"CAST({t} AS BIGINT) AS tau_pct",
                "n_pairs",
                "n_docs_removed",
                "docs_total",
                "round(CAST(n_docs_removed AS DOUBLE) / docs_total, 6)"
                " AS pct_docs_removed",
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("tau_pct")


# ---------------------------------------------------------------------------
# agg_holm_bonferroni
# ---------------------------------------------------------------------------

_HOLM_ALPHA = "CAST(0.05 AS DOUBLE)"  # FWER level


def _holm_oracle() -> str:
    from .analytics9 import _SIGNTEST_PV_CTES

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
    from .analytics9 import _pairwise_signtest_pvalues

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
# text_vocab_coverage_topn
# ---------------------------------------------------------------------------

_VC_NS = [10, 50, 100, 500, 1000]


def _vc_oracle() -> str:
    rows = "\n    UNION ALL\n    ".join(
        f"SELECT CAST({n} AS BIGINT) AS top_n, v.vocab_size,"
        f" v.tokens_total,"
        f" (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) FROM ("
        f"   SELECT c FROM tf ORDER BY c DESC, term LIMIT {n}) t)"
        f" AS tokens_covered,"
        f" round(CAST((SELECT coalesce(sum(c), 0) FROM ("
        f"   SELECT c FROM tf ORDER BY c DESC, term LIMIT {n}) t)"
        f" AS DOUBLE) / v.tokens_total, 6) AS coverage"
        f" FROM v"
        for n in _VC_NS
    )
    return f"""
    WITH tf AS MATERIALIZED (
      SELECT u.tok AS term, CAST(count(*) AS BIGINT) AS c
      FROM documents, unnest(string_split(text, ' ')) AS u(tok)
      WHERE u.tok <> ''
      GROUP BY u.tok),
    v AS (
      SELECT CAST(count(*) AS BIGINT) AS vocab_size,
             CAST(sum(c) AS BIGINT) AS tokens_total
      FROM tf)
    {rows}
    ORDER BY top_n
    """


@query("text_vocab_coverage_topn", oracle=_vc_oracle())
def text_vocab_coverage_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP-N VOCABULARY COVERAGE CURVE — what share of all token
    OCCURRENCES the N most frequent types cover, for N = 10..1000:
    the tokenizer-budget read (how small a vocab still covers 95% of
    the stream decides the BPE budget pipeline_bpe_merges spends) and
    the OOV-rate planner's table.  Family placement: agg_heaps_law_fit
    models vocabulary GROWTH with corpus size, text_zipf_slope the
    rank-frequency EXPONENT; this op is the operational integral of
    the Zipf curve — cumulative mass at fixed rank cuts.  Tie note:
    coverage is tie-insensitive (tied types at the cutoff contribute
    the same count whichever enters), but the pick is still
    deterministic via the (count DESC, term) order.

    Parity: counts exact; one round(6) coverage division per row.

    Shape at 100 TB: one explode + vocabulary-keyed count (the
    reusable tf artifact), then each cut is a TakeOrderedAndProject
    top-N heap merge over the vocabulary frame — never a global
    row_number (round-6 rule); the five cuts reuse one checkpointed
    tf frame."""
    d = table(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(F.split("text", " ")).alias("term"))
        .where(F.col("term") != "")
        .groupBy("term")
        .agg(F.count("*").cast("bigint").alias("c"))
        .localCheckpoint()  # vocabulary frame read by 5 cuts + totals
    )
    v = tf.agg(
        F.count("*").cast("bigint").alias("vocab_size"),
        F.sum("c").cast("bigint").alias("tokens_total"),
    )
    out = None
    for n in _VC_NS:
        cov = (
            tf.orderBy(F.col("c").desc(), "term")
            .limit(n)
            .agg(
                F.expr("CAST(coalesce(sum(c), 0) AS BIGINT)").alias(
                    "tokens_covered"
                )
            )
        )
        row = (
            v.crossJoin(F.broadcast(cov))
            .selectExpr(
                f"CAST({n} AS BIGINT) AS top_n",
                "vocab_size",
                "tokens_total",
                "tokens_covered",
                "round(CAST(tokens_covered AS DOUBLE) / tokens_total, 6)"
                " AS coverage",
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("top_n")
