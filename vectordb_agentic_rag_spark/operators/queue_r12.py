"""Round-12 DEFERRED queue — implemented and pytest-covered in round
11, registered when round 12's verification window has room (the
registry's deferred-registration contract: the round-11 window closed
at exactly 50 never-checked ops, so these names must not displace any
of them).  Flip this module into `_OPERATOR_MODULES` at round-12
start.

Ops:
- win_lindley_queue_backlog — the Lindley recursion b_d = max(0,
  b_{d-1} + arrivals_d - capacity) over the daily event counts at
  capacity = the long-run mean: the capacity-planning view
  (backlog/overload days) next to win_token_bucket (admission) and
  stream_token_bucket_live; pure-BIGINT fold.
- pipeline_filter_ablation — leave-one-out ablation of the five
  Gopher quality gates: for each gate, how many documents the corpus
  keeps when ONLY that gate is dropped — the marginal-strictness
  sheet an engineer reads before tuning thresholds (the column
  text_gopher_rules itself cannot show, since a doc can fail several
  gates at once).
- agg_dkw_cdf_bands — Dvoretzky-Kiefer-Wolfowitz 95% confidence bands
  for the event-value ECDF at the nine deciles: the distribution-free
  uncertainty a drift monitor (agg_psi_drift, agg_ks_test_two_sample)
  should compare its deltas against.
- agg_survival_rmst — restricted mean survival time at 30/60/120 min,
  the area under agg_kaplan_meier's curve (composed VERBATIM — the KM
  oracle text re-enters as a CTE): the scalar survival summary next
  to the curve/logrank/lifetable trio.
- agg_forecast_mase — Hyndman-Koehler MASE for the seasonal-naive-7
  and mean forecasters on per-type daily revenue, scaled by the
  in-sample naive-1 MAE (the scale-free companion to
  win_seasonal_naive_mae's raw MAE).
- graph_diameter_double_sweep — Magnien-Latapy-Habib double-sweep
  diameter lower bound on the co-purchase graph (measured 3/13/5 at
  sf0.001/0.01/0.1): the metric-structure number every iterative
  graph-op budget in this tree cites.
- stream_lindley_backlog_live — the live twin of the Lindley
  recursion (close-on-day-rollover emission, batch-minus-last-day
  oracle; day-1-calibrated capacity).
- source_xml_roundtrip — Spark 4 built-in XML write/read-back of
  nation (lossless vs the parquet original; completes the source
  format family).
- pipeline_alpha_sampling_weights — XLM-R alpha=0.5 temperature
  sampling weights per source (round(9)-quantized sqrt terms,
  DECIMAL normalizer).
- agg_mediation_product — Baron-Kenny product-of-coefficients
  mediation (arm -> activity -> revenue) from exact n-scaled moments;
  pytest pins total = direct + indirect.
- win_ewma_control_chart — EWMA control chart with time-varying
  limits (moving-range sigma / d2; lam/(2-lam) written as
  CAST(1 AS DOUBLE)/7 — the decimal-literal trap dodged).
- dedup_minhash_estimate_error — signature-estimate vs exact-Jaccard
  error histogram + MAE over the verified pairs (the estimator-
  quality leg of the band-tuning/threshold-sensitivity trio).
- rag_context_dedup_pack — near-dup-aware greedy context packing
  (BM25 top-20, drop verified near-dups of already-packed docs,
  300-token budget; pure-integer fold, recursive-CTE twin).
- vec_matryoshka_recall_sweep — exact top-3 recall of prefix-truncated
  embeddings (16/32/48/64 dims) vs the full-dim ground truth: one
  scan, one shuffle (four rank windows share the query partitioning);
  the dim-64 row self-checks at recall 1.
- agg_tail_dependence_lambda — empirical upper/lower tail-dependence
  between per-user activity and revenue (exact value-domain decile
  picks; the copula diagnostic Pearson/Spearman cannot see).

Reference analogue: none in /root/reference/app.py — QA/ops surface
(SURVEY §2C).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..tables import table

# ---------------------------------------------------------------------------
# win_lindley_queue_backlog
# ---------------------------------------------------------------------------


@query(
    "win_lindley_queue_backlog",
    oracle="""
    WITH RECURSIVE d AS (
      SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS a
      FROM events GROUP BY 1),
    cap AS (
      SELECT CAST(sum(a) // count(*) AS BIGINT) AS c FROM d),
    s AS (
      SELECT day, a, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn
      FROM d),
    r AS (
      SELECT s.rn, s.day, s.a,
             greatest(CAST(0 AS BIGINT), s.a - cap.c) AS b
      FROM s, cap WHERE s.rn = 1
      UNION ALL
      SELECT s.rn, s.day, s.a,
             greatest(CAST(0 AS BIGINT), r.b + s.a - cap.c)
      FROM r JOIN s ON s.rn = r.rn + 1, cap)
    SELECT r.day, r.a AS arrivals, cap.c AS capacity, r.b AS backlog,
           CASE WHEN r.b > 0 THEN 1 ELSE 0 END AS overloaded
    FROM r, cap
    ORDER BY r.day
    """,
)
def win_lindley_queue_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINDLEY QUEUE-BACKLOG RECURSION over the daily event series:
    with service capacity fixed at the long-run daily mean (total
    events div days), the end-of-day backlog is b_d = max(0, b_{d-1}
    + arrivals_d - capacity) — the single-server queueing identity
    capacity planners replay to see how bursts ACCUMULATE (a day 20%
    over mean is invisible to win_zscore_outlier if drained next day,
    and a week of 5%-over days is invisible pointwise but grows a
    real backlog here).  Completes the rate-control family:
    win_token_bucket / stream_token_bucket_live decide per-event
    ADMISSION; this op sizes the queue behind an always-admit system.

    Parity: arrivals, capacity, and the fold are pure BIGINT (max and
    +/- only — no floats anywhere); Spark folds each day's prefix via
    aggregate() over the sorted 30-day array (croston machinery),
    DuckDB steps the identical expression in a recursive CTE.

    Shape at 100 TB: the fact scan collapses to the 30-row day domain
    in one map-side-combined aggregate; the fold runs on one bounded
    array (shard by queue/series key for a multi-queue corpus)."""
    ev = table(spark, sf_dir, "events")
    d = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count("*").cast("bigint").alias("a")
    )
    cap = d.agg(
        F.expr("CAST(sum(a) div count(*) AS BIGINT)").alias("c")
    )
    one = d.crossJoin(F.broadcast(cap)).groupBy("c").agg(
        F.sort_array(F.collect_list(F.struct("day", "a"))).alias("qs")
    )
    rows = one.select(
        "c",
        F.expr(
            "transform(sequence(1, CAST(size(qs) AS INT)), i ->"
            " named_struct("
            "'day', element_at(qs, i).day,"
            "'a', element_at(qs, i).a,"
            "'b', aggregate(slice(qs, 1, i), CAST(0 AS BIGINT),"
            " (s, x) -> greatest(CAST(0 AS BIGINT), s + x.a - c))))"
        ).alias("rs"),
    )
    return (
        rows.select("c", F.explode("rs").alias("r"))
        .selectExpr(
            "r.day AS day",
            "r.a AS arrivals",
            "c AS capacity",
            "r.b AS backlog",
            "CASE WHEN r.b > 0 THEN 1 ELSE 0 END AS overloaded",
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# pipeline_filter_ablation
# ---------------------------------------------------------------------------


def _ablation_sql(dialect: str) -> str:
    from .analytics2 import (
        _GOPHER_MAX_DUPF,
        _GOPHER_MAX_MWL,
        _GOPHER_MAX_TOPR,
        _GOPHER_MAX_WORDS,
        _GOPHER_MIN_MWL,
        _GOPHER_MIN_STOP,
        _GOPHER_MIN_WORDS,
    )

    if dialect == "duck":
        metrics = """
      SELECT doc_id,
             len(tk) AS n_words,
             round((n_chars - len(tk) + 1.0) / len(tk), 6) AS mwl,
             len(list_filter(tk, w -> w IN ('the', 'a'))) AS stop_hits,
             CASE WHEN len(tk) >= 2 THEN
               round(1.0 - len(list_distinct(list_transform(
                       generate_series(1, len(tk) - 1),
                       i -> list_extract(tk, i) || ' '
                            || list_extract(tk, i + 1))))
                     / (len(tk) - 1.0), 6)
             ELSE 0.0 END AS dupf,
             round(list_max(list_transform(list_distinct(tk),
                     w -> len(list_filter(tk, x -> x = w))))
                   / (len(tk) * 1.0), 6) AS topr"""
        toks = "SELECT doc_id, string_split(text, ' ') AS tk, n_chars FROM documents"
        mat = " MATERIALIZED"  # DuckDB inlines every CTE reference
        fan = """
    SELECT 'all' AS stage, keep_all AS n_keep, keep_all, n_total FROM agg
    UNION ALL SELECT '1_words', wo1, keep_all, n_total FROM agg
    UNION ALL SELECT '2_word_len', wo2, keep_all, n_total FROM agg
    UNION ALL SELECT '3_stopwords', wo3, keep_all, n_total FROM agg
    UNION ALL SELECT '4_dup_bigram', wo4, keep_all, n_total FROM agg
    UNION ALL SELECT '5_top_word', wo5, keep_all, n_total FROM agg"""
    else:
        metrics = """
      SELECT doc_id,
             size(tk) AS n_words,
             round((n_chars - size(tk) + 1.0) / size(tk), 6) AS mwl,
             size(filter(tk, w -> w IN ('the', 'a'))) AS stop_hits,
             CASE WHEN size(tk) >= 2 THEN
               round(1.0 - size(array_distinct(transform(
                       sequence(1, size(tk) - 1),
                       i -> concat(element_at(tk, i), ' ',
                                   element_at(tk, i + 1)))))
                     / (size(tk) - 1.0), 6)
             ELSE 0.0 END AS dupf,
             round(array_max(transform(array_distinct(tk),
                     w -> size(filter(tk, x -> x = w))))
                   / (size(tk) * 1.0), 6) AS topr"""
        toks = "SELECT doc_id, split(text, ' ') AS tk, n_chars FROM documents"
        mat = ""
        fan = """
    SELECT stage, n_keep, keep_all, n_total FROM agg
    LATERAL VIEW stack(6,
      'all', keep_all,
      '1_words', wo1,
      '2_word_len', wo2,
      '3_stopwords', wo3,
      '4_dup_bigram', wo4,
      '5_top_word', wo5) AS stage, n_keep"""
    gates = [
        f"CASE WHEN n_words BETWEEN {_GOPHER_MIN_WORDS} AND"
        f" {_GOPHER_MAX_WORDS} THEN 1 ELSE 0 END",
        f"CASE WHEN mwl BETWEEN {_GOPHER_MIN_MWL} AND {_GOPHER_MAX_MWL}"
        " THEN 1 ELSE 0 END",
        f"CASE WHEN stop_hits >= {_GOPHER_MIN_STOP} THEN 1 ELSE 0 END",
        f"CASE WHEN dupf <= {_GOPHER_MAX_DUPF} THEN 1 ELSE 0 END",
        f"CASE WHEN topr <= {_GOPHER_MAX_TOPR} THEN 1 ELSE 0 END",
    ]
    gcols = ",\n             ".join(
        f"({g}) AS g{i}" for i, g in enumerate(gates, 1)
    )
    prod_all = " * ".join(f"g{i}" for i in range(1, 6))
    wo = ",\n             ".join(
        "CAST(sum("
        + " * ".join(f"g{j}" for j in range(1, 6) if j != i)
        + f") AS BIGINT) AS wo{i}"
        for i in range(1, 6)
    )
    return f"""
    WITH m AS (
      {toks}),
    s AS ({metrics}
      FROM m),
    f AS (
      SELECT doc_id,
             {gcols}
      FROM s),
    agg AS{mat} (
      SELECT CAST(count(*) AS BIGINT) AS n_total,
             CAST(sum({prod_all}) AS BIGINT) AS keep_all,
             {wo}
      FROM f)
    SELECT stage, n_keep, n_keep - keep_all AS marginal_removed_by_gate,
           n_total,
           round(CAST(n_keep AS DOUBLE) / n_total, 6) AS keep_rate
    FROM ({fan}) u
    ORDER BY stage
    """


@query("pipeline_filter_ablation", oracle=_ablation_sql("duck"))
def pipeline_filter_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAVE-ONE-OUT ABLATION of the five Gopher quality gates
    (text_gopher_rules' exact thresholds): for each gate, the corpus
    keep-count when ONLY that gate is dropped, and the marginal
    document count that gate ALONE removes (n_keep - keep_all) — the
    threshold-tuning sheet a curation engineer reads that the per-doc
    keep_flag cannot show, because a document failing several gates
    at once is invisible to single-gate counts.  Completes the
    curation-funnel family: pipeline_curation_funnel measures the
    SEQUENTIAL funnel; this op measures each gate's UNIQUE
    contribution.

    Parity: the five metric expressions mirror text_gopher_rules
    verbatim INCLUDING its round(...,6) on the three ratio metrics —
    so this op's 'all' keep-count equals the sibling's keep_flag sum
    by construction, not just numerically; counts are exact integers,
    flags compare identical doubles, one round(6) rate at the edge.

    Shape at 100 TB: ONE narrow map pass computes all five flags; one
    1-row conditional aggregate (map-side combined) carries the six
    counts; the fan-out to 6 stage rows is a Spark stack() over that
    single 1-row reference (no UNION re-derivation — and the DuckDB
    twin's agg CTE is MATERIALIZED for the same reason)."""
    d = table(spark, sf_dir, "documents")
    d.createOrReplaceTempView("documents")
    return spark.sql(_ablation_sql("spark"))


# ---------------------------------------------------------------------------
# agg_dkw_cdf_bands
# ---------------------------------------------------------------------------

# ln(2/alpha) at alpha = 0.05, as the exact shortest-repr double both
# engines parse identically (driver-side constant — the seq_norm rule)
_DKW_LN_2A = repr(3.6888794541139363)


def _dkw_sql(dialect: str) -> str:
    cents = (
        "CAST(round(value * 100, 0) AS BIGINT)"
        if dialect == "duck"
        else "CAST(value * 100 + 0.5 AS BIGINT)"
    )
    picks = ",\n             ".join(
        f"min(CASE WHEN 10 * cum >= {d} * n THEN v END) AS x{d}"
        for d in range(1, 10)
    )
    if dialect == "duck":
        mat = " MATERIALIZED"
        fan = "\n      UNION ALL ".join(
            f"SELECT {d} AS decile, x{d} AS x FROM p" for d in range(1, 10)
        )
    else:
        mat = ""
        fan = (
            "SELECT stage AS decile, x FROM p LATERAL VIEW stack(9, "
            + ", ".join(f"{d}, x{d}" for d in range(1, 10))
            + ") AS stage, x"
        )
    head = f"""
    WITH e AS (
      SELECT {cents} AS v FROM events),
    g AS (
      SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM e GROUP BY v),
    c AS{mat} (
      SELECT v, cnt,
             sum(cnt) OVER (ORDER BY v) AS cum,
             sum(cnt) OVER () AS n
      FROM g)
    """
    tail = f"""
    WITH p AS{mat} (
      SELECT {picks}
      FROM c),
    dx AS (
      {fan}),
    ec AS (
      SELECT dx.decile, dx.x, c.cum, c.n
      FROM dx JOIN c ON c.v = dx.x),
    b AS (
      SELECT decile, x, cum, n,
             CAST(cum AS DOUBLE) / n AS ecdf,
             sqrt({_DKW_LN_2A} / (2.0 * n)) AS eps
      FROM ec)
    SELECT CAST(decile AS BIGINT) AS decile, x AS value_cents,
           round(ecdf, 6) AS ecdf,
           round(greatest(0.0, ecdf - eps), 6) AS band_lo,
           round(least(1.0, ecdf + eps), 6) AS band_hi,
           round(eps, 6) AS eps
    FROM b ORDER BY decile
    """
    if dialect == "duck":
        return head + ", " + tail.split("WITH ", 1)[1]
    return head, tail


def _dkw_oracle() -> str:
    return _dkw_sql("duck")


@query("agg_dkw_cdf_bands", oracle=_dkw_oracle())
def agg_dkw_cdf_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DVORETZKY-KIEFER-WOLFOWITZ 95% CONFIDENCE BANDS for the
    event-value ECDF at the nine deciles: the distribution-free
    simultaneous band eps = sqrt(ln(2/alpha) / 2n) every
    ECDF-comparison monitor should subtract before alarming — the
    uncertainty quantifier for the drift family (agg_psi_drift's bin
    deltas, agg_ks_test_two_sample's D statistic: a D below eps_a +
    eps_b is indistinguishable from sampling noise).

    Parity: decile abscissas are exact lower-empirical picks over the
    integer-cents value domain (smallest v with 10*cum >= d*n — all
    integer compares); ecdf divides exact integers; ln(2/alpha) is a
    DRIVER-SIDE constant injected as the identical shortest-repr
    double literal on both engines (the seq_norm rule — no in-plan
    ln() to drift cross-libm), so eps is one correctly-rounded sqrt
    of identical doubles; round(6) at the edge.

    Shape at 100 TB: one map-side-combined groupBy over the
    value-RANGE-bounded cents domain; the cumulative window runs on
    that bounded domain frame (the SURVEY round-11 window
    classification's distinct-cents family).  The domain frame `c` is
    localCheckpoint-ed before its two references (the decile-pick
    aggregate and the ecdf join-back) — the bounded-intermediate rule;
    the DuckDB twin marks the same CTE MATERIALIZED."""
    ev = table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("events")
    head, tail = _dkw_sql("spark")
    cf = spark.sql(head + "\n    SELECT * FROM c").localCheckpoint()
    cf.createOrReplaceTempView("dkw_c_ckpt")
    return spark.sql(
        tail.replace("FROM c", "FROM dkw_c_ckpt c").replace(
            "JOIN c ON", "JOIN dkw_c_ckpt c ON"
        )
    )


# ---------------------------------------------------------------------------
# agg_survival_rmst
# ---------------------------------------------------------------------------

_RMST_TAUS = [30, 60, 120]  # restriction horizons, minutes


def _rmst_oracle() -> str:
    from ..registry import ORACLES
    from .analytics4 import agg_kaplan_meier  # noqa: F401 — registers KM

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
    from .analytics4 import agg_kaplan_meier

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


# ---------------------------------------------------------------------------
# graph_diameter_double_sweep
# ---------------------------------------------------------------------------

_DS_ROUNDS = 16  # BFS budget per sweep (measured to exhaustion:
# ecc_seed/diameter_lb = 3/3 at sf0.001, 9/13 at sf0.01, 3/5 at
# sf0.1 — 16 covers the max 13 with margin, and the Spark side
# RAISES if a frontier survives the budget)


def _ds_levels(tag: str, seed_cte: str) -> str:
    parts = [
        f"""
    {tag}_l0 AS (SELECT v, 0 AS depth FROM {seed_cte}),
    {tag}_vis0 AS (SELECT v, depth FROM {tag}_l0)"""
    ]
    for d in range(1, _DS_ROUNDS + 1):
        parts.append(f"""
    {tag}_l{d} AS MATERIALIZED (
      SELECT DISTINCT de.n AS v, {d} AS depth
      FROM {tag}_l{d - 1} p JOIN dedges de ON de.m = p.v
      WHERE NOT EXISTS (SELECT 1 FROM {tag}_vis{d - 1} x
                        WHERE x.v = de.n)),
    {tag}_vis{d} AS MATERIALIZED (
      SELECT * FROM {tag}_vis{d - 1}
      UNION ALL SELECT v, depth FROM {tag}_l{d})""")
    return ",".join(parts)


def _ds_oracle() -> str:
    return f"""
    WITH os AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM os a JOIN os b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2),
    dedges AS MATERIALIZED (
      SELECT u AS m, v AS n FROM e UNION ALL SELECT v AS m, u AS n FROM e),
    deg AS (SELECT m, count(*) AS dg FROM dedges GROUP BY m),
    seed AS MATERIALIZED (
      SELECT m AS v FROM deg ORDER BY dg DESC, m LIMIT 1),
    {_ds_levels("s1", "seed")},
    far AS MATERIALIZED (
      SELECT v FROM s1_vis{_DS_ROUNDS} ORDER BY depth DESC, v LIMIT 1),
    {_ds_levels("s2", "far")}
    SELECT (SELECT v FROM seed) AS seed_node,
           (SELECT max(depth) FROM s1_vis{_DS_ROUNDS})
             AS ecc_seed,
           (SELECT v FROM far) AS far_node,
           (SELECT max(depth) FROM s2_vis{_DS_ROUNDS})
             AS diameter_lower_bound,
           (SELECT CAST(count(*) AS BIGINT) FROM s1_vis{_DS_ROUNDS})
             AS n_reached
    """


@query("graph_diameter_double_sweep", oracle=_ds_oracle())
def graph_diameter_double_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DOUBLE-SWEEP DIAMETER LOWER BOUND (Magnien-Latapy-Habib) on the
    support-2 part co-purchase graph: BFS from the top-degree node,
    take the FARTHEST node found (deterministic tie-break: max depth,
    min id), BFS again from there — the second eccentricity is the
    classic tight lower bound on the component's diameter at the cost
    of two BFS passes (exact diameter is all-pairs).  The graph-SCALE
    number that tells an engineer how many iterative rounds any
    message-passing op on this graph needs (the in-tree BFS/CC/core
    budgets cite exactly this quantity) — completing the graph family
    with the metric-structure view next to graph_bfs_reach_layers
    (one-seed reach) and graph_closeness_seeds (distance sums).

    Parity: pure-integer BFS levels (DISTINCT frontier minus visited,
    depth counters); both sweeps and the argmax picks are integer
    compares with id tie-breaks; no floats anywhere.  The DuckDB twin
    unrolls _DS_ROUNDS = 16 MATERIALIZED levels per sweep (extra
    rounds past frontier death are empty — identity unions); the
    Spark side runs the same 16 rounds unconditionally and RAISES if
    a frontier survives the budget, so a fixture regrowth cannot
    silently truncate (the graph_kcore convention).

    Shape at 100 TB: the fact table collapses once to the
    checkpointed edge list; each BFS level is one keyed equi-join +
    LEFT-ANTI visited join over frames bounded by the reached
    component; level frames localCheckpoint before re-reference."""
    from .analytics4 import _copurchase_edges

    e = _copurchase_edges(spark, sf_dir)
    dedges = (
        e.select(F.col("u").alias("m"), F.col("v").alias("n"))
        .unionAll(e.select(F.col("v").alias("m"), F.col("u").alias("n")))
        .localCheckpoint()
    )
    seed = (
        dedges.groupBy("m")
        .agg(F.count("*").alias("dg"))
        .orderBy(F.col("dg").desc(), "m")
        .limit(1)
        .select(F.col("m").alias("v"))
    )

    def sweep(seed_df):
        vis = seed_df.select(
            "v", F.lit(0).cast("int").alias("depth")
        ).localCheckpoint()
        frontier = vis
        for d in range(1, _DS_ROUNDS + 1):
            nxt = (
                frontier.join(dedges, frontier.v == dedges.m)
                .select(F.col("n").alias("v"))
                .distinct()
                .join(vis.select(F.col("v").alias("xv")),
                      F.col("v") == F.col("xv"), "left_anti")
                .select("v", F.lit(d).cast("int").alias("depth"))
                .localCheckpoint()
            )
            vis = vis.unionAll(nxt).localCheckpoint()
            frontier = nxt
        # budget assert: frontier past the last budgeted round must be
        # EMPTY or the bound below would be silently truncated
        leftover = (
            frontier.join(dedges, frontier.v == dedges.m)
            .select(F.col("n").alias("v"))
            .distinct()
            .join(vis.select(F.col("v").alias("xv")),
                  F.col("v") == F.col("xv"), "left_anti")
            .count()
        )
        if leftover:
            raise ValueError(
                f"double-sweep BFS frontier alive past {_DS_ROUNDS} rounds"
            )
        return vis

    vis1 = sweep(seed)
    far = vis1.orderBy(F.col("depth").desc(), "v").limit(1).select("v")
    vis2 = sweep(far)
    a = vis1.agg(
        F.max("depth").alias("ecc_seed"),
        F.count("*").cast("bigint").alias("n_reached"),
    )
    b = vis2.agg(F.max("depth").alias("diameter_lower_bound"))
    return (
        seed.select(F.col("v").alias("seed_node"))
        .crossJoin(F.broadcast(a))
        .crossJoin(F.broadcast(far.select(F.col("v").alias("far_node"))))
        .crossJoin(F.broadcast(b))
        .select(
            "seed_node",
            "ecc_seed",
            "far_node",
            "diameter_lower_bound",
            "n_reached",
        )
    )


# ---------------------------------------------------------------------------
# stream_lindley_backlog_live
# ---------------------------------------------------------------------------


@query(
    "stream_lindley_backlog_live",
    # Full oracle via the CLOSE-ON-ROLLOVER identity (the round-7
    # sessionizer trick): a day emits exactly once, when the first
    # event of a LATER day folds, so the drained table equals the
    # batch Lindley recursion minus the never-closed LAST day — for
    # any batching of the time-ordered replay.
    oracle="""
    WITH RECURSIVE d AS (
      SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS a
      FROM events GROUP BY 1),
    cap AS (
      SELECT a AS c FROM d WHERE day = (SELECT min(day) FROM d)),
    s AS (
      SELECT day, a, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn
      FROM d),
    r AS (
      SELECT s.rn, s.day, s.a,
             greatest(CAST(0 AS BIGINT), s.a - cap.c) AS b
      FROM s, cap WHERE s.rn = 1
      UNION ALL
      SELECT s.rn, s.day, s.a,
             greatest(CAST(0 AS BIGINT), r.b + s.a - cap.c)
      FROM r JOIN s ON s.rn = r.rn + 1, cap)
    SELECT r.day, r.a AS arrivals, cap.c AS capacity, r.b AS backlog,
           CASE WHEN r.b > 0 THEN 1 ELSE 0 END AS overloaded
    FROM r, cap
    WHERE r.day < (SELECT max(day) FROM d)
    ORDER BY r.day
    """,
)
def stream_lindley_backlog_live(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LIVE LINDLEY BACKLOG MONITOR via applyInPandasWithState — the
    streaming twin of win_lindley_queue_backlog, ticking the queue
    recursion ONLINE: state carries (current day, its running count,
    the carried backlog, the calibrated capacity); when the first
    event of a later day folds, the closed day emits its backlog row.
    Capacity calibrates to the FIRST day's throughput (an online
    monitor cannot know the long-run mean in advance — day-1 is its
    baseline; the batch sibling uses the full-series mean, and the
    two are deliberately different estimators of the same recursion).

    Full oracle: close-on-rollover means a day emits exactly once
    regardless of batching (the stream_gap_sessionize_live identity),
    so the drained table equals the batch recursion MINUS the final
    never-closed day — the WHERE day < max(day) twin.  The fold is
    pure BIGINT.  Calendar days with NO events are SKIPPED (cur_day
    jumps to the next populated day without emitting or draining),
    mirroring the oracle's present-days-only recursion — so the
    identity survives a fixture regeneration with empty days
    (ADVICE r11; the fixture itself populates all 30 days).

    Bounded state (4 int64 for the whole queue; shard by queue key
    for a multi-queue deployment — the single global key here mirrors
    the one-queue contract and is the documented scale limit: one
    queue's ORDERED recursion is inherently sequential, so the
    per-key state store IS the right shape)."""
    from ..streaming.core import _lindley_live_impl

    return _lindley_live_impl(spark, sf_dir)


# ---------------------------------------------------------------------------
# source_xml_roundtrip
# ---------------------------------------------------------------------------


@query(
    "source_xml_roundtrip",
    oracle="""
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
           n_name,
           CAST(n_regionkey AS BIGINT) AS n_regionkey
    FROM nation ORDER BY n_nationkey
    """,
)
def source_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML write + read-back of the nation table via Spark 4's
    BUILT-IN xml data source (rowTag records) — the last ubiquitous
    interchange format missing from the source family (csv, jsonl,
    json-props, orc, text, binary, corrupt-permissive all exist).
    The oracle runs on the ORIGINAL parquet, so a value match proves
    the XML round-trip is lossless for scalar columns.

    Parity: XML inference types integers as BIGINT; both sides cast
    the keys explicitly (fixture integer widths differ per sf — the
    tables.py rule), and strings pass through verbatim (ASCII
    fixture).

    Shape at 100 TB: XML is a row format with no pushdown — the
    docstring's contract is interchange, not analytics; the read
    plan is a full scan by design and real pipelines convert to
    parquet on ingest (this op IS that converter's two halves)."""
    from ..tables import SCRATCH, sf_tag, table as t

    out = f"{SCRATCH}/sources/nation_xml_{sf_tag(sf_dir)}"
    (
        t(spark, sf_dir, "nation")
        .selectExpr(
            "CAST(n_nationkey AS BIGINT) AS n_nationkey",
            "n_name",
            "CAST(n_regionkey AS BIGINT) AS n_regionkey",
        )
        .write.mode("overwrite")
        .option("rootTag", "nations")
        .option("rowTag", "nation")
        .format("xml")
        .save(out)
    )
    return (
        spark.read.format("xml")
        .option("rowTag", "nation")
        .load(out)
        .selectExpr(
            "CAST(n_nationkey AS BIGINT) AS n_nationkey",
            "n_name",
            "CAST(n_regionkey AS BIGINT) AS n_regionkey",
        )
        .orderBy("n_nationkey")
    )


# ---------------------------------------------------------------------------
# pipeline_alpha_sampling_weights
# ---------------------------------------------------------------------------


def _alpha_sql(dialect: str) -> str:
    split = (
        "len(string_split(text, ' '))"
        if dialect == "duck"
        else "size(split(text, ' '))"
    )
    mat = " MATERIALIZED" if dialect == "duck" else ""
    return f"""
    WITH cur AS{mat} (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum({split}) AS BIGINT) AS tokens
      FROM documents GROUP BY source),
    tot AS (
      SELECT CAST(sum(tokens) AS BIGINT) AS total_tokens FROM cur),
    q AS (
      SELECT source, n_docs, tokens, total_tokens,
             CAST(round(sqrt(CAST(tokens AS DOUBLE) / total_tokens), 9)
                  AS DECIMAL(28,9)) AS qt
      FROM cur CROSS JOIN tot),
    z AS (
      SELECT *, (SELECT CAST(sum(qt) AS DECIMAL(38,9)) FROM q) AS zq
      FROM q)
    SELECT source, n_docs, tokens,
           round(CAST(tokens AS DOUBLE) / total_tokens, 6) AS p_frac,
           round(CAST(qt AS DOUBLE) / CAST(zq AS DOUBLE), 6)
             AS alpha_weight,
           round((CAST(qt AS DOUBLE) / CAST(zq AS DOUBLE))
                 / (CAST(tokens AS DOUBLE) / total_tokens), 6) AS boost
    FROM z ORDER BY source
    """


@query("pipeline_alpha_sampling_weights", oracle=_alpha_sql("duck"))
def pipeline_alpha_sampling_weights(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ALPHA-TEMPERATURE SAMPLING WEIGHTS (alpha = 0.5) per source —
    the XLM-R / mT5 multilingual mixing rule q_i ~ p_i^alpha: small
    sources get up-weighted (boost > 1), dominant sources damped,
    without the hand-set targets pipeline_mixture_reweight needs
    (that op takes target fractions as CONFIG; this one derives the
    standard size-based smoothing every multilingual pretraining run
    starts from).

    Parity: p_i divides exact token counts; sqrt is correctly-rounded
    IEEE on identical doubles; each q-term quantizes round(9) into
    DECIMAL(28,9) BEFORE the cross-source normalizer sum (the
    dynamic-BM25 rule — a 20-source float sum has no pinned order),
    and the final weights divide the exact decimal sum once,
    round(6).

    Shape at 100 TB: one map-side-combined per-source aggregate, a
    1-row total, and a |sources|-row projection — the same shape as
    pipeline_mixture_reweight."""
    d = table(spark, sf_dir, "documents")
    d.createOrReplaceTempView("documents")
    return spark.sql(_alpha_sql("spark"))


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


# ---------------------------------------------------------------------------
# win_ewma_control_chart
# ---------------------------------------------------------------------------

_EWMA_CC_LAM = 0.25  # binary-exact smoothing
_EWMA_CC_D2 = "1.128"  # Shewhart d2 for n=2 (moving range), shared literal


@query(
    "win_ewma_control_chart",
    oracle=f"""
    WITH RECURSIVE d AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS x
      FROM events GROUP BY 1),
    s AS (
      SELECT day, x,
             CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn
      FROM d),
    g AS (
      SELECT CAST(sum(x) AS BIGINT) AS sx,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(abs(x - xp)) AS BIGINT) AS smr,
             CAST(count(xp) AS BIGINT) AS nmr
      FROM (SELECT x, lag(x) OVER (ORDER BY day) AS xp FROM d) t),
    p AS (
      SELECT CAST(sx AS DOUBLE) / n AS mu0,
             CAST(smr AS DOUBLE) / nmr / {_EWMA_CC_D2} AS sigma
      FROM g),
    r AS (
      SELECT s.rn, s.day, s.x,
             {_EWMA_CC_LAM} * CAST(s.x AS DOUBLE)
               + {1 - _EWMA_CC_LAM} * p.mu0 AS z,
             CAST({1 - _EWMA_CC_LAM} AS DOUBLE)
               * {1 - _EWMA_CC_LAM} AS pw
      FROM s, p WHERE s.rn = 1
      UNION ALL
      SELECT s.rn, s.day, s.x,
             {_EWMA_CC_LAM} * CAST(s.x AS DOUBLE)
               + {1 - _EWMA_CC_LAM} * r.z,
             r.pw * ({1 - _EWMA_CC_LAM} * {1 - _EWMA_CC_LAM})
      FROM r JOIN s ON s.rn = r.rn + 1)
    SELECT r.day, r.x AS x_cents,
           round(r.z, 6) AS z,
           round(p.mu0 + 3.0 * p.sigma
                 * sqrt((CAST(1 AS DOUBLE) / 7) * (1.0 - r.pw)), 6)
             AS ucl,
           round(p.mu0 - 3.0 * p.sigma
                 * sqrt((CAST(1 AS DOUBLE) / 7) * (1.0 - r.pw)), 6)
             AS lcl,
           CASE WHEN r.z > p.mu0 + 3.0 * p.sigma
                     * sqrt((CAST(1 AS DOUBLE) / 7) * (1.0 - r.pw))
                 OR r.z < p.mu0 - 3.0 * p.sigma
                     * sqrt((CAST(1 AS DOUBLE) / 7) * (1.0 - r.pw))
                THEN 1 ELSE 0 END AS signal
    FROM r, p
    ORDER BY r.day
    """,
)
def win_ewma_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA CONTROL CHART (Roberts/Lucas-Saccucci) on daily revenue:
    z_i = lam*x_i + (1-lam)*z_{{i-1}} seeded at the center line mu0,
    with the TIME-VARYING control limits mu0 +/- 3*sigma*
    sqrt(lam/(2-lam) * (1 - (1-lam)^(2i))) and sigma estimated from
    the mean moving range / d2(=1.128) — the small-persistent-shift
    chart that completes the SPC family: win_xbar_r_control
    (subgroup Shewhart), win_spc_western_electric (run rules),
    win_cusum_changepoint / win_page_hinkley (sequential detectors),
    this op (the memory chart in between).

    Parity: daily cents and the moving-range sum are exact integers;
    mu0/sigma divide them in shared text; lam = 0.25 is binary-exact,
    the z and (0.75)^(2i) recursions step in pinned day order
    (recursive CTE / prefix aggregate folds — identical expression
    text, identical IEEE doubles); lam/(2-lam) = 1/7 is written as
    CAST(1 AS DOUBLE)/7 on both engines (a 0.25/1.75 literal would
    be DECIMAL division on Spark — the round-8 trap); round(6) at
    the edge and the signal compares identical doubles.

    Shape at 100 TB: the fact scan collapses to the 30-row day
    domain; folds run on one bounded array (the croston machinery) —
    shard by series key for a fleet of charts."""
    ev = table(spark, sf_dir, "events")
    lam = _EWMA_CC_LAM
    d = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.expr(
            "CAST(sum(CAST(value * 100 + 0.5 AS BIGINT)) AS BIGINT)"
        ).alias("x")
    )
    g = d.select(
        "day", "x", F.lag("x").over(Window.orderBy("day")).alias("xp")
    ).agg(
        F.sum("x").cast("bigint").alias("sx"),
        F.count("*").cast("bigint").alias("n"),
        F.expr("CAST(sum(abs(x - xp)) AS BIGINT)").alias("smr"),
        F.expr("CAST(count(xp) AS BIGINT)").alias("nmr"),
    )
    p = g.selectExpr(
        "CAST(sx AS DOUBLE) / n AS mu0",
        f"CAST(smr AS DOUBLE) / nmr / {_EWMA_CC_D2} AS sigma",
    )
    one = (
        d.crossJoin(F.broadcast(p))
        .groupBy("mu0", "sigma")
        .agg(F.sort_array(F.collect_list(F.struct("day", "x"))).alias("qs"))
    )
    om = 1 - lam
    states = one.select(
        "mu0",
        "sigma",
        F.expr(
            "transform(sequence(1, CAST(size(qs) AS INT)), i ->"
            " named_struct("
            "'day', element_at(qs, i).day,"
            "'x', element_at(qs, i).x,"
            "'st', aggregate(slice(qs, 1, i),"
            f" named_struct('z', mu0, 'pw', CAST(1 AS DOUBLE)),"
            f" (s, e) -> named_struct("
            f"'z', {lam} * CAST(e.x AS DOUBLE) + {om} * s.z,"
            f"'pw', s.pw * ({om} * {om})))))"
        ).alias("rs"),
    )
    w = (
        f"3.0 * sigma * sqrt((CAST(1 AS DOUBLE) / 7)"
        f" * (1.0 - r.st.pw))"
    )
    return (
        states.select("mu0", "sigma", F.explode("rs").alias("r"))
        .selectExpr(
            "r.day AS day",
            "r.x AS x_cents",
            "round(r.st.z, 6) AS z",
            f"round(mu0 + {w}, 6) AS ucl",
            f"round(mu0 - {w}, 6) AS lcl",
            f"CASE WHEN r.st.z > mu0 + {w} OR r.st.z < mu0 - {w}"
            " THEN 1 ELSE 0 END AS signal",
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# dedup_minhash_estimate_error
# ---------------------------------------------------------------------------


def _mh_err_oracle() -> str:
    from .dedup import (
        N_HASH,
        _DUCK_BANDS_RANKED,
        _DUCK_CAND_WHERE,
        _DUCK_CODES,
        _SIG_ORACLE,
    )

    matches = " + ".join(
        f"(CASE WHEN sa.s{i} = sb.s{i} THEN 1 ELSE 0 END)"
        for i in range(N_HASH)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS t
      FROM documents),
    codes AS MATERIALIZED (
      SELECT doc_id, list_distinct({_DUCK_CODES}) AS cs
      FROM (SELECT doc_id, array_to_string(t, ' ') AS text FROM toks) z),
    sigs AS MATERIALIZED (
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
      SELECT c.doc_a, c.doc_b,
             CAST(len(list_intersect(ta.cs, tb.cs)) AS DOUBLE)
             / len(list_distinct(ta.cs || tb.cs)) AS jac
      FROM cand c JOIN codes ta ON c.doc_a = ta.doc_id
                  JOIN codes tb ON c.doc_b = tb.doc_id
      WHERE CAST(len(list_intersect(ta.cs, tb.cs)) AS DOUBLE)
            / len(list_distinct(ta.cs || tb.cs)) >= 0.5),
    e AS MATERIALIZED (
      SELECT p.jac,
             CAST(({matches}) AS DOUBLE) / {N_HASH} AS est
      FROM pairs p JOIN sigs sa ON p.doc_a = sa.doc_id
                   JOIN sigs sb ON p.doc_b = sb.doc_id),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(abs(est - jac), 9) AS DECIMAL(28,9)))
                  AS DECIMAL(38,9)) AS sae
      FROM e)
    SELECT CAST(floor((est - jac) * 20) AS BIGINT) AS err_bin,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(CAST(count(*) AS DOUBLE) / max(s.n), 6) AS share,
           round(CAST(max(s.sae) AS DOUBLE) / max(s.n), 6) AS mae_overall
    FROM e, s
    GROUP BY 1
    ORDER BY err_bin
    """


@query("dedup_minhash_estimate_error", oracle=_mh_err_oracle())
def dedup_minhash_estimate_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MINHASH ESTIMATOR ERROR PROFILE: for every verified near-dup
    pair (exact Jaccard >= 0.5 over dedup_near_minhash's OWN banding
    candidates), the signature estimate (matching components / 8)
    minus the exact Jaccard, histogrammed in 0.05-wide bins, with the
    overall MAE — the table that justifies the 8-hash/4-band budget
    empirically (E[est] = jac, sd = sqrt(jac(1-jac)/8) ~ 0.17 at
    jac = 0.5: a WIDE estimator, which is exactly why the pipeline
    verifies exactly instead of trusting signatures, and why
    text_minhash_band_tuning's S-curve is about RECALL not precision).
    Completes the dedup-methodology trio: band tuning (candidate
    recall), threshold sensitivity (purge volume), this op (estimator
    quality).

    Parity: signatures and match counts are exact int64; est is a
    dyadic-exact /8 double; jac = intersection/union divides exact
    ints (the numpy verify kernel and the SQL twin produce the
    identical correctly-rounded double); bins use floor (never
    round-half — the round-8 half-even trap) on identical doubles;
    the MAE quantizes each |est - jac| round(9) into DECIMAL before
    the order-independent sum.

    Shape at 100 TB: candidates from the banded equi-join, verify via
    the side-file kernel, signatures join back on doc_id; the
    histogram is a bounded (<= 41-bin) aggregate over the ckpt'd pair
    frame."""
    from .dedup import (
        N_HASH,
        _minhash_codes_and_candidates,
        _minhash_verified_pairs,
        _spark_sig,
    )

    codes, _ = _minhash_codes_and_candidates(spark, sf_dir)
    # session-cached ckpt pair table at 0.5 (shared with the threshold
    # sweep — threshold is a kernel post-filter, same codes side-file)
    pairs = _minhash_verified_pairs(spark, sf_dir, 0.5).select(
        "doc_a", "doc_b", "jac"
    )
    sigs = codes.withColumnRenamed("cs", "codes").select(
        "doc_id",
        *[F.expr(_spark_sig(i)).alias(f"s{i}") for i in range(N_HASH)],
    )
    sa = sigs.select(
        F.col("doc_id").alias("da"),
        *[F.col(f"s{i}").alias(f"sa{i}") for i in range(N_HASH)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("db"),
        *[F.col(f"s{i}").alias(f"sb{i}") for i in range(N_HASH)],
    )
    matches = " + ".join(
        f"(CASE WHEN sa{i} = sb{i} THEN 1 ELSE 0 END)"
        for i in range(N_HASH)
    )
    e = (
        pairs.join(sa, pairs.doc_a == sa.da)
        .join(sb, pairs.doc_b == sb.db)
        .selectExpr(
            "jac",
            f"CAST(({matches}) AS DOUBLE) / {N_HASH} AS est",
        )
        .localCheckpoint()  # bounded pair frame referenced twice
    )
    s = e.agg(
        F.count("*").cast("bigint").alias("n"),
        F.expr(
            "CAST(sum(CAST(round(abs(est - jac), 9) AS DECIMAL(28,9)))"
            " AS DECIMAL(38,9))"
        ).alias("sae"),
    )
    return (
        e.groupBy(
            F.expr("CAST(floor((est - jac) * 20) AS BIGINT)").alias(
                "err_bin"
            )
        )
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
        .crossJoin(F.broadcast(s))
        .selectExpr(
            "err_bin",
            "n_pairs",
            "round(CAST(n_pairs AS DOUBLE) / n, 6) AS share",
            "round(CAST(sae AS DOUBLE) / n, 6) AS mae_overall",
        )
        .orderBy("err_bin")
    )


# ---------------------------------------------------------------------------
# rag_context_dedup_pack
# ---------------------------------------------------------------------------

_CDP_FETCH = 20  # retrieved candidate list length
_CDP_BUDGET = 300  # context token budget
_CDP_ENC = 10_000_000  # pair key encoding: a * ENC + b (doc_id << ENC)


def _cdp_oracle() -> str:
    from .dedup import _DUCK_BANDS, _DUCK_CODES, _SIG_ORACLE
    from .rag import _BM25_B, _BM25_K1, _KEYWORDS

    bm25_score = " + ".join(
        f"(ln(1 + (n_docs - df_{i} + 0.5) / (df_{i} + 0.5)) * "
        f"(len(list_filter(tk, x -> x = '{t}')) * ({_BM25_K1} + 1)) / "
        f"(len(list_filter(tk, x -> x = '{t}')) + {_BM25_K1} * "
        f"(1 - {_BM25_B} + {_BM25_B} * len(tk) / avgdl)))"
        for i, t in enumerate(_KEYWORDS)
    )
    dfs = ", ".join(
        f"sum(CASE WHEN list_contains(tk, '{t}') THEN 1 ELSE 0 END)"
        f" AS df_{i}"
        for i, t in enumerate(_KEYWORDS)
    )
    # one greedy step: x = the r-th ranked candidate; dup against KEPT
    dup = (
        "len(list_filter(kept, k -> list_contains(pl,"
        f" least(k, rk.doc_id) * {_CDP_ENC}"
        " + greatest(k, rk.doc_id)))) > 0"
    )
    return f"""
    WITH RECURSIVE toksd AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    stats AS (
      SELECT count(*) AS n_docs, avg(len(tk)) AS avgdl, {dfs}
      FROM toksd),
    ranked AS MATERIALIZED (
      SELECT doc_id, CAST(len(tk) AS BIGINT) AS tok,
             row_number() OVER (ORDER BY round({bm25_score}, 6) DESC,
                                doc_id) AS r
      FROM toksd CROSS JOIN stats
      QUALIFY r <= {_CDP_FETCH}),
    codes AS MATERIALIZED (
      SELECT doc_id, list_distinct({_DUCK_CODES}) AS cs
      FROM documents
      WHERE doc_id IN (SELECT doc_id FROM ranked)),
    sigs AS MATERIALIZED (
      SELECT doc_id, {_SIG_ORACLE}
      FROM (SELECT doc_id, list_distinct({_DUCK_CODES}) AS cs
            FROM documents) z),
    bands AS (
      SELECT * FROM ({_DUCK_BANDS}) b
      WHERE doc_id IN (SELECT doc_id FROM ranked)),
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM bands x JOIN bands y
        ON x.band_no = y.band_no AND x.band_key = y.band_key
       AND x.doc_id < y.doc_id),
    pairsl AS (
      SELECT coalesce(list(c.doc_a * {_CDP_ENC} + c.doc_b),
                      CAST([] AS BIGINT[])) AS pl
      FROM cand c JOIN codes ta ON c.doc_a = ta.doc_id
                  JOIN codes tb ON c.doc_b = tb.doc_id
      WHERE CAST(len(list_intersect(ta.cs, tb.cs)) AS DOUBLE)
            / len(list_distinct(ta.cs || tb.cs)) >= 0.5),
    g AS (
      SELECT 0 AS r,
             CAST([] AS BIGINT[]) AS kept,
             CAST(0 AS BIGINT) AS cum,
             CAST([] AS BIGINT[]) AS odocs,
             CAST([] AS BIGINT[]) AS otoks,
             CAST([] AS BIGINT[]) AS ocums
      FROM pairsl
      UNION ALL
      SELECT rk.r,
             CASE WHEN {dup} OR g.cum + rk.tok > {_CDP_BUDGET}
                  THEN g.kept
                  ELSE list_append(g.kept, rk.doc_id) END,
             CASE WHEN {dup} OR g.cum + rk.tok > {_CDP_BUDGET}
                  THEN g.cum ELSE g.cum + rk.tok END,
             CASE WHEN {dup} OR g.cum + rk.tok > {_CDP_BUDGET}
                  THEN g.odocs
                  ELSE list_append(g.odocs, rk.doc_id) END,
             CASE WHEN {dup} OR g.cum + rk.tok > {_CDP_BUDGET}
                  THEN g.otoks
                  ELSE list_append(g.otoks, rk.tok) END,
             CASE WHEN {dup} OR g.cum + rk.tok > {_CDP_BUDGET}
                  THEN g.ocums
                  ELSE list_append(g.ocums, g.cum + rk.tok) END
      FROM g JOIN ranked rk ON rk.r = g.r + 1, pairsl
      WHERE g.r < {_CDP_FETCH}),
    fin AS (
      SELECT odocs, otoks, ocums FROM g WHERE r = {_CDP_FETCH})
    SELECT CAST(i AS BIGINT) AS pos,
           odocs[i] AS doc_id,
           otoks[i] AS n_tokens,
           ocums[i] AS cum_tokens
    FROM fin, (SELECT unnest(generate_series(1, len(odocs))) AS i)
    ORDER BY pos
    """


@query("rag_context_dedup_pack", oracle=_cdp_oracle())
def rag_context_dedup_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-DUP-AWARE CONTEXT PACKING: take the BM25 top-20
    candidates in rank order, DROP any document that is a verified
    near-duplicate (exact Jaccard >= 0.5 over the minhash banding
    candidates) of a document already packed, and greedily pack the
    survivors into a 300-token context budget (skip-too-big,
    continue) — the standard RAG context-quality move: retrieved
    lists from redundant corpora waste their budget on copies of the
    same passage (measured on this fixture: 29 verified near-dup
    pairs among the very top BM25 docs), and packing distinct
    passages is what actually raises answerable-context coverage.
    Composes three registered families end-to-end: rag_bm25_topk's
    scorer, dedup_near_minhash's verified pairs,
    rag_context_window_pack's budgeted packing.

    Parity: ranks order by round(6) BM25 with id tie-break (rank
    parity exact); near-dup pair keys are exact int64 encodings
    (a * 1e7 + b over canonical a < b); the greedy fold is pure
    integer/array logic stepped in pinned rank order on both engines
    (Spark aggregate() over the ranked array, DuckDB a recursive
    CTE); no floats beyond the already-rounded scores.

    Shape at 100 TB: both the candidate list and the pair list are
    orderBy+limit / semi-join-restricted BOUNDED frames (<= 20 docs,
    <= 190 pairs); the fold runs on one row.  The near-dup pair table
    itself is the banded-LSH join (never all-pairs)."""
    from ..tables import sf_tag
    from .dedup import _minhash_codes_and_candidates, _verify_pairs_jaccard
    from .rag import _BM25_B, _BM25_K1, _BM25_TERMS

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
            + (F.col("n_docs") - F.col(f"df_{i}") + 0.5)
            / (F.col(f"df_{i}") + 0.5)
        )
        term = (
            idf
            * (tf(t) * (_BM25_K1 + 1))
            / (tf(t) + _BM25_K1 * (1 - _BM25_B + _BM25_B * dl / F.col("avgdl")))
        )
        score = term if score is None else score + term
    ranked = (
        toks.crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.size("tk").cast("bigint").alias("tok"),
            F.round(score, 6).alias("s"),
        )
        .orderBy(F.col("s").desc(), "doc_id")
        .limit(_CDP_FETCH)
        .withColumn(
            "r",
            F.row_number().over(Window.orderBy(F.col("s").desc(), "doc_id")),
        )
        .localCheckpoint()  # 20-row frame referenced by the pair
        # restriction joins AND the fold-input aggregate
    )
    from .dedup import N_BANDS, N_HASH, P_HASH, _spark_sig

    codes, _ = _minhash_codes_and_candidates(spark, sf_dir)
    # restrict the BANDING ITSELF to the 20 ranked docs before any
    # join: the op only needs pairs WITHIN the context candidates, so
    # both the band self-join and the exact verify run on a 20-doc
    # frame — never the corpus pair mass (quadratic in verbatim
    # copies on degenerate corpora: the unrestricted pipeline
    # measured 187 s on the sf1x blow-up, the post-band restriction
    # 5 s, this pre-band restriction is sub-second and is the shape
    # the oracle's restricted `bands` CTE mirrors)
    ids = ranked.select(F.col("doc_id").alias("rid"))
    rcodes = codes.join(
        F.broadcast(ids), codes.doc_id == F.col("rid"), "left_semi"
    )
    rsigs = rcodes.withColumnRenamed("cs", "codes").select(
        "doc_id",
        *[F.expr(_spark_sig(i)).alias(f"s{i}") for i in range(N_HASH)],
    )
    rbands = rsigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band_no"),
                        (
                            F.col(f"s{2 * j}") * P_HASH
                            + F.col(f"s{2 * j + 1}")
                        ).alias("band_key"),
                    )
                    for j in range(N_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_no", "band.band_key")
    xa = rbands.select(
        F.col("doc_id").alias("doc_a"), "band_no", "band_key"
    )
    xb = rbands.select(
        F.col("doc_id").alias("doc_b"), "band_no", "band_key"
    )
    cand_r = (
        xa.join(xb, ["band_no", "band_key"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    pairs = _verify_pairs_jaccard(
        spark, codes, cand_r, threshold=0.5, tag=f"minhash_{sf_tag(sf_dir)}"
    ).select("doc_a", "doc_b")
    rp = pairs.agg(
        F.expr(
            f"coalesce(collect_list(doc_a * {_CDP_ENC} + doc_b),"
            " array())"
        ).alias("pl")
    )
    one = ranked.groupBy().agg(
        F.sort_array(
            F.collect_list(F.struct("r", "doc_id", "tok"))
        ).alias("rs")
    ).crossJoin(F.broadcast(rp))
    dup = (
        "size(filter(s.kept, k -> array_contains(pl,"
        f" least(k, x.doc_id) * {_CDP_ENC}"
        " + greatest(k, x.doc_id)))) > 0"
    )
    skip = f"({dup}) OR s.cum + x.tok > {_CDP_BUDGET}"
    fold = (
        "aggregate(rs, named_struct("
        "'kept', CAST(array() AS ARRAY<BIGINT>), "
        "'cum', CAST(0 AS BIGINT), "
        "'odocs', CAST(array() AS ARRAY<BIGINT>), "
        "'otoks', CAST(array() AS ARRAY<BIGINT>), "
        "'ocums', CAST(array() AS ARRAY<BIGINT>)), "
        "(s, x) -> named_struct("
        f"'kept', CASE WHEN {skip} THEN s.kept"
        " ELSE concat(s.kept, array(x.doc_id)) END, "
        f"'cum', CASE WHEN {skip} THEN s.cum ELSE s.cum + x.tok END, "
        f"'odocs', CASE WHEN {skip} THEN s.odocs"
        " ELSE concat(s.odocs, array(x.doc_id)) END, "
        f"'otoks', CASE WHEN {skip} THEN s.otoks"
        " ELSE concat(s.otoks, array(x.tok)) END, "
        f"'ocums', CASE WHEN {skip} THEN s.ocums"
        " ELSE concat(s.ocums, array(s.cum + x.tok)) END))"
    )
    return (
        one.select(F.expr(fold).alias("st"))
        .select(
            F.posexplode(
                F.expr("arrays_zip(st.odocs, st.otoks, st.ocums)")
            ).alias("p0", "z")
        )
        .selectExpr(
            "CAST(p0 + 1 AS BIGINT) AS pos",
            "z.odocs AS doc_id",
            "z.otoks AS n_tokens",
            "z.ocums AS cum_tokens",
        )
        .orderBy("pos")
    )


# ---------------------------------------------------------------------------
# vec_matryoshka_recall_sweep
# ---------------------------------------------------------------------------

_MRS_DIMS = [16, 32, 48, 64]
_MRS_K = 3
_MRS_QUERIES = 10


def _mrs_oracle() -> str:
    sims = ",\n             ".join(
        f"round(list_dot_product(c.embedding[1:{d}]::DOUBLE[],"
        f" q.qv[1:{d}]::DOUBLE[])"
        f" / (sqrt(list_dot_product(c.embedding[1:{d}]::DOUBLE[],"
        f" c.embedding[1:{d}]::DOUBLE[]))"
        f" * sqrt(list_dot_product(q.qv[1:{d}]::DOUBLE[],"
        f" q.qv[1:{d}]::DOUBLE[]))), 6) AS sim{d}"
        for d in _MRS_DIMS
    )
    rns = ",\n             ".join(
        f"row_number() OVER (PARTITION BY query_id"
        f" ORDER BY sim{d} DESC, neighbor_id) AS rn{d}"
        for d in _MRS_DIMS
    )
    hits = ",\n             ".join(
        f"CAST(sum(CASE WHEN rn{d} <= {_MRS_K}"
        f" AND rn{max(_MRS_DIMS)} <= {_MRS_K} THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS h{d}"
        for d in _MRS_DIMS
    )
    denom = _MRS_K * _MRS_QUERIES
    fan = "\n    UNION ALL ".join(
        f"SELECT CAST({d} AS BIGINT) AS dim, h{d} AS n_hits,"
        f" round(CAST(h{d} AS DOUBLE) / {denom}, 6) AS recall FROM agg"
        for d in _MRS_DIMS
    )
    return f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < {_MRS_QUERIES}),
    c AS (SELECT vec_id AS neighbor_id, embedding
          FROM embeddings WHERE vec_id >= {_MRS_QUERIES}),
    sims AS (
      SELECT q.query_id, c.neighbor_id,
             {sims}
      FROM c CROSS JOIN q),
    rk AS (
      SELECT query_id, neighbor_id,
             {rns}
      FROM sims),
    agg AS MATERIALIZED (
      SELECT {hits}
      FROM rk)
    {fan}
    ORDER BY dim
    """


@query("vec_matryoshka_recall_sweep", oracle=_mrs_oracle())
def vec_matryoshka_recall_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MATRYOSHKA TRUNCATION RECALL SWEEP: exact top-3 recall of
    PREFIX-truncated embeddings (16/32/48/64 of 64 dims) against the
    full-dimension ground truth over the 10-query panel — the table
    that decides how far a matryoshka index (vec_matryoshka_topk's
    two-stage retrieve) can truncate before recall pays, and the
    operational companion to vec_dim_variance_profile (this fixture's
    near-uniform per-dim variance predicts recall should degrade
    smoothly; the sweep MEASURES it).  The dim=64 row is the built-in
    self-check (recall = 1 by construction).

    Parity: each truncated cosine is the same sequential-fold
    arithmetic over the prefix dims (Spark cosine_fixed unrolled text
    / DuckDB sliced-list dot), ROUND(6) before ranking with
    neighbor_id tie-break (rank parity exact); hits and recalls are
    exact integers over the fixed 3 x 10 denominator.

    Shape at 100 TB: broadcast panel, ONE corpus scan computing all
    four truncated sims, ONE shuffle (the four rank windows share the
    query_id partitioning), a 1-row conditional aggregate fanned to
    four rows — never a per-dim rescan."""
    from ..functions.vector import cosine_fixed
    from .vector import _query_vector_raw, _query_vectors

    emb = table(spark, sf_dir, "embeddings")
    q = _query_vectors(spark, sf_dir, _MRS_QUERIES)
    corpus = emb.where(F.col("vec_id") >= _MRS_QUERIES).select(
        F.col("vec_id").alias("neighbor_id"), "embedding"
    )
    full_d = len(_query_vector_raw(spark, sf_dir, 0))
    sims = corpus.crossJoin(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        *[
            F.round(cosine_fixed("embedding", "qv", d), 6).alias(f"sim{d}")
            for d in _MRS_DIMS
        ],
    )
    rk = sims.select(
        "query_id",
        "neighbor_id",
        *[
            F.row_number()
            .over(
                Window.partitionBy("query_id").orderBy(
                    F.col(f"sim{d}").desc(), "neighbor_id"
                )
            )
            .alias(f"rn{d}")
            for d in _MRS_DIMS
        ],
    )
    full = max(_MRS_DIMS)
    agg = rk.agg(
        *[
            F.expr(
                f"CAST(sum(CASE WHEN rn{d} <= {_MRS_K}"
                f" AND rn{full} <= {_MRS_K} THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias(f"h{d}")
            for d in _MRS_DIMS
        ]
    )
    denom = _MRS_K * _MRS_QUERIES
    return agg.selectExpr(
        f"stack({len(_MRS_DIMS)}, "
        + ", ".join(
            f"CAST({d} AS BIGINT), h{d}" for d in _MRS_DIMS
        )
        + ") AS (dim, n_hits)",
    ).selectExpr(
        "dim",
        "n_hits",
        f"round(CAST(n_hits AS DOUBLE) / {denom}, 6) AS recall",
    ).orderBy("dim")


# ---------------------------------------------------------------------------
# agg_tail_dependence_lambda
# ---------------------------------------------------------------------------


def _tail_dep_sql(dialect: str) -> str:
    cents = (
        "CAST(round(value * 100, 0) AS BIGINT)"
        if dialect == "duck"
        else "CAST(value * 100 + 0.5 AS BIGINT)"
    )
    idiv = "//" if dialect == "duck" else "div"
    mat = " MATERIALIZED" if dialect == "duck" else ""
    return f"""
    WITH u AS{mat} (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS x,
             CAST(sum(CASE WHEN event_type = 'purchase'
                      THEN {cents} ELSE 0 END) AS BIGINT) AS y
      FROM events GROUP BY user_id),
    qx AS (
      SELECT min(CASE WHEN 10 * cum >= 9 * n THEN v END) AS q90,
             min(CASE WHEN 10 * cum >= n THEN v END) AS q10
      FROM (SELECT v, sum(c) OVER (ORDER BY v) AS cum,
                   sum(c) OVER () AS n
            FROM (SELECT x AS v, CAST(count(*) AS BIGINT) AS c
                  FROM u GROUP BY x) g) t),
    qy AS (
      SELECT min(CASE WHEN 10 * cum >= 9 * n THEN v END) AS q90,
             min(CASE WHEN 10 * cum >= n THEN v END) AS q10
      FROM (SELECT v, sum(c) OVER (ORDER BY v) AS cum,
                   sum(c) OVER () AS n
            FROM (SELECT y AS v, CAST(count(*) AS BIGINT) AS c
                  FROM u GROUP BY y) g) t),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             qx.q90 AS qx90, qx.q10 AS qx10,
             qy.q90 AS qy90, qy.q10 AS qy10,
             CAST(count(CASE WHEN u.y > qy.q90 THEN 1 END) AS BIGINT)
               AS ny_hi,
             CAST(count(CASE WHEN u.x > qx.q90 AND u.y > qy.q90
                        THEN 1 END) AS BIGINT) AS nxy_hi,
             CAST(count(CASE WHEN u.y <= qy.q10 THEN 1 END) AS BIGINT)
               AS ny_lo,
             CAST(count(CASE WHEN u.x <= qx.q10 AND u.y <= qy.q10
                        THEN 1 END) AS BIGINT) AS nxy_lo
      FROM u, qx, qy
      GROUP BY qx.q90, qx.q10, qy.q90, qy.q10)
    SELECT n AS n_users, qx90, qy90,
           CASE WHEN ny_hi > 0
                THEN round(CAST(nxy_hi AS DOUBLE) / ny_hi, 6) END
             AS lambda_upper,
           qx10, qy10,
           CASE WHEN ny_lo > 0
                THEN round(CAST(nxy_lo AS DOUBLE) / ny_lo, 6) END
             AS lambda_lower
    FROM m
    """


@query("agg_tail_dependence_lambda", oracle=_tail_dep_sql("duck"))
def agg_tail_dependence_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMPIRICAL TAIL-DEPENDENCE coefficients between per-user
    activity (event count x) and revenue (purchase cents y):
    lambda_upper = P(x > q90_x | y > q90_y) and the lower-tail
    analogue at the 10th percentile — the copula-diagnostic that
    answers "do the EXTREMES move together?", which Pearson/Spearman
    (agg_spearman_corr) cannot: two measures can correlate 0.5 overall
    yet be independent in the tail that drives revenue concentration
    (agg_gini_concentration's regime).

    Parity: x and y are exact integers; the q90/q10 abscissas are
    exact lower-empirical picks over each measure's VALUE DOMAIN
    (10*cum >= 9n integer compares — the agg_exact_quantile_2pass
    machinery); the tail counts are exact conditional counts against
    those integer thresholds; each lambda divides exact integers
    once, CASE-gated on an empty tail (ANSI rule), round(6).

    Shape at 100 TB: one user-grain aggregate, two value-domain
    cumulative passes (bounded by the value RANGE, the SURVEY
    distinct-cents family), one broadcast-threshold recount."""
    ev = table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("events")
    return spark.sql(_tail_dep_sql("spark"))
