"""Window-function operators (SURVEY.md §2B).

The reference's windowing is implicit: the chat-memory sliding window
keeps the last 10 messages (app.py:113) and retrieval keeps per-query
top-k (app.py:264). These operators give the full analytic-window
surface. Scale note: every window here partitions by a key (user_id /
order key), so the only exchange is one hash partition — the frame
computation is local to each partition. Unpartitioned ordered windows
(running totals over a global order) use a range exchange; at 100 TB
you'd pre-aggregate per day first, which is how win_running_total_range
is phrased.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..memo import session_artifact
from ..registry import query
from ..tables import table


@query(
    "win_rank_topk_per_group",
    oracle="""
    SELECT user_id, event_id, ts, event_type, rn FROM (
      SELECT user_id, event_id, ts, event_type,
             CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INTEGER) AS rn
      FROM events) t
    WHERE rn <= 3
    """,
)
def win_rank_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 3 events per user (BASELINE.md win_rank_events; the R10
    'last N messages' analogue, app.py:113). row_number over a unique
    (ts, event_id) order for determinism."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("user_id", "event_id", "ts", "event_type", "rn")
    )


@query(
    "win_lag_lead_delta",
    oracle="""
    SELECT user_id, event_id, ts,
           lag(ts) OVER w AS prev_ts,
           lead(ts) OVER w AS next_ts,
           epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def win_lag_lead_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap per user via lag/lead. Gap computed in exact
    integer microseconds (unix_micros == DuckDB epoch_us) — never
    float seconds, which would be precision-lossy at ns-scale inputs."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        prev_ts.alias("prev_ts"),
        F.lead("ts").over(w).alias("next_ts"),
        (F.unix_micros("ts") - F.unix_micros(prev_ts)).alias("gap_us"),
    )


@query(
    "win_moving_avg_frame",
    oracle="""
    SELECT user_id, event_id, ts,
           round(CAST(sum(CAST(value AS DECIMAL(18,6)))
                      OVER w AS DOUBLE) / count(*) OVER w, 6) AS mov_avg_7
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def win_moving_avg_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-row moving average of event value per user. DECIMAL sum inside
    the frame keeps the result order-independent and oracle-exact."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double")
            / F.count("*").over(w),
            6,
        ).alias("mov_avg_7"),
    )


@query(
    "win_running_total_range",
    oracle="""
    SELECT o_orderkey, o_orderdate,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                      OVER (ORDER BY o_orderdate
                            RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS DOUBLE), 2) AS running_rev
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '2001-01-01'
    """,
)
def win_running_total_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running revenue by order date with RANGE-frame semantics:
    same-date orders are peers and contribute together. Implemented
    scale-first: RANGE UNBOUNDED..CURRENT over o_orderdate depends
    only on the DAY, so pre-aggregate revenue per day (map-side
    partial agg over the fact table), run the ordered cumulative
    window over the day DOMAIN (thousands of rows at any corpus
    size — never a single-partition sort of the fact table), and
    broadcast-join the day-level cumsum back onto the orders. The
    decimal day sums are exact, so this equals the per-row RANGE
    window bit-for-bit; the oracle keeps the textbook RANGE form."""
    o = table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    )
    daily = o.groupBy("o_orderdate").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("day_rev")
    )
    wd = Window.orderBy("o_orderdate").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = daily.select(
        "o_orderdate", F.sum("day_rev").over(wd).alias("cum_rev")
    )
    return o.join(F.broadcast(cum), "o_orderdate").select(
        "o_orderkey",
        "o_orderdate",
        F.round(F.col("cum_rev").cast("double"), 2).alias("running_rev"),
    )


@query(
    "win_ntile_rank_dense",
    oracle="""
    SELECT p_partkey, p_size,
           CAST(rank() OVER (ORDER BY p_size) AS INTEGER) AS rnk,
           CAST(dense_rank() OVER (ORDER BY p_size) AS INTEGER) AS drnk,
           CAST(ntile(4) OVER (ORDER BY p_size, p_partkey) AS INTEGER) AS quartile
    FROM part
    """,
)
def win_ntile_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/dense_rank over p_size (real ties exercise the gap vs no-gap
    semantics); ntile over a unique order so bucket assignment is
    deterministic. Global window BY CONTRACT: the input is the bounded
    `part` dimension and the scan carries only the 2 rank-key columns
    (pinned by test_dim_rank_windows_scan_only_dim_columns); a fact
    column would use the two-pass value-domain rank instead
    (pipeline_shard_assign)."""
    p = table(spark, sf_dir, "part")
    w_ties = Window.orderBy("p_size")
    w_uniq = Window.orderBy("p_size", "p_partkey")
    return p.select(
        "p_partkey",
        "p_size",
        F.rank().over(w_ties).alias("rnk"),
        F.dense_rank().over(w_ties).alias("drnk"),
        F.ntile(4).over(w_uniq).alias("quartile"),
    )


@query(
    "win_percent_rank_cume_dist",
    oracle="""
    SELECT p_partkey,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume,
           CAST(ntile(10) OVER w AS BIGINT) AS decile
    FROM part
    WINDOW w AS (ORDER BY p_retailprice, p_partkey)
    """,
)
def win_percent_rank_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-rank analytics (percent_rank / cume_dist / decile)
    over part prices. Global ORDER BY window BY CONTRACT — the input is
    the bounded `part` dimension and the scan reads only the 2 rank-key
    columns (pinned by test_dim_rank_windows_scan_only_dim_columns);
    for a 100 TB fact column the same statistics come from
    approx_percentile buckets (agg_percentiles) or the two-pass
    value-domain rank (pipeline_shard_assign)."""
    p = table(spark, sf_dir, "part")
    w = Window.orderBy("p_retailprice", "p_partkey")
    return p.select(
        "p_partkey",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.ntile(10).over(w).cast("bigint").alias("decile"),
    )


@query(
    "win_first_last_value",
    oracle="""
    SELECT user_id, event_id,
           first_value(event_type) OVER w AS first_type,
           last_value(event_type) OVER
             (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_type,
           nth_value(event_type, 2) OVER
             (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def win_first_last_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth_value navigation: each user's first, last, and
    second event type. last/nth need the full-frame
    (unboundedFollowing) spec — the default running frame would return
    the CURRENT row for last_value, the classic window-function trap
    (pinned here so it can't regress)."""
    ev = table(spark, sf_dir, "events")
    running = Window.partitionBy("user_id").orderBy("ts", "event_id")
    full = running.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return ev.select(
        "user_id",
        "event_id",
        F.first("event_type").over(running).alias("first_type"),
        F.last("event_type").over(full).alias("last_type"),
        F.nth_value("event_type", 2).over(full).alias("second_type"),
    )


@query(
    "win_gap_fill_forward",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             count(*) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
      FROM events GROUP BY 1, 2),
    spans AS (
      SELECT user_id, min(day) AS lo, max(day) AS hi FROM daily GROUP BY user_id),
    spine AS (
      SELECT user_id, CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
      FROM spans),
    filled AS (
      SELECT s.user_id, s.day, coalesce(d.n, 0) AS n, d.value_cents
      FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day)
    SELECT user_id, day, n,
           last_value(value_cents IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_cents_ffill
    FROM filled
    """,
)
def win_gap_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap-fill: per-user daily rollup, a generated date
    spine covering each user's own [min_day, max_day] (sequence +
    explode — the spine is derived per key, never a global cross
    join), missing days 0-filled, and the day's value forward-filled
    with last(ignorenulls) over an ordered per-user frame. The shape
    every feature-store backfill needs; partitioning is by user key
    throughout, so 100 TB of events gap-fill with one shuffle for the
    rollup and one for the window. Money stays in integer cents so the
    forward-fill carries exact values."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.date_trunc("DAY", F.col("ts")).cast("date").alias("day")
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("value_cents"),
    )
    spine = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
        .select(
            "user_id",
            F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day"),
        )
    )
    filled = (
        spine.join(daily, ["user_id", "day"], "left")
        .withColumn("n", F.coalesce(F.col("n"), F.lit(0)))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return filled.select(
        "user_id",
        "day",
        "n",
        F.last("value_cents", ignorenulls=True).over(w).alias("value_cents_ffill"),
    )


@query(
    "win_sequence_match_funnel",
    oracle="""
    WITH conv AS (
      SELECT p.user_id, p.event_id
      FROM events p
      WHERE p.event_type = 'purchase' AND EXISTS (
        SELECT 1 FROM events c
        WHERE c.user_id = p.user_id AND c.event_type = 'click'
          AND c.ts < p.ts
          AND EXISTS (
            SELECT 1 FROM events v
            WHERE v.user_id = c.user_id AND v.event_type = 'view'
              AND v.ts < c.ts)))
    SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_seq_users,
           CAST(count(*) AS BIGINT) AS n_converted_purchases
    FROM conv
    """,
)
def win_sequence_match_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE sequence-match funnel (the MATCH_RECOGNIZE analogue Spark
    SQL lacks): a purchase converts iff SOME click strictly before it
    has SOME view strictly before that — an ordered subsequence match,
    not pipeline_event_funnel's first-occurrence approximation (which
    misses a click-after-view when an earlier stray click exists).

    The relational phrasing is a cubic nested-EXISTS (the oracle); the
    engine runs it as TWO chained running-flag windows over ONE
    user_id shuffle + sort — strictly linear in events per user:
    `any view before me` feeds `any qualified click before me` feeds
    the purchase rows. Strictness under timestamp ties is exact: the
    running flags use a RANGE frame on unix_micros ending at -1 µs, so
    same-instant events never satisfy 'before'."""
    ev = table(spark, sf_dir, "events")
    t_us = F.unix_micros("ts")
    base = ev.where(
        F.col("event_type").isin("view", "click", "purchase")
    ).select(
        "user_id",
        "event_id",
        "event_type",
        t_us.alias("t_us"),
    )
    w_before = (
        Window.partitionBy("user_id")
        .orderBy("t_us")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    is_view = (F.col("event_type") == "view").cast("int")
    step1 = base.withColumn(
        "view_before", F.coalesce(F.max(is_view).over(w_before), F.lit(0))
    )
    qual_click = (
        (F.col("event_type") == "click") & (F.col("view_before") == 1)
    ).cast("int")
    step2 = step1.withColumn(
        "qual_click_before",
        F.coalesce(F.max(qual_click).over(w_before), F.lit(0)),
    )
    conv = step2.where(
        (F.col("event_type") == "purchase") & (F.col("qual_click_before") == 1)
    )
    return conv.agg(
        F.countDistinct("user_id").alias("n_seq_users"),
        F.count("*").alias("n_converted_purchases"),
    )


@query(
    "win_running_distinct",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts, event_type,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS occ
      FROM events)
    SELECT user_id, event_id, ts,
           CAST(sum(CASE WHEN occ = 1 THEN 1 ELSE 0 END)
                OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
             AS distinct_types_seen
    FROM flagged
    """,
)
def win_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RUNNING count-distinct per user (how many distinct event types
    has this user produced up to each event) — SQL has no
    count(DISTINCT) OVER, and the naive per-row set-rescan is
    quadratic. The linear formulation: flag each (user, type)'s FIRST
    occurrence with one row_number window, then a running sum of the
    flags — two windows, both on the user shuffle, strictly linear.
    The oracle uses the same first-occurrence formulation (it is plain
    SQL), so the check is a true cross-engine replay of the trick."""
    ev = table(spark, sf_dir, "events")
    w_occ = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.row_number().over(w_occ).alias("occ"),
    )
    return flagged.select(
        "user_id",
        "event_id",
        "ts",
        F.sum((F.col("occ") == 1).cast("int"))
        .over(w_run)
        .cast("bigint")
        .alias("distinct_types_seen"),
    )


@query(
    "win_rolling_median",
    oracle="""
    SELECT user_id, event_id, ts,
           round((list_extract(ls, (len(ls) + 1) // 2)
                  + list_extract(ls, len(ls) // 2 + 1)) / 2, 6) AS med_11
    FROM (
      SELECT user_id, event_id, ts,
             list_sort(list(value) FILTER (value IS NOT NULL) OVER w) AS ls
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 10 PRECEDING AND CURRENT ROW)) t
    """,
)
def win_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 11-row rolling MEDIAN of event value per user — the
    robust-statistics twin of win_moving_avg_frame (outlier-resistant
    smoothing for monitoring/quality series). Spark's median() is not
    frame-capable, so the frame is materialized as a sorted array
    (collect_list over the 11-row frame — O(frame log frame) per row,
    frame length is a constant) and the median read with explicit
    middle-element arithmetic. BOTH engines sort the same doubles and
    evaluate the same (lo + hi) / 2 — never each engine's internal
    quantile interpolation, whose float fold order differs. The window
    is the one hash-partition shuffle on user_id; no global sort.
    NULL values: Spark's collect_list silently drops them, so the
    oracle's list() carries a FILTER (value IS NOT NULL) to keep frame
    lengths identical if the fixture ever grows NULL values."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-10, Window.currentRow)
    )
    base = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.sort_array(F.collect_list("value").over(w)).alias("ls"),
    )
    return base.select(
        "user_id",
        "event_id",
        "ts",
        F.expr(
            "round((element_at(ls, CAST((size(ls) + 1) div 2 AS INT)) "
            "+ element_at(ls, CAST(size(ls) div 2 + 1 AS INT))) / 2, 6)"
        ).alias("med_11"),
    )


@query(
    "win_zscore_outlier",
    oracle="""
    SELECT event_id, user_id, ts,
           CASE WHEN n >= 5 AND var_v > 0
                THEN round((value - mean_v) / sqrt(var_v), 6) END AS z,
           CASE WHEN n >= 5 AND var_v > 0
                THEN abs((value - mean_v) / sqrt(var_v)) > 3 END AS is_outlier
    FROM (
      SELECT event_id, user_id, ts, value,
             count(*) OVER w AS n,
             CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
               / count(*) OVER w AS mean_v,
             (CAST(sum(CAST(value AS DECIMAL(18,6))
                       * CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
              - CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
                * CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
                / count(*) OVER w)
             / (count(*) OVER w - 1) AS var_v
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)) t
    """,
)
def win_zscore_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly flag per user: each event scored against
    the mean/variance of its own TRAILING 20 events (frame excludes
    the current row, so a spike can't dilute its own baseline) —
    the streaming-monitoring primitive behind alerting and data-drift
    checks, batch-shaped. Fewer than 5 prior points or zero variance
    -> null (no verdict), never a fake z.

    Parity discipline: the frame's sum and sum-of-squares accumulate
    in DECIMAL (exact, order-independent — engine-internal float
    stddev folds differ), variance is the textbook
    (sumsq - sum^2/n)/(n-1) evaluated in the SAME double shape on both
    engines, and round(6) lands after the division. One
    hash-partition shuffle on user_id."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-20, -1)
    )
    dec = F.col("value").cast("decimal(18,6)")
    n = F.count("*").over(w)
    s = F.sum(dec).over(w).cast("double")
    sq = F.sum(dec * dec).over(w).cast("double")
    mean_v = s / n
    var_v = (sq - s * s / n) / (n - 1)
    z_raw = (F.col("value") - mean_v) / F.sqrt(var_v)
    ok = (n >= 5) & (var_v > 0)
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.when(ok, F.round(z_raw, 6)).alias("z"),
        F.when(ok, F.abs(z_raw) > 3).alias("is_outlier"),
    )


@query(
    "win_rolling_slope",
    oracle="""
    SELECT user_id, event_id, ts,
           CASE WHEN n * sxx - sx * sx <> 0
                THEN round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
           END AS slope_10
    FROM (
      SELECT user_id, event_id, ts,
             count(*) OVER w AS n,
             sum(i) OVER w AS sx,
             CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sy,
             CAST(sum(i * CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sxy,
             sum(i * i) OVER w AS sxx
      FROM (
        SELECT user_id, event_id, ts, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS i
        FROM events) t
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)) z
    """,
)
def win_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling ORDINARY-LEAST-SQUARES SLOPE of value over a 10-row
    frame per user — the trend detector time-series monitoring runs
    next to the rolling mean (win_moving_avg_frame) and median
    (win_rolling_median): slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2),
    computed from five frame sums — no per-row refit, no quadratic
    rescan.

    Parity discipline: the regressor x is the per-user ROW INDEX
    (row_number over the same (ts, event_id) total order on both
    engines), not the raw epoch timestamp — integer x makes Sx/Sxx and
    the whole denominator EXACT integer arithmetic (epoch-micros x
    would be catastrophic-cancellation territory). Sy/Sxy accumulate
    as DECIMAL(18,6) (the win_moving_avg_frame discipline) so the
    frame sums are order-INDEPENDENT — DuckDB's segment-tree windowed
    aggregation folds in a different order than Spark's running frame,
    which a double sum would expose at round-boundary values. One
    round(6) after the final division; the single-row frame
    (denominator 0) yields NULL on both sides. One hash-partition
    shuffle on user_id carries both windows."""
    ev = table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w = wo.rowsBetween(-9, Window.currentRow)
    base = ev.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.row_number().over(wo).alias("i"),
    ).select(
        "user_id",
        "event_id",
        "ts",
        F.count("*").over(w).alias("n"),
        F.sum("i").over(w).alias("sx"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .over(w)
        .cast("double")
        .alias("sy"),
        F.sum(F.col("i") * F.col("value").cast("decimal(18,6)"))
        .over(w)
        .cast("double")
        .alias("sxy"),
        F.sum(F.col("i") * F.col("i")).over(w).alias("sxx"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return base.select(
        "user_id",
        "event_id",
        "ts",
        F.when(den != 0, F.round(num / den, 6)).alias("slope_10"),
    )


@query(
    "win_rolling_p90",
    oracle="""
    SELECT user_id, event_id, ts,
           round(list_extract(ls, (9 * len(ls) + 9) // 10), 6) AS p90_21
    FROM (
      SELECT user_id, event_id, ts,
             list_sort(list(value) FILTER (value IS NOT NULL) OVER w) AS ls
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 20 PRECEDING AND CURRENT ROW)) t
    """,
)
def win_rolling_p90(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling 90th PERCENTILE over a 21-row frame per user —
    the tail-latency monitor next to win_rolling_median's central
    tendency (p90/p99 is what SLOs alarm on, and a mean or median
    never sees the tail move). Same mechanism as win_rolling_median:
    Spark has no frame-capable percentile, so the frame materializes
    as a sorted array and the k-th smallest is read directly with
    k = ceil(0.9 * n) computed as the INTEGER (9n + 9) div 10 — both
    engines pick the identical element, never each engine's own
    quantile interpolation. One user-key window shuffle; frame sort
    is O(21 log 21) per row, a constant."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-20, Window.currentRow)
    )
    base = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.sort_array(F.collect_list("value").over(w)).alias("ls"),
    )
    return base.select(
        "user_id",
        "event_id",
        "ts",
        F.expr(
            "round(element_at(ls,"
            " CAST((9 * size(ls) + 9) div 10 AS INT)), 6)"
        ).alias("p90_21"),
    )


@query(
    "win_spc_western_electric",
    oracle="""
    SELECT event_id, user_id, ts,
           CASE WHEN ok THEN value > mu + 3 * sd OR value < mu - 3 * sd
           END AS we_rule1,
           CASE WHEN ok THEN
             (n3 >= 3 AND c2p >= 2) OR (n3 >= 3 AND c2m >= 2)
           END AS we_rule2,
           CASE WHEN ok THEN
             (n5 >= 5 AND c1p >= 4) OR (n5 >= 5 AND c1m >= 4)
           END AS we_rule3,
           CASE WHEN ok THEN
             (n8 >= 8 AND cap = 8) OR (n8 >= 8 AND cam = 8)
           END AS we_rule4
    FROM (
      SELECT event_id, user_id, ts, value, mu, sd,
             nu >= 25 AND sd > 0 AS ok,
             count(*) OVER w3 AS n3,
             count(*) OVER w5 AS n5,
             count(*) OVER w8 AS n8,
             sum(CASE WHEN value > mu + 2 * sd THEN 1 ELSE 0 END) OVER w3 AS c2p,
             sum(CASE WHEN value < mu - 2 * sd THEN 1 ELSE 0 END) OVER w3 AS c2m,
             sum(CASE WHEN value > mu + sd THEN 1 ELSE 0 END) OVER w5 AS c1p,
             sum(CASE WHEN value < mu - sd THEN 1 ELSE 0 END) OVER w5 AS c1m,
             sum(CASE WHEN value > mu THEN 1 ELSE 0 END) OVER w8 AS cap,
             sum(CASE WHEN value < mu THEN 1 ELSE 0 END) OVER w8 AS cam
      FROM (
        SELECT event_id, user_id, ts, value,
               count(*) OVER u AS nu,
               CAST(sum(CAST(value AS DECIMAL(18,6))) OVER u AS DOUBLE)
                 / count(*) OVER u AS mu,
               sqrt((CAST(sum(CAST(value AS DECIMAL(18,6))
                             * CAST(value AS DECIMAL(18,6))) OVER u AS DOUBLE)
                     - CAST(sum(CAST(value AS DECIMAL(18,6))) OVER u AS DOUBLE)
                       * CAST(sum(CAST(value AS DECIMAL(18,6))) OVER u AS DOUBLE)
                       / count(*) OVER u)
                    / (count(*) OVER u - 1)) AS sd
        FROM events
        WINDOW u AS (PARTITION BY user_id)) b
      WINDOW w3 AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
             w5 AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
             w8 AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)) t
    """,
)
def win_spc_western_electric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WESTERN ELECTRIC SPC RUN RULES per user — the four classic
    control-chart alarms evaluated at every event against that user's
    own control limits (mu, sd over the user's full history, the
    Shewhart chart a monitoring pipeline keeps per entity):

      rule1  point beyond 3 sigma (either side)
      rule2  >= 2 of the last 3 points beyond 2 sigma, SAME side
      rule3  >= 4 of the last 5 points beyond 1 sigma, SAME side
      rule4  8 consecutive points on the same side of the centerline

    Each rule fires on the point COMPLETING the run (trailing frames
    ending at the current row); partial frames (fewer rows than the
    run length) cannot fire, and users with < 25 events or zero
    variance get NULL verdicts, never a fake alarm. Flags are exact
    integer counts over boolean zone indicators — no floats in the
    run logic itself.

    Scale shape: ONE hash exchange on user_id carries everything —
    the unbounded control-limit window and the three trailing run
    frames share the same partitioning and (ts, event_id) sort, so
    Catalyst plans a single Exchange + sort (plan-pinned). No second
    pass, no self-join, no global window.

    Parity discipline (the win_zscore_outlier rules): mu and sd come
    from DECIMAL(18,6) sums (exact, order-independent — engine float
    folds differ), evaluated in the SAME double expression shape on
    both engines, so zone thresholds mu + k*sd are bit-identical and
    the integer zone counts cannot drift. Reference behavior analogue:
    the quality gating of retrieved context (app.py:278) generalized
    to statistical process control over event streams."""
    ev = table(spark, sf_dir, "events")
    u = Window.partitionBy("user_id")
    dec = F.col("value").cast("decimal(18,6)")
    nu = F.count("*").over(u)
    s = F.sum(dec).over(u).cast("double")
    sq = F.sum(dec * dec).over(u).cast("double")
    mu = s / nu
    sd = F.sqrt((sq - s * s / nu) / (nu - 1))
    b = ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        nu.alias("nu"),
        mu.alias("mu"),
        sd.alias("sd"),
    )

    def frame(rows: int):
        return (
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(-(rows - 1), Window.currentRow)
        )

    w3, w5, w8 = frame(3), frame(5), frame(8)
    v, m, d = F.col("value"), F.col("mu"), F.col("sd")

    def cnt(cond, w):
        return F.sum(F.when(cond, 1).otherwise(0)).over(w)

    t = b.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        "mu",
        "sd",
        ((F.col("nu") >= 25) & (d > 0)).alias("ok"),
        F.count("*").over(w3).alias("n3"),
        F.count("*").over(w5).alias("n5"),
        F.count("*").over(w8).alias("n8"),
        cnt(v > m + 2 * d, w3).alias("c2p"),
        cnt(v < m - 2 * d, w3).alias("c2m"),
        cnt(v > m + d, w5).alias("c1p"),
        cnt(v < m - d, w5).alias("c1m"),
        cnt(v > m, w8).alias("cap"),
        cnt(v < m, w8).alias("cam"),
    )
    ok = F.col("ok")
    return t.select(
        "event_id",
        "user_id",
        "ts",
        F.when(ok, (v > m + 3 * d) | (v < m - 3 * d)).alias("we_rule1"),
        F.when(
            ok,
            ((F.col("n3") >= 3) & (F.col("c2p") >= 2))
            | ((F.col("n3") >= 3) & (F.col("c2m") >= 2)),
        ).alias("we_rule2"),
        F.when(
            ok,
            ((F.col("n5") >= 5) & (F.col("c1p") >= 4))
            | ((F.col("n5") >= 5) & (F.col("c1m") >= 4)),
        ).alias("we_rule3"),
        F.when(
            ok,
            ((F.col("n8") >= 8) & (F.col("cap") == 8))
            | ((F.col("n8") >= 8) & (F.col("cam") == 8)),
        ).alias("we_rule4"),
    )


@query(
    "win_hampel_filter",
    oracle="""
    SELECT user_id, event_id, ts,
           round(med, 6) AS med_11,
           mad > 0 AND abs(value - med) > 3 * 1.4826 * mad AS is_spike,
           round(CASE WHEN mad > 0 AND abs(value - med) > 3 * 1.4826 * mad
                      THEN med ELSE value END, 6) AS filtered
    FROM (
      SELECT user_id, event_id, ts, value, med,
             (list_extract(ad, (len(ad) + 1) // 2)
              + list_extract(ad, len(ad) // 2 + 1)) / 2 AS mad
      FROM (
        SELECT user_id, event_id, ts, value, med,
               list_sort(list_transform(ls, v -> abs(v - med))) AS ad
        FROM (
          SELECT user_id, event_id, ts, value, ls,
                 (list_extract(ls, (len(ls) + 1) // 2)
                  + list_extract(ls, len(ls) // 2 + 1)) / 2 AS med
          FROM (
            SELECT user_id, event_id, ts, value,
                   list_sort(list(value) FILTER (value IS NOT NULL)
                             OVER w) AS ls
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING)
          ) a) b) c) d
    """,
)
def win_hampel_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAMPEL FILTER per user — the standard robust despiking pass a
    telemetry pipeline runs before feeding a model: each value is
    compared against the MEDIAN of its CENTERED 11-row neighborhood,
    scaled by the neighborhood MAD (median absolute deviation,
    x1.4826 for Gaussian consistency); points beyond 3 scaled MADs
    are spikes and are REPLACED by the local median. Unlike
    win_zscore_outlier (mean/std — a spike inflates its own
    baseline), the median/MAD baseline is immune to the spike itself;
    unlike win_mad_outlier (per-user global MAD), the window adapts
    to local level shifts. mad = 0 (constant neighborhood) flags
    nothing — never a fake spike.

    Spark has no frame-capable median (round-6 note), so the frame
    materializes once as a sorted array and BOTH median picks — value
    median and MAD — read explicit middle elements from arrays both
    engines sort identically; the (lo+hi)/2 halving and the
    3*1.4826*mad threshold share expression text, so the spike SET is
    bit-identical. One hash exchange on user_id carries everything;
    the per-row cost is O(frame log frame) with frame a constant."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-5, 5)
    )
    a = ev.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.sort_array(F.collect_list("value").over(w)).alias("ls"),
    )
    b = a.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.expr(
            "(element_at(ls, CAST((size(ls) + 1) div 2 AS INT))"
            " + element_at(ls, CAST(size(ls) div 2 + 1 AS INT))) / 2"
        ).alias("med"),
        "ls",
    )
    c = b.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        "med",
        F.expr("sort_array(transform(ls, v -> abs(v - med)))").alias("ad"),
    )
    d = c.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        "med",
        F.expr(
            "(element_at(ad, CAST((size(ad) + 1) div 2 AS INT))"
            " + element_at(ad, CAST(size(ad) div 2 + 1 AS INT))) / 2"
        ).alias("mad"),
    )
    spike = F.expr("mad > 0 AND abs(value - med) > 3 * 1.4826 * mad")
    return d.select(
        "user_id",
        "event_id",
        "ts",
        F.round("med", 6).alias("med_11"),
        spike.alias("is_spike"),
        F.round(F.when(spike, F.col("med")).otherwise(F.col("value")), 6).alias(
            "filtered"
        ),
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
# win_cusum_changepoint
# ---------------------------------------------------------------------------

_CUSUM_K = 40.0  # slack (~0.8 sigma of events.value), binary-exact
_CUSUM_H = 200.0  # alarm threshold (~4 sigma), binary-exact


@query(
    "win_cusum_changepoint",
    # Recursive-CTE oracle, not list_reduce: the CUSUM state is a
    # STRUCT (cs, mx, al) and DuckDB 1.0's list_reduce silently
    # mis-folds struct accumulators past ~2 elements (CLAUDE.md
    # round-6; win_holt_linear pins the same workaround).
    oracle=f"""
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
             greatest(0.0, s.x - mu.m - {_CUSUM_K}) AS mx,
             CASE WHEN greatest(0.0, s.x - mu.m - {_CUSUM_K}) > {_CUSUM_H}
                  THEN 1 ELSE 0 END AS al
      FROM seq s JOIN mu ON s.user_id = mu.user_id AND s.rn = 1
      UNION ALL
      SELECT st.user_id, st.i + 1,
             greatest(0.0, st.cs + s.x - mu.m - {_CUSUM_K}),
             greatest(st.mx,
                      greatest(0.0, st.cs + s.x - mu.m - {_CUSUM_K})),
             st.al + CASE WHEN greatest(0.0, st.cs + s.x - mu.m - {_CUSUM_K})
                               > {_CUSUM_H} THEN 1 ELSE 0 END
      FROM st JOIN seq s ON s.user_id = st.user_id AND s.rn = st.i + 1
              JOIN mu ON mu.user_id = st.user_id)
    SELECT st.user_id, CAST(mu.n AS BIGINT) AS n_events,
           round(st.mx, 6) AS max_cusum,
           CAST(st.al AS BIGINT) AS n_alarms,
           CAST(CASE WHEN st.al > 0 THEN 1 ELSE 0 END AS BIGINT)
             AS alarmed
    FROM st JOIN mu ON st.user_id = mu.user_id AND st.i = mu.n
    """,
)
def win_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-SIDED CUSUM change-point detection per user (Page 1954):
    s_i = max(0, s_(i-1) + x_i - mean - k), alarm when s crosses h —
    the sequential drift detector monitoring pipelines run over
    per-entity metric streams (here: event values per user, k ~0.8
    sigma, h ~4 sigma; 41/150 fixture users alarm). Reports the peak
    statistic and alarm count per user.

    Same per-key-bounded sequential-fold shape as win_holt_linear: the
    series is collected per user (bounded by per-user activity, the
    partitioning key a 1000-executor run shards on) and folded
    JVM-side as a (cs, mx, al) STRUCT accumulator — no UDF, no
    driver iteration. The per-user mean rides the same aggregate.

    Parity: inputs are round(6)-quantized; the mean divides an exact
    DECIMAL sum; both constants are binary-exact; the fold's update
    expression is textually identical on both engines (left-assoc
    cs + x - m - k) and the time order is pinned by (ts, event_id),
    so the doubles agree bit-wise before the single round(6)."""
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
            F.count("*").cast("bigint").alias("n_events"),
            (
                F.sum(F.col("x").cast("decimal(28,6)")).cast("double")
                / F.count("*")
            ).alias("m"),
            F.sort_array(F.collect_list("s")).alias("ss"),
        )
    )
    fold = F.expr(
        "aggregate(transform(ss, s -> s.x), "
        "named_struct('cs', CAST(0.0 AS DOUBLE), "
        "'mx', CAST(0.0 AS DOUBLE), 'al', CAST(0 AS BIGINT)), "
        f"(s, x) -> named_struct("
        f"'cs', greatest(0.0D, s.cs + x - m - {_CUSUM_K}D), "
        f"'mx', greatest(s.mx, greatest(0.0D, s.cs + x - m - {_CUSUM_K}D)), "
        f"'al', s.al + IF(greatest(0.0D, s.cs + x - m - {_CUSUM_K}D) "
        f"> {_CUSUM_H}D, CAST(1 AS BIGINT), CAST(0 AS BIGINT))))"
    )
    return v.select("user_id", "n_events", fold.alias("st")).select(
        "user_id",
        "n_events",
        F.round(F.col("st.mx"), 6).alias("max_cusum"),
        F.col("st.al").alias("n_alarms"),
        (F.col("st.al") > 0).cast("bigint").alias("alarmed"),
    )


# ---------------------------------------------------------------------------
# win_seasonal_naive_mae
# ---------------------------------------------------------------------------


@query(
    "win_seasonal_naive_mae",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             round(CAST(sum(CAST(round(value, 6) AS DECIMAL(28, 6)))
                        AS DOUBLE), 6) AS total
      FROM events GROUP BY 1, 2),
    f AS (
      SELECT event_type, total,
             lag(total, 7) OVER (PARTITION BY event_type
                                 ORDER BY day) AS pred
      FROM daily)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(count(pred) AS BIGINT) AS n_forecast,
           round(CAST(sum(CAST(round(abs(total - pred), 6)
                               AS DECIMAL(28, 6))) AS DOUBLE)
                 / count(pred), 6) AS mae
    FROM f
    GROUP BY event_type
    """,
)
def win_seasonal_naive_mae(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEASONAL-NAIVE FORECAST BACKTEST per event type: predict each
    day's total value with the total from 7 days (7 series rows)
    earlier and report the mean absolute error — the standard
    baseline every forecasting deployment must beat (and the cheapest
    possible backtest to run in-warehouse). Output: days, forecastable
    days, MAE per type.

    Shape at scale: the fact table collapses to |types| x |days| rows
    in one map-side-combined aggregate; the lag window then runs per
    type over day-count-bounded partitions (365 rows/year/type — the
    window is trivially executor-local after the aggregate's
    shuffle, and Catalyst reuses that exchange for the window's
    partitioning). The final MAE aggregate rides the same partitions.

    Parity: daily totals sum round(6)-quantized values as DECIMAL
    (order-independent) and are re-round(6)'d; the error is a
    difference of those identical doubles, quantized again before the
    DECIMAL mean. lag(7) over (event_type, day) is deterministic —
    day is unique per type after aggregation."""
    ev = table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.to_date("ts").alias("day"),
            F.round("value", 6).cast("decimal(28,6)").alias("v"),
        )
        .groupBy("event_type", "day")
        .agg(F.round(F.sum("v").cast("double"), 6).alias("total"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    f = daily.select(
        "event_type", "total", F.lag("total", 7).over(w).alias("pred")
    )
    return f.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.count("pred").cast("bigint").alias("n_forecast"),
        F.round(
            F.sum(
                F.round(F.abs(F.col("total") - F.col("pred")), 6).cast(
                    "decimal(28,6)"
                )
            ).cast("double")
            / F.count("pred"),
            6,
        ).alias("mae"),
    )


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
# win_page_hinkley
# ---------------------------------------------------------------------------

_PH_MU = 50.0  # monitored in-control mean (fixture note: exp(50))
_PH_DELTA = 5.0  # drift magnitude tolerance (binary-exact)
_PH_LAMBDA = 300.0  # alarm threshold (sized: ~half the users alarm)


@query(
    "win_page_hinkley",
    oracle=f"""
    WITH RECURSIVE seq AS (
      SELECT user_id, round(value, 6) AS x,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events),
    nn AS (SELECT user_id, max(rn) AS n FROM seq GROUP BY user_id),
    st AS (
      SELECT s.user_id, 1 AS i,
             s.x - {_PH_MU} - {_PH_DELTA} AS mt,
             least(0.0, s.x - {_PH_MU} - {_PH_DELTA}) AS mn,
             CASE WHEN (s.x - {_PH_MU} - {_PH_DELTA})
                       - least(0.0, s.x - {_PH_MU} - {_PH_DELTA})
                       > {_PH_LAMBDA} THEN 1 ELSE 0 END AS al
      FROM seq s WHERE s.rn = 1
      UNION ALL
      SELECT st.user_id, st.i + 1,
             st.mt + s.x - {_PH_MU} - {_PH_DELTA},
             least(st.mn, st.mt + s.x - {_PH_MU} - {_PH_DELTA}),
             st.al + CASE WHEN (st.mt + s.x - {_PH_MU} - {_PH_DELTA})
                               - least(st.mn,
                                       st.mt + s.x - {_PH_MU} - {_PH_DELTA})
                               > {_PH_LAMBDA} THEN 1 ELSE 0 END
      FROM st JOIN seq s ON s.user_id = st.user_id AND s.rn = st.i + 1)
    SELECT st.user_id, CAST(nn.n AS BIGINT) AS n_events,
           round(st.mt - st.mn, 6) AS ph_final,
           CAST(st.al AS BIGINT) AS n_alarms,
           CAST(CASE WHEN st.al > 0 THEN 1 ELSE 0 END AS BIGINT) AS alarmed
    FROM st JOIN nn ON st.user_id = nn.user_id AND st.i = nn.n
    """,
)
def win_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAGE-HINKLEY upward-drift detector per user: accumulate
    m_t = sum(x - mu - delta), track its running MINIMUM, and alarm
    whenever m_t - min exceeds lambda — the min-anchored variant of
    CUSUM (win_cusum_changepoint clamps at zero each step; Page-
    Hinkley remembers how far the series has climbed off its lowest
    point, the standard concept-drift trigger in streaming-ML
    monitors). Constants sized against the fixture distribution
    (mu=50 per the events.value note; delta=5, lambda=300 alarms
    roughly half the users — an undiscriminating threshold tests
    nothing).

    Same per-key-bounded sequential-fold shape as win_cusum_
    changepoint: the series folds JVM-side as an (mt, mn, al) STRUCT
    accumulator in one user-key exchange; the oracle steps the
    identical left-associative float ops in a recursive CTE (struct
    list_reduce is broken in DuckDB — the standing note), so the fold
    is bit-exact on both engines and round(6) lands once."""
    ev = table(spark, sf_dir, "events")
    v = (
        ev.select(
            "user_id",
            F.struct(
                F.unix_micros("ts").alias("us"), "event_id",
                F.round("value", 6).alias("x"),
            ).alias("s"),
        )
        .groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sort_array(F.collect_list("s")).alias("ss"),
        )
    )
    step = f"s.mt + x - {_PH_MU}D - {_PH_DELTA}D"
    fold = F.expr(
        f"""aggregate(
          transform(ss, p -> p.x),
          named_struct('mt', CAST(0.0 AS DOUBLE),
                       'mn', CAST(0.0 AS DOUBLE),
                       'al', CAST(0 AS BIGINT),
                       'k', CAST(0 AS BIGINT)),
          (s, x) -> named_struct(
            'mt', {step},
            'mn', IF(s.k = 0, least(0.0D, {step}),
                     least(s.mn, {step})),
            'al', s.al + IF(({step})
                            - IF(s.k = 0, least(0.0D, {step}),
                                 least(s.mn, {step}))
                            > {_PH_LAMBDA}D,
                            CAST(1 AS BIGINT), CAST(0 AS BIGINT)),
            'k', s.k + 1))"""
    )
    return v.select("user_id", "n_events", fold.alias("st")).select(
        "user_id",
        "n_events",
        F.round(F.col("st.mt") - F.col("st.mn"), 6).alias("ph_final"),
        F.col("st.al").alias("n_alarms"),
        (F.col("st.al") > 0).cast("bigint").alias("alarmed"),
    )


# ---------------------------------------------------------------------------
# win_changepoint_pelt_1d
# ---------------------------------------------------------------------------

# Exact segmented least-squares changepoint detection with a fixed
# segment count. K = 3 segments (2 changepoints) over the daily-mean
# series — the objective PELT optimizes, solved by the optimal-
# partitioning DP directly: on a bounded day domain the O(T^2)
# candidate set is a few thousand pairs, so PELT's pruning (a
# scan-order optimization for T ~ 1e6 streaming points) buys nothing.
_CPT_K = 3


@query(
    "win_changepoint_pelt_1d",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS cents,
             count(*) AS cnt
      FROM events GROUP BY 1),
    idx AS MATERIALIZED (
      SELECT day,
             CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
             CAST(round(CAST(cents AS DOUBLE) / cnt / 100.0, 6)
                  AS DECIMAL(16,6)) AS m
      FROM daily),
    pre AS MATERIALIZED (
      SELECT t,
             CAST(sum(m) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DECIMAL(28,6)) AS p,
             CAST(sum(m * m) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DECIMAL(38,12)) AS pq
      FROM idx
      UNION ALL SELECT 0, CAST(0 AS DECIMAL(28,6)),
                       CAST(0 AS DECIMAL(38,12))),
    pairs AS MATERIALIZED (
      SELECT a.t AS s, b.t AS t,
             CAST(round(CAST(b.pq - a.pq AS DOUBLE)
                        - CAST(b.p - a.p AS DOUBLE)
                          * CAST(b.p - a.p AS DOUBLE) / (b.t - a.t), 6)
                  AS DECIMAL(28,6)) AS c
      FROM pre a JOIN pre b ON a.t < b.t),
    f1 AS MATERIALIZED (
      SELECT t, c AS f FROM pairs WHERE s = 0),
    f2 AS MATERIALIZED (
      SELECT t, f, s FROM (
        SELECT p.t, CAST(f1.f + p.c AS DECIMAL(28,6)) AS f, p.s,
               row_number() OVER (PARTITION BY p.t
                 ORDER BY CAST(f1.f + p.c AS DECIMAL(28,6)), p.s) AS rn
        FROM pairs p JOIN f1 ON f1.t = p.s) z2
      WHERE rn = 1),
    f3 AS MATERIALIZED (
      SELECT t, f, s FROM (
        SELECT p.t, CAST(f2.f + p.c AS DECIMAL(28,6)) AS f, p.s,
               row_number() OVER (PARTITION BY p.t
                 ORDER BY CAST(f2.f + p.c AS DECIMAL(28,6)), p.s) AS rn
        FROM pairs p JOIN f2 ON f2.t = p.s) z3
      WHERE rn = 1),
    tmax AS (SELECT max(t) AS tt FROM idx),
    r3 AS (SELECT f3.f AS total, f3.s AS s2, tmax.tt
           FROM f3 CROSS JOIN tmax WHERE f3.t = tmax.tt),
    r2 AS (SELECT r3.total, f2.s AS s1, r3.s2, r3.tt
           FROM r3 JOIN f2 ON f2.t = r3.s2),
    segs AS (
      SELECT 1 AS segment_id, 1 AS a, s1 AS b, total FROM r2
      UNION ALL SELECT 2, s1 + 1, s2, total FROM r2
      UNION ALL SELECT 3, s2 + 1, tt, total FROM r2),
    st AS (
      SELECT g.segment_id, g.a, g.b, g.total, p.c,
             CAST(pb.p - pa.p AS DOUBLE) / (g.b - g.a + 1) AS mean
      FROM segs g
      JOIN pairs p ON p.s = g.a - 1 AND p.t = g.b
      JOIN pre pa ON pa.t = g.a - 1
      JOIN pre pb ON pb.t = g.b)
    SELECT st.segment_id,
           da.day AS start_day, db.day AS end_day,
           CAST(st.b - st.a + 1 AS BIGINT) AS n_days,
           round(st.mean, 6) AS seg_mean,
           round(CAST(st.c AS DOUBLE), 6) AS seg_sse,
           round(CAST(st.total AS DOUBLE), 6) AS total_cost
    FROM st JOIN idx da ON da.t = st.a
            JOIN idx db ON db.t = st.b
    """,
)
def win_changepoint_pelt_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT SEGMENTED-COST CHANGEPOINT DETECTION over the daily-mean
    value series: the optimal-partitioning dynamic program that PELT
    accelerates, solved exactly for K = 3 segments (2 changepoints)
    minimizing total within-segment SSE — which two days did the
    level of the series actually shift, with the provably-minimal
    segmentation rather than a heuristic scan (win_cusum_changepoint
    and win_page_hinkley detect ONLINE with detection delay; this is
    the OFFLINE ground truth they are benchmarked against). Output:
    one row per segment with its date span, mean level, SSE, and the
    grand minimal cost.

    Shape at 100 TB: the fact table collapses to the DAY domain in
    one map-side-combinable aggregate; the entire DP — prefix sums,
    the O(T^2) candidate-cost grid, K argmin levels — lives on that
    bounded domain (T ~ hundreds: the grid is thousands of rows at
    ANY corpus size; PELT's pruning only matters when T is itself
    row-scaled). The grid is localCheckpoint-materialized because
    three DP levels and the final segment join all reference it (the
    _cosupply_edges re-derivation rule).

    Parity: daily means quantize round(6) into DECIMAL(16,6) (the
    autocorr discipline; squares stay inside DuckDB's int64 decimal
    kernel); prefix sums are exact DECIMAL; every candidate cost
    quantizes round(6) into DECIMAL(28,6), so DP values are EXACT
    decimal sums — min and argmin (tie-break: smaller split point)
    are exact on both engines, and no float comparison ever decides
    the segmentation. Means and SSEs convert to double only in the
    output row, round(6)."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.expr("CAST(value * 100 + 0.5 AS BIGINT)"))
        .cast("bigint")
        .alias("cents"),
        F.count("*").alias("cnt"),
    )
    w_t = Window.orderBy("day")
    idx = daily.select(
        "day",
        F.row_number().over(w_t).cast("bigint").alias("t"),
        F.expr(
            "CAST(round(CAST(cents AS DOUBLE) / cnt / 100.0, 6)"
            " AS DECIMAL(16,6))"
        ).alias("m"),
    ).localCheckpoint()
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    pre = (
        idx.select(
            "t",
            F.sum("m").over(w_cum).cast("decimal(28,6)").alias("p"),
            F.sum(F.col("m") * F.col("m"))
            .over(w_cum)
            .cast("decimal(38,12)")
            .alias("pq"),
        )
        .unionAll(
            spark.range(1).select(
                F.lit(0).cast("bigint").alias("t"),
                F.lit(0).cast("decimal(28,6)").alias("p"),
                F.lit(0).cast("decimal(38,12)").alias("pq"),
            )
        )
        .localCheckpoint()
    )
    a = pre.select(
        F.col("t").alias("s"), F.col("p").alias("pa"), F.col("pq").alias("qa")
    )
    b = pre.select("t", F.col("p").alias("pb"), F.col("pq").alias("qb"))
    pairs = (
        a.join(b, F.col("s") < F.col("t"))
        .select(
            "s",
            "t",
            F.expr(
                "CAST(round(CAST(qb - qa AS DOUBLE)"
                " - CAST(pb - pa AS DOUBLE) * CAST(pb - pa AS DOUBLE)"
                " / (t - s), 6) AS DECIMAL(28,6))"
            ).alias("c"),
        )
        .localCheckpoint()
    )
    f = pairs.where(F.col("s") == 0).select("t", F.col("c").alias("f"))
    picks = []
    for _ in range(2, _CPT_K + 1):
        w_pick = Window.partitionBy("t").orderBy("f", "s")
        f = (
            pairs.join(
                f.select(F.col("t").alias("s"), F.col("f").alias("fp")), "s"
            )
            .select(
                "t",
                F.expr("CAST(fp + c AS DECIMAL(28,6))").alias("f"),
                "s",
            )
            .withColumn("rn", F.row_number().over(w_pick))
            .where(F.col("rn") == 1)
            .select("t", "f", "s")
            .localCheckpoint()
        )
        picks.append(f)
    f2, f3 = picks
    tmax = idx.agg(F.max("t").alias("tt"))
    r3 = f3.crossJoin(F.broadcast(tmax)).where(
        F.col("t") == F.col("tt")
    ).select(F.col("f").alias("total"), F.col("s").alias("s2"), "tt")
    r2 = r3.join(
        F.broadcast(f2.select(F.col("t").alias("s2"), F.col("s").alias("s1"))),
        "s2",
    )
    segs = (
        r2.selectExpr(
            "1 AS segment_id", "CAST(1 AS BIGINT) AS a", "s1 AS b", "total"
        )
        .unionAll(
            r2.selectExpr("2 AS segment_id", "s1 + 1 AS a", "s2 AS b", "total")
        )
        .unionAll(
            r2.selectExpr("3 AS segment_id", "s2 + 1 AS a", "tt AS b", "total")
        )
    )
    st = (
        segs.join(
            F.broadcast(
                pairs.select(
                    (F.col("s") + 1).alias("a"), F.col("t").alias("b"), "c"
                )
            ),
            ["a", "b"],
        )
        .join(
            F.broadcast(
                pre.select((F.col("t") + 1).alias("a"), F.col("p").alias("ppa"))
            ),
            "a",
        )
        .join(
            F.broadcast(
                pre.select(F.col("t").alias("b"), F.col("p").alias("ppb"))
            ),
            "b",
        )
        .select(
            "segment_id",
            "a",
            "b",
            "total",
            "c",
            F.expr("CAST(ppb - ppa AS DOUBLE) / (b - a + 1)").alias("mean"),
        )
    )
    return (
        st.join(
            F.broadcast(
                idx.select(F.col("t").alias("a"), F.col("day").alias("start_day"))
            ),
            "a",
        )
        .join(
            F.broadcast(
                idx.select(F.col("t").alias("b"), F.col("day").alias("end_day"))
            ),
            "b",
        )
        .selectExpr(
            "segment_id",
            "start_day",
            "end_day",
            "CAST(b - a + 1 AS BIGINT) AS n_days",
            "round(mean, 6) AS seg_mean",
            "round(CAST(c AS DOUBLE), 6) AS seg_sse",
            "round(CAST(total AS DOUBLE), 6) AS total_cost",
        )
    )


# ---------------------------------------------------------------------------
# win_pacf_durbin_levinson
# ---------------------------------------------------------------------------

# Shared expression text for the ACF estimates and the unrolled
# Durbin-Levinson recursion (lags 1..4). Every intermediate quantizes
# round(9) so cross-engine sub-ulp drift cannot compound through the
# recursion (the win_kalman_1d / PageRank discipline); outputs round(6).
_PACF_R = (
    "round((CAST(sp{h} AS DOUBLE) - CAST(a{h} + b{h} AS DOUBLE) * sm / tn"
    " + (tn - {h}) * (sm / tn) * (sm / tn))"
    " / (CAST(q0 AS DOUBLE) - sm * sm / tn), 9) AS r{h}"
)
_PACF_STAGES = [
    ["round(r1, 9) AS phi11"],
    [
        "round((r2 - phi11 * r1) / (1.0 - phi11 * r1), 9) AS phi22",
    ],
    ["round(phi11 - phi22 * phi11, 9) AS phi21"],
    [
        "round((r3 - phi21 * r2 - phi22 * r1)"
        " / (1.0 - phi21 * r1 - phi22 * r2), 9) AS phi33",
    ],
    [
        "round(phi21 - phi33 * phi22, 9) AS phi31",
        "round(phi22 - phi33 * phi21, 9) AS phi32",
    ],
    [
        "round((r4 - phi31 * r3 - phi32 * r2 - phi33 * r1)"
        " / (1.0 - phi31 * r1 - phi32 * r2 - phi33 * r3), 9) AS phi44",
    ],
]


def _pacf_oracle() -> str:
    rcols = ",\n             ".join(
        _PACF_R.format(h=h) for h in (1, 2, 3, 4)
    )
    ctes = []
    prev = "mo"
    for i, stage in enumerate(_PACF_STAGES):
        ctes.append(
            f"s{i} AS (SELECT *, {', '.join(stage)} FROM {prev})"
        )
        prev = f"s{i}"
    cte_block = ",\n    ".join(ctes)
    return f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(round(CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                             AS DOUBLE) / count(*) / 100.0, 6)
                  AS DECIMAL(16,6)) AS m
      FROM events GROUP BY 1, 2),
    led AS (
      SELECT event_type, m,
             lead(m, 1) OVER w AS m1, lead(m, 2) OVER w AS m2,
             lead(m, 3) OVER w AS m3, lead(m, 4) OVER w AS m4
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day)),
    agg AS (
      SELECT event_type,
             CAST(count(*) AS DOUBLE) AS tn,
             CAST(sum(m) AS DOUBLE) AS sm,
             sum(m * m) AS q0,
             sum(CASE WHEN m1 IS NOT NULL THEN m * m1 END) AS sp1,
             sum(CASE WHEN m2 IS NOT NULL THEN m * m2 END) AS sp2,
             sum(CASE WHEN m3 IS NOT NULL THEN m * m3 END) AS sp3,
             sum(CASE WHEN m4 IS NOT NULL THEN m * m4 END) AS sp4,
             sum(CASE WHEN m1 IS NOT NULL THEN m END) AS a1,
             sum(CASE WHEN m2 IS NOT NULL THEN m END) AS a2,
             sum(CASE WHEN m3 IS NOT NULL THEN m END) AS a3,
             sum(CASE WHEN m4 IS NOT NULL THEN m END) AS a4,
             sum(m1) AS b1, sum(m2) AS b2, sum(m3) AS b3, sum(m4) AS b4
      FROM led GROUP BY event_type),
    mo AS (
      SELECT event_type, tn,
             {rcols}
      FROM agg
      WHERE CAST(q0 AS DOUBLE) - sm * sm / tn > 0 AND tn > 8),
    {cte_block}
    SELECT event_type, CAST(tn AS BIGINT) AS n_days,
           round(r1, 6) AS acf_1, round(r2, 6) AS acf_2,
           round(r3, 6) AS acf_3, round(r4, 6) AS acf_4,
           round(phi11, 6) AS pacf_1, round(phi22, 6) AS pacf_2,
           round(phi33, 6) AS pacf_3, round(phi44, 6) AS pacf_4
    FROM {prev}
    """


@query("win_pacf_durbin_levinson", oracle=_pacf_oracle())
def win_pacf_durbin_levinson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTIAL AUTOCORRELATION FUNCTION (lags 1-4) of the per-type
    daily-mean series via the Durbin-Levinson recursion — the second
    half of the Box-Jenkins identification pair: agg_autocorr_daily's
    ACF tails off for AR processes, and it is the PACF's CUTOFF lag
    that names the AR order a forecaster should fit (win_holt_linear
    vs something richer). ACF estimates use the standard biased
    autocovariance with the full-series mean (the estimator DL
    assumes positive-definite); lags are positional on the observed
    day sequence.

    Shape at 100 TB: the fact table collapses to the DAY x TYPE
    domain in one map-side-combinable aggregate; the four lag
    products come from ONE lead-window pass over the bounded per-type
    day series (partitioned by type — no global sort), and the entire
    recursion is per-type scalar arithmetic on the k-row moment
    frame.

    Parity: daily means quantize round(6) into DECIMAL(16,6), so all
    lag products and partial sums are EXACT decimals; each ACF value
    and every Durbin-Levinson coefficient is one shared-text double
    expression quantized round(9) before the next level uses it —
    drift cannot compound through the recursion (the win_kalman_1d
    discipline). Types with degenerate variance or fewer than 9 days
    are excluded on both sides. Outputs round(6)."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.expr(
            "CAST(round(CAST(sum(CAST(value * 100 + 0.5 AS BIGINT))"
            " AS DOUBLE) / count(*) / 100.0, 6) AS DECIMAL(16,6))"
        ).alias("m")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    led = daily.select(
        "event_type",
        "m",
        F.lead("m", 1).over(w).alias("m1"),
        F.lead("m", 2).over(w).alias("m2"),
        F.lead("m", 3).over(w).alias("m3"),
        F.lead("m", 4).over(w).alias("m4"),
    )
    agg = led.groupBy("event_type").agg(
        F.count("*").cast("double").alias("tn"),
        F.sum("m").cast("double").alias("sm"),
        F.sum(F.col("m") * F.col("m")).alias("q0"),
        *[
            F.sum(
                F.expr(f"CASE WHEN m{h} IS NOT NULL THEN m * m{h} END")
            ).alias(f"sp{h}")
            for h in (1, 2, 3, 4)
        ],
        *[
            F.sum(
                F.expr(f"CASE WHEN m{h} IS NOT NULL THEN m END")
            ).alias(f"a{h}")
            for h in (1, 2, 3, 4)
        ],
        *[F.sum(f"m{h}").alias(f"b{h}") for h in (1, 2, 3, 4)],
    )
    mo = agg.where(
        F.expr("CAST(q0 AS DOUBLE) - sm * sm / tn > 0 AND tn > 8")
    ).selectExpr(
        "event_type",
        "tn",
        *[_PACF_R.format(h=h) for h in (1, 2, 3, 4)],
    )
    cur = mo
    for stage in _PACF_STAGES:
        cur = cur.selectExpr("*", *stage)
    return cur.selectExpr(
        "event_type",
        "CAST(tn AS BIGINT) AS n_days",
        "round(r1, 6) AS acf_1",
        "round(r2, 6) AS acf_2",
        "round(r3, 6) AS acf_3",
        "round(r4, 6) AS acf_4",
        "round(phi11, 6) AS pacf_1",
        "round(phi22, 6) AS pacf_2",
        "round(phi33, 6) AS pacf_3",
        "round(phi44, 6) AS pacf_4",
    )


# ---------------------------------------------------------------------------
# win_seasonal_decompose_additive
# ---------------------------------------------------------------------------


@query(
    "win_seasonal_decompose_additive",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(round(CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                             AS DOUBLE) / count(*) / 100.0, 6)
                  AS DECIMAL(16,6)) AS m
      FROM events GROUP BY 1),
    tr AS (
      SELECT day, m,
             CAST(round(CAST(sum(m) OVER w AS DOUBLE) / 7, 6)
                  AS DECIMAL(16,6)) AS trend,
             count(*) OVER w AS c7
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING
                   AND 3 FOLLOWING)),
    base AS (
      SELECT day, m, trend, m - trend AS detr,
             CAST(dayofweek(day) AS BIGINT) AS dow
      FROM tr WHERE c7 = 7),
    sea AS (
      SELECT dow,
             CAST(round(CAST(sum(detr) AS DOUBLE) / count(*), 6)
                  AS DECIMAL(16,6)) AS savg
      FROM base GROUP BY dow),
    gm AS (
      SELECT CAST(round(CAST(sum(savg) AS DOUBLE) / count(*), 6)
                  AS DECIMAL(16,6)) AS g
      FROM sea)
    SELECT base.day,
           round(CAST(base.m AS DOUBLE), 6) AS observed,
           round(CAST(base.trend AS DOUBLE), 6) AS trend,
           round(CAST(sea.savg - gm.g AS DOUBLE), 6) AS seasonal,
           round(CAST(base.detr - (sea.savg - gm.g) AS DOUBLE), 6)
             AS remainder
    FROM base JOIN sea USING (dow) CROSS JOIN gm
    """,
)
def win_seasonal_decompose_additive(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CLASSICAL ADDITIVE DECOMPOSITION of the daily-mean value
    series: observed = trend + seasonal + remainder, with trend the
    centered 7-day moving average, seasonal the mean-centered
    day-of-week profile of the detrended series, remainder the rest —
    the decomposition agg_seasonality_strength SUMMARIZES (its
    strength ratio is var(seasonal-containing) vs var(remainder));
    this op exposes the full per-day components a forecaster or
    anomaly screen actually consumes (win_zscore_outlier on the
    REMAINDER finds anomalies the raw series hides under weekday
    cycle). Edge days without a full 7-day window are excluded, not
    padded (both engines identically).

    Shape at 100 TB: the fact table collapses to the DAY domain in
    one map-side-combinable aggregate; the moving-average window, the
    7-row day-of-week profile, and the centering constant all live on
    that bounded domain (hundreds of rows at any corpus size — the
    single ordered window is over the domain, never rows).

    Parity: daily means quantize round(6) into DECIMAL(16,6); the
    7-day trend is sum-of-decimals (exact) divided by the literal 7
    and re-quantized; detrended values are exact decimal differences;
    the dow profile and its grand centering re-quantize at each
    level, so every output component is a difference of exact
    decimals rendered once as double, round(6). Spark dayofweek-1 ==
    DuckDB dayofweek (the _ols_x convention)."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.expr(
            "CAST(round(CAST(sum(CAST(value * 100 + 0.5 AS BIGINT))"
            " AS DOUBLE) / count(*) / 100.0, 6) AS DECIMAL(16,6))"
        ).alias("m")
    )
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    tr = daily.select(
        "day",
        "m",
        F.expr(
            "CAST(round(CAST(sum(m) OVER (ORDER BY day"
            " ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)"
            " AS DOUBLE) / 7, 6) AS DECIMAL(16,6))"
        ).alias("trend"),
        F.count("*").over(w7).alias("c7"),
    )
    base = (
        tr.where(F.col("c7") == 7)
        .select(
            "day",
            "m",
            "trend",
            (F.col("m") - F.col("trend")).alias("detr"),
            (F.dayofweek("day") - 1).cast("bigint").alias("dow"),
        )
        .localCheckpoint()
    )
    sea = base.groupBy("dow").agg(
        F.expr(
            "CAST(round(CAST(sum(detr) AS DOUBLE) / count(*), 6)"
            " AS DECIMAL(16,6))"
        ).alias("savg")
    )
    gm = sea.agg(
        F.expr(
            "CAST(round(CAST(sum(savg) AS DOUBLE) / count(*), 6)"
            " AS DECIMAL(16,6))"
        ).alias("g")
    )
    return (
        base.join(F.broadcast(sea), "dow")
        .crossJoin(F.broadcast(gm))
        .selectExpr(
            "day",
            "round(CAST(m AS DOUBLE), 6) AS observed",
            "round(CAST(trend AS DOUBLE), 6) AS trend",
            "round(CAST(savg - g AS DOUBLE), 6) AS seasonal",
            "round(CAST(detr - (savg - g) AS DOUBLE), 6) AS remainder",
        )
    )


# ---------------------------------------------------------------------------
# win_cross_correlation_lags
# ---------------------------------------------------------------------------


@query(
    "win_cross_correlation_lags",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(round(CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                             AS DOUBLE) / count(*) / 100.0, 6)
                  AS DECIMAL(16,6)) AS m
      FROM events WHERE event_type IN ('click', 'view') GROUP BY 1, 2),
    x AS (SELECT day, m FROM daily WHERE event_type = 'click'),
    y AS (SELECT day, m FROM daily WHERE event_type = 'view'),
    lags AS (SELECT unnest(generate_series(-3, 3)) AS lag),
    p AS (
      SELECT lags.lag, x.m AS xv, y.m AS yv
      FROM lags JOIN x ON TRUE
      JOIN y ON y.day = x.day + CAST(lags.lag AS INT)),
    mo AS (
      SELECT lag, CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(xv) AS DOUBLE) AS sx, CAST(sum(yv) AS DOUBLE) AS sy,
             CAST(sum(xv * xv) AS DOUBLE) AS sxx,
             CAST(sum(xv * yv) AS DOUBLE) AS sxy,
             CAST(sum(yv * yv) AS DOUBLE) AS syy
      FROM p GROUP BY lag)
    SELECT CAST(lag AS BIGINT) AS lag_days, CAST(n AS BIGINT) AS n_pairs,
           round((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
             AS ccf
    FROM mo
    WHERE (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
    """,
)
def win_cross_correlation_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-CORRELATION FUNCTION between the click and view
    daily-mean series at lags -3..+3 days: ccf(h) = corr(click_t,
    view_{t+h}) — the lead-lag detector (a peak at h > 0 says clicks
    LEAD views by h days; at h < 0, the reverse) that tells an
    attribution or forecasting pipeline which series is the
    leading indicator. The within-series diagnostics
    (agg_autocorr_daily, win_pacf_durbin_levinson) cannot see this;
    CCF is their two-series completion.

    Shape at 100 TB: the fact table collapses once to the bounded
    DAY x {click,view} domain; the 7 lag alignments come from one
    join of the 7-row lag frame against the two day series (calendar
    date_add keys — no row-scaled work anywhere); Pearson moments per
    lag on the bounded pair frame.

    Parity: daily means quantize round(6) into DECIMAL(16,6); pair
    moments are exact decimal sums cast to double once; the Pearson
    assembly is one shared expression, round(6); zero-variance lags
    are excluded identically."""
    ev = table(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("event_type").isin("click", "view"))
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(
            F.expr(
                "CAST(round(CAST(sum(CAST(value * 100 + 0.5 AS BIGINT))"
                " AS DOUBLE) / count(*) / 100.0, 6) AS DECIMAL(16,6))"
            ).alias("m")
        )
        .localCheckpoint()
    )
    x = daily.where(F.col("event_type") == "click").select(
        "day", F.col("m").alias("xv")
    )
    y = daily.where(F.col("event_type") == "view").select(
        F.col("day").alias("yday"), F.col("m").alias("yv")
    )
    lags = spark.range(-3, 4).select(F.col("id").cast("int").alias("lag"))
    p = (
        F.broadcast(lags)
        .crossJoin(x)
        .join(y, F.col("yday") == F.expr("date_add(day, lag)"))
        .select("lag", "xv", "yv")
    )
    mo = p.groupBy("lag").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("xv").cast("double").alias("sx"),
        F.sum("yv").cast("double").alias("sy"),
        F.expr("CAST(sum(xv * xv) AS DOUBLE)").alias("sxx"),
        F.expr("CAST(sum(xv * yv) AS DOUBLE)").alias("sxy"),
        F.expr("CAST(sum(yv * yv) AS DOUBLE)").alias("syy"),
    )
    return mo.where(
        (F.expr("n * sxx - sx * sx") > 0)
        & (F.expr("n * syy - sy * sy") > 0)
    ).selectExpr(
        "CAST(lag AS BIGINT) AS lag_days",
        "CAST(n AS BIGINT) AS n_pairs",
        "round((n * sxy - sx * sy)"
        " / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)"
        " AS ccf",
    )


# ---------------------------------------------------------------------------
# win_stl_anomaly_flags
# ---------------------------------------------------------------------------


@query(
    "win_stl_anomaly_flags",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(round(CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                             AS DOUBLE) / count(*) / 100.0, 6)
                  AS DECIMAL(16,6)) AS m
      FROM events GROUP BY 1),
    tr AS (
      SELECT day, m,
             CAST(round(CAST(sum(m) OVER w AS DOUBLE) / 7, 6)
                  AS DECIMAL(16,6)) AS trend,
             count(*) OVER w AS c7
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING
                   AND 3 FOLLOWING)),
    base AS (
      SELECT day, m, trend, m - trend AS detr,
             CAST(dayofweek(day) AS BIGINT) AS dow
      FROM tr WHERE c7 = 7),
    sea AS (
      SELECT dow,
             CAST(round(CAST(sum(detr) AS DOUBLE) / count(*), 6)
                  AS DECIMAL(16,6)) AS savg
      FROM base GROUP BY dow),
    gm AS (
      SELECT CAST(round(CAST(sum(savg) AS DOUBLE) / count(*), 6)
                  AS DECIMAL(16,6)) AS g
      FROM sea),
    rem AS (
      SELECT base.day,
             base.detr - (sea.savg - gm.g) AS r
      FROM base JOIN sea USING (dow) CROSS JOIN gm),
    st AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(r) AS DECIMAL(28,6)) AS s,
             CAST(sum(CAST(r AS DECIMAL(19,6)) * r) AS DECIMAL(38,12)) AS q
      FROM rem)
    SELECT rem.day, round(CAST(rem.r AS DOUBLE), 6) AS remainder,
           round((CAST(rem.r AS DOUBLE) - CAST(st.s AS DOUBLE) / st.n)
                 / sqrt(CAST(st.q AS DOUBLE) / st.n
                        - (CAST(st.s AS DOUBLE) / st.n)
                          * (CAST(st.s AS DOUBLE) / st.n)), 6) AS rem_z,
           CAST(CASE WHEN abs(round((CAST(rem.r AS DOUBLE)
                        - CAST(st.s AS DOUBLE) / st.n)
                 / sqrt(CAST(st.q AS DOUBLE) / st.n
                        - (CAST(st.s AS DOUBLE) / st.n)
                          * (CAST(st.s AS DOUBLE) / st.n)), 6)) > 2.0
                     THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
    FROM rem CROSS JOIN st
    """,
)
def win_stl_anomaly_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEASONALLY-ADJUSTED ANOMALY FLAGS: z-score the REMAINDER
    component of win_seasonal_decompose_additive and flag days with
    |z| > 2 — the composition that makes the decomposition
    actionable: win_zscore_outlier on the raw series flags every
    healthy weekend swing, while z on the remainder flags only what
    the trend and weekday cycle cannot explain. This is the daily
    anomaly screen a metrics pipeline actually pages on.

    Shape at 100 TB: the decomposition chain (one day-domain
    collapse + bounded-domain windows) plus a 1-row moment broadcast
    — nothing row-scaled beyond the first aggregate.

    Parity: the remainder is an exact decimal (the decomposition's
    quantization ladder); its moments are exact decimal sums
    (DECIMAL(19,6) squares — inside DuckDB's int64 kernel for
    cents-scale remainders); mean, sigma, and z are shared double
    expressions, z quantizes round(6) BEFORE the |z| > 2 comparison
    so the flag cannot flip on sub-ulp drift."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.expr(
            "CAST(round(CAST(sum(CAST(value * 100 + 0.5 AS BIGINT))"
            " AS DOUBLE) / count(*) / 100.0, 6) AS DECIMAL(16,6))"
        ).alias("m")
    )
    tr = daily.select(
        "day",
        "m",
        F.expr(
            "CAST(round(CAST(sum(m) OVER (ORDER BY day"
            " ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)"
            " AS DOUBLE) / 7, 6) AS DECIMAL(16,6))"
        ).alias("trend"),
        F.count("*")
        .over(Window.orderBy("day").rowsBetween(-3, 3))
        .alias("c7"),
    )
    base = (
        tr.where(F.col("c7") == 7)
        .select(
            "day",
            (F.col("m") - F.col("trend")).alias("detr"),
            (F.dayofweek("day") - 1).cast("bigint").alias("dow"),
        )
        .localCheckpoint()
    )
    sea = base.groupBy("dow").agg(
        F.expr(
            "CAST(round(CAST(sum(detr) AS DOUBLE) / count(*), 6)"
            " AS DECIMAL(16,6))"
        ).alias("savg")
    )
    gm = sea.agg(
        F.expr(
            "CAST(round(CAST(sum(savg) AS DOUBLE) / count(*), 6)"
            " AS DECIMAL(16,6))"
        ).alias("g")
    )
    rem = (
        base.join(F.broadcast(sea), "dow")
        .crossJoin(F.broadcast(gm))
        .select(
            "day",
            (F.col("detr") - (F.col("savg") - F.col("g"))).alias("r"),
        )
        .localCheckpoint()
    )
    st = rem.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("r").cast("decimal(28,6)").alias("s"),
        F.sum(F.expr("CAST(r AS DECIMAL(19,6)) * r"))
        .cast("decimal(38,12)")
        .alias("q"),
    )
    z_expr = (
        "(CAST(r AS DOUBLE) - CAST(s AS DOUBLE) / n)"
        " / sqrt(CAST(q AS DOUBLE) / n"
        " - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))"
    )
    return rem.crossJoin(F.broadcast(st)).selectExpr(
        "day",
        "round(CAST(r AS DOUBLE), 6) AS remainder",
        f"round({z_expr}, 6) AS rem_z",
        f"CAST(CASE WHEN abs(round({z_expr}, 6)) > 2.0"
        " THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly",
    )


# ---------------------------------------------------------------------------
# win_isotonic_regression_day
# ---------------------------------------------------------------------------


@query(
    "win_isotonic_regression_day",
    oracle="""
    WITH daily AS MATERIALIZED (
      SELECT CAST(ts AS DATE) AS day,
             CAST(round(CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                             AS DOUBLE) / count(*) / 100.0, 6)
                  AS DECIMAL(16,6)) AS m
      FROM events GROUP BY 1),
    idx AS MATERIALIZED (
      SELECT day, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t, m
      FROM daily),
    pre AS MATERIALIZED (
      SELECT t, CAST(sum(m) OVER (ORDER BY t) AS DECIMAL(28,6)) AS p
      FROM idx
      UNION ALL SELECT CAST(0 AS BIGINT), CAST(0 AS DECIMAL(28,6))),
    seg AS MATERIALIZED (
      SELECT a.t AS s, b.t AS t,
             CAST(b.p - a.p AS DOUBLE) / (b.t - a.t) AS avgv
      FROM pre a JOIN pre b ON a.t < b.t),
    rmin AS MATERIALIZED (
      SELECT s, t,
             min(avgv) OVER (PARTITION BY s ORDER BY t DESC) AS rm
      FROM seg),
    fit AS MATERIALIZED (
      SELECT t, max(rm) AS fit FROM rmin GROUP BY t)
    SELECT i.day, round(CAST(i.m AS DOUBLE), 6) AS observed,
           round(f.fit, 6) AS iso_fit,
           round(CAST(i.m AS DOUBLE) - f.fit, 6) AS residual
    FROM idx i JOIN fit f USING (t)
    """,
)
def win_isotonic_regression_day(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ISOTONIC (monotone nondecreasing) REGRESSION of the daily-mean
    value series, solved EXACTLY via the minimax closed form
    fit_i = max_{j<=i} min_{k>=i} mean(y_j..y_k) — the L2-optimal
    monotone fit that PAVA (pool-adjacent-violators) computes
    sequentially, here as two bounded window passes so nothing is
    iterative. The monotone-trend counterpart of win_theil_sen_slope
    (a LINE through the series) and the fit whose residuals
    agg_mann_kendall_trend's "is there a monotone trend" verdict
    licenses reading; level sets in the output are PAVA's pools.

    Shape at 100 TB: the fact table collapses to the day domain in
    one map-side-combinable aggregate; the minimax grid is the
    bounded T(T+1)/2 segment-average matrix (a few hundred rows at
    ANY corpus size), one running-min window partitioned by segment
    start, one groupBy max. The O(T^2) grid is the same
    bounded-domain move as win_changepoint_pelt_1d.

    Parity: daily means quantize round(6) into DECIMAL(16,6); prefix
    sums are exact DECIMAL, so every segment average is ONE correctly
    rounded double division of exact quantities — identical doubles
    on both engines, making min/max picks exact; fits render once,
    round(6)."""
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
    ).localCheckpoint()
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    pre = (
        idx.select(
            "t", F.sum("m").over(w_cum).cast("decimal(28,6)").alias("p")
        )
        .unionAll(
            spark.range(1).select(
                F.lit(0).cast("bigint").alias("t"),
                F.lit(0).cast("decimal(28,6)").alias("p"),
            )
        )
        .localCheckpoint()
    )
    a = pre.select(F.col("t").alias("s"), F.col("p").alias("pa"))
    b = pre.select("t", F.col("p").alias("pb"))
    seg = a.join(b, F.col("s") < F.col("t")).select(
        "s",
        "t",
        (
            (F.col("pb") - F.col("pa")).cast("double")
            / (F.col("t") - F.col("s"))
        ).alias("avgv"),
    )
    w_rm = (
        Window.partitionBy("s")
        .orderBy(F.col("t").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    rmin = seg.select("s", "t", F.min("avgv").over(w_rm).alias("rm"))
    fit = rmin.groupBy("t").agg(F.max("rm").alias("fit"))
    return idx.join(fit, "t").select(
        "day",
        F.round(F.col("m").cast("double"), 6).alias("observed"),
        F.round(F.col("fit"), 6).alias("iso_fit"),
        F.round(F.col("m").cast("double") - F.col("fit"), 6).alias(
            "residual"
        ),
    )


# ---------------------------------------------------------------------------
# win_conformal_interval_daily
# ---------------------------------------------------------------------------


@query(
    "win_conformal_interval_daily",
    oracle="""
    WITH daily AS MATERIALIZED (
      SELECT CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1),
    idx AS MATERIALIZED (
      SELECT day, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
             cents
      FROM daily),
    f AS MATERIALIZED (
      SELECT a.day, a.t, a.cents AS actual, b.cents AS forecast,
             abs(a.cents - b.cents) AS score
      FROM idx a JOIN idx b ON b.t = a.t - 7),
    nn AS MATERIALIZED (SELECT max(t) AS tmax FROM idx),
    cal AS MATERIALIZED (
      SELECT f.score FROM f CROSS JOIN nn
      WHERE f.t <= nn.tmax - 8),
    qq AS MATERIALIZED (
      SELECT CAST(count(*) AS BIGINT) AS ncal,
             CAST(max(CASE WHEN rk = CAST(ceil((count_all + 1) * 0.8)
                                         AS BIGINT)
                           THEN score END) AS BIGINT) AS q
      FROM (
        SELECT score,
               CAST(row_number() OVER (ORDER BY score) AS BIGINT) AS rk,
               count(*) OVER () AS count_all
        FROM cal) r)
    SELECT f.day, f.actual, f.forecast,
           f.forecast - qq.q AS lower_cents,
           f.forecast + qq.q AS upper_cents,
           CAST(CASE WHEN f.actual BETWEEN f.forecast - qq.q
                                       AND f.forecast + qq.q
                     THEN 1 ELSE 0 END AS BIGINT) AS covered,
           qq.ncal AS n_calibration
    FROM f CROSS JOIN nn CROSS JOIN qq
    WHERE f.t > nn.tmax - 8
    """,
)
def win_conformal_interval_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SPLIT-CONFORMAL PREDICTION INTERVALS for the daily revenue
    total under a seasonal-naive forecast (y_hat_t = y_{t-7}): the
    conformity score |y_t - y_{t-7}| is ranked on the CALIBRATION
    days (all forecastable days except the last 8), the interval
    half-width is the ceil((n_cal+1)·0.8)-th smallest score (the
    finite-sample-valid 80% quantile), and the last 8 days are the
    evaluation split, each reported with its interval and coverage
    flag. This is the distribution-free uncertainty layer the point
    forecasters (win_seasonal_naive_mae, win_holt_linear) lack:
    marginal coverage >= 80% holds by exchangeability alone, no
    normality assumption — the difference between "MAE is 12" and
    "tomorrow lands in [a, b] 4 times out of 5".

    Shape at 100 TB: one groupBy(day) collapses the fact table to
    the day domain; the lag-7 join, the rank pick, and the 8
    evaluation rows are all bounded-domain work.

    Parity: daily totals are exact BIGINT cents, so scores, the
    sorted rank pick, and the interval bounds are all exact integers
    — no float ever appears. The quantile is a deterministic
    row_number pick (the exact-rank machinery), identical on both
    engines."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.expr("CAST(value * 100 + 0.5 AS BIGINT)"))
        .cast("bigint")
        .alias("cents")
    )
    idx = daily.select(
        "day",
        F.row_number().over(Window.orderBy("day")).cast("bigint").alias("t"),
        "cents",
    ).localCheckpoint()
    b = idx.select(
        F.col("t").alias("tb"), F.col("cents").alias("forecast")
    )
    f = (
        idx.withColumn("tb", F.col("t") - 7)
        .join(b, "tb")
        .select(
            "day",
            "t",
            F.col("cents").alias("actual"),
            "forecast",
            F.abs(F.col("cents") - F.col("forecast")).alias("score"),
        )
        .localCheckpoint()
    )
    nn = idx.agg(F.max("t").alias("tmax")).localCheckpoint()
    cal = (
        f.crossJoin(F.broadcast(nn))
        .where(F.col("t") <= F.col("tmax") - 8)
        .select("score")
    )
    ranked = cal.select(
        "score",
        F.row_number()
        .over(Window.orderBy("score"))
        .cast("bigint")
        .alias("rk"),
        F.count("*").over(Window.partitionBy()).alias("count_all"),
    )
    qq = ranked.agg(
        F.count("*").cast("bigint").alias("ncal"),
        F.max(
            F.when(
                F.col("rk")
                == F.expr(
                    "CAST(ceil((count_all + 1) * 0.8) AS BIGINT)"
                ),
                F.col("score"),
            )
        )
        .cast("bigint")
        .alias("q"),
    )
    return (
        f.crossJoin(F.broadcast(nn))
        .where(F.col("t") > F.col("tmax") - 8)
        .crossJoin(F.broadcast(qq))
        .select(
            "day",
            "actual",
            "forecast",
            (F.col("forecast") - F.col("q")).alias("lower_cents"),
            (F.col("forecast") + F.col("q")).alias("upper_cents"),
            F.expr(
                "CAST(CASE WHEN actual BETWEEN forecast - q"
                " AND forecast + q THEN 1 ELSE 0 END AS BIGINT)"
            ).alias("covered"),
            F.col("ncal").alias("n_calibration"),
        )
    )


# ---------------------------------------------------------------------------
# win_periodogram_daily
# ---------------------------------------------------------------------------


@query(
    "win_periodogram_daily",
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
    coeff AS MATERIALIZED (
      SELECT ks.k, max(dev.n) AS n,
             CAST(sum(CAST(round(dev.x * cos(2 * pi() * ks.k * dev.t
                                             / dev.n), 9)
                           AS DECIMAL(28,9))) AS DECIMAL(38,9)) AS a,
             CAST(sum(CAST(round(dev.x * sin(2 * pi() * ks.k * dev.t
                                             / dev.n), 9)
                           AS DECIMAL(28,9))) AS DECIMAL(38,9)) AS b
      FROM ks CROSS JOIN dev
      GROUP BY ks.k),
    pw AS (
      SELECT k, n,
             round((CAST(a AS DOUBLE) * CAST(a AS DOUBLE)
                    + CAST(b AS DOUBLE) * CAST(b AS DOUBLE))
                   * 2.0 / n, 9) AS power
      FROM coeff)
    SELECT k AS freq_index,
           round(CAST(n AS DOUBLE) / k, 6) AS period_days,
           round(power, 6) AS power,
           round(power / sum(power) OVER (), 6) AS power_share
    FROM pw
    """,
)
def win_periodogram_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISCRETE FOURIER PERIODOGRAM of the daily-mean value series at
    Fourier frequencies k = 1..14 (periods n/k days): power_k =
    2(a_k² + b_k²)/n with a_k = Σ x_t cos(2πkt/n), b_k the sine sum,
    x centered — the frequency-domain answer to WHICH cycle drives
    the series (win_seasonal_decompose_additive ASSUMES the weekly
    period; the periodogram detects it: the power_share column makes
    a dominant weekly line readable at k ≈ n/7). Completes the
    spectral side of the Box-Jenkins ladder next to
    agg_ljung_box_test (time domain) and win_pacf_durbin_levinson.

    Shape at 100 TB: the fact table collapses to the day domain in
    one map-side-combinable aggregate; the trig term grid is bounded
    (14 frequencies x the day domain) and the power table is 14 rows.
    The single-partition window over 14 rows is deliberate.

    Parity: daily means quantize round(6) into DECIMAL(16,6); the
    trig arguments are shared double expressions (2*pi()*k*t/n of
    exact integers), whose cross-libm cos/sin drift (~1e-16 relative,
    deviations ~1e2 -> ~1e-14 absolute) sits five orders below the
    round(9) per-term quantum (the agg_theil_index argument); each
    term quantizes into DECIMAL before the order-independent sum;
    power quantizes round(9), shares render round(6)."""
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
    coeff = (
        ks.crossJoin(dev)
        .groupBy("k")
        .agg(
            F.max("n").alias("n"),
            F.sum(
                F.expr(
                    "CAST(round(x * cos(2 * pi() * k * t / n), 9)"
                    " AS DECIMAL(28,9))"
                )
            )
            .cast("decimal(38,9)")
            .alias("a"),
            F.sum(
                F.expr(
                    "CAST(round(x * sin(2 * pi() * k * t / n), 9)"
                    " AS DECIMAL(28,9))"
                )
            )
            .cast("decimal(38,9)")
            .alias("b"),
        )
    )
    pw = coeff.selectExpr(
        "k",
        "n",
        "round((CAST(a AS DOUBLE) * CAST(a AS DOUBLE)"
        " + CAST(b AS DOUBLE) * CAST(b AS DOUBLE)) * 2.0 / n, 9)"
        " AS power",
    )
    return pw.select(
        F.col("k").alias("freq_index"),
        F.expr("round(CAST(n AS DOUBLE) / k, 6)").alias("period_days"),
        F.round("power", 6).alias("power"),
        F.expr("round(power / sum(power) OVER (), 6)").alias(
            "power_share"
        ),
    )


# ---------------------------------------------------------------------------
# win_holt_winters_seasonal
# ---------------------------------------------------------------------------

# alpha = 0.5, beta = 0.25, gamma = 0.5 — all binary-exact, so the
# fold is bit-identical on both engines once the evaluation order is
# pinned (the win_holt_linear discipline, extended to 9 state fields).


def _hw_exprs(pl: str, px: str, pd: str, dsuf: str):
    """Render (sd, newl, newb, news_1..7) expression texts.

    pl: state field prefix ("s." Spark lambda / "h." DuckDB CTE);
    px: the new observation; pd: its seasonal slot; dsuf: "D" for
    Spark double literals, "" for DuckDB (bare 0.5 is DECIMAL there
    and promotes exactly through the double multiply).
    """
    sd = (
        "(CASE " + " ".join(
            f"WHEN {pd} = {k} THEN {pl}s{k}" for k in range(1, 8)
        ) + " ELSE 0.0 END)"
    )
    newl = f"(0.5{dsuf} * ({px} - {sd}) + 0.5{dsuf} * ({pl}l + {pl}b))"
    newb = f"(0.25{dsuf} * ({newl} - {pl}l) + 0.75{dsuf} * {pl}b)"
    news = {
        k: (
            f"(CASE WHEN {pd} = {k} THEN 0.5{dsuf} * ({px} - {newl})"
            f" + 0.5{dsuf} * {sd} ELSE {pl}s{k} END)"
        )
        for k in range(1, 8)
    }
    return sd, newl, newb, news


def _hw_oracle() -> str:
    sd, newl, newb, news = _hw_exprs("h.", "s.x", "s.d", "")
    news_cols = ",\n             ".join(
        f"{news[k]} AS s{k}" for k in range(1, 8)
    )
    fsd = "(CASE " + " ".join(
        f"WHEN g.slot = {k} THEN f.s{k}" for k in range(1, 8)
    ) + " ELSE 0.0 END)"
    return f"""
    WITH RECURSIVE daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(round(CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                             AS DOUBLE) / count(*) / 100.0, 6)
                  AS DECIMAL(16,6)) AS m
      FROM events GROUP BY 1),
    seq AS MATERIALIZED (
      SELECT day,
             CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
             CAST((CAST(row_number() OVER (ORDER BY day) AS BIGINT) - 1)
                  % 7 + 1 AS BIGINT) AS d,
             CAST(m AS DOUBLE) AS x
      FROM daily),
    init AS MATERIALIZED (
      SELECT CAST(sum(CASE WHEN t <= 7 THEN CAST(x AS DECIMAL(16,6))
                           END) AS DOUBLE) / 7 AS l0,
             (CAST(sum(CASE WHEN t BETWEEN 8 AND 14
                            THEN CAST(x AS DECIMAL(16,6)) END)
                   AS DOUBLE) / 7
              - CAST(sum(CASE WHEN t <= 7 THEN CAST(x AS DECIMAL(16,6))
                              END) AS DOUBLE) / 7) / 7 AS b0,
             {", ".join(
                 f"max(CASE WHEN t = {k} THEN x END)"
                 f" - CAST(sum(CASE WHEN t <= 7 THEN"
                 f" CAST(x AS DECIMAL(16,6)) END) AS DOUBLE) / 7 AS i{k}"
                 for k in range(1, 8))}
      FROM seq),
    h AS (
      SELECT CAST(7 AS BIGINT) AS i, l0 AS l, b0 AS b,
             {", ".join(f"i{k} AS s{k}" for k in range(1, 8))}
      FROM init
      UNION ALL
      SELECT h.i + 1, {newl} AS l, {newb} AS b,
             {news_cols}
      FROM h JOIN seq s ON s.t = h.i + 1),
    fin AS MATERIALIZED (
      SELECT * FROM h WHERE i = (SELECT max(t) FROM seq)),
    lastday AS MATERIALIZED (
      SELECT max(day) AS d0, max(t) AS n FROM seq),
    hs AS (SELECT CAST(unnest(generate_series(1, 7)) AS BIGINT) AS hh)
    SELECT hs.hh AS horizon,
           ld.d0 + CAST(hs.hh AS INTEGER) AS target_day,
           round(f.l, 6) AS level, round(f.b, 6) AS trend,
           round({fsd}, 6) AS seasonal,
           round(f.l + hs.hh * f.b + {fsd}, 6) AS forecast
    FROM fin f CROSS JOIN lastday ld CROSS JOIN hs
    JOIN (SELECT hs2.hh AS hh,
                 CAST((ld2.n + hs2.hh - 1) % 7 + 1 AS BIGINT) AS slot
          FROM (SELECT CAST(unnest(generate_series(1, 7)) AS BIGINT)
                  AS hh) hs2 CROSS JOIN lastday ld2) g
      ON g.hh = hs.hh
    """


@query("win_holt_winters_seasonal", oracle=_hw_oracle())
def win_holt_winters_seasonal(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """HOLT-WINTERS ADDITIVE triple exponential smoothing of the
    daily-mean value series (level alpha=0.5, trend beta=0.25, weekly
    seasonal gamma=0.5, period 7), emitting the next-7-day forecast
    fan: forecast(h) = level + h*trend + seasonal[(n+h-1) mod 7 + 1].
    Completes the forecasting ladder — win_ewma_smooth (level only),
    win_holt_linear (level+trend), this op (level+trend+seasonality):
    the production short-horizon forecaster for any daily operational
    metric with a weekly cycle. Classic init: level = week-1 mean,
    trend = (week-2 mean - week-1 mean)/7, seasonal[d] = day d minus
    week-1 mean, fold from day 8.

    Shape at 100 TB: the fact table collapses to the day domain in
    one map-side-combinable aggregate; the 9-field state then folds
    over ONE bounded day-ordered array JVM-side (aggregate() with a
    named_struct accumulator — the CUSUM 3-field precedent at 9
    fields), no UDF, no iteration over actions.

    Parity: all three smoothing constants are binary-exact doubles;
    the update expressions are textually identical on both engines
    with the new level expanded in place (the win_holt_linear
    discipline), so the folds agree bit-wise; the DuckDB twin steps
    the same updates through a RECURSIVE CTE (struct list_reduce is
    broken there), anchored on data-derived init values so no anchor
    literal pins a type; init means divide exact DECIMAL week sums
    once in DOUBLE. round(6) lands only in the output row."""
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
    ).localCheckpoint()
    w1 = "CAST(sum(CASE WHEN t <= 7 THEN m END) AS DOUBLE) / 7"
    stats = idx.selectExpr(
        "t", "m", "CAST(m AS DOUBLE) AS x", "(t - 1) % 7 + 1 AS d", "day"
    ).localCheckpoint()
    init = stats.agg(
        F.expr(f"{w1}").alias("l0"),
        F.expr(
            "(CAST(sum(CASE WHEN t BETWEEN 8 AND 14 THEN m END)"
            f" AS DOUBLE) / 7 - {w1}) / 7"
        ).alias("b0"),
        *[
            F.expr(f"max(CASE WHEN t = {k} THEN x END) - {w1}").alias(
                f"i{k}"
            )
            for k in range(1, 8)
        ],
        F.max("t").cast("bigint").alias("n"),
        F.max("day").alias("d0"),
    )
    arr = stats.where(F.col("t") >= 8).agg(
        F.sort_array(
            F.collect_list(F.struct("t", "d", "x"))
        ).alias("vals")
    )
    sd, newl, newb, news = _hw_exprs("s.", "e.x", "e.d", "D")
    news_fields = ", ".join(
        f"'s{k}', {news[k]}" for k in range(1, 8)
    )
    fold = F.expr(
        "aggregate(vals, named_struct('l', l0, 'b', b0, "
        + ", ".join(f"'s{k}', i{k}" for k in range(1, 8))
        + f"), (s, e) -> named_struct('l', {newl}, 'b', {newb}, "
        + news_fields
        + "))"
    )
    st = init.crossJoin(F.broadcast(arr)).select(
        fold.alias("st"), "n", "d0"
    )
    hs = spark.range(1, 8).select(F.col("id").alias("horizon"))
    fsd = (
        "(CASE "
        + " ".join(
            f"WHEN (n + horizon - 1) % 7 + 1 = {k} THEN st.s{k}"
            for k in range(1, 8)
        )
        + " ELSE 0.0 END)"
    )
    return st.crossJoin(F.broadcast(hs)).selectExpr(
        "horizon",
        "date_add(d0, CAST(horizon AS INT)) AS target_day",
        "round(st.l, 6) AS level",
        "round(st.b, 6) AS trend",
        f"round({fsd}, 6) AS seasonal",
        f"round(st.l + horizon * st.b + {fsd}, 6) AS forecast",
    )


# ---------------------------------------------------------------------------
# win_matrix_profile_1d
# ---------------------------------------------------------------------------


@query(
    "win_matrix_profile_1d",
    oracle="""
    WITH daily AS MATERIALIZED (
      SELECT CAST(ts AS DATE) AS day,
             CAST(round(CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                             AS DOUBLE) / count(*) / 100.0, 6)
                  AS DECIMAL(16,6)) AS m
      FROM events GROUP BY 1),
    idx AS MATERIALIZED (
      SELECT day, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t, m
      FROM daily),
    nn AS MATERIALIZED (SELECT max(t) AS n FROM idx),
    ks AS (SELECT CAST(unnest(generate_series(0, 4)) AS BIGINT) AS k),
    wf AS MATERIALIZED (
      SELECT i.t - ks.k AS i, ks.k, i.m
      FROM idx i CROSS JOIN ks CROSS JOIN nn
      WHERE i.t - ks.k >= 1 AND i.t - ks.k <= nn.n - 4),
    mo AS MATERIALIZED (
      SELECT i, CAST(sum(m) AS DECIMAL(28,6)) AS s,
             CAST(sum(CAST(m AS DECIMAL(19,6)) * m) AS DECIMAL(38,12))
               AS q
      FROM wf GROUP BY i),
    dots AS MATERIALIZED (
      SELECT a.i AS i, b.i AS j,
             CAST(sum(CAST(a.m AS DECIMAL(19,6)) * b.m)
                  AS DECIMAL(38,12)) AS tt
      FROM wf a JOIN wf b ON a.k = b.k AND abs(a.i - b.i) >= 3
      GROUP BY 1, 2),
    dist AS (
      SELECT d.i, d.j,
             round(sqrt(greatest(0.0, 2.0 * 5
                    * (1.0 - (5 * CAST(d.tt AS DOUBLE)
                              - CAST(ma.s AS DOUBLE) * CAST(mb.s AS DOUBLE))
                       / sqrt((5 * CAST(ma.q AS DOUBLE)
                               - CAST(ma.s AS DOUBLE) * CAST(ma.s AS DOUBLE))
                              * (5 * CAST(mb.q AS DOUBLE)
                                 - CAST(mb.s AS DOUBLE)
                                   * CAST(mb.s AS DOUBLE)))))), 9) AS dist
      FROM dots d JOIN mo ma ON ma.i = d.i JOIN mo mb ON mb.i = d.j),
    best AS (
      SELECT i, j, dist,
             row_number() OVER (PARTITION BY i ORDER BY dist, j) AS rk
      FROM dist)
    SELECT ii.day AS start_day, jj.day AS nn_start_day,
           round(b.dist, 6) AS nn_dist
    FROM best b
    JOIN idx ii ON ii.t = b.i
    JOIN idx jj ON jj.t = b.j
    WHERE b.rk = 1
    """,
)
def win_matrix_profile_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATRIX PROFILE of the daily-mean series with subsequence
    length 5: for every 5-day window, the z-normalized Euclidean
    distance to its nearest non-trivial neighbor (exclusion zone
    |i-j| >= 3) and that neighbor's start day — the all-pairs motif/
    discord detector of the modern time-series toolkit: the row with
    the SMALLEST nn_dist is a repeated motif (two near-identical
    weeks), the row with the LARGEST is the discord
    win_stl_anomaly_flags might miss when the anomaly is a SHAPE, not
    a level. Distance via the Pearson identity
    d = sqrt(2w(1 - corr)), so window moments + cross dot products
    are the whole computation.

    Shape at 100 TB: the fact table collapses to the day domain; the
    window frame (D·w rows), the dot-product pair join (bounded by
    D²·w), and the per-window argmin are all bounded-domain work —
    the same O(T²)-on-the-bounded-grid move as
    win_changepoint_pelt_1d. (At row-scaled series lengths the STOMP
    recurrence would replace the pair join; on a day/hour domain the
    grid IS the fast path.)

    Parity: daily means quantize round(6) into DECIMAL(16,6); window
    sums, square sums, and cross dot products are EXACT decimal sums
    (DECIMAL(19,6) operands — the DuckDB int64-kernel rule), so corr
    is one shared double expression of exact decimals; dist quantizes
    round(9) before the (dist, j) argmin pick, making the neighbor
    choice deterministic on both engines; output rounds once at 6."""
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
    ).localCheckpoint()
    nn = idx.agg(F.max("t").alias("n")).localCheckpoint()
    ks = spark.range(0, 5).select(F.col("id").alias("k"))
    wf = (
        idx.crossJoin(F.broadcast(ks))
        .crossJoin(F.broadcast(nn))
        .select((F.col("t") - F.col("k")).alias("i"), "k", "m", "n")
        .where((F.col("i") >= 1) & (F.col("i") <= F.col("n") - 4))
        .select("i", "k", "m")
        .localCheckpoint()
    )
    mo = wf.groupBy("i").agg(
        F.sum("m").cast("decimal(28,6)").alias("s"),
        F.sum(F.expr("CAST(m AS DECIMAL(19,6)) * m"))
        .cast("decimal(38,12)")
        .alias("q"),
    ).localCheckpoint()
    b = wf.select(F.col("i").alias("j"), "k", F.col("m").alias("mb"))
    dots = (
        wf.join(b, "k")
        .where(F.expr("abs(i - j) >= 3"))
        .groupBy("i", "j")
        .agg(
            F.sum(F.expr("CAST(m AS DECIMAL(19,6)) * mb"))
            .cast("decimal(38,12)")
            .alias("tt")
        )
    )
    ma = mo.select(F.col("i"), F.col("s").alias("sa"), F.col("q").alias("qa"))
    mb2 = mo.select(
        F.col("i").alias("j"), F.col("s").alias("sb"), F.col("q").alias("qb")
    )
    dist = (
        dots.join(F.broadcast(ma), "i")
        .join(F.broadcast(mb2), "j")
        .selectExpr(
            "i",
            "j",
            "round(sqrt(greatest(0.0, 2.0 * 5"
            " * (1.0 - (5 * CAST(tt AS DOUBLE)"
            " - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))"
            " / sqrt((5 * CAST(qa AS DOUBLE)"
            " - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))"
            " * (5 * CAST(qb AS DOUBLE)"
            " - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)))))), 9)"
            " AS dist",
        )
    )
    w_rk = Window.partitionBy("i").orderBy("dist", "j")
    best = dist.withColumn("rk", F.row_number().over(w_rk)).where(
        F.col("rk") == 1
    )
    ii = idx.select(F.col("t").alias("i"), F.col("day").alias("start_day"))
    jj = idx.select(
        F.col("t").alias("j"), F.col("day").alias("nn_start_day")
    )
    return (
        best.join(F.broadcast(ii), "i")
        .join(F.broadcast(jj), "j")
        .select(
            "start_day", "nn_start_day", F.round("dist", 6).alias("nn_dist")
        )
    )


# ---------------------------------------------------------------------------
# win_sax_symbolize
# ---------------------------------------------------------------------------


@query(
    "win_sax_symbolize",
    oracle="""
    WITH daily AS MATERIALIZED (
      SELECT CAST(ts AS DATE) AS day,
             CAST(round(CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                             AS DOUBLE) / count(*) / 100.0, 6)
                  AS DECIMAL(16,6)) AS m
      FROM events GROUP BY 1),
    idx AS MATERIALIZED (
      SELECT day, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t, m
      FROM daily),
    st AS MATERIALIZED (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(m) AS DOUBLE) / count(*) AS mu,
             sqrt((CAST(sum(CAST(m AS DECIMAL(19,6)) * m) AS DOUBLE)
                   - CAST(sum(m) AS DOUBLE) * CAST(sum(m) AS DOUBLE)
                     / count(*)) / (count(*) - 1)) AS sd
      FROM idx),
    z AS MATERIALIZED (
      SELECT i.t, i.day,
             CAST((i.t - 1) // 5 + 1 AS BIGINT) AS block,
             CAST(round((CAST(i.m AS DOUBLE) - s.mu) / s.sd, 9)
                  AS DECIMAL(18,9)) AS z
      FROM idx i CROSS JOIN st s),
    paa AS (
      SELECT block, min(day) AS start_day,
             CAST(count(*) AS BIGINT) AS n_days,
             round(CAST(sum(z) AS DOUBLE) / count(*), 9) AS paa
      FROM z GROUP BY block)
    SELECT block, start_day, n_days, round(paa, 6) AS paa,
           CASE WHEN paa < -0.6745 THEN 'a'
                WHEN paa < 0.0 THEN 'b'
                WHEN paa < 0.6745 THEN 'c'
                ELSE 'd' END AS symbol
    FROM paa
    """,
)
def win_sax_symbolize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX (Symbolic Aggregate approXimation) of the daily-mean
    series: z-normalize, Piecewise Aggregate Approximation over
    5-day blocks, then quantize each block mean into a 4-letter
    alphabet at the N(0,1) quartile breakpoints (-0.6745, 0, 0.6745)
    — the discretization that turns a numeric series into a WORD, so
    sequence tooling (n-gram counting, text_heavy_hitters-style motif
    mining, edit-distance matching across series) applies to
    telemetry; the lossy, indexable cousin of win_matrix_profile_1d's
    exact distances. Equal-probability breakpoints guarantee the four
    symbols are equally likely under Gaussian data, so symbol
    frequency skew IS a distribution-shape reading.

    Shape at 100 TB: the fact table collapses to the day domain; the
    z-scores, 5-day block means, and symbol CASE are bounded-domain
    work — one row per block.

    Parity: daily means quantize round(6) into DECIMAL(16,6); the
    moment pass is exact-decimal (DECIMAL(19,6) squares); z-scores
    are one shared double expression quantized round(9) into DECIMAL,
    so block sums are exact; the PAA mean quantizes round(9) BEFORE
    the breakpoint CASE, so a symbol cannot flip on sub-ulp drift
    (measured PAA-to-breakpoint gaps >> 1e-9 on every fixture)."""
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
    ).localCheckpoint()
    st = idx.agg(
        F.count("*").cast("bigint").alias("n"),
        F.expr("CAST(sum(m) AS DOUBLE) / count(*)").alias("mu"),
        F.expr(
            "sqrt((CAST(sum(CAST(m AS DECIMAL(19,6)) * m) AS DOUBLE)"
            " - CAST(sum(m) AS DOUBLE) * CAST(sum(m) AS DOUBLE)"
            " / count(*)) / (count(*) - 1))"
        ).alias("sd"),
    )
    z = idx.crossJoin(F.broadcast(st)).selectExpr(
        "t",
        "day",
        "(t - 1) div 5 + 1 AS block",
        "CAST(round((CAST(m AS DOUBLE) - mu) / sd, 9)"
        " AS DECIMAL(18,9)) AS z",
    )
    paa = z.groupBy("block").agg(
        F.min("day").alias("start_day"),
        F.count("*").cast("bigint").alias("n_days"),
        F.expr("round(CAST(sum(z) AS DOUBLE) / count(*), 9)").alias(
            "paa9"
        ),
    )
    return paa.selectExpr(
        "block",
        "start_day",
        "n_days",
        "round(paa9, 6) AS paa",
        "CASE WHEN paa9 < -0.6745 THEN 'a'"
        " WHEN paa9 < 0.0 THEN 'b'"
        " WHEN paa9 < 0.6745 THEN 'c'"
        " ELSE 'd' END AS symbol",
    )


# ---------------------------------------------------------------------------
# win_permutation_entropy
# ---------------------------------------------------------------------------

# Strict order with position tie-break: element i precedes element j
# (i < j positionally) on equal values, so every triple has a unique
# pattern. With exact-decimal daily means the comparisons are exact.
_PE_RANKS = (
    "1 + CASE WHEN m2 < m1 THEN 1 ELSE 0 END"
    " + CASE WHEN m3 < m1 THEN 1 ELSE 0 END AS r1",
    "1 + CASE WHEN m1 <= m2 THEN 1 ELSE 0 END"
    " + CASE WHEN m3 < m2 THEN 1 ELSE 0 END AS r2",
    "1 + CASE WHEN m1 <= m3 THEN 1 ELSE 0 END"
    " + CASE WHEN m2 <= m3 THEN 1 ELSE 0 END AS r3",
)


@query(
    "win_permutation_entropy",
    oracle=f"""
    WITH daily AS MATERIALIZED (
      SELECT CAST(ts AS DATE) AS day,
             CAST(round(CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                             AS DOUBLE) / count(*) / 100.0, 6)
                  AS DECIMAL(16,6)) AS m
      FROM events GROUP BY 1),
    idx AS MATERIALIZED (
      SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t, m
      FROM daily),
    tri AS MATERIALIZED (
      SELECT a.m AS m1, b.m AS m2, c.m AS m3
      FROM idx a JOIN idx b ON b.t = a.t + 1
                 JOIN idx c ON c.t = a.t + 2),
    pat AS MATERIALIZED (
      SELECT ({_PE_RANKS[0].replace(' AS r1', '')}) * 100
             + ({_PE_RANKS[1].replace(' AS r2', '')}) * 10
             + ({_PE_RANKS[2].replace(' AS r3', '')}) AS pattern
      FROM tri),
    cnt AS MATERIALIZED (
      SELECT pattern, CAST(count(*) AS BIGINT) AS n_triples
      FROM pat GROUP BY pattern),
    tt AS MATERIALIZED (SELECT CAST(sum(n_triples) AS BIGINT) AS n
                        FROM cnt),
    ent AS (
      SELECT CAST(sum(CAST(round(
               -(CAST(c.n_triples AS DOUBLE) / t.n)
               * ln(CAST(c.n_triples AS DOUBLE) / t.n), 9)
               AS DECIMAL(28,9))) AS DOUBLE) AS h
      FROM cnt c CROSS JOIN tt t)
    SELECT c.pattern, c.n_triples,
           round(CAST(c.n_triples AS DOUBLE) / t.n, 6) AS freq,
           round(e.h / ln(6.0), 6) AS perm_entropy
    FROM cnt c CROSS JOIN tt t CROSS JOIN ent e
    """,
)
def win_permutation_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMUTATION ENTROPY (Bandt-Pompe, order 3) of the daily-mean
    series: the distribution of ordinal patterns of consecutive
    triples — which of the 6 up/down shapes the series actually
    visits — normalized to [0,1] by ln 6. The complexity measure that
    is invariant to ANY monotone transform of the values (z-scores,
    logs, calibration drift — none of it matters, only order), making
    it the robust cousin of agg_spectral_entropy, and the per-pattern
    rows are readable on their own ('123' monotone rise, '321' fall,
    '132'/'213' local peaks...). Ties break by position, so every
    triple has a unique exact pattern.

    Shape at 100 TB: day-domain collapse, two lag self-joins, a
    6-row group. Nothing row-scaled after the first aggregate.

    Parity: patterns come from exact-decimal comparisons; counts are
    exact integers; each entropy term quantizes round(9) into
    DECIMAL before the order-independent sum; normalization is one
    shared double division, round(6)."""
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
    b = idx.select((F.col("t") - 1).alias("t"), F.col("m").alias("m2"))
    c = idx.select((F.col("t") - 2).alias("t"), F.col("m").alias("m3"))
    tri = (
        idx.withColumnRenamed("m", "m1")
        .join(b, "t")
        .join(c, "t")
        .selectExpr(*_PE_RANKS)
    )
    pat = tri.selectExpr(
        "r1 * 100 + r2 * 10 + r3 AS pattern"
    )
    cnt = pat.groupBy("pattern").agg(
        F.count("*").cast("bigint").alias("n_triples")
    ).localCheckpoint()
    tt = cnt.agg(F.sum("n_triples").cast("bigint").alias("n"))
    ent = cnt.crossJoin(F.broadcast(tt)).agg(
        F.sum(
            F.expr(
                "CAST(round(-(CAST(n_triples AS DOUBLE) / n)"
                " * ln(CAST(n_triples AS DOUBLE) / n), 9)"
                " AS DECIMAL(28,9))"
            )
        )
        .cast("double")
        .alias("h")
    )
    return (
        cnt.crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(ent))
        .selectExpr(
            "pattern",
            "n_triples",
            "round(CAST(n_triples AS DOUBLE) / n, 6) AS freq",
            "round(h / ln(6.0), 6) AS perm_entropy",
        )
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
# win_croston_intermittent
# ---------------------------------------------------------------------------

_CROSTON_A = 0.25  # smoothing constant (binary-exact)
_CROSTON_THR = 200.0  # demand = daily count of error events >= this value


@query(
    "win_croston_intermittent",
    # Struct-state sequential fold -> RECURSIVE CTE on the DuckDB side
    # (the round-6 list_reduce struct-accumulator bug), stepping the
    # 30-day series row by row with the SAME expression text as the
    # Spark fold.
    oracle=f"""
    WITH RECURSIVE d AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(count(CASE WHEN event_type = 'error'
                              AND value >= {_CROSTON_THR} THEN 1 END)
                  AS BIGINT) AS q
      FROM events GROUP BY 1),
    s AS (
      SELECT day, q,
             CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn
      FROM d),
    r AS (
      SELECT rn, day, q,
             CASE WHEN q > 0 THEN 1 ELSE 0 END AS init,
             CASE WHEN q > 0 THEN CAST(q AS DOUBLE)
                  ELSE CAST(0 AS DOUBLE) END AS z,
             CASE WHEN q > 0 THEN CAST(1 AS DOUBLE)
                  ELSE CAST(0 AS DOUBLE) END AS p,
             CASE WHEN q > 0 THEN 0 ELSE 1 END AS gap
      FROM s WHERE rn = 1
      UNION ALL
      SELECT s.rn, s.day, s.q,
             CASE WHEN s.q > 0 THEN 1 ELSE r.init END,
             CASE WHEN s.q > 0 AND r.init = 0 THEN CAST(s.q AS DOUBLE)
                  WHEN s.q > 0 THEN r.z + CAST({_CROSTON_A} AS DOUBLE)
                       * (CAST(s.q AS DOUBLE) - r.z)
                  ELSE r.z END,
             CASE WHEN s.q > 0 AND r.init = 0
                       THEN CAST(r.gap + 1 AS DOUBLE)
                  WHEN s.q > 0 THEN r.p + CAST({_CROSTON_A} AS DOUBLE)
                       * (CAST(r.gap + 1 AS DOUBLE) - r.p)
                  ELSE r.p END,
             CASE WHEN s.q > 0 THEN 0 ELSE r.gap + 1 END
      FROM r JOIN s ON s.rn = r.rn + 1)
    SELECT day, q AS demand,
           CASE WHEN init = 1 THEN round(z, 6) END AS level,
           CASE WHEN init = 1 THEN round(p, 6) END AS avg_interval,
           CASE WHEN init = 1 THEN round(z / p, 6) END AS forecast
    FROM r ORDER BY day
    """,
)
def win_croston_intermittent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSTON'S METHOD for intermittent demand — the standard
    forecaster when most periods have ZERO demand (spare parts, rare
    incidents), where a plain EWMA collapses toward zero between
    demand spikes.  Two coupled exponential smoothers update ONLY on
    demand days: z tracks the demand SIZE, p the inter-demand
    INTERVAL; the per-period forecast is z/p.  Demand here = daily
    count of error events with value >= 200 (intermittent at small
    sf by fixture measurement: 28/30 zero days at sf0.001, 7/30 at
    sf0.01).  Completes the smoothing family: win_ewma_smooth (dense
    level), win_holt_linear (dense trend), this op (sparse/renewal).

    Parity: alpha = 0.25 is binary-exact; the (init, z, p, gap)
    struct fold steps in pinned day order with textually identical
    update expressions, so the doubles agree bit-wise (win_holt_linear
    machinery); outputs round(6), NULL-gated until the first demand
    initializes the state (no 0/0 anywhere — p >= 1 once init).
    Spark re-folds each day's PREFIX (30 x 30 lambda frames on a
    1-row frame — trivially bounded); DuckDB steps a recursive CTE.

    Shape at 100 TB: the fact scan collapses to the 30-row day domain
    in one map-side-combined aggregate; the fold runs on a single
    30-element array — per-series state is O(1) and the pattern
    shards by series key for a multi-SKU corpus."""
    ev = table(spark, sf_dir, "events")
    d = (
        ev.groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.expr(
                f"CAST(count(CASE WHEN event_type = 'error'"
                f" AND value >= {_CROSTON_THR} THEN 1 END) AS BIGINT)"
            ).alias("q")
        )
    )
    one = d.agg(
        F.sort_array(F.collect_list(F.struct("day", "q"))).alias("qs")
    )
    a = f"CAST({_CROSTON_A} AS DOUBLE)"
    states = one.select(
        F.expr(
            "transform(sequence(1, CAST(size(qs) AS INT)), i ->"
            " named_struct("
            "'day', element_at(qs, i).day,"
            "'q', element_at(qs, i).q,"
            "'st', aggregate(slice(qs, 1, i),"
            " named_struct('init', 0, 'z', CAST(0 AS DOUBLE),"
            " 'p', CAST(0 AS DOUBLE), 'gap', 0),"
            " (s, x) -> named_struct("
            "'init', CASE WHEN x.q > 0 THEN 1 ELSE s.init END,"
            "'z', CASE WHEN x.q > 0 AND s.init = 0 THEN CAST(x.q AS DOUBLE)"
            f" WHEN x.q > 0 THEN s.z + {a} * (CAST(x.q AS DOUBLE) - s.z)"
            " ELSE s.z END,"
            "'p', CASE WHEN x.q > 0 AND s.init = 0"
            " THEN CAST(s.gap + 1 AS DOUBLE)"
            f" WHEN x.q > 0 THEN s.p + {a}"
            " * (CAST(s.gap + 1 AS DOUBLE) - s.p)"
            " ELSE s.p END,"
            "'gap', CASE WHEN x.q > 0 THEN 0 ELSE s.gap + 1 END))))"
        ).alias("rows")
    )
    return (
        states.select(F.explode("rows").alias("r"))
        .selectExpr(
            "r.day AS day",
            "r.q AS demand",
            "CASE WHEN r.st.init = 1 THEN round(r.st.z, 6) END AS level",
            "CASE WHEN r.st.init = 1 THEN round(r.st.p, 6) END"
            " AS avg_interval",
            "CASE WHEN r.st.init = 1 THEN round(r.st.z / r.st.p, 6) END"
            " AS forecast",
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# win_peak_prominence_daily
# ---------------------------------------------------------------------------


@query(
    "win_peak_prominence_daily",
    oracle="""
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(sum(CASE WHEN event_type = 'purchase'
                      THEN CAST(round(value * 100, 0) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS rev
      FROM events GROUP BY 1),
    r AS (
      SELECT day, rev,
             CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn
      FROM d),
    pk AS (
      SELECT rn, day, rev
      FROM (SELECT rn, day, rev,
                   lag(rev) OVER (ORDER BY rn) AS pv,
                   lead(rev) OVER (ORDER BY rn) AS nx
            FROM r) t
      WHERE pv IS NOT NULL AND nx IS NOT NULL
        AND rev > pv AND rev > nx),
    lh AS (
      SELECT p.rn AS prn, max(e.rn) AS hrn
      FROM pk p JOIN r e ON e.rn < p.rn AND e.rev > p.rev
      GROUP BY p.rn),
    rh AS (
      SELECT p.rn AS prn, min(e.rn) AS hrn
      FROM pk p JOIN r e ON e.rn > p.rn AND e.rev > p.rev
      GROUP BY p.rn),
    lb AS (
      SELECT p.rn AS prn, min(e.rev) AS base
      FROM pk p LEFT JOIN lh ON lh.prn = p.rn
      JOIN r e ON e.rn < p.rn AND e.rn > coalesce(lh.hrn, 0)
      GROUP BY p.rn),
    rb AS (
      SELECT p.rn AS prn, min(e.rev) AS base
      FROM pk p LEFT JOIN rh ON rh.prn = p.rn
      JOIN r e ON e.rn > p.rn
              AND e.rn < coalesce(rh.hrn, 9223372036854775807)
      GROUP BY p.rn)
    SELECT p.day, p.rev AS rev_cents,
           p.rev - greatest(lb.base, rb.base) AS prominence_cents
    FROM pk p JOIN lb ON lb.prn = p.rn JOIN rb ON rb.prn = p.rn
    ORDER BY p.day
    """,
)
def win_peak_prominence_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PEAK DETECTION WITH PROMINENCE on the daily purchase-revenue
    series (the scipy find_peaks/peak_prominences convention): a peak
    is a day strictly above both neighbors; its prominence is the
    height above the higher of the two KEY COLS — the minimum between
    the peak and the nearest STRICTLY-HIGHER day on each side (or the
    series end when none is higher).  Prominence is what separates a
    real demand spike from ripple on a slope — the alerting-relevant
    refinement of win_mad_outlier/win_zscore_outlier (pointwise
    outliers) and win_cusum_changepoint (level shifts): those flag
    VALUES, this measures the TOPOGRAPHY of the series.

    Parity: revenue is exact integer cents (Spark +0.5 cast / DuckDB
    round-to-0 cast — the round-8 money convention); every
    comparison, min, and subtraction is pure BIGINT — no floats in
    the output at all.

    Shape at 100 TB: the fact scan collapses to the 30-row day
    domain; the neighbor windows and the O(|days|^2) higher-day /
    key-col joins run on that constant-size frame (bounded-domain
    windows per the round-11 window classification)."""
    ev = table(spark, sf_dir, "events")
    d = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.expr(
            "CAST(sum(CASE WHEN event_type = 'purchase'"
            " THEN CAST(value * 100 + 0.5 AS BIGINT) ELSE 0 END)"
            " AS BIGINT)"
        ).alias("rev")
    )
    w = Window.orderBy("rn")
    r = d.select(
        "day",
        "rev",
        F.row_number().over(Window.orderBy("day")).cast("bigint").alias("rn"),
    )
    pk = (
        r.select(
            "rn",
            "day",
            "rev",
            F.lag("rev").over(w).alias("pv"),
            F.lead("rev").over(w).alias("nx"),
        )
        .where(
            F.col("pv").isNotNull()
            & F.col("nx").isNotNull()
            & (F.col("rev") > F.col("pv"))
            & (F.col("rev") > F.col("nx"))
        )
        .select("rn", "day", "rev")
    )
    e = r.select(F.col("rn").alias("ern"), F.col("rev").alias("erev"))
    lh = (
        pk.join(e, (F.col("ern") < F.col("rn")) & (F.col("erev") > F.col("rev")))
        .groupBy(F.col("rn").alias("prn"))
        .agg(F.max("ern").alias("hrn"))
    )
    rh = (
        pk.join(e, (F.col("ern") > F.col("rn")) & (F.col("erev") > F.col("rev")))
        .groupBy(F.col("rn").alias("prn"))
        .agg(F.min("ern").alias("hrn"))
    )
    lb = (
        pk.join(lh, pk.rn == lh.prn, "left")
        .join(
            e,
            (F.col("ern") < F.col("rn"))
            & (F.col("ern") > F.coalesce(F.col("hrn"), F.lit(0))),
        )
        .groupBy(F.col("rn").alias("lprn"))
        .agg(F.min("erev").alias("lbase"))
    )
    rb = (
        pk.join(rh, pk.rn == rh.prn, "left")
        .join(
            e,
            (F.col("ern") > F.col("rn"))
            & (
                F.col("ern")
                < F.coalesce(F.col("hrn"), F.lit(9223372036854775807))
            ),
        )
        .groupBy(F.col("rn").alias("rprn"))
        .agg(F.min("erev").alias("rbase"))
    )
    return (
        pk.join(lb, pk.rn == lb.lprn)
        .join(rb, pk.rn == rb.rprn)
        .selectExpr(
            "day",
            "rev AS rev_cents",
            "rev - greatest(lbase, rbase) AS prominence_cents",
        )
        .orderBy("day")
    )


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
