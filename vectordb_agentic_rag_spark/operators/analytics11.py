"""Round-11 second-wave operators (window math re-simulated at write
time: 34 never-checked entering this wave, so up to 16 further ops fit
the 50-slot driver window — this module plus the streaming additions
stay inside that budget).

Ops here fill operational / curation gaps around existing families:

- maintenance_join_cardinality_estimate — the textbook optimizer
  cardinality estimate |R|x|S| / max(ndv) validated against the ACTUAL
  join count for the fixture's four FK joins, with the q-error a
  planner evaluation would report.  Completes the maintenance_* family
  sideways from maintenance_join_key_skew (skew says WHERE the rows
  land; this op says HOW MANY a stats-only planner would predict).
- maintenance_freshness_lag_report — per-event-type data-freshness /
  staleness report (lag of the newest row vs the global high-water
  mark, last-day arrival rate vs the steady-state daily average): the
  SLA table a pipeline operator reads before trusting a downstream
  consumer.
- agg_fulfillment_latency_profile — order-to-ship latency distribution
  per order priority with EXACT percentile picks over the day-lag
  value domain (the lag domain is bounded by the date span — ~5k
  distinct values regardless of fact-row count, so the cumulative
  window is partitioned by priority over a constant-size domain).
- dedup_line_level — CCNet-style cross-document LINE dedup profile:
  the corpus has no newlines (synthetic single-line docs), so the
  documented segmentation convention is fixed 5-token lines; the op
  reports, per source, the share of line instances whose text recurs
  in >= 2 distinct documents (boilerplate mass).  This is the
  line-granularity member of the dedup family between dedup_exact
  (whole doc) and dedup_substring_span_purge (50-gram spans).

Reference analogue: /root/reference/app.py ships none of this — its
store is Qdrant and curation is absent; these are the audit/ops
operators a Spark-native pipeline adds (SURVEY §2C).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..tables import table

# ---------------------------------------------------------------------------
# maintenance_join_cardinality_estimate
# ---------------------------------------------------------------------------

_CARD_JOINS = [
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
]


def _card_oracle() -> str:
    branches = []
    for lt, lk, rt, rk in _CARD_JOINS:
        branches.append(f"""
    SELECT '{lt}.{lk}={rt}.{rk}' AS join_name,
           nl, nr, ndv_l, ndv_r,
           CASE WHEN greatest(ndv_l, ndv_r) = 0 THEN NULL
                ELSE (nl * nr) // greatest(ndv_l, ndv_r) END AS est_rows,
           actual_rows,
           CASE WHEN actual_rows = 0 OR greatest(ndv_l, ndv_r) = 0
                THEN NULL
                ELSE round(greatest(
               CAST((nl * nr) // greatest(ndv_l, ndv_r) AS DOUBLE)
                   / actual_rows,
               CAST(actual_rows AS DOUBLE)
                   / ((nl * nr) // greatest(ndv_l, ndv_r))), 6) END
             AS q_error
    FROM (SELECT CAST(count(*) AS BIGINT) AS nl,
                 CAST(count(DISTINCT {lk}) AS BIGINT) AS ndv_l
          FROM {lt}) a
    CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS nr,
                       CAST(count(DISTINCT {rk}) AS BIGINT) AS ndv_r
                FROM {rt}) b
    CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS actual_rows
                FROM {lt} JOIN {rt} ON {lk} = {rk}) c""")
    return "\n    UNION ALL".join(branches) + "\n    ORDER BY join_name"


@query("maintenance_join_cardinality_estimate", oracle=_card_oracle())
def maintenance_join_cardinality_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """OPTIMIZER CARDINALITY-ESTIMATE VALIDATION for the fixture's four
    FK joins: the textbook (and Catalyst CBO) equi-join estimate
    |R| x |S| / max(ndv_R, ndv_S) next to the ACTUAL join row count,
    with the q-error (max of over/under ratio) a planner-quality
    evaluation reports.  The table an engineer reads to decide whether
    stats-driven join reordering can be trusted on this dataset, and
    the sideways completion of the maintenance family:
    maintenance_join_key_skew profiles WHERE the rows land per key;
    this op checks HOW MANY a stats-only planner predicts.

    Parity: counts and exact distinct counts are integers; est_rows is
    one BIGINT integer division (Spark `div`, DuckDB `//`); q_error
    divides exact integers in shared expression text, round(6).
    est_rows >= 1 whenever both tables are non-empty (n_l*n_r >= max
    ndv since ndv <= n), but actual_rows CAN be 0 after a fixture
    regeneration, so both est_rows and q_error CASE-gate their
    divides to NULL on degenerate denominators (ANSI DIVIDE_BY_ZERO
    rule) on both engines.

    Shape at 100 TB: per join two 1-row stat aggregates (map-side
    combined count + count distinct — exactly what ANALYZE computes)
    and the actual join count; the joins are the fixture's real FK
    joins (broadcast dims / shuffle fact-fact), output 4 rows."""
    out = None
    for lt, lk, rt, rk in _CARD_JOINS:
        left = table(spark, sf_dir, lt)
        right = table(spark, sf_dir, rt)
        a = left.agg(
            F.count("*").cast("bigint").alias("nl"),
            F.countDistinct(lk).cast("bigint").alias("ndv_l"),
        )
        b = right.agg(
            F.count("*").cast("bigint").alias("nr"),
            F.countDistinct(rk).cast("bigint").alias("ndv_r"),
        )
        c = (
            left.join(right, F.col(lk) == F.col(rk))
            .agg(F.count("*").cast("bigint").alias("actual_rows"))
        )
        row = (
            a.crossJoin(F.broadcast(b))
            .crossJoin(F.broadcast(c))
            .selectExpr(
                f"'{lt}.{lk}={rt}.{rk}' AS join_name",
                "nl",
                "nr",
                "ndv_l",
                "ndv_r",
                "CASE WHEN greatest(ndv_l, ndv_r) = 0 THEN NULL"
                " ELSE (nl * nr) div greatest(ndv_l, ndv_r) END AS est_rows",
                "actual_rows",
                "CASE WHEN actual_rows = 0 OR greatest(ndv_l, ndv_r) = 0"
                " THEN NULL"
                " ELSE round(greatest("
                " CAST((nl * nr) div greatest(ndv_l, ndv_r) AS DOUBLE)"
                " / actual_rows,"
                " CAST(actual_rows AS DOUBLE)"
                " / ((nl * nr) div greatest(ndv_l, ndv_r))), 6) END"
                " AS q_error",
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("join_name")


# ---------------------------------------------------------------------------
# maintenance_freshness_lag_report
# ---------------------------------------------------------------------------

_DAY_US = "CAST(86400000000 AS BIGINT)"


@query(
    "maintenance_freshness_lag_report",
    oracle=f"""
    WITH g AS (
      SELECT max(epoch_us(ts)) AS gmax_us,
             CAST(date_diff('day', min(CAST(ts AS DATE)),
                            max(CAST(ts AS DATE))) + 1 AS BIGINT) AS days
      FROM events)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(max(g.gmax_us) - max(epoch_us(ts)) AS BIGINT) AS lag_us,
           CAST(count(CASE WHEN epoch_us(ts) >= g.gmax_us - {_DAY_US}
                      THEN 1 END) AS BIGINT) AS events_last_day,
           max(g.days) AS days,
           round(CAST(count(*) AS DOUBLE) / max(g.days), 6)
             AS avg_per_day,
           round(CAST(count(CASE WHEN epoch_us(ts) >= g.gmax_us
                                      - {_DAY_US} THEN 1 END)
                      AS DOUBLE) * max(g.days) / count(*), 6)
             AS last_day_ratio
    FROM events CROSS JOIN g
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def maintenance_freshness_lag_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DATA-FRESHNESS / STALENESS REPORT per event type: how far each
    type's newest row lags the table's global high-water mark, and how
    the last-24h arrival count compares to the steady-state daily
    average (last_day_ratio ~ 1 means the feed is healthy, ~0 means it
    silently stopped).  This is the SLA sheet a pipeline operator
    checks before letting a consumer read the table — the operational
    sibling of maintenance_table_stats (static shape) and
    maintenance_snapshot_log_replay (write history).

    Parity: timestamps reduce to exact unix micros (Spark unix_micros
    / DuckDB epoch_us — the micros-generation fixture contract in
    tables.py); lags and window counts are exact BIGINT; the two
    ratios divide exact integers once each in shared text, round(6).

    Shape at 100 TB: one 1-row global max/min aggregate broadcast into
    a single map-side-combined per-type aggregate — two scans, no
    shuffle beyond the |types|-row groupBy."""
    ev = table(spark, sf_dir, "events").select(
        "event_type", F.expr("unix_micros(ts)").alias("us"),
        F.col("ts").cast("date").alias("day"),
    )
    g = ev.agg(
        F.max("us").alias("gmax_us"),
        F.expr(
            "CAST(datediff(max(day), min(day)) + 1 AS BIGINT)"
        ).alias("days"),
    )
    return (
        ev.crossJoin(F.broadcast(g))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.expr("CAST(max(gmax_us) - max(us) AS BIGINT)").alias("lag_us"),
            F.expr(
                f"CAST(count(CASE WHEN us >= gmax_us - {_DAY_US}"
                " THEN 1 END) AS BIGINT)"
            ).alias("events_last_day"),
            F.max("days").alias("days"),
            F.expr(
                "round(CAST(count(*) AS DOUBLE) / max(days), 6)"
            ).alias("avg_per_day"),
            F.expr(
                f"round(CAST(count(CASE WHEN us >= gmax_us - {_DAY_US}"
                " THEN 1 END) AS DOUBLE) * max(days) / count(*), 6)"
            ).alias("last_day_ratio"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# agg_fulfillment_latency_profile
# ---------------------------------------------------------------------------


@query(
    "agg_fulfillment_latency_profile",
    oracle="""
    WITH lag AS (
      SELECT o_orderpriority AS priority,
             CAST(date_diff('day', o_orderdate, l_shipdate) AS BIGINT)
               AS lag_days
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    dom AS (
      SELECT priority, lag_days, CAST(count(*) AS BIGINT) AS c
      FROM lag GROUP BY 1, 2),
    cum AS (
      SELECT priority, lag_days, c,
             sum(c) OVER (PARTITION BY priority ORDER BY lag_days) AS cum,
             sum(c) OVER (PARTITION BY priority) AS n,
             sum(lag_days * c) OVER (PARTITION BY priority) AS s
      FROM dom)
    SELECT priority,
           CAST(max(n) AS BIGINT) AS n,
           min(lag_days) AS min_lag,
           max(lag_days) AS max_lag,
           round(CAST(max(s) AS DOUBLE) / max(n), 6) AS avg_lag,
           min(CASE WHEN cum >= (n + 1) // 2 THEN lag_days END) AS p50,
           min(CASE WHEN cum >= (3 * n + 3) // 4 THEN lag_days END) AS p75,
           min(CASE WHEN cum >= (9 * n + 9) // 10 THEN lag_days END) AS p90
    FROM cum
    GROUP BY priority
    ORDER BY priority
    """,
)
def agg_fulfillment_latency_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ORDER-TO-SHIP LATENCY PROFILE per order priority: n, min/max,
    mean, and EXACT p50/p75/p90 day-lag percentiles — the fulfillment
    SLA table next to the TPC-H revenue queries (sql_q4 counts late
    orders against a fixed date; this op profiles the latency
    DISTRIBUTION itself).  The synthetic fixture draws o_orderdate and
    l_shipdate independently, so lags can be negative — the profile is
    still the op's contract; docstring notes the fixture artifact.

    Parity: day lags are exact integers (datediff both engines);
    percentiles are LOWER-EMPIRICAL exact picks — smallest lag whose
    cumulative count reaches ceil(q*n), computed as integer-division
    thresholds ((n+1) div 2, (3n+3) div 4, (9n+9) div 10) over the
    per-priority cumulative — never an averaged/interpolated quantile
    (round-8 low-pick rule).  avg_lag divides exact integers, round(6).

    Shape at 100 TB: the FK join shuffles once; the lag VALUE DOMAIN is
    bounded by the date span (~5k distinct days regardless of fact
    rows), so the cumulative window runs partitioned-by-priority over a
    constant-size domain frame — the value-domain exact-quantile
    machinery of agg_exact_quantile_2pass, per group."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lag = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_orderpriority").alias("priority"),
        F.expr(
            "CAST(datediff(l_shipdate, o_orderdate) AS BIGINT)"
        ).alias("lag_days"),
    )
    dom = lag.groupBy("priority", "lag_days").agg(
        F.count("*").cast("bigint").alias("c")
    )
    wc = Window.partitionBy("priority").orderBy("lag_days")
    wp = Window.partitionBy("priority")
    cum = dom.select(
        "priority",
        "lag_days",
        F.sum("c").over(wc).alias("cum"),
        F.sum("c").over(wp).alias("n"),
        F.sum(F.col("lag_days") * F.col("c")).over(wp).alias("s"),
    )
    return (
        cum.groupBy("priority")
        .agg(
            F.max("n").cast("bigint").alias("n"),
            F.min("lag_days").alias("min_lag"),
            F.max("lag_days").alias("max_lag"),
            F.expr("round(CAST(max(s) AS DOUBLE) / max(n), 6)").alias(
                "avg_lag"
            ),
            F.expr(
                "min(CASE WHEN cum >= (n + 1) div 2 THEN lag_days END)"
            ).alias("p50"),
            F.expr(
                "min(CASE WHEN cum >= (3 * n + 3) div 4 THEN lag_days END)"
            ).alias("p75"),
            F.expr(
                "min(CASE WHEN cum >= (9 * n + 9) div 10 THEN lag_days END)"
            ).alias("p90"),
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# dedup_line_level
# ---------------------------------------------------------------------------

_LINE_TOKENS = 5  # segmentation convention: fixed 5-token "lines"


@query(
    "dedup_line_level",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, string_split(text, ' ') AS t
      FROM documents),
    lines AS (
      SELECT doc_id, source,
             unnest(list_transform(
               generate_series(0,
                 CAST((len(t) + {_LINE_TOKENS} - 1) // {_LINE_TOKENS}
                      AS BIGINT) - 1),
               i -> array_to_string(
                      list_slice(t, i * {_LINE_TOKENS} + 1,
                                 i * {_LINE_TOKENS} + {_LINE_TOKENS}),
                      ' '))) AS line
      FROM toks),
    g AS (
      SELECT line, count(DISTINCT doc_id) AS docs
      FROM lines GROUP BY line),
    fl AS (
      SELECT l.doc_id, l.source,
             CASE WHEN g.docs >= 2 THEN 1 ELSE 0 END AS dup
      FROM lines l JOIN g ON l.line = g.line),
    per_src AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_lines,
             CAST(sum(dup) AS BIGINT) AS n_dup_lines,
             CAST(count(DISTINCT CASE WHEN dup = 1 THEN doc_id END)
                  AS BIGINT) AS n_docs_affected
      FROM fl GROUP BY source)
    SELECT source, n_lines, n_dup_lines, n_docs_affected,
           round(CAST(n_dup_lines AS DOUBLE) / n_lines, 6) AS dup_rate
    FROM per_src
    UNION ALL
    SELECT '_ALL_' AS source,
           CAST(sum(n_lines) AS BIGINT),
           CAST(sum(n_dup_lines) AS BIGINT),
           CAST(sum(n_docs_affected) AS BIGINT),
           round(CAST(sum(n_dup_lines) AS DOUBLE) / sum(n_lines), 6)
    FROM per_src
    ORDER BY source
    """,
)
def dedup_line_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-DOCUMENT LINE-LEVEL DEDUP PROFILE (CCNet-style): segment
    every document into lines, count each line's distinct-document
    frequency corpus-wide, and report per source the share of line
    INSTANCES whose text recurs in >= 2 documents — the boilerplate
    mass a CCNet-style line dedup pass would delete.  Granularity
    completes the dedup family: dedup_exact removes whole-doc copies,
    dedup_substring_span_purge removes repeated 50-gram SPANS, this op
    profiles repeated LINES (the unit real web pipelines — CCNet,
    RefinedWeb — dedup first, since nav/footer boilerplate repeats at
    line grain).  The fixture corpus is single-line synthetic text
    (no newlines), so the documented segmentation convention is fixed
    5-token lines — the same everywhere-deterministic split on both
    engines; a real corpus swaps the segmenter for split(text, '\\n').

    Parity: lines are exact strings built by identical slice
    arithmetic (Spark slice/array_join, DuckDB list_slice/
    array_to_string — both clamp the final short line); counts exact
    BIGINT; dup_rate divides exact integers, round(6).

    Shape at 100 TB: one explode to line grain, one line-keyed
    aggregate (map-side combined; production hashes the line to a
    64-bit key first — xxhash64(line) — to shrink the shuffle, same
    plan shape), one join back on the line key, one |sources|-row
    rollup.  No windows, no driver collection."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.split("text", " ").alias("t")
    )
    lines = d.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                f"transform(sequence(0, CAST((size(t) + {_LINE_TOKENS} - 1)"
                f" div {_LINE_TOKENS} AS INT) - 1),"
                f" i -> array_join(slice(t, i * {_LINE_TOKENS} + 1,"
                f" {_LINE_TOKENS}), ' '))"
            )
        ).alias("line"),
    )
    g = lines.groupBy("line").agg(
        F.countDistinct("doc_id").alias("docs")
    )
    fl = lines.join(g, "line").select(
        "doc_id",
        "source",
        F.when(F.col("docs") >= 2, F.lit(1)).otherwise(F.lit(0)).alias("dup"),
    )
    per_src = fl.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_lines"),
        F.sum("dup").cast("bigint").alias("n_dup_lines"),
        F.expr(
            "CAST(count(DISTINCT CASE WHEN dup = 1 THEN doc_id END)"
            " AS BIGINT)"
        ).alias("n_docs_affected"),
    )
    total = per_src.agg(
        F.lit("_ALL_").alias("source"),
        F.sum("n_lines").cast("bigint").alias("n_lines"),
        F.sum("n_dup_lines").cast("bigint").alias("n_dup_lines"),
        F.sum("n_docs_affected").cast("bigint").alias("n_docs_affected"),
    ).select("source", "n_lines", "n_dup_lines", "n_docs_affected")
    rate = F.expr(
        "round(CAST(n_dup_lines AS DOUBLE) / n_lines, 6)"
    ).alias("dup_rate")
    return (
        per_src.select(
            "source", "n_lines", "n_dup_lines", "n_docs_affected", rate
        )
        .unionByName(
            total.select(
                "source", "n_lines", "n_dup_lines", "n_docs_affected", rate
            )
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# vec_nn_distance_ratio
# ---------------------------------------------------------------------------


def _nn_ratio_oracle() -> str:
    from .vector import _DD_COS

    cos = _DD_COS.format(a="c.embedding", b="q.qv")
    return f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, embedding
          FROM embeddings WHERE vec_id >= 10),
    sims AS (
      SELECT q.query_id, c.neighbor_id, round({cos}, 6) AS sim
      FROM c CROSS JOIN q),
    nn AS (
      SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rn
      FROM sims),
    piv AS (
      SELECT query_id,
             max(CASE WHEN rn = 1 THEN neighbor_id END) AS nn1_id,
             max(CASE WHEN rn = 2 THEN neighbor_id END) AS nn2_id,
             max(CASE WHEN rn = 1 THEN sim END) AS sim1,
             max(CASE WHEN rn = 2 THEN sim END) AS sim2
      FROM nn WHERE rn <= 2 GROUP BY query_id)
    SELECT query_id, nn1_id, nn2_id, sim1, sim2,
           CASE WHEN sim2 >= 1.0 THEN NULL
                ELSE round((1.0 - sim1) / (1.0 - sim2), 6) END
             AS dist_ratio,
           CASE WHEN sim2 >= 1.0 THEN NULL
                WHEN (1.0 - sim1) / (1.0 - sim2) < 0.8 THEN 1 ELSE 0 END
             AS match_reliable
    FROM piv ORDER BY query_id
    """


@query("vec_nn_distance_ratio", oracle=_nn_ratio_oracle())
def vec_nn_distance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOWE RATIO TEST over the 10-query panel: the cosine-DISTANCE
    ratio of the nearest to the second-nearest corpus neighbor,
    (1 - sim1) / (1 - sim2), with the classic < 0.8 reliability gate —
    the standard screen for whether a nearest-neighbor match is
    DISCRIMINATIVE (a near-tie between the top two neighbors means the
    match carries little signal; feature-matching and retrieval
    pipelines discard those).  Completes the retrieval-diagnostics
    family: vec_topk_margin_stats profiles absolute top-k score gaps,
    this op emits the per-query RELATIVE distance ratio and the
    accept/reject bit a matcher would act on.

    Parity: ranks order by the ROUND(6) sim with neighbor_id
    tie-break (the vec_cosine_topk_per_query convention — rank parity
    is then exact); the ratio divides doubles produced by identical
    expression text on identical inputs (+,-,/ are IEEE-exact ops, no
    libm), round(6).  sim2 >= 1 (an exact-duplicate corpus vector)
    CASE-gates to NULL on both engines — the ANSI divide-by-zero rule.

    Shape at 100 TB: broadcast query panel, one corpus scan, window
    top-2 partitioned by query_id, 10-row pivot — the exact
    per-query-kNN plan with k=2."""
    from ..functions.vector import cosine_fixed
    from .vector import _query_vector_raw, _query_vectors

    emb = table(spark, sf_dir, "embeddings")
    q = _query_vectors(spark, sf_dir, 10)
    corpus = emb.where(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("neighbor_id"), "embedding"
    )
    d = len(_query_vector_raw(spark, sf_dir, 0))
    sims = corpus.crossJoin(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        F.round(cosine_fixed("embedding", "qv", d), 6).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    nn = sims.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 2)
    piv = nn.groupBy("query_id").agg(
        F.expr("max(CASE WHEN rn = 1 THEN neighbor_id END)").alias("nn1_id"),
        F.expr("max(CASE WHEN rn = 2 THEN neighbor_id END)").alias("nn2_id"),
        F.expr("max(CASE WHEN rn = 1 THEN sim END)").alias("sim1"),
        F.expr("max(CASE WHEN rn = 2 THEN sim END)").alias("sim2"),
    )
    return piv.selectExpr(
        "query_id",
        "nn1_id",
        "nn2_id",
        "sim1",
        "sim2",
        "CASE WHEN sim2 >= 1.0 THEN NULL"
        " ELSE round((1.0 - sim1) / (1.0 - sim2), 6) END AS dist_ratio",
        "CASE WHEN sim2 >= 1.0 THEN NULL"
        " WHEN (1.0 - sim1) / (1.0 - sim2) < 0.8 THEN 1 ELSE 0 END"
        " AS match_reliable",
    ).orderBy("query_id")


# ---------------------------------------------------------------------------
# vec_hubness_topk_counts
# ---------------------------------------------------------------------------

_HUB_QUERIES = 50
_HUB_K = 3


def _hubness_oracle() -> str:
    from .vector import _DD_COS

    cos = _DD_COS.format(a="c.embedding", b="q.qv")
    return f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < {_HUB_QUERIES}),
    c AS (SELECT vec_id AS neighbor_id, embedding
          FROM embeddings WHERE vec_id >= {_HUB_QUERIES}),
    sims AS (
      SELECT q.query_id, c.neighbor_id, round({cos}, 6) AS sim
      FROM c CROSS JOIN q),
    nn AS (
      SELECT query_id, neighbor_id
      FROM (SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY sim DESC, neighbor_id) AS rn
            FROM sims) t
      WHERE rn <= {_HUB_K}),
    occ AS (
      SELECT neighbor_id, CAST(count(*) AS BIGINT) AS occurrences
      FROM nn GROUP BY neighbor_id),
    hist AS (
      SELECT occurrences, CAST(count(*) AS BIGINT) AS n_neighbors
      FROM occ GROUP BY occurrences),
    z AS (
      SELECT CAST(0 AS BIGINT) AS occurrences,
             (SELECT count(*) FROM c) - (SELECT count(*) FROM occ)
               AS n_neighbors)
    SELECT occurrences, n_neighbors,
           round(CAST(n_neighbors AS DOUBLE)
                 / (SELECT count(*) FROM c), 6) AS corpus_share
    FROM (SELECT * FROM hist UNION ALL SELECT * FROM z) u
    ORDER BY occurrences
    """


@query("vec_hubness_topk_counts", oracle=_hubness_oracle())
def vec_hubness_topk_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-OCCURRENCE (HUBNESS) DISTRIBUTION of the corpus under exact
    top-3 retrieval from a 50-query panel: for each occurrence level
    m, how many corpus vectors appear in exactly m result lists —
    including the m = 0 ANTIHUB row (vectors no query retrieves).
    High-dimensional similarity search concentrates results onto hub
    points (Radovanovic et al., JMLR 2010); a heavy right tail here
    says recall evaluation must stratify by hubness, and an oversized
    antihub mass says the index wastes space on unreachable points.
    Completes the vector-diagnostics family next to
    vec_pairwise_cos_hist (pair geometry) and vec_dim_variance_profile
    (coordinate anisotropy) with the RETRIEVAL-graph view.

    Parity: ranks order by ROUND(6) sim + neighbor_id tie-break (rank
    parity exact, the per-query-kNN convention); all counts exact
    BIGINT; corpus_share divides exact integers, round(6).

    Shape at 100 TB: broadcast panel, one corpus scan, per-query
    window top-k, then two bounded aggregates (occurrence counts over
    <= k*|panel| hit rows; histogram over <= |panel|*k levels) and a
    1-row corpus count for the antihub row."""
    from ..functions.vector import cosine_fixed
    from .vector import _query_vector_raw, _query_vectors

    emb = table(spark, sf_dir, "embeddings")
    q = _query_vectors(spark, sf_dir, _HUB_QUERIES)
    corpus = emb.where(F.col("vec_id") >= _HUB_QUERIES).select(
        F.col("vec_id").alias("neighbor_id"), "embedding"
    )
    d = len(_query_vector_raw(spark, sf_dir, 0))
    sims = corpus.crossJoin(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        F.round(cosine_fixed("embedding", "qv", d), 6).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    nn = (
        sims.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _HUB_K)
        .select("query_id", "neighbor_id")
    )
    occ = nn.groupBy("neighbor_id").agg(
        F.count("*").cast("bigint").alias("occurrences")
    )
    hist = occ.groupBy("occurrences").agg(
        F.count("*").cast("bigint").alias("n_neighbors")
    )
    nc = corpus.agg(F.count("*").cast("bigint").alias("nc"))
    nr = occ.agg(F.count("*").cast("bigint").alias("nret"))
    zero = (
        nc.crossJoin(F.broadcast(nr))
        .selectExpr(
            "CAST(0 AS BIGINT) AS occurrences",
            "nc - nret AS n_neighbors",
        )
    )
    return (
        hist.unionByName(zero)
        .crossJoin(F.broadcast(nc))
        .selectExpr(
            "occurrences",
            "n_neighbors",
            "round(CAST(n_neighbors AS DOUBLE) / nc, 6) AS corpus_share",
        )
        .orderBy("occurrences")
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


# ---------------------------------------------------------------------------
# multimodal_metadata_filter
# ---------------------------------------------------------------------------

_IMG_MIN_SIDE = 64
_IMG_MAX_ASPECT = 3  # keep if 3*min_side >= max_side


@query(
    "multimodal_metadata_filter",
    oracle=f"""
    WITH meta AS (
      SELECT doc_id,
             octet_length(encode(text)) AS n_bytes,
             ascii(substring(text, 1, 1)) AS first_b,
             ascii(substring(text, length(text), 1)) AS last_b
      FROM documents),
    dims AS (
      SELECT doc_id,
             16 + (n_bytes * 7 + first_b) % 1009 AS width,
             16 + (n_bytes * 13 + last_b) % 1009 AS height,
             CASE n_bytes % 3 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png'
                  ELSE 'webp' END AS fmt
      FROM meta),
    flags AS (
      SELECT doc_id,
             CASE WHEN least(width, height) >= {_IMG_MIN_SIDE}
                  THEN 1 ELSE 0 END AS pass_min_dim,
             CASE WHEN {_IMG_MAX_ASPECT} * least(width, height)
                       >= greatest(width, height)
                  THEN 1 ELSE 0 END AS pass_aspect,
             CASE WHEN fmt <> 'webp' THEN 1 ELSE 0 END AS pass_format
      FROM dims),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_total,
             CAST(sum(pass_min_dim) AS BIGINT) AS p1,
             CAST(sum(pass_min_dim * pass_aspect) AS BIGINT) AS p2,
             CAST(sum(pass_min_dim * pass_aspect * pass_format) AS BIGINT)
               AS p3
      FROM flags)
    SELECT stage, n_pass, n_total,
           round(CAST(n_pass AS DOUBLE) / n_total, 6) AS pass_rate
    FROM (
      SELECT '1_min_dim' AS stage, p1 AS n_pass, n_total FROM agg
      UNION ALL
      SELECT '2_aspect', p2, n_total FROM agg
      UNION ALL
      SELECT '3_format', p3, n_total FROM agg) u
    ORDER BY stage
    """,
)
def multimodal_metadata_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAION-STYLE IMAGE-METADATA CURATION FUNNEL: sequential gates on
    decoded image metadata — minimum side >= 64 px, aspect ratio
    within 3:1, non-webp container — with per-stage survivor counts
    and rates, the standard pre-CLIP image-corpus screen.  The
    container ships no image codec (multimodal contract,
    multimodal.py:130), so the "decode" extracts DETERMINISTIC fake
    dimensions from the payload bytes (hash-like integer formulas on
    length and boundary bytes) inside the REAL mapInPandas plumbing a
    production decode uses — schema, Arrow batching, and the funnel
    plan downstream are exactly the production shape.

    Parity: the fake metadata is pure integer arithmetic mirrored in
    SQL (octet_length/ascii on the ASCII fixture text == the byte
    values Python sees); gates and counts are exact integers;
    pass_rate divides once, round(6).

    Shape at 100 TB: payloads stream through one Arrow pass
    (mapInPandas — the only Python stage, per-row O(1)); the funnel
    is a 1-row conditional aggregate fanned to 3 stage rows."""
    import pandas as pd

    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )

    def parse_meta(batches):
        for pdf in batches:
            ids, ws, hs, fs = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                p = bytes(payload)
                n, first, last = len(p), p[0], p[-1]
                ids.append(doc_id)
                ws.append(16 + (n * 7 + first) % 1009)
                hs.append(16 + (n * 13 + last) % 1009)
                fs.append(["jpeg", "png", "webp"][n % 3])
            yield pd.DataFrame(
                {"doc_id": ids, "width": ws, "height": hs, "fmt": fs}
            )

    dims = d.mapInPandas(
        parse_meta, "doc_id bigint, width int, height int, fmt string"
    )
    flags = dims.selectExpr(
        "doc_id",
        f"CASE WHEN least(width, height) >= {_IMG_MIN_SIDE}"
        " THEN 1 ELSE 0 END AS pass_min_dim",
        f"CASE WHEN {_IMG_MAX_ASPECT} * least(width, height)"
        " >= greatest(width, height) THEN 1 ELSE 0 END AS pass_aspect",
        "CASE WHEN fmt <> 'webp' THEN 1 ELSE 0 END AS pass_format",
    )
    agg = flags.agg(
        F.count("*").cast("bigint").alias("n_total"),
        F.sum("pass_min_dim").cast("bigint").alias("p1"),
        F.expr(
            "CAST(sum(pass_min_dim * pass_aspect) AS BIGINT)"
        ).alias("p2"),
        F.expr(
            "CAST(sum(pass_min_dim * pass_aspect * pass_format) AS BIGINT)"
        ).alias("p3"),
    )
    stages = None
    for stage, col in (
        ("1_min_dim", "p1"),
        ("2_aspect", "p2"),
        ("3_format", "p3"),
    ):
        row = agg.selectExpr(
            f"'{stage}' AS stage",
            f"{col} AS n_pass",
            "n_total",
            f"round(CAST({col} AS DOUBLE) / n_total, 6) AS pass_rate",
        )
        stages = row if stages is None else stages.unionByName(row)
    return stages.orderBy("stage")


# ---------------------------------------------------------------------------
# multimodal_audio_frames
# ---------------------------------------------------------------------------

_PCM_SR = 16000  # fake-decode contract: PCM16 mono @ 16 kHz
_PCM_FRAME = 400  # 25 ms analysis window
_PCM_HOP = 160  # 10 ms hop


@query(
    "multimodal_audio_frames",
    oracle=f"""
    WITH meta AS (
      SELECT doc_id,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             ascii(substring(text, 1, 1)) AS b0,
             ascii(substring(text, 2, 1)) AS b1
      FROM documents)
    SELECT doc_id, n_bytes,
           n_bytes // 2 AS n_samples,
           (n_bytes // 2) * 1000 // {_PCM_SR} AS duration_ms,
           CASE WHEN n_bytes // 2 >= {_PCM_FRAME}
                THEN 1 + (n_bytes // 2 - {_PCM_FRAME}) // {_PCM_HOP}
                ELSE 0 END AS n_frames,
           CAST(b0 + 256 * b1 AS BIGINT) AS first_sample_u16
    FROM meta ORDER BY doc_id
    """,
)
def multimodal_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIO FRAMING PLAN over opaque binary payloads — the windowing
    arithmetic every speech/audio feature extractor (MFCC, wav2vec
    chunking) runs first: treat each payload as PCM16 mono @ 16 kHz
    and emit sample count, duration, and the 25 ms / 10 ms-hop
    analysis-frame count, plus the first u16 sample as the
    deterministic "decoded" probe value.  The AUDIO sibling of
    multimodal_frame_sample (video keyframe explode): that op changes
    cardinality 1->N; this one validates the framing arithmetic and
    byte-order plumbing a real librosa/ffmpeg decode would feed.
    Since round 14 the sample count comes from a REAL container
    roundtrip: each payload is wrapped in a genuine RIFF/WAVE file
    (build_wav, PCM16 mono @ 16 kHz) and parse_wav's chunk walk
    supplies n_frames/block_align/sample_rate — the framing
    arithmetic consumes PARSED metadata, not raw byte length, and a
    rate/shape mismatch raises. Compressed-codec decode stays the
    documented extension point (multimodal.py decode_image note).

    Parity: all outputs are integer arithmetic on payload length and
    the first two bytes, mirrored exactly by octet_length/ascii on
    the ASCII fixture text (bytes == chars); integer division is
    Spark `div` / DuckDB `//`.

    Shape at 100 TB: one Arrow mapInPandas pass, per-row O(1), no
    shuffle at all."""
    import pandas as pd

    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )

    from .binformats import build_wav, parse_wav

    def frame_meta(batches):
        for pdf in batches:
            ids, nb, ns, fs = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                p = bytes(payload)
                wav = parse_wav(build_wav(p, _PCM_SR, 1))
                if wav["sample_rate"] != _PCM_SR or wav["block_align"] != 2:
                    raise ValueError("WAV container roundtrip mismatch")
                ids.append(doc_id)
                nb.append(len(p))
                ns.append(wav["n_frames"])  # parsed, not len(p) // 2
                fs.append(p[0] + 256 * p[1])
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "n_bytes": nb,
                    "n_samples": ns,
                    "first_sample_u16": fs,
                }
            )

    meta = d.mapInPandas(
        frame_meta,
        "doc_id bigint, n_bytes bigint, n_samples bigint,"
        " first_sample_u16 bigint",
    )
    return meta.selectExpr(
        "doc_id",
        "n_bytes",
        "n_samples",
        f"n_samples * 1000 div {_PCM_SR} AS duration_ms",
        f"CASE WHEN n_samples >= {_PCM_FRAME}"
        f" THEN 1 + (n_samples - {_PCM_FRAME}) div {_PCM_HOP}"
        " ELSE 0 END AS n_frames",
        "first_sample_u16",
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# graph_betweenness_seeds
# ---------------------------------------------------------------------------

_BT_DEPTH = 4  # truncation radius (k-betweenness)
_BT_SEEDS = 3  # top-degree pivot count
_BT_TOPK = 50


def _betweenness_oracle() -> str:
    depth = _BT_DEPTH
    fwd = []
    for d in range(1, depth + 1):
        fwd.append(f"""
    l{d} AS MATERIALIZED (
      SELECT p.seed, de.n AS v, CAST(sum(p.sigma) AS BIGINT) AS sigma
      FROM l{d - 1} p JOIN dedges de ON de.m = p.v
      LEFT JOIN vis{d - 1} x ON x.seed = p.seed AND x.v = de.n
      WHERE x.v IS NULL
      GROUP BY p.seed, de.n),
    vis{d} AS MATERIALIZED (
      SELECT * FROM vis{d - 1}
      UNION ALL SELECT seed, v FROM l{d})""")
    node_union = "\n      UNION ALL ".join(
        f"SELECT seed, v, sigma, {d} AS depth FROM l{d}"
        for d in range(0, depth + 1)
    )
    bwd = []
    prev = None
    for d in range(depth - 1, 0, -1):
        join_prev = (
            f"LEFT JOIN {prev} pw ON pw.seed = g.seed AND pw.v = g.w"
            if prev
            else ""
        )
        dw = f"coalesce(CAST(pw.delta AS DOUBLE), 0.0)" if prev else "0.0"
        bwd.append(f"""
    d{d} AS MATERIALIZED (
      SELECT g.seed, g.v,
             CAST(sum(CAST(round(CAST(g.sv AS DOUBLE) / g.sw
                                 * (1.0 + {dw}), 9)
                           AS DECIMAL(38,9))) AS DECIMAL(38,9)) AS delta
      FROM dag g {join_prev}
      WHERE g.dv = {d}
      GROUP BY g.seed, g.v)""")
        prev = f"d{d}"
    delta_union = "\n      UNION ALL ".join(
        f"SELECT v, delta FROM d{d}" for d in range(1, depth)
    )
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
    seeds AS MATERIALIZED (
      SELECT m AS seed FROM deg ORDER BY dg DESC, m LIMIT {_BT_SEEDS}),
    l0 AS (SELECT seed, seed AS v, CAST(1 AS BIGINT) AS sigma FROM seeds),
    vis0 AS (SELECT seed, v FROM l0),
    {",".join(fwd)},
    nodes AS MATERIALIZED (
      {node_union}),
    dag AS MATERIALIZED (
      SELECT a.seed, a.v, b.v AS w, a.sigma AS sv, b.sigma AS sw,
             a.depth AS dv
      FROM nodes a JOIN dedges de ON de.m = a.v
      JOIN nodes b ON b.seed = a.seed AND b.v = de.n
                  AND b.depth = a.depth + 1),
    {",".join(bwd)},
    bt AS (
      SELECT v, CAST(sum(delta) AS DECIMAL(38,9)) AS bts
      FROM ({delta_union}) u
      GROUP BY v)
    SELECT v AS part, CAST(round(bts, 6) AS DOUBLE) AS betweenness
    FROM bt
    ORDER BY bts DESC, v
    LIMIT {_BT_TOPK}
    """


@query("graph_betweenness_seeds", oracle=_betweenness_oracle())
def graph_betweenness_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUNCATED BRANDES BETWEENNESS (k-betweenness, radius 4) from
    the 3 highest-degree pivots of the support-2 part co-purchase
    graph: forward BFS accumulates shortest-path counts sigma per
    level; the backward pass accumulates the path-dependency
    delta(v) = sum_w sigma(v)/sigma(w) * (1 + delta(w)) over the
    shortest-path DAG, and nodes rank by their summed dependency —
    the "bridge products" the degree/PageRank/Katz family cannot see
    (a low-degree node that RELAYS traffic scores high here and
    nowhere else).  Pivot sampling + bounded radius is the standard
    scalable betweenness estimate (Brandes-Pich); radius-4
    k-betweenness counts only shortest paths of length <= 4 — a
    DEFINED statistic at every sf (measured to exhaustion: the seed
    BFS completes within radius 4 at sf0.001 (ecc 3); at sf0.01 the
    component's ecc is 9, so the radius genuinely truncates to the
    4-hop neighborhood — the ego-centric betweenness retrieval/
    recommendation uses; the sf0.1 graph is fragmented — avg degree
    1.2 — so mass is small there by the graph's own nature).
    Completes the centrality family: graph_katz_centrality (walk
    counts), graph_closeness_seeds (distance), graph_hits_bipartite
    (eigen), this op (flow mediation).

    Parity: sigma is an exact BIGINT path count (measured max 103);
    each backward term quantizes its ONE float expression
    round(sigma_v/sigma_w * (1 + delta_w), 9) into DECIMAL(38,9)
    before the order-independent decimal sum (the adamic-adar /
    pagerank rule); delta_w re-enters the next level as an
    exactly-representable double (<= 12 digits).  Final ordering is
    on the exact decimal with id tie-break.

    Shape at 100 TB: the fact table collapses to the checkpointed
    edge list once (_copurchase_edges); every BFS level is a keyed
    equi-join + anti-join against the visited set with map-side
    sigma combine; level/DAG/delta frames are provably bounded
    (<= reached nodes, measured <= 2k) and localCheckpoint-ed before
    re-reference (the 2^iterations re-derivation rule); 3 pivots ride
    ONE plan via the seed column."""
    from .analytics4 import _copurchase_edges

    e = _copurchase_edges(spark, sf_dir)
    dedges = (
        e.select(F.col("u").alias("m"), F.col("v").alias("n"))
        .unionAll(e.select(F.col("v").alias("m"), F.col("u").alias("n")))
        .localCheckpoint()  # referenced once per BFS level + DAG build
    )
    seeds = (
        dedges.groupBy("m")
        .agg(F.count("*").alias("dg"))
        .orderBy(F.col("dg").desc(), "m")
        .limit(_BT_SEEDS)
        .select(F.col("m").alias("seed"))
    )
    l0 = seeds.select(
        "seed",
        F.col("seed").alias("v"),
        F.lit(1).cast("bigint").alias("sigma"),
    ).localCheckpoint()
    levels = [l0]
    visited = l0.select("seed", "v").localCheckpoint()
    for _ in range(_BT_DEPTH):
        prev = levels[-1]
        nxt = (
            prev.join(dedges, prev.v == dedges.m)
            .select("seed", F.col("n").alias("nv"), "sigma")
            .join(
                visited.select(
                    F.col("seed").alias("xs"), F.col("v").alias("xv")
                ),
                (F.col("seed") == F.col("xs")) & (F.col("nv") == F.col("xv")),
                "left_anti",
            )
            .groupBy("seed", F.col("nv").alias("v"))
            .agg(F.sum("sigma").cast("bigint").alias("sigma"))
            .localCheckpoint()
        )
        levels.append(nxt)
        visited = visited.unionAll(nxt.select("seed", "v")).localCheckpoint()
    nodes = None
    for d, lv in enumerate(levels):
        part = lv.select(
            "seed", "v", "sigma", F.lit(d).cast("int").alias("depth")
        )
        nodes = part if nodes is None else nodes.unionAll(part)
    nodes = nodes.localCheckpoint()  # bounded: reached nodes x seeds
    a = nodes.select(
        F.col("seed").alias("gs"),
        F.col("v").alias("gv"),
        F.col("sigma").alias("sv"),
        F.col("depth").alias("dv"),
    )
    b = nodes.select(
        F.col("seed").alias("bs"),
        F.col("v").alias("bv"),
        F.col("sigma").alias("sw"),
        F.col("depth").alias("dw"),
    )
    dag = (
        a.join(dedges, a.gv == dedges.m)
        .join(
            b,
            (F.col("bs") == F.col("gs"))
            & (F.col("bv") == F.col("n"))
            & (F.col("dw") == F.col("dv") + 1),
        )
        .select("gs", "gv", F.col("bv").alias("gw"), "sv", "sw", "dv")
        .localCheckpoint()  # referenced once per backward level
    )
    prev_delta = None
    for d in range(_BT_DEPTH - 1, 0, -1):
        lvl = dag.where(F.col("dv") == d)
        if prev_delta is not None:
            pw = prev_delta.select(
                F.col("seed").alias("ps"),
                F.col("v").alias("pv"),
                F.col("delta").alias("pdelta"),
            )
            lvl = lvl.join(
                pw,
                (F.col("ps") == F.col("gs")) & (F.col("pv") == F.col("gw")),
                "left",
            )
            dw = "coalesce(CAST(pdelta AS DOUBLE), 0.0)"
        else:
            dw = "0.0"
        prev_delta = (
            lvl.selectExpr(
                "gs",
                "gv",
                f"CAST(round(CAST(sv AS DOUBLE) / sw * (1.0 + {dw}), 9)"
                " AS DECIMAL(38,9)) AS term",
            )
            .groupBy(F.col("gs").alias("seed"), F.col("gv").alias("v"))
            .agg(F.expr("CAST(sum(term) AS DECIMAL(38,9))").alias("delta"))
            .localCheckpoint()  # bounded per-level dependency frame
        )
        if d == _BT_DEPTH - 1:
            deltas = prev_delta
        else:
            deltas = deltas.unionAll(prev_delta)
    bt = deltas.groupBy("v").agg(
        F.expr("CAST(sum(delta) AS DECIMAL(38,9))").alias("bts")
    )
    return (
        bt.orderBy(F.col("bts").desc(), "v")
        .limit(_BT_TOPK)
        .selectExpr("v AS part", "CAST(round(bts, 6) AS DOUBLE) AS betweenness")
    )
