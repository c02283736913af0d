"""Product and business KPIs over the event stream and the TPC-H tables:
market baskets, Markov user journeys, multi-touch attribution,
conversion and bounce funnels, RFM segmentation and price indexes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ...functions.domain import dist_exclusive_prefix
from ...registry import query
from ...tables import table
from .distribution import _day_type_cells


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


# ---------------------------------------------------------------------------
# agg_time_to_convert
# ---------------------------------------------------------------------------


@query(
    "agg_time_to_convert",
    oracle="""
    WITH fv AS (
      SELECT user_id, min(epoch_us(ts)) AS v_us
      FROM events WHERE event_type = 'view' GROUP BY user_id),
    fp AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS p_us
      FROM events e JOIN fv ON e.user_id = fv.user_id
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > fv.v_us
      GROUP BY e.user_id)
    SELECT fv.user_id, CAST(fv.v_us AS BIGINT) AS first_view_us,
           CAST(fp.p_us AS BIGINT) AS first_purchase_us,
           CAST((fp.p_us - fv.v_us) // 1000000 AS BIGINT) AS ttc_sec
    FROM fv JOIN fp ON fv.user_id = fp.user_id
    """,
)
def agg_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-TO-CONVERT per user: the first 'view' and the first
    'purchase' STRICTLY AFTER it, with the latency in whole seconds —
    the funnel-latency table every growth dashboard aggregates
    (win_sequence_match_funnel says WHO converts; this says HOW LONG
    conversion takes). Users who never view or never purchase after
    viewing drop out on both sides.

    Scale shape: two filtered min-aggregates keyed on user_id (the
    second pre-filtered by an equi-join on the first — at 100 TB both
    are one user-key exchange each with map-side partial mins; the
    event_type filters reach the scan).

    Parity: pure integer microsecond arithmetic; the seconds
    conversion is integer floor-division on both engines."""
    ev = table(spark, sf_dir, "events")
    fv = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("v_us"))
    )
    fp = (
        ev.where(F.col("event_type") == "purchase")
        .select("user_id", F.unix_micros("ts").alias("p_us"))
        .join(fv, "user_id")
        .where(F.col("p_us") > F.col("v_us"))
        .groupBy("user_id")
        .agg(F.min("p_us").alias("p_us"))
    )
    return fv.join(fp, "user_id").select(
        "user_id",
        F.col("v_us").cast("bigint").alias("first_view_us"),
        F.col("p_us").cast("bigint").alias("first_purchase_us"),
        F.expr("CAST((p_us - v_us) DIV 1000000 AS BIGINT)").alias("ttc_sec"),
    )


# ---------------------------------------------------------------------------
# agg_cohort_overlap
# ---------------------------------------------------------------------------


@query(
    "agg_cohort_overlap",
    oracle="""
    WITH ut AS (SELECT DISTINCT event_type, user_id FROM events),
    n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nu FROM ut
          GROUP BY event_type),
    inter AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(count(*) AS BIGINT) AS n_both
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2)
    SELECT i.type_a, i.type_b, na.nu AS n_a, nb.nu AS n_b, i.n_both,
           round(CAST(i.n_both AS DOUBLE)
                 / (na.nu + nb.nu - i.n_both), 6) AS jaccard
    FROM inter i
    JOIN n na ON i.type_a = na.event_type
    JOIN n nb ON i.type_b = nb.event_type
    """,
)
def agg_cohort_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIENCE OVERLAP between event types: for every type pair, the
    user-set intersection and Jaccard similarity — the cohort-overlap
    matrix behind "do purchasers also click?" segmentation questions,
    and the exact-set ground truth that sketch-based overlap
    (agg_hll_sketch_merge) approximates.

    Scale shape: one distinct (type, user) projection (user-key
    shuffle with map-side distinct), then a self-equi-join ON USER —
    each user carries at most |types| rows, so per-key fan-out is
    bounded by type-count squared, never by corpus size; type-level
    counts broadcast back onto the ~|types|² result rows.

    Parity: all counts exact integers; one division, round(6)."""
    ev = table(spark, sf_dir, "events")
    ut = ev.select("event_type", "user_id").distinct()
    n = ut.groupBy("event_type").agg(F.count("*").cast("bigint").alias("nu"))
    a = ut.select(F.col("event_type").alias("type_a"), "user_id")
    b = ut.select(F.col("event_type").alias("type_b"), "user_id")
    inter = (
        a.join(b, "user_id")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("bigint").alias("n_both"))
    )
    return (
        inter.join(
            F.broadcast(n.select(F.col("event_type").alias("type_a"),
                                 F.col("nu").alias("n_a"))),
            "type_a",
        )
        .join(
            F.broadcast(n.select(F.col("event_type").alias("type_b"),
                                 F.col("nu").alias("n_b"))),
            "type_b",
        )
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_both",
            F.round(
                F.col("n_both").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both")),
                6,
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# agg_bounce_rate
# ---------------------------------------------------------------------------


@query(
    "agg_bounce_rate",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    numbered AS (
      SELECT user_id,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_no
      FROM flagged),
    sess AS (
      SELECT user_id, sess_no, count(*) AS n_events
      FROM numbered GROUP BY user_id, sess_no)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounces,
           round(CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS bounce_rate
    FROM sess GROUP BY user_id
    """,
)
def agg_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOUNCE RATE per user: the fraction of the user's sessions
    containing exactly one event — the simplest engagement-quality
    KPI on top of gap-based sessionization, composed directly on
    agg_sessionize_batch's session definition (same 30-minute gap
    rule, same oracle CTE text).

    Scale shape: the sessionize windows and BOTH rollups (session
    event counts, per-user bounce summary) ride the single user_id
    hash exchange — sessionization's optimal one-shuffle shape
    extends through the KPI unchanged.

    Parity: counts exact, one division, round(6)."""
    from ..relational import agg_sessionize_batch

    s = agg_sessionize_batch(spark, sf_dir)
    return s.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_sessions"),
        F.sum((F.col("n_events") == 1).cast("int"))
        .cast("bigint")
        .alias("n_bounces"),
        F.round(
            F.sum((F.col("n_events") == 1).cast("int")).cast("double")
            / F.count("*"),
            6,
        ).alias("bounce_rate"),
    )


# ---------------------------------------------------------------------------
# agg_entropy_rate_markov
# ---------------------------------------------------------------------------


@query(
    "agg_entropy_rate_markov",
    oracle="""
    WITH seq AS (
      SELECT event_type AS nt,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS pt
      FROM events),
    c AS (
      SELECT pt, nt, CAST(count(*) AS BIGINT) AS nij
      FROM seq WHERE pt IS NOT NULL GROUP BY 1, 2),
    rt AS (SELECT pt, CAST(sum(nij) AS BIGINT) AS ni FROM c GROUP BY pt),
    tot AS (SELECT CAST(sum(nij) AS BIGINT) AS nn FROM c),
    h AS (
      SELECT c.pt, rt.ni,
             CAST(sum(CAST(round(
                 -(CAST(c.nij AS DOUBLE) / rt.ni)
                 * log2(CAST(c.nij AS DOUBLE) / rt.ni), 9)
                 AS DECIMAL(28,9))) AS DECIMAL(38,9)) AS hd
      FROM c JOIN rt USING (pt) GROUP BY c.pt, rt.ni),
    rate AS (
      SELECT CAST(sum(CAST(round(
                 CAST(h.ni AS DOUBLE) / tot.nn * CAST(h.hd AS DOUBLE), 9)
                 AS DECIMAL(28,9))) AS DECIMAL(38,9)) AS er
      FROM h CROSS JOIN tot)
    SELECT h.pt AS prev_type, h.ni AS n_from,
           round(CAST(h.ni AS DOUBLE) / tot.nn, 6) AS pi_occupancy,
           round(CAST(h.hd AS DOUBLE), 6) AS h_cond_bits,
           round(CAST(rate.er AS DOUBLE), 6) AS entropy_rate_bits
    FROM h CROSS JOIN tot CROSS JOIN rate
    """,
)
def agg_entropy_rate_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENTROPY RATE of the per-user event-type Markov chain: per-state
    conditional entropy H_i = -sum_j p_ij log2 p_ij weighted by the
    empirical occupancy pi_i = n_i/N — the bits-per-event
    predictability summary of agg_markov_transition's matrix (H near
    log2(k) means next-type prediction is hopeless; near 0 means the
    stream is deterministic and funnel models will look spuriously
    good). Per-state rows expose WHICH states are predictable; the
    grand rate repeats as a column.

    Shape at 100 TB: identical to agg_markov_transition — one user
    shuffle feeds the lag window, pairs collapse to the k^2 transition
    grid map-side; every later step is k-row arithmetic.

    Parity: counts are exact integers; each of the <= k^2 transition
    terms and <= k rate terms is one shared double expression
    (division of exact integers + log2) quantized round(9) into
    DECIMAL before its order-independent sum — the graph_adamic_adar
    transcendental discipline (log2 of small exact rationals agrees
    across libms well inside 1e-9; p_ij = 1 gives an exact 0 term on
    both engines)."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("nt"),
        F.lag("event_type").over(w).alias("pt"),
    )
    c = (
        seq.where(F.col("pt").isNotNull())
        .groupBy("pt", "nt")
        .agg(F.count("*").cast("bigint").alias("nij"))
    )
    rt = c.groupBy("pt").agg(F.sum("nij").cast("bigint").alias("ni"))
    tot = c.agg(F.sum("nij").cast("bigint").alias("nn"))
    h = (
        c.join(F.broadcast(rt), "pt")
        .groupBy("pt", "ni")
        .agg(
            F.sum(
                F.expr(
                    "CAST(round(-(CAST(nij AS DOUBLE) / ni)"
                    " * log2(CAST(nij AS DOUBLE) / ni), 9)"
                    " AS DECIMAL(28,9))"
                )
            )
            .cast("decimal(38,9)")
            .alias("hd")
        )
    )
    rate = h.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.expr(
                "CAST(round(CAST(ni AS DOUBLE) / nn"
                " * CAST(hd AS DOUBLE), 9) AS DECIMAL(28,9))"
            )
        )
        .cast("decimal(38,9)")
        .alias("er")
    )
    return (
        h.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(rate))
        .selectExpr(
            "pt AS prev_type",
            "ni AS n_from",
            "round(CAST(ni AS DOUBLE) / nn, 6) AS pi_occupancy",
            "round(CAST(hd AS DOUBLE), 6) AS h_cond_bits",
            "round(CAST(er AS DOUBLE), 6) AS entropy_rate_bits",
        )
    )


# ---------------------------------------------------------------------------
# agg_association_rules
# ---------------------------------------------------------------------------


@query(
    "agg_association_rules",
    oracle="""
    WITH os AS MATERIALIZED (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    nb AS MATERIALIZED (
      SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n FROM os),
    sing AS MATERIALIZED (
      SELECT l_partkey AS p, CAST(count(*) AS BIGINT) AS np
      FROM os GROUP BY l_partkey),
    pair AS MATERIALIZED (
      SELECT a.l_partkey AS u, b.l_partkey AS v,
             CAST(count(*) AS BIGINT) AS ns
      FROM os a JOIN os b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2),
    scored AS (
      SELECT p.u, p.v, p.ns, su.np AS nu, sv.np AS nv, nb.n,
             round(CAST(p.ns AS DOUBLE) * nb.n / (su.np * sv.np), 9)
               AS lift
      FROM pair p
      JOIN sing su ON su.p = p.u
      JOIN sing sv ON sv.p = p.v
      CROSS JOIN nb)
    SELECT u AS part_a, v AS part_b, ns AS n_baskets_both,
           round(CAST(ns AS DOUBLE) / n, 6) AS support,
           round(CAST(ns AS DOUBLE) / nu, 6) AS conf_a_to_b,
           round(CAST(ns AS DOUBLE) / nv, 6) AS conf_b_to_a,
           round(lift, 6) AS lift
    FROM scored
    ORDER BY lift DESC, u, v LIMIT 10
    """,
)
def agg_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MARKET-BASKET ASSOCIATION RULES over order baskets: for every
    support-2 part pair, support, both directed confidences, and
    lift = P(a,b)/(P(a)P(b)) — top-10 by lift. The classic
    recommendation primitive the co-purchase GRAPH family
    (graph_adamic_adar predicts links, graph_triangle_cosupply reads
    closure) leaves implicit: lift is the calibrated "how much more
    often than chance", and confidence is the deployable "if a is in
    the basket, odds of b". Support floor 2 is the same gate as
    _copurchase_edges, so every rule here IS an edge of that graph
    with its strength made explicit.

    Shape at 100 TB: the distinct (order, part) projection, one
    self-join blocked by order key (never all-pairs — the dedup
    banding argument), two broadcast single-counts, TakeOrdered
    top-10. Exactly the agg_copurchase_pairs plan plus two bounded
    joins.

    Parity: all counts exact BIGINT; lift quantizes round(9) before
    the ORDER BY (tie-break (u, v)); output ratios are single
    divisions, round(6)."""
    li = table(spark, sf_dir, "lineitem")
    os_ = li.select("l_orderkey", "l_partkey").distinct().localCheckpoint()
    nb = os_.agg(
        F.countDistinct("l_orderkey").cast("bigint").alias("n")
    )
    sing = os_.groupBy(F.col("l_partkey").alias("p")).agg(
        F.count("*").cast("bigint").alias("np")
    )
    a = os_.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = os_.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    pair = (
        a.join(b, "ok")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").cast("bigint").alias("ns"))
        .where(F.col("ns") >= 2)
    )
    scored = (
        pair.join(F.broadcast(sing.select(F.col("p").alias("u"), F.col("np").alias("nu"))), "u")
        .join(F.broadcast(sing.select(F.col("p").alias("v"), F.col("np").alias("nv"))), "v")
        .crossJoin(F.broadcast(nb))
        .withColumn(
            "lift",
            F.expr("round(CAST(ns AS DOUBLE) * n / (nu * nv), 9)"),
        )
    )
    return (
        scored.orderBy(F.col("lift").desc(), "u", "v")
        .limit(10)
        .selectExpr(
            "u AS part_a",
            "v AS part_b",
            "ns AS n_baskets_both",
            "round(CAST(ns AS DOUBLE) / n, 6) AS support",
            "round(CAST(ns AS DOUBLE) / nu, 6) AS conf_a_to_b",
            "round(CAST(ns AS DOUBLE) / nv, 6) AS conf_b_to_a",
            "round(lift, 6) AS lift",
        )
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
