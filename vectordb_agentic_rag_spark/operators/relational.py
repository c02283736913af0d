"""Relational core: scans, filters, joins, aggregations, sorts, set ops.

The reference outsources ALL classical relational work to Qdrant and the
LLM — it has no joins or aggregations of its own (SURVEY.md §2B). These
operators give the engine the category-complete relational surface the
north star mandates, each one expressed so Catalyst picks the scalable
physical plan:

- small dimensions are broadcast explicitly (`F.broadcast`) — a 100 TB
  fact side never shuffles for them;
- aggregations go through groupBy().agg() which Spark executes as
  partial (map-side) + final hash aggregation automatically;
- top-k is ORDER BY + LIMIT => TakeOrderedAndProject (per-partition
  partial top-k; only k rows per partition reach the driver);
- money aggregates sum exact integer cents (functions.money): exact
  arithmetic is order-independent, so results are bit-stable under any
  partitioning AND hash-match the DuckDB oracle (FIXTURES.md parity
  rules).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.chunking import chunk_documents
from ..functions.money import cents, cents_to_dollars
from ..memo import session_artifact
from ..registry import query
from ..tables import SCRATCH, sf_tag, table

# ---------------------------------------------------------------- scans


@query("scan_parquet", oracle="SELECT * FROM region")
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full scan of a fixture table (SURVEY §2B scans)."""
    return table(spark, sf_dir, "region")


@query(
    "scan_projection_pushdown",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem WHERE l_quantity >= 45
    """,
)
def scan_projection_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-pruned, filter-pushed scan. The physical plan must show
    ReadSchema with only 3 columns and PushedFilters [GreaterThanOrEqual
    (l_quantity,45.0)] — verified in tests/test_plans.py."""
    return (
        table(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity") >= 45)
        .select("l_orderkey", "l_linenumber", "l_quantity")
    )


@query(
    "source_json_props",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val
    FROM events WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) > 90
    """,
)
def source_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured source: JSON property extraction + typed cast +
    predicate on the extracted value (events.props, FIXTURES.md)."""
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.select("event_id", k.alias("k_val")).where(F.col("k_val") > 90)


@query(
    "sink_parquet_roundtrip",
    # the write is opaque to SQL, but the values that come BACK are not:
    # the oracle recomputes the chunk aggregate from the source table,
    # so a value match proves the sink+source round-trip is lossless
    oracle="""
    WITH chunks AS (
      SELECT lang, substring(text, pos + 1, 1000) AS page_content
      FROM (SELECT lang, text,
                   unnest(generate_series(0, greatest(n_chars - 201, 0), 800)) AS pos
            FROM documents) t)
    SELECT CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(length(page_content)) AS BIGINT) AS total_chars,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
    FROM chunks
    """,
)
def sink_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write the chunk table to parquet (overwrite — the reference's
    drop-and-recreate collection DDL, app.py:492-509) and read it back.
    Partitioned by lang: at 100 TB the partition column enables
    partition pruning for per-language pipelines.

    Oracle note: DuckDB sum(INTEGER) is HUGEINT (int128) which its
    arrow/pandas bridge renders as a different dtype than Spark's
    BIGINT — every integer aggregate in an oracle needs an explicit
    CAST(… AS BIGINT) (cost one driver hash_match=false to learn)."""
    out = f"{SCRATCH}/chunks_{sf_tag(sf_dir)}.parquet"
    docs = table(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, keep_cols=("lang",))
    chunks.write.mode("overwrite").partitionBy("lang").parquet(out)
    back = spark.read.parquet(out)
    return back.groupBy().agg(
        F.count("*").alias("n_chunks"),
        F.sum(F.length("page_content")).alias("total_chars"),
        F.countDistinct("lang").alias("n_langs"),
    )


# --------------------------------------------- projections / filters


@query(
    "project_compute",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(round(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue,
           CAST(round(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,2)))
                      * (1 + CAST(l_tax AS DECIMAL(18,2))), 2) AS DOUBLE) AS charge,
           CAST(l_quantity AS BIGINT) AS qty
    FROM lineitem
    """,
)
def project_compute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived-column projection (TPC-H Q1 expressions). Inputs are
    2-decimal money values, so DECIMAL arithmetic is exact and rounding
    is engine-independent (double round() differs between engines on
    ties — found the hard way; see FIXTURES.md parity rules)."""
    li = table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    tax = F.col("l_tax").cast("decimal(18,2)")
    rev = price * (F.lit(1) - disc)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(rev, 2).cast("double").alias("revenue"),
        F.round(rev * (F.lit(1) + tax), 2).cast("double").alias("charge"),
        F.col("l_quantity").cast("bigint").alias("qty"),
    )


@query(
    "filter_pred",
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_totalprice
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1998-01-01'
      AND o_orderdate < TIMESTAMP '1999-01-01'
      AND (o_orderpriority LIKE '1-%' OR o_orderpriority LIKE '2-%')
      AND o_orderstatus IN ('O', 'F')
      AND o_totalprice > 150000
    """,
)
def filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive/disjunctive predicates: date range, LIKE, IN, numeric.
    All push down to the parquet scan (no residual Filter above it for
    the range/IN parts)."""
    o = table(spark, sf_dir, "orders")
    return o.where(
        (F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
        & (F.col("o_orderpriority").like("1-%") | F.col("o_orderpriority").like("2-%"))
        & F.col("o_orderstatus").isin("O", "F")
        & (F.col("o_totalprice") > 150000)
    ).select("o_orderkey", "o_orderpriority", "o_totalprice")


# ------------------------------------------------------------- joins


@query(
    "join_broadcast",
    oracle="""
    SELECT n_nationkey, n_name, r_name
    FROM nation JOIN region ON n_regionkey = r_regionkey
    """,
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension join with an explicit broadcast hint: region is tiny at
    every scale factor, so the nation side streams with zero shuffle
    (BroadcastHashJoin — asserted in tests/test_plans.py)."""
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name", "r_name"
    )


@query(
    "join_shuffle_equi",
    oracle="""
    SELECT c_mktsegment, count(*) AS cnt,
           round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100, 2) AS rev
    FROM customer JOIN orders ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    """,
)
def join_shuffle_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-dimension equi-join + aggregation (BASELINE.md
    join_customer_orders). At 100 TB both sides shuffle on the key
    (sort-merge); AQE converts to broadcast when the built side is
    small — we leave the choice to the optimizer here on purpose.
    Revenue summed in exact integer cents (see agg_hash_group)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("cnt"),
            cents_to_dollars(F.sum(cents("o_totalprice"))).alias("rev"),
        )
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): customers with at least one big order."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_mktsegment FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no orders at all."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_mktsegment"
    )


@query(
    "join_range",
    oracle="""
    SELECT a.user_id, a.event_id AS signup_id, b.event_id AS follow_id,
           b.event_type AS follow_type
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL 1 HOUR
    WHERE a.event_type = 'signup'
    """,
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (range) join: follow-up events within 1h of a signup.
    Physically an equi-join on user_id with a range residual — the
    equi part keeps it shuffle-partitionable at scale (never a full
    cross product)."""
    ev = table(spark, sf_dir, "events")
    a = ev.where(F.col("event_type") == "signup").select(
        "user_id", F.col("event_id").alias("signup_id"), F.col("ts").alias("ts_a")
    )
    b = ev.select(
        F.col("user_id").alias("user_b"),
        F.col("event_id").alias("follow_id"),
        F.col("event_type").alias("follow_type"),
        F.col("ts").alias("ts_b"),
    )
    return a.join(
        b,
        (a.user_id == b.user_b)
        & (b.ts_b > a.ts_a)
        & (b.ts_b <= a.ts_a + F.expr("INTERVAL 1 HOUR")),
    ).select("user_id", "signup_id", "follow_id", "follow_type")


@query(
    "join_asof_last_event",
    oracle="""
    SELECT user_id, purchase_id, click_id, click_ts FROM (
      SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
             c.ts AS click_ts,
             row_number() OVER (PARTITION BY p.event_id
                                ORDER BY c.ts DESC, c.event_id DESC) AS rn
      FROM events p JOIN events c
        ON p.user_id = c.user_id AND c.ts <= p.ts
      WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    ) t WHERE rn = 1
    """,
)
def join_asof_last_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (no native Spark SQL op — SURVEY §2B): for every
    purchase, the latest click by the same user at-or-before it.

    NOT a range join: a per-user range join materializes
    purchases x clicks pairs before its window prunes them — quadratic
    in per-user fan-out (measured compute-only at the SCALE.md 10x
    step: 929ms range-join vs 221ms this shape, and a hot user with
    10k clicks x 1k purchases would emit 10M pair rows alone). The scalable shape is the union-sort merge: tag both
    streams, ONE shuffle on user_id, sort by (ts, kind, event_id)
    within partitions, and carry the running ``last(click,
    ignorenulls)`` window down the sorted stream — strictly linear in
    events per user, identical output. Clicks sort before purchases on
    equal ts (kind 0 < 1) so a same-instant click is visible to its
    purchase, matching the oracle's ``c.ts <= p.ts``; latest-click
    ties break on event_id (ascending sort + running last == the
    oracle's DESC/DESC row_number()=1)."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    tagged = ev.where(F.col("event_type").isin("click", "purchase")).select(
        "user_id",
        "ts",
        "event_id",
        (F.col("event_type") == "purchase").cast("int").alias("kind"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    click_id = F.when(F.col("kind") == 0, F.col("event_id"))
    click_ts = F.when(F.col("kind") == 0, F.col("ts"))
    run = tagged.select(
        "user_id",
        "ts",
        "event_id",
        "kind",
        F.last(click_id, ignorenulls=True).over(w).alias("click_id"),
        F.last(click_ts, ignorenulls=True).over(w).alias("click_ts"),
    )
    return (
        run.where((F.col("kind") == 1) & F.col("click_id").isNotNull())
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            "click_id",
            "click_ts",
        )
    )


@query(
    "join_asof_tolerance",
    oracle="""
    SELECT user_id, purchase_id,
           CASE WHEN click_ts IS NOT NULL
                 AND epoch_us(p_ts) - epoch_us(click_ts) <= 1800000000
                THEN click_id END AS click_id,
           CASE WHEN click_ts IS NOT NULL
                 AND epoch_us(p_ts) - epoch_us(click_ts) <= 1800000000
                THEN epoch_us(p_ts) - epoch_us(click_ts) END AS gap_us
    FROM (
      SELECT p.user_id, p.event_id AS purchase_id, p.ts AS p_ts,
             c.event_id AS click_id, c.ts AS click_ts,
             row_number() OVER (PARTITION BY p.event_id
                                ORDER BY c.ts DESC, c.event_id DESC) AS rn
      FROM events p LEFT JOIN events c
        ON p.user_id = c.user_id AND c.event_type = 'click' AND c.ts <= p.ts
      WHERE p.event_type = 'purchase') t
    WHERE rn = 1
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join WITH TOLERANCE (pandas merge_asof(tolerance=30min) /
    kdb wj semantics): every purchase keeps its latest preceding click
    only if it happened within 30 minutes; staler matches null out —
    the attribution-window rule of marketing/feature pipelines, and a
    LEFT as-of (unmatched purchases survive with nulls), unlike
    join_asof_last_event's inner emit.

    Same scalable union-sort-merge shape as join_asof_last_event (ONE
    shuffle on user_id, running last(ignorenulls) down the sorted
    stream — never a per-user range join): the nearest preceding click
    is by construction the running last, so the tolerance is a pure
    map-side predicate on the integer-microsecond gap afterwards.
    Exact-int gap arithmetic on both engines."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    tagged = ev.where(F.col("event_type").isin("click", "purchase")).select(
        "user_id",
        "ts",
        "event_id",
        (F.col("event_type") == "purchase").cast("int").alias("kind"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    click_id = F.when(F.col("kind") == 0, F.col("event_id"))
    click_ts = F.when(F.col("kind") == 0, F.col("ts"))
    run = tagged.select(
        "user_id",
        "ts",
        "event_id",
        "kind",
        F.last(click_id, ignorenulls=True).over(w).alias("click_id"),
        F.last(click_ts, ignorenulls=True).over(w).alias("click_ts"),
    )
    gap = F.unix_micros("ts") - F.unix_micros("click_ts")
    within = F.col("click_ts").isNotNull() & (gap <= 30 * 60 * 1_000_000)
    return run.where(F.col("kind") == 1).select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.when(within, F.col("click_id")).alias("click_id"),
        F.when(within, gap).alias("gap_us"),
    )


@query(
    "agg_ohlc_resample",
    oracle="""
    SELECT event_type, make_timestamp(bucket_us) AS bucket,
           max(CASE WHEN rn_a = 1 THEN value END) AS open,
           max(value) AS high,
           min(value) AS low,
           max(CASE WHEN rn_d = 1 THEN value END) AS close,
           CAST(count(*) AS BIGINT) AS n_events
    FROM (
      SELECT event_type, value,
             epoch_us(ts) // 900000000 * 900000000 AS bucket_us,
             row_number() OVER (PARTITION BY event_type,
                                epoch_us(ts) // 900000000
                                ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (PARTITION BY event_type,
                                epoch_us(ts) // 900000000
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events) t
    GROUP BY event_type, bucket_us
    """,
)
def agg_ohlc_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series downsampling to 15-minute OHLC bars per event type
    (open/high/low/close/volume — the resample shape every metrics or
    market pipeline runs). First/last are defined by explicit
    row_number over (ts, event_id) — never first()/min_by on a
    possibly-tied timestamp, which is nondeterministic on both engines.
    Values pass through untouched (no float arithmetic), so no rounding
    is needed for parity; the bucket is exact integer-microsecond
    truncation. One hash-partition shuffle: the windows and the final
    groupBy share the same (event_type, bucket) partitioning, so
    Catalyst plans a single exchange."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").select(
        "event_type", "ts", "event_id", "value"
    )
    bucket_us = F.expr("unix_micros(ts) div 900000000") * F.lit(900000000)
    b = ev.withColumn("bucket_us", bucket_us)
    w_asc = Window.partitionBy("event_type", "bucket_us").orderBy(
        "ts", "event_id"
    )
    w_desc = Window.partitionBy("event_type", "bucket_us").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    flagged = b.select(
        "event_type",
        "bucket_us",
        "value",
        F.row_number().over(w_asc).alias("rn_a"),
        F.row_number().over(w_desc).alias("rn_d"),
    )
    return (
        flagged.groupBy("event_type", "bucket_us")
        .agg(
            F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
            F.count("*").alias("n_events"),
        )
        .select(
            "event_type",
            F.timestamp_micros("bucket_us").alias("bucket"),
            "open",
            "high",
            "low",
            "close",
            "n_events",
        )
    )


# ------------------------------------------------------- aggregations


@query(
    "agg_hash_group",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS sum_qty,
           round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100, 2) AS sum_base,
           round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                          * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000, 4) AS sum_disc,
           round(CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) / count(*), 6) AS avg_qty,
           count(*) AS cnt
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_hash_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-style hash aggregation (BASELINE.md agg_pricing_summary).

    Money columns are 2-decimal values stored as double (verified: all
    of quantity/price*100/discount*100 are integral), so the sums run
    in *integer cents* (functions.money) — exact => order-independent
    under any partitioning, bit-equal to the oracle, and ~2x faster
    than DECIMAL aggregation. Spark executes this as partial hash agg
    (map side) + final hash agg after a 6-group shuffle — the
    canonical scalable aggregation shape.
    """
    li = table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp")
    )
    qty = F.col("l_quantity").cast("bigint")
    price_c = cents("l_extendedprice")
    disc_bp = cents("l_discount")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(qty).cast("double").alias("sum_qty"),
        cents_to_dollars(F.sum(price_c)).alias("sum_base"),
        F.round(F.sum(price_c * (100 - disc_bp)).cast("double") / 10000, 4).alias("sum_disc"),
        F.round(F.sum(qty).cast("double") / F.count("*"), 6).alias("avg_qty"),
        F.count("*").alias("cnt"),
    )


@query(
    "agg_distinct",
    oracle="""
    SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_cust, count(*) AS n_orders
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation — Spark expands to a two-phase plan
    (distinct-ize then count) automatically."""
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("n_cust"),
            F.count("*").alias("n_orders"),
        )
    )


@query("agg_approx_distinct")  # rows-only: approximate by design
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct-count sketch — the 100 TB path for
    cardinality (exact countDistinct needs a full shuffle of the keys;
    the sketch is one pass + constant-size state). rsd pinned for
    determinism of the plan.

    Self-checking (round 6, same discipline as the ANN recall guards):
    the exact per-type distinct count rides the SAME aggregate (at
    fixture scale; a production monitor samples groups instead), the
    relative error is emitted as `rel_err`, and
    assert_true(|err| <= 5 * rsd) turns an estimator collapse into a
    query failure rather than a plausible-looking rows-only pass."""
    est = (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
            F.count_distinct("user_id").alias("exact_users"),
        )
    )
    rel_err = F.round(
        F.abs(F.col("approx_users") - F.col("exact_users"))
        / F.col("exact_users"),
        4,
    )
    return (
        est.withColumn("rel_err", rel_err)
        .where(
            F.assert_true(
                F.col("rel_err") <= 0.10,
                F.format_string(
                    "HLL estimate collapse: rel_err=%s > 0.10",
                    F.col("rel_err"),
                ),
            ).isNull()
        )
        .select("event_type", "approx_users", "exact_users", "rel_err")
    )


@query(
    "agg_rollup_revenue",
    oracle="""
    SELECT r_name, n_name,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS rev,
           count(*) AS n_orders
    FROM region
      JOIN nation ON n_regionkey = r_regionkey
      JOIN customer ON c_nationkey = n_nationkey
      JOIN orders ON o_custkey = c_custkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def agg_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by (region, nation) with ROLLUP subtotals + grand total.
    Dimension chain is broadcast end-to-end; only orders is big."""
    r = table(spark, sf_dir, "region")
    n = table(spark, sf_dir, "nation")
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    joined = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return joined.rollup("r_name", "n_name").agg(
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2).alias("rev"),
        F.count("*").alias("n_orders"),
    )


@query(
    "agg_cube_events",
    oracle="""
    SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
           count(*) AS n,
           round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS total_value
    FROM events
    WHERE ts < TIMESTAMP '2024-01-08'
    GROUP BY CUBE (event_type, CAST(date_trunc('day', ts) AS DATE))
    """,
)
def agg_cube_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events by (type, day) with CUBE — all four grouping-set combos."""
    ev = table(spark, sf_dir, "events").where(
        F.col("ts") < F.lit("2024-01-08").cast("timestamp")
    )
    day = F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    return ev.select("event_type", day, "value").cube("event_type", "day").agg(
        F.count("*").alias("n"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4).alias("total_value"),
    )


# ------------------------------------------------- sorts / limits / top-k


@query(
    "sort_multi_key",
    oracle="""
    SELECT p_partkey, p_brand, p_size, p_retailprice
    FROM part ORDER BY p_size DESC, p_retailprice ASC, p_partkey
    """,
)
def sort_multi_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key global sort (range-partitioned exchange + local sort)."""
    return (
        table(spark, sf_dir, "part")
        .select("p_partkey", "p_brand", "p_size", "p_retailprice")
        .orderBy(F.col("p_size").desc(), F.col("p_retailprice").asc(), "p_partkey")
    )


@query(
    "limit_head",
    oracle="SELECT c_custkey, c_name FROM customer ORDER BY c_custkey LIMIT 10",
)
def limit_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIMIT over a defined order (an unordered LIMIT is nondeterministic
    by definition — we always pin the order; reference analogue: the
    first-N previews, app.py:231-249)."""
    return (
        table(spark, sf_dir, "customer")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
        .limit(10)
    )


@query(
    "topk_global",
    oracle="""
    SELECT p_partkey, p_name, p_retailprice
    FROM part ORDER BY p_retailprice DESC, p_partkey LIMIT 20
    """,
)
def topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k => TakeOrderedAndProject: each partition keeps only
    its local top-20, the driver merges 20*numPartitions rows — the
    scalable analogue of the reference's fetch_k candidate fetch
    (app.py:265). Plan shape asserted in tests/test_plans.py."""
    return (
        table(spark, sf_dir, "part")
        .select("p_partkey", "p_name", "p_retailprice")
        .orderBy(F.col("p_retailprice").desc(), "p_partkey")
        .limit(20)
    )


# --------------------------------------------------------- set operations


@query(
    "set_union_sources",
    oracle="""
    SELECT doc_id, source FROM documents WHERE lang = 'en'
    UNION
    SELECT doc_id, source FROM documents WHERE n_chars > 400
    """,
)
def set_union_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R13 port — the reference's hybrid fusion merges doc-derived and
    web-derived sources into one context (app.py:348-374). Here: UNION
    (distinct) of two source frames."""
    d = table(spark, sf_dir, "documents")
    en = d.where(F.col("lang") == "en").select("doc_id", "source")
    long_docs = d.where(F.col("n_chars") > 400).select("doc_id", "source")
    return en.unionByName(long_docs).distinct()


@query(
    "set_intersect_except",
    oracle="""
    SELECT 'both' AS tag, source FROM
      (SELECT source FROM documents WHERE lang = 'en'
       INTERSECT SELECT source FROM documents WHERE lang = 'fr')
    UNION ALL
    SELECT 'en_only' AS tag, source FROM
      (SELECT DISTINCT source FROM documents WHERE lang = 'en'
       EXCEPT SELECT source FROM documents WHERE lang = 'fr')
    """,
)
def set_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT and EXCEPT in one result frame, tagged."""
    d = table(spark, sf_dir, "documents")
    en = d.where(F.col("lang") == "en").select("source")
    fr = d.where(F.col("lang") == "fr").select("source")
    both = en.intersect(fr).select(F.lit("both").alias("tag"), "source")
    en_only = en.distinct().exceptAll(fr.distinct()).select(
        F.lit("en_only").alias("tag"), "source"
    )
    return both.unionByName(en_only)


@query(
    "agg_percentiles",
    oracle="""
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.5), 6) AS p50,
           round(quantile_cont(o_totalprice, 0.9), 6) AS p90,
           round(quantile_cont(o_totalprice, 0.99), 6) AS p99,
           round(min(o_totalprice), 6) AS lo,
           round(max(o_totalprice), 6) AS hi
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles per group (Spark `percentile` == DuckDB
    quantile_cont: linear interpolation between order statistics).
    Exact percentile needs the full sorted group — at 100 TB switch the
    call to approx_percentile (t-digest, mergeable partial state, no
    global sort); declared exact here because the oracle can check it
    bit-for-bit, with the approximate twin covered rows-only by
    agg_approx_distinct's pattern."""
    o = table(spark, sf_dir, "orders")
    pct = F.expr(
        "percentile(o_totalprice, array(0.5, 0.9, 0.99))"
    )
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.round(pct[0], 6).alias("p50"),
            F.round(pct[1], 6).alias("p90"),
            F.round(pct[2], 6).alias("p99"),
            F.round(F.min("o_totalprice"), 6).alias("lo"),
            F.round(F.max("o_totalprice"), 6).alias("hi"),
        )
    )


@query(
    "agg_mode_histogram",
    oracle="""
    SELECT o_orderpriority,
           mode(o_orderstatus) AS common_status,
           CAST(sum(CASE WHEN o_totalprice < 100000 THEN 1 ELSE 0 END) AS BIGINT) AS bucket_lo,
           CAST(sum(CASE WHEN o_totalprice >= 100000 AND o_totalprice < 300000 THEN 1 ELSE 0 END) AS BIGINT) AS bucket_mid,
           CAST(sum(CASE WHEN o_totalprice >= 300000 THEN 1 ELSE 0 END) AS BIGINT) AS bucket_hi
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_mode_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling aggregate: modal category + a fixed-bucket price
    histogram per group (the column-statistics pass of a training-data
    audit). mode() is deterministic here (status frequencies are
    untied); the histogram is conditional counting — partial-aggregable
    map-side, one shuffle for any bucket count."""
    o = table(spark, sf_dir, "orders")

    def bucket(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")

    p = F.col("o_totalprice")
    return o.groupBy("o_orderpriority").agg(
        F.mode("o_orderstatus").alias("common_status"),
        bucket(p < 100000).alias("bucket_lo"),
        bucket((p >= 100000) & (p < 300000)).alias("bucket_mid"),
        bucket(p >= 300000).alias("bucket_hi"),
    )


_Q3_SQL = """
SELECT l_orderkey,
       round(CAST(sum(CAST({rnd}(l_extendedprice * 100) AS BIGINT)
                      * (100 - CAST({rnd}(l_discount * 100) AS BIGINT))) AS DOUBLE)
             / 10000, 4) AS revenue,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


@query("sql_q3_shipping_priority", oracle=_Q3_SQL.format(rnd="round"))
def sql_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 through the SQL front-end: the same ANSI text runs on
    Spark (temp views) and DuckDB (fixture views) — revenue in integer
    cents x basis points for exact parity. Catalyst plans the 3-way
    join with both filters pushed below the joins and the top-10 as
    TakeOrderedAndProject over the aggregate."""
    from ..tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_Q3_SQL.format(rnd="round"))


_Q5_SQL = """
SELECT n_name,
       round(CAST(sum(CAST({rnd}(l_extendedprice * 100) AS BIGINT)
                      * (100 - CAST({rnd}(l_discount * 100) AS BIGINT))) AS DOUBLE)
             / 10000, 4) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
ORDER BY revenue DESC
LIMIT 25
"""


@query("sql_q5_local_supplier", oracle=_Q5_SQL.format(rnd="round"))
def sql_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 through the SQL front-end: six-table join (customer x
    orders x lineitem x supplier x nation x region) with the
    local-supplier correlation c_nationkey = s_nationkey. nation and
    region are broadcast automatically (under the 10 MB threshold at
    every fixture scale); the fact-side joins shuffle on their keys
    with AQE free to re-plan. Same exact-cents revenue discipline as
    Q3."""
    from ..tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_Q5_SQL.format(rnd="round"))


def _sql_both(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    from ..tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(sql)


_Q6_SQL = """
SELECT round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE)
             / 10000, 4) AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@query("sql_q6_forecast_revenue", oracle=_Q6_SQL)
def sql_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): single-table filter +
    ungrouped aggregate. The whole query is one parquet scan with ALL
    three predicates pushed to the reader and a two-phase (partial ->
    final) agg — the cheapest possible TPC-H query, and the canonical
    pushdown check (PLANS.md pins PushedFilters on the date bounds).
    Revenue = extendedprice x discount in integer cents x cents,
    descaled once at the end."""
    return _sql_both(spark, sf_dir, _Q6_SQL)


_Q10_SQL = """
SELECT c_custkey, c_name,
       round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                      * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE)
             / 10000, 4) AS revenue,
       c_acctbal, n_name
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1997-04-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@query("sql_q10_returned_items", oracle=_Q10_SQL)
def sql_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting): customer x orders x
    lineitem x nation, quarter + returnflag filters pushed below the
    joins, per-customer revenue, top-20. nation broadcasts; the
    order/lineitem join shuffles on orderkey; the final top-20 is
    TakeOrderedAndProject (revenue DESC with c_custkey tiebreak so the
    LIMIT cut is deterministic)."""
    return _sql_both(spark, sf_dir, _Q10_SQL)


_Q14_SQL = """
WITH priced AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT)
         * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS dp,
         p_type
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1997-09-01' AND l_shipdate < TIMESTAMP '1997-10-01')
SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN dp ELSE 0 END) AS DOUBLE)
             / CAST(sum(dp) AS DOUBLE), 6) AS promo_revenue_pct
FROM priced
"""


@query("sql_q14_promo_effect", oracle=_Q14_SQL)
def sql_q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): lineitem x part with a one-month
    ship window, conditional-share aggregate. Both engines sum exact
    integer cents-x-basis-points and divide ONCE at the end — the
    ratio of two identical BIGINTs is the same float64 everywhere, so
    round(..., 6) is hash-stable. part joins via shuffle on partkey
    (it outgrows the broadcast threshold at full scale; AQE picks
    broadcast when it fits)."""
    return _sql_both(spark, sf_dir, _Q14_SQL)


_Q18_SQL = """
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, sum_qty
FROM (
  SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(CAST(l_quantity AS BIGINT)) > 180) big
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


@query("sql_q18_large_orders", oracle=_Q18_SQL)
def sql_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): HAVING over a per-order
    quantity rollup, then joined back to orders + customer, top-100 by
    order value (o_orderkey tiebreak keeps the LIMIT deterministic).
    The HAVING aggregate runs BEFORE the joins — the classic
    agg-below-join shape that shrinks the probe side from |lineitem|
    to |qualifying orders| ahead of the shuffle. Quantities are
    integral-valued doubles; summed as BIGINT for exactness."""
    return _sql_both(spark, sf_dir, _Q18_SQL)


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@query(
    "pivot_event_day_matrix",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
           CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
           CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
    FROM events GROUP BY 1
    """,
)
def pivot_event_day_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long -> wide): events per (day x event_type) as one row
    per day with a column per type. The pivot VALUES are declared
    explicitly — with an unknown value set Spark must first run a
    distinct scan to discover columns (two passes over 100 TB); a
    declared set keeps it to one conditional-aggregation shuffle,
    which is also exactly how the oracle expresses it. Missing combos
    coalesce to 0 so wide rows are dense."""
    ev = table(spark, sf_dir, "events")
    wide = (
        ev.groupBy(F.date_trunc("DAY", F.col("ts")).cast("date").alias("day"))
        .pivot("event_type", _EVENT_TYPES)
        .count()
    )
    return wide.select(
        "day", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in _EVENT_TYPES]
    )


@query(
    "unpivot_lineitem_measures",
    oracle="""
    WITH long AS (
      SELECT 'l_quantity' AS measure, l_quantity AS val FROM lineitem
      UNION ALL
      SELECT 'l_extendedprice', l_extendedprice FROM lineitem
      UNION ALL
      SELECT 'l_discount', l_discount FROM lineitem)
    SELECT measure, count(*) AS n, min(val) AS min_val, max(val) AS max_val
    FROM long GROUP BY measure
    """,
)
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide -> long) + profile: three measure columns melt
    into (measure, val) rows — Spark's native `unpivot` (Expand node:
    each input row fans out measure-count times map-side, no shuffle)
    — then a per-measure min/max/count profile. This is the
    column-profiling pass of a data audit expressed as one scan +
    one small shuffle. min/max are exact doubles (no float summation,
    so no accumulation-order hazard)."""
    li = table(spark, sf_dir, "lineitem")
    long = li.unpivot(
        [], ["l_quantity", "l_extendedprice", "l_discount"], "measure", "val"
    )
    return long.groupBy("measure").agg(
        F.count("*").alias("n"),
        F.min("val").alias("min_val"),
        F.max("val").alias("max_val"),
    )


@query(
    "sample_hash_deterministic",
    oracle="""
    SELECT doc_id, lang FROM documents
    WHERE (doc_id * 1103515245 + 12345) % 97 < 10
    """,
)
def sample_hash_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10.3% corpus sample via integer LCG hashing of
    the key: (id * 1103515245 + 12345) mod 97 < 10. rand()-based
    sampling is irreproducible across retries/partitionings — a
    training-data pipeline needs the SAME sample on every run, on any
    engine, under any task retry. Pure int64 arithmetic: bit-exact on
    Spark and DuckDB, pushes down to the scan as a deterministic
    filter, and extends to stratified designs by varying the modulus
    cut per stratum."""
    d = table(spark, sf_dir, "documents")
    return d.where(
        (F.col("doc_id") * F.lit(1103515245) + F.lit(12345)) % 97 < 10
    ).select("doc_id", "lang")


@query(
    "sample_stratified_hash",
    oracle="""
    SELECT doc_id, lang FROM documents
    WHERE (doc_id * 1103515245 + 12345) % 1000 <
          CASE WHEN lang = 'en' THEN 100 ELSE 600 END
    """,
)
def sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum sampling — the pretraining language
    rebalance: downsample the dominant language (en keeps ~10%) while
    keeping ~60% of everything else. Same LCG-hash trick as
    sample_hash_deterministic, but the modulus cut varies per stratum
    via a CASE expression, so it is still a single scan with a
    deterministic row-local predicate: no shuffle, no rand(), stable
    under task retries, pushable to the reader, and the exact same
    sample on every engine and every run. At 100 TB the per-stratum
    rates come from a broadcast-joined config dim instead of a CASE."""
    d = table(spark, sf_dir, "documents")
    cut = F.when(F.col("lang") == "en", 100).otherwise(600)
    return d.where(
        (F.col("doc_id") * F.lit(1103515245) + F.lit(12345)) % 1000 < cut
    ).select("doc_id", "lang")


@query("agg_hll_sketch_merge")
def agg_hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch pattern: per-day HLL sketches of distinct
    users, then a sketch-union rollup — the only way distinct counts
    compose incrementally at 100 TB (exact distinct over a year of
    days re-shuffles the raw keys; sketches merge in bytes). Spark 3.5+
    Datasketches exprs: hll_sketch_agg / hll_union_agg /
    hll_sketch_estimate. No oracle: DuckDB's approx_count_distinct is
    a different HLL implementation — tests/test_sketch.py bounds the
    estimates against exact countDistinct instead (rows-only here).

    Self-checking (round 6): each per-day row carries the exact
    distinct count from the same aggregate and an in-plan
    assert_true(rel_err <= 0.10) — lgK=14 gives ~0.8% rsd, so 10% is a
    collapse detector, not a tolerance; the union-rollup row is
    guarded against the exact global distinct the same way."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.hll_sketch_agg("user_id", 14).alias("sk"),
        F.count_distinct("user_id").alias("exact_users"),
    )
    per_day = daily.select(
        "day", F.hll_sketch_estimate("sk").alias("est_users"), "exact_users"
    )
    total = daily.groupBy().agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users")
    ).select(F.lit(None).cast("timestamp").alias("day"), "est_users")
    exact_total = ev.groupBy().agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    guarded = per_day.unionByName(
        total.crossJoin(F.broadcast(exact_total))
    ).withColumn(
        "rel_err",
        F.round(
            F.abs(F.col("est_users") - F.col("exact_users"))
            / F.col("exact_users"),
            4,
        ),
    )
    return guarded.where(
        F.assert_true(
            F.col("rel_err") <= 0.10,
            F.format_string(
                "HLL sketch collapse: rel_err=%s > 0.10", F.col("rel_err")
            ),
        ).isNull()
    ).select("day", "est_users", "exact_users", "rel_err")


@query(
    "sink_merge_upsert_scd2",
    oracle="""
    WITH batch AS (
      SELECT o_custkey AS c_custkey, max(o_totalprice) AS new_bal
      FROM orders WHERE o_custkey % 7 = 0 GROUP BY o_custkey),
    matched AS (
      SELECT c.c_custkey, c.c_mktsegment, c.c_acctbal, b.new_bal,
             b.c_custkey IS NOT NULL AS has_upd
      FROM customer c LEFT JOIN batch b USING (c_custkey)),
    inserts AS (
      SELECT b.c_custkey + 10000000 AS c_custkey, b.new_bal
      FROM batch b),
    history AS (
      SELECT c_custkey, c_mktsegment, c_acctbal AS acctbal,
             1 AS version, NOT has_upd AS is_current
      FROM matched
      UNION ALL
      SELECT c_custkey, c_mktsegment, new_bal AS acctbal,
             2 AS version, true AS is_current
      FROM matched WHERE has_upd
      UNION ALL
      SELECT c_custkey, NULL AS c_mktsegment, new_bal AS acctbal,
             1 AS version, true AS is_current
      FROM inserts)
    SELECT c_custkey, c_mktsegment, acctbal,
           CAST(version AS INTEGER) AS version, is_current
    FROM history
    """,
)
def sink_merge_upsert_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-with-history (SCD type 2): apply a change batch to the
    customer dimension, closing the old version of every matched key
    (is_current=false), appending the new version, and inserting
    never-seen keys — the lakehouse MERGE INTO pattern expressed as
    one outer join + a union of projections (what Delta/Iceberg MERGE
    compiles to under the hood). The batch here is derived
    deterministically from orders (max o_totalprice per sampled key)
    so the oracle can replay it exactly.

    Scale: one shuffle on the merge key for the join; the history
    union is projection-only. At 100 TB the dim side is bucketed on
    c_custkey so repeated nightly merges never reshuffle the big
    table, and the rewrite touches only matched-partition files
    (copy-on-write)."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    batch = (
        orders.where(F.col("o_custkey") % 7 == 0)
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.max("o_totalprice").alias("new_bal"))
    )
    matched = cust.select("c_custkey", "c_mktsegment", "c_acctbal").join(
        batch, "c_custkey", "left"
    ).withColumn("has_upd", F.col("new_bal").isNotNull())
    closed_or_current = matched.select(
        "c_custkey",
        "c_mktsegment",
        F.col("c_acctbal").alias("acctbal"),
        F.lit(1).alias("version"),
        (~F.col("has_upd")).alias("is_current"),
    )
    new_versions = matched.where("has_upd").select(
        "c_custkey",
        "c_mktsegment",
        F.col("new_bal").alias("acctbal"),
        F.lit(2).alias("version"),
        F.lit(True).alias("is_current"),
    )
    inserts = batch.select(
        (F.col("c_custkey") + 10000000).alias("c_custkey"),
        F.lit(None).cast("string").alias("c_mktsegment"),
        F.col("new_bal").alias("acctbal"),
        F.lit(1).alias("version"),
        F.lit(True).alias("is_current"),
    )
    return closed_or_current.unionByName(new_versions).unionByName(inserts)


@query(
    "maintenance_table_stats",
    oracle="""
    SELECT 'l_quantity' AS col, CAST(count(l_quantity) AS BIGINT) AS n,
           CAST(count(*) - count(l_quantity) AS BIGINT) AS nulls,
           CAST(count(DISTINCT l_quantity) AS BIGINT) AS ndv,
           CAST(min(l_quantity) AS DOUBLE) AS min_v,
           CAST(max(l_quantity) AS DOUBLE) AS max_v
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice', CAST(count(l_extendedprice) AS BIGINT),
           CAST(count(*) - count(l_extendedprice) AS BIGINT),
           CAST(count(DISTINCT l_extendedprice) AS BIGINT),
           CAST(min(l_extendedprice) AS DOUBLE),
           CAST(max(l_extendedprice) AS DOUBLE)
    FROM lineitem
    UNION ALL
    SELECT 'l_discount', CAST(count(l_discount) AS BIGINT),
           CAST(count(*) - count(l_discount) AS BIGINT),
           CAST(count(DISTINCT l_discount) AS BIGINT),
           CAST(min(l_discount) AS DOUBLE),
           CAST(max(l_discount) AS DOUBLE)
    FROM lineitem
    """,
)
def maintenance_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE — per-column statistics (non-null count, null
    count, exact NDV, min, max) for the optimizer's cost model and for
    data-quality monitoring. One scan computes all columns' stats
    simultaneously (Spark plans multi-distinct via a single expand),
    then a stack() unpivot emits one row per column. At 100 TB exact
    NDV becomes approx_count_distinct / an HLL sketch per column
    (agg_hll_sketch_merge is the mergeable path); min/max/null counts
    stay exact map-side partials."""
    li = table(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    agg = li.agg(
        F.count("*").alias("n_rows"),
        *[F.count(c).alias(f"n_{c}") for c in cols],
        *[F.countDistinct(c).alias(f"ndv_{c}") for c in cols],
        *[F.min(c).cast("double").alias(f"min_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"max_{c}") for c in cols],
    )
    stacked = ", ".join(
        f"'{c}', n_{c}, n_rows - n_{c}, ndv_{c}, min_{c}, max_{c}" for c in cols
    )
    return agg.selectExpr(
        f"stack({len(cols)}, {stacked}) AS (col, n, nulls, ndv, min_v, max_v)"
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT r_name, c_mktsegment,
           CAST(GROUPING(r_name) AS INTEGER) AS g_region,
           CAST(GROUPING(c_mktsegment) AS INTEGER) AS g_segment,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS rev,
           count(*) AS n_orders
    FROM region
      JOIN nation ON n_regionkey = r_regionkey
      JOIN customer ON c_nationkey = n_nationkey
      JOIN orders ON o_custkey = c_custkey
    GROUP BY GROUPING SETS ((r_name, c_mktsegment), (r_name), (c_mktsegment), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the general form behind ROLLUP/CUBE:
    region×segment detail, each one-dimension margin, and the grand
    total in ONE aggregation pass (Spark's Expand operator replicates
    each input row once per set, then a single hash aggregate —
    cheaper than 4 separate scans + union at any scale). grouping()
    flags disambiguate genuine NULL keys from subtotal rows. Through
    the SQL front-end, exactly as a migrating user would write it."""
    for t in ("region", "nation", "customer", "orders"):
        table(spark, sf_dir, t).createOrReplaceTempView(f"_gs_{t}")
    return spark.sql("""
        SELECT r_name, c_mktsegment,
               CAST(grouping(r_name) AS INT) AS g_region,
               CAST(grouping(c_mktsegment) AS INT) AS g_segment,
               round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS rev,
               count(*) AS n_orders
        FROM _gs_region
          JOIN _gs_nation ON n_regionkey = r_regionkey
          JOIN _gs_customer ON c_nationkey = n_nationkey
          JOIN _gs_orders ON o_custkey = c_custkey
        GROUP BY GROUPING SETS ((r_name, c_mktsegment), (r_name), (c_mktsegment), ())
    """)


@query(
    "agg_approx_percentile",
    # GK summaries are EXACT while a group fits the uncompressed buffer
    # (accuracy=50000 > any sf0.1 group — sf0.01 groups were covered by
    # 10000, but the sf0.1 sweep caught the drift once groups passed the
    # buffer), and percentile_approx picks actual data values like
    # DuckDB quantile_disc -> full oracle at both checked scales; at
    # 100 TB the op is deliberately approximate.
    oracle="""
    SELECT event_type,
           round(quantile_disc(value, 0.5), 6) AS p50,
           round(quantile_disc(value, 0.9), 6) AS p90,
           round(quantile_disc(value, 0.99), 6) AS p99
    FROM events GROUP BY event_type
    """,
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles per group via Greenwald-Khanna sketches
    (percentile_approx): mergeable partial state, one pass, bounded
    memory — the ONLY way p99s compose over 100 TB (exact percentile
    ships every raw value through the shuffle; the sketch ships a
    compressed summary). Complements agg_percentiles (the exact
    small-group path)."""
    ev = table(spark, sf_dir, "events")
    q = F.percentile_approx("value", [0.5, 0.9, 0.99], 50000)
    return ev.groupBy("event_type").agg(
        F.round(F.element_at(q, 1), 6).alias("p50"),
        F.round(F.element_at(q, 2), 6).alias("p90"),
        F.round(F.element_at(q, 3), 6).alias("p99"),
    )


@query(
    "join_asof_forward_attribution",
    oracle="""
    SELECT user_id, click_id, purchase_id, purchase_ts FROM (
      SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
             p.ts AS purchase_ts,
             row_number() OVER (PARTITION BY c.event_id
                                ORDER BY p.ts, p.event_id) AS rn
      FROM events c JOIN events p
        ON c.user_id = p.user_id AND p.ts >= c.ts
      WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    ) t WHERE rn = 1
    """,
)
def join_asof_forward_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join — conversion attribution: for every click,
    the FIRST purchase by the same user at-or-after it. Same
    union-sort-merge shape as join_asof_last_event but scanning
    forward: one shuffle on user_id, per-partition sort, and a
    running ``first(purchase, ignorenulls)`` over
    (currentRow, unboundedFollowing). Still strictly linear in events
    per user — the two directions together show the pattern
    generalizes to any as-of variant (backward/forward, last/first)
    without ever materializing per-user pair fan-out. Clicks sort
    before purchases on equal ts (kind 0 < 1) so a same-instant
    purchase is visible to its click (oracle's ``p.ts >= c.ts``);
    earliest-purchase ties break on event_id."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    tagged = ev.where(F.col("event_type").isin("click", "purchase")).select(
        "user_id",
        "ts",
        "event_id",
        (F.col("event_type") == "purchase").cast("int").alias("kind"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    purchase_id = F.when(F.col("kind") == 1, F.col("event_id"))
    purchase_ts = F.when(F.col("kind") == 1, F.col("ts"))
    run = tagged.select(
        "user_id",
        "event_id",
        "kind",
        F.first(purchase_id, ignorenulls=True).over(w).alias("purchase_id"),
        F.first(purchase_ts, ignorenulls=True).over(w).alias("purchase_ts"),
    )
    return run.where((F.col("kind") == 0) & F.col("purchase_id").isNotNull()).select(
        "user_id",
        F.col("event_id").alias("click_id"),
        "purchase_id",
        "purchase_ts",
    )


@query(
    "agg_bitmap_distinct",
    oracle="""
    SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct-count via packed bitmaps (the ClickHouse/Doris
    bitmap-aggregate pattern): dense integer ids are sliced into 64-id
    chunks (chunk = id >> 6), each chunk reduces to ONE int64 word via
    bit_or(1 << (id & 63)), and the distinct count is sum(bit_count).

    Why at 100 TB: count(DISTINCT) shuffles every distinct value;
    approx_count_distinct is cheap but approximate. The bitmap path
    shuffles at most (groups x id_space/64) words — for a 1B-user id
    space that is 16M words per group instead of up to 1B ids — and
    stays exact. Both aggregations are partial+final hash aggs
    (map-side combine), and the bitmap words themselves are the only
    shuffled payload."""
    ev = table(spark, sf_dir, "events")
    chunks = ev.groupBy(
        "event_type", F.shiftright("user_id", 6).alias("chunk")
    ).agg(
        F.bit_or(
            F.expr("shiftleft(1L, CAST(user_id & 63 AS INT))")
        ).alias("bits")
    )
    return chunks.groupBy("event_type").agg(
        F.sum(F.bit_count("bits")).alias("n_users")
    )


@query(
    "join_asof_nearest",
    # delta ties break toward the FORWARD (future) purchase; within a
    # (delta, side) tie the forward side takes the smallest event_id
    # and the backward side the largest — exactly the picks the two
    # running-window passes make, so the contract is deterministic on
    # both engines. Same-delta-different-ts is impossible (delta fixes
    # ts given the side), so only event_id needs the per-side ordering.
    oracle="""
    SELECT user_id, click_id, purchase_id, delta_us FROM (
      SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
             abs(epoch_us(p.ts) - epoch_us(c.ts)) AS delta_us,
             row_number() OVER (
               PARTITION BY c.event_id
               ORDER BY abs(epoch_us(p.ts) - epoch_us(c.ts)),
                        CASE WHEN p.ts >= c.ts THEN 0 ELSE 1 END,
                        CASE WHEN p.ts >= c.ts THEN p.event_id
                             ELSE -p.event_id END) AS rn
      FROM events c JOIN events p ON c.user_id = p.user_id
      WHERE c.event_type = 'click' AND p.event_type = 'purchase') t
    WHERE rn = 1
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor as-of join (both directions): for every click,
    the same user's purchase with the smallest |Δt|, past or future —
    the attribution variant when causality is unknown (e.g. matching
    telemetry to the closest heartbeat).

    Completes the as-of family (join_asof_last_event backward,
    join_asof_forward_attribution forward) with the SAME linear
    union-sort-merge shape: ONE shuffle on user_id, one per-partition
    sort, and BOTH a running last(ignorenulls) (preceding frame) and a
    running first(ignorenulls) (following frame) over the same sort —
    Catalyst plans the two Window nodes over a single Exchange+Sort.
    Never a per-user pair fan-out; strictly linear in events per user
    where the naive range join is quadratic."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    tagged = ev.where(F.col("event_type").isin("click", "purchase")).select(
        "user_id",
        "ts",
        "event_id",
        (F.col("event_type") == "purchase").cast("int").alias("kind"),
    )
    order = [F.col("ts"), F.col("kind"), F.col("event_id")]
    wb = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    p_id = F.when(F.col("kind") == 1, F.col("event_id"))
    p_us = F.when(F.col("kind") == 1, F.unix_micros("ts"))
    run = tagged.select(
        "user_id",
        "ts",
        "event_id",
        "kind",
        F.last(p_id, ignorenulls=True).over(wb).alias("b_id"),
        F.last(p_us, ignorenulls=True).over(wb).alias("b_us"),
        F.first(p_id, ignorenulls=True).over(wf).alias("f_id"),
        F.first(p_us, ignorenulls=True).over(wf).alias("f_us"),
    )
    clicks = run.where(F.col("kind") == 0)
    c_us = F.unix_micros("ts")
    delta_b = c_us - F.col("b_us")
    delta_f = F.col("f_us") - c_us
    forward_wins = F.col("f_us").isNotNull() & (
        F.col("b_us").isNull() | (delta_f <= delta_b)
    )
    return clicks.where(
        F.col("b_us").isNotNull() | F.col("f_us").isNotNull()
    ).select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.when(forward_wins, F.col("f_id")).otherwise(F.col("b_id")).alias(
            "purchase_id"
        ),
        F.when(forward_wins, delta_f).otherwise(delta_b).alias("delta_us"),
    )


@query(
    "agg_exact_quantile_2pass",
    # the discrete rank is pinned explicitly on BOTH sides (value at
    # 1-based rank ceil(q*n) ascending) instead of leaning on either
    # engine's quantile_disc convention; row_number ties are harmless
    # because equal values share a rank-window and the SELECTED VALUE
    # at rank k is invariant under tie permutation
    oracle="""
    WITH ranked AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events)
    SELECT event_type,
           round(max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN value END), 6) AS p50,
           round(max(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN value END), 6) AS p90,
           round(max(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN value END), 6) AS p99
    FROM ranked GROUP BY event_type
    """,
)
def agg_exact_quantile_2pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT quantiles at scale without a global sort — the 2-pass
    bucket-select discipline: (1) one histogram pass over fixed-width
    value buckets (a plain partial+final hash agg), a cumulative-count
    window over the TINY per-group histogram locates the bucket holding
    each target rank; (2) one filtered re-scan sorts ONLY the target
    buckets (~1/256 of each group) and row_number picks the exact order
    statistic. Complements agg_percentiles (exact via full sort, small
    groups) and agg_approx_percentile (GK sketch, one pass, bounded
    error): this is how you get EXACT p99s over 100 TB — the only
    full-data operations are two scans and a histogram-sized shuffle,
    never a sort of the raw values.

    Rank convention: value at 1-based rank ceil(q*n) ascending — pinned
    identically in the oracle's window formulation."""
    ev = table(spark, sf_dir, "events").select("event_type", "value")
    B = 256
    stats = ev.groupBy("event_type").agg(
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
        F.count("*").alias("n"),
    )
    span = F.greatest(F.col("vmax") - F.col("vmin"), F.lit(1e-12))
    bucketed = ev.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "value",
        F.least(
            F.lit(B - 1),
            F.floor((F.col("value") - F.col("vmin")) / span * B).cast("int"),
        ).alias("bucket"),
    )
    hist = bucketed.groupBy("event_type", "bucket").agg(
        F.count("*").alias("bcount")
    )
    from pyspark.sql import Window

    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = hist.withColumn(
        "cum_before", F.coalesce(F.sum("bcount").over(w_cum), F.lit(0))
    )
    targets = stats.select(
        "event_type",
        "n",
        F.explode(F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99))).alias("q"),
    ).withColumn("r", F.ceil(F.col("q") * F.col("n")).cast("bigint"))
    loc = targets.join(cum, "event_type").where(
        (F.col("cum_before") < F.col("r"))
        & (F.col("r") <= F.col("cum_before") + F.col("bcount"))
    ).select(
        "event_type", "q", "bucket", (F.col("r") - F.col("cum_before")).alias("k")
    )
    cand = bucketed.join(F.broadcast(loc), ["event_type", "bucket"])
    w_sel = Window.partitionBy("event_type", "q").orderBy("value")
    picked = cand.withColumn("rn", F.row_number().over(w_sel)).where(
        F.col("rn") == F.col("k")
    )
    return picked.groupBy("event_type").agg(
        F.round(F.max(F.when(F.col("q") == 0.5, F.col("value"))), 6).alias("p50"),
        F.round(F.max(F.when(F.col("q") == 0.9, F.col("value"))), 6).alias("p90"),
        F.round(F.max(F.when(F.col("q") == 0.99, F.col("value"))), 6).alias("p99"),
    )


@query(
    "agg_histogram_equi_width",
    oracle="""
    WITH stats AS (
      SELECT event_type, min(value) AS vmin, max(value) AS vmax
      FROM events GROUP BY event_type),
    b AS (
      SELECT e.event_type,
             CAST(least(15, floor((e.value - s.vmin)
                  / greatest(s.vmax - s.vmin, 1e-12) * 16)) AS INTEGER) AS bucket,
             s.vmin, s.vmax
      FROM events e JOIN stats s ON e.event_type = s.event_type)
    SELECT event_type, bucket,
           round(vmin + bucket * (vmax - vmin) / 16, 6) AS bucket_lo,
           round(vmin + (bucket + 1) * (vmax - vmin) / 16, 6) AS bucket_hi,
           CAST(count(*) AS BIGINT) AS cnt
    FROM b GROUP BY event_type, bucket, vmin, vmax
    """,
)
def agg_histogram_equi_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width value histogram per group (16 buckets over each
    group's [min, max]) — the profiling primitive behind CBO column
    stats, data cards, and the 2-pass exact quantile's first pass,
    declared as its own op. Two hash aggregations (min/max, then
    bucket counts) with the tiny stats side broadcast; the value
    column crosses the wire once as a bucket id. Bucket bounds are
    derived with the same arithmetic on both engines, so even the
    float edges hash-match."""
    ev = table(spark, sf_dir, "events").select("event_type", "value")
    B = 16
    stats = ev.groupBy("event_type").agg(
        F.min("value").alias("vmin"), F.max("value").alias("vmax")
    )
    span = F.greatest(F.col("vmax") - F.col("vmin"), F.lit(1e-12))
    b = ev.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "vmin",
        "vmax",
        F.least(
            F.lit(B - 1),
            F.floor((F.col("value") - F.col("vmin")) / span * B),
        ).cast("int").alias("bucket"),
    )
    # Edge arithmetic mirrors the oracle's fold order EXACTLY
    # (bucket * span, then / 16) — precomputing span/16 as a width
    # rounds differently and can diverge at a round(.,6) half-way point.
    span_raw = F.col("vmax") - F.col("vmin")
    return b.groupBy("event_type", "bucket", "vmin", "vmax").agg(
        F.count("*").alias("cnt")
    ).select(
        "event_type",
        "bucket",
        F.round(F.col("vmin") + F.col("bucket") * span_raw / B, 6).alias("bucket_lo"),
        F.round(
            F.col("vmin") + (F.col("bucket") + 1) * span_raw / B, 6
        ).alias("bucket_hi"),
        "cnt",
    )


@query(
    "agg_moments_stats",
    oracle="""
    SELECT event_type,
           round(avg(value), 6) AS mean_v,
           round(var_samp(value), 6) AS var_v,
           round(stddev_samp(value), 6) AS std_v,
           round(var_pop(value), 6) AS varp_v,
           round(covar_samp(value, CAST(user_id AS DOUBLE)), 6) AS cov_vu,
           round(corr(value, CAST(user_id AS DOUBLE)), 6) AS corr_vu
    FROM events GROUP BY event_type
    """,
)
def agg_moments_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical moments per group: sample/population variance,
    stddev, covariance, and correlation — all mergeable one-pass
    aggregates (Welford/Chan partial states combine map-side exactly
    like sum/count), which is why they belong in any 100 TB profiling
    surface: one shuffle of O(groups) summaries, never a second
    centering pass. Both engines implement the textbook two-moment
    formulas; round(6) absorbs the last-ulp association differences."""
    ev = table(spark, sf_dir, "events")
    u = F.col("user_id").cast("double")
    return ev.groupBy("event_type").agg(
        F.round(F.avg("value"), 6).alias("mean_v"),
        F.round(F.var_samp("value"), 6).alias("var_v"),
        F.round(F.stddev_samp("value"), 6).alias("std_v"),
        F.round(F.var_pop("value"), 6).alias("varp_v"),
        F.round(F.covar_samp(F.col("value"), u), 6).alias("cov_vu"),
        F.round(F.corr(F.col("value"), u), 6).alias("corr_vu"),
    )


# --- round-6 additions -------------------------------------------------

# (row, multiplier, offset) for the 4 CMS hash rows — small odd primes;
# every intermediate stays < 2^63 for token codes < 1e6
_CMS_HASHES = [(0, 131, 17), (1, 137, 29), (2, 139, 47), (3, 149, 71)]
_CMS_W = 64


@query(
    "agg_count_min_sketch",
    oracle=f"""
    WITH tc AS (
      SELECT t, list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(t, ''),
                              c -> CAST(ascii(c) AS BIGINT))),
             (h, c) -> (h * 31 + c) % 1000003) AS code
      FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents) z),
    hashes(r, a, b) AS (VALUES {', '.join(f'({r}, {a}, {b})' for r, a, b in _CMS_HASHES)}),
    cms AS (
      SELECT r, ((code * a + b) % 1000000007) % {_CMS_W} AS bucket,
             count(*) AS c
      FROM tc CROSS JOIN hashes GROUP BY 1, 2),
    exact AS (SELECT t, code, count(*) AS exact_cnt FROM tc GROUP BY 1, 2),
    probes AS (SELECT * FROM exact ORDER BY exact_cnt DESC, t LIMIT 20)
    SELECT p.t AS token, CAST(p.exact_cnt AS BIGINT) AS exact_cnt,
           CAST(min(cms.c) AS BIGINT) AS cms_cnt
    FROM probes p CROSS JOIN hashes h
    JOIN cms ON cms.r = h.r
            AND cms.bucket = ((p.code * h.a + h.b) % 1000000007) % {_CMS_W}
    GROUP BY 1, 2
    """,
)
def agg_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the token stream (Cormode-Muthukrishnan):
    4 hash rows x 64 counters built with ONE groupBy over the exploded
    tokens, point estimates = min over rows of the probed counters.
    Emitted for the exact top-20 tokens next to their exact counts, so
    the driver hash pins both the sketch arithmetic and the
    one-sided-error property; `assert_true(cms_cnt >= exact_cnt)` is
    folded into the plan — the CMS overestimate GUARANTEE (every
    occurrence increments its counters) becomes a runtime invariant a
    broken hash row would trip.

    Why this is the 100 TB frequency sketch: the 4x64 counter table is
    ADDITIVE — per-partition partial sketches merge by cell-wise sum
    (exactly what the groupBy's partial aggregation does), so the full
    corpus distills to 256 integers regardless of vocabulary size;
    probes are a broadcast join against that tiny table. Token codes
    use the repo's standard char-fold fingerprint (identical integer
    arithmetic in the oracle — a collision changes both engines the
    same way). Width 64 is deliberately small so overestimates actually
    occur at fixture scale and the min-of-rows logic is exercised, not
    vacuous."""
    d = table(spark, sf_dir, "documents")
    tc = d.select(F.explode(F.split("text", " ")).alias("t")).select(
        "t",
        F.expr(
            "aggregate(split(t, ''), CAST(0 AS BIGINT), "
            "(h, c) -> (h * 31 + ascii(c)) % 1000003)"
        ).alias("code"),
    )
    buckets = F.array(
        *[
            F.expr(f"((code * {a} + {b}) % 1000000007) % {_CMS_W}")
            for _, a, b in _CMS_HASHES
        ]
    )
    cms = (
        tc.select(F.posexplode(buckets).alias("r", "bucket"))
        .groupBy("r", "bucket")
        .agg(F.count("*").alias("c"))
    )
    exact = tc.groupBy("t", "code").agg(F.count("*").alias("exact_cnt"))
    # top-20 probes via orderBy+limit (TakeOrderedAndProject) — a
    # global row_number window here would single-partition-sort the
    # whole vocabulary at scale
    probes = exact.orderBy(F.col("exact_cnt").desc(), "t").limit(20)
    est = (
        probes.select("t", "exact_cnt", F.posexplode(buckets).alias("r", "bucket"))
        .join(F.broadcast(cms), ["r", "bucket"])
        .groupBy("t", "exact_cnt")
        .agg(F.min("c").alias("cms_cnt"))
    )
    return (
        est.where(
            F.assert_true(
                F.col("cms_cnt") >= F.col("exact_cnt"),
                F.lit("CMS one-sided-error violation: estimate below exact"),
            ).isNull()
        )
        .select(
            F.col("t").alias("token"),
            F.col("exact_cnt").cast("bigint").alias("exact_cnt"),
            F.col("cms_cnt").cast("bigint").alias("cms_cnt"),
        )
    )


@query(
    "sample_weighted_reservoir",
    oracle="""
    WITH k AS (
      SELECT doc_id, n_chars,
             pow(((doc_id * 2654435761) % 2147483647 + 0.5) / 2147483647.0,
                 1.0 / n_chars) AS key
      FROM documents)
    SELECT CAST(row_number() OVER (ORDER BY key DESC, doc_id) AS BIGINT)
             AS rank,
           doc_id, n_chars
    FROM k ORDER BY key DESC, doc_id LIMIT 50
    """,
)
def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, Efraimidis-Spirakis
    A-Res: each row draws key = u^(1/w) (here w = n_chars, the
    quality/length weight a pretraining mixer samples by) and the top-k
    keys ARE a weighted sample without replacement — the distributed
    formulation of weighted reservoir sampling, since top-k needs no
    sequential reservoir state: per-partition partial top-k then one
    tiny merge (TakeOrderedAndProject), identical to topk_global's
    plan shape at any scale.

    Determinism for the oracle: u is a hash-uniform in (0,1) derived
    from doc_id by a Knuth multiplicative hash mod 2^31-1 — identical
    integer arithmetic on both engines, then one pow() whose cross-
    engine float error (<=1 ulp) is ~11 orders of magnitude below the
    observed inter-key gaps, so the ranking is stable. Output carries
    only integers (rank, doc_id, n_chars) — the float key never leaves
    the plan."""
    d = table(spark, sf_dir, "documents")
    key = F.expr(
        "pow(((doc_id * 2654435761) % 2147483647 + 0.5) / 2147483647.0, "
        "1.0 / n_chars)"
    )
    from pyspark.sql import Window

    # top-k FIRST via orderBy+limit (plans as TakeOrderedAndProject —
    # per-partition partial top-k, no global sort), THEN rank the 50
    # survivors with a window that is trivially single-partition
    top = (
        d.select("doc_id", "n_chars", key.alias("key"))
        .orderBy(F.col("key").desc(), "doc_id")
        .limit(50)
    )
    w = Window.orderBy(F.col("key").desc(), "doc_id")
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select(F.col("rank").cast("bigint").alias("rank"), "doc_id", "n_chars")
    )


@query(
    "join_interval_overlap",
    oracle="""
    WITH iv AS (
      SELECT event_type, event_id, epoch_us(ts) AS s FROM events)
    SELECT a.event_type, CAST(count(*) AS BIGINT) AS n_overlaps
    FROM iv a JOIN iv b
      ON a.event_type = b.event_type AND a.event_id < b.event_id
     AND b.s > a.s - 300000000 AND b.s < a.s + 300000000
    GROUP BY a.event_type
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL OVERLAP join, bucket-replicated: count pairs of events
    of the same type whose 300 s activity intervals [ts, ts+300s)
    overlap — the canonical temporal-join primitive (co-occurring
    sessions, conflicting jobs, concurrent requests) whose naive form
    is a per-type theta join (quadratic).

    The scalable shape: floor each interval start to a 300 s epoch
    bucket; because every interval is exactly one bucket long, an
    overlapping pair's buckets differ by at most 1, so REPLICATING each
    interval to (bucket, bucket+1) and equi-joining on
    (event_type, tag) finds every overlapping pair — and the ownership
    rule `tag = greatest(bucket_a, bucket_b)` counts each pair EXACTLY
    once (pairs in the same bucket match two tags; only the lower one
    owns). One 2x-replicated shuffle on (type, time-bucket), residual
    |s_a - s_b| < 300s predicate map-side; per-bucket fan-out is
    bounded by the arrival rate per 300 s, never by corpus size. The
    oracle states the same semantics as a direct range join (DuckDB's
    IEJoin handles it at fixture scale)."""
    W_US = 300_000_000
    ev = table(spark, sf_dir, "events").select(
        "event_type", "event_id", F.unix_micros("ts").alias("s")
    )
    # epoch micros are non-negative, so truncating div == floor
    tagged = ev.select(
        "event_type",
        "event_id",
        "s",
        F.expr(f"s div {W_US}").alias("bucket"),
    )
    tagged = tagged.select(
        "event_type",
        "event_id",
        "s",
        "bucket",
        F.explode(F.array(F.col("bucket"), F.col("bucket") + 1)).alias("tag"),
    )
    a = tagged.select(
        F.col("event_type").alias("et"),
        F.col("event_id").alias("id_a"),
        F.col("s").alias("s_a"),
        F.col("bucket").alias("bucket_a"),
        "tag",
    )
    b = tagged.select(
        F.col("event_type").alias("et_b"),
        F.col("event_id").alias("id_b"),
        F.col("s").alias("s_b"),
        F.col("bucket").alias("bucket_b"),
        F.col("tag").alias("tag_b"),
    )
    pairs = a.join(
        b,
        (F.col("et") == F.col("et_b")) & (F.col("tag") == F.col("tag_b")),
    ).where(
        (F.col("id_a") < F.col("id_b"))
        & (F.abs(F.col("s_a") - F.col("s_b")) < W_US)
        & (F.col("tag") == F.greatest("bucket_a", "bucket_b"))
    )
    return pairs.groupBy(F.col("et").alias("event_type")).agg(
        F.count("*").cast("bigint").alias("n_overlaps")
    )


@query(
    "agg_log2_histogram",
    oracle="""
    WITH c AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
    SELECT CAST(length(bin(cents)) - 1 AS INTEGER) AS bucket,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(min(cents) AS BIGINT) AS min_cents,
           CAST(max(cents) AS BIGINT) AS max_cents
    FROM c GROUP BY 1
    """,
)
def agg_log2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOG2-BUCKETED (HDR-style) histogram of order value — the
    long-tail companion to agg_histogram_equi_width: equi-width buckets
    starve the tail a latency/price distribution lives in, power-of-two
    buckets give constant relative error at every magnitude (the
    HdrHistogram/ddsketch bucketing idea in its simplest exact form).

    Parity discipline: the bucket index is floor(log2(cents)) computed
    as length(bin(cents)) - 1 — pure INTEGER/string arithmetic on both
    engines, because float log2 at exact powers of two is a cross-libm
    coin flip. One partial+final hash aggregate over ~40 buckets; at
    100 TB the map-side combine reduces each partition to the bucket
    count first, so the shuffle carries buckets, not rows."""
    o = table(spark, sf_dir, "orders")
    c = o.select(cents("o_totalprice").alias("cents"))
    return (
        c.groupBy(
            (F.length(F.bin("cents")) - 1).cast("int").alias("bucket")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.min("cents").cast("bigint").alias("min_cents"),
            F.max("cents").cast("bigint").alias("max_cents"),
        )
    )


@query(
    "agg_sessionize_batch",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    numbered AS (
      SELECT user_id, event_id, ts,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_no
      FROM flagged)
    SELECT user_id, CAST(sess_no AS BIGINT) AS sess_no,
           CAST(count(*) AS BIGINT) AS n_events,
           min(ts) AS session_start,
           CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS BIGINT)
             AS duration_us
    FROM numbered GROUP BY user_id, sess_no
    """,
)
def agg_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch gap-based SESSIONIZATION — the canonical event-analytics
    transform (stream_session_window is its Structured Streaming twin;
    this is the backfill/batch shape): a new session starts where the
    gap to the previous event exceeds 30 min, session ids are the
    running sum of the new-session flags, then session-level stats
    (event count, start, exact integer-microsecond duration).

    Scale shape: the lag window, the running sum, AND the final
    (user_id, sess_no) aggregate all ride ONE hash exchange on
    user_id — HashPartitioning(user_id) satisfies the clustered
    distribution of the superset grouping key, so Catalyst plans no
    second shuffle (pinned in test_plans). At 100 TB sessionization is
    scan + one shuffle, which is the optimal shape."""
    ev = table(spark, sf_dir, "events")
    from pyspark.sql import Window

    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag("ts").over(wo)
    gap = F.unix_micros("ts") - F.unix_micros(prev)
    flagged = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.when(prev.isNull() | (gap > 1800 * 1_000_000), 1)
        .otherwise(0)
        .alias("new_sess"),
    )
    numbered = flagged.select(
        "user_id", "ts", F.sum("new_sess").over(run).alias("sess_no")
    )
    return numbered.groupBy("user_id", "sess_no").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.min("ts").alias("session_start"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
        .cast("bigint")
        .alias("duration_us"),
    ).select(
        "user_id",
        F.col("sess_no").cast("bigint").alias("sess_no"),
        "n_events",
        "session_start",
        "duration_us",
    )


@query(
    "win_retention_cohort",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
    first AS (
      SELECT user_id, min(d) AS cohort_date FROM ud GROUP BY user_id)
    SELECT f.cohort_date,
           CAST(datediff('day', f.cohort_date, u.d) AS INTEGER) AS offset_days,
           CAST(count(DISTINCT u.user_id) AS BIGINT) AS n_users
    FROM ud u JOIN first f USING (user_id)
    GROUP BY 1, 2
    """,
)
def win_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHORT RETENTION matrix — users grouped by first-active date,
    counted on each later active day (the growth-analytics staple next
    to the funnel ops): n_users at (cohort_date, offset_days) is how
    many of that cohort came back exactly that many days later.

    Shape: distinct (user, day) first — collapsing events to active
    days BEFORE any join bounds every later stage by users x days, not
    by raw event volume; the first-seen aggregate shuffles on user_id
    and the activity stream joins back on the same key (one shuffle
    each), then the cohort-cell aggregate is a count-distinct over the
    (cohort, offset) grid. At 100 TB the distinct-day collapse is the
    step that makes this tractable — everything downstream is
    user-day-bounded."""
    ev = table(spark, sf_dir, "events")
    ud = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    first = ud.groupBy("user_id").agg(F.min("d").alias("cohort_date"))
    return (
        ud.join(first, "user_id")
        .groupBy(
            "cohort_date",
            F.datediff("d", "cohort_date").cast("int").alias("offset_days"),
        )
        .agg(F.count_distinct("user_id").cast("bigint").alias("n_users"))
    )


@query(
    "join_fuzzy_name_match",
    oracle="""
    SELECT a.s_suppkey AS key_a, b.s_suppkey AS key_b,
           CAST(levenshtein(a.s_name, b.s_name) AS INTEGER) AS lev
    FROM supplier a JOIN supplier b
      ON a.s_suppkey < b.s_suppkey
     AND length(a.s_name) = length(b.s_name)
     AND levenshtein(a.s_name, b.s_name) <= 1
    """,
)
def join_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY ENTITY MATCH at substitution distance <= 1 — the
    spell-variant / typo-pair detector of entity resolution, via the
    classic WILDCARD-NEIGHBORHOOD blocking: every name emits L
    variants with one position masked, and two equal-length names are
    hamming-1 iff they agree on a masked variant at the same position
    — so an equi-join on (length, position, variant) finds every
    qualifying pair with zero false negatives and NO quadratic block
    join (the direct pairwise levenshtein the oracle states is O(n^2)
    per block; the neighborhood join shuffles O(n*L) rows). The
    residual levenshtein <= 1 predicate is evaluated only on
    candidates, in the JVM (F.levenshtein), keeping parity with the
    oracle's scoring.

    Insertion/deletion variants (cross-length distance-1) are OUT of
    this op's semantics — the oracle's length-equality predicate pins
    that; the delete-one-character neighborhood is the standard
    extension when they are wanted."""
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    variants = s.select(
        "s_suppkey",
        "s_name",
        F.length("s_name").alias("ln"),
        F.posexplode(
            F.expr(
                "transform(sequence(1, length(s_name)), "
                "i -> concat(substring(s_name, 1, i - 1), '*', "
                "substring(s_name, i + 1, length(s_name) - i)))"
            )
        ).alias("pos", "variant"),
    )
    a = variants.select(
        F.col("s_suppkey").alias("key_a"),
        F.col("s_name").alias("name_a"),
        "ln",
        "pos",
        "variant",
    )
    b = variants.select(
        F.col("s_suppkey").alias("key_b"),
        F.col("s_name").alias("name_b"),
        F.col("ln").alias("ln_b"),
        F.col("pos").alias("pos_b"),
        F.col("variant").alias("variant_b"),
    )
    return (
        a.join(
            b,
            (F.col("variant") == F.col("variant_b"))
            & (F.col("ln") == F.col("ln_b"))
            & (F.col("pos") == F.col("pos_b"))
            & (F.col("key_a") < F.col("key_b")),
        )
        .select(
            "key_a",
            "key_b",
            F.levenshtein("name_a", "name_b").cast("int").alias("lev"),
        )
        .where(F.col("lev") <= 1)
    )


@query(
    "maintenance_partition_skew_report",
    oracle="""
    WITH p AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(32 + length(props)) AS BIGINT) AS est_bytes
      FROM events GROUP BY 1, 2),
    t AS (
      SELECT CAST(count(*) AS BIGINT) AS n_parts,
             CAST(sum(n_rows) AS BIGINT) AS total_rows
      FROM p)
    SELECT event_type, day, n_rows, est_bytes,
           CAST((est_bytes + 134217727) // 134217728 AS BIGINT)
             AS files_128mb,
           round(CAST(n_rows AS DOUBLE) * n_parts / total_rows, 6)
             AS skew_ratio,
           n_rows * n_parts > 2 * total_rows AS is_skewed
    FROM p CROSS JOIN t
    """,
)
def maintenance_partition_skew_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PARTITION-SKEW AUDIT for a proposed hive-partitioned write —
    the planning step before `PARTITIONED BY (event_type, day)` at
    100 TB: per partition spec, the row count, an estimated byte size
    (fixed row overhead + payload length — scan-side, no second
    pass), the 128 MB-target file count the writer should coalesce
    to, each partition's size relative to the mean (skew_ratio), and
    a flag for partitions > 2x the mean — the ones that need AQE skew
    handling or a salted sub-key. sink_partitioned_pruning writes the
    layout; this op is the audit that decides whether the layout is
    safe to write.

    Exactness: byte estimate and file count are pure integer
    arithmetic (ceiling division via (b + target-1) div target); the
    skew FLAG is an exact integer cross-multiplication
    (n_rows * n_parts > 2 * total_rows), never a float threshold;
    only the reported ratio divides, round(6), same shape both
    engines.

    Scale shape: one map-side-combined groupBy over the partition-key
    domain, a 1-row totals broadcast — the audit costs one scan."""
    ev = table(spark, sf_dir, "events")
    p = ev.groupBy(
        "event_type", F.date_trunc("DAY", F.col("ts")).cast("date").alias("day")
    ).agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(32 + F.length("props")).cast("bigint").alias("est_bytes"),
    )
    t = p.agg(
        F.count("*").cast("bigint").alias("n_parts"),
        F.sum("n_rows").cast("bigint").alias("total_rows"),
    )
    return p.crossJoin(F.broadcast(t)).select(
        "event_type",
        "day",
        "n_rows",
        "est_bytes",
        F.expr("CAST((est_bytes + 134217727) div 134217728 AS BIGINT)").alias(
            "files_128mb"
        ),
        F.round(
            F.col("n_rows").cast("double") * F.col("n_parts")
            / F.col("total_rows"),
            6,
        ).alias("skew_ratio"),
        (F.col("n_rows") * F.col("n_parts") > 2 * F.col("total_rows")).alias(
            "is_skewed"
        ),
    )


@query(
    "maintenance_expectation_checks",
    oracle="""
    SELECT 'orders.o_totalprice_positive' AS expectation,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_pass,
           CAST(sum(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END)
                AS BIGINT) AS n_fail,
           sum(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END) = 0 AS ok
    FROM orders
    UNION ALL
    SELECT 'orders.o_orderdate_in_range',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN o_orderdate BETWEEN DATE '1992-01-01'
                          AND DATE '1998-12-31' THEN 1 ELSE 0 END) AS BIGINT),
           CAST(sum(CASE WHEN o_orderdate BETWEEN DATE '1992-01-01'
                          AND DATE '1998-12-31' THEN 0 ELSE 1 END) AS BIGINT),
           sum(CASE WHEN o_orderdate BETWEEN DATE '1992-01-01'
                     AND DATE '1998-12-31' THEN 0 ELSE 1 END) = 0
    FROM orders
    UNION ALL
    SELECT 'orders.o_orderkey_unique',
           CAST(count(*) AS BIGINT),
           CAST(count(DISTINCT o_orderkey) AS BIGINT),
           CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT),
           count(*) = count(DISTINCT o_orderkey)
    FROM orders
    UNION ALL
    SELECT 'lineitem.l_orderkey_ref_orders',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN o.o_orderkey IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT),
           CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT),
           sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) = 0
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'lineitem.l_discount_in_unit_interval',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN l_discount BETWEEN 0 AND 1 THEN 1 ELSE 0 END)
                AS BIGINT),
           CAST(sum(CASE WHEN l_discount BETWEEN 0 AND 1 THEN 0 ELSE 1 END)
                AS BIGINT),
           sum(CASE WHEN l_discount BETWEEN 0 AND 1 THEN 0 ELSE 1 END) = 0
    FROM lineitem
    UNION ALL
    SELECT 'documents.text_not_null_or_empty',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN text IS NOT NULL AND length(text) > 0
                         THEN 1 ELSE 0 END) AS BIGINT),
           CAST(sum(CASE WHEN text IS NOT NULL AND length(text) > 0
                         THEN 0 ELSE 1 END) AS BIGINT),
           sum(CASE WHEN text IS NOT NULL AND length(text) > 0
                    THEN 0 ELSE 1 END) = 0
    FROM documents
    """,
)
def maintenance_expectation_checks(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DATA-QUALITY EXPECTATION SUITE (the Great-Expectations /
    dbt-test pattern as an engine op): one row per declared
    expectation with pass/fail counts and a boolean verdict —
    positivity, domain range, key uniqueness, REFERENTIAL INTEGRITY
    (every lineitem points at an existing order; checked with a left
    join, the only expectation that costs a shuffle), and
    non-emptiness. This is the contract gate a pipeline runs before
    publishing a snapshot; pipeline_dataset_diff tells you what
    changed, this tells you whether it is fit to ship.

    Scale shape: per-table expectations share one scan per table
    (Spark collapses the conditional sums into one aggregate); the FK
    check is a broadcast-or-shuffle equi-join with counts only —
    nothing materializes failed rows (a triage run would add a
    .where(NOT ok) sample). All integer counting."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    d = table(spark, sf_dir, "documents")

    def suite(df, name, cond):
        n_pass = F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")
        n_fail = F.sum(F.when(cond, 0).otherwise(1)).cast("bigint")
        return df.agg(
            F.lit(name).alias("expectation"),
            F.count("*").cast("bigint").alias("n_rows"),
            n_pass.alias("n_pass"),
            n_fail.alias("n_fail"),
            (n_fail == 0).alias("ok"),
        )

    uniq = o.agg(
        F.lit("orders.o_orderkey_unique").alias("expectation"),
        F.count("*").cast("bigint").alias("n_rows"),
        F.countDistinct("o_orderkey").cast("bigint").alias("n_pass"),
        (F.count("*") - F.countDistinct("o_orderkey"))
        .cast("bigint")
        .alias("n_fail"),
        (F.count("*") == F.countDistinct("o_orderkey")).alias("ok"),
    )
    fk = suite(
        li.join(
            o.select("o_orderkey"),
            li.l_orderkey == o.o_orderkey,
            "left",
        ),
        "lineitem.l_orderkey_ref_orders",
        F.col("o_orderkey").isNotNull(),
    )
    parts = [
        suite(o, "orders.o_totalprice_positive", F.col("o_totalprice") > 0),
        suite(
            o,
            "orders.o_orderdate_in_range",
            F.col("o_orderdate").between("1992-01-01", "1998-12-31"),
        ),
        uniq,
        fk,
        suite(
            li,
            "lineitem.l_discount_in_unit_interval",
            F.col("l_discount").between(0, 1),
        ),
        suite(
            d,
            "documents.text_not_null_or_empty",
            F.col("text").isNotNull() & (F.length("text") > 0),
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# Synthetic commit log over the documents "files" (the fixture has no
# table-format log; the MACHINERY — action deltas + commit-domain
# cumulative replay — is the op): every file is ADDed at commit
# doc_id % 5; files with doc_id % 4 = 0 are REMOVEd 1 + doc_id % 3
# commits later; files with doc_id % 8 = 0 are re-ADDed one commit
# after their removal. Actions per file strictly increase in seq, so
# latest-action-wins equals the +1/-1 running sum.
_LOG_ADD = "doc_id % 5"
_LOG_RM = f"{_LOG_ADD} + 1 + doc_id % 3"
_LOG_READD = f"{_LOG_RM} + 1"


@query(
    "maintenance_snapshot_log_replay",
    oracle=f"""
    WITH log AS (
      SELECT doc_id AS file_id, CAST({_LOG_ADD} AS BIGINT) AS seq,
             1 AS live_d, CAST(n_chars AS BIGINT) AS bytes_d
      FROM documents
      UNION ALL
      SELECT doc_id, CAST({_LOG_RM} AS BIGINT), -1,
             -CAST(n_chars AS BIGINT)
      FROM documents WHERE doc_id % 4 = 0
      UNION ALL
      SELECT doc_id, CAST({_LOG_READD} AS BIGINT), 1,
             CAST(n_chars AS BIGINT)
      FROM documents WHERE doc_id % 8 = 0),
    per_commit AS (
      SELECT seq AS commit_seq,
             CAST(count(*) AS BIGINT) AS n_actions,
             CAST(sum(live_d) AS BIGINT) AS dn,
             CAST(sum(bytes_d) AS BIGINT) AS db
      FROM log GROUP BY seq)
    SELECT commit_seq, n_actions,
           CAST(sum(dn) OVER (ORDER BY commit_seq
                              ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS n_live_files,
           CAST(sum(db) OVER (ORDER BY commit_seq
                              ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS live_bytes
    FROM per_commit
    """,
)
def maintenance_snapshot_log_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TABLE-FORMAT LOG REPLAY (the Delta/Iceberg snapshot mechanic as
    an engine op): reconstruct the live file set and byte footprint of
    a table AT EVERY COMMIT from an ordered add/remove action log —
    the time-travel primitive behind `VERSION AS OF`, and the audit a
    lakehouse maintenance job runs to spot snapshot bloat (live_bytes
    flat while n_actions grows = churn needing compaction;
    maintenance_compact_small_files is the fix this op schedules).
    The log is synthesized deterministically from the documents
    fixture (module constants) with per-file strictly-increasing
    action sequence, so latest-action-wins reduces EXACTLY to +1/-1
    deltas.

    Scale shape — never a per-snapshot rescan: actions collapse to
    per-commit deltas (one map-side-combined groupBy over the log),
    and one cumulative window over the bounded COMMIT DOMAIN replays
    every snapshot at once (a real table format's checkpoint files
    are precisely this materialized prefix-sum). Pure integer
    arithmetic end to end."""
    d = table(spark, sf_dir, "documents")
    log = (
        d.selectExpr(
            "doc_id AS file_id",
            f"CAST({_LOG_ADD} AS BIGINT) AS seq",
            "1 AS live_d",
            "CAST(n_chars AS BIGINT) AS bytes_d",
        )
        .unionByName(
            d.where("doc_id % 4 = 0").selectExpr(
                "doc_id AS file_id",
                f"CAST({_LOG_RM} AS BIGINT) AS seq",
                "-1 AS live_d",
                "-CAST(n_chars AS BIGINT) AS bytes_d",
            )
        )
        .unionByName(
            d.where("doc_id % 8 = 0").selectExpr(
                "doc_id AS file_id",
                f"CAST({_LOG_READD} AS BIGINT) AS seq",
                "1 AS live_d",
                "CAST(n_chars AS BIGINT) AS bytes_d",
            )
        )
    )
    per_commit = log.groupBy(F.col("seq").alias("commit_seq")).agg(
        F.count("*").cast("bigint").alias("n_actions"),
        F.sum("live_d").cast("bigint").alias("dn"),
        F.sum("bytes_d").cast("bigint").alias("db"),
    )
    wc = Window.orderBy("commit_seq").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per_commit.select(
        "commit_seq",
        "n_actions",
        F.sum("dn").over(wc).cast("bigint").alias("n_live_files"),
        F.sum("db").over(wc).cast("bigint").alias("live_bytes"),
    )


# ---------------------------------------------------------------------------
# join_bloom_prefilter
# ---------------------------------------------------------------------------

_BLOOM_BITS = 4096  # m: 64 int64 words
_BLOOM_WORDS = _BLOOM_BITS // 64
# two independent integer hash lanes (Knuth multiplicative + affine)
_BLOOM_H1 = "(s * 2654435761) % 4096"
_BLOOM_H2 = "(s * 40503 + 17) % 4096"


@query(
    "join_bloom_prefilter",
    # the bloom is a PREFILTER, not a semantics change: the exact join
    # still runs, so the oracle is the plain join+aggregate
    oracle="""
    SELECT l.l_suppkey,
           count(*) AS n_items,
           round(CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                          * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
                      AS DOUBLE) / 10000, 2) AS revenue
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    WHERE s.s_nationkey < 5
    GROUP BY l.l_suppkey
    """,
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOOM-PREFILTERED dimension join — the hand-rolled runtime row
    filter (Spark's own bloom_filter_agg is internal-only on this
    build, CLAUDE.md round-5): qualifying supplier keys fold into a
    4096-bit / 2-hash bloom bitmap (64 int64 words, ONE row) in a tiny
    aggregate; the fact scan probes the broadcast bitmap with pure
    integer bit math BEFORE the exact join, so non-qualifying rows
    never reach the join's shuffle or build side. False positives are
    removed by the exact join that follows — output is bit-identical
    to the plain join (the oracle), only the plan differs.

    Why it matters at 100 TB: when the filtered dimension is too big
    to broadcast, the JOIN must shuffle both sides — but the BLOOM of
    the dimension is 512 bytes regardless of dimension size, and a
    ~1% selective prefilter cuts the fact-side shuffle by ~99%. Probe
    cost is two multiplies + two shifts per row inside whole-stage
    codegen. Money sums in exact integer cents (functions/money.py)."""
    from ..functions.money import cents

    li = table(spark, sf_dir, "lineitem")
    sup = table(spark, sf_dir, "supplier")
    dim = sup.where(F.col("s_nationkey") < 5).select("s_suppkey")
    h1 = _BLOOM_H1.replace("s", "s_suppkey")
    h2 = _BLOOM_H2.replace("s", "s_suppkey")
    bloom = dim.agg(
        *[
            F.expr(
                f"bit_or(CASE WHEN ({h1}) div 64 = {j} "
                f"THEN shiftleft(1L, CAST(({h1}) % 64 AS INT)) ELSE 0L END | "
                f"CASE WHEN ({h2}) div 64 = {j} "
                f"THEN shiftleft(1L, CAST(({h2}) % 64 AS INT)) ELSE 0L END)"
            ).alias(f"w{j}")
            for j in range(_BLOOM_WORDS)
        ]
    ).select(
        F.array(*[F.col(f"w{j}") for j in range(_BLOOM_WORDS)]).alias("words")
    )
    p1 = _BLOOM_H1.replace("s", "l_suppkey")
    p2 = _BLOOM_H2.replace("s", "l_suppkey")
    probe = (
        f"((element_at(words, CAST(({p1}) div 64 AS INT) + 1) "
        f">> CAST(({p1}) % 64 AS INT)) & 1L) = 1L AND "
        f"((element_at(words, CAST(({p2}) div 64 AS INT) + 1) "
        f">> CAST(({p2}) % 64 AS INT)) & 1L) = 1L"
    )
    prefiltered = (
        li.select("l_suppkey", "l_extendedprice", "l_discount")
        .crossJoin(F.broadcast(bloom))
        .where(F.expr(probe))
    )
    return (
        prefiltered.join(F.broadcast(dim), prefiltered.l_suppkey == dim.s_suppkey)
        .groupBy("l_suppkey")
        .agg(
            F.count("*").alias("n_items"),
            # exact integer cents x basis points (operators/tpch.py
            # discipline — never round a PRODUCT of doubles to cents:
            # 4-decimal products sit exactly on .5 boundaries where
            # Spark's floor(+0.5) and DuckDB's half-even cast disagree)
            F.round(
                F.sum(
                    cents("l_extendedprice") * (100 - cents("l_discount"))
                ).cast("double")
                / 10000,
                2,
            ).alias("revenue"),
        )
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
# sample_kcenter_greedy
# ---------------------------------------------------------------------------

_KCG_K = 8  # seeds
_KCG_D = 64  # embedding dim


@session_artifact
def _kcg_picks(spark: SparkSession, sf_dir: str) -> list:
    """The farthest-first seeds as (seed_rank, vec_id, d2_covered, emb)
    tuples, picked once per session (k driver actions)."""
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    first = emb.orderBy("vec_id").limit(1).collect()[0]
    picks = [
        (1, int(first["vec_id"]), 0.0,
         [float(x) for x in first["embedding"]])
    ]
    for t in range(2, _KCG_K + 1):
        dcols = [
            F.expr(_kcg_dist_spark("embedding", p[3])).alias(f"d_{j}")
            for j, p in enumerate(picks)
        ]
        scored = emb.select("vec_id", "embedding", *dcols)
        dmin = (
            "least(" + ", ".join(f"d_{j}" for j in range(len(picks))) + ")"
            if len(picks) > 1
            else "d_0"
        )
        row = (
            scored.selectExpr(
                "vec_id", "embedding", f"round({dmin}, 6) AS dmin"
            )
            .orderBy(F.col("dmin").desc(), F.col("vec_id"))
            .limit(1)
            .collect()[0]
        )
        picks.append(
            (t, int(row["vec_id"]), float(row["dmin"]),
             [float(x) for x in row["embedding"]])
        )
    return picks


def _kcg_dist_duck(erow: str, srow: str) -> str:
    """Unrolled 64-term squared-L2 chain (DuckDB side): per-element
    CAST to DOUBLE then one left-assoc sum — the identical shape the
    Spark side renders with seed LITERALS, so every distance is
    bit-exact across engines."""
    terms = [
        f"(CAST(list_extract({erow}, {i + 1}) AS DOUBLE)"
        f" - CAST(list_extract({srow}, {i + 1}) AS DOUBLE))"
        f" * (CAST(list_extract({erow}, {i + 1}) AS DOUBLE)"
        f" - CAST(list_extract({srow}, {i + 1}) AS DOUBLE))"
        for i in range(_KCG_D)
    ]
    return "(" + " + ".join(terms) + ")"


def _kcg_dist_spark(col: str, seed: list) -> str:
    terms = []
    for i, x in enumerate(seed):
        lit = f"{float(x)!r}D"
        terms.append(
            f"(CAST(element_at({col}, {i + 1}) AS DOUBLE) - {lit})"
            f" * (CAST(element_at({col}, {i + 1}) AS DOUBLE) - {lit})"
        )
    return "(" + " + ".join(terms) + ")"


def _kcg_oracle() -> str:
    dist = _kcg_dist_duck("e.embedding", "s.embedding")
    parts = [
        "WITH emb AS MATERIALIZED"
        " (SELECT vec_id, embedding FROM embeddings)",
        "seeds1 AS MATERIALIZED (SELECT CAST(1 AS BIGINT) AS seed_rank,"
        " vec_id, embedding, CAST(0.0 AS DOUBLE) AS d2_covered"
        " FROM emb ORDER BY vec_id LIMIT 1)",
    ]
    for t in range(2, _KCG_K + 1):
        parts.append(
            f"d{t - 1} AS (SELECT e.vec_id,"
            f" round(min({dist}), 6) AS dmin"
            f" FROM emb e, seeds{t - 1} s GROUP BY e.vec_id)"
        )
        parts.append(
            f"pick{t} AS MATERIALIZED (SELECT CAST({t} AS BIGINT)"
            " AS seed_rank, e.vec_id, e.embedding, d.dmin AS d2_covered"
            f" FROM emb e JOIN d{t - 1} d ON e.vec_id = d.vec_id"
            " ORDER BY d.dmin DESC, e.vec_id LIMIT 1)"
        )
        parts.append(
            f"seeds{t} AS MATERIALIZED (SELECT * FROM seeds{t - 1}"
            f" UNION ALL SELECT * FROM pick{t})"
        )
    return (
        ",\n".join(parts)
        + f"\nSELECT seed_rank, vec_id, d2_covered FROM seeds{_KCG_K}"
        + "\nORDER BY seed_rank"
    )


@query("sample_kcenter_greedy", oracle=_kcg_oracle())
def sample_kcenter_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-CENTER GREEDY (farthest-first traversal) CORESET SEEDING —
    the deterministic 2-approximation to the k-center cover and the
    standard coreset/active-learning selector, filling the sampling
    family's diversity gap (sample_* ops draw by hash/weight/strata;
    nothing selected points to COVER the embedding space, and
    vec_kmeans_lloyd REFINES pivoted centroids rather than seeding
    them). Seed 1 is the min vec_id; each of the 7 further rounds
    picks the point FARTHEST from its nearest chosen seed (squared
    L2), i.e. argmax_i min_s ||x_i - x_s||^2 — whose selection value
    is exactly the covering radius the next seed removes.

    Parity is the ANN-family recipe end-to-end: every distance is an
    unrolled 64-term squared-diff chain in IDENTICAL text (seed
    vectors embedded as exact float literals on the Spark side,
    list_extract casts on the DuckDB side — float->double promotion
    is exact, the chains are left-assoc both engines, so distances
    are bit-identical); the argmax ranks on round(dmin, 6) with
    vec_id as tie-break (TakeOrderedAndProject, never a global
    window); the oracle replays the same 8 rounds as chained
    MATERIALIZED CTEs, so the driver hash match proves pick-by-pick
    agreement of the whole traversal.

    Shape at 100 TB: k scans, each a map-only projection (<= k
    distance columns + least()) feeding a TakeOrdered(1) — no
    shuffle beyond the k-row reduce; seed vectors broadcast as plan
    literals (they are k x 64 floats). For k beyond ~32 the
    per-round plan-literal growth argues for the mini-batch variant
    (sample a candidate pool per round); documented, not needed at
    k=8. Picks are session-cached so warm rebuilds are pure
    plan-build."""
    picks = _kcg_picks(spark, sf_dir)
    return spark.createDataFrame(
        [(r, v, d) for r, v, d, _ in picks],
        schema="seed_rank bigint, vec_id bigint, d2_covered double",
    ).orderBy("seed_rank")
