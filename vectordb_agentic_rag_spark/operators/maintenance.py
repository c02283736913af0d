"""Table-maintenance and data-quality advisories: column profiles,
constraint and referential-integrity audits, freshness lag, join-key
skew and join-cardinality estimates, incremental statistics merges,
parquet footer statistics, and row-group / z-order / bloom-filter
layout advisories.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..memo import session_artifact
from ..registry import query
from ..tables import SCRATCH, sf_tag, table


# ---------------------------------------------------------------------------
# maintenance_referential_integrity
# ---------------------------------------------------------------------------

# (child table, fk column, parent table, pk column) — every declared
# relationship of the fixture schema, embeddings->documents included
# (the vector store's 1:1 id contract with the corpus, the invariant
# the reference's Qdrant upsert maintains implicitly, app.py:204).
_RI_EDGES = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("embeddings", "vec_id", "documents", "doc_id"),
]


def _ri_oracle() -> str:
    parts = []
    for child, fk, parent, pk in _RI_EDGES:
        parts.append(
            f"""SELECT '{child}' AS child_table, '{fk}' AS fk_column,
             '{parent}' AS parent_table,
             (SELECT CAST(count(*) AS BIGINT) FROM {child}) AS n_child_rows,
             (SELECT CAST(count(DISTINCT {fk}) AS BIGINT) FROM {child})
               AS n_distinct_keys,
             (SELECT CAST(count(*) AS BIGINT) FROM {child} c
              WHERE NOT EXISTS (SELECT 1 FROM {parent} p
                                WHERE p.{pk} = c.{fk})) AS n_orphan_rows,
             (SELECT CAST(count(DISTINCT c.{fk}) AS BIGINT) FROM {child} c
              WHERE NOT EXISTS (SELECT 1 FROM {parent} p
                                WHERE p.{pk} = c.{fk})) AS n_orphan_keys,
             (SELECT CAST(CASE WHEN count(*) = 0 THEN 1 ELSE 0 END
                          AS BIGINT) FROM {child} c
              WHERE NOT EXISTS (SELECT 1 FROM {parent} p
                                WHERE p.{pk} = c.{fk})) AS ri_ok"""
        )
    return "\n    UNION ALL\n    ".join(parts)


@query("maintenance_referential_integrity", oracle=_ri_oracle())
def maintenance_referential_integrity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REFERENTIAL-INTEGRITY AUDIT over every declared foreign key of
    the fixture schema (all six TPC-H edges plus the vector store's
    embeddings->documents id contract): per edge, child cardinalities
    and the ORPHAN row/key counts from one anti-join each — the
    pipeline health check that catches partial loads, late dimension
    arrivals, and dangling vector upserts before any downstream join
    silently drops rows (an inner join "losing" 2% of revenue IS this
    audit failing, surfaced a stage earlier). Completes the
    maintenance family: maintenance_expectation_checks audits VALUES,
    partition_skew_report audits LAYOUT, this audits RELATIONSHIPS.

    Shape at 100 TB: one LEFT ANTI join per edge — dimension parents
    broadcast, fact-to-fact (lineitem->orders) a shuffle anti-join
    that Catalyst plans exactly like the production joins it guards;
    counts are map-side-combinable aggregates. 8-row output.

    Parity: pure exact integer counts; the flag is a CASE on an
    exact count."""
    frames = []
    for child, fk, parent, pk in _RI_EDGES:
        c = table(spark, sf_dir, child)
        p = table(spark, sf_dir, parent).select(F.col(pk).alias(fk))
        orphans = c.select(fk).join(p, fk, "left_anti")
        stats = c.agg(
            F.count("*").cast("bigint").alias("n_child_rows"),
            F.countDistinct(fk).cast("bigint").alias("n_distinct_keys"),
        )
        ostats = orphans.agg(
            F.count("*").cast("bigint").alias("n_orphan_rows"),
            F.countDistinct(fk).cast("bigint").alias("n_orphan_keys"),
        )
        frames.append(
            stats.crossJoin(ostats).selectExpr(
                f"'{child}' AS child_table",
                f"'{fk}' AS fk_column",
                f"'{parent}' AS parent_table",
                "n_child_rows",
                "n_distinct_keys",
                "n_orphan_rows",
                "n_orphan_keys",
                "CAST(CASE WHEN n_orphan_rows = 0 THEN 1 ELSE 0 END"
                " AS BIGINT) AS ri_ok",
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


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
# maintenance_parquet_footer_stats
# ---------------------------------------------------------------------------

_FOOTER_COLS = [
    ("lineitem", "l_orderkey"),
    ("orders", "o_orderkey"),
    ("customer", "c_custkey"),
    ("part", "p_partkey"),
    ("events", "event_id"),
]


def _footer_oracle() -> str:
    rows = "\n    UNION ALL\n    ".join(
        f"""SELECT '{t}' AS table_name, '{c}' AS column_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min({c}) AS BIGINT) AS footer_min,
           CAST(max({c}) AS BIGINT) AS footer_max,
           CAST(min({c}) AS BIGINT) AS data_min,
           CAST(max({c}) AS BIGINT) AS data_max,
           CAST(1 AS BIGINT) AS stats_exact
    FROM {t}"""
        for t, c in _FOOTER_COLS
    )
    return f"""
    {rows}
    ORDER BY table_name, column_name
    """


@query("maintenance_parquet_footer_stats", oracle=_footer_oracle())
def maintenance_parquet_footer_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PARQUET FOOTER STATISTICS AUDIT — REAL metadata parsing of the
    fixture files' footers (pyarrow.parquet file metadata: per-row-
    group min/max statistics, the exact values Spark's ParquetScan
    uses for row-group skipping and partition pruning), validated
    against a data-scan min/max per key column. footer_min/footer_max
    come from the FOOTER (min of row-group mins / max of maxes,
    driver-side metadata-only read — no data pages touched);
    data_min/data_max from a Spark scan aggregate; stats_exact is the
    comparison. The table an engineer reads to confirm pushdown-
    eligible stats actually exist and are trustworthy — a writer that
    produced wrong or truncated stats would silently break every
    min/max-pruned query, and this op makes that loud.

    Parity: all values are exact BIGINTs; the oracle recomputes
    min/max from data (the footer values must EQUAL them for a
    correct writer+parser pair — a broken footer parse hash-fails).

    Shape at 100 TB: the footer read is metadata-only (KBs per file,
    listable in parallel per file on a cluster via a binaryFile scan
    of footers; here driver-side over the five fixture files); the
    data-scan side is one map-side-combined min/max aggregate per
    table — the same pass ANALYZE runs."""
    import os

    import pyarrow.parquet as pq

    out = None
    for t, c in _FOOTER_COLS:
        path = f"{sf_dir}/{t}.parquet"
        # Spark-written datasets are DIRECTORIES of part files (the
        # sf1x blow-up layout handled by tables.cache_hot_tables) —
        # fold footer stats across every part footer.
        if os.path.isdir(path):
            files = sorted(
                os.path.join(path, f)
                for f in os.listdir(path)
                if f.endswith(".parquet")
            )
        else:
            files = [path]
        mins, maxs = [], []
        n_groups = groups_with_stats = 0
        for f_ in files:
            md = pq.ParquetFile(f_).metadata
            idx = [
                md.schema.column(i).name for i in range(md.num_columns)
            ].index(c)
            for g in range(md.num_row_groups):
                n_groups += 1
                st = md.row_group(g).column(idx).statistics
                if st is None or not st.has_min_max:
                    # stats-less row group: counted, never skipped
                    # silently — stats_exact can only be 1 when EVERY
                    # group carries min/max (review finding r12)
                    continue
                groups_with_stats += 1
                mins.append(int(st.min))
                maxs.append(int(st.max))
        has_all = bool(mins) and groups_with_stats == n_groups
        fmin_sql = f"CAST({min(mins)} AS BIGINT)" if mins else "CAST(NULL AS BIGINT)"
        fmax_sql = f"CAST({max(maxs)} AS BIGINT)" if maxs else "CAST(NULL AS BIGINT)"
        exact_sql = (
            f"CAST(CASE WHEN {min(mins)} = data_min AND"
            f" {max(maxs)} = data_max THEN 1 ELSE 0 END AS BIGINT)"
            if has_all
            else "CAST(0 AS BIGINT)"  # absent/partial stats are a
            # FAILED audit, never a crash or a silent pass
        )
        row = (
            table(spark, sf_dir, t)
            .agg(
                F.count("*").cast("bigint").alias("n_rows"),
                F.min(c).cast("bigint").alias("data_min"),
                F.max(c).cast("bigint").alias("data_max"),
            )
            .selectExpr(
                f"'{t}' AS table_name",
                f"'{c}' AS column_name",
                "n_rows",
                f"{fmin_sql} AS footer_min",
                f"{fmax_sql} AS footer_max",
                "data_min",
                "data_max",
                f"{exact_sql} AS stats_exact",
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("table_name", "column_name")


# ---------------------------------------------------------------------------
# maintenance_incremental_stats_merge
# ---------------------------------------------------------------------------


@query(
    "maintenance_incremental_stats_merge",
    oracle="""
    WITH part_stats AS (
      SELECT date_trunc('month', o_orderdate) AS mth,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS s,
             sum(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT)
                      AS HUGEINT)
                 * CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS s2,
             CAST(min(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS mn,
             CAST(max(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS mx
      FROM orders GROUP BY 1),
    merged AS (
      SELECT CAST(count(*) AS BIGINT) AS n_partitions,
             CAST(sum(n) AS BIGINT) AS n_rows,
             CAST(sum(s) AS BIGINT) AS sum_cents,
             CAST(sum(s2) AS DECIMAL(38,0)) AS sum_sq_cents,
             min(mn) AS min_cents, max(mx) AS max_cents
      FROM part_stats),
    direct AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS sum_cents,
             CAST(sum(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT)
                           AS HUGEINT)
                      * CAST(round(o_totalprice * 100, 0) AS BIGINT))
                  AS DECIMAL(38,0)) AS sum_sq_cents,
             CAST(min(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS min_cents,
             CAST(max(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS max_cents
      FROM orders)
    SELECT m.n_partitions,
           m.n_rows, d.n_rows AS n_rows_direct,
           m.sum_cents, d.sum_cents AS sum_cents_direct,
           CAST(m.sum_sq_cents AS VARCHAR) AS sum_sq_cents,
           CAST(d.sum_sq_cents AS VARCHAR) AS sum_sq_cents_direct,
           m.min_cents, m.max_cents,
           CAST(CASE WHEN m.n_rows = d.n_rows
                      AND m.sum_cents = d.sum_cents
                      AND m.sum_sq_cents = d.sum_sq_cents
                      AND m.min_cents = d.min_cents
                      AND m.max_cents = d.max_cents
                THEN 1 ELSE 0 END AS BIGINT) AS all_match
    FROM merged m CROSS JOIN direct d
    """,
)
def maintenance_incremental_stats_merge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MERGEABLE TABLE-STATS PROOF — the incremental-ANALYZE path a
    100 TB catalog depends on: per-PARTITION statistics (count, sum,
    sum of squares, min, max over exact order-total cents, one stats
    row per o_orderdate month) MERGED by the textbook combine rules
    (counts/sums/moment-sums add; min/max fold), next to the same
    statistics computed directly from the raw table, with an exact
    equality flag per run.  Because the moments are EXACT integers
    (cents in BIGINT, squares through the DECIMAL(18,0)^2 /
    HUGEINT kernels — the round-7 decimal-width rule), merge-vs-
    direct equality is exact, not approximate: a catalog can ANALYZE
    only changed partitions and merge, never rescanning the table.
    Completes the round-13 queue item; the variance numerator
    N*S2 - S^2 is deliberately NOT formed in-plan (BIGINT N counts
    as precision 20 — the round-8 decimal-multiply trap); consumers
    derive it from the emitted exact components.

    Parity: every column is an exact BIGINT (the DECIMAL(38,0)
    square-sums are emitted as exact digit STRINGS — Spark's pandas
    conversion of wide decimals is object-typed while DuckDB's arrow
    stays decimal128, the round-2 dtype-drift rule); the money
    cast is the documented Spark (+0.5 cast) vs DuckDB (round) pair.

    Shape at 100 TB: the per-partition pass is one map-side-combined
    aggregate per partition (exactly what ANALYZE computes and
    stores); the merge reads stats ROWS (one per partition), never
    data — the direct pass exists here only to prove equality."""
    from ..functions.money import cents

    o = table(spark, sf_dir, "orders")
    c = cents("o_totalprice")
    sq = F.expr(
        "CAST(CAST(o_totalprice * 100 + 0.5 AS BIGINT) AS DECIMAL(18,0))"
        " * CAST(CAST(o_totalprice * 100 + 0.5 AS BIGINT)"
        " AS DECIMAL(18,0))"
    )
    part = o.groupBy(F.date_trunc("month", "o_orderdate").alias("mth")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(c).cast("bigint").alias("s"),
        F.sum(sq).cast("decimal(38,0)").alias("s2"),
        F.min(c).cast("bigint").alias("mn"),
        F.max(c).cast("bigint").alias("mx"),
    )
    merged = part.agg(
        F.count("*").cast("bigint").alias("n_partitions"),
        F.sum("n").cast("bigint").alias("n_rows"),
        F.sum("s").cast("bigint").alias("sum_cents"),
        F.sum("s2").cast("decimal(38,0)").alias("sum_sq_cents"),
        F.min("mn").alias("min_cents"),
        F.max("mx").alias("max_cents"),
    )
    direct = o.agg(
        F.count("*").cast("bigint").alias("n_rows_direct"),
        F.sum(c).cast("bigint").alias("sum_cents_direct"),
        F.sum(sq).cast("decimal(38,0)").alias("sum_sq_cents_direct"),
        F.min(c).cast("bigint").alias("min_d"),
        F.max(c).cast("bigint").alias("max_d"),
    )
    return merged.crossJoin(F.broadcast(direct)).selectExpr(
        "n_partitions",
        "n_rows",
        "n_rows_direct",
        "sum_cents",
        "sum_cents_direct",
        "CAST(sum_sq_cents AS STRING) AS sum_sq_cents",
        "CAST(sum_sq_cents_direct AS STRING) AS sum_sq_cents_direct",
        "min_cents",
        "max_cents",
        "CAST(CASE WHEN n_rows = n_rows_direct"
        " AND sum_cents = sum_cents_direct"
        " AND sum_sq_cents = sum_sq_cents_direct"
        " AND min_cents = min_d AND max_cents = max_d"
        " THEN 1 ELSE 0 END AS BIGINT) AS all_match",
    )


# ---------------------------------------------------------------------------
# maintenance_rowgroup_pruning_sim
# ---------------------------------------------------------------------------

_PRUNE_BUCKETS = 16  # target bucket count for both layouts
_PRUNE_PREDS = 8  # predicate panel size


@session_artifact
def _pruning_layouts(spark: SparkSession, sf_dir: str, *, layouts) -> str:
    """Write one partitioned orders copy per ``layouts`` entry (name ->
    grp expression, a function of sf_dir) once per session; return the
    root the copies sit under."""
    base = f"{SCRATCH}/sources/pruning_{sf_tag(sf_dir)}"
    for layout, grp_expr in layouts.items():
        (
            table(spark, sf_dir, "orders")
            .select("o_orderkey", F.expr(grp_expr).alias("grp"))
            .repartition("grp")  # one task -> one file per bucket
            .write.mode("overwrite")
            .partitionBy("grp")
            .parquet(f"{base}/{layout}")
        )
    return base


def _pruning_oracle() -> str:
    """Oracle recomputes every bucket's min/max/count FROM DATA with the
    same integer bucket formulas, then applies the identical intersect
    logic — a hash match proves the Spark side's REAL footer statistics
    equal the data extrema per bucket AND that the prune decisions
    agree."""
    return f"""
    WITH b AS (
      SELECT CAST(min(o_orderkey) AS BIGINT) AS mn,
             CAST(max(o_orderkey) AS BIGINT) AS mx
      FROM orders),
    p AS (
      SELECT CAST(i AS BIGINT) AS pred_id,
             CAST(mn + (i * (mx - mn + 1)) // {_PRUNE_PREDS} AS BIGINT) AS lo,
             CAST(mn + (i * (mx - mn + 1)) // {_PRUNE_PREDS}
                  + (mx - mn + 1) // 32 AS BIGINT) AS hi
      FROM b, (SELECT unnest(generate_series(0, {_PRUNE_PREDS - 1})) AS i)),
    assigned AS (
      SELECT 'clustered' AS layout,
             (o_orderkey - mn) // ((mx - mn + 1) // {_PRUNE_BUCKETS} + 1) AS grp,
             o_orderkey AS k
      FROM orders, b
      UNION ALL
      SELECT 'scattered' AS layout,
             ((o_orderkey * 2654435761) % 4294967296) // 268435456 AS grp,
             o_orderkey AS k
      FROM orders),
    buckets AS (
      SELECT layout, grp,
             CAST(min(k) AS BIGINT) AS fmin,
             CAST(max(k) AS BIGINT) AS fmax,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM assigned GROUP BY layout, grp)
    SELECT layout, pred_id, lo, hi,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(CASE WHEN fmax < lo OR fmin > hi THEN 1 ELSE 0 END)
                AS BIGINT) AS buckets_pruned,
           CAST(sum(n_rows) AS BIGINT) AS rows_total,
           CAST(sum(CASE WHEN fmax < lo OR fmin > hi THEN n_rows ELSE 0 END)
                AS BIGINT) AS rows_skipped
    FROM buckets CROSS JOIN p
    GROUP BY layout, pred_id, lo, hi
    ORDER BY layout, pred_id
    """


@query("maintenance_rowgroup_pruning_sim", oracle=_pruning_oracle())
def maintenance_rowgroup_pruning_sim(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ROW-GROUP PRUNING EFFECTIVENESS — the data-layout advisory that
    motivates maintenance_zorder_cluster and completes the
    footer-stats chain (maintenance_parquet_footer_stats proves the
    stats exist; this op measures what they BUY under two layouts).

    orders is physically rewritten twice: 'clustered' partitions rows
    into {16} contiguous key-range buckets of o_orderkey (what a
    sort/zorder write produces), 'scattered' buckets by a
    multiplicative hash of the same key (high bits, round-9 rule —
    what an unsorted ingest produces). Both copies are REAL parquet
    written by Spark; the op then parses the written files' FOOTERS
    (pyarrow metadata, min/max per row group folded per bucket — the
    exact values a scan's row-group skip consults) and evaluates an
    8-predicate BETWEEN panel spanning the key domain: a bucket is
    pruned when [fmin, fmax] misses [lo, hi]. Expected shape — the
    advisory itself: clustered prunes ~(1 - 1/8 - 1/32) of buckets
    and rows per predicate; scattered prunes NOTHING (every hash
    bucket spans the whole key domain). That row pair is the
    quantitative case for clustering a 100 TB table on its filter
    column.

    Parity: bucket ids, predicate bounds, and prune decisions are all
    exact BIGINT arithmetic ((i*span) div 8 bounds, div/% bucket
    formulas — DuckDB // twin); the oracle recomputes bucket extrema
    FROM DATA, so the hash match proves the writer+footer-parser pair
    is faithful end-to-end, not just that the sim math agrees.

    Shape at 100 TB: the rewrite is the one-off layout job (range
    shuffle, the same pass as maintenance_zorder_cluster); the footer
    walk is metadata-only (KBs per file, per-file parallel via a
    binaryFile scan on a cluster; driver-side here over ~32 small
    files); the panel evaluation is a 32-bucket x 8-predicate
    broadcast cross join — bounded by the layout, not the data.
    """
    import pyarrow.parquet as pq

    mn, mx = (
        table(spark, sf_dir, "orders")
        .agg(
            F.min("o_orderkey").cast("bigint"),
            F.max("o_orderkey").cast("bigint"),
        )
        .first()
    )
    mn, mx = int(mn), int(mx)
    span = mx - mn + 1
    width = span // _PRUNE_BUCKETS + 1
    layouts = {
        "clustered": f"(CAST(o_orderkey AS BIGINT) - {mn}) div {width}",
        "scattered": (
            "((CAST(o_orderkey AS BIGINT) * 2654435761) % 4294967296)"
            " div 268435456"
        ),
    }
    base = _pruning_layouts(spark, sf_dir, layouts=layouts)

    # real footer walk: fold per-row-group min/max/rows per bucket
    bucket_rows = []
    for layout in layouts:
        root = f"{base}/{layout}"
        for d in sorted(os.listdir(root)):
            if not d.startswith("grp="):
                continue
            grp = int(d.split("=", 1)[1])
            fmin = fmax = None
            n_rows = 0
            for f_ in sorted(os.listdir(os.path.join(root, d))):
                if not f_.endswith(".parquet"):
                    continue
                md = pq.ParquetFile(os.path.join(root, d, f_)).metadata
                idx = [
                    md.schema.column(i).name for i in range(md.num_columns)
                ].index("o_orderkey")
                for g in range(md.num_row_groups):
                    rg = md.row_group(g)
                    n_rows += rg.num_rows
                    st = rg.column(idx).statistics
                    if st is None or not st.has_min_max:
                        raise ValueError(
                            f"stats-less row group in {layout}/{d}/{f_} — "
                            "pruning sim requires min/max on every group"
                        )
                    smin, smax = int(st.min), int(st.max)
                    fmin = smin if fmin is None else min(fmin, smin)
                    fmax = smax if fmax is None else max(fmax, smax)
            if fmin is not None:
                bucket_rows.append((layout, grp, fmin, fmax, n_rows))

    buckets = spark.createDataFrame(
        bucket_rows,
        schema="layout string, grp bigint, fmin bigint, fmax bigint,"
        " n_rows bigint",
    )
    preds = spark.createDataFrame(
        [
            (
                i,
                mn + (i * span) // _PRUNE_PREDS,
                mn + (i * span) // _PRUNE_PREDS + span // 32,
            )
            for i in range(_PRUNE_PREDS)
        ],
        schema="pred_id bigint, lo bigint, hi bigint",
    )
    pruned = (F.col("fmax") < F.col("lo")) | (F.col("fmin") > F.col("hi"))
    return (
        buckets.crossJoin(F.broadcast(preds))
        .groupBy("layout", "pred_id", "lo", "hi")
        .agg(
            F.count("*").cast("bigint").alias("n_buckets"),
            F.sum(F.when(pruned, 1).otherwise(0))
            .cast("bigint")
            .alias("buckets_pruned"),
            F.sum("n_rows").cast("bigint").alias("rows_total"),
            F.sum(F.when(pruned, F.col("n_rows")).otherwise(0))
            .cast("bigint")
            .alias("rows_skipped"),
        )
        .orderBy("layout", "pred_id")
    )


# ---------------------------------------------------------------------------
# maintenance_bloom_rowgroup_advisor
# ---------------------------------------------------------------------------

_BLF_BUCKETS = 256  # simulated row groups (multiplicative-hash layout)
_BLF_WORDS = 16  # bloom size: 16 x 63 = 1008 usable bits per bucket
_BLF_P = 2147483647  # Lehmer modulus shared with the KMV sketches


def _blf_hash(expr: str, mult: int) -> str:
    """Bloom bit position in [0, 1008) — 63 usable bits per word
    (bit 63 stays clear: DuckDB's `<<` overflow-checks the sign bit);
    exact integer arithmetic, same text modulo div/// on both
    engines."""
    return f"((({expr}) * {mult}) % {_BLF_P}) % {_BLF_WORDS * 63}"


def _bloom_advisor_oracle() -> str:
    nb = _BLF_BUCKETS
    word_sel_1 = " ".join(
        f"WHEN {j} THEN w{j}" for j in range(_BLF_WORDS)
    )
    words = ",\n             ".join(
        "bit_or("
        f"(CASE WHEN {_blf_hash('o_orderkey', 48271)} // 63 = {j}"
        f" THEN (1::BIGINT << CAST({_blf_hash('o_orderkey', 48271)} % 63 AS INTEGER)) ELSE 0 END)"
        f" | (CASE WHEN {_blf_hash('o_orderkey', 69621)} // 63 = {j}"
        f" THEN (1::BIGINT << CAST({_blf_hash('o_orderkey', 69621)} % 63 AS INTEGER)) ELSE 0 END)"
        f") AS w{j}"
        for j in range(_BLF_WORDS)
    )
    return f"""
    WITH b AS (
      SELECT CAST(min(o_orderkey) AS BIGINT) AS mn,
             CAST(max(o_orderkey) AS BIGINT) AS mx
      FROM orders),
    p AS (
      SELECT CAST(i AS BIGINT) AS probe_id,
             CAST(mn + (i * (mx - mn + 1)) // 8 AS BIGINT) AS probe_key
      FROM b, (SELECT unnest(generate_series(0, 7)) AS i)),
    pk AS (
      SELECT probe_id, probe_key,
             {_blf_hash('probe_key', 48271)} AS q1,
             {_blf_hash('probe_key', 69621)} AS q2
      FROM p),
    buckets AS (
      SELECT ((o_orderkey * 2654435761) % 4294967296) // 16777216 AS grp,
             CAST(min(o_orderkey) AS BIGINT) AS bmin,
             CAST(max(o_orderkey) AS BIGINT) AS bmax,
             CAST(count(*) AS BIGINT) AS n_rows,
             {words}
      FROM orders GROUP BY 1),
    truth AS (
      SELECT pk.probe_id,
             ((o.o_orderkey * 2654435761) % 4294967296) // 16777216 AS grp
      FROM orders o JOIN pk ON o.o_orderkey = pk.probe_key
      GROUP BY 1, 2),
    hits AS (
      SELECT pk.probe_id, pk.probe_key, bk.grp, bk.n_rows,
             CASE WHEN pk.probe_key BETWEEN bk.bmin AND bk.bmax
                  THEN 1 ELSE 0 END AS mm_poss,
             CASE WHEN ((CASE CAST(pk.q1 // 63 AS INTEGER) {word_sel_1} END
                         >> CAST(pk.q1 % 63 AS INTEGER)) & 1) = 1
                   AND ((CASE CAST(pk.q2 // 63 AS INTEGER) {word_sel_1} END
                         >> CAST(pk.q2 % 63 AS INTEGER)) & 1) = 1
                  THEN 1 ELSE 0 END AS bl_poss,
             CASE WHEN t.grp IS NOT NULL THEN 1 ELSE 0 END AS is_true
      FROM buckets bk CROSS JOIN pk
      LEFT JOIN truth t ON t.probe_id = pk.probe_id AND t.grp = bk.grp)
    SELECT probe_id, probe_key,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(mm_poss) AS BIGINT) AS minmax_possible,
           CAST(sum(bl_poss) AS BIGINT) AS bloom_possible,
           CAST(sum(is_true) AS BIGINT) AS bloom_true,
           CAST(sum(CASE WHEN bl_poss = 1 AND is_true = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS bloom_false_pos,
           CAST(sum(CASE WHEN bl_poss = 0 THEN n_rows ELSE 0 END)
                AS BIGINT) AS rows_skipped_bloom
    FROM hits
    GROUP BY probe_id, probe_key
    ORDER BY probe_id
    """


@query("maintenance_bloom_rowgroup_advisor", oracle=_bloom_advisor_oracle())
def maintenance_bloom_rowgroup_advisor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BLOOM-FILTER LAYOUT ADVISORY — the complement of
    maintenance_rowgroup_pruning_sim for POINT LOOKUPS on a layout
    min/max cannot help: under the hash-scattered bucketing every
    simulated row group spans the whole key domain (the pruning sim's
    'scattered prunes nothing' row), which is exactly when parquet
    attaches per-row-group BLOOM FILTERS. Each of 256 hash buckets
    builds a 1008-bit bloom (16 exact BIGINT words, 63 bits each, two Lehmer-mix
    hash positions per key, bit_or aggregate — the agg_bitmap_distinct
    idiom); an 8-point lookup panel then reports, per probe: how many
    buckets min/max could skip (none), how many the bloom admits, the
    true containing buckets, the false positives, and the rows a
    scan actually skips. The false-positive column is the m/n sizing
    signal a layout engineer reads: at sf0.01 (~59 keys/bucket, 1008
    bits, k=2) FPs are rare; at sf0.1 (~586 keys/bucket) the filter
    visibly saturates — the advisory shows the budget breaking, not
    just working.

    Parity: every hash, bit position, membership test, and count is
    exact BIGINT arithmetic with shared formula shape (shiftleft /
    `<<` differ textually but operate on identical integers); bucket
    count counts NON-EMPTY buckets (data-derivable on both engines).

    Shape at 100 TB: the bloom build is ONE map-side-combinable
    aggregate over the fact scan (16 words per bucket of shuffle
    payload — the bitmap-distinct shape); the probe evaluation is a
    256 x 8 broadcast cross join, bounded by the layout."""
    mn, mx = (
        table(spark, sf_dir, "orders")
        .agg(
            F.min("o_orderkey").cast("bigint"),
            F.max("o_orderkey").cast("bigint"),
        )
        .first()
    )
    mn, mx = int(mn), int(mx)
    span = mx - mn + 1
    h1 = _blf_hash("o_orderkey", 48271)
    h2 = _blf_hash("o_orderkey", 69621)
    word_aggs = [
        F.bit_or(
            F.expr(
                f"(CASE WHEN CAST(({h1}) div 63 AS INT) = {j}"
                f" THEN shiftleft(CAST(1 AS BIGINT),"
                f" CAST(({h1}) % 63 AS INT)) ELSE CAST(0 AS BIGINT) END)"
                f" | (CASE WHEN CAST(({h2}) div 63 AS INT) = {j}"
                f" THEN shiftleft(CAST(1 AS BIGINT),"
                f" CAST(({h2}) % 63 AS INT)) ELSE CAST(0 AS BIGINT) END)"
            )
        ).alias(f"w{j}")
        for j in range(_BLF_WORDS)
    ]
    o = table(spark, sf_dir, "orders")
    grp = F.expr(
        "((CAST(o_orderkey AS BIGINT) * 2654435761) % 4294967296)"
        " div 16777216"
    )
    buckets = o.groupBy(grp.alias("grp")).agg(
        F.min("o_orderkey").cast("bigint").alias("bmin"),
        F.max("o_orderkey").cast("bigint").alias("bmax"),
        F.count("*").cast("bigint").alias("n_rows"),
        *word_aggs,
    )

    def py_hash(key: int, mult: int) -> int:
        return ((key * mult) % _BLF_P) % (_BLF_WORDS * 63)

    probe_rows = []
    for i in range(8):
        key = mn + (i * span) // 8
        probe_rows.append(
            (i, key, py_hash(key, 48271), py_hash(key, 69621))
        )
    probes = spark.createDataFrame(
        probe_rows,
        "probe_id bigint, probe_key bigint, q1 bigint, q2 bigint",
    )
    truth = (
        o.join(
            F.broadcast(probes),
            F.col("o_orderkey") == F.col("probe_key"),
        )
        .groupBy("probe_id", grp.alias("grp"))
        .agg(F.count("*").alias("n_true"))
        .select("probe_id", "grp", F.lit(1).alias("is_true"))
    )
    word_sel = " ".join(f"WHEN {j} THEN w{j}" for j in range(_BLF_WORDS))
    member = (
        "((CASE CAST(q1 div 63 AS INT) " + word_sel + " END"
        " >> CAST(q1 % 63 AS INT)) & 1) = 1"
        " AND ((CASE CAST(q2 div 63 AS INT) " + word_sel + " END"
        " >> CAST(q2 % 63 AS INT)) & 1) = 1"
    )
    hits = (
        buckets.crossJoin(F.broadcast(probes))
        .join(F.broadcast(truth), ["probe_id", "grp"], "left")
        .select(
            "probe_id",
            "probe_key",
            "n_rows",
            F.expr(
                "CASE WHEN probe_key BETWEEN bmin AND bmax"
                " THEN 1 ELSE 0 END"
            ).alias("mm_poss"),
            F.expr(f"CASE WHEN {member} THEN 1 ELSE 0 END").alias(
                "bl_poss"
            ),
            F.coalesce(F.col("is_true"), F.lit(0)).alias("is_true"),
        )
    )
    return (
        hits.groupBy("probe_id", "probe_key")
        .agg(
            F.count("*").cast("bigint").alias("n_buckets"),
            F.sum("mm_poss").cast("bigint").alias("minmax_possible"),
            F.sum("bl_poss").cast("bigint").alias("bloom_possible"),
            F.sum("is_true").cast("bigint").alias("bloom_true"),
            F.sum(
                F.expr(
                    "CASE WHEN bl_poss = 1 AND is_true = 0"
                    " THEN 1 ELSE 0 END"
                )
            )
            .cast("bigint")
            .alias("bloom_false_pos"),
            F.sum(F.expr("CASE WHEN bl_poss = 0 THEN n_rows ELSE 0 END"))
            .cast("bigint")
            .alias("rows_skipped_bloom"),
        )
        .orderBy("probe_id")
    )


# ---------------------------------------------------------------------------
# maintenance_zorder_pruning_2d
# ---------------------------------------------------------------------------

_Z2_BITS = 4  # 4 bits per dimension -> 16x16 = 256 buckets per layout


@session_artifact
def _z2_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 1-row (mnx, mxx, mny, mxy) domain frame referenced by both
    layouts AND the box panel — ckpt once per session (round-13
    lesson: an uncached in-op localCheckpoint re-derives EAGERLY on
    every DataFrame build)."""
    return (
        table(spark, sf_dir, "orders")
        .agg(
            F.expr("CAST(min(o_custkey) AS BIGINT)").alias("mnx"),
            F.expr("CAST(max(o_custkey) AS BIGINT)").alias("mxx"),
            F.expr(
                "min(CAST(o_totalprice * 100 + 0.5 AS BIGINT))"
            ).alias("mny"),
            F.expr(
                "max(CAST(o_totalprice * 100 + 0.5 AS BIGINT))"
            ).alias("mxy"),
        )
        .localCheckpoint()
    )


def _z2_morton(bx: str, by: str) -> str:
    """Closed-form Morton interleave of two 4-bit ints — 8 exact
    integer terms, identical text both engines (shifts by small
    constants only)."""
    terms = []
    for i in range(_Z2_BITS):
        terms.append(f"((({bx}) >> {i}) & 1) * {1 << (2 * i + 1)}")
        terms.append(f"((({by}) >> {i}) & 1) * {1 << (2 * i)}")
    return " + ".join(terms)


def _z2_exprs(duck: bool) -> dict:
    """Shared expression text for both engines; only cents extraction
    and integer division differ (CLAUDE.md money rule / div vs //)."""
    div = "//" if duck else "div"
    y = (
        "CAST(round(o_totalprice * 100, 0) AS BIGINT)"
        if duck
        else "CAST(o_totalprice * 100 + 0.5 AS BIGINT)"
    )
    x = "CAST(o_custkey AS BIGINT)"
    side = 1 << _Z2_BITS  # per-dimension buckets; clamp to side - 1
    bx = (
        f"least({side - 1},"
        f" (({x}) - mnx) * {side} {div} (mxx - mnx + 1))"
    )
    by = (
        f"least({side - 1},"
        f" (({y}) - mny) * {side} {div} (mxy - mny + 1))"
    )
    lin = (
        f"least({side * side - 1},"
        f" (({x}) - mnx) * {side * side} {div} (mxx - mnx + 1))"
    )
    return {"x": x, "y": y, "bx": bx, "by": by, "lin": lin}


def _z2_boxes(duck: bool) -> str:
    """4-box predicate panel: each box covers 1/8 x 1/8 of the 2-D
    domain, anchored per quadrant — integer corner arithmetic."""
    div = "//" if duck else "div"
    rows = []
    for j in range(4):
        jx, jy = j % 2, j // 2
        rows.append(
            f"SELECT CAST({j} AS BIGINT) AS box_id,"
            f" mnx + {jx} * ((mxx - mnx + 1) {div} 2)"
            f" + ((mxx - mnx + 1) {div} 8) AS qx_lo,"
            f" mnx + {jx} * ((mxx - mnx + 1) {div} 2)"
            f" + ((mxx - mnx + 1) {div} 8)"
            f" + ((mxx - mnx + 1) {div} 8) AS qx_hi,"
            f" mny + {jy} * ((mxy - mny + 1) {div} 2)"
            f" + ((mxy - mny + 1) {div} 8) AS qy_lo,"
            f" mny + {jy} * ((mxy - mny + 1) {div} 2)"
            f" + ((mxy - mny + 1) {div} 8)"
            f" + ((mxy - mny + 1) {div} 8) AS qy_hi"
            " FROM b"
        )
    return " UNION ALL ".join(rows)


def _z2_oracle() -> str:
    e = _z2_exprs(duck=True)
    return f"""
    WITH b AS (
      SELECT CAST(min(o_custkey) AS BIGINT) AS mnx,
             CAST(max(o_custkey) AS BIGINT) AS mxx,
             min(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS mny,
             max(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS mxy
      FROM orders),
    assigned AS (
      SELECT 'morton' AS layout,
             {_z2_morton(e['bx'], e['by'])} AS grp,
             {e['x']} AS x, {e['y']} AS y
      FROM orders, b
      UNION ALL
      SELECT 'linear_x', {e['lin']} AS grp, {e['x']}, {e['y']}
      FROM orders, b),
    buckets AS (
      SELECT layout, grp,
             CAST(min(x) AS BIGINT) AS bminx,
             CAST(max(x) AS BIGINT) AS bmaxx,
             CAST(min(y) AS BIGINT) AS bminy,
             CAST(max(y) AS BIGINT) AS bmaxy,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM assigned GROUP BY 1, 2),
    boxes AS ({_z2_boxes(duck=True)}),
    scored AS (
      SELECT bk.layout, bx.box_id, bk.n_rows,
             CASE WHEN bk.bmaxx < bx.qx_lo OR bk.bminx > bx.qx_hi
                    OR bk.bmaxy < bx.qy_lo OR bk.bminy > bx.qy_hi
                  THEN 1 ELSE 0 END AS pruned
      FROM buckets bk CROSS JOIN boxes bx)
    SELECT layout, box_id,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(pruned) AS BIGINT) AS buckets_pruned,
           CAST(sum(n_rows) AS BIGINT) AS rows_total,
           CAST(sum(CASE WHEN pruned = 1 THEN n_rows ELSE 0 END)
                AS BIGINT) AS rows_skipped
    FROM scored
    GROUP BY layout, box_id
    ORDER BY layout, box_id
    """


@query("maintenance_zorder_pruning_2d", oracle=_z2_oracle())
def maintenance_zorder_pruning_2d(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Z-ORDER vs LINEAR-SORT PRUNING on 2-D box predicates — the
    advisory that answers the question maintenance_rowgroup_pruning_sim
    leaves open (it shows single-column clustering wins for
    single-column predicates; THIS op shows why multi-column
    workloads need Morton interleaving): orders is bucketed 256 ways
    under (a) a Morton curve over (o_custkey, price-cents) — 4 bits
    per dimension interleaved by an 8-term exact-integer closed form
    — and (b) a 256-bucket linear sort on o_custkey alone. A 4-box
    panel (each box 1/8 x 1/8 of the joint domain) is then scored
    against per-bucket zone maps of BOTH columns: the Morton layout
    bounds both dimensions per bucket and prunes ~all non-overlapping
    cells; the linear layout bounds only x — every surviving x-slice
    bucket spans the full y domain, so ~1/8 of the table is scanned
    to serve a 1/64-area box. The row pair is the quantitative
    z-order case (Delta/Iceberg OPTIMIZE ZORDER BY).

    Parity: bucket ids (Morton interleave, rank-div formulas with
    least() clamps), box corners, and prune decisions are all exact
    BIGINT arithmetic; price cents via the asymmetric money pair
    (Spark +0.5 cast / DuckDB round — CLAUDE.md rule); both engines
    derive zone maps from data, and the mirrored-logic risk is
    covered by a plain-Python recompute pytest (round-9 rule).

    Shape at 100 TB: the bucket zone-map build is one
    map-side-combinable aggregate over the fact scan; the panel is a
    512-bucket x 4-box broadcast cross join — bounded by the layout.
    The physical rewrite this simulates is the same one-off range
    shuffle as maintenance_rowgroup_pruning_sim's clustered copy."""
    e = _z2_exprs(duck=False)
    o = table(spark, sf_dir, "orders")
    b = _z2_domain(spark, sf_dir)
    b.createOrReplaceTempView("z2_domain")
    base = o.crossJoin(F.broadcast(b))
    assigned = base.selectExpr(
        "'morton' AS layout",
        f"{_z2_morton(e['bx'], e['by'])} AS grp",
        f"{e['x']} AS x",
        f"{e['y']} AS y",
    ).unionByName(
        base.selectExpr(
            "'linear_x' AS layout",
            f"{e['lin']} AS grp",
            f"{e['x']} AS x",
            f"{e['y']} AS y",
        )
    )
    buckets = assigned.groupBy("layout", "grp").agg(
        F.min("x").cast("bigint").alias("bminx"),
        F.max("x").cast("bigint").alias("bmaxx"),
        F.min("y").cast("bigint").alias("bminy"),
        F.max("y").cast("bigint").alias("bmaxy"),
        F.count("*").cast("bigint").alias("n_rows"),
    )
    boxes = spark.sql(
        _z2_boxes(duck=False).replace("FROM b", "FROM z2_domain")
    )
    pruned = F.expr(
        "CASE WHEN bmaxx < qx_lo OR bminx > qx_hi"
        " OR bmaxy < qy_lo OR bminy > qy_hi THEN 1 ELSE 0 END"
    )
    return (
        buckets.crossJoin(F.broadcast(boxes))
        .select("layout", "box_id", "n_rows", pruned.alias("pruned"))
        .groupBy("layout", "box_id")
        .agg(
            F.count("*").cast("bigint").alias("n_buckets"),
            F.sum("pruned").cast("bigint").alias("buckets_pruned"),
            F.sum("n_rows").cast("bigint").alias("rows_total"),
            F.sum(F.expr("CASE WHEN pruned = 1 THEN n_rows ELSE 0 END"))
            .cast("bigint")
            .alias("rows_skipped"),
        )
        .orderBy("layout", "box_id")
    )
