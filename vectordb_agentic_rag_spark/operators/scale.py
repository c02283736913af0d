"""Scale-pattern operators: the shuffle-management techniques a 100 TB
deployment leans on, expressed as declared, oracle-checked queries.

The reference never faces these problems (its corpus is one uploaded
file, app.py:451); at cluster scale they dominate:

- **salting** splits a hot join key across N sub-keys so one skewed
  key's rows spread over N tasks instead of one straggler;
- **bucketing** pre-shuffles both join sides at write time so the join
  itself runs with NO exchange — the pattern for a fact table joined
  on the same key every day.

Both produce results identical to the naive join — the oracle is the
plain SQL join, which is the point: these are physical rewrites, not
semantic changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.money import cents, cents_to_dollars
from ..memo import session_artifact
from ..registry import query
from ..tables import sf_tag, table

N_SALT = 8


@query(
    "join_skew_salted",
    oracle="""
    SELECT o_orderpriority,
           round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100, 2) AS rev,
           count(*) AS n_items
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manually salted equi-join: the fact side tags each row with a
    deterministic salt (l_linenumber % 8 — no rand(), so the declared
    query stays reproducible), the dimension side explodes x8, and the
    join runs on (key, salt). A key carrying 10% of 100 TB now lands on
    8 tasks, not 1. AQE's skew-join split handles the common case
    automatically (session.py enables it); this is the explicit pattern
    for joins AQE can't split (e.g. under bucketed layout or
    first-stage shuffles below its thresholds). Result == naive join.
    """
    li = table(spark, sf_dir, "lineitem").withColumn(
        "salt", (F.col("l_linenumber") % N_SALT).cast("int")
    )
    o = table(spark, sf_dir, "orders").withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(N_SALT)]))
    )
    return (
        li.join(o, (li.l_orderkey == o.o_orderkey) & (li.salt == o.salt))
        .groupBy("o_orderpriority")
        .agg(
            cents_to_dollars(F.sum(cents("l_extendedprice"))).alias("rev"),
            F.count("*").alias("n_items"),
        )
    )


@query(
    "join_bucketed_colocated",
    oracle="""
    SELECT o_orderkey, o_totalprice, n_items
    FROM orders JOIN (
      SELECT l_orderkey, count(*) AS n_items FROM lineitem GROUP BY l_orderkey
    ) ON l_orderkey = o_orderkey
    WHERE n_items >= 6
    """,
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-pruned co-located join: both sides written `bucketBy(8,
    orderkey)` once, then aggregated + joined with ZERO SHUFFLE exchange
    (tests/test_plans.py asserts no `Exchange hashpartitioning`; the
    tiny side may still broadcast — that's optimal). At 100 TB
    this converts every recurring fact-fact join on the bucket key from
    a full shuffle into a local zipper merge. The bucketed copies are
    materialized once per (session, sf) into the Spark warehouse —
    the write cost is the one-time ETL cost bucketing always trades
    against recurring join savings."""
    tag = sf_tag(sf_dir).replace(".", "_")
    _ensure_bucketed(spark, sf_dir)
    o = spark.table(f"orders_b_{tag}")
    li_cnt = (
        spark.table(f"lineitem_b_{tag}")
        .groupBy("l_orderkey")
        .agg(F.count("*").alias("n_items"))
    )
    return (
        o.join(li_cnt, o.o_orderkey == li_cnt.l_orderkey)
        .where(F.col("n_items") >= 6)
        .select("o_orderkey", "o_totalprice", "n_items")
    )


@session_artifact
def _ensure_bucketed(spark: SparkSession, sf_dir: str) -> None:
    # table names are sf-keyed (dots are illegal in identifiers): a fixed
    # name + per-(session, sf) memo would serve stale buckets when one
    # session alternates between scale factors
    tag = sf_tag(sf_dir).replace(".", "_")
    for name, bucket_col in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        spark.sql(f"DROP TABLE IF EXISTS {name}_b_{tag}")
        # a previous session may have left the managed location behind
        # (catalog metadata is per-session in local mode) — remove it
        warehouse = spark.conf.get("spark.sql.warehouse.dir")
        jvm = spark._jvm
        path = jvm.org.apache.hadoop.fs.Path(f"{warehouse}/{name}_b_{tag}")
        fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(path):
            fs.delete(path, True)
        (
            # repartition on the bucket column with numPartitions ==
            # numBuckets: Spark's repartition hash == the bucketizer
            # hash (both murmur3 pmod n), so each task holds exactly
            # one bucket -> 8 output files instead of tasks x buckets
            # small files (the small-file problem compact.py handles
            # after the fact, avoided here at write time).
            table(spark, sf_dir, name)
            .repartition(8, F.col(bucket_col))
            .write.mode("overwrite")
            .bucketBy(8, bucket_col)
            .sortBy(bucket_col)
            .saveAsTable(f"{name}_b_{tag}")
        )


def _zorder_terms(a: str, b: str, bits: int, shift_fn: bool) -> str:
    """Bit-interleave SQL for a Morton (Z-order) key over two columns.

    ``shift_fn=True`` emits Spark's shiftleft/shiftright functions;
    ``False`` emits DuckDB's << / >> operators. The disjoint bit
    positions make plain addition equal to bitwise OR, keeping the
    expression a sum both engines fold identically.
    """
    terms = []
    for i in range(bits):
        if shift_fn:
            terms.append(f"shiftleft(shiftright({a}, {i}) & 1, {2 * i})")
            terms.append(f"shiftleft(shiftright({b}, {i}) & 1, {2 * i + 1})")
        else:
            terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
            terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


@query(
    "maintenance_zorder_cluster",
    oracle=f"""
    SELECT event_id,
           CAST(user_id % 256 AS INTEGER) AS u8,
           CAST(hour(ts) AS INTEGER) AS hr,
           CAST({_zorder_terms('(user_id % 256)', 'hour(ts)', 8, False)} AS INTEGER) AS zkey
    FROM events
    ORDER BY zkey, event_id
    LIMIT 100
    """,
)
def maintenance_zorder_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (user_id, hour-of-day) —
    the data-layout maintenance op behind multi-dimensional file
    skipping. Sorting a table by zkey before writing gives BOTH
    ``user_id`` range predicates and ``hour`` predicates tight
    per-file min/max bounds, where a plain lexicographic sort serves
    only its leading column. The key itself is pure row-local integer
    bit math (codegen'd, no UDF, no shuffle); the clustering write at
    scale is ``repartitionByRange(zkey).sortWithinPartitions(zkey)``
    — one range shuffle, the same cost as any global sort.

    Output pins the first 100 rows of the clustered order so the
    oracle verifies the interleave arithmetic bit-for-bit."""
    ev = table(spark, sf_dir, "events")
    zkey = F.expr(_zorder_terms("(user_id % 256)", "hour(ts)", 8, True))
    return (
        ev.select(
            "event_id",
            (F.col("user_id") % 256).cast("int").alias("u8"),
            F.hour("ts").cast("int").alias("hr"),
            zkey.cast("int").alias("zkey"),
        )
        .orderBy("zkey", "event_id")
        .limit(100)
    )


@query(
    "catalog_ddl_collection",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents WHERE doc_id % 3 = 0
    """,
)
def catalog_ddl_collection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collection DDL lifecycle (R6, app.py:81-91 create / 492-509
    drop-and-recreate on "Clear All Data"): CREATE TABLE AS SELECT a
    slice of documents into a managed catalog table, idempotently
    drop + recreate it (the reference's clear-all path), and query the
    recreated table. Catalog metadata is what lets every other engine
    surface (SQL front-end, bucketed joins, maintenance passes) find
    tables by name instead of path; at 100 TB DDL cost is metadata-only
    while the data movement is the normal parallel write."""
    tag = sf_tag(sf_dir).replace(".", "_")
    name = f"collection_{tag}"
    table(spark, sf_dir, "documents").createOrReplaceTempView("_ddl_docs")
    # drop-and-recreate is the reference's clear-all semantics; also
    # clears any managed location a previous session left behind
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(f"{warehouse}/{name}")
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(path):
        fs.delete(path, True)
    spark.sql(
        f"CREATE TABLE {name} USING parquet AS "
        "SELECT doc_id, lang, n_chars FROM _ddl_docs WHERE doc_id % 3 = 0"
    )
    return spark.sql(
        f"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM {name}"""
    )
