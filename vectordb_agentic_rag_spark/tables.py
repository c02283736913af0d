"""Fixture-table access (TESTDATA.md / FIXTURES.md).

Ten driver-generated parquet tables per scale factor. Reading via
``spark.read.parquet`` keeps Catalyst in charge: column pruning and
predicate pushdown reach the parquet scan (verify with
``df.explain("formatted")`` — look for PushedFilters / ReadSchema).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .memo import session_artifact

# the checkout this package lives in; write-once layouts go under SCRATCH
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRATCH = os.path.join(REPO_ROOT, "_scratch")

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def sf_tag(sf_dir: str) -> str:
    """Scale-factor tag (e.g. ``sf0.01``) for keying scratch artifacts.

    Any materialized path or table name derived from a fixture dir MUST
    embed this tag: a fixed path + per-(session, sf) memo set silently
    serves stale data when the same session touches sf A, then B, then
    A again (the memo skips the rewrite while the file holds B's data).
    """
    return sf_dir.rstrip("/").rsplit("/", 1)[-1]


@session_artifact
def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table.

    Memoized per session: DataFrames are immutable, so handing the same
    scan plan to every query is safe and skips repeated parquet-footer
    schema reads (a py4j + filesystem roundtrip per call). Catalyst
    still prunes columns/filters per query — this caches the *plan
    root*, not data."""
    return _read_table(spark, sf_dir, name)


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown fixture table {name!r}; have {TABLES}")
    if name == "events":
        # events.ts is TIMESTAMP(NANOS) parquet, which Spark 4 rejects
        # outright (PARQUET_TYPE_ILLEGAL). Read nanos as int64 and floor
        # to microseconds — the same truncation DuckDB applies, so the
        # oracle sees identical values (FIXTURES.md: "Spark reads as µs").
        from pyspark.sql import functions as F

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # fixtures carry naive/UTC wall-clock timestamps; pin the session
        # tz so LTZ collection/arithmetic is value-preserving even under
        # the driver's own SparkSession
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        # MICROS-generation fixtures: read straight into TimestampType
        # (LTZ) at the scan — no per-row NTZ->LTZ projection cast
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        # fixture generations differ: TIMESTAMP(NANOS) parquet arrives as
        # int64 under nanosAsLong, TIMESTAMP(MICROS) as timestamp — check
        # the dtype, don't assume. Normalize to TimestampType (LTZ) so
        # unix_micros()/window() callers work.
        from pyspark.sql.types import LongType, TimestampNTZType

        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif isinstance(df.schema["ts"].dataType, TimestampNTZType):
            # defensive: a reader that bypassed the conf above
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all fixture tables as temp views for spark.sql() queries."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)


def cache_hot_tables(spark: SparkSession, sf_dir: str, names=None) -> None:
    """Pin fixture tables into Spark's in-memory columnar cache.

    The engine's buffer-pool analogue: DuckDB's warm runs re-read parquet
    through the OS page cache; Spark's InMemoryRelation additionally skips
    the per-query parquet decode, which is the steady-state a resident
    analytics service runs at. Scale note: at 100 TB you cache the *hot
    working set* (dims, current partitions), not the fact table — callers
    pass ``names`` accordingly; storage level MEMORY_AND_DISK spills
    instead of OOMing when the set is mis-sized.
    """
    for name in names or TABLES:
        table.put(spark, sf_dir, name, value=_hot_table(spark, sf_dir, name))


@session_artifact
def _hot_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    import math

    import pyarrow.parquet as pq

    df = table(spark, sf_dir, name)
    # Right-size the cached relation: the parquet scan is planned at
    # leaf-node default parallelism (32 slices here) even for a 1 MB
    # file, and an InMemoryRelation keeps its input's partitioning
    # — so every later query would schedule 32 near-empty tasks.
    #
    # Partition count tracks COMPUTE, not compressed bytes (the old
    # bytes/2MB rule put 100k events rows in ONE partition and made
    # every window sort single-threaded — measured 0.12 s vs 0.07 s
    # for the headline window query). Cost model: one array element
    # costs about one plain row (higher-order functions are
    # interpreted, not codegen'd), long text a few rows — so the
    # embeddings/documents tables get proportionally more slices.
    # Grid-measured at sf0.1: rows/2000 with these weights is the
    # flat-bottom optimum; at cluster scale the same rule lands at
    # the usual 10-50M weighted rows per 128 MB-ish partition.
    # Layout-agnostic row count: fixture tables are single files,
    # but Spark-written datasets are directories of part files.
    path = f"{sf_dir}/{name}.parquet"
    if os.path.isdir(path):
        rows = sum(
            pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
            for root, _, files in os.walk(path)
            for f in files
            if f.endswith(".parquet")
        )
    else:
        rows = pq.ParquetFile(path).metadata.num_rows
    weight = {"embeddings": 8, "documents": 2}.get(name, 1)
    k = max(1, min(16, math.ceil(rows * weight / 2000)))
    # repartition (round-robin), not coalesce: even slices matter
    # more than the one-time shuffle when the relation is reused by
    # every subsequent query
    cached = (df.coalesce(1) if k == 1 else df.repartition(k)).cache()
    cached.count()
    return cached
