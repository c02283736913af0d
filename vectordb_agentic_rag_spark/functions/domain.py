"""Distributed prefix sums over fact-scaled value domains.

The round-10 verdict's plan finding: an unpartitioned
``Window.orderBy(...)`` over a domain whose cardinality grows with a
fact key (per-user cents, per-part revenue, distinct prices) is a
single-partition sort of the world at 100 TB — even when the domain is
smaller than the fact table.  Bounded domains (days, event types,
deciles, top-k survivor lists, config-sized operating-point panels)
are fine; fact-scaled ones get THIS two-level decomposition:

1. ``repartitionByRange`` on the total order — equal keys land in one
   bucket by construction, buckets are ordered by ``spark_partition_id``;
2. per-bucket totals, cumulated EXCLUSIVELY over the bucket frame
   (<= ``buckets`` rows — bounded by a config constant, not by data);
3. a PARTITIONED exclusive cumulative within each bucket;
4. prefix = bucket offset + within-bucket cumulative — exact regardless
   of where the sampled range boundaries land.

The bucket assignment is localCheckpointed so the two references (the
totals aggregate and the within-bucket window) see ONE assignment —
range-boundary sampling must not run twice.  ``agg_qini_uplift_curve``
is the worked example with the plan pin
(tests/test_plans.py::test_qini_score_domain_cumsum_partitioned).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..memo import session_artifact


def dist_exclusive_prefix(
    df: DataFrame,
    order: list[tuple[str, bool]],
    sums: list[str],
    buckets: int = 16,
    cache_key: str | None = None,
) -> DataFrame:
    """All of ``df``'s columns plus one ``_pre_<c>`` EXCLUSIVE-prefix
    column per ``c`` in ``sums``, under the total order given by
    ``order`` (``[(column, descending), ...]``).  Rows with equal full
    order keys share one range bucket, so prefixes are well-defined;
    callers here all order by a key that is unique per row.  Sum
    columns keep their natural Spark sum type (BIGINT -> BIGINT,
    DECIMAL(p,s) -> widened DECIMAL) — cast at the call site.

    The bucket assignment's localCheckpoint is EAGER per DataFrame
    build (the r13 lesson: a ckpt inside an op body re-derives on every
    build — for the abc-pareto caller that was a full fact groupBy +
    range shuffle per call); callers whose ``df`` is a pure function of
    (session, ``cache_key``) pass ``cache_key`` to run it once per
    session."""
    cols = [F.col(c).desc() if d else F.col(c).asc() for c, d in order]
    if cache_key is None:
        dfp = _range_buckets(df, cols, buckets)
    else:
        dfp = _shared_range_buckets(
            df.sparkSession, cache_key, df=df, cols=cols, buckets=buckets
        )
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = dfp.groupBy("_pid").agg(
        *[F.sum(c).alias(f"_t_{c}") for c in sums]
    )
    offs = offs.select(
        "_pid",
        *[
            F.coalesce(F.sum(f"_t_{c}").over(w_off), F.lit(0)).alias(
                f"_o_{c}"
            )
            for c in sums
        ],
    )
    w_in = (
        Window.partitionBy("_pid")
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = dfp
    for c in sums:
        out = out.withColumn(
            f"_w_{c}", F.coalesce(F.sum(c).over(w_in), F.lit(0))
        )
    out = out.join(F.broadcast(offs), "_pid")
    for c in sums:
        out = out.withColumn(f"_pre_{c}", F.col(f"_o_{c}") + F.col(f"_w_{c}"))
    return out.drop(
        "_pid",
        *[f"_o_{c}" for c in sums],
        *[f"_w_{c}" for c in sums],
    )


def _range_buckets(df: DataFrame, cols: list, buckets: int) -> DataFrame:
    return (
        df.repartitionByRange(buckets, *cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()
    )


@session_artifact
def _shared_range_buckets(spark, cache_key: str, *, df, cols, buckets):
    return _range_buckets(df, cols, buckets)
