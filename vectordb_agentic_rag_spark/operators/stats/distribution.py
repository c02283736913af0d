"""Distribution, inequality and dependence measures: moment and
L-moment summaries, parametric fits, tail indexes, concentration and
inequality indexes, rank correlations, distribution distances and
privacy spectra (k-anonymity, l-diversity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ...functions.domain import dist_exclusive_prefix
from ...memo import session_artifact
from ...registry import query
from ...tables import table
from ..dedup import _KM_D
from ..windows import _purchase_day_totals


# ---------------------------------------------------------------------------
# agg_gini_concentration
# ---------------------------------------------------------------------------


@query(
    "agg_gini_concentration",
    oracle="""
    WITH rev AS (
      SELECT c.c_custkey, c.c_nationkey AS nationkey,
             CAST(coalesce(sum(CAST(o.o_totalprice AS DECIMAL(18,6))), 0)
                  AS DECIMAL(18,6)) AS revenue
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey, c.c_nationkey),
    ranked AS (
      SELECT nationkey, revenue,
             row_number() OVER (PARTITION BY nationkey
                                ORDER BY revenue, c_custkey) AS i
      FROM rev),
    s AS (
      SELECT nationkey, count(*) AS n,
             CAST(sum(i * revenue) AS DOUBLE) AS swx,
             CAST(sum(revenue) AS DOUBLE) AS sx
      FROM ranked GROUP BY nationkey)
    SELECT nationkey, CAST(n AS BIGINT) AS n_customers,
           CASE WHEN sx > 0
                THEN round((2.0 * swx) / (n * sx)
                           - (n + 1.0) / n, 6)
           END AS gini
    FROM s
    """,
)
def agg_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GINI COEFFICIENT of customer revenue per nation — the standard
    concentration metric (whale-dependence of a market; the identical
    formula measures token-frequency concentration of a corpus):
    G = 2*sum(i*x_i)/(n*sum(x_i)) - (n+1)/n over ascending-sorted
    revenues. Customers with no orders count with revenue 0 (dropping
    them understates concentration — the classic mistake).

    One join shuffle builds per-customer revenue; the rank window and
    both sums ride the nation partitioning (bounded groups). Parity:
    revenues accumulate as DECIMAL(18,6) money (exact, order-
    independent — the rank weight i is an exact integer), one double
    division chain at the end, round(6). All-zero nations yield NULL
    on both engines."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    rev = (
        cust.join(
            orders, cust.c_custkey == orders.o_custkey, "left"
        )
        .groupBy("c_custkey", F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.coalesce(
                F.sum(F.col("o_totalprice").cast("decimal(18,6)")),
                F.lit(0),
            )
            .cast("decimal(18,6)")
            .alias("revenue")
        )
    )
    wr = Window.partitionBy("nationkey").orderBy("revenue", "c_custkey")
    ranked = rev.withColumn("i", F.row_number().over(wr))
    s = ranked.groupBy("nationkey").agg(
        F.count("*").alias("n"),
        F.sum(F.col("i") * F.col("revenue")).cast("double").alias("swx"),
        F.sum("revenue").cast("double").alias("sx"),
    )
    gini = F.round(
        (2.0 * F.col("swx")) / (F.col("n") * F.col("sx"))
        - (F.col("n") + 1.0) / F.col("n"),
        6,
    )
    return s.select(
        "nationkey",
        F.col("n").cast("bigint").alias("n_customers"),
        F.when(F.col("sx") > 0, gini).alias("gini"),
    )


# ---------------------------------------------------------------------------
# agg_degree_assortativity
# ---------------------------------------------------------------------------


@query(
    "agg_degree_assortativity",
    oracle="""
    WITH os AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM os a JOIN os b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2),
    deg AS (
      SELECT n, count(*) AS d FROM (
        SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e) z
      GROUP BY n),
    ed AS (
      SELECT du.d AS du, dv.d AS dv
      FROM e JOIN deg du ON e.u = du.n JOIN deg dv ON e.v = dv.n),
    s AS (
      SELECT CAST(2 * count(*) AS BIGINT) AS m2,
             CAST(sum(du + dv) AS BIGINT) AS s1,
             CAST(sum(CAST(du AS BIGINT)*du + CAST(dv AS BIGINT)*dv)
                  AS BIGINT) AS s2,
             CAST(2 * sum(CAST(du AS BIGINT) * dv) AS BIGINT) AS p
      FROM ed)
    SELECT CAST(m2 / 2 AS BIGINT) AS n_edges,
           round((m2 * CAST(p AS DOUBLE) - CAST(s1 AS DOUBLE) * s1)
                 / (m2 * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1), 6)
             AS assortativity
    FROM s
    WHERE m2 * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 <> 0
    """,
)
def agg_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEGREE ASSORTATIVITY (Newman 2002) of the support-2 part
    CO-PURCHASE graph (parts sharing >= 2 orders — the co-SUPPLY graph
    is degree-REGULAR at small sf: complete, every degree equal, so
    its assortativity is 0/0 by construction; the part graph keeps
    degree variance at every fixture scale):
    the Pearson correlation of endpoint degrees over all edges
    — one number that says whether hubs link to hubs (r > 0, social
    graphs) or hubs link to leaves (r < 0, infrastructure). The
    graph-level summary that tells you whether degree-based
    partitioning/salting will face hub-hub super-edges at scale.

    Scale shape: degrees are one hash aggregate; the edge-degree join
    shuffles the edge list twice on node keys; the correlation is ONE
    map-side-combinable aggregate of integer moments (each directed
    endpoint pair counted once per direction via the symmetric sums —
    no materialized doubled edge list). Everything stays integer until
    the single final division.

    Parity: all moments are exact BIGINTs; both engines assemble
    r = (M*P - S1^2) / (M*S2 - S1^2) from the same integers with the
    identical expression shape, one round(6)."""
    li = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    e = (
        a.join(b, "ok")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("ns"))
        .where(F.col("ns") >= 2)
        .select("u", "v")
    )
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    ed = (
        e.join(deg.select(F.col("n").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("n").alias("v"), F.col("d").alias("dv")), "v")
        .select("du", "dv")
    )
    s = ed.agg(
        (2 * F.count("*")).cast("bigint").alias("m2"),
        F.sum(F.col("du") + F.col("dv")).cast("bigint").alias("s1"),
        F.sum(
            F.col("du").cast("bigint") * F.col("du")
            + F.col("dv").cast("bigint") * F.col("dv")
        )
        .cast("bigint")
        .alias("s2"),
        (2 * F.sum(F.col("du").cast("bigint") * F.col("dv")))
        .cast("bigint")
        .alias("p"),
    )
    denom = F.col("m2") * F.col("s2").cast("double") - F.col("s1").cast(
        "double"
    ) * F.col("s1")
    return s.where(denom != 0).select(
        (F.col("m2") / 2).cast("bigint").alias("n_edges"),
        F.round(
            (F.col("m2") * F.col("p").cast("double")
             - F.col("s1").cast("double") * F.col("s1"))
            / denom,
            6,
        ).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# agg_covariance_matrix
# ---------------------------------------------------------------------------


def _cov_oracle() -> str:
    dims = range(1, _KM_D + 1)
    moms = ", ".join(
        f"sum(CAST(e{i} AS DECIMAL(18,9)) * CAST(e{j} AS DECIMAL(18,9))) AS s{i}_{j}"
        for i in dims
        for j in dims
        if i <= j
    )
    sums = ", ".join(f"sum(CAST(e{i} AS DECIMAL(28,9))) AS s{i}" for i in dims)
    outs = ", ".join(
        f"round(CAST(s{i}_{j} AS DOUBLE) / n "
        f"- (CAST(s{i} AS DOUBLE) / n) * (CAST(s{j} AS DOUBLE) / n), 6) "
        f"AS cov_{i}_{j}"
        for i in dims
        for j in dims
        if i <= j
    )
    return f"""
    WITH pts AS (SELECT {", ".join(
        f"round(CAST(list_extract(embedding, {i}) AS DOUBLE), 9) AS e{i}"
        for i in dims)}
      FROM embeddings),
    m AS (SELECT CAST(count(*) AS BIGINT) AS n, {sums}, {moms} FROM pts)
    SELECT n, {outs} FROM m
    """


@query("agg_covariance_matrix", oracle=_cov_oracle())
def agg_covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COVARIANCE MATRIX of the 8-dim matryoshka prefix in ONE scan —
    the input statistic under PCA (vec_pca_power_iter computes it
    per-iteration from the same raw moments), whitening, and Mahalanobis
    outlier gates. All 36 upper-triangle covariances come from a single
    map-side-combinable aggregate of DECIMAL raw moments: no per-pair
    passes, no corpus re-scan per entry — the textbook 'sufficient
    statistics beat resampling' shape for 100 TB (same recipe as
    agg_moments_stats, widened to the full pairwise triangle).

    Parity: inputs round(9)-quantized, moment sums exact DECIMAL
    (order-independent), each covariance assembled from the identical
    CAST-DOUBLE expression (E[xy] - E[x]E[y]), one round(6) each.

    Build cost: the 45 aggregate + 36 output expressions render as
    THREE selectExpr string calls (round-15; the per-Column py4j tree
    made each DataFrame build ~1.1 s in the per-op audit while
    execution was 76 ms — the round-2 one-expr-string rule)."""
    emb = table(spark, sf_dir, "embeddings")
    dims = range(1, _KM_D + 1)
    pts = emb.selectExpr(
        *[
            f"round(CAST(element_at(embedding, {i}) AS DOUBLE), 9) AS e{i}"
            for i in dims
        ]
    )
    m = pts.selectExpr(
        "CAST(count(*) AS BIGINT) AS n",
        *[f"sum(CAST(e{i} AS DECIMAL(28,9))) AS s{i}" for i in dims],
        *[
            # decimal(18,9): the product is (37,18) — exact; (28,9)
            # squared overflows precision and Spark truncates the scale
            # to 6 (the round-7 CLAUDE.md multiply pitfall)
            f"sum(CAST(e{i} AS DECIMAL(18,9))"
            f" * CAST(e{j} AS DECIMAL(18,9))) AS s{i}_{j}"
            for i in dims
            for j in dims
            if i <= j
        ],
    )
    return m.selectExpr(
        "n",
        *[
            f"round(CAST(s{i}_{j} AS DOUBLE) / n"
            f" - (CAST(s{i} AS DOUBLE) / n)"
            f" * (CAST(s{j} AS DOUBLE) / n), 6) AS cov_{i}_{j}"
            for i in dims
            for j in dims
            if i <= j
        ],
    )


# ---------------------------------------------------------------------------
# agg_mutual_information
# ---------------------------------------------------------------------------


@query(
    "agg_mutual_information",
    oracle="""
    WITH j AS (
      SELECT event_type AS et, CAST(floor(value / 50) AS BIGINT) AS vb,
             count(*) AS c
      FROM events GROUP BY 1, 2),
    tot AS (SELECT sum(c) AS n FROM j),
    mrow AS (SELECT et, sum(c) AS cr FROM j GROUP BY et),
    mcol AS (SELECT vb, sum(c) AS cc FROM j GROUP BY vb)
    SELECT CAST(tot.n AS BIGINT) AS n_events,
           CAST((SELECT count(*) FROM j) AS BIGINT) AS n_cells,
           round(CAST(sum(CAST(round(
             (CAST(j.c AS DOUBLE) / tot.n)
             * ln((CAST(j.c AS DOUBLE) * tot.n)
                  / (CAST(mrow.cr AS DOUBLE) * mcol.cc)), 9)
             AS DECIMAL(28,9))) AS DOUBLE), 6) AS mi_nats
    FROM j
    JOIN mrow ON j.et = mrow.et
    JOIN mcol ON j.vb = mcol.vb
    CROSS JOIN tot
    GROUP BY tot.n
    """,
)
def agg_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MUTUAL INFORMATION between event type and the value's 50-unit
    bucket — the dependence screen a feature pipeline runs before
    treating columns as independent (0 nats = independent; here the
    per-type value distributions differ, so MI > 0). The plug-in
    estimator I = sum p(x,y) ln(p(x,y)/(p(x)p(y))) over the joint
    contingency table.

    Shape at scale: ONE shuffle builds the joint table (map-side
    combine collapses events to |types| x |buckets| cells); marginals
    re-aggregate the CELLS, not the events; the MI sum runs over the
    tiny contingency table with both marginals broadcast. Same
    integers-first discipline as agg_chi_square_independence.

    Parity: all counts exact integers; each cell's term is one
    identically-shaped double expression, round(9)-quantized into a
    DECIMAL sum (order-independent), one final round(6)."""
    ev = table(spark, sf_dir, "events")
    j = ev.select(
        F.col("event_type").alias("et"),
        F.expr("CAST(floor(value / 50) AS BIGINT)").alias("vb"),
    ).groupBy("et", "vb").agg(F.count("*").alias("c"))
    tot = j.agg(F.sum("c").alias("n"), F.count("*").alias("n_cells"))
    mrow = j.groupBy("et").agg(F.sum("c").alias("cr"))
    mcol = j.groupBy("vb").agg(F.sum("c").alias("cc"))
    term = F.expr(
        "CAST(round((CAST(c AS DOUBLE) / n) "
        "* ln((CAST(c AS DOUBLE) * n) / (CAST(cr AS DOUBLE) * cc)), 9) "
        "AS DECIMAL(28,9))"
    )
    return (
        j.join(F.broadcast(mrow), "et")
        .join(F.broadcast(mcol), "vb")
        .crossJoin(F.broadcast(tot))
        .groupBy("n")
        .agg(
            F.max("n_cells").cast("bigint").alias("n_cells"),
            F.round(F.sum(term).cast("double"), 6).alias("mi_nats"),
        )
        .select(
            F.col("n").cast("bigint").alias("n_events"), "n_cells", "mi_nats"
        )
    )


@query(
    "agg_spearman_corr",
    oracle="""
    WITH xr AS (
      SELECT l_quantity AS v,
             CAST(2 * coalesce(sum(c) OVER (ORDER BY l_quantity
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  + c + 1 AS BIGINT) AS r2
      FROM (SELECT l_quantity, CAST(count(*) AS BIGINT) AS c
            FROM lineitem GROUP BY l_quantity) t),
    yr AS (
      SELECT l_extendedprice AS v,
             CAST(2 * coalesce(sum(c) OVER (ORDER BY l_extendedprice
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  + c + 1 AS BIGINT) AS r2
      FROM (SELECT l_extendedprice, CAST(count(*) AS BIGINT) AS c
            FROM lineitem GROUP BY l_extendedprice) t),
    j AS (
      SELECT xr.r2 AS x2, yr.r2 AS y2
      FROM lineitem l
      JOIN xr ON xr.v = l.l_quantity
      JOIN yr ON yr.v = l.l_extendedprice),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(x2 AS DECIMAL(38,0))) AS DOUBLE) AS sx,
             CAST(sum(CAST(y2 AS DECIMAL(38,0))) AS DOUBLE) AS sy,
             CAST(sum(CAST(x2 AS DECIMAL(19,0))
                      * CAST(y2 AS DECIMAL(19,0))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(x2 AS DECIMAL(19,0))
                      * CAST(x2 AS DECIMAL(19,0))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(y2 AS DECIMAL(19,0))
                      * CAST(y2 AS DECIMAL(19,0))) AS DOUBLE) AS syy
      FROM j)
    SELECT n,
           round((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)),
                 6) AS spearman_rho
    FROM s
    """,
)
def agg_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPEARMAN RANK CORRELATION between l_quantity and
    l_extendedprice — the monotone-dependence measure a data-quality
    monitor prefers over Pearson (price scales with quantity
    nonlinearly through per-part prices; rank correlation is
    invariant to that). Tie handling is the full tied-average-rank
    formula, evaluated as Pearson over the rank variables.

    Rank statistics WITHOUT per-row ranks (the agg_mann_whitney_u
    machinery): each variable collapses to its VALUE DOMAIN, tied
    average ranks reconstruct from cumulative counts as the INTEGER
    R2 = 2*cum_less + count + 1 (doubled so .5s never appear), and
    rows join their rank by value key — the only ordered cumulative
    runs over the bounded domain, never the fact table. Rank products
    square inside DECIMAL(19,0)x(19,0) (exact; DuckDB's width-19
    operands force the HUGEINT kernel — the round-7 squares rule),
    sums are exact decimals, and the one float expression — the
    Pearson ratio over six exact aggregates — shares text on both
    engines before round(6)."""
    li = table(spark, sf_dir, "lineitem")

    def ranks(col: str, bounded: bool) -> DataFrame:
        cnt = li.groupBy(col).agg(F.count("*").cast("bigint").alias("c"))
        if bounded:
            # quantity domain is 1..50 — a bounded window is fine
            wd = Window.orderBy(col).rowsBetween(
                Window.unboundedPreceding, -1
            )
            pre = F.coalesce(F.sum("c").over(wd), F.lit(0))
            cum = cnt.withColumn("_pre_c", pre)
        else:
            # the price domain is part-grain — distributed prefix sum
            # (functions/domain.py; round-10 verdict window rule)
            cum = dist_exclusive_prefix(
                cnt, [(col, False)], ["c"],
                cache_key=f"spearman:{col}:{sf_dir}",
            )
        return cum.select(
            F.col(col).alias("v"),
            (2 * F.col("_pre_c") + F.col("c") + 1)
            .cast("bigint")
            .alias("r2"),
        )

    xr = ranks("l_quantity", bounded=True).select(
        F.col("v").alias("l_quantity"), F.col("r2").alias("x2")
    )
    yr = ranks("l_extendedprice", bounded=False).select(
        F.col("v").alias("l_extendedprice"), F.col("r2").alias("y2")
    )
    j = (
        li.select("l_quantity", "l_extendedprice")
        .join(F.broadcast(xr), "l_quantity")
        .join(yr, "l_extendedprice")
    )
    s = j.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.expr("CAST(x2 AS DECIMAL(38,0))")).cast("double").alias("sx"),
        F.sum(F.expr("CAST(y2 AS DECIMAL(38,0))")).cast("double").alias("sy"),
        F.sum(
            F.expr("CAST(x2 AS DECIMAL(19,0)) * CAST(y2 AS DECIMAL(19,0))")
        )
        .cast("double")
        .alias("sxy"),
        F.sum(
            F.expr("CAST(x2 AS DECIMAL(19,0)) * CAST(x2 AS DECIMAL(19,0))")
        )
        .cast("double")
        .alias("sxx"),
        F.sum(
            F.expr("CAST(y2 AS DECIMAL(19,0)) * CAST(y2 AS DECIMAL(19,0))")
        )
        .cast("double")
        .alias("syy"),
    )
    return s.selectExpr(
        "n",
        "round((n * sxy - sx * sy)"
        " / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)"
        " AS spearman_rho",
    )


# ---------------------------------------------------------------------------
# agg_kendall_tau_grid
# ---------------------------------------------------------------------------


@query(
    "agg_kendall_tau_grid",
    oracle="""
    WITH pts AS (
      SELECT CAST(l_quantity AS BIGINT) AS a,
             CAST(floor(l_extendedprice / 1000) AS BIGINT) AS b
      FROM lineitem),
    cells AS (SELECT a, b, CAST(count(*) AS BIGINT) AS nn
              FROM pts GROUP BY a, b),
    grid AS (
      SELECT da.a, db.b, coalesce(c.nn, 0) AS nn
      FROM (SELECT DISTINCT a FROM cells) da
      CROSS JOIN (SELECT DISTINCT b FROM cells) db
      LEFT JOIN cells c ON c.a = da.a AND c.b = db.b),
    rowc AS (
      SELECT a, b, nn,
             CAST(sum(nn) OVER (PARTITION BY a ORDER BY b
                                ROWS UNBOUNDED PRECEDING) - nn
                  AS BIGINT) AS cb,
             CAST(sum(nn) OVER (PARTITION BY a) AS BIGINT) AS rtot,
             CAST(sum(nn) OVER (PARTITION BY a ORDER BY b
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS rc
      FROM grid),
    pref AS (
      SELECT a, b, nn,
             CAST(coalesce(sum(cb) OVER (PARTITION BY b ORDER BY a
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS p_cd,
             CAST(coalesce(sum(rtot - rc) OVER (PARTITION BY b ORDER BY a
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS p_dc
      FROM rowc),
    cd AS (
      SELECT CAST(sum(nn * p_cd) AS BIGINT) AS c_pairs,
             CAST(sum(nn * p_dc) AS BIGINT) AS d_pairs
      FROM pref),
    ties AS (
      SELECT CAST((SELECT count(*) FROM pts) AS BIGINT) AS n,
             CAST((SELECT sum(t * (t - 1) / 2) FROM
                   (SELECT count(*) AS t FROM pts GROUP BY a) x)
                  AS BIGINT) AS n1,
             CAST((SELECT sum(t * (t - 1) / 2) FROM
                   (SELECT count(*) AS t FROM pts GROUP BY b) y)
                  AS BIGINT) AS n2)
    SELECT n, c_pairs, d_pairs,
           round((c_pairs - d_pairs)
                 / sqrt(CAST(n * (n - 1) / 2 - n1 AS DOUBLE)
                        * CAST(n * (n - 1) / 2 - n2 AS DOUBLE)), 6)
             AS kendall_tau_b
    FROM cd CROSS JOIN ties
    """,
)
def agg_kendall_tau_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KENDALL'S TAU-B between quantity and price magnitude — the
    other standard rank-dependence measure next to agg_spearman_corr
    (tau has the cleaner probabilistic reading: P(concordant) -
    P(discordant)), with full tie correction. The y side is
    deliberately the floor(price/1000) magnitude grid: Kendall on raw
    pairs is O(n^2), but on a BOUNDED 2D GRID concordance becomes a
    prefix-sum identity — exactly how histogram-based libraries make
    tau tractable.

    Scale shape: the fact table collapses to grid-cell counts (one
    map-side-combined groupBy); the grid dense-ifies by a
    domain-bounded cross join; concordant/discordant pair counts are
    TWO cumulative windows over the grid (strictly-less row prefix,
    then strictly-less column prefix of it) and one weighted sum —
    the corpus is never pair-joined or sorted. All pair counts are
    exact integers; the single float is the final tau ratio (shared
    text, round 6)."""
    li = table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_quantity").cast("bigint").alias("a"),
        F.expr("CAST(floor(l_extendedprice / 1000) AS BIGINT)").alias("b"),
    )
    cells = pts.groupBy("a", "b").agg(
        F.count("*").cast("bigint").alias("nn")
    )
    da = cells.select("a").distinct()
    db = cells.select("b").distinct()
    grid = (
        da.crossJoin(db)
        .join(cells, ["a", "b"], "left")
        .select("a", "b", F.coalesce("nn", F.lit(0)).alias("nn"))
    )
    w_row = Window.partitionBy("a").orderBy("b").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    rowc = grid.select(
        "a",
        "b",
        "nn",
        (F.sum("nn").over(w_row) - F.col("nn")).cast("bigint").alias("cb"),
        F.sum("nn").over(Window.partitionBy("a")).cast("bigint").alias("rtot"),
        F.sum("nn").over(w_row).cast("bigint").alias("rc"),
    )
    w_col = Window.partitionBy("b").orderBy("a").rowsBetween(
        Window.unboundedPreceding, -1
    )
    pref = rowc.select(
        "a",
        "b",
        "nn",
        F.coalesce(F.sum("cb").over(w_col), F.lit(0))
        .cast("bigint")
        .alias("p_cd"),
        F.coalesce(F.sum(F.col("rtot") - F.col("rc")).over(w_col), F.lit(0))
        .cast("bigint")
        .alias("p_dc"),
    )
    cd = pref.agg(
        F.sum(F.col("nn") * F.col("p_cd")).cast("bigint").alias("c_pairs"),
        F.sum(F.col("nn") * F.col("p_dc")).cast("bigint").alias("d_pairs"),
    )
    ta = pts.groupBy("a").agg(F.count("*").alias("t")).agg(
        F.sum(F.expr("t * (t - 1) / 2")).cast("bigint").alias("n1")
    )
    tb = pts.groupBy("b").agg(F.count("*").alias("t")).agg(
        F.sum(F.expr("t * (t - 1) / 2")).cast("bigint").alias("n2")
    )
    n = pts.agg(F.count("*").cast("bigint").alias("n"))
    return (
        cd.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(ta))
        .crossJoin(F.broadcast(tb))
        .selectExpr(
            "n",
            "c_pairs",
            "d_pairs",
            "round((c_pairs - d_pairs)"
            " / sqrt(CAST(n * (n - 1) / 2 - n1 AS DOUBLE)"
            " * CAST(n * (n - 1) / 2 - n2 AS DOUBLE)), 6)"
            " AS kendall_tau_b",
        )
    )


# ---------------------------------------------------------------------------
# agg_trimmed_winsorized_stats
# ---------------------------------------------------------------------------

_TRIM_PCT_NUM, _TRIM_PCT_DEN = 5, 100  # 5% per tail, integer-exact


@query(
    "agg_trimmed_winsorized_stats",
    oracle=f"""
    WITH v AS (
      SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS vc
      FROM events),
    dom AS (
      SELECT event_type, vc, CAST(count(*) AS BIGINT) AS c
      FROM v GROUP BY event_type, vc),
    cum AS (
      SELECT event_type, vc, c,
             CAST(coalesce(sum(c) OVER (PARTITION BY event_type ORDER BY vc
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS cb,
             CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM dom),
    k AS (
      SELECT *, n * {_TRIM_PCT_NUM} // {_TRIM_PCT_DEN} AS kt FROM cum),
    inter AS (
      SELECT event_type, n, kt,
             CAST(sum(vc * greatest(0,
               least(cb + c, n - kt) - greatest(cb + 1, kt + 1) + 1))
               AS BIGINT) AS tsum,
             CAST(max(CASE WHEN cb < kt + 1 AND kt + 1 <= cb + c
                           THEN vc END) AS BIGINT) AS v_lo,
             CAST(max(CASE WHEN cb < n - kt AND n - kt <= cb + c
                           THEN vc END) AS BIGINT) AS v_hi
      FROM k GROUP BY event_type, n, kt)
    SELECT event_type, n, kt AS n_trimmed_per_tail,
           round(CAST(tsum AS DOUBLE) / (n - 2 * kt) / 100.0, 6)
             AS trimmed_mean,
           round(CAST(tsum + kt * (v_lo + v_hi) AS DOUBLE) / n / 100.0, 6)
             AS winsorized_mean,
           round(CAST(v_lo AS DOUBLE) / 100.0, 6) AS p_lo,
           round(CAST(v_hi AS DOUBLE) / 100.0, 6) AS p_hi
    FROM inter
    """,
)
def agg_trimmed_winsorized_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ROBUST LOCATION per event type: the 5%-per-tail TRIMMED mean
    (drop the tails) and WINSORIZED mean (clamp the tails to the 5th/
    95th order statistics) — what a monitoring pipeline reports when
    agg_moments_stats' plain mean is hostage to the heavy tail the
    Hill estimator just diagnosed. p_lo/p_hi are the exact clamp
    values (order statistics, not interpolated quantiles).

    Exact rank machinery, never a per-row sort: values quantize to
    integer cents, collapse to the per-type VALUE DOMAIN, and one
    cumulative window over the domain gives every value-run its rank
    interval [cb+1, cb+c]; each run contributes
    overlap([cb+1, cb+c], [kt+1, n-kt]) copies to the trimmed sum —
    pure integer interval arithmetic — and the two clamp values are
    the runs whose intervals contain ranks kt+1 and n-kt. Integer
    cents end-to-end; two final divisions, round(6)."""
    ev = table(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        F.expr("CAST(round(value * 100, 0) AS BIGINT)").alias("vc"),
    )
    dom = v.groupBy("event_type", "vc").agg(
        F.count("*").cast("bigint").alias("c")
    )
    wd = (
        Window.partitionBy("event_type")
        .orderBy("vc")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = dom.select(
        "event_type",
        "vc",
        "c",
        F.coalesce(F.sum("c").over(wd), F.lit(0)).cast("bigint").alias("cb"),
        F.sum("c")
        .over(Window.partitionBy("event_type"))
        .cast("bigint")
        .alias("n"),
    )
    k = cum.withColumn(
        "kt", F.expr(f"n * {_TRIM_PCT_NUM} div {_TRIM_PCT_DEN}")
    )
    inter = k.groupBy("event_type", "n", "kt").agg(
        F.sum(
            F.expr(
                "vc * greatest(0, least(cb + c, n - kt)"
                " - greatest(cb + 1, kt + 1) + 1)"
            )
        )
        .cast("bigint")
        .alias("tsum"),
        F.max(
            F.expr("CASE WHEN cb < kt + 1 AND kt + 1 <= cb + c THEN vc END")
        )
        .cast("bigint")
        .alias("v_lo"),
        F.max(
            F.expr("CASE WHEN cb < n - kt AND n - kt <= cb + c THEN vc END")
        )
        .cast("bigint")
        .alias("v_hi"),
    )
    return inter.selectExpr(
        "event_type",
        "n",
        "kt AS n_trimmed_per_tail",
        "round(CAST(tsum AS DOUBLE) / (n - 2 * kt) / 100.0, 6)"
        " AS trimmed_mean",
        "round(CAST(tsum + kt * (v_lo + v_hi) AS DOUBLE) / n / 100.0, 6)"
        " AS winsorized_mean",
        "round(CAST(v_lo AS DOUBLE) / 100.0, 6) AS p_lo",
        "round(CAST(v_hi AS DOUBLE) / 100.0, 6) AS p_hi",
    )


# ---------------------------------------------------------------------------
# agg_abc_pareto_class
# ---------------------------------------------------------------------------


@query(
    "agg_abc_pareto_class",
    oracle="""
    WITH rev AS (
      SELECT l_partkey,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,2))))
                  AS DECIMAL(28,4)) AS r
      FROM lineitem GROUP BY l_partkey),
    cum AS (
      SELECT l_partkey, r,
             CAST(coalesce(sum(r) OVER (ORDER BY r DESC, l_partkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   CAST(0 AS DECIMAL(28,4))) AS DECIMAL(28,4)) AS cb,
             CAST((SELECT sum(r) FROM rev) AS DECIMAL(28,4)) AS tot
      FROM rev),
    cls AS (
      SELECT CASE WHEN cb * 100 < tot * 80 THEN 'A'
                  WHEN cb * 100 < tot * 95 THEN 'B'
                  ELSE 'C' END AS abc_class,
             r, tot
      FROM cum)
    SELECT abc_class,
           CAST(count(*) AS BIGINT) AS n_parts,
           round(CAST(sum(r) AS DOUBLE), 2) AS revenue,
           round(CAST(sum(r) AS DOUBLE) / CAST(max(tot) AS DOUBLE), 6)
             AS revenue_share
    FROM cls GROUP BY abc_class
    """,
)
def agg_abc_pareto_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (PARETO) CLASSIFICATION of parts by revenue — the
    warehouse-management classic: class A = parts covering the first
    80% of cumulative revenue (ranked by revenue descending), B the
    next 15%, C the tail — inventory policy, cache tiering, and "what
    to optimize first" all read this table. A part's class depends on
    the revenue of everything ABOVE it, hence the cumulative share.

    Exactness: per-part revenue is the exact DECIMAL money sum
    (price(2dp) x (1-disc)(2dp) = 4dp, order-independent); the class
    boundaries are integer cross-multiplications of exact decimals
    (cb*100 < tot*80), never a float share; the reported share
    divides once, round(6).

    Scale shape: revenue collapses to the PART DIMENSION first (one
    fact-table groupBy, map-side combined) — the ordered cumulative
    window runs over the dimension, which is the object whose global
    order the business question is ABOUT (at 100 TB: a range-
    partitioned sort of millions of parts, decoupled from billions of
    fact rows)."""
    li = table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.expr(
            "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))"
            " * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(28,4))"
        ).alias("r")
    )
    tot = rev.agg(
        F.expr("CAST(sum(r) AS DECIMAL(28,4))").alias("tot")
    )
    # the revenue-DESC cumulative runs over the PART dimension —
    # fact-key-grain, so it takes the distributed two-level prefix
    # sum, never a single-partition sort (functions/domain.py)
    cum = (
        dist_exclusive_prefix(
            rev, [("r", True), ("l_partkey", False)], ["r"],
            cache_key=f"abc_rev:{sf_dir}",
        )
        .select(
            "l_partkey",
            "r",
            F.col("_pre_r").cast("decimal(28,4)").alias("cb"),
        )
        .crossJoin(F.broadcast(tot))
    )
    cls = cum.selectExpr(
        """CASE WHEN cb * 100 < tot * 80 THEN 'A'
                WHEN cb * 100 < tot * 95 THEN 'B'
                ELSE 'C' END AS abc_class""",
        "r",
        "tot",
    )
    return cls.groupBy("abc_class").agg(
        F.count("*").cast("bigint").alias("n_parts"),
        F.round(F.sum("r").cast("double"), 2).alias("revenue"),
        F.round(
            F.sum("r").cast("double") / F.max("tot").cast("double"), 6
        ).alias("revenue_share"),
    )


# ---------------------------------------------------------------------------
# agg_overdispersion_nb_fit
# ---------------------------------------------------------------------------


@query(
    "agg_overdispersion_nb_fit",
    oracle="""
    WITH cnt AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS k
      FROM events GROUP BY user_id),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(k) AS BIGINT) AS sk,
             CAST(sum(k * k) AS BIGINT) AS skk
      FROM cnt),
    m AS (
      SELECT n,
             CAST(sk AS DOUBLE) / n AS mean_k,
             (CAST(skk AS DOUBLE) - CAST(sk AS DOUBLE)
              * CAST(sk AS DOUBLE) / n) / (n - 1) AS var_k
      FROM s)
    SELECT n AS n_users,
           round(mean_k, 6) AS mean_events,
           round(var_k, 6) AS var_events,
           round(var_k / mean_k, 6) AS dispersion_index,
           var_k > mean_k AS is_overdispersed,
           CASE WHEN var_k > mean_k
                THEN round(mean_k * mean_k / (var_k - mean_k), 6) END
             AS nb_r,
           CASE WHEN var_k > mean_k
                THEN round(mean_k / var_k, 6) END AS nb_p
    FROM m
    """,
)
def agg_overdispersion_nb_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT-DATA OVERDISPERSION diagnostic + negative-binomial fit:
    per-user event counts compared against the Poisson assumption
    (variance == mean) — the first question about any arrival-count
    model (capacity planning, anomaly thresholds on counts): a
    dispersion index >> 1 means per-user rates are heterogeneous and
    Poisson alert thresholds will false-alarm. When overdispersed,
    the method-of-moments NB parameters r = m^2/(s^2 - m),
    p = m/s^2 are the drop-in replacement model; under-dispersed data
    returns NULL fits, never fake parameters.

    Exactness: per-user counts are integers, their sum and
    sum-of-squares exact BIGINTs (squares bounded by (events/user)^2
    x users — far inside int64 at any realistic skew), and the
    mean/variance/fit expressions share double text on both engines;
    round(6) at the end. One groupBy(user) + a 1-row moment
    aggregate."""
    ev = table(spark, sf_dir, "events")
    cnt = ev.groupBy("user_id").agg(F.count("*").cast("bigint").alias("k"))
    s = cnt.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("k").cast("bigint").alias("sk"),
        F.sum(F.col("k") * F.col("k")).cast("bigint").alias("skk"),
    )
    m = s.selectExpr(
        "n",
        "CAST(sk AS DOUBLE) / n AS mean_k",
        "(CAST(skk AS DOUBLE) - CAST(sk AS DOUBLE)"
        " * CAST(sk AS DOUBLE) / n) / (n - 1) AS var_k",
    )
    return m.selectExpr(
        "n AS n_users",
        "round(mean_k, 6) AS mean_events",
        "round(var_k, 6) AS var_events",
        "round(var_k / mean_k, 6) AS dispersion_index",
        "var_k > mean_k AS is_overdispersed",
        "CASE WHEN var_k > mean_k"
        " THEN round(mean_k * mean_k / (var_k - mean_k), 6) END AS nb_r",
        "CASE WHEN var_k > mean_k"
        " THEN round(mean_k / var_k, 6) END AS nb_p",
    )


# ---------------------------------------------------------------------------
# agg_psi_drift
# ---------------------------------------------------------------------------

_PSI_EPS = "0.000001"  # zero-bin guard, identical literal on both engines


@query(
    "agg_psi_drift",
    oracle=f"""
    WITH ev2 AS (
      SELECT CAST(round(value * 100, 0) AS BIGINT) AS vc,
             CASE WHEN epoch_us(ts) * 2 <=
                  (SELECT min(epoch_us(ts)) + max(epoch_us(ts)) FROM events)
                  THEN 1 ELSE 0 END AS in_a
      FROM events),
    dom AS (
      SELECT vc,
             CAST(sum(in_a) AS BIGINT) AS ca,
             CAST(sum(1 - in_a) AS BIGINT) AS cb
      FROM ev2 GROUP BY vc),
    tot AS (
      SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
      FROM dom),
    cum AS (
      SELECT vc, ca, cb,
             CAST(coalesce(sum(ca) OVER (ORDER BY vc
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS cal
      FROM dom),
    binned AS (
      SELECT least(9, 10 * cum.cal // tot.na) AS bin,
             CAST(sum(ca) AS BIGINT) AS n_a,
             CAST(sum(cb) AS BIGINT) AS n_b,
             max(tot.na) AS na, max(tot.nb) AS nb
      FROM cum CROSS JOIN tot GROUP BY 1),
    terms AS (
      SELECT bin, n_a, n_b,
             round(CAST(n_a AS DOUBLE) / na, 6) AS pct_a,
             round(CAST(n_b AS DOUBLE) / nb, 6) AS pct_b,
             CAST(round(
               (greatest(CAST(n_a AS DOUBLE) / na, {_PSI_EPS})
                - greatest(CAST(n_b AS DOUBLE) / nb, {_PSI_EPS}))
               * ln(greatest(CAST(n_a AS DOUBLE) / na, {_PSI_EPS})
                    / greatest(CAST(n_b AS DOUBLE) / nb, {_PSI_EPS})),
               9) AS DECIMAL(28,9)) AS term
      FROM binned)
    SELECT bin, n_a, n_b, pct_a, pct_b,
           round(CAST(term AS DOUBLE), 6) AS psi_term,
           round(CAST(sum(term) OVER () AS DOUBLE), 6) AS psi_total
    FROM terms
    """,
)
def agg_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POPULATION STABILITY INDEX — the industry-standard
    feature-drift metric in ML monitoring: the event stream splits at
    its midpoint timestamp into reference (A) and current (B)
    periods, B's value distribution is binned by A's DECILES, and
    PSI = sum((pa - pb) * ln(pa/pb)) over the 10 bins (rule of thumb:
    < 0.1 stable, > 0.25 drifted — the fixture's stationary generator
    should land near 0, which is the audit's correct baseline).
    Emitted per bin with the total, so the drift's LOCATION is
    visible, not just its size.

    Decile binning without any sort of the data: values quantize to
    integer cents, collapse to the value DOMAIN with per-period
    counts, one cumulative window over the domain gives A's CDF, and
    bin = least(9, 10*cumA div nA) — exact integer arithmetic (the
    period split itself is an integer cross-multiplication of epoch
    bounds). Per-bin PSI terms quantize round(9) into DECIMAL before
    the 10-term sum; the 1e-6 zero-bin guard is the standard PSI
    convention, identical text both engines."""
    ev = table(spark, sf_dir, "events")
    piv = ev.agg(
        (F.min(F.unix_micros("ts")) + F.max(F.unix_micros("ts")))
        .cast("bigint")
        .alias("pv")
    )
    ev2 = ev.crossJoin(F.broadcast(piv)).select(
        F.expr("CAST(round(value * 100, 0) AS BIGINT)").alias("vc"),
        F.expr(
            "CASE WHEN unix_micros(ts) * 2 <= pv THEN 1 ELSE 0 END"
        ).alias("in_a"),
    )
    dom = ev2.groupBy("vc").agg(
        F.sum("in_a").cast("bigint").alias("ca"),
        F.sum(1 - F.col("in_a")).cast("bigint").alias("cb"),
    )
    tot = dom.agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
    )
    wd = Window.orderBy("vc").rowsBetween(Window.unboundedPreceding, -1)
    cum = dom.select(
        "vc",
        "ca",
        "cb",
        F.coalesce(F.sum("ca").over(wd), F.lit(0)).cast("bigint").alias("cal"),
    )
    binned = (
        cum.crossJoin(F.broadcast(tot))
        .groupBy(F.expr("least(9, 10 * cal div na)").alias("bin"))
        .agg(
            F.sum("ca").cast("bigint").alias("n_a"),
            F.sum("cb").cast("bigint").alias("n_b"),
            F.max("na").alias("na"),
            F.max("nb").alias("nb"),
        )
    )
    terms = binned.selectExpr(
        "bin",
        "n_a",
        "n_b",
        "round(CAST(n_a AS DOUBLE) / na, 6) AS pct_a",
        "round(CAST(n_b AS DOUBLE) / nb, 6) AS pct_b",
        f"""CAST(round(
          (greatest(CAST(n_a AS DOUBLE) / na, {_PSI_EPS})
           - greatest(CAST(n_b AS DOUBLE) / nb, {_PSI_EPS}))
          * ln(greatest(CAST(n_a AS DOUBLE) / na, {_PSI_EPS})
               / greatest(CAST(n_b AS DOUBLE) / nb, {_PSI_EPS})),
          9) AS DECIMAL(28,9)) AS term""",
    )
    w_all = Window.partitionBy()
    return terms.select(
        "bin",
        "n_a",
        "n_b",
        "pct_a",
        "pct_b",
        F.round(F.col("term").cast("double"), 6).alias("psi_term"),
        F.round(F.sum("term").over(w_all).cast("double"), 6).alias(
            "psi_total"
        ),
    )


# ---------------------------------------------------------------------------
# agg_interarrival_exp_fit
# ---------------------------------------------------------------------------


@query(
    "agg_interarrival_exp_fit",
    oracle="""
    WITH gaps AS (
      SELECT CAST(epoch_us(ts) - lag(epoch_us(ts)) OVER
                  (PARTITION BY user_id ORDER BY ts, event_id)
                  AS BIGINT) AS g
      FROM events
      QUALIFY g IS NOT NULL),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(g) AS BIGINT) AS sg
      FROM gaps),
    dom AS (SELECT g, CAST(count(*) AS BIGINT) AS c FROM gaps GROUP BY g),
    cum AS (
      SELECT g, CAST(sum(c) OVER (ORDER BY g ROWS UNBOUNDED PRECEDING)
                     AS BIGINT) AS cle
      FROM dom),
    d AS (
      SELECT max(abs(CAST(cum.cle AS DOUBLE) / s.n
                     - (1.0 - exp(-(CAST(s.n AS DOUBLE) / s.sg)
                                  * cum.g)))) AS ks
      FROM cum CROSS JOIN s)
    SELECT s.n AS n_gaps,
           round(CAST(s.sg AS DOUBLE) / s.n / 1000000.0, 6)
             AS mean_gap_sec,
           round(CAST(s.n AS DOUBLE) / s.sg * 1000000.0, 9)
             AS lambda_per_sec,
           round(d.ks, 6) AS ks_distance
    FROM s CROSS JOIN d
    """,
)
def agg_interarrival_exp_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARRIVAL-PROCESS VALIDATION: fit an exponential law to per-user
    inter-event gaps (MLE lambda = 1/mean) and measure the
    Kolmogorov-Smirnov distance between the empirical gap CDF and the
    fitted CDF — the test behind every "assume Poisson arrivals"
    capacity model (a large KS distance says the arrival process is
    bursty/heavy-tailed and exponential-based queue math will lie;
    pairs with agg_overdispersion_nb_fit, which diagnoses the COUNT
    side of the same assumption).

    Exactness: gaps are exact integer microseconds (per-user lag over
    the pinned order); the empirical CDF lives on the gap VALUE
    DOMAIN (one bounded cumulative window — the agg_ks_test_two_sample
    discipline), so the KS max runs over domain cells, not rows. The
    fitted-CDF term evaluates one shared transcendental expression
    per cell; a cross-libm exp() ulp flip perturbs the max by ~1e-16,
    ten orders under round(6). lambda reports at round(9) (it is
    ~1e-5/sec on this fixture)."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        ev.select(
            (
                F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
            ).alias("g")
        )
        .where(F.col("g").isNotNull())
    )
    s = gaps.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("g").cast("bigint").alias("sg"),
    )
    dom = gaps.groupBy("g").agg(F.count("*").cast("bigint").alias("c"))
    wd = Window.orderBy("g").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = dom.select(
        "g", F.sum("c").over(wd).cast("bigint").alias("cle")
    )
    d = cum.crossJoin(F.broadcast(s)).agg(
        F.max(
            F.expr(
                "abs(CAST(cle AS DOUBLE) / n"
                " - (1.0 - exp(-(CAST(n AS DOUBLE) / sg) * g)))"
            )
        ).alias("ks")
    )
    return s.crossJoin(F.broadcast(d)).selectExpr(
        "n AS n_gaps",
        "round(CAST(sg AS DOUBLE) / n / 1000000.0, 6) AS mean_gap_sec",
        "round(CAST(n AS DOUBLE) / sg * 1000000.0, 9) AS lambda_per_sec",
        "round(ks, 6) AS ks_distance",
    )


# ---------------------------------------------------------------------------
# agg_benford_deviation
# ---------------------------------------------------------------------------


@query(
    "agg_benford_deviation",
    oracle="""
    WITH c AS (
      SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                              AS VARCHAR), 1, 1) AS INTEGER) AS digit
      FROM orders WHERE o_totalprice >= 1.0),
    g AS (SELECT digit, count(*) AS obs FROM c GROUP BY digit),
    t AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM g)
    SELECT g.digit, CAST(g.obs AS BIGINT) AS obs_count,
           round(CAST(g.obs AS DOUBLE) / t.n, 6) AS obs_p,
           round(ln(CAST(1 AS DOUBLE) + CAST(1 AS DOUBLE) / g.digit)
                 / ln(CAST(10 AS DOUBLE)), 6) AS exp_p,
           round(CAST(g.obs AS DOUBLE) / t.n
                 - ln(CAST(1 AS DOUBLE) + CAST(1 AS DOUBLE) / g.digit)
                   / ln(CAST(10 AS DOUBLE)), 6) AS dev
    FROM g CROSS JOIN t
    """,
)
def agg_benford_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENFORD'S-LAW DEVIATION over order totals: the observed
    first-significant-digit distribution against log10(1 + 1/d) — the
    classic fabricated-data / pipeline-corruption screen (synthetic or
    truncated money columns drift from Benford long before summary
    stats move). Nine rows: digit, observed count/frequency, expected
    frequency, signed deviation.

    Scale shape: one map-side-combinable digit histogram (9 groups)
    plus a broadcast 1-row total — nothing else touches the fact
    table.

    Parity: the first significant digit is extracted from the INTEGER
    cents value via string head — integer-to-string is exact and
    identical on both engines, dodging the floor(log10(x)) ulp trap
    near powers of ten entirely (money >= $1 so cents >= 100 and the
    leading cent digit IS the leading significant digit). Expected
    frequencies and deviations run in DOUBLE with identical expression
    text (decimal-literal division differs between engines, so the
    constants are CAST(1 AS DOUBLE)-style on both sides)."""
    o = table(spark, sf_dir, "orders").where(F.col("o_totalprice") >= 1.0)
    c = o.select(
        F.expr(
            "CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)"
            " AS STRING), 1, 1) AS INTEGER)"
        ).alias("digit")
    )
    g = c.groupBy("digit").agg(F.count("*").alias("obs"))
    t = g.agg(F.sum("obs").cast("bigint").alias("n"))
    exp_p = (
        "ln(CAST(1 AS DOUBLE) + CAST(1 AS DOUBLE) / digit)"
        " / ln(CAST(10 AS DOUBLE))"
    )
    return g.crossJoin(F.broadcast(t)).selectExpr(
        "digit",
        "CAST(obs AS BIGINT) AS obs_count",
        "round(CAST(obs AS DOUBLE) / n, 6) AS obs_p",
        f"round({exp_p}, 6) AS exp_p",
        f"round(CAST(obs AS DOUBLE) / n - {exp_p}, 6) AS dev",
    )


# ---------------------------------------------------------------------------
# agg_theil_index
# ---------------------------------------------------------------------------


@query(
    "agg_theil_index",
    oracle="""
    WITH c AS (
      SELECT o_orderpriority,
             CAST(round(o_totalprice * 100) AS BIGINT) AS c
      FROM orders WHERE o_totalprice > 0),
    m AS (
      SELECT o_orderpriority,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(c) AS DOUBLE) AS s1,
             sum(CAST(round(c * ln(CAST(c AS DOUBLE)), 6)
                      AS DECIMAL(28,6))) AS slc
      FROM c GROUP BY o_orderpriority)
    SELECT o_orderpriority, CAST(n AS BIGINT) AS n_orders,
           round(s1 / n / 100.0, 2) AS mean_price,
           round(CAST(slc AS DOUBLE) / s1 - ln(s1 / n), 6) AS theil_t
    FROM m
    """,
)
def agg_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL T INEQUALITY INDEX of order value per priority class:
    T = (1/n) sum (x/mu) ln(x/mu) = sum(x ln x)/sum(x) - ln(mean) —
    0 means perfectly equal order sizes, ln(n) means one order
    carries everything. The decomposable inequality measure next to
    agg_gini_concentration (Theil splits exactly into within-group +
    between-group terms, which Gini cannot); in a data pipeline it is
    the shard/customer concentration diagnostic that predicts skew.

    Scale shape: ONE map-side-combinable aggregate per group — count,
    exact cents sum, and the quantized x*ln(x) sum.

    Parity: the per-row transcendental term round(6)-quantizes into
    an order-independent DECIMAL sum. Quantization-boundary flips
    from cross-libm ln drift (~2e-7 absolute at this magnitude) can
    differ between engines on a handful of rows, but each flip moves
    the SUM by only 1e-6, and the final statistic divides by
    sum(x) ~ 1e13 cents — a perturbation of ~1e-19, eleven orders of
    magnitude below the round(6) output quantum. Same ulp-gap
    argument class as sample_weighted_reservoir."""
    o = table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    c = o.select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c"),
    )
    m = c.groupBy("o_orderpriority").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("c").cast("double").alias("s1"),
        F.sum(
            F.expr(
                "CAST(round(c * ln(CAST(c AS DOUBLE)), 6) AS DECIMAL(28,6))"
            )
        ).alias("slc"),
    )
    return m.selectExpr(
        "o_orderpriority",
        "CAST(n AS BIGINT) AS n_orders",
        "round(s1 / n / 100.0, 2) AS mean_price",
        "round(CAST(slc AS DOUBLE) / s1 - ln(s1 / n), 6) AS theil_t",
    )


# ---------------------------------------------------------------------------
# agg_k_anonymity
# ---------------------------------------------------------------------------


@query(
    "agg_k_anonymity",
    oracle="""
    WITH q AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             length(bin(CAST(floor(value) AS BIGINT) + 1)) AS vb
      FROM events),
    c AS (
      SELECT event_type, day, vb, CAST(count(*) AS BIGINT) AS sz
      FROM q GROUP BY 1, 2, 3),
    tot AS (SELECT CAST(sum(sz) AS BIGINT) AS n FROM c)
    SELECT CAST(1 AS BIGINT) << (length(bin(sz)) - 1) AS band,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(sum(sz) AS BIGINT) AS n_rows,
           round(CAST(sum(sz) AS DOUBLE) / max(tot.n), 6) AS pct_rows
    FROM c CROSS JOIN tot
    GROUP BY 1
    """,
)
def agg_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-ANONYMITY SPECTRUM of the event stream under the quasi-
    identifier (event_type, event day, magnitude bucket of value) —
    the privacy audit a training-data pipeline runs before releasing
    event-derived features: every row in an equivalence class of size
    s is re-identifiable among s candidates, so the mass in small
    classes (band 1-2) is the disclosure risk and the dataset's
    k-anonymity is the smallest populated band. Output: per power-of-
    two class-size band, the class count, row count, and row share.

    Exactness discipline: NO float log2 anywhere — the magnitude
    bucket is length(bin(floor(value) + 1)) (floor is exact on
    doubles, bin length = integer floor-log2 + 1) and the band is
    1 << (length(bin(sz)) - 1); a floor(log2(x)) formulation flips at
    bucket boundaries on cross-libm ulp drift. Everything is integer
    until the final row-share division (round 6, same shape both
    engines).

    Scale shape: one groupBy over the QI columns (map-side combined),
    one groupBy over the bounded class-size DOMAIN, a 1-row total
    broadcast. The QI aggregate is the only data-sized shuffle."""
    ev = table(spark, sf_dir, "events")
    q = ev.select(
        "event_type",
        F.date_trunc("day", "ts").alias("day"),
        F.expr(
            "length(bin(CAST(floor(value) AS BIGINT) + 1))"
        ).alias("vb"),
    )
    c = q.groupBy("event_type", "day", "vb").agg(
        F.count("*").cast("bigint").alias("sz")
    )
    tot = c.agg(F.sum("sz").cast("bigint").alias("n"))
    return (
        c.crossJoin(F.broadcast(tot))
        .groupBy(
            F.expr(
                "CAST(1 AS BIGINT) << (length(bin(sz)) - 1)"
            ).alias("band")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_classes"),
            F.sum("sz").cast("bigint").alias("n_rows"),
            F.round(
                F.sum("sz").cast("double") / F.max("n"), 6
            ).alias("pct_rows"),
        )
    )


# ---------------------------------------------------------------------------
# agg_tail_index_hill
# ---------------------------------------------------------------------------

_HILL_M = 100  # tail order statistics used by the estimator


@query(
    "agg_tail_index_hill",
    oracle=f"""
    WITH top AS (
      SELECT value, event_id,
             row_number() OVER (ORDER BY value DESC, event_id) AS rk
      FROM (
        SELECT value, event_id FROM events
        ORDER BY value DESC, event_id LIMIT {_HILL_M + 1}) t),
    thr AS (SELECT value AS xt FROM top WHERE rk = {_HILL_M + 1}),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS m,
             sum(CAST(round(ln(top.value / thr.xt), 9) AS DECIMAL(28,9)))
               AS lsum,
             max(thr.xt) AS xt
      FROM top CROSS JOIN thr WHERE top.rk <= {_HILL_M})
    SELECT m, round(xt, 6) AS x_threshold,
           round(m / CAST(lsum AS DOUBLE), 6) AS hill_alpha,
           round(CAST(lsum AS DOUBLE) / m, 6) AS mean_log_excess
    FROM s
    """,
)
def agg_tail_index_hill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HILL TAIL-INDEX estimator over event values: alpha =
    m / sum_{i<=m} ln(x_(i) / x_(m+1)) from the top m+1 order
    statistics — THE standard heavy-tail diagnostic (Hill 1975). A
    monitoring pipeline reads it before trusting any mean-based SLO:
    alpha <= 2 means infinite variance (percentile alerting only),
    and a falling alpha under drift means the tail is fattening
    faster than the median moves. The fixture's exponential values
    are a known light-tail reference point (Hill on exponential data
    drifts high), pinned by the pytest against numpy.

    Scale shape: the ONLY data-sized stage is a global top-(m+1) —
    orderBy + limit, which Spark plans as TakeOrderedAndProject
    (per-partition heaps + one k-row merge; the round-6 rule: never a
    global row_number window). Everything after lives on m+1 rows.

    Parity: the deterministic tail SET comes from the shared
    (value DESC, event_id) order; per-row log-excess terms quantize
    round(9) into DECIMAL before the order-independent sum; the two
    final divisions share text. A cross-libm ln flip moves one term
    by 1e-9 and alpha by ~alpha^2 * 1e-9 / m ~ 1e-13."""
    ev = table(spark, sf_dir, "events")
    top = (
        ev.select("value", "event_id")
        .orderBy(F.col("value").desc(), "event_id")
        .limit(_HILL_M + 1)
        .select(
            "value",
            "event_id",
            F.row_number()
            .over(Window.orderBy(F.col("value").desc(), "event_id"))
            .alias("rk"),
        )
    )
    thr = top.where(F.col("rk") == _HILL_M + 1).select(
        F.col("value").alias("xt")
    )
    s = (
        top.where(F.col("rk") <= _HILL_M)
        .crossJoin(F.broadcast(thr))
        .agg(
            F.count("*").cast("bigint").alias("m"),
            F.sum(
                F.expr(
                    "CAST(round(ln(value / xt), 9) AS DECIMAL(28,9))"
                )
            ).alias("lsum"),
            F.max("xt").alias("xt"),
        )
    )
    return s.select(
        "m",
        F.round("xt", 6).alias("x_threshold"),
        F.round(F.col("m") / F.col("lsum").cast("double"), 6).alias(
            "hill_alpha"
        ),
        F.round(F.col("lsum").cast("double") / F.col("m"), 6).alias(
            "mean_log_excess"
        ),
    )


# ---------------------------------------------------------------------------
# agg_gumbel_block_maxima
# ---------------------------------------------------------------------------

# Euler-Mascheroni constant, 15 significant digits (double-exact text)
_GUMBEL_GAMMA = "0.577215664901533"


@query(
    "agg_gumbel_block_maxima",
    oracle=f"""
    WITH bm AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(round(max(value), 6) AS DECIMAL(18,6)) AS mx
      FROM events GROUP BY 1),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(mx) AS DOUBLE) AS sx,
             CAST(sum(mx * mx) AS DOUBLE) AS sxx
      FROM bm),
    m AS (
      SELECT n, sx / n AS mean_mx,
             sqrt((sxx - sx * sx / n) / (n - 1)) AS sd_mx
      FROM s)
    SELECT n AS n_blocks,
           round(mean_mx, 6) AS mean_max,
           round(sd_mx * sqrt(6.0) / pi(), 6) AS gumbel_beta,
           round(mean_mx - {_GUMBEL_GAMMA} * sd_mx * sqrt(6.0) / pi(), 6)
             AS gumbel_mu,
           round(mean_mx - {_GUMBEL_GAMMA} * sd_mx * sqrt(6.0) / pi()
                 - sd_mx * sqrt(6.0) / pi() * ln(-ln(0.99)), 6)
             AS return_level_100
    FROM m
    """,
)
def agg_gumbel_block_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTREME-VALUE MONITORING — a Gumbel fit over DAILY BLOCK MAXIMA
    of event values by method of moments (beta = s*sqrt(6)/pi, mu =
    mean - gamma*beta, the standard quick EVT fit), plus the 100-block
    return level mu - beta*ln(-ln(0.99)) — the value exceeded once per
    ~100 days, which is what capacity planning and alert-threshold
    design actually consume (a p99 over raw events says nothing about
    daily worst cases; block maxima are the EVT-correct object).

    Scale shape: one map-side-combined groupBy(day) max over the
    stream — the only data-sized stage — then moments over the
    bounded day domain. One-row output.

    Parity: block maxima are round(6) DECIMAL(18,6) (exact,
    order-independent sums; squares are (37,12), exact for round-6
    inputs — the win_bollinger_bands width rule); mean/sd/fit evaluate
    the IDENTICAL double expression text on both engines (sqrt and
    pi() are correctly-rounded/identical constants; ln(-ln(0.99)) is
    one shared transcendental of a literal). gamma is a 15-digit
    literal, double-exact on both sides."""
    ev = table(spark, sf_dir, "events")
    bm = ev.groupBy(
        F.date_trunc("DAY", F.col("ts")).cast("date").alias("day")
    ).agg(
        F.expr("CAST(round(max(value), 6) AS DECIMAL(18,6))").alias("mx")
    )
    s = bm.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("mx").cast("double").alias("sx"),
        F.sum(F.col("mx") * F.col("mx")).cast("double").alias("sxx"),
    )
    m = s.selectExpr(
        "n",
        "sx / n AS mean_mx",
        "sqrt((sxx - sx * sx / n) / (n - 1)) AS sd_mx",
    )
    beta = "sd_mx * sqrt(6.0) / pi()"
    return m.selectExpr(
        "n AS n_blocks",
        "round(mean_mx, 6) AS mean_max",
        f"round({beta}, 6) AS gumbel_beta",
        f"round(mean_mx - {_GUMBEL_GAMMA} * {beta}, 6) AS gumbel_mu",
        f"round(mean_mx - {_GUMBEL_GAMMA} * {beta}"
        f" - {beta} * ln(-ln(0.99)), 6) AS return_level_100",
    )


# ---------------------------------------------------------------------------
# agg_l_diversity
# ---------------------------------------------------------------------------


@query(
    "agg_l_diversity",
    oracle="""
    WITH q AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             length(bin(CAST(floor(value) AS BIGINT) + 1)) AS vb,
             user_id
      FROM events),
    c AS (
      SELECT event_type, day, vb,
             CAST(count(*) AS BIGINT) AS sz,
             CAST(count(DISTINCT user_id) AS BIGINT) AS l
      FROM q GROUP BY 1, 2, 3),
    tot AS (SELECT CAST(sum(sz) AS BIGINT) AS n FROM c)
    SELECT l AS l_distinct_users,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(sum(sz) AS BIGINT) AS n_rows,
           round(CAST(sum(sz) AS DOUBLE) / max(tot.n), 6) AS pct_rows
    FROM c CROSS JOIN tot
    GROUP BY l
    """,
)
def agg_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L-DIVERSITY SPECTRUM — agg_k_anonymity's companion audit: for
    the same quasi-identifier classes (event_type, day, magnitude
    bucket), how many DISTINCT sensitive values (user_id) each class
    contains. k-anonymity alone is fooled by a large class whose rows
    all belong to ONE user (homogeneity attack: the QI combination
    still identifies the person); l-diversity counts the classes
    where the sensitive attribute is effectively constant. Output:
    per l (distinct users in class), class count, row count, row
    share — the l=1 row is the disclosure mass a release gate blocks
    on.

    Same exactness discipline as agg_k_anonymity (integer bin-length
    magnitude bucket, no float log boundaries); one QI groupBy with a
    count-distinct (the only addition), one bounded-domain histogram,
    a 1-row total broadcast."""
    ev = table(spark, sf_dir, "events")
    q = ev.select(
        "event_type",
        F.date_trunc("DAY", F.col("ts")).cast("date").alias("day"),
        F.expr("length(bin(CAST(floor(value) AS BIGINT) + 1))").alias("vb"),
        "user_id",
    )
    c = q.groupBy("event_type", "day", "vb").agg(
        F.count("*").cast("bigint").alias("sz"),
        F.countDistinct("user_id").cast("bigint").alias("l"),
    )
    tot = c.agg(F.sum("sz").cast("bigint").alias("n"))
    return (
        c.crossJoin(F.broadcast(tot))
        .groupBy(F.col("l").alias("l_distinct_users"))
        .agg(
            F.count("*").cast("bigint").alias("n_classes"),
            F.sum("sz").cast("bigint").alias("n_rows"),
            F.round(F.sum("sz").cast("double") / F.max("n"), 6).alias(
                "pct_rows"
            ),
        )
    )


# ---------------------------------------------------------------------------
# agg_cramers_v
# ---------------------------------------------------------------------------


@query(
    "agg_cramers_v",
    oracle="""
    WITH o AS (
      SELECT lang, source, CAST(count(*) AS BIGINT) AS obs
      FROM documents GROUP BY 1, 2),
    rt AS (SELECT lang, CAST(sum(obs) AS BIGINT) AS r FROM o GROUP BY lang),
    ct AS (SELECT source, CAST(sum(obs) AS BIGINT) AS c
           FROM o GROUP BY source),
    n AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM o),
    grid AS (
      SELECT rt.lang, ct.source, rt.r, ct.c,
             CAST(coalesce(o.obs, 0) AS BIGINT) AS obs
      FROM rt CROSS JOIN ct
      LEFT JOIN o ON o.lang = rt.lang AND o.source = ct.source),
    cells AS (
      SELECT grid.obs, CAST(grid.r AS DOUBLE) * grid.c / n.n AS e
      FROM grid CROSS JOIN n),
    chi AS (
      SELECT CAST(sum(CAST(round((obs - e) * (obs - e) / e, 9)
                           AS DECIMAL(28,9))) AS DECIMAL(38,9)) AS chi2
      FROM cells),
    dims AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM rt) AS r,
             (SELECT CAST(count(*) AS BIGINT) FROM ct) AS c)
    SELECT n.n AS n_docs, dims.r AS n_langs, dims.c AS n_sources,
           round(CAST(chi.chi2 AS DOUBLE), 6) AS chi2_stat,
           round(sqrt(CAST(chi.chi2 AS DOUBLE)
                      / (n.n * (least(dims.r, dims.c) - 1))), 6)
             AS cramers_v
    FROM chi CROSS JOIN dims CROSS JOIN n
    """,
)
def agg_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRAMÉR'S V between document language and source — the
    normalized effect size ([0, 1]) that agg_chi_square_independence's
    raw statistic lacks, over the grid a curation pipeline actually
    audits: is the language mix independent of the crawl source? A
    large V says per-source language skew will leak into any
    source-stratified split (the text_dedup_cluster_quality concern
    measured at the marginal level).

    Unlike the chi-square op's observed-cells join, this one DENSIFIES
    the r x c grid (marginals cross join, LEFT JOIN observed) because
    absent cells contribute their full expected count to chi^2 — on
    this fixture three (lang, source) cells are empty and skipping
    them understates the statistic. The grid is |langs| x |sources|
    (domain-bounded, 100 rows), never row-scaled.

    Parity: observed counts and marginals are exact integers; each
    cell term is one shared double expression quantized round(9) into
    DECIMAL before the order-independent sum (the chi-square op's own
    discipline); V is one sqrt of exact-ratio arithmetic, round(6)."""
    docs = table(spark, sf_dir, "documents")
    o = docs.groupBy("lang", "source").agg(
        F.count("*").cast("bigint").alias("obs")
    )
    rt = o.groupBy("lang").agg(F.sum("obs").cast("bigint").alias("r"))
    ct = o.groupBy("source").agg(F.sum("obs").cast("bigint").alias("c"))
    n = o.agg(F.sum("obs").cast("bigint").alias("n"))
    grid = (
        rt.crossJoin(F.broadcast(ct))
        .join(F.broadcast(o), ["lang", "source"], "left")
        .select(
            "r",
            "c",
            F.coalesce(F.col("obs"), F.lit(0)).cast("bigint").alias("obs"),
        )
    )
    cells = grid.crossJoin(F.broadcast(n)).select(
        F.expr("CAST(r AS DOUBLE) * c / n").alias("e"), "obs"
    )
    chi = cells.agg(
        F.sum(
            F.expr(
                "CAST(round((obs - e) * (obs - e) / e, 9) AS DECIMAL(28,9))"
            )
        )
        .cast("decimal(38,9)")
        .alias("chi2")
    )
    dims = rt.agg(F.count("*").cast("bigint").alias("r")).crossJoin(
        ct.agg(F.count("*").cast("bigint").alias("c"))
    )
    return (
        chi.crossJoin(F.broadcast(dims))
        .crossJoin(F.broadcast(n))
        .selectExpr(
            "n AS n_docs",
            "r AS n_langs",
            "c AS n_sources",
            "round(CAST(chi2 AS DOUBLE), 6) AS chi2_stat",
            "round(sqrt(CAST(chi2 AS DOUBLE)"
            " / (n * (least(r, c) - 1))), 6) AS cramers_v",
        )
    )


# ---------------------------------------------------------------------------
# agg_shannon_diversity_profile
# ---------------------------------------------------------------------------


@query(
    "agg_shannon_diversity_profile",
    oracle="""
    WITH c AS (
      SELECT source, lang, CAST(count(*) AS BIGINT) AS n
      FROM documents GROUP BY 1, 2),
    st AS (SELECT source, CAST(sum(n) AS BIGINT) AS tot,
                  CAST(count(*) AS BIGINT) AS rich
           FROM c GROUP BY source),
    h AS (
      SELECT c.source,
             CAST(sum(CAST(round(
                 -(CAST(c.n AS DOUBLE) / st.tot)
                 * ln(CAST(c.n AS DOUBLE) / st.tot), 9)
                 AS DECIMAL(28,9))) AS DECIMAL(38,9)) AS sh,
             CAST(sum(CAST(c.n AS DECIMAL(19,0)) * c.n) AS DECIMAL(38,0))
               AS sq
      FROM c JOIN st USING (source) GROUP BY c.source)
    SELECT st.source, st.tot AS n_docs, st.rich AS n_langs,
           round(CAST(h.sh AS DOUBLE), 6) AS shannon_h,
           round(1.0 - CAST(h.sq AS DOUBLE)
                 / (CAST(st.tot AS DOUBLE) * st.tot), 6) AS simpson_index,
           round(CASE WHEN st.rich > 1
                      THEN CAST(h.sh AS DOUBLE) / ln(CAST(st.rich AS DOUBLE))
                      ELSE CAST(0 AS DOUBLE) END, 6) AS pielou_evenness
    FROM st JOIN h USING (source)
    """,
)
def agg_shannon_diversity_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LANGUAGE-DIVERSITY PROFILE per crawl source — the ecology
    indices a corpus card reports per shard: richness (distinct
    languages), Shannon entropy H (in nats — the effective-language
    measure), the Simpson index 1 - sum p^2 (the probability two
    random docs differ in language — collision-robust where H is
    rare-class-sensitive), and Pielou evenness H / ln(richness)
    (how balanced the mix is given its richness). A source with high
    richness but low evenness is one dominant language plus noise —
    exactly the shard where per-language quality gates need
    stratification (the agg_cramers_v dependence, profiled per
    source).

    Shape at 100 TB: one (source, lang) groupBy collapses the corpus
    to the bounded source x lang grid (map-side combined); everything
    after is grid-row arithmetic. One row per source.

    Parity: cell and marginal counts exact integers; each entropy
    term is one shared double expression quantized round(9) into
    DECIMAL before the order-independent sum (the
    agg_entropy_rate_markov discipline); Simpson's sum of squares
    stays exact via DECIMAL(19,0) operands; evenness guards
    richness = 1 identically on both sides. Outputs round(6)."""
    d = table(spark, sf_dir, "documents")
    c = d.groupBy("source", "lang").agg(
        F.count("*").cast("bigint").alias("n")
    )
    st = c.groupBy("source").agg(
        F.sum("n").cast("bigint").alias("tot"),
        F.count("*").cast("bigint").alias("rich"),
    )
    h = (
        c.join(F.broadcast(st), "source")
        .groupBy("source")
        .agg(
            F.sum(
                F.expr(
                    "CAST(round(-(CAST(n AS DOUBLE) / tot)"
                    " * ln(CAST(n AS DOUBLE) / tot), 9) AS DECIMAL(28,9))"
                )
            )
            .cast("decimal(38,9)")
            .alias("sh"),
            F.sum(F.expr("CAST(n AS DECIMAL(19,0)) * n"))
            .cast("decimal(38,0)")
            .alias("sq"),
        )
    )
    return st.join(h, "source").selectExpr(
        "source",
        "tot AS n_docs",
        "rich AS n_langs",
        "round(CAST(sh AS DOUBLE), 6) AS shannon_h",
        "round(1.0 - CAST(sq AS DOUBLE)"
        " / (CAST(tot AS DOUBLE) * tot), 6) AS simpson_index",
        "round(CASE WHEN rich > 1"
        " THEN CAST(sh AS DOUBLE) / ln(CAST(rich AS DOUBLE))"
        " ELSE CAST(0 AS DOUBLE) END, 6) AS pielou_evenness",
    )


# ---------------------------------------------------------------------------
# agg_process_capability
# ---------------------------------------------------------------------------


@query(
    "agg_process_capability",
    oracle="""
    WITH c AS (
      SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS c
      FROM events),
    mo AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(c) AS BIGINT) AS s,
             CAST(sum(CAST(c AS HUGEINT) * c) AS DOUBLE) AS q,
             CAST(sum(CASE WHEN c < 0 OR c > 30000 THEN 1 ELSE 0 END)
                  AS BIGINT) AS oos
      FROM c GROUP BY event_type)
    SELECT event_type, n, oos AS n_out_of_spec,
           round(CAST(s AS DOUBLE) / n / 100.0, 6) AS mean_value,
           round(sqrt((q - CAST(s AS DOUBLE) * s / n) / (n - 1))
                 / 100.0, 6) AS sigma,
           round(30000.0
                 / (6.0 * sqrt((q - CAST(s AS DOUBLE) * s / n)
                               / (n - 1))), 6) AS cp,
           round(least(30000.0 - CAST(s AS DOUBLE) / n,
                       CAST(s AS DOUBLE) / n - 0.0)
                 / (3.0 * sqrt((q - CAST(s AS DOUBLE) * s / n)
                               / (n - 1))), 6) AS cpk,
           round(CAST(oos AS DOUBLE) / n, 6) AS oos_rate
    FROM mo
    """,
)
def agg_process_capability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROCESS CAPABILITY INDEXES Cp and Cpk per event type against
    the spec band [0, 300] (dollars): Cp = (USL-LSL)/6σ measures what
    the spread COULD deliver if centered, Cpk = min(USL-μ, μ-LSL)/3σ
    what it DOES deliver given the actual centering — the decision
    layer above the SPC run rules (win_spc_western_electric asks "is
    the process in control?"; capability asks "is in-control good
    enough for the spec?"; Cpk >= 1.33 is the conventional capable
    bar). The exact out-of-spec count rides the same scan as the
    empirical cross-check on the index (for the fixture's exponential
    values Cpk deliberately overstates risk — a documented
    normality caveat shared with agg_grubbs_test).

    Shape at 100 TB: ONE map-side-combinable grouped scan (count,
    sum, square sum, conditional count) — the cheapest op shape that
    exists; nothing else.

    Parity: cents are exact BIGINT; the square sum goes through
    HUGEINT (DuckDB) / DECIMAL-free bigint product cast to DOUBLE on
    the Spark side (cents^2 sums stay under 2^63 only per-row — the
    SUM needs 128-bit, hence HUGEINT / DECIMAL(38,0)); μ, σ, and the
    indexes are shared double expressions of the exact sums,
    round(6)."""
    ev = table(spark, sf_dir, "events")
    c = ev.select(
        "event_type",
        F.expr("CAST(value * 100 + 0.5 AS BIGINT)").alias("c"),
    )
    mo = c.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
        F.expr(
            "CAST(sum(CAST(c AS DECIMAL(19,0)) * c) AS DOUBLE)"
        ).alias("q"),
        F.sum(
            F.expr("CASE WHEN c < 0 OR c > 30000 THEN 1 ELSE 0 END")
        )
        .cast("bigint")
        .alias("oos"),
    )
    return mo.selectExpr(
        "event_type",
        "n",
        "oos AS n_out_of_spec",
        "round(CAST(s AS DOUBLE) / n / 100.0, 6) AS mean_value",
        "round(sqrt((q - CAST(s AS DOUBLE) * s / n) / (n - 1))"
        " / 100.0, 6) AS sigma",
        "round(30000.0 / (6.0 * sqrt((q - CAST(s AS DOUBLE) * s / n)"
        " / (n - 1))), 6) AS cp",
        "round(least(30000.0 - CAST(s AS DOUBLE) / n,"
        " CAST(s AS DOUBLE) / n - 0.0)"
        " / (3.0 * sqrt((q - CAST(s AS DOUBLE) * s / n)"
        " / (n - 1))), 6) AS cpk",
        "round(CAST(oos AS DOUBLE) / n, 6) AS oos_rate",
    )


# ---------------------------------------------------------------------------
# agg_lognormal_fit
# ---------------------------------------------------------------------------


@query(
    "agg_lognormal_fit",
    oracle="""
    WITH r AS (
      SELECT event_type,
             CAST(round(value * 100, 0) AS BIGINT) AS c,
             CAST(round(ln(value), 9) AS DECIMAL(18,9)) AS l
      FROM events WHERE value > 0),
    mo AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(c) AS BIGINT) AS sc,
             CAST(sum(l) AS DECIMAL(28,9)) AS s,
             CAST(sum(CAST(l AS DECIMAL(19,9)) * l) AS DECIMAL(38,18))
               AS q
      FROM r GROUP BY event_type)
    SELECT event_type, n,
           round(CAST(s AS DOUBLE) / n, 6) AS mu_ln,
           round(sqrt((CAST(q AS DOUBLE)
                       - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
                      / (n - 1)), 6) AS sigma_ln,
           round(exp(CAST(s AS DOUBLE) / n), 6) AS fitted_median,
           round(exp(CAST(s AS DOUBLE) / n
                     + ((CAST(q AS DOUBLE)
                         - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
                        / (n - 1)) / 2), 6) AS fitted_mean,
           round(CAST(sc AS DOUBLE) / n / 100.0, 6) AS sample_mean,
           round(exp(CAST(s AS DOUBLE) / n
                     + ((CAST(q AS DOUBLE)
                         - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
                        / (n - 1)) / 2)
                 / (CAST(sc AS DOUBLE) / n / 100.0), 6) AS mean_ratio
    FROM mo
    """,
)
def agg_lognormal_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOG-NORMAL DISTRIBUTION FIT per event type by moments in log
    space (mu, sigma of ln value), with the implied median
    exp(mu) and mean exp(mu + sigma²/2), and mean_ratio =
    fitted_mean/sample_mean as the one-number GOODNESS check — the
    heavy-tail triage step between agg_interarrival_exp_fit
    (exponential), agg_tail_index_hill (Pareto tail), and
    agg_overdispersion_nb_fit (counts): a mean_ratio near 1 says the
    body is lognormal-compatible; on this fixture's exponential
    values it visibly is NOT (the documented negative case), which is
    exactly what the column is for.

    Shape at 100 TB: ONE grouped scan (count, cent sum, log sum, log
    square sum) — map-side combinable, nothing else.

    Parity: per-row ln quantizes round(9) into DECIMAL before the
    order-independent sums (cross-libm ln drift ~1e-16 relative sits
    seven orders below the quantum — the agg_theil_index argument);
    squares go through DECIMAL(19,9) operands (the DuckDB int64
    kernel rule: ln values reach ~6.3, whose scaled square exceeds
    int64); mu, sigma, and the exp() outputs are shared double
    expressions of exact sums, round(6)."""
    ev = table(spark, sf_dir, "events")
    r = ev.where(F.col("value") > 0).select(
        "event_type",
        F.expr("CAST(value * 100 + 0.5 AS BIGINT)").alias("c"),
        F.expr("CAST(round(ln(value), 9) AS DECIMAL(18,9))").alias("l"),
    )
    mo = r.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("sc"),
        F.sum("l").cast("decimal(28,9)").alias("s"),
        F.sum(F.expr("CAST(l AS DECIMAL(19,9)) * l"))
        .cast("decimal(38,18)")
        .alias("q"),
    )
    var_expr = (
        "((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)"
        " / (n - 1))"
    )
    return mo.selectExpr(
        "event_type",
        "n",
        "round(CAST(s AS DOUBLE) / n, 6) AS mu_ln",
        f"round(sqrt({var_expr}), 6) AS sigma_ln",
        "round(exp(CAST(s AS DOUBLE) / n), 6) AS fitted_median",
        f"round(exp(CAST(s AS DOUBLE) / n + {var_expr} / 2), 6)"
        " AS fitted_mean",
        "round(CAST(sc AS DOUBLE) / n / 100.0, 6) AS sample_mean",
        f"round(exp(CAST(s AS DOUBLE) / n + {var_expr} / 2)"
        " / (CAST(sc AS DOUBLE) / n / 100.0), 6) AS mean_ratio",
    )


# ---------------------------------------------------------------------------
# agg_partial_correlation
# ---------------------------------------------------------------------------


@query(
    "agg_partial_correlation",
    oracle="""
    WITH daily AS MATERIALIZED (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(round(CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                             AS DOUBLE) / count(*) / 100.0, 6)
                  AS DECIMAL(16,6)) AS m
      FROM events WHERE event_type IN ('click', 'purchase', 'view')
      GROUP BY 1, 2),
    w AS MATERIALIZED (
      SELECT day,
             max(CASE WHEN event_type = 'click' THEN m END) AS x,
             max(CASE WHEN event_type = 'purchase' THEN m END) AS y,
             max(CASE WHEN event_type = 'view' THEN m END) AS z
      FROM daily GROUP BY day
      HAVING count(*) = 3),
    mo AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(z) AS DOUBLE) AS sz,
             CAST(sum(CAST(x AS DECIMAL(19,6)) * x) AS DOUBLE) AS sxx,
             CAST(sum(CAST(y AS DECIMAL(19,6)) * y) AS DOUBLE) AS syy,
             CAST(sum(CAST(z AS DECIMAL(19,6)) * z) AS DOUBLE) AS szz,
             CAST(sum(CAST(x AS DECIMAL(19,6)) * y) AS DOUBLE) AS sxy,
             CAST(sum(CAST(x AS DECIMAL(19,6)) * z) AS DOUBLE) AS sxz,
             CAST(sum(CAST(y AS DECIMAL(19,6)) * z) AS DOUBLE) AS syz
      FROM w),
    rr AS (
      SELECT n,
             round((n*sxy - sx*sy)
                   / (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy)), 9)
               AS rxy,
             round((n*sxz - sx*sz)
                   / (sqrt(n*sxx - sx*sx) * sqrt(n*szz - sz*sz)), 9)
               AS rxz,
             round((n*syz - sy*sz)
                   / (sqrt(n*syy - sy*sy) * sqrt(n*szz - sz*sz)), 9)
               AS ryz
      FROM mo)
    SELECT n AS n_days,
           round(rxy, 6) AS r_click_purchase,
           round(rxz, 6) AS r_click_view,
           round(ryz, 6) AS r_purchase_view,
           round((rxy - rxz * ryz)
                 / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)), 6)
             AS partial_r_given_view
    FROM rr
    """,
)
def agg_partial_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTIAL CORRELATION between the click and purchase daily-mean
    series CONTROLLING FOR view volume: r_xy.z = (r_xy - r_xz r_yz) /
    sqrt((1-r_xz²)(1-r_yz²)) — the confounder-adjusted answer to "do
    click and purchase revenue co-move, or do both just follow
    traffic?" that the raw pairwise entries of agg_covariance_matrix
    cannot give. The three pairwise correlations ride along so the
    adjustment is readable (a large r_xy that collapses in the
    partial IS the traffic-confounding signature).

    Shape at 100 TB: one groupBy to the day x type domain, one pivot
    to a 30-row (x, y, z) frame, one moment reduce — everything after
    the first aggregate is bounded.

    Parity: daily means quantize round(6) into DECIMAL(16,6); raw
    moment sums are exact decimals (DECIMAL(19,6) squares) cast once
    to double; the three Pearson r's quantize round(9) before
    entering the partial formula (one shared double expression),
    round(6) at output."""
    ev = table(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("event_type").isin("click", "purchase", "view"))
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(F.expr("CAST(value * 100 + 0.5 AS BIGINT)")).alias(
                "cents"
            ),
            F.count("*").alias("cnt"),
        )
        .select(
            "event_type",
            "day",
            F.expr(
                "CAST(round(CAST(cents AS DOUBLE) / cnt / 100.0, 6)"
                " AS DECIMAL(16,6))"
            ).alias("m"),
        )
    )
    w = (
        daily.groupBy("day")
        .agg(
            F.max(F.when(F.col("event_type") == "click", F.col("m"))).alias(
                "x"
            ),
            F.max(
                F.when(F.col("event_type") == "purchase", F.col("m"))
            ).alias("y"),
            F.max(F.when(F.col("event_type") == "view", F.col("m"))).alias(
                "z"
            ),
            F.count("*").alias("k"),
        )
        .where(F.col("k") == 3)
        .localCheckpoint()
    )
    mo = w.agg(
        F.count("*").cast("bigint").alias("n"),
        F.expr("CAST(sum(x) AS DOUBLE)").alias("sx"),
        F.expr("CAST(sum(y) AS DOUBLE)").alias("sy"),
        F.expr("CAST(sum(z) AS DOUBLE)").alias("sz"),
        F.expr("CAST(sum(CAST(x AS DECIMAL(19,6)) * x) AS DOUBLE)").alias(
            "sxx"
        ),
        F.expr("CAST(sum(CAST(y AS DECIMAL(19,6)) * y) AS DOUBLE)").alias(
            "syy"
        ),
        F.expr("CAST(sum(CAST(z AS DECIMAL(19,6)) * z) AS DOUBLE)").alias(
            "szz"
        ),
        F.expr("CAST(sum(CAST(x AS DECIMAL(19,6)) * y) AS DOUBLE)").alias(
            "sxy"
        ),
        F.expr("CAST(sum(CAST(x AS DECIMAL(19,6)) * z) AS DOUBLE)").alias(
            "sxz"
        ),
        F.expr("CAST(sum(CAST(y AS DECIMAL(19,6)) * z) AS DOUBLE)").alias(
            "syz"
        ),
    )
    rr = mo.selectExpr(
        "n",
        "round((n*sxy - sx*sy)"
        " / (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy)), 9) AS rxy",
        "round((n*sxz - sx*sz)"
        " / (sqrt(n*sxx - sx*sx) * sqrt(n*szz - sz*sz)), 9) AS rxz",
        "round((n*syz - sy*sz)"
        " / (sqrt(n*syy - sy*sy) * sqrt(n*szz - sz*sz)), 9) AS ryz",
    )
    return rr.selectExpr(
        "n AS n_days",
        "round(rxy, 6) AS r_click_purchase",
        "round(rxz, 6) AS r_click_view",
        "round(ryz, 6) AS r_purchase_view",
        "round((rxy - rxz * ryz)"
        " / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)), 6)"
        " AS partial_r_given_view",
    )


# ---------------------------------------------------------------------------
# agg_lmoments_suite
# ---------------------------------------------------------------------------

# C(i, k) closed forms as exact integer expressions (consecutive-
# integer products are divisible by k! — integer division is exact).
# Stepwise form: every parenthesized prefix is itself a binomial
# coefficient (exact integer division at each step). C(i,2)/C(i,3)
# stay in int64 to i ~ 2e6 positions per group; the QUARTIC C(i,4)
# promotes its final multiply to 128-bit (Spark: DECIMAL(25,0)
# product then an exact /4 — the quotient is integer-valued so the
# scale-6 decimal represents it exactly; DuckDB: HUGEINT with //),
# which carries the weights to i ~ 2e8 positions per group (the
# DECIMAL(38,6) quotient holds C(i,4) exactly while C(i,4) < 1e32).
def _comb(k: int, i: str, engine: str) -> str:
    c2 = f"(({i}) * (({i}) - 1) {{d}} 2)"
    c3 = f"({c2} * (({i}) - 2) {{d}} 3)"
    if k == 1:
        return f"({i})"
    if k == 2:
        return c2.format(d="div" if engine == "spark" else "//")
    if k == 3:
        return c3.format(d="div" if engine == "spark" else "//")
    c3r = c3.format(d="div" if engine == "spark" else "//")
    if engine == "spark":
        return f"(CAST({c3r} AS DECIMAL(25,0)) * (({i}) - 3) / 4)"
    return f"(CAST({c3r} AS HUGEINT) * (({i}) - 3) // 4)"


def _lmom_numerators(engine: str) -> str:
    """Per-value-block numerator columns N0..N3: the order-statistic
    weight sums folded over each tied block [lo, hi] with the
    hockey-stick identity sum_{i=lo..hi} C(i-1, r) =
    C(hi, r+1) - C(lo-1, r+1). DuckDB multiplies value x weight in
    HUGEINT; Spark in DECIMAL (integer-valued throughout)."""
    cast_c = (
        "CAST(c AS DECIMAL(19,0))" if engine == "spark"
        else "CAST(c AS HUGEINT)"
    )
    cols = []
    for r in range(4):
        k = r + 1
        hi = _comb(k, "hi", engine)
        lo = _comb(k, "lo - 1", engine)
        cols.append(
            f"CAST(sum({cast_c}"
            f" * ({hi} - {lo})) AS DECIMAL(38,0)) AS nu{r}"
        )
    return ",\n             ".join(cols)


@query(
    "agg_lmoments_suite",
    oracle=f"""
    WITH r AS (
      SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS c
      FROM events),
    blk AS MATERIALIZED (
      SELECT event_type, c, CAST(count(*) AS BIGINT) AS f
      FROM r GROUP BY 1, 2),
    pos AS MATERIALIZED (
      SELECT event_type, c,
             sum(f) OVER (PARTITION BY event_type ORDER BY c) - f + 1
               AS lo,
             sum(f) OVER (PARTITION BY event_type ORDER BY c) AS hi
      FROM blk),
    nums AS (
      SELECT event_type,
             CAST(max(hi) AS BIGINT) AS n,
             {_lmom_numerators("duckdb")}
      FROM pos GROUP BY event_type),
    bs AS (
      SELECT event_type, n,
             CAST(nu0 AS DOUBLE) / n AS b0,
             CAST(nu1 AS DOUBLE) / (n * CAST(n - 1 AS DOUBLE)) AS b1,
             CAST(nu2 AS DOUBLE)
               / (n * (CAST(n - 1 AS DOUBLE) * (n - 2) / 2)) AS b2,
             CAST(nu3 AS DOUBLE)
               / (n * (CAST(n - 1 AS DOUBLE) * (n - 2) * (n - 3) / 6))
               AS b3
      FROM nums)
    SELECT event_type, n,
           round(b0 / 100.0, 6) AS l1_mean,
           round((2 * b1 - b0) / 100.0, 6) AS l2_scale,
           round((2 * b1 - b0) / b0, 6) AS l_cv,
           round((6 * b2 - 6 * b1 + b0) / (2 * b1 - b0), 6)
             AS l_skewness,
           round((20 * b3 - 30 * b2 + 12 * b1 - b0) / (2 * b1 - b0), 6)
             AS l_kurtosis
    FROM bs
    """,
)
def agg_lmoments_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L-MOMENTS per event type — L-mean, L-scale, L-CV, L-skewness,
    L-kurtosis — computed EXACTLY from probability-weighted moments:
    b_r = (1/n) Σ_i [C(i-1,r)/C(n-1,r)] x_(i). The order-statistic
    moment family that exists whenever the MEAN exists (classical
    skewness/kurtosis need 3rd/4th moments — agg_jarque_bera is
    undefined-in-principle on heavy tails where t3/t4 are fine) and
    is bounded (|t3|,|t4| < 1), making cross-dataset shape
    comparisons meaningful. The standard distribution-fitting
    front-end for the extreme-value family (agg_gumbel_block_maxima's
    method-of-moments fit would normally be an L-moment fit at
    production quality).

    The key move: order statistics WITHOUT a global sort. Each tied
    value block occupies sorted positions [lo, hi] (cumulative counts
    on the value domain), and the hockey-stick identity
    Σ_{{i=lo..hi}} C(i-1,r) = C(hi,r+1) - C(lo-1,r+1) collapses each
    block's weight sum to a CLOSED FORM in lo/hi — so b_r's numerator
    is one pass over the bounded value domain with polynomial integer
    weights, exact to the last digit: C(i,2)/C(i,3) stay in int64 to
    ~2e6 positions per group, and the quartic C(i,4) promotes its
    final multiply to 128-bit (Spark DECIMAL(25,0) product with an
    exact /4; DuckDB HUGEINT with //), exact while C(i,4) < 1e32,
    i.e. to ~2e8 sorted positions per group; the value multiply runs
    in DECIMAL(19,0)/HUGEINT.

    Shape at 100 TB: one grouped scan to the value domain; two
    windows over it; one aggregate. No row-level sort anywhere.

    Parity: all numerators are exact integers (consecutive-integer
    products integer-divide exactly by k!); the b_r normalizations
    and L-ratios are shared double expressions, round(6)."""
    ev = table(spark, sf_dir, "events")
    r = ev.select(
        "event_type", F.expr("CAST(value * 100 + 0.5 AS BIGINT)").alias("c")
    )
    blk = r.groupBy("event_type", "c").agg(
        F.count("*").cast("bigint").alias("f")
    )
    w_v = (
        Window.partitionBy("event_type")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pos = blk.select(
        "event_type",
        "c",
        (F.sum("f").over(w_v) - F.col("f") + 1).alias("lo"),
        F.sum("f").over(w_v).alias("hi"),
    )
    nums = pos.groupBy("event_type").agg(
        F.max("hi").cast("bigint").alias("n"),
        *[
            F.expr(
                f"CAST(sum(CAST(c AS DECIMAL(19,0)) * "
                f"({_comb(r + 1, 'hi', 'spark')}"
                f" - {_comb(r + 1, 'lo - 1', 'spark')}))"
                f" AS DECIMAL(38,0))"
            ).alias(f"nu{r}")
            for r in range(4)
        ],
    )
    bs = nums.selectExpr(
        "event_type",
        "n",
        "CAST(nu0 AS DOUBLE) / n AS b0",
        "CAST(nu1 AS DOUBLE) / (n * CAST(n - 1 AS DOUBLE)) AS b1",
        "CAST(nu2 AS DOUBLE)"
        " / (n * (CAST(n - 1 AS DOUBLE) * (n - 2) / 2)) AS b2",
        "CAST(nu3 AS DOUBLE)"
        " / (n * (CAST(n - 1 AS DOUBLE) * (n - 2) * (n - 3) / 6)) AS b3",
    )
    return bs.selectExpr(
        "event_type",
        "n",
        "round(b0 / 100.0, 6) AS l1_mean",
        "round((2 * b1 - b0) / 100.0, 6) AS l2_scale",
        "round((2 * b1 - b0) / b0, 6) AS l_cv",
        "round((6 * b2 - 6 * b1 + b0) / (2 * b1 - b0), 6) AS l_skewness",
        "round((20 * b3 - 30 * b2 + 12 * b1 - b0) / (2 * b1 - b0), 6)"
        " AS l_kurtosis",
    )


# ---------------------------------------------------------------------------
# agg_wasserstein_distance
# ---------------------------------------------------------------------------


@query(
    "agg_wasserstein_distance",
    oracle="""
    WITH r AS (
      SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS c
      FROM events WHERE event_type IN ('click', 'view')),
    blk AS MATERIALIZED (
      SELECT c,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS f1,
             CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS BIGINT) AS f2
      FROM r GROUP BY c),
    tot AS MATERIALIZED (
      SELECT CAST(sum(f1) AS BIGINT) AS n1, CAST(sum(f2) AS BIGINT) AS n2
      FROM blk),
    cum AS MATERIALIZED (
      SELECT c,
             CAST(sum(f1) OVER (ORDER BY c) AS BIGINT) AS a1,
             CAST(sum(f2) OVER (ORDER BY c) AS BIGINT) AS a2,
             lead(c) OVER (ORDER BY c) AS cn
      FROM blk),
    s AS (
      SELECT CAST(sum(CAST(abs(cum.a1 * tot.n2 - cum.a2 * tot.n1)
                           AS DECIMAL(19,0)) * (cum.cn - cum.c))
                  AS DECIMAL(38,0)) AS w,
             CAST(count(*) AS BIGINT) AS nblk
      FROM cum CROSS JOIN tot WHERE cum.cn IS NOT NULL)
    SELECT tot.n1 AS n_click, tot.n2 AS n_view, s.nblk + 1 AS n_blocks,
           round(CAST(s.w AS DOUBLE)
                 / (CAST(tot.n1 AS DOUBLE) * tot.n2) / 100.0, 6)
             AS wasserstein_1
    FROM s CROSS JOIN tot
    """,
)
def agg_wasserstein_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 1-WASSERSTEIN (earth-mover's) DISTANCE between the click
    and view value distributions: W1 = integral |F1 - F2| over the
    value axis, computed as an EXACT INTEGER sum over the distinct-
    cents domain — Σ |cum1·n2 - cum2·n1|·gap, divided once at the end
    — the transport-cost distribution distance in the distribution
    family's missing slot: KS reads the worst POINT discrepancy, AD
    the tail-weighted quadratic, W1 the total WORK to morph one
    distribution into the other, in value units (dollars) a product
    owner can read. Zero float error until the final division.

    Shape at 100 TB: one grouped scan to the value domain, one
    cumulative window, one reduce — the agg_mann_whitney_u shape.

    Parity: every term is an exact integer (DECIMAL(19,0) operands
    keep the product sums in the 128-bit kernel at any sf); one
    shared double division, round(6)."""
    ev = table(spark, sf_dir, "events")
    r = ev.where(F.col("event_type").isin("click", "view")).select(
        "event_type", F.expr("CAST(value * 100 + 0.5 AS BIGINT)").alias("c")
    )
    blk = r.groupBy("c").agg(
        F.sum(F.expr("CASE WHEN event_type = 'click' THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("f1"),
        F.sum(F.expr("CASE WHEN event_type = 'view' THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("f2"),
    ).localCheckpoint()
    tot = blk.agg(
        F.sum("f1").cast("bigint").alias("n1"),
        F.sum("f2").cast("bigint").alias("n2"),
    )
    w_c = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    cum = blk.select(
        "c",
        F.sum("f1").over(w_c).cast("bigint").alias("a1"),
        F.sum("f2").over(w_c).cast("bigint").alias("a2"),
        F.lead("c").over(Window.orderBy("c")).alias("cn"),
    )
    s = (
        cum.crossJoin(F.broadcast(tot))
        .where(F.col("cn").isNotNull())
        .agg(
            F.sum(
                F.expr(
                    "CAST(abs(a1 * n2 - a2 * n1) AS DECIMAL(19,0))"
                    " * (cn - c)"
                )
            )
            .cast("decimal(38,0)")
            .alias("w"),
            F.count("*").cast("bigint").alias("nblk"),
        )
    )
    return s.crossJoin(F.broadcast(tot)).selectExpr(
        "n1 AS n_click",
        "n2 AS n_view",
        "nblk + 1 AS n_blocks",
        "round(CAST(w AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2) / 100.0, 6)"
        " AS wasserstein_1",
    )


# ---------------------------------------------------------------------------
# agg_energy_distance
# ---------------------------------------------------------------------------

# E|X-Y| over a shared sorted domain via prefix sums: for each block v
# with weight g(v), sum_u f(u)|u-v| = v*A(v) - B(v) + (Btot - B(v))
# - v*(Atot - A(v)) with A/B the count / value-weighted prefix sums of
# f — O(domain), never all-pairs.
_ED_INNER = (
    "CAST({v} AS DECIMAL(19,0)) * {a} - {b}"
    " + ({btot} - {b}) - CAST({v} AS DECIMAL(19,0)) * ({atot} - {a})"
)


@query(
    "agg_energy_distance",
    oracle=f"""
    WITH r AS (
      SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS c
      FROM events WHERE event_type IN ('click', 'view')),
    blk AS MATERIALIZED (
      SELECT c,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS f1,
             CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS BIGINT) AS f2
      FROM r GROUP BY c),
    tot AS MATERIALIZED (
      SELECT CAST(sum(f1) AS BIGINT) AS n1,
             CAST(sum(f2) AS BIGINT) AS n2,
             CAST(sum(CAST(c AS DECIMAL(19,0)) * f1) AS DECIMAL(38,0))
               AS b1t,
             CAST(sum(CAST(c AS DECIMAL(19,0)) * f2) AS DECIMAL(38,0))
               AS b2t
      FROM blk),
    cum AS MATERIALIZED (
      SELECT c, f1, f2,
             CAST(sum(f1) OVER (ORDER BY c) AS BIGINT) AS a1,
             CAST(sum(f2) OVER (ORDER BY c) AS BIGINT) AS a2,
             CAST(sum(CAST(c AS DECIMAL(19,0)) * f1) OVER (ORDER BY c)
                  AS DECIMAL(38,0)) AS b1,
             CAST(sum(CAST(c AS DECIMAL(19,0)) * f2) OVER (ORDER BY c)
                  AS DECIMAL(38,0)) AS b2
      FROM blk),
    s AS (
      SELECT
        CAST(sum(cum.f2 * ({_ED_INNER.format(v='cum.c', a='cum.a1',
                                             b='cum.b1', atot='tot.n1',
                                             btot='tot.b1t')}))
             AS DECIMAL(38,0)) AS sxy,
        CAST(sum(cum.f1 * ({_ED_INNER.format(v='cum.c', a='cum.a1',
                                             b='cum.b1', atot='tot.n1',
                                             btot='tot.b1t')}))
             AS DECIMAL(38,0)) AS sxx,
        CAST(sum(cum.f2 * ({_ED_INNER.format(v='cum.c', a='cum.a2',
                                             b='cum.b2', atot='tot.n2',
                                             btot='tot.b2t')}))
             AS DECIMAL(38,0)) AS syy
      FROM cum CROSS JOIN tot)
    SELECT tot.n1 AS n_click, tot.n2 AS n_view,
           round(CAST(s.sxy AS DOUBLE)
                 / (CAST(tot.n1 AS DOUBLE) * tot.n2) / 100.0, 6)
             AS e_between,
           round(CAST(s.sxx AS DOUBLE)
                 / (CAST(tot.n1 AS DOUBLE) * tot.n1) / 100.0, 6)
             AS e_within_click,
           round(CAST(s.syy AS DOUBLE)
                 / (CAST(tot.n2 AS DOUBLE) * tot.n2) / 100.0, 6)
             AS e_within_view,
           round(2.0 * CAST(s.sxy AS DOUBLE)
                   / (CAST(tot.n1 AS DOUBLE) * tot.n2) / 100.0
                 - CAST(s.sxx AS DOUBLE)
                   / (CAST(tot.n1 AS DOUBLE) * tot.n1) / 100.0
                 - CAST(s.syy AS DOUBLE)
                   / (CAST(tot.n2 AS DOUBLE) * tot.n2) / 100.0, 6)
             AS energy_distance,
           round((2.0 * CAST(s.sxy AS DOUBLE)
                    / (CAST(tot.n1 AS DOUBLE) * tot.n2)
                  - CAST(s.sxx AS DOUBLE)
                    / (CAST(tot.n1 AS DOUBLE) * tot.n1)
                  - CAST(s.syy AS DOUBLE)
                    / (CAST(tot.n2 AS DOUBLE) * tot.n2))
                 / (2.0 * CAST(s.sxy AS DOUBLE)
                    / (CAST(tot.n1 AS DOUBLE) * tot.n2)), 6)
             AS e_coefficient
    FROM s CROSS JOIN tot
    """,
)
def agg_energy_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ENERGY DISTANCE between the click and view value
    distributions: D = 2E|X-Y| - E|X-X'| - E|Y-Y'| (Székely), with
    every pairwise-|difference| expectation computed EXACTLY via the
    sorted-domain prefix-sum identity (per block v: Σ_u f(u)|u-v| =
    v·A(v) - B(v) + (Btot-B(v)) - v·(Atot-A(v))) — O(value domain),
    never the n² pair grid. D = 0 iff the distributions are EQUAL
    (energy distance is a metric), which neither a mean gap nor a
    variance ratio can claim; the normalized e_coefficient
    D/(2E|X-Y|) lands in [0,1] as the effect-size reading. Completes
    the distribution-distance trio: KS (sup), W1 (transport), energy
    (metric with all moments).

    Shape at 100 TB: one grouped scan to the value domain, two
    prefix-sum windows, one reduce.

    Parity: counts and value-weighted prefix sums are exact integers
    in the 128-bit decimal kernel; the three expectation sums are
    exact DECIMAL(38,0); divisions happen once in shared double
    expressions, round(6)."""
    ev = table(spark, sf_dir, "events")
    r = ev.where(F.col("event_type").isin("click", "view")).select(
        "event_type", F.expr("CAST(value * 100 + 0.5 AS BIGINT)").alias("c")
    )
    blk = r.groupBy("c").agg(
        F.sum(F.expr("CASE WHEN event_type = 'click' THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("f1"),
        F.sum(F.expr("CASE WHEN event_type = 'view' THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("f2"),
    ).localCheckpoint()
    tot = blk.agg(
        F.sum("f1").cast("bigint").alias("n1"),
        F.sum("f2").cast("bigint").alias("n2"),
        F.sum(F.expr("CAST(c AS DECIMAL(19,0)) * f1"))
        .cast("decimal(38,0)")
        .alias("b1t"),
        F.sum(F.expr("CAST(c AS DECIMAL(19,0)) * f2"))
        .cast("decimal(38,0)")
        .alias("b2t"),
    )
    w_c = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    cum = blk.select(
        "c",
        "f1",
        "f2",
        F.sum("f1").over(w_c).cast("bigint").alias("a1"),
        F.sum("f2").over(w_c).cast("bigint").alias("a2"),
        F.sum(F.expr("CAST(c AS DECIMAL(19,0)) * f1"))
        .over(w_c)
        .cast("decimal(38,0)")
        .alias("b1"),
        F.sum(F.expr("CAST(c AS DECIMAL(19,0)) * f2"))
        .over(w_c)
        .cast("decimal(38,0)")
        .alias("b2"),
    )
    inner1 = _ED_INNER.format(v="c", a="a1", b="b1", atot="n1", btot="b1t")
    inner2 = _ED_INNER.format(v="c", a="a2", b="b2", atot="n2", btot="b2t")
    s = cum.crossJoin(F.broadcast(tot)).agg(
        F.sum(F.expr(f"f2 * ({inner1})")).cast("decimal(38,0)").alias("sxy"),
        F.sum(F.expr(f"f1 * ({inner1})")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.expr(f"f2 * ({inner2})")).cast("decimal(38,0)").alias("syy"),
    )
    exy = "CAST(sxy AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2)"
    exx = "CAST(sxx AS DOUBLE) / (CAST(n1 AS DOUBLE) * n1)"
    eyy = "CAST(syy AS DOUBLE) / (CAST(n2 AS DOUBLE) * n2)"
    return s.crossJoin(F.broadcast(tot)).selectExpr(
        "n1 AS n_click",
        "n2 AS n_view",
        f"round({exy} / 100.0, 6) AS e_between",
        f"round({exx} / 100.0, 6) AS e_within_click",
        f"round({eyy} / 100.0, 6) AS e_within_view",
        f"round(2.0 * {exy} / 100.0 - {exx} / 100.0 - {eyy} / 100.0, 6)"
        " AS energy_distance",
        f"round((2.0 * {exy} - {exx} - {eyy}) / (2.0 * {exy}), 6)"
        " AS e_coefficient",
    )


@session_artifact
def _day_type_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DENSIFIED (day, event_type, c) integer-cent grid — missing
    cells are true zeros (the blocked-cells rule) — checkpointed once
    per (application, sf_dir); shared by agg_cronbach_alpha and
    agg_borda_copeland_ranks (round-10 self-review: two verbatim
    ~20-line grid constructions)."""
    ev = table(spark, sf_dir, "events")
    cell0 = (
        ev.groupBy(F.expr("CAST(ts AS DATE)").alias("day"), "event_type")
        .agg(
            F.expr(
                "CAST(sum(CAST(value * 100 + 0.5 AS BIGINT))"
                " AS BIGINT)"
            ).alias("c")
        )
        .localCheckpoint()
    )
    days = cell0.select("day").distinct()
    types = cell0.select("event_type").distinct()
    return (
        days.crossJoin(F.broadcast(types))
        .join(cell0, ["day", "event_type"], "left")
        .select(
            "day",
            "event_type",
            F.coalesce("c", F.lit(0)).alias("c"),
        )
        .localCheckpoint()
    )


# ---------------------------------------------------------------------------
# agg_lorenz_curve_deciles
# ---------------------------------------------------------------------------


@query(
    "agg_lorenz_curve_deciles",
    oracle="""
    WITH cust AS (
      SELECT o_custkey,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS rev
      FROM orders GROUP BY o_custkey),
    blk AS MATERIALIZED (
      SELECT rev, CAST(count(*) AS BIGINT) AS f,
             CAST(rev * count(*) AS BIGINT) AS tot
      FROM cust GROUP BY rev),
    cum AS MATERIALIZED (
      SELECT rev, f, tot,
             sum(f) OVER w - f AS cf_before,
             sum(tot) OVER w - tot AS ct_before
      FROM blk WINDOW w AS (ORDER BY rev ROWS UNBOUNDED PRECEDING)),
    nn AS (SELECT CAST(sum(f) AS BIGINT) AS n,
                  CAST(sum(tot) AS BIGINT) AS t FROM blk),
    dec AS (SELECT CAST(unnest(generate_series(1, 10)) AS BIGINT) AS k),
    pick AS (
      SELECT d.k, nn.n, nn.t,
             (d.k * nn.n) // 10 AS mk,
             c.ct_before + ((d.k * nn.n) // 10 - c.cf_before) * c.rev
               AS cumrev
      FROM dec d CROSS JOIN nn
      JOIN cum c ON c.cf_before < (d.k * nn.n) // 10
                AND (d.k * nn.n) // 10 <= c.cf_before + c.f)
    SELECT k AS decile, mk AS cum_customers,
           CAST(cumrev AS BIGINT) AS cum_rev_cents,
           round(CAST(cumrev AS DOUBLE) / t, 6) AS rev_share
    FROM pick
    """,
)
def agg_lorenz_curve_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LORENZ CURVE AT THE DECILES of per-customer revenue: for each
    k = 1..10, the exact share of total revenue earned by the poorest
    floor(k*n/10) customers — the distribution CURVE behind
    agg_gini_concentration's single number (two datasets can share a
    Gini and differ wildly in where the concentration lives; the
    dataset-card needs the curve) and the concentration companion to
    agg_abc_pareto_class's fixed 80/20 cut.

    EXACT order statistics without a row sort: per-customer cents
    collapse to the distinct-revenue value DOMAIN with block counts
    and block revenue; one bounded-domain cumulative window gives
    every block's preceding customer count and revenue; decile k's
    cumulative revenue is cum_before + (m_k - count_before) * rev of
    the block CONTAINING position m_k = (k*n) div 10 — a closed form
    in exact BIGINTs (the agg_exact_quantile_2pass move extended from
    one rank to a prefix SUM at a rank). The only double is the final
    share division, round(6).

    Shape at 100 TB: one grouped scan to the value domain, one
    window over it, a 10-row domain join. Never a global sort."""
    o = table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.sum(F.expr("CAST(o_totalprice * 100 + 0.5 AS BIGINT)"))
        .cast("bigint")
        .alias("rev")
    )
    blk = cust.groupBy("rev").agg(
        F.count("*").cast("bigint").alias("f"),
        (F.col("rev") * F.count("*")).cast("bigint").alias("tot"),
    ).localCheckpoint()  # customer-grain value domain, read twice
    # exclusive prefixes via the distributed two-level sum — the
    # revenue domain is customer-grain, never a single-partition sort
    # (functions/domain.py; round-10 verdict window rule)
    cum = dist_exclusive_prefix(
        blk, [("rev", False)], ["f", "tot"],
        cache_key=f"lorenz:{sf_dir}",
    ).selectExpr(
        "rev",
        "f",
        "tot",
        "CAST(_pre_f AS BIGINT) AS cf_before",
        "CAST(_pre_tot AS BIGINT) AS ct_before",
    )
    nn = blk.agg(
        F.sum("f").cast("bigint").alias("n"),
        F.sum("tot").cast("bigint").alias("t"),
    )
    dec = spark.range(1, 11).select(F.col("id").alias("k"))
    pick = (
        dec.crossJoin(F.broadcast(nn))
        .join(
            cum,
            F.expr(
                "cf_before < (k * n) div 10"
                " AND (k * n) div 10 <= cf_before + f"
            ),
        )
        .selectExpr(
            "k",
            "n",
            "t",
            "(k * n) div 10 AS mk",
            "ct_before + ((k * n) div 10 - cf_before) * rev AS cumrev",
        )
    )
    return pick.selectExpr(
        "k AS decile",
        "mk AS cum_customers",
        "CAST(cumrev AS BIGINT) AS cum_rev_cents",
        "round(CAST(cumrev AS DOUBLE) / t, 6) AS rev_share",
    )


# ---------------------------------------------------------------------------
# agg_poisson_dispersion
# ---------------------------------------------------------------------------


@query(
    "agg_poisson_dispersion",
    oracle="""
    WITH day AS (
      SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS cnt
      FROM events WHERE event_type = 'click' GROUP BY 1),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cnt) AS BIGINT) AS s,
             CAST(sum(cnt * cnt) AS BIGINT) AS q
      FROM day)
    SELECT n AS n_days, s AS n_events,
           round(CAST(n * q - s * s AS DOUBLE) / CAST(s AS DOUBLE), 6)
             AS chi2_stat,
           round(CAST(n * q - s * s AS DOUBLE)
                 / CAST(s * (n - 1) AS DOUBLE), 6) AS dispersion_ratio,
           CAST(CASE WHEN round(CAST(n * q - s * s AS DOUBLE)
                               / CAST(s AS DOUBLE), 9) >= 45.722
                THEN 1 ELSE 0 END AS BIGINT) AS overdispersed_05,
           CAST(CASE WHEN round(CAST(n * q - s * s AS DOUBLE)
                               / CAST(s AS DOUBLE), 9) <= 16.047
                THEN 1 ELSE 0 END AS BIGINT) AS underdispersed_05
    FROM s
    """,
)
def agg_poisson_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POISSON DISPERSION (variance-to-mean index) TEST on daily
    click arrival counts: chi2 = SUM (c_d - cbar)^2 / cbar ~
    chi^2(n-1) under a homogeneous Poisson process; the dispersion
    ratio chi2/(n-1) reads directly as variance/mean.
    Over-dispersion (> 45.722 at n = 30) is the burstiness /
    day-effect signal that decides between Poisson and negative-
    binomial traffic models — the COUNT-side companion to the
    value-side serial tests (agg_runs_test etc.) on the same day
    grid.  Sibling: agg_overdispersion_nb_fit asks the same question
    of PER-USER lifetime counts (population heterogeneity) and fits
    the NB replacement; this one tests the DAY axis (temporal
    burstiness) where capacity planning lives.

    Exactness: the identity SUM (c - cbar)^2 / cbar = (n*Q - S^2)/S
    makes the statistic a ratio of exact BIGINTs (counts, their
    squares); ONE double division, round(6), with both chi^2(29)
    5% tails gated at round(9).

    Shape at 100 TB: one filtered count-groupBy to the day domain,
    one 30-row aggregate, constant work after."""
    ev = table(spark, sf_dir, "events")
    day = (
        ev.where(F.col("event_type") == "click")
        .groupBy(F.expr("CAST(ts AS DATE)").alias("day"))
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    s = day.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cnt").cast("bigint").alias("s"),
        F.expr("CAST(sum(cnt * cnt) AS BIGINT)").alias("q"),
    )
    chi_txt = "CAST(n * q - s * s AS DOUBLE) / CAST(s AS DOUBLE)"
    return s.selectExpr(
        "n AS n_days",
        "s AS n_events",
        f"round({chi_txt}, 6) AS chi2_stat",
        "round(CAST(n * q - s * s AS DOUBLE)"
        " / CAST(s * (n - 1) AS DOUBLE), 6) AS dispersion_ratio",
        f"CAST(CASE WHEN round({chi_txt}, 9) >= 45.722 THEN 1 ELSE 0 END"
        " AS BIGINT) AS overdispersed_05",
        f"CAST(CASE WHEN round({chi_txt}, 9) <= 16.047 THEN 1 ELSE 0 END"
        " AS BIGINT) AS underdispersed_05",
    )


# ---------------------------------------------------------------------------
# agg_hhi_concentration
# ---------------------------------------------------------------------------


@query(
    "agg_hhi_concentration",
    oracle="""
    WITH rev AS (
      SELECT s.s_nationkey, l.l_suppkey,
             CAST(sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS r
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY 1, 2),
    nat AS (
      SELECT s_nationkey,
             CAST(count(*) AS BIGINT) AS n_suppliers,
             CAST(sum(r) AS BIGINT) AS tot,
             sum(CAST(r AS HUGEINT) * r) AS sq,
             CAST(max(r) AS BIGINT) AS mx
      FROM rev GROUP BY 1)
    SELECT n.s_nationkey AS nationkey, nn.n_name AS nation,
           n_suppliers,
           tot AS total_cents,
           round(CAST(sq AS DOUBLE) / (CAST(tot AS DOUBLE) * tot), 6)
             AS hhi,
           round((CAST(tot AS DOUBLE) * tot) / CAST(sq AS DOUBLE), 6)
             AS effective_competitors,
           round(CAST(mx AS DOUBLE) / CAST(tot AS DOUBLE), 6)
             AS top_share
    FROM nat n JOIN nation nn ON n.s_nationkey = nn.n_nationkey
    ORDER BY nationkey
    """,
)
def agg_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HERFINDAHL-HIRSCHMAN INDEX of supplier revenue concentration
    per nation: HHI = sum(share_i^2), plus its reciprocal (the
    "effective number of competitors") and the top supplier's share —
    the antitrust-standard market-structure read.  Sibling:
    agg_gini_concentration measures CUSTOMER revenue inequality per
    nation (Gini weighs the whole Lorenz curve); HHI weighs the HEAD
    quadratically and is the measure regulators threshold (0.15 /
    0.25), so the pair answers different questions on opposite sides
    of the market.

    Parity: revenues are exact cents; the share squares NEVER happen
    in floats — sum(r_i^2) is an exact HUGEINT/DECIMAL integer and
    HHI = sq / tot^2 is ONE double division (tot^2 as a double
    product of the same exact integer on both engines — tot ~ 1e9
    cents squares to ~1e18, exact in a double up to 2^53 after the
    correctly-rounded cast... the product is the IEEE-rounded square
    of an exactly-represented integer <= 2^53 on BOTH engines, hence
    bit-identical), round(6).

    Shape at 100 TB: one lineitem groupBy(suppkey) after a broadcast
    join to the supplier dim (suppliers are always the small side),
    then a nation-domain aggregate and a broadcast join to the
    25-row nation dim."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.expr("CAST(l_extendedprice * 100 + 0.5 AS BIGINT)").alias("c"),
    )
    su = table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    rev = (
        li.join(F.broadcast(su), li["l_suppkey"] == su["s_suppkey"])
        .groupBy("s_nationkey", "l_suppkey")
        .agg(F.sum("c").cast("bigint").alias("r"))
    )
    nat = rev.groupBy("s_nationkey").agg(
        F.count("*").cast("bigint").alias("n_suppliers"),
        F.sum("r").cast("bigint").alias("tot"),
        F.expr("sum(CAST(r AS DECIMAL(19,0)) * r)").alias("sq"),
        F.max("r").cast("bigint").alias("mx"),
    )
    na = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        nat.join(
            F.broadcast(na), nat["s_nationkey"] == na["n_nationkey"]
        )
        .selectExpr(
            "s_nationkey AS nationkey",
            "n_name AS nation",
            "n_suppliers",
            "tot AS total_cents",
            "round(CAST(sq AS DOUBLE) / (CAST(tot AS DOUBLE) * tot), 6)"
            " AS hhi",
            "round((CAST(tot AS DOUBLE) * tot) / CAST(sq AS DOUBLE), 6)"
            " AS effective_competitors",
            "round(CAST(mx AS DOUBLE) / CAST(tot AS DOUBLE), 6)"
            " AS top_share",
        )
        .orderBy("nationkey")
    )


# ---------------------------------------------------------------------------
# agg_matthews_phi
# ---------------------------------------------------------------------------


@query(
    "agg_matthews_phi",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CAST(CASE WHEN sum(CASE WHEN event_type = 'purchase'
                                     THEN 1 ELSE 0 END) >= 12
                       THEN 1 ELSE 0 END AS BIGINT) AS x,
             CAST(max(CASE WHEN event_type = 'purchase'
                            AND value * 100 >= 10000
                           THEN 1 ELSE 0 END) AS BIGINT) AS y
      FROM events GROUP BY user_id),
    c AS (
      SELECT
        CAST(sum(CASE WHEN x = 1 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS a,
        CAST(sum(CASE WHEN x = 1 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS b,
        CAST(sum(CASE WHEN x = 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS c,
        CAST(sum(CASE WHEN x = 0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS d
      FROM u)
    SELECT a AS n_both, b AS n_x_only, c AS n_y_only, d AS n_neither,
           CASE WHEN a + b = 0 OR c + d = 0 OR a + c = 0 OR b + d = 0 THEN NULL
                ELSE round(CAST(a * d - b * c AS DOUBLE)
                 / (sqrt(CAST((a + b) * (c + d) AS DOUBLE))
                    * sqrt(CAST((a + c) * (b + d) AS DOUBLE))), 6)
           END AS phi,
           CASE WHEN a + b = 0 OR c + d = 0 OR a + c = 0 OR b + d = 0 THEN NULL
                ELSE round(CAST(a + b + c + d AS DOUBLE)
                 * (CAST(a * d - b * c AS DOUBLE)
                    / (sqrt(CAST((a + b) * (c + d) AS DOUBLE))
                       * sqrt(CAST((a + c) * (b + d) AS DOUBLE))))
                 * (CAST(a * d - b * c AS DOUBLE)
                    / (sqrt(CAST((a + b) * (c + d) AS DOUBLE))
                       * sqrt(CAST((a + c) * (b + d) AS DOUBLE)))), 6)
           END AS chi2_stat,
           CAST(CASE WHEN NOT (a + b = 0 OR c + d = 0 OR a + c = 0
                 OR b + d = 0)
                 AND round(CAST(a + b + c + d AS DOUBLE)
                 * (CAST(a * d - b * c AS DOUBLE)
                    / (sqrt(CAST((a + b) * (c + d) AS DOUBLE))
                       * sqrt(CAST((a + c) * (b + d) AS DOUBLE))))
                 * (CAST(a * d - b * c AS DOUBLE)
                    / (sqrt(CAST((a + b) * (c + d) AS DOUBLE))
                       * sqrt(CAST((a + c) * (b + d) AS DOUBLE)))), 9)
                 >= 3.8415 THEN 1 ELSE 0 END AS BIGINT) AS associated_05
    FROM c
    """,
)
def agg_matthews_phi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATTHEWS / PHI COEFFICIENT between two user-level binary
    behaviors — adopter (>= 12 purchases, the agg_tost_equivalence
    converter rule) vs big-spender (any purchase >= $100): the 2x2
    association measure ML evaluation calls MCC, with its chi^2
    (n*phi^2, df 1) significance gate.  Sibling differentiation:
    agg_cohens_kappa_daily measures chance-corrected AGREEMENT of two
    raters labeling the same days; phi measures ASSOCIATION of two
    different traits on the same units — same 2x2 table, different
    null and normalization.

    Parity: the four cells are exact integers from one pass;
    ad - bc is an exact BIGINT; the denominator is written
    sqrt((a+b)(c+d)) * sqrt((a+c)(b+d)) — each factor is <= n^2
    (exact in a double at any realistic n) and IEEE sqrt is
    correctly rounded on both engines, so the whole expression is
    bit-identical without 128-bit products (a single 4-way product
    would overflow int64 past n ~ 2e4 users).

    Shape at 100 TB: one groupBy(user) collapse, one 4-cell
    conditional aggregate, constant assembly."""
    ev = table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.expr(
            "CAST(CASE WHEN sum(CASE WHEN event_type = 'purchase'"
            " THEN 1 ELSE 0 END) >= 12 THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("x"),
        F.expr(
            "CAST(max(CASE WHEN event_type = 'purchase'"
            " AND value * 100 >= 10000 THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("y"),
    )
    c = u.agg(
        F.expr(
            "CAST(sum(CASE WHEN x = 1 AND y = 1 THEN 1 ELSE 0 END)"
            " AS BIGINT)"
        ).alias("a"),
        F.expr(
            "CAST(sum(CASE WHEN x = 1 AND y = 0 THEN 1 ELSE 0 END)"
            " AS BIGINT)"
        ).alias("b"),
        F.expr(
            "CAST(sum(CASE WHEN x = 0 AND y = 1 THEN 1 ELSE 0 END)"
            " AS BIGINT)"
        ).alias("c"),
        F.expr(
            "CAST(sum(CASE WHEN x = 0 AND y = 0 THEN 1 ELSE 0 END)"
            " AS BIGINT)"
        ).alias("d"),
    )
    phi_txt = (
        "CAST(a * d - b * c AS DOUBLE)"
        " / (sqrt(CAST((a + b) * (c + d) AS DOUBLE))"
        " * sqrt(CAST((a + c) * (b + d) AS DOUBLE)))"
    )
    chi_txt = f"CAST(a + b + c + d AS DOUBLE) * ({phi_txt}) * ({phi_txt})"
    # phi is undefined when either trait saturates (a marginal is 0) —
    # the sf1x blow-up is known to saturate threshold indicators, so
    # gate to NULL instead of an ANSI divide-by-zero (round-10 rule)
    degen = "a + b = 0 OR c + d = 0 OR a + c = 0 OR b + d = 0"
    return c.selectExpr(
        "a AS n_both",
        "b AS n_x_only",
        "c AS n_y_only",
        "d AS n_neither",
        f"CASE WHEN {degen} THEN NULL ELSE round({phi_txt}, 6) END AS phi",
        f"CASE WHEN {degen} THEN NULL ELSE round({chi_txt}, 6) END"
        " AS chi2_stat",
        f"CAST(CASE WHEN NOT ({degen}) AND round({chi_txt}, 9) >= 3.8415"
        " THEN 1 ELSE 0 END AS BIGINT) AS associated_05",
    )


# ---------------------------------------------------------------------------
# agg_last_digit_uniformity
# ---------------------------------------------------------------------------


@query(
    "agg_last_digit_uniformity",
    oracle="""
    WITH d AS (
      SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) % 10 AS digit
      FROM orders),
    c AS (SELECT digit, CAST(count(*) AS BIGINT) AS cnt FROM d GROUP BY 1),
    t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
                 sum(CAST((10 * cnt - (SELECT sum(cnt) FROM c)) AS HUGEINT)
                     * (10 * cnt - (SELECT sum(cnt) FROM c))) AS num
          FROM c)
    SELECT c.digit, c.cnt,
           round(CAST(c.cnt AS DOUBLE) / t.n, 6) AS pct,
           round(CAST(t.num AS DOUBLE) / (10.0 * t.n), 6) AS chi2_total,
           CAST(CASE WHEN round(CAST(t.num AS DOUBLE) / (10.0 * t.n), 9)
                          >= 16.919 THEN 1 ELSE 0 END AS BIGINT)
             AS nonuniform_05
    FROM c CROSS JOIN t ORDER BY c.digit
    """,
)
def agg_last_digit_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAST-DIGIT UNIFORMITY TEST on the money column — the
    data-fabrication / rounding-artifact check auditors run: the
    terminal cent digit of genuine transaction amounts should be
    uniform on 0-9 (chi^2, df 9), while hand-entered or rounded
    figures pile on 0 and 5.  Sibling differentiation:
    agg_benford_deviation tests the FIRST significant digit against
    the logarithmic Benford distribution (scale-invariance of
    magnitudes); the LAST digit is uniform under a completely
    different mechanism and catches a different fabrication mode —
    together they bracket the amount distribution.

    Parity: digits are exact integer cents mod 10; the chi^2
    collapses to sum((10*cnt - n)^2) / (10*n) — an exact HUGEINT /
    DECIMAL numerator (the (obs - n/10)^2 / (n/10) identity cleared
    of fractions) with ONE double division, round(6); gate at
    chi^2(9) 5% = 16.919.

    Shape at 100 TB: one scan, 10-group aggregate (map-side
    combined), broadcast of the 1-row total back to 10 rows."""
    o = table(spark, sf_dir, "orders")
    d = o.selectExpr(
        "CAST(o_totalprice * 100 + 0.5 AS BIGINT) % 10 AS digit"
    )
    c = d.groupBy("digit").agg(F.count("*").cast("bigint").alias("cnt"))
    t = c.agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.expr(
            "sum(CAST(10 * cnt AS DECIMAL(38,0))"
            " * (10 * cnt)) "
        ).alias("s2x100"),
    ).selectExpr(
        "n",
        # sum((10c - n)^2) = 100*sum(c^2) - 20n*sum(c) + 10*n^2
        #                  = s2x100 - 10*n^2   (since sum(c) = n)
        "CAST(s2x100 - 10 * CAST(n AS DECIMAL(38,0)) * n AS DECIMAL(38,0))"
        " AS num",
    )
    return (
        c.crossJoin(F.broadcast(t))
        .selectExpr(
            "digit",
            "cnt",
            "round(CAST(cnt AS DOUBLE) / n, 6) AS pct",
            "round(CAST(num AS DOUBLE) / (10.0 * n), 6) AS chi2_total",
            "CAST(CASE WHEN round(CAST(num AS DOUBLE) / (10.0 * n), 9)"
            " >= 16.919 THEN 1 ELSE 0 END AS BIGINT) AS nonuniform_05",
        )
        .orderBy("digit")
    )


# ---------------------------------------------------------------------------
# agg_cvar_expected_shortfall
# ---------------------------------------------------------------------------


@query(
    "agg_cvar_expected_shortfall",
    oracle="""
    WITH daily AS (
      SELECT CAST(CAST(ts AS DATE) AS DATE) AS day,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS tot
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
    chg AS (
      SELECT tot - lag(tot) OVER (ORDER BY day) AS ch
      FROM daily QUALIFY ch IS NOT NULL),
    st AS (
      SELECT list_sort(list(ch)) AS cs, CAST(count(*) AS BIGINT) AS n
      FROM chg),
    pick AS (
      SELECT n,
             list_extract(cs, CAST((5 * n + 99) // 100 AS INT)) AS var_c,
             cs
      FROM st),
    tail AS (
      SELECT p.n, p.var_c,
             CAST(len(list_filter(cs, x -> x <= var_c)) AS BIGINT)
               AS n_tail,
             CAST(list_sum(list_filter(cs, x -> x <= var_c)) AS BIGINT)
               AS s_tail
      FROM pick p)
    SELECT n AS n_changes, var_c AS var95_cents,
           n_tail AS n_tail_days,
           round(CAST(s_tail AS DOUBLE) / n_tail, 6) AS cvar95_cents
    FROM tail
    """,
)
def agg_cvar_expected_shortfall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """VALUE-AT-RISK + EXPECTED SHORTFALL (CVaR) of daily purchase-
    revenue CHANGES — the risk pair a finance desk quotes: VaR(95) is
    the exact 5th-percentile worst day-over-day change (order
    statistic, index ceil(0.05 n)), and CVaR(95) the mean of all
    changes at or below it — the coherent tail measure that, unlike
    VaR alone, sees how BAD the tail is.  Sibling differentiation:
    win_drawdown tracks cumulative peak-to-trough loss (path risk);
    VaR/CVaR summarize the one-step change distribution.

    Parity: changes are exact integer cents over the bounded day
    domain; the order statistic is an exact integer-index pick from
    the sorted bounded list ((5n + 99) div 100 — the
    text_minhash_band_tuning quantile convention); the tail is an
    exact <=-filter (ties at the VaR boundary INCLUDED on both
    engines) and CVaR one double division, round(6).

    Shape at 100 TB: one filtered scan -> day-domain aggregate; all
    later arithmetic runs on the <= |days| domain."""
    daily = _purchase_day_totals(spark, sf_dir)
    w = Window.orderBy("day")
    chg = (
        daily.withColumn("ch", F.col("tot") - F.lag("tot").over(w))
        .where(F.col("ch").isNotNull())
        .select("ch")
    )
    st = chg.agg(
        F.sort_array(F.collect_list("ch")).alias("cs"),
        F.count("*").cast("bigint").alias("n"),
    )
    pick = st.selectExpr(
        "n",
        "element_at(cs, CAST((5 * n + 99) div 100 AS INT)) AS var_c",
        "cs",
    )
    return pick.selectExpr(
        "n AS n_changes",
        "var_c AS var95_cents",
        "CAST(size(filter(cs, x -> x <= var_c)) AS BIGINT) AS n_tail_days",
        "round(CAST(aggregate(filter(cs, x -> x <= var_c),"
        " CAST(0 AS BIGINT), (a, x) -> a + x) AS DOUBLE)"
        " / size(filter(cs, x -> x <= var_c)), 6) AS cvar95_cents",
    )


# ---------------------------------------------------------------------------
# agg_hoeffding_d_independence
# ---------------------------------------------------------------------------


@query(
    "agg_hoeffding_d_independence",
    oracle="""
    WITH daily AS (
      SELECT CAST(CAST(ts AS DATE) AS DATE) AS day,
             CAST(sum(CASE WHEN event_type = 'purchase'
                           THEN CAST(round(value * 100, 0) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS x,
             CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1),
    pg AS (
      SELECT a.day,
             CAST(sum(CASE WHEN b.x < a.x THEN 2 ELSE 0 END)
                  + sum(CASE WHEN b.x = a.x THEN 1 ELSE 0 END) + 1
                  AS BIGINT) AS r2,
             CAST(sum(CASE WHEN b.y < a.y THEN 2 ELSE 0 END)
                  + sum(CASE WHEN b.y = a.y THEN 1 ELSE 0 END) + 1
                  AS BIGINT) AS s2,
             CAST(4 + sum(CASE
                    WHEN b.day = a.day THEN 0
                    WHEN b.x < a.x AND b.y < a.y THEN 4
                    WHEN b.x = a.x AND b.y < a.y THEN 2
                    WHEN b.x < a.x AND b.y = a.y THEN 2
                    WHEN b.x = a.x AND b.y = a.y THEN 1
                    ELSE 0 END) AS BIGINT) AS q4
      FROM daily a CROSS JOIN daily b
      GROUP BY a.day),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum((q4 - 4) * (q4 - 8)) AS BIGINT) AS d1_16,
             sum(CAST((r2 - 2) * (r2 - 4) AS HUGEINT)
                 * ((s2 - 2) * (s2 - 4))) AS d2_16,
             sum(CAST((r2 - 4) * (s2 - 4) AS HUGEINT) * (q4 - 4))
               AS d3_16
      FROM pg)
    SELECT n AS n_days,
           round(30.0 * CAST((n - 2) * (n - 3) * d1_16
                 + d2_16 - 2 * (n - 2) * d3_16 AS DOUBLE)
                 / (16.0 * n * (n - 1) * (n - 2) * (n - 3) * (n - 4)), 6)
             AS hoeffding_d,
           CAST(CASE WHEN round(30.0 * CAST((n - 2) * (n - 3) * d1_16
                 + d2_16 - 2 * (n - 2) * d3_16 AS DOUBLE)
                 / (16.0 * n * (n - 1) * (n - 2) * (n - 3) * (n - 4)), 9)
                 > 0.005 THEN 1 ELSE 0 END AS BIGINT) AS dependent_hint
    FROM s
    """,
)
def agg_hoeffding_d_independence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """HOEFFDING'S D INDEPENDENCE TEST between daily purchase revenue
    and daily event volume — the rank-based test that detects ANY
    dependence (including non-monotone U-shapes that Pearson,
    Spearman, and Kendall all miss; the only such test in the repo:
    agg_mutual_information needs a binning choice, energy/KS are
    two-sample tests, agg_spearman_corr is monotone-only).
    D = 30 * ((n-2)(n-3)D1 + D2 - 2(n-2)D3) / (n(n-1)...(n-4)) over
    bivariate ranks, with Hollander-Wolfe tie handling.

    Exactly computable: midranks DOUBLE to integers (r2 = 2*cnt_less
    + cnt_eq_incl + 1 — the repo's rank identity) and the bivariate
    concordance count Q QUADRUPLES (q4 = 4 + 4*both-less + 2*each
    half-tie + 1*double-tie), so 16*D1, 16*D2, 16*D3 are exact
    HUGEINT/DECIMAL sums and D is ONE double division of exact
    integers, round(6).  The pair grid is |days|^2 = 900 rows — the
    O(T^2) day-domain budget every changepoint/DP op here uses.

    Shape at 100 TB: one scan -> 30-row day aggregate; everything
    after runs on the bounded domain."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.expr("CAST(ts AS DATE)").alias("day")).agg(
        F.expr(
            "CAST(sum(CASE WHEN event_type = 'purchase'"
            " THEN CAST(value * 100 + 0.5 AS BIGINT) ELSE 0 END)"
            " AS BIGINT)"
        ).alias("x"),
        F.count("*").cast("bigint").alias("y"),
    ).localCheckpoint()  # 30-row domain, self-joined below
    a = daily.select(
        F.col("day").alias("da"), F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    b = daily.select(
        F.col("day").alias("db"), F.col("x").alias("xb"), F.col("y").alias("yb")
    )
    pg = (
        a.crossJoin(b)
        .groupBy("da")
        .agg(
            F.expr(
                "CAST(sum(CASE WHEN xb < xa THEN 2 ELSE 0 END)"
                " + sum(CASE WHEN xb = xa THEN 1 ELSE 0 END) + 1"
                " AS BIGINT)"
            ).alias("r2"),
            F.expr(
                "CAST(sum(CASE WHEN yb < ya THEN 2 ELSE 0 END)"
                " + sum(CASE WHEN yb = ya THEN 1 ELSE 0 END) + 1"
                " AS BIGINT)"
            ).alias("s2"),
            F.expr(
                "CAST(4 + sum(CASE"
                " WHEN db = da THEN 0"
                " WHEN xb < xa AND yb < ya THEN 4"
                " WHEN xb = xa AND yb < ya THEN 2"
                " WHEN xb < xa AND yb = ya THEN 2"
                " WHEN xb = xa AND yb = ya THEN 1"
                " ELSE 0 END) AS BIGINT)"
            ).alias("q4"),
        )
    )
    s = pg.agg(
        F.count("*").cast("bigint").alias("n"),
        F.expr("CAST(sum((q4 - 4) * (q4 - 8)) AS BIGINT)").alias("d1_16"),
        F.expr(
            "sum(CAST((r2 - 2) * (r2 - 4) AS DECIMAL(19,0))"
            " * ((s2 - 2) * (s2 - 4)))"
        ).alias("d2_16"),
        F.expr(
            "sum(CAST((r2 - 4) * (s2 - 4) AS DECIMAL(19,0)) * (q4 - 4))"
        ).alias("d3_16"),
    )
    d_txt = (
        "30.0 * CAST((n - 2) * (n - 3) * d1_16"
        " + d2_16 - 2 * (n - 2) * d3_16 AS DOUBLE)"
        " / (16.0 * n * (n - 1) * (n - 2) * (n - 3) * (n - 4))"
    )
    return s.selectExpr(
        "n AS n_days",
        f"round({d_txt}, 6) AS hoeffding_d",
        f"CAST(CASE WHEN round({d_txt}, 9) > 0.005 THEN 1 ELSE 0 END"
        " AS BIGINT) AS dependent_hint",
    )


# ---------------------------------------------------------------------------
# agg_taylor_power_law
# ---------------------------------------------------------------------------


@query(
    "agg_taylor_power_law",
    oracle="""
    WITH cell0 AS (
      SELECT CAST(CAST(ts AS DATE) AS DATE) AS day, event_type,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    days AS (SELECT DISTINCT day FROM cell0),
    types AS (SELECT DISTINCT event_type FROM cell0),
    cells AS (
      SELECT t.event_type, coalesce(c0.c, 0) AS c
      FROM days d CROSS JOIN types t
      LEFT JOIN cell0 c0 ON d.day = c0.day
        AND t.event_type = c0.event_type),
    mv AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(c) AS BIGINT) AS s,
             sum(CAST(c AS HUGEINT) * c) AS ss
      FROM cells GROUP BY event_type),
    pt AS (
      SELECT event_type,
             CAST(round(ln(CAST(s AS DOUBLE) / n), 9)
                  AS DECIMAL(16,9)) AS x,
             CAST(round(ln(CAST(n * ss - CAST(s AS HUGEINT) * s AS DOUBLE)
                  / (CAST(n AS DOUBLE) * n)), 9) AS DECIMAL(16,9)) AS y
      FROM mv WHERE s > 0 AND n * ss - CAST(s AS HUGEINT) * s > 0),
    mo AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(x * x) AS DOUBLE) AS sxx,
             CAST(sum(x * y) AS DOUBLE) AS sxy,
             CAST(sum(y * y) AS DOUBLE) AS syy
      FROM pt)
    SELECT k AS n_types,
           round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6)
             AS taylor_exponent,
           round((sy - ((k * sxy - sx * sy) / (k * sxx - sx * sx)) * sx)
                 / k, 6) AS intercept,
           round(((k * sxy - sx * sy) * (k * sxy - sx * sy))
                 / ((k * sxx - sx * sx) * (k * syy - sy * sy)), 6) AS r2
    FROM mo
    """,
)
def agg_taylor_power_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TAYLOR'S POWER LAW (fluctuation scaling) across event types:
    variance of an activity stream scales as variance = a * mean^b,
    so log(var) regressed on log(mean) of the per-type DAILY counts
    estimates the exponent b — b ~ 1 is Poisson-like arrival noise,
    b -> 2 is bursty/clustered traffic, the classic ecology-to-ops
    diagnostic for which capacity model applies.  Sibling
    differentiation: agg_overdispersion_nb_fit tests ONE stream's
    variance-vs-mean at a point; Taylor's law fits the scaling
    ACROSS streams; text_burstiness is token-level.

    Parity: per-type day counts densify (zero days are real
    observations); means and n-scaled variances are exact integers;
    each point's (ln mean, ln variance) quantizes round(9) into
    DECIMAL(16,9) before the 5-point OLS moment sums (bounded-count
    float sums are still order-dependent — the quantize-then-sum
    rule; the narrow precision keeps per-row products exact at
    (33,18) instead of tripping Spark's 38-precision truncation);
    the exact sums cast once to DOUBLE and the final algebra is a
    shared-text 1-row expression, round(6).  Types with zero mean or zero variance are
    excluded by both engines (log undefined).

    Shape at 100 TB: one scan -> day x type aggregate, a bounded
    densify, a 5-row moments pass."""
    cells = _day_type_cells(spark, sf_dir)
    # the shared grid carries cent sums; this op needs COUNTS — derive
    # them through the same grid shape for the same densify semantics
    ev = table(spark, sf_dir, "events")
    cell0 = ev.groupBy(
        F.expr("CAST(ts AS DATE)").alias("day"), "event_type"
    ).agg(F.count("*").cast("bigint").alias("c"))
    days = cells.select("day").distinct()
    types = cells.select("event_type").distinct()
    cnt_cells = (
        days.crossJoin(F.broadcast(types))
        .join(cell0, ["day", "event_type"], "left")
        .select("event_type", F.coalesce("c", F.lit(0)).alias("c"))
    )
    mv = cnt_cells.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
        F.expr("sum(CAST(c AS DECIMAL(19,0)) * c)").alias("ss"),
    )
    pt = mv.where(
        "s > 0 AND n * ss - CAST(s AS DECIMAL(38,0)) * s > 0"
    ).selectExpr(
        # DECIMAL(16,9) operands keep per-row products at (33,18) —
        # (28,9) squares hit Spark's 38-precision truncation and
        # silently rounded sxx to 6 decimals (the win_bollinger_bands
        # rule; caught by the first selfcheck)
        "CAST(round(ln(CAST(s AS DOUBLE) / n), 9) AS DECIMAL(16,9)) AS x",
        "CAST(round(ln(CAST(n * ss - CAST(s AS DECIMAL(38,0)) * s"
        " AS DOUBLE) / (CAST(n AS DOUBLE) * n)), 9) AS DECIMAL(16,9))"
        " AS y",
    )
    mo = pt.agg(
        F.count("*").cast("bigint").alias("k"),
        F.expr("CAST(sum(x) AS DOUBLE)").alias("sx"),
        F.expr("CAST(sum(y) AS DOUBLE)").alias("sy"),
        F.expr("CAST(sum(x * x) AS DOUBLE)").alias("sxx"),
        F.expr("CAST(sum(x * y) AS DOUBLE)").alias("sxy"),
        F.expr("CAST(sum(y * y) AS DOUBLE)").alias("syy"),
    )
    b_txt = "(k * sxy - sx * sy) / (k * sxx - sx * sx)"
    return mo.selectExpr(
        "k AS n_types",
        f"round({b_txt}, 6) AS taylor_exponent",
        f"round((sy - ({b_txt}) * sx) / k, 6) AS intercept",
        "round(((k * sxy - sx * sy) * (k * sxy - sx * sy))"
        " / ((k * sxx - sx * sx) * (k * syy - sy * sy)), 6) AS r2",
    )


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
