"""Graph operators over the part co-purchase and co-supply graphs built
from the TPC-H fact tables: centralities (PageRank, HITS, Katz,
closeness, betweenness), cores and trusses, triangles and clustering,
link prediction, components, walks and graph sampling.

Every op reads its edge list from a shared session-memoised function
(``_copurchase_edges``, ``_cosupply_edges``), so the ops of one session
scan the fact tables once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..memo import session_artifact
from ..registry import query
from ..tables import table


# ---------------------------------------------------------------------------
# graph_triangle_cosupply
# ---------------------------------------------------------------------------


_COSUPPLY_MIN_SUPPORT = 3  # orders two suppliers must share


@session_artifact
def _cosupply_edges(
    spark: SparkSession, sf_dir: str, min_support: int
) -> DataFrame:
    """Distinct (u < v) supplier co-supply edges, materialized once per
    (application, sf_dir) via localCheckpoint — the triangle query
    references the edge list THREE times (two wedge sides + the
    closure probe) and without materialization each reference re-scans
    and re-joins the fact table (measured: 14 parquet scans in the
    naive plan). The edge list is bounded by |S| choose 2 (supplier
    pairs), orders of magnitude below the fact table, so checkpointing
    it is the 100 TB play."""
    li = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    a = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("u")
    )
    b = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("v")
    )
    return (
        a.join(b, "ok")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_support)
        .select("u", "v")
        .localCheckpoint()
    )


# Shared DuckDB CTE chain: support-3 co-supply edges -> oriented
# triangle list -> per-node triangle counts. graph_triangle_cosupply
# and graph_clustering_coefficient both build on it,
# so the two oracles pin the SAME triangle counts.
_TRI_PN_CTES = """
    WITH os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    e AS (
      SELECT a.l_suppkey AS u, b.l_suppkey AS v
      FROM os a JOIN os b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
      GROUP BY 1, 2 HAVING count(*) >= 3),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1 JOIN e e2 ON e1.v = e2.u
      WHERE EXISTS (SELECT 1 FROM e e3
                    WHERE e3.u = e1.u AND e3.v = e2.v)),
    pn AS (
      SELECT n.node, count(*) AS tri_count
      FROM tri, unnest([a, b, c]) AS n(node)
      GROUP BY n.node)
"""


@session_artifact
def _tri_per_node(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts (node, tri_count) on the support-3
    co-supply graph — the degree-oriented wedge listing shared by
    graph_triangle_cosupply and graph_clustering_coefficient.

    The oriented edge list comes from the session-cached checkpoint
    (_oriented_cosupply_edges, round 13) — er is referenced three
    times below (two wedge sides + the closure probe), the exact
    re-derivation fan-out the cache exists for. Round 14 extends the
    same rule one level up: the per-node counts themselves are a
    node-bounded frame (<= |S| rows) consumed by TWO registered ops,
    each of which was re-running the full wedge-mass pass (184M wedges
    at sf0.1 support-3) per DataFrame build — OPS_BENCH r14 before:
    9.2 s clustering_coefficient + 6.9 s triangle_cosupply per call."""
    return _tri_per_node_plan(spark, sf_dir).localCheckpoint()


def _tri_per_node_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LAZY wedge-listing derivation behind _tri_per_node — split
    out so tests/test_plans.py can pin the semi-join closure shape
    that now executes at cache-build time."""
    er = _oriented_cosupply_edges(spark, sf_dir)
    x = er.select("s", F.col("t").alias("t1"), F.col("dt").alias("dt1"))
    y = er.select("s", F.col("t").alias("t2"), F.col("dt").alias("dt2"))
    wedges = (
        x.join(y, "s")
        .where(
            (F.col("dt1") < F.col("dt2"))
            | ((F.col("dt1") == F.col("dt2")) & (F.col("t1") < F.col("t2")))
        )
        .select("s", "t1", "t2")
    )
    tri = wedges.join(
        er.select(F.col("s").alias("t1"), F.col("t").alias("t2")),
        ["t1", "t2"],
        "left_semi",
    )
    return (
        tri.select(F.explode(F.array("s", "t1", "t2")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("tri_count"))
    )


@query(
    "graph_triangle_cosupply",
    oracle=_TRI_PN_CTES
    + """
    SELECT s.s_suppkey, s.s_name, CAST(pn.tri_count AS BIGINT) AS tri_count
    FROM pn JOIN supplier s ON pn.node = s.s_suppkey
    ORDER BY tri_count DESC, s.s_suppkey
    LIMIT 20
    """,
)
def graph_triangle_cosupply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-BASELINE TRIANGLE COUNTING — small-sf / verification use.
    This is the one op the scale audit flags above row-linear
    (SCALE.md time/input ratio 1.26 at the 10x step): exact triangle
    listing carries inherent wedge mass on dense co-occurrence
    graphs, and no orientation trick changes the asymptotics when the
    graph itself densifies. The RECOMMENDED production path is
    `graph_triangle_wedge_cap` (same oriented pipeline, per-pivot
    out-adjacency capped at 32 by (deg, id) order): linear wedge mass
    under ANY skew (ratio 0.29 at the same step), exact-lower-bound
    semantics, and audit columns reporting what the cap truncated.
    Keep THIS op for exact answers at bounded scale and as the
    verification twin the capped variant's bound is checked against.

    TRIANGLE COUNTING on the supplier co-supply graph (edge = two
    suppliers ship lines of >= 3 common orders — the min-support gate
    every co-occurrence graph applies before structural analysis,
    since a single shared order is noise, and the gate is also what
    keeps the triangle mass tractable: the fixture assigns suppliers
    to orders uniformly at random, so the UNfiltered graph saturates
    toward complete and exact triangle listing is Omega(n^3) by
    construction — 54M triangles at sf0.1, 13M after the gate) — the canonical
    distributed-graph aggregate (clustering-coefficient numerator,
    community-density signal; Suri & Vassilvitskii 2011's MapReduce
    formulation is the shape used here): wedges from an edge-edge join
    on the shared middle node, closed by a semi-join probe for the
    third edge, oriented a<b<c so every triangle is generated exactly
    once.

    Shape at scale: the edge list comes from a per-order self-join
    whose fan-out is BOUNDED by order width (TPC-H orders carry <= 7
    lines, so <= 21 pairs/order — linear in lineitem, never
    corpus-quadratic), then dedups to at most |S| choose 2 rows.
    Triangles are then listed DEGREE-ORIENTED (Suri & Vassilvitskii
    2011's refinement): orient every edge from its lower-(degree, id)
    endpoint to the higher one, so every wedge pivots on its triangle's
    degree-MINIMUM node and wedge mass drops from sum(d_< * d_>) to
    sum(C(outdeg, 2)) with outdeg bounded by O(sqrt(2m)) (arboricity
    bound) — hub nodes never pivot wedges, which is THE scale property
    on power-law co-occurrence graphs (a df-1e6 hub contributes deg^2
    wedges id-oriented, ~0 degree-oriented). Wedges are pairs of
    out-edges of one pivot (self-equi-join on the pivot key), deduped
    by the carried (degree, id) order of the far endpoints so the
    closing edge is exactly the oriented t1->t2 row — one LeftSemi
    probe, no wedge survives materialization unless the triangle
    closes. Measured on this (uniform, dense) fixture at sf0.1: 28.7M
    wedges vs 30.6M id-oriented, 7.1s vs 7.9s — modest here by
    construction; the asymptotic gap is the point. Per-node counts
    explode 3 rows per triangle; top-20 plans as
    TakeOrderedAndProject.

    Parity: everything is exact integers; ordering ties break on
    s_suppkey."""
    pn = _tri_per_node(spark, sf_dir)
    sup = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        pn.join(F.broadcast(sup), pn.node == sup.s_suppkey)
        .select("s_suppkey", "s_name", F.col("tri_count").cast("bigint").alias("tri_count"))
        .orderBy(F.col("tri_count").desc(), "s_suppkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# graph_jaccard_neighbor_sim
# ---------------------------------------------------------------------------


_JACCARD_MIN_SUPPORT = 5  # stronger gate than triangles: the wedge
# mass of the common-neighbor join is sum(deg^2), 184M at support 3 vs
# 9.3M at support 5 on sf0.1 (measured) — embeddedness only means
# anything over strong edges anyway


@query(
    "graph_jaccard_neighbor_sim",
    oracle=f"""
    WITH os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    e AS (
      SELECT a.l_suppkey AS u, b.l_suppkey AS v
      FROM os a JOIN os b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
      GROUP BY 1, 2 HAVING count(*) >= {_JACCARD_MIN_SUPPORT}),
    adj AS (SELECT u AS x, v AS y FROM e UNION ALL SELECT v, u FROM e),
    deg AS (SELECT x, count(*) AS d FROM adj GROUP BY x),
    common AS (
      SELECT e.u, e.v, count(*) AS cn
      FROM e JOIN adj a1 ON a1.x = e.u
             JOIN adj a2 ON a2.x = e.v AND a2.y = a1.y
      WHERE a1.y <> e.v AND a1.y <> e.u
      GROUP BY e.u, e.v)
    SELECT c.u, c.v, CAST(c.cn AS BIGINT) AS common_neighbors,
           round(c.cn * 1.0
                 / (du.d + dv.d - 2 - c.cn), 6) AS neighbor_jaccard
    FROM common c
    JOIN deg du ON du.x = c.u
    JOIN deg dv ON dv.x = c.v
    WHERE du.d + dv.d - 2 - c.cn > 0
    ORDER BY neighbor_jaccard DESC, c.u, c.v
    LIMIT 20
    """,
)
def graph_jaccard_neighbor_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EDGE EMBEDDEDNESS — neighborhood Jaccard per co-supply edge:
    J(u,v) = |N(u) ∩ N(v)| / |N(u) ∪ N(v) \\ {u,v}| over the
    support-gated co-supply graph — the structural edge-strength
    measure (Granovetter's embeddedness; link-prediction's Jaccard
    baseline) that separates community-internal edges from bridges.
    Top-20 strongest-embedded supplier pairs with common-neighbor
    counts.

    Shape at scale: reuses the checkpointed edge builder
    (_cosupply_edges) at support >= 5 — one derivation per session,
    cached per (application, sf_dir, support). Common neighbors
    come from the SAME wedge-join shape as triangle counting (join the
    symmetric adjacency on both endpoints, shuffling on node keys);
    degrees are one hash aggregate; the union size is degree algebra
    (du + dv - 2 - common), never a second set operation. Top-20 is
    TakeOrderedAndProject.

    Parity: counts and degrees are exact integers; one division,
    round(6); ties break on (u, v)."""
    e = _cosupply_edges(spark, sf_dir, _JACCARD_MIN_SUPPORT)
    adj = e.select(F.col("u").alias("x"), F.col("v").alias("y")).unionAll(
        e.select(F.col("v").alias("x"), F.col("u").alias("y"))
    )
    deg = adj.groupBy("x").agg(F.count("*").alias("d"))
    a1 = adj.select(F.col("x").alias("u"), F.col("y").alias("w"))
    a2 = adj.select(F.col("x").alias("v"), F.col("y").alias("w"))
    common = (
        e.join(a1, "u")
        .join(a2, ["v", "w"])
        .where((F.col("w") != F.col("v")) & (F.col("w") != F.col("u")))
        .groupBy("u", "v")
        .agg(F.count("*").alias("cn"))
    )
    du = deg.select(F.col("x").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("x").alias("v"), F.col("d").alias("dv"))
    uni = F.col("du") + F.col("dv") - 2 - F.col("cn")
    return (
        common.join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .where(uni > 0)
        .select(
            "u",
            "v",
            F.col("cn").cast("bigint").alias("common_neighbors"),
            F.round(F.col("cn") * F.lit(1.0) / uni, 6).alias(
                "neighbor_jaccard"
            ),
        )
        .orderBy(F.col("neighbor_jaccard").desc(), "u", "v")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# graph_triangle_wedge_cap — bounded-cost triangle counting for skew
# ---------------------------------------------------------------------------

_WEDGE_CAP = 32  # per-pivot out-adjacency cap (smallest (deg, id) kept)


@session_artifact
def _oriented_cosupply_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-oriented co-supply edges (s, t, dt), localCheckpointed
    ONCE per (applicationId, sf_dir) — the checkpoint is otherwise
    re-derived eagerly on EVERY DataFrame build (measured 9.7 s warm
    in OPS_BENCH vs 0.7 s prepared-plan before caching; the
    _cosupply_edges rule, one level up)."""
    e = _cosupply_edges(spark, sf_dir, _COSUPPLY_MIN_SUPPORT)
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    lo_first = F.struct(F.col("du"), F.col("u")) < F.struct(
        F.col("dv"), F.col("v")
    )
    return (
        e.join(
            deg.select(F.col("n").alias("u"), F.col("d").alias("du")),
            "u",
        )
        .join(
            deg.select(F.col("n").alias("v"), F.col("d").alias("dv")),
            "v",
        )
        .select(
            F.when(lo_first, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(lo_first, F.col("v")).otherwise(F.col("u")).alias("t"),
            F.when(lo_first, F.col("dv")).otherwise(F.col("du")).alias("dt"),
        )
        .localCheckpoint()  # bounded by |S| choose 2; referenced
        # by the rank window AND the closure probe
    )


@query(
    "graph_triangle_wedge_cap",
    oracle=f"""
    WITH os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    e AS MATERIALIZED (
      SELECT a.l_suppkey AS u, b.l_suppkey AS v
      FROM os a JOIN os b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
      GROUP BY 1, 2 HAVING count(*) >= 3),
    deg AS (
      SELECT n, count(*) AS d FROM (
        SELECT u AS n FROM e UNION ALL SELECT v FROM e) z
      GROUP BY n),
    er AS MATERIALIZED (
      SELECT CASE WHEN (du, u) < (dv, v) THEN u ELSE v END AS s,
             CASE WHEN (du, u) < (dv, v) THEN v ELSE u END AS t,
             CASE WHEN (du, u) < (dv, v) THEN dv ELSE du END AS dt
      FROM e JOIN deg a ON e.u = a.n JOIN deg b ON e.v = b.n,
           LATERAL (SELECT a.d AS du, b.d AS dv) x),
    ranked AS MATERIALIZED (
      SELECT s, t, dt,
             row_number() OVER (PARTITION BY s ORDER BY dt, t) AS rk
      FROM er),
    odeg AS (SELECT s, max(rk) AS outdeg FROM ranked GROUP BY s),
    capstats AS (
      SELECT CAST(count(*) AS BIGINT) AS pivots,
             CAST(coalesce(sum(CASE WHEN outdeg > {_WEDGE_CAP}
                                    THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS capped_pivots,
             CAST(coalesce(max(outdeg), 0) AS BIGINT) AS max_outdeg,
             CAST(coalesce(sum(least(outdeg, {_WEDGE_CAP})
                  * (least(outdeg, {_WEDGE_CAP}) - 1) // 2), 0)
                  AS BIGINT) AS wedges_considered,
             CAST(coalesce(sum(outdeg * (outdeg - 1) // 2
                  - least(outdeg, {_WEDGE_CAP})
                  * (least(outdeg, {_WEDGE_CAP}) - 1) // 2), 0)
                  AS BIGINT) AS wedges_dropped
      FROM odeg),
    capped AS (SELECT s, t, dt FROM ranked WHERE rk <= {_WEDGE_CAP}),
    tri AS (
      SELECT x.s, x.t AS t1, y.t AS t2
      FROM capped x JOIN capped y ON x.s = y.s
      WHERE (x.dt, x.t) < (y.dt, y.t)
        AND EXISTS (SELECT 1 FROM er e3
                    WHERE e3.s = x.t AND e3.t = y.t)),
    tl AS (SELECT CAST(count(*) AS BIGINT) AS triangles_lb FROM tri),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS nodes FROM deg),
    ee AS (SELECT CAST(count(*) AS BIGINT) AS edges FROM e)
    SELECT nn.nodes, ee.edges, cs.pivots, cs.capped_pivots,
           cs.max_outdeg, cs.wedges_considered, cs.wedges_dropped,
           tl.triangles_lb,
           CAST(CASE WHEN cs.capped_pivots = 0 THEN 1 ELSE 0 END
                AS BIGINT) AS exact_flag
    FROM nn CROSS JOIN ee CROSS JOIN capstats cs CROSS JOIN tl
    """,
)
def graph_triangle_wedge_cap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BOUNDED-COST triangle counting — the skew-proof sibling of
    graph_triangle_cosupply (VERDICT r12 item 4: the wedge join is the
    repo's one super-linear scaling surface, time/input ratio 1.13 at
    sf1x, because wedge mass is sum(outdeg^2) and a skewed
    co-occurrence graph puts that mass on hub pivots).  Same
    degree-oriented edge list, but each pivot's out-adjacency is
    CAPPED to its _WEDGE_CAP = 32 smallest-(degree, id) far endpoints
    before the wedge self-join — wedge mass is then bounded by
    n * C(32, 2) ≈ 496n, LINEAR in nodes regardless of skew (the
    dedup_band_cap_audit recipe applied to triangles: deterministic
    truncation + an audit column, never a silent cap).  The closing
    probe still runs against the FULL oriented edge list, so every
    emitted triangle is real; capping only MISSES triangles whose
    pivot has both far endpoints outside its cap — triangles_lb is an
    exact LOWER BOUND, equal to the true count whenever
    capped_pivots = 0 (exact_flag says so in-row).

    One audit row: nodes/edges of the support-3 co-supply graph,
    pivot count, capped pivots, max oriented out-degree, wedge mass
    considered vs dropped (exact integers, C(d,2) = d*(d-1) div 2 on
    both engines), the triangle lower bound, and the exactness flag.
    On the DENSE fixture graph the cap binds (max outdeg 99 at
    sf0.01) — deliberately: the op demonstrates bounded cost exactly
    where the uncapped op degenerates, and the pytest pins equality
    to the exact count on a synthetic graph where the cap does not
    bind plus the wedge-accounting identity here.

    Parity: everything is exact integer arithmetic; composite-key
    orientation compares (deg, id) tuples — struct(du, u) < struct
    (dv, v) in Spark, row tuples in DuckDB (the round-10 Markov-path
    rule).

    Shape at 100 TB: the per-pivot rank is a PARTITIONED window over
    the oriented edge list (bounded fan-in per pivot); the wedge join
    touches <= 32 out-edges per pivot; the closure probe is one
    LeftSemi equi-join.  This is the plan you run FIRST on an unknown
    100 TB co-occurrence graph: the audit columns tell you whether
    the exact sibling is affordable (wedges_dropped = 0) before you
    pay for it."""
    er = _oriented_cosupply_edges(spark, sf_dir)
    w_rk = Window.partitionBy("s").orderBy("dt", "t")
    ranked = er.withColumn("rk", F.row_number().over(w_rk))
    odeg = ranked.groupBy("s").agg(F.max("rk").alias("outdeg"))
    cap = _WEDGE_CAP
    capstats = odeg.agg(
        F.count("*").cast("bigint").alias("pivots"),
        F.expr(
            f"CAST(coalesce(sum(CASE WHEN outdeg > {cap} THEN 1 ELSE 0 "
            f"END), 0) AS BIGINT)"
        ).alias("capped_pivots"),
        F.expr("CAST(coalesce(max(outdeg), 0) AS BIGINT)").alias(
            "max_outdeg"
        ),
        F.expr(
            f"CAST(coalesce(sum(least(outdeg, {cap}) * (least(outdeg, "
            f"{cap}) - 1) div 2), 0) AS BIGINT)"
        ).alias("wedges_considered"),
        F.expr(
            f"CAST(coalesce(sum(outdeg * (outdeg - 1) div 2 - "
            f"least(outdeg, {cap}) * (least(outdeg, {cap}) - 1) div 2), "
            f"0) AS BIGINT)"
        ).alias("wedges_dropped"),
    )
    capped = ranked.where(F.col("rk") <= cap).select("s", "t", "dt")
    x = capped.select("s", F.col("t").alias("t1"), F.col("dt").alias("dt1"))
    y = capped.select("s", F.col("t").alias("t2"), F.col("dt").alias("dt2"))
    wedges = (
        x.join(y, "s")
        .where(
            F.struct(F.col("dt1"), F.col("t1"))
            < F.struct(F.col("dt2"), F.col("t2"))
        )
        .select("s", "t1", "t2")
    )
    tri = wedges.join(
        er.select(F.col("s").alias("t1"), F.col("t").alias("t2")),
        ["t1", "t2"],
        "left_semi",
    )
    tl = tri.agg(F.count("*").cast("bigint").alias("triangles_lb"))
    nn = (
        er.select(F.col("s").alias("n"))
        .unionAll(er.select(F.col("t").alias("n")))
        .distinct()
        .agg(F.count("*").cast("bigint").alias("nodes"))
    )
    ee = er.agg(F.count("*").cast("bigint").alias("edges"))
    return (
        nn.crossJoin(F.broadcast(ee))
        .crossJoin(F.broadcast(capstats))
        .crossJoin(F.broadcast(tl))
        .selectExpr(
            "nodes",
            "edges",
            "pivots",
            "capped_pivots",
            "max_outdeg",
            "wedges_considered",
            "wedges_dropped",
            "triangles_lb",
            "CAST(CASE WHEN capped_pivots = 0 THEN 1 ELSE 0 END "
            "AS BIGINT) AS exact_flag",
        )
    )


# ---------------------------------------------------------------------------
# graph_clustering_coefficient_capped — bounded-cost CC (round-14 pull)
# ---------------------------------------------------------------------------


@query(
    "graph_clustering_coefficient_capped",
    oracle=f"""
    WITH os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    e AS MATERIALIZED (
      SELECT a.l_suppkey AS u, b.l_suppkey AS v
      FROM os a JOIN os b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
      GROUP BY 1, 2 HAVING count(*) >= 3),
    deg AS MATERIALIZED (
      SELECT n, count(*) AS d FROM (
        SELECT u AS n FROM e UNION ALL SELECT v FROM e) z
      GROUP BY n),
    er AS MATERIALIZED (
      SELECT CASE WHEN (du, u) < (dv, v) THEN u ELSE v END AS s,
             CASE WHEN (du, u) < (dv, v) THEN v ELSE u END AS t,
             CASE WHEN (du, u) < (dv, v) THEN dv ELSE du END AS dt
      FROM e JOIN deg a ON e.u = a.n JOIN deg b ON e.v = b.n,
           LATERAL (SELECT a.d AS du, b.d AS dv) x),
    capped AS MATERIALIZED (
      SELECT s, t, dt FROM (
        SELECT s, t, dt,
               row_number() OVER (PARTITION BY s ORDER BY dt, t) AS rk
        FROM er) z
      WHERE rk <= {_WEDGE_CAP}),
    tri AS (
      SELECT x.s AS a, x.t AS b, y.t AS c
      FROM capped x JOIN capped y ON x.s = y.s
      WHERE (x.dt, x.t) < (y.dt, y.t)
        AND EXISTS (SELECT 1 FROM er e3
                    WHERE e3.s = x.t AND e3.t = y.t)),
    pn AS (
      SELECT n.node, CAST(count(*) AS BIGINT) AS tri_lb
      FROM tri, unnest([a, b, c]) AS n(node)
      GROUP BY n.node)
    SELECT deg.n AS node, CAST(deg.d AS BIGINT) AS degree,
           coalesce(pn.tri_lb, 0) AS tri_lb,
           CAST(deg.d * (deg.d - 1) // 2 AS BIGINT) AS possible,
           round(CAST(coalesce(pn.tri_lb, 0) AS DOUBLE)
                 / (deg.d * (deg.d - 1) // 2), 6) AS cc_lb
    FROM deg LEFT JOIN pn ON deg.n = pn.node
    WHERE deg.d >= 2
    ORDER BY tri_lb DESC, node
    LIMIT 20
    """,
)
def graph_clustering_coefficient_capped(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BOUNDED-COST local clustering coefficient — the wedge-cap
    recipe (graph_triangle_wedge_cap, round 13) applied to the other
    super-linear surface VERDICT r12 flagged
    (graph_clustering_coefficient, sf1x ratio 0.91-1.12 across
    rounds): per-node triangle counts come from the CAPPED wedge
    listing (32 smallest-(deg, id) out-edges per pivot; closure probe
    against the full oriented edge list), so every counted triangle
    is real and tri_lb / C(degree, 2) is an exact LOWER BOUND on the
    local clustering coefficient, at wedge cost bounded by
    C(32, 2) * n regardless of skew.  The denominator C(degree, 2)
    uses the EXACT degree — only the numerator is bounded, so cc_lb
    never exceeds the true coefficient.  Top-20 nodes by bounded
    triangle count, degree-2+ only (C(d, 2) = 0 otherwise).

    On the dense fixture graph the cap binds (graph_triangle_
    wedge_cap's audit row reports where); the sf0.001 graph is
    uncapped and this op's counts there equal the exact sibling's —
    pinned by pytest.

    Parity: exact integers everywhere; one round(6) ratio with the
    shared shape; ties break on node id.

    Shape at 100 TB: reuses the session-cached oriented-edge
    checkpoint; capped wedge join + one LeftSemi probe + a 3-way
    explode groupBy; top-20 plans as TakeOrderedAndProject."""
    er = _oriented_cosupply_edges(spark, sf_dir)
    w_rk = Window.partitionBy("s").orderBy("dt", "t")
    capped = (
        er.withColumn("rk", F.row_number().over(w_rk))
        .where(F.col("rk") <= _WEDGE_CAP)
        .select("s", "t", "dt")
    )
    x = capped.select("s", F.col("t").alias("t1"), F.col("dt").alias("dt1"))
    y = capped.select("s", F.col("t").alias("t2"), F.col("dt").alias("dt2"))
    wedges = (
        x.join(y, "s")
        .where(
            F.struct(F.col("dt1"), F.col("t1"))
            < F.struct(F.col("dt2"), F.col("t2"))
        )
        .select("s", "t1", "t2")
    )
    tri = wedges.join(
        er.select(F.col("s").alias("t1"), F.col("t").alias("t2")),
        ["t1", "t2"],
        "left_semi",
    )
    pn = (
        tri.select(F.explode(F.array("s", "t1", "t2")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("tri_lb"))
    )
    deg = (
        er.select(F.col("s").alias("n"))
        .unionAll(er.select(F.col("t").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    return (
        deg.where(F.col("d") >= 2)
        .join(pn, deg.n == pn.node, "left")
        .selectExpr(
            "n AS node",
            "CAST(d AS BIGINT) AS degree",
            "CAST(coalesce(tri_lb, 0) AS BIGINT) AS tri_lb",
            "CAST(d * (d - 1) div 2 AS BIGINT) AS possible",
            "round(CAST(coalesce(tri_lb, 0) AS DOUBLE)"
            " / (d * (d - 1) div 2), 6) AS cc_lb",
        )
        .orderBy(F.col("tri_lb").desc(), "node")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# graph_clustering_coefficient
# ---------------------------------------------------------------------------


@query(
    "graph_clustering_coefficient",
    oracle=_TRI_PN_CTES
    + """,
    deg AS (
      SELECT n AS node, count(*) AS degree FROM (
        SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e) z
      GROUP BY n HAVING count(*) >= 2)
    SELECT s.s_suppkey,
           CAST(deg.degree AS BIGINT) AS degree,
           CAST(coalesce(pn.tri_count, 0) AS BIGINT) AS tri_count,
           round(2 * coalesce(pn.tri_count, 0)
                 / (deg.degree * (deg.degree - 1) * 1.0), 6)
             AS clustering_coef
    FROM deg
    LEFT JOIN pn ON deg.node = pn.node
    JOIN supplier s ON deg.node = s.s_suppkey
    ORDER BY clustering_coef DESC, s.s_suppkey
    LIMIT 20
    """,
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCAL CLUSTERING COEFFICIENT per supplier on the support-3
    co-supply graph: cc(n) = 2*tri(n) / (deg(n)*(deg(n)-1)) — how close
    a node's neighborhood is to a clique (Watts-Strogatz), THE
    community-embeddedness score next to raw triangle counts. Top-20
    most-clustered suppliers with degree >= 2.

    Composes the shared primitives: per-node triangle counts reuse the
    degree-oriented wedge listing (_tri_per_node — one implementation,
    one oracle CTE chain with graph_triangle_cosupply), degrees are one
    hash aggregate over the checkpointed edge list, and nodes without
    triangles keep a row (LEFT join, cc = 0) — dropping them is the
    classic averaging bug. Top-20 is TakeOrderedAndProject.

    Parity: 2*tri and deg*(deg-1) are exact integers; one division,
    round(6); ties break on (cc DESC, s_suppkey)."""
    e = _cosupply_edges(spark, sf_dir, _COSUPPLY_MIN_SUPPORT)
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
        .where(F.col("degree") >= 2)
    )
    pn = _tri_per_node(spark, sf_dir)
    sup = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    cc = F.round(
        (2 * F.coalesce(F.col("tri_count"), F.lit(0)))
        / (F.col("degree") * (F.col("degree") - 1) * F.lit(1.0)),
        6,
    )
    return (
        deg.join(pn, "node", "left")
        .join(F.broadcast(sup), deg.node == sup.s_suppkey)
        .select(
            "s_suppkey",
            F.col("degree").cast("bigint").alias("degree"),
            F.coalesce(F.col("tri_count"), F.lit(0)).cast("bigint").alias(
                "tri_count"
            ),
            cc.alias("clustering_coef"),
        )
        .orderBy(F.col("clustering_coef").desc(), "s_suppkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# graph_adamic_adar
# ---------------------------------------------------------------------------


@session_artifact
def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (u < v) part co-purchase edges with >= 2 shared orders,
    materialized once per (application, sf_dir) via
    localCheckpoint — graph_adamic_adar references the edge list THREE
    times (two directed copies for the wedge join + the non-edge
    anti-join) and without materialization each reference re-derives
    the support join from the fact table (measured: 25 exchanges /
    6 lineitem scans in the naive plan). Bounded by |P| choose 2,
    orders of magnitude below the fact table — the same 100 TB play
    as _cosupply_edges."""
    li = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u")
    )
    b = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v")
    )
    return (
        a.join(b, "ok")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("ns"))
        .where(F.col("ns") >= 2)
        .select("u", "v")
        .localCheckpoint()
    )


@query(
    "graph_adamic_adar",
    oracle="""
    WITH os AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM os a JOIN os b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2),
    d AS (SELECT u AS m, v AS n FROM e UNION ALL SELECT v AS m, u AS n FROM e),
    deg AS (SELECT m, count(*) AS dg FROM d GROUP BY m),
    w AS (
      SELECT d1.n AS a, d2.n AS b, d1.m AS m
      FROM d d1 JOIN d d2 ON d1.m = d2.m AND d1.n < d2.n),
    sc AS (
      SELECT w.a, w.b, count(*) AS n_common,
             sum(CAST(round(CAST(1 AS DOUBLE) / ln(deg.dg), 9)
                      AS DECIMAL(28,9))) AS aa
      FROM w JOIN deg ON w.m = deg.m
      GROUP BY w.a, w.b),
    nc AS (
      SELECT sc.a, sc.b, sc.n_common, sc.aa
      FROM sc LEFT JOIN e ON sc.a = e.u AND sc.b = e.v
      WHERE e.u IS NULL)
    SELECT a AS part_u, b AS part_v,
           CAST(n_common AS BIGINT) AS n_common,
           round(CAST(aa AS DOUBLE), 6) AS aa_score
    FROM nc
    ORDER BY aa DESC, a, b
    LIMIT 20
    """,
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADAMIC-ADAR LINK PREDICTION on the support-2 part co-purchase
    graph: for every non-adjacent part pair, sum 1/ln(deg(m)) over
    common neighbors m — rare shared neighbors count more than hub
    neighbors, the classic "which products will be bought together
    next" score. Top-20 predicted links. (The co-purchase graph keeps
    degree variance at every fixture sf; the co-supply graph is
    degree-regular — agg_degree_assortativity documents why.)

    Scale shape: edges come from the same support-gated equi-join as
    agg_degree_assortativity; wedge enumeration joins the directed
    edge list to itself on the MIDDLE node, so cost is the wedge mass
    sum(deg²) that the support gate bounds (the _JACCARD_MIN_SUPPORT
    note documents the measurement per gate); degrees ride the wedge
    via one broadcastable (node, deg) join; non-edges via LEFT anti
    semantics against the canonical u<v edge list; final top-20 is
    orderBy+limit (TakeOrderedAndProject), ordered on the EXACT
    decimal score so both engines pick identical survivors.

    Parity: each wedge term round(1/ln(deg), 9) quantizes the only
    transcendental before the DECIMAL(28,9) sum (order-independent);
    ln(integer) agrees across engines well inside 1e-9 (the NDCG
    precedent); middles always have deg >= 2 so ln > 0."""
    e = _copurchase_edges(spark, sf_dir)
    d = e.select(F.col("u").alias("m"), F.col("v").alias("n")).unionAll(
        e.select(F.col("v").alias("m"), F.col("u").alias("n"))
    )
    deg = d.groupBy("m").agg(F.count("*").alias("dg"))
    d1 = d.select("m", F.col("n").alias("a"))
    d2 = d.select("m", F.col("n").alias("b"))
    w = d1.join(d2, "m").where(F.col("a") < F.col("b"))
    sc = (
        w.join(deg, "m")
        .groupBy("a", "b")
        .agg(
            F.count("*").alias("n_common"),
            F.sum(
                F.expr(
                    "CAST(round(CAST(1 AS DOUBLE) / ln(dg), 9)"
                    " AS DECIMAL(28,9))"
                )
            ).alias("aa"),
        )
    )
    nc = sc.join(
        e.select(F.col("u").alias("a"), F.col("v").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    return (
        nc.orderBy(F.col("aa").desc(), "a", "b")
        .limit(20)
        .select(
            F.col("a").alias("part_u"),
            F.col("b").alias("part_v"),
            F.col("n_common").cast("bigint").alias("n_common"),
            F.round(F.col("aa").cast("double"), 6).alias("aa_score"),
        )
    )


# ---------------------------------------------------------------------------
# graph_kcore
# ---------------------------------------------------------------------------

_KCORE_K = 2
_KCORE_ROUNDS = 16  # measured peeling depth <= 5 at every fixture sf


def _kcore_oracle() -> str:
    """Unrolled peeling rounds (a recursive CTE cannot aggregate over
    its own working table; fixed unrolling is the PageRank-oracle
    move). Extra rounds past the fixpoint are identity filters, so
    round-{_KCORE_ROUNDS} output equals the converged core whenever
    peeling converges within the budget — and the Spark side RAISES
    if it does not, so a mismatch cannot pass silently."""
    parts = [
        """os AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e0 AS MATERIALIZED (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM os a JOIN os b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2)"""
    ]
    for i in range(_KCORE_ROUNDS):
        parts.append(
            f"""d{i} AS MATERIALIZED (
      SELECT nn, count(*) AS cc FROM (
        SELECT u AS nn FROM e{i} UNION ALL SELECT v AS nn FROM e{i}) z{i}
      GROUP BY nn),
    k{i} AS MATERIALIZED (SELECT nn FROM d{i} WHERE cc >= {_KCORE_K}),
    e{i + 1} AS MATERIALIZED (
      SELECT e{i}.u, e{i}.v FROM e{i}
      JOIN k{i} ka ON e{i}.u = ka.nn JOIN k{i} kb ON e{i}.v = kb.nn)"""
        )
    R = _KCORE_ROUNDS
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f""",
    df AS (
      SELECT nn, count(*) AS cc FROM (
        SELECT u AS nn FROM e{R} UNION ALL SELECT v AS nn FROM e{R}) zf
      GROUP BY nn)
    SELECT nn AS part_key, CAST(cc AS BIGINT) AS core_degree
    FROM df WHERE cc >= {_KCORE_K}"""
    )


@query("graph_kcore", oracle=_kcore_oracle())
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-CORE DECOMPOSITION (k = _KCORE_K = 2) of the support-2 part
    co-purchase graph by iterative peeling: repeatedly delete nodes
    with fewer than k surviving neighbors until a fixpoint; survivors
    with their in-core degrees are the maximal subgraph where every
    node keeps >= k co-purchase partners — the standard
    dense-community extractor (and the cheap preconditioner that
    shrinks a graph before triangle/clique work).

    Scale shape, following dedup_connected_components' loop
    disciplines: the loop runs over the CHECKPOINTED domain-bounded
    edge list only (_copurchase_edges — never the fact table); each
    round is one degree hash-aggregate + one semi-filtering join,
    localCheckpoint truncates lineage so plan size stays O(1) in
    rounds; shuffle partitions are sized once from |E| and restored
    in finally. Peeling is monotone (edges only leave), so an
    unchanged edge COUNT is a valid fixpoint witness — the per-round
    count is a scalar action on the checkpointed edge list, bounded
    by the measured <= 5-round depth. If the 16-round budget is
    exhausted before the fixpoint the operator RAISES rather than
    returning a non-core — which is what makes the unrolled
    fixed-round oracle exact.

    Parity: pure integer counting — no floats anywhere."""
    e = _copurchase_edges(spark, sf_dir)
    n_edges = e.count()
    loop_partitions = max(1, min(200, n_edges // 1_000_000 + 1))
    conf = spark.conf
    old_sp = conf.get("spark.sql.shuffle.partitions")
    old_aqe = conf.get("spark.sql.adaptive.enabled")
    conf.set("spark.sql.shuffle.partitions", str(loop_partitions))
    conf.set("spark.sql.adaptive.enabled", "false")

    def degrees(edges: DataFrame) -> DataFrame:
        return (
            edges.select(F.col("u").alias("nn"))
            .unionAll(edges.select(F.col("v").alias("nn")))
            .groupBy("nn")
            .agg(F.count("*").alias("cc"))
        )

    converged = False
    try:
        edges, prev_count = e, n_edges
        for _ in range(_KCORE_ROUNDS):
            keep = degrees(edges).where(F.col("cc") >= _KCORE_K).select("nn")
            edges = (
                edges.join(keep.withColumnRenamed("nn", "u"), "u")
                .join(keep.withColumnRenamed("nn", "v"), "v")
                .select("u", "v")
                .localCheckpoint()
            )
            cur = edges.count()
            if cur == prev_count:
                converged = True
                break
            prev_count = cur
        out = degrees(edges).where(F.col("cc") >= _KCORE_K)
    finally:
        conf.set("spark.sql.shuffle.partitions", old_sp)
        conf.set("spark.sql.adaptive.enabled", old_aqe)
    if not converged:
        raise RuntimeError(
            f"k-core peeling not converged after {_KCORE_ROUNDS} rounds — "
            "raise the round budget for deeper degeneracy orderings"
        )
    return out.select(
        F.col("nn").alias("part_key"),
        F.col("cc").cast("bigint").alias("core_degree"),
    )


# ---------------------------------------------------------------------------
# graph_core_number
# ---------------------------------------------------------------------------

_CORE_ROUNDS = 32  # measured h-index fixpoint depth <= 21 at every sf


def _core_oracle() -> str:
    """Unrolled h-index rounds (every CTE MATERIALIZED — DuckDB
    inlines per reference and round i feeds round i+1 twice). Extra
    rounds past the fixpoint are identity maps, so the round-32 labels
    equal the converged coreness whenever the iteration converges in
    budget — and the Spark side RAISES if it does not."""
    parts = [
        """os AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS MATERIALIZED (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM os a JOIN os b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2),
    d AS MATERIALIZED (
      SELECT u AS m, v AS n FROM e UNION ALL SELECT v AS m, u AS n FROM e),
    c0 AS MATERIALIZED (
      SELECT m AS n, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY m)"""
    ]
    for i in range(_CORE_ROUNDS):
        parts.append(
            f"""x{i} AS MATERIALIZED (
      SELECT d.m AS n, c{i}.c AS cv,
             row_number() OVER (PARTITION BY d.m
                                ORDER BY c{i}.c DESC, d.n) AS r
      FROM d JOIN c{i} ON d.n = c{i}.n),
    c{i + 1} AS MATERIALIZED (
      SELECT n, CAST(coalesce(max(CASE WHEN cv >= r THEN r END), 0)
                     AS BIGINT) AS c
      FROM x{i} GROUP BY n)"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT n AS part_key, c AS core_number FROM c{_CORE_ROUNDS}"""
    )


@query("graph_core_number", oracle=_core_oracle())
def graph_core_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL CORENESS DECOMPOSITION of the support-2 part co-purchase
    graph: every node's core number (the largest k whose k-core still
    contains it) — the standard graph-density ranking behind
    community cores, influential-spreader selection, and graph
    sparsification (graph_kcore answers membership at ONE k; this is
    the whole map).

    Mechanism: the H-INDEX FIXPOINT (Lu et al. 2016) — start from
    degrees and iterate c(v) <- H-index of neighbors' c until nothing
    changes; the fixpoint is exactly the peeling core number (pinned
    against brute-force peeling in tests). This iteration is the
    distributed-friendly formulation: each round is one edge-label
    join, one per-NODE ranking window (bounded by degree), and one
    hash aggregate — no sequential peel order, so at 100 TB every
    round is three keyed shuffles over the (domain-bounded,
    checkpointed) edge list. Round budget 32 = _CORE_ROUNDS (measured
    fixpoint depth <= 21 on every fixture sf); early exit on the
    first unchanged round (one scalar count per round, the
    graph_kcore discipline), RAISE if the budget is exhausted
    unconverged — which is what makes the fixed-unroll oracle exact.

    Parity: pure integer ranking and counting — no floats."""
    e = _copurchase_edges(spark, sf_dir)
    n_edges = e.count()
    loop_partitions = max(1, min(200, n_edges // 1_000_000 + 1))
    conf = spark.conf
    old_sp = conf.get("spark.sql.shuffle.partitions")
    old_aqe = conf.get("spark.sql.adaptive.enabled")
    conf.set("spark.sql.shuffle.partitions", str(loop_partitions))
    conf.set("spark.sql.adaptive.enabled", "false")
    d = e.select(F.col("u").alias("m"), F.col("v").alias("n")).unionAll(
        e.select(F.col("v").alias("m"), F.col("u").alias("n"))
    )
    converged = False
    try:
        d = d.localCheckpoint()
        c = (
            d.groupBy(F.col("m").alias("n"))
            .agg(F.count("*").cast("bigint").alias("c"))
            .localCheckpoint()
        )
        wr = Window.partitionBy("m").orderBy(F.col("cv").desc(), "n")
        for _ in range(_CORE_ROUNDS):
            x = (
                d.join(c, "n")
                .select("m", "n", F.col("c").alias("cv"))
                .withColumn("r", F.row_number().over(wr))
            )
            nc = (
                x.groupBy(F.col("m").alias("n"))
                .agg(
                    F.coalesce(
                        F.max(F.when(F.col("cv") >= F.col("r"), F.col("r"))),
                        F.lit(0),
                    )
                    .cast("bigint")
                    .alias("c")
                )
                .localCheckpoint()
            )
            changed = (
                nc.join(c.withColumnRenamed("c", "old"), "n")
                .where(F.col("c") != F.col("old"))
                .count()
            )
            c = nc
            if changed == 0:
                converged = True
                break
    finally:
        conf.set("spark.sql.shuffle.partitions", old_sp)
        conf.set("spark.sql.adaptive.enabled", old_aqe)
    if not converged:
        raise RuntimeError(
            f"h-index coreness not converged after {_CORE_ROUNDS} rounds — "
            "raise the budget for graphs with deeper degeneracy"
        )
    return c.select(F.col("n").alias("part_key"), F.col("c").alias("core_number"))


# ---------------------------------------------------------------------------
# graph_truss_decomposition
# ---------------------------------------------------------------------------

_TRUSS_K = 3  # 3-truss: every surviving edge closes >= 1 triangle
_TRUSS_ROUNDS = 8  # measured peeling depth: 1 round at every fixture sf


def _edge_support(edges: DataFrame) -> DataFrame:
    """Per-edge triangle support of a canonical (u < v) edge list via
    ONE wedge self-join (cost = wedge mass) + a semi-probe back into
    the edge list — shared by graph_truss_decomposition and
    graph_truss_number."""
    d = edges.select(F.col("u").alias("m"), F.col("v").alias("n")).unionAll(
        edges.select(F.col("v").alias("m"), F.col("u").alias("n"))
    )
    a = d.select(F.col("m").alias("u"), F.col("n").alias("w"))
    b = d.select(F.col("m").alias("v"), F.col("n").alias("w"))
    return (
        a.join(b, "w")
        .where(F.col("u") < F.col("v"))
        .join(edges, ["u", "v"])
        .groupBy("u", "v")
        .agg(F.count("*").cast("bigint").alias("sup"))
    )


def _truss_oracle() -> str:
    """Unrolled support-peeling rounds, every CTE MATERIALIZED (the
    DuckDB per-reference-inlining rule). Rounds past the fixpoint are
    identity filters; the Spark side raises if the budget is hit."""
    parts = [
        """os AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e0 AS MATERIALIZED (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM os a JOIN os b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2)"""
    ]
    for i in range(_TRUSS_ROUNDS):
        parts.append(
            f"""d{i} AS MATERIALIZED (
      SELECT u AS m, v AS n FROM e{i} UNION ALL SELECT v AS m, u AS n FROM e{i}),
    s{i} AS MATERIALIZED (
      SELECT a.m AS u, b.m AS v, CAST(count(*) AS BIGINT) AS sup
      FROM d{i} a JOIN d{i} b ON a.n = b.n AND a.m < b.m
      JOIN e{i} t ON t.u = a.m AND t.v = b.m
      GROUP BY a.m, b.m),
    e{i + 1} AS MATERIALIZED (
      SELECT s.u, s.v FROM s{i} s WHERE s.sup >= {_TRUSS_K - 2})"""
        )
    R = _TRUSS_ROUNDS
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f""",
    df AS MATERIALIZED (
      SELECT u AS m, v AS n FROM e{R} UNION ALL SELECT v AS m, u AS n FROM e{R}),
    sf AS (
      SELECT a.m AS u, b.m AS v, CAST(count(*) AS BIGINT) AS sup
      FROM df a JOIN df b ON a.n = b.n AND a.m < b.m
      JOIN e{R} t ON t.u = a.m AND t.v = b.m
      GROUP BY a.m, b.m)
    SELECT u AS part_u, v AS part_v, sup AS truss_support FROM sf"""
    )


@query("graph_truss_decomposition", oracle=_truss_oracle())
def graph_truss_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-TRUSS (k = _TRUSS_K = 3) of the support-2 part co-purchase
    graph: iteratively delete every edge closing fewer than k-2
    triangles until a fixpoint; survivors with their in-truss
    triangle support form the maximal subgraph where every EDGE is
    triangle-reinforced — the edge-level strengthening of graph_kcore
    (a k-truss is always inside the (k-1)-core, but prunes weakly
    attached edges a node-degree criterion keeps), the standard
    community-backbone extractor (Cohen 2008).

    Scale shape, the graph_kcore loop disciplines applied per EDGE:
    each round computes per-edge triangle support with ONE wedge
    self-join over the checkpointed (domain-bounded) edge list —
    cost = wedge mass, the quantity the _JACCARD_MIN_SUPPORT note
    budgets per support gate — then semi-filters the edge list;
    localCheckpoint truncates lineage per round; edge-count equality
    witnesses the fixpoint (deletion is monotone); the budget of 8
    rounds (measured depth: 1 at every fixture sf) RAISES when
    exhausted, which is what makes the unrolled fixed-round oracle
    exact.

    Parity: pure integer counting; the triangle probe joins on the
    canonical u < v edge orientation identically on both engines."""
    e = _copurchase_edges(spark, sf_dir)
    n_edges = e.count()
    loop_partitions = max(1, min(200, n_edges // 1_000_000 + 1))
    conf = spark.conf
    old_sp = conf.get("spark.sql.shuffle.partitions")
    old_aqe = conf.get("spark.sql.adaptive.enabled")
    conf.set("spark.sql.shuffle.partitions", str(loop_partitions))
    conf.set("spark.sql.adaptive.enabled", "false")

    support = _edge_support

    converged = False
    try:
        edges, prev = e.localCheckpoint(), n_edges
        for _ in range(_TRUSS_ROUNDS):
            edges = (
                support(edges)
                .where(F.col("sup") >= _TRUSS_K - 2)
                .select("u", "v")
                .localCheckpoint()
            )
            cur = edges.count()
            if cur == prev:
                converged = True
                break
            prev = cur
        out = support(edges)
    finally:
        conf.set("spark.sql.shuffle.partitions", old_sp)
        conf.set("spark.sql.adaptive.enabled", old_aqe)
    if not converged:
        raise RuntimeError(
            f"k-truss peeling not converged after {_TRUSS_ROUNDS} rounds — "
            "raise the budget for deeper truss hierarchies"
        )
    return out.select(
        F.col("u").alias("part_u"),
        F.col("v").alias("part_v"),
        F.col("sup").alias("truss_support"),
    )


# ---------------------------------------------------------------------------
# graph_truss_number
# ---------------------------------------------------------------------------

# Budgets cover the ORACLE-CHECKED fixtures with margin: sf0.01 and
# sf0.1 measure max truss 3 and inner peel depth <= 3 (sf0.001's
# deeper hierarchy — truss 5, depth 32 at k=5 — is exercised by the
# pytest through the synthetic-graph helper path, not the oracle).
# Both budgets RAISE on exhaustion, so a regenerated fixture that
# outgrows the unrolled oracle fails loudly, never mismatches.
_TRUSSN_KMAX = 6  # stage budget; fixture max truss number is 3
_TRUSSN_ROUNDS = 8  # inner peel budget per stage; measured depth <= 3


def _trussn_oracle() -> str:
    """Full truss decomposition as unrolled per-stage peeling: for
    k = 3..KMAX, peel support < k-2 for a FIXED number of rounds
    (identity rounds past the fixpoint are harmless no-ops — the Spark
    side RAISES if its convergence budget is hit, so a too-shallow
    unroll can never silently diverge from it), then label the edges
    stage k removed with truss number k-1. Every per-round CTE is
    MATERIALIZED (DuckDB inlines every CTE reference; an unrolled
    iteration without it explodes exponentially — round-7 note)."""
    parts = [
        """os AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    t2 AS MATERIALIZED (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM os a JOIN os b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2)"""
    ]
    for k in range(3, _TRUSSN_KMAX + 1):
        prev = f"t{k - 1}"
        for r in range(_TRUSSN_ROUNDS):
            src = prev if r == 0 else f"e{k}_{r - 1}"
            parts.append(
                f"""d{k}_{r} AS MATERIALIZED (
      SELECT u AS m, v AS n FROM {src} UNION ALL SELECT v AS m, u AS n FROM {src}),
    s{k}_{r} AS MATERIALIZED (
      SELECT a.m AS u, b.m AS v, CAST(count(*) AS BIGINT) AS sup
      FROM d{k}_{r} a JOIN d{k}_{r} b ON a.n = b.n AND a.m < b.m
      JOIN {src} t ON t.u = a.m AND t.v = b.m
      GROUP BY a.m, b.m),
    e{k}_{r} AS MATERIALIZED (
      SELECT u, v FROM s{k}_{r} WHERE sup >= {k - 2})"""
            )
        parts.append(
            f"t{k} AS MATERIALIZED (SELECT u, v FROM e{k}_{_TRUSSN_ROUNDS - 1})"
        )
    labels = [
        f"""SELECT u AS part_u, v AS part_v, CAST({k - 1} AS BIGINT) AS truss_number
    FROM (SELECT u, v FROM t{k - 1} EXCEPT SELECT u, v FROM t{k}) x{k}"""
        for k in range(3, _TRUSSN_KMAX + 1)
    ]
    return (
        "WITH "
        + ",\n    ".join(parts)
        + "\n    "
        + "\n    UNION ALL ".join(labels)
    )


@query("graph_truss_number", oracle=_trussn_oracle())
def graph_truss_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL TRUSS DECOMPOSITION of the support-2 part co-purchase
    graph: every edge's TRUSS NUMBER — the maximum k such that the
    edge survives in the k-truss (graph_truss_decomposition extracts
    only the single k=3 shell; this is the edge-level analogue of
    graph_core_number's full coreness map, the complete cohesion
    hierarchy community detection peels from — Cohen 2008, Wang &
    Cheng VLDB'12). An edge with truss number t sits in a subgraph
    where every edge closes >= t-2 triangles; the fixture's hierarchy
    tops out at truss 3 (probed: max 3, inner peel depth <= 3 at
    sf0.01 AND sf0.1).

    Algorithm — staged peeling, each stage the graph_kcore loop
    discipline applied per EDGE: for k = 3, 4, ...: peel edges with
    support < k-2 to a fixpoint (support recomputed per round with
    ONE wedge self-join over the localCheckpoint-ed, domain-bounded
    edge list — _edge_support, cost = wedge mass); edges stage k
    removes carry truss number k-1 (they were in the (k-1)-truss but
    not the k-truss); stop when the edge set empties. Edge-count
    equality witnesses each fixpoint (deletion is monotone); both the
    inner round budget (_TRUSSN_ROUNDS = 8 per stage) and the stage
    budget (k <= _TRUSSN_KMAX = 6) RAISE on exhaustion — wrong-label
    output is impossible, which is what licenses the fixed-round
    unrolled oracle. Shuffle partitions are temporarily sized to the
    edge count and restored in finally (tiny-loop scheduling note).

    Parity: pure integer support counting on the canonical u < v
    orientation; stage k's removed-edge set is an anti-join on both
    engines (EXCEPT in the oracle — edge lists are duplicate-free)."""
    e = _copurchase_edges(spark, sf_dir)
    out = _truss_number_map(
        spark, e, e.count(), kmax=_TRUSSN_KMAX, rounds=_TRUSSN_ROUNDS
    )
    return out.select(
        F.col("u").alias("part_u"),
        F.col("v").alias("part_v"),
        F.col("truss").alias("truss_number"),
    )


def _truss_number_map(
    spark: SparkSession,
    e: DataFrame,
    n_edges: int,
    kmax: int,
    rounds: int,
) -> DataFrame:
    """Staged truss peeling over a canonical (u < v) edge list,
    returning (u, v, truss) with one row per input edge. Budgets
    RAISE on exhaustion (wrong labels impossible); factored out so
    the pytest can drive it on synthetic deep-hierarchy graphs the
    fixtures don't contain."""
    loop_partitions = max(1, min(200, n_edges // 1_000_000 + 1))
    conf = spark.conf
    old_sp = conf.get("spark.sql.shuffle.partitions")
    old_aqe = conf.get("spark.sql.adaptive.enabled")
    conf.set("spark.sql.shuffle.partitions", str(loop_partitions))
    conf.set("spark.sql.adaptive.enabled", "false")
    labeled: list[DataFrame] = []
    try:
        edges, cnt = e.localCheckpoint(), n_edges
        for k in range(3, kmax + 1):
            stage_in, converged = edges, False
            for _ in range(rounds):
                nxt = (
                    _edge_support(edges)
                    .where(F.col("sup") >= k - 2)
                    .select("u", "v")
                    .localCheckpoint()
                )
                c = nxt.count()
                if c == cnt:
                    converged = True
                    edges = nxt
                    break
                edges, cnt = nxt, c
            if not converged:
                raise RuntimeError(
                    f"truss stage k={k} not converged in "
                    f"{rounds} rounds — raise the budget"
                )
            labeled.append(
                stage_in.join(edges, ["u", "v"], "left_anti").select(
                    "u", "v", F.lit(k - 1).cast("bigint").alias("truss")
                )
            )
            if cnt == 0:
                break
        if cnt != 0:
            raise RuntimeError(
                f"truss hierarchy deeper than k={kmax} — "
                "raise the stage budget"
            )
        out = labeled[0]
        for part in labeled[1:]:
            out = out.unionAll(part)
        # bounded: one row per input edge
        return out.localCheckpoint()
    finally:
        conf.set("spark.sql.shuffle.partitions", old_sp)
        conf.set("spark.sql.adaptive.enabled", old_aqe)


# ---------------------------------------------------------------------------
# graph_modularity_partition
# ---------------------------------------------------------------------------


@query(
    "graph_modularity_partition",
    oracle="""
    WITH os AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM os a JOIN os b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2),
    m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
    eb AS (
      SELECT pu.p_brand AS bu, pv.p_brand AS bv
      FROM e JOIN part pu ON e.u = pu.p_partkey
             JOIN part pv ON e.v = pv.p_partkey),
    dc AS (
      SELECT brand, CAST(count(*) AS BIGINT) AS d
      FROM (SELECT bu AS brand FROM eb UNION ALL SELECT bv FROM eb) t
      GROUP BY brand),
    ec AS (
      SELECT bu AS brand, CAST(count(*) AS BIGINT) AS ew
      FROM eb WHERE bu = bv GROUP BY bu),
    terms AS (
      SELECT dc.brand, dc.d, CAST(coalesce(ec.ew, 0) AS BIGINT) AS ew,
             CAST(round(CAST(coalesce(ec.ew, 0) AS DOUBLE) / m.m
                        - (CAST(dc.d AS DOUBLE) / (2 * m.m))
                          * (CAST(dc.d AS DOUBLE) / (2 * m.m)), 9)
                  AS DECIMAL(28,9)) AS term
      FROM dc LEFT JOIN ec USING (brand) CROSS JOIN m),
    tot AS (
      SELECT CAST(sum(term) AS DECIMAL(38,9)) AS q FROM terms)
    SELECT terms.brand, terms.d AS degree_sum, terms.ew AS edges_within,
           round(CAST(terms.term AS DOUBLE), 6) AS term,
           round(CAST(tot.q AS DOUBLE), 6) AS modularity
    FROM terms CROSS JOIN tot
    """,
)
def graph_modularity_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEWMAN MODULARITY of the part-brand partition on the support-2
    co-purchase graph: Q = sum_c [ e_c/m - (d_c/2m)^2 ] — does the
    catalog's brand structure explain what is bought together, or is
    the co-purchase graph brand-agnostic? Per-community rows expose
    which brands are cohesive (term > 0) vs diluted; the grand Q
    repeats as a column. This is the quality functional behind every
    community-detection method (Louvain/Leiden maximize exactly this),
    applied to the partition the catalog already provides.

    Shape at 100 TB: edges come from the checkpointed support-gated
    equi-join (_copurchase_edges — derived once per app/sf, referenced
    twice here); brands ride in via two broadcast joins of the part
    dimension; everything after is |brands|-row arithmetic. No
    wedge enumeration — modularity needs only endpoint labels.

    Parity: m, d_c, e_c are exact integers; each community term is one
    shared expression of correctly-rounded divisions of exact ints
    (bit-identical across engines), quantized round(9) into DECIMAL
    for the order-independent total; outputs round(6)."""
    e = _copurchase_edges(spark, sf_dir)
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    m = e.agg(F.count("*").cast("bigint").alias("m"))
    eb = (
        e.join(
            F.broadcast(
                p.select(
                    F.col("p_partkey").alias("u"),
                    F.col("p_brand").alias("bu"),
                )
            ),
            "u",
        )
        .join(
            F.broadcast(
                p.select(
                    F.col("p_partkey").alias("v"),
                    F.col("p_brand").alias("bv"),
                )
            ),
            "v",
        )
        .select("bu", "bv")
    )
    dc = (
        eb.select(F.col("bu").alias("brand"))
        .unionAll(eb.select(F.col("bv").alias("brand")))
        .groupBy("brand")
        .agg(F.count("*").cast("bigint").alias("d"))
    )
    ec = (
        eb.where(F.col("bu") == F.col("bv"))
        .groupBy(F.col("bu").alias("brand"))
        .agg(F.count("*").cast("bigint").alias("ew"))
    )
    terms = (
        dc.join(F.broadcast(ec), "brand", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "brand",
            "d",
            F.coalesce(F.col("ew"), F.lit(0)).cast("bigint").alias("ew"),
            F.expr(
                "CAST(round(CAST(coalesce(ew, 0) AS DOUBLE) / m"
                " - (CAST(d AS DOUBLE) / (2 * m))"
                " * (CAST(d AS DOUBLE) / (2 * m)), 9) AS DECIMAL(28,9))"
            ).alias("term"),
        )
    )
    tot = terms.agg(F.sum("term").cast("decimal(38,9)").alias("q"))
    return terms.crossJoin(F.broadcast(tot)).select(
        "brand",
        F.col("d").alias("degree_sum"),
        F.col("ew").alias("edges_within"),
        F.round(F.col("term").cast("double"), 6).alias("term"),
        F.round(F.col("q").cast("double"), 6).alias("modularity"),
    )


# ---------------------------------------------------------------------------
# graph_rich_club
# ---------------------------------------------------------------------------


@query(
    "graph_rich_club",
    oracle="""
    WITH os AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM os a JOIN os b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS d
      FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e) t
      GROUP BY node),
    em AS (
      SELECT least(du.d, dv.d) AS me, CAST(count(*) AS BIGINT) AS ec
      FROM e JOIN deg du ON e.u = du.node
             JOIN deg dv ON e.v = dv.node
      GROUP BY 1),
    dc AS (SELECT d, CAST(count(*) AS BIGINT) AS nc FROM deg GROUP BY d),
    dom AS (
      SELECT dc.d, dc.nc, CAST(coalesce(em.ec, 0) AS BIGINT) AS ec
      FROM dc LEFT JOIN em ON em.me = dc.d),
    tot AS (
      SELECT CAST(sum(nc) AS BIGINT) AS nn, CAST(sum(ec) AS BIGINT) AS ee
      FROM dom),
    cum AS (
      SELECT d,
             nn - sum(nc) OVER (ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nk,
             ee - sum(ec) OVER (ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ek
      FROM dom CROSS JOIN tot)
    SELECT d AS degree_threshold,
           CAST(nk AS BIGINT) AS n_club_nodes,
           CAST(ek AS BIGINT) AS n_club_edges,
           round(2.0 * ek / (CAST(nk AS DOUBLE) * (nk - 1)), 6)
             AS rich_club_phi
    FROM cum WHERE nk >= 2
    """,
)
def graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RICH-CLUB COEFFICIENT spectrum of the support-2 part
    co-purchase graph: for each degree threshold k, the density
    phi(k) = 2 E_{>k} / (N_{>k} (N_{>k} - 1)) among nodes of degree
    strictly above k — do the best-connected parts preferentially
    co-sell with EACH OTHER (phi rising toward 1) or merely with the
    mass (phi flat)? The rising-phi signature is the "rich club" that
    assortativity (agg_degree_assortativity, one number) summarizes
    away; merchandisers read the club as the bundle core, and on text
    corpora the same spectrum over near-dup graphs exposes template
    cliques.

    Shape at 100 TB: edges come from the checkpointed support-gated
    equi-join (_copurchase_edges, derived once per app/sf); degrees
    are one endpoint-union aggregate; every threshold is answered
    from ONE ordered cumulative window over the bounded DEGREE DOMAIN
    (suffix counts as total - inclusive-prefix) — never a per-k scan
    of nodes or edges, and min(deg_u, deg_v) lands in the same domain
    so one frame serves both suffix sums.

    Parity: node and edge counts per degree are exact integers; the
    cumulative window orders on the integer degree key; phi is one
    double division of exact integers, round(6). Thresholds with
    fewer than 2 surviving nodes are excluded on both sides (phi
    undefined)."""
    e = _copurchase_edges(spark, sf_dir)
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("d"))
    )
    em = (
        e.join(deg.select(F.col("node").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("d").alias("dv")), "v")
        .groupBy(F.least("du", "dv").alias("me"))
        .agg(F.count("*").cast("bigint").alias("ec"))
    )
    dc = deg.groupBy("d").agg(F.count("*").cast("bigint").alias("nc"))
    dom = dc.join(
        F.broadcast(em.select(F.col("me").alias("d"), "ec")), "d", "left"
    ).select(
        "d", "nc", F.coalesce(F.col("ec"), F.lit(0)).cast("bigint").alias("ec")
    )
    tot = dom.agg(
        F.sum("nc").cast("bigint").alias("nn"),
        F.sum("ec").cast("bigint").alias("ee"),
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cum = dom.crossJoin(F.broadcast(tot)).select(
        "d",
        (F.col("nn") - F.sum("nc").over(w)).alias("nk"),
        (F.col("ee") - F.sum("ec").over(w)).alias("ek"),
    )
    return cum.where(F.col("nk") >= 2).selectExpr(
        "d AS degree_threshold",
        "CAST(nk AS BIGINT) AS n_club_nodes",
        "CAST(ek AS BIGINT) AS n_club_edges",
        "round(2.0 * ek / (CAST(nk AS DOUBLE) * (nk - 1)), 6)"
        " AS rich_club_phi",
    )


# ---------------------------------------------------------------------------
# graph_label_propagation_semi
# ---------------------------------------------------------------------------

# Synchronous clamped-seed label propagation converges in <= graph
# diameter rounds; measured rounds-to-fixpoint on the support-2
# co-purchase graph: 1 (sf0.001) / 5 (sf0.01) / 7 (sf0.1). Budget 10
# leaves fixture-regeneration margin; the Spark side RAISES if the
# budget is exhausted before the frontier empties, which is what makes
# the fixed-unroll oracle exact (extra rounds past the fixpoint are
# identity steps).
_LP_ROUNDS = 10
_LP_SEED_MOD = 5  # parts with p_partkey % 5 == 0 keep their true brand


def _lp_oracle() -> str:
    parts = [
        """os AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e0 AS MATERIALIZED (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM os a JOIN os b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2),
    nodes AS MATERIALIZED (
      SELECT u AS node FROM e0 UNION SELECT v FROM e0),
    de AS MATERIALIZED (
      SELECT u AS a, v AS b FROM e0 UNION ALL SELECT v, u FROM e0),
    lab0 AS MATERIALIZED (
      SELECT n.node, p.p_brand AS lbl, 0 AS rnd
      FROM nodes n JOIN part p ON p.p_partkey = n.node
      WHERE n.node % """
        + str(_LP_SEED_MOD)
        + " = 0)"
    ]
    for i in range(1, _LP_ROUNDS + 1):
        parts.append(
            f"""nw{i} AS MATERIALIZED (
      SELECT node, lbl FROM (
        SELECT de.b AS node, l.lbl, count(*) AS votes,
               row_number() OVER (PARTITION BY de.b
                 ORDER BY count(*) DESC, l.lbl) AS rn
        FROM de JOIN lab{i - 1} l ON de.a = l.node
        WHERE de.b NOT IN (SELECT node FROM lab{i - 1})
        GROUP BY de.b, l.lbl) z{i}
      WHERE rn = 1),
    lab{i} AS MATERIALIZED (
      SELECT * FROM lab{i - 1}
      UNION ALL SELECT node, lbl, {i} AS rnd FROM nw{i})"""
        )
    R = _LP_ROUNDS
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f""",
    allr AS (
      SELECT l.rnd, l.lbl,
             CASE WHEN l.lbl = p.p_brand THEN 1 ELSE 0 END AS ok
      FROM lab{R} l JOIN part p ON p.p_partkey = l.node
      UNION ALL
      SELECT -1 AS rnd, 'unreached' AS lbl, 0 AS ok
      FROM nodes n WHERE n.node NOT IN (SELECT node FROM lab{R})),
    acc AS (
      SELECT CAST(sum(CASE WHEN rnd >= 1 THEN ok ELSE 0 END) AS DOUBLE)
             / sum(CASE WHEN rnd >= 1 THEN 1 ELSE 0 END) AS a
      FROM allr)
    SELECT rnd AS round_assigned, lbl AS brand,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(ok) AS BIGINT) AS n_correct,
           round(max(acc.a), 6) AS propagated_accuracy
    FROM allr CROSS JOIN acc
    GROUP BY rnd, lbl"""
    )


@query("graph_label_propagation_semi", oracle=_lp_oracle())
def graph_label_propagation_semi(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SEMI-SUPERVISED LABEL PROPAGATION on the support-2 part
    co-purchase graph: 20% of graph nodes (p_partkey % 5 == 0) keep
    their TRUE brand as clamped seeds; each synchronous round, every
    still-unlabeled node adopts the majority brand among its labeled
    neighbors (exact integer votes, ties broken votes DESC then brand
    ASC). Because seeds are clamped and assigned labels freeze, the
    iteration is MONOTONE — it converges in at most graph-diameter
    rounds, and nodes in seedless components stay honestly unlabeled
    (reported as round -1 / 'unreached'). Since the catalog knows
    every node's true brand, the op doubles as its own evaluation:
    propagated_accuracy is the fraction of NON-seed assignments that
    recovered the true brand — the measurement that tells a labeling
    pipeline whether graph-smoothing weak labels is better than
    leaving them missing (the pipeline_annotation_agreement question,
    answered structurally).

    Shape at 100 TB: the loop never touches the fact table — it runs
    on the checkpointed edge list (_copurchase_edges) and a labels
    frame bounded by |graph nodes|; each round is one directed-edge
    join + one (node, label) vote aggregate + a row_number pick,
    with localCheckpoint truncating lineage (plan size O(1) in
    rounds) and shuffle partitions sized from |E| and restored in
    finally (the graph_kcore loop disciplines). Convergence is
    witnessed by an empty frontier (a scalar count on the bounded
    new-labels frame); exhausting the 10-round budget RAISES
    (measured depth: 1/5/7 rounds at sf0.001/0.01/0.1).

    Parity: votes and counts are exact integers; the adoption pick
    orders on (votes DESC, brand) — deterministic on both engines;
    accuracy is one division of exact integers, round(6)."""
    e = _copurchase_edges(spark, sf_dir)
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    nodes = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    de = e.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        e.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    n_edges = e.count()
    loop_partitions = max(1, min(200, n_edges // 1_000_000 + 1))
    conf = spark.conf
    old_sp = conf.get("spark.sql.shuffle.partitions")
    old_aqe = conf.get("spark.sql.adaptive.enabled")
    conf.set("spark.sql.shuffle.partitions", str(loop_partitions))
    conf.set("spark.sql.adaptive.enabled", "false")
    converged = False
    try:
        de = de.localCheckpoint()
        labels = (
            nodes.where(F.col("node") % _LP_SEED_MOD == 0)
            .join(
                F.broadcast(p),
                F.col("node") == F.col("p_partkey"),
            )
            .select("node", F.col("p_brand").alias("lbl"), F.lit(0).alias("rnd"))
            .localCheckpoint()
        )
        for r in range(1, _LP_ROUNDS + 1):
            w_pick = Window.partitionBy("node").orderBy(
                F.col("votes").desc(), F.col("lbl")
            )
            new = (
                de.join(
                    labels.select(F.col("node").alias("a"), "lbl"), "a"
                )
                .join(
                    labels.select(F.col("node").alias("b")),
                    "b",
                    "left_anti",
                )
                .groupBy(F.col("b").alias("node"), "lbl")
                .agg(F.count("*").alias("votes"))
                .withColumn("rn", F.row_number().over(w_pick))
                .where(F.col("rn") == 1)
                .select("node", "lbl", F.lit(r).alias("rnd"))
                .localCheckpoint()
            )
            if new.count() == 0:
                converged = True
                break
            labels = labels.unionAll(new).localCheckpoint()
    finally:
        conf.set("spark.sql.shuffle.partitions", old_sp)
        conf.set("spark.sql.adaptive.enabled", old_aqe)
    if not converged:
        raise RuntimeError(
            f"label propagation not converged after {_LP_ROUNDS} rounds — "
            "raise the budget for longer seed-to-node paths"
        )
    labeled = labels.join(
        F.broadcast(p), F.col("node") == F.col("p_partkey")
    ).select(
        "rnd",
        "lbl",
        F.expr("CASE WHEN lbl = p_brand THEN 1 ELSE 0 END").alias("ok"),
    )
    unreached = nodes.join(
        labels.select("node"), "node", "left_anti"
    ).select(
        F.lit(-1).alias("rnd"),
        F.lit("unreached").alias("lbl"),
        F.lit(0).alias("ok"),
    )
    allr = labeled.unionAll(unreached)
    acc = allr.agg(
        F.expr(
            "CAST(sum(CASE WHEN rnd >= 1 THEN ok ELSE 0 END) AS DOUBLE)"
            " / sum(CASE WHEN rnd >= 1 THEN 1 ELSE 0 END)"
        ).alias("a")
    )
    return allr.crossJoin(F.broadcast(acc)).groupBy(
        F.col("rnd").alias("round_assigned"), F.col("lbl").alias("brand")
    ).agg(
        F.count("*").cast("bigint").alias("n_parts"),
        F.sum("ok").cast("bigint").alias("n_correct"),
        F.round(F.max("a"), 6).alias("propagated_accuracy"),
    )


# ---------------------------------------------------------------------------
# graph_bfs_reach_layers
# ---------------------------------------------------------------------------

# BFS layer budget: reach-depth equals the label-propagation frontier
# depth (measured 1/5/7 at sf0.001/0.01/0.1) — same 10-round budget,
# same raise-on-exhaustion contract.
_BFS_ROUNDS = 10


def _bfs_oracle() -> str:
    parts = [
        """os AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e0 AS MATERIALIZED (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM os a JOIN os b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2),
    nodes AS MATERIALIZED (
      SELECT u AS node FROM e0 UNION SELECT v FROM e0),
    de AS MATERIALIZED (
      SELECT u AS a, v AS b FROM e0 UNION ALL SELECT v, u FROM e0),
    deg AS MATERIALIZED (
      SELECT a AS node, CAST(count(*) AS BIGINT) AS d FROM de GROUP BY a),
    l0 AS MATERIALIZED (
      SELECT node, 0 AS layer FROM nodes WHERE node % 5 = 0)"""
    ]
    for i in range(1, _BFS_ROUNDS + 1):
        parts.append(
            f"""l{i} AS MATERIALIZED (
      SELECT * FROM l{i - 1}
      UNION ALL
      SELECT DISTINCT de.b AS node, {i} AS layer
      FROM de JOIN l{i - 1} p ON de.a = p.node
      WHERE de.b NOT IN (SELECT node FROM l{i - 1}))"""
        )
    R = _BFS_ROUNDS
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f""",
    allr AS (
      SELECT l.layer, deg.d
      FROM l{R} l JOIN deg ON deg.node = l.node
      UNION ALL
      SELECT -1 AS layer, deg.d
      FROM nodes n JOIN deg ON deg.node = n.node
      WHERE n.node NOT IN (SELECT node FROM l{R})),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM nodes)
    SELECT allr.layer,
           CAST(count(*) AS BIGINT) AS n_nodes,
           round(CAST(sum(d) AS DOUBLE) / count(*), 6) AS mean_degree,
           round(CAST(count(*) AS DOUBLE) / max(tot.nn), 6)
             AS node_fraction
    FROM allr CROSS JOIN tot
    GROUP BY allr.layer"""
    )


@query("graph_bfs_reach_layers", oracle=_bfs_oracle())
def graph_bfs_reach_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-SOURCE BFS EXPANSION PROFILE from the seed set (the
    label-propagation seeds, p_partkey % 5 == 0) over the support-2
    co-purchase graph: layer(n) = hop distance to the NEAREST seed,
    with per-layer node counts, mean degree, and coverage fraction —
    the reachability skeleton underneath graph_label_propagation_semi
    (its round-r assignments are exactly this BFS's layer-r nodes)
    exposed as the expansion profile a sampling or influence design
    reads: fast-decaying layers mean seeds cover the graph in 2 hops;
    a fat tail means coverage needs more seeds, not more hops.
    Seedless components report honestly as layer -1.

    Shape at 100 TB: the frontier loop never touches the fact table —
    checkpointed edge list + a labels frame bounded by |graph nodes|;
    each round is one directed-edge join + an anti-join + distinct,
    with localCheckpoint truncating lineage and shuffle partitions
    sized from |E| and restored in finally (the graph_kcore loop
    disciplines). Empty frontier is the fixpoint witness; exhausting
    the 10-round budget RAISES (measured depth 1/5/7).

    Parity: layers, counts, and degree sums are exact integers; mean
    degree and coverage are single divisions, round(6)."""
    e = _copurchase_edges(spark, sf_dir)
    nodes = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    de = e.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        e.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    n_edges = e.count()
    loop_partitions = max(1, min(200, n_edges // 1_000_000 + 1))
    conf = spark.conf
    old_sp = conf.get("spark.sql.shuffle.partitions")
    old_aqe = conf.get("spark.sql.adaptive.enabled")
    conf.set("spark.sql.shuffle.partitions", str(loop_partitions))
    conf.set("spark.sql.adaptive.enabled", "false")
    converged = False
    try:
        de = de.localCheckpoint()
        deg = de.groupBy(F.col("a").alias("node")).agg(
            F.count("*").cast("bigint").alias("d")
        ).localCheckpoint()
        labels = (
            nodes.where(F.col("node") % 5 == 0)
            .select("node", F.lit(0).alias("layer"))
            .localCheckpoint()
        )
        for r in range(1, _BFS_ROUNDS + 1):
            new = (
                de.join(labels.select(F.col("node").alias("a")), "a")
                .select(F.col("b").alias("node"))
                .join(labels.select("node"), "node", "left_anti")
                .distinct()
                .select("node", F.lit(r).alias("layer"))
                .localCheckpoint()
            )
            if new.count() == 0:
                converged = True
                break
            labels = labels.unionAll(new).localCheckpoint()
    finally:
        conf.set("spark.sql.shuffle.partitions", old_sp)
        conf.set("spark.sql.adaptive.enabled", old_aqe)
    if not converged:
        raise RuntimeError(
            f"BFS not converged after {_BFS_ROUNDS} rounds — "
            "raise the budget for longer seed-to-node paths"
        )
    reached = labels.join(deg, "node").select("layer", "d")
    unreached = (
        nodes.join(labels.select("node"), "node", "left_anti")
        .join(deg, "node")
        .select(F.lit(-1).alias("layer"), "d")
    )
    allr = reached.unionAll(unreached)
    tot = nodes.agg(F.count("*").cast("bigint").alias("nn"))
    return allr.crossJoin(F.broadcast(tot)).groupBy("layer").agg(
        F.count("*").cast("bigint").alias("n_nodes"),
        F.round(F.sum("d").cast("double") / F.count("*"), 6).alias(
            "mean_degree"
        ),
        F.round(F.count("*").cast("double") / F.max("nn"), 6).alias(
            "node_fraction"
        ),
    )


# ---------------------------------------------------------------------------
# graph_degree_gini
# ---------------------------------------------------------------------------


@query(
    "graph_degree_gini",
    oracle="""
    WITH os AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM os a JOIN os b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS d
      FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e) t
      GROUP BY node),
    dc AS (SELECT d, CAST(count(*) AS BIGINT) AS c FROM deg GROUP BY d),
    cum AS (
      SELECT d, c,
             CAST(coalesce(sum(c) OVER (ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS before
      FROM dc),
    s AS (
      SELECT CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(d * c) AS BIGINT) AS sd,
             CAST(sum(d * (c * (2 * before + c + 1)) / 2) AS BIGINT)
               AS s1
      FROM cum)
    SELECT n AS n_nodes, sd AS sum_degree,
           round(CAST(sd AS DOUBLE) / n, 6) AS mean_degree,
           round(2.0 * s1 / (CAST(n AS DOUBLE) * sd)
                 - (CAST(n AS DOUBLE) + 1) / n, 6) AS degree_gini
    FROM s
    """,
)
def graph_degree_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GINI COEFFICIENT of the co-purchase degree distribution — the
    inequality summary behind graph_rich_club's spectrum: 0 means
    every part co-sells with equally many partners, values toward 1
    mean a hub elite concentrates the co-purchase mass (and hub-aware
    strategies — caching, salting, seed selection — pay off). The
    scalar companion to agg_tail_index_hill (which fits the tail
    SHAPE) computed on the graph rather than revenue.

    Shape at 100 TB: degrees from the checkpointed edge list; the
    Gini rank sum never sorts nodes — on the bounded DEGREE DOMAIN,
    the tied-block rank sum reconstructs exactly as
    d * c * (2*cum_before + c + 1) / 2 per degree value (an even
    product, so the division is exact integer arithmetic — the
    agg_mann_whitney_u rank trick applied to Gini), and one ordered
    cumsum over that domain is the only ordering anywhere.

    Parity: all sums are exact BIGINTs; the two output ratios are
    shared double expressions, round(6)."""
    e = _copurchase_edges(spark, sf_dir)
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("d"))
    )
    dc = deg.groupBy("d").agg(F.count("*").cast("bigint").alias("c"))
    w_before = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = dc.select(
        "d",
        "c",
        F.coalesce(F.sum("c").over(w_before), F.lit(0))
        .cast("bigint")
        .alias("before"),
    )
    s = cum.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("d") * F.col("c")).cast("bigint").alias("sd"),
        F.sum(
            F.col("d")
            * (F.col("c") * (2 * F.col("before") + F.col("c") + 1))
            / 2
        )
        .cast("bigint")
        .alias("s1"),
    )
    return s.selectExpr(
        "n AS n_nodes",
        "sd AS sum_degree",
        "round(CAST(sd AS DOUBLE) / n, 6) AS mean_degree",
        "round(2.0 * s1 / (CAST(n AS DOUBLE) * sd)"
        " - (CAST(n AS DOUBLE) + 1) / n, 6) AS degree_gini",
    )


# ---------------------------------------------------------------------------
# graph_attribute_assortativity
# ---------------------------------------------------------------------------


@query(
    "graph_attribute_assortativity",
    oracle="""
    WITH os AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM os a JOIN os b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2),
    eb AS (
      SELECT pu.p_brand AS bu, pv.p_brand AS bv
      FROM e JOIN part pu ON e.u = pu.p_partkey
             JOIN part pv ON e.v = pv.p_partkey),
    m AS (SELECT CAST(count(*) AS BIGINT) AS m,
                 CAST(sum(CASE WHEN bu = bv THEN 1 ELSE 0 END) AS BIGINT)
                   AS w
          FROM eb),
    dc AS (
      SELECT brand, CAST(count(*) AS BIGINT) AS d
      FROM (SELECT bu AS brand FROM eb UNION ALL SELECT bv FROM eb) t
      GROUP BY brand),
    sq AS (
      SELECT CAST(sum(CAST(d AS DECIMAL(19,0)) * d) AS DECIMAL(38,0)) AS s2,
             CAST(count(*) AS BIGINT) AS n_brands
      FROM dc)
    SELECT m.m AS n_edges, m.w AS n_within, sq.n_brands,
           round(CAST(m.w AS DOUBLE) / m.m, 6) AS within_fraction,
           round(CAST(sq.s2 AS DOUBLE) / (4.0 * m.m * m.m), 6)
             AS expected_within,
           round((CAST(m.w AS DOUBLE) / m.m
                  - CAST(sq.s2 AS DOUBLE) / (4.0 * m.m * m.m))
                 / (1.0 - CAST(sq.s2 AS DOUBLE) / (4.0 * m.m * m.m)), 6)
             AS assortativity_r
    FROM m CROSS JOIN sq
    """,
)
def graph_attribute_assortativity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CATEGORICAL (discrete-attribute) ASSORTATIVITY of the brand
    labeling on the support-2 co-purchase graph: Newman's
    r = (tr e - sum a_g^2) / (1 - sum a_g^2), where tr e is the
    within-brand edge fraction and a_g the brand's degree share —
    the chance-corrected single number behind
    graph_modularity_partition's per-community terms (r is exactly
    modularity normalized by its maximum, so r = 1 means perfectly
    brand-segregated co-purchasing, r ~ 0 brand-blind, r < 0
    disassortative cross-brand bundling). The categorical sibling of
    agg_degree_assortativity (which correlates numeric degrees).

    Shape at 100 TB: checkpointed edge list, two broadcast brand
    lookups, one |brands|-row degree aggregate — endpoint labels
    only, no wedge or pair enumeration anywhere.

    Parity: edge and within counts are exact integers; the degree-
    share square sum goes through DECIMAL(19,0) operands; r is one
    shared double expression of exact integers, round(6)."""
    e = _copurchase_edges(spark, sf_dir)
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    eb = (
        e.join(
            F.broadcast(
                p.select(F.col("p_partkey").alias("u"), F.col("p_brand").alias("bu"))
            ),
            "u",
        )
        .join(
            F.broadcast(
                p.select(F.col("p_partkey").alias("v"), F.col("p_brand").alias("bv"))
            ),
            "v",
        )
        .select("bu", "bv")
        .localCheckpoint()
    )
    m = eb.agg(
        F.count("*").cast("bigint").alias("m"),
        F.sum(F.expr("CASE WHEN bu = bv THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("w"),
    )
    dc = (
        eb.select(F.col("bu").alias("brand"))
        .unionAll(eb.select(F.col("bv").alias("brand")))
        .groupBy("brand")
        .agg(F.count("*").cast("bigint").alias("d"))
    )
    sq = dc.agg(
        F.sum(F.expr("CAST(d AS DECIMAL(19,0)) * d"))
        .cast("decimal(38,0)")
        .alias("s2"),
        F.count("*").cast("bigint").alias("n_brands"),
    )
    return m.crossJoin(F.broadcast(sq)).selectExpr(
        "m AS n_edges",
        "w AS n_within",
        "n_brands",
        "round(CAST(w AS DOUBLE) / m, 6) AS within_fraction",
        "round(CAST(s2 AS DOUBLE) / (4.0 * m * m), 6) AS expected_within",
        "round((CAST(w AS DOUBLE) / m"
        " - CAST(s2 AS DOUBLE) / (4.0 * m * m))"
        " / (1.0 - CAST(s2 AS DOUBLE) / (4.0 * m * m)), 6)"
        " AS assortativity_r",
    )


# ---------------------------------------------------------------------------
# graph_katz_centrality
# ---------------------------------------------------------------------------

_KATZ_ALPHA = 0.015625  # 2^-6: exact in 6 decimals, < 1/51 = 1/max-degree
_KATZ_ITERS = 6


def _katz_oracle() -> str:
    steps = []
    for i in range(_KATZ_ITERS):
        steps.append(
            f"""k{i + 1} AS MATERIALIZED (
      SELECT s.v AS n,
             round(1.0 + 0.015625 * sum(k{i}.x), 9) AS x
      FROM s JOIN k{i} ON k{i}.n = s.u
      GROUP BY s.v)"""
        )
    unrolled = ",\n    ".join(steps)
    return f"""
    WITH os AS MATERIALIZED (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS MATERIALIZED (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM os a JOIN os b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2),
    s AS MATERIALIZED (
      SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
    deg AS MATERIALIZED (
      SELECT u AS n, CAST(count(*) AS BIGINT) AS degree
      FROM s GROUP BY u),
    k0 AS MATERIALIZED (
      SELECT DISTINCT u AS n, CAST(1.0 AS DOUBLE) AS x FROM s),
    {unrolled}
    SELECT k.n AS p_partkey, d.degree,
           round(k.x, 6) AS katz_score
    FROM k{_KATZ_ITERS} k JOIN deg d USING (n)
    ORDER BY k.x DESC, k.n LIMIT 20
    """


@query("graph_katz_centrality", oracle=_katz_oracle())
def graph_katz_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KATZ CENTRALITY (6-step truncated series, attenuation
    alpha = 0.015625 = 2^-6) on the support-2 part co-purchase graph:
    x = sum_k alpha^k A^k 1 counts walks of every length, attenuated
    by length — the centrality that sees BEYOND the immediate
    neighborhood (degree = walk length 1; graph_pagerank_neardup
    normalizes by out-degree, Katz does not, so a node adjacent to
    hubs inherits standing even with low degree). alpha < 1/51 =
    1/max-degree >= 1/lambda_max on every fixture, so the truncated
    sum is within alpha^7/(1-alpha*lambda) of the fixpoint; the
    6-step truncation itself is the DEFINED statistic (fixed
    iterations, no convergence loop — the PageRank discipline).

    Output: top-20 parts by Katz score (orderBy+limit =
    TakeOrderedAndProject, never a global-sort window), with degree
    alongside so the walk-vs-degree divergence is readable.

    Shape at 100 TB: iterates on the checkpointed bounded edge list
    only (never the fact table) as ONE lazy 6-iteration unroll — no
    driver actions; each iteration is a keyed join + groupBy on the
    edge domain.

    Parity: every iteration quantizes round(9) on both engines so
    sub-ulp drift in the unordered incoming-walk sums cannot compound
    (the PageRank rule); alpha is an exact dyadic (2^-6, 6 decimal
    digits); the final ORDER BY reads the quantized score with
    p_partkey tie-break."""

    e = _copurchase_edges(spark, sf_dir)
    s = e.unionAll(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint()
    deg = s.groupBy(F.col("u").alias("n")).agg(
        F.count("*").cast("bigint").alias("degree")
    )
    x = s.select(F.col("u").alias("n")).distinct().select(
        "n", F.lit(1.0).alias("x")
    )
    for _ in range(_KATZ_ITERS):
        x = (
            s.join(x.select(F.col("n").alias("u"), "x"), "u")
            .groupBy(F.col("v").alias("n"))
            .agg(
                F.round(
                    1.0 + F.lit(_KATZ_ALPHA) * F.sum("x"), 9
                ).alias("x")
            )
        )
    return (
        x.join(deg, "n")
        .orderBy(F.col("x").desc(), "n")
        .limit(20)
        .select(
            F.col("n").alias("p_partkey"),
            "degree",
            F.round("x", 6).alias("katz_score"),
        )
    )


# ---------------------------------------------------------------------------
# graph_closeness_seeds
# ---------------------------------------------------------------------------

_CLOSENESS_BUDGET = 14  # measured eccentricity 3/9/3 at sf0.001/0.01/0.1
_CLOSENESS_ORACLE_ROUNDS = 12


def _closeness_oracle() -> str:
    rounds = []
    for i in range(1, _CLOSENESS_ORACLE_ROUNDS + 1):
        rounds.append(
            f"""n{i} AS MATERIALIZED (
      SELECT DISTINCT l.seed, s.v AS node
      FROM l{i - 1} l JOIN s ON s.u = l.node
      WHERE l.dist = {i - 1}
        AND NOT EXISTS (SELECT 1 FROM l{i - 1} x
                        WHERE x.seed = l.seed AND x.node = s.v)),
    l{i} AS MATERIALIZED (
      SELECT seed, node, dist FROM l{i - 1}
      UNION ALL
      SELECT seed, node, CAST({i} AS BIGINT) FROM n{i})"""
        )
    unrolled = ",\n    ".join(rounds)
    last = f"l{_CLOSENESS_ORACLE_ROUNDS}"
    return f"""
    WITH os AS MATERIALIZED (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS MATERIALIZED (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM os a JOIN os b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2),
    s AS MATERIALIZED (
      SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
    deg AS MATERIALIZED (
      SELECT u AS node, CAST(count(*) AS BIGINT) AS d FROM s GROUP BY u),
    nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
    seeds AS MATERIALIZED (
      SELECT node FROM (
        SELECT node, row_number() OVER (ORDER BY d DESC, node) AS rk
        FROM deg) t
      WHERE rk <= 3),
    l0 AS MATERIALIZED (
      SELECT node AS seed, node, CAST(0 AS BIGINT) AS dist FROM seeds),
    {unrolled},
    ag AS (
      SELECT seed,
             CAST(count(*) AS BIGINT) AS r,
             CAST(sum(dist) AS BIGINT) AS sumdist,
             CAST(sum(CASE WHEN dist > 0 THEN
                  CAST(round(CAST(1 AS DOUBLE) / dist, 9)
                       AS DECIMAL(18,9)) END) AS DECIMAL(28,9)) AS harm
      FROM {last} GROUP BY seed)
    SELECT ag.seed AS p_partkey, deg.d AS degree,
           ag.r - 1 AS n_reached, ag.sumdist AS sum_dist,
           round(CAST(ag.r - 1 AS DOUBLE) / ag.sumdist, 6) AS closeness,
           round((CAST(ag.r - 1 AS DOUBLE) / (nn.n - 1))
                 * (CAST(ag.r - 1 AS DOUBLE) / ag.sumdist), 6)
             AS wf_closeness,
           round(CAST(ag.harm AS DOUBLE), 6) AS harmonic
    FROM ag JOIN deg ON deg.node = ag.seed CROSS JOIN nn
    """


@query("graph_closeness_seeds", oracle=_closeness_oracle())
def graph_closeness_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLOSENESS, WASSERMAN-FAUST, and HARMONIC CENTRALITY of the
    three highest-degree nodes of the support-2 co-purchase graph,
    from exact multi-seed BFS distances: closeness = (r-1)/sum(d),
    WF = its component-size correction ((r-1)/(N-1) factor — the
    honest number on a DISCONNECTED graph like this one), harmonic =
    sum(1/d) (defined even across components). Completes the
    centrality ladder — degree (local), graph_katz_centrality (walk
    counts), closeness (distances): the three disagree exactly when
    the graph has structure worth knowing about, and the seed set is
    deliberately the degree top-3 so the comparison is direct.

    Shape at 100 TB: the BFS loop never touches the fact table —
    checkpointed edge list, a labels frame bounded by 3x|reached|;
    each round is one keyed join + composite-key anti-join +
    distinct, lineage truncated per round, shuffle partitions sized
    from |E| and restored in finally (the graph_kcore disciplines).
    Empty frontier is the fixpoint witness; exhausting the 14-round
    budget RAISES (_CLOSENESS_BUDGET = 14; measured eccentricity
    3/9/3 at the three fixture sfs). The oracle unrolls 12 rounds as
    MATERIALIZED CTEs — enough for every oracle-checked fixture.

    Parity: distances and counts are exact integers; each harmonic
    term quantizes round(9) into DECIMAL before the order-independent
    sum; the three centralities are shared double expressions of
    exact integers, round(6)."""

    e = _copurchase_edges(spark, sf_dir)
    s = e.unionAll(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint()
    deg = s.groupBy(F.col("u").alias("node")).agg(
        F.count("*").cast("bigint").alias("d")
    ).localCheckpoint()
    nn = deg.agg(F.count("*").cast("bigint").alias("n")).localCheckpoint()
    seeds = (
        deg.withColumn(
            "rk",
            F.row_number().over(Window.orderBy(F.col("d").desc(), "node")),
        )
        .where(F.col("rk") <= 3)
        .select("node")
    )
    n_edges = s.count() // 2
    conf = spark.conf
    old_sp = conf.get("spark.sql.shuffle.partitions")
    old_aqe = conf.get("spark.sql.adaptive.enabled")
    conf.set(
        "spark.sql.shuffle.partitions",
        str(max(1, min(200, n_edges // 1_000_000 + 1))),
    )
    conf.set("spark.sql.adaptive.enabled", "false")
    try:
        labels = seeds.select(
            F.col("node").alias("seed"),
            "node",
            F.lit(0).cast("bigint").alias("dist"),
        ).localCheckpoint()
        frontier = labels
        converged = False
        for r in range(1, _CLOSENESS_BUDGET + 1):
            new = (
                frontier.select("seed", F.col("node").alias("u"))
                .join(s, "u")
                .select("seed", F.col("v").alias("node"))
                .distinct()
                .join(
                    labels.select("seed", "node"),
                    ["seed", "node"],
                    "left_anti",
                )
                .select(
                    "seed", "node", F.lit(r).cast("bigint").alias("dist")
                )
                .localCheckpoint()
            )
            if new.count() == 0:
                converged = True
                break
            labels = labels.unionAll(new).localCheckpoint()
            frontier = new
        if not converged:
            raise RuntimeError(
                "graph_closeness_seeds: BFS budget "
                f"{_CLOSENESS_BUDGET} exhausted without fixpoint"
            )
    finally:
        conf.set("spark.sql.shuffle.partitions", old_sp)
        conf.set("spark.sql.adaptive.enabled", old_aqe)
    ag = labels.groupBy("seed").agg(
        F.count("*").cast("bigint").alias("r"),
        F.sum("dist").cast("bigint").alias("sumdist"),
        F.sum(
            F.expr(
                "CASE WHEN dist > 0 THEN CAST(round(CAST(1 AS DOUBLE)"
                " / dist, 9) AS DECIMAL(18,9)) END"
            )
        )
        .cast("decimal(28,9)")
        .alias("harm"),
    )
    return (
        ag.join(
            F.broadcast(deg.select(F.col("node").alias("seed"), "d")),
            "seed",
        )
        .crossJoin(F.broadcast(nn))
        .selectExpr(
            "seed AS p_partkey",
            "d AS degree",
            "r - 1 AS n_reached",
            "sumdist AS sum_dist",
            "round(CAST(r - 1 AS DOUBLE) / sumdist, 6) AS closeness",
            "round((CAST(r - 1 AS DOUBLE) / (n - 1))"
            " * (CAST(r - 1 AS DOUBLE) / sumdist), 6) AS wf_closeness",
            "round(CAST(harm AS DOUBLE), 6) AS harmonic",
        )
    )


# ---------------------------------------------------------------------------
# graph_copurchase_components
# ---------------------------------------------------------------------------

_CC_ROUNDS = 7  # relax+jump compounds ~2x/round; diameter <= 18 measured


@query(
    "graph_copurchase_components",
    oracle="""
    WITH RECURSIVE os AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM os a JOIN os b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2),
    s AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
    reach(node, anc) AS (
      SELECT u, u FROM s
      UNION
      SELECT r.node, s.v FROM reach r JOIN s ON r.anc = s.u),
    lab AS (
      SELECT node, min(anc) AS cluster_id FROM reach GROUP BY node),
    comp AS (
      SELECT cluster_id, CAST(count(*) AS BIGINT) AS sz
      FROM lab GROUP BY cluster_id),
    dist AS (
      SELECT sz AS component_size,
             CAST(count(*) AS BIGINT) AS n_components
      FROM comp GROUP BY sz),
    gr AS (
      SELECT CAST(count(*) AS BIGINT) AS total_components,
             CAST(max(sz) AS BIGINT) AS largest_size,
             CAST(sum(sz) AS BIGINT) AS total_nodes
      FROM comp)
    SELECT d.component_size, d.n_components,
           d.component_size * d.n_components AS n_nodes,
           g.total_components, g.largest_size, g.total_nodes
    FROM dist d CROSS JOIN gr g
    """,
)
def graph_copurchase_components(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CONNECTED-COMPONENT CENSUS of the support-2 co-purchase graph:
    the component-size distribution (size -> how many components)
    with total/largest/node-count grand columns — the macro-structure
    read every other graph op here implicitly conditions on
    (graph_closeness_seeds' Wasserman-Faust correction, the LP
    coverage gaps, percolation-style questions "is there a giant
    component?" — at sf0.001 yes, one 200-node component; at sf0.1
    no, a forest of dimers and trimers: the answer flips WITH SCALE,
    which is exactly why a pipeline monitors it).

    Same pointer-jumping discipline as dedup_connected_components
    (dedup.py:938): min-label relax + pointer jump per round over the
    checkpointed edge list only, O(log diameter) rounds
    (_CC_ROUNDS = 7 covers diameter <= 2^7 against the measured
    <= 18), lineage truncated per round, shuffle partitions sized from
    |E| and restored in finally, and ONE final relax that RAISES if
    anything would still change — wrong labels are impossible, then
    the small budget is safe.

    Parity: labels are exact integer minima; sizes and counts exact
    BIGINTs; the oracle computes the same components via a recursive
    reachability closure (feasible at oracle-checked sfs where the
    largest component closure is ~3.5M pairs)."""

    e = _copurchase_edges(spark, sf_dir)
    edges = e.unionAll(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint()
    n_edges = edges.count() // 2
    conf = spark.conf
    old_sp = conf.get("spark.sql.shuffle.partitions")
    old_aqe = conf.get("spark.sql.adaptive.enabled")
    conf.set(
        "spark.sql.shuffle.partitions",
        str(max(1, min(200, n_edges // 1_000_000 + 1))),
    )
    conf.set("spark.sql.adaptive.enabled", "false")
    labels = (
        edges.select("u")
        .distinct()
        .select(F.col("u").alias("node"), F.col("u").alias("cid"))
        .localCheckpoint()
    )

    def relax(lbl: DataFrame) -> DataFrame:
        nm = (
            edges.join(
                lbl.select(F.col("node").alias("u"), F.col("cid").alias("nl")),
                "u",
            )
            .groupBy(F.col("v").alias("node"))
            .agg(F.min("nl").alias("nl"))
        )
        return lbl.join(nm, "node", "left").select(
            "node",
            F.least(
                F.col("cid"), F.coalesce(F.col("nl"), F.col("cid"))
            ).alias("cid"),
        )

    try:
        for _ in range(_CC_ROUNDS):
            relaxed = relax(labels)
            anc = relaxed.select(
                F.col("node").alias("cid"), F.col("cid").alias("anc")
            )
            labels = (
                relaxed.join(anc, "cid", "left")
                .select(
                    "node",
                    F.coalesce(F.col("anc"), F.col("cid")).alias("cid"),
                )
                .localCheckpoint()
            )
        still = (
            relax(labels)
            .join(
                labels.select("node", F.col("cid").alias("old")), "node"
            )
            .where(F.col("cid") != F.col("old"))
            .count()
        )
        if still:
            raise RuntimeError(
                f"graph_copurchase_components: {still} labels still "
                f"changing after {_CC_ROUNDS} relax+jump rounds"
            )
    finally:
        conf.set("spark.sql.shuffle.partitions", old_sp)
        conf.set("spark.sql.adaptive.enabled", old_aqe)
    comp = labels.groupBy("cid").agg(
        F.count("*").cast("bigint").alias("sz")
    )
    dist = comp.groupBy(F.col("sz").alias("component_size")).agg(
        F.count("*").cast("bigint").alias("n_components")
    )
    gr = comp.agg(
        F.count("*").cast("bigint").alias("total_components"),
        F.max("sz").cast("bigint").alias("largest_size"),
        F.sum("sz").cast("bigint").alias("total_nodes"),
    )
    return dist.crossJoin(F.broadcast(gr)).select(
        "component_size",
        "n_components",
        (F.col("component_size") * F.col("n_components")).alias("n_nodes"),
        "total_components",
        "largest_size",
        "total_nodes",
    )


# ---------------------------------------------------------------------------
# graph_hits_bipartite
# ---------------------------------------------------------------------------

_HITS_ITERS = 4


def _hits_oracle() -> str:
    """Unrolled HITS power iterations as materialized CTEs (a
    recursive CTE cannot reference itself twice per step — the
    graph_pagerank_neardup rule). Each step quantizes the MEAN-1
    scaled scores to round(9) on both engines."""
    ctes = [
        """e AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
    cn AS (SELECT count(DISTINCT c) AS nc FROM e),
    pn AS (SELECT count(DISTINCT p) AS np FROM e),
    h0 AS (SELECT DISTINCT c, CAST(1.0 AS DOUBLE) AS h FROM e)"""
    ]
    for i in range(1, _HITS_ITERS + 1):
        ctes.append(
            f"""a{i}r AS MATERIALIZED (
      SELECT e.p, sum(h.h) AS a
      FROM e JOIN h{i - 1} h ON e.c = h.c GROUP BY e.p),
    a{i}s AS (SELECT sum(a) AS s FROM a{i}r),
    a{i} AS MATERIALIZED (
      SELECT p, round(a * (SELECT np FROM pn) / (SELECT s FROM a{i}s), 9)
               AS a
      FROM a{i}r),
    h{i}r AS MATERIALIZED (
      SELECT e.c, sum(a.a) AS h
      FROM e JOIN a{i} a ON e.p = a.p GROUP BY e.c),
    h{i}s AS (SELECT sum(h) AS s FROM h{i}r),
    h{i} AS MATERIALIZED (
      SELECT c, round(h * (SELECT nc FROM cn) / (SELECT s FROM h{i}s), 9)
               AS h
      FROM h{i}r)"""
        )
    k = _HITS_ITERS
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined},
    topa AS (
      SELECT 'authority' AS role, p AS node_id, a AS score
      FROM a{k} ORDER BY a DESC, p LIMIT 10),
    toph AS (
      SELECT 'hub' AS role, c AS node_id, h AS score
      FROM h{k} ORDER BY h DESC, c LIMIT 10),
    u AS (SELECT * FROM topa UNION ALL SELECT * FROM toph)
    SELECT role, node_id, round(score, 6) AS hits_score,
           CAST(row_number() OVER (PARTITION BY role
                                   ORDER BY score DESC, node_id)
                AS BIGINT) AS rank
    FROM u
    """


@query("graph_hits_bipartite", oracle=_hits_oracle())
def graph_hits_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLEINBERG HITS on the customer -> part purchase BIPARTITE graph
    (4 power iterations): authority(part) = sum of its buyers' hub
    scores, hub(customer) = sum of their parts' authority scores —
    the mutually-reinforcing ranking the one-sided co-purchase
    PROJECTIONS (graph_adamic_adar, graph_triangle_cosupply) cannot
    express, because it couples both sides of the original bipartite
    structure instead of collapsing one away. Converges to the
    principal singular vectors of the incidence matrix; 4 iterations
    on a diameter-2-per-side graph separate the head decisively.

    Parity: each half-iteration L1-normalizes to MEAN 1 (score *
    |side| / sum) and quantizes round(9) — scores sit at magnitude
    ~1, so the 1e-9 quantum is ~8 orders above cross-engine reorder
    drift in the unordered sums (the graph_pagerank_neardup
    argument, strengthened by the scaling: raw 1/N-normalized scores
    at N = 2e4 would leave only 4 safe digits). The oracle unrolls
    the same iterations as materialized CTEs.

    Scale shape: the edge list (DISTINCT buyer-part pairs) is built
    once and localCheckpointed (referenced 2x per iteration — the
    _cosupply_edges rule); every iteration is two shuffle joins +
    two tiny aggregates, lazy-chained with NO driver actions beyond
    the checkpoint; top-10 per side is orderBy+limit
    (TakeOrderedAndProject), ranked after the cut."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    e = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p")
        )
        .distinct()
        .localCheckpoint()
    )
    nc = e.select("c").distinct().count()
    np_ = e.select("p").distinct().count()
    h = e.select("c").distinct().select(
        "c", F.expr("CAST(1.0 AS DOUBLE)").alias("h")
    )
    a = None
    for _ in range(_HITS_ITERS):
        # each half-step frame feeds BOTH its normalizer aggregate and
        # the normalized projection: without the checkpoint the lazy
        # chain re-derives every prior iteration per reference (2x per
        # half-step, ~2^iters total — measured 31 s/run at sf0.1;
        # checkpointed: the chain is linear and a run reads the final
        # bounded node-domain frames). Same rule as _cosupply_edges.
        ar = (
            e.join(h, "c")
            .groupBy("p")
            .agg(F.sum("h").alias("a"))
            .localCheckpoint()
        )
        a_s = ar.agg(F.sum("a").alias("s"))
        a = ar.crossJoin(F.broadcast(a_s)).select(
            "p", F.round(F.col("a") * np_ / F.col("s"), 9).alias("a")
        )
        hr = (
            e.join(a, "p")
            .groupBy("c")
            .agg(F.sum("a").alias("h"))
            .localCheckpoint()
        )
        h_s = hr.agg(F.sum("h").alias("s"))
        h = hr.crossJoin(F.broadcast(h_s)).select(
            "c", F.round(F.col("h") * nc / F.col("s"), 9).alias("h")
        )
    topa = (
        a.orderBy(F.col("a").desc(), "p")
        .limit(10)
        .select(
            F.lit("authority").alias("role"),
            F.col("p").alias("node_id"),
            F.col("a").alias("score"),
        )
    )
    toph = (
        h.orderBy(F.col("h").desc(), "c")
        .limit(10)
        .select(
            F.lit("hub").alias("role"),
            F.col("c").alias("node_id"),
            F.col("h").alias("score"),
        )
    )
    w_r = Window.partitionBy("role").orderBy(F.col("score").desc(), "node_id")
    return (
        topa.unionByName(toph)
        .withColumn("rank", F.row_number().over(w_r).cast("bigint"))
        .select(
            "role",
            "node_id",
            F.round("score", 6).alias("hits_score"),
            "rank",
        )
    )


# ---------------------------------------------------------------------------
# graph_local_bridges
# ---------------------------------------------------------------------------


@query(
    "graph_local_bridges",
    oracle="""
    WITH os AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM os a JOIN os b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2),
    d AS (SELECT u AS m, n FROM (SELECT u, v AS n FROM e
          UNION ALL SELECT v AS u, u AS n FROM e) z),
    deg AS (SELECT m, CAST(count(*) AS BIGINT) AS dg FROM d GROUP BY m),
    closed AS (
      SELECT DISTINCT e.u, e.v
      FROM e JOIN d d1 ON d1.m = e.u JOIN d d2
        ON d2.m = e.v AND d2.n = d1.n),
    bridges AS (
      SELECT e.u, e.v FROM e LEFT JOIN closed c
        ON e.u = c.u AND e.v = c.v
      WHERE c.u IS NULL)
    SELECT b.u AS part_u, b.v AS part_v,
           du.dg AS deg_u, dv.dg AS deg_v,
           CAST(count(*) OVER () AS BIGINT) AS n_bridges
    FROM bridges b JOIN deg du ON b.u = du.m JOIN deg dv ON b.v = dv.m
    ORDER BY part_u, part_v
    """,
)
def graph_local_bridges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCAL BRIDGES of the support-2 part co-purchase graph: edges
    whose endpoints share NO common neighbor (span > 2) — Granovetter's
    weak ties, the edges whose removal disconnects their endpoints'
    neighborhoods and along which novel information (here: cross-
    category purchase affinity) flows.  Emits each bridge with its
    endpoint degrees and the global bridge count.  Sibling
    differentiation: graph_jaccard_neighbor_sim scores HOW MUCH
    neighborhoods overlap; this op finds the edges where the overlap
    is exactly zero, the structurally special set.

    Scale shape: common-neighbor detection is one wedge-closing join
    (directed lists joined on both endpoints, the triangle-probe
    shape whose cost the support gate bounds — the _JACCARD_MIN_SUPPORT
    note), DISTINCT-collapsed to the closed-edge set; bridges are the
    LEFT-ANTI complement against the checkpointed edge list; degrees
    ride in via two broadcastable (node, deg) joins.  All exact
    integers, no floats anywhere."""
    e = _copurchase_edges(spark, sf_dir)
    d = e.select(F.col("u").alias("m"), F.col("v").alias("n")).unionAll(
        e.select(F.col("v").alias("m"), F.col("u").alias("n"))
    )
    deg = d.groupBy("m").agg(F.count("*").cast("bigint").alias("dg"))
    d1 = d.select(F.col("m").alias("m1"), F.col("n").alias("w1"))
    d2 = d.select(F.col("m").alias("m2"), F.col("n").alias("w2"))
    closed = (
        e.join(d1, F.col("u") == F.col("m1"))
        .join(d2, (F.col("v") == F.col("m2")) & (F.col("w2") == F.col("w1")))
        .select("u", "v")
        .distinct()
    )
    bridges = e.join(closed, ["u", "v"], "left_anti")
    du = deg.select(F.col("m").alias("u"), F.col("dg").alias("deg_u"))
    dv = deg.select(F.col("m").alias("v"), F.col("dg").alias("deg_v"))
    w_all = Window.partitionBy()
    return (
        bridges.join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .select(
            F.col("u").alias("part_u"),
            F.col("v").alias("part_v"),
            "deg_u",
            "deg_v",
            F.count("*").over(w_all).cast("bigint").alias("n_bridges"),
        )
        .orderBy("part_u", "part_v")
    )


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


# ---------------------------------------------------------------------------
# graph_random_walk_sample
# ---------------------------------------------------------------------------

_RW_SEEDS = 20
_RW_STEPS = 4
# deterministic per-(seed, step, node) neighbor pick — exact int64
# arithmetic on both engines (max term ~1e6 * 104729 < 2^63)
_RW_IDX = "({s} * 7919 + {t} * 104729 + {v} * 131) % 1000003"

_RW_EDGE_CTES = """
    os AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM os a JOIN os b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2),
    sym AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
    adj AS MATERIALIZED (
      SELECT u, v,
             CAST(row_number() OVER (PARTITION BY u ORDER BY v)
                  AS BIGINT) AS rnk,
             CAST(count(*) OVER (PARTITION BY u) AS BIGINT) AS deg
      FROM sym),
    seeds AS (
      SELECT u AS seed FROM (
        SELECT u, count(*) AS deg FROM sym GROUP BY u
        ORDER BY deg DESC, u LIMIT {n_seeds}) z)
""".format(n_seeds=_RW_SEEDS)


def _rw_oracle() -> str:
    steps = ["w0 AS (SELECT seed, CAST(0 AS BIGINT) AS step, seed AS node FROM seeds)"]
    for t in range(1, _RW_STEPS + 1):
        idx = _RW_IDX.format(s="w.seed", t=t, v="w.node")
        steps.append(
            f"""w{t} AS (
      SELECT w.seed, CAST({t} AS BIGINT) AS step, a.v AS node
      FROM w{t - 1} w JOIN adj a
        ON a.u = w.node AND a.rnk = {idx} % a.deg + 1)"""
        )
    union = "\n      UNION ALL\n      ".join(
        f"SELECT * FROM w{t}" for t in range(_RW_STEPS + 1)
    )
    return f"""
    WITH {_RW_EDGE_CTES},
    {",".join(steps)}
    SELECT seed, step, node FROM (
      {union}) z
    ORDER BY seed, step
    """


@query("graph_random_walk_sample", oracle=_rw_oracle())
def graph_random_walk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC RANDOM-WALK SAMPLING over the support-2 part
    co-purchase graph — the corpus-generation stage of DeepWalk/
    node2vec-style graph embedding trainers (walk sequences are the
    "sentences" the skip-gram model consumes), which none of the 22
    graph ops produced: they all compute STATISTICS of the graph,
    this one samples PATHS from it. 4-step walks from the 20
    highest-degree seeds; at each step the neighbor is picked by an
    exact integer hash of (seed, step, current node) modulo the
    node's degree — deterministic, so shard-stable run-to-run, and
    walk-independent across seeds (the production property: walks
    parallelize embarrassingly).

    Walks can never dead-end: the graph is symmetrized, so every
    reached node has >= 1 neighbor (its predecessor), and seeds are
    top-degree nodes.

    Parity: the neighbor pick is (s*7919 + t*104729 + v*131) %
    1000003 % deg + 1 against a row_number-ranked adjacency — all
    exact int64 on both engines; no floats anywhere.

    Shape at 100 TB: the ranked adjacency is one window over the
    checkpointed edge list (bounded by |P| choose 2, the
    _copurchase_edges bound); each step is ONE equi-join of the
    frontier (|seeds| rows) against adjacency on the walk node —
    k steps = k joins, the textbook distributed walk plan (frontier
    grows with seed count, never with step count)."""

    e = _copurchase_edges(spark, sf_dir)
    sym = e.select("u", "v").unionAll(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    adj = sym.select(
        "u",
        "v",
        F.row_number()
        .over(Window.partitionBy("u").orderBy("v"))
        .cast("bigint")
        .alias("rnk"),
        F.count("*")
        .over(Window.partitionBy("u"))
        .cast("bigint")
        .alias("deg"),
    ).localCheckpoint()  # referenced once per step (4x) — the same
    # bounded-intermediate materialization as _copurchase_edges itself
    seeds = (
        sym.groupBy("u")
        .agg(F.count("*").alias("deg"))
        .orderBy(F.col("deg").desc(), "u")
        .limit(_RW_SEEDS)
        .select(F.col("u").alias("seed"))
    )
    frontier = seeds.select(
        "seed", F.lit(0).cast("bigint").alias("step"), F.col("seed").alias("node")
    )
    out = frontier
    cur = frontier
    for t in range(1, _RW_STEPS + 1):
        idx = _RW_IDX.format(s="seed", t=t, v="node")
        nxt = (
            cur.join(adj, F.col("node") == F.col("u"))
            .where(F.expr(f"rnk = {idx} % deg + 1"))
            .select(
                "seed",
                F.lit(t).cast("bigint").alias("step"),
                F.col("v").alias("node"),
            )
        )
        out = out.unionByName(nxt)
        cur = nxt
    return out.orderBy("seed", "step")


# ---------------------------------------------------------------------------
# graph_personalized_pagerank
# ---------------------------------------------------------------------------

_PPR_ITERS = 10
_PPR_TOPK = 20


# restart probability 0.5: exactly representable, so 0.5*x is bit-exact
# on both engines (the 2^-k rule)


def _ppr_oracle() -> str:
    ctes = [
        """nodes AS MATERIALIZED (SELECT DISTINCT u AS node FROM sym),
    deg AS MATERIALIZED (
      SELECT u AS node, CAST(count(*) AS BIGINT) AS outdeg
      FROM sym GROUP BY u),
    seed AS MATERIALIZED (
      SELECT node AS s FROM deg ORDER BY outdeg DESC, node LIMIT 1),
    pr0 AS (
      SELECT node,
             CASE WHEN node = (SELECT s FROM seed)
                  THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
               AS r
      FROM nodes)"""
    ]
    for i in range(1, _PPR_ITERS + 1):
        ctes.append(
            f"""pr{i} AS MATERIALIZED (
      SELECT nd.node,
             round(CASE WHEN nd.node = (SELECT s FROM seed)
                        THEN 0.5 ELSE 0.0 END
                   + 0.5 * COALESCE(
                     (SELECT sum(p.r / d.outdeg)
                      FROM sym e JOIN pr{i - 1} p ON p.node = e.u
                                 JOIN deg d ON d.node = e.u
                      WHERE e.v = nd.node), 0), 9) AS r
      FROM nodes nd)"""
        )
    body = ",\n    ".join(ctes)
    edge_ctes = """
    os AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM os a JOIN os b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2),
    sym AS MATERIALIZED (
      SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e)"""
    return f"""
    WITH {edge_ctes},
    {body}
    SELECT (SELECT s FROM seed) AS seed,
           node, round(r, 6) AS ppr
    FROM pr{_PPR_ITERS}
    ORDER BY r DESC, node
    LIMIT {_PPR_TOPK}
    """


@query("graph_personalized_pagerank", oracle=_ppr_oracle())
def graph_personalized_pagerank(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PERSONALIZED PAGERANK from the top-degree seed over the
    support-2 part co-purchase graph — the graph-native RELATED-ITEMS
    retriever (PPR with restart mass pinned to one node is what
    Pinterest-style related-pin systems compute; the global
    graph_pagerank_neardup cousin ranks overall centrality, this op
    ranks proximity TO A QUERY NODE). 10 power iterations at restart
    probability 0.5 (exactly representable — the 0.5* scaling is
    bit-exact on both engines), each iteration round(9)-quantized so
    sub-ulp drift in unordered double sums cannot compound (the
    graph_pagerank_neardup recipe); top-20 by score then node.

    Parity: iteration arithmetic is the shared-text convention of
    graph_pagerank_neardup (r/outdeg double division, COALESCE 0,
    round 9 per step, round 6 on output).

    Shape at 100 TB: the node/degree/seed frames are bounded by |P|
    choose 2 edges (checkpointed once, the _copurchase_edges bound);
    each iteration is one edge-join + groupBy — the standard
    distributed power iteration, 10 fixed rounds, single-reference
    chain (round-9 rule: linear growth, no per-round checkpoint
    needed)."""

    e = _copurchase_edges(spark, sf_dir)
    sym = e.select("u", "v").unionAll(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    nodes = sym.select(F.col("u").alias("node")).distinct()
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count("*").cast("bigint").alias("outdeg")
    )
    seed = deg.orderBy(F.col("outdeg").desc(), "node").limit(1).select(
        F.col("node").alias("s")
    )
    base = nodes.crossJoin(F.broadcast(seed)).localCheckpoint()
    # bounded (node, seed) frame referenced by all 10 iterations AND
    # the restart term — the bounded-intermediate ckpt rule
    pr = base.select(
        "node",
        "s",
        F.expr(
            "CASE WHEN node = s THEN CAST(1.0 AS DOUBLE)"
            " ELSE CAST(0.0 AS DOUBLE) END"
        ).alias("r"),
    )
    for _ in range(_PPR_ITERS):
        contrib = (
            sym.join(pr.select(F.col("node").alias("u"), "r"), "u")
            .join(deg.select(F.col("node").alias("u"), "outdeg"), "u")
            .groupBy(F.col("v").alias("node"))
            .agg(F.sum(F.col("r") / F.col("outdeg")).alias("in_mass"))
        )
        pr = base.join(contrib, "node", "left").select(
            "node",
            "s",
            F.round(
                F.expr("CASE WHEN node = s THEN 0.5 ELSE 0.0 END")
                + 0.5 * F.coalesce(F.col("in_mass"), F.lit(0.0)),
                9,
            ).alias("r"),
        )
    return (
        pr.orderBy(F.col("r").desc(), "node")
        .limit(_PPR_TOPK)
        .select(
            F.col("s").alias("seed"),
            "node",
            F.round("r", 6).alias("ppr"),
        )
    )


# ---------------------------------------------------------------------------
# graph_node2vec_biased_walks
# ---------------------------------------------------------------------------

# p = q = 2: scaled integer weights (x2) — return 1, stay-close 2,
# explore 1 — so the cumulative-weight pick is exact int64 arithmetic
_N2V_STEPS = 4
_N2V_SEEDS = 20
_N2V_HASH = "({s} * 7919 + {t} * 104729 + {c} * 131 + {p} * 17) % 1000003"


def _n2v_oracle() -> str:
    edge_ctes = """
    os AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM os a JOIN os b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2),
    sym AS MATERIALIZED (
      SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
    seeds AS (
      SELECT u AS seed FROM (
        SELECT u, count(*) AS deg FROM sym GROUP BY u
        ORDER BY deg DESC, u LIMIT {n}) z),
    w0 AS (SELECT seed, seed AS prev, seed AS cur FROM seeds)""".format(
        n=_N2V_SEEDS
    )
    steps = []
    for t in range(1, _N2V_STEPS + 1):
        h = _N2V_HASH.format(s="seed", t=t, c="cur", p="prev")
        steps.append(
            f"""cand{t} AS (
      SELECT f.seed, f.prev, f.cur, a.v AS x,
             CASE WHEN a.v = f.prev THEN CAST(1 AS BIGINT)
                  WHEN EXISTS (SELECT 1 FROM sym s2
                               WHERE s2.u = f.prev AND s2.v = a.v)
                  THEN CAST(2 AS BIGINT)
                  ELSE CAST(1 AS BIGINT) END AS w
      FROM w{t - 1} f JOIN sym a ON a.u = f.cur),
    cw{t} AS (
      SELECT seed, prev, cur, x, w,
             COALESCE(sum(w) OVER (PARTITION BY seed ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS cumx,
             sum(w) OVER (PARTITION BY seed) AS tot
      FROM cand{t}),
    w{t} AS (
      SELECT seed, cur AS prev, x AS cur
      FROM cw{t}
      WHERE {h} % tot >= cumx AND {h} % tot < cumx + w)"""
        )
    union = "\n      UNION ALL\n      ".join(
        [f"SELECT seed, CAST(0 AS BIGINT) AS step, seed AS node FROM w0"]
        + [
            f"SELECT seed, CAST({t} AS BIGINT) AS step, cur AS node"
            f" FROM w{t}"
            for t in range(1, _N2V_STEPS + 1)
        ]
    )
    return f"""
    WITH {edge_ctes},
    {",".join(steps)}
    SELECT seed, step, node FROM (
      {union}) z
    ORDER BY seed, step
    """


@query("graph_node2vec_biased_walks", oracle=_n2v_oracle())
def graph_node2vec_biased_walks(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SECOND-ORDER (p, q)-BIASED WALKS (node2vec, Grover & Leskovec
    2016) over the co-purchase graph — the biased extension of
    graph_random_walk_sample: at each step the pick over the current
    node's neighbors is weighted by distance FROM THE PREVIOUS node
    (return 1/p, stay-within-triangle 1, explore 1/q; p = q = 2, so
    the x2-scaled integer weights are 1 / 2 / 1 and the whole pick is
    exact int64). The deterministic draw is hash(seed, step, cur,
    prev) modulo the total scaled weight, landing in a neighbor's
    cumulative-weight interval (neighbors ordered by id) — the
    production property (shard-stable, embarrassingly parallel per
    seed) with BFS/DFS interpolation the first-order walk can't do.
    Step 1 uses prev = seed: no self-loops means the return case
    can't fire and every neighbor of the seed is trivially adjacent
    to prev, so the first hop is uniform — the standard convention.

    Parity: weights, cumulative sums, and the modular draw are all
    exact integers in shared expression text; the stay-close test is
    a LEFT-JOIN flag on Spark and an EXISTS on DuckDB — same
    predicate, engine-idiomatic forms.

    Shape at 100 TB: per step ONE frontier-adjacency equi-join + ONE
    edge-flag join (prev, x) + a per-seed window over <= max-degree
    candidate rows — k steps = 3k bounded joins on the checkpointed
    edge list; frontier size is the seed count, never step-dependent."""

    e = _copurchase_edges(spark, sf_dir)
    sym = e.select("u", "v").unionAll(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint()  # referenced 2x per step (adjacency + flag)
    seeds = (
        sym.groupBy("u")
        .agg(F.count("*").alias("deg"))
        .orderBy(F.col("deg").desc(), "u")
        .limit(_N2V_SEEDS)
        .select(F.col("u").alias("seed"))
    )
    frontier = seeds.select(
        "seed",
        F.col("seed").alias("prev"),
        F.col("seed").alias("cur"),
    )
    out = frontier.select(
        "seed",
        F.lit(0).cast("bigint").alias("step"),
        F.col("seed").alias("node"),
    )
    flag = sym.select(
        F.col("u").alias("prev"), F.col("v").alias("x"), F.lit(1).alias("adj")
    )
    for t in range(1, _N2V_STEPS + 1):
        h = _N2V_HASH.format(s="seed", t=t, c="cur", p="prev")
        cand = (
            frontier.join(sym, F.col("cur") == F.col("u"))
            .select("seed", "prev", "cur", F.col("v").alias("x"))
            .join(flag, ["prev", "x"], "left")
            .selectExpr(
                "seed",
                "prev",
                "cur",
                "x",
                "CAST(CASE WHEN x = prev THEN 1"
                " WHEN adj IS NOT NULL THEN 2"
                " ELSE 1 END AS BIGINT) AS w",
            )
        )
        wspec = Window.partitionBy("seed").orderBy("x")
        cw = cand.select(
            "seed",
            "prev",
            "cur",
            "x",
            "w",
            F.coalesce(
                F.sum("w").over(
                    wspec.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).alias("cumx"),
            F.sum("w").over(Window.partitionBy("seed")).alias("tot"),
        )
        picked = cw.where(
            F.expr(f"{h} % tot >= cumx AND {h} % tot < cumx + w")
        )
        frontier = picked.select(
            "seed", F.col("cur").alias("prev"), F.col("x").alias("cur")
        )
        out = out.unionByName(
            frontier.select(
                "seed",
                F.lit(t).cast("bigint").alias("step"),
                F.col("cur").alias("node"),
            )
        )
    return out.orderBy("seed", "step")


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
