"""Round-8 second-session operators: classical multi-group statistics
(one-way ANOVA, Cramér's V, Friedman), Markov entropy rate, a
blocklist curation gate, retrieval-confidence margins, and graph
modularity.

Each op extends an existing family one step: agg_anova_oneway
generalizes agg_welch_ttest from 2 groups to k; agg_cramers_v puts an
effect size on agg_chi_square_independence's machinery (over the
curation-relevant lang x source grid); agg_friedman_test is the
blocked-design sibling of agg_mann_whitney_u; agg_entropy_rate_markov
composes agg_markov_transition into the predictability summary;
pipeline_blocklist_filter is the broadcast-join curation gate every
crawl pipeline runs before dedup; vec_topk_margin_stats reads
retrieval confidence off the exact-kNN machinery (the reference's
retrieval loop, app.py:256, has no confidence signal at all — the
margin is what an engine adds); graph_modularity_partition scores the
brand partition on the co-purchase graph.

Reference analogue: the reference outsources all of this (Qdrant
scores arrive unexplained, app.py:256-278; no corpus statistics
exist). These are the measurement ops a Spark-native pipeline gets
for free from the same scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.vector import cosine_fixed
from ..registry import query
from ..tables import table
from .analytics4 import _copurchase_edges
from .vector import _DD_COS, _query_vector_raw, _query_vectors

# ---------------------------------------------------------------------------
# agg_anova_oneway
# ---------------------------------------------------------------------------


@query(
    "agg_anova_oneway",
    oracle="""
    WITH c AS (
      SELECT event_type,
             CAST(round(value * 100, 0) AS BIGINT) AS vc
      FROM events),
    g AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(vc) AS BIGINT) AS s,
             CAST(sum(CAST(vc AS DECIMAL(19,0)) * vc) AS DECIMAL(38,0)) AS q
      FROM c GROUP BY event_type),
    t AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n) AS BIGINT) AS nn,
             CAST(sum(CAST(s AS DECIMAL(19,0))) AS DECIMAL(19,0)) AS st,
             CAST(sum(q) AS DECIMAL(38,0)) AS qt,
             CAST(sum(CAST(round(
                 CAST(CAST(s AS DECIMAL(19,0)) * CAST(s AS DECIMAL(19,0))
                      AS DOUBLE) / n, 6) AS DECIMAL(28,6)))
                  AS DECIMAL(38,6)) AS b
      FROM g)
    SELECT k AS k_groups, nn AS n_events,
           round((CAST(b AS DOUBLE)
                  - CAST(st * st AS DOUBLE) / nn) / 10000.0, 6)
             AS ss_between,
           round((CAST(qt AS DOUBLE) - CAST(b AS DOUBLE)) / 10000.0, 6)
             AS ss_within,
           round(((CAST(b AS DOUBLE) - CAST(st * st AS DOUBLE) / nn)
                  / (k - 1))
                 / ((CAST(qt AS DOUBLE) - CAST(b AS DOUBLE)) / (nn - k)),
                 6) AS f_stat
    FROM t
    """,
)
def agg_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-WAY ANOVA across event types: does mean event value differ
    by type? F = (SSB/(k-1)) / (SSW/(N-k)) from ONE grouped moment
    scan — the k-group generalization of agg_welch_ttest (which
    compares exactly two), and the first screen before any per-type
    pricing or engagement claim.

    Shape at 100 TB: a single map-side-combinable groupBy(event_type)
    producing k rows of exact integer-cent moments; everything after
    is k-row arithmetic. No second pass over the fact table — SSW
    comes from the sum-of-squares identity SSW = Q - sum_g(S_g^2/n_g),
    not from per-row deviations against a joined-back mean.

    Parity: cents are exact BIGINTs (Spark `CAST(v*100 + 0.5 AS
    BIGINT)` vs DuckDB `round(v*100, 0)` — the half-even note in
    CLAUDE.md); per-group squares go through DECIMAL(19,0) operands
    (forces DuckDB's HUGEINT kernel, keeps Spark at DECIMAL(38,0));
    the k between-group terms S_g^2/n_g are each one correctly-rounded
    double division of exact integers, quantized round(6) into
    DECIMAL before the order-independent sum (the dynamic-term BM25
    discipline); F evaluates one identical expression both engines."""
    ev = table(spark, sf_dir, "events")
    c = ev.select(
        "event_type",
        F.expr("CAST(value * 100 + 0.5 AS BIGINT)").alias("vc"),
    )
    g = c.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("vc").cast("bigint").alias("s"),
        F.sum(F.expr("CAST(vc AS DECIMAL(19,0)) * vc"))
        .cast("decimal(38,0)")
        .alias("q"),
    )
    t = g.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("nn"),
        F.sum(F.col("s").cast("decimal(19,0)")).cast("decimal(19,0)").alias("st"),
        F.sum("q").cast("decimal(38,0)").alias("qt"),
        F.sum(
            F.expr(
                "CAST(round(CAST(CAST(s AS DECIMAL(19,0))"
                " * CAST(s AS DECIMAL(19,0)) AS DOUBLE) / n, 6)"
                " AS DECIMAL(28,6))"
            )
        )
        .cast("decimal(38,6)")
        .alias("b"),
    )
    return t.selectExpr(
        "k AS k_groups",
        "nn AS n_events",
        "round((CAST(b AS DOUBLE) - CAST(st * st AS DOUBLE) / nn)"
        " / 10000.0, 6) AS ss_between",
        "round((CAST(qt AS DOUBLE) - CAST(b AS DOUBLE)) / 10000.0, 6)"
        " AS ss_within",
        "round(((CAST(b AS DOUBLE) - CAST(st * st AS DOUBLE) / nn)"
        " / (k - 1))"
        " / ((CAST(qt AS DOUBLE) - CAST(b AS DOUBLE)) / (nn - k)), 6)"
        " AS f_stat",
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
# agg_friedman_test
# ---------------------------------------------------------------------------


@query(
    "agg_friedman_test",
    oracle="""
    WITH cell AS (
      SELECT CAST(ts AS DATE) AS day, event_type,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS tot
      FROM events GROUP BY 1, 2),
    kk AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS k
           FROM events),
    fb AS (
      SELECT day FROM cell GROUP BY day
      HAVING count(*) = (SELECT k FROM kk)),
    r AS (
      SELECT c.day, c.event_type,
             CAST(row_number() OVER (PARTITION BY c.day
                                     ORDER BY c.tot, c.event_type)
                  AS BIGINT) AS rk
      FROM cell c JOIN fb USING (day)),
    rs AS (
      SELECT event_type, CAST(sum(rk) AS BIGINT) AS rank_sum,
             CAST(count(*) AS BIGINT) AS nb
      FROM r GROUP BY event_type),
    q AS (
      SELECT CAST(sum(rank_sum * rank_sum) AS BIGINT) AS sr2,
             CAST(max(nb) AS BIGINT) AS n,
             (SELECT k FROM kk) AS k
      FROM rs)
    SELECT rs.event_type, rs.rank_sum,
           round(CAST(rs.rank_sum AS DOUBLE) / q.n, 6) AS mean_rank,
           q.n AS n_blocks,
           round(12.0 * q.sr2 / (CAST(q.n AS DOUBLE) * q.k * (q.k + 1))
                 - 3.0 * q.n * (q.k + 1), 6) AS q_stat
    FROM rs CROSS JOIN q
    """,
)
def agg_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FRIEDMAN TEST on day-blocked daily revenue by event type: within
    each complete day (all k types present), rank the types by their
    exact integer-cent daily total, then test whether the rank sums
    could come from exchangeable columns — the blocked-design
    nonparametric ANOVA (agg_anova_oneway assumes independence and
    normality; this one conditions out the shared day effect, which
    on event streams is the dominant nuisance). Q ~ chi^2(k-1) under
    the null; per-type rows carry the rank sums so the direction of
    the effect is readable, Q repeats as a grand column.

    Shape at 100 TB: one groupBy(day, type) collapses the fact table
    to the day x type grid (map-side combined); the ranking window
    partitions by day over k-row partitions — the grid is
    domain-bounded, so everything after the first aggregate is
    negligible. No per-row ranks ever exist.

    Parity: blocks are CAST(ts AS DATE) on both engines (the
    date_trunc pitfall note); cell totals are exact BIGINT cents, so
    ranks are integer row_numbers over identical (tot, event_type)
    orders — cent-total ties break on the type name deterministically
    (exact ties of 5-digit-cent daily sums did not occur on any
    fixture; a tie would only redistribute ranks within the tied pair
    identically on both engines anyway). Q is one shared double
    expression over exact integers, round(6)."""
    ev = table(spark, sf_dir, "events")
    cell = ev.groupBy(
        F.col("ts").cast("date").alias("day"), "event_type"
    ).agg(
        F.sum(F.expr("CAST(value * 100 + 0.5 AS BIGINT)"))
        .cast("bigint")
        .alias("tot")
    )
    kk = ev.agg(
        F.countDistinct("event_type").cast("bigint").alias("k")
    )
    fb = (
        cell.groupBy("day")
        .agg(F.count("*").alias("ntypes"))
        .crossJoin(F.broadcast(kk))
        .where(F.col("ntypes") == F.col("k"))
        .select("day")
    )
    w = Window.partitionBy("day").orderBy("tot", "event_type")
    r = cell.join(F.broadcast(fb), "day").select(
        "event_type", F.row_number().over(w).cast("bigint").alias("rk")
    )
    rs = r.groupBy("event_type").agg(
        F.sum("rk").cast("bigint").alias("rank_sum"),
        F.count("*").cast("bigint").alias("nb"),
    )
    q = rs.agg(
        F.sum(F.col("rank_sum") * F.col("rank_sum"))
        .cast("bigint")
        .alias("sr2"),
        F.max("nb").cast("bigint").alias("n"),
    ).crossJoin(F.broadcast(kk))
    return rs.crossJoin(F.broadcast(q)).selectExpr(
        "event_type",
        "rank_sum",
        "round(CAST(rank_sum AS DOUBLE) / n, 6) AS mean_rank",
        "n AS n_blocks",
        "round(12.0 * sr2 / (CAST(n AS DOUBLE) * k * (k + 1))"
        " - 3.0 * n * (k + 1), 6) AS q_stat",
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
# pipeline_blocklist_filter
# ---------------------------------------------------------------------------

_BLOCKED_SOURCES = ("src0", "src7", "src14")


@query(
    "pipeline_blocklist_filter",
    oracle=f"""
    WITH bl AS (
      SELECT * FROM (VALUES {", ".join(f"('{s}')" for s in _BLOCKED_SOURCES)})
        AS t(source)),
    f AS (
      SELECT d.lang, d.n_chars,
             CASE WHEN bl.source IS NULL THEN 1 ELSE 0 END AS keep
      FROM documents d LEFT JOIN bl USING (source))
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(keep) AS BIGINT) AS n_kept,
           CAST(count(*) - sum(keep) AS BIGINT) AS n_dropped,
           CAST(sum(keep * n_chars) AS BIGINT) AS chars_kept,
           round(CAST(sum(keep) AS DOUBLE) / count(*), 6) AS doc_retention
    FROM f GROUP BY lang
    """,
)
def pipeline_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOCKLIST CURATION GATE: drop documents whose source appears on
    an externally-supplied blocklist and report the per-language
    retention audit (docs kept/dropped, characters surviving) — the
    first filter every crawl-derived corpus runs (spam/license/abuse
    domain lists), and the audit row a dataset card needs for it.
    The blocklist here is a 3-source stand-in; the shape is what
    matters.

    Shape at 100 TB: production blocklists are millions of domains —
    far too big for an IN-literal, far too small to shuffle the corpus
    for. So the gate is a BROADCAST LEFT join on source (plan-pinned):
    the corpus never moves, the keep flag is evaluated map-side, and
    keeping dropped rows in the same pass yields the kept AND dropped
    audit columns from one scan (an anti-join would need two). The
    per-lang aggregate is map-side combinable.

    Parity: counts and char sums are exact integers; retention is one
    identical division, round(6)."""
    docs = table(spark, sf_dir, "documents")
    bl = spark.createDataFrame(
        [(s,) for s in _BLOCKED_SOURCES], "source string"
    )
    f = docs.join(
        F.broadcast(bl.withColumn("blocked", F.lit(1))), "source", "left"
    ).select(
        "lang",
        "n_chars",
        F.when(F.col("blocked").isNull(), 1).otherwise(0).alias("keep"),
    )
    return f.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("keep").cast("bigint").alias("n_kept"),
        (F.count("*") - F.sum("keep")).cast("bigint").alias("n_dropped"),
        F.sum(F.col("keep") * F.col("n_chars"))
        .cast("bigint")
        .alias("chars_kept"),
        F.round(
            F.sum("keep").cast("double") / F.count("*"), 6
        ).alias("doc_retention"),
    )


# ---------------------------------------------------------------------------
# vec_topk_margin_stats
# ---------------------------------------------------------------------------


@query(
    "vec_topk_margin_stats",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 10),
    sims AS (
      SELECT q.query_id, c.vec_id,
             round({_DD_COS.format(a='c.embedding', b='q.qv')}, 6) AS sim
      FROM c CROSS JOIN q),
    top AS (
      SELECT query_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, vec_id) AS rn
      FROM sims)
    SELECT query_id,
           CAST(count(*) AS BIGINT) AS k,
           round(max(CASE WHEN rn = 1 THEN sim END), 6) AS top1,
           round(max(CASE WHEN rn = 2 THEN sim END), 6) AS top2,
           round(max(CASE WHEN rn = 1 THEN sim END)
                 - max(CASE WHEN rn = 2 THEN sim END), 6) AS margin,
           round(CAST(sum(CAST(sim AS DECIMAL(18,6))) AS DOUBLE)
                 / count(*), 6) AS mean_topk
    FROM top WHERE rn <= 10 GROUP BY query_id
    """,
)
def vec_topk_margin_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETRIEVAL-CONFIDENCE MARGINS: for each query, the top-1/top-2
    cosine gap and the mean of the top-10 — the abstention signal a
    RAG router reads before trusting retrieval (a thin margin means
    the nearest neighbor is not meaningfully nearer than the runner-up
    and the answer should route to search or decline; the reference's
    retrieval loop, app.py:256-278, gates on a keyword heuristic
    because Qdrant's scores arrive without this context).

    Shape at 100 TB: the query side is a broadcast working set; the
    corpus streams through one codegen cosine stage; the per-query
    window reduces to top-10 before any driver-visible data exists.
    Same plan family as vec_cosine_topk_per_query, plus a 10-row-per-
    query aggregate.

    Parity: sims are the shared fixed-dim cosine, round(6) (identical
    doubles both engines); top-k membership orders on (sim DESC,
    vec_id); the mean accumulates the rounded sims as DECIMAL(18,6)
    so the 10-term sum is order-independent, then one identical
    division; margin subtracts two identical doubles."""
    emb = table(spark, sf_dir, "embeddings")
    q = _query_vectors(spark, sf_dir, 10)
    corpus = emb.where(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("neighbor_id"), "embedding"
    )
    d = len(_query_vector_raw(spark, sf_dir, 0))
    sims = corpus.crossJoin(F.broadcast(q)).select(
        "query_id",
        F.col("neighbor_id"),
        F.round(cosine_fixed("embedding", "qv", d), 6).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    top = sims.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= 10
    )
    return top.groupBy("query_id").agg(
        F.count("*").cast("bigint").alias("k"),
        F.round(F.max(F.when(F.col("rn") == 1, F.col("sim"))), 6).alias(
            "top1"
        ),
        F.round(F.max(F.when(F.col("rn") == 2, F.col("sim"))), 6).alias(
            "top2"
        ),
        F.round(
            F.max(F.when(F.col("rn") == 1, F.col("sim")))
            - F.max(F.when(F.col("rn") == 2, F.col("sim"))),
            6,
        ).alias("margin"),
        F.round(
            F.sum(F.col("sim").cast("decimal(18,6)")).cast("double")
            / F.count("*"),
            6,
        ).alias("mean_topk"),
    )


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
