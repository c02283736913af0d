"""Mergeable sketches and population estimators: KMV/theta distinct
sketches with set operations, dense HLL registers, KLL quantile
sketches, capture-recapture and unseen-vocabulary estimates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ...registry import query
from ...tables import table


# ---------------------------------------------------------------------------
# agg_heaps_law_fit
# ---------------------------------------------------------------------------

_HEAPS_BUCKET = 8  # docs per checkpoint bucket (2^20 at corpus scale)


def _heaps_oracle() -> str:
    from ..dedup import _DUCK_SHINGLES

    return f"""
    WITH sh AS ({_DUCK_SHINGLES}),
    pm AS (
      SELECT doc_id // {_HEAPS_BUCKET} AS bkt,
             CAST(sum(len(g)) AS BIGINT) AS m
      FROM sh GROUP BY 1),
    fd AS (
      SELECT t.code, min(sh.doc_id) AS fdoc
      FROM sh, unnest(sh.g) AS t(code) GROUP BY t.code),
    nv AS (
      SELECT fdoc // {_HEAPS_BUCKET} AS bkt,
             CAST(count(*) AS BIGINT) AS newv
      FROM fd GROUP BY 1),
    cp AS (
      SELECT pm.bkt,
             sum(pm.m) OVER (ORDER BY pm.bkt) AS nacc,
             sum(coalesce(nv.newv, 0)) OVER (ORDER BY pm.bkt) AS vacc
      FROM pm LEFT JOIN nv USING (bkt)),
    xy AS (
      SELECT CAST(round(ln(CAST(nacc AS DOUBLE)), 6) AS DECIMAL(16,6)) AS x,
             CAST(round(ln(CAST(vacc AS DOUBLE)), 6) AS DECIMAL(16,6)) AS y
      FROM cp),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(x * y) AS DOUBLE) AS sxy,
             CAST(sum(x * x) AS DOUBLE) AS sxx,
             CAST(sum(y * y) AS DOUBLE) AS syy
      FROM xy)
    SELECT n AS n_checkpoints,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS beta,
           round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n,
                 6) AS ln_k,
           round((n * sxy - sx * sy) * (n * sxy - sx * sy)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM s
    """


@query("agg_heaps_law_fit", oracle=_heaps_oracle())
def agg_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEAPS' LAW FIT over the corpus shingle space: vocabulary growth
    V(N) ~ K * N^beta, fitted by log-log OLS over doc-order
    checkpoints — the curation statistic that tells a pretraining
    pipeline whether more data keeps buying new content (beta near
    the 0.4-0.6 natural-text range) or the corpus has gone
    template-degenerate (beta -> 0: new docs add volume, not
    vocabulary). N = cumulative shingle occurrences, V = cumulative
    DISTINCT shingles (first-occurrence attribution: each shingle
    counts at its min doc_id), checkpointed per doc_id-div-8 bucket.

    Scale shape: first-occurrence via one groupBy(code) min — never a
    sort of the corpus; checkpoints live on the BUCKET domain (docs /
    bucket width — 2^20 at corpus scale keeps it broadcastable), so
    the one ordered cumulative window runs over a bounded domain.
    One-row output.

    Parity: ln of identical INTEGERS quantized round(6) into
    DECIMAL(16,6) — products are (33,12), exact on both engines
    (operand width 16 keeps DuckDB's int64 kernel in range: max
    scaled ln ~ 2.1e7, squares ~ 4.4e14 << 2^63). A cross-libm ulp
    flip at the 1e-6 grid moves one checkpoint's x or y by 1e-6,
    which perturbs beta by ~1e-6 * x / (n * var(x)) ~ 1e-9 at 60+
    checkpoints — three orders below the round(6) quantum (the
    agg_theil_index argument)."""
    from ..dedup import _ngram_sets

    sh = _ngram_sets(spark, sf_dir)
    pm = sh.groupBy(
        F.expr(f"doc_id div {_HEAPS_BUCKET}").alias("bkt")
    ).agg(F.sum(F.size("cs")).cast("bigint").alias("m"))
    fd = (
        sh.select("doc_id", F.explode("cs").alias("code"))
        .groupBy("code")
        .agg(F.min("doc_id").alias("fdoc"))
    )
    nv = fd.groupBy(
        F.expr(f"fdoc div {_HEAPS_BUCKET}").alias("bkt")
    ).agg(F.count("*").cast("bigint").alias("newv"))
    wc = Window.orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cp = (
        pm.join(nv, "bkt", "left")
        .select(
            "bkt",
            F.sum("m").over(wc).alias("nacc"),
            F.sum(F.coalesce(F.col("newv"), F.lit(0))).over(wc).alias("vacc"),
        )
    )
    xy = cp.select(
        F.expr(
            "CAST(round(ln(CAST(nacc AS DOUBLE)), 6) AS DECIMAL(16,6))"
        ).alias("x"),
        F.expr(
            "CAST(round(ln(CAST(vacc AS DOUBLE)), 6) AS DECIMAL(16,6))"
        ).alias("y"),
    )
    s = xy.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    return s.selectExpr(
        "n AS n_checkpoints",
        "round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS beta",
        "round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n,"
        " 6) AS ln_k",
        "round((n * sxy - sx * sy) * (n * sxy - sx * sy)"
        " / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2",
    )


# ---------------------------------------------------------------------------
# agg_kll_quantile_sketch
# ---------------------------------------------------------------------------

_KLL_BUF = 256  # compactor capacity per level
_KLL_TAUS = (0.1, 0.25, 0.5, 0.75, 0.9)
_KLL_EPS = 0.05  # asserted rank-error floor (measured ~<= 0.01)


def _kll_partition_summary(batches):
    """Deterministic KLL-style compactor over one partition's value
    stream: level i holds items of weight 2^i in a capacity-_KLL_BUF
    buffer; a full buffer sorts and promotes its EVEN ranks (the
    deterministic stand-in for KLL's random offset — reproducibility
    over the last epsilon of accuracy). Memory is
    O(_KLL_BUF * log(n/_KLL_BUF)) regardless of partition size."""
    import pandas as pd

    levels: list[list[float]] = [[]]

    def push(lvl: int, x: float) -> None:
        while len(levels) <= lvl:
            levels.append([])
        levels[lvl].append(x)
        if len(levels[lvl]) >= _KLL_BUF:
            buf = sorted(levels[lvl])
            levels[lvl] = []
            for y in buf[0::2]:
                push(lvl + 1, y)

    for pdf in batches:
        for x in pdf["value"].to_numpy():
            push(0, float(x))
    out = [
        (v, 1 << lvl) for lvl, items in enumerate(levels) for v in items
    ]
    yield pd.DataFrame(out, columns=["v", "w"])


@query("agg_kll_quantile_sketch")  # rows-only BY DESIGN (SURVEY §8):
# the summary's content depends on partitioning and the compactor
# schedule — engine-specific internals no SQL twin can reproduce. The
# in-plan rank-error assert + pytest determinism/error tests are the
# check (the vec_lsh_ann recall-floor pattern).
def agg_kll_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE QUANTILE SKETCH (KLL-style, Karnin-Lang-Liberty
    2016) over event values: each partition folds its stream through
    fixed-size compactor levels (capacity 256, weights 2^level,
    deterministic even-rank promotion), the per-partition summaries
    union into one bounded weighted sample, and quantile estimates
    read off the weighted CDF — the sketch a 100 TB pipeline ships to
    the driver when agg_exact_quantile_2pass's two full passes are
    too expensive and percentile_approx's opaque internals can't be
    audited. Bounded memory per task, one pass over the data, summary
    size O(parts * 256 * log(n)).

    SELF-CHECK IN-PLAN: each estimate's TRUE rank fraction is
    recomputed against the full dataset (one conditional-aggregation
    pass) and assert_true(|rank - tau| <= 0.05) rides a filter that
    keeps rows unchanged while the bound holds — measured error is
    <= ~0.01; the wide floor survives fixture regeneration (the ANN
    recall-floor discipline). Rows-only by design: the summary
    content depends on partitioning, which no SQL oracle can twin."""
    import pandas as pd  # noqa: F401 — worker-side dependency

    ev = table(spark, sf_dir, "events").select("value")
    summary = ev.mapInPandas(_kll_partition_summary, "v double, w long")
    wcum = Window.orderBy("v", "w").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # the summary is sketch-bounded (parts * 256 * levels rows), so the
    # ordered window runs over the SUMMARY domain, never the data
    cum = summary.select(
        "v", F.sum("w").over(wcum).alias("cw")
    ).crossJoin(
        F.broadcast(summary.agg(F.sum("w").alias("tw")))
    )
    taus = F.explode(
        F.array(*[F.lit(t) for t in _KLL_TAUS])
    ).alias("tau")
    est = (
        cum.select("v", "cw", "tw")
        .crossJoin(F.broadcast(spark.range(1).select(taus)))
        .where(F.col("cw") >= F.col("tau") * F.col("tw"))
        .groupBy("tau")
        .agg(F.min("v").alias("est_value"))
    )
    n_total = ev.count()  # bounded scalar for the self-check pass
    ranks = (
        ev.crossJoin(F.broadcast(est))
        .groupBy("tau", "est_value")
        .agg(
            (F.sum((F.col("value") <= F.col("est_value")).cast("long"))
             / F.lit(float(n_total))).alias("true_rank_frac")
        )
    )
    checked = ranks.where(
        F.expr(
            f"assert_true(abs(true_rank_frac - tau) <= {_KLL_EPS}, "
            "'KLL rank error above floor') IS NULL"
        )
    )
    return checked.select(
        "tau",
        F.round("est_value", 6).alias("est_value"),
        F.round("true_rank_frac", 6).alias("true_rank_frac"),
    )


# ---------------------------------------------------------------------------
# agg_capture_recapture
# ---------------------------------------------------------------------------


@query(
    "agg_capture_recapture",
    oracle="""
    WITH bounds AS (
      SELECT min(epoch_us(ts)) AS lo,
             (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid
      FROM events),
    occ AS (
      SELECT e.user_id,
             CAST(max(CASE WHEN epoch_us(e.ts) < b.mid THEN 1 ELSE 0 END)
                  AS BIGINT) AS in1,
             CAST(max(CASE WHEN epoch_us(e.ts) >= b.mid THEN 1 ELSE 0 END)
                  AS BIGINT) AS in2
      FROM events e CROSS JOIN bounds b
      GROUP BY e.user_id),
    s AS (
      SELECT CAST(sum(in1) AS BIGINT) AS n1,
             CAST(sum(in2) AS BIGINT) AS n2,
             CAST(sum(in1 * in2) AS BIGINT) AS m,
             CAST(count(*) AS BIGINT) AS observed
      FROM occ)
    SELECT n1 AS n_first_half, n2 AS n_second_half, m AS n_both,
           observed AS n_observed,
           round(CAST((n1 + 1) * (n2 + 1) AS DOUBLE) / (m + 1) - 1.0, 6)
             AS chapman_estimate,
           round(sqrt(CAST((n1 + 1) * (n2 + 1) AS DOUBLE)
                      * (n1 - m) * (n2 - m)
                      / (CAST((m + 1) AS DOUBLE) * (m + 1) * (m + 2))), 6)
             AS chapman_se,
           round(CAST(observed AS DOUBLE)
                 / (CAST((n1 + 1) * (n2 + 1) AS DOUBLE) / (m + 1) - 1.0), 6)
             AS coverage_ratio
    FROM s
    """,
)
def agg_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAPMAN CAPTURE-RECAPTURE estimate of the true user population:
    treat the first and second halves of the observation window (exact
    integer-microsecond midpoint of the data's own time range) as two
    capture occasions; users seen in both are the recaptures. Chapman's
    bias-corrected Lincoln-Petersen N-hat = (n1+1)(n2+1)/(m+1) - 1
    estimates how many users EXIST including those never observed —
    the question every raw distinct-count op structurally cannot
    answer (agg_distinct counts the seen; this bounds the unseen).
    coverage_ratio (observed / N-hat) near 1 says the window saw
    nearly everyone; the SE column sizes the confidence. The same
    estimator is how a crawl pipeline sizes an uncrawled corpus from
    two overlapping crawl snapshots.

    Shape at 100 TB: a 1-row min/max bounds aggregate broadcast into
    one per-user occupancy groupBy (map-side combined), then a 1-row
    reduction. Two passes over the fact table, both full scans with
    two-column projections.

    Parity: the midpoint is exact integer floor-division of
    microsecond epochs (Spark `div`, DuckDB `//`); occupancy flags
    and all four counts are exact integers; estimate, SE, and
    coverage are shared-text double expressions of exact integers,
    round(6)."""
    ev = table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.expr(
            "(min(unix_micros(ts)) + max(unix_micros(ts))) div 2"
        ).alias("mid")
    )
    occ = (
        ev.select("user_id", F.unix_micros("ts").alias("us"))
        .crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.max(F.expr("CASE WHEN us < mid THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("in1"),
            F.max(F.expr("CASE WHEN us >= mid THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("in2"),
        )
    )
    s = occ.agg(
        F.sum("in1").cast("bigint").alias("n1"),
        F.sum("in2").cast("bigint").alias("n2"),
        F.sum(F.col("in1") * F.col("in2")).cast("bigint").alias("m"),
        F.count("*").cast("bigint").alias("observed"),
    )
    return s.selectExpr(
        "n1 AS n_first_half",
        "n2 AS n_second_half",
        "m AS n_both",
        "observed AS n_observed",
        "round(CAST((n1 + 1) * (n2 + 1) AS DOUBLE) / (m + 1) - 1.0, 6)"
        " AS chapman_estimate",
        "round(sqrt(CAST((n1 + 1) * (n2 + 1) AS DOUBLE)"
        " * (n1 - m) * (n2 - m)"
        " / (CAST((m + 1) AS DOUBLE) * (m + 1) * (m + 2))), 6)"
        " AS chapman_se",
        "round(CAST(observed AS DOUBLE)"
        " / (CAST((n1 + 1) * (n2 + 1) AS DOUBLE) / (m + 1) - 1.0), 6)"
        " AS coverage_ratio",
    )


# ---------------------------------------------------------------------------
# agg_unseen_vocab_estimate
# ---------------------------------------------------------------------------


@query(
    "agg_unseen_vocab_estimate",
    oracle="""
    WITH toks AS (
      SELECT t.tok FROM documents d,
             unnest(string_split(d.text, ' ')) AS t(tok)
      WHERE t.tok <> ''),
    lm AS (SELECT tok, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY tok),
    ff AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn,
             CAST(count(*) AS BIGINT) AS v,
             CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
             CAST(sum(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
      FROM lm)
    SELECT nn AS n_tokens, v AS vocab_size,
           f1 AS f1_singletons, f2 AS f2_doubletons,
           round(CAST(f1 AS DOUBLE) / nn, 6) AS gt_unseen_mass,
           round(1.0 - CAST(f1 AS DOUBLE) / nn, 6) AS turing_coverage,
           round(v + CAST(f1 * (f1 - 1) AS DOUBLE) / (2 * (f2 + 1)), 6)
             AS chao1_richness,
           round(CAST(v AS DOUBLE)
                 / (v + CAST(f1 * (f1 - 1) AS DOUBLE) / (2 * (f2 + 1))), 6)
             AS vocab_completeness
    FROM ff
    """,
)
def agg_unseen_vocab_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNSEEN-VOCABULARY ESTIMATORS from the frequency-of-frequencies
    spectrum: Turing's unseen-probability mass P0 = f1/N (the chance
    the NEXT token is a never-seen type — the quantity behind
    Good-Turing smoothing) and the bias-corrected Chao1 richness
    S-hat = V + f1(f1-1)/(2(f2+1)) (how many types EXIST, seen or
    not). Together they answer the curation question
    agg_heaps_law_fit only trends: is the corpus's vocabulary
    actually exhausted (completeness near 1, P0 near 0), or does the
    singleton mass say sampling has barely begun? A tokenizer/vocab
    freeze decision reads exactly these two numbers.

    Shape at 100 TB: one token groupBy (the same map-side-combinable
    vocabulary aggregate as text_unigram_logprob's LM pass), then a
    1-row reduction over the vocabulary — the frequency spectrum
    needs only f1, f2, V, N, so no frequency histogram ever
    materializes. One-row output.

    Parity: all four spectrum statistics are exact integers from
    identical tokenization (split on single space, empties dropped —
    text.py's shared convention); the four derived estimators are
    shared-text double expressions of exact integers, round(6)."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("tok")).where(
        F.col("tok") != ""
    )
    lm = toks.groupBy("tok").agg(F.count("*").cast("bigint").alias("n"))
    ff = lm.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.count("*").cast("bigint").alias("v"),
        F.sum(F.expr("CASE WHEN n = 1 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("f1"),
        F.sum(F.expr("CASE WHEN n = 2 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("f2"),
    )
    return ff.selectExpr(
        "nn AS n_tokens",
        "v AS vocab_size",
        "f1 AS f1_singletons",
        "f2 AS f2_doubletons",
        "round(CAST(f1 AS DOUBLE) / nn, 6) AS gt_unseen_mass",
        "round(1.0 - CAST(f1 AS DOUBLE) / nn, 6) AS turing_coverage",
        "round(v + CAST(f1 * (f1 - 1) AS DOUBLE) / (2 * (f2 + 1)), 6)"
        " AS chao1_richness",
        "round(CAST(v AS DOUBLE)"
        " / (v + CAST(f1 * (f1 - 1) AS DOUBLE) / (2 * (f2 + 1))), 6)"
        " AS vocab_completeness",
    )


# ---------------------------------------------------------------------------
# agg_theta_sketch_distinct_union
# ---------------------------------------------------------------------------

_KMV_K = 256
_KMV_P = 2147483647  # Lehmer modulus (2^31 - 1)
# 3-round Lehmer mix: one round has no wraparound for small keys (the
# K smallest hashes would just be the K smallest keys * 48271 and the
# estimate degenerates to P/48271 regardless of n); three rounds wrap
# twice for any key >= 1 and the estimates track exact counts at
# every sf (probed 2026-08-16: rel_err 0.6-15.5%, K=256 RSE ~6.3%).
_KMV_HASH = (
    "(((((({key} + 1) * 48271) % 2147483647) * 48271) % 2147483647)"
    " * 48271) % 2147483647 + 1"
)
_KMV_BOUND = 0.30  # assert ceiling: 2x the worst measured rel_err


def _kmv_oracle() -> str:
    h = _KMV_HASH.format(key="key")
    est = (
        "CASE WHEN {n} = 256 THEN CAST(547608329985 AS DOUBLE) / {kth} "
        "ELSE CAST({n} AS DOUBLE) END"
    )
    est_i = (
        "CASE WHEN usk.n = 256 THEN CAST(usk.c AS DOUBLE) * 547608329985"
        " / usk.kth / 256 ELSE CAST(usk.c AS DOUBLE) END"
    )
    rel = (
        "CASE WHEN {exact} = 0 THEN CAST(0 AS DOUBLE) "
        "ELSE round(({est} - {exact}) / {exact}, 6) END"
    )
    est_a = est.format(n="sk.n", kth="sk.kth")
    est_u = est.format(n="usk.n", kth="usk.kth")
    return f"""
    WITH dk AS MATERIALIZED (
      SELECT DISTINCT event_type,
             user_id * 32
             + date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
               AS key
      FROM events WHERE event_type IN ('purchase', 'click')),
    hx AS (SELECT event_type, key, {h} AS h FROM dk),
    kept AS MATERIALIZED (
      SELECT event_type, h FROM (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h)
                 AS rn
        FROM hx) z
      WHERE rn <= 256),
    uhash AS (
      SELECT h,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS ia,
             max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               AS ib
      FROM kept GROUP BY h),
    ukept AS MATERIALIZED (
      SELECT h, ia, ib FROM (
        SELECT *, row_number() OVER (ORDER BY h) AS rn FROM uhash) z
      WHERE rn <= 256),
    sk AS (SELECT event_type AS set_name, count(*) AS n, max(h) AS kth
           FROM kept GROUP BY event_type),
    usk AS (SELECT count(*) AS n, max(h) AS kth,
                   CAST(coalesce(sum(CASE WHEN ia = 1 AND ib = 1
                                          THEN 1 ELSE 0 END), 0)
                        AS BIGINT) AS c
            FROM ukept),
    exk AS (
      SELECT key,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS ia,
             max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               AS ib
      FROM dk GROUP BY key),
    ex AS (SELECT event_type AS set_name, count(*) AS exact
           FROM dk GROUP BY event_type),
    exu AS (SELECT count(*) AS exact_u,
                   CAST(coalesce(sum(CASE WHEN ia = 1 AND ib = 1
                                          THEN 1 ELSE 0 END), 0)
                        AS BIGINT) AS exact_i
            FROM exk)
    SELECT sk.set_name, sk.n AS n_entries, sk.kth AS kth_hash,
           round({est_a}, 6) AS estimate, ex.exact,
           {rel.format(est=est_a, exact="ex.exact")} AS rel_err
    FROM sk JOIN ex USING (set_name)
    UNION ALL
    SELECT 'union', usk.n, usk.kth,
           round({est_u}, 6), exu.exact_u,
           {rel.format(est=est_u, exact="exu.exact_u")}
    FROM usk CROSS JOIN exu
    UNION ALL
    SELECT 'intersection', usk.c, usk.kth,
           round({est_i}, 6), exu.exact_i,
           {rel.format(est=est_i, exact="exu.exact_i")}
    FROM usk CROSS JOIN exu
    ORDER BY set_name
    """


@query("agg_theta_sketch_distinct_union", oracle=_kmv_oracle())
def agg_theta_sketch_distinct_union(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MERGEABLE DISTINCT SKETCH with set-operation estimates — the
    declared round-13 sketch-family completion (VERDICT r12 item 2;
    CMS/KLL/HLL/bitmap are in-tree, this adds union/intersection
    ESTIMATES the others can't give). KMV / bottom-k, the original
    theta sketch (Bar-Yossef et al. 2002; Apache DataSketches' theta
    is this plus adaptive sampling): per set keep the K = 256 smallest
    deterministic hash values of the distinct keys; if the sketch is
    full the distinct estimate is (K-1) * P / h_(K), else the sketch
    IS the exact value set.

    Set algebra on sketches alone (the 100 TB property — merging
    never touches raw data): the K smallest of A ∪ B are a subset of
    A's kept ∪ B's kept (a theorem: anything among the union's K
    smallest is among its own set's K smallest), so the union sketch
    is built from <= 2K retained hashes; the intersection uses the
    theta ratio estimator c/K * est_union, where c counts union-kept
    hashes present in both sketches (membership is decidable from the
    kept sets because h <= theta_U <= theta_A). Sets here: purchase
    vs click USER-DAYS (user_id * 32 + day index — per-type user sets
    saturate on this fixture, probed round 13).

    Every row carries the exact count and rel_err; an in-plan
    assert_true bounds |rel_err| <= 0.30 (worst measured 0.155 at
    sf0.1's intersection, K=256 RSE ~6.3% — the ANN-floor margin
    rule). At sf0.001 the per-type sketches are NOT full and the op
    exercises exact mode (rel_err = 0) while the union IS full —
    both regimes hash-verified.

    Parity: the 3-round Lehmer hash is exact BIGINT on both engines
    (max intermediate < 2^47); estimates divide exact integers in one
    shared expression shape; counts are BIGINT.

    Shape at 100 TB: the kept-set window is PARTITIONED by set; a
    production deployment replaces it with per-partition bottom-K
    partial aggregation (mergeable by construction — this op's union
    path IS that merge, demonstrated on two shards); the union/
    intersection stage touches <= 2K rows. The exact twin columns are
    the audit-only part."""
    h_expr = _KMV_HASH.format(key="key")
    ev = table(spark, sf_dir, "events")
    dk = (
        ev.where(F.col("event_type").isin("purchase", "click"))
        .select(
            "event_type",
            F.expr(
                "CAST(user_id AS BIGINT) * 32 + CAST(datediff("
                "CAST(ts AS DATE), DATE '2024-01-01') AS BIGINT)"
            ).alias("key"),
        )
        .distinct()
    )
    hx = dk.select("event_type", "key", F.expr(h_expr).alias("h"))
    w_set = Window.partitionBy("event_type").orderBy("h")
    kept = (
        hx.withColumn("rn", F.row_number().over(w_set))
        .where(F.col("rn") <= _KMV_K)
        .select("event_type", "h")
    )
    uhash = kept.groupBy("h").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("ia"),
        F.max(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("ib"),
    )
    # <= 2K rows: the bounded top-k-survivors window class
    w_u = Window.orderBy("h")
    ukept = (
        uhash.withColumn("rn", F.row_number().over(w_u))
        .where(F.col("rn") <= _KMV_K)
        .select("h", "ia", "ib")
    )
    sk = kept.groupBy(F.col("event_type").alias("set_name")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.max("h").alias("kth"),
    )
    usk = ukept.agg(
        F.count("*").cast("bigint").alias("n"),
        F.max("h").alias("kth"),
        F.expr(
            "CAST(coalesce(sum(CASE WHEN ia = 1 AND ib = 1 THEN 1 "
            "ELSE 0 END), 0) AS BIGINT)"
        ).alias("c"),
    )
    exk = dk.groupBy("key").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("ia"),
        F.max(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("ib"),
    )
    ex = dk.groupBy(F.col("event_type").alias("set_name")).agg(
        F.count("*").cast("bigint").alias("exact")
    )
    exu = exk.agg(
        F.count("*").cast("bigint").alias("exact_u"),
        F.expr(
            "CAST(coalesce(sum(CASE WHEN ia = 1 AND ib = 1 THEN 1 "
            "ELSE 0 END), 0) AS BIGINT)"
        ).alias("exact_i"),
    )
    est = (
        "CASE WHEN {n} = 256 THEN CAST(547608329985 AS DOUBLE) / {kth} "
        "ELSE CAST({n} AS DOUBLE) END"
    )
    rel = (
        "CASE WHEN {exact} = 0 THEN CAST(0 AS DOUBLE) "
        "ELSE round(({est} - {exact}) / {exact}, 6) END"
    )
    est_a = est.format(n="n", kth="kth")
    per_set = sk.join(F.broadcast(ex), "set_name").selectExpr(
        "set_name",
        "n AS n_entries",
        "kth AS kth_hash",
        f"round({est_a}, 6) AS estimate",
        "exact",
        f"{rel.format(est=est_a, exact='exact')} AS rel_err",
    )
    est_i = (
        "CASE WHEN n = 256 THEN CAST(c AS DOUBLE) * 547608329985"
        " / kth / 256 ELSE CAST(c AS DOUBLE) END"
    )
    uni = usk.crossJoin(F.broadcast(exu)).selectExpr(
        "'union' AS set_name",
        "n AS n_entries",
        "kth AS kth_hash",
        f"round({est_a}, 6) AS estimate",
        "exact_u AS exact",
        f"{rel.format(est=est_a, exact='exact_u')} AS rel_err",
    )
    inter = usk.crossJoin(F.broadcast(exu)).selectExpr(
        "'intersection' AS set_name",
        "c AS n_entries",
        "kth AS kth_hash",
        f"round({est_i}, 6) AS estimate",
        "exact_i AS exact",
        f"{rel.format(est=est_i, exact='exact_i')} AS rel_err",
    )
    return (
        per_set.unionByName(uni)
        .unionByName(inter)
        .where(
            F.assert_true(
                F.abs(F.col("rel_err")) <= F.lit(_KMV_BOUND),
                F.format_string(
                    f"KMV estimate off by more than {_KMV_BOUND}: "
                    "set=%s rel_err=%s",
                    F.col("set_name"),
                    F.col("rel_err"),
                ),
            ).isNull()
        )
        .orderBy("set_name")
    )


# ---------------------------------------------------------------------------
# agg_hll_dense_registers
# ---------------------------------------------------------------------------

_HLL_M = 64  # registers (rsd ~ 1.04/sqrt(64) = 13%)
_HLL_RELERR_BOUND = 0.5  # collapse guard (~4x the m=64 rsd of 13%;


# worst measured rel_err 0.2213 at sf0.01 purchase with the avalanche
# hash — the ANN-floor margin rule)


def _hll_key_duck() -> str:
    return (
        "user_id * 32 + date_diff('day', DATE '2024-01-01',"
        " CAST(ts AS DATE))"
    )


def _hll_oracle() -> str:
    # rho = leading-zero count of the 26-bit suffix + 1: w = h // 64
    # < 2^26, bitlen via length(bin()) (round-8 exact-integer recipe)
    z_term = (
        "CAST(1 AS DOUBLE)"
        " / CAST((1::BIGINT << CAST(m_j AS INTEGER)) AS DOUBLE)"
    )
    return f"""
    WITH dk AS MATERIALIZED (
      SELECT DISTINCT event_type, {_hll_key_duck()} AS key
      FROM events WHERE event_type IN ('purchase', 'click')),
    h1x AS (
      SELECT event_type, key,
             ((xor(key, key >> 16) % 2147483648) * 2246822519)
               % 4294967296 AS h1
      FROM dk),
    h2x AS (
      SELECT event_type, key,
             ((xor(h1, h1 >> 13) % 2147483648) * 3266489917)
               % 4294967296 AS h2
      FROM h1x),
    hx AS (
      SELECT event_type, key, xor(h2, h2 >> 16) AS h FROM h2x),
    rr AS MATERIALIZED (
      SELECT event_type,
             h % {_HLL_M} AS reg,
             CASE WHEN h // {_HLL_M} = 0 THEN 27
                  ELSE 27 - length(bin(h // {_HLL_M})) END AS rho
      FROM hx),
    regs AS (
      SELECT event_type AS set_name, reg, max(rho) AS m_obs
      FROM rr GROUP BY 1, 2
      UNION ALL
      SELECT 'any', reg, max(rho) FROM rr GROUP BY 2),
    names AS (SELECT unnest(['purchase', 'click', 'any']) AS set_name),
    dom AS (
      SELECT set_name, unnest(generate_series(0, {_HLL_M - 1})) AS reg
      FROM names),
    dense AS (
      SELECT d.set_name, d.reg,
             CAST(coalesce(r.m_obs, 0) AS BIGINT) AS m_j
      FROM dom d LEFT JOIN regs r
        ON d.set_name = r.set_name AND d.reg = r.reg),
    z AS (
      SELECT set_name, sum({z_term}) AS zsum
      FROM dense GROUP BY set_name),
    ex AS (
      SELECT event_type AS set_name, CAST(count(*) AS BIGINT) AS exact_users
      FROM dk GROUP BY 1
      UNION ALL
      SELECT 'any', CAST(count(DISTINCT key) AS BIGINT) FROM dk)
    SELECT z.set_name,
           round(CAST(0.709 AS DOUBLE) * {_HLL_M * _HLL_M} / z.zsum, 6)
             AS est_users,
           ex.exact_users,
           round(abs(CAST(0.709 AS DOUBLE) * {_HLL_M * _HLL_M} / z.zsum
                     - ex.exact_users) / ex.exact_users, 4) AS rel_err
    FROM z JOIN ex ON z.set_name = ex.set_name
    ORDER BY z.set_name
    """


@query("agg_hll_dense_registers", oracle=_hll_oracle())
def agg_hll_dense_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAND-ROLLED HLL WITH A FULL ORACLE — the SQL-expressible twin of
    agg_hll_sketch_merge (which exists to exercise Spark's NATIVE
    Datasketches hll_sketch_agg/hll_union_agg and stays rows-only
    because DuckDB ships a different HLL): deterministic xor-shift
    finalizer hash (murmur3-style avalanche, multiplicands masked to
    31 bits so the products stay in int64 under ANSI — the KMV
    sketches' LINEAR Lehmer hash latticed catastrophically under
    HLL's max-rho on the structured user-day keys: probed +84% bias
    vs +5% after the nonlinear mix; order statistics forgave what
    leading-zero ranks do not), m = 64 registers (reg = h mod 64),
    rho = leading-zero rank of the 26-bit suffix computed exactly
    via length(bin()) — so the registers, the merge,
    and the estimate are all integer-derivable on both engines and
    the driver hash-verifies the WHOLE sketch, closing the same
    assumed-rows-only gap round 13 closed for KMV.

    The MERGE IDENTITY is proven by construction (the round-13
    scatter-gather trick): the Spark side builds per-(type, DAY)
    shard registers and max-merges the shards (plus a second merge
    across types for the 'any' row); the oracle computes each set's
    registers DIRECTLY from the raw keys — the hash match IS the
    proof that register-max merging loses nothing, which is the
    entire reason HLL works on a 100 TB lake (per-partition sketch
    bytes merge; raw keys never re-shuffle).

    Parity: every register value is an exact integer; the harmonic
    sum Z = sum(2^-M_j) is a sum of 64 exact dyadics with common
    denominator 2^27 and numerator total < 2^33 — exactly
    representable in a double REGARDLESS of addition order, so no
    quantization argument is needed; the estimate is one shared
    division shape with round(6). Raw HLL estimate only (no
    small-range linear counting — it would need cross-engine ln();
    the user-day domains here sit in the raw regime at every sf,
    and the in-plan assert bounds |rel_err| <= 0.5 vs measured
    0.009-0.221 across sets and sfs; a register wipe trips the guard
    at rel_err ~ 1).

    Shape at 100 TB: register building is a map-side-combinable max
    aggregate (64 rows per shard of shuffle payload); the dense
    64-register domain join and the 3-row output are bounded by m,
    not the data."""
    ev = table(spark, sf_dir, "events")
    dk = (
        ev.where(F.col("event_type").isin("purchase", "click"))
        .select(
            "event_type",
            F.expr(
                "CAST(user_id AS BIGINT) * 32 + CAST(datediff("
                "CAST(ts AS DATE), DATE '2024-01-01') AS BIGINT)"
            ).alias("key"),
        )
        .distinct()
    )
    hashed = (
        dk.withColumn(
            "h1",
            F.expr(
                "(((key ^ shiftright(key, 16)) % 2147483648)"
                " * 2246822519) % 4294967296"
            ),
        )
        .withColumn(
            "h2",
            F.expr(
                "(((h1 ^ shiftright(h1, 13)) % 2147483648)"
                " * 3266489917) % 4294967296"
            ),
        )
        .withColumn("h", F.expr("h2 ^ shiftright(h2, 16)"))
    )
    rr = hashed.select(
        "event_type",
        (F.col("key") % 32).alias("day_shard"),
        F.expr(f"h % {_HLL_M}").alias("reg"),
        F.expr(
            f"CASE WHEN h div {_HLL_M} = 0 THEN 27"
            f" ELSE 27 - length(bin(h div {_HLL_M})) END"
        ).alias("rho"),
    )
    # per-(set, day) SHARD registers, then the mergeability-defining
    # max-merge across shards (the oracle computes registers directly
    # — the hash match proves the merge identity)
    shard = rr.groupBy("event_type", "day_shard", "reg").agg(
        F.max("rho").alias("m_shard")
    )
    per_set = shard.groupBy(
        F.col("event_type").alias("set_name"), "reg"
    ).agg(F.max("m_shard").alias("m_obs"))
    any_set = shard.groupBy("reg").agg(
        F.max("m_shard").alias("m_obs")
    ).select(F.lit("any").alias("set_name"), "reg", "m_obs")
    regs = per_set.unionByName(any_set)
    names = spark.createDataFrame(
        [("purchase",), ("click",), ("any",)], "set_name string"
    )
    dom = names.crossJoin(
        spark.range(_HLL_M).select(F.col("id").cast("int").alias("reg"))
    )
    dense = dom.join(regs, ["set_name", "reg"], "left").select(
        "set_name",
        F.expr("CAST(coalesce(m_obs, 0) AS BIGINT)").alias("m_j"),
    )
    z = dense.groupBy("set_name").agg(
        F.sum(
            F.expr(
                "CAST(1 AS DOUBLE) / CAST(shiftleft(CAST(1 AS BIGINT),"
                " CAST(m_j AS INT)) AS DOUBLE)"
            )
        ).alias("zsum")
    )
    ex = (
        dk.groupBy(F.col("event_type").alias("set_name"))
        .agg(F.count("*").cast("bigint").alias("exact_users"))
        .unionByName(
            dk.agg(
                F.countDistinct("key").cast("bigint").alias("exact_users")
            ).select(F.lit("any").alias("set_name"), "exact_users")
        )
    )
    est = f"CAST(0.709 AS DOUBLE) * {_HLL_M * _HLL_M} / zsum"
    return (
        z.join(ex, "set_name")
        .selectExpr(
            "set_name",
            f"round({est}, 6) AS est_users",
            "exact_users",
            f"round(abs({est} - exact_users) / exact_users, 4)"
            " AS rel_err",
        )
        .where(
            F.assert_true(
                F.col("rel_err") <= F.lit(_HLL_RELERR_BOUND),
                F.format_string(
                    f"HLL register collapse: rel_err=%s > {_HLL_RELERR_BOUND}",
                    F.col("rel_err"),
                ),
            ).isNull()
        )
        .orderBy("set_name")
    )
