"""LLM-training-data curation operators: the duplicate-span purge,
minhash band tuning, the dedup cascade audit and DSIR importance
weights.

Reference scope: the dedup ops extend the LLM-training-data pipeline surface
(SURVEY.md §2C) — the reference app re-ingests documents verbatim
(app.py:453-484), which is exactly the repeated-span / near-dup corpus
shape these stages clean.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..tables import session_artifact, table
from .dedup import (
    _A,
    _B,
    _DUCK_BANDS_RANKED,
    _DUCK_CAND_WHERE,
    _DUCK_CODES,
    _SIG_ORACLE,
    _SPARK_CODES,
    N_HASH,
    P_CODE,
    P_HASH,
    dedup_near_minhash,
)

# ---------------------------------------------------------------------------
# dedup_substring_span_purge
# ---------------------------------------------------------------------------

_PURGE_K = 50  # tokens per window — the BigCode/Dolma substring-dedup length
_P1, _M1 = 1_000_000_007, 131  # primary rolling hash (repo convention)
_P2, _M2 = 998_244_353, 137  # independent second hash: the pair keys
# collisions at ~1e-9 * 1e-9 scale, so a hash-equal window pair IS a
# text-equal window pair for any feasible corpus shard
_POW1_K = 629313585  # 131^50 mod P1 (precomputed exact constant)
_POW2_K = 140343980  # 137^50 mod P2


def _purge_spans(t: DataFrame) -> DataFrame:
    """Merged duplicate-window PURGE RUNS for a (doc_id, tk) corpus
    frame: every 50-token window whose 2-hash fingerprint occurs >= 2
    times in THIS corpus marks its tokens; overlapping/adjacent marked
    windows merge into maximal runs (doc_id, run_no, start_tok,
    end_tok).  Factored so cascade consumers
    (pipeline_dedup_cascade_audit) can run the stage over an upstream
    SURVIVOR corpus — window multiplicities then count survivors only,
    which is what staged-marginality semantics require."""
    tc = t.select(
        "doc_id",
        "tk",
        F.expr(
            "transform(tk, tok -> aggregate(split(tok, ''), "
            f"CAST(0 AS BIGINT), (h, c) -> (h * 31 + ascii(c)) % {P_CODE}))"
        ).alias("tc"),
    )

    def pre(mult: int, prime: int) -> str:
        # prefix-hash array: pre[1] = 0, pre[j+1] = fold of codes 1..j
        return (
            "aggregate(tc, array(CAST(0 AS BIGINT)), "
            f"(acc, c) -> concat(acc, array((element_at(acc, -1) * {mult} "
            f"+ c) % {prime})))"
        )

    def win(pre_col: str, powk: int, prime: int) -> str:
        # h(i..i+K-1) = (pre[i+K] - pre[i] * M^K) mod P, kept non-negative
        return (
            f"((element_at({pre_col}, i + {_PURGE_K}) "
            f"- element_at({pre_col}, i) * {powk}) % {prime} + {prime}) "
            f"% {prime}"
        )

    wins = (
        tc.where(F.size("tc") >= _PURGE_K)
        .select(
            "doc_id",
            F.expr(pre(_M1, _P1)).alias("p1"),
            F.expr(pre(_M2, _P2)).alias("p2"),
            F.expr(f"sequence(1, size(tc) - {_PURGE_K} + 1)").alias("ii"),
        )
        .select("doc_id", "p1", "p2", F.explode("ii").alias("i"))
        .select(
            "doc_id",
            "i",
            F.expr(win("p1", _POW1_K, _P1)).alias("h1"),
            F.expr(win("p2", _POW2_K, _P2)).alias("h2"),
        )
    )
    hc = wins.groupBy("h1", "h2").agg(F.count("*").alias("c"))
    w_doc = Window.partitionBy("doc_id").orderBy("i")
    dup = (
        wins.join(hc.where(F.col("c") >= 2), ["h1", "h2"], "left_semi")
        .withColumn("lag_i", F.lag("i").over(w_doc))
        .withColumn(
            "new_run",
            F.when(
                F.col("lag_i").isNull()
                | (F.col("i") - F.col("lag_i") > _PURGE_K),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "run_no",
            F.sum("new_run").over(
                w_doc.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    return dup.groupBy("doc_id", "run_no").agg(
        F.min("i").cast("bigint").alias("start_tok"),
        (F.max("i") + _PURGE_K - 1).cast("bigint").alias("end_tok"),
    )


def _duck_win_hash(mult: int, prime: int) -> str:
    """DuckDB window fingerprint: direct left fold of the K token codes
    starting at i (O(K) per window — fine for the oracle at sf0.01)."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_slice(tc, i, i + {_PURGE_K} - 1)), "
        f"(h, c) -> (h * {mult} + c) % {prime})"
    )


@query(
    "dedup_substring_span_purge",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    tc AS (
      SELECT doc_id, tk,
             list_transform(tk, tok -> list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(string_split(tok, ''),
                                c -> CAST(ascii(c) AS BIGINT))),
               (h, c) -> (h * 31 + c) % {P_CODE})) AS tc
      FROM t),
    wins AS (
      SELECT doc_id, i,
             {_duck_win_hash(_M1, _P1)} AS h1,
             {_duck_win_hash(_M2, _P2)} AS h2
      FROM (SELECT doc_id, tc,
                   unnest(generate_series(1, len(tc) - {_PURGE_K} + 1)) AS i
            FROM tc WHERE len(tc) >= {_PURGE_K}) z),
    hc AS (SELECT h1, h2, count(*) AS c FROM wins GROUP BY h1, h2),
    dup AS (
      SELECT w.doc_id, w.i,
             CASE WHEN lag(w.i) OVER (PARTITION BY w.doc_id ORDER BY w.i)
                       IS NULL
                   OR w.i - lag(w.i) OVER (PARTITION BY w.doc_id
                                           ORDER BY w.i) > {_PURGE_K}
                  THEN 1 ELSE 0 END AS new_run
      FROM wins w JOIN hc USING (h1, h2) WHERE hc.c >= 2),
    runs AS (
      SELECT doc_id, i,
             sum(new_run) OVER (PARTITION BY doc_id ORDER BY i
                                ROWS UNBOUNDED PRECEDING) AS run_no
      FROM dup),
    spans AS (
      SELECT doc_id, run_no,
             CAST(min(i) AS BIGINT) AS start_tok,
             CAST(max(i) + {_PURGE_K} - 1 AS BIGINT) AS end_tok
      FROM runs GROUP BY doc_id, run_no),
    out AS (
      SELECT s.doc_id,
             CAST(row_number() OVER (PARTITION BY s.doc_id
                                     ORDER BY s.start_tok) AS BIGINT)
               AS run_idx,
             s.start_tok, s.end_tok,
             CAST(s.end_tok - s.start_tok + 1 AS BIGINT) AS run_tokens,
             CASE WHEN s.start_tok = 1 THEN CAST(1 AS BIGINT)
                  ELSE CAST(length(array_to_string(
                         list_slice(t.tk, 1, s.start_tok - 1), ' '))
                       + 2 AS BIGINT) END AS start_char,
             CAST(length(array_to_string(
                    list_slice(t.tk, 1, s.end_tok), ' ')) AS BIGINT)
               AS end_char,
             CAST(len(t.tk) AS BIGINT) AS doc_tokens
      FROM spans s JOIN t ON s.doc_id = t.doc_id)
    SELECT doc_id, run_idx, start_tok, end_tok, run_tokens,
           start_char, end_char, doc_tokens,
           CAST(sum(run_tokens) OVER (PARTITION BY doc_id) AS BIGINT)
             AS doc_purged_tokens
    FROM out
    """,
)
def dedup_substring_span_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-SUBSTRING SPAN PURGE — the BigCode/Dolma substring-dedup
    stage (Lee et al. 2021 ExactSubstr; the reference's verbatim
    re-ingest, app.py:453-484, is exactly what creates these spans):
    every 50-token window whose fingerprint occurs >= 2 times in the
    corpus (across documents OR repeated within one) marks its tokens
    for removal; overlapping/adjacent marked windows merge into
    maximal PURGE RUNS, emitted one row per run with exact token AND
    character offsets (1-based, inclusive) so a downstream writer can
    cut the bytes without retokenizing — plus per-doc purged-token
    totals.  dedup_span_ngram is the strided DETECTOR (dup-ratio
    signal); this op emits the actionable spans.

    Scale shape (the suffix array the paper builds does not shard;
    rolling fingerprints do): one map pass computes per-token codes,
    a PREFIX-HASH array per doc (aggregate building the running fold
    — O(n) lambda frames), and every stride-1 window hash in O(1)
    from the prefix array: h(i..i+K-1) = (pre[i+K] - pre[i]*M^K) mod P
    — never the O(n*K) per-window refold (round-5 HOF-cost rule).
    Two independent moduli (1e9+7/131, 998244353/137) make the join
    key an effective 60-bit fingerprint, so hash-equal == text-equal
    at any feasible scale.  One shuffle counts (h1, h2) multiplicity
    (map-side combined), one per-doc window merges runs, and the
    bounded run rows join back to documents for char offsets via
    array_join prefix lengths (fixture texts are single-space joined —
    pinned by the recompute pytest).

    Parity: everything is exact BIGINT arithmetic — fingerprint folds,
    run bounds, char offsets ((x % P + P) % P keeps the subtraction
    non-negative on both engines; the DuckDB twin folds each window
    directly, which is the same polynomial).  No floats anywhere."""
    d = table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.split("text", " ").alias("tk"))
    spans = _purge_spans(t)
    w_idx = Window.partitionBy("doc_id").orderBy("start_tok")
    out = (
        spans.join(t, "doc_id")
        .select(
            "doc_id",
            F.row_number().over(w_idx).cast("bigint").alias("run_idx"),
            "start_tok",
            "end_tok",
            (F.col("end_tok") - F.col("start_tok") + 1)
            .cast("bigint")
            .alias("run_tokens"),
            F.expr(
                "CASE WHEN start_tok = 1 THEN CAST(1 AS BIGINT) "
                "ELSE CAST(length(array_join(slice(tk, 1, "
                "CAST(start_tok AS INT) - 1), ' ')) + 2 AS BIGINT) END"
            ).alias("start_char"),
            F.expr(
                "CAST(length(array_join(slice(tk, 1, "
                "CAST(end_tok AS INT)), ' ')) AS BIGINT)"
            ).alias("end_char"),
            F.size("tk").cast("bigint").alias("doc_tokens"),
        )
    )
    w_tot = Window.partitionBy("doc_id")
    return out.withColumn(
        "doc_purged_tokens",
        F.sum("run_tokens").over(w_tot).cast("bigint"),
    )


# ---------------------------------------------------------------------------
# text_minhash_band_tuning
# ---------------------------------------------------------------------------

_TUNE_SCHEMES = [(8, 1), (4, 2), (2, 4), (1, 8)]  # b x r over the 8 hashes
_TUNE_PCTS = [10, 25, 50, 75, 90]
_TUNE_STRIDE = 250  # deterministic pair sampling: doc i vs doc i+250


def _band_key(comps: list[str], prime: int) -> str:
    """Band key = left fold (h*131 + s) % P over the band's signature
    components — identical text on both engines (components < P, so
    products stay far inside int64)."""
    expr = comps[0]
    for c in comps[1:]:
        expr = f"(({expr}) * 131 + {c}) % {prime}"
    return expr


def _p_collide(b: int, r: int) -> str:
    """1 - (1 - j^r)^b as an UNROLLED multiplication chain (integer
    exponents only) — bit-identical IEEE ops on both engines, never
    pow() (cross-libm ulp drift, CLAUDE.md round-7)."""

    def sq_chain(base: str, e: int) -> str:
        # e is a power of two in every scheme here
        expr = base
        while e > 1:
            expr = f"({expr}) * ({expr})"
            e //= 2
        return expr

    jr = sq_chain("j", r)
    if b == 1:
        return jr
    return f"1.0 - ({sq_chain(f'(1.0 - ({jr}))', b)})"


def _tune_oracle() -> str:
    sig_cols = ",\n             ".join(
        f"list_min(list_transform(cs, c -> ({_A[i]} * c + {_B[i]}) "
        f"% {P_HASH})) AS s{i}"
        for i in range(N_HASH)
    )
    slot_ctes = []
    for b, r in _TUNE_SCHEMES:
        bands = "\n        UNION ALL\n        ".join(
            f"SELECT {j} AS band_no, "
            f"{_band_key([f's{j * r + k}' for k in range(r)], P_HASH)} AS bk "
            "FROM sigs"
            for j in range(b)
        )
        slot_ctes.append(
            f"slots_{b}_{r} AS (\n"
            f"      SELECT CAST(sum(c * (c - 1) // 2) AS BIGINT) AS cand\n"
            f"      FROM (SELECT count(*) AS c FROM (\n        {bands}\n"
            f"        ) bb GROUP BY band_no, bk) g)"
        )
    scheme_rows = "\n      UNION ALL\n      ".join(
        f"SELECT CAST({b} AS BIGINT) AS bands, CAST({r} AS BIGINT) "
        f"AS rows_per_band, cand FROM slots_{b}_{r}"
        for b, r in _TUNE_SCHEMES
    )
    p_cases = "\n             ".join(
        f"WHEN bands = {b} AND rows_per_band = {r} "
        f"THEN round({_p_collide(b, r)}, 6)"
        for b, r in _TUNE_SCHEMES
    )
    pct_rows = " UNION ALL ".join(
        f"SELECT CAST({p} AS BIGINT) AS quantile_pct" for p in _TUNE_PCTS
    )
    slot_cte_block = ",\n    ".join(slot_ctes)
    return f"""
    WITH codes AS (
      SELECT doc_id, {_DUCK_CODES} AS cs FROM documents),
    sigs AS (
      SELECT doc_id,
             {sig_cols}
      FROM codes),
    csets AS (SELECT doc_id, list_distinct(cs) AS cset FROM codes),
    pairs AS (
      SELECT (CAST(len(list_filter(a.cset, x -> list_contains(b.cset, x)))
                AS BIGINT) * 1000000)
             // (len(a.cset) + len(b.cset)
                 - len(list_filter(a.cset, x -> list_contains(b.cset, x))))
               AS j_micro
      FROM csets a JOIN csets b ON b.doc_id = a.doc_id + {_TUNE_STRIDE}),
    jl AS (
      SELECT list_sort(list(j_micro)) AS js,
             CAST(count(*) AS BIGINT) AS n
      FROM pairs),
    quant AS (
      SELECT p.quantile_pct,
             list_extract(jl.js,
               CAST((p.quantile_pct * jl.n + 99) // 100 AS INT)) AS j_micro
      FROM ({pct_rows}) p CROSS JOIN jl),
    {slot_cte_block},
    schemes AS (
      {scheme_rows})
    SELECT s.bands, s.rows_per_band, q.quantile_pct, q.j_micro,
           CASE {p_cases}
           END AS p_collide,
           s.cand AS candidate_slots
    FROM schemes s CROSS JOIN
         (SELECT quantile_pct, j_micro,
                 CAST(j_micro AS DOUBLE) / 1000000.0 AS j FROM quant) q
    ORDER BY s.bands DESC, q.quantile_pct
    """


@query("text_minhash_band_tuning", oracle=_tune_oracle())
def text_minhash_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH (bands, rows) TUNING TABLE — the S-curve sheet an
    engineer reads before picking dedup_near_minhash's operating point
    (its production config is the (4, 2) row): for every banding of
    the repo's 8 signature hashes — (8,1), (4,2), (2,4), (1,8) — emit
    the analytic candidate probability 1-(1-j^r)^b at the corpus's
    MEASURED code-set Jaccard quantiles (p10/p25/p50/p75/p90 over a
    deterministic stride-250 pair sample) plus the DETERMINISTIC
    candidate-slot count that banding produces on this corpus
    (sum over band groups of C(size, 2) — the join volume the scheme
    would feed the verifier; slots, not distinct pairs, because the
    count is computable from group sizes alone with no pair
    materialization at any scale).  The vec_ann_recall_sweep analogue
    for the dedup side.

    Scale shape: signatures are one map pass (shared expression text
    with dedup_minhash_signatures); per-scheme candidate volume is a
    groupBy count over band keys — never a pair join; the measured
    Jaccard sample is one stride equi-join producing n_docs pairs, and
    its exact quantiles are integer j_micro = (|inter|*1e6) div |union|
    picks from one sorted bounded list (at 100 TB you'd hash-gate the
    pair sample and swap the exact pick for approx_percentile — the
    stride design keeps the list |docs|-bounded, stated here because
    the collect_list row is the op's only single-node piece).

    Parity: band keys and j_micro are exact BIGINT folds; p_collide is
    an UNROLLED multiplication chain on j = j_micro/1e6 (integer
    exponents, identical IEEE op sequence both engines — pow() would
    drift cross-libm); quantile indexes are (pct*n + 99) div 100, all
    integers.  The (4,2) candidate_slots column is cross-checked
    against dedup_near_minhash's banding by the recompute pytest."""
    d = table(spark, sf_dir, "documents")
    codes = d.select("doc_id", F.expr(_SPARK_CODES).alias("cs"))
    sigs = codes.select(
        "doc_id",
        *[
            F.expr(
                f"array_min(transform(cs, c -> ({_A[i]} * c + {_B[i]}) "
                f"% {P_HASH}))"
            ).alias(f"s{i}")
            for i in range(N_HASH)
        ],
    ).localCheckpoint()  # bounded: one row per doc, 9 ints; referenced
    # by all 4 scheme branches (round-8 rule: multi-referenced frames
    # checkpoint, never re-derive the scan per branch)

    scheme_frames = []
    for b, r in _TUNE_SCHEMES:
        bands = None
        for j in range(b):
            part = sigs.select(
                F.lit(j).alias("band_no"),
                F.expr(
                    _band_key([f"s{j * r + k}" for k in range(r)], P_HASH)
                ).alias("bk"),
            )
            bands = part if bands is None else bands.unionByName(part)
        cand = (
            bands.groupBy("band_no", "bk")
            .agg(F.count("*").alias("c"))
            .agg(
                F.sum(F.expr("c * (c - 1) div 2"))
                .cast("bigint")
                .alias("cand")
            )
            .select(
                F.lit(b).cast("bigint").alias("bands"),
                F.lit(r).cast("bigint").alias("rows_per_band"),
                "cand",
            )
        )
        scheme_frames.append(cand)
    schemes = scheme_frames[0]
    for fr in scheme_frames[1:]:
        schemes = schemes.unionByName(fr)

    csets = codes.select("doc_id", F.array_distinct("cs").alias("cset"))
    a = csets.alias("a")
    bb = csets.alias("b")
    inter = "size(array_intersect(a.cset, b.cset))"
    pairs = a.join(
        bb, F.col("b.doc_id") == F.col("a.doc_id") + _TUNE_STRIDE
    ).select(
        F.expr(
            f"CAST({inter} AS BIGINT) * 1000000 div "
            f"(size(a.cset) + size(b.cset) - {inter})"
        ).alias("j_micro")
    )
    jl = pairs.agg(
        F.sort_array(F.collect_list("j_micro")).alias("js"),
        F.count("*").cast("bigint").alias("n"),
    )
    pcts = spark.createDataFrame(
        [(p,) for p in _TUNE_PCTS], "quantile_pct bigint"
    )
    quant = (
        pcts.crossJoin(F.broadcast(jl))
        .select(
            "quantile_pct",
            F.expr(
                "element_at(js, CAST((quantile_pct * n + 99) div 100 "
                "AS INT))"
            ).alias("j_micro"),
        )
        .withColumn("j", F.expr("CAST(j_micro AS DOUBLE) / 1000000.0"))
    )
    p_case = (
        "CASE "
        + " ".join(
            f"WHEN bands = {b} AND rows_per_band = {r} "
            f"THEN round({_p_collide(b, r)}, 6)"
            for b, r in _TUNE_SCHEMES
        )
        + " END"
    )
    return (
        schemes.crossJoin(F.broadcast(quant))
        .select(
            "bands",
            "rows_per_band",
            "quantile_pct",
            "j_micro",
            F.expr(p_case).alias("p_collide"),
            F.col("cand").alias("candidate_slots"),
        )
        .orderBy(F.col("bands").desc(), "quantile_pct")
    )


# ---------------------------------------------------------------------------
# pipeline_dedup_cascade_audit
# ---------------------------------------------------------------------------


def _cascade_oracle() -> str:
    return f"""
    WITH t0 AS (
      SELECT doc_id, text,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
      FROM documents),
    s1 AS MATERIALIZED (
      SELECT doc_id, text, ntok FROM (
        SELECT doc_id, text, ntok,
               min(doc_id) OVER (PARTITION BY sha256(text)) AS keeper
        FROM t0) z
      WHERE doc_id = keeper),
    toks AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS t FROM t0),
    codes AS MATERIALIZED (
      SELECT doc_id, list_distinct({_DUCK_CODES}) AS cs
      FROM (SELECT doc_id, array_to_string(t, ' ') AS text FROM toks) z),
    sigs AS (
      SELECT doc_id, {_SIG_ORACLE} FROM codes),
    bands AS (
      {_DUCK_BANDS_RANKED}),
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM bands x JOIN bands y
        ON x.band_no = y.band_no AND x.band_key = y.band_key
       AND x.doc_id < y.doc_id
      {_DUCK_CAND_WHERE}),
    cand1 AS (
      SELECT c.doc_a, c.doc_b FROM cand c
      JOIN s1 sa ON c.doc_a = sa.doc_id
      JOIN s1 sb ON c.doc_b = sb.doc_id),
    rem2 AS (
      SELECT DISTINCT c.doc_b AS doc_id
      FROM cand1 c JOIN codes ta ON c.doc_a = ta.doc_id
                   JOIN codes tb ON c.doc_b = tb.doc_id
      WHERE CAST(len(list_intersect(ta.cs, tb.cs)) AS DOUBLE)
            / len(list_distinct(ta.cs || tb.cs)) >= 0.7),
    s2 AS MATERIALIZED (
      SELECT s1.* FROM s1 ANTI JOIN rem2 USING (doc_id)),
    tk2 AS (SELECT doc_id, string_split(text, ' ') AS tk FROM s2),
    tc AS (
      SELECT doc_id, list_transform(tk, tok -> list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(string_split(tok, ''),
                                c -> CAST(ascii(c) AS BIGINT))),
               (h, c) -> (h * 31 + c) % {P_CODE})) AS tc
      FROM tk2),
    wins AS MATERIALIZED (
      SELECT doc_id, i,
             {_duck_win_hash(_M1, _P1)} AS h1,
             {_duck_win_hash(_M2, _P2)} AS h2
      FROM (SELECT doc_id, tc,
                   unnest(generate_series(1, len(tc) - {_PURGE_K} + 1)) AS i
            FROM tc WHERE len(tc) >= {_PURGE_K}) z),
    hc AS (SELECT h1, h2, count(*) AS c FROM wins GROUP BY h1, h2),
    dup AS (
      SELECT w.doc_id, w.i,
             CASE WHEN lag(w.i) OVER (PARTITION BY w.doc_id ORDER BY w.i)
                       IS NULL
                   OR w.i - lag(w.i) OVER (PARTITION BY w.doc_id
                                           ORDER BY w.i) > {_PURGE_K}
                  THEN 1 ELSE 0 END AS new_run
      FROM wins w JOIN hc USING (h1, h2) WHERE hc.c >= 2),
    runs AS (
      SELECT doc_id, i,
             sum(new_run) OVER (PARTITION BY doc_id ORDER BY i
                                ROWS UNBOUNDED PRECEDING) AS run_no
      FROM dup),
    spans AS (
      SELECT doc_id, run_no,
             CAST(min(i) AS BIGINT) AS start_tok,
             CAST(max(i) + {_PURGE_K} - 1 AS BIGINT) AS end_tok
      FROM runs GROUP BY doc_id, run_no),
    st3 AS (
      SELECT CAST(coalesce(sum(end_tok - start_tok + 1), 0) AS BIGINT)
               AS purged,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS affected
      FROM spans),
    a1 AS (SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(coalesce(sum(ntok), 0) AS BIGINT) AS tk FROM t0),
    a1s AS (SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(coalesce(sum(ntok), 0) AS BIGINT) AS tk FROM s1),
    a2s AS (SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(coalesce(sum(ntok), 0) AS BIGINT) AS tk FROM s2)
    SELECT CAST(1 AS BIGINT) AS stage_no, 'exact' AS stage,
           a1.n AS docs_in,
           CAST(a1.n - a1s.n AS BIGINT) AS docs_removed,
           CAST(a1.n - a1s.n AS BIGINT) AS docs_affected,
           a1.tk AS tokens_in,
           CAST(a1.tk - a1s.tk AS BIGINT) AS tokens_removed
    FROM a1 CROSS JOIN a1s
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'near_minhash',
           a1s.n, CAST(a1s.n - a2s.n AS BIGINT),
           CAST(a1s.n - a2s.n AS BIGINT),
           a1s.tk, CAST(a1s.tk - a2s.tk AS BIGINT)
    FROM a1s CROSS JOIN a2s
    UNION ALL
    SELECT CAST(3 AS BIGINT), 'substring_span',
           a2s.n, CAST(0 AS BIGINT), st3.affected, a2s.tk, st3.purged
    FROM a2s CROSS JOIN st3
    ORDER BY stage_no
    """


@session_artifact
def _cascade_survivors(spark: SparkSession, sf_dir: str, *, t0: DataFrame):
    """(stage-1, stage-2) survivor corpora of ``t0`` (the documents as
    doc_id, text, ntok), checkpointed once per session (VERDICT r13
    item 2: the eager ckpts re-derived on every DataFrame build)."""
    w_h = Window.partitionBy(F.sha2("text", 256))
    s1 = (
        t0.withColumn("keeper", F.min("doc_id").over(w_h))
        .where(F.col("doc_id") == F.col("keeper"))
        .select("doc_id", "text", "ntok")
        .localCheckpoint()  # stage-1 survivor corpus: referenced
        # by the pair filter, stage-2 stats, and s2 — the snapshot
        # a production cascade writes between stages
    )
    pairs = dedup_near_minhash(spark, sf_dir).select("doc_a", "doc_b")
    ids1 = s1.select("doc_id")
    pairs1 = pairs.join(
        ids1.withColumnRenamed("doc_id", "doc_a"), "doc_a", "left_semi"
    ).join(
        ids1.withColumnRenamed("doc_id", "doc_b"), "doc_b", "left_semi"
    )
    rem2 = pairs1.select(F.col("doc_b").alias("doc_id")).distinct()
    return s1, s1.join(rem2, "doc_id", "left_anti").localCheckpoint()


@query("pipeline_dedup_cascade_audit", oracle=_cascade_oracle())
def pipeline_dedup_cascade_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MARGINAL-REMOVAL AUDIT of the dedup CASCADE — the funnel table a
    curation team reads to justify each stage's cost (SURVEY §Round-11
    queue; the reference's verbatim re-ingest, app.py:453-484, is the
    corpus shape stage 1 exists for): exact sha-256 dedup, then
    near-dup removal over dedup_near_minhash's LSH-verified pairs
    (>= 0.7 code-set Jaccard; keep-FIRST policy — a doc is removed iff
    some LOWER-id doc is a verified near-dup, the deterministic rule
    Dolma-style pipelines use, vs pipeline_near_dup_purge's
    cluster-min over connected components), then
    dedup_substring_span_purge's 50-token duplicate-span purge over
    what SURVIVES — one row per stage with docs_in / docs_removed /
    docs_affected / tokens_in / tokens_removed.  Marginality is
    structural: each stage's input is the previous stage's survivor
    corpus, so a later stage is only ever credited with what earlier
    stages missed (span multiplicities in stage 3 count SURVIVOR
    windows only — a window duplicated solely across near-dup copies
    purges nothing once stage 2 removed the copies).

    On this fixture the funnel is lopsided by the documented unigram
    degeneracy (dedup_near_minhash docstring): ~32-word vocabulary
    makes most doc pairs genuine >= 0.7 code-set matches, so stage 2
    removes most docs and stage 3 sees a small survivor set.  The
    AUDIT is exactly what surfaces that: a real corpus shows a
    shallow stage-2 cut and a fat stage-3 token purge.

    Stage-2-on-survivors == full-corpus pairs filtered to survivor
    endpoints (exactly): band keys are per-doc, the first-match
    predicate is pair-local, so removing docs never changes another
    pair's candidacy — the Spark side reuses dedup_near_minhash's
    verified pairs (side-file verify machinery and all) and
    semi-joins both endpoints against stage-1 survivors.  The oracle
    mirrors that EXACTLY (round 13, closing an ADVICE item): it bands
    the FULL corpus with the same _BAND_CAP ranked-bucket predicate
    as dedup_near_minhash's oracle, then filters candidate endpoints
    to stage-1 survivors — so the identity holds even on a corpus
    where the cap binds (previously the oracle re-banded survivors
    uncapped, a latent driver-gate mismatch on any fixture with a
    bucket > 4096; dedup_band_cap_audit remains the op that REPORTS
    truncation when the cap is active).

    Parity: every output cell is an exact BIGINT (counts, token
    sums); no floats anywhere.  Stage names are literals.

    Shape at 100 TB: stage survivors are localCheckpointed doc-grain
    frames — precisely the per-stage corpus snapshots a production
    cascade persists between stages; the expensive pieces (LSH
    banding join, span fingerprint shuffle) are the underlying ops'
    own scale-audited plans, composed, and every audit row is a 1-row
    aggregate unioned into a 3-row table."""
    d = table(spark, sf_dir, "documents")
    t0 = d.select(
        "doc_id",
        "text",
        F.expr("CAST(size(split(text, ' ')) AS BIGINT)").alias("ntok"),
    )
    s1, s2 = _cascade_survivors(spark, sf_dir, t0=t0)
    spans = _purge_spans(s2.select("doc_id", F.split("text", " ").alias("tk")))
    st3 = spans.agg(
        F.expr(
            "CAST(coalesce(sum(end_tok - start_tok + 1), 0) AS BIGINT)"
        ).alias("purged"),
        F.countDistinct("doc_id").cast("bigint").alias("affected"),
    )
    a1 = t0.agg(
        F.count("*").cast("bigint").alias("n"),
        F.expr("CAST(coalesce(sum(ntok), 0) AS BIGINT)").alias("tk"),
    )
    a1s = s1.agg(
        F.count("*").cast("bigint").alias("n"),
        F.expr("CAST(coalesce(sum(ntok), 0) AS BIGINT)").alias("tk"),
    )
    a2s = s2.agg(
        F.count("*").cast("bigint").alias("n"),
        F.expr("CAST(coalesce(sum(ntok), 0) AS BIGINT)").alias("tk"),
    )
    r1 = (
        a1.crossJoin(F.broadcast(a1s.selectExpr("n AS n1", "tk AS tk1")))
        .selectExpr(
            "CAST(1 AS BIGINT) AS stage_no",
            "'exact' AS stage",
            "n AS docs_in",
            "CAST(n - n1 AS BIGINT) AS docs_removed",
            "CAST(n - n1 AS BIGINT) AS docs_affected",
            "tk AS tokens_in",
            "CAST(tk - tk1 AS BIGINT) AS tokens_removed",
        )
    )
    r2 = (
        a1s.crossJoin(F.broadcast(a2s.selectExpr("n AS n2", "tk AS tk2")))
        .selectExpr(
            "CAST(2 AS BIGINT) AS stage_no",
            "'near_minhash' AS stage",
            "n AS docs_in",
            "CAST(n - n2 AS BIGINT) AS docs_removed",
            "CAST(n - n2 AS BIGINT) AS docs_affected",
            "tk AS tokens_in",
            "CAST(tk - tk2 AS BIGINT) AS tokens_removed",
        )
    )
    r3 = a2s.crossJoin(F.broadcast(st3)).selectExpr(
        "CAST(3 AS BIGINT) AS stage_no",
        "'substring_span' AS stage",
        "n AS docs_in",
        "CAST(0 AS BIGINT) AS docs_removed",
        "affected AS docs_affected",
        "tk AS tokens_in",
        "purged AS tokens_removed",
    )
    return r1.unionByName(r2).unionByName(r3).orderBy("stage_no")


# ---------------------------------------------------------------------------
# text_dsir_importance_weights
# ---------------------------------------------------------------------------

_DSIR_B = 128  # hashed-unigram feature buckets (2^7)
_DSIR_DIV = 33554432  # 2^32 / 128 — HIGH 7 bits of the 32-bit mix
_DSIR_TARGET = "en"  # target domain: English docs (fixture lang field)

# token -> rolling char code (repo convention) -> Knuth 32-bit mix ->
# high 7 bits.  The HIGH bits because the low bit of an odd-multiplier
# product mod 2^32 is the input's own parity (round-9 rule).
_DSIR_BUCKET_SPARK = (
    "CAST(((aggregate(split(tok, ''), CAST(0 AS BIGINT), "
    f"(h, c) -> (h * 31 + ascii(c)) % {P_CODE}) * 2654435761) "
    f"% 4294967296) div {_DSIR_DIV} AS BIGINT)"
)
_DSIR_BUCKET_DUCK = (
    "CAST(((list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(string_split(tok, ''), "
    "c -> CAST(ascii(c) AS BIGINT))), "
    f"(h, c) -> (h * 31 + c) % {P_CODE}) * 2654435761) "
    f"% 4294967296) // {_DSIR_DIV} AS BIGINT)"
)


@query(
    "text_dsir_importance_weights",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, lang, u.tok,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents, unnest(string_split(text, ' ')) AS u(tok)),
    db AS (
      SELECT doc_id, lang, n_tokens,
             {_DSIR_BUCKET_DUCK} AS bucket,
             CAST(count(*) AS BIGINT) AS tf
      FROM tk GROUP BY 1, 2, 3, 4),
    braw AS (
      SELECT bucket, CAST(sum(tf) AS BIGINT) AS cr FROM db GROUP BY 1),
    btgt AS (
      SELECT bucket, CAST(sum(tf) AS BIGINT) AS ct FROM db
      WHERE lang = '{_DSIR_TARGET}' GROUP BY 1),
    tot AS (
      SELECT CAST(sum(tf) AS BIGINT) AS rtot,
             CAST(coalesce(sum(CASE WHEN lang = '{_DSIR_TARGET}'
                                    THEN tf END), 0) AS BIGINT) AS ttot
      FROM db),
    llr AS (
      SELECT r.bucket,
             CAST(round(ln(
               CAST((coalesce(g.ct, 0) + 1) * (t.rtot + {_DSIR_B})
                    AS DOUBLE)
               / CAST((r.cr + 1) * (t.ttot + {_DSIR_B}) AS DOUBLE)),
               9) AS DECIMAL(19,9)) AS term
      FROM braw r LEFT JOIN btgt g ON r.bucket = g.bucket
      CROSS JOIN tot t)
    SELECT d.doc_id, d.lang, d.n_tokens,
           CAST(CASE WHEN d.lang = '{_DSIR_TARGET}' THEN 1 ELSE 0 END
                AS BIGINT) AS is_target,
           round(CAST(sum(CAST(d.tf AS DECIMAL(9,0)) * l.term) AS DOUBLE),
                 6) AS llr_weight
    FROM db d JOIN llr l ON d.bucket = l.bucket
    GROUP BY d.doc_id, d.lang, d.n_tokens
    ORDER BY d.doc_id
    """,
)
def text_dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR IMPORTANCE WEIGHTS for data selection (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"):
    per-document log importance weight ln p_target(x) - ln p_raw(x)
    under hashed-unigram bag-of-words models — the selection-side
    companion to pipeline_mixture_reweight (which reweights a GIVEN
    mixture; this op scores each raw document's resemblance to a
    target domain so the sampler can draw the mixture in the first
    place).  Target = the fixture's English docs; raw = the whole
    corpus; features = token char-codes mixed into 128 hash buckets
    (Knuth high bits); both unigram models are Laplace-smoothed
    (+1 / +B).  A positive weight reads "more target-like than the
    corpus average" — DSIR then resamples proportional to exp(w).

    Parity (the dynamic-BM25 rule, rag_prf_query_expansion): each
    bucket's LLR term ln((ct+1)(R+B) / ((cr+1)(T+B))) is ONE double
    division of exact BIGINT products, round(9) into DECIMAL(19,9);
    per-doc sums multiply by tf as DECIMAL(9,0) so the product is
    DECIMAL(29,9) — exact, order-independent — and round(6) touches
    only the output.  (BIGINT * DECIMAL would silently truncate the
    scale: BIGINT counts as precision 20, round-8 rule.)

    Shape at 100 TB: one explode + (doc, bucket) aggregate — the same
    reusable tf artifact every sparse-retrieval op builds; the bucket
    model table is <= 128 rows (a CONSTANT: the feature-space size,
    not data) and broadcasts; per-doc weights are one map-side join +
    sum.  Raw-count products fit int64 through ~1e9 tokens per side;
    a 100 TB corpus lifts them to DECIMAL first."""
    d = table(spark, sf_dir, "documents")
    tk = d.select(
        "doc_id",
        "lang",
        F.expr("CAST(size(split(text, ' ')) AS BIGINT)").alias("n_tokens"),
        F.explode(F.split("text", " ")).alias("tok"),
    )
    db = tk.groupBy(
        "doc_id",
        "lang",
        "n_tokens",
        F.expr(_DSIR_BUCKET_SPARK).alias("bucket"),
    ).agg(F.count("*").cast("bigint").alias("tf"))
    braw = db.groupBy("bucket").agg(F.sum("tf").cast("bigint").alias("cr"))
    btgt = (
        db.where(F.col("lang") == _DSIR_TARGET)
        .groupBy("bucket")
        .agg(F.sum("tf").cast("bigint").alias("ct"))
    )
    tot = db.agg(
        F.sum("tf").cast("bigint").alias("rtot"),
        F.expr(
            f"CAST(coalesce(sum(CASE WHEN lang = '{_DSIR_TARGET}'"
            " THEN tf END), 0) AS BIGINT)"
        ).alias("ttot"),
    )
    llr = (
        braw.join(btgt, "bucket", "left")
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "bucket",
            f"CAST(round(ln("
            f"CAST((coalesce(ct, 0) + 1) * (rtot + {_DSIR_B}) AS DOUBLE)"
            f" / CAST((cr + 1) * (ttot + {_DSIR_B}) AS DOUBLE)),"
            f" 9) AS DECIMAL(19,9)) AS term",
        )
    )
    return (
        db.join(F.broadcast(llr), "bucket")  # <=128-row model table
        .groupBy("doc_id", "lang", "n_tokens")
        .agg(
            F.expr(
                "round(CAST(sum(CAST(tf AS DECIMAL(9,0)) * term)"
                " AS DOUBLE), 6)"
            ).alias("llr_weight")
        )
        .selectExpr(
            "doc_id",
            "lang",
            "n_tokens",
            f"CAST(CASE WHEN lang = '{_DSIR_TARGET}' THEN 1 ELSE 0 END"
            " AS BIGINT) AS is_target",
            "llr_weight",
        )
        .orderBy("doc_id")
    )
