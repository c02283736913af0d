"""LLM-training-data pipeline operators: curation funnels and filter
ablations, mixture reweighting and domain upsampling, train/val splits
and leakage audits, dedup-cascade and threshold audits, token-budget
selection, curriculum ordering, annotation agreement and Pareto
frontiers over quality signals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..memo import session_artifact
from ..registry import query
from ..tables import table
from .dedup import (
    P_CODE,
    P_HASH,
    _DUCK_BANDS_RANKED,
    _DUCK_CAND_WHERE,
    _DUCK_CODES,
    _M1,
    _M2,
    _P1,
    _P2,
    _PURGE_K,
    _SIG_ORACLE,
    _SPAN_K,
    _SPAN_STRIDE,
    _duck_win_hash,
    _purge_spans,
    dedup_near_minhash,
    dedup_span_ngram,
)
from .text import (
    _GOPHER_MAX_DUPF,
    _GOPHER_MAX_MWL,
    _GOPHER_MAX_TOPR,
    _GOPHER_MAX_WORDS,
    _GOPHER_MIN_MWL,
    _GOPHER_MIN_STOP,
    _GOPHER_MIN_WORDS,
    _bpe_duck_ctes,
    _bpe_train,
    text_gopher_rules,
)


# ---------------------------------------------------------------------------
# pipeline_train_val_split
# ---------------------------------------------------------------------------

_ROLL_DUCK = """list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(text, ' '),
                 t -> CAST(ascii(substring(t, 1, 1)) * 961
                           + ascii(substring(t, length(t), 1)) * 31
                           + length(t) AS BIGINT))),
             (h, c) -> (h * 131 + c) % 1000000007)"""

_ROLL_SPARK = (
    "aggregate(transform(split(text, ' '), "
    "t -> CAST(ascii(substring(t, 1, 1)) * 961 "
    "+ ascii(substring(t, length(t), 1)) * 31 + length(t) AS BIGINT)), "
    "CAST(0 AS BIGINT), (h, c) -> (h * 131 + c) % 1000000007)"
)


def _train_val_oracle() -> str:
    from .dedup import _DUCK_CODES, _simhash_expr

    return f"""
    WITH base AS (
      SELECT doc_id,
             CASE WHEN {_ROLL_DUCK} % 10 = 9 THEN 'val' ELSE 'train' END
               AS split,
             {_simhash_expr(f'({_DUCK_CODES})', spark_side=False)} AS simhash,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents),
    leak AS (
      SELECT simhash, CAST(1 AS INTEGER) AS lk FROM base
      GROUP BY simhash HAVING count(DISTINCT split) = 2)
    SELECT split,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(count(DISTINCT b.simhash) AS BIGINT) AS n_buckets,
           CAST(count(DISTINCT CASE WHEN l.lk = 1 THEN b.simhash END)
                AS BIGINT) AS leaked_buckets
    FROM base b LEFT JOIN leak l ON b.simhash = l.simhash
    GROUP BY split
    """


@query("pipeline_train_val_split", oracle=_train_val_oracle())
def pipeline_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC content-keyed train/val split with a NEAR-DUP
    LEAKAGE audit — the step between dedup and shard-assign in a
    pretraining pipeline: split on a hash of the CONTENT (the
    text_fingerprint rolling hash, mod 10 -> 90/10), never on doc_id
    or random(), so identical text always lands in the same split and
    the split is reproducible across re-ingests. The audit counts
    16-bit SimHash buckets (dedup_simhash's near-dup key) that span
    both splits — the residual near-duplicate contamination an exact
    content split cannot remove, which is exactly what a team decides
    to purge (pipeline_near_dup_purge) before an eval run.

    One map pass computes hash + simhash + token count; the bucket
    audit is a vocabulary-sized aggregate joined back to the per-split
    rollup. All-integer arithmetic — exact parity by construction."""
    d = table(spark, sf_dir, "documents")
    from .dedup import _SPARK_CODES, _simhash_expr

    base = d.select(
        "doc_id",
        F.when(F.expr(_ROLL_SPARK) % 10 == 9, F.lit("val"))
        .otherwise("train")
        .alias("split"),
        F.expr(_simhash_expr(f"({_SPARK_CODES})", spark_side=True)).alias(
            "simhash"
        ),
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )
    leak = (
        base.groupBy("simhash")
        .agg(F.countDistinct("split").alias("ns"))
        .where(F.col("ns") == 2)
        .select("simhash", F.lit(1).alias("lk"))
    )
    return (
        base.join(F.broadcast(leak), "simhash", "left")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.countDistinct("simhash").cast("bigint").alias("n_buckets"),
            F.countDistinct(
                F.when(F.col("lk") == 1, F.col("simhash"))
            ).cast("bigint").alias("leaked_buckets"),
        )
    )


# ---------------------------------------------------------------------------
# pipeline_mixture_reweight
# ---------------------------------------------------------------------------

_MIX_MAX_EPOCHS = 3.0  # repetition cap (binary-exact)


@query(
    "pipeline_mixture_reweight",
    oracle=f"""
    WITH cur AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens,
             1 + CAST(substring(source, 4) AS INTEGER) % 4 AS tw
      FROM documents GROUP BY source),
    tot AS (
      SELECT CAST(sum(tokens) AS BIGINT) AS total_tokens,
             CAST(sum(tw) AS BIGINT) AS total_tw
      FROM cur)
    SELECT source, n_docs, tokens,
           round(CAST(tokens AS DOUBLE) / total_tokens, 6) AS current_frac,
           round(CAST(tw AS DOUBLE) / total_tw, 6) AS target_frac,
           round(least((CAST(tw AS DOUBLE) / total_tw)
                       * total_tokens / tokens, {_MIX_MAX_EPOCHS}), 6)
             AS weight,
           CAST(round(tokens * least((CAST(tw AS DOUBLE) / total_tw)
                      * total_tokens / tokens, {_MIX_MAX_EPOCHS}), 0)
                AS BIGINT) AS effective_tokens
    FROM cur CROSS JOIN tot
    """,
)
def pipeline_mixture_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOMAIN-MIXTURE reweighting — the data-mixing step of a
    pretraining pipeline (the DoReMi / Pile recipe, simplified to
    fixed target weights): given a target mixture over sources
    (deterministic here: weight 1 + idx%4 per source), compute each
    source's sampling weight = target_share * total_tokens /
    source_tokens, CAPPED at 3 epochs (repeating a small domain
    forever degrades models — the standard up-sampling cap), and the
    effective token budget it contributes.

    One source-sized aggregate (map-side combined over the corpus
    scan), a 1-row totals broadcast, pure arithmetic after — the
    whole op is corpus-scan-bound at any scale. Integer token counts;
    the weight expression has identical text on both engines;
    round(6) on ratios, round(...,0) then BIGINT for the token
    budget (same half-up rule on positives on both engines)."""
    d = table(spark, sf_dir, "documents")
    cur = d.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("tokens"),
        (
            1 + F.expr("CAST(substring(source, 4) AS INT)") % 4
        ).alias("tw"),
    )
    tot = cur.agg(
        F.sum("tokens").cast("bigint").alias("total_tokens"),
        F.sum("tw").cast("bigint").alias("total_tw"),
    )
    wexpr = F.least(
        (F.col("tw").cast("double") / F.col("total_tw"))
        * F.col("total_tokens")
        / F.col("tokens"),
        F.lit(_MIX_MAX_EPOCHS),
    )
    return cur.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "tokens",
        F.round(F.col("tokens").cast("double") / F.col("total_tokens"), 6).alias(
            "current_frac"
        ),
        F.round(F.col("tw").cast("double") / F.col("total_tw"), 6).alias(
            "target_frac"
        ),
        F.round(wexpr, 6).alias("weight"),
        F.round(F.col("tokens") * wexpr, 0).cast("bigint").alias(
            "effective_tokens"
        ),
    )


# ---------------------------------------------------------------------------
# pipeline_domain_upsample
# ---------------------------------------------------------------------------

_UPS_MAX_EPOCHS = 3.0  # repetition cap shared with pipeline_mixture_reweight
_UPS_BUCKET = 64  # doc_id range per rank bucket (2^20 at corpus scale)

_UPS_W = (
    "least(greatest(CAST(tw AS DOUBLE) / total_tw * total_tokens / tokens,"
    f" 1.0), {_UPS_MAX_EPOCHS})"
)


@query(
    "pipeline_domain_upsample",
    oracle=f"""
    WITH cur AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens,
             1 + CAST(substring(source, 4) AS INTEGER) % 4 AS tw
      FROM documents GROUP BY source),
    tot AS (
      SELECT CAST(sum(tokens) AS BIGINT) AS total_tokens,
             CAST(sum(cur.tw) AS BIGINT) AS total_tw
      FROM cur),
    src AS (
      SELECT source, n_docs, {_UPS_W} AS w
      FROM cur CROSS JOIN tot),
    quota AS (
      SELECT source,
             CAST(floor(w) AS BIGINT) AS base,
             CAST(round(n_docs * (w - floor(w)), 0) AS BIGINT) AS n_extra
      FROM src),
    rk AS (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rk
      FROM documents),
    copies AS (
      SELECT r.doc_id, r.source,
             q.base + CASE WHEN r.rk <= q.n_extra THEN 1 ELSE 0 END
               AS n_copies
      FROM rk r JOIN quota q USING (source))
    SELECT doc_id, source,
           CAST(n_copies AS BIGINT) AS n_copies,
           CAST(u.r AS BIGINT) AS replica
    FROM copies, unnest(generate_series(1, n_copies)) AS u(r)
    """,
)
def pipeline_domain_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOMAIN UPSAMPLING — the replication half of data mixing that
    pipeline_mixture_reweight (weights as METADATA, downsample-capable)
    cannot do: materialize each source at its target mixture weight by
    REPLICATING documents, factors in [1, 3] epochs (same cap — and
    the same target-share formula, so the two ops describe one
    recipe). Per source with weight w: every doc gets floor(w) copies,
    and the first round(n_docs * frac(w)) docs in doc_id order get ONE
    extra copy — deterministic fractional rounding, so the realized
    per-source doc count hits the quota exactly and reruns are
    byte-identical (a hash-Bernoulli draw would only hit it in
    expectation). Output is the exploded replica stream a data loader
    shards (doc_id, source, n_copies, replica).

    Scale shape: NO per-source global sort for the quota ranks — a
    row_number() partitioned by source would funnel an entire domain
    (possibly 30% of a 100 TB corpus) through one task. Instead the
    two-phase VALUE-DOMAIN rank (pipeline_curriculum_order /
    pipeline_shard_assign's machinery keyed by source): (1) counts per
    (source, doc_id div {_UPS_BUCKET}) bucket and a cumulative offset
    over the bounded bucket DOMAIN, (2) a window partitioned by
    (source, bucket) ranks within buckets by doc_id, offset +
    within-rank = the exact per-source rank. The per-source weight
    table and the bucket-offset table both broadcast; the explode is
    row-local with fan-out <= {_UPS_MAX_EPOCHS} (the epoch cap), so
    the op is one corpus scan + map-side work at any scale.

    Parity: w evaluates the IDENTICAL double expression text on both
    engines from exact integer aggregates; floor/frac/round(.,0) are
    half-up on positives on both; ranks and copy counts are exact
    integers. Reference behavior analogue: re-ingesting a collection
    to rebalance it (app.py:453's re-ingest path) generalized to
    mixture-weighted replication."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("toks")
    )
    cur = d.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("toks").cast("bigint").alias("tokens"),
        (1 + F.expr("CAST(substring(source, 4) AS INT)") % 4).alias("tw"),
    )
    tot = cur.agg(
        F.sum("tokens").cast("bigint").alias("total_tokens"),
        F.sum("tw").cast("bigint").alias("total_tw"),
    )
    quota = (
        cur.crossJoin(F.broadcast(tot))
        .select("source", "n_docs", F.expr(_UPS_W).alias("w"))
        .select(
            "source",
            F.floor("w").cast("bigint").alias("base"),
            F.round(F.col("n_docs") * (F.col("w") - F.floor("w")), 0)
            .cast("bigint")
            .alias("n_extra"),
        )
    )
    bucketed = d.select(
        "doc_id", "source", F.expr(f"doc_id div {_UPS_BUCKET}").alias("bkt")
    )
    cnt = bucketed.groupBy("source", "bkt").agg(F.count("*").alias("c"))
    wb = (
        Window.partitionBy("source")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = cnt.select(
        "source",
        "bkt",
        F.coalesce(F.sum("c").over(wb), F.lit(0)).cast("bigint").alias("off"),
    )
    wr = Window.partitionBy("source", "bkt").orderBy("doc_id")
    ranked = bucketed.join(F.broadcast(off), ["source", "bkt"]).select(
        "doc_id",
        "source",
        (F.col("off") + F.row_number().over(wr)).alias("rk"),
    )
    copies = ranked.join(F.broadcast(quota), "source").select(
        "doc_id",
        "source",
        (
            F.col("base")
            + F.when(F.col("rk") <= F.col("n_extra"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_copies"),
    )
    return copies.select(
        "doc_id",
        "source",
        "n_copies",
        F.explode(F.expr("sequence(1L, n_copies)")).alias("replica"),
    )


# ---------------------------------------------------------------------------
# pipeline_curation_funnel
# ---------------------------------------------------------------------------

_FUNNEL_SPAN_MAX = 0.3  # max duplicated-span ratio a doc may carry


@query(
    "pipeline_curation_funnel",
    oracle=f"""
    WITH m AS (
      SELECT doc_id, text, string_split(text, ' ') AS tk, n_chars
      FROM documents),
    gopher AS (
      SELECT doc_id,
             CASE WHEN len(tk) BETWEEN {_GOPHER_MIN_WORDS}
                         AND {_GOPHER_MAX_WORDS}
                   AND round((n_chars - len(tk) + 1.0) / len(tk), 6)
                         BETWEEN {_GOPHER_MIN_MWL} AND {_GOPHER_MAX_MWL}
                   AND len(list_filter(tk, w -> w IN ('the', 'a')))
                         >= {_GOPHER_MIN_STOP}
                   AND (CASE WHEN len(tk) >= 2 THEN
                          round(1.0 - len(list_distinct(list_transform(
                              generate_series(1, len(tk) - 1),
                              i -> list_extract(tk, i) || ' '
                                   || list_extract(tk, i + 1))))
                            / (len(tk) - 1.0), 6)
                        ELSE 0.0 END) <= {_GOPHER_MAX_DUPF}
                   AND round(list_max(list_transform(list_distinct(tk),
                           w -> len(list_filter(tk, x -> x = w))))
                         / (len(tk) * 1.0), 6) <= {_GOPHER_MAX_TOPR}
              THEN 1 ELSE 0 END AS f1
      FROM m),
    tc AS (
      SELECT doc_id, list_transform(tk,
               tok -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                        list_transform(string_split(tok, ''),
                                       c -> CAST(ascii(c) AS BIGINT))),
                      (h, c) -> (h * 31 + c) % {P_CODE})) AS tc
      FROM m),
    sp AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, len(tc) - {_SPAN_K} + 1, {_SPAN_STRIDE}),
               i -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                      list_slice(tc, i, i + {_SPAN_K} - 1)),
                    (h, c) -> (h * 131 + c) % {P_HASH}))) AS h
      FROM tc WHERE len(tc) >= {_SPAN_K}),
    hc AS (SELECT h, count(*) AS c FROM sp GROUP BY h),
    dr AS (
      SELECT sp.doc_id,
             sum(CASE WHEN hc.c >= 2 THEN 1 ELSE 0 END)
               / (count(*) * 1.0) AS dup_ratio
      FROM sp JOIN hc USING (h) GROUP BY sp.doc_id),
    flags AS (
      SELECT m.doc_id, sha256(m.text) AS th, g.f1,
             CASE WHEN coalesce(dr.dup_ratio, 0) <= {_FUNNEL_SPAN_MAX}
                  THEN 1 ELSE 0 END AS f2
      FROM m JOIN gopher g ON m.doc_id = g.doc_id
      LEFT JOIN dr ON m.doc_id = dr.doc_id),
    keyed AS (
      SELECT doc_id, f1, f2,
             CASE WHEN doc_id = min(CASE WHEN f1 = 1 AND f2 = 1
                                         THEN doc_id END)
                         OVER (PARTITION BY th)
                  THEN 1 ELSE 0 END AS f3
      FROM flags),
    agg AS (
      SELECT count(*) AS n0, sum(f1) AS n1,
             sum(f1 * f2) AS n2, sum(f1 * f2 * f3) AS n3
      FROM keyed)
    SELECT * FROM (
      SELECT 1 AS stage_no, 'gopher_rules' AS stage,
             CAST(n0 AS BIGINT) AS docs_in, CAST(n1 AS BIGINT) AS docs_out,
             CASE WHEN n0 = 0 THEN 0.0
                  ELSE round((n0 - n1) * 100.0 / n0, 6) END AS drop_pct
      FROM agg
      UNION ALL
      SELECT 2, 'span_dedup', CAST(n1 AS BIGINT), CAST(n2 AS BIGINT),
             CASE WHEN n1 = 0 THEN 0.0
                  ELSE round((n1 - n2) * 100.0 / n1, 6) END FROM agg
      UNION ALL
      SELECT 3, 'exact_dedup', CAST(n2 AS BIGINT), CAST(n3 AS BIGINT),
             CASE WHEN n2 = 0 THEN 0.0
                  ELSE round((n2 - n3) * 100.0 / n2, 6) END FROM agg) z
    """,
)
def pipeline_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END CORPUS-CURATION FUNNEL: Gopher rules ->
    duplicated-span ceiling (ratio <= {_FUNNEL_SPAN_MAX}) -> exact
    keep-first dedup, reporting in/out/drop% per stage — the
    dataset-card table every pretraining run publishes (how much
    survived each filter), composing this wave's three curation ops
    into one plan. Exact dedup is applied LAST and its keep-first
    min(doc_id) is computed over the docs that SURVIVED the first two
    stages (a doc knocked out by Gopher must not claim canonical-copy
    status for its duplicates) — the stage-ordering subtlety real
    funnels get wrong.

    Shape at scale: the Gopher flags are the no-shuffle map pass
    (text_gopher_rules); the span ratio reuses dedup_span_ngram's
    hash-aggregate+join-back; the canonical pick is one window over
    sha256 hash partitions; the funnel itself collapses to a single
    4-counter aggregate and unpivots 3 rows. Each stage re-scans the
    column-pruned documents table for its own metric (3 text-column
    passes; they share no shuffle and fuse into independent map
    stages — at 100 TB the alternative single-pass fusion is blocked
    by the span stage's explode+join-back shape).

    Parity: every flag is exact integer logic over the already-pinned
    metric expressions; drop percentages divide exact counts,
    round(6)."""
    d = table(spark, sf_dir, "documents")
    gopher = text_gopher_rules(spark, sf_dir).select(
        "doc_id", F.col("keep_flag").alias("f1")
    )
    spans = dedup_span_ngram(spark, sf_dir).select("doc_id", "dup_ratio")
    flags = (
        d.select("doc_id", F.sha2("text", 256).alias("th"))
        .join(gopher, "doc_id")
        .join(spans, "doc_id", "left")
        .select(
            "doc_id",
            "th",
            "f1",
            (
                F.coalesce(F.col("dup_ratio"), F.lit(0.0))
                <= _FUNNEL_SPAN_MAX
            )
            .cast("int")
            .alias("f2"),
        )
    )
    w = Window.partitionBy("th")
    keyed = flags.select(
        "f1",
        "f2",
        (
            F.col("doc_id")
            == F.min(
                F.when(
                    (F.col("f1") == 1) & (F.col("f2") == 1), F.col("doc_id")
                )
            ).over(w)
        )
        .cast("int")
        .alias("f3"),
    )
    agg = keyed.agg(
        F.count("*").alias("n0"),
        F.sum("f1").alias("n1"),
        F.sum(F.col("f1") * F.col("f2")).alias("n2"),
        F.sum(F.col("f1") * F.col("f2") * F.col("f3")).alias("n3"),
    )
    stages = agg.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).alias("stage_no"),
                    F.lit("gopher_rules").alias("stage"),
                    F.col("n0").cast("bigint").alias("docs_in"),
                    F.col("n1").cast("bigint").alias("docs_out"),
                    F.when(
                        F.col("n0") > 0,
                        F.round(
                            (F.col("n0") - F.col("n1")) * 100.0
                            / F.col("n0"),
                            6,
                        ),
                    ).otherwise(0.0).alias("drop_pct"),
                ),
                F.struct(
                    F.lit(2).alias("stage_no"),
                    F.lit("span_dedup").alias("stage"),
                    F.col("n1").cast("bigint").alias("docs_in"),
                    F.col("n2").cast("bigint").alias("docs_out"),
                    F.when(
                        F.col("n1") > 0,
                        F.round(
                            (F.col("n1") - F.col("n2")) * 100.0
                            / F.col("n1"),
                            6,
                        ),
                    ).otherwise(0.0).alias("drop_pct"),
                ),
                F.struct(
                    F.lit(3).alias("stage_no"),
                    F.lit("exact_dedup").alias("stage"),
                    F.col("n2").cast("bigint").alias("docs_in"),
                    F.col("n3").cast("bigint").alias("docs_out"),
                    F.when(
                        F.col("n2") > 0,
                        F.round(
                            (F.col("n2") - F.col("n3")) * 100.0
                            / F.col("n2"),
                            6,
                        ),
                    ).otherwise(0.0).alias("drop_pct"),
                ),
            )
        ).alias("s")
    )
    return stages.select("s.*")


# ---------------------------------------------------------------------------
# pipeline_tokenizer_fertility
# ---------------------------------------------------------------------------


def _fertility_oracle() -> str:
    return (
        _bpe_duck_ctes(5)
        + """,
    wl AS (
      SELECT lang, t AS w, count(*) AS cnt
      FROM (SELECT lang, unnest(string_split(text, ' ')) AS t
            FROM documents) z
      GROUP BY 1, 2)
    SELECT lang, CAST(sum(wl.cnt) AS BIGINT) AS n_words,
           CAST(sum(wl.cnt * len(w5.syms)) AS BIGINT) AS total_bpe_tokens,
           round(CAST(sum(wl.cnt * len(w5.syms)) AS DOUBLE)
                 / sum(wl.cnt), 6) AS fertility
    FROM wl JOIN w5 ON wl.w = w5.w
    GROUP BY lang
    """
    )


@query("pipeline_tokenizer_fertility", oracle=_fertility_oracle())
def pipeline_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER FERTILITY by language — tokens-per-word under the
    5-merge BPE vocab pipeline_bpe_merges trains (shared training loop
    + CTE chain, so both ops pin the SAME merge sequence): fertility =
    sum(word_count * symbols_after_merges) / sum(word_count) per lang.
    Fertility is THE tokenizer-quality metric a multilingual
    pretraining mix is balanced on (Rust et al. 2021) — a language
    whose words fragment into many tokens pays more compute per word
    and needs its mixture weight adjusted (text_domain_mix_sample
    consumes exactly this signal).

    Scale shape: training is vocabulary-bounded after one corpus pass
    (pipeline_bpe_merges' argument); the re-tokenization here never
    touches document text again — the per-(lang, word) count table
    joins the folded word->n_symbols table on the word key, a plain
    shuffle equi-join on vocabulary-sized inputs (NOT broadcast: the
    vocab grows with corpus size, the text_ccnet_ppl_bucket lesson).
    All-integer arithmetic until the single final division."""
    _, words = _bpe_train(spark, sf_dir, 5)
    wt = words.select(F.col("t").alias("w"), F.size("syms").alias("n_sym"))
    d = table(spark, sf_dir, "documents")
    wl = (
        d.select("lang", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count("*").alias("cnt"))
    )
    tok = F.sum(F.col("cnt") * F.col("n_sym"))
    return (
        wl.join(wt, "w")
        .groupBy("lang")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_words"),
            tok.cast("bigint").alias("total_bpe_tokens"),
            F.round(tok.cast("double") / F.sum("cnt"), 6).alias("fertility"),
        )
    )


# ---------------------------------------------------------------------------
# pipeline_pareto_frontier
# ---------------------------------------------------------------------------


@query(
    "pipeline_pareto_frontier",
    oracle="""
    WITH dw AS (
      SELECT doc_id, n_chars,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
      FROM documents),
    g AS (SELECT n_chars, max(n_words) AS my FROM dw GROUP BY n_chars),
    sx AS (
      SELECT n_chars, my,
             max(my) OVER (ORDER BY n_chars
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS smax
      FROM g)
    SELECT d.doc_id, d.n_chars, d.n_words
    FROM dw d JOIN sx ON d.n_chars = sx.n_chars
    WHERE d.n_words = sx.my AND (sx.smax IS NULL OR sx.smax < sx.my)
    """,
)
def pipeline_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARETO (SKYLINE) corpus selection: documents on the token-
    density frontier — maximize whitespace-token count while
    minimizing character count; a doc survives iff no other doc is at
    least as good on both axes and strictly better on one. The
    multi-objective selection primitive behind "shortest docs that
    still carry the most content" curation cuts; ties (duplicate
    frontier points) all survive, matching standard skyline
    semantics.

    Scale shape — the two-pass VALUE-DOMAIN skyline, not a global
    sort: (1) per-x maxima via one hash aggregate over the bounded
    n_chars domain; (2) a strict-prefix running max ordered over that
    DOMAIN (thousands of distinct lengths at any corpus size — the
    win_running_total_range day-domain move); (3) a join back tags
    each doc in one pass. A doc is on the frontier iff it attains its
    length's max word count AND no strictly-shorter length reaches
    it. Never a single-partition sort of the corpus.

    Parity: all-integer comparisons — no floats anywhere."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.size(F.split("text", " ")).cast("bigint").alias("n_words"),
    )
    g = d.groupBy("n_chars").agg(F.max("n_words").alias("my"))
    wx = Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, -1)
    sx = g.select("n_chars", "my", F.max("my").over(wx).alias("smax"))
    return (
        d.join(F.broadcast(sx), "n_chars")
        .where(
            (F.col("n_words") == F.col("my"))
            & (F.col("smax").isNull() | (F.col("smax") < F.col("my")))
        )
        .select("doc_id", "n_chars", "n_words")
    )


# ---------------------------------------------------------------------------
# pipeline_dataset_diff
# ---------------------------------------------------------------------------

# Deterministic synthetic snapshots over the one documents fixture
# (the fixture has no history; the diff MACHINERY — content-hash
# manifests + full outer join — is the op):
#   snapshot A ("old")  = docs with doc_id % 10 != 0
#   snapshot B ("new")  = docs with doc_id % 13 != 0, and docs with
#                         doc_id % 7 == 0 carry edited text
_DIFF_A = "doc_id % 10 <> 0"
_DIFF_B = "doc_id % 13 <> 0"
_DIFF_EDIT = "doc_id % 7 = 0"


@query(
    "pipeline_dataset_diff",
    oracle=f"""
    WITH a AS (
      SELECT doc_id, source, sha256(text) AS h
      FROM documents WHERE {_DIFF_A}),
    b AS (
      SELECT doc_id, source,
             sha256(CASE WHEN {_DIFF_EDIT} THEN upper(text) ELSE text END)
               AS h
      FROM documents WHERE {_DIFF_B}),
    d AS (
      SELECT coalesce(a.source, b.source) AS source,
             CASE WHEN a.doc_id IS NULL THEN 'added'
                  WHEN b.doc_id IS NULL THEN 'removed'
                  WHEN a.h <> b.h THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM a FULL OUTER JOIN b USING (doc_id))
    SELECT source, status, CAST(count(*) AS BIGINT) AS n_docs
    FROM d GROUP BY source, status
    """,
)
def pipeline_dataset_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATASET SNAPSHOT DIFF — the data-versioning audit between two
    releases of a corpus: per (source, status) counts of added /
    removed / changed / unchanged documents, where "changed" is a
    CONTENT-HASH mismatch (sha-256 manifests — at 100 TB you diff
    manifests, never text; the hash columns here are exactly the rows
    pipeline_pretrain_manifest ships). Snapshots are synthesized
    deterministically from the one documents fixture (module
    constants above) — the machinery under test is the manifest
    join, not the snapshot rule.

    Scale shape: one full outer equi-join on the doc key (the
    manifests co-partition; with bucketed manifest tables it is
    shuffle-free), hashes computed scan-side so text never rides the
    shuffle, then a source-sized aggregate. Reference behavior
    analogue: the cache-invalidation / re-ingest decision
    (app.py:453) done set-wide instead of per-file.

    Parity: sha-256 of identical strings on both engines; statuses
    are pure CASE logic; integer counts."""
    d = table(spark, sf_dir, "documents")
    a = d.where(_DIFF_A).select(
        "doc_id", "source", F.sha2("text", 256).alias("h")
    )
    b = d.where(_DIFF_B).select(
        "doc_id",
        "source",
        F.sha2(
            F.expr(f"CASE WHEN {_DIFF_EDIT} THEN upper(text) ELSE text END"),
            256,
        ).alias("h"),
    )
    diff = a.alias("a").join(
        b.alias("b"), on="doc_id", how="full_outer"
    ).select(
        F.coalesce(F.col("a.source"), F.col("b.source")).alias("source"),
        F.when(F.col("a.h").isNull(), "added")
        .when(F.col("b.h").isNull(), "removed")
        .when(F.col("a.h") != F.col("b.h"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )
    return diff.groupBy("source", "status").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )


# ---------------------------------------------------------------------------
# pipeline_annotation_agreement
# ---------------------------------------------------------------------------

# Two deterministic weak labelers for "document length class": A reads
# raw characters, B reads whitespace tokens — real, imperfectly
# correlated proxies (exactly the disagreement pattern a labeling QA
# gate sees), not hash noise.
_ANN_A = (
    "CASE WHEN n_chars < 200 THEN 'short' "
    "WHEN n_chars < 350 THEN 'medium' ELSE 'long' END"
)
_ANN_B_DUCK = (
    "CASE WHEN len(string_split(text, ' ')) < 40 THEN 'short' "
    "WHEN len(string_split(text, ' ')) < 70 THEN 'medium' "
    "ELSE 'long' END"
)
_ANN_B_SPARK = (
    "CASE WHEN size(split(text, ' ')) < 40 THEN 'short' "
    "WHEN size(split(text, ' ')) < 70 THEN 'medium' "
    "ELSE 'long' END"
)


@query(
    "pipeline_annotation_agreement",
    oracle=f"""
    WITH lab AS (
      SELECT {_ANN_A} AS la, {_ANN_B_DUCK} AS lb FROM documents),
    cm AS (
      SELECT la, lb, CAST(count(*) AS BIGINT) AS c FROM lab GROUP BY 1, 2),
    marg AS (
      SELECT a.la AS lbl,
             CAST(ra.r AS BIGINT) AS row_a, CAST(cb.c AS BIGINT) AS col_b
      FROM (SELECT DISTINCT la FROM cm) a
      JOIN (SELECT la, sum(c) AS r FROM cm GROUP BY la) ra ON ra.la = a.la
      JOIN (SELECT lb, sum(c) AS c FROM cm GROUP BY lb) cb ON cb.lb = a.la),
    s AS (
      SELECT CAST((SELECT sum(c) FROM cm) AS BIGINT) AS n,
             CAST((SELECT sum(c) FROM cm WHERE la = lb) AS BIGINT) AS agree,
             CAST((SELECT sum(row_a * col_b) FROM marg) AS BIGINT) AS prod)
    SELECT n AS n_docs,
           round(CAST(agree AS DOUBLE) / n, 6) AS po,
           round(CAST(prod AS DOUBLE) / (n * n), 6) AS pe,
           round(CAST(agree * n - prod AS DOUBLE) / (n * n - prod), 6)
             AS kappa
    FROM s
    """,
)
def pipeline_annotation_agreement(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INTER-ANNOTATOR AGREEMENT (Cohen's kappa) between two
    deterministic weak labelers of document length class — the QA
    gate a labeling/weak-supervision pipeline runs before trusting a
    label source: raw agreement po means nothing when the label
    distribution is skewed; kappa corrects for chance agreement
    pe = sum_i p_A(i) * p_B(i). Labeler A classes by characters,
    labeler B by whitespace tokens (module constants) — genuinely
    correlated-but-imperfect proxies, so the confusion matrix has
    real off-diagonal mass.

    Exactness: kappa reduces to the EXACT INTEGER ratio
    (agree*n - sum_i rowA_i*colB_i) / (n^2 - sum_i rowA_i*colB_i) —
    one double division at the end, round(6); po and pe likewise
    single divisions of integers. No float ever enters the confusion
    counting.

    Scale shape: one scan -> |labels|^2 confusion aggregate
    (map-side combined); marginals and kappa live on the bounded
    label domain. One-row output."""
    d = table(spark, sf_dir, "documents")
    lab = d.selectExpr(f"{_ANN_A} AS la", f"{_ANN_B_SPARK} AS lb")
    cm = lab.groupBy("la", "lb").agg(
        F.count("*").cast("bigint").alias("c")
    )
    ra = cm.groupBy("la").agg(F.sum("c").cast("bigint").alias("row_a"))
    cb = cm.groupBy(F.col("lb").alias("la")).agg(
        F.sum("c").cast("bigint").alias("col_b")
    )
    marg = ra.join(cb, "la")
    s = (
        cm.agg(
            F.sum("c").cast("bigint").alias("n"),
            F.sum(F.when(F.col("la") == F.col("lb"), F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("agree"),
        )
        .crossJoin(
            F.broadcast(
                marg.agg(
                    F.sum(F.col("row_a") * F.col("col_b"))
                    .cast("bigint")
                    .alias("prod")
                )
            )
        )
    )
    return s.selectExpr(
        "n AS n_docs",
        "round(CAST(agree AS DOUBLE) / n, 6) AS po",
        "round(CAST(prod AS DOUBLE) / (n * n), 6) AS pe",
        "round(CAST(agree * n - prod AS DOUBLE) / (n * n - prod), 6)"
        " AS kappa",
    )


# ---------------------------------------------------------------------------
# pipeline_split_leakage_pairs
# ---------------------------------------------------------------------------


def _leakage_oracle() -> str:
    from .dedup import _DUCK_NGRAM_PAIRS, _DUCK_SHINGLES

    return f"""
    WITH sh AS ({_DUCK_SHINGLES}),
    pairs AS ({_DUCK_NGRAM_PAIRS}),
    sp AS (
      SELECT doc_id,
             CASE WHEN {_ROLL_DUCK} % 10 = 9 THEN 'val' ELSE 'train' END
               AS split
      FROM documents),
    x AS (
      SELECT CASE WHEN sa.split = 'train' THEN p.doc_a ELSE p.doc_b END
               AS doc_train,
             CASE WHEN sa.split = 'train' THEN p.doc_b ELSE p.doc_a END
               AS doc_val,
             p.jac
      FROM pairs p
      JOIN sp sa ON p.doc_a = sa.doc_id
      JOIN sp sb ON p.doc_b = sb.doc_id
      WHERE sa.split <> sb.split)
    SELECT doc_train, doc_val, jac AS jaccard
    FROM x ORDER BY jac DESC, doc_train, doc_val LIMIT 50
    """


@query("pipeline_split_leakage_pairs", oracle=_leakage_oracle())
def pipeline_split_leakage_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAIR-LEVEL SPLIT-LEAKAGE report: the worst 50 near-duplicate
    pairs that STRADDLE the train/val boundary, oriented (train doc,
    val doc) with their shingle-Jaccard score — the actionable form
    of pipeline_train_val_split's bucket-level leakage COUNT (a count
    says contamination exists; evals need the exact offending pairs
    to purge or re-bucket, because a val doc near-duplicating a train
    doc inflates every benchmark it appears in). Composes the two
    pipelines verbatim: dedup_ngram_jaccard's verified >= 0.2 pairs x
    pipeline_train_val_split's content-hash split.

    Scale shape: the pair list is the prefix-filtered candidate
    pipeline (never all-pairs); the split label is one map-side hash
    per doc joined onto pair endpoints by doc key; top-50 is
    orderBy+limit on the already-round(6) score with id tiebreaks.

    Parity: both inputs reuse the exact CTE text of their parent
    oracles; the orientation CASE and the filter compare exact
    strings."""
    from .dedup import dedup_ngram_jaccard

    pairs = dedup_ngram_jaccard(spark, sf_dir)
    sp = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.expr(_ROLL_SPARK) % 10 == 9, F.lit("val"))
        .otherwise("train")
        .alias("split"),
    )
    x = (
        pairs.join(
            sp.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("sa")),
            "doc_a",
        )
        .join(
            sp.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("sb")),
            "doc_b",
        )
        .where(F.col("sa") != F.col("sb"))
        .select(
            F.when(F.col("sa") == "train", F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("doc_train"),
            F.when(F.col("sa") == "train", F.col("doc_b"))
            .otherwise(F.col("doc_a"))
            .alias("doc_val"),
            F.col("jac").alias("jaccard"),
        )
    )
    return x.orderBy(
        F.col("jaccard").desc(), "doc_train", "doc_val"
    ).limit(50)


# ---------------------------------------------------------------------------
# pipeline_curriculum_order
# ---------------------------------------------------------------------------


def _curriculum_oracle() -> str:
    from .text import _STOPWORDS

    return f"""
    WITH t AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_filter(string_split(text, ' '),
                 w -> list_contains({_STOPWORDS}, w))) AS stop_hits,
             len(list_distinct(string_split(text, ' '))) AS n_distinct
      FROM documents),
    q AS (
      SELECT doc_id,
             round(0.5 * least(n_tokens / 64.0, 1.0)
                 + 0.25 * (1.0 - CAST(stop_hits AS DOUBLE) / n_tokens)
                 + 0.25 * (CAST(n_distinct AS DOUBLE) / n_tokens), 6)
               AS quality
      FROM t)
    SELECT doc_id, quality,
           CAST(row_number() OVER (ORDER BY quality DESC, doc_id)
                AS BIGINT) AS curriculum_rank
    FROM q
    """


@query("pipeline_curriculum_order", oracle=_curriculum_oracle())
def pipeline_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL CURRICULUM ORDERING: every document's rank under
    (quality DESC, doc_id) — the deterministic ordering a quality-
    curriculum training run feeds its data loader (clean data first;
    anti-curriculum is the same rank read backwards). The quality
    score is text_quality_score's exact formula (0.5*length-saturation
    + 0.25*(1 - stopword-ratio) + 0.25*distinct-ratio — reused by
    IMPORT on the Spark side and by the identical CTE text in the
    oracle).

    Scale shape — the two-pass VALUE-DOMAIN rank, never a global
    row_number over the corpus (pipeline_shard_assign's machinery on
    a float score): round(6) quantization makes the score domain a
    bounded grid (<= ~1.5e6 distinct values at ANY corpus size), so
    (1) per-score counts + an ordered cumulative over the DOMAIN give
    each score its global offset, (2) a PARTITIONED window ranks
    within each score bucket by doc_id, and offset + within-rank
    reproduces the exact total order. The oracle keeps the textbook
    global window.

    Parity: both engines compute the identical rounded score (exact
    integer ratios, shared formula shape), so bucket keys and ranks
    match exactly."""
    from .text import text_quality_score

    q = text_quality_score(spark, sf_dir).select("doc_id", "quality")
    cnt = q.groupBy("quality").agg(F.count("*").alias("c"))
    wd = Window.orderBy(F.col("quality").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    off = cnt.select(
        "quality",
        F.coalesce(F.sum("c").over(wd), F.lit(0)).cast("bigint").alias("off"),
    )
    wr = Window.partitionBy("quality").orderBy("doc_id")
    return (
        q.join(F.broadcast(off), "quality")
        .select(
            "doc_id",
            "quality",
            (F.col("off") + F.row_number().over(wr))
            .cast("bigint")
            .alias("curriculum_rank"),
        )
    )


# ---------------------------------------------------------------------------
# pipeline_token_budget_select
# ---------------------------------------------------------------------------

_TBS_BUDGET = 800  # per-source token budget (absolute, like a real one)


def _token_budget_oracle() -> str:
    from .text import _STOPWORDS

    return f"""
    WITH t AS (
      SELECT doc_id, source,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_filter(string_split(text, ' '),
                 w -> list_contains({_STOPWORDS}, w))) AS stop_hits,
             len(list_distinct(string_split(text, ' '))) AS n_distinct
      FROM documents),
    q AS (
      SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
             round(0.5 * least(n_tokens / 64.0, 1.0)
                 + 0.25 * (1.0 - CAST(stop_hits AS DOUBLE) / n_tokens)
                 + 0.25 * (CAST(n_distinct AS DOUBLE) / n_tokens), 6)
               AS quality
      FROM t),
    c AS (
      SELECT doc_id, source, quality, n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (
               PARTITION BY source ORDER BY quality DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_before
      FROM q)
    SELECT doc_id, source, quality, n_tokens, cum_before
    FROM c WHERE cum_before < {_TBS_BUDGET}
    """


@query("pipeline_token_budget_select", oracle=_token_budget_oracle())
def pipeline_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-BUDGET DATA SELECTION: per source, greedily keep the
    highest-quality documents until the source's token budget
    (_TBS_BUDGET = 800 tokens) is exhausted — the selection step of a
    budgeted pretraining recipe (fixed compute buys a fixed token
    count per domain; quality-first greedy is the standard
    data-selection baseline). A doc is kept iff the tokens of
    strictly-better docs (quality DESC, doc_id tiebreak) total under
    the budget, so the first doc of a source is always kept and the
    boundary doc may overshoot — the same greedy-pack convention as
    text_chunk_recursive's merge.

    Scale shape: NO per-source global sort — the running token total
    decomposes like pipeline_shard_assign's global rank, but over
    SUMS: (1) per-(source, quality) token subtotals, cumulated over
    the bounded quality DOMAIN (round(6) makes it a <= ~1.5e6-value
    grid) partitioned by source; (2) a window partitioned by
    (source, quality) cumulates tokens by doc_id within each grid
    cell; offset + within = the exact per-source running total. Both
    side tables broadcast; the corpus is touched by one scan + one
    fine-grained window.

    Parity: quality is the shared exact formula (integer ratios,
    round 6); token counts and running totals are exact integers; the
    budget cut is an integer compare."""
    from .text import text_quality_score

    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )
    q = (
        text_quality_score(spark, sf_dir)
        .select("doc_id", "quality")
        .join(d, "doc_id")
    )
    grp = q.groupBy("source", "quality").agg(
        F.sum("n_tokens").cast("bigint").alias("tb")
    )
    wd = (
        Window.partitionBy("source")
        .orderBy(F.col("quality").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = grp.select(
        "source",
        "quality",
        F.coalesce(F.sum("tb").over(wd), F.lit(0))
        .cast("bigint")
        .alias("off"),
    )
    ww = (
        Window.partitionBy("source", "quality")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = q.join(F.broadcast(off), ["source", "quality"]).select(
        "doc_id",
        "source",
        "quality",
        "n_tokens",
        (
            F.col("off")
            + F.coalesce(F.sum("n_tokens").over(ww), F.lit(0))
        )
        .cast("bigint")
        .alias("cum_before"),
    )
    return c.where(F.col("cum_before") < _TBS_BUDGET).select(
        "doc_id", "source", "quality", "n_tokens", "cum_before"
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
# pipeline_dedup_threshold_sensitivity
# ---------------------------------------------------------------------------

_SENS_TAUS = [50, 60, 70, 80, 90]  # Jaccard thresholds, percent


def _sens_oracle() -> str:
    from .dedup import (
        _DUCK_BANDS_RANKED,
        _DUCK_CAND_WHERE,
        _DUCK_CODES,
        _SIG_ORACLE,
    )

    rows = "\n    UNION ALL\n    ".join(
        f"SELECT CAST({t} AS BIGINT) AS tau_pct,"
        f" CAST(count(CASE WHEN jac >= {t / 100} THEN 1 END) AS BIGINT)"
        f" AS n_pairs,"
        f" CAST(count(DISTINCT CASE WHEN jac >= {t / 100} THEN doc_b END)"
        f" AS BIGINT) AS n_docs_removed,"
        f" (SELECT CAST(count(*) AS BIGINT) FROM documents) AS docs_total,"
        f" round(CAST(count(DISTINCT CASE WHEN jac >= {t / 100}"
        f" THEN doc_b END) AS DOUBLE)"
        f" / (SELECT count(*) FROM documents), 6) AS pct_docs_removed"
        f" FROM pairs"
        for t in _SENS_TAUS
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS t
      FROM documents),
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
    pairs AS MATERIALIZED (
      SELECT c.doc_b,
             CAST(len(list_intersect(ta.cs, tb.cs)) AS DOUBLE)
             / len(list_distinct(ta.cs || tb.cs)) AS jac
      FROM cand c JOIN codes ta ON c.doc_a = ta.doc_id
                  JOIN codes tb ON c.doc_b = tb.doc_id
      WHERE CAST(len(list_intersect(ta.cs, tb.cs)) AS DOUBLE)
            / len(list_distinct(ta.cs || tb.cs)) >= 0.5)
    {rows}
    ORDER BY tau_pct
    """


@query("pipeline_dedup_threshold_sensitivity", oracle=_sens_oracle())
def pipeline_dedup_threshold_sensitivity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DEDUP THRESHOLD SENSITIVITY SHEET — "what happens if we lower
    tau": for Jaccard thresholds 0.5..0.9 over dedup_near_minhash's
    OWN banding candidates, the verified pair count, the number of
    docs the keep-first policy would remove, and the removed share of
    the corpus.  The curation counterpart to text_minhash_band_tuning
    (which sweeps the BANDING scheme at fixed tau; this sweeps TAU at
    the fixed production banding) — together they span the two knobs
    of the LSH dedup stage.  One verified-pair table at the loosest
    tau (0.5) feeds every row: the threshold is a post-filter on the
    exact Jaccard, so the sweep costs ONE candidate verify, not five.

    Parity: jac = |A∩B| / |A∪B| is the same single division of exact
    integers on both engines (numpy float64 == IEEE SQL double), and
    each tau literal is the same double text, so the >= compares are
    bit-identical; counts are exact; one round(6) share per row.

    Shape at 100 TB: the banding equi-join + Arrow verify kernel is
    dedup_near_minhash's scale-audited plan (side-file codes, 16
    B/pair across Arrow); the sweep itself is 5 conditional
    aggregates over the checkpointed pair table (Expand x5 on
    pairs-at-0.5, still map-side combinable)."""
    from .dedup import _minhash_verified_pairs

    # session-cached ckpt pair table at the loosest tau (threshold is
    # a kernel post-filter; same codes side-file as the 0.7 op) —
    # referenced by all 5 tau rows
    pairs = _minhash_verified_pairs(spark, sf_dir, 0.5).select(
        "doc_b", "jac"
    )
    docs_total = (
        table(spark, sf_dir, "documents")
        .agg(F.count("*").cast("bigint").alias("docs_total"))
    )
    out = None
    for t in _SENS_TAUS:
        row = (
            pairs.agg(
                F.expr(
                    f"CAST(count(CASE WHEN jac >= {t / 100} THEN 1 END)"
                    " AS BIGINT)"
                ).alias("n_pairs"),
                F.expr(
                    f"CAST(count(DISTINCT CASE WHEN jac >= {t / 100}"
                    " THEN doc_b END) AS BIGINT)"
                ).alias("n_docs_removed"),
            )
            .crossJoin(F.broadcast(docs_total))
            .selectExpr(
                f"CAST({t} AS BIGINT) AS tau_pct",
                "n_pairs",
                "n_docs_removed",
                "docs_total",
                "round(CAST(n_docs_removed AS DOUBLE) / docs_total, 6)"
                " AS pct_docs_removed",
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("tau_pct")


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
# pipeline_filter_ablation
# ---------------------------------------------------------------------------


def _ablation_sql(dialect: str) -> str:
    from .text import (
        _GOPHER_MAX_DUPF,
        _GOPHER_MAX_MWL,
        _GOPHER_MAX_TOPR,
        _GOPHER_MAX_WORDS,
        _GOPHER_MIN_MWL,
        _GOPHER_MIN_STOP,
        _GOPHER_MIN_WORDS,
    )

    if dialect == "duck":
        metrics = """
      SELECT doc_id,
             len(tk) AS n_words,
             round((n_chars - len(tk) + 1.0) / len(tk), 6) AS mwl,
             len(list_filter(tk, w -> w IN ('the', 'a'))) AS stop_hits,
             CASE WHEN len(tk) >= 2 THEN
               round(1.0 - len(list_distinct(list_transform(
                       generate_series(1, len(tk) - 1),
                       i -> list_extract(tk, i) || ' '
                            || list_extract(tk, i + 1))))
                     / (len(tk) - 1.0), 6)
             ELSE 0.0 END AS dupf,
             round(list_max(list_transform(list_distinct(tk),
                     w -> len(list_filter(tk, x -> x = w))))
                   / (len(tk) * 1.0), 6) AS topr"""
        toks = "SELECT doc_id, string_split(text, ' ') AS tk, n_chars FROM documents"
        mat = " MATERIALIZED"  # DuckDB inlines every CTE reference
        fan = """
    SELECT 'all' AS stage, keep_all AS n_keep, keep_all, n_total FROM agg
    UNION ALL SELECT '1_words', wo1, keep_all, n_total FROM agg
    UNION ALL SELECT '2_word_len', wo2, keep_all, n_total FROM agg
    UNION ALL SELECT '3_stopwords', wo3, keep_all, n_total FROM agg
    UNION ALL SELECT '4_dup_bigram', wo4, keep_all, n_total FROM agg
    UNION ALL SELECT '5_top_word', wo5, keep_all, n_total FROM agg"""
    else:
        metrics = """
      SELECT doc_id,
             size(tk) AS n_words,
             round((n_chars - size(tk) + 1.0) / size(tk), 6) AS mwl,
             size(filter(tk, w -> w IN ('the', 'a'))) AS stop_hits,
             CASE WHEN size(tk) >= 2 THEN
               round(1.0 - size(array_distinct(transform(
                       sequence(1, size(tk) - 1),
                       i -> concat(element_at(tk, i), ' ',
                                   element_at(tk, i + 1)))))
                     / (size(tk) - 1.0), 6)
             ELSE 0.0 END AS dupf,
             round(array_max(transform(array_distinct(tk),
                     w -> size(filter(tk, x -> x = w))))
                   / (size(tk) * 1.0), 6) AS topr"""
        toks = "SELECT doc_id, split(text, ' ') AS tk, n_chars FROM documents"
        mat = ""
        fan = """
    SELECT stage, n_keep, keep_all, n_total FROM agg
    LATERAL VIEW stack(6,
      'all', keep_all,
      '1_words', wo1,
      '2_word_len', wo2,
      '3_stopwords', wo3,
      '4_dup_bigram', wo4,
      '5_top_word', wo5) AS stage, n_keep"""
    gates = [
        f"CASE WHEN n_words BETWEEN {_GOPHER_MIN_WORDS} AND"
        f" {_GOPHER_MAX_WORDS} THEN 1 ELSE 0 END",
        f"CASE WHEN mwl BETWEEN {_GOPHER_MIN_MWL} AND {_GOPHER_MAX_MWL}"
        " THEN 1 ELSE 0 END",
        f"CASE WHEN stop_hits >= {_GOPHER_MIN_STOP} THEN 1 ELSE 0 END",
        f"CASE WHEN dupf <= {_GOPHER_MAX_DUPF} THEN 1 ELSE 0 END",
        f"CASE WHEN topr <= {_GOPHER_MAX_TOPR} THEN 1 ELSE 0 END",
    ]
    gcols = ",\n             ".join(
        f"({g}) AS g{i}" for i, g in enumerate(gates, 1)
    )
    prod_all = " * ".join(f"g{i}" for i in range(1, 6))
    wo = ",\n             ".join(
        "CAST(sum("
        + " * ".join(f"g{j}" for j in range(1, 6) if j != i)
        + f") AS BIGINT) AS wo{i}"
        for i in range(1, 6)
    )
    return f"""
    WITH m AS (
      {toks}),
    s AS ({metrics}
      FROM m),
    f AS (
      SELECT doc_id,
             {gcols}
      FROM s),
    agg AS{mat} (
      SELECT CAST(count(*) AS BIGINT) AS n_total,
             CAST(sum({prod_all}) AS BIGINT) AS keep_all,
             {wo}
      FROM f)
    SELECT stage, n_keep, n_keep - keep_all AS marginal_removed_by_gate,
           n_total,
           round(CAST(n_keep AS DOUBLE) / n_total, 6) AS keep_rate
    FROM ({fan}) u
    ORDER BY stage
    """


@query("pipeline_filter_ablation", oracle=_ablation_sql("duck"))
def pipeline_filter_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAVE-ONE-OUT ABLATION of the five Gopher quality gates
    (text_gopher_rules' exact thresholds): for each gate, the corpus
    keep-count when ONLY that gate is dropped, and the marginal
    document count that gate ALONE removes (n_keep - keep_all) — the
    threshold-tuning sheet a curation engineer reads that the per-doc
    keep_flag cannot show, because a document failing several gates
    at once is invisible to single-gate counts.  Completes the
    curation-funnel family: pipeline_curation_funnel measures the
    SEQUENTIAL funnel; this op measures each gate's UNIQUE
    contribution.

    Parity: the five metric expressions mirror text_gopher_rules
    verbatim INCLUDING its round(...,6) on the three ratio metrics —
    so this op's 'all' keep-count equals the sibling's keep_flag sum
    by construction, not just numerically; counts are exact integers,
    flags compare identical doubles, one round(6) rate at the edge.

    Shape at 100 TB: ONE narrow map pass computes all five flags; one
    1-row conditional aggregate (map-side combined) carries the six
    counts; the fan-out to 6 stage rows is a Spark stack() over that
    single 1-row reference (no UNION re-derivation — and the DuckDB
    twin's agg CTE is MATERIALIZED for the same reason)."""
    d = table(spark, sf_dir, "documents")
    d.createOrReplaceTempView("documents")
    return spark.sql(_ablation_sql("spark"))


# ---------------------------------------------------------------------------
# pipeline_alpha_sampling_weights
# ---------------------------------------------------------------------------


def _alpha_sql(dialect: str) -> str:
    split = (
        "len(string_split(text, ' '))"
        if dialect == "duck"
        else "size(split(text, ' '))"
    )
    mat = " MATERIALIZED" if dialect == "duck" else ""
    return f"""
    WITH cur AS{mat} (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum({split}) AS BIGINT) AS tokens
      FROM documents GROUP BY source),
    tot AS (
      SELECT CAST(sum(tokens) AS BIGINT) AS total_tokens FROM cur),
    q AS (
      SELECT source, n_docs, tokens, total_tokens,
             CAST(round(sqrt(CAST(tokens AS DOUBLE) / total_tokens), 9)
                  AS DECIMAL(28,9)) AS qt
      FROM cur CROSS JOIN tot),
    z AS (
      SELECT *, (SELECT CAST(sum(qt) AS DECIMAL(38,9)) FROM q) AS zq
      FROM q)
    SELECT source, n_docs, tokens,
           round(CAST(tokens AS DOUBLE) / total_tokens, 6) AS p_frac,
           round(CAST(qt AS DOUBLE) / CAST(zq AS DOUBLE), 6)
             AS alpha_weight,
           round((CAST(qt AS DOUBLE) / CAST(zq AS DOUBLE))
                 / (CAST(tokens AS DOUBLE) / total_tokens), 6) AS boost
    FROM z ORDER BY source
    """


@query("pipeline_alpha_sampling_weights", oracle=_alpha_sql("duck"))
def pipeline_alpha_sampling_weights(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ALPHA-TEMPERATURE SAMPLING WEIGHTS (alpha = 0.5) per source —
    the XLM-R / mT5 multilingual mixing rule q_i ~ p_i^alpha: small
    sources get up-weighted (boost > 1), dominant sources damped,
    without the hand-set targets pipeline_mixture_reweight needs
    (that op takes target fractions as CONFIG; this one derives the
    standard size-based smoothing every multilingual pretraining run
    starts from).

    Parity: p_i divides exact token counts; sqrt is correctly-rounded
    IEEE on identical doubles; each q-term quantizes round(9) into
    DECIMAL(28,9) BEFORE the cross-source normalizer sum (the
    dynamic-BM25 rule — a 20-source float sum has no pinned order),
    and the final weights divide the exact decimal sum once,
    round(6).

    Shape at 100 TB: one map-side-combined per-source aggregate, a
    1-row total, and a |sources|-row projection — the same shape as
    pipeline_mixture_reweight."""
    d = table(spark, sf_dir, "documents")
    d.createOrReplaceTempView("documents")
    return spark.sql(_alpha_sql("spark"))
