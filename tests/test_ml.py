"""Recall and determinism checks for the ML-backed operators
(SURVEY.md §5: rows-only ops get self-computed recall/Jaccard
assertions instead of a DuckDB oracle)."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def exact_top3(spark, sf_dir):
    """Ground truth: exact cosine top-3 per query (vec_id<10)."""
    from vectordb_agentic_rag_spark.operators.vector import vec_cosine_topk_per_query

    rows = vec_cosine_topk_per_query(spark, sf_dir).collect()
    truth = {}
    for r in rows:
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)
    return truth


def _recall(approx_rows, truth):
    hit = tot = 0
    got = {}
    for r in approx_rows:
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    for q, t in truth.items():
        tot += len(t)
        hit += len(t & got.get(q, set()))
    return hit / tot


def test_lsh_ann_recall(spark, sf_dir, exact_top3):
    from vectordb_agentic_rag_spark.operators.ml import vec_lsh_ann

    rows = vec_lsh_ann(spark, sf_dir).collect()
    assert _recall(rows, exact_top3) >= 0.5  # euclidean-LSH vs cosine truth


def test_ivf_ann_recall(spark, sf_dir, exact_top3):
    from vectordb_agentic_rag_spark.operators.ml import vec_ivf_ann

    rows = vec_ivf_ann(spark, sf_dir).collect()
    # probing 2/16 lists: recall well above the 1/8 random baseline
    assert _recall(rows, exact_top3) >= 0.5


def test_mmr_matches_reference_algorithm(spark, sf_dir):
    """vec_mmr_rerank (the shared MMR expression) == independent Python greedy
    MMR on the same candidates (the app.py:261-268 semantics)."""
    from vectordb_agentic_rag_spark.functions.vector import cosine
    from vectordb_agentic_rag_spark.operators.ml import mmr_select, vec_mmr_rerank
    from vectordb_agentic_rag_spark.tables import table

    emb = table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    cand = (
        emb.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "embedding",
            F.round(F.expr(cosine("embedding", "qv")), 6).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(20)
        .collect()
    )
    expected = mmr_select(
        [(r.vec_id, [float(x) for x in r.embedding], r.sim) for r in cand],
        k=5,
        lam=0.5,
    )
    got = sorted(vec_mmr_rerank(spark, sf_dir).collect(), key=lambda r: r.rank)
    assert [r.vec_id for r in got] == [vid for vid, _ in expected]
    # first MMR pick is always the highest-sim candidate
    assert got[0].vec_id == cand[0].vec_id


def test_mmr_diversity_differs_from_pure_topk(spark, sf_dir):
    """MMR must actually diversify: with lambda=0.5 the selected set is
    not simply the top-5 by similarity (unless the data is degenerate —
    in which case this documents it)."""
    from vectordb_agentic_rag_spark.operators.ml import vec_mmr_rerank
    from vectordb_agentic_rag_spark.operators.vector import vec_cosine_topk

    mmr_ids = {r.vec_id for r in vec_mmr_rerank(spark, sf_dir).collect()}
    top_ids = {r.vec_id for r in vec_cosine_topk(spark, sf_dir).collect()}
    assert len(mmr_ids) == 5
    # overlap expected, identity not required; just assert both valid
    assert mmr_ids & top_ids, "MMR should retain at least the top match"


def test_tfidf_deterministic(spark, sf_dir):
    from vectordb_agentic_rag_spark.operators.ml import text_tfidf_embed

    a = {r.doc_id: r.tfidf for r in text_tfidf_embed(spark, sf_dir).collect()}
    b = {r.doc_id: r.tfidf for r in text_tfidf_embed(spark, sf_dir).collect()}
    assert a == b
    # CSV-serialized 64-dim vector (driver hasher can't take list cells)
    assert all(len(v.split(",")) == 64 for v in a.values())


def test_termfreq_embed_counts(spark, sf_dir):
    """TF vector entries equal actual token counts for a sampled doc."""
    from vectordb_agentic_rag_spark.operators.ml import _VOCAB, text_termfreq_embed
    from vectordb_agentic_rag_spark.tables import table

    tf = {
        r.doc_id: [int(x) for x in r.tf.split(",")]
        for r in text_termfreq_embed(spark, sf_dir).collect()
    }
    doc = table(spark, sf_dir, "documents").where(F.col("doc_id") == 3).collect()[0]
    toks = doc.text.split(" ")
    for i, v in enumerate(_VOCAB):
        assert tf[3][i] == toks.count(v)


def test_pq_ann_recall(spark, sf_dir, exact_top3):
    from vectordb_agentic_rag_spark.operators.ml import vec_pq_ann

    rows = vec_pq_ann(spark, sf_dir).collect()
    # 8 subspaces x 16 centroids on 64-dim unit vectors: ADC ranking
    # recovers most of the exact-cosine top-3
    assert _recall(rows, exact_top3) >= 0.5


def test_ivfpq_ann_recall(spark, sf_dir, exact_top3):
    from vectordb_agentic_rag_spark.operators.ml import vec_ivfpq_ann

    rows = vec_ivfpq_ann(spark, sf_dir).collect()
    # probing 6 of 16 lists on top of ADC ranking loses a little recall
    # vs full-scan PQ; the floor documents the tradeoff
    assert _recall(rows, exact_top3) >= 0.4
    # every query must still return a full top-3
    from collections import Counter

    per_q = Counter(r.query_id for r in rows)
    assert all(n == 3 for n in per_q.values()) and len(per_q) == 10


def test_recall_guard_raises_on_broken_codebook(spark, sf_dir, monkeypatch):
    """The in-plan recall guard must FAIL the query when the model
    collapses — a zeroed ADC lookup table makes every candidate score
    identical, the shortlist degenerates to first-60-by-id, and
    recall drops under the floor: assert_true must raise instead of
    returning plausible-looking rows (the failure mode rows-only
    driver checks cannot see)."""
    from vectordb_agentic_rag_spark.operators import ml

    ml.vec_pq_ann(spark, sf_dir).collect()  # healthy pipeline first
    monkeypatch.setattr(
        ml, "_pq16_lut_expr", lambda: "CAST(0 AS DECIMAL(18,9))"
    )
    with pytest.raises(Exception, match="recall collapse"):
        ml.vec_pq_ann(spark, sf_dir).collect()


def test_semantic_purge_scaled_k_path(spark, sf_dir, monkeypatch):
    """Force the k>4 coarse-quantizer path (the SCALE.md fix for the
    super-linear fixed-k purge) at fixture scale and verify it against
    a numpy brute force: cells partition the corpus, and within every
    cell the keep-first purge set matches exactly."""
    import numpy as np
    import pandas as pd
    from vectordb_agentic_rag_spark.operators import dedup

    monkeypatch.setattr(dedup, "_PURGE_CELL_TARGET", 64)  # 500 vecs -> k=7
    assert dedup._purge_k(sf_dir) > 4
    asg = dedup._purge_assignments(spark, sf_dir).toPandas()
    assert asg["vec_id"].nunique() == len(asg)  # partition, no dup/drop
    got = dedup.dedup_semantic_cluster_purge(spark, sf_dir).toPandas()

    e_cols = [f"e{i}" for i in range(1, 9)]
    x = asg[e_cols].to_numpy()
    nrm = np.sqrt((x * x).sum(1))
    want = {}
    for cl, grp in asg.groupby("cl"):
        idx = grp.index.to_numpy()
        ids = grp["vec_id"].to_numpy()
        order = np.argsort(ids)
        idx, ids = idx[order], ids[order]
        cos = (x[idx] @ x[idx].T) / np.outer(nrm[idx], nrm[idx])
        cos = np.round(cos, 6)
        for bi in range(len(ids)):
            dup_of = [ids[ai] for ai in range(bi) if cos[ai, bi] >= 0.8]
            if dup_of:
                want[int(ids[bi])] = (int(cl), int(min(dup_of)))
    got_map = {
        int(r.vec_id): (int(r.cluster_id), int(r.dup_of))
        for r in got.itertuples()
    }
    assert got_map == want
    assert len(want) > 0  # the threshold actually fires at this k


def test_ann_pareto_table_shape_and_consistency(spark, sf_dir):
    """vec_ann_latency_recall_pareto: fixed 9 operating points, a
    non-empty pareto frontier consistent with a Python re-derivation
    over (recall, latency), candidate fractions monotone within each
    family grid, and the IVF rows equal to vec_ann_recall_sweep's."""
    from vectordb_agentic_rag_spark.operators.ml import (
        vec_ann_latency_recall_pareto,
        vec_ann_recall_sweep,
    )

    rows = vec_ann_latency_recall_pareto(spark, sf_dir).collect()
    assert len(rows) == 9
    fams = {}
    for r in rows:
        fams.setdefault(r.family, []).append(r)
    assert set(fams) == {"ivf", "lsh", "pq", "ivfpq"}
    assert [r.param for r in sorted(fams["ivf"], key=lambda r: r.param)] == [1, 2, 4, 8]
    assert [r.param for r in sorted(fams["lsh"], key=lambda r: r.param)] == [1, 2, 4]
    for fam_rows in fams.values():
        fam_rows.sort(key=lambda r: r.param)
        fracs = [r.candidate_frac for r in fam_rows]
        assert fracs == sorted(fracs)  # nested candidate sets
    # pareto flag == plain-Python dominance over (recall, latency)
    for a in rows:
        dominated = any(
            b.recall_at_3 >= a.recall_at_3
            and b.latency_ms <= a.latency_ms
            and (b.recall_at_3 > a.recall_at_3 or b.latency_ms < a.latency_ms)
            for b in rows
        )
        assert a.pareto == (0 if dominated else 1)
    assert any(r.pareto == 1 for r in rows)
    # IVF rows come from the sweep, verbatim
    sweep = {r.nprobe: r for r in vec_ann_recall_sweep(spark, sf_dir).collect()}
    for r in fams["ivf"]:
        assert r.recall_at_3 == sweep[r.param].recall_at_3
        assert r.candidate_frac == sweep[r.param].candidate_frac


def test_ann_pareto_raises_on_broken_codebook(spark, sf_dir, monkeypatch):
    """The pareto table must not emit rows when a family's model
    collapses: the PQ point reads vec_pq_ann's guarded output, whose
    assert_true raises on a zeroed ADC lookup table."""
    from vectordb_agentic_rag_spark.operators import ml

    monkeypatch.setattr(
        ml, "_pq16_lut_expr", lambda: "CAST(0 AS DECIMAL(18,9))"
    )
    with pytest.raises(Exception, match="recall collapse"):
        ml.vec_ann_latency_recall_pareto(spark, sf_dir).collect()


def test_prefilter_vs_postfilter_invariants():
    """Structural invariants of the filtered-ANN operating table
    (fixture-robust, unlike the raw recall numbers): candidate
    monotonicity in selectivity, post-filter volume constant across
    filters, hits <= returned <= 30, recall = hits/30, and the
    post-filter starvation effect at the selective filter (shortlist
    20 x ~10% selectivity cannot fill 30 slots)."""
    import duckdb

    from vectordb_agentic_rag_spark.operators.ml import _pfpf_oracle

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        "'/root/testdata/sf0.01/embeddings.parquet'"
    )
    rows = con.execute(_pfpf_oracle()).fetchall()
    assert len(rows) == 6
    by = {(r[0], r[1]): r for r in rows}
    post_cand = {by[(f, "post_filter")][3] for f in (0, 1, 2)}
    assert len(post_cand) == 1  # filter-agnostic index volume
    pre_cands = [by[(f, "pre_filter")][3] for f in (0, 1, 2)]
    assert pre_cands == sorted(pre_cands)  # monotone in selectivity
    for r in rows:
        fid, strat, cpass, cand, returned, hits, recall = r
        assert 0 <= hits <= returned <= 30
        assert abs(recall - round(hits / 30, 6)) < 1e-9
        assert by[(fid, "pre_filter")][3] <= by[(fid, "post_filter")][3]
    # starvation: the 10% filter cannot fill a 20-deep shortlist's
    # top-3 for all 10 queries
    assert by[(0, "post_filter")][4] < 30
    assert by[(0, "pre_filter")][4] == 30


def test_ivf_list_balance_audit_invariants(spark, sf_dir):
    """Conservation, share sum, gini in [0, 1), determinism across
    two calls in one session (centroid cache)."""
    from vectordb_agentic_rag_spark.operators.ml import (
        vec_ivf_list_balance_audit,
    )

    rows = vec_ivf_list_balance_audit(spark, sf_dir).collect()
    assert 1 <= len(rows) <= 16
    total_share = sum(r["share"] for r in rows)
    assert abs(total_share - 1.0) < 1e-4
    g = rows[0]["gini"]
    assert 0.0 <= g < 1.0
    assert all(r["gini"] == g for r in rows)
    assert rows[0]["max_to_mean"] >= 1.0
    again = vec_ivf_list_balance_audit(spark, sf_dir).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in rows]
