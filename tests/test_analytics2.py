"""Invariant + plan tests for the round-6 third-wave operators
(operators/analytics2.py): curation rules, perplexity buckets, span
dedup, graph triangles, eval metrics, classical statistics."""

from __future__ import annotations

import numpy as np
import pandas as pd

from vectordb_agentic_rag_spark import QUERIES, load_all_operators
from tests.test_plans import plan_of

load_all_operators()

SF = "/root/testdata/sf0.001"


# ------------------------------------------------------------------ gopher


def test_gopher_keep_flag_is_consistent(spark):
    pdf = QUERIES["text_gopher_rules"](spark, SF).toPandas()
    re_keep = (
        pdf["n_words"].between(15, 90)
        & pdf["mean_word_len"].between(3.0, 10.0)
        & (pdf["stopword_hits"] >= 1)
        & (pdf["dup_bigram_frac"] <= 0.25)
        & (pdf["top_word_ratio"] <= 0.12)
    ).astype("int64")
    assert (pdf["keep_flag"] == re_keep).all()
    assert pdf["keep_flag"].sum() > 0  # rules keep a non-empty slice


def test_gopher_is_single_map_pass(spark):
    # every metric is a higher-order function over the token array —
    # the plan must contain NO shuffle at all
    plan = plan_of(QUERIES["text_gopher_rules"](spark, SF))
    assert "Exchange" not in plan


# ------------------------------------------------------------- ppl bucket


def test_ccnet_buckets_are_balanced_and_ordered(spark):
    pdf = QUERIES["text_ccnet_ppl_bucket"](spark, SF).toPandas()
    assert set(pdf["ppl_bucket"].unique()) <= {1, 2, 3}
    for lang, g in pdf.groupby("lang"):
        sizes = g["ppl_bucket"].value_counts()
        if len(sizes) == 3:  # tiny langs may not fill 3 buckets
            assert sizes.max() - sizes.min() <= 1  # ntile balance
            # tercile ordering: head scores <= tail scores
            assert (
                g.loc[g.ppl_bucket == 1, "avg_nll"].max()
                <= g.loc[g.ppl_bucket == 3, "avg_nll"].min()
            )


# -------------------------------------------------------------- span dedup


def test_span_dedup_ratio_bounds(spark):
    pdf = QUERIES["dedup_span_ngram"](spark, SF).toPandas()
    assert (pdf["n_dup_spans"] <= pdf["n_spans"]).all()
    assert pdf["dup_ratio"].between(0, 1).all()
    # strided span count: docs with >= 8 tokens emit
    # ceil((n_tokens - 8 + 1) / 4) spans
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    ntok = docs["text"].str.split(" ").str.len()
    expect = ((ntok - 8) // 4 + 1).clip(lower=0)
    expect = expect[ntok >= 8]
    assert pdf["n_spans"].sum() == int(expect.sum())


# --------------------------------------------------------------- triangles


def test_triangles_match_bruteforce(spark):
    pdf = QUERIES["graph_triangle_cosupply"](spark, SF).toPandas()
    li = pd.read_parquet(f"{SF}/lineitem.parquet")[
        ["l_orderkey", "l_suppkey"]
    ].drop_duplicates()
    m = li.merge(li, on="l_orderkey")
    e = (
        m[m.l_suppkey_x < m.l_suppkey_y]
        .groupby(["l_suppkey_x", "l_suppkey_y"])
        .size()
        .reset_index(name="n")
    )
    e = e[e.n >= 3][["l_suppkey_x", "l_suppkey_y"]]
    edges = set(map(tuple, e.values))
    adj: dict = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
    counts: dict = {}
    for u, vs in adj.items():
        for v in vs:
            for w in adj.get(v, ()):  # u<v<w by construction
                if w in vs:
                    for n in (u, v, w):
                        counts[n] = counts.get(n, 0) + 1
    want = sorted(
        counts.items(), key=lambda kv: (-kv[1], kv[0])
    )[:20]
    got = list(zip(pdf["s_suppkey"], pdf["tri_count"]))
    assert got == [(int(k), int(c)) for k, c in want]


def test_triangle_closure_is_semi_join(spark):
    # round-14: the wedge pass runs once per session (_tri_per_node is
    # checkpointed, shared with graph_clustering_coefficient); the
    # closure shape is pinned on the LAZY derivation, the op plan on
    # its own tail
    from vectordb_agentic_rag_spark.operators.graph import _tri_per_node_plan

    tri_plan = plan_of(_tri_per_node_plan(spark, SF))
    assert "LeftSemi" in tri_plan  # wedges close via semi-join
    assert "CartesianProduct" not in tri_plan
    # degree-oriented: the wedge self-join pivots on the oriented
    # source key s (both join keys named s), never the raw u/v ids
    assert "Left keys [1]: [s#" in tri_plan, tri_plan[:3000]
    plan = plan_of(QUERIES["graph_triangle_cosupply"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


# ------------------------------------------------------------ eval metrics


def test_ndcg_bounds_and_constant_idcg(spark):
    pdf = QUERIES["rag_eval_ndcg"](spark, SF).toPandas()
    assert pdf["ndcg_10"].between(0, 1.000001).all()
    # every query has a full truth top-10 -> IDCG identical everywhere
    assert pdf["idcg_10"].nunique() == 1


def test_rbo_bounds_and_zero_iff_disjoint(spark):
    pdf = QUERIES["rag_rbo_overlap"](spark, SF).toPandas()
    assert pdf["rbo_10"].between(0, 1).all()
    assert pdf["overlap_at_10"].between(0, 10).all()
    disjoint = pdf["overlap_at_10"] == 0
    assert (pdf.loc[disjoint, "rbo_10"] == 0).all()
    assert (pdf.loc[~disjoint, "rbo_10"] > 0).all()


# ----------------------------------------------------------------- cusum


def test_cusum_matches_numpy_replay(spark):
    pdf = QUERIES["win_cusum_changepoint"](spark, SF).toPandas()
    assert ((pdf["n_alarms"] > 0).astype("int64") == pdf["alarmed"]).all()
    assert (pdf["max_cusum"] >= 0).all()
    ev = pd.read_parquet("/root/testdata/sf0.001/events.parquet")
    uid = int(pdf.iloc[0]["user_id"])
    g = ev[ev.user_id == uid].sort_values(["ts", "event_id"])
    x = np.round(g["value"].to_numpy(), 6)
    m = np.sum(x) / len(x)
    s = mx = 0.0
    al = 0
    for xi in x:
        s = max(0.0, s + xi - m - 40.0)
        mx = max(mx, s)
        al += int(s > 200.0)
    row = pdf[pdf.user_id == uid].iloc[0]
    assert row["n_alarms"] == al
    assert abs(row["max_cusum"] - round(mx, 6)) < 1e-5


# ----------------------------------------------------------- decayed count


def test_decayed_count_bounds(spark):
    pdf = QUERIES["agg_decayed_count"](spark, SF).toPandas()
    assert (pdf["decayed_count"] <= pdf["n_events"] + 1e-9).all()
    assert (pdf["decayed_count"] >= pdf["n_events"] * 2 ** -8 - 1e-9).all()


# ----------------------------------------------------------------- welch


def test_welch_matches_pandas(spark):
    row = QUERIES["agg_welch_ttest"](spark, SF).toPandas().iloc[0]
    li = pd.read_parquet(f"{SF}/lineitem.parquet")[["l_partkey", "l_quantity"]]
    pt = pd.read_parquet(f"{SF}/part.parquet")[["p_partkey", "p_type"]]
    j = li.merge(pt, left_on="l_partkey", right_on="p_partkey")
    promo = j[j.p_type.str.startswith("PROMO")]["l_quantity"]
    other = j[~j.p_type.str.startswith("PROMO")]["l_quantity"]
    assert row["n_promo"] == len(promo) and row["n_other"] == len(other)
    v1, v0 = promo.var(ddof=1), other.var(ddof=1)
    se2 = v1 / len(promo) + v0 / len(other)
    t = (promo.mean() - other.mean()) / np.sqrt(se2)
    assert abs(row["t_stat"] - t) < 1e-4


# ------------------------------------------------------------- chi-square


def test_chi_square_nonnegative_and_counts(spark):
    row = QUERIES["agg_chi_square_independence"](spark, SF).toPandas().iloc[0]
    ev = pd.read_parquet(f"{SF}/events.parquet")
    assert row["n_events"] == len(ev)
    assert row["chi2_stat"] >= 0
    net = ev["event_type"].nunique()
    ndow = (ev["ts"].dt.day % 7).nunique()
    assert row["dof"] == (net - 1) * (ndow - 1)


# --------------------------------------------------------- seasonal naive


def test_seasonal_naive_counts(spark):
    pdf = QUERIES["win_seasonal_naive_mae"](spark, SF).toPandas()
    assert ((pdf["n_days"] - pdf["n_forecast"]).clip(lower=0) <= 7).all()
    assert (pdf["n_forecast"] == (pdf["n_days"] - 7).clip(lower=0)).all()
    assert (pdf["mae"] >= 0).all()


# ------------------------------------------------------------ mann-whitney


def test_mann_whitney_matches_pandas_ranks(spark):
    row = QUERIES["agg_mann_whitney_u"](spark, SF).toPandas().iloc[0]
    ev = pd.read_parquet(f"{SF}/events.parquet")
    ev = ev[ev.event_type.isin(["purchase", "click"])]
    ranks = ev["value"].rank(method="average")
    r1 = ranks[ev.event_type == "purchase"].sum()
    n1 = (ev.event_type == "purchase").sum()
    n2 = (ev.event_type == "click").sum()
    u1 = r1 - n1 * (n1 + 1) / 2
    assert row["n_purchase"] == n1 and row["n_click"] == n2
    assert abs(row["u_stat"] - u1) < 0.51


# ---------------------------------------------------------- curation funnel


def test_curation_funnel_chains_and_matches_parts(spark):
    pdf = (
        QUERIES["pipeline_curation_funnel"](spark, SF)
        .toPandas()
        .sort_values("stage_no")
        .reset_index(drop=True)
    )
    # stage k's input is stage k-1's output; counts only shrink
    assert (pdf["docs_out"] <= pdf["docs_in"]).all()
    assert (
        pdf["docs_in"].iloc[1:].to_numpy()
        == pdf["docs_out"].iloc[:-1].to_numpy()
    ).all()
    gopher = QUERIES["text_gopher_rules"](spark, SF).toPandas()
    assert pdf.iloc[0]["docs_out"] == gopher["keep_flag"].sum()
    assert pdf.iloc[0]["docs_in"] == len(gopher)


# --------------------------------------------------------- more plan pins


def test_welch_dimension_join_is_broadcast(spark):
    plan = plan_of(QUERIES["agg_welch_ttest"](spark, SF))
    assert "BroadcastHashJoin" in plan  # part dim never shuffles the fact
    assert "SortMergeJoin" not in plan


def test_decayed_count_broadcasts_the_scalar_max(spark):
    plan = plan_of(QUERIES["agg_decayed_count"](spark, SF))
    # the global max-ts is a 1-row broadcast into the map pass — the
    # fact table must never shuffle for it
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "pow" not in plan.lower()  # weights are integer shifts, never pow()


def test_seasonal_naive_has_no_global_sort(spark):
    plan = plan_of(QUERIES["win_seasonal_naive_mae"](spark, SF))
    assert "Exchange rangepartitioning" not in plan
    assert "SortMergeJoin" not in plan


def test_ndcg_matches_pandas_recompute(spark):
    # independent recompute (numpy, not the DuckDB oracle): rebuild
    # both rankings from the raw embeddings and re-derive NDCG@10
    pdf = QUERIES["rag_eval_ndcg"](spark, SF).toPandas()
    emb = pd.read_parquet(f"{SF}/embeddings.parquet")
    M = np.vstack(emb["embedding"].to_numpy())
    ids = emb["vec_id"].to_numpy()
    q, c = M[ids < 10], M[ids >= 10]
    qid, cid = ids[ids < 10], ids[ids >= 10]
    cos = (c @ q.T) / (
        np.linalg.norm(c, axis=1)[:, None] * np.linalg.norm(q, axis=1)[None, :]
    )
    ham = ((c > 0)[:, None, :] != (q > 0)[None, :, :]).sum(axis=2)
    for j, qv in enumerate(qid):
        order_t = np.lexsort((cid, -np.round(cos[:, j], 6)))[:10]
        order_s = np.lexsort((cid, ham[:, j]))[:10]
        gain = {cid[n]: 10 - r for r, n in enumerate(order_t)}
        dcg = sum(
            (2 ** gain.get(cid[n], 0) - 1) / np.log2(p + 2)
            for p, n in enumerate(order_s)
        )
        idcg = sum((2 ** (10 - r) - 1) / np.log2(r + 2) for r in range(10))
        want = dcg / idcg
        got = pdf.loc[pdf.query_id == qv, "ndcg_10"].iloc[0]
        assert abs(got - want) < 1e-4, (qv, got, want)


def test_gopher_survives_one_word_docs(spark, tmp_path):
    # Spark sequence(1, 0) infers step -1 ([1, 0] -> ANSI index crash)
    # — the dup-bigram metric must be guarded for 1-token docs
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["word", "two words", "the a the a"],
            "lang": ["en"] * 3,
            "source": ["src0"] * 3,
            "n_chars": [4, 9, 11],
        }
    )
    docs.to_parquet(tmp_path / "documents.parquet")
    pdf = (
        QUERIES["text_gopher_rules"](spark, str(tmp_path))
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert pdf["dup_bigram_frac"].iloc[0] == 0.0  # guarded, not crashed
    assert pdf["n_words"].tolist() == [1, 2, 4]
    assert pdf["keep_flag"].tolist() == [0, 0, 0]  # all fail word-count
    # doc 3: bigrams = (the a, a the, the a) -> 1 dup of 3
    assert abs(pdf["dup_bigram_frac"].iloc[2] - round(1 - 2 / 3, 6)) < 1e-9


# ------------------------------------------------------------------ KS test


def test_ks_matches_numpy_ecdf(spark):
    row = QUERIES["agg_ks_test_two_sample"](spark, SF).toPandas().iloc[0]
    ev = pd.read_parquet(f"{SF}/events.parquet")
    a = np.sort(ev.loc[ev.event_type == "purchase", "value"].to_numpy())
    b = np.sort(ev.loc[ev.event_type == "click", "value"].to_numpy())
    grid = np.union1d(a, b)
    fa = np.searchsorted(a, grid, side="right") / len(a)
    fb = np.searchsorted(b, grid, side="right") / len(b)
    d = np.abs(fa - fb).max()
    assert abs(row["d_stat"] - d) < 1e-6
    assert row["n_purchase"] == len(a) and row["n_click"] == len(b)


# ------------------------------------------------------- neighbor jaccard


def test_neighbor_jaccard_bounds_and_triangle_consistency(spark):
    pdf = QUERIES["graph_jaccard_neighbor_sim"](spark, SF).toPandas()
    assert pdf["neighbor_jaccard"].between(0, 1).all()
    assert (pdf["common_neighbors"] >= 1).all()
    assert len(pdf) > 0
    # common neighbors of an edge == triangles through that edge:
    # recompute |N(u) ∩ N(v)| brute-force in pandas on the SAME
    # support-5 graph (the round-7 advisory fix — this property was
    # named but never asserted before)
    from vectordb_agentic_rag_spark.operators.graph import _JACCARD_MIN_SUPPORT

    li = pd.read_parquet(f"{SF}/lineitem.parquet")[
        ["l_orderkey", "l_suppkey"]
    ].drop_duplicates()
    m = li.merge(li, on="l_orderkey")
    e = (
        m[m.l_suppkey_x < m.l_suppkey_y]
        .groupby(["l_suppkey_x", "l_suppkey_y"])
        .size()
        .reset_index(name="n")
    )
    e = e[e.n >= _JACCARD_MIN_SUPPORT][["l_suppkey_x", "l_suppkey_y"]]
    nbr: dict = {}
    for u, v in e.values:
        nbr.setdefault(u, set()).add(v)
        nbr.setdefault(v, set()).add(u)
    for r in pdf.itertuples():
        want = len(nbr[r.u] & nbr[r.v] - {r.u, r.v})
        assert r.common_neighbors == want, (r.u, r.v, r.common_neighbors, want)


# ----------------------------------------------------------- burstiness


def test_burstiness_matches_pandas_moments(spark):
    pdf = QUERIES["text_burstiness"](spark, SF).toPandas()
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    n_docs = len(docs)
    tok = pdf.iloc[0]["tok"]
    counts = docs["text"].str.split(" ").apply(
        lambda ws: sum(1 for w in ws if w == tok)
    )
    mean = counts.sum() / n_docs
    var = (counts ** 2).sum() / n_docs - mean ** 2
    assert abs(pdf.iloc[0]["burstiness"] - var / mean) < 1e-4
    # burstiness >= variance floor: var/mean of a Poisson is 1; topical
    # fixture terms exceed it, function words sit near it — all positive
    assert (pdf["burstiness"] > 0).all()


def test_wedge_cap_plain_python_recompute_sf001_and_sf01():
    """graph_triangle_wedge_cap vs an independent plain-Python
    recompute (round-9 rule: hash checks can't see logic mirrored
    into both engines). sf0.001 exercises the uncapped-exact regime
    (cap does not bind, exact_flag = 1, lb == true count); sf0.01
    exercises the capped regime (complete 100-node graph, max outdeg
    99 > 32 — lb is a strict lower bound and the wedge accounting
    identity holds)."""
    import duckdb

    from vectordb_agentic_rag_spark import registry

    registry.load_all_operators()
    sql = registry.ORACLES["graph_triangle_wedge_cap"]
    CAP = 32
    for sf in ("sf0.001", "sf0.01"):
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW lineitem AS SELECT * FROM "
            f"'/root/testdata/{sf}/lineitem.parquet'"
        )
        row = con.execute(sql).fetchdf().iloc[0]
        # plain-Python recompute
        pairs = con.execute(
            """
            WITH os AS (SELECT DISTINCT l_orderkey, l_suppkey
                        FROM lineitem)
            SELECT a.l_suppkey, b.l_suppkey FROM os a JOIN os b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_suppkey < b.l_suppkey
            GROUP BY 1, 2 HAVING count(*) >= 3
            """
        ).fetchall()
        edges = {(int(u), int(v)) for u, v in pairs}
        deg: dict[int, int] = {}
        for u, v in edges:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        adj: dict[int, list] = {}
        oriented = set()
        for u, v in edges:
            s, t = (
                (u, v) if (deg[u], u) < (deg[v], v) else (v, u)
            )
            oriented.add((s, t))
            adj.setdefault(s, []).append((deg[t], t))
        tri_exact = tri_lb = 0
        wedges_cons = wedges_drop = capped_pivots = 0
        max_od = 0
        for s, outs in adj.items():
            outs.sort()
            od = len(outs)
            max_od = max(max_od, od)
            kept = outs[:CAP]
            k = len(kept)
            wedges_cons += k * (k - 1) // 2
            wedges_drop += od * (od - 1) // 2 - k * (k - 1) // 2
            if od > CAP:
                capped_pivots += 1
            for i in range(len(outs)):
                for j in range(i + 1, len(outs)):
                    closed = (outs[i][1], outs[j][1]) in oriented
                    if closed:
                        tri_exact += 1
                        if j < CAP:
                            tri_lb += 1
        assert int(row["nodes"]) == len(deg)
        assert int(row["edges"]) == len(edges)
        assert int(row["capped_pivots"]) == capped_pivots
        assert int(row["max_outdeg"]) == max_od
        assert int(row["wedges_considered"]) == wedges_cons
        assert int(row["wedges_dropped"]) == wedges_drop
        assert int(row["triangles_lb"]) == tri_lb
        assert int(row["exact_flag"]) == (1 if capped_pivots == 0 else 0)
        if capped_pivots == 0:
            assert tri_lb == tri_exact
        else:
            assert tri_lb <= tri_exact


def test_clustering_capped_plain_python_recompute():
    """graph_clustering_coefficient_capped vs plain Python: per-node
    capped triangle counts and cc lower bound at sf0.001 (uncapped —
    equals exact local cc) and sf0.01 (cap binds)."""
    import duckdb

    from vectordb_agentic_rag_spark import registry

    registry.load_all_operators()
    sql = registry.ORACLES["graph_clustering_coefficient_capped"]
    CAP = 32
    for sf in ("sf0.001", "sf0.01"):
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW lineitem AS SELECT * FROM "
            f"'/root/testdata/{sf}/lineitem.parquet'"
        )
        got = con.execute(sql).fetchall()
        pairs = con.execute(
            """
            WITH os AS (SELECT DISTINCT l_orderkey, l_suppkey
                        FROM lineitem)
            SELECT a.l_suppkey, b.l_suppkey FROM os a JOIN os b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_suppkey < b.l_suppkey
            GROUP BY 1, 2 HAVING count(*) >= 3
            """
        ).fetchall()
        edges = {(int(u), int(v)) for u, v in pairs}
        deg: dict[int, int] = {}
        for u, v in edges:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        adj: dict[int, list] = {}
        oriented = set()
        for u, v in edges:
            s, t = (u, v) if (deg[u], u) < (deg[v], v) else (v, u)
            oriented.add((s, t))
            adj.setdefault(s, []).append((deg[t], t))
        tri_lb: dict[int, int] = {}
        full_tri: dict[int, int] = {}
        for s, outs in adj.items():
            outs.sort()
            for i in range(len(outs)):
                for j in range(i + 1, len(outs)):
                    if (outs[i][1], outs[j][1]) in oriented:
                        for nd in (s, outs[i][1], outs[j][1]):
                            full_tri[nd] = full_tri.get(nd, 0) + 1
                            if j < CAP:
                                tri_lb[nd] = tri_lb.get(nd, 0) + 1
        expect = sorted(
            (
                (n, d, tri_lb.get(n, 0), d * (d - 1) // 2)
                for n, d in deg.items()
                if d >= 2
            ),
            key=lambda r: (-r[2], r[0]),
        )[:20]
        assert len(got) == len(expect)
        capped_anywhere = any(len(o) > CAP for o in adj.values())
        for row, (n, d, t, poss) in zip(got, expect):
            assert (int(row[0]), int(row[1]), int(row[2])) == (n, d, t)
            assert int(row[3]) == poss
            assert abs(row[4] - round(t / poss, 6)) < 1e-9
            assert t <= full_tri.get(n, 0)
            if not capped_anywhere:
                assert t == full_tri.get(n, 0)  # uncapped == exact
