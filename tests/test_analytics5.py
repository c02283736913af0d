"""Invariant tests for the round-7 ninth-wave operators (analytics5)."""

from __future__ import annotations

import numpy as np
import pandas as pd

from vectordb_agentic_rag_spark import QUERIES, load_all_operators

load_all_operators()

SF = "/root/testdata/sf0.001"


def _copurchase_adj(sf):
    li = pd.read_parquet(f"{sf}/lineitem.parquet")[
        ["l_orderkey", "l_partkey"]
    ].drop_duplicates()
    m = li.merge(li, on="l_orderkey")
    m = m[m.l_partkey_x < m.l_partkey_y]
    sup = m.groupby(["l_partkey_x", "l_partkey_y"]).size()
    adj: dict[int, set[int]] = {}
    for u, v in sup[sup >= 2].index:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    return adj


def test_core_number_matches_bruteforce_peeling(spark):
    pdf = QUERIES["graph_core_number"](spark, SF).toPandas()
    adj = _copurchase_adj(SF)
    # brute-force peeling coreness
    core: dict[int, int] = {}
    alive = set(adj)
    k = 0
    while alive:
        k += 1
        while True:
            bad = {
                n for n in alive
                if sum(1 for x in adj[n] if x in alive) < k
            }
            if not bad:
                break
            for n in bad:
                core[n] = k - 1
            alive -= bad
    for n in alive:
        core[n] = k
    got = dict(zip(pdf["part_key"], pdf["core_number"]))
    assert got == core
    # coreness never exceeds degree
    assert all(got[n] <= len(adj[n]) for n in got)


def test_mann_kendall_matches_numpy(spark):
    pdf = QUERIES["agg_mann_kendall_trend"](spark, SF).toPandas()
    ev = pd.read_parquet(f"{SF}/events.parquet")
    for r in pdf.itertuples():
        g = ev[ev.event_type == r.event_type].copy()
        g["day"] = pd.to_datetime(g["ts"]).dt.floor("D")
        cents = g.groupby("day")["value"].apply(
            lambda v: np.sum(np.round(v * 100).astype("int64"))
        )
        cnt = g.groupby("day")["value"].size()
        m = np.round(cents / cnt / 100.0, 6).sort_index().to_numpy()
        n = len(m)
        S = 0
        for i in range(n):
            S += int(np.sum(np.sign(m[i + 1:] - m[i])))
        _, t = np.unique(m, return_counts=True)
        tie = np.sum(t[t > 1] * (t[t > 1] - 1) * (2 * t[t > 1] + 5))
        var = (n * (n - 1) * (2 * n + 5) - tie) / 18.0
        z = (
            (S - 1) / np.sqrt(var)
            if S > 0
            else ((S + 1) / np.sqrt(var) if S < 0 else 0.0)
        )
        assert r.n_days == n
        assert r.s_stat == S
        assert r.n_pairs == n * (n - 1) // 2
        assert abs(r.var_s - var) < 1e-3
        assert abs(r.z_stat - z) < 1e-5


def test_every_registered_op_has_a_docstring():
    # a docstring literal followed by .format()/.replace() is an
    # expression, not a docstring — __doc__ silently becomes None
    # (bitten twice: graph_kcore, graph_core_number)
    missing = [n for n, fn in QUERIES.items() if not (fn.__doc__ or "").strip()]
    assert not missing, missing


def test_time_to_convert_matches_pandas(spark):
    pdf = QUERIES["agg_time_to_convert"](spark, SF).toPandas()
    ev = pd.read_parquet(f"{SF}/events.parquet")
    us = ev["ts"].astype("datetime64[us]").astype("int64")
    ev = ev.assign(us=us)
    fv = ev[ev.event_type == "view"].groupby("user_id")["us"].min()
    want = {}
    for uid, v in fv.items():
        p = ev[(ev.user_id == uid) & (ev.event_type == "purchase")
               & (ev.us > v)]["us"]
        if len(p):
            want[uid] = (v, p.min(), (p.min() - v) // 1_000_000)
    assert len(pdf) == len(want)
    for r in pdf.itertuples():
        v, p, t = want[r.user_id]
        assert (r.first_view_us, r.first_purchase_us, r.ttc_sec) == (v, p, t)
    assert (pdf["ttc_sec"] >= 0).all()


def test_cohort_overlap_matches_pandas(spark):
    pdf = QUERIES["agg_cohort_overlap"](spark, SF).toPandas()
    ev = pd.read_parquet(f"{SF}/events.parquet")
    sets = {t: set(g["user_id"]) for t, g in ev.groupby("event_type")}
    types = sorted(sets)
    want = {}
    for i, a in enumerate(types):
        for b in types[i + 1:]:
            inter = len(sets[a] & sets[b])
            want[(a, b)] = (
                len(sets[a]), len(sets[b]), inter,
                round(inter / len(sets[a] | sets[b]), 6),
            )
    assert len(pdf) == len(want)
    for r in pdf.itertuples():
        na, nb, nboth, j = want[(r.type_a, r.type_b)]
        assert (r.n_a, r.n_b, r.n_both) == (na, nb, nboth)
        assert abs(r.jaccard - j) < 1e-9


def test_split_leakage_pairs_cross_split_and_sorted(spark):
    pdf = QUERIES["pipeline_split_leakage_pairs"](spark, SF).toPandas()
    from vectordb_agentic_rag_spark.operators.pipelines import (  # noqa: F401
        _ROLL_SPARK,
    )

    # every reported pair really straddles the split: recompute the
    # rolling-hash split in python
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    P = 1_000_000_007

    def split_of(text):
        h = 0
        for t in text.split(" "):
            c = ord(t[0]) * 961 + ord(t[-1]) * 31 + len(t)
            h = (h * 131 + c) % P
        return "val" if h % 10 == 9 else "train"

    sp = {r.doc_id: split_of(r.text) for r in docs.itertuples()}
    for r in pdf.itertuples():
        assert sp[r.doc_train] == "train"
        assert sp[r.doc_val] == "val"
        assert r.jaccard >= 0.2
    # descending by score
    assert (pdf["jaccard"].diff().dropna() <= 1e-12).all()


def test_mattr_bounds_and_short_doc_fallback(spark):
    pdf = QUERIES["text_mattr_diversity"](spark, SF).toPandas()
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    assert len(pdf) == len(docs)
    assert pdf["mattr_50"].between(0, 1.0000001).all()
    byid = dict(zip(docs["doc_id"], docs["text"]))
    for r in pdf.head(30).itertuples():
        toks = byid[r.doc_id].split(" ")
        assert r.n_tokens == len(toks)
        if len(toks) < 50:
            assert r.n_windows == 0
            assert abs(r.mattr_50 - len(set(toks)) / len(toks)) < 1e-6
        else:
            assert r.n_windows == len(toks) - 49
            ttrs = [
                len(set(toks[i - 49 : i + 1])) / 50
                for i in range(49, len(toks))
            ]
            assert abs(r.mattr_50 - sum(ttrs) / len(ttrs)) < 1e-5


def test_bounce_rate_consistent_with_sessionize(spark):
    pdf = QUERIES["agg_bounce_rate"](spark, SF).toPandas()
    sess = QUERIES["agg_sessionize_batch"](spark, SF).toPandas()
    want = (
        sess.assign(b=(sess["n_events"] == 1).astype(int))
        .groupby("user_id")
        .agg(n_sessions=("b", "size"), n_bounces=("b", "sum"))
    )
    assert len(pdf) == len(want)
    for r in pdf.itertuples():
        w = want.loc[r.user_id]
        assert (r.n_sessions, r.n_bounces) == (w.n_sessions, w.n_bounces)
        # bounce_rate is round(6)-quantized
        assert abs(r.bounce_rate - w.n_bounces / w.n_sessions) < 5.1e-7


def test_centroid_drift_matches_numpy(spark):
    pdf = QUERIES["vec_centroid_shift_drift"](spark, SF).toPandas()
    emb = pd.read_parquet(f"{SF}/embeddings.parquet")
    M = np.round(np.vstack(emb["embedding"].to_numpy()).astype(float), 6)
    ids = emb["vec_id"].to_numpy()
    ca, cb = M[ids % 2 == 0].mean(axis=0), M[ids % 2 == 1].mean(axis=0)
    row = pdf.iloc[0]
    assert row["n_a"] == int((ids % 2 == 0).sum())
    assert row["n_b"] == int((ids % 2 == 1).sum())
    assert abs(row["centroid_l2_shift"] - np.linalg.norm(ca - cb)) < 1e-4
    cos = ca @ cb / (np.linalg.norm(ca) * np.linalg.norm(cb))
    assert abs(row["centroid_cosine"] - cos) < 1e-4


def test_two_proportion_ztest_matches_numpy(spark):
    pdf = QUERIES["agg_two_proportion_ztest"](spark, SF).toPandas()
    ev = pd.read_parquet(f"{SF}/events.parquet")
    pc = ev[ev.event_type == "purchase"].groupby("user_id").size()
    conv = set(pc[pc >= 12].index)
    view = set(ev[ev.event_type == "view"]["user_id"])
    click = set(ev[ev.event_type == "click"]["user_id"])
    n1, x1 = len(view), len(view & conv)
    n2, x2 = len(click), len(click & conv)
    pp = (x1 + x2) / (n1 + n2)
    z = (x1 / n1 - x2 / n2) / np.sqrt(pp * (1 - pp) * (1 / n1 + 1 / n2))
    row = pdf.iloc[0]
    assert (row["n_view"], row["conv_view"]) == (n1, x1)
    assert (row["n_click"], row["conv_click"]) == (n2, x2)
    assert abs(row["z_stat"] - z) < 1e-5


def test_wilcoxon_matches_scipy_style_recompute(spark):
    pdf = QUERIES["agg_wilcoxon_signed_rank"](spark, SF).toPandas()
    ev = pd.read_parquet(f"{SF}/events.parquet")
    means = {}
    for et in ("click", "view"):
        g = ev[ev.event_type == et].copy()
        g["day"] = pd.to_datetime(g["ts"]).dt.floor("D")
        cents = g.groupby("day")["value"].apply(
            lambda v: np.sum(np.round(v * 100).astype("int64"))
        )
        cnt = g.groupby("day")["value"].size()
        means[et] = np.round(cents / cnt / 100.0, 6)
    j = pd.concat([means["click"], means["view"]], axis=1, join="inner")
    d = (j.iloc[:, 0] - j.iloc[:, 1]).to_numpy()
    d = d[np.abs(d) > 1e-12]
    n = len(d)
    # average ranks of |d| with ties
    order = np.argsort(np.abs(d), kind="stable")
    av = np.abs(d)[order]
    ranks = np.empty(n)
    i = 0
    while i < n:
        j2 = i
        while j2 + 1 < n and abs(av[j2 + 1] - av[i]) < 1e-12:
            j2 += 1
        ranks[i : j2 + 1] = (i + j2 + 2) / 2
        i = j2 + 1
    back = np.empty(n)
    back[order] = ranks
    wp = back[d > 0].sum()
    _, t = np.unique(av, return_counts=True)
    tie3 = np.sum(t**3 - t)
    var = n * (n + 1) * (2 * n + 1) / 24 - tie3 / 48
    z = (wp - n * (n + 1) / 4) / np.sqrt(var)
    row = pdf.iloc[0]
    assert row["n_pairs"] == n
    assert abs(row["w_plus"] - wp) < 1e-6
    assert abs(row["z_stat"] - z) < 1e-5


def test_page_hinkley_matches_python_replay(spark):
    from vectordb_agentic_rag_spark.operators.windows import (
        _PH_DELTA,
        _PH_LAMBDA,
        _PH_MU,
    )

    pdf = QUERIES["win_page_hinkley"](spark, SF).toPandas()
    ev = pd.read_parquet(f"{SF}/events.parquet")
    for uid in pdf["user_id"].head(5):
        g = ev[ev.user_id == uid].sort_values(["ts", "event_id"])
        x = np.round(g["value"].to_numpy(), 6)
        # replay exactly as the op: first step seeds mn = min(0, mt1)
        mt = 0.0
        mn = 0.0
        al = 0
        first = True
        for xi in x:
            mt = mt + xi - _PH_MU - _PH_DELTA
            mn = min(0.0, mt) if first else min(mn, mt)
            first = False
            al += 1 if (mt - mn) > _PH_LAMBDA else 0
        row = pdf[pdf.user_id == uid].iloc[0]
        assert row["n_events"] == len(x)
        assert row["n_alarms"] == al
        assert abs(row["ph_final"] - round(mt - mn, 6)) < 1e-6
    # the threshold discriminates: some but not all users alarm
    assert 0 < pdf["alarmed"].sum() < len(pdf)


def test_curriculum_order_is_exact_total_order(spark):
    pdf = (
        QUERIES["pipeline_curriculum_order"](spark, SF)
        .toPandas()
        .sort_values("curriculum_rank")
        .reset_index(drop=True)
    )
    # ranks are 1..N with no gaps
    assert list(pdf["curriculum_rank"]) == list(range(1, len(pdf) + 1))
    # ordering respects (quality desc, doc_id asc)
    prev = None
    for r in pdf.itertuples():
        if prev is not None:
            assert (r.quality < prev[0]) or (
                r.quality == prev[0] and r.doc_id > prev[1]
            )
        prev = (r.quality, r.doc_id)
    # consistent with text_quality_score
    q = QUERIES["text_quality_score"](spark, SF).toPandas()
    m = pdf.merge(q[["doc_id", "quality"]], on="doc_id", suffixes=("", "_q"))
    assert np.allclose(m["quality"], m["quality_q"])


def test_weighted_jaccard_rescore_matches_python(spark):
    pdf = QUERIES["dedup_weighted_jaccard_rescore"](spark, SF).toPandas()
    pairs = QUERIES["dedup_ngram_jaccard"](spark, SF).toPandas()
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    from vectordb_agentic_rag_spark.operators.dedup import P_CODE, P_HASH

    def codes(text):
        toks = text.split(" ")
        if len(toks) < 3:
            return set()
        tc = []
        for t in toks:
            h = 0
            for ch in t:
                h = (h * 31 + ord(ch)) % P_CODE
            tc.append(h)
        return {
            ((tc[i] * 131 + tc[i + 1]) % P_HASH * 131 + tc[i + 2]) % P_HASH
            for i in range(len(tc) - 2)
        }

    cs = {r.doc_id: codes(r.text) for r in docs.itertuples()}
    cs = {k: v for k, v in cs.items() if v}
    n = len(cs)
    dfc: dict[int, int] = {}
    for v in cs.values():
        for c in v:
            dfc[c] = dfc.get(c, 0) + 1
    wt = {c: round(np.log(n / d), 9) for c, d in dfc.items()}
    rows = []
    for r in pairs.itertuples():
        a, b = cs[r.doc_a], cs[r.doc_b]
        wi = sum(wt[c] for c in a & b)
        wu = sum(wt[c] for c in a | b)
        rows.append((r.doc_a, r.doc_b, wi / wu))
    rows.sort(key=lambda t: (-t[2], t[0], t[1]))
    want = rows[:50]
    assert len(pdf) == min(50, len(want))
    for r, (da, db, jw) in zip(pdf.itertuples(), want):
        assert (r.doc_a, r.doc_b) == (da, db)
        assert abs(r.jaccard_weighted - jw) < 1e-5


# ---------------------------------------- cross-operator consistency


def test_kcore_equals_core_number_at_k2(spark):
    # graph_kcore(k=2) membership must equal {v : core_number(v) >= 2}
    # with identical in-core degrees recomputable from the survivors
    kc = QUERIES["graph_kcore"](spark, SF).toPandas()
    cn = QUERIES["graph_core_number"](spark, SF).toPandas()
    in_core = set(cn[cn.core_number >= 2]["part_key"])
    assert set(kc["part_key"]) == in_core


def test_durbin_watson_tracks_autocorr_identity(spark):
    # DW ~= 2 * (1 - rho1) up to edge terms that vanish as the series
    # grows — a loose cross-op identity on the same day-domain series
    dw = QUERIES["agg_durbin_watson_daily"](spark, SF).toPandas()
    ac = QUERIES["agg_autocorr_daily"](spark, SF).toPandas()
    m = dw.merge(ac, on="event_type")
    resid = (m["dw"] - 2 * (1 - m["acf_lag1"])).abs()
    assert (resid < 0.5).all(), m[["event_type", "dw", "acf_lag1"]]


def test_mann_kendall_sign_agrees_with_wilcoxon_direction(spark):
    # both read the same day-domain machinery; this pins that their
    # shared CTE text really produces the same daily means (n_days of
    # the MK test equals the day count behind the autocorr op + 1 pair)
    mk = QUERIES["agg_mann_kendall_trend"](spark, SF).toPandas()
    ac = QUERIES["agg_autocorr_daily"](spark, SF).toPandas()
    m = mk.merge(ac, on="event_type")
    assert (m["n_days"] - 1 >= m["n_pairs_y"]).all()


def test_truss_matches_python_peeling_and_sits_inside_2core(spark):
    pdf = QUERIES["graph_truss_decomposition"](spark, SF).toPandas()
    adj = _copurchase_adj(SF)
    E = {(u, v) for u in adj for v in adj[u] if u < v}
    adj2 = {n: set(v) for n, v in adj.items()}
    while True:
        bad = []
        for (u, v) in E:
            s = sum(
                1
                for w in adj2[u] & adj2[v]
                if (min(u, w), max(u, w)) in E and (min(v, w), max(v, w)) in E
            )
            if s < 1:
                bad.append((u, v))
        if not bad:
            break
        for (u, v) in bad:
            E.discard((u, v))
            adj2[u].discard(v)
            adj2[v].discard(u)
    want = {}
    for (u, v) in E:
        want[(u, v)] = sum(
            1
            for w in adj2[u] & adj2[v]
            if (min(u, w), max(u, w)) in E and (min(v, w), max(v, w)) in E
        )
    got = {
        (r.part_u, r.part_v): r.truss_support for r in pdf.itertuples()
    }
    assert got == want
    # the 3-truss node set sits inside the 2-core
    cn = QUERIES["graph_core_number"](spark, SF).toPandas()
    core2 = set(cn[cn.core_number >= 2]["part_key"])
    nodes = set(pdf["part_u"]) | set(pdf["part_v"])
    assert nodes <= core2


def test_kll_sketch_error_bound_and_determinism(spark):
    a = (
        QUERIES["agg_kll_quantile_sketch"](spark, SF)
        .toPandas()
        .sort_values("tau")
        .reset_index(drop=True)
    )
    b = (
        QUERIES["agg_kll_quantile_sketch"](spark, SF)
        .toPandas()
        .sort_values("tau")
        .reset_index(drop=True)
    )
    # deterministic compactors + deterministic partitioning => stable
    assert a.equals(b)
    # measured rank error well inside the asserted 0.05 floor
    assert (a["true_rank_frac"] - a["tau"]).abs().max() <= 0.05
    # estimates are real data values in the right order
    assert a["est_value"].is_monotonic_increasing


def _python_truss_numbers(edges):
    """Reference staged truss peeling over a set of (u, v) tuples."""
    E = set(edges)

    def support(E):
        a = {}
        for u, v in E:
            a.setdefault(u, set()).add(v)
            a.setdefault(v, set()).add(u)
        return {(u, v): len(a[u] & a[v]) for u, v in E}

    want, k = {}, 3
    while E:
        while True:
            sup = support(E)
            bad = {e for e in E if sup[e] < k - 2}
            if not bad:
                break
            E -= bad
            for e in bad:
                want[e] = k - 1
        k += 1
        assert k <= 40, "runaway peeling in the python reference"
    return want


def test_truss_number_matches_bruteforce_decomposition(spark):
    """graph_truss_number against a full python truss decomposition
    (staged peeling, the same textbook algorithm run edge-at-a-time),
    plus structural invariants: every input edge is labeled exactly
    once, labels >= 2, and the k=3 shell equals
    graph_truss_decomposition's edge set. Runs at sf0.01 — the
    fixture the driver's oracle gate checks (sf0.001's hierarchy is
    deeper than the fixed oracle unroll; the synthetic test below
    covers deep hierarchies through the factored helper)."""
    SF01 = "/root/testdata/sf0.01"
    pdf = QUERIES["graph_truss_number"](spark, SF01).toPandas()
    adj = _copurchase_adj(SF01)
    all_edges = {(u, v) for u in adj for v in adj[u] if u < v}
    want = _python_truss_numbers(all_edges)
    got = {(r.part_u, r.part_v): r.truss_number for r in pdf.itertuples()}
    assert got == want
    assert set(got) == all_edges  # total, single-label map
    assert min(got.values()) >= 2
    shell3 = {e for e, t in got.items() if t >= 3}
    td = QUERIES["graph_truss_decomposition"](spark, SF01).toPandas()
    assert shell3 == {(r.part_u, r.part_v) for r in td.itertuples()}


def test_truss_number_helper_on_deep_synthetic_hierarchy(spark):
    """_truss_number_map on a planted multi-shell graph the fixtures
    don't contain: a K6 clique (truss 6), a K4 sharing nothing with
    it (truss 4), a triangle chain (truss 3), and pendant tree edges
    (truss 2) — every label from 2 to 6 must come out exactly as the
    python reference computes, through multiple genuine stages."""
    from vectordb_agentic_rag_spark.operators.graph import _truss_number_map

    edges = set()
    clique6 = range(0, 6)
    edges |= {(a, b) for a in clique6 for b in clique6 if a < b}
    clique4 = range(10, 14)
    edges |= {(a, b) for a in clique4 for b in clique4 if a < b}
    # triangle chain: 20-21-22, 22-23-24 (shared vertex, no shared edge)
    edges |= {(20, 21), (20, 22), (21, 22), (22, 23), (22, 24), (23, 24)}
    # pendant tree edges
    edges |= {(0, 30), (30, 31), (13, 32)}
    e = spark.createDataFrame(sorted(edges), "u bigint, v bigint")
    out = _truss_number_map(spark, e, len(edges), kmax=8, rounds=8)
    got = {(r.u, r.v): r.truss for r in out.collect()}
    want = _python_truss_numbers(edges)
    assert got == want
    assert sorted(set(want.values())) == [2, 3, 4, 6]


def test_spearman_and_kendall_match_pandas(spark):
    li = pd.read_parquet(f"{SF}/lineitem.parquet")[
        ["l_quantity", "l_extendedprice"]
    ].astype(float)
    got_s = QUERIES["agg_spearman_corr"](spark, SF).toPandas()
    rx = li["l_quantity"].rank(method="average").to_numpy()
    ry = li["l_extendedprice"].rank(method="average").to_numpy()
    want_s = np.corrcoef(rx, ry)[0, 1]
    assert abs(got_s["spearman_rho"].iloc[0] - want_s) < 1e-6
    assert int(got_s["n"].iloc[0]) == len(li)

    got_k = QUERIES["agg_kendall_tau_grid"](spark, SF).toPandas()
    a = li["l_quantity"].astype(int).to_numpy()
    b = np.floor(li["l_extendedprice"] / 1000).astype(int).to_numpy()
    # independent tau-b: dense grid + 2D prefix sums
    A, B = a.max() + 1, b.max() + 1
    M = np.zeros((A, B), dtype=np.int64)
    np.add.at(M, (a, b), 1)
    S = M.cumsum(axis=0).cumsum(axis=1)
    strict = np.zeros_like(S)
    strict[1:, 1:] = S[:-1, :-1]  # sum over a'<a, b'<b
    C = int((M * strict).sum())
    rowcums = M.cumsum(axis=1)  # rowcums[a', b] = sum_{b'<=b} M[a', b']
    T = rowcums.cumsum(axis=0)  # T[a, b] = sum_{a'<=a} rowcums[a', b]
    above = np.zeros_like(S)  # sum over a'<a, b'>b
    above[1:, :] = T[:-1, -1][:, None] - T[:-1, :]
    D = int((M * above).sum())
    n = len(a)
    n0 = n * (n - 1) // 2
    n1 = sum(t * (t - 1) // 2 for t in np.bincount(a) if t > 1)
    n2 = sum(t * (t - 1) // 2 for t in np.bincount(b) if t > 1)
    want_k = (C - D) / np.sqrt(float(n0 - n1) * float(n0 - n2))
    assert int(got_k["c_pairs"].iloc[0]) == C
    assert int(got_k["d_pairs"].iloc[0]) == D
    assert abs(got_k["kendall_tau_b"].iloc[0] - want_k) < 1e-6
