"""Invariant tests for the round-7 fifth-wave operators (analytics4).

The DuckDB oracle twins already pin cross-engine parity; these tests
pin the MATH itself against independent numpy/pandas recomputes and the
semantic invariants each operator promises.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from vectordb_agentic_rag_spark import QUERIES, load_all_operators

load_all_operators()

SF = "/root/testdata/sf0.001"


# ------------------------------------------------------------------ OLS


def test_ols_matches_numpy_lstsq(spark):
    pdf = QUERIES["agg_ols_regression"](spark, SF).toPandas()
    ev = pd.read_parquet(f"{SF}/events.parquet")
    ts = pd.to_datetime(ev["ts"])
    x1 = ts.dt.hour.to_numpy(dtype=float)
    # engine convention: Sunday=0..Saturday=6 (DuckDB dayofweek)
    x2 = ((ts.dt.dayofweek + 1) % 7).to_numpy(dtype=float)
    y = np.round(ev["value"].to_numpy(), 6)
    X = np.column_stack([np.ones_like(x1), x1, x2])
    beta, *_ = np.linalg.lstsq(X, y, rcond=None)
    row = pdf.iloc[0]
    assert row["n_obs"] == len(ev)
    for got, want in zip([row["b0"], row["b1"], row["b2"]], beta):
        assert abs(got - want) < 1e-4, (got, want)
    resid = y - X @ beta
    r2 = 1 - (resid @ resid) / np.sum((y - y.mean()) ** 2)
    assert abs(row["r2"] - r2) < 1e-4


# ------------------------------------------------------------ autocorr


def test_autocorr_bounds_and_pandas_recompute(spark):
    pdf = QUERIES["agg_autocorr_daily"](spark, SF).toPandas()
    assert pdf["acf_lag1"].between(-1.000001, 1.000001).all()
    ev = pd.read_parquet(f"{SF}/events.parquet")
    et = pdf.iloc[0]["event_type"]
    g = ev[ev.event_type == et].copy()
    g["day"] = pd.to_datetime(g["ts"]).dt.floor("D")
    cents = g.groupby("day")["value"].apply(
        lambda v: np.sum(np.round(v * 100).astype("int64"))
    )
    cnt = g.groupby("day")["value"].size()
    m = np.round(cents / cnt / 100.0, 6).sort_index()
    x, y = m.to_numpy()[:-1], m.to_numpy()[1:]
    # contiguous-day pairs only
    days = m.index.to_numpy()
    keep = (days[1:] - days[:-1]) == np.timedelta64(1, "D")
    x, y = x[keep], y[keep]
    r = np.corrcoef(x, y)[0, 1]
    row = pdf[pdf.event_type == et].iloc[0]
    assert row["n_pairs"] == len(x)
    assert abs(row["acf_lag1"] - r) < 1e-5


# ---------------------------------------------------------- adamic-adar


def test_adamic_adar_matches_bruteforce(spark):
    pdf = QUERIES["graph_adamic_adar"](spark, SF).toPandas()
    li = pd.read_parquet(f"{SF}/lineitem.parquet")[
        ["l_orderkey", "l_partkey"]
    ].drop_duplicates()
    m = li.merge(li, on="l_orderkey")
    m = m[m.l_partkey_x < m.l_partkey_y]
    sup = m.groupby(["l_partkey_x", "l_partkey_y"]).size()
    edges = set(sup[sup >= 2].index)
    adj: dict[int, set[int]] = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    best: dict[tuple[int, int], float] = {}
    ncom: dict[tuple[int, int], int] = {}
    for mid, nb in adj.items():
        w = round(1.0 / np.log(len(nb)), 9) if len(nb) >= 2 else 0.0
        nbs = sorted(nb)
        for i in range(len(nbs)):
            for j in range(i + 1, len(nbs)):
                k = (nbs[i], nbs[j])
                if k in edges:
                    continue
                best[k] = best.get(k, 0.0) + w
                ncom[k] = ncom.get(k, 0) + 1
    want = sorted(best.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    assert len(pdf) == min(20, len(want))
    for row, (k, score) in zip(pdf.itertuples(), want):
        assert (row.part_u, row.part_v) == k
        assert row.n_common == ncom[k]
        assert abs(row.aa_score - score) < 1e-5


# ----------------------------------------------------------------- MAP


def test_map_bounds_and_numpy_recompute(spark):
    pdf = QUERIES["rag_eval_map"](spark, SF).toPandas()
    assert pdf["ap_10"].between(0, 1.000001).all()
    assert pdf["n_hits_10"].between(0, 10).all()
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
        truth = set(cid[np.lexsort((cid, -np.round(cos[:, j], 6)))[:10]])
        sysr = cid[np.lexsort((cid, ham[:, j]))[:10]]
        hits = np.array([int(n in truth) for n in sysr])
        ch = np.cumsum(hits)
        ap = np.sum(
            [round(ch[p] / (p + 1), 9) for p in range(10) if hits[p]]
        ) / 10.0
        row = pdf[pdf.query_id == qv].iloc[0]
        assert row["n_hits_10"] == hits.sum()
        assert abs(row["ap_10"] - ap) < 1e-5


# -------------------------------------------------------- token bucket

from vectordb_agentic_rag_spark.operators.windows import (  # noqa: E402
    _TB_CAP as _CAP,
    _TB_COST as _COST,
)


def test_token_bucket_matches_python_replay(spark):
    pdf = QUERIES["win_token_bucket"](spark, SF).toPandas()
    assert (pdf["n_admitted"] >= 1).all()
    assert (pdf["n_admitted"] <= pdf["n_events"]).all()
    assert pdf["end_tokens_us"].between(0, _CAP).all()
    ev = pd.read_parquet(f"{SF}/events.parquet")
    for uid in pdf["user_id"].head(5):
        g = ev[ev.user_id == uid].sort_values(["ts", "event_id"]).head(50)
        us = g["ts"].astype("datetime64[us]").astype("int64").to_numpy()
        tok, adm, last = _CAP - _COST, 1, us[0]
        for x in us[1:]:
            tok = min(_CAP, tok + (x - last))
            if tok >= _COST:
                tok -= _COST
                adm += 1
            last = x
        row = pdf[pdf.user_id == uid].iloc[0]
        assert row["n_events"] == len(g)
        assert row["n_admitted"] == adm
        assert row["end_tokens_us"] == tok


# ------------------------------------------------------------- benford


def test_benford_probabilities_sum_to_one(spark):
    pdf = QUERIES["agg_benford_deviation"](spark, SF).toPandas()
    assert sorted(pdf["digit"]) == list(range(1, 10))
    assert abs(pdf["obs_p"].sum() - 1.0) < 1e-4
    assert abs(pdf["exp_p"].sum() - 1.0) < 1e-4
    assert np.allclose(pdf["dev"], pdf["obs_p"] - pdf["exp_p"], atol=2e-6)


# --------------------------------------------------------- interpolate


def test_interpolate_anchors_exact_and_gaps_bounded(spark):
    pdf = QUERIES["win_interpolate_linear"](spark, SF).toPandas()
    ev = pd.read_parquet(f"{SF}/events.parquet")
    ev["day"] = pd.to_datetime(ev["ts"]).dt.floor("D").dt.date
    daily = (
        ev.groupby(["user_id", "day"])["value"]
        .apply(lambda v: np.sum(np.round(v * 100).astype("int64")) / 100.0)
        .reset_index(name="want")
    )
    obs = pdf[pdf.is_gap == 0].merge(daily, on=["user_id", "day"])
    assert len(obs) == len(daily)
    assert np.allclose(obs["value_interp"], np.round(obs["want"], 6))
    # every gap value lies between its user's min and max observed day value
    for uid, g in pdf.groupby("user_id"):
        lo = g[g.is_gap == 0]["value_interp"].min()
        hi = g[g.is_gap == 0]["value_interp"].max()
        gaps = g[g.is_gap == 1]["value_interp"]
        assert gaps.between(lo - 1e-6, hi + 1e-6).all()


# -------------------------------------------------------------- pareto


def test_pareto_frontier_matches_bruteforce(spark):
    pdf = QUERIES["pipeline_pareto_frontier"](spark, SF).toPandas()
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    docs["n_words"] = docs["text"].str.split(" ").map(len)
    pts = docs[["doc_id", "n_chars", "n_words"]].to_numpy()
    want = set()
    for did, x, y in pts:
        dominated = any(
            (x2 <= x and y2 >= y and (x2 < x or y2 > y))
            for _, x2, y2 in pts
        )
        if not dominated:
            want.add(did)
    assert set(pdf["doc_id"]) == want


# ------------------------------------------------------- breusch-pagan


def test_breusch_pagan_matches_numpy(spark):
    pdf = QUERIES["agg_breusch_pagan"](spark, SF).toPandas()
    ev = pd.read_parquet(f"{SF}/events.parquet")
    ts = pd.to_datetime(ev["ts"])
    x1 = ts.dt.hour.to_numpy(dtype=float)
    x2 = ((ts.dt.dayofweek + 1) % 7).to_numpy(dtype=float)
    y = np.round(ev["value"].to_numpy(), 6)
    X = np.column_stack([np.ones_like(x1), x1, x2])
    beta, *_ = np.linalg.lstsq(X, y, rcond=None)
    u = np.round((y - X @ beta) ** 2, 6)
    g, *_ = np.linalg.lstsq(X, u, rcond=None)
    resid = u - X @ g
    r2 = 1 - (resid @ resid) / np.sum((u - u.mean()) ** 2)
    row = pdf.iloc[0]
    assert row["n_obs"] == len(ev)
    assert abs(row["r2_aux"] - r2) < 1e-3
    assert abs(row["lm_stat"] - len(ev) * r2) < len(ev) * 1e-3
    assert row["heteroskedastic"] in (0, 1)


# -------------------------------------------------------- kaplan-meier


def test_kaplan_meier_matches_pandas_replay(spark):
    pdf = (
        QUERIES["agg_kaplan_meier"](spark, SF)
        .toPandas()
        .sort_values("dur_min")
        .reset_index(drop=True)
    )
    ev = pd.read_parquet(f"{SF}/events.parquet").sort_values(
        ["user_id", "ts", "event_id"]
    )
    us = ev["ts"].astype("datetime64[us]").astype("int64")
    sessions = []
    for uid, g in ev.assign(us=us).groupby("user_id"):
        start = prev = None
        for t in g["us"]:
            if prev is None or t - prev > 1_800_000_000:
                if start is not None:
                    sessions.append((start, prev))
                start = t
            prev = t
        sessions.append((start, prev))
    mx = max(e for _, e in sessions)
    rows = [
        ((e - s) // 60_000_000, int(e > mx - 7_200_000_000))
        for s, e in sessions
    ]
    df = pd.DataFrame(rows, columns=["dur_min", "cen"])
    g = (
        df.groupby("dur_min")
        .agg(d=("cen", lambda c: int((1 - c).sum())), c=("cen", "sum"))
        .sort_index()
    )
    total = int((g["d"] + g["c"]).sum())
    removed = (g["d"] + g["c"]).cumsum().shift(1, fill_value=0)
    n_risk = total - removed
    surv, out = 1.0, {}
    for t in g.index:
        surv *= round(1.0 - g.loc[t, "d"] / n_risk.loc[t], 9)
        out[t] = (int(n_risk.loc[t]), int(g.loc[t, "d"]), int(g.loc[t, "c"]), surv)
    assert len(pdf) == len(out)
    for r in pdf.itertuples():
        nr, d, c, s = out[r.dur_min]
        assert (r.n_risk, r.n_deaths, r.n_censored) == (nr, d, c)
        assert abs(r.survival - s) < 1e-5
    # survival is non-increasing over duration
    assert (pdf["survival"].diff().dropna() <= 1e-12).all()


# -------------------------------------------------------------- k-core


def test_kcore_matches_python_peeling(spark):
    pdf = QUERIES["graph_kcore"](spark, SF).toPandas()
    li = pd.read_parquet(f"{SF}/lineitem.parquet")[
        ["l_orderkey", "l_partkey"]
    ].drop_duplicates()
    m = li.merge(li, on="l_orderkey")
    m = m[m.l_partkey_x < m.l_partkey_y]
    sup = m.groupby(["l_partkey_x", "l_partkey_y"]).size()
    edges = list(sup[sup >= 2].index)
    adj: dict[int, set[int]] = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    alive = set(adj)
    while True:
        bad = {n for n in alive if sum(1 for x in adj[n] if x in alive) < 2}
        if not bad:
            break
        alive -= bad
    want = {
        n: sum(1 for x in adj[n] if x in alive) for n in alive
    }
    got = dict(zip(pdf["part_key"], pdf["core_degree"]))
    assert got == want
    assert all(d >= 2 for d in got.values())


# --------------------------------------------------------- jarque-bera


def test_jarque_bera_matches_numpy(spark):
    pdf = QUERIES["agg_jarque_bera"](spark, SF).toPandas()
    ev = pd.read_parquet(f"{SF}/events.parquet")
    for r in pdf.itertuples():
        c = np.round(
            ev[ev.event_type == r.event_type]["value"].to_numpy() * 100
        )
        n = len(c)
        m = c.mean()
        m2 = ((c - m) ** 2).mean()
        m3 = ((c - m) ** 3).mean()
        m4 = ((c - m) ** 4).mean()
        S = m3 / m2**1.5
        K = m4 / m2**2 - 3
        jb = n / 6 * (S**2 + K**2 / 4)
        assert r.n_obs == n
        assert abs(r.skewness - S) < 1e-3
        assert abs(r.excess_kurtosis - K) < 1e-3
        assert abs(r.jb_stat - jb) < max(1e-3 * jb, 1e-3)
    # the fixture value distribution is exponential-ish: every type
    # must reject normality decisively (chi2(2) 99% critical = 9.21)
    assert (pdf["jb_stat"] > 9.21).all()
    assert (pdf["skewness"] > 0).all()


# ------------------------------------------------------- durbin-watson


def test_durbin_watson_consistent_with_autocorr(spark):
    dw = QUERIES["agg_durbin_watson_daily"](spark, SF).toPandas()
    assert dw["dw"].between(0, 4).all()
    ev = pd.read_parquet(f"{SF}/events.parquet")
    et = dw.iloc[0]["event_type"]
    g = ev[ev.event_type == et].copy()
    g["day"] = pd.to_datetime(g["ts"]).dt.floor("D")
    cents = g.groupby("day")["value"].apply(
        lambda v: np.sum(np.round(v * 100).astype("int64"))
    )
    cnt = g.groupby("day")["value"].size()
    m = np.round(cents / cnt / 100.0, 6).sort_index()
    days = m.index.to_numpy()
    vals = m.to_numpy()
    keep = (days[1:] - days[:-1]) == np.timedelta64(1, "D")
    diffs = np.round(vals[1:] - vals[:-1], 6)[keep]
    num = np.sum(diffs**2)
    den = np.sum((vals - vals.mean()) ** 2)
    row = dw[dw.event_type == et].iloc[0]
    assert row["n_days"] == len(vals)
    assert row["n_pairs"] == keep.sum()
    assert abs(row["dw"] - num / den) < 1e-4


# ---------------------------------------------------------------- rake


def test_rake_matches_python_reference(spark):
    pdf = QUERIES["text_rake_keywords"](spark, SF).toPandas()
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    stop = {"a", "the"}
    phrases = []  # (text, tuple(words))
    for _, row in docs.iterrows():
        cur = []
        for w in row["text"].split(" "):
            if w in stop:
                if cur:
                    phrases.append(tuple(cur))
                cur = []
            else:
                cur.append(w)
        if cur:
            phrases.append(tuple(cur))
    freq: dict[str, int] = {}
    deg: dict[str, int] = {}
    for p in phrases:
        for w in p:
            freq[w] = freq.get(w, 0) + 1
            deg[w] = deg.get(w, 0) + len(p)
    wscore = {w: round(deg[w] / freq[w], 9) for w in freq}
    stats: dict[tuple, list] = {}
    for p in phrases:
        s = sum(wscore[w] for w in p)
        st = stats.setdefault(p, [0, s])
        st[0] += 1
    ranked = sorted(
        stats.items(), key=lambda kv: (-kv[1][1], " ".join(kv[0]))
    )[:20]
    assert len(pdf) == 20
    for r, (p, (occ, s)) in zip(pdf.itertuples(), ranked):
        assert r.phrase == " ".join(p)
        assert r.n_words == len(p)
        assert r.n_occurrences == occ
        assert abs(r.rake_score - s) < 1e-5


# -------------------------------------------------------------- grubbs


def test_grubbs_matches_numpy(spark):
    pdf = QUERIES["agg_grubbs_test"](spark, SF).toPandas()
    ev = pd.read_parquet(f"{SF}/events.parquet")
    for r in pdf.itertuples():
        c = np.round(
            ev[ev.event_type == r.event_type]["value"].to_numpy() * 100
        )
        sd = c.std(ddof=1)
        gh = (c.max() - c.mean()) / sd
        gl = (c.mean() - c.min()) / sd
        assert abs(r.g_high - gh) < 1e-4
        assert abs(r.g_low - gl) < 1e-4
        assert abs(r.g_stat - max(gh, gl)) < 1e-4
        assert r.suspect_cents == (c.max() if gh >= gl else c.min())


# --------------------------------------------------------------- theil


def test_theil_matches_numpy_and_bounds(spark):
    pdf = QUERIES["agg_theil_index"](spark, SF).toPandas()
    o = pd.read_parquet(f"{SF}/orders.parquet")
    for r in pdf.itertuples():
        c = np.round(
            o[o.o_orderpriority == r.o_orderpriority]["o_totalprice"]
            .to_numpy() * 100
        )
        mu = c.mean()
        t = np.mean(c / mu * np.log(c / mu))
        assert abs(r.theil_t - t) < 1e-4
        assert -1e-9 <= r.theil_t <= np.log(len(c))


# ------------------------------------------------------------- entropy


def test_payload_entropy_matches_python(spark):
    from collections import Counter

    pdf = QUERIES["multimodal_payload_entropy"](spark, SF).toPandas()
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    byid = dict(zip(docs["doc_id"], docs["text"]))
    assert len(pdf) == len(docs)
    for r in pdf.head(50).itertuples():
        t = byid[r.doc_id]
        cnt = Counter(t)
        n = len(t)
        h = np.log(n) - sum(c * np.log(c) for c in cnt.values()) / n
        assert r.payload_bytes == n
        assert r.n_distinct_bytes == len(cnt)
        assert abs(r.entropy_nats - h) < 1e-5
    # ASCII text: entropy bounded by ln(distinct bytes)
    assert (
        pdf["entropy_nats"] <= np.log(pdf["n_distinct_bytes"]) + 1e-9
    ).all()


# ----------------------------------------------------------- rolling p90


def test_rolling_p90_matches_numpy(spark):
    pdf = QUERIES["win_rolling_p90"](spark, SF).toPandas()
    ev = pd.read_parquet(f"{SF}/events.parquet")
    uid = pdf.iloc[0]["user_id"]
    g = ev[ev.user_id == uid].sort_values(["ts", "event_id"])
    vals = g["value"].to_numpy()
    want = {}
    for i, eid in enumerate(g["event_id"]):
        frame = np.sort(vals[max(0, i - 20) : i + 1])
        k = (9 * len(frame) + 9) // 10
        want[eid] = round(float(frame[k - 1]), 6)
    sub = pdf[pdf.user_id == uid]
    assert len(sub) == len(want)
    for r in sub.itertuples():
        assert abs(r.p90_21 - want[r.event_id]) < 1e-9


def test_hill_alpha_matches_numpy(spark):
    pdf = QUERIES["agg_tail_index_hill"](spark, SF).toPandas()
    v = np.sort(
        pd.read_parquet(f"{SF}/events.parquet")["value"].to_numpy()
    )[::-1]
    m = int(pdf["m"].iloc[0])
    want = m / np.sum(np.log(v[:m] / v[m]))
    assert abs(pdf["hill_alpha"].iloc[0] - want) < 1e-4
    assert pdf["x_threshold"].iloc[0] == round(float(v[m]), 6)
    # exponential values: Hill alpha drifts high (light tail) — sanity
    assert pdf["hill_alpha"].iloc[0] > 2


def test_markov_stationary_is_fixed_point_and_sums_to_one(spark):
    pdf = QUERIES["agg_markov_stationary"](spark, SF).toPandas()
    ev = pd.read_parquet(f"{SF}/events.parquet").sort_values(
        ["user_id", "ts", "event_id"]
    )
    prev = ev.groupby("user_id")["event_type"].shift(1)
    pairs = pd.DataFrame({"a": prev, "b": ev["event_type"]}).dropna()
    P = pd.crosstab(pairs["a"], pairs["b"], normalize="index")
    types = sorted(P.index)
    import numpy.linalg as la

    M = P.loc[types, types].to_numpy()
    w, vecs = la.eig(M.T)
    pi = np.real(vecs[:, np.argmax(np.real(w))])
    pi = pi / pi.sum()
    got = pdf.set_index("event_type").loc[types, "pi"].to_numpy()
    assert np.allclose(got, pi, atol=1e-5)
    assert abs(got.sum() - 1.0) < 1e-5
    # h_row = conditional entropy of each transition row
    for i, t in enumerate(types):
        want_h = -(M[i] * np.log(M[i])).sum()
        assert abs(
            pdf.set_index("event_type").loc[t, "h_row"] - want_h
        ) < 1e-5
