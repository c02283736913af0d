"""Recompute pytests for the operators in operators/queue_r12.py.
Plain-Python re-derivations from the raw parquet: independent of both
engines, so a logic bug mirrored into the oracle cannot hide."""

import math

import numpy as np
import pandas as pd


def test_lindley_backlog_matches_python_fold(spark, sf_dir):
    from vectordb_agentic_rag_spark.operators.windows import (
        win_lindley_queue_backlog,
    )

    out = win_lindley_queue_backlog(spark, sf_dir).toPandas()
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")[["ts"]]
    a = ev.groupby(ev["ts"].dt.normalize()).size().sort_index()
    cap = int(a.sum()) // len(a)
    b = 0
    exp = []
    for day, arr in a.items():
        b = max(0, b + int(arr) - cap)
        exp.append((day.date(), int(arr), cap, b, 1 if b > 0 else 0))
    got = [
        (r.day, int(r.arrivals), int(r.capacity), int(r.backlog),
         int(r.overloaded))
        for r in out.itertuples()
    ]
    assert got == exp
    # capacity at the mean makes SOME day overloaded at every sf
    assert any(o for *_, o in got)


def test_filter_ablation_matches_python(spark, sf_dir):
    from vectordb_agentic_rag_spark.operators.text import (
        _GOPHER_MAX_DUPF,
        _GOPHER_MAX_MWL,
        _GOPHER_MAX_TOPR,
        _GOPHER_MAX_WORDS,
        _GOPHER_MIN_MWL,
        _GOPHER_MIN_STOP,
        _GOPHER_MIN_WORDS,
    )
    from vectordb_agentic_rag_spark.operators.pipelines import (
        pipeline_filter_ablation,
    )

    out = pipeline_filter_ablation(spark, sf_dir).toPandas().set_index("stage")
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    flags = []
    for r in docs.itertuples():
        tk = r.text.split(" ")
        nw = len(tk)
        # round(6) mirrors text_gopher_rules' published metrics —
        # the ablation gates the SAME rounded values
        mwl = round((r.n_chars - nw + 1.0) / nw, 6)
        stop = sum(1 for w in tk if w in ("the", "a"))
        if nw >= 2:
            bigs = {f"{tk[i]} {tk[i + 1]}" for i in range(nw - 1)}
            dupf = round(1.0 - len(bigs) / (nw - 1.0), 6)
        else:
            dupf = 0.0
        topr = round(max(tk.count(w) for w in set(tk)) / nw, 6)
        flags.append(
            (
                _GOPHER_MIN_WORDS <= nw <= _GOPHER_MAX_WORDS,
                _GOPHER_MIN_MWL <= mwl <= _GOPHER_MAX_MWL,
                stop >= _GOPHER_MIN_STOP,
                dupf <= _GOPHER_MAX_DUPF,
                topr <= _GOPHER_MAX_TOPR,
            )
        )
    n = len(flags)
    keep_all = sum(all(f) for f in flags)
    assert out.loc["all", "n_keep"] == keep_all
    names = ["1_words", "2_word_len", "3_stopwords", "4_dup_bigram",
             "5_top_word"]
    for i, name in enumerate(names):
        wo = sum(all(f[j] for j in range(5) if j != i) for f in flags)
        row = out.loc[name]
        assert row["n_keep"] == wo
        assert row["marginal_removed_by_gate"] == wo - keep_all
        assert row["n_total"] == n
        assert row["keep_rate"] == round(wo / n, 6)
    # at least one gate must have unique bite on this corpus
    assert out["marginal_removed_by_gate"].max() > 0


def test_dkw_bands_match_numpy(spark, sf_dir):
    from vectordb_agentic_rag_spark.operators.stats.distribution import (
        agg_dkw_cdf_bands,
    )

    out = agg_dkw_cdf_bands(spark, sf_dir).toPandas().set_index("decile")
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    v = np.sort(np.floor(ev["value"].to_numpy() * 100 + 0.5).astype("int64"))
    n = len(v)
    eps = math.sqrt(math.log(2 / 0.05) / (2 * n))
    for d in range(1, 10):
        k = -(-d * n // 10)  # ceil(d*n/10)
        x = v[k - 1]
        ecdf = np.searchsorted(v, x, side="right") / n
        row = out.loc[d]
        assert row["value_cents"] == x
        assert row["ecdf"] == round(ecdf, 6)
        assert abs(row["eps"] - round(eps, 6)) <= 1e-9
        assert row["band_lo"] == round(max(0.0, ecdf - eps), 6)
        assert row["band_hi"] == round(min(1.0, ecdf + eps), 6)


def test_survival_rmst_matches_km_integral(spark, sf_dir):
    """Re-integrate the registered KM curve (step function) in plain
    Python with the same round(9) term quantization."""
    from decimal import Decimal

    from vectordb_agentic_rag_spark.operators.stats.models import (
        agg_kaplan_meier,
    )
    from vectordb_agentic_rag_spark.operators.stats.models import (
        _RMST_TAUS,
        agg_survival_rmst,
    )

    out = agg_survival_rmst(spark, sf_dir).toPandas().set_index("tau_min")
    km = (
        agg_kaplan_meier(spark, sf_dir)
        .toPandas()
        .sort_values("dur_min")
        .reset_index(drop=True)
    )
    ts = km["dur_min"].astype(int).tolist()
    sv = km["survival"].tolist()
    for tau in _RMST_TAUS:
        acc = Decimal(0)
        prev_t, prev_s = 0, 1.0
        for t, s in zip(ts, sv):
            acc += Decimal(str(round(prev_s * (min(t, tau) - min(prev_t, tau)), 9)))
            prev_t, prev_s = t, s
        tail = sv[-1] * (tau - min(ts[-1], tau))
        rmst = round(float(acc) + tail, 6)
        row = out.loc[tau]
        assert row["rmst_min"] == rmst
        assert row["n_steps"] == sum(1 for t in ts if t <= tau)
    # RMST is monotone in tau and bounded by tau
    vals = [out.loc[t, "rmst_min"] for t in _RMST_TAUS]
    assert vals == sorted(vals) and all(
        0 < v <= t for v, t in zip(vals, _RMST_TAUS)
    )


def test_forecast_mase_matches_numpy(spark, sf_dir):
    from vectordb_agentic_rag_spark.operators.stats.timeseries import (
        agg_forecast_mase,
    )

    out = (
        agg_forecast_mase(spark, sf_dir)
        .toPandas()
        .set_index(["event_type", "method"])
    )
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    cents = np.floor(ev["value"].to_numpy() * 100 + 0.5).astype("int64")
    ev = ev.assign(c=cents, day=ev["ts"].dt.normalize())
    for t, g in ev.groupby("event_type"):
        y = g.groupby("day")["c"].sum().sort_index().to_numpy()
        n = len(y)
        s1 = np.abs(np.diff(y)).sum()
        n1 = n - 1
        s7 = np.abs(y[7:] - y[:-7]).sum()
        n7 = n - 7
        smean = np.abs(n * y - y.sum()).sum()
        r = out.loc[(t, "seasonal_naive_7")]
        assert r["mae_cents"] == round(s7 / n7, 6)
        assert r["mase"] == round(s7 * n1 / (n7 * s1), 6)
        r = out.loc[(t, "mean_forecast")]
        assert r["mae_cents"] == round(smean / (n * n), 6)
        assert r["mase"] == round(smean * n1 / (n * n * s1), 6)


def test_diameter_double_sweep_matches_python_bfs(spark, sf_dir):
    import collections

    from vectordb_agentic_rag_spark.operators.graph import (
        graph_diameter_double_sweep,
    )

    out = graph_diameter_double_sweep(spark, sf_dir).collect()
    assert len(out) == 1
    r = out[0]
    li = pd.read_parquet(
        f"{sf_dir}/lineitem.parquet", columns=["l_orderkey", "l_partkey"]
    ).drop_duplicates()
    pairs = li.merge(li, on="l_orderkey")
    pairs = pairs[pairs["l_partkey_x"] < pairs["l_partkey_y"]]
    sup = pairs.groupby(["l_partkey_x", "l_partkey_y"]).size()
    adj: dict[int, set] = {}
    for (u, v), c in sup.items():
        if c >= 2:
            adj.setdefault(int(u), set()).add(int(v))
            adj.setdefault(int(v), set()).add(int(u))

    def bfs(s):
        depth = {s: 0}
        frontier = [s]
        d = 0
        while frontier:
            d += 1
            nf = []
            for u in frontier:
                for w in adj[u]:
                    if w not in depth:
                        depth[w] = d
                        nf.append(w)
            frontier = nf
        return depth

    seed = sorted(adj, key=lambda m: (-len(adj[m]), m))[0]
    d1 = bfs(seed)
    far = sorted(d1, key=lambda v: (-d1[v], v))[0]
    d2 = bfs(far)
    assert r.seed_node == seed
    assert r.ecc_seed == max(d1.values())
    assert r.far_node == far
    assert r.diameter_lower_bound == max(d2.values())
    assert r.n_reached == len(d1)
    # the bound is genuinely a refinement: ecc(far) >= ecc(seed)
    assert r.diameter_lower_bound >= r.ecc_seed


def test_lindley_live_matches_batch_minus_last_day(spark, sf_dir):
    """Drained live table == the batch recursion at day-1 capacity,
    minus the never-closed last day (close-on-rollover identity)."""
    from vectordb_agentic_rag_spark.streaming.core import (
        stream_lindley_backlog_live,
    )

    out = stream_lindley_backlog_live(spark, sf_dir).toPandas()
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")[["ts"]]
    a = ev.groupby(ev["ts"].dt.normalize()).size().sort_index()
    cap = int(a.iloc[0])
    b = 0
    exp = []
    for day, arr in a.items():
        b = max(0, b + int(arr) - cap)
        exp.append((day.date(), int(arr), cap, b, 1 if b > 0 else 0))
    exp = exp[:-1]  # the last day never closes in the stream
    got = [
        (r.day, int(r.arrivals), int(r.capacity), int(r.backlog),
         int(r.overloaded))
        for r in out.itertuples()
    ]
    assert got == exp
    assert len(got) == len(a) - 1


def test_lindley_live_skips_gap_days(spark, tmp_path):
    """Calendar days with no events must be SKIPPED by the live fold
    (no empty-day emission, no drain) so the drained table matches the
    present-days-only oracle recursion even when the fixture has gap
    days (ADVICE r11).  Synthetic 3-day corpus with a 2-day gap:
    cap = day-1 arrivals = 3; day 2 (5 arrivals) closes when day 5's
    first event folds -> backlog max(0, 0+5-3) = 2; days 3/4 emit
    nothing; day 5 never closes."""
    import uuid

    from vectordb_agentic_rag_spark.streaming.core import (
        stream_lindley_backlog_live,
    )

    d = tmp_path / f"lindley_gap_{uuid.uuid4().hex[:8]}"
    d.mkdir()
    rows = []
    eid = 0
    for day, n in [(1, 3), (2, 5), (5, 2)]:
        for i in range(n):
            rows.append(
                (
                    eid,
                    pd.Timestamp(f"2024-01-{day:02d} 00:00:00")
                    + pd.Timedelta(minutes=i),
                    1,
                    "view",
                    1.0,
                    "{}",
                )
            )
            eid += 1
    pdf = pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    pdf.to_parquet(d / "events.parquet")
    out = stream_lindley_backlog_live(spark, str(d)).toPandas()
    got = [
        (str(r.day), int(r.arrivals), int(r.capacity), int(r.backlog))
        for r in out.itertuples()
    ]
    assert got == [("2024-01-01", 3, 3, 0), ("2024-01-02", 5, 3, 2)]


def test_xml_roundtrip_lossless(spark, sf_dir):
    from vectordb_agentic_rag_spark.sources.readers import source_xml_roundtrip

    out = source_xml_roundtrip(spark, sf_dir).toPandas()
    nat = pd.read_parquet(f"{sf_dir}/nation.parquet").sort_values(
        "n_nationkey"
    )
    assert list(out["n_nationkey"]) == list(nat["n_nationkey"])
    assert list(out["n_name"]) == list(nat["n_name"])
    assert list(out["n_regionkey"]) == list(nat["n_regionkey"])


def test_alpha_sampling_weights_match_numpy(spark, sf_dir):
    from decimal import Decimal

    from vectordb_agentic_rag_spark.operators.pipelines import (
        pipeline_alpha_sampling_weights,
    )

    out = (
        pipeline_alpha_sampling_weights(spark, sf_dir)
        .toPandas()
        .set_index("source")
    )
    docs = pd.read_parquet(
        f"{sf_dir}/documents.parquet", columns=["source", "text"]
    )
    docs = docs.assign(tok=docs["text"].str.split(" ").str.len())
    g = docs.groupby("source")["tok"].agg(["count", "sum"])
    total = int(g["sum"].sum())
    qt = {
        s: Decimal(str(round(math.sqrt(int(r["sum"]) / total), 9)))
        for s, r in g.iterrows()
    }
    z = sum(qt.values(), Decimal(0))
    for s, r in g.iterrows():
        row = out.loc[s]
        assert row["n_docs"] == r["count"] and row["tokens"] == r["sum"]
        p = int(r["sum"]) / total
        w = float(qt[s]) / float(z)
        assert row["p_frac"] == round(p, 6)
        assert abs(row["alpha_weight"] - w) < 1e-6
        assert abs(row["boost"] - w / p) < 1e-6
    # small sources up-weighted, large damped
    small = g["sum"].idxmin()
    big = g["sum"].idxmax()
    assert out.loc[small, "boost"] > 1 > out.loc[big, "boost"]


def test_mediation_product_identity_and_numpy(spark, sf_dir):
    from vectordb_agentic_rag_spark.operators.stats.models import (
        agg_mediation_product,
    )

    r = agg_mediation_product(spark, sf_dir).collect()[0]
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    cents = np.floor(ev["value"].to_numpy() * 100 + 0.5).astype("int64")
    ev = ev.assign(c=np.where(ev["event_type"] == "purchase", cents, 0))
    u = ev.groupby("user_id").agg(m=("c", "size"), y=("c", "sum")).reset_index()
    u["x"] = (u["user_id"] * 2654435761) % 4294967296 // 2147483648
    x, m, y = (u[k].to_numpy(float) for k in ("x", "m", "y"))
    n = len(u)
    cxx = n * (x * x).sum() - x.sum() ** 2
    cxm = n * (x * m).sum() - x.sum() * m.sum()
    cxy = n * (x * y).sum() - x.sum() * y.sum()
    cmm = n * (m * m).sum() - m.sum() ** 2
    cmy = n * (m * y).sum() - m.sum() * y.sum()
    det = cxx * cmm - cxm * cxm
    a = cxm / cxx
    b = (cxx * cmy - cxm * cxy) / det
    direct = (cmm * cxy - cxm * cmy) / det
    total = cxy / cxx
    assert r.n_users == n
    assert abs(r.a_path - a) < 1e-6
    assert abs(r.b_path - b) < 1e-6
    assert abs(r.indirect_effect - a * b) < 1e-6
    assert abs(r.direct_effect - direct) < 1e-6
    assert abs(r.total_effect - total) < 1e-6
    # the exact OLS decomposition: total = direct + indirect
    assert abs(total - (direct + a * b)) < 1e-9


def test_ewma_control_chart_matches_python(spark, sf_dir):
    from vectordb_agentic_rag_spark.operators.windows import (
        _EWMA_CC_LAM,
        win_ewma_control_chart,
    )

    out = win_ewma_control_chart(spark, sf_dir).toPandas()
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    cents = np.floor(ev["value"].to_numpy() * 100 + 0.5).astype("int64")
    x = (
        pd.DataFrame({"day": ev["ts"].dt.normalize(), "c": cents})
        .groupby("day")["c"]
        .sum()
        .sort_index()
        .to_numpy()
    )
    n = len(x)
    mu0 = x.sum() / n
    sigma = np.abs(np.diff(x)).sum() / (n - 1) / 1.128
    lam, om = _EWMA_CC_LAM, 1 - _EWMA_CC_LAM
    z, pw = mu0, 1.0
    sig_count = 0
    for i, row in enumerate(out.itertuples()):
        z = lam * float(x[i]) + om * z
        pw = pw * (om * om)
        w = 3.0 * sigma * np.sqrt((1.0 / 7) * (1.0 - pw))
        assert row.x_cents == x[i]
        assert abs(row.z - z) < 1e-6
        assert abs(row.ucl - (mu0 + w)) < 1e-6
        assert abs(row.lcl - (mu0 - w)) < 1e-6
        expected_sig = 1 if (z > mu0 + w or z < mu0 - w) else 0
        assert row.signal == expected_sig
        sig_count += expected_sig
    assert len(out) == n


def test_minhash_estimate_error_matches_python(spark, sf_dir):
    from decimal import Decimal

    from vectordb_agentic_rag_spark.operators.dedup import (
        N_BANDS,
        N_HASH,
        P_CODE,
        P_HASH,
        _A,
        _B,
    )
    from vectordb_agentic_rag_spark.operators.dedup import (
        dedup_minhash_estimate_error,
    )

    out = dedup_minhash_estimate_error(spark, sf_dir).toPandas()
    docs = pd.read_parquet(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
    )
    codes, sigs, band_keys = {}, {}, {}
    for r in docs.itertuples():
        cs = set()
        for t in set(r.text.split(" ")):
            h = 0
            for ch in t:
                h = (h * 31 + ord(ch)) % P_CODE
            cs.add(h)
        codes[r.doc_id] = cs
        sg = [min((_A[i] * c + _B[i]) % P_HASH for c in cs) for i in range(N_HASH)]
        sigs[r.doc_id] = sg
        band_keys[r.doc_id] = [
            (j, sg[2 * j] * P_HASH + sg[2 * j + 1]) for j in range(N_BANDS)
        ]
    buckets: dict[tuple, list] = {}
    for d, bks in band_keys.items():
        for bk in bks:
            buckets.setdefault(bk, []).append(d)
    cand = set()
    for ds in buckets.values():
        ds = sorted(ds)
        for i in range(len(ds)):
            for j in range(i + 1, len(ds)):
                cand.add((ds[i], ds[j]))
    bins: dict[int, int] = {}
    sae = Decimal(0)
    n = 0
    for a, b in cand:
        inter = len(codes[a] & codes[b])
        union = len(codes[a] | codes[b])
        jac = inter / union
        if jac < 0.5:
            continue
        est = sum(sigs[a][i] == sigs[b][i] for i in range(N_HASH)) / N_HASH
        bins[int(np.floor((est - jac) * 20))] = (
            bins.get(int(np.floor((est - jac) * 20)), 0) + 1
        )
        sae += Decimal(str(round(abs(est - jac), 9)))
        n += 1
    got = dict(zip(out["err_bin"], out["n_pairs"]))
    assert got == bins
    mae = round(float(sae) / n, 6)
    assert (out["mae_overall"] == mae).all()
    for r in out.itertuples():
        assert r.share == round(r.n_pairs / n, 6)
    # the estimator is genuinely wide: multiple error bins occupied
    assert len(bins) >= 2


def test_context_dedup_pack_matches_python_sim(spark, sf_dir):
    """Rebuild the BM25 ranking, the near-dup pair set (from the
    minhash-candidate recompute machinery above), and simulate the
    greedy dedup-pack in plain Python."""
    from vectordb_agentic_rag_spark.operators.dedup import (
        N_BANDS,
        N_HASH,
        P_CODE,
        P_HASH,
        _A,
        _B,
    )
    from vectordb_agentic_rag_spark.operators.rag import (
        _CDP_BUDGET,
        _CDP_FETCH,
        rag_context_dedup_pack,
    )
    from vectordb_agentic_rag_spark.operators.rag import (
        _BM25_B,
        _BM25_K1,
        _KEYWORDS,
    )

    out = rag_context_dedup_pack(spark, sf_dir).toPandas()
    docs = pd.read_parquet(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
    )
    toks = {int(r.doc_id): r.text.split(" ") for r in docs.itertuples()}
    n_docs = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n_docs
    df = {w: sum(1 for t in toks.values() if w in t) for w in _KEYWORDS}
    scores = {}
    for d, t in toks.items():
        s = 0.0
        for w in _KEYWORDS:
            tfq = t.count(w)
            idf = math.log(1 + (n_docs - df[w] + 0.5) / (df[w] + 0.5))
            s += (
                idf
                * (tfq * (_BM25_K1 + 1))
                / (tfq + _BM25_K1 * (1 - _BM25_B + _BM25_B * len(t) / avgdl))
            )
        scores[d] = round(s, 6)
    ranked = sorted(scores, key=lambda d: (-scores[d], d))[:_CDP_FETCH]
    rset = set(ranked)
    codes, sigs, band_keys = {}, {}, {}
    for d, t in toks.items():
        cs = set()
        for w in set(t):
            h = 0
            for ch in w:
                h = (h * 31 + ord(ch)) % P_CODE
            cs.add(h)
        codes[d] = cs
        sg = [min((_A[i] * c + _B[i]) % P_HASH for c in cs) for i in range(N_HASH)]
        band_keys[d] = [(j, sg[2 * j] * P_HASH + sg[2 * j + 1]) for j in range(N_BANDS)]
    buckets: dict[tuple, list] = {}
    for d in ranked:
        for bk in band_keys[d]:
            buckets.setdefault(bk, []).append(d)
    # candidate pairs within the ranked set (banding restricted there
    # suffices: both ops restrict both endpoints to the ranked list)
    dup_pairs = set()
    for ds in buckets.values():
        ds = sorted(set(ds))
        for i in range(len(ds)):
            for j in range(i + 1, len(ds)):
                a, b = ds[i], ds[j]
                jac = len(codes[a] & codes[b]) / len(codes[a] | codes[b])
                if jac >= 0.5:
                    dup_pairs.add((a, b))
    kept, cum, exp = [], 0, []
    for d in ranked:
        if any((min(d, k), max(d, k)) in dup_pairs for k in kept):
            continue
        if cum + len(toks[d]) > _CDP_BUDGET:
            continue
        kept.append(d)
        cum += len(toks[d])
        exp.append((len(kept), d, len(toks[d]), cum))
    got = [
        (int(r.pos), int(r.doc_id), int(r.n_tokens), int(r.cum_tokens))
        for r in out.itertuples()
    ]
    assert got == exp
    # the dedup path genuinely fires: fewer kept than budget-only pack
    kept2, cum2 = 0, 0
    for d in ranked:
        if cum2 + len(toks[d]) <= _CDP_BUDGET:
            kept2 += 1
            cum2 += len(toks[d])
    assert len(exp) <= kept2


def test_matryoshka_recall_sweep_matches_numpy(spark, sf_dir):
    from vectordb_agentic_rag_spark.operators.vector import (
        _MRS_DIMS,
        _MRS_K,
        _MRS_QUERIES,
        vec_matryoshka_recall_sweep,
    )

    out = (
        vec_matryoshka_recall_sweep(spark, sf_dir)
        .toPandas()
        .set_index("dim")
    )
    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet").sort_values("vec_id")
    V = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    ids = emb["vec_id"].to_numpy()
    qm = ids < _MRS_QUERIES
    Q, C = V[qm], V[~qm]
    cids = ids[~qm]

    def topk(d):
        s = (Q[:, :d] @ C[:, :d].T) / (
            np.linalg.norm(Q[:, :d], axis=1)[:, None]
            * np.linalg.norm(C[:, :d], axis=1)[None, :]
        )
        s = np.round(s, 6)
        out = []
        for qi in range(len(Q)):
            order = sorted(
                range(len(cids)), key=lambda j: (-s[qi, j], cids[j])
            )
            out.append({cids[j] for j in order[:_MRS_K]})
        return out

    full = topk(max(_MRS_DIMS))
    for d in _MRS_DIMS:
        t = topk(d)
        hits = sum(len(a & b) for a, b in zip(t, full))
        row = out.loc[d]
        assert row["n_hits"] == hits
        assert row["recall"] == round(hits / (_MRS_K * _MRS_QUERIES), 6)
    assert out.loc[max(_MRS_DIMS), "recall"] == 1.0
    # truncation must genuinely cost recall at the smallest prefix
    assert out.loc[min(_MRS_DIMS), "recall"] < 1.0


def test_tail_dependence_matches_numpy(spark, sf_dir):
    from vectordb_agentic_rag_spark.operators.stats.distribution import (
        agg_tail_dependence_lambda,
    )

    r = agg_tail_dependence_lambda(spark, sf_dir).collect()[0]
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    cents = np.floor(ev["value"].to_numpy() * 100 + 0.5).astype("int64")
    ev = ev.assign(c=np.where(ev["event_type"] == "purchase", cents, 0))
    u = ev.groupby("user_id").agg(x=("c", "size"), y=("c", "sum"))
    x = np.sort(u["x"].to_numpy())
    y = np.sort(u["y"].to_numpy())
    n = len(u)

    def pick(v, numer):  # smallest value with 10*cum >= numer*n
        k = -(-numer * n // 10)
        return v[k - 1]

    qx90, qx10 = pick(x, 9), pick(x, 1)
    qy90, qy10 = pick(y, 9), pick(y, 1)
    assert (r.qx90, r.qx10, r.qy90, r.qy10) == (qx90, qx10, qy90, qy10)
    hi = (u["y"] > qy90).sum()
    lu = ((u["x"] > qx90) & (u["y"] > qy90)).sum() / hi if hi else None
    lo = (u["y"] <= qy10).sum()
    ll = ((u["x"] <= qx10) & (u["y"] <= qy10)).sum() / lo if lo else None
    assert r.n_users == n
    assert (r.lambda_upper is None) == (lu is None)
    if lu is not None:
        assert r.lambda_upper == round(lu, 6)
    if ll is not None:
        assert r.lambda_lower == round(ll, 6)
