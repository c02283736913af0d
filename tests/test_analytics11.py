"""Plain-Python recompute tests for the round-11 second wave
(operators/analytics11.py) — independent re-derivations from the raw
parquet, per the rule that a logic bug mirrored into the oracle
hash-matches cleanly and only a third path catches it."""

import numpy as np
import pandas as pd


def test_join_cardinality_estimate_matches_pandas(spark, sf_dir):
    from vectordb_agentic_rag_spark.operators.maintenance import (
        _CARD_JOINS,
        maintenance_join_cardinality_estimate,
    )

    out = (
        maintenance_join_cardinality_estimate(spark, sf_dir)
        .toPandas()
        .set_index("join_name")
    )
    assert len(out) == len(_CARD_JOINS)
    for lt, lk, rt, rk in _CARD_JOINS:
        left = pd.read_parquet(f"{sf_dir}/{lt}.parquet", columns=[lk])
        right = pd.read_parquet(f"{sf_dir}/{rt}.parquet", columns=[rk])
        nl, nr = len(left), len(right)
        ndv_l, ndv_r = left[lk].nunique(), right[rk].nunique()
        est = (nl * nr) // max(ndv_l, ndv_r)
        actual = len(left.merge(right, left_on=lk, right_on=rk))
        row = out.loc[f"{lt}.{lk}={rt}.{rk}"]
        assert (row["nl"], row["nr"]) == (nl, nr)
        assert (row["ndv_l"], row["ndv_r"]) == (ndv_l, ndv_r)
        assert row["est_rows"] == est
        assert row["actual_rows"] == actual
        assert row["q_error"] == round(max(est / actual, actual / est), 6)


def test_freshness_lag_matches_pandas(spark, sf_dir):
    from vectordb_agentic_rag_spark.operators.maintenance import (
        maintenance_freshness_lag_report,
    )

    out = (
        maintenance_freshness_lag_report(spark, sf_dir)
        .toPandas()
        .set_index("event_type")
    )
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")[["event_type", "ts"]]
    us = ev["ts"].astype("int64")
    if us.abs().max() > 10**16:  # nanos-generation fixture
        us = us // 1000
    ev = ev.assign(us=us, day=ev["ts"].dt.normalize())
    gmax = int(ev["us"].max())
    days = int((ev["day"].max() - ev["day"].min()).days) + 1
    for t, g in ev.groupby("event_type"):
        row = out.loc[t]
        n = len(g)
        last = int(g["us"].max())
        eld = int((g["us"] >= gmax - 86_400_000_000).sum())
        assert row["n"] == n
        assert row["lag_us"] == gmax - last
        assert row["events_last_day"] == eld
        assert row["days"] == days
        assert row["avg_per_day"] == round(n / days, 6)
        assert row["last_day_ratio"] == round(eld * days / n, 6)


def test_fulfillment_latency_profile_matches_numpy(spark, sf_dir):
    from vectordb_agentic_rag_spark.operators.stats.kpis import (
        agg_fulfillment_latency_profile,
    )

    out = (
        agg_fulfillment_latency_profile(spark, sf_dir)
        .toPandas()
        .set_index("priority")
    )
    li = pd.read_parquet(
        f"{sf_dir}/lineitem.parquet", columns=["l_orderkey", "l_shipdate"]
    )
    o = pd.read_parquet(
        f"{sf_dir}/orders.parquet",
        columns=["o_orderkey", "o_orderdate", "o_orderpriority"],
    )
    j = li.merge(o, left_on="l_orderkey", right_on="o_orderkey")
    lag = (
        pd.to_datetime(j["l_shipdate"]) - pd.to_datetime(j["o_orderdate"])
    ).dt.days
    j = j.assign(lag=lag)
    for p, g in j.groupby("o_orderpriority"):
        row = out.loc[p]
        v = np.sort(g["lag"].to_numpy())
        n = len(v)
        assert row["n"] == n
        assert row["min_lag"] == v[0] and row["max_lag"] == v[-1]
        assert row["avg_lag"] == round(float(v.sum()) / n, 6)
        # lower-empirical pick: smallest x with cum >= ceil(q*n)
        assert row["p50"] == v[(n + 1) // 2 - 1]
        assert row["p75"] == v[(3 * n + 3) // 4 - 1]
        assert row["p90"] == v[(9 * n + 9) // 10 - 1]


def test_dedup_line_level_matches_python(spark, sf_dir):
    from vectordb_agentic_rag_spark.operators.dedup import (
        _LINE_TOKENS,
        dedup_line_level,
    )

    out = dedup_line_level(spark, sf_dir).toPandas().set_index("source")
    docs = pd.read_parquet(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "source", "text"]
    )
    inst = []  # (doc_id, source, line)
    docs_per_line: dict[str, set] = {}
    for _, r in docs.iterrows():
        t = r["text"].split(" ")
        for i in range(0, len(t), _LINE_TOKENS):
            line = " ".join(t[i : i + _LINE_TOKENS])
            inst.append((r["doc_id"], r["source"], line))
            docs_per_line.setdefault(line, set()).add(r["doc_id"])
    per = {}
    for doc_id, src, line in inst:
        n, d, aff = per.setdefault(src, [0, 0, set()])
        per[src][0] += 1
        if len(docs_per_line[line]) >= 2:
            per[src][1] += 1
            per[src][2].add(doc_id)
    tot = [0, 0, 0]
    for src, (n, d, aff) in per.items():
        row = out.loc[src]
        assert row["n_lines"] == n
        assert row["n_dup_lines"] == d
        assert row["n_docs_affected"] == len(aff)
        assert row["dup_rate"] == round(d / n, 6)
        tot[0] += n
        tot[1] += d
        tot[2] += len(aff)
    row = out.loc["_ALL_"]
    assert (row["n_lines"], row["n_dup_lines"], row["n_docs_affected"]) == (
        tot[0],
        tot[1],
        tot[2],
    )
    # the corpus genuinely contains cross-doc duplicate lines at every sf
    assert row["n_dup_lines"] > 0


def _panel_sims(sf_dir, n_queries):
    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    emb = emb.sort_values("vec_id")
    V = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    ids = emb["vec_id"].to_numpy()
    qm = ids < n_queries
    Q, C = V[qm], V[~qm]
    qids, cids = ids[qm], ids[~qm]
    sims = (Q @ C.T) / (
        np.linalg.norm(Q, axis=1)[:, None] * np.linalg.norm(C, axis=1)[None, :]
    )
    return qids, cids, np.round(sims, 6)


def test_nn_distance_ratio_matches_numpy(spark, sf_dir):
    from vectordb_agentic_rag_spark.operators.vector import (
        vec_nn_distance_ratio,
    )

    out = vec_nn_distance_ratio(spark, sf_dir).toPandas().set_index("query_id")
    qids, cids, sims = _panel_sims(sf_dir, 10)
    for qi, qid in enumerate(qids):
        # rank by (rounded sim desc, neighbor_id asc)
        order = sorted(range(len(cids)), key=lambda j: (-sims[qi, j], cids[j]))
        n1, n2 = order[0], order[1]
        row = out.loc[qid]
        assert (row["nn1_id"], row["nn2_id"]) == (cids[n1], cids[n2])
        s1, s2 = sims[qi, n1], sims[qi, n2]
        assert row["sim1"] == s1 and row["sim2"] == s2
        assert s2 < 1.0
        ratio = (1.0 - s1) / (1.0 - s2)
        assert row["dist_ratio"] == round(ratio, 6)
        assert row["match_reliable"] == (1 if ratio < 0.8 else 0)


def test_hubness_topk_counts_matches_numpy(spark, sf_dir):
    from vectordb_agentic_rag_spark.operators.vector import (
        _HUB_K,
        _HUB_QUERIES,
        vec_hubness_topk_counts,
    )

    out = vec_hubness_topk_counts(spark, sf_dir).toPandas()
    qids, cids, sims = _panel_sims(sf_dir, _HUB_QUERIES)
    occ: dict[int, int] = {}
    for qi in range(len(qids)):
        order = sorted(range(len(cids)), key=lambda j: (-sims[qi, j], cids[j]))
        for j in order[:_HUB_K]:
            occ[cids[j]] = occ.get(cids[j], 0) + 1
    hist: dict[int, int] = {}
    for c in occ.values():
        hist[c] = hist.get(c, 0) + 1
    hist[0] = len(cids) - len(occ)
    got = dict(zip(out["occurrences"], out["n_neighbors"]))
    assert got == hist
    for _, r in out.iterrows():
        assert r["corpus_share"] == round(r["n_neighbors"] / len(cids), 6)
    # distribution must cover the whole corpus exactly once
    assert out["n_neighbors"].sum() == len(cids)
    assert (out["occurrences"] * out["n_neighbors"]).sum() == _HUB_K * len(qids)


def _daily(sf_dir):
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    ev = ev.assign(day=ev["ts"].dt.normalize())
    return ev


def test_croston_matches_python_fold(spark, sf_dir):
    from vectordb_agentic_rag_spark.operators.windows import (
        _CROSTON_A,
        _CROSTON_THR,
        win_croston_intermittent,
    )

    out = win_croston_intermittent(spark, sf_dir).toPandas()
    ev = _daily(sf_dir)
    q = (
        ev[(ev["event_type"] == "error") & (ev["value"] >= _CROSTON_THR)]
        .groupby("day")
        .size()
        .reindex(sorted(ev["day"].unique()), fill_value=0)
    )
    init, z, p, gap = 0, 0.0, 0.0, 0
    exp = []
    for day, qd in q.items():
        qd = int(qd)
        g = gap + 1
        if qd > 0:
            if init == 0:
                z, p, init = float(qd), float(g), 1
            else:
                z = z + _CROSTON_A * (float(qd) - z)
                p = p + _CROSTON_A * (float(g) - p)
            gap = 0
        else:
            gap = g
        exp.append(
            (
                day.date(),
                qd,
                round(z, 6) if init else None,
                round(p, 6) if init else None,
                round(z / p, 6) if init else None,
            )
        )
    assert len(out) == len(exp)
    for row, (day, qd, lvl, itv, fc) in zip(out.itertuples(), exp):
        assert row.day == day and row.demand == qd
        for got, want in (
            (row.level, lvl),
            (row.avg_interval, itv),
            (row.forecast, fc),
        ):
            assert (pd.isna(got) and want is None) or got == want
    # the series must initialize at every sf (>= 1 demand day)
    assert out["forecast"].notna().any()


def test_peak_prominence_matches_python(spark, sf_dir):
    from vectordb_agentic_rag_spark.operators.windows import (
        win_peak_prominence_daily,
    )

    out = win_peak_prominence_daily(spark, sf_dir).toPandas()
    ev = _daily(sf_dir)
    pur = ev[ev["event_type"] == "purchase"]
    cents = np.floor(pur["value"].to_numpy() * 100 + 0.5).astype("int64")
    rev = (
        pd.DataFrame({"day": pur["day"], "c": cents})
        .groupby("day")["c"]
        .sum()
        .reindex(sorted(ev["day"].unique()), fill_value=0)
    )
    v = rev.to_numpy()
    days = [d.date() for d in rev.index]
    exp = []
    for i in range(1, len(v) - 1):
        if v[i] > v[i - 1] and v[i] > v[i + 1]:
            lh = [j for j in range(i) if v[j] > v[i]]
            rh = [j for j in range(i + 1, len(v)) if v[j] > v[i]]
            lo = max(lh) + 1 if lh else 0
            hi = min(rh) if rh else len(v)
            lbase = v[lo:i].min()
            rbase = v[i + 1 : hi].min()
            exp.append((days[i], int(v[i]), int(v[i] - max(lbase, rbase))))
    assert len(exp) >= 1
    got = list(zip(out["day"], out["rev_cents"], out["prominence_cents"]))
    assert got == exp


def test_ratio_metric_delta_ci_matches_numpy(spark, sf_dir):
    from vectordb_agentic_rag_spark.operators.stats.models import (
        agg_ratio_metric_delta_ci,
    )

    out = agg_ratio_metric_delta_ci(spark, sf_dir).toPandas().set_index("arm")
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    cents = np.floor(ev["value"].to_numpy() * 100 + 0.5).astype("int64")
    ev = ev.assign(
        x=np.where(ev["event_type"] == "purchase", cents, 0), y=1
    )
    u = ev.groupby("user_id").agg(x=("x", "sum"), y=("y", "sum")).reset_index()
    u["arm"] = (u["user_id"] * 2654435761) % 4294967296 // 2147483648
    for arm, g in u.groupby("arm"):
        n = len(g)
        x, y = g["x"].to_numpy(float), g["y"].to_numpy(float)
        sx, sy = x.sum(), y.sum()
        ratio = sx / sy
        cxx = n * (x * x).sum() - sx * sx
        cxy = n * (x * y).sum() - sx * sy
        cyy = n * (y * y).sum() - sy * sy
        se = np.sqrt(
            (cxx - 2 * ratio * cxy + ratio * ratio * cyy)
            / (sy * sy * (n - 1))
        )
        row = out.loc[arm]
        assert row["n_users"] == n
        assert row["sum_x_cents"] == sx and row["sum_y_events"] == sy
        assert abs(row["ratio"] - ratio) < 1e-6
        assert abs(row["se"] - se) < 1e-6
        assert abs(row["ci_lo"] - (ratio - 1.96 * se)) < 1e-6
        assert abs(row["ci_hi"] - (ratio + 1.96 * se)) < 1e-6
        assert se > 0


def test_tukey_hsd_matches_numpy(spark, sf_dir):
    from vectordb_agentic_rag_spark.operators.stats.tests import (
        agg_tukey_hsd_qstat,
    )

    out = (
        agg_tukey_hsd_qstat(spark, sf_dir)
        .toPandas()
        .set_index(["dow_a", "dow_b"])
    )
    assert len(out) == 21
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    v = np.floor(ev["value"].to_numpy() * 100 + 0.5).astype("int64")
    # Spark dayofweek: 1=Sunday..7=Saturday; pandas dayofweek: 0=Monday
    dow = (ev["ts"].dt.dayofweek.to_numpy() + 1) % 7 + 1
    groups = {g: v[dow == g].astype(float) for g in range(1, 8)}
    n = {g: len(x) for g, x in groups.items()}
    s = {g: x.sum() for g, x in groups.items()}
    ssw = sum(
        ((x - x.mean()) ** 2).sum() for x in groups.values()
    )
    msw = ssw / (sum(n.values()) - 7)
    for i in range(1, 8):
        for j in range(i + 1, 8):
            mi, mj = s[i] / n[i], s[j] / n[j]
            q2 = 2 * (mi - mj) ** 2 / (msw * (1 / n[i] + 1 / n[j]))
            row = out.loc[(i, j)]
            assert (row["n_a"], row["n_b"]) == (n[i], n[j])
            assert abs(row["mean_a"] - mi / 100) < 1e-6
            assert abs(row["mean_b"] - mj / 100) < 1e-6
            assert abs(row["q_stat"] - np.sqrt(q2)) < 1e-5
            assert row["significant"] == (1 if q2 > 17.3889 else 0)


def test_metadata_filter_matches_python(spark, sf_dir):
    from vectordb_agentic_rag_spark.operators.multimodal import (
        _IMG_MAX_ASPECT,
        _IMG_MIN_SIDE,
        multimodal_metadata_filter,
    )

    out = multimodal_metadata_filter(spark, sf_dir).toPandas().set_index("stage")
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["text"])
    p1 = p2 = p3 = 0
    for text in docs["text"]:
        p = text.encode()
        n, first, last = len(p), p[0], p[-1]
        w = 16 + (n * 7 + first) % 1009
        h = 16 + (n * 13 + last) % 1009
        fmt = ["jpeg", "png", "webp"][n % 3]
        a = min(w, h) >= _IMG_MIN_SIDE
        b = a and _IMG_MAX_ASPECT * min(w, h) >= max(w, h)
        c = b and fmt != "webp"
        p1 += a
        p2 += b
        p3 += c
    nt = len(docs)
    assert list(out["n_pass"]) == [p1, p2, p3]
    assert (out["n_total"] == nt).all()
    for stage, np_ in zip(("1_min_dim", "2_aspect", "3_format"), (p1, p2, p3)):
        assert out.loc[stage, "pass_rate"] == round(np_ / nt, 6)
    # funnel must be monotone and non-degenerate
    assert nt >= p1 >= p2 >= p3 and 0 < p3 < nt


def test_audio_frames_matches_python(spark, sf_dir):
    from vectordb_agentic_rag_spark.operators.multimodal import (
        _PCM_FRAME,
        _PCM_HOP,
        _PCM_SR,
        multimodal_audio_frames,
    )

    out = multimodal_audio_frames(spark, sf_dir).toPandas().set_index("doc_id")
    docs = pd.read_parquet(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
    )
    for _, r in docs.iterrows():
        p = r["text"].encode()
        ns = len(p) // 2
        row = out.loc[r["doc_id"]]
        assert row["n_bytes"] == len(p)
        assert row["n_samples"] == ns
        assert row["duration_ms"] == ns * 1000 // _PCM_SR
        nf = 1 + (ns - _PCM_FRAME) // _PCM_HOP if ns >= _PCM_FRAME else 0
        assert row["n_frames"] == nf
        assert row["first_sample_u16"] == p[0] + 256 * p[1]


def test_betweenness_seeds_matches_python_brandes(spark, sf_dir):
    """Independent truncated-Brandes recompute (dict/BFS) with the
    same round(9)-per-term quantization, compared at round(6)."""
    import collections
    from decimal import Decimal

    from vectordb_agentic_rag_spark.operators.graph import (
        _BT_DEPTH,
        _BT_SEEDS,
        _BT_TOPK,
        graph_betweenness_seeds,
    )

    out = graph_betweenness_seeds(spark, sf_dir).toPandas()
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
    seeds = sorted(adj, key=lambda m: (-len(adj[m]), m))[:_BT_SEEDS]
    bt: dict[int, Decimal] = {}
    for s in seeds:
        depth = {s: 0}
        sigma = {s: 1}
        frontier = [s]
        by_depth = {0: [s]}
        for d in range(1, _BT_DEPTH + 1):
            nxt = collections.defaultdict(int)
            for u in frontier:
                for w in adj[u]:
                    if w not in depth:
                        nxt[w] += sigma[u]
            frontier = []
            for w, sg in nxt.items():
                depth[w] = d
                sigma[w] = sg
                frontier.append(w)
            by_depth[d] = list(frontier)
        delta: dict[int, Decimal] = {}
        for d in range(_BT_DEPTH - 1, 0, -1):
            for v in by_depth[d]:
                terms = [
                    Decimal(
                        str(
                            round(
                                sigma[v]
                                / sigma[w]
                                * (1.0 + float(delta.get(w, Decimal(0)))),
                                9,
                            )
                        )
                    )
                    for w in adj[v]
                    if depth.get(w) == d + 1
                ]
                if terms:
                    delta[v] = sum(terms, Decimal(0))
        for v, dl in delta.items():
            bt[v] = bt.get(v, Decimal(0)) + dl
    top = sorted(bt.items(), key=lambda kv: (-kv[1], kv[0]))[:_BT_TOPK]
    exp = [(v, round(float(d), 6)) for v, d in top]
    got = [(int(r.part), r.betweenness) for r in out.itertuples()]
    assert got == exp
    assert len(got) >= 1 and got[0][1] > 0


def test_team_draft_interleave_matches_python_sim(spark, sf_dir):
    """Rebuild both rankings (BM25 + keyword overlap, round(6)-score
    order with id tie-break) and simulate the deterministic draft in
    plain Python."""
    import math

    from vectordb_agentic_rag_spark.operators.rag import (
        _BM25_B,
        _BM25_K1,
        _KEYWORDS,
        _TDI_N,
        rag_team_draft_interleave,
    )

    out = rag_team_draft_interleave(spark, sf_dir).toPandas()
    docs = pd.read_parquet(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
    )
    toks = {r["doc_id"]: r["text"].split(" ") for _, r in docs.iterrows()}
    n_docs = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n_docs
    df = {
        w: sum(1 for t in toks.values() if w in t) for w in _KEYWORDS
    }
    bm_scores = {}
    ov_scores = {}
    for d, t in toks.items():
        s = 0.0
        for w in _KEYWORDS:
            tf = t.count(w)
            idf = math.log(1 + (n_docs - df[w] + 0.5) / (df[w] + 0.5))
            s += (
                idf
                * (tf * (_BM25_K1 + 1))
                / (tf + _BM25_K1 * (1 - _BM25_B + _BM25_B * len(t) / avgdl))
            )
        bm_scores[d] = round(s, 6)
        ov_scores[d] = sum(1 for w in _KEYWORDS if w in t)
    la = [d for d, _ in sorted(bm_scores.items(), key=lambda kv: (-kv[1], kv[0]))][:_TDI_N]
    lb = [d for d, _ in sorted(ov_scores.items(), key=lambda kv: (-kv[1], kv[0]))][:_TDI_N]
    picked: set = set()
    draft = []
    for r in range(1, _TDI_N + 1):
        order = [("A", la), ("B", lb)] if r % 2 == 1 else [("B", lb), ("A", la)]
        for team, lst in order:
            nxt = next((d for d in lst if d not in picked), None)
            if nxt is not None:
                picked.add(nxt)
                draft.append((nxt, team))
    exp = [(i + 1, d, t) for i, (d, t) in enumerate(draft[:_TDI_N])]
    got = [(int(r.pos), int(r.doc_id), r.team) for r in out.itertuples()]
    assert got == exp
    # both teams genuinely contribute
    teams = {t for _, _, t in got}
    assert teams == {"A", "B"}
