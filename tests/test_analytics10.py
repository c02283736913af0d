"""Plain-Python recompute tests for the round-11 wave
(operators/analytics10.py) — independent re-derivations from the raw
parquet, per the rule that a logic bug mirrored into the oracle
hash-matches cleanly and only a third path catches it."""

import pandas as pd


def test_markov_first_passage_matches_fraction_solve(spark, sf_dir):
    """Re-derive the mean first-passage times with exact Fractions:
    build the transition counts in pandas, solve the 4x4 linear
    system by Gaussian elimination over Q, compare at round(6)."""
    from fractions import Fraction

    from vectordb_agentic_rag_spark.operators.stats.kpis import (
        _FP_STATES,
        _FP_TARGET,
        agg_markov_first_passage,
    )

    ev = pd.read_parquet(f"{sf_dir}/events.parquet")[
        ["user_id", "ts", "event_id", "event_type"]
    ].sort_values(["user_id", "ts", "event_id"])
    c: dict[tuple, int] = {}
    for _, g in ev.groupby("user_id"):
        ts = list(g["event_type"])
        for a, b in zip(ts, ts[1:]):
            c[(a, b)] = c.get((a, b), 0) + 1
    states = _FP_STATES
    n = {
        s: sum(c.get((s, j), 0) for j in states + [_FP_TARGET])
        for s in states
    }
    # n_i * m_i - sum_k c_ik * m_k = n_i
    k = len(states)
    A = [
        [
            Fraction(
                (n[si] - c.get((si, sj), 0))
                if si == sj
                else -c.get((si, sj), 0)
            )
            for sj in states
        ]
        for si in states
    ]
    b = [Fraction(n[si]) for si in states]
    # Gaussian elimination over exact rationals
    for col in range(k):
        piv = next(r for r in range(col, k) if A[r][col] != 0)
        A[col], A[piv] = A[piv], A[col]
        b[col], b[piv] = b[piv], b[col]
        for r in range(k):
            if r != col and A[r][col] != 0:
                f = A[r][col] / A[col][col]
                A[r] = [x - f * y for x, y in zip(A[r], A[col])]
                b[r] = b[r] - f * b[col]
    m = {states[i]: b[i] / A[i][i] for i in range(k)}

    got = {
        r.from_state: (r.n_from, r.mean_steps_to_purchase)
        for r in agg_markov_first_passage(spark, sf_dir).collect()
    }
    assert set(got) == set(states)
    for s in states:
        assert got[s][0] == n[s]
        assert got[s][1] == round(float(m[s]), 6), s
        # a first-passage time is at least one step
        assert got[s][1] >= 1.0


def test_woe_information_value_matches_python_recompute(spark, sf_dir):
    """Re-derive the WOE/IV table in plain Python: user scores and
    outcomes from the raw parquet, strict-less CDF deciles, Decimal
    IV accumulation."""
    import math
    from decimal import Decimal

    import numpy as np

    from vectordb_agentic_rag_spark.operators.stats.models import (
        agg_woe_information_value,
    )

    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    day = pd.to_datetime(ev["ts"]).dt.date
    pre = day < pd.Timestamp("2024-01-16").date()
    cents = np.floor(ev["value"] * 100 + 0.5).astype("int64")
    score = (
        pd.Series(np.where(pre, cents, 0), index=ev.index)
        .groupby(ev["user_id"])
        .sum()
    )
    good_mask = (
        (ev["event_type"] == "purchase")
        & (~pre)
        & (ev["value"] * 100 >= 10000)
    )
    good = good_mask.groupby(ev["user_id"]).max().astype(int)
    n = len(score)
    less = {
        v: int((score < v).sum()) for v in score.unique()
    }
    decile = score.map(lambda v: min(9, 10 * less[v] // n))
    cells = {}
    for d in range(10):
        m = decile == d
        if m.any():
            g = int(good[m].sum())
            cells[d] = (int(m.sum()), g, int(m.sum()) - g)
    gt = sum(c[1] for c in cells.values())
    bt = sum(c[2] for c in cells.values())
    terms = {}
    for d, (nu, ng, nb) in cells.items():
        if ng and nb:
            terms[d] = Decimal(
                f"{round((ng / gt - nb / bt) * math.log((ng * bt) / (nb * gt)), 9):.9f}"
            )
    iv_total = round(float(sum(terms.values())), 6)

    got = {
        r.decile: r
        for r in agg_woe_information_value(spark, sf_dir).collect()
    }
    assert set(got) == set(cells)
    for d, (nu, ng, nb) in cells.items():
        r = got[d]
        assert (r.n_users, r.n_good, r.n_bad) == (nu, ng, nb), d
        if ng and nb:
            assert r.woe == round(math.log((ng * bt) / (nb * gt)), 6), d
            assert r.iv_term == round(float(terms[d]), 6), d
        else:
            assert r.woe is None and r.iv_term is None, d
        assert r.iv_total == iv_total
    assert iv_total >= 0  # IV is a sum of (p-q)*ln(p/q) >= 0 terms


def test_xbar_r_control_matches_python_recompute(spark, sf_dir):
    """Re-derive the control chart in plain Python from raw parquet:
    first-5-per-day subgroups, exact integer limit compares."""
    import numpy as np

    from vectordb_agentic_rag_spark.operators.windows import (
        _SPC_A2_MILLI,
        _SPC_D4_MILLI,
        _SPC_N,
        win_xbar_r_control,
    )

    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    pur = ev[ev["event_type"] == "purchase"].copy()
    pur["day"] = pd.to_datetime(pur["ts"]).dt.date
    pur["cents"] = np.floor(pur["value"] * 100 + 0.5).astype("int64")
    subs = {}
    for day, g in pur.sort_values(["ts", "event_id"]).groupby("day"):
        top = g.head(_SPC_N)
        if len(top) == _SPC_N:
            c = top["cents"]
            subs[day] = (int(c.sum()), int(c.max() - c.min()))
    d = len(subs)
    st = sum(s for s, _ in subs.values())
    rt = sum(r for _, r in subs.values())

    got = {r.day: r for r in win_xbar_r_control(spark, sf_dir).collect()}
    assert set(got) == set(subs)
    for day, (s, rng) in subs.items():
        r = got[day]
        assert r.range_cents == rng
        assert r.xbar == round(s / _SPC_N / 100.0, 6)
        assert r.xbar_out == int(
            1000 * s * d > 1000 * st + _SPC_N * _SPC_A2_MILLI * rt
            or 1000 * s * d < 1000 * st - _SPC_N * _SPC_A2_MILLI * rt
        )
        assert r.range_out == int(1000 * rng * d > _SPC_D4_MILLI * rt)


def test_join_key_skew_matches_pandas(spark, sf_dir):
    from vectordb_agentic_rag_spark.operators.maintenance import (
        _SKEW_KEYS,
        maintenance_join_key_skew,
    )

    got = {
        r.join_key: r
        for r in maintenance_join_key_skew(spark, sf_dir).collect()
    }
    for tbl, key in _SKEW_KEYS:
        vc = pd.read_parquet(f"{sf_dir}/{tbl}.parquet")[key].value_counts()
        r = got[f"{tbl}.{key}"]
        assert r.n_keys == len(vc)
        assert r.n_rows == int(vc.sum())
        assert r.max_key_rows == int(vc.max())
        assert r.top10_share == round(
            float(vc.nlargest(10).sum()) / int(vc.sum()), 6
        )
        assert r.skew_ratio >= 1.0


def test_dim_variance_profile_matches_numpy(spark, sf_dir):
    import numpy as np

    from vectordb_agentic_rag_spark.operators.vector import (
        vec_dim_variance_profile,
    )

    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")["embedding"]
    m = np.stack(emb.to_numpy()).astype(np.float64)
    # half-AWAY rounding (the engines' convention — np.round is
    # half-even and would flip exact .5 micro-values)
    shifted = m * 1e6
    vi = np.where(
        shifted >= 0, np.floor(shifted + 0.5), np.ceil(shifted - 0.5)
    ).astype("int64")
    n = vi.shape[0]
    got = {
        r.dim: r for r in vec_dim_variance_profile(spark, sf_dir).collect()
    }
    assert set(got) == set(range(1, vi.shape[1] + 1))
    cs = []
    for d in range(vi.shape[1]):
        col = vi[:, d].astype(object)  # exact int python arithmetic
        sx = int(sum(col))
        sxx = int(sum(int(x) * int(x) for x in col))
        cs.append(n * sxx - sx * sx)
        r = got[d + 1]
        assert r.n == n
        assert r.mean == round(sx / n / 1e6, 6), d
        assert r.variance == round(cs[-1] / (float(n) * n) / 1e12, 6), d
    tot = sum(cs)
    for d in range(vi.shape[1]):
        assert got[d + 1].var_share == round(cs[d] / float(tot), 6)


def test_dedup_threshold_sensitivity_monotone_and_anchored(spark, sf_dir):
    """The sweep must be monotone nonincreasing in tau, and its
    tau = 0.7 row must agree with dedup_near_minhash's verified pair
    table (same banding, same verify)."""
    from vectordb_agentic_rag_spark.operators.pipelines import (
        pipeline_dedup_threshold_sensitivity,
    )
    from vectordb_agentic_rag_spark.operators.dedup import (
        dedup_near_minhash,
    )

    rows = (
        pipeline_dedup_threshold_sensitivity(spark, sf_dir)
        .orderBy("tau_pct")
        .collect()
    )
    assert [r.tau_pct for r in rows] == [50, 60, 70, 80, 90]
    for a, b in zip(rows, rows[1:]):
        assert a.n_pairs >= b.n_pairs
        assert a.n_docs_removed >= b.n_docs_removed
    nm = dedup_near_minhash(spark, sf_dir)
    r70 = [r for r in rows if r.tau_pct == 70][0]
    assert r70.n_pairs == nm.count()
    assert (
        r70.n_docs_removed
        == nm.select("doc_b").distinct().count()
    )


def test_funnel_stage_live_matches_batch_subsequence(spark, sf_dir):
    """Live stage counts == plain-Python greedy state machine over
    each user's (ts, event_id)-ordered events."""
    from vectordb_agentic_rag_spark.streaming.core import (
        stream_funnel_stage_live,
    )

    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    ev = ev[ev["event_type"].isin(["view", "click", "purchase"])]
    reach = {1: 0, 2: 0, 3: 0}
    for _, g in ev.sort_values(["ts", "event_id"]).groupby("user_id"):
        st = 0
        for et in g["event_type"]:
            if st == 0 and et == "view":
                st = 1
            elif st == 1 and et == "click":
                st = 2
            elif st == 2 and et == "purchase":
                st = 3
        for k in range(1, st + 1):
            reach[k] += 1
    got = {
        r.stage: r.n_users
        for r in stream_funnel_stage_live(spark, sf_dir).collect()
    }
    assert got == reach
    assert reach[1] >= reach[2] >= reach[3]


def test_holm_matches_python_stepdown(spark, sf_dir):
    """Holm rejections == plain-Python step-down over scipy-free exact
    sign-test p-values recomputed from the day grid."""
    import math

    import numpy as np

    from vectordb_agentic_rag_spark.operators.stats.tests import (
        agg_holm_bonferroni,
    )

    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    ev["day"] = pd.to_datetime(ev["ts"]).dt.date
    ev["cents"] = np.floor(ev["value"] * 100 + 0.5).astype("int64")
    grid = ev.groupby(["event_type", "day"])["cents"].sum().unstack(0)
    types = sorted(grid.columns)
    pvals = {}
    for i, a in enumerate(types):
        for b in types[i + 1 :]:
            diff = grid[a] - grid[b]
            n = int((diff != 0).sum())
            s = int((diff > 0).sum())
            k = min(s, n - s)
            tail = sum(math.comb(n, j) for j in range(k + 1))
            pvals[(a, b)] = min(1.0, 2 * tail / 2**n)
    order = sorted(pvals, key=lambda ab: (pvals[ab], ab))
    m = len(order)
    rejected = set()
    for i, ab in enumerate(order, 1):
        if pvals[ab] <= 0.05 / (m - i + 1):
            rejected.add(ab)
        else:
            break
    got = {
        (r.type_a, r.type_b): r
        for r in agg_holm_bonferroni(spark, sf_dir).collect()
    }
    assert set(got) == set(pvals)
    for ab, p in pvals.items():
        assert got[ab].p_value == round(p, 9)
        assert got[ab].rejected == int(ab in rejected), ab


def test_cumulative_gains_matches_python(spark, sf_dir):
    """Gains/lift re-derived in plain Python with strict-less CDF
    deciles (DESC)."""
    import numpy as np

    from vectordb_agentic_rag_spark.operators.stats.models import (
        agg_cumulative_gains_curve,
    )

    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    day = pd.to_datetime(ev["ts"]).dt.date
    pre = day < pd.Timestamp("2024-01-16").date()
    cents = np.floor(ev["value"] * 100 + 0.5).astype("int64")
    score = (
        pd.Series(np.where(pre, cents, 0), index=ev.index)
        .groupby(ev["user_id"])
        .sum()
    )
    resp = (
        (
            (ev["event_type"] == "purchase")
            & (~pre)
            & (ev["value"] * 100 >= 10000)
        )
        .groupby(ev["user_id"])
        .max()
        .astype(int)
    )
    n = len(score)
    greater = {v: int((score > v).sum()) for v in score.unique()}
    decile = score.map(lambda v: min(9, 10 * greater[v] // n))
    cells = {
        d: (int((decile == d).sum()), int(resp[decile == d].sum()))
        for d in sorted(decile.unique())
    }
    nu = sum(c[0] for c in cells.values())
    nr = sum(c[1] for c in cells.values())
    got = {
        r.decile: r
        for r in agg_cumulative_gains_curve(spark, sf_dir).collect()
    }
    assert set(got) == set(cells)
    cu = cr = 0
    for d in sorted(cells):
        cu += cells[d][0]
        cr += cells[d][1]
        r = got[d]
        assert (r.n_users, r.n_resp, r.cum_users, r.cum_resp) == (
            cells[d][0],
            cells[d][1],
            cu,
            cr,
        ), d
        assert r.gain == round(cr / nr, 6)
        assert r.lift == round(cr * nu / (cu * nr), 6)
    assert got[max(cells)].gain == 1.0  # curve ends at full capture


def test_vocab_coverage_matches_python(spark, sf_dir):
    from collections import Counter

    from vectordb_agentic_rag_spark.operators.text import (
        _VC_NS,
        text_vocab_coverage_topn,
    )

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")["text"]
    cnt = Counter()
    for t in docs:
        cnt.update(w for w in t.split(" ") if w)
    total = sum(cnt.values())
    ordered = sorted(cnt.values(), reverse=True)
    got = {
        r.top_n: r for r in text_vocab_coverage_topn(spark, sf_dir).collect()
    }
    assert set(got) == set(_VC_NS)
    prev = 0.0
    for n in _VC_NS:
        covered = sum(ordered[:n])
        r = got[n]
        assert r.vocab_size == len(cnt)
        assert r.tokens_total == total
        assert r.tokens_covered == covered, n
        assert r.coverage == round(covered / total, 6)
        assert r.coverage >= prev  # monotone in N
        prev = r.coverage
