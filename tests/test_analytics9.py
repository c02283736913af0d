"""Recompute tests for the round-9 window-safe wave (analytics9.py):
every op is re-derived in plain Python from the raw fixture and
compared value-for-value."""

import math

import pytest


def _daily_cents(spark, sf_dir, types=None):
    from vectordb_agentic_rag_spark.tables import table
    from pyspark.sql import functions as F

    ev = table(spark, sf_dir, "events")
    if types:
        ev = ev.where(F.col("event_type").isin(*types))
    rows = (
        ev.groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(F.expr("CAST(value * 100 + 0.5 AS BIGINT)")).alias("tot")
        )
        .collect()
    )
    return rows


def test_cramer_von_mises_matches_bruteforce(spark, sf_dir):
    """T from the closed-form block machinery equals the textbook
    midrank computation over the raw per-event cent values."""
    from vectordb_agentic_rag_spark.operators.stats.tests import (
        agg_cramer_von_mises_2samp,
    )
    from vectordb_agentic_rag_spark.tables import table
    from pyspark.sql import functions as F

    ev = table(spark, sf_dir, "events")
    rows = (
        ev.where(F.col("event_type").isin("click", "view"))
        .select(
            "event_type",
            F.expr("CAST(value * 100 + 0.5 AS BIGINT)").alias("c"),
        )
        .collect()
    )
    xs = sorted(r.c for r in rows if r.event_type == "click")
    ys = sorted(r.c for r in rows if r.event_type == "view")
    n1, n2 = len(xs), len(ys)
    both = sorted(xs + ys)
    # midrank of value v in the combined sample
    import bisect

    def midrank(v):
        lo = bisect.bisect_left(both, v)
        hi = bisect.bisect_right(both, v)
        return (lo + 1 + hi) / 2.0

    u = n1 * sum(
        (midrank(v) - (i + 1)) ** 2 for i, v in enumerate(xs)
    ) + n2 * sum((midrank(v) - (j + 1)) ** 2 for j, v in enumerate(ys))
    nn = n1 + n2
    t_expected = u / (n1 * n2 * nn) - (4 * n1 * n2 - 1) / (6 * nn)
    (row,) = agg_cramer_von_mises_2samp(spark, sf_dir).collect()
    assert row.n_click == n1 and row.n_view == n2
    assert abs(row.t_stat - t_expected) < 1e-6


def test_chow_test_matches_python_ols(spark, sf_dir):
    """The three RSS values and the F statistic equal a direct Python
    least-squares recompute on the daily series."""
    from vectordb_agentic_rag_spark.operators.stats.timeseries import (
        _CHOW_SPLIT_DAY,
        agg_chow_test,
    )

    daily = {}
    for r in _daily_cents(spark, sf_dir):
        key = (r.day - __import__("datetime").date(2024, 1, 1)).days + 1
        daily[key] = daily.get(key, 0) + r.tot

    def rss(pts):
        n = len(pts)
        sx = sum(x for x, _ in pts)
        sy = sum(y for _, y in pts)
        sxx = sum(x * x for x, _ in pts)
        sxy = sum(x * y for x, y in pts)
        syy = sum(y * y for _, y in pts)
        cxx = n * sxx - sx * sx
        cxy = n * sxy - sx * sy
        cyy = n * syy - sy * sy
        return (cyy - cxy * cxy / cxx) / n

    pts = sorted(daily.items())
    pre = [p for p in pts if p[0] <= _CHOW_SPLIT_DAY]
    post = [p for p in pts if p[0] > _CHOW_SPLIT_DAY]
    rp, ra, rb = rss(pts), rss(pre), rss(post)
    f = ((rp - ra - rb) / 2) / ((ra + rb) / (len(pts) - 4))
    (row,) = agg_chow_test(spark, sf_dir).collect()
    assert row.n_days == len(pts)
    assert abs(row.rss_pooled - rp) < max(1e-6, abs(rp) * 1e-9)
    assert abs(row.f_stat - f) < 1e-5


def test_benjamini_hochberg_matches_python(spark, sf_dir):
    """Exact sign-test p-values (math.comb) and the BH step-up front
    re-derived in Python must match every output row."""
    from vectordb_agentic_rag_spark.operators.stats.tests import (
        agg_benjamini_hochberg,
    )

    grid = {}
    for r in _daily_cents(spark, sf_dir):
        grid[(r.event_type, r.day)] = r.tot
    types = sorted({t for t, _ in grid})
    days = sorted({d for _, d in grid})
    pvals = {}
    for i, ta in enumerate(types):
        for tb in types[i + 1:]:
            n = s = 0
            for d in days:
                a, b = grid.get((ta, d)), grid.get((tb, d))
                if a is None or b is None or a == b:
                    continue
                n += 1
                s += 1 if a > b else 0
            m_low = min(s, n - s)
            ssum = sum(math.comb(n, j) for j in range(m_low + 1))
            pvals[(ta, tb)] = min(1.0, 2 * ssum / (1 << n)) if n else 1.0
    m = len(pvals)
    order = sorted(pvals.items(), key=lambda kv: (kv[1], kv[0]))
    maxok = 0
    for i, (_, p) in enumerate(order, 1):
        if p <= i * 0.10 / m:
            maxok = i
    expected = {
        pair: (i, 1 if i <= maxok else 0)
        for i, (pair, _) in enumerate(order, 1)
    }
    rows = agg_benjamini_hochberg(spark, sf_dir).collect()
    assert len(rows) == m
    for r in rows:
        i, rej = expected[(r.type_a, r.type_b)]
        assert r.bh_rank == i
        assert r.rejected == rej
        assert abs(r.p_value - round(pvals[(r.type_a, r.type_b)], 9)) < 1e-12


def test_hits_matches_python_power_iteration(spark, sf_dir):
    """4 quantized HITS iterations in plain Python over the same edge
    list reproduce both top-10 rankings and scores."""
    from vectordb_agentic_rag_spark.operators.graph import (
        _HITS_ITERS,
        graph_hits_bipartite,
    )
    from vectordb_agentic_rag_spark.tables import table

    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = {
        (r.o_custkey, r.l_partkey)
        for r in o.join(li, o["o_orderkey"] == li["l_orderkey"]).collect()
    }
    custs = sorted({c for c, _ in edges})
    parts = sorted({p for _, p in edges})
    by_part = {}
    by_cust = {}
    for c, p in edges:
        by_part.setdefault(p, []).append(c)
        by_cust.setdefault(c, []).append(p)
    h = {c: 1.0 for c in custs}
    a = {}
    for _ in range(_HITS_ITERS):
        a = {p: sum(h[c] for c in by_part[p]) for p in parts}
        s = sum(a.values())
        a = {p: round(v * len(parts) / s, 9) for p, v in a.items()}
        h = {c: sum(a[p] for p in by_cust[c]) for c in custs}
        s = sum(h.values())
        h = {c: round(v * len(custs) / s, 9) for c, v in h.items()}
    topa = sorted(a.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    toph = sorted(h.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    rows = graph_hits_bipartite(spark, sf_dir).collect()
    got_a = sorted(
        [(r.node_id, r.hits_score, r.rank) for r in rows if r.role == "authority"],
        key=lambda t: t[2],
    )
    got_h = sorted(
        [(r.node_id, r.hits_score, r.rank) for r in rows if r.role == "hub"],
        key=lambda t: t[2],
    )
    assert [(n, round(s, 6)) for n, s in topa] == [
        (n, s) for n, s, _ in got_a
    ]
    assert [(n, round(s, 6)) for n, s in toph] == [
        (n, s) for n, s, _ in got_h
    ]


def test_siegel_matches_python(spark, sf_dir):
    """Repeated-median slope/intercept with LOW-median picks equals
    the Python re-derivation."""
    from vectordb_agentic_rag_spark.operators.windows import (
        win_siegel_repeated_median,
    )

    daily = {}
    for r in _daily_cents(spark, sf_dir):
        key = (r.day - __import__("datetime").date(2024, 1, 1)).days + 1
        daily[key] = daily.get(key, 0) + r.tot

    def lowmed(vals):
        vs = sorted(vals)
        return vs[(len(vs) + 1) // 2 - 1]

    xs = sorted(daily)
    med = [
        lowmed(
            [(daily[e] - daily[d]) / (e - d) for e in xs if e != d]
        )
        for d in xs
    ]
    slope = lowmed(med)
    icept = lowmed([daily[d] - slope * d for d in xs])
    (row,) = win_siegel_repeated_median(spark, sf_dir).collect()
    assert row.n_days == len(xs)
    assert row.siegel_slope == round(slope, 6)
    assert row.siegel_intercept == round(icept, 6)


def test_cochran_armitage_matches_python(spark, sf_dir):
    """z from the moment formula equals the direct Python computation
    of T/sqrt(Var(T)) on per-day purchase proportions."""
    from vectordb_agentic_rag_spark.operators.stats.tests import (
        agg_cochran_armitage_trend,
    )
    from vectordb_agentic_rag_spark.tables import table
    from pyspark.sql import functions as F
    import datetime

    ev = table(spark, sf_dir, "events")
    rows = (
        ev.groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.count("*").alias("nd"),
            F.sum(
                F.expr(
                    "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END"
                )
            ).alias("xd"),
        )
        .collect()
    )
    data = {
        (r.day - datetime.date(2024, 1, 1)).days + 1: (r.nd, r.xd)
        for r in rows
    }
    n = sum(v[0] for v in data.values())
    x = sum(v[1] for v in data.values())
    pbar = x / n
    t = sum(d * (xd - nd * pbar) for d, (nd, xd) in data.items())
    snd = sum(nd * d for d, (nd, _) in data.items())
    snd2 = sum(nd * d * d for d, (nd, _) in data.items())
    var = pbar * (1 - pbar) * (snd2 - snd * snd / n)
    (row,) = agg_cochran_armitage_trend(spark, sf_dir).collect()
    assert row.n_events == n and row.n_purchases == x
    assert abs(row.z_stat - t / math.sqrt(var)) < 1e-6


def test_sen_slope_ci_matches_python(spark, sf_dir):
    """The CI rank picks and the point estimate equal a Python
    re-derivation with the same floor/ceil index convention."""
    from vectordb_agentic_rag_spark.operators.windows import win_sen_slope_ci
    from vectordb_agentic_rag_spark.tables import table
    from pyspark.sql import functions as F
    import datetime

    ev = table(spark, sf_dir, "events")
    rows = (
        ev.groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(
            F.expr(
                "CAST(round(CAST(sum(CAST(value * 100 + 0.5 AS BIGINT))"
                " AS DOUBLE) / count(*) / 100.0, 6) AS DECIMAL(18,6))"
            ).alias("m")
        )
        .collect()
    )
    series = {}
    for r in rows:
        d = (r.day - datetime.date(2024, 1, 1)).days + 1
        series.setdefault(r.event_type, {})[d] = float(r.m)
    got = {r.event_type: r for r in win_sen_slope_ci(spark, sf_dir).collect()}
    for et, ys in series.items():
        ds = sorted(ys)
        slopes = sorted(
            (ys[e] - ys[d]) / (e - d)
            for i, d in enumerate(ds)
            for e in ds[i + 1:]
        )
        mcnt = len(slopes)
        nd = len(ds)
        from collections import Counter

        ties = Counter(ys.values())
        tie_term = sum(
            t * (t - 1) * (2 * t + 5) for t in ties.values() if t > 1
        )
        c = 1.959964 * math.sqrt(
            (nd * (nd - 1) * (2 * nd + 5) - tie_term) / 18.0
        )
        lo = slopes[max(1, math.floor((mcnt - c) / 2) + 1) - 1]
        hi = slopes[min(mcnt, math.ceil((mcnt + c) / 2) + 1) - 1]
        point = slopes[(mcnt + 1) // 2 - 1]
        r = got[et]
        assert r.n_pairs == mcnt
        assert r.sen_slope == round(point, 6)
        assert r.ci_lower == round(lo, 6)
        assert r.ci_upper == round(hi, 6)
        assert r.ci_lower <= r.sen_slope <= r.ci_upper


def test_lorenz_deciles_match_sorted_cumsum(spark, sf_dir):
    """Decile revenue shares equal the plain sorted-list cumulative
    sums, and the curve is convex (shares increase, marginal shares
    increase)."""
    from vectordb_agentic_rag_spark.operators.stats.distribution import (
        agg_lorenz_curve_deciles,
    )
    from vectordb_agentic_rag_spark.tables import table
    from pyspark.sql import functions as F

    cust = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.expr("CAST(o_totalprice * 100 + 0.5 AS BIGINT)"))
            .alias("rev")
        )
        .collect()
    )
    revs = sorted(r.rev for r in cust)
    n, tot = len(revs), sum(revs)
    rows = sorted(
        agg_lorenz_curve_deciles(spark, sf_dir).collect(),
        key=lambda r: r.decile,
    )
    assert len(rows) == 10
    prev_share = 0.0
    for r in rows:
        mk = (r.decile * n) // 10
        cum = sum(revs[:mk])
        assert r.cum_customers == mk
        assert r.cum_rev_cents == cum
        assert r.rev_share == round(cum / tot, 6)
        assert r.rev_share >= prev_share
        prev_share = r.rev_share
    assert rows[-1].rev_share == 1.0


def test_quade_matches_python(spark, sf_dir):
    """The quadrupled-integer Quade F equals a plain Python
    computation with float midranks."""
    from vectordb_agentic_rag_spark.operators.stats.tests import agg_quade_test

    grid = {}
    for r in _daily_cents(spark, sf_dir):
        grid[(r.event_type, r.day)] = r.tot
    types = sorted({t for t, _ in grid})
    days = sorted({d for _, d in grid})
    k, n = len(types), len(days)

    def midranks(vals):
        out = []
        for v in vals:
            less = sum(1 for u in vals if u < v)
            eq = sum(1 for u in vals if u == v)
            out.append(less + (eq + 1) / 2.0)
        return out

    ranges = [
        max(grid[(t, d)] for t in types) - min(grid[(t, d)] for t in types)
        for d in days
    ]
    q = midranks(ranges)
    a_sum = 0.0
    sj = {t: 0.0 for t in types}
    for di, d in enumerate(days):
        rr = midranks([grid[(t, d)] for t in types])
        for t, r_ in zip(types, rr):
            s = q[di] * (r_ - (k + 1) / 2.0)
            a_sum += s * s
            sj[t] += s
    b = sum(v * v for v in sj.values()) / n
    f = (n - 1) * b / (a_sum - b)
    (row,) = agg_quade_test(spark, sf_dir).collect()
    assert row.n_blocks == n and row.k_treatments == k
    assert abs(row.f_stat - f) < 1e-6


def test_mantel_haenszel_matches_python(spark, sf_dir):
    """CMH chi2 (with continuity correction) and the MH common OR
    equal the direct Python computation from the day-stratified 2x2
    tables."""
    from vectordb_agentic_rag_spark.operators.stats.tests import (
        _MH_CUT,
        agg_mantel_haenszel,
    )
    from vectordb_agentic_rag_spark.tables import table
    from pyspark.sql import functions as F

    ev = table(spark, sf_dir, "events")
    rows = (
        ev.where(F.col("event_type").isin("click", "view"))
        .select(
            "event_type",
            F.col("ts").cast("date").alias("day"),
            F.expr("CAST(value * 100 + 0.5 AS BIGINT)").alias("c"),
        )
        .collect()
    )
    cells = {}
    for r in rows:
        key = r.day
        a, b, c, d = cells.get(key, (0, 0, 0, 0))
        if r.event_type == "click":
            if r.c >= _MH_CUT:
                a += 1
            else:
                b += 1
        else:
            if r.c >= _MH_CUT:
                c += 1
            else:
                d += 1
        cells[key] = (a, b, c, d)
    sa = se = sv = sad = sbc = 0.0
    for a, b, c, d in cells.values():
        n = a + b + c + d
        sa += a
        se += (a + b) * (a + c) / n
        sv += (a + b) * (c + d) * (a + c) * (b + d) / n / n / (n - 1)
        sad += a * d / n
        sbc += b * c / n
    chi2 = max(abs(sa - se) - 0.5, 0.0) ** 2 / sv
    (row,) = agg_mantel_haenszel(spark, sf_dir).collect()
    assert row.n_strata == len(cells)
    assert abs(row.cmh_chi2 - chi2) < 1e-6
    assert abs(row.mh_common_or - sad / sbc) < 1e-6


def test_ansari_bradley_matches_python(spark, sf_dir):
    """The doubled-score AB statistic and z equal a brute-force
    midrank computation over the raw cent values."""
    from vectordb_agentic_rag_spark.operators.stats.tests import (
        agg_ansari_bradley,
    )
    from vectordb_agentic_rag_spark.tables import table
    from pyspark.sql import functions as F
    import bisect

    ev = table(spark, sf_dir, "events")
    rows = (
        ev.where(F.col("event_type").isin("click", "view"))
        .select(
            "event_type",
            F.expr("CAST(value * 100 + 0.5 AS BIGINT)").alias("c"),
        )
        .collect()
    )
    xs = [r.c for r in rows if r.event_type == "click"]
    ys = [r.c for r in rows if r.event_type == "view"]
    both = sorted(xs + ys)
    nn = len(both)

    def score(v):
        lo = bisect.bisect_left(both, v)
        hi = bisect.bisect_right(both, v)
        r = (lo + 1 + hi) / 2.0
        return min(r, nn + 1 - r)

    t = sum(score(v) for v in xs)
    pop = [score(v) for v in both]
    p1 = sum(pop)
    p2 = sum(s * s for s in pop)
    n1, n2 = len(xs), len(ys)
    e = n1 * p1 / nn
    var = n1 * n2 * (nn * p2 - p1 * p1) / (nn * nn * (nn - 1))
    z = (t - e) / math.sqrt(var)
    (row,) = agg_ansari_bradley(spark, sf_dir).collect()
    assert row.n_click == n1 and row.n_view == n2
    assert row.ab2_stat == round(2 * t)
    assert abs(row.z_stat - z) < 1e-6


def test_oaxaca_matches_python(spark, sf_dir):
    """Gap decomposition equals a per-group least-squares recompute,
    and explained + unexplained sum to the raw gap."""
    from vectordb_agentic_rag_spark.operators.stats.models import (
        agg_oaxaca_blinder_gap,
    )
    from vectordb_agentic_rag_spark.tables import table
    from pyspark.sql import functions as F
    import datetime

    ev = table(spark, sf_dir, "events")
    rows = (
        ev.where(F.col("event_type").isin("click", "view"))
        .select(
            "event_type",
            F.col("ts").cast("date").alias("day"),
            F.expr("CAST(value * 100 + 0.5 AS BIGINT)").alias("y"),
        )
        .collect()
    )
    pts = {"click": [], "view": []}
    for r in rows:
        x = (r.day - datetime.date(2024, 1, 1)).days + 1
        pts[r.event_type].append((x, r.y))

    def fit(ps):
        n = len(ps)
        sx = sum(x for x, _ in ps)
        sy = sum(y for _, y in ps)
        sxx = sum(x * x for x, _ in ps)
        sxy = sum(x * y for x, y in ps)
        beta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        return sx / n, sy / n, beta

    x1, y1, b1 = fit(pts["click"])
    x2, y2, b2 = fit(pts["view"])
    (row,) = agg_oaxaca_blinder_gap(spark, sf_dir).collect()
    assert row.n_click == len(pts["click"])
    assert abs(row.gap_cents - (y1 - y2)) < 1e-6
    assert abs(row.explained_cents - b2 * (x1 - x2)) < 1e-6
    assert abs(
        row.gap_cents - (row.explained_cents + row.unexplained_cents)
    ) < 2e-6
    assert abs(row.slope_gap - (b1 - b2)) < 1e-6


def _day_totals(spark, sf_dir):
    from vectordb_agentic_rag_spark.tables import table
    from pyspark.sql import functions as F

    ev = table(spark, sf_dir, "events")
    rows = (
        ev.groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(F.expr("CAST(value * 100 + 0.5 AS BIGINT)")).alias("tot")
        )
        .collect()
    )
    return sorted((r.day, r.tot) for r in rows)


def test_runs_test_matches_python(spark, sf_dir):
    """Runs count, sign counts, and z match the direct recompute over
    the daily totals."""
    from vectordb_agentic_rag_spark.operators.stats.timeseries import (
        agg_runs_test,
    )

    days = _day_totals(spark, sf_dir)
    tots = [t for _, t in days]
    med = sorted(tots)[(len(tots) + 1) // 2 - 1]
    signs = [1 if t > med else 0 for _, t in days if t != med]
    n1 = sum(signs)
    n2 = len(signs) - n1
    runs = 1 + sum(
        1 for a, b in zip(signs, signs[1:]) if a != b
    )
    n = n1 + n2
    mu = 1 + 2 * n1 * n2 / n
    var = 2 * n1 * n2 * (2 * n1 * n2 - n) / (n * n * (n - 1))
    z = (runs - mu) / math.sqrt(var)
    (row,) = agg_runs_test(spark, sf_dir).collect()
    assert row.n_above == n1 and row.n_below == n2
    assert row.runs == runs
    assert abs(row.z_stat - z) < 1e-6

def test_durbin_watson_matches_python(spark, sf_dir):
    """DW and the slope match an OLS residual recompute."""
    from vectordb_agentic_rag_spark.operators.stats.timeseries import (
        agg_durbin_watson,
    )

    days = _day_totals(spark, sf_dir)
    y = [t for _, t in days]
    n = len(y)
    xs = list(range(1, n + 1))
    sx, sy = sum(xs), sum(y)
    sxx = sum(v * v for v in xs)
    sxy = sum(a * b for a, b in zip(xs, y))
    b = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    a = (sy - b * sx) / n
    e = [v - a - b * x for x, v in zip(xs, y)]
    dw = sum(
        (e[t] - e[t - 1]) ** 2 for t in range(1, n)
    ) / sum(v * v for v in e)
    (row,) = agg_durbin_watson(spark, sf_dir).collect()
    assert row.n_days == n
    assert abs(row.slope_cents_per_day - b) < 1e-6
    assert abs(row.dw_stat - dw) < 1e-6


def test_kendall_w_matches_python(spark, sf_dir):
    """W and chi2 match the direct rank recompute over the day x type
    grid."""
    from vectordb_agentic_rag_spark.operators.stats.tests import agg_kendall_w

    rows = _daily_cents(spark, sf_dir)
    cells = {(r.event_type, r.day): r.tot for r in rows}
    types = sorted({r.event_type for r in rows})
    m = len(types)
    days = sorted(
        d
        for d in {r.day for r in rows}
        if all((t, d) in cells for t in types)
    )
    n = len(days)
    rsum = dict.fromkeys(days, 0)
    for t in types:
        order = sorted(days, key=lambda d: (cells[(t, d)], d))
        for rank, d in enumerate(order, 1):
            rsum[d] += rank
    # the 42.557 significance constant in the op is the chi2(29)
    # 5% critical value: pin the fixture preconditions it assumes
    # (all 30 days complete for every type), so a regenerated
    # fixture that shrinks the complete-day set fails HERE loudly
    assert n == 30 and m == 5
    sr2 = sum(v * v for v in rsum.values())
    w = (12 * sr2 - 3 * m * m * n * (n + 1) ** 2) / (
        m * m * n * (n * n - 1)
    )
    chi2 = m * (n - 1) * w
    (row,) = agg_kendall_w(spark, sf_dir).collect()
    assert row.n_days == n and row.k_types == m
    assert abs(row.w_stat - w) < 1e-6
    assert abs(row.chi2_stat - chi2) < 1e-6


def test_hodges_lehmann_matches_python(spark, sf_dir):
    """The pseudo-median matches the brute-force Walsh-average
    median."""
    from vectordb_agentic_rag_spark.operators.stats.tests import (
        agg_hodges_lehmann_paired,
    )

    rows = _daily_cents(spark, sf_dir, types=("click", "view"))
    diffs = {}
    for r in rows:
        sign = 1 if r.event_type == "click" else -1
        diffs[r.day] = diffs.get(r.day, 0) + sign * r.tot
    d = [diffs[k] for k in sorted(diffs)]
    walsh = sorted(
        d[i] + d[j] for i in range(len(d)) for j in range(i, len(d))
    )
    nw = len(walsh)
    lo = walsh[(nw + 1) // 2 - 1]
    hi = walsh[(nw + 2) // 2 - 1]
    (row,) = agg_hodges_lehmann_paired(spark, sf_dir).collect()
    assert row.n_days == len(d) and row.n_walsh == nw
    assert row.hl_x4 == lo + hi
    assert abs(row.hl_shift_cents - (lo + hi) / 4) < 1e-6


def test_grubbs_matches_python(spark, sf_dir):
    """G, the outlier day, and its deviation match the direct
    computation."""
    from vectordb_agentic_rag_spark.operators.stats.timeseries import (
        agg_grubbs_outlier,
    )

    days = _day_totals(spark, sf_dir)
    y = [t for _, t in days]
    n = len(y)
    ybar = sum(y) / n
    s = math.sqrt(sum((v - ybar) ** 2 for v in y) / (n - 1))
    devs = [abs(v - ybar) for v in y]
    mx = max(devs)
    day = min(d for (d, t), dv in zip(days, devs) if dv == mx)
    g = mx / s
    (row,) = agg_grubbs_outlier(spark, sf_dir).collect()
    assert row.n_days == n
    assert row.outlier_day == day
    assert abs(row.outlier_dev_cents - mx) < 1e-4
    assert abs(row.g_stat - g) < 1e-6

def test_brunner_munzel_matches_python(spark, sf_dir):
    """W, p_hat, and df match the scipy-formula recompute with
    midranks over the raw cent values."""
    from vectordb_agentic_rag_spark.operators.stats.tests import (
        agg_brunner_munzel,
    )
    from vectordb_agentic_rag_spark.tables import table
    from pyspark.sql import functions as F
    import bisect

    ev = table(spark, sf_dir, "events")
    rows = (
        ev.where(F.col("event_type").isin("click", "view"))
        .select(
            "event_type",
            F.expr("CAST(value * 100 + 0.5 AS BIGINT)").alias("c"),
        )
        .collect()
    )
    xs = sorted(r.c for r in rows if r.event_type == "click")
    ys = sorted(r.c for r in rows if r.event_type == "view")
    n1, n2 = len(xs), len(ys)
    both = sorted(xs + ys)

    def midranks(vals, ref):
        out = []
        for v in vals:
            lo = bisect.bisect_left(ref, v)
            hi = bisect.bisect_right(ref, v)
            out.append((lo + 1 + hi) / 2.0)
        return out

    rc1 = midranks(xs, both)
    rc2 = midranks(ys, both)
    ro1 = midranks(xs, xs)
    ro2 = midranks(ys, ys)
    m1 = sum(rc1) / n1
    m2 = sum(rc2) / n2
    s1 = sum(
        (a - b - m1 + (n1 + 1) / 2.0) ** 2 for a, b in zip(rc1, ro1)
    ) / (n1 - 1)
    s2 = sum(
        (a - b - m2 + (n2 + 1) / 2.0) ** 2 for a, b in zip(rc2, ro2)
    ) / (n2 - 1)
    w = (
        n1 * n2 * (m2 - m1)
        / ((n1 + n2) * math.sqrt(n1 * s1 + n2 * s2))
    )
    df = (n1 * s1 + n2 * s2) ** 2 / (
        (n1 * s1) ** 2 / (n1 - 1) + (n2 * s2) ** 2 / (n2 - 1)
    )
    phat = (m2 - m1) / (n1 + n2) + 0.5
    (row,) = agg_brunner_munzel(spark, sf_dir).collect()
    assert row.n_click == n1 and row.n_view == n2
    assert abs(row.p_hat - phat) < 1e-6
    assert abs(row.w_stat - w) < 1e-5
    assert abs(row.df - df) < max(1e-4 * df, 1e-4)


def test_fisher_exact_matches_python(spark, sf_dir):
    """The exact hypergeometric p-values match a math.comb
    recompute."""
    from vectordb_agentic_rag_spark.operators.stats.tests import (
        agg_fisher_exact,
    )
    from vectordb_agentic_rag_spark.tables import table
    from pyspark.sql import functions as F

    ev = table(spark, sf_dir, "events")
    rows = (
        ev.where(F.col("event_type") == "click")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").alias("cnt"))
        .collect()
    )
    cnts = {r.day: r.cnt for r in rows}
    nd = len(cnts)
    med = sorted(cnts.values())[(nd + 1) // 2 - 1]
    wk = {d: d.isoweekday() >= 6 for d in cnts}
    hi = {d: c > med for d, c in cnts.items()}
    nw = sum(wk.values())
    kh = sum(hi.values())
    a = sum(1 for d in cnts if wk[d] and hi[d])
    num_obs = math.comb(kh, a) * math.comb(nd - kh, nw - a)
    lo = max(0, nw + kh - nd)
    hi_x = min(nw, kh)
    s2 = sum(
        math.comb(kh, x) * math.comb(nd - kh, nw - x)
        for x in range(lo, hi_x + 1)
        if math.comb(kh, x) * math.comb(nd - kh, nw - x) <= num_obs
    )
    s1 = sum(
        math.comb(kh, x) * math.comb(nd - kh, nw - x)
        for x in range(max(lo, a), hi_x + 1)
    )
    cnn = math.comb(nd, nw)
    (row,) = agg_fisher_exact(spark, sf_dir).collect()
    assert row.n_days == nd and row.n_weekend == nw
    assert row.n_high == kh and row.n_weekend_high == a
    assert abs(row.p_two_sided - s2 / cnn) < 1e-9
    assert abs(row.p_one_sided - s1 / cnn) < 1e-9
    assert row.significant_05 == (1 if 20 * s2 < cnn else 0)


def test_cohens_kappa_matches_python(spark, sf_dir):
    """kappa matches the direct tercile-agreement recompute."""
    from vectordb_agentic_rag_spark.operators.stats.tests import (
        agg_cohens_kappa_daily,
    )

    rows = _daily_cents(spark, sf_dir, types=("click", "view"))
    ct = {}
    vt = {}
    for r in rows:
        if r.event_type == "click":
            ct[r.day] = r.tot
        else:
            vt[r.day] = r.tot
    days = sorted(set(ct) | set(vt))
    n = len(days)
    for d in days:
        ct.setdefault(d, 0)
        vt.setdefault(d, 0)
    rc = {
        d: i + 1
        for i, d in enumerate(sorted(days, key=lambda d: (ct[d], d)))
    }
    rv = {
        d: i + 1
        for i, d in enumerate(sorted(days, key=lambda d: (vt[d], d)))
    }
    t1 = {d: (rc[d] - 1) * 3 // n for d in days}
    t2 = {d: (rv[d] - 1) * 3 // n for d in days}
    sd = sum(1 for d in days if t1[d] == t2[d])
    ri = [sum(1 for d in days if t1[d] == i) for i in range(3)]
    ci = [sum(1 for d in days if t2[d] == i) for i in range(3)]
    spe = sum(r * c for r, c in zip(ri, ci))
    kappa = (n * sd - spe) / (n * n - spe)
    (row,) = agg_cohens_kappa_daily(spark, sf_dir).collect()
    assert row.n_days == n and row.n_agree == sd
    assert abs(row.po - sd / n) < 1e-6
    assert abs(row.pe - spe / n / n) < 1e-6
    assert abs(row.kappa - kappa) < 1e-6


def test_column_profile_matches_python(spark, sf_dir):
    """The profile rows match direct per-column recomputes."""
    from vectordb_agentic_rag_spark.operators.maintenance import (
        maintenance_column_profile,
    )
    from vectordb_agentic_rag_spark.tables import table

    rows = table(spark, sf_dir, "orders").collect()
    n = len(rows)
    out = {
        r.col_name: r
        for r in maintenance_column_profile(spark, sf_dir).collect()
    }
    assert set(out) == {
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice_cents",
        "o_orderdate_day",
        "o_orderpriority",
    }
    keys = [r.o_orderkey for r in rows]
    assert out["o_orderkey"].n_rows == n
    assert out["o_orderkey"].n_nulls == sum(1 for k in keys if k is None)
    assert out["o_orderkey"].n_distinct == len(
        {k for k in keys if k is not None}
    )
    assert out["o_orderkey"].min_repr == str(min(keys))
    assert out["o_orderkey"].max_repr == str(max(keys))
    cents = [int(r.o_totalprice * 100 + 0.5) for r in rows]
    assert out["o_totalprice_cents"].n_distinct == len(set(cents))
    assert out["o_totalprice_cents"].min_repr == str(min(cents))
    assert out["o_totalprice_cents"].max_repr == str(max(cents))
    stats = [r.o_orderstatus for r in rows]
    assert out["o_orderstatus"].n_distinct == len(set(stats))
    assert out["o_orderstatus"].min_repr == min(stats)
    assert out["o_orderstatus"].max_repr == max(stats)


def test_dow_anova_matches_python(spark, sf_dir):
    """F and eta_sq match the textbook one-way ANOVA recompute, and
    the fixture's 30-day span satisfies the lcm-60 precondition."""
    from vectordb_agentic_rag_spark.operators.stats.timeseries import (
        agg_dow_anova,
    )

    days = _day_totals(spark, sf_dir)
    assert len(days) == 30  # lcm-60 precondition (ng in {4,5}, N=30)
    groups = {}
    for d, t in days:
        groups.setdefault(d.isoweekday(), []).append(t)
    k = len(groups)
    n = sum(len(v) for v in groups.values())
    gm = sum(t for _, t in days) / n
    ssb = sum(
        len(v) * (sum(v) / len(v) - gm) ** 2 for v in groups.values()
    )
    ssw = sum(
        sum((x - sum(v) / len(v)) ** 2 for x in v)
        for v in groups.values()
    )
    f = (ssb / (k - 1)) / (ssw / (n - k))
    eta = ssb / (ssb + ssw)
    (row,) = agg_dow_anova(spark, sf_dir).collect()
    assert row.n_days == n and row.k_groups == k
    assert abs(row.f_stat - f) < 1e-6
    assert abs(row.eta_sq - eta) < 1e-6


def test_poisson_dispersion_matches_python(spark, sf_dir):
    """chi2 and the dispersion ratio match the direct recompute over
    daily click counts."""
    from vectordb_agentic_rag_spark.operators.stats.distribution import (
        agg_poisson_dispersion,
    )
    from vectordb_agentic_rag_spark.tables import table
    from pyspark.sql import functions as F

    ev = table(spark, sf_dir, "events")
    rows = (
        ev.where(F.col("event_type") == "click")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").alias("cnt"))
        .collect()
    )
    cnts = [r.cnt for r in rows]
    n = len(cnts)
    cbar = sum(cnts) / n
    chi2 = sum((c - cbar) ** 2 for c in cnts) / cbar
    (row,) = agg_poisson_dispersion(spark, sf_dir).collect()
    assert row.n_days == n and row.n_events == sum(cnts)
    assert abs(row.chi2_stat - chi2) < 1e-6
    assert abs(row.dispersion_ratio - chi2 / (n - 1)) < 1e-6


def test_constraint_audit_matches_python(spark, sf_dir):
    """Every constraint row matches a direct recompute, and the
    healthy fixture passes all checks with real counts."""
    from vectordb_agentic_rag_spark.operators.maintenance import (
        maintenance_constraint_audit,
    )
    from vectordb_agentic_rag_spark.tables import table

    orders = table(spark, sf_dir, "orders").collect()
    li = table(spark, sf_dir, "lineitem").collect()
    ev = table(spark, sf_dir, "events").collect()
    out = {
        r.constraint_name: r
        for r in maintenance_constraint_audit(spark, sf_dir).collect()
    }
    assert len(out) == 7
    keys = [r.o_orderkey for r in orders]
    exp = {
        "orders.o_orderkey_not_null": (
            len(orders),
            sum(1 for k in keys if k is None),
        ),
        "orders.o_orderkey_unique": (
            len(orders),
            len(keys) - len(set(keys)),
        ),
        "orders.o_totalprice_positive": (
            len(orders),
            sum(
                1
                for r in orders
                if r.o_totalprice is None or r.o_totalprice <= 0
            ),
        ),
        "orders.o_orderstatus_enum": (
            len(orders),
            sum(
                1
                for r in orders
                if r.o_orderstatus not in ("F", "O", "P")
            ),
        ),
        "lineitem.l_quantity_range_1_50": (
            len(li),
            sum(
                1
                for r in li
                if r.l_quantity is None
                or r.l_quantity < 1
                or r.l_quantity > 50
            ),
        ),
        "events.value_non_negative": (
            len(ev),
            sum(1 for r in ev if r.value is None or r.value < 0),
        ),
        "events.user_id_non_negative": (
            len(ev),
            sum(1 for r in ev if r.user_id is None or r.user_id < 0),
        ),
    }
    for name, (n, v) in exp.items():
        assert out[name].n_checked == n, name
        assert out[name].n_violations == v, name
        assert out[name].passed == (1 if v == 0 else 0), name
    # the fixture is healthy: all pass, and counts are non-trivial
    assert all(r.passed == 1 for r in out.values())
    assert out["orders.o_orderkey_not_null"].n_checked > 0


def test_ab_srm_matches_python(spark, sf_dir):
    """Arm counts and chi2 match the multiplicative-hash recompute."""
    from vectordb_agentic_rag_spark.operators.stats.models import (
        agg_ab_srm_check,
    )
    from vectordb_agentic_rag_spark.tables import table

    users = {
        r.user_id
        for r in table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .collect()
    }
    arms = [(u * 2654435761) % 4294967296 // 2147483648 for u in users]
    # the arm must NOT degenerate to raw id parity (the round-9
    # self-review catch: an odd multiplier's LOW bit mod 2^32 IS the
    # id's own parity; the high bit actually mixes)
    assert any(a != u % 2 for a, u in zip(arms, sorted(users)))
    n0 = sum(1 for a in arms if a == 0)
    n1 = len(arms) - n0
    chi2 = (n0 - n1) ** 2 / (n0 + n1)
    (row,) = agg_ab_srm_check(spark, sf_dir).collect()
    assert row.n_arm_a == n0 and row.n_arm_b == n1
    assert abs(row.chi2_stat - chi2) < 1e-6
    assert row.srm_detected_05 == (1 if chi2 >= 3.8415 else 0)


def test_rfm_segments_matches_python(spark, sf_dir):
    """Segment cells match a direct quintile recompute."""
    from vectordb_agentic_rag_spark.operators.stats.kpis import (
        agg_rfm_segments,
    )
    from vectordb_agentic_rag_spark.tables import table

    orders = table(spark, sf_dir, "orders").collect()
    by_cust = {}
    mxd = max(r.o_orderdate for r in orders).date()
    for r in orders:
        c = by_cust.setdefault(
            r.o_custkey, {"last": r.o_orderdate.date(), "f": 0, "m": 0}
        )
        c["last"] = max(c["last"], r.o_orderdate.date())
        c["f"] += 1
        c["m"] += int(r.o_totalprice * 100 + 0.5)
    n = len(by_cust)
    custs = sorted(by_cust)
    rec = {c: (mxd - by_cust[c]["last"]).days for c in custs}

    def scores(key, reverse):
        order = sorted(custs, key=lambda c: (key(c), c))
        if reverse:
            order = sorted(
                custs, key=lambda c: (-key(c), c)
            )
        return {c: 1 + i * 5 // n for i, c in enumerate(order)}

    rs = scores(lambda c: rec[c], reverse=True)
    fs = scores(lambda c: by_cust[c]["f"], reverse=False)
    ms = scores(lambda c: by_cust[c]["m"], reverse=False)
    cells = {}
    for c in custs:
        k = (rs[c], fs[c], ms[c])
        nn, mm = cells.get(k, (0, 0))
        cells[k] = (nn + 1, mm + by_cust[c]["m"])
    out = {
        (r.r_score, r.f_score, r.m_score): (r.n_customers, r.total_cents)
        for r in agg_rfm_segments(spark, sf_dir).collect()
    }
    assert out == cells


def test_hhi_matches_python(spark, sf_dir):
    """Per-nation HHI matches the direct share-square recompute."""
    from vectordb_agentic_rag_spark.operators.stats.distribution import (
        agg_hhi_concentration,
    )
    from vectordb_agentic_rag_spark.tables import table

    li = table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice"
    ).collect()
    su = {
        r.s_suppkey: r.s_nationkey
        for r in table(spark, sf_dir, "supplier").collect()
    }
    rev = {}
    for r in li:
        key = (su[r.l_suppkey], r.l_suppkey)
        rev[key] = rev.get(key, 0) + int(r.l_extendedprice * 100 + 0.5)
    nations = {}
    for (nk, sk), v in rev.items():
        d = nations.setdefault(nk, [])
        d.append(v)
    out = {
        r.nationkey: r for r in agg_hhi_concentration(spark, sf_dir).collect()
    }
    assert set(out) == set(nations)
    for nk, vals in nations.items():
        tot = sum(vals)
        hhi = sum(v * v for v in vals) / (tot * tot)
        assert out[nk].n_suppliers == len(vals)
        assert out[nk].total_cents == tot
        assert abs(out[nk].hhi - hhi) < 1e-6
        assert abs(out[nk].top_share - max(vals) / tot) < 1e-6


def test_cuped_matches_python(spark, sf_dir):
    """theta, rho^2, and the adjusted diff match a direct recompute
    over per-user pre/post purchase cents."""
    from vectordb_agentic_rag_spark.operators.stats.models import (
        agg_cuped_adjustment,
    )
    from vectordb_agentic_rag_spark.tables import table
    from pyspark.sql import functions as F
    import datetime

    ev = table(spark, sf_dir, "events")
    rows = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("ts").cast("date").alias("day"),
            F.expr("CAST(value * 100 + 0.5 AS BIGINT)").alias("c"),
        )
        .collect()
    )
    split = datetime.date(2024, 1, 16)
    users = {}
    for r in rows:
        pre, post = users.get(r.user_id, (0, 0))
        if r.day < split:
            pre += r.c
        else:
            post += r.c
        users[r.user_id] = (pre, post)
    n = len(users)
    xs = [p for p, _ in users.values()]
    ys = [q for _, q in users.values()]
    xb = sum(xs) / n
    yb = sum(ys) / n
    cxy = sum((x - xb) * (y - yb) for x, y in zip(xs, ys))
    cxx = sum((x - xb) ** 2 for x in xs)
    cyy = sum((y - yb) ** 2 for y in ys)
    theta = cxy / cxx
    rho_sq = cxy * cxy / (cxx * cyy)
    arm = {
        u: (u * 2654435761) % 4294967296 // 2147483648 for u in users
    }
    a_users = [u for u in users if arm[u] == 0]
    b_users = [u for u in users if arm[u] == 1]
    raw = sum(users[u][1] for u in b_users) / len(b_users) - sum(
        users[u][1] for u in a_users
    ) / len(a_users)
    pre_d = sum(users[u][0] for u in b_users) / len(b_users) - sum(
        users[u][0] for u in a_users
    ) / len(a_users)
    (row,) = agg_cuped_adjustment(spark, sf_dir).collect()
    assert row.n_users == n
    assert row.n_arm_a == len(a_users) and row.n_arm_b == len(b_users)
    assert abs(row.theta - theta) < 1e-6
    assert abs(row.var_reduction - rho_sq) < 1e-6
    assert abs(row.raw_diff_cents - raw) < 1e-4
    assert abs(row.cuped_diff_cents - (raw - theta * pre_d)) < 1e-4


def test_power_mde_matches_python(spark, sf_dir):
    """MDE matches the textbook two-proportion sizing formula."""
    from vectordb_agentic_rag_spark.operators.stats.models import agg_power_mde
    from vectordb_agentic_rag_spark.tables import table

    ev = table(spark, sf_dir, "events").collect()
    conv = {}
    for r in ev:
        conv[r.user_id] = max(
            conv.get(r.user_id, 0),
            1 if r.event_type == "purchase" else 0,
        )
    n = len(conv)
    c = sum(conv.values())
    p = c / n
    arms = [
        (u * 2654435761) % 4294967296 // 2147483648 for u in conv
    ]
    na = sum(1 for a in arms if a == 0)
    nb = len(arms) - na
    n_arm = min(na, nb)
    mde = (1.959964 + 0.841621) * math.sqrt(2 * p * (1 - p) / n_arm)
    (row,) = agg_power_mde(spark, sf_dir).collect()
    assert row.n_users == n and row.n_per_arm == n_arm
    assert abs(row.base_rate - p) < 1e-6
    assert abs(row.mde_abs - mde) < 1e-6
    assert abs(row.mde_rel - mde / p) < 1e-6


def test_did_estimator_matches_python_recompute(spark, sf_dir):
    """Plain-Python DiD re-derivation: per-user pre/post cents over
    ALL event users, hash arms, per-arm diff moments, Welch-style SE."""
    import math

    import pandas as pd

    from vectordb_agentic_rag_spark.operators.stats.models import (
        agg_did_estimator,
    )

    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    ev["day"] = pd.to_datetime(ev["ts"]).dt.date
    cut = pd.Timestamp("2024-01-16").date()
    cents = (ev["value"] * 100 + 0.5).astype("int64")
    pre, post = {}, {}
    for uid, et, d, c in zip(ev["user_id"], ev["event_type"], ev["day"], cents):
        pre.setdefault(int(uid), 0)
        post.setdefault(int(uid), 0)
        if et == "purchase":
            if d < cut:
                pre[int(uid)] += int(c)
            else:
                post[int(uid)] += int(c)
    arms = {u: (u * 2654435761) % 4294967296 // 2147483648 for u in pre}
    dt = [post[u] - pre[u] for u in pre if arms[u] == 1]
    dc = [post[u] - pre[u] for u in pre if arms[u] == 0]
    nt, nc = len(dt), len(dc)
    did = sum(dt) / nt - sum(dc) / nc
    var = (
        (nt * sum(x * x for x in dt) - sum(dt) ** 2) / (nt * nt * (nt - 1))
        + (nc * sum(x * x for x in dc) - sum(dc) ** 2) / (nc * nc * (nc - 1))
    )
    (row,) = agg_did_estimator(spark, sf_dir).collect()
    assert (row.n_treat, row.n_control) == (nt, nc)
    assert row.did_cents == round(did, 6)
    assert row.se_did == round(math.sqrt(var), 6)
    assert row.significant_05 == (
        1 if round(abs(did / math.sqrt(var)), 9) >= 1.959964 else 0
    )


def test_iv_wald_weak_instrument_gate_and_strong_path(spark, tmp_path):
    """Fixture run: the random hash arm cannot move the adopter rate,
    so the op must flag weak_instrument and NULL the LATE.  Synthetic
    run: a fixture where the instrument genuinely moves adoption must
    emit the Wald ratio matching the Python recompute."""
    from vectordb_agentic_rag_spark.operators.stats.models import (
        agg_iv_wald_estimator,
    )

    (row,) = agg_iv_wald_estimator(spark, "/root/testdata/sf0.001").collect()
    assert row.weak_instrument == 1
    assert row.wald_late is None
    assert row.n_encouraged + row.n_control == 15  # sf0.001 user count

    # synthetic strong instrument: arm-1 users adopt (>= 12 purchases),
    # arm-0 users do not; outcome revenue higher for adopters
    import datetime

    rows = []
    eid = 0
    for uid in range(1, 201):
        arm = (uid * 2654435761) % 4294967296 // 2147483648
        n_purch = 13 if (arm == 1 and uid % 10 != 0) else 3
        for k in range(n_purch):
            eid += 1
            rows.append(
                (
                    eid,
                    datetime.datetime(2024, 1, 2 + (k % 28), 12, 0, 0),
                    uid,
                    "purchase",
                    10.0,
                    "{}",
                )
            )
    sdf = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string",
    )
    sdf.coalesce(1).write.mode("overwrite").parquet(
        f"{tmp_path}/events.parquet"
    )
    (srow,) = agg_iv_wald_estimator(spark, str(tmp_path)).collect()
    # python recompute on the synthetic design
    import math

    n1 = sum(
        1
        for uid in range(1, 201)
        if (uid * 2654435761) % 4294967296 // 2147483648 == 1
    )
    n0 = 200 - n1
    d1 = sum(
        1
        for uid in range(1, 201)
        if (uid * 2654435761) % 4294967296 // 2147483648 == 1
        and uid % 10 != 0
    )
    d0 = 0
    y = {1: {}, 0: {}}
    for uid in range(1, 201):
        arm = (uid * 2654435761) % 4294967296 // 2147483648
        n_purch = 13 if (arm == 1 and uid % 10 != 0) else 3
        y[arm][uid] = n_purch * 1000
    y1m = sum(y[1].values()) / n1
    y0m = sum(y[0].values()) / n0
    fs = d1 / n1 - d0 / n0
    pp = (d1 + d0) / (n1 + n0)
    f_stat = fs * fs / (pp * (1 - pp) * (1 / n1 + 1 / n0))
    assert srow.weak_instrument == 0
    assert srow.first_stage_f == round(f_stat, 6)
    assert srow.wald_late == round((y1m - y0m) / fs, 6)


def test_qini_uplift_matches_python_recompute(spark, sf_dir):
    """Plain-Python Qini re-derivation: DESC domain-CDF deciles of the
    pre-period score, exact per-decile arm cells, cumulative Qini."""
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    ev["day"] = pd.to_datetime(ev["ts"]).dt.date
    cut = pd.Timestamp("2024-01-16").date()
    cents = (ev["value"] * 100 + 0.5).astype("int64")
    score, resp = {}, {}
    for uid, et, d, c, v in zip(
        ev["user_id"], ev["event_type"], ev["day"], cents, ev["value"]
    ):
        u = int(uid)
        score.setdefault(u, 0)
        resp.setdefault(u, 0)
        if d < cut:
            score[u] += int(c)
        if et == "purchase" and d >= cut and v * 100 >= 10000:
            resp[u] = 1
    n = len(score)
    from collections import Counter

    dom = Counter(score.values())
    cal, acc = {}, 0
    for s in sorted(dom, reverse=True):
        cal[s] = acc
        acc += dom[s]
    decile = {u: min(9, 10 * cal[s] // n) for u, s in score.items()}
    cells = {}
    for u in score:
        arm = (u * 2654435761) % 4294967296 // 2147483648
        dd = decile[u]
        c = cells.setdefault(dd, [0, 0, 0, 0])
        if arm == 1:
            c[0] += 1
            c[2] += resp[u]
        else:
            c[1] += 1
            c[3] += resp[u]
    from vectordb_agentic_rag_spark.operators.stats.models import (
        agg_qini_uplift_curve,
    )

    got = {
        r.decile: r for r in agg_qini_uplift_curve(spark, sf_dir).collect()
    }
    assert set(got) == set(cells)
    cn_t = cn_c = cx_t = cx_c = 0
    for dd in sorted(cells):
        n_t, n_c, x_t, x_c = cells[dd]
        cn_t += n_t
        cn_c += n_c
        cx_t += x_t
        cx_c += x_c
        r = got[dd]
        assert (r.n_treat, r.n_control, r.resp_treat, r.resp_control) == (
            n_t, n_c, x_t, x_c,
        )
        want_uplift = (
            None if n_t == 0 or n_c == 0 else round(x_t / n_t - x_c / n_c, 6)
        )
        want_qini = (
            None if cn_c == 0 else round(cx_t - cx_c * cn_t / cn_c, 6)
        )
        assert r.uplift == want_uplift
        assert r.qini_cum == want_qini


def test_matthews_phi_matches_python_recompute(spark, sf_dir):
    """Plain-Python MCC: 2x2 cells from per-user adopter/big-spender
    indicators, the split-sqrt denominator, the n*phi^2 chi^2."""
    import math

    import pandas as pd

    from vectordb_agentic_rag_spark.operators.stats.distribution import (
        agg_matthews_phi,
    )

    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    cents = ev["value"] * 100
    x, y = {}, {}
    for uid, et, c in zip(ev["user_id"], ev["event_type"], cents):
        u = int(uid)
        x.setdefault(u, 0)
        y.setdefault(u, 0)
        if et == "purchase":
            x[u] += 1
            if c >= 10000:
                y[u] = 1
    cells = [0, 0, 0, 0]  # a b c d
    for u in x:
        xi, yi = int(x[u] >= 12), y[u]
        cells[(1 - xi) * 2 + (1 - yi)] += 1
    a, b, c, d = cells
    phi = (a * d - b * c) / (
        math.sqrt((a + b) * (c + d)) * math.sqrt((a + c) * (b + d))
    )
    chi2 = (a + b + c + d) * phi * phi
    (row,) = agg_matthews_phi(spark, sf_dir).collect()
    assert (row.n_both, row.n_x_only, row.n_y_only, row.n_neither) == (
        a, b, c, d,
    )
    assert row.phi == round(phi, 6)
    assert row.chi2_stat == round(chi2, 6)


def test_last_digit_uniformity_matches_python_recompute(spark, sf_dir):
    """Exact chi^2 identity: sum((10c - n)^2)/(10n) over the last cent
    digit of o_totalprice."""
    import pandas as pd

    from vectordb_agentic_rag_spark.operators.stats.distribution import (
        agg_last_digit_uniformity,
    )

    o = pd.read_parquet(f"{sf_dir}/orders.parquet")
    digits = ((o["o_totalprice"] * 100 + 0.5).astype("int64") % 10).tolist()
    n = len(digits)
    cnt = {dd: digits.count(dd) for dd in set(digits)}
    chi2 = sum((10 * c - n) ** 2 for c in cnt.values()) / (10 * n)
    rows = agg_last_digit_uniformity(spark, sf_dir).collect()
    assert {(r.digit, r.cnt) for r in rows} == set(cnt.items())
    assert all(r.chi2_total == round(chi2, 6) for r in rows)
    assert all(
        r.nonuniform_05 == (1 if round(chi2, 9) >= 16.919 else 0)
        for r in rows
    )


def test_revenue_up_streaks_matches_python_recompute(spark, sf_dir):
    """Gaps-and-islands recompute of strictly-increasing day-total
    runs, and the 30-day fixture span precondition."""
    import pandas as pd

    from vectordb_agentic_rag_spark.operators.windows import (
        win_revenue_up_streaks,
    )

    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    ev = ev[ev["event_type"] == "purchase"].copy()
    ev["day"] = pd.to_datetime(ev["ts"]).dt.date
    ev["c"] = (ev["value"] * 100 + 0.5).astype("int64")
    daily = ev.groupby("day")["c"].sum().sort_index()
    assert len(daily) == 30  # all 30 fixture days have purchases
    runs, cur = [], [daily.index[0]]
    for prev_day, day in zip(daily.index, daily.index[1:]):
        if daily[day] > daily[prev_day]:
            cur.append(day)
        else:
            runs.append(cur)
            cur = [day]
    runs.append(cur)
    expected = {
        (r[0], r[-1], len(r), int(daily[r[-1]] - daily[r[0]]))
        for r in runs
        if len(r) >= 2
    }
    got_rows = win_revenue_up_streaks(spark, sf_dir).collect()
    got = {
        (r.start_day, r.end_day, r.streak_days, r.gain_cents)
        for r in got_rows
    }
    assert got == expected
    longest = max(len(r) for r in runs if len(r) >= 2)
    assert all(r.longest_streak == longest for r in got_rows)


def test_laspeyres_paasche_matches_python_recompute(spark, sf_dir):
    """Plain-Python index recompute over per-part period revenues and
    quantities, with the quantize-then-sum term protocol."""
    import math
    from decimal import Decimal

    import numpy as np
    import pandas as pd

    from vectordb_agentic_rag_spark.operators.stats.kpis import (
        agg_laspeyres_paasche_index,
    )

    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    o = pd.read_parquet(f"{sf_dir}/orders.parquet")[
        ["o_orderkey", "o_orderdate"]
    ]
    m = li.merge(o, left_on="l_orderkey", right_on="o_orderkey")
    per = (
        pd.to_datetime(m["o_orderdate"]).dt.date
        >= pd.Timestamp("1998-01-01").date()
    ).astype(int)
    s = (m["l_extendedprice"] * 100 + 0.5).astype("int64")
    # half-away convention (engines' round), not pandas half-even
    q = np.floor(m["l_quantity"] + 0.5).astype("int64")
    agg = {}
    for pk, pe, si, qi in zip(m["l_partkey"], per, s, q):
        c = agg.setdefault(int(pk), [0, 0, 0, 0])
        c[2 * pe] += int(si)
        c[2 * pe + 1] += int(qi)
    both = {
        pk: c for pk, c in agg.items() if c[1] > 0 and c[3] > 0
    }
    sum_s0 = sum(c[0] for c in both.values())
    sum_s1 = sum(c[2] for c in both.values())
    num_l = sum(
        Decimal(str(round(c[2] * c[1] / c[3], 9))) for c in both.values()
    )
    den_p = sum(
        Decimal(str(round(c[0] * c[3] / c[1], 9))) for c in both.values()
    )
    lasp = float(num_l) / sum_s0
    paas = sum_s1 / float(den_p)
    (row,) = agg_laspeyres_paasche_index(spark, sf_dir).collect()
    assert row.n_parts == len(both)
    assert row.laspeyres_idx == round(lasp, 6)
    assert row.paasche_idx == round(paas, 6)
    assert row.fisher_idx == round(math.sqrt(lasp * paas), 6)


def test_shapley_attribution_matches_python_recompute(spark, sf_dir):
    """Full Shapley recompute over the 16-coalition empirical game,
    plus the efficiency identity sum(phi) == v(grand) - v(empty)."""
    import itertools
    import math
    from decimal import Decimal

    import pandas as pd

    from vectordb_agentic_rag_spark.operators.stats.kpis import (
        agg_shapley_attribution,
    )

    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    bits = {"view": 1, "click": 2, "signup": 4, "error": 8}
    mask, conv = {}, {}
    for uid, et, v in zip(ev["user_id"], ev["event_type"], ev["value"]):
        u = int(uid)
        mask.setdefault(u, 0)
        conv.setdefault(u, 0)
        if et in bits:
            mask[u] |= bits[et]
        elif et == "purchase" and v * 100 >= 10000:
            conv[u] = 1
    n = {m: 0 for m in range(16)}
    x = {m: 0 for m in range(16)}
    for u in mask:
        n[mask[u]] += 1
        x[mask[u]] += conv[u]
    v_of = {m: (x[m] / n[m] if n[m] else 0.0) for m in range(16)}
    w24 = {0: 6, 1: 2, 2: 2, 3: 6}
    got = {
        r.channel: r for r in agg_shapley_attribution(spark, sf_dir).collect()
    }
    phis = {}
    for chname, b in bits.items():
        phi24 = sum(
            Decimal(
                str(round(w24[bin(m).count("1")] * (v_of[m + b] - v_of[m]), 9))
            )
            for m in range(16)
            if (m & b) == 0
        )
        phis[chname] = float(phi24) / 24.0
        n_t = sum(n[m] for m in range(16) if m & b)
        x_t = sum(x[m] for m in range(16) if m & b)
        r = got[chname]
        assert r.n_touched == n_t
        assert r.conv_rate_touched == round(
            x_t / n_t if n_t else 0.0, 6
        )
        assert r.shapley_value == round(phis[chname], 6)
    # efficiency: credits sum to v(grand) - v(empty) up to term quanta
    assert math.isclose(
        sum(phis.values()), v_of[15] - v_of[0], abs_tol=1e-6
    )


def test_local_bridges_matches_python_recompute(spark, sf_dir):
    """Plain-Python bridge detection on the support-2 co-purchase
    graph: zero common neighbors, endpoint degrees, global count."""
    from collections import defaultdict

    import pandas as pd

    from vectordb_agentic_rag_spark.operators.graph import graph_local_bridges

    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")[
        ["l_orderkey", "l_partkey"]
    ].drop_duplicates()
    by_order = defaultdict(set)
    for ok, pk in zip(li["l_orderkey"], li["l_partkey"]):
        by_order[int(ok)].add(int(pk))
    support = defaultdict(int)
    for parts in by_order.values():
        ps = sorted(parts)
        for i, u in enumerate(ps):
            for v in ps[i + 1 :]:
                support[(u, v)] += 1
    edges = {e for e, c in support.items() if c >= 2}
    adj = defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    bridges = {
        (u, v, len(adj[u]), len(adj[v]))
        for u, v in edges
        if not (adj[u] & adj[v])
    }
    rows = graph_local_bridges(spark, sf_dir).collect()
    got = {(r.part_u, r.part_v, r.deg_u, r.deg_v) for r in rows}
    assert got == bridges
    assert all(r.n_bridges == len(bridges) for r in rows)


def test_cronbach_alpha_matches_python_recompute(spark, sf_dir):
    """Densified day x type grid, n-scaled integer variances, the
    k/(k-1) assembly."""
    import pandas as pd

    from vectordb_agentic_rag_spark.operators.stats.tests import (
        agg_cronbach_alpha,
    )

    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    ev["day"] = pd.to_datetime(ev["ts"]).dt.date
    ev["c"] = (ev["value"] * 100 + 0.5).astype("int64")
    grid = ev.pivot_table(
        index="day", columns="event_type", values="c",
        aggfunc="sum", fill_value=0,
    )
    n, k = grid.shape
    sum_ci = sum(
        n * int((grid[t] ** 2).sum()) - int(grid[t].sum()) ** 2
        for t in grid.columns
    )
    rs = grid.sum(axis=1)
    c_tot = n * int((rs ** 2).sum()) - int(rs.sum()) ** 2
    alpha = k / (k - 1) * (1.0 - sum_ci / c_tot)
    (row,) = agg_cronbach_alpha(spark, sf_dir).collect()
    assert (row.k_items, row.n_cases) == (k, n)
    assert row.cronbach_alpha == round(alpha, 6)


def test_cvar_matches_python_recompute(spark, sf_dir):
    """Exact order-statistic VaR pick and tail mean over day-over-day
    purchase revenue changes."""
    import pandas as pd

    from vectordb_agentic_rag_spark.operators.stats.distribution import (
        agg_cvar_expected_shortfall,
    )

    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    ev = ev[ev["event_type"] == "purchase"].copy()
    ev["day"] = pd.to_datetime(ev["ts"]).dt.date
    ev["c"] = (ev["value"] * 100 + 0.5).astype("int64")
    daily = ev.groupby("day")["c"].sum().sort_index()
    chg = sorted(
        int(b) - int(a) for a, b in zip(daily.values, daily.values[1:])
    )
    n = len(chg)
    var_c = chg[(5 * n + 99) // 100 - 1]
    tail = [x for x in chg if x <= var_c]
    (row,) = agg_cvar_expected_shortfall(spark, sf_dir).collect()
    assert (row.n_changes, row.var95_cents, row.n_tail_days) == (
        n, var_c, len(tail),
    )
    assert row.cvar95_cents == round(sum(tail) / len(tail), 6)


def test_neyman_allocation_matches_python_recompute(spark, sf_dir):
    """sqrt(n-scaled moment) weights + Hamilton largest-remainder
    apportionment; allocations must sum to exactly 1000."""
    import math

    import pandas as pd

    from vectordb_agentic_rag_spark.operators.relational import (
        _NEYMAN_N,
        sample_neyman_allocation,
    )

    o = pd.read_parquet(f"{sf_dir}/orders.parquet")
    c = pd.read_parquet(f"{sf_dir}/customer.parquet")[
        ["c_custkey", "c_nationkey"]
    ]
    m = o.merge(c, left_on="o_custkey", right_on="c_custkey")
    cents = (m["o_totalprice"] * 100 + 0.5).astype("int64")
    agg = {}
    for nk, x in zip(m["c_nationkey"], cents):
        a = agg.setdefault(int(nk), [0, 0, 0])
        a[0] += 1
        a[1] += int(x)
        a[2] += int(x) * int(x)
    nsd = {nk: math.sqrt(a[0] * a[2] - a[1] ** 2) for nk, a in agg.items()}
    tot = sum(nsd.values())
    fl = {nk: int(_NEYMAN_N * v / tot) for nk, v in nsd.items()}
    rem = {nk: _NEYMAN_N * v / tot - fl[nk] for nk, v in nsd.items()}
    short = _NEYMAN_N - sum(fl.values())
    order = sorted(rem, key=lambda nk: (-rem[nk], nk))
    alloc = {
        nk: fl[nk] + (1 if i < short else 0)
        for i, nk in enumerate(order)
    }
    rows = sample_neyman_allocation(spark, sf_dir).collect()
    assert {(r.nationkey, r.n_pop, r.alloc) for r in rows} == {
        (nk, agg[nk][0], alloc[nk]) for nk in agg
    }
    assert sum(r.alloc for r in rows) == _NEYMAN_N
    assert all(
        r.neyman_weight == round(nsd[r.nationkey] / tot, 6) for r in rows
    )


def test_borda_copeland_matches_python_recompute(spark, sf_dir):
    """Doubled-point Borda and Copeland scores over the densified
    day x type revenue grid."""
    import pandas as pd

    from vectordb_agentic_rag_spark.operators.stats.kpis import (
        agg_borda_copeland_ranks,
    )

    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    ev["day"] = pd.to_datetime(ev["ts"]).dt.date
    ev["c"] = (ev["value"] * 100 + 0.5).astype("int64")
    grid = ev.pivot_table(
        index="day", columns="event_type", values="c",
        aggfunc="sum", fill_value=0,
    )
    types = list(grid.columns)
    n_days = len(grid)
    borda2 = {t: 0 for t in types}
    copeland2 = {t: 0 for t in types}
    for i in types:
        for j in types:
            if i == j:
                continue
            pts2 = int(
                (2 * (grid[i] > grid[j]) + (grid[i] == grid[j])).sum()
            )
            borda2[i] += pts2
            if 2 * pts2 > 2 * n_days:
                copeland2[i] += 2
            elif 2 * pts2 == 2 * n_days:
                copeland2[i] += 1
    rows = agg_borda_copeland_ranks(spark, sf_dir).collect()
    assert {(r.event_type, r.borda2, r.copeland2) for r in rows} == {
        (t, borda2[t], copeland2[t]) for t in types
    }
    br = sorted(types, key=lambda t: (-borda2[t], t))
    assert {(r.event_type, r.borda_rank) for r in rows} == {
        (t, i + 1) for i, t in enumerate(br)
    }


def test_hoeffding_d_matches_python_recompute(spark, sf_dir):
    """Full quarter-integer Hoeffding machinery recompute: doubled
    midranks, quadrupled Q with Hollander-Wolfe tie weights, the
    scaled D1/D2/D3 assembly."""
    import pandas as pd

    from vectordb_agentic_rag_spark.operators.stats.distribution import (
        agg_hoeffding_d_independence,
    )

    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    ev["day"] = pd.to_datetime(ev["ts"]).dt.date
    purch = (ev["value"] * 100 + 0.5).astype("int64").where(
        ev["event_type"] == "purchase", 0
    )
    g = pd.DataFrame({"day": ev["day"], "x": purch, "one": 1}).groupby(
        "day"
    ).agg(x=("x", "sum"), y=("one", "sum"))
    xs, ys = g["x"].tolist(), g["y"].tolist()
    n = len(xs)
    r2 = [
        2 * sum(1 for v in xs if v < xi) + sum(1 for v in xs if v == xi) + 1
        for xi in xs
    ]
    s2 = [
        2 * sum(1 for v in ys if v < yi) + sum(1 for v in ys if v == yi) + 1
        for yi in ys
    ]
    q4 = []
    for i in range(n):
        t = 4
        for j in range(n):
            if j == i:
                continue
            lx, ex = xs[j] < xs[i], xs[j] == xs[i]
            ly, ey = ys[j] < ys[i], ys[j] == ys[i]
            t += 4 * (lx and ly) + 2 * (ex and ly) + 2 * (lx and ey) + (
                ex and ey
            )
        q4.append(t)
    d1 = sum((q - 4) * (q - 8) for q in q4)
    d2 = sum(
        (r - 2) * (r - 4) * (s - 2) * (s - 4) for r, s in zip(r2, s2)
    )
    d3 = sum(
        (r - 4) * (s - 4) * (q - 4) for r, s, q in zip(r2, s2, q4)
    )
    d = (
        30.0
        * ((n - 2) * (n - 3) * d1 + d2 - 2 * (n - 2) * d3)
        / (16.0 * n * (n - 1) * (n - 2) * (n - 3) * (n - 4))
    )
    (row,) = agg_hoeffding_d_independence(spark, sf_dir).collect()
    assert row.n_days == n
    assert row.hoeffding_d == round(d, 6)


def test_sample_entropy_matches_python_recompute(spark, sf_dir):
    """Template-match recompute with the MAD-of-diffs tolerance and
    the <= n-2 start convention."""
    import math

    import pandas as pd

    from vectordb_agentic_rag_spark.operators.stats.timeseries import (
        agg_sample_entropy,
    )

    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    ev = ev[ev["event_type"] == "purchase"].copy()
    ev["day"] = pd.to_datetime(ev["ts"]).dt.date
    ev["c"] = (ev["value"] * 100 + 0.5).astype("int64")
    tot = ev.groupby("day")["c"].sum().sort_index().tolist()
    n = len(tot)
    diffs = sorted(abs(b - a) for a, b in zip(tot, tot[1:]))
    r = diffs[(len(diffs) + 1) // 2 - 1]  # low-median pick
    b2 = a3 = 0
    for i in range(n - 2):
        for j in range(i + 1, n - 2):
            m1 = abs(tot[i] - tot[j]) <= r
            m1b = abs(tot[i + 1] - tot[j + 1]) <= r
            m1c = abs(tot[i + 2] - tot[j + 2]) <= r
            if m1 and m1b:
                b2 += 1
                if m1c:
                    a3 += 1
    (row,) = agg_sample_entropy(spark, sf_dir).collect()
    assert (row.n_days, row.tolerance_cents) == (n, r)
    assert (row.template_matches_m2, row.template_matches_m3) == (b2, a3)
    if a3 and b2:
        assert row.sample_entropy == round(math.log(b2 / a3), 6)
    else:
        assert row.sample_entropy is None


def test_newsvendor_matches_python_recompute(spark, sf_dir):
    """Critical-fractile pick + exact mismatch-cost and fill-rate
    recompute over daily purchase counts."""
    import pandas as pd

    from vectordb_agentic_rag_spark.operators.stats.models import (
        agg_newsvendor_quantile,
    )

    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    ev = ev[ev["event_type"] == "purchase"].copy()
    ev["day"] = pd.to_datetime(ev["ts"]).dt.date
    ds = sorted(ev.groupby("day").size().tolist())
    n, sd = len(ds), sum(ds)
    s_opt = ds[(75 * n + 99) // 100 - 1]
    cost = (
        3 * sum(max(x - s_opt, 0) for x in ds)
        + sum(max(s_opt - x, 0) for x in ds)
    ) / n
    fill = sum(min(x, s_opt) for x in ds) / sd
    (row,) = agg_newsvendor_quantile(spark, sf_dir).collect()
    assert (row.n_days, row.stock_optimal) == (n, s_opt)
    assert row.mean_demand == round(sd / n, 6)
    assert row.expected_cost == round(cost, 6)
    assert row.fill_rate == round(fill, 6)


def test_churn_lifetable_matches_python_recompute(spark, sf_dir):
    """User-tenure life table with right-censoring in the final week,
    exact hazard ratios and the quantized survival fold."""
    import pandas as pd

    from vectordb_agentic_rag_spark.operators.stats.models import (
        agg_churn_lifetable_weeks,
    )

    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    ev["day"] = (
        pd.to_datetime(ev["ts"]).dt.date
        - pd.Timestamp("2024-01-01").date()
    ).map(lambda d: d.days)
    g = ev.groupby("user_id")["day"].agg(["min", "max"])
    rows = {}
    for fd, ld in zip(g["min"], g["max"]):
        wk = (ld - fd) // 7
        cen = 1 if ld >= 23 else 0
        r = rows.setdefault(wk, [0, 0])
        r[cen] += 1
    total = sum(d + c for d, c in rows.values())
    got = {
        r.tenure_week: r
        for r in agg_churn_lifetable_weeks(spark, sf_dir).collect()
    }
    assert set(got) == set(rows)
    at_risk = total
    surv = 1.0
    for wk in sorted(rows):
        d, c = rows[wk]
        surv *= round(1.0 - d / at_risk, 9)
        r = got[wk]
        assert (r.n_risk, r.n_churned, r.n_censored) == (at_risk, d, c)
        assert r.hazard == round(d / at_risk, 6)
        assert r.survival == round(surv, 6)
        at_risk -= d + c


def test_markov_removal_attribution_matches_python_recompute(spark, sf_dir):
    """Full Python re-derivation: path extraction with the
    (ts, event_id) composite order, edge counts, per-chain redirected
    transition matrices, 40 quantized vector steps, removal effects
    and shares — the whole pipeline, independent of both engines."""
    import pandas as pd

    from vectordb_agentic_rag_spark.operators.stats.kpis import (
        _MRA_CHANNELS,
        _MRA_STATES,
        _MRA_STEPS,
        agg_markov_removal_attribution,
    )

    ev = pd.read_parquet(f"{sf_dir}/events.parquet").copy()
    ev["us"] = ev["ts"].astype("datetime64[ns]").astype("int64") // 1000
    paths: dict[int, list] = {}
    first_p: dict[int, tuple] = {}
    for r in ev.itertuples():
        u = int(r.user_id)
        k = (int(r.us), int(r.event_id))
        if r.event_type == "purchase":
            if u not in first_p or k < first_p[u]:
                first_p[u] = k
        paths.setdefault(u, []).append((k, r.event_type))
    edges: dict[tuple, int] = {}
    for u, evs in paths.items():
        fp = first_p.get(u)
        pre = sorted(
            (k, t)
            for k, t in evs
            if t != "purchase" and (fp is None or k < fp)
        )
        conv = fp is not None
        if not pre:
            if conv:
                edges[("start", "conv")] = edges.get(("start", "conv"), 0) + 1
            continue
        prev = "start"
        for _, t in pre:
            edges[(prev, t)] = edges.get((prev, t), 0) + 1
            prev = t
        end = "conv" if conv else "null"
        edges[(prev, end)] = edges.get((prev, end), 0) + 1

    idx = {s: i for i, s in enumerate(_MRA_STATES)}

    def pconv(chain):
        red = {}
        for (u, v), c in edges.items():
            v2 = "null" if (chain != "all" and v == chain) else v
            red[(u, v2)] = red.get((u, v2), 0) + c
        rowtot = {}
        for (u, _), c in red.items():
            rowtot[u] = rowtot.get(u, 0) + c
        m = [[0.0] * 6 for _ in range(5)]
        for (u, v), c in red.items():
            if u in idx and idx[u] < 5 and v in idx and 1 <= idx[v] <= 5:
                m[idx[u]][idx[v]] = round(c / rowtot[u], 9)
        p = [1.0, 0.0, 0.0, 0.0, 0.0, 0.0]
        for _ in range(_MRA_STEPS):
            q = [0.0] * 6
            for j in range(1, 5):
                acc = 0.0
                for i in range(5):
                    acc = acc + p[i] * m[i][j]
                q[j] = round(acc, 9)
            acc = 0.0
            for i in range(5):
                acc = acc + p[i] * m[i][5]
            q[5] = round(acc + p[5], 9)
            p = q
        return p[5]

    pall = pconv("all")
    de = {c: round(pall - pconv(c), 9) for c in _MRA_CHANNELS}
    te = sum(de.values())
    got = {
        r.channel: r
        for r in agg_markov_removal_attribution(spark, sf_dir).collect()
    }
    assert set(got) == set(_MRA_CHANNELS)
    for c in _MRA_CHANNELS:
        r = got[c]
        assert r.p_conv_full == round(pall, 6)
        assert r.p_conv_removed == round(pall - de[c], 6)
        want_re = None if pall == 0.0 else round(de[c] / pall, 6)
        assert r.removal_effect == want_re
        want_sh = None if te == 0.0 else round(de[c] / te, 6)
        assert r.attribution_share == want_sh
    # every removal hurts conversion on this fixture (all users convert
    # through multi-channel paths)
    assert all(de[c] > 0 for c in _MRA_CHANNELS)


def test_taylor_power_law_matches_python_recompute(spark, sf_dir):
    """Quantized log-log OLS recompute over per-type daily-count
    means and population variances (densified grid)."""
    from decimal import Decimal
    import math

    import pandas as pd

    from vectordb_agentic_rag_spark.operators.stats.distribution import (
        agg_taylor_power_law,
    )

    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    ev["day"] = pd.to_datetime(ev["ts"]).dt.date
    grid = ev.pivot_table(
        index="day", columns="event_type", values="event_id",
        aggfunc="count", fill_value=0,
    )
    n = len(grid)
    pts = []
    for t in grid.columns:
        s = int(grid[t].sum())
        ss = int((grid[t].astype("int64") ** 2).sum())
        cvar = n * ss - s * s
        if s > 0 and cvar > 0:
            pts.append(
                (
                    Decimal(str(round(math.log(s / n), 9))),
                    Decimal(str(round(math.log(cvar / (n * n)), 9))),
                )
            )
    k = len(pts)
    sx = float(sum(x for x, _ in pts))
    sy = float(sum(y for _, y in pts))
    sxx = float(sum(x * x for x, _ in pts))
    sxy = float(sum(x * y for x, y in pts))
    syy = float(sum(y * y for _, y in pts))
    b = (k * sxy - sx * sy) / (k * sxx - sx * sx)
    a = (sy - b * sx) / k
    r2 = (k * sxy - sx * sy) ** 2 / (
        (k * sxx - sx * sx) * (k * syy - sy * sy)
    )
    (row,) = agg_taylor_power_law(spark, sf_dir).collect()
    assert row.n_types == k
    assert row.taylor_exponent == round(b, 6)
    assert row.intercept == round(a, 6)
    assert row.r2 == round(r2, 6)
