"""Pytests for round-14 analytics ops — plain-Python recomputes
(round-9 rule: hash parity can't catch logic mirrored into both
engines)."""

import duckdb
import pytest

SF = "sf0.001"
SF_DIR = f"/root/testdata/{SF}"


def _plain_python_pruning(sf_dir: str):
    """Recompute the pruning panel from data with independent Python
    (no div-expression sharing with either engine)."""
    con = duckdb.connect()
    keys = [
        int(r[0])
        for r in con.execute(
            f"SELECT o_orderkey FROM '{sf_dir}/orders.parquet'"
        ).fetchall()
    ]
    mn, mx = min(keys), max(keys)
    span = mx - mn + 1
    width = span // 16 + 1
    buckets = {}
    for k in keys:
        for layout, grp in (
            ("clustered", (k - mn) // width),
            ("scattered", ((k * 2654435761) % 4294967296) // 268435456),
        ):
            fmin, fmax, n = buckets.get((layout, grp), (k, k, 0))
            buckets[(layout, grp)] = (min(fmin, k), max(fmax, k), n + 1)
    out = {}
    for i in range(8):
        lo = mn + (i * span) // 8
        hi = lo + span // 32
        for layout in ("clustered", "scattered"):
            bs = [v for (l, _), v in buckets.items() if l == layout]
            pruned = [(f0, f1, n) for f0, f1, n in bs if f1 < lo or f0 > hi]
            out[(layout, i)] = (
                lo,
                hi,
                len(bs),
                len(pruned),
                sum(n for _, _, n in bs),
                sum(n for _, _, n in pruned),
            )
    return out


def test_rowgroup_pruning_sim_matches_plain_python(spark):
    from vectordb_agentic_rag_spark.operators.maintenance import (
        maintenance_rowgroup_pruning_sim,
    )

    rows = maintenance_rowgroup_pruning_sim(spark, SF_DIR).collect()
    expected = _plain_python_pruning(SF_DIR)
    assert len(rows) == 16
    for r in rows:
        lo, hi, nb, bp, rt, rs = expected[(r["layout"], int(r["pred_id"]))]
        assert (r["lo"], r["hi"]) == (lo, hi)
        assert (r["n_buckets"], r["buckets_pruned"]) == (nb, bp)
        assert (r["rows_total"], r["rows_skipped"]) == (rt, rs)


def test_rowgroup_pruning_advisory_shape(spark):
    """The point of the op: clustered layout prunes most buckets for a
    narrow range predicate, scattered prunes none."""
    from vectordb_agentic_rag_spark.operators.maintenance import (
        maintenance_rowgroup_pruning_sim,
    )

    rows = maintenance_rowgroup_pruning_sim(spark, SF_DIR).collect()
    by_layout = {}
    for r in rows:
        by_layout.setdefault(r["layout"], []).append(r)
    for r in by_layout["scattered"]:
        assert r["buckets_pruned"] == 0 and r["rows_skipped"] == 0
    for r in by_layout["clustered"]:
        # each predicate spans ~1/8 + 1/32 of the key domain across 16
        # range buckets: at least half the buckets must prune
        assert r["buckets_pruned"] >= r["n_buckets"] // 2
        assert r["rows_skipped"] > 0


def test_bloom_rowgroup_advisor_matches_plain_python(spark):
    from vectordb_agentic_rag_spark.operators.maintenance import (
        _BLF_P,
        _BLF_WORDS,
        maintenance_bloom_rowgroup_advisor,
    )

    import duckdb

    con = duckdb.connect()
    keys = [
        int(r[0])
        for r in con.execute(
            f"SELECT o_orderkey FROM '{SF_DIR}/orders.parquet'"
        ).fetchall()
    ]
    nbits = _BLF_WORDS * 63

    def h(k, m):
        return ((k * m) % _BLF_P) % nbits

    buckets = {}
    for k in keys:
        g = ((k * 2654435761) % 4294967296) // 16777216
        bits, bmin, bmax, n, members = buckets.get(
            g, (set(), k, k, 0, set())
        )
        bits |= {h(k, 48271), h(k, 69621)}
        members.add(k)
        buckets[g] = (bits, min(bmin, k), max(bmax, k), n + 1, members)
    mn, mx = min(keys), max(keys)
    span = mx - mn + 1
    rows = maintenance_bloom_rowgroup_advisor(spark, SF_DIR).collect()
    assert len(rows) == 8
    for r in rows:
        key = mn + (int(r["probe_id"]) * span) // 8
        assert r["probe_key"] == key
        q1, q2 = h(key, 48271), h(key, 69621)
        poss = [
            (g, v) for g, v in buckets.items()
            if q1 in v[0] and q2 in v[0]
        ]
        true_b = [g for g, v in buckets.items() if key in v[4]]
        assert r["n_buckets"] == len(buckets)
        assert r["minmax_possible"] == sum(
            1 for v in buckets.values() if v[1] <= key <= v[2]
        )
        assert r["bloom_possible"] == len(poss)
        assert r["bloom_true"] == len(true_b)
        assert r["bloom_false_pos"] == len(poss) - len(true_b)
        skipped = sum(
            v[3] for v in buckets.values()
            if not (q1 in v[0] and q2 in v[0])
        )
        assert r["rows_skipped_bloom"] == skipped


def test_hll_dense_registers_matches_plain_python(spark):
    from vectordb_agentic_rag_spark.operators.stats.sketches import (
        _HLL_M,
        agg_hll_dense_registers,
    )

    import duckdb

    con = duckdb.connect()
    pairs = con.execute(
        f"""
        SELECT DISTINCT event_type,
               user_id * 32
               + date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
        FROM '{SF_DIR}/events.parquet'
        WHERE event_type IN ('purchase', 'click')
        """
    ).fetchall()

    def mix(k):
        h = (((k ^ (k >> 16)) % 2147483648) * 2246822519) % 4294967296
        h = (((h ^ (h >> 13)) % 2147483648) * 3266489917) % 4294967296
        return h ^ (h >> 16)

    sets = {"purchase": set(), "click": set(), "any": set()}
    for t, k in pairs:
        sets[t].add(int(k))
        sets["any"].add(int(k))
    rows = {
        r["set_name"]: r
        for r in agg_hll_dense_registers(spark, SF_DIR).collect()
    }
    for name, keys in sets.items():
        M = [0] * _HLL_M
        for k in keys:
            h = mix(k)
            w = h // _HLL_M
            rho = 27 if w == 0 else 27 - w.bit_length()
            reg = h % _HLL_M
            M[reg] = max(M[reg], rho)
        z = sum(2.0 ** -m for m in M)
        est = round(0.709 * _HLL_M * _HLL_M / z, 6)
        r = rows[name]
        assert r["exact_users"] == len(keys)
        assert abs(r["est_users"] - est) < 1e-9
        assert r["rel_err"] == round(abs(est - len(keys)) / len(keys), 4)


def test_zorder_pruning_2d_matches_plain_python(spark):
    from vectordb_agentic_rag_spark.operators.maintenance import (
        maintenance_zorder_pruning_2d,
    )

    import duckdb

    con = duckdb.connect()
    pts = con.execute(
        f"""
        SELECT CAST(o_custkey AS BIGINT),
               CAST(round(o_totalprice * 100, 0) AS BIGINT)
        FROM '{SF_DIR}/orders.parquet'
        """
    ).fetchall()
    xs = [int(p[0]) for p in pts]
    ys = [int(p[1]) for p in pts]
    mnx, mxx, mny, mxy = min(xs), max(xs), min(ys), max(ys)
    sx, sy = mxx - mnx + 1, mxy - mny + 1

    def morton(bx, by):
        m = 0
        for i in range(4):
            m += ((bx >> i) & 1) << (2 * i + 1)
            m += ((by >> i) & 1) << (2 * i)
        return m

    buckets = {}
    for x, y in zip(xs, ys):
        bx = min(15, (x - mnx) * 16 // sx)
        by = min(15, (y - mny) * 16 // sy)
        for layout, g in (
            ("morton", morton(bx, by)),
            ("linear_x", min(255, (x - mnx) * 256 // sx)),
        ):
            cur = buckets.get((layout, g))
            if cur is None:
                buckets[(layout, g)] = [x, x, y, y, 1]
            else:
                cur[0] = min(cur[0], x)
                cur[1] = max(cur[1], x)
                cur[2] = min(cur[2], y)
                cur[3] = max(cur[3], y)
                cur[4] += 1
    rows = maintenance_zorder_pruning_2d(spark, SF_DIR).collect()
    assert len(rows) == 8
    for r in rows:
        j = int(r["box_id"])
        jx, jy = j % 2, j // 2
        qx_lo = mnx + jx * (sx // 2) + sx // 8
        qx_hi = qx_lo + sx // 8
        qy_lo = mny + jy * (sy // 2) + sy // 8
        qy_hi = qy_lo + sy // 8
        bs = [v for (l, _), v in buckets.items() if l == r["layout"]]
        pruned = [
            v for v in bs
            if v[1] < qx_lo or v[0] > qx_hi or v[3] < qy_lo or v[2] > qy_hi
        ]
        assert r["n_buckets"] == len(bs)
        assert r["buckets_pruned"] == len(pruned)
        assert r["rows_total"] == sum(v[4] for v in bs)
        assert r["rows_skipped"] == sum(v[4] for v in pruned)


def test_zorder_2d_morton_beats_linear_on_rows_skipped(spark):
    """The advisory's point: for every 2-D box, the Morton layout
    skips at least as many rows as the linear-x layout (it bounds
    both dimensions per bucket)."""
    from vectordb_agentic_rag_spark.operators.maintenance import (
        maintenance_zorder_pruning_2d,
    )

    rows = maintenance_zorder_pruning_2d(spark, SF_DIR).collect()
    by_box = {}
    for r in rows:
        by_box.setdefault(int(r["box_id"]), {})[r["layout"]] = r
    for j, d in by_box.items():
        assert d["morton"]["rows_skipped"] >= d["linear_x"]["rows_skipped"]


def _half_up_9(x: float):
    """Mirror SQL round(double, 9): shortest-repr decimal, HALF_UP
    (Python round() is banker's — the CLAUDE.md trap)."""
    from decimal import ROUND_HALF_UP, Decimal

    return Decimal(repr(float(x))).quantize(
        Decimal("1e-9"), rounding=ROUND_HALF_UP
    )


def test_logistic_newton_matches_plain_python(spark, sf_dir):
    """Full recompute of the Fisher-scoring recursion in pure Python
    (Decimal HALF_UP per-term quantization, identical-order float
    solve) — catches logic errors mirrored into both engines."""
    import duckdb
    from decimal import Decimal

    from vectordb_agentic_rag_spark.operators.stats.models import (
        _LGN_T,
        agg_logistic_newton,
    )

    con = duckdb.connect()
    users = con.execute(
        "SELECT CASE WHEN np >= 12 THEN 1 ELSE 0 END,"
        " CAST(nv AS DOUBLE) / 64, CAST(nc AS DOUBLE) / 64 FROM ("
        " SELECT user_id,"
        " sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) np,"
        " sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) nv,"
        " sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) nc"
        f" FROM '{sf_dir}/events.parquet' GROUP BY user_id) g"
    ).fetchall()

    def step(b):
        sums = [Decimal(0)] * 9
        for y, x1, x2 in users:
            eta = b[0] + b[1] * x1 + b[2] * x2
            d = 1 + abs(eta)
            p = 0.5 + eta / (2 * d)
            w = 0.5 / (d * d)
            r = float(y) - p
            terms = [r, r * x1, r * x2, w, w * x1, w * x2,
                     w * x1 * x1, w * x1 * x2, w * x2 * x2]
            for j, t in enumerate(terms):
                sums[j] += _half_up_9(t)
        g0, g1, g2, a, bb, c, dd, e, f_ = [float(s) for s in sums]
        det = (a * (dd * f_ - e * e) - bb * (bb * f_ - e * c)
               + c * (bb * e - dd * c))
        det0 = (g0 * (dd * f_ - e * e) - bb * (g1 * f_ - e * g2)
                + c * (g1 * e - dd * g2))
        det1 = (a * (g1 * f_ - e * g2) - g0 * (bb * f_ - e * c)
                + c * (bb * g2 - g1 * c))
        det2 = (a * (dd * g2 - g1 * e) - bb * (bb * g2 - g1 * c)
                + g0 * (bb * e - dd * c))
        return [
            float(_half_up_9(b[0] + det0 / det)),
            float(_half_up_9(b[1] + det1 / det)),
            float(_half_up_9(b[2] + det2 / det)),
        ]

    traj = [[0.0, 0.0, 0.0]]
    for _ in range(_LGN_T):
        traj.append(step(traj[-1]))

    rows = agg_logistic_newton(spark, sf_dir).collect()
    assert len(rows) == _LGN_T + 1
    for r in rows:
        b = traj[r["iter"]]
        for j, col in enumerate(["b0", "b1", "b2"]):
            assert abs(r[col] - b[j]) < 2e-6, (r["iter"], col)
        ncorrect = sum(
            1
            for y, x1, x2 in users
            if (1 if b[0] + b[1] * x1 + b[2] * x2 >= 0 else 0) == y
        )
        assert r["n_correct"] == ncorrect
        assert r["n_users"] == len(users)
    # the fit must actually move off the origin
    assert any(abs(x) > 1e-6 for x in traj[-1])


def test_kcenter_greedy_picks_match_plain_python(spark, sf_dir):
    """Pick-by-pick recompute of the farthest-first traversal with
    left-assoc float distance chains and HALF_UP rounding; also pins
    the covering-radius monotonicity invariant."""
    import duckdb

    from vectordb_agentic_rag_spark.operators.relational import (
        _KCG_K,
        sample_kcenter_greedy,
    )

    con = duckdb.connect()
    vecs = {
        int(v): list(map(float, e))
        for v, e in con.execute(
            "SELECT vec_id, embedding FROM"
            f" '{sf_dir}/embeddings.parquet'"
        ).fetchall()
    }

    def dist(a, b):
        s = 0.0
        for i in range(len(a)):
            s = s + (a[i] - b[i]) * (a[i] - b[i])
        return s

    picks = [min(vecs)]
    radii = [0.0]
    for _ in range(_KCG_K - 1):
        best = None
        for v, e in vecs.items():
            from decimal import ROUND_HALF_UP, Decimal

            dmin = min(dist(e, vecs[s]) for s in picks)
            # single round to 6, mirroring the engines (no 9-then-6
            # double rounding)
            dr = float(
                Decimal(repr(dmin)).quantize(
                    Decimal("1e-6"), rounding=ROUND_HALF_UP
                )
            )
            cand = (-dr, v)
            if best is None or cand < best:
                best = cand
        picks.append(best[1])
        radii.append(-best[0])

    rows = sample_kcenter_greedy(spark, sf_dir).collect()
    assert [int(r["vec_id"]) for r in rows] == picks
    for r, expect in zip(rows, radii):
        assert abs(r["d2_covered"] - expect) < 1e-9
    # covering radius never grows as seeds are added
    for a, b in zip(rows[2:], rows[1:-1]):
        assert a["d2_covered"] <= b["d2_covered"] + 1e-12


def test_decision_stump_matches_plain_python(spark, sf_dir):
    """Exact Fraction-arithmetic recompute of the Gini split search —
    no float anywhere in the check, so a ranking flip would surface
    as a hard mismatch."""
    import duckdb
    from fractions import Fraction

    from vectordb_agentic_rag_spark.operators.stats.models import (
        agg_decision_stump,
    )

    con = duckdb.connect()
    users = con.execute(
        "SELECT CASE WHEN np >= 12 THEN 1 ELSE 0 END, nv, nc FROM ("
        " SELECT user_id,"
        " sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) np,"
        " sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) nv,"
        " sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) nc"
        f" FROM '{sf_dir}/events.parquet' GROUP BY user_id) g"
    ).fetchall()

    panel = {}
    for fname, idx in (("views", 1), ("clicks", 2)):
        xs = sorted({u[idx] for u in users})
        for t in xs:
            nl = sum(1 for u in users if u[idx] <= t)
            pl = sum(u[0] for u in users if u[idx] <= t)
            nr = len(users) - nl
            pr = sum(u[0] for u in users) - pl
            if nr == 0:
                continue
            al = nl * nl - pl * pl - (nl - pl) * (nl - pl)
            ar = nr * nr - pr * pr - (nr - pr) * (nr - pr)
            panel[(fname, t)] = (
                nl, pl, nr, pr, Fraction(al * nr + ar * nl, nl * nr)
            )

    rows = agg_decision_stump(spark, sf_dir).collect()
    assert len(rows) == len(panel)
    order = sorted(
        panel, key=lambda k: (panel[k][4], k[0], k[1])
    )
    for r in rows:
        key = (r["feature"], r["threshold"])
        nl, pl, nr, pr, cost = panel[key]
        assert (r["n_left"], r["pos_left"], r["n_right"],
                r["pos_right"]) == (nl, pl, nr, pr)
        assert abs(r["gini_cost"] - float(cost)) < 1e-6
        assert order[r["sel_rank"] - 1] == key
    # the best stump must beat the no-split impurity
    n = len(users)
    p = sum(u[0] for u in users)
    root = Fraction(n * n - p * p - (n - p) * (n - p), n)
    assert min(v[4] for v in panel.values()) <= root


def test_model_auc_matches_sklearn_free_recompute(spark, sf_dir):
    """Recompute AUC two independent ways — the midrank U identity
    on collapsed score groups AND a direct pairwise count — from the
    op's own fitted betas; all three must agree exactly."""
    from vectordb_agentic_rag_spark.operators.stats.models import (
        _lgn_fit,
        agg_model_auc_exact,
    )

    row = agg_model_auc_exact(spark, sf_dir).collect()[0]
    _, betas = _lgn_fit(spark, sf_dir)
    b0, b1, b2 = [float(b) for b in betas[-1]]
    import duckdb

    con = duckdb.connect()
    users = con.execute(
        "SELECT CASE WHEN np >= 12 THEN 1 ELSE 0 END,"
        " CAST(nv AS DOUBLE) / 64, CAST(nc AS DOUBLE) / 64 FROM ("
        " SELECT user_id,"
        " sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) np,"
        " sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) nv,"
        " sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) nc"
        f" FROM '{sf_dir}/events.parquet' GROUP BY user_id) g"
    ).fetchall()
    scored = [(b0 + b1 * x1 + b2 * x2, y) for y, x1, x2 in users]
    pos = [s for s, y in scored if y == 1]
    neg = [s for s, y in scored if y == 0]
    # direct pairwise 2U: win=2, tie=1
    u2 = sum(
        2 if p > n else (1 if p == n else 0)
        for p in pos
        for n in neg
    )
    assert row["n_pos"] == len(pos)
    assert row["n_neg"] == len(neg)
    assert row["u2"] == u2
    assert abs(
        row["auc"] - u2 / (2 * len(pos) * len(neg))
    ) < 1e-6
    assert 0.0 <= row["auc"] <= 1.0


def test_calibration_bins_matches_plain_python(spark, sf_dir):
    """Recompute the reliability bins from the op's own betas; also
    pin the ECE identity sum(n*gap)/N against per-user p values."""
    import duckdb
    from decimal import Decimal

    from vectordb_agentic_rag_spark.operators.stats.models import (
        _lgn_fit,
        agg_calibration_bins,
    )

    rows = agg_calibration_bins(spark, sf_dir).collect()
    _, betas = _lgn_fit(spark, sf_dir)
    b0, b1, b2 = [float(b) for b in betas[-1]]
    con = duckdb.connect()
    users = con.execute(
        "SELECT CASE WHEN np >= 12 THEN 1 ELSE 0 END,"
        " CAST(nv AS DOUBLE) / 64, CAST(nc AS DOUBLE) / 64 FROM ("
        " SELECT user_id,"
        " sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) np,"
        " sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) nv,"
        " sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) nc"
        f" FROM '{sf_dir}/events.parquet' GROUP BY user_id) g"
    ).fetchall()
    bins = {}
    for y, x1, x2 in users:
        eta = b0 + b1 * x1 + b2 * x2
        p = 0.5 + eta / (2 * (1 + abs(eta)))
        b = int(p * 5)
        n, pos, psum = bins.get(b, (0, 0, Decimal(0)))
        bins[b] = (n + 1, pos + y, psum + _half_up_9(p))
    assert len(rows) == len(bins)
    for r in rows:
        n, pos, psum = bins[r["bin"]]
        assert (r["n_users"], r["n_pos"]) == (n, pos)
        assert abs(r["rate"] - pos / n) < 1e-6
        assert abs(r["mean_p"] - float(psum) / n) < 1e-6
        assert abs(r["gap"] - abs(pos / n - float(psum) / n)) < 2e-6
    # probabilities stay inside the open unit interval by the link
    assert all(0 <= r["bin"] <= 4 for r in rows)


def test_citation_grounding_invariants(spark, sf_dir):
    """Structural invariants of the attribution algebra: per-doc
    support bounds, exclusivity vs coverage accounting, and rank
    monotonicity within each query."""
    from vectordb_agentic_rag_spark.operators.rag import rag_citation_grounding

    rows = rag_citation_grounding(spark, sf_dir).collect()
    assert rows, "no grounding rows — retrieval went vacuous"
    byq = {}
    for r in rows:
        byq.setdefault(r["q_id"], []).append(r)
    for q, rs in byq.items():
        rs = sorted(rs, key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        # rank order follows support (ties by doc_id)
        for a, b in zip(rs, rs[1:]):
            assert (
                a["spans_supported"] > b["spans_supported"]
                or (
                    a["spans_supported"] == b["spans_supported"]
                    and a["doc_id"] < b["doc_id"]
                )
            )
        n_spans = rs[0]["n_spans"]
        covered = rs[0]["covered_any"]
        assert all(r["n_spans"] == n_spans for r in rs)
        assert all(r["covered_any"] == covered for r in rs)
        assert 0 < covered <= n_spans
        assert rs[0]["unsupported"] == n_spans - covered
        for r in rs:
            assert 0 <= r["spans_exclusive"] <= r["spans_supported"]
            assert r["spans_supported"] <= n_spans
        # exclusive spans are disjoint subsets of the covered set
        assert sum(r["spans_exclusive"] for r in rs) <= covered
