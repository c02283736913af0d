"""Pytests for round-13 analytics ops — plain-Python recomputes
(round-9 rule: hash parity can't catch logic mirrored into both
engines)."""

import duckdb
import pytest

K = 256
P = 2147483647


def _h(key: int) -> int:
    x = key + 1
    for _ in range(3):
        x = (x * 48271) % P
    return x + 1


def _kmv_est(kept: list[int]) -> float:
    if len(kept) == K:
        return (K - 1) * P / max(kept)
    return float(len(kept))


def _user_day_sets(sf: str):
    con = duckdb.connect()
    rows = con.execute(
        f"""
        SELECT DISTINCT event_type,
               user_id * 32
               + date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
        FROM '/root/testdata/{sf}/events.parquet'
        WHERE event_type IN ('purchase', 'click')
        """
    ).fetchall()
    a = {int(k) for t, k in rows if t == "purchase"}
    b = {int(k) for t, k in rows if t == "click"}
    return a, b


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_kmv_oracle_matches_plain_python(sf: str):
    from vectordb_agentic_rag_spark import registry

    registry.load_all_operators()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"'/root/testdata/{sf}/events.parquet'"
    )
    got = {
        r[0]: r
        for r in con.execute(
            registry.ORACLES["agg_theta_sketch_distinct_union"]
        ).fetchall()
    }
    a, b = _user_day_sets(sf)
    ka = sorted(_h(k) for k in a)[:K]
    kb = sorted(_h(k) for k in b)[:K]
    ku = sorted(set(ka) | set(kb))[:K]
    sa, sb = set(ka), set(kb)
    c = sum(1 for h in ku if h in sa and h in sb)
    assert int(got["purchase"][1]) == len(ka)
    assert int(got["click"][1]) == len(kb)
    assert got["purchase"][4] == len(a)
    assert got["click"][4] == len(b)
    assert got["union"][4] == len(a | b)
    assert got["intersection"][4] == len(a & b)
    assert abs(got["purchase"][3] - round(_kmv_est(ka), 6)) < 1e-9
    assert abs(got["union"][3] - round(_kmv_est(ku), 6)) < 1e-9
    if len(ku) == K:
        est_i = c * (K - 1) * P / max(ku) / K
    else:
        est_i = float(c)
    assert abs(got["intersection"][3] - round(est_i, 6)) < 1e-6


def test_kmv_union_merge_equals_sketch_of_union():
    """The mergeability theorem the op's 100 TB story rests on: the
    union sketch built from the two KEPT sets equals the sketch of
    the raw union — for both the full and non-full regimes."""
    a, b = _user_day_sets("sf0.01")
    ka = sorted(_h(k) for k in a)[:K]
    kb = sorted(_h(k) for k in b)[:K]
    merged = sorted(set(ka) | set(kb))[:K]
    scratch = sorted({_h(k) for k in a | b})[:K]
    assert merged == scratch
    # non-full regime at sf0.001
    a2, b2 = _user_day_sets("sf0.001")
    m2 = sorted({_h(k) for k in a2} | {_h(k) for k in b2})[:K]
    s2 = sorted({_h(k) for k in a2 | b2})[:K]
    assert m2 == s2


def test_maxsim_oracle_matches_numpy_recompute():
    """rag_multi_vector_maxsim vs an independent numpy late-interaction
    recompute (4 x 16-dim slices, per-slice max sub-cosine, sum)."""
    import numpy as np

    from vectordb_agentic_rag_spark.operators.rag import _maxsim_oracle

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        "'/root/testdata/sf0.01/embeddings.parquet'"
    )
    got = con.execute(_maxsim_oracle()).fetchall()
    rows = con.execute(
        "SELECT vec_id, embedding FROM embeddings ORDER BY vec_id"
    ).fetchall()
    emb = {int(v): np.array(e, dtype=np.float64) for v, e in rows}
    q_ids = [v for v in emb if v < 10]
    c_ids = [v for v in emb if v >= 10]

    def slices(x):
        return x.reshape(4, 16)

    expect = {}
    for qi in q_ids:
        qs = slices(emb[qi])
        scores = []
        for ci in c_ids:
            cs = slices(emb[ci])
            m = 0.0
            for i in range(4):
                best = max(
                    round(
                        float(qs[i] @ cs[j])
                        / (
                            np.sqrt(float(qs[i] @ qs[i]))
                            * np.sqrt(float(cs[j] @ cs[j]))
                        ),
                        6,
                    )
                    for j in range(4)
                )
                m += best
            scores.append((round(m, 6), ci))
        scores.sort(key=lambda t: (-t[0], t[1]))
        expect[qi] = scores[:5]
    for query_id, rn, neighbor_id, maxsim in got:
        e_score, e_id = expect[int(query_id)][int(rn) - 1]
        assert int(neighbor_id) == e_id, (query_id, rn)
        assert abs(maxsim - e_score) < 2e-6, (query_id, rn)
