"""Recompute pytests for the round-12 analytics wave — plain-Python
re-derivations from raw parquet, independent of both engines."""

import math
from collections import Counter, defaultdict
from itertools import combinations

import pandas as pd


def test_random_walk_matches_python_walk(spark, sf_dir):
    from vectordb_agentic_rag_spark.operators.graph import (
        _RW_SEEDS,
        _RW_STEPS,
        graph_random_walk_sample,
    )

    out = [
        (int(r.seed), int(r.step), int(r.node))
        for r in graph_random_walk_sample(spark, sf_dir).collect()
    ]

    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")[
        ["l_orderkey", "l_partkey"]
    ].drop_duplicates()
    pairs = Counter()
    for _, grp in li.groupby("l_orderkey"):
        for u, v in combinations(sorted(set(grp["l_partkey"])), 2):
            pairs[(u, v)] += 1
    adj = defaultdict(list)
    for (u, v), ns in pairs.items():
        if ns >= 2:
            adj[int(u)].append(int(v))
            adj[int(v)].append(int(u))
    for u in adj:
        adj[u].sort()
    seeds = sorted(adj, key=lambda u: (-len(adj[u]), u))[:_RW_SEEDS]
    exp = []
    for s in seeds:
        node = s
        exp.append((s, 0, s))
        for t in range(1, _RW_STEPS + 1):
            nbrs = adj[node]
            idx = (s * 7919 + t * 104729 + node * 131) % 1000003 % len(nbrs)
            node = nbrs[idx]
            exp.append((s, t, node))
    assert sorted(out) == sorted(exp)
    # every walk completes: symmetrized graph has no dead ends
    assert len(out) == len(seeds) * (_RW_STEPS + 1)


def test_hard_negatives_match_python_bm25(spark, sf_dir):
    from vectordb_agentic_rag_spark.operators.rag import (
        _HN_TOPK,
        rag_hard_negative_mining,
    )
    from vectordb_agentic_rag_spark.operators.rag import (
        _BM25_B,
        _BM25_K1,
        _KEYWORDS,
        _THRESHOLD,
    )

    out = [
        (int(r.doc_id), r.bm25_score, int(r.kw_matches))
        for r in rag_hard_negative_mining(spark, sf_dir).collect()
    ]

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")[
        ["doc_id", "text"]
    ]
    toks = {
        int(r.doc_id): r.text.split(" ") for r in docs.itertuples()
    }
    n_docs = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n_docs
    df = {
        kw: sum(1 for t in toks.values() if kw in t) for kw in _KEYWORDS
    }
    scored = []
    for doc_id, t in toks.items():
        dl = len(t)
        s = 0.0
        cnt = Counter(t)
        for kw in _KEYWORDS:
            idf = math.log(
                1 + (n_docs - df[kw] + 0.5) / (df[kw] + 0.5)
            )
            f = cnt[kw]
            s += (
                idf
                * (f * (_BM25_K1 + 1))
                / (f + _BM25_K1 * (1 - _BM25_B + _BM25_B * dl / avgdl))
            )
        text = docs.loc[docs.doc_id == doc_id, "text"].iloc[0].lower()
        matches = sum(1 for kw in _KEYWORDS if kw in text)
        if matches < _THRESHOLD:
            scored.append((doc_id, round(s, 6), matches))
    scored.sort(key=lambda x: (-x[1], x[0]))
    exp = scored[:_HN_TOPK]
    assert out == exp
    for _, _, m in out:
        assert m < _THRESHOLD  # every mined negative fails the gate


def test_personalized_pagerank_matches_python_iteration(spark, sf_dir):
    from vectordb_agentic_rag_spark.operators.graph import (
        _PPR_ITERS,
        _PPR_TOPK,
        graph_personalized_pagerank,
    )

    out = [
        (int(r.seed), int(r.node), r.ppr)
        for r in graph_personalized_pagerank(spark, sf_dir).collect()
    ]

    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")[
        ["l_orderkey", "l_partkey"]
    ].drop_duplicates()
    pairs = Counter()
    for _, grp in li.groupby("l_orderkey"):
        for u, v in combinations(sorted(set(grp["l_partkey"])), 2):
            pairs[(u, v)] += 1
    adj = defaultdict(list)
    for (u, v), ns in pairs.items():
        if ns >= 2:
            adj[int(u)].append(int(v))
            adj[int(v)].append(int(u))
    seed = min(adj, key=lambda u: (-len(adj[u]), u))
    r = {n: (1.0 if n == seed else 0.0) for n in adj}
    for _ in range(_PPR_ITERS):
        mass = defaultdict(float)
        for u, nbrs in adj.items():
            if r[u]:
                c = r[u] / len(nbrs)
                for v in nbrs:
                    mass[v] += c
        r = {
            n: round((0.5 if n == seed else 0.0) + 0.5 * mass.get(n, 0.0), 9)
            for n in adj
        }
    exp = sorted(r.items(), key=lambda kv: (-kv[1], kv[0]))[:_PPR_TOPK]
    exp = [(seed, n, round(v, 6)) for n, v in exp]
    assert out == exp
    # proximity sanity: the seed itself carries the restart mass
    assert out[0][1] == seed


def test_zip_archive_roundtrip_and_crc_guard():
    import zipfile
    import zlib

    from vectordb_agentic_rag_spark.operators.binformats import (
        build_archive,
        parse_archive,
    )

    text = "alpha beta gamma delta epsilon zeta"
    m = parse_archive(build_archive(42, text))
    assert m["n_entries"] == 3
    assert m["doc_text"] == text
    assert m["total_uncompressed"] == len(text) + len(text) // 2 + 8 + 2
    # corrupt a byte inside the archive: the CRC check on read raises
    raw = bytearray(build_archive(42, text))
    # flip a byte in the first local entry's deflated body (after the
    # 30-byte local header + name)
    raw[30 + len("doc.txt") + 3] ^= 0xFF
    try:
        parse_archive(bytes(raw))
    except (zipfile.BadZipFile, zlib.error):
        pass
    else:
        raise AssertionError("corrupt entry did not raise")


def test_parquet_footer_stats_match_pyarrow_recompute(spark, sf_dir):
    import pyarrow.parquet as pq

    from vectordb_agentic_rag_spark.operators.maintenance import (
        _FOOTER_COLS,
        maintenance_parquet_footer_stats,
    )

    out = {
        (r.table_name, r.column_name): r
        for r in maintenance_parquet_footer_stats(spark, sf_dir).collect()
    }
    assert len(out) == len(_FOOTER_COLS)
    for t, c in _FOOTER_COLS:
        r = out[(t, c)]
        pf = pq.ParquetFile(f"{sf_dir}/{t}.parquet")
        col = pd.read_parquet(f"{sf_dir}/{t}.parquet", columns=[c])[c]
        assert r.n_rows == len(col)
        assert r.data_min == int(col.min())
        assert r.data_max == int(col.max())
        assert r.stats_exact == 1  # the fixture writer produced
        # trustworthy footer stats; a broken parse would break this
        assert r.footer_min == r.data_min
        assert r.footer_max == r.data_max
        assert pf.metadata.num_row_groups >= 1


def test_stats_merge_equals_direct_and_pandas(spark, sf_dir):
    from vectordb_agentic_rag_spark.operators.maintenance import (
        maintenance_incremental_stats_merge,
    )

    r = maintenance_incremental_stats_merge(spark, sf_dir).collect()[0]
    assert r.all_match == 1
    o = pd.read_parquet(f"{sf_dir}/orders.parquet")[
        ["o_orderdate", "o_totalprice"]
    ]
    c = (o["o_totalprice"] * 100 + 0.5).astype("int64")
    assert r.n_rows == len(o)
    assert r.sum_cents == int(c.sum())
    assert int(r.sum_sq_cents) == int((c.astype(object) ** 2).sum())
    assert r.min_cents == int(c.min())
    assert r.max_cents == int(c.max())
    months = o["o_orderdate"].astype("datetime64[ns]").dt.to_period("M")
    assert r.n_partitions == months.nunique()


def test_node2vec_walks_match_python_second_order(spark, sf_dir):
    from vectordb_agentic_rag_spark.operators.graph import (
        _N2V_SEEDS,
        _N2V_STEPS,
        graph_node2vec_biased_walks,
    )

    out = [
        (int(r.seed), int(r.step), int(r.node))
        for r in graph_node2vec_biased_walks(spark, sf_dir).collect()
    ]

    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")[
        ["l_orderkey", "l_partkey"]
    ].drop_duplicates()
    pairs = Counter()
    for _, grp in li.groupby("l_orderkey"):
        for u, v in combinations(sorted(set(grp["l_partkey"])), 2):
            pairs[(u, v)] += 1
    adj = defaultdict(set)
    for (u, v), ns in pairs.items():
        if ns >= 2:
            adj[int(u)].add(int(v))
            adj[int(v)].add(int(u))
    seeds = sorted(adj, key=lambda u: (-len(adj[u]), u))[:_N2V_SEEDS]
    exp = []
    for s in seeds:
        prev, cur = s, s
        exp.append((s, 0, s))
        for t in range(1, _N2V_STEPS + 1):
            cands = sorted(adj[cur])
            ws = [
                1 if x == prev else (2 if x in adj[prev] else 1)
                for x in cands
            ]
            tot = sum(ws)
            r = (s * 7919 + t * 104729 + cur * 131 + prev * 17) % 1000003 % tot
            cum = 0
            for x, w in zip(cands, ws):
                if cum <= r < cum + w:
                    nxt = x
                    break
                cum += w
            prev, cur = cur, nxt
            exp.append((s, t, cur))
    assert sorted(out) == sorted(exp)
    assert len(out) == len(seeds) * (_N2V_STEPS + 1)
