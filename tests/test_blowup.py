"""Consistency checks for the sf1x synthetic blow-up builder
(tools/scale_experiment.build_synth): dimension keys must shift with
their lineitem FKs, or co-occurrence supports multiply by the copy
count and graph ops measure a density artifact instead of scaling
(the round-7 graph_adamic_adar 88 s lesson)."""

from __future__ import annotations

import os

import pytest

from vectordb_agentic_rag_spark.tables import SCRATCH

SYNTH = os.path.join(SCRATCH, "sf1x")

pytestmark = pytest.mark.skipif(
    not os.path.exists(f"{SYNTH}/lineitem.parquet"),
    reason="sf1x blow-up not built (tools/scale_experiment.py builds it)",
)


def test_dimension_keys_shift_with_fks():
    import duckdb

    con = duckdb.connect()
    li = f"{SYNTH}/lineitem.parquet/*.parquet"
    pt = f"{SYNTH}/part.parquet/*.parquet"
    sp = f"{SYNTH}/supplier.parquet/*.parquet"
    # every lineitem FK resolves in the blown-up dimension (copy i of
    # lineitem joins copy i of part/supplier)
    orphans = con.execute(
        f"""SELECT count(*) FROM read_parquet('{li}') l
            LEFT JOIN read_parquet('{pt}') p ON l.l_partkey = p.p_partkey
            WHERE p.p_partkey IS NULL"""
    ).fetchone()[0]
    assert orphans == 0
    orphans = con.execute(
        f"""SELECT count(*) FROM read_parquet('{li}') l
            LEFT JOIN read_parquet('{sp}') s ON l.l_suppkey = s.s_suppkey
            WHERE s.s_suppkey IS NULL"""
    ).fetchone()[0]
    assert orphans == 0
    # cardinality scales with volume: 10 copies -> 10x distinct keys
    n_parts = con.execute(
        f"SELECT count(DISTINCT p_partkey) FROM read_parquet('{pt}')"
    ).fetchone()[0]
    n_src = con.execute(
        "SELECT count(*) FROM read_parquet('/root/testdata/sf0.1/part.parquet')"
    ).fetchone()[0]
    assert n_parts == 10 * n_src


def test_copurchase_support_not_inflated():
    import duckdb

    con = duckdb.connect()
    li = f"{SYNTH}/lineitem.parquet/*.parquet"
    # per-pair max shared-order support must stay at the sf0.1 level
    # (unshifted dims multiplied every support by the copy count)
    mx = con.execute(
        f"""WITH os AS (SELECT DISTINCT l_orderkey, l_partkey
                        FROM read_parquet('{li}')),
            e AS (SELECT count(*) AS c FROM os a JOIN os b
                  ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey
                  GROUP BY a.l_partkey, b.l_partkey)
            SELECT max(c) FROM e"""
    ).fetchone()[0]
    mx_src = con.execute(
        """WITH os AS (SELECT DISTINCT l_orderkey, l_partkey
                FROM read_parquet('/root/testdata/sf0.1/lineitem.parquet')),
           e AS (SELECT count(*) AS c FROM os a JOIN os b
                 ON a.l_orderkey = b.l_orderkey
                AND a.l_partkey < b.l_partkey
                 GROUP BY a.l_partkey, b.l_partkey)
           SELECT max(c) FROM e"""
    ).fetchone()[0]
    assert mx == mx_src
