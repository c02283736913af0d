"""Accuracy bound for the no-oracle sketch operator (SURVEY §5 rule:
rows-only ops get targeted assertions instead of a DuckDB twin)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vectordb_agentic_rag_spark import QUERIES, load_all_operators
from vectordb_agentic_rag_spark.tables import table

load_all_operators()


def test_hll_estimates_within_tolerance(spark, sf_dir):
    out = {
        (r["day"]): r["est_users"]
        for r in QUERIES["agg_hll_sketch_merge"](spark, sf_dir).collect()
    }
    ev = table(spark, sf_dir, "events")
    exact_total = ev.select(F.countDistinct("user_id")).first()[0]
    exact_daily = {
        r["day"]: r["n"]
        for r in ev.groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    # lgConfigK=14 -> relative standard error ~0.8%; allow 5%
    assert abs(out[None] - exact_total) / exact_total < 0.05
    for day, exact in exact_daily.items():
        assert abs(out[day] - exact) / exact < 0.05, day
    # union estimate must not be below any single day's estimate
    assert out[None] >= max(v for k, v in out.items() if k is not None) * 0.99


# ------------------------------------------------- KLL compactor (pure)


def test_kll_compactor_weight_conservation_and_rank_error():
    """Property: for any input stream, the compactor's total weight
    equals the input count, and the weighted-CDF quantile estimates
    stay within the deterministic-compaction rank-error bound."""
    import numpy as np
    import pandas as pd

    hypothesis = pytest.importorskip("hypothesis")
    given, settings = hypothesis.given, hypothesis.settings
    st = pytest.importorskip("hypothesis.strategies")

    from vectordb_agentic_rag_spark.operators.stats.sketches import (
        _kll_partition_summary,
    )

    @settings(max_examples=25, deadline=None)
    @given(
        st.lists(
            st.floats(
                min_value=-1e6, max_value=1e6,
                allow_nan=False, allow_infinity=False,
            ),
            min_size=1,
            max_size=5000,
        )
    )
    def prop(xs):
        pdf = pd.DataFrame({"value": xs})
        (summary,) = list(_kll_partition_summary([pdf]))
        assert summary["w"].sum() == len(xs)
        # weighted median vs true median rank error
        s = summary.sort_values("v")
        cw = s["w"].cumsum().to_numpy()
        tw = cw[-1]
        est = s["v"].to_numpy()[np.searchsorted(cw, 0.5 * tw)]
        # with ties/tiny n the estimate covers a rank INTERVAL —
        # the target quantile must fall within it, +- the bound
        rank_lo = np.mean(np.asarray(xs) < est)
        rank_hi = np.mean(np.asarray(xs) <= est)
        assert rank_lo - 0.1 <= 0.5 <= rank_hi + 0.1

    prop()
