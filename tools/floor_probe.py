"""Measure this machine's per-action latency floor — the fixed cost ANY
Spark query pays regardless of data size — and print it next to the
cheapest headline query. Prints ONE JSON line.

Rationale (see bench.py docstring): below ~40 ms a per-query bench
reading measures Spark's per-action machinery (QueryExecution + job
scheduling + result serve), not the operator. This probe makes that
floor reproducible: `range(1)` runs the empty-est possible plan, so
its fetch time IS the floor; a query within ~1-2 ms of it has no
data-proportional cost left to optimize at this scale.

    python tools/floor_probe.py
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _median_ms(fn, warm: int = 5, runs: int = 11) -> float:
    for _ in range(warm):
        fn()
    samples = []
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        samples.append(time.perf_counter() - t0)
    return round(statistics.median(samples) * 1000, 1)


def main() -> None:
    from vectordb_agentic_rag_spark import QUERIES, load_all_operators
    from vectordb_agentic_rag_spark.session import get_spark
    from vectordb_agentic_rag_spark.tables import cache_hot_tables

    load_all_operators()
    spark = get_spark("floor-probe")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = "/root/testdata/sf0.1"
    cache_hot_tables(spark, sf_dir, ["embeddings"])

    one = spark.range(1)
    topk = QUERIES["vec_cosine_topk"](spark, sf_dir)
    out = {
        "floor_range1_arrow_ms": _median_ms(one.toPandas),
        "floor_range1_pickle_ms": _median_ms(one.collect),
        "floor_range1_jvm_only_ms": _median_ms(one._jdf.collectToPython),
        "py4j_roundtrip_ms": round(
            _median_ms(spark._jsparkSession.version, warm=10, runs=31), 3
        ),
        "topk_cosine_prepared_arrow_ms": _median_ms(topk.toPandas),
        "note": "prepared-plan medians, warmed session; a query within "
        "~1-2 ms of floor_range1_arrow_ms is floor-bound, not "
        "operator-bound",
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
