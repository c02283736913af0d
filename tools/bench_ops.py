"""Regenerate OPS_BENCH.md: Spark-side wall time for EVERY registered
operator at sf0.1 (warm session, 1 warm-up + median of 3 for fast ops,
single run for ops slower than 5 s).  The headline bench (bench.py)
stays the driver-facing metric; this is the engineering audit that
catches a quietly-regressed operator.

    python tools/bench_ops.py             # all ops -> rewrites OPS_BENCH.md
    python tools/bench_ops.py op1 op2     # subset -> prints only, no rewrite
"""

from __future__ import annotations

import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main(only: list[str] | None = None) -> None:
    from vectordb_agentic_rag_spark import ORACLES, QUERIES, load_all_operators
    from vectordb_agentic_rag_spark.session import get_spark

    load_all_operators()
    if only:
        unknown = [n for n in only if n not in QUERIES]
        if unknown:
            raise SystemExit(f"unknown operator(s): {unknown}")
    spark = get_spark("bench-ops")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = "/root/testdata/sf0.1"

    # global warm-up: touch every fixture once so the first measured op
    # doesn't absorb session-wide scan/codegen setup (agg_approx_distinct
    # once recorded 5.7 s for a 200 ms query this way)
    from vectordb_agentic_rag_spark.tables import TABLES, table

    for t in TABLES:
        table(spark, sf_dir, t).count()

    rows = []
    for name in sorted(only) if only else sorted(QUERIES):
        fn = QUERIES[name]
        t0 = time.perf_counter()
        n = fn(spark, sf_dir).count()
        warm = time.perf_counter() - t0
        if warm > 5.0:
            # too slow for median-of-3: one warm repeat, report the
            # better run (the cold one absorbs predecessor GC/load)
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            med = min(warm, time.perf_counter() - t0)
            runs = 2
        else:
            samples = []
            for _ in range(3):
                t0 = time.perf_counter()
                fn(spark, sf_dir).count()
                samples.append(time.perf_counter() - t0)
            med = statistics.median(samples)
            runs = 3
        rows.append((name, med, n, runs))
        print(f"{name}: {med*1000:.0f} ms ({n} rows)")

    total = sum(r[1] for r in rows)
    if only:
        # subset runs are for iteration — never rewrite the full audit
        return
    out = [
        "# Per-operator Spark timings (generated by tools/bench_ops.py)",
        "",
        f"sf0.1, local[32], warm session; {len(rows)} operators, "
        f"total {total:.1f} s. Median of 3 runs (best of 2 where the",
        "warm-up exceeded 5 s). Spark side only — oracle cost excluded.",
        "",
        "| operator | ms | rows | runs | oracle |",
        "|---|---:|---:|---:|---|",
    ]
    for name, med, n, runs in rows:
        kind = "sql" if name in ORACLES else "rows-only"
        out.append(f"| {name} | {med*1000:.0f} | {n} | {runs} | {kind} |")
    with open(os.path.join(REPO, "OPS_BENCH.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote OPS_BENCH.md ({len(rows)} ops, {total:.1f} s total)")


if __name__ == "__main__":
    main(sys.argv[1:] or None)
