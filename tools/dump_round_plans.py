"""Capture .explain('formatted') output for one optimisation round into
plans/<round>/<name>_<tag>.txt (tag = before|after).

    python tools/dump_round_plans.py r15 before [names...]
    python tools/dump_round_plans.py r15 after  [names...]

Default names = the five headline bench queries (bench.py HEADLINE
values). Plan claims in OPTIMIZATION_<round>.md are checked against
these files.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    rnd = sys.argv[1]
    tag = sys.argv[2] if len(sys.argv) > 2 else "before"
    # default = the five headline bench ops, imported from bench.py so
    # this tool cannot drift from what the bench actually times
    from bench import HEADLINE

    names = sys.argv[3:] or list(HEADLINE.values())

    from vectordb_agentic_rag_spark import QUERIES, load_all_operators
    from vectordb_agentic_rag_spark.session import get_spark

    load_all_operators()
    spark = get_spark(f"dump-plans-{rnd}")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    out_dir = os.path.join(REPO, "plans", rnd)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")


if __name__ == "__main__":
    main()
