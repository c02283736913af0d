"""Single-partition-window audit (round-10 verdict item 6): build every
registered op's DataFrame and report each UNPARTITIONED window spec —
the plan shape that single-partition-sorts its input.  Each hit must
then be classified: bounded-domain-safe (the window's input cardinality
is a constant or a fixture-bounded domain — document in the docstring)
vs fact-scaled (grows with a fact-table key — fix like
agg_qini_uplift_curve's two-level prefix sum).

A windowspecdefinition lists PARTITION columns first (bare), then ORDER
columns (marked ASC/DESC) — a spec whose first element carries an
ASC/DESC marker has an empty partition spec.

Usage: python tools/window_audit.py [op ...]   (default: all ops)
Writes WINDOW_AUDIT.json at the repo root.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from vectordb_agentic_rag_spark.registry import (  # noqa: E402
    QUERIES,
    load_all_operators,
)
from vectordb_agentic_rag_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"


def unpartitioned_specs(plan: str) -> list[str]:
    out = []
    for m in re.finditer(r"windowspecdefinition\((.*?)specifiedwindowframe", plan):
        head = m.group(1).rstrip(", ")
        if not head:
            continue
        first = head.split(", ")[0]
        if " ASC" in first or " DESC" in first:
            # strip expr ids for a stable signature
            out.append(re.sub(r"#\d+L?", "", head))
    return sorted(set(out))


def main() -> None:
    load_all_operators()
    spark = get_spark()
    names = sys.argv[1:] or list(QUERIES)
    results: dict[str, dict] = {}
    for i, name in enumerate(names):
        t0 = time.time()
        try:
            df = QUERIES[name](spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            specs = unpartitioned_specs(plan)
            if specs:
                results[name] = {
                    "unpartitioned": specs,
                    "build_s": round(time.time() - t0, 1),
                }
        except Exception as e:  # noqa: BLE001 — audit must not abort
            results[name] = {"error": str(e)[:200]}
        print(f"[{i + 1}/{len(names)}] {name}: "
              f"{len(results.get(name, {}).get('unpartitioned', []))} hits",
              flush=True)
    out_path = os.path.join(REPO, "WINDOW_AUDIT.json")
    if len(sys.argv) > 1:  # subset run: MERGE into the full audit,
        # never clobber it (cost one restore in round 11)
        try:
            with open(out_path) as f:
                merged = json.load(f)
        except (OSError, ValueError):
            merged = {}
        for name in names:  # an op re-audited CLEAN must drop its
            merged.pop(name, None)  # stale hit/error record
        merged.update(results)
        results = merged
    with open(out_path, "w") as f:
        json.dump(results, f, indent=1, sort_keys=True)
    hits = [n for n, r in results.items() if r.get("unpartitioned")]
    errs = [n for n, r in results.items() if "error" in r]
    print(f"\n{len(hits)} ops with unpartitioned windows, {len(errs)} errors")
    for n in hits:
        print(" ", n, "->", results[n]["unpartitioned"])


if __name__ == "__main__":
    main()
