"""Regenerate SURVEY.md §8's per-category operator inventory from the
registry, so the machine-checkable contract surface can never drift
from the code again (round-8 verdict: the hand-maintained lists
undercounted by ~100 ops). Rewrites the block between the BEGIN/END
GENERATED OPERATOR INVENTORY markers in place."""

from __future__ import annotations

import collections
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BEGIN = "<!-- BEGIN GENERATED OPERATOR INVENTORY (tools/gen_survey_inventory.py) -->"
END = "<!-- END GENERATED OPERATOR INVENTORY -->"


def render() -> str:
    from vectordb_agentic_rag_spark import registry

    registry.load_all_operators()
    cats: dict[str, list[str]] = collections.defaultdict(list)
    for n in registry.QUERIES:
        cats[n.split("_", 1)[0]].append(n)
    lines = [BEGIN, ""]
    lines.append(
        f"**{len(registry.QUERIES)} registered operators** by category "
        "(generated from `registry.QUERIES`; regenerate with "
        "`python tools/gen_survey_inventory.py` after any registration "
        "change):"
    )
    lines.append("")
    for cat in sorted(cats):
        ops = ", ".join(f"`{n}`" for n in sorted(cats[cat]))
        lines.append(f"- **{cat}** ({len(cats[cat])}): {ops}")
    rows_only = sorted(n for n in registry.QUERIES if n not in registry.ORACLES)
    lines.append("")
    lines.append(
        f"Rows-only ({len(rows_only)}, non-SQL-expressible by design — "
        "trained-model ANN, partition-dependent sketches, measured-latency "
        "tables; each carries in-plan error/recall asserts and targeted "
        "pytests instead): " + ", ".join(f"`{n}`" for n in rows_only)
    )
    lines.append("")
    lines.append(END)
    return "\n".join(lines)


def main() -> None:
    path = os.path.join(REPO, "SURVEY.md")
    text = open(path).read()
    block = render()
    if BEGIN in text:
        pre, rest = text.split(BEGIN, 1)
        _, post = rest.split(END, 1)
        text = pre + block + post
    else:
        raise SystemExit(
            "markers not found in SURVEY.md — splice them in once by hand"
        )
    open(path, "w").write(text)
    print("SURVEY.md inventory regenerated:", block.count("\n"), "lines")


if __name__ == "__main__":
    main()
