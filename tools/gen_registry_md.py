#!/usr/bin/env python
"""Generate REGISTRY.md — the audit index of every registered query:
id → defining file::function → oracled? → bench-headline? → exchange budget.

Run:  python tools/gen_registry_md.py          # rewrite REGISTRY.md
The CI gate (tests/test_registry_md.py) regenerates the table in
memory and fails if the committed file is stale.
"""

from __future__ import annotations

import inspect
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))


def build_registry_md() -> str:
    import bench
    from sparkifydb_datawarehouse_spark import registry
    from test_plan_budgets import EXCHANGE_BUDGETS  # type: ignore[import-not-found]

    registry.load_all_modules()
    headline = set(bench.HEADLINE)

    rows = []
    for qid in sorted(registry.QUERIES):
        fn = registry.QUERIES[qid]
        src = inspect.unwrap(fn)
        path = os.path.relpath(inspect.getsourcefile(src), REPO)
        budget = EXCHANGE_BUDGETS.get(qid)
        rows.append(
            (
                qid,
                f"`{path}::{src.__qualname__}`",
                "oracle" if qid in registry.ORACLE else "rows-only",
                "yes" if qid in headline else "",
                str(budget) if budget is not None else "",
            )
        )

    n_oracled = sum(1 for r in rows if r[2] == "oracle")
    lines = [
        "# Query registry index",
        "",
        "GENERATED — do not edit by hand. Regenerate with",
        "`python tools/gen_registry_md.py`; `tests/test_registry_md.py`",
        "fails when this file is stale.",
        "",
        f"{len(rows)} registered queries — {n_oracled} DuckDB-oracled, "
        f"{len(rows) - n_oracled} rows-only (documented nondeterminism), "
        f"{sum(1 for r in rows if r[3])} bench-headline, "
        f"{sum(1 for r in rows if r[4])} with a pinned exchange budget.",
        "",
        "| query id | defined at | check | headline | exchange budget |",
        "|---|---|---|---|---|",
    ]
    for r in rows:
        lines.append("| " + " | ".join(r) + " |")
    return "\n".join(lines) + "\n"


if __name__ == "__main__":
    out = os.path.join(REPO, "REGISTRY.md")
    content = build_registry_md()
    with open(out, "w") as fh:
        fh.write(content)
    print(f"wrote {out}: {content.count(chr(10))} lines")
