#!/usr/bin/env python
"""Regenerate SURVEY.md §2.13 — the mechanical registered-query inventory.

The graded checklist and the registry must not drift (VERDICT r8 ask #8:
the table still said 207/182 from round 4). This prints the replacement
markdown for everything between the `### 2.13` heading and the following
`---` rule; run and paste, or pass --write to splice SURVEY.md in place.
"""

from __future__ import annotations

import re
import sys
from collections import defaultdict

sys.path.insert(0, __import__("os").path.dirname(__import__("os").path.dirname(__import__("os").path.abspath(__file__))))

from real_value_etl_spark.queries import all_queries  # noqa: F401
from real_value_etl_spark.queries.registry import REGISTRY


def build() -> str:
    by_module: dict[str, list[str]] = defaultdict(list)
    rows_only: list[str] = []
    for name, spec in REGISTRY.items():
        mod = sys.modules[spec.fn.__module__].__file__
        mod = "queries/" + mod.rsplit("/queries/", 1)[-1]
        by_module[mod].append(name)
        if spec.oracle is None:
            rows_only.append(name)
    n_total = len(REGISTRY)
    n_oracle = n_total - len(rows_only)
    lines = [
        f"### 2.13 Registered-query inventory (mechanical; all {n_total})",
        "",
        "The complete coverage checklist the driver and judge grade against — every",
        "registered query by module, regenerated each round by",
        "`tools/make_survey_inventory.py` (drift between this table and the live",
        'registry is a build error). "rows-only" marks the single entry whose',
        "output is engine-specific by construction (approx sketches); every other",
        "query carries a DuckDB oracle and is gated by `tests/test_registered_queries.py`",
        "locally plus the driver window per round.",
        "",
        "| module | n | queries |",
        "|---|---|---|",
    ]
    for mod in sorted(by_module):
        qs = sorted(by_module[mod])
        cells = ", ".join(
            f"`{q}`" + (" (rows-only)" if q in rows_only else "") for q in qs
        )
        lines.append(f"| `{mod}` | {len(qs)} | {cells} |")
    lines += [
        "",
        f"Total registered: **{n_total}** ({n_oracle} with oracles,"
        f" {len(rows_only)} rows-only).",
        "",
    ]
    return "\n".join(lines)


def main() -> None:
    out = build()
    if "--write" in sys.argv:
        path = __import__("os").path.join(
            __import__("os").path.dirname(__import__("os").path.dirname(
                __import__("os").path.abspath(__file__))),
            "SURVEY.md",
        )
        text = open(path).read()
        new, n = re.subn(
            r"### 2\.13 .*?(?=\n---\n)", out, text, count=1, flags=re.S
        )
        if n != 1:
            raise SystemExit("SURVEY.md §2.13 block not found")
        open(path, "w").write(new)
        print(f"spliced §2.13 into {path}")
    else:
        print(out)


if __name__ == "__main__":
    main()
