#!/usr/bin/env python
"""Record every registered query's physical-plan exchange counts into
`tests/shuffle_budget.json`.

The plan gate (tests/test_registered_queries.py) asserts each executed
plan's shuffle-`Exchange` and `BroadcastExchange` node counts EQUAL the
checked-in budget, so an unintentional extra shuffle fails the suite
instead of surfacing later as a benchmark delta. Equality, not <=: a
DISAPPEARING shuffle is also a plan change someone should look at.

Run this after a deliberate plan change, eyeball the diff, and commit:

    python tools/make_shuffle_budget.py          # records sf0.001 + sf0.01
    python tools/make_shuffle_budget.py --only q_a,q_b   # merge just these
                                                 # into the existing file

The session config mirrors the test fixture (shuffle_partitions=8) —
plan shapes must be compared under identical configs. Plans are built and
counted by the gate's own `clean_plan` / `count_exchanges`; counts come
from the UNEXECUTED plan string (AdaptiveSparkPlan initial plan), which
is deterministic for a fixed input + config.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests",
    "shuffle_budget.json",
)
SF_DIRS = ("/root/testdata/sf0.001", "/root/testdata/sf0.01")


def main() -> None:
    from real_value_etl_spark.queries.all_queries import REGISTRY
    from real_value_etl_spark.session import get_spark
    from tests.test_registered_queries import clean_plan, count_exchanges

    only: list[str] | None = None
    if "--only" in sys.argv:
        only = sys.argv[sys.argv.index("--only") + 1].split(",")
        missing = [n for n in only if n not in REGISTRY]
        if missing:
            raise SystemExit(f"--only names not registered: {missing}")

    spark = get_spark(app_name="rve-shuffle-budget", shuffle_partitions=8)
    budgets: dict[str, dict[str, dict[str, int]]] = {}
    if only is not None:
        # Incremental merge: keep every other query's pinned counts. Names
        # dropped from the registry are pruned so the file never carries
        # stale rows (tier-1's test_budget_file_matches_registry fails on one).
        with open(OUT) as f:
            budgets = json.load(f)["budgets"]
        for label in budgets:
            budgets[label] = {
                n: c for n, c in budgets[label].items() if n in REGISTRY
            }
    for sf_dir in SF_DIRS:
        label = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
        per_sf = budgets.setdefault(label, {})
        for name in sorted(only if only is not None else REGISTRY):
            per_sf[name] = count_exchanges(clean_plan(spark, REGISTRY[name], sf_dir))
        print(f"# recorded {len(per_sf)} queries at sf{label}", file=sys.stderr)
    with open(OUT, "w") as f:
        json.dump({"shuffle_partitions": 8, "budgets": budgets}, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"# wrote {OUT}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
