"""The plan gate (a)-(e) on every registered query; the rules, waivers and
budgets are in tests/test_registered_queries.py."""

from __future__ import annotations

import pytest

from real_value_etl_spark.queries.all_queries import REGISTRY

from .test_registered_queries import checked_query


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_plan_gate(spark, sf_dir, duck, name):
    problems = checked_query(spark, sf_dir, duck, name)["plan"]
    assert not problems, "\n".join(problems)
