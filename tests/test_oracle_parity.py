"""Every registered query with an oracle must hash-match DuckDB under the
`oracle_compare` gate; a query without one must run and have columns. Runs
at sf0.001 by default (SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 for
the driver-scale check). The check is in tests/test_registered_queries.py.
"""

from __future__ import annotations

import pytest

from real_value_etl_spark.queries.all_queries import REGISTRY

from .test_registered_queries import checked_query

ORACLE_QUERIES = sorted(n for n, s in REGISTRY.items() if s.oracle)
ROWS_ONLY_QUERIES = sorted(n for n, s in REGISTRY.items() if not s.oracle)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_parity(spark, sf_dir, duck, name):
    problems = checked_query(spark, sf_dir, duck, name)["parity"]
    assert not problems, "\n".join(problems)


@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only_runs(spark, sf_dir, duck, name):
    problems = checked_query(spark, sf_dir, duck, name)["parity"]
    assert not problems, "\n".join(problems)
