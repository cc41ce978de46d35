"""Warm requests reuse generated code (session.CODEGEN_CACHE_ENTRIES).

Spark keeps whole-stage-codegen classes in one JVM-wide LRU cache. At its
default size (100 entries) a repeated request cycle whose plans compile
more classes than that evicts each class before its next use, so every
warm request pays Janino compiles again. The engine session sizes the
cache for the whole query catalogue: a second pass over a fixed request
cycle must compile nothing.
"""

from __future__ import annotations

from real_value_etl_spark.api import handle_run_query

# Interactive read traffic over the TPC-H-shaped tables and `events`: one
# pass compiles more than 100 distinct classes at sf0.001.
QUERY_MIX = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q6_forecast_revenue", "q17_small_quantity", "q_top_customers",
    "q_window_order_rank", "q_rollup_returnflag", "q_ship_lag",
    "events_sessionize", "events_tumbling_agg", "asof_purchase_login",
)


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run_cycle(spark, sf_dir: str) -> int:
    before = _compiles(spark)
    for name in QUERY_MIX:
        out = handle_run_query(spark, name, sf_dir)
        assert out["status"] == "success", out
    return _compiles(spark) - before


def test_second_pass_compiles_nothing(spark, sf_dir):
    first = _run_cycle(spark, sf_dir)
    second = _run_cycle(spark, sf_dir)
    assert second == 0, f"warm pass recompiled {second} classes (first pass: {first})"
