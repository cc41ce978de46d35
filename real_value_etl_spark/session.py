"""SparkSession factory for the engine.

Design notes (scale-first):
- UTC session timezone: the reference strips timezones and floors to seconds
  (reference src/etl/transformation.py:68-88); naive-UTC semantics everywhere
  keeps timestamp comparisons deterministic across executors.
- AQE on: runtime coalescing of shuffle partitions + skew-join splitting are
  the first line of defense at 100 TB (skewed listing/platform keys).
- Arrow on: every Pandas UDF / toPandas crossing is Arrow-batched.
- shuffle.partitions defaults to 32 (`DEFAULT_SHUFFLE_PARTITIONS`; the
  `SPARK_GRAFT_SHUFFLE` environment variable overrides it), whatever the
  core count; on a real cluster this is overridden per job (target
  ~128-256 MB per shuffle partition).
- Codegen class cache sized to the query catalogue
  (`CODEGEN_CACHE_ENTRIES`): an engine serves the same plans over and over,
  so a warm request should find its whole-stage-codegen classes already
  compiled. At Spark's default of 100 entries a repeated request mix
  evicts each class before its next use and pays Janino plus JIT warm-up
  again on every request.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
# Whole-stage-codegen classes kept by Spark's JVM-wide LRU cache (default
# 100). Measured at sf0.001: the 12-query interactive mix compiles 150
# classes per cycle, so at 100 a second cycle recompiled 124 of them; one
# pass over all 355 registered queries compiles 5327 distinct classes
# (about 2.7 KB of bytecode per generated class), and a second pass adds
# 263 whose source differs from run to run. Guava splits the limit over 4
# independently evicting segments, so the catalogue plus one pass's churn
# (about 5600) gets the next power of two. Holding it costs little
# Metaspace: 267 MB after one pass against 242 MB at the default.
CODEGEN_CACHE_ENTRIES = 8192


def get_spark(
    app_name: str = "real-value-etl-spark",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the singleton SparkSession with engine defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Even with the UI off, AppStatusListener/SQLAppStatusListener
        # retain per-job/stage/execution data (including FULL plan
        # strings) up to these caps. A long-lived engine session running
        # iterative operators (pagerank/kmeans/BPE driver loops emit
        # dozens of executions each, some with large plans) accumulates
        # hundreds of MB of dead listener state at the defaults
        # (1000 executions / 1000 jobs), taxing every later query's GC —
        # measured ~15-40% slowdown on late-session heavy queries in the
        # cache-honest bench. An engine is not a debugging UI: keep a
        # small diagnostic window.
        .config("spark.sql.ui.retainedExecutions", "16")
        .config("spark.ui.retainedJobs", "100")
        .config("spark.ui.retainedStages", "200")
        .config("spark.ui.retainedTasks", "2000")
        .config("spark.ui.retainedDeadExecutors", "10")
        # Per-Column-op call-site capture costs 2-3 extra Py4J round trips
        # per expression — ~half of all plan-CONSTRUCTION time for the
        # 50-column ETL plans (profiled: 14.7k round trips, 2.5s, to build
        # one pipeline plan). An engine favors build throughput over
        # call-site-enriched error messages; stack traces still work.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # events.parquet stores TIMESTAMP(NANOS) which Spark refuses by
        # default; read as int64 nanos and convert (registry.table) with
        # exact integer division — matches DuckDB's truncate-to-micros.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Static conf: it sizes the JVM-wide codegen class cache, so it
        # must be set before getOrCreate.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
