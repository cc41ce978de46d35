"""Table-maintenance queries: incremental MV refresh, CDC log apply,
one-pass data profiling.

The reference's only maintenance story is full refresh — TRUNCATE then
re-insert everything (reference src/etl/loading.py:49-60, called from
src/etl/datapipeline.py run loop). These queries are the lakehouse
replacements that stay O(|delta|) instead of O(|history|) as data grows.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.incremental import aggregate_state, finalize_state, merge_states
from ..operators.profile import profile_table
from .registry import _file_signature, register, table

#: history/delta split point for the MV demo (events span 2024-01-01..30
#: at every sf, so both sides are non-empty at every scale)
MV_CUTOFF = "2024-01-20 00:00:00"

_MV_KEYS = ["user_id", "event_type"]


# ---------------------------------------------------------------------------
# Incremental materialized-view refresh (state + delta partial-agg merge)
# ---------------------------------------------------------------------------
@register(
    "events_incremental_mv",
    oracle="""
    SELECT user_id, event_type,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
             AS avg_value,
           MIN(ts) AS min_ts, MAX(ts) AS max_ts
    FROM events
    GROUP BY 1, 2
    """,
    tags=("events", "incremental", "mv"),
)
def events_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MV maintenance: history (< cutoff) is aggregated once
    into a mergeable state table and persisted to parquet (one stage per
    version of events.parquet, so a concurrent build never rewrites the
    state a returned frame still reads); the delta
    (>= cutoff) is partial-aggregated and folded in by an associative
    state merge (operators/incremental.py). The oracle recomputes the
    whole aggregate from raw rows — proving the two-step refresh is
    bit-identical to a full recompute, which is what lets a 100 TB
    deployment never rescan history. Exact-decimal sums make the merge
    order-independent."""
    ev = table(spark, sf_dir, "events")
    cutoff = F.lit(MV_CUTOFF).cast("timestamp")

    # refresh cycle 1: aggregate history once, persist the state
    def _write(tmp: str) -> None:
        aggregate_state(ev.filter(F.col("ts") < cutoff), _MV_KEYS).write.parquet(tmp)

    state_path = _fingerprint_stage(f"{sf_dir}/events.parquet", "incr_mv", _write)

    # refresh cycle 2: read stored state, fold in only the delta batch
    stored = spark.read.parquet(state_path)
    delta = aggregate_state(ev.filter(F.col("ts") >= cutoff), _MV_KEYS)
    return finalize_state(merge_states(stored, delta, _MV_KEYS), _MV_KEYS)


# ---------------------------------------------------------------------------
# CDC log apply (upserts + delete tombstones -> current snapshot)
# ---------------------------------------------------------------------------
@register(
    "events_cdc_apply",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_type, ts, event_id, value,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n_ops
      FROM events
    )
    SELECT user_id, ts AS last_ts, value AS last_value, n_ops
    FROM ranked
    WHERE rn = 1 AND event_type <> 'error'
    """,
    tags=("events", "cdc", "upsert"),
)
def events_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a CDC log to a current-state snapshot: each event is an
    ordered op on its key (user_id); 'error' acts as the delete tombstone,
    everything else upserts. The latest op per key wins — keys whose last
    op is a delete vanish from the snapshot. Extends events_upsert_scd1
    (latest-wins only) with delete semantics, replacing the reference's
    TRUNCATE + full re-insert refresh. One shuffle on user_id serves both
    window passes (row_number and per-key op count); ts ties break on the
    unique event_id."""
    ev = table(spark, sf_dir, "events")
    by_key = Window.partitionBy("user_id")
    ordered = by_key.orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(ordered))
        .withColumn("n_ops", F.count("*").over(by_key))
        .filter((F.col("rn") == 1) & (F.col("event_type") != "error"))
        .select(
            "user_id",
            F.col("ts").alias("last_ts"),
            F.col("value").alias("last_value"),
            "n_ops",
        )
    )


# ---------------------------------------------------------------------------
# One-pass table profile (per-column quality stats)
# ---------------------------------------------------------------------------
_PROFILE_COLS = [
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
    "l_linestatus", "l_shipdate",
]

_PROFILE_ORACLE = "\nUNION ALL\n".join(
    f"SELECT '{c}' AS column_name, COUNT(*) AS n_rows, "
    f"COUNT({c}) AS n_non_null, COUNT(DISTINCT {c}) AS n_distinct "
    "FROM lineitem"
    for c in _PROFILE_COLS
)


@register(
    "profile_lineitem",
    oracle=_PROFILE_ORACLE,
    tags=("profile", "agg"),
)
def profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profile every lineitem column (non-null + exact distinct counts) in
    ONE scan — a single multi-distinct aggregate (one Expand) vs the
    oracle's 11 separate scans. The long-format output feeds data-quality
    gates; see operators/profile.py for the scale notes."""
    return profile_table(table(spark, sf_dir, "lineitem"), _PROFILE_COLS)


# ---------------------------------------------------------------------------
# Bloom-filter semi-join reduction (shuffle-avoiding join prefilter)
# ---------------------------------------------------------------------------
@register(
    "bloom_semi_lineitem",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price
    FROM lineitem
    WHERE l_orderkey IN (
      SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
    GROUP BY l_returnflag
    """,
    tags=("join", "bloom", "semi"),
)
def bloom_semi_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join of lineitem to urgent orders through a bloom prefilter
    (operators/bloom.py): the dim key set is aggregated into a ~128 KB
    broadcast word table and non-matching lineitem rows are dropped
    BEFORE the exact join's shuffle — the semi-join reduction that keeps
    a 100 TB fact scan from shuffling rows the join will discard. The
    final exact left-semi join removes bloom false positives, so the
    result equals the oracle's plain IN-subquery exactly."""
    from ..operators.bloom import bloom_semi_join

    li = table(spark, sf_dir, "lineitem")
    urgent = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    return (
        bloom_semi_join(li, urgent, "l_orderkey")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# External-DB federation: partitioned pushdown read through the DuckDB
# Python DataSource (sources/duckdb_source.py)
# ---------------------------------------------------------------------------
@register(
    "events_via_duckdb_source",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY event_type
    """,
    tags=("source", "connector", "federation"),
)
def events_via_duckdb_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Federated read: the events table is served from an external
    analytical DB (DuckDB standing in for the reference's ClickHouse) and
    scanned through the custom Python DataSource — 8 range partitions on
    user_id, aggregation on top. The oracle computes the same aggregate
    from the parquet directly, so the connector's partitioning and Arrow
    transfer must lose/duplicate nothing. (ts is excluded: the connector
    demo sticks to bigint/varchar/double columns.)"""
    import os

    import duckdb

    from ..sources.duckdb_source import register_duckdb_source
    from .registry import ensure_session_confs

    ensure_session_confs(spark)

    def _write(tmp: str) -> None:
        os.makedirs(tmp)
        con = duckdb.connect(f"{tmp}/events.duckdb")
        con.execute(
            "CREATE TABLE events AS "
            "SELECT event_id, user_id, event_type, value "
            f"FROM '{sf_dir}/events.parquet'"
        )
        con.close()
        # _fingerprint_stage's publish gate expects a top-level _SUCCESS
        with open(f"{tmp}/_SUCCESS", "w"):
            pass

    stage = _fingerprint_stage(f"{sf_dir}/events.parquet", "duckdb", _write)
    register_duckdb_source(spark)
    df = (
        spark.read.format("duckdb")
        .option("path", f"{stage}/events.duckdb")
        .option("table", "events")
        .option("partitionColumn", "user_id")
        .option("numPartitions", "8")
        .load()
    )
    return df.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# Declarative data-quality expectations (constraint audit)
# ---------------------------------------------------------------------------
@register(
    "events_quality_audit",
    oracle="""
    WITH n AS (SELECT COUNT(*) AS n_rows FROM events)
    SELECT 'event_id_not_null' AS rule, n.n_rows,
           (SELECT COUNT(*) FROM events
            WHERE NOT (event_id IS NOT NULL) OR (event_id IS NOT NULL) IS NULL)
             AS n_violations FROM n
    UNION ALL
    SELECT 'value_positive', n.n_rows,
           (SELECT COUNT(*) FROM events
            WHERE value IS NULL OR NOT (value > 0)) FROM n
    UNION ALL
    SELECT 'known_event_type', n.n_rows,
           (SELECT COUNT(*) FROM events
            WHERE event_type IS NULL OR event_type NOT IN
              ('click', 'view', 'purchase', 'signup')) FROM n
    UNION ALL
    SELECT 'ts_in_2024', n.n_rows,
           (SELECT COUNT(*) FROM events
            WHERE ts IS NULL OR NOT (ts >= TIMESTAMP '2024-01-01')) FROM n
    """,
    tags=("quality", "audit", "agg"),
)
def events_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint audit over events (operators/expectations.py): four
    declarative rules checked in ONE scan-local aggregate (each rule is a
    sum(violates) expression; the oracle's per-rule subqueries rescan).
    NULLs count as violations — SQL three-valued logic would silently
    pass them. 'known_event_type' fires on every 'error' row, proving a
    real failure is counted, not just zeros."""
    from ..operators.expectations import audit

    ev = table(spark, sf_dir, "events")
    rules = [
        ("event_id_not_null", F.col("event_id").isNotNull()),
        ("value_positive", F.col("value") > 0),
        ("known_event_type",
         F.col("event_type").isin("click", "view", "purchase", "signup")),
        ("ts_in_2024", F.col("ts") >= F.lit("2024-01-01").cast("timestamp")),
    ]
    return audit(ev, rules)


def _fingerprint_stage(src: str, kind: str, write) -> str:
    """Stage a derived copy of `src` under /tmp, keyed by the source's
    file signature (`registry._file_signature`), with atomic publication.

    - fingerprint key: a regenerated source file invalidates the stage
      (otherwise the query would aggregate stale data while the oracle
      reads fresh);
    - write-then-rename: `write(tmp_dir)` materializes the full stage in
      a temp dir, then one os.rename publishes it — a concurrent session
      never observes a partial stage, and losing the rename race just
      means the winner's complete stage is used;
    - superseded fingerprints of the same source are deleted (never the
      live target or a concurrent writer's temp dir for it), so
      regenerated inputs don't leak stage dirs.
    """
    import glob
    import hashlib
    import os
    import shutil
    import uuid

    sig = _file_signature(src)
    if sig is None:
        raise FileNotFoundError(src)
    tag = re.sub(r"[^A-Za-z0-9]+", "_", src)
    prefix = f"/tmp/rve_{kind}_src_{tag}_"
    stage = prefix + hashlib.sha1(repr(sig).encode()).hexdigest()[:16]
    if not os.path.exists(os.path.join(stage, "_SUCCESS")):
        for old in glob.glob(f"{prefix}*"):
            if not old.startswith(stage):  # keep in-flight temps of this stage
                shutil.rmtree(old, ignore_errors=True)
        tmp = f"{stage}.tmp-{uuid.uuid4().hex}"
        write(tmp)
        try:
            os.rename(tmp, stage)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
    return stage


@register(
    "events_via_jsonl_source",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(MIN(event_id) AS BIGINT) AS min_id,
           CAST(MAX(event_id) AS BIGINT) AS max_id,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY event_type
    """,
    tags=("source", "connector", "json"),
)
def events_via_jsonl_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source path: the events table is staged once as
    spark-written JSONL (the log/firehose drop format), then read back
    with an EXPLICIT schema — schema-on-read without inference (an
    inference pass would re-scan the whole input at 100 TB) — and
    aggregated. The oracle computes the same aggregate from the parquet
    directly, so the JSON writer/reader pair must round-trip values,
    types, and row counts exactly. ts is carried as epoch micros in the
    JSON (timestamp JSON round-trips are timezone-format-fragile; integer
    micros are not), value as string to dodge double-format drift —
    exactly how a production event log encodes."""
    from pyspark.sql import types as PT

    from .registry import ensure_session_confs, table

    ensure_session_confs(spark)

    def _write(tmp: str) -> None:
        table(spark, sf_dir, "events").select(
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            "user_id",
            "event_type",
            F.col("value").cast("string").alias("value"),
        ).write.mode("overwrite").json(tmp)

    stage = _fingerprint_stage(f"{sf_dir}/events.parquet", "jsonl", _write)
    schema = PT.StructType(
        [
            PT.StructField("event_id", PT.LongType()),
            PT.StructField("ts_us", PT.LongType()),
            PT.StructField("user_id", PT.LongType()),
            PT.StructField("event_type", PT.StringType()),
            PT.StructField("value", PT.StringType()),
        ]
    )
    back = spark.read.schema(schema).json(stage)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
            "sum_value"
        ),
    )


# ---------------------------------------------------------------------------
# ORC source path (columnar alternative, self-describing schema)
# ---------------------------------------------------------------------------
@register(
    "orders_via_orc_source",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_totalprice,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("source", "connector", "orc"),
)
def orders_via_orc_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source path: orders is staged once as spark-written ORC (the
    second columnar lake format the engine supports, sinks/writers.py:
    write_orc), read back through the native OrcFileFormat, and
    aggregated. The oracle computes the identical aggregate from the
    parquet directly, so the ORC writer/reader pair must round-trip
    values, types, and row counts exactly — same contract the JSONL
    source proves for row formats. Columns staged are exactly the ones
    the query needs (bigint/varchar/double — ORC-exact types)."""
    from .registry import ensure_session_confs, table

    ensure_session_confs(spark)

    def _write(tmp: str) -> None:
        table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority", "o_totalprice"
        ).write.mode("overwrite").orc(tmp)

    stage = _fingerprint_stage(f"{sf_dir}/orders.parquet", "orc", _write)
    back = spark.read.orc(stage)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_totalprice"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


# ---------------------------------------------------------------------------
# Hive-partitioned source path (directory pruning must reach the scan)
# ---------------------------------------------------------------------------
@register(
    "lineitem_via_partitioned_source",
    oracle="""
    SELECT l_linestatus,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price
    FROM lineitem
    WHERE l_returnflag = 'R'
    GROUP BY l_linestatus
    """,
    tags=("source", "connector", "partitioned"),
)
def lineitem_via_partitioned_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned source path: lineitem is staged once as a
    partitioned parquet layout (partitionBy l_returnflag — the
    platform=/date= layout of sinks/writers.py:write_partitioned_parquet)
    and read back with a filter on the partition column. The filter must
    prune DIRECTORIES (PartitionFilters in the scan — pinned by
    tests/test_plans.py), so only 1 of 3 partitions is ever read; the
    oracle computes the same aggregate from the flat parquet with a WHERE
    clause. This is the read side of the engine's 100 TB layout story:
    partition pruning is load-bearing, not decorative."""
    from .registry import ensure_session_confs, table

    ensure_session_confs(spark)

    def _write(tmp: str) -> None:
        table(spark, sf_dir, "lineitem").select(
            "l_orderkey",
            "l_quantity",
            "l_extendedprice",
            "l_linestatus",
            "l_returnflag",
        ).write.mode("overwrite").partitionBy("l_returnflag").parquet(tmp)

    stage = _fingerprint_stage(
        f"{sf_dir}/lineitem.parquet", "partn", _write
    )
    back = spark.read.parquet(stage).filter(F.col("l_returnflag") == "R")
    return back.groupBy("l_linestatus").agg(
        F.count("*").alias("n_lines"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# Schema-evolution source path (mergeSchema across generations)
# ---------------------------------------------------------------------------
@register(
    "docs_via_evolved_parquet",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_legacy,
           CAST(SUM(CASE WHEN doc_id % 3 = 0 THEN 0 ELSE n_chars END)
                AS BIGINT) AS chars_known
    FROM documents
    GROUP BY lang
    """,
    tags=("source", "connector", "schema-evolution"),
)
def docs_via_evolved_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution source path: the documents table is staged as TWO
    parquet generations — a legacy file (doc_id, text, lang; every
    doc_id % 3 == 0) written before the `source`/`n_chars` columns
    existed, and a current file with the full schema — then read back in
    one load with ``mergeSchema=true``. Spark must union the footers into
    the widest schema and null-fill the legacy rows (a real lake's tables
    ALWAYS span writer generations; a reader that can't widen schemas
    can't read last year's data). The aggregate proves both the merge and
    the null-fill: legacy rows surface with source/n_chars NULL, counted
    via the null indicator and excluded from the chars sum; the oracle
    replays the same split from the flat table with doc_id arithmetic."""
    from .registry import ensure_session_confs, table

    ensure_session_confs(spark)

    def _write(tmp: str) -> None:
        d = table(spark, sf_dir, "documents")
        legacy = d.filter(F.col("doc_id") % 3 == 0).select(
            "doc_id", "text", "lang"
        )
        current = d.filter(F.col("doc_id") % 3 != 0).select(
            "doc_id", "text", "lang", "source", "n_chars"
        )
        legacy.write.mode("overwrite").parquet(f"{tmp}/gen=1")
        current.write.mode("overwrite").parquet(f"{tmp}/gen=2")
        # _fingerprint_stage's publish gate expects a top-level _SUCCESS
        with open(f"{tmp}/_SUCCESS", "w"):
            pass

    stage = _fingerprint_stage(f"{sf_dir}/documents.parquet", "evolved", _write)
    back = spark.read.option("mergeSchema", "true").parquet(stage)
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("n_chars").isNull(), 1).otherwise(0)).alias(
            "n_legacy"
        ),
        F.sum(F.coalesce(F.col("n_chars"), F.lit(0))).alias("chars_known"),
    )


@register(
    "events_via_snapshot_table",
    oracle="""
    SELECT CAST(1 AS BIGINT) AS version,
           COUNT(*) AS n_rows,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events WHERE event_id % 2 = 0
    UNION ALL
    SELECT CAST(2 AS BIGINT) AS version,
           COUNT(*) AS n_rows,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    """,
    tags=("source", "snapshot", "time-travel"),
)
def events_via_snapshot_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME TRAVEL through the versioned snapshot table
    (sinks/snapshots.py — the lakehouse replacement for the reference's
    TRUNCATE-then-reload refresh): the events table is committed in two
    appends (even event_ids, then odd), and the SAME query reads version
    1 and the latest version side by side — version 1 must still see
    exactly the first commit after the second lands (reader isolation
    via immutable data files + manifest pointers). The oracle recomputes
    both versions from the raw parquet with the same id split, so the
    manifest machinery must neither lose nor duplicate a single row.
    Staged once per source fingerprint with atomic publication."""
    import os

    from ..sinks.snapshots import commit_append, read_snapshot
    from .registry import ensure_session_confs, table

    ensure_session_confs(spark)

    def _write(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        ev = table(spark, sf_dir, "events")
        commit_append(ev.filter(F.col("event_id") % 2 == 0), tmp)
        commit_append(ev.filter(F.col("event_id") % 2 != 0), tmp)
        open(os.path.join(tmp, "_SUCCESS"), "w").close()

    stage = _fingerprint_stage(f"{sf_dir}/events.parquet", "snap", _write)

    def agg(df: DataFrame, version: int) -> DataFrame:
        return df.agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        ).select(F.lit(version).cast("long").alias("version"), "*")

    v1 = agg(read_snapshot(spark, stage, version=1), 1)
    v2 = agg(read_snapshot(spark, stage), 2)
    return v1.unionByName(v2)


# ---------------------------------------------------------------------------
# CSV source path (header + explicit schema, the reference's native format)
# ---------------------------------------------------------------------------
@register(
    "customer_via_csv_source",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_acctbal,
           CAST(MIN(c_custkey) AS BIGINT) AS min_key,
           CAST(MAX(c_custkey) AS BIGINT) AS max_key
    FROM customer
    GROUP BY c_mktsegment
    """,
    tags=("source", "connector", "csv"),
)
def customer_via_csv_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source path for a warehouse table: customer is staged once as
    spark-written headered CSV and read back with an EXPLICIT schema and
    strict options (no inference pass — at 100 TB schema inference is a
    full extra scan; FAILFAST so a malformed row surfaces instead of
    nulling silently). Money is carried as a 2dp-formatted string to
    dodge double-format drift, exactly as the platform ETL CSVs do
    (sources/csv_source.py). The oracle aggregates the parquet directly:
    writer and reader must round-trip values, types, and row counts
    exactly — completing the format matrix next to JSONL, ORC,
    Hive-partitioned, snapshot, binary, and DuckDB sources."""
    from .registry import ensure_session_confs, table

    ensure_session_confs(spark)

    def _write(tmp: str) -> None:
        table(spark, sf_dir, "customer").select(
            "c_custkey",
            "c_name",
            "c_mktsegment",
            F.format_number(F.col("c_acctbal").cast("decimal(18,2)"), 2).alias(
                "c_acctbal"
            ),
        ).write.mode("overwrite").option("header", True).csv(tmp)

    stage = _fingerprint_stage(f"{sf_dir}/customer.parquet", "csv", _write)
    from pyspark.sql import types as PT

    schema = PT.StructType(
        [
            PT.StructField("c_custkey", PT.LongType()),
            PT.StructField("c_name", PT.StringType()),
            PT.StructField("c_mktsegment", PT.StringType()),
            PT.StructField("c_acctbal", PT.StringType()),
        ]
    )
    back = (
        spark.read.schema(schema)
        .option("header", True)
        .option("mode", "FAILFAST")
        .csv(stage)
    )
    bal = F.regexp_replace(F.col("c_acctbal"), ",", "").cast("decimal(18,2)")
    return back.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"),
        F.sum(bal).cast("double").alias("sum_acctbal"),
        F.min("c_custkey").alias("min_key"),
        F.max("c_custkey").alias("max_key"),
    )
