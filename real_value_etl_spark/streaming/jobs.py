"""Structured Streaming jobs over the `events` table (SURVEY.md §2.9 —
absent in the strictly-batch reference; north-star capability).

Each job reads the events parquet through the FILE STREAM source (the same
code would tail an s3a:// drop directory or Kafka at production scale),
applies watermark + windowed/stateful operators, and drains with
Trigger.AvailableNow into an in-memory sink. The drained result is returned
as a batch DataFrame, so every streaming query still goes through the
DuckDB value-hash oracle — the streaming implementation must agree with the
declarative batch semantics.

Scale/ops design:
- watermarks bound state (10 min on event time);
- windowed aggregation state is keyed by (window, type) — partitioned
  across executors by the same hash shuffle as batch;
- dropDuplicates state is keyed by the dedup columns;
- applyInPandasWithState demonstrates the arbitrary-stateful extension
  point (Arrow-batched per group);
- in production the memory sink becomes a kafka/parquet/foreachBatch sink;
  checkpointLocation gives exactly-once restart (omitted here: the memory
  sink is test-only by definition).
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

WATERMARK = "10 minutes"


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream of the events table. The nanos `ts` arrives as
    either int64 (legacy nanosAsLong) or TIMESTAMP_NTZ (native nanos read);
    normalize to instant-typed `timestamp` exactly like the batch reader in
    queries/registry.py — watermarks require the instant type."""
    from ..queries.registry import ensure_session_confs, read_parquet

    ensure_session_confs(spark)
    path = f"{sf_dir}/events.parquet"
    schema = read_parquet(spark, path).schema
    # The file stream source requires a DIRECTORY (in production: the s3a://
    # drop prefix new snapshot files land in). Stage a symlink dir per sf.
    import hashlib
    import os

    stage = f"/tmp/rve_stream/{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}/events"
    os.makedirs(stage, exist_ok=True)
    link = f"{stage}/events.parquet"
    if not os.path.exists(link):
        os.symlink(path, link)
    stream = spark.readStream.schema(schema).parquet(stage)
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def _drain(spark: SparkSession, result: DataFrame, name: str, mode: str) -> DataFrame:
    """Run the stream to completion (AvailableNow) into a memory sink and
    return the sink contents as a batch DataFrame."""
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    query = (
        result.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.table(name)


def stream_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked 1-hour tumbling windows per event type, complete mode.
    Must equal the batch date_trunc aggregation exactly."""
    ev = _events_stream(spark, sf_dir).withWatermark("ts", WATERMARK)
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
                "sum_value"
            ),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return _drain(spark, agg, "mem_stream_tumbling", "complete")


def stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming stateful dedup on (user_id, event_type): emits the first
    occurrence of each key; the emitted KEY SET equals batch DISTINCT."""
    ev = _events_stream(spark, sf_dir).withWatermark("ts", WATERMARK)
    deduped = ev.dropDuplicates(["user_id", "event_type"]).select(
        "user_id", "event_type"
    )
    return _drain(spark, deduped, "mem_stream_dedup", "append")


def stream_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked sliding windows (1 h window / 15 min slide): each event
    updates 4 window states (Expand before the stateful agg, same as batch);
    the watermark bounds how many open windows the store holds. Complete-
    mode drain must equal the batch sliding aggregation exactly."""
    ev = _events_stream(spark, sf_dir).withWatermark("ts", WATERMARK)
    agg = (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
                "sum_value"
            ),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )
    return _drain(spark, agg, "mem_stream_sliding", "complete")


def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming merging session windows (30-min gap) per user: session
    state merges adjacent windows as events arrive; watermark closes and
    evicts sessions whose gap has definitely passed. Complete-mode drain
    must equal the batch session_window aggregation exactly."""
    ev = _events_stream(spark, sf_dir).withWatermark("ts", WATERMARK)
    agg = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            "n_events",
        )
    )
    return _drain(spark, agg, "mem_stream_session", "complete")


def stream_events_to_parquet(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> None:
    """Exactly-once file-to-file streaming: parquet source -> hourly-
    partitioned parquet sink with a real checkpoint. Re-running after
    completion (or a crash) processes ONLY unseen input files — the source
    offsets and sink commit log live in the checkpoint, which is the
    restart/idempotency contract a production pipeline relies on.
    """
    ev = _events_stream(spark, sf_dir).withColumn(
        "event_hour", F.date_trunc("hour", F.col("ts"))
    )
    query = (
        ev.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("event_type")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()


def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: each purchase joined with the same user's
    clicks from the preceding hour. Both sides are watermarked and the join
    carries a time-range condition, so Spark bounds BOTH state stores
    (click state older than purchase-watermark - 1h is evicted) — the
    canonical pattern for joining two unbounded streams with finite state.
    The drained append output must equal the batch join exactly."""
    p = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", WATERMARK)
    )
    c = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", WATERMARK)
    )
    joined = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
    ).select(
        "purchase_id",
        "click_id",
        F.col("p_user").alias("user_id"),
        "p_ts",
        "c_ts",
    )
    return _drain(spark, joined, "mem_stream_stream_join", "append")


_STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("total_cents", LongType())]
)
_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
    ]
)


def _user_totals(
    key: Tuple[int], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """applyInPandasWithState kernel: running per-user (count, sum) with the
    sum kept in integer cents so the emitted double is exact."""
    n, cents = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        # per-element cents rounding (2dp inputs) — exact regardless of
        # batch size, unlike rounding a float batch sum
        cents += int((pdf["value"] * 100).round().astype("int64").sum())
    state.update((n, cents))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "sum_value": [cents / 100.0]}
    )


def stream_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom arbitrary-stateful operator (applyInPandasWithState): running
    per-user totals; the final emission per user equals the batch groupBy.

    The exact-cents state representation means the emitted double matches
    DuckDB's DECIMAL sum cast to double bit-for-bit.
    """
    ev = _events_stream(spark, sf_dir).withWatermark("ts", WATERMARK)
    totals = ev.select("user_id", "value").groupBy("user_id").applyInPandasWithState(
        _user_totals,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    drained = _drain(spark, totals, "mem_stream_user_totals", "update")
    # A multi-file source would emit one running row per (user, batch); keep
    # the final (max n_events) row per user so semantics are batch-equal
    # regardless of how the source splits batches.
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        drained.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .drop("__r")
    )


def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup with BOUNDED state: dropDuplicatesWithinWatermark
    evicts key state once the watermark passes it — the form that survives
    an unbounded stream at 100 TB/day, unlike plain dropDuplicates whose
    state grows forever. Emitted key set equals batch DISTINCT (the replay
    arrives in one AvailableNow batch, so no duplicate outlives eviction)."""
    ev = _events_stream(spark, sf_dir).withWatermark("ts", WATERMARK)
    deduped = ev.dropDuplicatesWithinWatermark(["user_id", "event_type"]).select(
        "user_id", "event_type"
    )
    return _drain(spark, deduped, "mem_stream_dedup_wm", "append")


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched against a static
    dimension table (customer segment keyed by user id), then aggregated
    into watermarked hourly windows per segment.

    The static side is a plain batch DataFrame — Spark re-plans it per
    micro-batch and (broadcast-hinted) ships it to executors, so the join
    adds NO streaming state at all; only the windowed aggregation holds
    state, bounded by the watermark. This is the canonical enrichment shape
    for a 100 TB/day event feed joined to a warehouse dimension.
    Complete-mode drain must equal the batch join+aggregation exactly.
    """
    from ..queries.registry import table

    ev = _events_stream(spark, sf_dir).withWatermark("ts", WATERMARK)
    dim = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    agg = (
        ev.join(F.broadcast(dim), "user_id")
        .groupBy(F.window("ts", "1 hour").alias("w"), "segment")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
                "sum_value"
            ),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "segment",
            "n_events",
            "sum_value",
        )
    )
    return _drain(spark, agg, "mem_stream_static_enrich", "complete")


def _last_applied_batch(state_path: str) -> int:
    """Batch id committed WITH the current state (see `_stamp_batch`);
    -1 when no state or no marker exists (pre-marker states re-apply,
    which only loses the protection, never data)."""
    import os

    try:
        with open(os.path.join(state_path, "_LAST_BATCH")) as fh:
            return int(fh.read().strip())
    except (FileNotFoundError, ValueError):
        return -1


def _stamp_batch(stage_dir: str, batch_id: int) -> None:
    """Record the applied batch id INSIDE the staged state dir, so the
    atomic rename publishes (state, batch_id) as one unit. Spark's file
    index hides underscore-prefixed files, so parquet reads of the state
    are unaffected."""
    import os

    with open(os.path.join(stage_dir, "_LAST_BATCH"), "w") as fh:
        fh.write(str(batch_id))


def _swap_state(merged: DataFrame, state_path: str, batch_id: int) -> None:
    """Write `merged` to a staging dir, stamp the batch id, and rename
    into place — the atomic two-phase commit both foreachBatch sinks
    share. The two renames are NOT jointly atomic: a crash between them
    leaves no `state_path` at all — `_recover_state` (called at every
    fold entry) repairs that window from the surviving `__stage`/`__old`
    dirs before any batch is applied."""
    import os
    import shutil

    stage = state_path + "__stage"
    merged.write.mode("overwrite").parquet(stage)
    _stamp_batch(stage, batch_id)
    old = state_path + "__old"
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(state_path):
        os.rename(state_path, old)
    os.rename(stage, state_path)
    shutil.rmtree(old, ignore_errors=True)


def _recover_state(state_path: str) -> None:
    """Repair the non-atomic window in `_swap_state`: a crash between
    `os.rename(state_path, old)` and `os.rename(stage, state_path)`
    leaves NO state dir — without repair, `_last_applied_batch` would
    report -1 and the replayed micro-batch would rebuild state from only
    its own delta, silently dropping all previously accumulated MV/CDC
    state (the older source offsets are already committed and never
    replayed). Roll FORWARD when the staged dir is complete (`_SUCCESS`
    from the parquet write AND the `_LAST_BATCH` stamp — it is the full
    (state, batch_id) pair, so the marker then correctly skips the
    replay); otherwise roll BACK to `__old` and let the replayed batch
    re-fold on top. No-op when `state_path` exists. Idempotent: a crash
    mid-recovery re-enters one of the same cases."""
    import os
    import shutil

    if os.path.exists(state_path):
        return
    stage = state_path + "__stage"
    old = state_path + "__old"
    stage_complete = os.path.exists(
        os.path.join(stage, "_SUCCESS")
    ) and os.path.exists(os.path.join(stage, "_LAST_BATCH"))
    if stage_complete:
        os.rename(stage, state_path)
        shutil.rmtree(old, ignore_errors=True)
    elif os.path.exists(old):
        shutil.rmtree(stage, ignore_errors=True)
        os.rename(old, state_path)


def incremental_mv_sink(keys: list[str], state_path: str):
    """foreachBatch sink that folds every micro-batch into a parquet-
    persisted mergeable aggregate state (operators/incremental.py) — the
    streaming form of materialized-view maintenance: the MV is always
    current a micro-batch after the data lands, and no refresh ever
    rescans history. Exact-decimal state measures make the fold
    batching-independent, so the streamed MV is bit-identical to a batch
    recompute no matter how arrivals were chunked.

    EXACTLY-ONCE (r6 verdict ask #8): foreachBatch itself is only
    at-least-once — a crash AFTER the state swap but BEFORE the stream
    checkpoint commits re-invokes the sink with the SAME batch id on
    restart, and an additive fold would double-count that delta. The
    sink therefore two-phase-commits: the staged state dir carries a
    `_LAST_BATCH` marker renamed into place atomically WITH the state,
    and a fold whose batch id is <= the committed marker is a replay and
    returns without applying (batch ids are monotone per checkpoint).
    Kill-and-restart is regression-gated by
    tests/test_streaming_semantics.py::test_mv_sink_exactly_once_across_crash.
    """
    from ..operators.incremental import aggregate_state, merge_states

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        import os

        _recover_state(state_path)
        if batch_id <= _last_applied_batch(state_path):
            return  # crash-replayed batch: state already holds it
        s = batch_df.sparkSession
        delta = aggregate_state(batch_df, keys)
        if os.path.exists(os.path.join(state_path, "_SUCCESS")):
            merged = merge_states(s.read.parquet(state_path), delta, keys)
        else:
            merged = delta
        _swap_state(merged, state_path, batch_id)

    return fold


def stream_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MV maintenance over events: file stream -> foreachBatch
    incremental state fold -> finalized view. Returns the finalized MV as
    a batch DataFrame (oracle: full recompute from raw rows)."""
    import hashlib
    import shutil

    from ..operators.incremental import finalize_state

    keys = ["user_id", "event_type"]
    root = f"/tmp/rve_stream_mv/{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"
    state, ckpt = f"{root}/state", f"{root}/ckpt"
    shutil.rmtree(root, ignore_errors=True)  # deterministic fresh run

    ev = _events_stream(spark, sf_dir)
    query = (
        ev.writeStream.foreachBatch(incremental_mv_sink(keys, state))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return finalize_state(spark.read.parquet(state), keys)


def cdc_apply_sink(state_path: str):
    """foreachBatch sink maintaining a latest-wins CDC snapshot with
    delete tombstones — the streaming form of events_cdc_apply
    (queries/incremental.py): each micro-batch merges into a persisted
    per-key state holding the newest op (by ts, then unique event_id)
    and the total op count.

    The merge is ASSOCIATIVE (argmax by (ts, event_id) + an op-count sum),
    so the snapshot is bit-identical to a batch replay no matter how
    arrivals were chunked into micro-batches. Tombstones ('error' ops)
    are kept IN the state — a tombstone that is currently newest must
    keep suppressing its key; the read side filters them out.

    EXACTLY-ONCE: the argmax half of the merge is replay-idempotent, but
    `n_ops` is an additive SUM — foreachBatch's at-least-once contract
    (a crash between the state swap and the checkpoint commit replays
    the batch id) would double-count it. Same two-phase commit as
    `incremental_mv_sink`: the `_LAST_BATCH` marker rides the atomic
    rename, and a replayed batch id returns without applying.
    """
    import os

    from pyspark.sql import Window

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        _recover_state(state_path)
        if batch_id <= _last_applied_batch(state_path):
            return  # crash-replayed batch: state already holds it
        s = batch_df.sparkSession
        delta = batch_df.select(
            "user_id", "ts", "event_id", "event_type", "value",
            F.lit(1).cast("long").alias("n_ops"),
        )
        if os.path.exists(os.path.join(state_path, "_SUCCESS")):
            src = s.read.parquet(state_path).unionByName(delta)
        else:
            src = delta
        latest = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        merged = (
            src.withColumn("__rn", F.row_number().over(latest))
            .withColumn(
                "__n", F.sum("n_ops").over(Window.partitionBy("user_id"))
            )
            .filter(F.col("__rn") == 1)
            .select(
                "user_id", "ts", "event_id", "event_type", "value",
                F.col("__n").alias("n_ops"),
            )
        )
        _swap_state(merged, state_path, batch_id)

    return fold


def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply: file stream -> foreachBatch latest-wins merge
    with tombstones -> current snapshot (tombstoned keys excluded). The
    snapshot must equal the batch CDC apply (events_cdc_apply oracle)."""
    import hashlib
    import shutil

    root = f"/tmp/rve_stream_cdc/{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"
    state, ckpt = f"{root}/state", f"{root}/ckpt"
    shutil.rmtree(root, ignore_errors=True)  # deterministic fresh run

    ev = _events_stream(spark, sf_dir)
    query = (
        ev.writeStream.foreachBatch(cdc_apply_sink(state))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return (
        spark.read.parquet(state)
        .filter(F.col("event_type") != "error")
        .select(
            "user_id",
            F.col("ts").alias("last_ts"),
            F.col("value").alias("last_value"),
            "n_ops",
        )
    )


_HOLT_STATE_SCHEMA = StructType(
    [
        StructField("level", DoubleType()),
        StructField("trend", DoubleType()),
        StructField("n", LongType()),
    ]
)
_HOLT_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("level", DoubleType()),
        StructField("trend", DoubleType()),
        StructField("forecast_1", DoubleType()),
    ]
)
HOLT_ALPHA = 0.5
HOLT_BETA = 0.25


def _holt_state(
    key: Tuple[int], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """applyInPandasWithState kernel: per-user Holt (level, trend) state.

    Rows within the delivered batch are sorted by (ts, event_id) before
    folding, so the recursion order matches the batch oracle exactly; the
    per-step arithmetic is plain Python float64 — the identical IEEE ops
    the Catalyst fold and DuckDB's list_reduce perform, so the state is
    bit-exact across all three."""
    level, trend, n = state.get if state.exists else (0.0, 0.0, 0)
    rows = pd.concat(list(pdfs))
    rows = rows.sort_values(["ts", "event_id"])
    for v in rows["value"]:
        v = float(v)
        new_level = HOLT_ALPHA * v + (1 - HOLT_ALPHA) * (level + trend)
        trend = HOLT_BETA * (new_level - level) + (1 - HOLT_BETA) * trend
        level = new_level
        n += 1
    state.update((level, trend, n))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "level": [level],
            "trend": [trend],
            "forecast_1": [level + trend],
        }
    )


def stream_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Holt linear smoothing: the 2-state (level, trend)
    recursion of events_holt_linear carried as applyInPandasWithState
    per-user state — the live-forecast shape (each micro-batch advances
    every active user's forecast; state is two doubles + a count per
    user, bounded by the user population). The final emission per user
    must equal the batch fold bit-for-bit."""
    ev = _events_stream(spark, sf_dir).withWatermark("ts", WATERMARK)
    out = (
        ev.select("user_id", "ts", "event_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _holt_state,
            outputStructType=_HOLT_OUT_SCHEMA,
            stateStructType=_HOLT_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    drained = _drain(spark, out, "mem_stream_holt", "update")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        drained.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .drop("__r")
    )


_KMV_K = 64
_KMV_SPACE = float(1 << 32)
_KMV_STATE_SCHEMA = StructType(
    [StructField("mins", ArrayType(LongType()))]
)
_KMV_OUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n_kept", LongType()),
        StructField("kth_min", LongType()),
        StructField("est_distinct", DoubleType()),
    ]
)


def _kmv_state(
    key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """applyInPandasWithState kernel: per-event-type KMV sketch of
    DISTINCT user_ids — the k smallest portable 32-bit hashes.

    The state transition is a set-union followed by keep-k-smallest,
    which is ORDER- and BATCHING-independent (unlike a Misra-Gries
    decrement sketch): any partitioning of the stream into micro-batches
    yields the same final k-set, so the drained sketch equals the batch
    SQL replay bit-for-bit. The hash is the same md5-prefix integer as
    functions/text.portable_hash32."""
    import hashlib

    mins = list(state.get[0]) if state.exists else []
    cur = set(mins)
    for pdf in pdfs:
        for uid in pdf["user_id"].unique():
            hv = int(
                hashlib.md5(str(int(uid)).encode()).hexdigest()[:8], 16
            )
            cur.add(hv)
    mins = sorted(cur)[:_KMV_K]
    state.update((mins,))
    n = len(mins)
    kth = mins[-1] if mins else 0
    est = float(n) if n < _KMV_K else (_KMV_K - 1) * _KMV_SPACE / kth
    yield pd.DataFrame(
        {
            "event_type": [key[0]],
            "n_kept": [n],
            "kth_min": [kth],
            "est_distinct": [est],
        }
    )


def stream_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distinct-user cardinality per event type via a KMV
    sketch in applyInPandasWithState — constant state (k hashes per
    type) no matter how many users flow past, and deterministic by
    construction, so the final drained sketch is hash-checkable against
    a batch oracle (the streaming twin of text_kmv_distinct)."""
    ev = _events_stream(spark, sf_dir).withWatermark("ts", WATERMARK)
    out = (
        ev.select("event_type", "user_id")
        .groupBy("event_type")
        .applyInPandasWithState(
            _kmv_state,
            outputStructType=_KMV_OUT_SCHEMA,
            stateStructType=_KMV_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    drained = _drain(spark, out, "mem_stream_kmv", "update")
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy(
        F.desc("n_kept"), F.asc("kth_min")
    )
    return (
        drained.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .drop("__r")
    )


# ---------------------------------------------------------------------------
# Streaming HLL registers (the streaming twin of text_hll_registers)
# ---------------------------------------------------------------------------
_HLL_STATE_SCHEMA = StructType(
    [StructField("regs", ArrayType(LongType()))]
)
_HLL_OUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n_registers", LongType()),
        StructField("sum_geo", LongType()),
        StructField("registers", StringType()),
        StructField("est_distinct", DoubleType()),
        StructField("est_corrected", DoubleType()),
    ]
)


def _hll_state(
    key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """applyInPandasWithState kernel: per-event-type HyperLogLog register
    file over user_ids — 64 MAX registers fed by the 52-bit md5-prefix
    hash (identical to the batch text_hll_registers pipeline).

    MAX is commutative, associative and idempotent, so the state
    transition is order-, batching- AND duplicate-independent: any
    micro-batch partitioning of the stream (and any replay) yields the
    same register file, which is why the drained sketch hash-matches a
    batch SQL oracle. State is a constant 64 longs per group."""
    import hashlib

    # mirror queries/feature_ops constants (imported lazily at job build:
    # the kernel must be self-contained for worker pickling)
    M, WBITS = 64, 46
    regs = list(state.get[0]) if state.exists else [0] * M
    for pdf in pdfs:
        for uid in pdf["user_id"]:
            h = int(
                hashlib.md5(str(int(uid)).encode()).hexdigest()[:13], 16
            )
            b, w = h % M, h >> 6
            rank = (WBITS + 1) - w.bit_length() if w else WBITS + 1
            if rank > regs[b]:
                regs[b] = rank
    state.update((regs,))
    n = sum(1 for r in regs if r > 0)
    sum_geo = sum((1 << (WBITS - r)) for r in regs if 0 < r <= WBITS)
    denom = float(sum_geo + (M - n) * (1 << WBITS))
    est = _HLL_EST_NUM / denom
    v = M - n
    corrected = _HLL_LC[v] if (est <= _HLL_LC_THRESHOLD and v > 0) else est
    yield pd.DataFrame(
        {
            "event_type": [key[0]],
            "n_registers": [n],
            "sum_geo": [sum_geo],
            "registers": [
                ",".join(f"{b}:{r}" for b, r in enumerate(regs) if r > 0)
            ],
            "est_distinct": [est],
            "est_corrected": [corrected],
        }
    )


# one source of truth for the estimator constants: the batch query module
from ..queries.feature_ops import (  # noqa: E402
    _HLL_EST_NUM,
    _HLL_LC,
    _HLL_LC_THRESHOLD,
)


def stream_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distinct-user cardinality per event type via HLL
    registers in applyInPandasWithState — constant 64-long state per
    group, register MAX-merge independent of batching and duplicates,
    drained sketch (including the serialized register file and both
    estimates) hash-checkable against the batch SQL replay."""
    ev = _events_stream(spark, sf_dir).withWatermark("ts", WATERMARK)
    out = (
        ev.select("event_type", "user_id")
        .groupBy("event_type")
        .applyInPandasWithState(
            _hll_state,
            outputStructType=_HLL_OUT_SCHEMA,
            stateStructType=_HLL_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    drained = _drain(spark, out, "mem_stream_hll", "update")
    from pyspark.sql import Window

    # est_distinct grows monotonically as registers fill (every update
    # strictly shrinks the integer denominator), so the final state per
    # key is the max-estimate row; registers string is a deterministic
    # tiebreak for the (astronomically unlikely) equal-estimate case.
    w = Window.partitionBy("event_type").orderBy(
        F.desc("est_distinct"), F.desc("registers")
    )
    return (
        drained.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .drop("__r")
    )


# ---------------------------------------------------------------------------
# Streaming priority sample (the streaming twin of q_priority_sample_sum)
# ---------------------------------------------------------------------------
_STREAM_PRIO_K = 16  # sample size per event type
_STREAM_PRIO_SPACE = float(1 << 32)

_PRIO_STATE_SCHEMA = StructType(
    [
        StructField("ids", ArrayType(LongType())),
        StructField("ws", ArrayType(DoubleType())),
        StructField("prios", ArrayType(DoubleType())),
    ]
)
_PRIO_OUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("k_sample", LongType()),
        StructField("tau", DoubleType()),
        StructField("est_total", DoubleType()),
        StructField("sample_ids", StringType()),
    ]
)


def _prio_state(
    key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """applyInPandasWithState kernel: per-event-type PRIORITY SAMPLE
    (Duffield-Lund-Thorup) of (event_id, value) with the unbiased
    Horvitz-Thompson total estimate — "estimate SUM(value) from k rows"
    maintained live on the stream.

    State = the top-(k+1) (id, w, priority) triples, priority = w / u
    with u the (0,1]-uniform from the portable md5 hash of the id. The
    transition is merge-by-id then keep-top-(k+1): order-, batching- AND
    duplicate-independent (a replayed row re-offers an identical
    (id, priority) pair, which the id-dedupe absorbs), so the drained
    sample, tau and estimate equal the batch SQL replay bit-for-bit.
    tau (the (k+1)-th priority) rises STRICTLY on every sample change,
    which is what makes the final drained row per key selectable
    deterministically. The estimate folds max(w, tau) in id order —
    the same IEEE double sequence the oracle's ordered list_reduce
    performs."""
    import hashlib

    K = _STREAM_PRIO_K
    best: dict[int, tuple[float, float]] = {}
    if state.exists:
        ids, ws, prios = state.get
        best = {
            int(i): (float(w), float(p)) for i, w, p in zip(ids, ws, prios)
        }
    for pdf in pdfs:
        for eid, val in zip(pdf["event_id"], pdf["value"]):
            eid = int(eid)
            if eid in best:
                continue
            w = float(val)
            h = int(
                hashlib.md5(str(eid).encode()).hexdigest()[:8], 16
            )
            u = (h + 1) / _STREAM_PRIO_SPACE
            best[eid] = (w, w / u)
        # keep-top-(k+1) by (priority desc, id asc)
        if len(best) > K + 1:
            kept = sorted(
                best.items(), key=lambda kv: (-kv[1][1], kv[0])
            )[: K + 1]
            best = dict(kept)
    ordered = sorted(best.items(), key=lambda kv: (-kv[1][1], kv[0]))
    state.update(
        (
            [i for i, _ in ordered],
            [w for _, (w, _) in ordered],
            [p for _, (_, p) in ordered],
        )
    )
    tau = ordered[K][1][1] if len(ordered) == K + 1 else 0.0
    sample = ordered[:K]
    est = 0.0
    for eid, (w, _) in sorted(sample, key=lambda kv: kv[0]):
        est += w if w > tau else tau
    yield pd.DataFrame(
        {
            "event_type": [key[0]],
            "k_sample": [len(sample)],
            "tau": [tau],
            "est_total": [est],
            "sample_ids": [
                ",".join(str(eid) for eid, _ in sorted(sample))
            ],
        }
    )


def stream_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-type priority sample + Horvitz-Thompson estimate
    (applyInPandasWithState): constant (k+1)-triple state per type, the
    streaming twin of q_priority_sample_sum."""
    ev = _events_stream(spark, sf_dir).withWatermark("ts", WATERMARK)
    out = (
        ev.select("event_type", "event_id", "value")
        .groupBy("event_type")
        .applyInPandasWithState(
            _prio_state,
            outputStructType=_PRIO_OUT_SCHEMA,
            stateStructType=_PRIO_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    drained = _drain(spark, out, "mem_stream_prio", "update")
    from pyspark.sql import Window

    # tau rises strictly whenever the kept set changes (the new minimum
    # beats the evicted one); before the sample fills, k_sample grows.
    # (k_sample, tau) is therefore a monotone discriminator of updates.
    w = Window.partitionBy("event_type").orderBy(
        F.desc("k_sample"), F.desc("tau"), F.desc("sample_ids")
    )
    return (
        drained.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .drop("__r")
    )


# ---------------------------------------------------------------------------
# Streaming Count-Min sketch (the streaming twin of text_countmin_freq) —
# the FOURTH mergeable streaming sketch family: state merge is elementwise
# counter ADDITION (commutative + associative, so any micro-batch
# partitioning of the stream yields the same counters — batching-
# independent; unlike KMV/HLL/priority-sample merges it is NOT idempotent,
# so exactly-once delivery is part of the contract, which availableNow +
# the checkpointed state store provide)
# ---------------------------------------------------------------------------
SCM_D = 4  # hash rows (the group key: one state row per depth)
SCM_W = 64  # counters per row — deliberately small so the one-sided
# overcount is visible against this corpus's ~1.5k users
SCM_TOPN = 10  # probe users (top by exact count, ties to smaller id)

_SCM_STATE_SCHEMA = StructType([StructField("cnts", ArrayType(LongType()))])
_SCM_OUT_SCHEMA = StructType(
    [
        StructField("depth", LongType()),
        StructField("bucket", LongType()),
        StructField("cnt", LongType()),
    ]
)


def _scm_state(
    key: Tuple[int], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """applyInPandasWithState kernel: one Count-Min ROW per group (the
    depth index is the group key), state = SCM_W long counters. Each
    batch adds its bucket histogram into the counters (np.bincount —
    vectorized, no per-row Python). Emits the full nonzero counter set
    every batch; counters are monotone nondecreasing, so the drained
    latest value per (depth, bucket) is MAX(cnt)."""
    import numpy as np

    cnts = (
        np.array(state.get[0], dtype=np.int64)
        if state.exists
        else np.zeros(SCM_W, dtype=np.int64)
    )
    for pdf in pdfs:
        if len(pdf):
            cnts += np.bincount(
                pdf["bucket"].to_numpy(dtype=np.int64), minlength=SCM_W
            )
    state.update((cnts.tolist(),))
    nz = np.nonzero(cnts)[0]
    yield pd.DataFrame(
        {
            "depth": np.full(len(nz), key[0], dtype=np.int64),
            "bucket": nz.astype(np.int64),
            "cnt": cnts[nz],
        }
    )


def stream_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Count-Min frequency sketch of per-user event counts:
    the {d}x{w} counter table lives in applyInPandasWithState state
    (one group per hash row), fed by JVM-side md5 bucket hashes — the
    Python kernel only ever adds histograms. After the drain, the
    top-{k} users by exact count are probed against the sketch
    (estimate = MIN over rows, always >= exact) exactly like the batch
    text_countmin_freq, so the streamed sketch's one-sided error is
    verifiable bit-for-bit against a batch SQL replay."""
    from ..functions.text import portable_hash32

    ev = _events_stream(spark, sf_dir).withWatermark("ts", WATERMARK)
    hashed = ev.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(dd).cast("long").alias("depth"),
                        (
                            portable_hash32(
                                F.concat(
                                    F.lit(f"{dd}|"),
                                    F.col("user_id").cast("string"),
                                )
                            )
                            % SCM_W
                        ).alias("bucket"),
                    )
                    for dd in range(SCM_D)
                ]
            )
        ).alias("db")
    ).select(F.col("db.depth").alias("depth"), F.col("db.bucket").alias("bucket"))
    out = hashed.groupBy("depth").applyInPandasWithState(
        _scm_state,
        outputStructType=_SCM_OUT_SCHEMA,
        stateStructType=_SCM_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    drained = _drain(spark, out, "mem_stream_cms", "update")
    sketch = drained.groupBy("depth", "bucket").agg(F.max("cnt").alias("cnt"))

    from ..queries.registry import table as _table

    exact = (
        _table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_exact"))
    )
    cand = exact.orderBy(F.desc("n_exact"), F.asc("user_id")).limit(SCM_TOPN)
    probes = cand.select(
        "user_id",
        "n_exact",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(dd).cast("long").alias("depth"),
                        (
                            portable_hash32(
                                F.concat(
                                    F.lit(f"{dd}|"),
                                    F.col("user_id").cast("string"),
                                )
                            )
                            % SCM_W
                        ).alias("bucket"),
                    )
                    for dd in range(SCM_D)
                ]
            )
        ).alias("db"),
    ).select(
        "user_id", "n_exact",
        F.col("db.depth").alias("depth"),
        F.col("db.bucket").alias("bucket"),
    )
    return (
        probes.join(F.broadcast(sketch), ["depth", "bucket"])
        .groupBy("user_id")
        .agg(
            F.first("n_exact").alias("n_exact"),
            F.min("cnt").alias("n_est"),
            (F.min("cnt") - F.first("n_exact")).alias("overcount"),
        )
    )


stream_countmin.__doc__ = stream_countmin.__doc__.format(
    d=SCM_D, w=SCM_W, k=SCM_TOPN
)


# ---------------------------------------------------------------------------
# Streaming HDR-histogram quantiles — the FIFTH mergeable streaming sketch
# family: state merge is elementwise bucket-count ADDITION (the Count-Min
# merge law applied to an exponential value histogram), so any micro-batch
# partitioning of the stream lands identical counters; quantiles are then
# rank lookups over the drained cumulative histogram
# ---------------------------------------------------------------------------
SHQ_SUB_BITS = 2  # 4 sub-buckets per power of two (the batch HDR scheme)
SHQ_CELLS = 64 * (1 << SHQ_SUB_BITS) + (1 << SHQ_SUB_BITS)  # flat cell space
SHQ_QS = ("0.5", "0.9", "0.99")  # shared decimal literals, both engines

_SHQ_STATE_SCHEMA = StructType([StructField("cnts", ArrayType(LongType()))])
_SHQ_OUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("cell", LongType()),
        StructField("cnt", LongType()),
    ]
)


def _shq_state(
    key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """applyInPandasWithState kernel: one exponential histogram per
    event type, state = SHQ_CELLS long counters. Each batch adds its
    flat-cell histogram (np.bincount — vectorized, no per-row Python).
    Counters are monotone nondecreasing, so the drained latest value
    per (event_type, cell) is MAX(cnt)."""
    import numpy as np

    cnts = (
        np.array(state.get[0], dtype=np.int64)
        if state.exists
        else np.zeros(SHQ_CELLS, dtype=np.int64)
    )
    for pdf in pdfs:
        if len(pdf):
            cnts += np.bincount(
                pdf["cell"].to_numpy(dtype=np.int64), minlength=SHQ_CELLS
            )
    state.update((cnts.tolist(),))
    nz = np.nonzero(cnts)[0]
    yield pd.DataFrame(
        {
            "event_type": np.full(len(nz), key[0], dtype=object),
            "cell": nz.astype(np.int64),
            "cnt": cnts[nz],
        }
    )


def stream_hdr_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HDR-histogram quantiles of event value (integer cents)
    per event type: the exponential (bit-length x sub-bucket) histogram
    lives in applyInPandasWithState state as a flat counter array, fed
    by JVM-side integer cell ids — the Python kernel only ever adds
    histograms. After the drain, p50/p90/p99 are rank lookups over the
    cumulative cell counts (target = ceil(q*N), the quantile cell is
    the first whose cumulative count reaches it), and the EXACT
    target-rank value from a batch replay rides along — it must land
    inside the reported cell, the constant-relative-error guarantee."""
    from ..queries.registry import table as _table

    sub_w = 1 << SHQ_SUB_BITS
    cents = F.floor(F.col("value") * 100).cast("long")

    def cell_of(frame):
        b = F.length(F.bin(F.col("c")))
        sub = F.when(b <= SHQ_SUB_BITS, F.lit(0)).otherwise(
            F.expr(
                f"(c div shiftleft(CAST(1 AS BIGINT),"
                f" length(bin(c)) - {SHQ_SUB_BITS + 1})) - {sub_w}"
            )
        )
        return frame.select(
            "event_type", (b * sub_w + sub).cast("long").alias("cell")
        )

    ev = _events_stream(spark, sf_dir).withWatermark("ts", WATERMARK)
    cells = cell_of(ev.select("event_type", cents.alias("c")))
    out = cells.groupBy("event_type").applyInPandasWithState(
        _shq_state,
        outputStructType=_SHQ_OUT_SCHEMA,
        stateStructType=_SHQ_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    drained = _drain(spark, out, "mem_stream_shq", "update")
    hist = drained.groupBy("event_type", "cell").agg(
        F.max("cnt").alias("cnt")
    )

    from pyspark.sql import Window

    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("cell")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("event_type")
    cum = hist.select(
        "event_type",
        "cell",
        "cnt",
        F.sum("cnt").over(w_cum).alias("cum_n"),
        F.sum("cnt").over(w_tot).alias("n_total"),
    )
    qs = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(float(q)).alias("q") for q in SHQ_QS])
        ).alias("q")
    )
    # alias the derived scalar frame's key before joining it back onto
    # its own parent (Catalyst rejects the ambiguous self-derived ref)
    tgt = (
        cum.select(F.col("event_type").alias("t_et"), "n_total")
        .distinct()
        .crossJoin(F.broadcast(qs))
        .select(
            "t_et",
            "q",
            F.ceil(F.col("q") * F.col("n_total")).cast("long").alias(
                "target"
            ),
        )
    )
    w_pick = Window.partitionBy("event_type", "q").orderBy("cell")
    pick = (
        cum.join(
            F.broadcast(tgt), F.col("event_type") == F.col("t_et")
        )
        .filter(F.col("cum_n") >= F.col("target"))
        .withColumn("r", F.row_number().over(w_pick))
        .filter(F.col("r") == 1)
        .select("event_type", "q", "target", "cell", "cum_n", "n_total")
    )
    raw = _table(spark, sf_dir, "events").select(
        "event_type", cents.alias("c")
    )
    w_rank = Window.partitionBy("event_type").orderBy("c")
    ranked = raw.select(
        "event_type", "c", F.row_number().over(w_rank).alias("rn")
    )
    cell_lo = F.when(
        F.expr(f"cell div {sub_w}") <= SHQ_SUB_BITS,
        F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(cell div {sub_w} AS INT) - 1)"),
    ).otherwise(
        F.expr(
            f"shiftleft(CAST({sub_w} + cell % {sub_w} AS BIGINT),"
            f" CAST(cell div {sub_w} AS INT) - {SHQ_SUB_BITS + 1})"
        )
    )
    # alias the pick side before joining back: both frames carry an
    # `event_type` lineage and Catalyst rejects the ambiguous reference
    # (the docs_rep_ngram_coverage lesson)
    picked = pick.select(
        F.col("event_type").alias("p_et"),
        "q",
        "target",
        "cell",
        "cum_n",
        "n_total",
    )
    return (
        picked.join(
            ranked,
            (F.col("p_et") == ranked.event_type)
            & (F.col("target") == ranked.rn),
        )
        .select(
            F.col("p_et").alias("event_type"),
            "q",
            "cell",
            F.expr(f"CAST(cell div {sub_w} AS BIGINT)").alias("b"),
            F.expr(f"CAST(cell % {sub_w} AS BIGINT)").alias("sub"),
            cell_lo.cast("long").alias("cell_lo"),
            "cum_n",
            "n_total",
            F.col("c").alias("exact_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Streaming EXACT distinct via bitmap OR — the SIXTH streaming state family,
# and the first whose merge is IDEMPOTENT as well as commutative/associative:
# OR-ing a replayed batch changes nothing, so unlike the counter sketches
# (Count-Min, HDR) it tolerates AT-LEAST-ONCE delivery, not just
# exactly-once — the strongest delivery contract in the suite
# ---------------------------------------------------------------------------
_SBD_STATE_SCHEMA = StructType(
    [
        StructField("blocks", ArrayType(LongType())),
        StructField("words", ArrayType(LongType())),
    ]
)
_SBD_OUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("block", LongType()),
        StructField("w", LongType()),
    ]
)


def _sbd_state(
    key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """applyInPandasWithState kernel: one SPARSE bitmap per event type —
    state = aligned (block, word) arrays, one 63-bit word per populated
    63-id block. Each batch ORs its per-block bit masks in; a replayed
    batch is a no-op (idempotence). Word values only ever gain bits
    (bits 0..62, so the signed long is nondecreasing) — the drained
    latest value per (type, block) is MAX(w)."""
    import numpy as np

    bm: dict = (
        dict(zip(state.get[0], state.get[1])) if state.exists else {}
    )
    for pdf in pdfs:
        if len(pdf):
            grouped = pdf.groupby("block")["bits"].apply(
                lambda s: int(np.bitwise_or.reduce(s.to_numpy(dtype=np.int64)))
            )
            for blk, w in grouped.items():
                bm[int(blk)] = bm.get(int(blk), 0) | int(w)
    blocks = sorted(bm)
    state.update(([int(b) for b in blocks], [int(bm[b]) for b in blocks]))
    yield pd.DataFrame(
        {
            "event_type": [key[0]] * len(blocks),
            "block": blocks,
            "w": [bm[b] for b in blocks],
        }
    )


def stream_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming EXACT distinct users per event type via a sparse packed
    bitmap (the streaming twin of q_bitmap_intersect's build): JVM-side
    (block, bitmask) hashing, a kernel that only ORs, and popcount sums
    after the drain. The drained distinct count must EQUAL the batch
    COUNT(DISTINCT) — no estimate, no error bound — and the OR merge is
    idempotent, so the result survives duplicate delivery (unit-tested
    by replaying a batch), not just exactly-once. State is one 63-bit
    word per POPULATED 63-id block per type — bounded by the dense id
    domain, the documented contract inherited from the batch bitmap
    operator (hash sparse id spaces into a surrogate domain first)."""
    ev = _events_stream(spark, sf_dir).withWatermark("ts", WATERMARK)
    cells = ev.select(
        "event_type",
        F.expr("user_id div 63").alias("block"),
        F.expr(
            "shiftleft(CAST(1 AS BIGINT), CAST(user_id % 63 AS INT))"
        ).alias("bits"),
    )
    out = cells.groupBy("event_type").applyInPandasWithState(
        _sbd_state,
        outputStructType=_SBD_OUT_SCHEMA,
        stateStructType=_SBD_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    drained = _drain(spark, out, "mem_stream_sbd", "update")
    bm = drained.groupBy("event_type", "block").agg(F.max("w").alias("w"))
    stream_n = bm.groupBy("event_type").agg(
        F.sum(F.expr("CAST(bit_count(w) AS BIGINT)")).alias(
            "n_distinct_stream"
        ),
        F.count("*").alias("n_blocks"),
    )

    from ..queries.registry import table as _table

    exact = (
        _table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_distinct_exact"))
    )
    return stream_n.join(exact, "event_type").select(
        "event_type",
        "n_blocks",
        "n_distinct_stream",
        "n_distinct_exact",
        (F.col("n_distinct_stream") == F.col("n_distinct_exact")).alias(
            "exact_match"
        ),
    )


# ---------------------------------------------------------------------------
# Streaming extrema with witnesses — min/max value per type plus the EVENT
# that attained each (witness ids). The merge is idempotent like the bitmap
# OR (lexicographic (value, id) min/max), so at-least-once delivery is safe,
# but unlike the bitmap the state is O(1) per key — the cheapest member of
# the idempotent family.
# ---------------------------------------------------------------------------
_EXT_STATE_SCHEMA = StructType(
    [
        StructField("min_v", DoubleType()),
        StructField("min_id", LongType()),
        StructField("max_v", DoubleType()),
        StructField("max_id", LongType()),
        StructField("n_batches", LongType()),
    ]
)
_EXT_OUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("min_value", DoubleType()),
        StructField("min_event_id", LongType()),
        StructField("max_value", DoubleType()),
        StructField("max_event_id", LongType()),
        StructField("n_batches", LongType()),
    ]
)


def _ext_state(
    key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """applyInPandasWithState kernel: O(1) extrema state per key. The
    witness rule is lexicographic — min by (value, event_id), max by
    (value, -event_id)... stated precisely: the SMALLEST event_id among
    rows attaining the extreme value wins, so the merge is a total
    order and replaying any batch is a no-op (idempotent)."""
    cur = (
        (state.get[0], state.get[1], state.get[2], state.get[3], state.get[4])
        if state.exists
        else (None, None, None, None, 0)
    )
    mn_v, mn_i, mx_v, mx_i, nb = cur
    for pdf in pdfs:
        pdf = pdf.dropna(subset=["value"])
        if not len(pdf):
            continue
        vmin = pdf["value"].min()
        cand_i = int(pdf.loc[pdf["value"] == vmin, "event_id"].min())
        if mn_v is None or (float(vmin), cand_i) < (mn_v, mn_i):
            mn_v, mn_i = float(vmin), cand_i
        vmax = pdf["value"].max()
        cand_x = int(pdf.loc[pdf["value"] == vmax, "event_id"].min())
        if mx_v is None or (float(vmax), -cand_x) > (mx_v, -mx_i):
            mx_v, mx_i = float(vmax), cand_x
    nb += 1
    state.update((mn_v, mn_i, mx_v, mx_i, nb))
    yield pd.DataFrame(
        {
            "event_type": [key[0]],
            "min_value": [mn_v],
            "min_event_id": [mn_i],
            "max_value": [mx_v],
            "max_event_id": [mx_i],
            "n_batches": [nb],
        }
    )


def stream_minmax_witness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming running min/max value per event type WITH WITNESS ids
    (the event that attained each extremum, smallest event_id on
    ties) — the live "worst transaction so far / best score so far"
    panel. State is four scalars + a batch counter per key; the merge
    is idempotent (lexicographic extrema), so duplicate delivery
    cannot move the answer. The drained final state must equal the
    batch MIN/MAX + witness recovery bit-for-bit."""
    ev = _events_stream(spark, sf_dir).withWatermark("ts", WATERMARK)
    out = (
        ev.select("event_type", "event_id", "value")
        .groupBy("event_type")
        .applyInPandasWithState(
            _ext_state,
            outputStructType=_EXT_OUT_SCHEMA,
            stateStructType=_EXT_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    drained = _drain(spark, out, "mem_stream_extrema", "update")
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy(F.desc("n_batches"))
    return (
        drained.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .drop("__r", "n_batches")
        .select(
            "event_type",
            "min_value",
            "min_event_id",
            "max_value",
            "max_event_id",
            (F.col("max_value") - F.col("min_value")).alias("value_range"),
        )
    )


# ---------------------------------------------------------------------------
# Streaming exact power-sum moments — the EIGHTH streaming state family:
# the state is the merge-by-ADDITION vector (n, s1..s4) of integer-cent
# power sums, so mean/variance/skew/kurtosis of the whole stream are
# recoverable from O(1) state per key at any point. s2..s4 overflow int64
# (cents^4 alone is ~6e18), so they live as STRINGS of arbitrary-precision
# Python ints — the state stays EXACT at any stream length; the emitted
# moment ratios are the only doubles, derived from the string-rendered
# exact sums identically on both engines (the VARCHAR doctrine).
# ---------------------------------------------------------------------------
_MOM_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("s1", StringType()),
        StructField("s2", StringType()),
        StructField("s3", StringType()),
        StructField("s4", StringType()),
        StructField("n_batches", LongType()),
    ]
)
_MOM_OUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n", LongType()),
        StructField("s1", StringType()),
        StructField("s2", StringType()),
        StructField("s3", StringType()),
        StructField("s4", StringType()),
        StructField("n_batches", LongType()),
    ]
)


def _mom_state(
    key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """applyInPandasWithState kernel: integer power-sum state. The cents
    are floored JVM-side (the kernel never touches a double), so the
    Python side only ever ADDS exact ints — the counter-family merge law
    (exactly-once via availableNow + checkpointed state)."""
    if state.exists:
        n, s1, s2, s3, s4, nb = state.get
        s1, s2, s3, s4 = int(s1), int(s2), int(s3), int(s4)
    else:
        n, s1, s2, s3, s4, nb = 0, 0, 0, 0, 0, 0
    for pdf in pdfs:
        cl = [int(c) for c in pdf["cents"]]
        n += len(cl)
        s1 += sum(cl)
        s2 += sum(c * c for c in cl)
        s3 += sum(c * c * c for c in cl)
        s4 += sum(c * c * c * c for c in cl)
    nb += 1
    state.update((n, str(s1), str(s2), str(s3), str(s4), nb))
    yield pd.DataFrame(
        {
            "event_type": [key[0]],
            "n": [n],
            "s1": [str(s1)],
            "s2": [str(s2)],
            "s3": [str(s3)],
            "s4": [str(s4)],
            "n_batches": [nb],
        }
    )


def stream_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact moments per event type from O(1) mergeable
    power-sum state: n, sum(c), sum(c^2..c^4) over integer cents
    (floored JVM-side), held as arbitrary-precision strings so the
    state NEVER saturates; mean/variance/skewness/excess-kurtosis are
    derived once at drain time from the string-rendered exact sums,
    with the identical double expression shape on both engines."""
    ev = _events_stream(spark, sf_dir).withWatermark("ts", WATERMARK)
    cents = ev.filter(F.col("value").isNotNull()).select(
        "event_type", F.floor(F.col("value") * 100).cast("long").alias("cents")
    )
    out = cents.groupBy("event_type").applyInPandasWithState(
        _mom_state,
        outputStructType=_MOM_OUT_SCHEMA,
        stateStructType=_MOM_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    drained = _drain(spark, out, "mem_stream_moments", "update")
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy(F.desc("n_batches"))
    last = (
        drained.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .drop("__r", "n_batches")
    )
    nd = F.col("n").cast("double")
    s1d = F.col("s1").cast("double")
    s2d = F.col("s2").cast("double")
    s3d = F.col("s3").cast("double")
    s4d = F.col("s4").cast("double")
    m2 = (nd * s2d - s1d * s1d) / (nd * nd)
    m3 = (nd * nd * s3d - F.lit(3.0) * nd * s1d * s2d
          + F.lit(2.0) * s1d * s1d * s1d) / (nd * nd * nd)
    m4 = (
        nd * nd * nd * s4d
        - F.lit(4.0) * nd * nd * s1d * s3d
        + F.lit(6.0) * nd * s1d * s1d * s2d
        - F.lit(3.0) * s1d * s1d * s1d * s1d
    ) / (nd * nd * nd * nd)
    return last.select(
        "event_type",
        F.col("n").alias("n_values"),
        F.col("s1").cast("long").alias("sum_cents"),
        F.col("s2").alias("s2_str"),
        F.col("s3").alias("s3_str"),
        F.col("s4").alias("s4_str"),
        (s1d / nd / F.lit(100.0)).alias("mean_value"),
        m2.alias("var_pop_cents2"),
        (m3 / (m2 * F.sqrt(m2))).alias("skewness"),
        (m4 / (m2 * m2) - F.lit(3.0)).alias("kurtosis_excess"),
    )


# ---------------------------------------------------------------------------
# Streaming AMS (AGMS / tug-of-war) F2 sketch — the NINTH streaming state
# family: state = R signed counters z_r = sum_u sign_r(u) * c_u per event
# type, merged by pure ADDITION (batching- and order-independent like
# Count-Min / moments); E[z_r^2] = F2 = sum_u c_u^2, the self-join size /
# repeat-rate the batch q_join_size_cm_sketch family estimates offline.
# ---------------------------------------------------------------------------
AMS_R = 16  # sketch rows: variance of the F2 estimate falls as 1/R

_AMS_STATE_SCHEMA = StructType([StructField("z", ArrayType(LongType()))])
_AMS_OUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("r", LongType()),
        StructField("z", LongType()),
        StructField("n_batches", LongType()),
    ]
)


def _ams_state(
    key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """applyInPandasWithState kernel: one AMS sketch per event type,
    state = AMS_R signed long counters. Signs are JVM-computed from the
    portable md5 hash, so the kernel only ever np.add.at's +-1s — the
    counter-family merge law (exactly-once via availableNow +
    checkpointed state)."""
    import numpy as np

    z = (
        np.array(state.get[0], dtype=np.int64)
        if state.exists
        else np.zeros(AMS_R, dtype=np.int64)
    )
    nb = 0
    for pdf in pdfs:
        if len(pdf):
            np.add.at(
                z,
                pdf["r"].to_numpy(dtype=np.int64),
                pdf["sgn"].to_numpy(dtype=np.int64),
            )
        nb += 1
    state.update((z.tolist(),))
    yield pd.DataFrame(
        {
            "event_type": [key[0]] * AMS_R,
            "r": np.arange(AMS_R, dtype=np.int64),
            "z": z,
            "n_batches": [nb] * AMS_R,
        }
    )


def stream_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming AMS/tug-of-war F2 sketch of the per-user event-count
    distribution per event type — the NINTH streaming state family:
    z_r = sum over users of sign_r(user) * count(user), a pure
    merge-by-addition state, so the drained sketch is batching- and
    arrival-order-independent (unlike SpaceSaving-style top-k state,
    which is order-dependent and deliberately NOT in this suite's
    contract). mean(z_r^2) estimates F2 = sum c_u^2 — the self-join
    size / repeat-concentration — and because the sketch is a pure
    FUNCTION of the multiset, the DuckDB oracle replays the identical
    signed sums closed-form: the drained state is bit-equal, estimate
    and exact F2 both emitted. The xAMS_R row fan-out (two small ints
    per row) is the classic AMS ingest cost, linear and map-only."""
    from ..functions.text import portable_hash32

    ev = _events_stream(spark, sf_dir).withWatermark("ts", WATERMARK)
    fan = ev.select(
        "event_type",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).cast("long").alias("r"),
                        (
                            1
                            - 2
                            * (
                                portable_hash32(
                                    F.concat(
                                        F.lit(f"{r}#"),
                                        F.col("user_id").cast("string"),
                                    )
                                )
                                % 2
                            )
                        ).cast("long").alias("sgn"),
                    )
                    for r in range(AMS_R)
                ]
            )
        ).alias("rs"),
    ).select(
        "event_type",
        F.col("rs.r").alias("r"),
        F.col("rs.sgn").alias("sgn"),
    )
    out = fan.groupBy("event_type").applyInPandasWithState(
        _ams_state,
        outputStructType=_AMS_OUT_SCHEMA,
        stateStructType=_AMS_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    drained = _drain(spark, out, "mem_stream_ams_f2", "update")
    from pyspark.sql import Window

    w = Window.partitionBy("event_type", "r").orderBy(
        F.desc("n_batches")
    )
    last = (
        drained.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "n_batches")
    )
    sk = last.groupBy("event_type").agg(
        F.count("*").alias("rows_r"),
        F.sum(F.col("z").cast("decimal(38,0)") * F.col("z")).alias("zz"),
    )
    # exact F2 from the static table (the batch replay the sketch is
    # judged against, countmin-style)
    exact = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("event_type", "user_id")
        .agg(F.count("*").alias("c"))
        .groupBy("event_type")
        .agg(
            F.sum(F.col("c").cast("decimal(38,0)") * F.col("c"))
            .cast("long")
            .alias("f2_exact")
        )
    )
    return sk.join(exact, "event_type").select(
        "event_type",
        "rows_r",
        F.col("zz").cast("long").alias("sum_z2"),
        (
            F.col("zz").cast("string").cast("double") / F.col("rows_r")
        ).alias("f2_est"),
        "f2_exact",
        (
            F.col("zz").cast("string").cast("double")
            / F.col("rows_r")
            / F.col("f2_exact").cast("double")
        ).alias("est_over_exact"),
    )


# ---------------------------------------------------------------------------
# Streaming CEP pattern matching — the live form of events_pattern_match:
# per-user journey state advanced each micro-batch, regex funnel metrics
# re-emitted on every update (the Flink-CEP / MATCH_RECOGNIZE ON STREAM
# shape). State is one string + counter per user, bounded by the per-user
# event volume like every journey-holding CEP engine.
# ---------------------------------------------------------------------------
_PATTERN_STATE_SCHEMA = StructType(
    [
        StructField("journey", StringType()),
        StructField("n", LongType()),
    ]
)
_PATTERN_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("journey_md5", StringType()),
        StructField("n_funnels", LongType()),
        StructField("first_funnel", StringType()),
        StructField("converted", StringType()),  # 'T'/'F': see note below
        StructField("longest_click_run", LongType()),
    ]
)
_EVENT_CODES = {
    "signup": "s",
    "view": "v",
    "click": "c",
    "purchase": "p",
}
_FUNNEL_RE = "s[vc]*p"


def _pattern_state(
    key: Tuple[int], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """applyInPandasWithState kernel: per-user journey string state.

    Rows within the delivered batch are sorted by (ts, event_id) before
    appending, so with the time-ordered AvailableNow replay the
    accumulated journey equals the batch reconstruction exactly (the
    stream_holt_forecast ordering contract); the regex metrics are then
    recomputed per emission — Python `re`, Java regex, and DuckDB RE2
    agree on this pattern class (leftmost non-overlapping, greedy)."""
    import hashlib
    import re

    journey, n = state.get if state.exists else ("", 0)
    rows = pd.concat(list(pdfs))
    rows = rows.sort_values(["ts", "event_id"])
    journey += "".join(
        _EVENT_CODES.get(t, "e") for t in rows["event_type"]
    )
    n += len(rows)
    state.update((journey, n))
    funnels = re.findall(_FUNNEL_RE, journey)
    runs = re.findall("c+", journey)
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "journey_md5": [hashlib.md5(journey.encode()).hexdigest()],
            "n_funnels": [len(funnels)],
            "first_funnel": [funnels[0] if funnels else ""],
            "converted": ["T" if funnels else "F"],
            "longest_click_run": [max((len(r) for r in runs), default=0)],
        }
    )


def stream_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CEP: the events_pattern_match funnel metrics computed
    live — journey state per user advanced each micro-batch, metrics
    re-emitted on update, final emission per user equal to the batch
    regex pass (and so to the same DuckDB oracle). The `converted` flag
    rides as 'T'/'F' through the state kernel (Arrow state round-trip
    keeps the schema all-long/string) and is surfaced as a real boolean
    column."""
    ev = _events_stream(spark, sf_dir).withWatermark("ts", WATERMARK)
    out = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            _pattern_state,
            outputStructType=_PATTERN_OUT_SCHEMA,
            stateStructType=_PATTERN_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    drained = _drain(spark, out, "mem_stream_pattern", "update")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        drained.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .drop("__r")
        .select(
            "user_id",
            "n_events",
            "journey_md5",
            "n_funnels",
            "first_funnel",
            (F.col("converted") == "T").alias("converted"),
            "longest_click_run",
        )
    )
