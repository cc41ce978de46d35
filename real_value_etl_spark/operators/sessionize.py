"""Gap-based sessionization (batch) — lag + cumulative-flag pattern.

SURVEY.md §2.9: the reference is strictly batch with no session concept;
this is the batch form of the streaming session window (see streaming/),
and its semantics exactly match ``F.session_window`` with the same gap.

Scale design: two window passes over ONE shuffle on (key) — the lag and
the running session counter share partitioning/ordering, so Catalyst plans
a single Exchange + Sort feeding both Window operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(
    df: DataFrame,
    key: str,
    ts: str,
    gap_seconds: int,
) -> DataFrame:
    """Assign session ids: a new session starts when the gap to the previous
    event of the same key exceeds `gap_seconds`. Gaps are compared in
    microseconds, so a fractional gap such as 1800.5 s exceeds 1800 (as in
    ``F.session_window`` and DuckDB's ``epoch()``). Output: input columns +
    ``session_seq`` (1-based per key)."""
    w = Window.partitionBy(key).orderBy(ts)
    prev_ts = F.lag(ts).over(w)
    new_sess = F.when(
        prev_ts.isNull()
        | (F.unix_micros(F.col(ts)) - F.unix_micros(prev_ts) > gap_seconds * 1_000_000),
        1,
    ).otherwise(0)
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn("session_seq", F.sum(new_sess).over(wcum))


def sessionize_two_phase(
    df: DataFrame,
    key: str,
    ts: str,
    gap_seconds: int,
    n_partitions: int = 32,
) -> DataFrame:
    """Skew-proof sessionize: bit-identical `session_seq` semantics, but a
    hot key's rows are SPREAD across time buckets instead of funneled
    into one window task.

    `Window.partitionBy(key)` sends every row of a key to ONE task — with
    a Zipf key distribution (one user owning ~14% of a 100 TB event log)
    that task is the job. Sessionization is a per-key prefix scan, so the
    two-phase trick from operators/scan.py applies per key:

    1. split the timeline into n_partitions equal-width TIME BUCKETS
       (bucket id = (epoch - min_epoch) div width — a deterministic
       expression over the row, NOT `repartitionByRange` +
       `spark_partition_id()`: SQL range exchanges sample with an
       RDD-id-derived seed, so the two plan subtrees that read the
       partitioned frame could label partitions DIFFERENTLY and the
       offsets join would silently drop rows — observed at sf0.01 before
       this design; a value-derived bucket is identical in every subtree
       by construction) and run the lag + cumulative-flag pattern per
       (bucket, key) locally — fully parallel;
    2. per (bucket, key) collect a boundary frame (first/last ts, local
       session count — one row per occupied (bucket, key) pair, i.e.
       O(#keys x occupancy) rows). A window over that frame partitioned
       BY KEY decides, for each bucket, whether its first local session
       CONTINUES the key's previous bucket's last session (boundary gap
       <= gap_seconds => the locally-counted new-session flag was wrong
       by one) and the key's session offset so far; broadcast back, add.

    global session_seq = local_cumsum + offset - continues. Exact for any
    split because a session boundary is a pure function of consecutive
    timestamps, and ts ties can't straddle a boundary (gap 0 <= gap).
    The min/max epoch scan is one eager scalar aggregate (two values to
    the driver), the only action this builder runs.

    Scale contract: the boundary frame is one row per occupied (bucket,
    key) pair — broadcastable when the key universe is small (exactly
    the hot-key regime this operator exists for). For high-cardinality
    keys use plain `sessionize`: no key is hot, the per-key window
    already spreads evenly. Buckets are equal-width in TIME, so a burst
    that concentrates events into one wall-clock sliver still skews a
    bucket; raise n_partitions (buckets are cheap) if event time is very
    non-uniform."""
    epoch = F.unix_timestamp(F.col(ts))
    lo, hi = df.agg(F.min(epoch), F.max(epoch)).first()
    if lo is None:
        return df.withColumn("session_seq", F.lit(None).cast("bigint"))
    width = max(1, (int(hi) - int(lo)) // n_partitions + 1)
    bucket = F.expr(
        f"(unix_timestamp({ts}) - {int(lo)}) div {width}"
    ).alias("__b")
    part = df.withColumn("__b", bucket)
    w_local = Window.partitionBy("__b", key).orderBy(ts)
    prev_ts = F.lag(ts).over(w_local)
    new_sess = F.when(
        prev_ts.isNull()
        | (F.unix_micros(F.col(ts)) - F.unix_micros(prev_ts) > gap_seconds * 1_000_000),
        1,
    ).otherwise(0)
    wcum = w_local.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    loc = part.withColumn("__ns", new_sess).withColumn(
        "__c", F.sum("__ns").over(wcum)
    )
    bounds = loc.groupBy("__b", key).agg(
        F.min(ts).alias("__first_ts"),
        F.max(ts).alias("__last_ts"),
        F.sum("__ns").alias("__n"),
    )
    wk = Window.partitionBy(key).orderBy("__b")
    prev_last = F.lag("__last_ts").over(wk)
    cont = F.when(
        prev_last.isNotNull()
        & (
            F.unix_micros(F.col("__first_ts")) - F.unix_micros(prev_last)
            <= gap_seconds * 1_000_000
        ),
        F.lit(1),
    ).otherwise(F.lit(0))
    adj = bounds.withColumn("__cont", cont).withColumn(
        "__adj", F.col("__n") - F.col("__cont")
    )
    w_prev = wk.rowsBetween(Window.unboundedPreceding, -1)
    offsets = adj.select(
        "__b",
        key,
        "__cont",
        F.coalesce(F.sum("__adj").over(w_prev), F.lit(0)).alias("__off"),
    )
    return (
        loc.join(F.broadcast(offsets), ["__b", key])
        .withColumn(
            "session_seq", F.col("__c") + F.col("__off") - F.col("__cont")
        )
        .drop("__b", "__ns", "__c", "__off", "__cont")
    )


def session_stats(
    df: DataFrame,
    key: str,
    ts: str,
    gap_seconds: int,
    value_col: str | None = None,
) -> DataFrame:
    """Per-session aggregate: (key, session_seq, session_start, session_end,
    n_events[, sum_value]). One extra hash-agg after sessionize — the
    groupBy keys are a prefix of the window partitioning, so AQE keeps it
    co-partitioned (no second full shuffle of the fact table)."""
    sess = sessionize(df, key, ts, gap_seconds)
    aggs = [
        F.min(ts).alias("session_start"),
        F.max(ts).alias("session_end"),
        F.count("*").alias("n_events"),
    ]
    if value_col is not None:
        aggs.append(
            F.sum(F.col(value_col).cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value")
        )
    return sess.groupBy(key, "session_seq").agg(*aggs)
