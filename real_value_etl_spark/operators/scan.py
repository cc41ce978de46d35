"""Global running aggregates without a single-partition window.

The naive `SUM(x) OVER (ORDER BY k)` plans an Exchange SinglePartition —
the entire dataset flows through ONE task, which is exactly the shape that
cannot survive 100 TB. The scalable form is the classic two-phase parallel
scan:

1. range-partition by the order key (so partition i holds a contiguous key
   range, all ranges ordered by partition id) and compute ordinary
   per-partition prefix sums — fully parallel;
2. aggregate one total per partition (a tiny n_partitions-row frame),
   compute each partition's starting offset with a window over THAT frame
   (single-partition, but over ~dozens of rows), and broadcast it back.

prefix + offset = the exact global running sum. With decimal accumulation
the regrouping changes nothing (decimal addition is associative), so the
result is bit-identical to the sequential definition the oracle computes.

CONSISTENCY HAZARD (why every operator here persists the partitioned
frame): the offsets are joined back by `spark_partition_id()`, and the
plan references the range-partitioned frame TWICE (the data path and the
broadcast-offsets path). Spark's SQL range exchange samples its
boundaries with an RDD-id-derived seed, so two separate executions of
the same `repartitionByRange` can pick DIFFERENT boundaries once the
sample no longer covers the input (observed: nondeterministic partition
histograms on a 10k-row frame; small aggregated frames are fully sampled
and stable, which is why this never fired at driver scales). Mismatched
labels would silently corrupt ranks. `persist()` makes every consumer
read the ONE materialized partitioning — label-consistent by
construction; the storage cost is one pass of the frame, the same order
as the exchange itself. (The skew-proof sessionize avoids the hazard
differently — value-derived time buckets — but rank order keys are
arbitrary composites, where a value-derived bucketing needs boundary
literals; persist is the general answer.)

CACHE LIFECYCLE: the persist cannot be released inside the lazy
builder — unpersisting before the caller's action would re-open the
hazard, and no hook fires after it. So every engine persist whose frame
the returned lazy plan still reads goes through `_persist_tracked`,
which records the frame in the current PERSIST_SCOPE list. The API
(`api.handle_run_query`) sets a fresh list for each request and calls
`release_rank_caches()` once the result is collected, which unpersists
that request's frames (non-blocking) and empties its list. Outside any
request (tests, tools, one-shot jobs) the scope is one process-wide
list; callers there release when they choose, or never — a long-lived
session that never releases degrades to Spark's LRU eviction, never an
error. Releasing matters for correctness too, not only memory: Spark's
CacheManager swaps a still-cached subtree into any later plan that
matches it, so a frame left persisted after its request would keep
serving old rows once the input files change.

A frame whose cache is dropped stays CORRECT if re-executed:
`unpersist()` removes the persist marker entirely, so nothing
re-materializes into the cache — instead, within any ONE subsequent
action Catalyst's ReuseExchange rule collapses identical exchange
subtrees into a single execution, so the nondeterministic range sample
is still drawn once per action and every consumer in that plan sees the
same partitioning. Two SEPARATE actions over a released frame may
legitimately draw different range boundaries; each action is internally
consistent, which is all per-action row-level determinism requires.
`tests/test_round7_ops.py` holds storage flat across repeated API calls.

THREADING: FastAPI runs the REST layer's sync `def` handlers (`api.py`)
in a thread pool, so requests do run concurrently. Each request's frames
live in its own context's list, so one request's release never touches
the frames another in-flight request persisted. One overlap remains:
CacheManager keeps ONE entry per distinct plan, so when two concurrent
requests persist frames with identical plans they share that entry, and
the first request to finish drops it. The other request stays correct
(previous paragraph) and just recomputes. The lock guards the
process-wide default list, which threads outside any request share.
"""

from __future__ import annotations

import threading
from contextvars import ContextVar

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Strong refs to every frame persisted through `_persist_tracked` — the
# JVM-side cache outlives the Python DataFrame object, so a weak
# registry would leak exactly the entries it was meant to release. The
# API sets a fresh list per request; the one default list is the
# process-wide scope outside any request.
PERSIST_SCOPE: ContextVar[list[DataFrame]] = ContextVar(
    "PERSIST_SCOPE", default=[]
)
_PERSIST_SCOPE_LOCK = threading.Lock()


def _persist_tracked(df: DataFrame) -> DataFrame:
    """persist() + register in the current PERSIST_SCOPE for
    `release_rank_caches` (see module doc)."""
    df = df.persist()
    with _PERSIST_SCOPE_LOCK:
        PERSIST_SCOPE.get().append(df)
    return df


def release_rank_caches() -> int:
    """Unpersist every frame `_persist_tracked` recorded in the current
    PERSIST_SCOPE since its last release; returns how many were dropped.
    Safe at any time — a released frame stays per-action consistent via
    exchange reuse (module doc, CACHE LIFECYCLE). The API calls it at
    request end; one-shot jobs may skip it."""
    with _PERSIST_SCOPE_LOCK:
        scope = PERSIST_SCOPE.get()
        frames = list(scope)
        scope.clear()
    n = 0
    for frame in frames:
        try:
            frame.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped — nothing left to release
    return n


def global_running_sum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str = "running_sum",
    n_partitions: int = 32,
    decimal_type: str = "decimal(38,2)",
) -> DataFrame:
    """Exact global running sum of `value_col` (pre-cast it to a decimal
    type for exactness; integer callers may pass decimal_type="long" —
    integer addition is exact natively) in `order_cols` order, computed
    scalably.

    `order_cols` must be a unique key (ties that straddle a range-partition
    boundary would make per-partition prefixes ill-defined)."""
    val = F.col(value_col).cast(decimal_type)
    part = df.repartitionByRange(n_partitions, *order_cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    # one execution => consistent labels (see module doc); tracked for
    # request-end release (release_rank_caches)
    part = _persist_tracked(part)
    w_in = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_prefix = part.withColumn("__prefix", F.sum(val).over(w_in))
    totals = part.groupBy("__pid").agg(F.sum(val).alias("__psum"))
    w_tot = (
        Window.orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "__pid",
        F.coalesce(F.sum("__psum").over(w_tot), F.lit(0).cast(decimal_type))
        .alias("__offset"),
    )
    return (
        with_prefix.join(F.broadcast(offsets), "__pid")
        .withColumn(out_col, (F.col("__prefix") + F.col("__offset")))
        .drop("__pid", "__prefix", "__offset")
    )


def global_row_number(
    df: DataFrame,
    order_cols: list,
    out_col: str = "row_number",
    n_partitions: int = 32,
) -> DataFrame:
    """Exact global ROW_NUMBER in `order_cols` order without an
    Exchange SinglePartition over the data: range-partition on the order
    key, rank locally per partition (fully parallel), then add each
    partition's starting offset, computed with a window over the tiny
    per-partition count frame (n_partitions rows) and broadcast back.

    `order_cols` may be strings or Column sort expressions (``F.desc(...)``
    / ``F.asc(...)``) and must form a unique key so the global order — and
    therefore every rank — is total and deterministic. The helper also
    broadcasts the frame's total row count as ``__n`` for callers that
    need it (``global_ntile`` consumes then drops it; drop it yourself if
    you only want the rank)."""
    part = df.repartitionByRange(n_partitions, *order_cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    # one execution => consistent labels (see module doc); tracked for
    # request-end release (release_rank_caches)
    part = _persist_tracked(part)
    w_in = Window.partitionBy("__pid").orderBy(*order_cols)
    with_rn = part.withColumn("__rn", F.row_number().over(w_in))
    counts = part.groupBy("__pid").agg(F.count("*").alias("__pcnt"))
    w_prev = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_all = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = counts.select(
        "__pid",
        F.coalesce(F.sum("__pcnt").over(w_prev), F.lit(0)).alias("__off"),
        F.sum("__pcnt").over(w_all).alias("__n"),
    )
    return (
        with_rn.join(F.broadcast(offsets), "__pid")
        .withColumn(out_col, (F.col("__off") + F.col("__rn")).cast("long"))
        .drop("__pid", "__rn", "__off")
    )


def global_ntile(
    df: DataFrame,
    order_cols: list,
    n_buckets: int,
    out_col: str = "bucket",
    n_partitions: int = 32,
) -> DataFrame:
    """Exact global NTILE(n_buckets) in `order_cols` order, scalably.

    ``NTILE(n) OVER (ORDER BY ...)`` with no PARTITION BY plans an
    Exchange SinglePartition — the whole frame sorts on ONE task, the
    canonical 100 TB scale-killer. But the bucket of a row is a pure
    arithmetic function of its global rank r and the total count N
    (q = N div n, rem = N mod n; the first `rem` buckets hold q+1 rows):

        bucket(r) = ceil(r / (q+1))                     if r <= rem*(q+1)
                    rem + ceil((r - rem*(q+1)) / q)      otherwise

    so the two-phase `global_row_number` rank (range-partition + local
    rank + broadcast offsets) gives bit-identical NTILE semantics —
    including SQL's split-ties-across-buckets behavior, because the rank
    is over the full (unique) composite order key — with no
    single-partition shuffle of the data. The only unpartitioned window
    runs over the n_partitions-row count frame.

    `order_cols` must be a unique composite key (as in SQL you'd always
    add a tiebreak column for deterministic NTILE)."""
    ranked = global_row_number(df, order_cols, "__grank", n_partitions)
    bucket = ntile_from_rank(
        F.col("__grank"), F.col("__n").cast("long"), n_buckets
    )
    return ranked.withColumn(out_col, bucket).drop("__grank", "__n")


def grouped_rank_stats(
    df: DataFrame,
    group_cols: list,
    order_cols: list,
    rank_col: str = "rank",
    n_col: str = "n_in_group",
    n_partitions: int = 32,
) -> DataFrame:
    """Per-group ROW_NUMBER + group size without per-group single-reducer
    windows. `Window.partitionBy(g).orderBy(...)` shuffles each group to
    ONE task — fine for high-cardinality keys, a scale-killer when the
    group column has a handful of values (each task then sorts ~N/|g|
    rows; at 100 TB that is the Exchange-SinglePartition problem wearing
    a hash partitioner). Here a group may SPAN partitions: range-partition
    on (group, order) keys, rank locally per (partition, group), then add
    per-(group, partition) starting offsets computed with windows over
    the tiny count frame — which are partitioned BY GROUP, so no
    single-partition exchange exists anywhere in the plan.

    rank + group size give every distribution rank arithmetically (the
    order key must be unique within a group, so there are no ties):
    ntile via the NTILE bucket formula, percent_rank = (r-1)/(N-1) (0
    when N = 1), cume_dist = r/N."""
    part = df.repartitionByRange(
        n_partitions, *group_cols, *order_cols
    ).withColumn(
        "__pid", F.spark_partition_id()
    )
    # one execution => consistent labels (see module doc); tracked for
    # request-end release (release_rank_caches)
    part = _persist_tracked(part)
    w_in = Window.partitionBy("__pid", *group_cols).orderBy(*order_cols)
    with_rn = part.withColumn("__rn", F.row_number().over(w_in))
    counts = part.groupBy("__pid", *group_cols).agg(
        F.count("*").alias("__pcnt")
    )
    w_prev = (
        Window.partitionBy(*group_cols)
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = (
        Window.partitionBy(*group_cols)
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    offsets = counts.select(
        "__pid",
        *group_cols,
        F.coalesce(F.sum("__pcnt").over(w_prev), F.lit(0)).alias("__off"),
        F.sum("__pcnt").over(w_all).alias("__n"),
    )
    return (
        with_rn.join(F.broadcast(offsets), ["__pid", *group_cols])
        .withColumn(rank_col, (F.col("__off") + F.col("__rn")).cast("long"))
        .withColumn(n_col, F.col("__n").cast("long"))
        .drop("__pid", "__rn", "__off", "__n")
    )


def _idiv(a, b):
    """Exact integer division of long Columns via Spark's IntegralDivide
    (`div`). `floor(a / b)` goes through DOUBLE division, whose 53-bit
    mantissa silently rounds operands above 2^53 — `div` stays in long
    arithmetic, so the NTILE bucket math is exact for any long-range
    count (all operands here are non-negative, where `div` == floor)."""
    return F.call_function("div", a, b)


def ntile_from_rank(rank, n_total, n_buckets: int):
    """NTILE bucket from a (1-based) rank column and the frame/group size
    — the arithmetic shared by `global_ntile` and grouped callers.
    `rank`/`n_total` are long Columns; returns an int Column. All
    divisions are integral (`div`), exact for any long-range count."""
    q = _idiv(n_total, F.lit(n_buckets).cast("long"))
    rem = n_total % n_buckets
    thr = rem * (q + F.lit(1))
    # when N < n_buckets, q = 0 and every row takes the first branch
    # (rank <= thr always) — greatest() keeps the dead otherwise-branch
    # from dividing by zero under ANSI evaluation
    q_safe = F.greatest(q, F.lit(1))
    return (
        F.when(
            rank <= thr,
            _idiv(rank - F.lit(1), q + F.lit(1)) + F.lit(1),
        ).otherwise(
            rem + _idiv(rank - thr - F.lit(1), q_safe) + F.lit(1)
        )
    ).cast("int")


def global_running_max(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str = "running_max",
    n_partitions: int = 32,
) -> DataFrame:
    """Exact global running MAX of `value_col` in `order_cols` order,
    by the same two-phase scan as `global_running_sum` — max is
    associative and order-insensitive within a prefix, so per-partition
    running maxes + a broadcast prefix-max-of-partition-maxes compose
    exactly (any comparable type; no decimal cast needed).

    `order_cols` must be a unique key, as for the sum variant."""
    part = df.repartitionByRange(n_partitions, *order_cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    # one execution => consistent labels (see module doc); tracked for
    # request-end release (release_rank_caches)
    part = _persist_tracked(part)
    w_in = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_prefix = part.withColumn("__prefix", F.max(F.col(value_col)).over(w_in))
    totals = part.groupBy("__pid").agg(F.max(F.col(value_col)).alias("__pmax"))
    w_tot = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "__pid", F.max("__pmax").over(w_tot).alias("__offset")
    )
    return (
        with_prefix.join(F.broadcast(offsets), "__pid")
        .withColumn(out_col, F.greatest(F.col("__prefix"), F.col("__offset")))
        .drop("__pid", "__prefix", "__offset")
    )
