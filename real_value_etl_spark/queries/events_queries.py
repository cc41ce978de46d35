"""Event-stream analytics (batch form): tumbling/sliding windows, gap
sessionization (custom + built-in session_window), as-of join, JSON
extraction, keep-first dedup.

The reference is strictly batch with zero time-series operators
(SURVEY.md §2.9); this module is the batch semantics that streaming/
re-implements incrementally — same queries, same oracles.

Scale notes: every query here shuffles at most once on its natural key
(window bucket / user_id); the as-of join is the union+window form (one
shuffle, no pair explosion) from operators/asof.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as T
from ..operators.asof import asof_join_backward
from ..operators.dedup import exact_dedup_keepfirst
from ..operators.sessionize import session_stats
from .registry import register, table

SESSION_GAP_SEC = 1800  # 30 min


def _hourly_counts(ev: DataFrame) -> DataFrame:
    """Events per (event_type, hour) as `(event_type, h, c)`: `h` is the
    hour's start in epoch seconds, `c` the count. Hours with no event of a
    type have no row."""
    return ev.groupBy(
        "event_type",
        F.unix_timestamp(F.date_trunc("hour", "ts")).alias("h"),
    ).agg(F.count("*").alias("c"))


def _dense_hourly_counts(ev: DataFrame) -> DataFrame:
    """`_hourly_counts` with every hour between a type's first and last
    hour present, `c` = 0 where the type had no event: a per-type
    `sequence(lo, hi, 3600)` spine left-joined to the counts. Lags,
    differences and block statistics need this dense series; an absent
    hour is an observation of zero, and skipping it would splice
    non-adjacent samples."""
    hc = _hourly_counts(ev)
    b = hc.groupBy("event_type").agg(
        F.min("h").alias("lo"), F.max("h").alias("hi")
    )
    spine = b.select(
        "event_type",
        F.explode(F.sequence("lo", "hi", F.lit(3600))).alias("h"),
    )
    return spine.join(hc, ["event_type", "h"], "left").select(
        "event_type", "h", F.coalesce(F.col("c"), F.lit(0)).alias("c")
    )


# ---------------------------------------------------------------------------
# Tumbling window aggregation (1 hour)
# ---------------------------------------------------------------------------
@register(
    "events_tumbling_agg",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("events", "window", "agg"),
)
def events_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows per event type via F.window (epoch-aligned,
    identical to date_trunc('hour')). Single hash-agg shuffle."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
                "sum_value"
            ),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "n_users",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# Sliding window aggregation (1 hour window, 15 min slide)
# ---------------------------------------------------------------------------
@register(
    "events_sliding_agg",
    oracle="""
    WITH slid AS (
      SELECT ws AS window_start, e.value
      FROM events e,
           unnest(generate_series(
             time_bucket(INTERVAL '15 minutes', e.ts) - INTERVAL '45 minutes',
             time_bucket(INTERVAL '15 minutes', e.ts),
             INTERVAL '15 minutes')) AS g(ws)
      WHERE e.ts >= ws AND e.ts < ws + INTERVAL '1 hour'
    )
    SELECT window_start,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM slid GROUP BY 1
    """,
    tags=("events", "window", "sliding"),
)
def events_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h/15min windows: each event lands in 4 buckets (Spark Expand
    then one hash-agg — not 4 scans)."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
                "sum_value"
            ),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )


# ---------------------------------------------------------------------------
# Gap-based sessionization (custom lag+cumsum operator)
# ---------------------------------------------------------------------------
_SESSIONIZE_ORACLE = f"""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch(ts) - epoch(lag(ts) OVER w) > {SESSION_GAP_SEC}
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
      SELECT user_id, ts, value,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM flagged
    )
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM sess GROUP BY 1, 2
"""


@register("events_sessionize", oracle=_SESSIONIZE_ORACLE, tags=("events", "session"))
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-min-gap sessions per user (lag + running-sum operator; one shuffle
    shared by both window passes). SURVEY §2.9 batch analogue."""
    ev = table(spark, sf_dir, "events")
    return session_stats(ev, "user_id", "ts", SESSION_GAP_SEC, value_col="value")


# ---------------------------------------------------------------------------
# Skew-proof sessionize: same oracle, two-phase range-partitioned plan
# ---------------------------------------------------------------------------
@register(
    "events_sessionize_scalable",
    oracle=_SESSIONIZE_ORACLE,
    tags=("events", "session", "skew"),
)
def events_sessionize_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same 30-min-gap session aggregate as `events_sessionize`, but
    through `sessionize_two_phase` (operators/sessionize.py): a hot key's
    rows SPREAD across range partitions instead of funneling into one
    window task — the Zipf-user hazard a per-key window hits at 100 TB
    (one user owning 14% of the log = one task owning 14% of the job).
    Registered against the IDENTICAL oracle as the naive form, so the
    driver proves the two plans agree bit-for-bit; the bench's skew
    section (`bench_skew`) measures them against a Zipf(1) 10x events
    table."""
    from ..operators.sessionize import sessionize_two_phase

    ev = table(spark, sf_dir, "events")
    sess = sessionize_two_phase(ev, "user_id", "ts", SESSION_GAP_SEC)
    return sess.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# Built-in session_window — same semantics, Spark-native operator
# ---------------------------------------------------------------------------
@register(
    "events_session_window",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch(ts) - epoch(lag(ts) OVER w) > {SESSION_GAP_SEC}
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
      SELECT user_id, ts,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id, session_seq
    """,
    tags=("events", "session", "builtin"),
)
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F.session_window(gap=30 min) — Spark's native merging session window;
    must agree exactly with the custom lag+cumsum operator (cross-check)."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# As-of join: latest click at-or-before each purchase (per user)
# ---------------------------------------------------------------------------
@register(
    "asof_purchase_login",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts,
           c.ts AS asof_ts,
           c.value AS asof_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    tags=("events", "asof", "join"),
)
def asof_purchase_login(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (SURVEY §2.3 — the one custom operator): for each
    purchase, the latest click at-or-before it for the same user. Union +
    last(ignorenulls) over one (user_id) shuffle — no pair explosion."""
    ev = table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    joined = asof_join_backward(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="ts",
        right_value_cols=["value"],
    )
    return joined.select("event_id", "user_id", "ts", "asof_ts", "asof_value")


# ---------------------------------------------------------------------------
# JSON property extraction + aggregation
# ---------------------------------------------------------------------------
@register(
    "events_json_extract",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
           MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events GROUP BY event_type
    """,
    tags=("events", "json"),
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction (SURVEY §2.8 J1/A1 family) aggregated per type —
    get_json_object stays in codegen; ints aggregate exactly."""
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


# ---------------------------------------------------------------------------
# Keep-first dedup (reference D1/D2 semantics, deterministic order)
# ---------------------------------------------------------------------------
@register(
    "events_dedup_keepfirst",
    oracle="""
    SELECT event_id, user_id, event_type, ts, value FROM (
      SELECT event_id, user_id, event_type, ts, value,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn
      FROM events
    ) t WHERE rn = 1
    """,
    tags=("events", "dedup", "keepfirst"),
)
def events_dedup_keepfirst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """drop_duplicates(keep='first') with an explicit deterministic order —
    the Spark-native form of reference src/etl/transformation.py:224-228,
    :395 (SURVEY §2.7 D1/D2): row_number over (key) ordered by (ts, id)."""
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    return exact_dedup_keepfirst(
        ev, keys=["user_id", "event_type"], order_by=["ts", "event_id"]
    )


# ---------------------------------------------------------------------------
# Scalar-function showcase (SURVEY §2.8: X2/X3/X5/X6, T3/T4, M1/M4)
# ---------------------------------------------------------------------------
@register(
    "etl_scalar_funcs",
    oracle="""
    SELECT event_id,
           upper(event_type) AS type_upper,
           CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) AS k_extracted,
           COALESCE(CAST(NULLIF(event_type, 'error') AS VARCHAR), 'UNKNOWN') AS type_clean,
           CAST(('0x' || substring(md5(event_type), 1, 8)) AS BIGINT) % 10000000000 AS type_hash,
           date_trunc('second', ts) AS ts_floor,
           CASE WHEN value > 50 THEN 1 ELSE 0 END AS high_flag,
           CAST(floor(value) AS BIGINT) AS value_int
    FROM events
    """,
    tags=("etl", "scalar"),
)
def etl_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference scalar-operator family on one row-level query: regex
    extract (X2), upper (X3), coalesce-default (X5), bounded string hash
    (X6, deterministic replacement for §1.4.1), floor-to-second (T4),
    bool->flag (M4), floor-cast (M1/M2)."""
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.upper("event_type").alias("type_upper"),
        F.regexp_extract("props", r'"k": (\d+)', 1).cast("long").alias("k_extracted"),
        F.coalesce(
            F.when(F.col("event_type") != "error", F.col("event_type")),
            F.lit("UNKNOWN"),
        ).alias("type_clean"),
        (
            F.conv(F.substring(F.md5("event_type"), 1, 8), 16, 10).cast("long")
            % F.lit(10_000_000_000)
        ).alias("type_hash"),
        F.date_trunc("second", "ts").alias("ts_floor"),
        F.when(F.col("value") > 50, 1).otherwise(0).alias("high_flag"),
        F.floor("value").cast("long").alias("value_int"),
    )


# ---------------------------------------------------------------------------
# Array-function showcase (SURVEY §2.8: A1-A5, O2)
# ---------------------------------------------------------------------------
@register(
    "etl_array_funcs",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
      FROM documents
    )
    SELECT doc_id,
           array_to_string(ts[1:3], '|') AS first3,
           array_to_string(list_transform(ts[1:3], x -> 'w:' || x), '|')
             AS prefixed,
           array_to_string([CAST(doc_id AS VARCHAR)], '|') AS wrapped,
           len(ts) AS n
    FROM toks
    """,
    tags=("etl", "array"),
)
def etl_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-operator family: slice/truncate (O2), element-wise transform
    with prefix (A2), scalar wrap (A4), size — all higher-order Catalyst
    expressions (reference did these as per-row Python lambdas). The array
    results are string-joined ONLY at the output boundary: list-valued
    result columns are unhashable in the driver's pandas canonicalizer,
    and the joined string carries the same information."""
    docs = table(spark, sf_dir, "documents")
    ts = F.filter(F.split("text", " "), lambda x: x != "")
    first3 = F.slice(ts, 1, 3)
    return docs.select(
        "doc_id",
        F.array_join(first3, "|").alias("first3"),
        F.array_join(
            F.transform(first3, lambda x: F.concat(F.lit("w:"), x)), "|"
        ).alias("prefixed"),
        F.array_join(F.array(F.col("doc_id").cast("string")), "|").alias(
            "wrapped"
        ),
        F.size(ts).alias("n"),
    )


# ---------------------------------------------------------------------------
# Trailing time-range window (RANGE frame, not ROWS)
# ---------------------------------------------------------------------------
@register(
    "events_trailing_1h",
    oracle="""
    SELECT event_id, user_id,
           COUNT(*) OVER w AS trailing_1h_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
             AS trailing_1h_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """,
    tags=("window", "range_frame", "events"),
)
def events_trailing_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing-hour activity (count + exact-cents value sum):
    a RANGE frame over microsecond event time — the frame is defined by a
    time interval, not a row count, so ties and irregular spacing are
    handled identically in both engines. One shuffle on user_id; the
    decimal window sum is order-free, so parallel frame evaluation cannot
    perturb the double result."""
    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        F.count("*").over(w).alias("trailing_1h_events"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("trailing_1h_value"),
    )


# ---------------------------------------------------------------------------
# Gap-filled time series (dense hourly spine, zero-filled missing buckets)
# ---------------------------------------------------------------------------
@register(
    "events_gapfill_hourly",
    oracle="""
    WITH b AS (SELECT date_trunc('hour', min(ts)) AS lo,
                      date_trunc('hour', max(ts)) AS hi FROM events),
    spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM b),
    types AS (SELECT DISTINCT event_type FROM events),
    counts AS (
      SELECT date_trunc('hour', ts) AS h, event_type,
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv
      FROM events GROUP BY 1, 2
    )
    SELECT s.h AS window_start, t.event_type,
           COALESCE(c.n, 0) AS n_events,
           COALESCE(c.sv, CAST(0 AS DOUBLE)) AS sum_value,
           (c.n IS NULL) AS is_gap
    FROM spine s CROSS JOIN types t
    LEFT JOIN counts c ON c.h = s.h AND c.event_type = t.event_type
    """,
    tags=("events", "timeseries", "gapfill"),
)
def events_gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly series per event type with missing buckets zero-filled
    and flagged — the gap-fill step monitoring/forecasting consumers need
    (an absent bucket and a zero bucket are different facts). The spine is
    `sequence(min_hour, max_hour, 1h)` exploded from a one-row aggregate —
    O(hours x types) rows, broadcast onto the aggregated counts, so the
    only fact-sized shuffle is the hourly pre-aggregation itself (at 100 TB
    the spine stays tiny while counts shrink to bucket cardinality before
    any join)."""
    e = table(spark, sf_dir, "events")
    counts = e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("h"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sv"),
    )
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("interval 1 hour"))
        ).alias("h")
    )
    # tiny-x-tiny grid: broadcast the distinct-types side explicitly so
    # the cross join can never plan as a shuffled cartesian
    types = e.select("event_type").distinct()
    grid = spine.crossJoin(F.broadcast(types))
    return grid.join(F.broadcast(counts), ["h", "event_type"], "left").select(
        F.col("h").alias("window_start"),
        "event_type",
        F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
        F.coalesce(F.col("sv"), F.lit(0.0)).alias("sum_value"),
        F.col("n").isNull().alias("is_gap"),
    )


# ---------------------------------------------------------------------------
# Keyed interval (range) join: purchase -> follow-on clicks within 30 min
# ---------------------------------------------------------------------------
@register(
    "events_interval_join",
    oracle="""
    WITH p AS (
      SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
    ), c AS (
      SELECT user_id, ts FROM events WHERE event_type = 'click'
    ), per_purchase AS (
      SELECT p.user_id, p.event_id, COUNT(c.ts) AS n_follow
      FROM p LEFT JOIN c
        ON c.user_id = p.user_id
       AND c.ts > p.ts
       AND c.ts <= p.ts + INTERVAL '30 minutes'
      GROUP BY 1, 2
    )
    SELECT user_id,
           COUNT(*) AS n_purchases,
           CAST(SUM(n_follow) AS BIGINT) AS n_follow_clicks,
           CAST(SUM(CASE WHEN n_follow > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_converted
    FROM per_purchase
    GROUP BY user_id
    """,
    tags=("events", "join", "range"),
)
def events_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed point-in-interval join (SURVEY §2.3 range/theta shape): per
    user, clicks landing in the (purchase, purchase+30min] window of each
    purchase, rolled up to per-user conversion counts.

    Naive Spark would nested-loop this; operators/rangejoin.py buckets both
    sides into 30-min epochs and equi-joins on (user_id, bucket) — shuffle
    join, no broadcast requirement, survives two large fact tables."""
    from ..operators.rangejoin import interval_join_keyed

    ev = table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("p_id"),
        F.col("ts").alias("p_start"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("p_end"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts")
    )
    matched = interval_join_keyed(
        clicks,
        purchases,
        key="user_id",
        point_ts="c_ts",
        interval_start="p_start",
        interval_end="p_end",
        bucket_seconds=1800,
        bounds="(]",
    )
    follow = matched.groupBy("user_id", "p_id").agg(
        F.count("*").alias("n_follow")
    )
    per_purchase = purchases.join(follow, ["user_id", "p_id"], "left").select(
        "user_id", "p_id", F.coalesce("n_follow", F.lit(0)).alias("n_follow")
    )
    return per_purchase.groupBy("user_id").agg(
        F.count("*").alias("n_purchases"),
        F.sum("n_follow").alias("n_follow_clicks"),
        F.sum(F.when(F.col("n_follow") > 0, 1).otherwise(0)).alias(
            "n_converted"
        ),
    )


# ---------------------------------------------------------------------------
# Sequential conversion funnel: signup -> first view after -> first purchase
# ---------------------------------------------------------------------------
@register(
    "events_funnel",
    oracle="""
    WITH s AS (
      SELECT user_id, MIN(ts) AS t_signup
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ), v AS (
      SELECT e.user_id, MIN(e.ts) AS t_view
      FROM events e JOIN s ON s.user_id = e.user_id
      WHERE e.event_type = 'view' AND e.ts >= s.t_signup
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= v.t_view
      GROUP BY e.user_id
    )
    SELECT COUNT(*) AS n_signup,
           CAST(COUNT(v.t_view) AS BIGINT) AS n_viewed,
           CAST(COUNT(p.t_purchase) AS BIGINT) AS n_purchased,
           (CAST(COUNT(p.t_purchase) AS DOUBLE) / COUNT(*)) AS conversion
    FROM s
    LEFT JOIN v ON v.user_id = s.user_id
    LEFT JOIN p ON p.user_id = v.user_id
    """,
    tags=("events", "funnel", "join", "agg"),
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 3-stage funnel with true sequential semantics (each stage's
    first event must be at-or-after the previous stage's), not the min-per-
    type approximation. Three per-user aggregations joined on user_id — at
    scale all three shuffles share the user_id partitioning."""
    ev = table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id").agg(F.min("ts").alias("t_signup"))
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .join(s, "user_id")
        .filter(F.col("ts") >= F.col("t_signup"))
        .groupBy("user_id").agg(F.min("ts").alias("t_view"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("t_view"))
        .groupBy("user_id").agg(F.min("ts").alias("t_purchase"))
    )
    return (
        s.join(v, "user_id", "left")
        .join(p, "user_id", "left")
        .agg(
            F.count("*").alias("n_signup"),
            F.count("t_view").alias("n_viewed"),
            F.count("t_purchase").alias("n_purchased"),
            (F.count("t_purchase").cast("double") / F.count("*")).alias(
                "conversion"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Cohort retention matrix (cohort = first-seen date, day-N activity)
# ---------------------------------------------------------------------------
@register(
    "events_cohort_retention",
    oracle="""
    WITH first_day AS (
      SELECT user_id, CAST(MIN(ts) AS DATE) AS cohort_date
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT f.cohort_date, e.user_id,
             date_diff('day', f.cohort_date, CAST(e.ts AS DATE)) AS day_n
      FROM events e JOIN first_day f USING (user_id)
    ), sizes AS (
      SELECT cohort_date, COUNT(*) AS cohort_size
      FROM first_day GROUP BY cohort_date
    )
    SELECT a.cohort_date, a.day_n,
           COUNT(*) AS n_active,
           ANY_VALUE(s.cohort_size) AS cohort_size,
           (CAST(COUNT(*) AS DOUBLE) / ANY_VALUE(s.cohort_size)) AS retention
    FROM activity a JOIN sizes s USING (cohort_date)
    GROUP BY 1, 2
    """,
    tags=("events", "cohort", "agg", "join"),
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users cohorted by first-seen date, counted
    on each subsequent active day. Two user_id-partitioned aggregations
    (first-seen, distinct active days) share one shuffle; the cohort-size
    side is tiny and broadcasts."""
    ev = table(spark, sf_dir, "events")
    # cohort_date is a midnight TIMESTAMP, not a DATE: Spark DateType
    # surfaces as python `date` objects in pandas while DuckDB DATE
    # becomes datetime64 — the driver's canonicalizer would mismatch the
    # same day. Midnight timestamps render identically on both sides.
    first_day = ev.groupBy("user_id").agg(
        F.min("ts").cast("date").cast("timestamp").alias("cohort_date")
    )
    activity = (
        ev.join(first_day, "user_id")
        .select(
            "cohort_date",
            "user_id",
            F.datediff(F.col("ts").cast("date"), F.col("cohort_date")).alias(
                "day_n"
            ),
        )
        .distinct()
    )
    sizes = first_day.groupBy("cohort_date").agg(
        F.count("*").alias("cohort_size")
    )
    return (
        activity.join(F.broadcast(sizes), "cohort_date")
        .groupBy("cohort_date", "day_n")
        .agg(
            F.count("*").alias("n_active"),
            F.any_value("cohort_size").alias("cohort_size"),
            (F.count("*").cast("double") / F.any_value("cohort_size")).alias(
                "retention"
            ),
        )
    )


# ---------------------------------------------------------------------------
# SCD-1 upsert: merge an update batch into current state, latest-wins
# ---------------------------------------------------------------------------
@register(
    "events_upsert_scd1",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_type, ts, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT event_type,
           COUNT(*) AS n_keys,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_latest_value,
           MAX(ts) AS max_ts
    FROM ranked WHERE rn = 1
    GROUP BY event_type
    """,
    tags=("events", "upsert", "etl", "window"),
)
def events_upsert_scd1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental refresh via operators/upsert.py: the event log is split
    into a 'current' and an 'updates' batch (even/odd ids) and merged
    latest-version-wins per (user_id, event_type) — the delta-apply pattern
    that replaces the reference's full-refresh TRUNCATE+insert at scale.
    One window shuffle, no join; result == latest-per-key over the union."""
    from ..operators.upsert import upsert_by_key

    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id", "value"
    )
    current = ev.filter(F.pmod(F.col("event_id"), F.lit(2)) == 0)
    updates = ev.filter(F.pmod(F.col("event_id"), F.lit(2)) == 1)
    merged = upsert_by_key(
        current, updates, ["user_id", "event_type"], ["ts", "event_id"]
    )
    return merged.groupBy("event_type").agg(
        F.count("*").alias("n_keys"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
            "sum_latest_value"
        ),
        F.max("ts").alias("max_ts"),
    )


# ---------------------------------------------------------------------------
# SCD-2 validity intervals: change-point history per user
# ---------------------------------------------------------------------------
@register(
    "events_scd2_history",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    changes AS (
      SELECT user_id, event_type, ts, event_id
      FROM ordered
      WHERE prev_type IS NULL OR event_type <> prev_type
    )
    SELECT user_id, event_type,
           ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS valid_to,
           (LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              IS NULL) AS is_current
    FROM changes
    """,
    tags=("events", "window", "scd"),
)
def events_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history build: each change of a user's event_type opens a
    validity interval [valid_from, valid_to), the open interval flagged
    current — the slowly-changing-dimension shape warehouses keep for
    point-in-time joins (the reference full-refreshes and keeps no history;
    this is the scalable alternative, SURVEY §2.7 / §1.4.9 discussion).

    Both windows share ONE user_id hash-partitioning: Catalyst plans a
    single exchange and the change-point filter runs between the two sorts
    — no second shuffle at any scale. Ties resolved by (ts, event_id)."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.select("user_id", "event_type", "ts", "event_id")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNull()
                | (F.col("event_type") != F.col("prev_type")))
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return changes.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w2).alias("valid_to"),
        F.lead("ts").over(w2).isNull().alias("is_current"),
    )


# ---------------------------------------------------------------------------
# Volume anomaly detection: hourly z-scores per event type
# ---------------------------------------------------------------------------
ANOMALY_Z = 2.0


@register(
    "events_anomaly_hours",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type,
             COUNT(*) AS n_hours,
             SUM(n) AS sum_n,
             SUM(n * n) AS sum_n2
      FROM hourly GROUP BY event_type
    ),
    scored AS (
      SELECT h.event_type, h.hour, h.n,
             (CAST(h.n AS DOUBLE)
              - (CAST(s.sum_n AS DOUBLE) / CAST(s.n_hours AS DOUBLE)))
             / sqrt((CAST(s.sum_n2 AS DOUBLE)
                     - (CAST(s.sum_n AS DOUBLE) * CAST(s.sum_n AS DOUBLE))
                       / CAST(s.n_hours AS DOUBLE))
                    / CAST(s.n_hours - 1 AS DOUBLE)) AS z
      FROM hourly h JOIN stats s USING (event_type)
      WHERE s.n_hours > 1
    )
    SELECT event_type, hour, n, z
    FROM scored WHERE abs(z) >= {ANOMALY_Z}
    """,
    tags=("events", "agg", "anomaly"),
)
def events_anomaly_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume anomaly detection: hours whose event count deviates >= 2
    sample standard deviations from that event type's hourly mean — the
    monitoring query a pipeline runs over its own throughput. The variance
    comes from EXACT integer sums (sum n, sum n^2 over int64 counts), so
    mean/sd/z are each a single pinned double expression (sqrt is
    IEEE-correctly-rounded in both engines) — bit-exact without any
    accumulation-order concern, unlike built-in stddev at scale.
    Plan: one hash-agg on (type, hour), a tiny per-type stats agg
    broadcast back — two shuffles total, both on pre-aggregated rows."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count("*").alias("n"))
    stats = hourly.groupBy("event_type").agg(
        F.count("*").alias("n_hours"),
        F.sum("n").alias("sum_n"),
        F.sum(F.col("n") * F.col("n")).alias("sum_n2"),
    )
    mu = F.col("sum_n").cast("double") / F.col("n_hours").cast("double")
    var = (
        F.col("sum_n2").cast("double")
        - (F.col("sum_n").cast("double") * F.col("sum_n").cast("double"))
        / F.col("n_hours").cast("double")
    ) / (F.col("n_hours") - 1).cast("double")
    z = (F.col("n").cast("double") - mu) / F.sqrt(var)
    return (
        hourly.join(F.broadcast(stats.filter(F.col("n_hours") > 1)), "event_type")
        .select("event_type", "hour", "n", z.alias("z"))
        .filter(F.abs(F.col("z")) >= ANOMALY_Z)
    )


# ---------------------------------------------------------------------------
# Global running total via the two-phase parallel scan
# ---------------------------------------------------------------------------
@register(
    "events_running_total",
    oracle="""
    SELECT event_id, ts,
           CAST(SUM(CAST(value AS DECIMAL(18,2)))
                  OVER (ORDER BY ts, event_id) AS DOUBLE) AS running_value
    FROM events
    """,
    tags=("events", "window", "scan"),
)
def events_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global running total of event value over the full stream — computed
    WITHOUT the Exchange SinglePartition a naive `SUM OVER (ORDER BY)`
    plans: operators/scan.py range-partitions on (ts, event_id), prefix-sums
    each partition in parallel, and broadcasts per-partition offsets back
    (the two-phase parallel-scan pattern). Decimal accumulation keeps the
    regrouped additions bit-identical to the oracle's sequential window."""
    from ..operators.scan import global_running_sum

    ev = table(spark, sf_dir, "events").select("event_id", "ts", "value")
    out = global_running_sum(
        ev, ["ts", "event_id"], "value", out_col="__run",
        decimal_type="decimal(38,2)",
    )
    return out.select(
        "event_id", "ts", F.col("__run").cast("double").alias("running_value")
    )


# ---------------------------------------------------------------------------
# Gap-filled time series with LINEAR INTERPOLATION (not zero-fill)
# ---------------------------------------------------------------------------
@register(
    "events_gapfill_interp",
    oracle="""
    WITH b AS (SELECT date_trunc('hour', min(ts)) AS lo,
                      date_trunc('hour', max(ts)) AS hi FROM events),
    spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM b),
    types AS (SELECT DISTINCT event_type FROM events),
    counts AS (
      SELECT date_trunc('hour', ts) AS h, event_type,
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv
      FROM events GROUP BY 1, 2
    ),
    grid AS (
      SELECT s.h, t.event_type, c.n, c.sv,
             CAST(epoch(s.h) AS BIGINT) / 3600 AS hidx
      FROM spine s CROSS JOIN types t
      LEFT JOIN counts c ON c.h = s.h AND c.event_type = t.event_type
    ),
    w AS (
      SELECT h, event_type, n, sv, hidx,
             last_value(sv IGNORE NULLS) OVER back AS pv,
             last_value(CASE WHEN sv IS NOT NULL THEN hidx END IGNORE NULLS)
               OVER back AS pidx,
             first_value(sv IGNORE NULLS) OVER fwd AS nv,
             first_value(CASE WHEN sv IS NOT NULL THEN hidx END IGNORE NULLS)
               OVER fwd AS nidx
      FROM grid
      WINDOW back AS (PARTITION BY event_type ORDER BY h
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             fwd AS (PARTITION BY event_type ORDER BY h
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT h AS window_start, event_type,
           COALESCE(n, 0) AS n_events,
           CASE WHEN sv IS NOT NULL THEN sv
                WHEN pv IS NULL THEN nv
                WHEN nv IS NULL THEN pv
                ELSE pv + (nv - pv) * (CAST(hidx - pidx AS DOUBLE)
                                       / CAST(nidx - pidx AS DOUBLE))
           END AS filled_value,
           (n IS NULL) AS is_gap
    FROM w
    """,
    tags=("events", "timeseries", "gapfill"),
)
def events_gapfill_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly series where missing buckets are LINEARLY INTERPOLATED
    between the nearest present neighbours (edges carry the nearest value)
    — the fill monitoring dashboards and feature pipelines want when zero
    is a lie. Same tiny broadcast spine as events_gapfill_hourly; the two
    ignore-nulls window passes (backward carry, forward carry) share ONE
    exchange+sort on (event_type, hour). The interpolation expression is
    written identically in both engines over identically derived doubles,
    so parity is bit-exact."""
    e = table(spark, sf_dir, "events")
    counts = e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("h"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sv"),
    )
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("interval 1 hour"))
        ).alias("h")
    )
    # counts is bucket-cardinality (hours x types) after the pre-agg —
    # broadcast IT: the left side of a left join cannot be the build side
    grid = (
        spine.crossJoin(F.broadcast(e.select("event_type").distinct()))
        .join(F.broadcast(counts), ["h", "event_type"], "left")
        .withColumn("hidx", (F.unix_timestamp("h") / F.lit(3600)).cast("long"))
    )
    back = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    fwd = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    present_idx = F.when(F.col("sv").isNotNull(), F.col("hidx"))
    w = (
        grid.withColumn("pv", F.last("sv", ignorenulls=True).over(back))
        .withColumn("pidx", F.last(present_idx, ignorenulls=True).over(back))
        .withColumn("nv", F.first("sv", ignorenulls=True).over(fwd))
        .withColumn("nidx", F.first(present_idx, ignorenulls=True).over(fwd))
    )
    frac = (F.col("hidx") - F.col("pidx")).cast("double") / (
        F.col("nidx") - F.col("pidx")
    ).cast("double")
    filled = (
        F.when(F.col("sv").isNotNull(), F.col("sv"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(F.col("pv") + (F.col("nv") - F.col("pv")) * frac)
    )
    return w.select(
        F.col("h").alias("window_start"),
        "event_type",
        F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
        filled.alias("filled_value"),
        F.col("n").isNull().alias("is_gap"),
    )


# ---------------------------------------------------------------------------
# Exponentially-weighted moving average (recursive state as ordered fold)
# ---------------------------------------------------------------------------
EWMA_ALPHA = 0.25  # exactly representable in binary => identical literals


@register(
    "events_ewma_by_user",
    oracle=f"""
    SELECT user_id,
           COUNT(*) AS n_events,
           list_reduce(
             list_prepend(CAST(0 AS DOUBLE), list(value ORDER BY ts, event_id)),
             (acc, x) -> {EWMA_ALPHA} * x + {1 - EWMA_ALPHA} * acc
           ) AS ewma
    FROM events
    GROUP BY user_id
    """,
    tags=("events", "timeseries", "recursive"),
)
def events_ewma_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA of `value` (alpha=0.25) — a RECURSIVE computation
    (r_t = a*x_t + (1-a)*r_{t-1}) no window builtin expresses. Spark form:
    collect each user's values in pinned (ts, event_id) order and run ONE
    sequential F.aggregate fold — identical fold order to the oracle's
    list_reduce, so doubles match bit-for-bit. One shuffle on user_id;
    per-group state is the user's event list (bounded by per-user
    activity, the same bound any stateful-stream EWMA carries). Alpha is
    a dyadic rational so both engines parse the identical double."""
    ev = table(spark, sf_dir, "events")
    ordered = F.array_sort(
        F.collect_list(F.struct("ts", "event_id", "value"))
    )
    return (
        ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.aggregate(
                ordered,
                F.lit(0.0),
                lambda acc, s: F.lit(EWMA_ALPHA) * s["value"]
                + F.lit(1 - EWMA_ALPHA) * acc,
            ).alias("ewma"),
        )
    )


# ---------------------------------------------------------------------------
# Rate limiting / burst detection (sliding RANGE window per user)
# ---------------------------------------------------------------------------
RATE_WINDOW_MICROS = 600_000_000  # 10 minutes
RATE_BURST_MIN = 2  # >= this many events inside one window = a burst


@register(
    "events_rate_limit",
    oracle=f"""
    WITH rated AS (
      SELECT user_id,
             COUNT(*) OVER (PARTITION BY user_id ORDER BY ts
               RANGE BETWEEN INTERVAL 10 MINUTE PRECEDING AND CURRENT ROW)
               AS in_window
      FROM events
    )
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(MAX(in_window) AS BIGINT) AS max_burst,
           CAST(SUM(CASE WHEN in_window >= {RATE_BURST_MIN} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_burst_events
    FROM rated GROUP BY user_id
    """,
    tags=("events", "window", "range_frame", "abuse"),
)
def events_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-limit / burst audit: for every event, how many events the same
    user produced in the trailing 10 minutes (RANGE frame over event
    time), rolled up per user into peak burst size and the number of
    events that fired inside a burst — the replay an abuse/rate-limit
    policy runs before turning enforcement on. One shuffle on user_id
    shared by the window and the rollup; the frame is time-defined, so
    tie handling is engine-identical."""
    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-RATE_WINDOW_MICROS, 0)
    )
    rated = e.select(
        "user_id", F.count("*").over(w).alias("in_window")
    )
    return rated.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.max("in_window").alias("max_burst"),
        F.sum(F.when(F.col("in_window") >= RATE_BURST_MIN, 1).otherwise(0))
        .cast("long")
        .alias("n_burst_events"),
    )


# ---------------------------------------------------------------------------
# First-touch attribution (session-scoped purchase -> first click)
# ---------------------------------------------------------------------------
@register(
    "events_attribution",
    oracle=f"""
    WITH flagged AS (
      SELECT event_id, user_id, ts, event_type, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch(ts) - epoch(lag(ts) OVER w) > {SESSION_GAP_SEC}
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
      SELECT event_id, user_id, ts, event_type, value,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM flagged
    ),
    clicks AS (
      SELECT user_id, session_seq, ts, value,
             ROW_NUMBER() OVER (PARTITION BY user_id, session_seq
                                ORDER BY ts, event_id) AS rn
      FROM sess WHERE event_type = 'click'
    ),
    fc AS (
      SELECT user_id, session_seq,
             ts AS first_click_ts, value AS first_click_value
      FROM clicks WHERE rn = 1
    )
    SELECT p.event_id, p.user_id, p.ts,
           f.first_click_ts, f.first_click_value
    FROM sess p
    LEFT JOIN fc f ON p.user_id = f.user_id
                  AND p.session_seq = f.session_seq
    WHERE p.event_type = 'purchase'
    """,
    tags=("events", "session", "attribution", "join"),
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: every purchase is credited to the FIRST
    click of the same user's session (30-min gap sessions from the
    sessionize operator) — the composition of sessionization + in-session
    argmin + key join that marketing/behavior pipelines run constantly.
    Purchases with no click in their session surface with NULL
    attribution (LEFT join — unattributed conversions are a real
    category, not droppable rows). The in-session first click is ONE
    min(struct(ts, event_id, value)) aggregate (lexicographic struct min;
    the unique event_id breaks ts ties), so both the sessionize windows
    and the argmin ride the same user_id shuffle."""
    from ..operators.sessionize import sessionize

    ev = table(spark, sf_dir, "events")
    sess = sessionize(ev, "user_id", "ts", SESSION_GAP_SEC)
    fc = (
        sess.filter(F.col("event_type") == "click")
        .groupBy("user_id", "session_seq")
        .agg(F.min(F.struct("ts", "event_id", "value")).alias("fc"))
        .select(
            "user_id",
            "session_seq",
            F.col("fc.ts").alias("first_click_ts"),
            F.col("fc.value").alias("first_click_value"),
        )
    )
    return (
        sess.filter(F.col("event_type") == "purchase")
        .join(fc, ["user_id", "session_seq"], "left")
        .select(
            "event_id",
            "user_id",
            "ts",
            "first_click_ts",
            "first_click_value",
        )
    )


# ---------------------------------------------------------------------------
# Holt linear (level + trend) exponential smoothing — recursive 2-state fold
# ---------------------------------------------------------------------------
HOLT_ALPHA = 0.5  # level gain  — dyadic => identical literal in both engines
HOLT_BETA = 0.25  # trend gain — dyadic


@register(
    "events_holt_linear",
    oracle=f"""
    SELECT user_id,
           n_events,
           st[1] AS level,
           st[2] AS trend,
           st[1] + st[2] AS forecast_1
    FROM (
      SELECT user_id, COUNT(*) AS cnt,
             list_reduce(
               list_prepend([CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)],
                 list_transform(list(value ORDER BY ts, event_id),
                                v -> [v, CAST(0 AS DOUBLE)])),
               (acc, x) ->
                 [{HOLT_ALPHA} * x[1] + {1 - HOLT_ALPHA} * (acc[1] + acc[2]),
                  {HOLT_BETA} * (({HOLT_ALPHA} * x[1]
                                  + {1 - HOLT_ALPHA} * (acc[1] + acc[2]))
                                 - acc[1])
                  + {1 - HOLT_BETA} * acc[2]]
             ) AS st
      FROM events GROUP BY user_id
    ) s(user_id, n_events, st)
    """,
    tags=("events", "timeseries", "recursive", "forecast"),
)
def events_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Holt LINEAR exponential smoothing — the 2-STATE recursion
    (level_t = a*x_t + (1-a)*(level+trend); trend_t = b*(level_t - level)
    + (1-b)*trend) that extends events_ewma_by_user's 1-state fold with a
    trend component, yielding a 1-step forecast. No window builtin
    expresses a 2-component recursive state; here the state is a 2-double
    ARRAY threaded through one sequential F.aggregate fold over the
    user's pinned (ts, event_id)-ordered values — the identical
    index-for-index arithmetic the oracle's list_reduce runs, so level,
    trend, and forecast all hash-match. Both gains are dyadic rationals
    (exact binary literals). One shuffle on user_id; per-group state is
    the user's event list, same bound as the EWMA."""
    ev = table(spark, sf_dir, "events")
    ordered = F.array_sort(F.collect_list(F.struct("ts", "event_id", "value")))
    lvl = lambda acc, x: (  # noqa: E731 — new level, inlined twice like SQL
        F.lit(HOLT_ALPHA) * x
        + F.lit(1 - HOLT_ALPHA)
        * (F.element_at(acc, 1) + F.element_at(acc, 2))
    )
    st = F.aggregate(
        ordered,
        F.array(F.lit(0.0), F.lit(0.0)),
        lambda acc, s: F.array(
            lvl(acc, s["value"]),
            F.lit(HOLT_BETA) * (lvl(acc, s["value"]) - F.element_at(acc, 1))
            + F.lit(1 - HOLT_BETA) * F.element_at(acc, 2),
        ),
    )
    return (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("n_events"), st.alias("st"))
        .select(
            "user_id",
            "n_events",
            F.element_at("st", 1).alias("level"),
            F.element_at("st", 2).alias("trend"),
            (F.element_at("st", 1) + F.element_at("st", 2)).alias("forecast_1"),
        )
    )


# ---------------------------------------------------------------------------
# Clickstream path mining: most common opening event sequences
# ---------------------------------------------------------------------------
PATH_LEN = 3
PATH_TOP_K = 10


@register(
    "events_top_paths",
    oracle=f"""
    WITH o AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    paths AS (
      SELECT user_id,
             array_to_string(list(event_type ORDER BY rn), '>') AS path
      FROM o WHERE rn <= {PATH_LEN}
      GROUP BY user_id
      HAVING COUNT(*) = {PATH_LEN}
    )
    SELECT path, COUNT(*) AS n_users
    FROM paths GROUP BY path
    ORDER BY n_users DESC, path LIMIT {PATH_TOP_K}
    """,
    tags=("events", "window", "sequence"),
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clickstream path mining: each user's OPENING {PATH_LEN}-event
    sequence (pinned (ts, event_id) order), counted across users — the
    top-{PATH_TOP_K} entry paths a product/funnel analysis starts from.
    Users with fewer than {PATH_LEN} events are excluded (no partial
    paths). One user_id shuffle shared by the ranking window and the
    per-user assembly; the path string is an rn-ordered join so both
    engines serialize identically. Top-k is TakeOrderedAndProject."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= PATH_LEN)
    paths = (
        o.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path"),
        )
        .filter(F.col("n") == PATH_LEN)
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_users"))
        .orderBy(F.desc("n_users"), F.asc("path"))
        .limit(PATH_TOP_K)
    )


# ---------------------------------------------------------------------------
# Markov transition matrix over event types (per-user ordered stream)
# ---------------------------------------------------------------------------
@register(
    "events_transition_matrix",
    oracle="""
    WITH o AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ),
    pairs AS (
      SELECT event_type AS cur, next_type AS nxt, COUNT(*) AS cnt
      FROM o WHERE next_type IS NOT NULL
      GROUP BY 1, 2
    ),
    tot AS (SELECT cur, CAST(SUM(cnt) AS BIGINT) AS row_total
            FROM pairs GROUP BY cur)
    SELECT p.cur, p.nxt, p.cnt,
           CAST(p.cnt AS DOUBLE) / t.row_total AS prob
    FROM pairs p JOIN tot t USING (cur)
    """,
    tags=("events", "sequence", "markov"),
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over event types: for every
    (current, next) pair in each user's pinned (ts, event_id)-ordered
    stream, the transition count and conditional probability
    P(next | current) — the behavioral model behind next-action
    prediction and anomaly scoring (improbable transitions). One
    user_id-shuffle LEAD window, one pair aggregation; the per-row
    probability is a single integer-ratio division (bit-portable). The
    row-total join side is |event_types|-sized and broadcasts."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    pairs = o.groupBy("cur", "nxt").agg(F.count("*").alias("cnt"))
    tot = pairs.groupBy("cur").agg(F.sum("cnt").alias("row_total"))
    return (
        pairs.join(F.broadcast(tot), "cur")
        .select(
            "cur",
            "nxt",
            "cnt",
            (F.col("cnt").cast("double") / F.col("row_total")).alias("prob"),
        )
    )


# ---------------------------------------------------------------------------
# Rolling active users (trailing 7-day distinct users per day)
# ---------------------------------------------------------------------------
RAU_WINDOW_DAYS = 7


@register(
    "events_rolling_active_users",
    oracle=f"""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    contrib AS (
      SELECT user_id,
             CAST(day + to_days(CAST(o.range AS INTEGER)) AS DATE) AS obs_day
      FROM ud, range(0, {RAU_WINDOW_DAYS}) o
    ),
    days AS (SELECT DISTINCT CAST(ts AS DATE) AS obs_day FROM events)
    SELECT CAST(d.obs_day AS TIMESTAMP) AS day,
           COUNT(DISTINCT c.user_id) AS active_users
    FROM days d JOIN contrib c ON c.obs_day = d.obs_day
    GROUP BY d.obs_day
    """,
    tags=("events", "window", "product-analytics"),
)
def events_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing {RAU_WINDOW_DAYS}-day active users per observed day (the
    WAU curve): COUNT DISTINCT over a sliding set window — which no
    window frame expresses directly (distinct doesn't decompose). The
    scalable form: dedupe to user-days, EXPLODE each user-day into the
    {RAU_WINDOW_DAYS} observation days it contributes to (bounded ×{RAU_WINDOW_DAYS}
    expansion of the already-deduped table, the sliding-window trick
    events_sliding_agg uses), then one distinct-count per day restricted
    to days that actually occur. Shuffles on (user, day) then day —
    never a range self-join of the raw event log against itself."""
    ev = table(spark, sf_dir, "events")
    ud = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    contrib = ud.select(
        "user_id",
        F.explode(
            F.array(*[F.date_add(F.col("day"), i) for i in range(RAU_WINDOW_DAYS)])
        ).alias("obs_day"),
    )
    days = ev.select(F.to_date("ts").alias("obs_day")).distinct()
    return (
        contrib.join(F.broadcast(days), "obs_day")
        .groupBy(F.col("obs_day").cast("timestamp").alias("day"))
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


# ---------------------------------------------------------------------------
# Transition-anomaly scan (improbable next-actions per user)
# ---------------------------------------------------------------------------
ANOM_TRANSITION_P = 0.18  # transitions rarer than this flag as anomalous


@register(
    "events_anomaly_transitions",
    oracle=f"""
    WITH o AS (
      SELECT user_id, event_type AS cur,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ),
    t AS (SELECT user_id, cur, nxt FROM o WHERE nxt IS NOT NULL),
    pairs AS (
      SELECT cur, nxt, COUNT(*) AS cnt FROM t GROUP BY cur, nxt
    ),
    tot AS (SELECT cur, CAST(SUM(cnt) AS BIGINT) AS row_total
            FROM pairs GROUP BY cur),
    probs AS (
      SELECT p.cur, p.nxt,
             CAST(p.cnt AS DOUBLE) / tt.row_total AS prob
      FROM pairs p JOIN tot tt USING (cur)
    )
    SELECT t.user_id,
           COUNT(*) AS n_transitions,
           CAST(SUM(CASE WHEN pr.prob < {ANOM_TRANSITION_P}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalous,
           MIN(pr.prob) AS min_prob
    FROM t JOIN probs pr ON pr.cur = t.cur AND pr.nxt = t.nxt
    GROUP BY t.user_id
    """,
    tags=("events", "sequence", "markov", "anomaly"),
)
def events_anomaly_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral anomaly scan: score every user's event transitions
    against the corpus-trained Markov model (events_transition_matrix)
    and count the transitions whose conditional probability falls below
    {ANOM_TRANSITION_P} — the improbable-next-action signal that feeds
    abuse/bot review queues alongside events_rate_limit's volume signal.
    The model is |event_types|²-sized and BROADCASTS back onto the
    transition stream, so scoring is map-side; one user_id shuffle for
    the LEAD window, one for the per-user rollup. min_prob is a MIN over
    identical single-division doubles — order-independent, hash-exact."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = ev.select(
        "user_id",
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    pairs = t.groupBy("cur", "nxt").agg(F.count("*").alias("cnt"))
    tot = pairs.groupBy("cur").agg(F.sum("cnt").alias("row_total"))
    probs = pairs.join(tot, "cur").select(
        "cur",
        "nxt",
        (F.col("cnt").cast("double") / F.col("row_total")).alias("prob"),
    )
    return (
        t.join(F.broadcast(probs), ["cur", "nxt"])
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_transitions"),
            F.sum(
                F.when(F.col("prob") < ANOM_TRANSITION_P, 1).otherwise(0)
            ).alias("n_anomalous"),
            F.min("prob").alias("min_prob"),
        )
    )


# ---------------------------------------------------------------------------
# Inactivity churn by signup cohort
# ---------------------------------------------------------------------------
CHURN_DAYS = 14  # inactive this long before corpus end = churned


@register(
    "events_churn_by_cohort",
    oracle=f"""
    WITH ref AS (SELECT MAX(ts) AS end_ts FROM events),
    u AS (
      SELECT user_id, MIN(ts) AS first_ts, MAX(ts) AS last_ts
      FROM events GROUP BY user_id
    )
    SELECT date_trunc('week', u.first_ts) AS cohort_week,
           COUNT(*) AS n_users,
           CAST(SUM(CASE WHEN u.last_ts
                              < r.end_ts - INTERVAL {CHURN_DAYS} DAY
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_churned,
           CAST(SUM(CASE WHEN u.last_ts
                              < r.end_ts - INTERVAL {CHURN_DAYS} DAY
                         THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
             AS churn_rate
    FROM u, ref r
    GROUP BY 1
    """,
    tags=("events", "cohort", "churn"),
)
def events_churn_by_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inactivity churn by signup cohort: a user whose LAST event is more
    than {CHURN_DAYS} days before the corpus end counts as churned; rates
    roll up per first-seen week — the retention health report next to
    events_cohort_retention's activity matrix. One user_id aggregation
    for (first, last), the single-row corpus-end timestamp broadcast
    onto it, one cohort rollup. churn_rate is one integer-ratio division
    — hash-exact."""
    ev = table(spark, sf_dir, "events")
    ref = ev.agg(F.max("ts").alias("end_ts"))
    u = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts")
    )
    churned = F.when(
        F.col("last_ts")
        < F.col("end_ts") - F.expr(f"INTERVAL {CHURN_DAYS} DAY"),
        1,
    ).otherwise(0)
    return (
        u.crossJoin(F.broadcast(ref))
        .groupBy(F.date_trunc("week", "first_ts").alias("cohort_week"))
        .agg(
            F.count("*").alias("n_users"),
            F.sum(churned).alias("n_churned"),
        )
        .select(
            "cohort_week",
            "n_users",
            "n_churned",
            (F.col("n_churned").cast("double") / F.col("n_users")).alias(
                "churn_rate"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Seasonal (hour-of-day) baseline anomalies — deviation from the SLOT mean
# ---------------------------------------------------------------------------
@register(
    "events_seasonal_baseline",
    oracle=f"""
    WITH cells AS (
      SELECT event_type, date_trunc('day', ts) AS d, hour(ts) AS hod,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2, 3
    ),
    grid AS (
      SELECT t.event_type, dd.d, h.range AS hod
      FROM (SELECT DISTINCT event_type FROM events) t,
           (SELECT DISTINCT date_trunc('day', ts) AS d FROM events) dd,
           range(0, 24) h
    ),
    filled AS (
      SELECT g.event_type, g.d, g.hod, COALESCE(c.n, 0) AS n
      FROM grid g LEFT JOIN cells c
        ON c.event_type = g.event_type AND c.d = g.d AND c.hod = g.hod
    ),
    slot AS (
      SELECT event_type, hod,
             COUNT(*) AS n_days,
             CAST(SUM(n) AS BIGINT) AS sum_n,
             CAST(SUM(n * n) AS BIGINT) AS sum_n2
      FROM filled GROUP BY event_type, hod
    ),
    scored AS (
      SELECT f.event_type, f.d, f.hod, f.n,
             (CAST(f.n AS DOUBLE)
              - CAST(s.sum_n AS DOUBLE) / CAST(s.n_days AS DOUBLE))
             / sqrt((CAST(s.sum_n2 AS DOUBLE)
                     - CAST(s.sum_n AS DOUBLE) * CAST(s.sum_n AS DOUBLE)
                       / CAST(s.n_days AS DOUBLE))
                    / CAST(s.n_days - 1 AS DOUBLE)) AS z
      FROM filled f JOIN slot s USING (event_type, hod)
      WHERE s.n_days > 1
        AND (s.sum_n2 * s.n_days) > (s.sum_n * s.sum_n)
    )
    SELECT event_type, d, hod, n, z
    FROM scored WHERE abs(z) >= {ANOMALY_Z}
    """,
    tags=("events", "agg", "anomaly", "seasonal"),
)
def events_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomaly detection: each (event_type, date, hour)
    cell is z-scored against the mean for that HOUR-OF-DAY slot across
    days — the diurnal-profile baseline that `events_anomaly_hours`'s
    flat per-type mean cannot model (a quiet 3am hour is normal at 3am
    and anomalous at 3pm). Zero cells are filled in from the full
    type x date x hour grid (tiny-cubed cross join, all broadcast — the
    gapfill idiom) so slots that go silent score properly instead of
    disappearing. Variance comes from exact integer sums (the
    events_anomaly_hours pattern); zero-variance and single-day slots
    are excluded on BOTH engines (a 0/0 z is noise, and inf does not
    hash)."""
    ev = table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type",
        F.date_trunc("day", F.col("ts")).alias("d"),
        F.hour("ts").alias("hod"),
    ).agg(F.count("*").alias("n"))
    types = ev.select("event_type").distinct()
    dates = ev.select(F.date_trunc("day", F.col("ts")).alias("d")).distinct()
    hods = spark.range(24).select(F.col("id").cast("int").alias("hod"))
    grid = types.crossJoin(F.broadcast(dates)).crossJoin(F.broadcast(hods))
    filled = grid.join(cells, ["event_type", "d", "hod"], "left").select(
        "event_type", "d", "hod", F.coalesce("n", F.lit(0)).alias("n")
    )
    slot = filled.groupBy("event_type", "hod").agg(
        F.count("*").alias("n_days"),
        F.sum("n").cast("long").alias("sum_n"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("sum_n2"),
    )
    mu = F.col("sum_n").cast("double") / F.col("n_days").cast("double")
    var = (
        F.col("sum_n2").cast("double")
        - F.col("sum_n").cast("double") * F.col("sum_n").cast("double")
        / F.col("n_days").cast("double")
    ) / (F.col("n_days") - 1).cast("double")
    z = (F.col("n").cast("double") - mu) / F.sqrt(var)
    ok_slots = slot.filter(
        (F.col("n_days") > 1)
        & (F.col("sum_n2") * F.col("n_days") > F.col("sum_n") * F.col("sum_n"))
    )
    return (
        filled.join(F.broadcast(ok_slots), ["event_type", "hod"])
        .select("event_type", "d", "hod", "n", z.alias("z"))
        .filter(F.abs(F.col("z")) >= ANOMALY_Z)
    )


# ---------------------------------------------------------------------------
# Late-arrival audit — the measurement behind every watermark decision
# ---------------------------------------------------------------------------
LATE_WATERMARK_MIN = 10  # streaming/jobs.py WATERMARK = "10 minutes"


@register(
    "events_late_arrival_audit",
    oracle=f"""
    WITH src AS (
      SELECT event_id, epoch_us(ts) AS ts_us,
             CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 8))
                  AS BIGINT) AS arr
      FROM events
    ),
    arr AS (
      SELECT event_id, ts_us,
             MAX(ts_us) OVER (ORDER BY arr, event_id) AS run_max
      FROM src
    ),
    lat AS (
      SELECT CAST(FLOOR((run_max - ts_us) / 60000000) AS BIGINT)
               AS lateness_min
      FROM arr
    )
    SELECT lateness_min,
           COUNT(*) AS n_events,
           lateness_min >= {LATE_WATERMARK_MIN} AS exceeds_watermark
    FROM lat GROUP BY lateness_min
    """,
    tags=("events", "stream", "diagnosis", "window"),
)
def events_late_arrival_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time LATENESS distribution: how far behind the
    high-watermark (max event time seen so far) each event arrives —
    arrival order simulated as a deterministic hash of the event id
    (the synthetic feed is otherwise perfectly time-ordered and the
    audit would be vacuous) — the histogram that tells you what a
    streaming watermark of {LATE_WATERMARK_MIN} minutes would actually
    drop, measured BEFORE committing to it. The arrival-order running
    max uses the two-phase parallel scan (operators/scan.py
    global_running_max): per-range-partition window prefixes + a
    broadcast prefix-max of the per-partition maxes — the oracle's
    `MAX() OVER (ORDER BY event_id)` without its Exchange
    SinglePartition. Max composes exactly (no decimal dance needed), so
    the minute-bucketed histogram hash-matches."""
    from ..operators.scan import global_running_max

    from ..functions.text import portable_hash32

    ev = table(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        portable_hash32(F.col("event_id").cast("string")).alias("arr"),
    )
    arr = global_running_max(ev, ["arr", "event_id"], "ts_us", "run_max")
    lat = arr.select(
        F.floor((F.col("run_max") - F.col("ts_us")) / 60_000_000)
        .cast("long")
        .alias("lateness_min")
    )
    return lat.groupBy("lateness_min").agg(
        F.count("*").alias("n_events"),
        (F.col("lateness_min") >= LATE_WATERMARK_MIN).alias(
            "exceeds_watermark"
        ),
    )


# ---------------------------------------------------------------------------
# Two-proportion z-test (the A/B experiment readout)
# ---------------------------------------------------------------------------
@register(
    "events_ab_test_zscore",
    oracle="""
    WITH assigned AS (
      SELECT user_id,
             user_id % 2 AS arm,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
      FROM events GROUP BY user_id
    ),
    arms AS (
      SELECT arm,
             COUNT(*) AS n_users,
             CAST(SUM(converted) AS BIGINT) AS n_converted
      FROM assigned GROUP BY arm
    ),
    wide AS (
      SELECT
        MAX(CASE WHEN arm = 0 THEN n_users END) AS n_a,
        MAX(CASE WHEN arm = 0 THEN n_converted END) AS c_a,
        MAX(CASE WHEN arm = 1 THEN n_users END) AS n_b,
        MAX(CASE WHEN arm = 1 THEN n_converted END) AS c_b
      FROM arms
    )
    SELECT n_a, c_a, n_b, c_b,
           CAST(c_a AS DOUBLE) / n_a AS p_a,
           CAST(c_b AS DOUBLE) / n_b AS p_b,
           CASE WHEN c_a + c_b = 0 OR c_a + c_b = n_a + n_b THEN NULL
                ELSE (CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)
                     / sqrt((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                            * (1.0 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                            * (1.0 / n_a + 1.0 / n_b)) END AS z
    FROM wide
    """,
    tags=("events", "agg", "stats", "evaluation"),
)
def events_ab_test_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The A/B-experiment readout: users deterministically split into two
    arms (user_id parity standing in for the assignment hash), per-arm
    conversion = reached a 'purchase' event, compared by the pooled
    two-proportion z-test. Everything until the final statistic is exact
    integer counting (per-user max-flag then per-arm sums — two narrow
    aggregations); the z-score is ONE pinned double expression over four
    integers (sqrt is correctly rounded IEEE in both engines), so the
    whole experiment report hash-matches. At scale the per-user
    aggregate is the only corpus-sized shuffle; the arm rollup is
    2 rows."""
    ev = table(spark, sf_dir, "events")
    assigned = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted"),
    ).select((F.col("user_id") % 2).alias("arm"), "converted")
    arms = assigned.groupBy("arm").agg(
        F.count("*").alias("n_users"),
        F.sum("converted").cast("long").alias("n_converted"),
    )
    wide = arms.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n_users"))).alias("n_a"),
        F.max(F.when(F.col("arm") == 0, F.col("n_converted"))).alias("c_a"),
        F.max(F.when(F.col("arm") == 1, F.col("n_users"))).alias("n_b"),
        F.max(F.when(F.col("arm") == 1, F.col("n_converted"))).alias("c_b"),
    )
    p_a = F.col("c_a").cast("double") / F.col("n_a")
    p_b = F.col("c_b").cast("double") / F.col("n_b")
    pool = (F.col("c_a") + F.col("c_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    degenerate = (F.col("c_a") + F.col("c_b") == 0) | (
        F.col("c_a") + F.col("c_b") == F.col("n_a") + F.col("n_b")
    )
    # all-convert / none-convert pools have zero variance: z is undefined
    # (ANSI Spark raises on the 0-division, DuckDB yields inf — NULL is
    # the only portable answer, as for the token-less ratio guards)
    z = F.when(degenerate, F.lit(None).cast("double")).otherwise(
        (p_a - p_b)
        / F.sqrt(
            pool
            * (F.lit(1.0) - pool)
            * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
        )
    )
    return wide.select(
        "n_a", "c_a", "n_b", "c_b",
        p_a.alias("p_a"), p_b.alias("p_b"), z.alias("z"),
    )


# ---------------------------------------------------------------------------
# FORWARD as-of join: next click at-or-after each purchase (response lag)
# ---------------------------------------------------------------------------
@register(
    "asof_next_click",
    oracle="""
    WITH p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
    c AS (SELECT user_id, ts, event_id AS c_id FROM events
          WHERE event_type = 'click'),
    nxt AS (
      SELECT p.event_id, p.user_id, p.ts, MIN(c.ts) AS next_ts
      FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.ts >= p.ts
      GROUP BY 1, 2, 3
    )
    SELECT n.event_id, n.user_id, n.ts, n.next_ts,
           MIN(c.c_id) AS next_event_id,
           CASE WHEN n.next_ts IS NULL THEN NULL
                ELSE epoch_us(n.next_ts) - epoch_us(n.ts) END AS wait_us
    FROM nxt n LEFT JOIN c
      ON c.user_id = n.user_id AND c.ts = n.next_ts
    GROUP BY 1, 2, 3, 4
    """,
    tags=("events", "asof", "join"),
)
def asof_next_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join — for each purchase, the EARLIEST click
    at-or-after it for the same user, plus the wait time: the
    time-to-response/next-event measurement that completes the as-of
    direction pair (`asof_purchase_login` is the backward half). Same
    one-shuffle union+window plan with the frame reversed
    (first-following instead of last-preceding); ties on the click
    timestamp break on the click's unique event id, so the picked row
    is deterministic on any partitioning — the oracle replays the same
    pick with a MIN over the equal-ts rows."""
    from ..operators.asof import asof_join_forward

    ev = table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("c_event_id")
    )
    joined = asof_join_forward(
        purchases,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_value_cols=["c_event_id"],
        tiebreak="c_event_id",
    )
    wait = F.when(
        F.col("next_ts").isNotNull(),
        F.unix_micros("next_ts") - F.unix_micros("ts"),
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        "next_ts",
        F.col("next_c_event_id").alias("next_event_id"),
        wait.alias("wait_us"),
    )


# ---------------------------------------------------------------------------
# SCD2 point-in-time join — events resolved against the dimension AS OF ts
# ---------------------------------------------------------------------------
@register(
    "events_scd2_pointintime",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    changes AS (
      SELECT user_id, event_type, ts, event_id
      FROM ordered
      WHERE prev_type IS NULL OR event_type <> prev_type
    ),
    hist AS (
      SELECT user_id, event_type,
             ts AS valid_from,
             LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to
      FROM changes
    ),
    nonempty AS (
      SELECT * FROM hist
      WHERE valid_to IS NULL OR valid_from < valid_to
    ),
    p AS (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase')
    SELECT p.event_id, p.user_id, p.ts,
           h.valid_from AS asof_valid_from,
           h.event_type AS state_at_purchase
    FROM p LEFT JOIN nonempty h
      ON h.user_id = p.user_id
     AND h.valid_from <= p.ts
     AND (h.valid_to IS NULL OR p.ts < h.valid_to)
    """,
    tags=("events", "scd", "asof", "join"),
)
def events_scd2_pointintime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME lookup against the SCD2 dimension: for each purchase,
    the user's state interval valid AT the purchase timestamp — the
    bi-temporal join every warehouse runs between facts and
    slowly-changing dimensions. Because SCD2 intervals are CONTIGUOUS
    per key (each valid_to is the next valid_from), "the interval
    containing ts" equals "the latest valid_from <= ts" — so the lookup
    runs as the backward AS-OF union+window (one shuffle on user_id, no
    interval-pair explosion), not a range join; empty intervals (two
    change points at one timestamp) are filtered first, making
    valid_from unique per key and the as-of pick deterministic. For
    NON-contiguous validity (gaps), the keyed interval join
    (operators/rangejoin.py) is the general path — this query pins the
    cheaper contiguous-dimension plan. The oracle states the textbook
    interval predicate; equivalence holds exactly because of
    contiguity."""
    from ..operators.asof import asof_join_backward

    ev = table(spark, sf_dir, "events")
    hist = events_scd2_history(spark, sf_dir).filter(
        F.col("valid_to").isNull() | (F.col("valid_from") < F.col("valid_to"))
    ).select(
        "user_id",
        F.col("event_type").alias("state_type"),
        "valid_from",
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    joined = asof_join_backward(
        purchases,
        hist,
        on="user_id",
        left_ts="ts",
        right_ts="valid_from",
        right_value_cols=["state_type"],
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        "asof_valid_from",
        F.col("asof_state_type").alias("state_at_purchase"),
    )


# ---------------------------------------------------------------------------
# Gaps-and-islands: longest consecutive-day activity streak per user
# ---------------------------------------------------------------------------
@register(
    "events_longest_streak",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id,
             datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d
      FROM events
    ),
    isl AS (
      SELECT user_id, d,
             d - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS g
      FROM days
    ),
    runs AS (
      SELECT user_id, g, COUNT(*) AS len, MIN(d) AS start_d
      FROM isl GROUP BY user_id, g
    ),
    best AS (
      SELECT user_id, len, start_d,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY len DESC, start_d) AS rn,
             SUM(len) OVER (PARTITION BY user_id) AS n_active,
             COUNT(*) OVER (PARTITION BY user_id) AS n_streaks
      FROM runs
    )
    SELECT user_id,
           CAST(n_active AS BIGINT) AS n_active_days,
           CAST(n_streaks AS BIGINT) AS n_streaks,
           CAST(len AS BIGINT) AS longest_streak,
           strftime(DATE '1970-01-01' + CAST(start_d AS INTEGER), '%Y-%m-%d')
             AS streak_start
    FROM best WHERE rn = 1
    """,
    tags=("events", "window", "gaps-islands"),
)
def events_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: each user's longest run of CONSECUTIVE active
    days (and its start date), plus total active days and streak count —
    the engagement metric behind "7-day streak" features. The island id
    is the classic day_number - row_number trick: constant within a
    consecutive run, strictly decreasing across gaps.

    Plan shape (ONE exchange end-to-end): events are repartitioned on
    user_id once, (user, day) dedup happens partition-locally
    (dropDuplicates on a superset of the partitioning key adds no
    exchange), and every later step — the island window, the
    per-(user, island) count, the per-user pick — requires only
    clustering that hash(user_id) already satisfies, so Catalyst chains
    them shuffle-free. Per-user state is bounded by distinct active
    days, not events; ties (equal-length streaks) break to the earliest
    start on both engines."""
    ev = table(spark, sf_dir, "events")
    days = (
        ev.select(
            "user_id",
            F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
            .cast("long")
            .alias("d"),
        )
        .repartition("user_id")
        .dropDuplicates(["user_id", "d"])
    )
    w_rn = Window.partitionBy("user_id").orderBy("d")
    isl = days.withColumn(
        "g", F.col("d") - F.row_number().over(w_rn).cast("long")
    )
    runs = isl.groupBy("user_id", "g").agg(
        F.count("*").alias("len"), F.min("d").alias("start_d")
    )
    w_user = Window.partitionBy("user_id")
    best = (
        runs.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(
                    F.desc("len"), F.asc("start_d")
                )
            ),
        )
        .withColumn("n_active", F.sum("len").over(w_user))
        .withColumn("n_streaks", F.count("*").over(w_user))
        .filter(F.col("rn") == 1)
    )
    return best.select(
        "user_id",
        F.col("n_active").cast("long").alias("n_active_days"),
        F.col("n_streaks").cast("long").alias("n_streaks"),
        F.col("len").cast("long").alias("longest_streak"),
        F.date_format(
            F.date_add(
                F.lit("1970-01-01").cast("date"), F.col("start_d").cast("int")
            ),
            "yyyy-MM-dd",
        ).alias("streak_start"),
    )


# ---------------------------------------------------------------------------
# Autocorrelation function of the hourly event-count series
# ---------------------------------------------------------------------------
ACF_MAX_LAG = 12


@register(
    "events_acf_hourly",
    oracle=f"""
    WITH hc AS (
      SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ),
    lags AS (SELECT CAST(l AS BIGINT) AS lag
             FROM unnest(range(1, {ACF_MAX_LAG + 1})) AS t(l)),
    pairs AS (
      SELECT g.lag, a.c AS x, b.c AS y
      FROM lags g
      JOIN hc a ON TRUE
      JOIN hc b ON b.h = a.h + g.lag * 3600
    ),
    sums AS (
      SELECT lag,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM pairs GROUP BY lag
    )
    SELECT lag, n AS n_pairs,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS acf
    FROM sums
    """,
    tags=("events", "timeseries", "stats"),
)
def events_acf_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the hourly event-count series at lags
    1..{ACF_MAX_LAG} hours — the periodicity detector behind seasonal
    baselines (a daily cycle shows as a peak at lag 24, here the fixture
    span keeps lags short). Pearson r per lag is assembled ONLY from
    integer sums (n, Σx, Σy, Σxy, Σx², Σy² over the lag-aligned pairs) —
    order-free, so the one double expression at the end (two sqrt + one
    division, identical textual shape) is bit-exact across engines.
    Plan: one shuffle builds the hourly series (bounded: corpus span in
    hours), which then BROADCASTS into the lag self-join — the 12-row
    lag spine and both series sides are tiny; per-lag sums aggregate in
    one more bounded shuffle. At 100 TB the hourly series is still only
    8,760 rows/year — the heavy lifting is the first aggregation, which
    is the same single map-side-combinable shuffle as any tumbling
    count."""
    ev = table(spark, sf_dir, "events")
    hc = (
        ev.groupBy(
            F.unix_timestamp(F.date_trunc("hour", "ts")).alias("h")
        )
        .agg(F.count("*").alias("c"))
    )
    lags = spark.range(1, ACF_MAX_LAG + 1).select(F.col("id").alias("lag"))
    a = hc.select(F.col("h").alias("ha"), F.col("c").alias("x"))
    b = hc.select(F.col("h").alias("hb"), F.col("c").alias("y"))
    pairs = (
        F.broadcast(lags)
        .crossJoin(F.broadcast(a))
        .join(F.broadcast(b), F.col("hb") == F.col("ha") + F.col("lag") * 3600)
    )
    sums = pairs.groupBy("lag").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    dx = F.sqrt((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"))
    dy = F.sqrt((F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double"))
    return sums.select(
        "lag",
        F.col("n").alias("n_pairs"),
        (num / (dx * dy)).alias("acf"),
    )


# ---------------------------------------------------------------------------
# Interval coalescing: union length of overlapping per-user activity windows
# ---------------------------------------------------------------------------
IVU_WINDOW_SEC = 300  # each event opens a 5-minute activity interval


@register(
    "events_interval_union",
    oracle=f"""
    WITH iv AS (
      -- date_trunc before epoch: ts carries sub-second precision, and
      -- CAST(epoch() AS BIGINT) ROUNDS in DuckDB while Spark's
      -- unix_timestamp truncates — truncate explicitly on both engines
      SELECT user_id,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS s,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT)
               + {IVU_WINDOW_SEC} AS e
      FROM events
    ),
    swept AS (
      SELECT user_id, s, e,
             MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS run_max
      FROM iv
    ),
    isl AS (
      SELECT user_id, s, e,
             SUM(CASE WHEN run_max IS NULL OR s > run_max THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY s, e
                     ROWS UNBOUNDED PRECEDING) AS island
      FROM swept
    ),
    merged AS (
      SELECT user_id, island, MIN(s) AS ms, MAX(e) AS me
      FROM isl GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(me - ms) AS BIGINT) AS covered_sec,
           CAST(MAX(me - ms) AS BIGINT) AS longest_sec
    FROM merged GROUP BY user_id
    """,
    tags=("events", "window", "interval"),
)
def events_interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval coalescing (the billing/usage-metering primitive): each
    event opens a [ts, ts+5min) activity window; overlapping windows per
    user merge, and the query reports merged-interval count, total
    covered seconds, and the longest stretch. The sweep is the standard
    running-max island trick — an interval starts a new island iff its
    start exceeds the max end among ALL earlier intervals (ordered by
    start; ROWS .. 1 PRECEDING excludes self on both engines) — so no
    self-join materializes: one window + one agg, all on the same
    hash(user_id) exchange, integers throughout. At 100 TB this is one
    shuffle of (user, 2 longs) — the naive overlap self-join it replaces
    is quadratic per hot user."""
    ev = table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.unix_timestamp("ts").alias("s"),
        (F.unix_timestamp("ts") + IVU_WINDOW_SEC).alias("e"),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    isl = iv.withColumn("run_max", F.max("e").over(w_prev)).withColumn(
        "island",
        F.sum(
            F.when(
                F.col("run_max").isNull() | (F.col("s") > F.col("run_max")), 1
            ).otherwise(0)
        ).over(w_run),
    )
    merged = isl.groupBy("user_id", "island").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )
    return merged.groupBy("user_id").agg(
        F.count("*").alias("n_intervals"),
        F.sum(F.col("me") - F.col("ms")).cast("long").alias("covered_sec"),
        F.max(F.col("me") - F.col("ms")).cast("long").alias("longest_sec"),
    )


# ---------------------------------------------------------------------------
# Cross-correlation between the click and purchase hourly series
# ---------------------------------------------------------------------------
XCORR_MAX_LAG = 6  # lags -6..+6 hours, purchase series shifted


@register(
    "events_xcorr_click_purchase",
    oracle=f"""
    WITH hc AS (
      SELECT event_type,
             CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY 1, 2
    ),
    a AS (SELECT h, c AS x FROM hc WHERE event_type = 'click'),
    b AS (SELECT h, c AS y FROM hc WHERE event_type = 'purchase'),
    lags AS (SELECT CAST(l AS BIGINT) AS lag
             FROM unnest(range({-XCORR_MAX_LAG}, {XCORR_MAX_LAG + 1})) AS t(l)),
    pairs AS (
      SELECT g.lag, a.x, b.y
      FROM lags g
      JOIN a ON TRUE
      JOIN b ON b.h = a.h + g.lag * 3600
    ),
    sums AS (
      SELECT lag,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM pairs GROUP BY lag
    )
    SELECT lag, n AS n_pairs,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS xcorr
    FROM sums
    """,
    tags=("events", "timeseries", "stats"),
)
def events_xcorr_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation function between the hourly click and purchase
    count series at lags -6..+6 hours — the lead/lag detector ("do
    clicks lead purchases, and by how much?") that complements the
    single-series ACF. Same exact-arithmetic recipe as
    events_acf_hourly: per-lag Pearson r assembled only from integer
    sums over the lag-aligned pairs, one pinned sqrt/div expression at
    the end. The two hourly series are bounded (corpus span in hours),
    so the 13-row lag spine and both series broadcast; the heavy step
    is the one map-side-combinable hourly aggregation."""
    hc = _hourly_counts(
        table(spark, sf_dir, "events").filter(
            F.col("event_type").isin("click", "purchase")
        )
    )
    a = hc.filter(F.col("event_type") == "click").select(
        F.col("h").alias("ha"), F.col("c").alias("x")
    )
    b = hc.filter(F.col("event_type") == "purchase").select(
        F.col("h").alias("hb"), F.col("c").alias("y")
    )
    lags = spark.range(-XCORR_MAX_LAG, XCORR_MAX_LAG + 1).select(
        F.col("id").alias("lag")
    )
    pairs = (
        F.broadcast(lags)
        .crossJoin(F.broadcast(a))
        .join(F.broadcast(b), F.col("hb") == F.col("ha") + F.col("lag") * 3600)
    )
    sums = pairs.groupBy("lag").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    dx = F.sqrt((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"))
    dy = F.sqrt((F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double"))
    return sums.select(
        "lag",
        F.col("n").alias("n_pairs"),
        (num / (dx * dy)).alias("xcorr"),
    )


# ---------------------------------------------------------------------------
# Burstiness: Fano factor (index of dispersion) of hourly counts per type
# ---------------------------------------------------------------------------
@register(
    "events_fano_burstiness",
    oracle="""
    WITH hc AS (
      SELECT event_type,
             CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    sums AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(c) AS BIGINT) AS s1,
             CAST(SUM(c * c) AS BIGINT) AS s2
      FROM hc GROUP BY event_type
    )
    SELECT event_type, n AS n_hours, s1 AS n_events,
           CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean_per_hour,
           (CAST(n * s2 - s1 * s1 AS DOUBLE)
              / CAST(n * (n - 1) AS DOUBLE))
             / (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) AS fano
    FROM sums
    """,
    tags=("events", "timeseries", "stats"),
)
def events_fano_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness audit: the Fano factor (sample variance / mean of the
    hourly count series) per event type — F ~ 1 is Poisson-like traffic,
    F >> 1 is bursty (the signal that decides whether rate limits and
    capacity need burst headroom). Variance comes from the integer sums
    (n·Σc² - (Σc)²)/(n·(n-1)) — order-free — and the result is three
    pinned double divisions; ACTIVE hours only (the zero-truncated
    convention, mirrored exactly in the oracle). One map-side-combinable
    hourly aggregation + a per-type roll-up of bounded size."""
    hc = _hourly_counts(table(spark, sf_dir, "events"))
    sums = hc.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n").cast("double")
    var = (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")).cast(
        "double"
    ) / (F.col("n") * (F.col("n") - 1)).cast("double")
    return sums.select(
        "event_type",
        F.col("n").alias("n_hours"),
        F.col("s1").alias("n_events"),
        mean.alias("mean_per_hour"),
        (var / mean).alias("fano"),
    )


@register(
    "events_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS prev_type
      FROM events
    ),
    trans AS (
      SELECT prev_type, event_type AS next_type,
             CAST(COUNT(*) AS BIGINT) AS n_trans
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    ),
    marg AS (
      SELECT prev_type, CAST(SUM(n_trans) AS BIGINT) AS n_from
      FROM trans GROUP BY prev_type
    )
    SELECT t.prev_type, t.next_type, t.n_trans, m.n_from,
           CAST(t.n_trans AS DOUBLE) / m.n_from AS p_transition
    FROM trans t JOIN marg m ON m.prev_type = t.prev_type
    """,
    tags=("events", "window", "graph"),
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    stream: count (prev_type -> next_type) adjacencies in (ts, event_id)
    order, with the row-conditional probability p(next|prev) — the
    behavioral model behind next-action prediction and funnel synthesis.
    Counts are exact integers; the single probability division is one
    pinned double op (identical IEEE semantics both engines). Plan: one
    hash exchange for the per-user lag window, one map-side-combinable
    groupBy on (prev, next) — the transition matrix is |types|^2 rows, so
    the marginal join broadcasts at any corpus scale; nothing downstream
    of the window ever exceeds sketch size."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    trans = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count("*").alias("n_trans")
    )
    marg = trans.groupBy("prev_type").agg(F.sum("n_trans").alias("n_from"))
    return trans.join(F.broadcast(marg), "prev_type").select(
        "prev_type",
        "next_type",
        "n_trans",
        "n_from",
        (F.col("n_trans").cast("double") / F.col("n_from")).alias(
            "p_transition"
        ),
    )


CUSUM_THRESHOLD_MEANS = 5  # breach when cumulative excess passes 5 mean-hours


@register(
    "events_changepoint_cusum",
    oracle=f"""
    WITH hc AS (
      SELECT event_type,
             CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(c) AS BIGINT) AS total
      FROM hc GROUP BY event_type
    ),
    x AS (
      SELECT hc.event_type, hc.h, hc.c, t.total,
             hc.c * t.n - t.total AS dev
      FROM hc JOIN tot t ON t.event_type = hc.event_type
    ),
    pre AS (
      SELECT event_type, h, c, total,
             SUM(dev) OVER (PARTITION BY event_type ORDER BY h) AS p
      FROM x
    ),
    rm AS (
      SELECT event_type, h, c, total, p,
             MIN(p) OVER (PARTITION BY event_type ORDER BY h) AS runmin
      FROM pre
    )
    SELECT event_type, h, c,
           CAST(p - LEAST(0, runmin) AS BIGINT) AS cusum_scaled,
           (p - LEAST(0, runmin)) > {CUSUM_THRESHOLD_MEANS} * total AS breach
    FROM rm
    """,
    tags=("events", "timeseries", "window"),
)
def events_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM changepoint detection over each event type's
    hourly traffic: accumulate deviations from the type's mean rate,
    reset at zero, flag hours where the statistic passes
    {CUSUM_THRESHOLD_MEANS} mean-hours of cumulative excess — the
    classic sequential drift detector for pipeline-volume regressions.
    The recursive S_h = max(0, S_(h-1) + x_h) is computed CLOSED-FORM as
    prefix_h - min(0, running_min(prefix)) — two stock window passes, no
    recursion, no UDF. Deviations are scaled by n_hours (x = c*n - total)
    so everything stays an exact integer; the threshold comparison
    (5 * total = 5 mean-hours in the same scale) is integer too —
    bit-exact both engines. The per-type window runs over the
    ALREADY-AGGREGATED hourly series, whose length is bounded by the
    time range (8,760 rows/type-year no matter the corpus size) — a
    per-group window here can never concentrate data-scale rows on one
    task, unlike raw-event windows (see the two-phase rank family for
    those)."""
    hc = _hourly_counts(table(spark, sf_dir, "events"))
    tot = hc.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("c").alias("total")
    )
    x = hc.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "h",
        "c",
        "total",
        (F.col("c") * F.col("n") - F.col("total")).alias("dev"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pre = x.withColumn("p", F.sum("dev").over(w))
    rm = pre.withColumn("runmin", F.min("p").over(w))
    s = F.col("p") - F.least(F.lit(0), F.col("runmin"))
    return rm.select(
        "event_type",
        "h",
        "c",
        s.alias("cusum_scaled"),
        (s > F.lit(CUSUM_THRESHOLD_MEANS) * F.col("total")).alias("breach"),
    )


# ---------------------------------------------------------------------------
# Maximum burst interval (Kadane's max-subarray, closed-form on windows)
# ---------------------------------------------------------------------------
BURST_BIAS = 1 << 46  # prefix-sum bias: |prefix| < 2^46 (total*n_hours*2
# < 2^46 holds through ~4e9 events/type-year; documented bound)
BURST_PACK = 1 << 14  # position packing: series length/type < 16,384 hours
# (~1.9 hourly years); longer ranges pre-aggregate to days first


def burst_key_guarded_sql() -> str:
    """The packed Kadane key with a LOUD bound guard (r9 ADVICE): a
    violated packing bound would corrupt the key IDENTICALLY on both
    engines, so the oracle-parity gate cannot catch it — the result
    would be green but not the true max burst. raise_error() fails the
    job instead; the DuckDB oracle carries the same CASE with error().
    Expects columns `rn` (per-type position) and `p` (scaled prefix sum)
    in scope. Unit-tested directly in tests/test_round10_ops.py."""
    return (
        f"CASE WHEN rn >= {BURST_PACK} OR abs(p) >= {BURST_BIAS} THEN"
        " CAST(raise_error('events_max_burst_interval: packing bound"
        " exceeded (rn < 2^14, |prefix| < 2^46); pre-aggregate to"
        f" days') AS BIGINT) ELSE (p + {BURST_BIAS}L) * {BURST_PACK}L"
        " + rn END"
    )


@register(
    "events_max_burst_interval",
    oracle=f"""
    WITH hc AS (
      SELECT event_type,
             CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(c) AS BIGINT) AS total
      FROM hc GROUP BY event_type
    ),
    x AS (
      SELECT hc.event_type, hc.h, t.total,
             hc.c * t.n - t.total AS dev,
             ROW_NUMBER() OVER (PARTITION BY hc.event_type ORDER BY hc.h)
               AS rn
      FROM hc JOIN tot t ON t.event_type = hc.event_type
    ),
    pre AS (
      SELECT *, SUM(dev) OVER (PARTITION BY event_type ORDER BY rn) AS p
      FROM x
    ),
    keyed AS (
      SELECT *, CASE WHEN rn >= {BURST_PACK} OR abs(p) >= {BURST_BIAS}
                THEN CAST(error('events_max_burst_interval: packing bound '
                                'exceeded (rn < 2^14, |prefix| < 2^46)')
                          AS BIGINT)
                ELSE (p + {BURST_BIAS}) * {BURST_PACK} + rn END AS key
      FROM pre
    ),
    mk AS (
      SELECT *,
             LEAST({BURST_BIAS * BURST_PACK},
                   COALESCE(MIN(key) OVER (
                     PARTITION BY event_type ORDER BY rn
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     {BURST_BIAS * BURST_PACK})) AS mkey
      FROM keyed
    ),
    sfr AS (
      SELECT event_type, h, rn, total,
             p - (mkey // {BURST_PACK} - {BURST_BIAS}) AS s,
             mkey % {BURST_PACK} AS min_pos
      FROM mk
    ),
    best AS (
      SELECT event_type,
             MAX(s * {BURST_PACK} + ({BURST_PACK} - rn)) AS bk
      FROM sfr GROUP BY event_type
    ),
    pick AS (
      SELECT event_type, bk // {BURST_PACK} AS burst_scaled,
             {BURST_PACK} - bk % {BURST_PACK} AS end_rn
      FROM best
    ),
    at_end AS (
      SELECT p.event_type, p.burst_scaled, p.end_rn,
             f.h AS end_h, f.min_pos + 1 AS start_rn, f.total
      FROM pick p JOIN sfr f
        ON f.event_type = p.event_type AND f.rn = p.end_rn
    )
    SELECT e.event_type, s.h AS start_h, e.end_h,
           CAST(e.end_rn - e.start_rn + 1 AS BIGINT) AS len_hours,
           CAST(e.burst_scaled AS BIGINT) AS burst_scaled,
           CAST(e.burst_scaled AS DOUBLE) / e.total AS burst_mean_hours
    FROM at_end e JOIN sfr s
      ON s.event_type = e.event_type AND s.rn = e.start_rn
    """,
    tags=("events", "timeseries", "window"),
)
def events_max_burst_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MAXIMUM-SUM contiguous hour interval of each event type's
    traffic above its own mean rate (Kadane's max-subarray over the
    mean-centered hourly series) — "when exactly was the burst, and how
    big": start/end hour, length, and the burst mass in exact scaled
    units plus mean-hours. Kadane's recursive best-ending-here is
    computed CLOSED-FORM, the same trick as events_changepoint_cusum:
    best_end(h) = prefix(h) - min(0, min prefix BEFORE h), via two stock
    window passes. Both argmins and argmaxes are made total and
    deterministic by integer KEY PACKING (the winnowing trick):
    minimizing (prefix + 2^46)*2^14 + rn picks the smallest prefix and
    breaks ties on the EARLIEST position (longest burst); maximizing
    s*2^14 + (2^14 - rn) picks the largest burst sum, ties to the
    earliest end. Deviations are scaled by n_hours (dev = c*n - total)
    so every quantity through the packing is an exact integer —
    bit-equal on both engines; the single double division at the end is
    pinned. Bounds (documented): |prefix| < 2^46 holds to ~4e9
    events/type-year; series length per type < 2^14 rows (~1.9 hourly
    years — longer ranges pre-aggregate to days). The windows run over
    the ALREADY-AGGREGATED hourly series (bounded per type-year), and
    the two recovery joins touch type-count-sized frames — nothing
    data-scale ever crosses one task."""
    hc = _hourly_counts(table(spark, sf_dir, "events"))
    tot = hc.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("c").alias("total")
    )
    w_ord = Window.partitionBy("event_type").orderBy("h")
    x = hc.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "h",
        "total",
        (F.col("c") * F.col("n") - F.col("total")).alias("dev"),
        F.row_number().over(w_ord).alias("rn"),
    )
    w_run = Window.partitionBy("event_type").orderBy("rn").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_prev = Window.partitionBy("event_type").orderBy("rn").rowsBetween(
        Window.unboundedPreceding, -1
    )
    pre = x.withColumn("p", F.sum("dev").over(w_run))
    key0 = F.lit(BURST_BIAS * BURST_PACK).cast("long")
    keyed = pre.withColumn("key", F.expr(burst_key_guarded_sql()))
    mk = keyed.withColumn(
        "mkey", F.least(key0, F.coalesce(F.min("key").over(w_prev), key0))
    )
    sfr = mk.select(
        "event_type",
        "h",
        "rn",
        "total",
        (
            F.col("p")
            - (F.expr(f"mkey div {BURST_PACK}") - F.lit(BURST_BIAS))
        ).alias("s"),
        (F.col("mkey") % BURST_PACK).alias("min_pos"),
    )
    best = sfr.groupBy("event_type").agg(
        F.max(
            F.col("s") * BURST_PACK + (F.lit(BURST_PACK) - F.col("rn"))
        ).alias("bk")
    )
    pick = best.select(
        "event_type",
        F.expr(f"bk div {BURST_PACK}").alias("burst_scaled"),
        (F.lit(BURST_PACK) - F.col("bk") % BURST_PACK).alias("end_rn"),
    )
    at_end = pick.join(
        sfr.select(
            "event_type",
            F.col("rn").alias("end_rn"),
            F.col("h").alias("end_h"),
            (F.col("min_pos") + 1).alias("start_rn"),
            "total",
        ),
        ["event_type", "end_rn"],
    )
    return at_end.join(
        sfr.select(
            "event_type",
            F.col("rn").alias("start_rn"),
            F.col("h").alias("start_h"),
        ),
        ["event_type", "start_rn"],
    ).select(
        "event_type",
        "start_h",
        "end_h",
        (F.col("end_rn") - F.col("start_rn") + 1).alias("len_hours"),
        "burst_scaled",
        (F.col("burst_scaled").cast("double") / F.col("total")).alias(
            "burst_mean_hours"
        ),
    )


# ---------------------------------------------------------------------------
# Holt-Winters ADDITIVE seasonal smoothing (level + trend + 24 hourly
# seasonal states) — the 26-state recursive fold
# ---------------------------------------------------------------------------
HW_ALPHA = 0.5  # level gain — dyadic
HW_BETA = 0.25  # trend gain — dyadic
HW_GAMMA = 0.25  # seasonal gain — dyadic
HW_M = 24  # season length: hour-of-day


def _hw_oracle() -> str:
    a, b, g = HW_ALPHA, HW_BETA, HW_GAMMA
    # new level, inlined exactly like the Spark lambda (3 textual copies)
    lvl = (
        f"({a} * (x[2] - acc[CAST(x[1] AS BIGINT) + 3])"
        f" + {1 - a} * (acc[1] + acc[2]))"
    )
    step = f"""[
        {lvl},
        {b} * ({lvl} - acc[1]) + {1 - b} * acc[2]
      ] || list_transform(acc[3:{HW_M + 2}],
             (v, i) -> CASE WHEN i = CAST(x[1] AS BIGINT) + 1
                            THEN {g} * (x[2] - {lvl}) + {1 - g}
                                 * acc[CAST(x[1] AS BIGINT) + 3]
                            ELSE v END)
        || [x[1]]"""
    zeros = ", ".join(["CAST(0 AS DOUBLE)"] * (HW_M + 2))
    return f"""
    WITH hc AS (
      SELECT event_type,
             CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h,
             CAST(COUNT(*) AS DOUBLE) AS x
      FROM events GROUP BY 1, 2
    ),
    folded AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours,
             list_reduce(
               list_prepend([{zeros}, CAST(-1 AS DOUBLE)],
                 list([CAST((h // 3600) % {HW_M} AS DOUBLE), x] ORDER BY h)),
               (acc, x) -> {step}
             ) AS st
      FROM hc GROUP BY event_type
    )
    SELECT event_type, n_hours,
           st[1] AS level, st[2] AS trend,
           st[CAST((CAST(st[{HW_M + 3}] AS BIGINT) + 1) % {HW_M} AS BIGINT) + 3]
             AS season_next,
           st[1] + st[2]
             + st[CAST((CAST(st[{HW_M + 3}] AS BIGINT) + 1) % {HW_M}
                       AS BIGINT) + 3] AS forecast_1
    FROM folded
    """


@register(
    "events_holt_winters",
    oracle=_hw_oracle(),
    tags=("events", "timeseries", "recursive", "forecast"),
)
def events_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type Holt-Winters ADDITIVE seasonal smoothing over the hourly
    traffic series: level + trend + {m} hour-of-day seasonal states —
    the forecasting recursion behind "expected volume next hour given
    the time of day", extending events_holt_linear's 2-state fold to a
    {m2}-double rotating state vector. No window builtin expresses a
    26-component recursion; the state rides ONE sequential F.aggregate
    fold per event type over the pinned h-ordered hourly series, each
    step replacing exactly the active seasonal slot via an
    index-addressed transform (Spark's 0-based lambda index vs DuckDB's
    1-based is offset explicitly — the cross-engine trap). All three
    gains are dyadic rationals (exact binary literals), the new-level
    expression is textually inlined three times on BOTH engines so
    every IEEE op sequence matches, and the fold input is the
    ALREADY-AGGREGATED hourly series — bounded per type-year, so the
    collected per-group list can never hold data-scale rows (the same
    bound every events_* hourly fold documents)."""
    ev = table(spark, sf_dir, "events")
    hc = ev.groupBy(
        "event_type",
        F.unix_timestamp(F.date_trunc("hour", "ts")).alias("h"),
    ).agg(F.count("*").cast("double").alias("x"))
    hc = hc.select(
        "event_type",
        "h",
        F.expr(f"CAST((h div 3600) % {HW_M} AS DOUBLE)").alias("slot"),
        "x",
    )
    ordered = F.array_sort(F.collect_list(F.struct("h", "slot", "x")))
    init = F.array(*([F.lit(0.0)] * (HW_M + 2) + [F.lit(-1.0)]))

    def lvl(acc, s):
        sm = F.element_at(acc, (s["slot"].cast("int") + 3))
        return F.lit(HW_ALPHA) * (s["x"] - sm) + F.lit(1 - HW_ALPHA) * (
            F.element_at(acc, 1) + F.element_at(acc, 2)
        )

    def step(acc, s):
        sm = F.element_at(acc, (s["slot"].cast("int") + 3))
        new_seas = F.transform(
            F.slice(acc, 3, HW_M),
            lambda v, i: F.when(
                i == s["slot"].cast("int"),
                F.lit(HW_GAMMA) * (s["x"] - lvl(acc, s))
                + F.lit(1 - HW_GAMMA) * sm,
            ).otherwise(v),
        )
        return F.concat(
            F.array(
                lvl(acc, s),
                F.lit(HW_BETA) * (lvl(acc, s) - F.element_at(acc, 1))
                + F.lit(1 - HW_BETA) * F.element_at(acc, 2),
            ),
            new_seas,
            F.array(s["slot"]),
        )

    st = F.aggregate(ordered, init, step)
    nxt = F.element_at(
        F.col("st"),
        (
            (F.element_at("st", HW_M + 3).cast("long") + 1) % HW_M
        ).cast("int")
        + 3,
    )
    return (
        hc.groupBy("event_type")
        .agg(F.count("*").alias("n_hours"), st.alias("st"))
        .select(
            "event_type",
            "n_hours",
            F.element_at("st", 1).alias("level"),
            F.element_at("st", 2).alias("trend"),
            nxt.alias("season_next"),
            (
                F.element_at("st", 1) + F.element_at("st", 2) + nxt
            ).alias("forecast_1"),
        )
    )


events_holt_winters.__doc__ = events_holt_winters.__doc__.format(
    m=HW_M, m2=HW_M + 2
)


# ---------------------------------------------------------------------------
# STL-lite seasonal decomposition (centered MA detrend -> seasonal means)
# ---------------------------------------------------------------------------
STL_HALF = 12  # half-window of the period-24 centered moving average


@register(
    "events_stl_seasonal",
    oracle=f"""
    WITH hc AS (
      SELECT event_type,
             CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    seq AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h)
               AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM hc
    ),
    ma AS (
      SELECT event_type, h, c, rn, n,
             2 * SUM(c) OVER (PARTITION BY event_type ORDER BY rn
                              ROWS BETWEEN {STL_HALF - 1} PRECEDING
                                       AND {STL_HALF - 1} FOLLOWING)
             + LAG(c, {STL_HALF}) OVER (PARTITION BY event_type ORDER BY rn)
             + LEAD(c, {STL_HALF}) OVER (PARTITION BY event_type ORDER BY rn)
               AS trend_x48
      FROM seq
    ),
    inner_pts AS (
      SELECT event_type, (h // 3600) % 24 AS hod,
             48 * c - trend_x48 AS dev_x48
      FROM ma WHERE rn > {STL_HALF} AND rn <= n - {STL_HALF}
    )
    SELECT event_type, CAST(hod AS BIGINT) AS hod,
           CAST(COUNT(*) AS BIGINT) AS n_obs,
           CAST(SUM(dev_x48) AS BIGINT) AS dev_x48_sum,
           CAST(SUM(dev_x48) AS DOUBLE) / (48 * COUNT(*)) AS seasonal_mean
    FROM inner_pts GROUP BY 1, 2
    """,
    tags=("events", "timeseries", "window"),
)
def events_stl_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-LITE seasonal profile of each event type's hourly traffic:
    classical decomposition step 1-2 (Cleveland's STL without the loess
    refits — the log-free, iteration-free variant that stays EXACT):
    trend = period-24 CENTERED moving average with half-weights at the
    window edges (the standard even-period fix: 2x the inner 23 hours
    plus the two boundary hours, denominator 48, kept as the INTEGER
    trend_x48 so nothing rounds), detrended = 48*c - trend_x48 (exact
    integer), seasonal = per hour-of-day mean of the detrended series
    over interior points only (full windows). Output is the bounded
    24-row-per-type seasonal fingerprint: hour-of-day, observation
    count, exact integer deviation sum, and the mean as the query's ONE
    pinned double division — the additive-seasonality profile a
    capacity planner or anomaly baseline consumes (complements
    events_holt_winters, which FORECASTS with dyadic smoothing, and
    events_seasonal_baseline, which compares to raw hourly means
    without detrending).

    Scale shape: the windows run over the ALREADY-AGGREGATED hourly
    series (time-bounded per type), all on ONE (event_type, rn) window
    partitioning — a single exchange; the seasonal agg is map-side
    combinable on (type, hod). Rows-based windows over the OBSERVED
    hourly sequence (documented: a missing hour shifts neighbors in,
    identically on both engines). Reference basis: SURVEY.md §2.5
    window family (absent in reference)."""
    hc = _hourly_counts(table(spark, sf_dir, "events"))
    w_ord = Window.partitionBy("event_type").orderBy("h")
    w_all = Window.partitionBy("event_type")
    seq = hc.select(
        "event_type",
        "h",
        "c",
        F.row_number().over(w_ord).alias("rn"),
        F.count("*").over(w_all).alias("n"),
    )
    w_rn = Window.partitionBy("event_type").orderBy("rn")
    w_ma = w_rn.rowsBetween(-(STL_HALF - 1), STL_HALF - 1)
    ma = seq.select(
        "event_type",
        "h",
        "c",
        "rn",
        "n",
        (
            F.sum("c").over(w_ma) * 2
            + F.lag("c", STL_HALF).over(w_rn)
            + F.lead("c", STL_HALF).over(w_rn)
        ).alias("trend_x48"),
    )
    pts = ma.filter(
        (F.col("rn") > STL_HALF) & (F.col("rn") <= F.col("n") - STL_HALF)
    ).select(
        "event_type",
        F.pmod(F.expr("h div 3600"), F.lit(24)).alias("hod"),
        (F.col("c") * 48 - F.col("trend_x48")).alias("dev_x48"),
    )
    return pts.groupBy("event_type", "hod").agg(
        F.count("*").alias("n_obs"),
        F.sum("dev_x48").alias("dev_x48_sum"),
        (
            F.sum("dev_x48").cast("double") / (F.count("*") * 48)
        ).alias("seasonal_mean"),
    )


# ---------------------------------------------------------------------------
# MAD robust outliers (exact integer medians — no distribution assumption)
# ---------------------------------------------------------------------------
MAD_K = 3  # flag hours with |c - median| > K * MAD


@register(
    "events_mad_outliers",
    oracle=f"""
    WITH hc AS (
      SELECT event_type,
             CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    med AS (
      SELECT event_type, c AS med FROM (
        SELECT event_type, c,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY c, h) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM hc) WHERE rn = (n + 1) // 2
    ),
    dev AS (
      SELECT hc.event_type, hc.h, hc.c, m.med,
             abs(hc.c - m.med) AS ad
      FROM hc JOIN med m ON m.event_type = hc.event_type
    ),
    mad AS (
      SELECT event_type, ad AS mad FROM (
        SELECT event_type, ad,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY ad, h) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM dev) WHERE rn = (n + 1) // 2
    )
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_hours,
           MIN(d.med) AS median_rate,
           MIN(m.mad) AS mad,
           CAST(SUM(CASE WHEN d.ad > {MAD_K} * m.mad THEN 1 ELSE 0 END)
             AS BIGINT) AS n_outliers,
           MAX(d.ad) AS max_abs_dev,
           MIN(CASE WHEN d.ad = (SELECT MAX(d2.ad) FROM dev d2
                                 WHERE d2.event_type = d.event_type)
                    THEN d.h END) AS worst_hour
    FROM dev d JOIN mad m ON m.event_type = d.event_type
    GROUP BY d.event_type
    """,
    tags=("events", "timeseries", "stats"),
)
def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROBUST outlier scan of each type's hourly rate via MEDIAN
    ABSOLUTE DEVIATION — the estimator that survives the very outliers
    it hunts (mean/stddev z-scores are dragged by the burst itself; the
    breakdown point of MAD is 50%). Everything stays an EXACT INTEGER:
    median = the lower median (rank (n+1)//2 of the count-ordered
    series, ties broken by hour — total order, both engines), MAD = the
    lower median of |c - med|, and the {K}x-MAD flag is an integer
    comparison — no distribution assumption, no doubles anywhere, so
    the oracle hash-matches bit-for-bit by construction. Output per
    type: hour count, median rate, MAD, outlier count, the worst
    deviation and its (earliest) hour.

    Scale shape: both median ranks ride ONE (event_type) hash
    partitioning — the rank windows run over the time-bounded hourly
    aggregate, never raw events; the two scalar-per-type frames
    (median, MAD) broadcast back onto the series. At 100 TB the hourly
    aggregate is the only thing that grows, and it grows with TIME, not
    traffic. Reference basis: SURVEY.md §2.5 window family (absent in
    reference)."""
    hc = _hourly_counts(table(spark, sf_dir, "events"))
    w_c = Window.partitionBy("event_type").orderBy("c", "h")
    w_n = Window.partitionBy("event_type")
    med = (
        hc.select(
            "event_type",
            "c",
            F.row_number().over(w_c).alias("rn"),
            F.count("*").over(w_n).alias("n"),
        )
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select("event_type", F.col("c").alias("med"))
    )
    dev = hc.join(F.broadcast(med), "event_type").select(
        "event_type",
        "h",
        "c",
        "med",
        F.abs(F.col("c") - F.col("med")).alias("ad"),
    )
    w_ad = Window.partitionBy("event_type").orderBy("ad", "h")
    mad = (
        dev.select(
            "event_type",
            "ad",
            F.row_number().over(w_ad).alias("rn"),
            F.count("*").over(w_n).alias("n"),
        )
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select("event_type", F.col("ad").alias("mad"))
    )
    w_max = Window.partitionBy("event_type")
    scored = (
        dev.join(F.broadcast(mad), "event_type")
        .withColumn("mx", F.max("ad").over(w_max))
    )
    return scored.groupBy("event_type").agg(
        F.count("*").alias("n_hours"),
        F.min("med").alias("median_rate"),
        F.min("mad").alias("mad"),
        F.sum(
            (F.col("ad") > F.lit(MAD_K) * F.col("mad")).cast("long")
        ).alias("n_outliers"),
        F.max("ad").alias("max_abs_dev"),
        F.min(F.when(F.col("ad") == F.col("mx"), F.col("h"))).alias(
            "worst_hour"
        ),
    )


events_mad_outliers.__doc__ = events_mad_outliers.__doc__.format(K=MAD_K)


# ---------------------------------------------------------------------------
# EXACT sliding-window COUNT DISTINCT (window-explode dedup)
# ---------------------------------------------------------------------------
SLIDE_W_HOURS = 24  # trailing window length


@register(
    "events_sliding_distinct_users",
    oracle=f"""
    WITH pairs AS (
      SELECT DISTINCT event_type,
             CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h, user_id
      FROM events
    ),
    b AS (
      SELECT MAX(CAST(epoch(date_trunc('hour', ts)) AS BIGINT)) AS hmax
      FROM events
    ),
    expl AS (
      SELECT DISTINCT p.event_type, p.user_id,
             p.h + 3600 * t.k AS wend
      FROM pairs p,
           LATERAL (SELECT unnest(range(0, {SLIDE_W_HOURS})) AS k) t, b
      WHERE p.h + 3600 * t.k <= b.hmax
    )
    SELECT event_type, wend AS window_end_h,
           wend - {3600 * (SLIDE_W_HOURS - 1)} AS window_start_h,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_users
    FROM expl GROUP BY 1, 2
    """,
    tags=("events", "timeseries", "window", "distinct"),
)
def events_sliding_distinct_users(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT trailing-{W}h DISTINCT USERS per event type for EVERY hour
    — the sliding COUNT(DISTINCT) that window frames cannot express
    (distinct aggregates are unsupported over moving frames in both
    engines, and the naive per-window re-scan is O(W) full passes).
    The window-explode dedup trick makes it one pipeline: dedup the
    stream to (type, user, hour) pairs, explode each pair into the {W}
    trailing windows it participates in, dedup again on (type, user,
    window) — a user active in 5 hours of one window still counts once
    — and count. The exact companion to the sketch path
    (q_cube_hll_users / stream_kmv_distinct estimate the same class
    when W x active-users blows the budget).

    Scale shape: both dedups are map-side-combinable hash aggregates on
    integer-key tuples; the explode factor is the FIXED window length
    W={W}, applied to the hour-deduped pair table (bounded by active
    users x hours), never to raw events. The global max-hour bound is a
    one-row broadcast. Reference basis: SURVEY.md §2.5 window family
    (absent in reference)."""
    ev = table(spark, sf_dir, "events")
    hour = F.unix_timestamp(F.date_trunc("hour", "ts")).alias("h")
    pairs = ev.select("event_type", hour, "user_id").distinct()
    hmax = ev.agg(
        F.max(F.unix_timestamp(F.date_trunc("hour", "ts"))).alias("hmax")
    )
    expl = (
        pairs.crossJoin(F.broadcast(hmax))
        .select(
            "event_type",
            "user_id",
            "hmax",
            F.explode(
                F.sequence(
                    F.col("h"),
                    F.col("h") + F.lit(3600 * (SLIDE_W_HOURS - 1)),
                    F.lit(3600),
                )
            ).alias("wend"),
        )
        .filter(F.col("wend") <= F.col("hmax"))
        .select("event_type", "user_id", "wend")
        .distinct()
    )
    return expl.groupBy(
        "event_type", F.col("wend").alias("window_end_h")
    ).agg(
        F.count("*").alias("n_distinct_users")
    ).select(
        "event_type",
        "window_end_h",
        (F.col("window_end_h") - F.lit(3600 * (SLIDE_W_HOURS - 1))).alias(
            "window_start_h"
        ),
        "n_distinct_users",
    )


events_sliding_distinct_users.__doc__ = (
    events_sliding_distinct_users.__doc__.format(W=SLIDE_W_HOURS)
)


# ---------------------------------------------------------------------------
# Chi-square goodness-of-fit vs uniform hour-of-day (exact-integer numerator)
# ---------------------------------------------------------------------------
CHI2_BINS = 24  # hour-of-day cells
# Upper-tail critical value chi2(df=23, alpha=0.05) — a fixed published
# constant (Abramowitz & Stegun table), embedded as the SAME literal in
# both engines (the codebook-literal pattern; no stats library needed).
CHI2_CRIT_DF23_05 = "35.172"


@register(
    "events_chi2_uniform",
    oracle=f"""
    WITH oc AS (
      SELECT event_type, CAST(hour(ts) AS BIGINT) AS hod,
             CAST(COUNT(*) AS BIGINT) AS o
      FROM events GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, CAST(SUM(o) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS n_cells
      FROM oc GROUP BY event_type
    ),
    dev AS (
      SELECT o.event_type,
             SUM(({CHI2_BINS} * o.o - t.n) * ({CHI2_BINS} * o.o - t.n))
               AS sq_obs
      FROM oc o JOIN tot t ON t.event_type = o.event_type
      GROUP BY o.event_type
    )
    SELECT t.event_type, t.n, t.n_cells,
           CAST(d.sq_obs + ({CHI2_BINS} - t.n_cells) * t.n * t.n
                AS BIGINT) AS chi2_num,
           CAST(d.sq_obs + ({CHI2_BINS} - t.n_cells) * t.n * t.n
                AS DOUBLE) / ({CHI2_BINS} * t.n) AS chi2,
           CAST({CHI2_BINS} - 1 AS BIGINT) AS df,
           (CAST(d.sq_obs + ({CHI2_BINS} - t.n_cells) * t.n * t.n
                 AS DOUBLE) / ({CHI2_BINS} * t.n))
             > {CHI2_CRIT_DF23_05} AS reject_uniform
    FROM tot t JOIN dev d ON d.event_type = t.event_type
    """,
    tags=("events", "stats"),
)
def events_chi2_uniform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHI-SQUARE goodness-of-fit of each type's hour-of-day histogram
    against the uniform null — the "is this traffic actually diurnal or
    just noisy" test that belongs next to the z-score A/B machinery
    (events_ab_test_zscore) as the repo's second classical test. The
    statistic sum((O-E)^2/E) with E = n/{b} is computed EXACTLY: scale
    by {b} so each term is the integer ({b}*O - n)^2, add the implicit
    ({b} - observed_cells) * n^2 for hours with ZERO events (they
    deviate by a full E and a naive join would silently drop them), and
    divide ONCE by {b}*n — the whole statistic is one exact BIGINT
    numerator (emitted for the hash gate) over one pinned double
    division. The decision threshold is the published chi2(23, 0.05)
    critical value embedded as the same literal on both engines (the
    codebook-literal pattern — no scipy anywhere). Bounds: the summed
    squares stay under 2^63 through ~5e7 events/type ({b}^2 * n^2-class
    terms; pre-aggregate longer ranges or widen to DECIMAL).

    Scale shape: ONE map-side-combinable (type, hour) count, a
    type-keyed rollup, and a {b}-bounded per-type reduce — nothing
    beyond the hourly aggregate ever shuffles. Reference basis:
    SURVEY.md §2.4 stats family (absent in reference)."""
    ev = table(spark, sf_dir, "events")
    oc = ev.groupBy(
        "event_type", F.hour("ts").cast("long").alias("hod")
    ).agg(F.count("*").alias("o"))
    tot = oc.groupBy("event_type").agg(
        F.sum("o").alias("n"), F.count("*").alias("n_cells")
    )
    dev = (
        oc.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            (
                (F.col("o") * CHI2_BINS - F.col("n"))
                * (F.col("o") * CHI2_BINS - F.col("n"))
            ).alias("sq"),
        )
        .groupBy("event_type")
        .agg(F.sum("sq").alias("sq_obs"))
    )
    num = F.col("sq_obs") + (F.lit(CHI2_BINS) - F.col("n_cells")) * F.col(
        "n"
    ) * F.col("n")
    chi2 = num.cast("double") / (F.col("n") * CHI2_BINS)
    return tot.join(dev, "event_type").select(
        "event_type",
        "n",
        "n_cells",
        num.cast("long").alias("chi2_num"),
        chi2.alias("chi2"),
        F.lit(CHI2_BINS - 1).cast("long").alias("df"),
        (chi2 > F.lit(float(CHI2_CRIT_DF23_05))).alias("reject_uniform"),
    )


events_chi2_uniform.__doc__ = events_chi2_uniform.__doc__.format(
    b=CHI2_BINS
)


# ---------------------------------------------------------------------------
# Allan variance of the hourly rate (two-sample stability, zero-filled grid)
# ---------------------------------------------------------------------------
@register(
    "events_allan_variance",
    oracle="""
    WITH hc AS (
      SELECT event_type,
             CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    b AS (SELECT event_type, min(h) AS lo, max(h) AS hi FROM hc GROUP BY 1),
    spine AS (
      SELECT event_type, CAST(unnest(generate_series(lo, hi, 3600)) AS BIGINT) AS h
      FROM b
    ),
    f AS (
      SELECT s.event_type, s.h, COALESCE(c.c, 0) AS c
      FROM spine s LEFT JOIN hc c ON c.event_type = s.event_type AND c.h = s.h
    ),
    d AS (
      SELECT event_type,
             c - LAG(c) OVER (PARTITION BY event_type ORDER BY h) AS dd
      FROM f
    ),
    g AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours,
             CAST(SUM(dd * dd) AS BIGINT) AS sum_sq_diff
      FROM d GROUP BY 1
    )
    SELECT event_type, n_hours, sum_sq_diff,
           CAST(sum_sq_diff AS DOUBLE) / (2 * (n_hours - 1)) AS allan_var
    FROM g WHERE n_hours >= 2
    """,
    tags=("events", "timeseries", "stats"),
)
def events_allan_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALLAN VARIANCE of each type's hourly event rate — the clock-world
    two-sample stability statistic sum((c_{t+1} - c_t)^2) / (2(n-1))
    that separates genuine rate DRIFT from white counting noise (for a
    Poisson-stable stream it equals the mean rate; drift inflates it) —
    the right first-look "is this source's throughput stationary enough
    to extrapolate" number for pipeline capacity planning. Consecutive
    differences need a DENSE series, so missing hours are zero-filled
    from an exploded per-type `sequence(min_h, max_h, 1h)` spine (an
    absent hour IS a rate observation of zero; skipping it would splice
    non-adjacent samples). The numerator is an exact BIGINT sum of
    squared integer diffs; the single double division is pinned.

    Scale shape: ONE map-side-combinable (type, hour) count, a tiny
    per-type bounds aggregate, the spine join at bucket cardinality,
    and a per-type bounded window — nothing after the hourly aggregate
    is data-sized (the events_gapfill_hourly argument). Reference
    basis: SURVEY.md §2.4 stats family (absent in reference)."""
    f = _dense_hourly_counts(table(spark, sf_dir, "events"))
    w = Window.partitionBy("event_type").orderBy("h")
    d = f.select(
        "event_type", (F.col("c") - F.lag("c").over(w)).alias("dd")
    )
    g = d.groupBy("event_type").agg(
        F.count("*").alias("n_hours"),
        F.sum(F.col("dd") * F.col("dd")).alias("sum_sq_diff"),
    )
    return g.filter(F.col("n_hours") >= 2).select(
        "event_type",
        "n_hours",
        "sum_sq_diff",
        (
            F.col("sum_sq_diff").cast("double")
            / (2 * (F.col("n_hours") - 1))
        ).alias("allan_var"),
    )


# ---------------------------------------------------------------------------
# SAX-style quartile symbolization + trigram motif mining of hourly traffic
# ---------------------------------------------------------------------------
MOTIF_LEN = 3  # symbols per motif window (trigram)


@register(
    "events_quartile_motifs",
    oracle="""
    WITH hc AS (
      SELECT event_type,
             CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    b AS (SELECT event_type, min(h) AS lo, max(h) AS hi FROM hc GROUP BY 1),
    spine AS (
      SELECT event_type, CAST(unnest(generate_series(lo, hi, 3600)) AS BIGINT) AS h
      FROM b
    ),
    f AS (
      SELECT s.event_type, s.h, COALESCE(c.c, 0) AS c
      FROM spine s LEFT JOIN hc c ON c.event_type = s.event_type AND c.h = s.h
    ),
    r AS (
      SELECT event_type, h, c,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY c, h) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM f
    ),
    q AS (
      SELECT event_type,
             MAX(CASE WHEN rn <= (n + 3) // 4 THEN c END) AS q1,
             MAX(CASE WHEN rn <= (n + 1) // 2 THEN c END) AS q2,
             MAX(CASE WHEN rn <= (3 * n + 3) // 4 THEN c END) AS q3
      FROM r GROUP BY event_type
    ),
    sym AS (
      SELECT f.event_type, f.h,
             chr(97 + CASE WHEN f.c > q.q1 THEN 1 ELSE 0 END
                    + CASE WHEN f.c > q.q2 THEN 1 ELSE 0 END
                    + CASE WHEN f.c > q.q3 THEN 1 ELSE 0 END) AS s
      FROM f JOIN q ON q.event_type = f.event_type
    ),
    m AS (
      SELECT event_type,
             s || LEAD(s, 1) OVER (PARTITION BY event_type ORDER BY h)
               || LEAD(s, 2) OVER (PARTITION BY event_type ORDER BY h) AS motif
      FROM sym
    )
    SELECT event_type, motif, CAST(COUNT(*) AS BIGINT) AS n_windows
    FROM m WHERE motif IS NOT NULL
    GROUP BY 1, 2
    """,
    tags=("events", "timeseries", "window"),
)
def events_quartile_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX-STYLE SYMBOLIC MOTIF MINING of each type's hourly traffic:
    zero-fill the hourly series, discretize every hour into a 4-letter
    alphabet a<b<c<d by the series' own EXACT quartiles, then count
    every sliding {L}-symbol word — the classic symbolic-aggregate-
    approximation pipeline (SAX) with the Gaussian breakpoints swapped
    for exact order statistics, because z-score breakpoints need a
    sqrt/std whose cross-engine determinism the repo's doctrine
    rejects. The quartile for fraction p is the value at sorted
    position ceil(p*n), computed as MAX over the rn <= (pn ceil'd by
    integer floor-div) prefix of a (c, h)-ordered rank — pure integer
    arithmetic, identical on both engines and insensitive to tie
    order (the value at a fixed sorted position is tie-stable). Motif
    counts answer "what rhythm does this source actually have" (aaa =
    dead zone, ddd = sustained peak, ada = spike) and feed the same
    anomaly consumers as events_anomaly_transitions, with the alphabet
    robust to heavy tails where the z-score version saturates.

    Scale shape: ONE (type, hour) count, the spine fill at bucket
    cardinality, two per-type bounded windows (rank, lead) over the
    ALREADY-AGGREGATED hourly series, and a <= 64-motifs-per-type
    final count — nothing data-sized past the first aggregate.
    Reference basis: SURVEY.md §2.5 window family (absent in
    reference)."""
    f = _dense_hourly_counts(table(spark, sf_dir, "events"))
    w_rank = Window.partitionBy("event_type").orderBy("c", "h")
    w_all = Window.partitionBy("event_type")
    r = f.select(
        "event_type",
        "h",
        "c",
        F.row_number().over(w_rank).alias("rn"),
        F.count("*").over(w_all).alias("n"),
    )
    # integer floor-div ranks (ceil(p*n) = (p_num*n + p_den-1) // p_den)
    q = r.groupBy("event_type").agg(
        F.max(
            F.when(
                F.col("rn") <= F.expr("(n + 3) div 4"), F.col("c")
            )
        ).alias("q1"),
        F.max(
            F.when(
                F.col("rn") <= F.expr("(n + 1) div 2"), F.col("c")
            )
        ).alias("q2"),
        F.max(
            F.when(
                F.col("rn") <= F.expr("(3 * n + 3) div 4"), F.col("c")
            )
        ).alias("q3"),
    )
    sym = f.join(F.broadcast(q), "event_type").select(
        "event_type",
        "h",
        F.element_at(
            F.array(F.lit("a"), F.lit("b"), F.lit("c"), F.lit("d")),
            (F.col("c") > F.col("q1")).cast("int")
            + (F.col("c") > F.col("q2")).cast("int")
            + (F.col("c") > F.col("q3")).cast("int")
            + 1,
        ).alias("s"),
    )
    w_ord = Window.partitionBy("event_type").orderBy("h")
    m = sym.select(
        "event_type",
        F.concat(
            F.col("s"),
            F.lead("s", 1).over(w_ord),
            F.lead("s", 2).over(w_ord),
        ).alias("motif"),
    )
    return (
        m.filter(F.col("motif").isNotNull())
        .groupBy("event_type", "motif")
        .agg(F.count("*").alias("n_windows"))
    )


events_quartile_motifs.__doc__ = events_quartile_motifs.__doc__.format(
    L=MOTIF_LEN
)


# ---------------------------------------------------------------------------
# Wald-Wolfowitz runs test for randomness of the hourly series
# ---------------------------------------------------------------------------
@register(
    "events_runs_test",
    oracle="""
    WITH hc AS (
      SELECT event_type,
             CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    b AS (SELECT event_type, min(h) AS lo, max(h) AS hi FROM hc GROUP BY 1),
    spine AS (
      SELECT event_type, CAST(unnest(generate_series(lo, hi, 3600)) AS BIGINT) AS h
      FROM b
    ),
    f AS (
      SELECT s.event_type, s.h, COALESCE(c.c, 0) AS c
      FROM spine s LEFT JOIN hc c ON c.event_type = s.event_type AND c.h = s.h
    ),
    r AS (
      SELECT event_type, h, c,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY c, h) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM f
    ),
    med AS (
      SELECT event_type, MAX(CASE WHEN rn <= (n + 1) // 2 THEN c END) AS md
      FROM r GROUP BY event_type
    ),
    sg AS (
      SELECT f.event_type, f.h,
             CASE WHEN f.c > m.md THEN 1 ELSE -1 END AS s
      FROM f JOIN med m ON m.event_type = f.event_type
      WHERE f.c <> m.md
    ),
    ch AS (
      SELECT event_type, s,
             CASE WHEN LAG(s) OVER (PARTITION BY event_type ORDER BY h)
                       IS DISTINCT FROM s THEN 1 ELSE 0 END AS new_run
      FROM sg
    ),
    agg AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(SUM(new_run) AS BIGINT) AS n_runs
      FROM ch GROUP BY event_type
    )
    SELECT event_type, n1, n2, n_runs,
           CAST(2 * n1 * n2 AS DOUBLE) / (n1 + n2) + 1.0 AS mu_runs,
           (n_runs - (CAST(2 * n1 * n2 AS DOUBLE) / (n1 + n2) + 1.0))
             / sqrt(CAST(2 * n1 * n2 * (2 * n1 * n2 - (n1 + n2)) AS DOUBLE)
                    / CAST((n1 + n2) * (n1 + n2) * (n1 + n2 - 1) AS DOUBLE))
             AS z_runs
    FROM agg WHERE n1 >= 1 AND n2 >= 1 AND n1 + n2 >= 3
    """,
    tags=("events", "stats", "timeseries"),
)
def events_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WALD-WOLFOWITZ RUNS TEST for randomness of each type's hourly
    traffic around its median — the third classical test (after the
    z- and chi-square families): too FEW runs of above/below-median
    hours means trending/clustered load, too MANY means oscillation;
    either rejects the independence assumption every capacity model
    quietly makes. The median is the exact lower order statistic
    (position ceil(n/2) by integer floor-div rank — the quartile-motif
    machinery), tie hours (c == median) are dropped per the classical
    prescription, runs count via one LAG pass, and n1/n2/R are exact
    integers. mu and z follow the q_corr_qty_price sqrt doctrine: each
    double op is individually correctly rounded and the expression
    shape is IDENTICAL on both engines, so the values are bit-equal
    (the variance ratio's numerator and denominator are exact BIGINTs
    first — safe through ~2^15 hourly buckets per type, the documented
    events_max_burst_interval series bound).

    Scale shape: ONE (type, hour) count, the spine fill at bucket
    cardinality, two bounded per-type windows (rank, lag), a per-type
    reduce — nothing data-sized past the first aggregate. Reference
    basis: SURVEY.md §2.4 stats family (absent in reference)."""
    f = _dense_hourly_counts(table(spark, sf_dir, "events"))
    w_rank = Window.partitionBy("event_type").orderBy("c", "h")
    w_all = Window.partitionBy("event_type")
    r = f.select(
        "event_type",
        "c",
        F.row_number().over(w_rank).alias("rn"),
        F.count("*").over(w_all).alias("n"),
    )
    med = r.groupBy("event_type").agg(
        F.max(
            F.when(F.col("rn") <= F.expr("(n + 1) div 2"), F.col("c"))
        ).alias("md")
    )
    sg = (
        f.join(F.broadcast(med), "event_type")
        .filter(F.col("c") != F.col("md"))
        .select(
            "event_type",
            "h",
            F.when(F.col("c") > F.col("md"), F.lit(1))
            .otherwise(F.lit(-1))
            .alias("s"),
        )
    )
    w_ord = Window.partitionBy("event_type").orderBy("h")
    ch = sg.select(
        "event_type",
        "s",
        F.when(
            ~F.lag("s").over(w_ord).eqNullSafe(F.col("s")), F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("new_run"),
    )
    agg = ch.groupBy("event_type").agg(
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("s") == -1, 1).otherwise(0)).alias("n2"),
        F.sum("new_run").alias("n_runs"),
    )
    n = F.col("n1") + F.col("n2")
    mu = (2 * F.col("n1") * F.col("n2")).cast("double") / n + F.lit(1.0)
    var = (
        2 * F.col("n1") * F.col("n2") * (2 * F.col("n1") * F.col("n2") - n)
    ).cast("double") / (n * n * (n - 1)).cast("double")
    return agg.filter(
        (F.col("n1") >= 1) & (F.col("n2") >= 1) & (n >= 3)
    ).select(
        "event_type",
        "n1",
        "n2",
        "n_runs",
        mu.alias("mu_runs"),
        ((F.col("n_runs") - mu) / F.sqrt(var)).alias("z_runs"),
    )


# ---------------------------------------------------------------------------
# Deterministic bootstrap CI for the hourly-rate total (hash-indexed
# resampling — reproducible "randomness", exact order-statistic interval)
# ---------------------------------------------------------------------------
BOOT_B = 200  # resamples per event type
BOOT_LO = (25 * BOOT_B + 999) // 1000    # ceil(0.025 * B) -> 2.5th pct rank
BOOT_HI = (975 * BOOT_B + 999) // 1000   # ceil(0.975 * B) -> 97.5th pct rank


@register(
    "events_bootstrap_ci",
    oracle=f"""
    WITH hc AS (
      SELECT event_type,
             CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    b AS (SELECT event_type, min(h) AS lo, max(h) AS hi FROM hc GROUP BY 1),
    spine AS (
      SELECT event_type, CAST(unnest(generate_series(lo, hi, 3600)) AS BIGINT) AS h
      FROM b
    ),
    f AS (
      SELECT s.event_type, s.h, COALESCE(c.c, 0) AS c
      FROM spine s LEFT JOIN hc c ON c.event_type = s.event_type AND c.h = s.h
    ),
    r AS (
      SELECT event_type, c,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) - 1 AS j,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM f
    ),
    tn AS (SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
                  CAST(SUM(c) AS BIGINT) AS obs_total
           FROM r GROUP BY event_type),
    draws AS (
      SELECT t.event_type, t.n, bb.b, jj.j,
             {T.portable_hash32_sql(
                 "t.event_type || ':' || CAST(bb.b AS VARCHAR) "
                 "|| ':' || CAST(jj.j AS VARCHAR)")} % t.n AS idx
      FROM tn t, range(0, {BOOT_B}) bb(b), unnest(range(t.n)) AS jj(j)
    ),
    sums AS (
      SELECT d.event_type, d.b, CAST(SUM(r.c) AS BIGINT) AS s
      FROM draws d JOIN r ON r.event_type = d.event_type AND r.j = d.idx
      GROUP BY d.event_type, d.b
    ),
    ranked AS (
      SELECT event_type, s,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY s, b) AS rs
      FROM sums
    ),
    ci AS (
      SELECT event_type,
             MAX(CASE WHEN rs <= {BOOT_LO} THEN s END) AS boot_lo_sum,
             MAX(CASE WHEN rs <= {BOOT_HI} THEN s END) AS boot_hi_sum
      FROM ranked GROUP BY event_type
    )
    SELECT t.event_type, t.n AS n_hours, t.obs_total,
           CAST({BOOT_B} AS BIGINT) AS n_resamples,
           c.boot_lo_sum, c.boot_hi_sum,
           CAST(c.boot_lo_sum AS DOUBLE) / t.n AS boot_lo_mean,
           CAST(c.boot_hi_sum AS DOUBLE) / t.n AS boot_hi_mean,
           t.obs_total BETWEEN c.boot_lo_sum AND c.boot_hi_sum AS covered
    FROM tn t JOIN ci c ON c.event_type = t.event_type
    """,
    tags=("events", "stats", "timeseries"),
)
def events_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC BOOTSTRAP 95% CI for each type's hourly-count total
    — the fourth classical-inference tool (after z, chi-square, runs):
    {B} resamples of the zero-filled hourly series, each drawing n
    indices WITH REPLACEMENT, where draw (b, j) picks index
    hash32(type:b:j) % n — the repo's portable 32-bit hash replaces
    the RNG, so the "random" resampling is REPRODUCIBLE, engine-
    independent, and hash-checkable (the only honest bootstrap under
    the determinism doctrine; a seeded RNG would diverge across
    engines). The CI bounds are EXACT ORDER STATISTICS of the {B}
    resample sums (ranks ceil(.025B) / ceil(.975B) by integer
    arithmetic, ties broken by resample id); sums are exact BIGINTs,
    the two mean divisions pinned. `covered` flags whether the
    observed total sits inside its own interval — the quick sanity
    readout.

    Scale shape: the resample grid is B x n rows PER TYPE (n = hourly
    buckets, bounded by the series length like all the hourly
    analytics) joined back to the counts on an integer index — bucket-
    cardinality work, nothing data-sized past the first (type, hour)
    count; the per-type rank window runs over {B} rows. Reference
    basis: SURVEY.md §2.4 stats family (absent in reference)."""
    f = _dense_hourly_counts(table(spark, sf_dir, "events"))
    w_ord = Window.partitionBy("event_type").orderBy("h")
    w_all = Window.partitionBy("event_type")
    r = f.select(
        "event_type",
        "c",
        (F.row_number().over(w_ord) - 1).alias("j"),
        F.count("*").over(w_all).alias("n"),
    )
    tn = r.groupBy("event_type").agg(
        F.max("n").alias("n"), F.sum("c").alias("obs_total")
    )
    draws = (
        tn.select(
            "event_type",
            "n",
            F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1))).alias("b"),
        )
        .select(
            "event_type",
            "n",
            "b",
            F.explode(F.sequence(F.lit(0), F.col("n") - 1)).alias("j"),
        )
        .select(
            "event_type",
            "b",
            F.pmod(
                T.portable_hash32(
                    F.concat_ws(
                        ":",
                        F.col("event_type"),
                        F.col("b").cast("string"),
                        F.col("j").cast("string"),
                    )
                ),
                F.col("n"),
            ).alias("idx"),
        )
    )
    sums = (
        draws.join(
            r.select("event_type", F.col("j").alias("idx"), "c"),
            ["event_type", "idx"],
        )
        .groupBy("event_type", "b")
        .agg(F.sum("c").alias("s"))
    )
    w_rank = Window.partitionBy("event_type").orderBy("s", "b")
    ranked = sums.select(
        "event_type", "s", F.row_number().over(w_rank).alias("rs")
    )
    ci = ranked.groupBy("event_type").agg(
        F.max(F.when(F.col("rs") <= BOOT_LO, F.col("s"))).alias(
            "boot_lo_sum"
        ),
        F.max(F.when(F.col("rs") <= BOOT_HI, F.col("s"))).alias(
            "boot_hi_sum"
        ),
    )
    return tn.join(ci, "event_type").select(
        "event_type",
        F.col("n").alias("n_hours"),
        "obs_total",
        F.lit(BOOT_B).cast("long").alias("n_resamples"),
        "boot_lo_sum",
        "boot_hi_sum",
        (F.col("boot_lo_sum").cast("double") / F.col("n")).alias(
            "boot_lo_mean"
        ),
        (F.col("boot_hi_sum").cast("double") / F.col("n")).alias(
            "boot_hi_mean"
        ),
        (
            (F.col("obs_total") >= F.col("boot_lo_sum"))
            & (F.col("obs_total") <= F.col("boot_hi_sum"))
        ).alias("covered"),
    )


events_bootstrap_ci.__doc__ = events_bootstrap_ci.__doc__.format(B=BOOT_B)


# ---------------------------------------------------------------------------
# Allen interval-algebra relations between consecutive user intervals
# ---------------------------------------------------------------------------
ALLEN_MIN_DUR_S = 60  # floor duration so every event is a real interval


@register(
    "events_allen_relations",
    oracle=f"""
    WITH iv AS (
      SELECT user_id, event_type,
             -- explicit FLOOR: epoch(ts) keeps sub-second fraction and a
             -- bare BIGINT cast ROUNDS in DuckDB while Spark's
             -- unix_timestamp truncates — the same cast trap as the
             -- duration, caught by the sf0.1 sweep before commit
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS s,
             CAST(FLOOR(epoch(ts)) AS BIGINT)
               + GREATEST({ALLEN_MIN_DUR_S},
                          CAST(FLOOR(value * 60) AS BIGINT)) AS e,
             event_id
      FROM events WHERE value IS NOT NULL
    ),
    nx AS (
      SELECT event_type, s AS s1, e AS e1,
             LEAD(s) OVER w AS s2, LEAD(e) OVER w AS e2
      FROM iv
      WINDOW w AS (PARTITION BY user_id ORDER BY s, e, event_id)
    ),
    rel AS (
      SELECT event_type,
             CASE WHEN e1 < s2 THEN 'before'
                  WHEN e1 = s2 THEN 'meets'
                  WHEN s1 < s2 AND e1 > s2 AND e1 < e2 THEN 'overlaps'
                  WHEN s1 < s2 AND e1 = e2 THEN 'finished_by'
                  WHEN s1 < s2 AND e1 > e2 THEN 'contains'
                  WHEN s1 = s2 AND e1 < e2 THEN 'starts'
                  WHEN s1 = s2 AND e1 = e2 THEN 'equals'
                  ELSE 'started_by' END AS relation
      FROM nx WHERE s2 IS NOT NULL
    )
    SELECT event_type, relation, CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM rel GROUP BY 1, 2
    """,
    tags=("events", "interval", "window"),
)
def events_allen_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALLEN'S INTERVAL ALGEBRA over each user's activity stream: every
    event becomes an interval [ts, ts + max(60s, floor(60*value))] and
    each consecutive pair (start-ordered per user) is classified into
    its Allen relation — before / meets / overlaps / finished_by /
    contains / starts / equals / started_by (the eight relations
    reachable under start ordering; the five inverses cannot occur).
    This is the temporal-reasoning vocabulary behind overlap audits
    ("do sessions nest or chain?"), double-billing detection
    (contains/equals on usage intervals), and the gap/adjacency
    statistics interval joins consume. All boundary comparisons are
    exact BIGINT seconds; the duration uses an EXPLICIT floor() —
    Spark's double->long cast truncates while DuckDB's ROUNDS, a
    known cross-engine cast trap this query routes around — and the
    per-user ordering is made total by (start, end, event_id).

    Scale shape: ONE user-keyed window (lead) over the event stream,
    then a map-side-combinable (type, relation) count — |relations| <=
    8 per type out. Reference basis: SURVEY.md §2.3 interval family
    (absent in reference)."""
    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    s = F.unix_timestamp("ts")
    e = s + F.greatest(
        F.lit(ALLEN_MIN_DUR_S).cast("long"),
        F.floor(F.col("value") * 60).cast("long"),
    )
    iv = ev.select(
        "user_id", "event_type", s.alias("s"), e.alias("e"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("s", "e", "event_id")
    nx = iv.select(
        "event_type",
        F.col("s").alias("s1"),
        F.col("e").alias("e1"),
        F.lead("s").over(w).alias("s2"),
        F.lead("e").over(w).alias("e2"),
    ).filter(F.col("s2").isNotNull())
    rel = (
        F.when(F.col("e1") < F.col("s2"), "before")
        .when(F.col("e1") == F.col("s2"), "meets")
        .when(
            (F.col("s1") < F.col("s2"))
            & (F.col("e1") > F.col("s2"))
            & (F.col("e1") < F.col("e2")),
            "overlaps",
        )
        .when(
            (F.col("s1") < F.col("s2")) & (F.col("e1") == F.col("e2")),
            "finished_by",
        )
        .when(
            (F.col("s1") < F.col("s2")) & (F.col("e1") > F.col("e2")),
            "contains",
        )
        .when(
            (F.col("s1") == F.col("s2")) & (F.col("e1") < F.col("e2")),
            "starts",
        )
        .when(
            (F.col("s1") == F.col("s2")) & (F.col("e1") == F.col("e2")),
            "equals",
        )
        .otherwise("started_by")
    )
    return (
        nx.select("event_type", rel.alias("relation"))
        .groupBy("event_type", "relation")
        .agg(F.count("*").alias("n_pairs"))
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust trend (median of pairwise slopes) per type's hourly rate
# ---------------------------------------------------------------------------
@register(
    "events_theil_sen",
    oracle="""
    WITH hc AS (
      SELECT event_type,
             CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    b AS (SELECT event_type, min(h) AS lo, max(h) AS hi FROM hc GROUP BY 1),
    spine AS (
      SELECT event_type,
             CAST(unnest(generate_series(lo, hi, 3600)) AS BIGINT) AS h
      FROM b
    ),
    f AS (
      SELECT s.event_type, s.h, COALESCE(c.c, 0) AS c
      FROM spine s LEFT JOIN hc c ON c.event_type = s.event_type
                                 AND c.h = s.h
    ),
    pairs AS (
      SELECT a.event_type,
             b.c - a.c AS num,
             (b.h - a.h) // 3600 AS den,
             a.h AS ha
      FROM f a JOIN f b ON b.event_type = a.event_type AND b.h > a.h
    ),
    ranked AS (
      SELECT event_type, num, den, ha,
             CAST(num AS DOUBLE) / den AS slope,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY CAST(num AS DOUBLE) / den,
                                         num, den, ha) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS m
      FROM pairs
    ),
    nh AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours
           FROM f GROUP BY 1)
    SELECT r.event_type, nh.n_hours, CAST(r.m AS BIGINT) AS n_pairs,
           r.num AS slope_num, r.den AS slope_den,
           r.slope AS ts_slope_per_hour
    FROM ranked r JOIN nh ON nh.event_type = r.event_type
    WHERE r.rn = (r.m + 1) // 2
    """,
    tags=("events", "timeseries", "stats", "robust"),
)
def events_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL-SEN robust trend of each type's hourly rate: the MEDIAN of
    all pairwise slopes (c_j - c_i)/(j - i) over the zero-filled hourly
    series — the classic 29%-breakdown alternative to OLS that one
    traffic spike cannot drag. Slopes are exact rationals (integer
    count diff over integer hour diff); the median is the house lower
    order statistic (rank (m+1) div 2) under the total order (slope
    double, num, den, first-hour) — the double division of two exact
    integers is correctly rounded identically on both engines, and the
    integer tie-break keys make the chosen WITNESS pair deterministic
    even when distinct rationals collide in the double. The reported
    slope is the witness's num/den — so the emitted statistic is the
    median slope to double rounding, with its exact fraction alongside.

    Scale shape: the pair join is per-type over the BOUNDED hourly
    spine (span^2 pairs — a property of elapsed wall-clock, ~720 hours
    per month, NOT of data volume; the 5-type join fans out to <= 5
    tasks x span^2 rows) after the one map-side-combinable (type,
    hour) count; the per-type rank window is bounded by the same
    span^2 (the runs-test precedent). Reference basis: SURVEY.md §2.5
    robust-statistics family (absent in reference)."""
    f = _dense_hourly_counts(table(spark, sf_dir, "events"))
    a = f.select("event_type", F.col("h").alias("ha"), F.col("c").alias("ca"))
    bb = f.select("event_type", F.col("h").alias("hb"), F.col("c").alias("cb"))
    pairs = (
        a.join(bb, "event_type")
        .filter(F.col("hb") > F.col("ha"))
        .select(
            "event_type",
            (F.col("cb") - F.col("ca")).alias("num"),
            ((F.col("hb") - F.col("ha")) / 3600).cast("long").alias("den"),
            "ha",
        )
    )
    slope = F.col("num").cast("double") / F.col("den")
    w_rank = Window.partitionBy("event_type").orderBy(
        slope, "num", "den", "ha"
    )
    w_all = Window.partitionBy("event_type")
    ranked = pairs.select(
        "event_type",
        "num",
        "den",
        "ha",
        slope.alias("slope"),
        F.row_number().over(w_rank).alias("rn"),
        F.count("*").over(w_all).alias("m"),
    )
    nh = f.groupBy("event_type").agg(F.count("*").alias("n_hours"))
    return (
        ranked.filter(F.col("rn") == F.expr("(m + 1) div 2"))
        .join(F.broadcast(nh), "event_type")
        .select(
            "event_type",
            "n_hours",
            F.col("m").alias("n_pairs"),
            F.col("num").alias("slope_num"),
            F.col("den").alias("slope_den"),
            F.col("slope").alias("ts_slope_per_hour"),
        )
    )


# ---------------------------------------------------------------------------
# Kendall tau-b concordance between every pair of types' hourly series
# ---------------------------------------------------------------------------
@register(
    "events_kendall_tau",
    oracle="""
    WITH hc AS (
      SELECT event_type,
             CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    b AS (SELECT event_type, min(h) AS lo, max(h) AS hi FROM hc GROUP BY 1),
    spine AS (
      SELECT event_type,
             CAST(unnest(generate_series(lo, hi, 3600)) AS BIGINT) AS h
      FROM b
    ),
    f AS (
      SELECT s.event_type, s.h, COALESCE(c.c, 0) AS c
      FROM spine s LEFT JOIN hc c ON c.event_type = s.event_type
                                 AND c.h = s.h
    ),
    al AS (
      SELECT x.event_type AS ta, y.event_type AS tb, x.h,
             x.c AS xa, y.c AS xb
      FROM f x JOIN f y ON y.h = x.h AND x.event_type < y.event_type
    ),
    pp AS (
      SELECT i.ta, i.tb,
             CASE WHEN j.xa > i.xa THEN 1
                  WHEN j.xa < i.xa THEN -1 ELSE 0 END AS dx,
             CASE WHEN j.xb > i.xb THEN 1
                  WHEN j.xb < i.xb THEN -1 ELSE 0 END AS dy
      FROM al i JOIN al j ON j.ta = i.ta AND j.tb = i.tb AND j.h > i.h
    ),
    agg AS (
      SELECT ta AS type_a, tb AS type_b,
             CAST(SUM(CASE WHEN dx * dy = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS nc,
             CAST(SUM(CASE WHEN dx * dy = -1 THEN 1 ELSE 0 END) AS BIGINT)
               AS nd,
             CAST(SUM(CASE WHEN dx = 0 AND dy <> 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_tie_x,
             CAST(SUM(CASE WHEN dx <> 0 AND dy = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_tie_y,
             CAST(SUM(CASE WHEN dx = 0 AND dy = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_tie_both
      FROM pp GROUP BY 1, 2
    ),
    nh AS (
      SELECT i.ta, i.tb, CAST(COUNT(*) AS BIGINT) AS n_hours_common
      FROM al i GROUP BY 1, 2
    )
    SELECT a.type_a, a.type_b, nh.n_hours_common,
           a.nc, a.nd, a.n_tie_x, a.n_tie_y, a.n_tie_both,
           (CAST(a.nc AS DOUBLE) - a.nd)
             / sqrt((CAST(a.nc AS DOUBLE) + a.nd + a.n_tie_x)
                    * (CAST(a.nc AS DOUBLE) + a.nd + a.n_tie_y)) AS tau_b
    FROM agg a JOIN nh ON nh.ta = a.type_a AND nh.tb = a.type_b
    """,
    tags=("events", "timeseries", "stats"),
)
def events_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KENDALL TAU-B rank concordance between every PAIR of event
    types' hourly series — "when clicks rise hour-over-hour, do
    purchases rise too?" measured without any linearity assumption,
    with the tau-b TIE correction (integer counts of concordant,
    discordant, x-tied, y-tied, both-tied hour pairs are all exact;
    zero-filled series tie often, so the correction is load-bearing).
    Series align on the INTERSECTION of the two types' spines (inner
    join on hour); tau-b's one double expression is shaped identically
    on both engines.

    Scale shape: hour-pair fan-out is span^2 per type pair (wall-clock
    property, not data volume — the Theil-Sen argument) over the
    map-side-combinable (type, hour) count; type pairs are C(5,2) = 10
    bounded keys; everything downstream of the first aggregate is
    span-sized. Reference basis: SURVEY.md §2.4 stats family (absent
    in reference)."""
    f = _dense_hourly_counts(table(spark, sf_dir, "events"))
    x = f.select(F.col("event_type").alias("ta"), "h", F.col("c").alias("xa"))
    y = f.select(
        F.col("event_type").alias("tb"),
        F.col("h").alias("hy"),
        F.col("c").alias("xb"),
    )
    al = (
        x.join(y, (F.col("hy") == F.col("h")) & (F.col("ta") < F.col("tb")))
        .select("ta", "tb", "h", "xa", "xb")
    )
    i = al.select("ta", "tb", F.col("h").alias("hi_"), F.col("xa").alias("xai"), F.col("xb").alias("xbi"))
    j = al.select("ta", "tb", F.col("h").alias("hj_"), F.col("xa").alias("xaj"), F.col("xb").alias("xbj"))
    dx = (
        F.when(F.col("xaj") > F.col("xai"), 1)
        .when(F.col("xaj") < F.col("xai"), -1)
        .otherwise(0)
    )
    dy = (
        F.when(F.col("xbj") > F.col("xbi"), 1)
        .when(F.col("xbj") < F.col("xbi"), -1)
        .otherwise(0)
    )
    pp = (
        i.join(j, ["ta", "tb"])
        .filter(F.col("hj_") > F.col("hi_"))
        .select("ta", "tb", dx.alias("dx"), dy.alias("dy"))
    )
    agg = pp.groupBy(
        F.col("ta").alias("type_a"), F.col("tb").alias("type_b")
    ).agg(
        F.sum(F.when(F.col("dx") * F.col("dy") == 1, 1).otherwise(0)).alias(
            "nc"
        ),
        F.sum(F.when(F.col("dx") * F.col("dy") == -1, 1).otherwise(0)).alias(
            "nd"
        ),
        F.sum(
            F.when((F.col("dx") == 0) & (F.col("dy") != 0), 1).otherwise(0)
        ).alias("n_tie_x"),
        F.sum(
            F.when((F.col("dx") != 0) & (F.col("dy") == 0), 1).otherwise(0)
        ).alias("n_tie_y"),
        F.sum(
            F.when((F.col("dx") == 0) & (F.col("dy") == 0), 1).otherwise(0)
        ).alias("n_tie_both"),
    )
    nh = al.groupBy(
        F.col("ta").alias("type_a"), F.col("tb").alias("type_b")
    ).agg(F.count("*").alias("n_hours_common"))
    tau = (F.col("nc").cast("double") - F.col("nd")) / F.sqrt(
        (F.col("nc").cast("double") + F.col("nd") + F.col("n_tie_x"))
        * (F.col("nc").cast("double") + F.col("nd") + F.col("n_tie_y"))
    )
    return agg.join(F.broadcast(nh), ["type_a", "type_b"]).select(
        "type_a",
        "type_b",
        "n_hours_common",
        "nc",
        "nd",
        "n_tie_x",
        "n_tie_y",
        "n_tie_both",
        tau.alias("tau_b"),
    )


# ---------------------------------------------------------------------------
# Friedman blocked rank test: do the event types keep the same daily
# traffic ordering, or does the ranking reshuffle day to day?
# ---------------------------------------------------------------------------
@register(
    "events_friedman_test",
    oracle="""
    WITH dc AS (
      SELECT event_type,
             CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT min(d) AS lo, max(d) AS hi FROM dc),
    days AS (
      SELECT CAST(unnest(generate_series(lo, hi, 86400)) AS BIGINT) AS d
      FROM bounds
    ),
    types AS (SELECT DISTINCT event_type FROM dc),
    f AS (
      SELECT t.event_type, s.d, COALESCE(dc.c, 0) AS c
      FROM days s CROSS JOIN types t
      LEFT JOIN dc ON dc.event_type = t.event_type AND dc.d = s.d
    ),
    r2 AS (
      SELECT l.d, l.event_type,
             2 * SUM(CASE WHEN r.c < l.c THEN 1 ELSE 0 END)
               + SUM(CASE WHEN r.c = l.c THEN 1 ELSE 0 END) + 1 AS r2
      FROM f l JOIN f r ON r.d = l.d
      GROUP BY l.d, l.event_type, l.c
    ),
    per_type AS (
      SELECT event_type, CAST(SUM(r2) AS BIGINT) AS r2_sum
      FROM r2 GROUP BY event_type
    ),
    consts AS (
      SELECT CAST((SELECT COUNT(*) FROM days) AS BIGINT) AS b,
             CAST((SELECT COUNT(*) FROM types) AS BIGINT) AS k,
             CAST((SELECT SUM(r2 * r2) FROM r2) AS BIGINT) AS a4
    ),
    stat AS (
      SELECT c.b, c.k, c.a4,
             c.b * c.k * (c.k + 1) * (c.k + 1) AS c4,
             (SELECT CAST(SUM((p.r2_sum - c.b * (c.k + 1))
                              * (p.r2_sum - c.b * (c.k + 1))) AS BIGINT)
              FROM per_type p) AS ssq
      FROM consts c
    )
    SELECT p.event_type, p.r2_sum,
           CAST(p.r2_sum AS DOUBLE) / (2.0 * s.b) AS mean_rank,
           s.b AS n_days, s.k AS n_types, s.a4 AS a4, s.ssq AS sum_sq_dev,
           s.k - 1 AS dof,
           CASE WHEN s.a4 = s.c4 THEN NULL
                ELSE CAST((s.k - 1) * s.ssq AS DOUBLE) / (s.a4 - s.c4)
           END AS chi2_friedman
    FROM per_type p CROSS JOIN stat s
    """,
    tags=("events", "stats", "inference"),
)
def events_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FRIEDMAN blocked rank test: each DAY is a block, each event type
    a treatment, the blocks rank the types' daily counts — does the
    traffic ORDERING reshuffle day to day or is one type's dominance
    systematic? (The nonparametric repeated-measures ANOVA; the runs /
    KS / Mann-Whitney kit tests levels, this tests rank STABILITY
    across blocks.) Every rank is the DOUBLED average rank 2r = 2*|{x_o
    < x}| + |{x_o = x}| + 1 — an integer even under ties (zero-filled
    days tie constantly, so the tie-exact form is load-bearing) — and
    the tie-corrected statistic (k-1)*sum_j(R2_j - b(k+1))^2 /
    (4A - 4C) is a ratio of EXACT integers (the doubling cancels), so
    the single emitted double division is the whole float surface.
    Degenerate blocks (every day ranks all types identically) null the
    statistic on both engines rather than dividing by zero.

    Scale shape: one map-side-combinable (type, day) count; the rank
    self-join is k^2 rows per day (k = |types|, bounded); everything
    downstream is (days x types)-sized — wall-clock-bounded, never
    data-sized. Reference basis: SURVEY.md §2.4 stats family (absent
    in reference)."""
    ev = table(spark, sf_dir, "events")
    dc = ev.groupBy(
        "event_type",
        F.unix_timestamp(F.date_trunc("day", "ts")).alias("d"),
    ).agg(F.count("*").alias("c"))
    bounds = dc.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    days = bounds.select(
        F.explode(F.sequence("lo", "hi", F.lit(86400))).alias("d")
    )
    types = dc.select("event_type").distinct()
    f = (
        days.crossJoin(F.broadcast(types))
        .join(dc, ["event_type", "d"], "left")
        .select(
            "event_type", "d", F.coalesce(F.col("c"), F.lit(0)).alias("c")
        )
    )
    left = f.select("event_type", "d", "c")
    right = f.select(
        F.col("d").alias("d_r"), F.col("c").alias("c_r")
    )
    r2 = (
        left.join(right, F.col("d_r") == F.col("d"))
        .groupBy("d", "event_type", "c")
        .agg(
            (
                2 * F.sum(F.when(F.col("c_r") < F.col("c"), 1).otherwise(0))
                + F.sum(F.when(F.col("c_r") == F.col("c"), 1).otherwise(0))
                + 1
            ).alias("r2")
        )
        .select("d", "event_type", "r2")
    )
    per_type = r2.groupBy("event_type").agg(F.sum("r2").alias("r2_sum"))
    b = days.agg(F.count("*").alias("b"))
    k = types.agg(F.count("*").alias("k"))
    a4 = r2.agg(F.sum(F.col("r2") * F.col("r2")).alias("a4"))
    consts = b.crossJoin(F.broadcast(k)).crossJoin(F.broadcast(a4))
    ssq = (
        per_type.crossJoin(F.broadcast(consts))
        .agg(
            F.sum(
                (F.col("r2_sum") - F.col("b") * (F.col("k") + 1))
                * (F.col("r2_sum") - F.col("b") * (F.col("k") + 1))
            ).alias("ssq")
        )
    )
    stat = consts.crossJoin(F.broadcast(ssq)).select(
        "b",
        "k",
        "a4",
        (F.col("b") * F.col("k") * (F.col("k") + 1) * (F.col("k") + 1)).alias(
            "c4"
        ),
        "ssq",
    )
    return per_type.crossJoin(F.broadcast(stat)).select(
        "event_type",
        "r2_sum",
        (F.col("r2_sum").cast("double") / (F.lit(2.0) * F.col("b"))).alias(
            "mean_rank"
        ),
        F.col("b").alias("n_days"),
        F.col("k").alias("n_types"),
        "a4",
        F.col("ssq").alias("sum_sq_dev"),
        (F.col("k") - 1).alias("dof"),
        F.when(F.col("a4") == F.col("c4"), F.lit(None).cast("double"))
        .otherwise(
            ((F.col("k") - 1) * F.col("ssq")).cast("double")
            / (F.col("a4") - F.col("c4"))
        )
        .alias("chi2_friedman"),
    )


# ---------------------------------------------------------------------------
# Lag-1 Granger screen between every ORDERED pair of types' hourly series
# ---------------------------------------------------------------------------
@register(
    "events_granger_lag1",
    oracle="""
    WITH hc AS (
      SELECT event_type,
             CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    b AS (SELECT event_type, min(h) AS lo, max(h) AS hi FROM hc GROUP BY 1),
    spine AS (
      SELECT event_type,
             CAST(unnest(generate_series(lo, hi, 3600)) AS BIGINT) AS h
      FROM b
    ),
    f AS (
      SELECT s.event_type, s.h, COALESCE(c.c, 0) AS c
      FROM spine s LEFT JOIN hc c ON c.event_type = s.event_type
                                 AND c.h = s.h
    ),
    al AS (
      SELECT x.event_type AS tx, y.event_type AS ty, x.h,
             x.c AS xv, y.c AS yv
      FROM f x JOIN f y ON y.h = x.h AND x.event_type <> y.event_type
    ),
    lagged AS (
      SELECT tx, ty, h, yv AS y,
             LAG(yv) OVER (PARTITION BY tx, ty ORDER BY h) AS u,
             LAG(xv) OVER (PARTITION BY tx, ty ORDER BY h) AS v
      FROM al
    ),
    s AS (
      SELECT tx, ty,
             CAST(COUNT(*) AS BIGINT) AS m,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(u) AS BIGINT) AS su,
             CAST(SUM(v) AS BIGINT) AS sv,
             SUM(CAST(y AS HUGEINT) * y) AS syy,
             SUM(CAST(u AS HUGEINT) * u) AS suu,
             SUM(CAST(v AS HUGEINT) * v) AS svv,
             SUM(CAST(y AS HUGEINT) * u) AS syu,
             SUM(CAST(y AS HUGEINT) * v) AS syv,
             SUM(CAST(u AS HUGEINT) * v) AS suv
      FROM lagged WHERE u IS NOT NULL
      GROUP BY tx, ty
    ),
    cmom AS (
      SELECT tx, ty, m,
             CAST(CAST(m * syy - CAST(sy AS HUGEINT) * sy AS VARCHAR)
                  AS DOUBLE) AS cyy,
             CAST(CAST(m * suu - CAST(su AS HUGEINT) * su AS VARCHAR)
                  AS DOUBLE) AS cuu,
             CAST(CAST(m * svv - CAST(sv AS HUGEINT) * sv AS VARCHAR)
                  AS DOUBLE) AS cvv,
             CAST(CAST(m * syu - CAST(sy AS HUGEINT) * su AS VARCHAR)
                  AS DOUBLE) AS cyu,
             CAST(CAST(m * syv - CAST(sy AS HUGEINT) * sv AS VARCHAR)
                  AS DOUBLE) AS cyv,
             CAST(CAST(m * suv - CAST(su AS HUGEINT) * sv AS VARCHAR)
                  AS DOUBLE) AS cuv
      FROM s
    ),
    rss AS (
      SELECT tx, ty, m,
             (cyy - cyu * cyu / cuu) / m AS rss_r,
             (cyy - (cyu * cyu * cvv - 2.0 * cyu * cyv * cuv
                     + cyv * cyv * cuu)
                    / (cuu * cvv - cuv * cuv)) / m AS rss_u
      FROM cmom
      WHERE cuu > 0 AND (cuu * cvv - cuv * cuv) > 0
    )
    SELECT tx AS type_cause, ty AS type_effect, m AS n_obs,
           rss_r, rss_u,
           (rss_r - rss_u) * (m - 3.0) / rss_u AS f_granger
    FROM rss WHERE rss_u > 0
    """,
    tags=("events", "timeseries", "stats", "inference"),
)
def events_granger_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG-1 GRANGER screen between every ORDERED pair of event types:
    does knowing last hour's CAUSE-series count improve the one-step
    forecast of the EFFECT series beyond its own history? F compares
    the restricted AR(1) fit y_t ~ y_{t-1} against the augmented
    y_t ~ y_{t-1} + x_{t-1} — the standard first-pass causality
    screen over operational telemetry (does click traffic LEAD
    purchases?). Every regression moment is an EXACT integer (counts
    and their products in HUGEINT/DECIMAL over the zero-filled common
    spine); the centered moments n*Sab - Sa*Sb render to double
    through strings (VARCHAR doctrine), and both RSS closed forms
    (Cramer's rule on the 2-predictor normal equations) are pinned
    double expressions shaped identically on both engines. Degenerate
    pairs (zero-variance lag columns or singular normal matrix) are
    filtered on BOTH engines rather than emitting +-inf.

    Scale shape: one (type, hour) count; the pair alignment joins on
    the hour key; per-ordered-pair LAG windows are span-bounded (the
    Theil-Sen argument); one reduce per ordered pair — nothing
    data-sized past the first aggregate. Reference basis: SURVEY.md
    §2.5 time-series family (absent in reference)."""
    f = _dense_hourly_counts(table(spark, sf_dir, "events"))
    x = f.select(F.col("event_type").alias("tx"), "h", F.col("c").alias("xv"))
    y = f.select(
        F.col("event_type").alias("ty"),
        F.col("h").alias("hy"),
        F.col("c").alias("yv"),
    )
    al = x.join(
        y, (F.col("hy") == F.col("h")) & (F.col("tx") != F.col("ty"))
    ).select("tx", "ty", "h", "xv", "yv")
    w = Window.partitionBy("tx", "ty").orderBy("h")
    lagged = al.select(
        "tx",
        "ty",
        F.col("yv").alias("y"),
        F.lag("yv").over(w).alias("u"),
        F.lag("xv").over(w).alias("v"),
    ).filter(F.col("u").isNotNull())
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s = lagged.groupBy("tx", "ty").agg(
        F.count("*").alias("m"),
        F.sum("y").alias("sy"),
        F.sum("u").alias("su"),
        F.sum("v").alias("sv"),
        F.sum(dec("y") * F.col("y")).alias("syy"),
        F.sum(dec("u") * F.col("u")).alias("suu"),
        F.sum(dec("v") * F.col("v")).alias("svv"),
        F.sum(dec("y") * F.col("u")).alias("syu"),
        F.sum(dec("y") * F.col("v")).alias("syv"),
        F.sum(dec("u") * F.col("v")).alias("suv"),
    )

    def cm(ab, a, bcol):
        return (
            (F.col("m") * F.col(ab) - dec(a) * F.col(bcol))
            .cast("decimal(38,0)")
            .cast("string")
            .cast("double")
        )

    cmom = s.select(
        "tx",
        "ty",
        "m",
        cm("syy", "sy", "sy").alias("cyy"),
        cm("suu", "su", "su").alias("cuu"),
        cm("svv", "sv", "sv").alias("cvv"),
        cm("syu", "sy", "su").alias("cyu"),
        cm("syv", "sy", "sv").alias("cyv"),
        cm("suv", "su", "sv").alias("cuv"),
    )
    det = F.col("cuu") * F.col("cvv") - F.col("cuv") * F.col("cuv")
    rss_r = (
        F.col("cyy") - F.col("cyu") * F.col("cyu") / F.col("cuu")
    ) / F.col("m")
    rss_u = (
        F.col("cyy")
        - (
            F.col("cyu") * F.col("cyu") * F.col("cvv")
            - F.lit(2.0) * F.col("cyu") * F.col("cyv") * F.col("cuv")
            + F.col("cyv") * F.col("cyv") * F.col("cuu")
        )
        / det
    ) / F.col("m")
    rss = (
        cmom.filter((F.col("cuu") > 0) & (det > 0))
        .select(
            "tx",
            "ty",
            "m",
            rss_r.alias("rss_r"),
            rss_u.alias("rss_u"),
        )
        .filter(F.col("rss_u") > 0)
    )
    return rss.select(
        F.col("tx").alias("type_cause"),
        F.col("ty").alias("type_effect"),
        F.col("m").alias("n_obs"),
        "rss_r",
        "rss_u",
        (
            (F.col("rss_r") - F.col("rss_u"))
            * (F.col("m") - F.lit(3.0))
            / F.col("rss_u")
        ).alias("f_granger"),
    )


# ---------------------------------------------------------------------------
# Ljung-Box portmanteau white-noise test per type (classical rho, lags 1-6)
# ---------------------------------------------------------------------------
LB_LAGS = 6


def _lb_oracle() -> str:
    lag_cols = ",\n             ".join(
        f"CAST(SUM(CASE WHEN rn > {k} THEN y * ylag{k} ELSE 0 END) "
        f"AS BIGINT) AS c{k}n2" for k in range(1, LB_LAGS + 1)
    )
    ylags = ",\n             ".join(
        f"LAG(y, {k}) OVER (PARTITION BY event_type ORDER BY h) AS ylag{k}"
        for k in range(1, LB_LAGS + 1)
    )
    rhos = ",\n           ".join(
        f"CAST(c{k}n2 AS DOUBLE) / c0n2 AS rho_{k}"
        for k in range(1, LB_LAGS + 1)
    )
    q_terms = " + ".join(
        f"(CAST(c{k}n2 AS DOUBLE) / c0n2) * (CAST(c{k}n2 AS DOUBLE) / c0n2)"
        f" / (n - {k})" for k in range(1, LB_LAGS + 1)
    )
    return f"""
    WITH hc AS (
      SELECT event_type,
             CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    b AS (SELECT event_type, min(h) AS lo, max(h) AS hi FROM hc GROUP BY 1),
    spine AS (
      SELECT event_type,
             CAST(unnest(generate_series(lo, hi, 3600)) AS BIGINT) AS h
      FROM b
    ),
    f AS (
      SELECT s.event_type, s.h, COALESCE(c.c, 0) AS c
      FROM spine s LEFT JOIN hc c ON c.event_type = s.event_type
                                 AND c.h = s.h
    ),
    tot AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(c) AS BIGINT) AS s1
      FROM f GROUP BY event_type
    ),
    yv AS (
      SELECT f.event_type, f.h, t.n,
             t.n * f.c - t.s1 AS y,
             ROW_NUMBER() OVER (PARTITION BY f.event_type
                                ORDER BY f.h) AS rn
      FROM f JOIN tot t ON t.event_type = f.event_type
    ),
    lagged AS (
      SELECT event_type, n, y, rn,
             {ylags}
      FROM yv
    ),
    sums AS (
      SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
             CAST(SUM(y * y) AS BIGINT) AS c0n2,
             {lag_cols}
      FROM lagged GROUP BY event_type
    )
    SELECT event_type, n AS n_hours, c0n2,
           {rhos},
           CAST(n AS DOUBLE) * (n + 2) * ({q_terms}) AS q_ljung_box
    FROM sums WHERE c0n2 > 0
    """


@register(
    "events_ljung_box",
    oracle=_lb_oracle(),
    tags=("events", "timeseries", "stats", "inference"),
)
def events_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LJUNG-BOX portmanteau test per event type: is the hourly series
    white noise, or does autocorrelation at ANY of lags 1..{L} remain
    (the residual-diagnostic gate every forecasting family — Holt,
    Holt-Winters, STL — should pass before its intervals are
    trusted)? Classical rho_k with the FULL-series mean, made exact:
    y_t = n*x_t - s1 (an integer), so every autocovariance c_k*n^2 =
    sum y_t*y_(t-k) is an exact BIGINT (bounded by span * (span *
    max_rate)^2 — ~1e14 here, ~1e20 per-million-hour bound documented)
    and rho_k = c_k/c_0 is one double division per lag; Q = n(n+2) *
    sum rho_k^2/(n-k) is a literal-unrolled fixed-order sum, shaped
    identically on both engines. Degenerate constant series
    (c0 = 0) filter identically. Complements events_acf_hourly
    (global Pearson per lag spine) with the per-type CLASSICAL rho
    and the single test statistic capacity reviews quote.

    Scale shape: one (type, hour) count; {L} bounded per-type window
    lags over the wall-clock-sized spine; one reduce per type.
    Reference basis: SURVEY.md §2.4 stats family (absent in
    reference)."""
    f = _dense_hourly_counts(table(spark, sf_dir, "events"))
    tot = f.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("c").alias("s1")
    )
    w = Window.partitionBy("event_type").orderBy("h")
    yv = (
        f.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            "h",
            "n",
            (F.col("n") * F.col("c") - F.col("s1")).alias("y"),
            F.row_number().over(w).alias("rn"),
        )
    )
    lag_cols = [
        F.lag("y", k).over(w).alias(f"ylag{k}") for k in range(1, LB_LAGS + 1)
    ]
    lagged = yv.select("event_type", "n", "y", "rn", *lag_cols)
    aggs = [
        F.max("n").alias("n_out"),
        F.sum(F.col("y") * F.col("y")).alias("c0n2"),
    ] + [
        F.sum(
            F.when(
                F.col("rn") > k, F.col("y") * F.col(f"ylag{k}")
            ).otherwise(0)
        ).alias(f"c{k}n2")
        for k in range(1, LB_LAGS + 1)
    ]
    sums = lagged.groupBy("event_type").agg(*aggs)
    rho = {
        k: F.col(f"c{k}n2").cast("double") / F.col("c0n2")
        for k in range(1, LB_LAGS + 1)
    }
    q = F.lit(None).cast("double")
    q_sum = None
    for k in range(1, LB_LAGS + 1):
        term = rho[k] * rho[k] / (F.col("n_out") - k)
        q_sum = term if q_sum is None else q_sum + term
    q = F.col("n_out").cast("double") * (F.col("n_out") + 2) * q_sum
    return sums.filter(F.col("c0n2") > 0).select(
        "event_type",
        F.col("n_out").alias("n_hours"),
        "c0n2",
        *[rho[k].alias(f"rho_{k}") for k in range(1, LB_LAGS + 1)],
        q.alias("q_ljung_box"),
    )


events_ljung_box.__doc__ = events_ljung_box.__doc__.format(L=LB_LAGS)


# ---------------------------------------------------------------------------
# Cochran's Q (k related binary treatments per user), pure-integer ratio
# ---------------------------------------------------------------------------
@register(
    "events_cochran_q",
    oracle="""
    WITH first_day AS (
      SELECT user_id, CAST(MIN(ts) AS DATE) AS d0 FROM events GROUP BY 1
    ),
    k AS (
      SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS k FROM events
    ),
    pres0 AS (
      SELECT DISTINCT e.user_id, e.event_type
      FROM events e JOIN first_day f ON f.user_id = e.user_id
      WHERE CAST(e.ts AS DATE) = f.d0
    ),
    rows0 AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS r
      FROM pres0 GROUP BY user_id
    ),
    keep AS (
      SELECT user_id, r FROM rows0, k WHERE r < k.k
    ),
    cols AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS c
      FROM pres0 JOIN keep USING (user_id)
      GROUP BY event_type
    ),
    cs AS (
      SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS t,
             CAST(COALESCE(SUM(CAST(c AS HUGEINT) * c), 0) AS HUGEINT)
               AS c2
      FROM cols
    ),
    rs AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(COALESCE(SUM(CAST(r AS HUGEINT) * r), 0) AS HUGEINT)
               AS r2
      FROM keep
    )
    SELECT k.k, rs.n_users, cs.t AS total_marks,
           CAST(k.k - 1 AS DOUBLE)
             * CAST(CAST(k.k * cs.c2 - CAST(cs.t AS HUGEINT) * cs.t
                         AS VARCHAR) AS DOUBLE)
             / NULLIF(CAST(CAST(CAST(k.k AS HUGEINT) * cs.t - rs.r2
                                AS VARCHAR) AS DOUBLE), 0.0) AS q_cochran
    FROM k, cs, rs
    """,
    tags=("events", "stats", "inference"),
)
def events_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COCHRAN'S Q over the k event types as RELATED binary treatments
    per user — "did user u fire type j on u's own FIRST ACTIVE DAY" —
    the k-treatment generalization of McNemar and the categorical
    sibling of events_friedman_test: are the five first-day engagement
    rates homogeneous once the per-user pairing is respected?
    All-positive rows (users who fired every type on day one) carry no
    information and are EXCLUDED per the classical convention (they
    also degenerate the denominator: with only saturated rows
    k*T = sum R_i^2 exactly); all-zero rows cannot occur since day one
    has >= 1 event. Q = (k-1)*(k*sum C_j^2 - T^2)/(k*T - sum R_i^2) is
    then a pure integer ratio: column totals C_j, row totals R_i, T in
    one distinct-pair aggregate, the only double the final division
    (exact terms VARCHAR-rendered past 2^53; NULLIF guards the
    fully-degenerate corpus).

    Scale shape: per-user min reduce, one distinct on (user, type) —
    both map-side combinable — two key-sized aggs, a three-scalar
    cross join. Reference basis: SURVEY.md §2.4 stats family (absent
    in reference)."""
    ev = table(spark, sf_dir, "events")
    first_day = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("d0")
    )
    k = ev.agg(F.countDistinct("event_type").alias("k"))
    pres0 = (
        ev.join(first_day, "user_id")
        .filter(F.col("ts").cast("date") == F.col("d0"))
        .select("user_id", "event_type")
        .distinct()
    )
    rows0 = pres0.groupBy("user_id").agg(F.count("*").alias("r"))
    keep = rows0.crossJoin(F.broadcast(k)).filter(
        F.col("r") < F.col("k")
    ).select("user_id", "r")
    cols = (
        pres0.join(keep.select("user_id"), "user_id")
        .groupBy("event_type")
        .agg(F.count("*").alias("c"))
    )
    cs = cols.agg(
        F.coalesce(F.sum("c"), F.lit(0)).alias("t"),
        F.coalesce(
            F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("c2"),
    )
    rs = keep.agg(
        F.count("*").alias("n_users"),
        F.coalesce(
            F.sum(F.col("r").cast("decimal(38,0)") * F.col("r")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("r2"),
    )
    j = k.crossJoin(F.broadcast(cs)).crossJoin(F.broadcast(rs))
    num = (
        F.col("k").cast("decimal(38,0)") * F.col("c2")
        - F.col("t").cast("decimal(38,0)") * F.col("t")
    )
    den = F.col("k").cast("decimal(38,0)") * F.col("t") - F.col("r2")
    return j.select(
        "k",
        "n_users",
        F.col("t").alias("total_marks"),
        (
            (F.col("k") - 1).cast("double")
            * num.cast("string").cast("double")
            / F.nullif(den.cast("string").cast("double"), F.lit(0.0))
        ).alias("q_cochran"),
    )


# ---------------------------------------------------------------------------
# Hurst rescaled-range (R/S) analysis over the hourly series, log-free
# ---------------------------------------------------------------------------
HURST_SCALES = (16, 64, 256)  # powers of 4: consecutive-scale R/S ratios
# estimate H as log4(ratio) without any engine-side log (ln is not
# engine-pinned; the ratio itself is the emitted statistic)


def _hurst_oracle() -> str:
    scales = ", ".join(str(s) for s in HURST_SCALES)
    return f"""
    WITH hc AS (
      SELECT event_type,
             CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    b AS (
      SELECT event_type, MIN(h) AS lo, MAX(h) AS hi FROM hc GROUP BY 1
    ),
    spine AS (
      SELECT b.event_type, g.h,
             ROW_NUMBER() OVER (PARTITION BY b.event_type ORDER BY g.h)
               AS rn
      FROM b, LATERAL unnest(generate_series(b.lo, b.hi, 3600)) AS g(h)
    ),
    f AS (
      SELECT s.event_type, s.h, s.rn,
             COALESCE(hc.c, 0) AS c
      FROM spine s LEFT JOIN hc
        ON hc.event_type = s.event_type AND hc.h = s.h
    ),
    sc AS (
      SELECT f.*, sch.scale,
             CAST((f.rn - 1) // sch.scale AS BIGINT) AS blk
      FROM f CROSS JOIN (SELECT unnest([{scales}]) AS scale) sch
    ),
    nblk AS (
      SELECT event_type, scale, blk,
             CAST(COUNT(*) AS BIGINT) AS nb_rows,
             CAST(SUM(c) AS BIGINT) AS s1,
             CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS s2
      FROM sc GROUP BY 1, 2, 3
    ),
    dev AS (
      SELECT sc.event_type, sc.scale, sc.blk, sc.rn,
             SUM(sc.scale * sc.c - nb.s1)
               OVER (PARTITION BY sc.event_type, sc.scale, sc.blk
                     ORDER BY sc.rn) AS y
      FROM sc JOIN nblk nb
        ON nb.event_type = sc.event_type AND nb.scale = sc.scale
       AND nb.blk = sc.blk
      WHERE nb.nb_rows = sc.scale
    ),
    rng AS (
      SELECT event_type, scale, blk,
             CAST(MAX(y) - MIN(y) AS BIGINT) AS r_scaled
      FROM dev GROUP BY 1, 2, 3
    ),
    rs AS (
      SELECT r.event_type, r.scale, r.blk,
             CAST(r.r_scaled AS DOUBLE)
               / sqrt(CAST(CAST(CAST(r.scale AS HUGEINT) * nb.s2
                                - CAST(nb.s1 AS HUGEINT) * nb.s1
                                AS VARCHAR) AS DOUBLE)) AS rs_val
      FROM rng r JOIN nblk nb
        ON nb.event_type = r.event_type AND nb.scale = r.scale
       AND nb.blk = r.blk
      WHERE CAST(r.scale AS HUGEINT) * nb.s2
            - CAST(nb.s1 AS HUGEINT) * nb.s1 > 0
    )
    SELECT event_type, CAST(scale AS BIGINT) AS scale,
           CAST(COUNT(*) AS BIGINT) AS n_blocks,
           list_reduce(
             list_prepend(CAST(0 AS DOUBLE), list(rs_val ORDER BY blk)),
             (acc, x) -> acc + x) / COUNT(*) AS avg_rs
    FROM rs GROUP BY 1, 2
    """


@register(
    "events_hurst_rs",
    oracle=_hurst_oracle(),
    tags=("events", "timeseries", "stats"),
)
def events_hurst_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HURST rescaled-range analysis per event type: average R/S over
    complete blocks at window scales 16/64/256 hours — the classical
    long-range-dependence probe (H > 1/2 means bursts cluster across
    scales, exactly what capacity planning needs to know beyond
    events_acf_hourly's short lags and events_fano_burstiness's single
    scale). The scales are POWERS OF 4, so consecutive avg_rs ratios
    estimate H as log4(ratio) — emitted as the raw ratios, keeping the
    whole plan log-free (ln is not engine-pinned). Exact to one sqrt
    per block: within a complete block of n hours, cumulative
    deviations are the integers y_k = sum(n*x_t - s_block), R*n =
    max(y) - min(y), and n^2*Var = n*sum(x^2) - s^2 — so R/S =
    r_scaled / sqrt(n*s2 - s1^2) is one division and one IEEE sqrt
    from exact integers (VARCHAR-rendered). Zero-variance blocks drop
    identically on both engines; per-(type, scale) averages fold in
    block order (the ordered-fold doctrine).

    Scale shape: one (type, hour) agg, a 3x literal scale explode over
    the wall-clock-bounded spine, per-block window sums keyed (type,
    scale, block), two key-sized reduces. Reference basis: SURVEY.md
    §2.4/§2.5 stats-window family (absent in reference)."""
    w_rn = Window.partitionBy("event_type").orderBy("h")
    f = _dense_hourly_counts(table(spark, sf_dir, "events")).withColumn(
        "rn", F.row_number().over(w_rn)
    )
    sc = f.select(
        "*",
        F.explode(
            F.array(*[F.lit(s) for s in HURST_SCALES])
        ).alias("scale"),
    ).withColumn(
        "blk", F.expr("(rn - 1) div scale").cast("long")
    )
    nblk = sc.groupBy("event_type", "scale", "blk").agg(
        F.count("*").alias("nb_rows"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("s2"),
    )
    w_blk = (
        Window.partitionBy("event_type", "scale", "blk")
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dev = (
        sc.join(nblk, ["event_type", "scale", "blk"])
        .filter(F.col("nb_rows") == F.col("scale"))
        .withColumn(
            "y",
            F.sum(
                F.col("scale").cast("long") * F.col("c") - F.col("s1")
            ).over(w_blk),
        )
    )
    rng = dev.groupBy("event_type", "scale", "blk").agg(
        (F.max("y") - F.min("y")).alias("r_scaled")
    )
    var_num = (
        F.col("scale").cast("decimal(38,0)") * F.col("s2")
        - F.col("s1").cast("decimal(38,0)") * F.col("s1")
    )
    rs = (
        rng.join(nblk, ["event_type", "scale", "blk"])
        .withColumn("var_num", var_num)
        .filter(F.col("var_num") > 0)
        .select(
            "event_type",
            "scale",
            "blk",
            (
                F.col("r_scaled").cast("double")
                / F.sqrt(F.col("var_num").cast("string").cast("double"))
            ).alias("rs_val"),
        )
    )
    return rs.groupBy("event_type", F.col("scale").cast("long").alias("scale")).agg(
        F.count("*").alias("n_blocks"),
        (
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("blk", "rs_val"))),
                F.lit(0.0),
                lambda acc, s: acc + s["rs_val"],
            )
            / F.count("*")
        ).alias("avg_rs"),
    )


# ---------------------------------------------------------------------------
# Bandt-Pompe ordinal patterns over consecutive hourly triples (log-free)
# ---------------------------------------------------------------------------
@register(
    "events_ordinal_patterns",
    oracle="""
    WITH hc AS (
      SELECT event_type,
             CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    b AS (
      SELECT event_type, MIN(h) AS lo, MAX(h) AS hi FROM hc GROUP BY 1
    ),
    spine AS (
      SELECT b.event_type, g.h
      FROM b, LATERAL unnest(generate_series(b.lo, b.hi, 3600)) AS g(h)
    ),
    f AS (
      SELECT s.event_type, s.h, COALESCE(hc.c, 0) AS c
      FROM spine s
      LEFT JOIN hc ON hc.event_type = s.event_type AND hc.h = s.h
    ),
    tri AS (
      SELECT event_type, c AS a,
             LEAD(c, 1) OVER (PARTITION BY event_type ORDER BY h) AS bb,
             LEAD(c, 2) OVER (PARTITION BY event_type ORDER BY h) AS cc
      FROM f
    ),
    coded AS (
      SELECT event_type,
             CAST(CASE WHEN a > bb THEN 4 ELSE 0 END
                  + CASE WHEN bb > cc THEN 2 ELSE 0 END
                  + CASE WHEN a > cc THEN 1 ELSE 0 END AS BIGINT) AS code
      FROM tri WHERE bb IS NOT NULL AND cc IS NOT NULL
    ),
    cnts AS (
      SELECT event_type, code, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM coded GROUP BY 1, 2
    )
    SELECT event_type, code,
           CASE code WHEN 0 THEN 'a<=b<=c' WHEN 1 THEN 'impossible_1'
                     WHEN 2 THEN 'a<=c<b'  WHEN 3 THEN 'c<a<=b'
                     WHEN 4 THEN 'b<a<=c'  WHEN 5 THEN 'b<=c<a'
                     WHEN 6 THEN 'impossible_6' ELSE 'c<b<a' END
             AS pattern,
           cnt,
           CAST(cnt AS DOUBLE)
             / SUM(cnt) OVER (PARTITION BY event_type) AS share
    FROM cnts
    """,
    tags=("events", "timeseries", "stats"),
)
def events_ordinal_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BANDT-POMPE ordinal-pattern census over consecutive hourly
    triples per event type — the permutation-entropy SUFFICIENT
    STATISTIC, kept log-free per the engine-pinning doctrine: the six
    achievable order patterns of (x_t, x_t+1, x_t+2) and their shares.
    A white-noise hour series spreads mass near-uniformly over the
    patterns; trends pile onto the monotone two, periodicity onto the
    peak/valley two — regime structure events_acf_hourly's linear lags
    cannot see. Ties (heavy in zero-filled hours) break by POSITION
    (earlier index ranks lower, the standard stable convention),
    encoded as three strict comparisons packed into an integer code —
    transitivity makes codes 1 (a<=b<=c yet a>c) and 6 (a>b>c yet
    a<=c) impossible, a built-in self-check (the unit test asserts
    they never occur). Pure integer counting:
    two LEADs over the spine, one (type, code) count, share the only
    double.

    Scale shape: one (type, hour) agg, two window LEADs over the
    wall-clock-bounded spine, one key-sized count. Reference basis:
    SURVEY.md §2.5 window family (absent in reference)."""
    f = _dense_hourly_counts(table(spark, sf_dir, "events"))
    w = Window.partitionBy("event_type").orderBy("h")
    tri = f.select(
        "event_type",
        F.col("c").alias("a"),
        F.lead("c", 1).over(w).alias("bb"),
        F.lead("c", 2).over(w).alias("cc"),
    ).filter(F.col("bb").isNotNull() & F.col("cc").isNotNull())
    coded = tri.select(
        "event_type",
        (
            F.when(F.col("a") > F.col("bb"), 4).otherwise(0)
            + F.when(F.col("bb") > F.col("cc"), 2).otherwise(0)
            + F.when(F.col("a") > F.col("cc"), 1).otherwise(0)
        ).cast("long").alias("code"),
    )
    cnts = coded.groupBy("event_type", "code").agg(
        F.count("*").alias("cnt")
    )
    wt = Window.partitionBy("event_type")
    pattern = (
        F.when(F.col("code") == 0, "a<=b<=c")
        .when(F.col("code") == 1, "impossible_1")
        .when(F.col("code") == 2, "a<=c<b")
        .when(F.col("code") == 3, "c<a<=b")
        .when(F.col("code") == 4, "b<a<=c")
        .when(F.col("code") == 5, "b<=c<a")
        .when(F.col("code") == 6, "impossible_6")
        .otherwise("c<b<a")
    )
    return cnts.select(
        "event_type",
        "code",
        pattern.alias("pattern"),
        "cnt",
        (
            F.col("cnt").cast("double") / F.sum("cnt").over(wt)
        ).alias("share"),
    )


# ---------------------------------------------------------------------------
# Kaplan-Meier survival (signup -> first purchase, 7-day follow-up) and the
# two-cohort log-rank test — the survival-analysis family, fold-exact
# ---------------------------------------------------------------------------
KM_WINDOW_H = 168  # follow-up horizon: 7 days of hours


def _km_subjects_sql() -> str:
    return f"""
    su AS (
      SELECT user_id, MIN(ts) AS t0
      FROM events WHERE event_type = 'signup' GROUP BY 1
    ),
    tmax AS (SELECT MAX(ts) AS tm FROM events),
    pu AS (
      SELECT s.user_id, MIN(e.ts) AS tp
      FROM su s JOIN events e
        ON e.user_id = s.user_id AND e.event_type = 'purchase'
       AND e.ts > s.t0 AND e.ts <= s.t0 + INTERVAL {KM_WINDOW_H} HOUR
      GROUP BY 1
    ),
    subj AS (
      SELECT su.user_id,
             CASE WHEN EXTRACT(hour FROM su.t0) < 12
                  THEN 'am' ELSE 'pm' END AS cohort,
             CASE WHEN pu.tp IS NOT NULL THEN 1 ELSE 0 END AS evt,
             CASE WHEN pu.tp IS NOT NULL
                  THEN CAST(floor(epoch(pu.tp - su.t0) / 3600) AS BIGINT)
                  ELSE LEAST(
                    CAST({KM_WINDOW_H} AS BIGINT),
                    CAST(floor(epoch(t.tm - su.t0) / 3600) AS BIGINT))
             END AS dur
      FROM su LEFT JOIN pu ON pu.user_id = su.user_id
      CROSS JOIN tmax t
    )"""


@register(
    "events_kaplan_meier",
    oracle=f"""
    WITH {_km_subjects_sql()},
    byt AS (
      SELECT dur AS t,
             CAST(SUM(evt) AS BIGINT) AS d,
             CAST(SUM(1 - evt) AS BIGINT) AS c
      FROM subj GROUP BY 1
    ),
    risk AS (
      SELECT t, d, c,
             CAST((SELECT COUNT(*) FROM subj)
                  - (SUM(d + c) OVER (ORDER BY t) - (d + c)) AS BIGINT)
               AS n_risk
      FROM byt
    ),
    steps AS (
      SELECT t, d, c, n_risk,
             CAST(d AS DOUBLE) / n_risk AS hazard,
             list_reduce(
               list_prepend(CAST(1 AS DOUBLE),
                 list(1.0 - CAST(d AS DOUBLE) / n_risk)
                   OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)),
               (acc, x) -> acc * x) AS survival
      FROM risk
    )
    SELECT t AS duration_h, d AS n_events, c AS n_censored, n_risk,
           hazard, survival
    FROM steps WHERE d > 0
    """,
    tags=("events", "stats", "survival"),
)
def events_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KAPLAN-MEIER product-limit survival curve for signup -> first
    purchase conversion within a {H}-hour follow-up window — THE
    censoring-correct time-to-event estimator (a naive conversion-rate
    cut ignores users whose window was cut short by the corpus edge;
    KM keeps them at risk exactly as long as they were observed).
    Subjects = signup users; event = first purchase within {H} h;
    administrative censoring at the corpus end or the window edge,
    with the classical deaths-before-censors tie convention. The curve
    is EXACT: risk sets are descending integer cumulatives over the
    BOUNDED duration spine (<= {H}+1 distinct hours, wall-clock-sized,
    never data-sized), per-step hazards d/n are single pinned
    divisions, and the survival product folds the factors in ascending
    time order — a pinned MULTIPLY sequence, the multiplicative twin
    of the ordered-sum doctrine — so both engines land bit-identical
    doubles. The fold's running collect_list costs O(spine^2) cells in
    the window frame — fine at <= {H}+1 rows, but a data-sized spine
    would need the segmented two-phase product rewrite instead.

    Scale shape: two per-user reduces (first signup, first qualifying
    purchase), one bounded-spine agg + window. Reference basis:
    SURVEY.md §2.4 stats family (absent in reference)."""
    ev = table(spark, sf_dir, "events")
    su = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    tmax = ev.agg(F.max("ts").alias("tm"))
    pu = (
        su.join(ev, "user_id")
        .filter(
            (F.col("event_type") == "purchase")
            & (F.col("ts") > F.col("t0"))
            & (
                F.col("ts")
                <= F.col("t0") + F.expr(f"INTERVAL {KM_WINDOW_H} HOUR")
            )
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("tp"))
    )
    subj = (
        su.join(pu, "user_id", "left")
        .crossJoin(F.broadcast(tmax))
        .select(
            "user_id",
            F.when(F.hour("t0") < 12, "am").otherwise("pm").alias(
                "cohort"
            ),
            F.when(F.col("tp").isNotNull(), 1).otherwise(0).alias("evt"),
            F.when(
                F.col("tp").isNotNull(),
                F.floor(
                    (
                        F.unix_timestamp("tp") - F.unix_timestamp("t0")
                    )
                    / 3600
                ),
            )
            .otherwise(
                F.least(
                    F.lit(KM_WINDOW_H).cast("long"),
                    F.floor(
                        (
                            F.unix_timestamp("tm")
                            - F.unix_timestamp("t0")
                        )
                        / 3600
                    ),
                )
            )
            .cast("long")
            .alias("dur"),
        )
    )
    byt = subj.groupBy(F.col("dur").alias("t")).agg(
        F.sum("evt").alias("d"),
        F.sum(1 - F.col("evt")).alias("c"),
    )
    total = subj.agg(F.count("*").alias("n_subj"))
    w_cum = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = byt.crossJoin(F.broadcast(total)).withColumn(
        "n_risk",
        F.col("n_subj")
        - (F.sum(F.col("d") + F.col("c")).over(w_cum) - (F.col("d") + F.col("c"))),
    )
    w_fold = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    factor = F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk")
    steps = risk.withColumn(
        "survival",
        F.aggregate(
            F.collect_list(factor).over(w_fold),
            F.lit(1.0),
            lambda acc, x: acc * x,
        ),
    )
    return steps.filter(F.col("d") > 0).select(
        F.col("t").alias("duration_h"),
        F.col("d").alias("n_events"),
        F.col("c").alias("n_censored"),
        F.col("n_risk").cast("long").alias("n_risk"),
        (F.col("d").cast("double") / F.col("n_risk")).alias("hazard"),
        "survival",
    )


events_kaplan_meier.__doc__ = events_kaplan_meier.__doc__.format(
    H=KM_WINDOW_H
)


@register(
    "events_logrank_test",
    oracle=f"""
    WITH {_km_subjects_sql()},
    byt AS (
      SELECT dur AS t, cohort,
             CAST(SUM(evt) AS BIGINT) AS d,
             CAST(SUM(1 - evt) AS BIGINT) AS c
      FROM subj GROUP BY 1, 2
    ),
    spine AS (
      SELECT t,
             CAST(COALESCE(SUM(CASE WHEN cohort = 'am' THEN d END), 0)
                  AS BIGINT) AS d1,
             CAST(COALESCE(SUM(CASE WHEN cohort = 'pm' THEN d END), 0)
                  AS BIGINT) AS d2,
             CAST(COALESCE(SUM(CASE WHEN cohort = 'am' THEN d + c END), 0)
                  AS BIGINT) AS out1,
             CAST(COALESCE(SUM(CASE WHEN cohort = 'pm' THEN d + c END), 0)
                  AS BIGINT) AS out2
      FROM byt GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(CASE WHEN cohort = 'am' THEN 1 ELSE 0 END)
                  AS BIGINT) AS nn1,
             CAST(SUM(CASE WHEN cohort = 'pm' THEN 1 ELSE 0 END)
                  AS BIGINT) AS nn2
      FROM subj
    ),
    risk AS (
      SELECT t, d1, d2,
             nn1 - (SUM(out1) OVER (ORDER BY t) - out1) AS n1,
             nn2 - (SUM(out2) OVER (ORDER BY t) - out2) AS n2
      FROM spine CROSS JOIN tot
    ),
    terms AS (
      SELECT t, d1, n1, n2, d1 + d2 AS d, n1 + n2 AS n
      FROM risk WHERE d1 + d2 > 0 AND n1 + n2 > 1
    ),
    folded AS (
      SELECT CAST(SUM(d1) AS BIGINT) AS o1,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(CAST(d AS DOUBLE) * n1 / n ORDER BY t)),
               (acc, x) -> acc + x) AS e1,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(CAST(d AS DOUBLE) * (CAST(n1 AS DOUBLE) / n)
                    * (CAST(n2 AS DOUBLE) / n)
                    * (CAST(n - d AS DOUBLE) / (n - 1)) ORDER BY t)),
               (acc, x) -> acc + x) AS v
      FROM terms
    )
    SELECT tot.nn1 AS n_am, tot.nn2 AS n_pm, f.o1 AS observed_am,
           f.e1 AS expected_am, f.v AS variance,
           (f.o1 - f.e1) / sqrt(f.v) AS z_logrank
    FROM folded f CROSS JOIN tot
    """,
    tags=("events", "stats", "survival", "inference"),
)
def events_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOG-RANK test between the morning- and evening-signup cohorts'
    conversion curves — the standard censoring-correct two-group
    survival comparison (a t-test on durations is WRONG under
    censoring; log-rank compares the full hazard histories):
    z = (O1 - E1)/sqrt(V) with E1 = sum d*n1/n and the hypergeometric
    variance V = sum d*(n1/n)*(n2/n)*(n-d)/(n-1) over pooled event
    times. O1 is an exact integer; E1 and V fold their per-time terms
    in ascending time order over the BOUNDED duration spine (the
    ordered-fold doctrine), so both engines land bit-identical
    doubles. Shares events_kaplan_meier's subject construction
    (deaths-before-censors, administrative censoring at the corpus
    edge).

    Scale shape: same two per-user reduces, a (time x cohort) pivot on
    the bounded spine, one scalar fold. Reference basis: SURVEY.md
    §2.4 stats family (absent in reference)."""
    ev = table(spark, sf_dir, "events")
    su = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    tmax = ev.agg(F.max("ts").alias("tm"))
    pu = (
        su.join(ev, "user_id")
        .filter(
            (F.col("event_type") == "purchase")
            & (F.col("ts") > F.col("t0"))
            & (
                F.col("ts")
                <= F.col("t0") + F.expr(f"INTERVAL {KM_WINDOW_H} HOUR")
            )
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("tp"))
    )
    subj = (
        su.join(pu, "user_id", "left")
        .crossJoin(F.broadcast(tmax))
        .select(
            F.when(F.hour("t0") < 12, "am").otherwise("pm").alias(
                "cohort"
            ),
            F.when(F.col("tp").isNotNull(), 1).otherwise(0).alias("evt"),
            F.when(
                F.col("tp").isNotNull(),
                F.floor(
                    (F.unix_timestamp("tp") - F.unix_timestamp("t0"))
                    / 3600
                ),
            )
            .otherwise(
                F.least(
                    F.lit(KM_WINDOW_H).cast("long"),
                    F.floor(
                        (F.unix_timestamp("tm") - F.unix_timestamp("t0"))
                        / 3600
                    ),
                )
            )
            .cast("long")
            .alias("dur"),
        )
    )
    byt = subj.groupBy(F.col("dur").alias("t"), "cohort").agg(
        F.sum("evt").alias("d"),
        F.sum(1 - F.col("evt")).alias("c"),
    )
    spine = byt.groupBy("t").agg(
        F.coalesce(
            F.sum(F.when(F.col("cohort") == "am", F.col("d"))), F.lit(0)
        ).alias("d1"),
        F.coalesce(
            F.sum(F.when(F.col("cohort") == "pm", F.col("d"))), F.lit(0)
        ).alias("d2"),
        F.coalesce(
            F.sum(
                F.when(F.col("cohort") == "am", F.col("d") + F.col("c"))
            ),
            F.lit(0),
        ).alias("out1"),
        F.coalesce(
            F.sum(
                F.when(F.col("cohort") == "pm", F.col("d") + F.col("c"))
            ),
            F.lit(0),
        ).alias("out2"),
    )
    tot = subj.agg(
        F.sum(F.when(F.col("cohort") == "am", 1).otherwise(0)).alias(
            "nn1"
        ),
        F.sum(F.when(F.col("cohort") == "pm", 1).otherwise(0)).alias(
            "nn2"
        ),
    )
    w_cum = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = spine.crossJoin(F.broadcast(tot)).select(
        "t",
        "d1",
        "d2",
        (
            F.col("nn1")
            - (F.sum("out1").over(w_cum) - F.col("out1"))
        ).alias("n1"),
        (
            F.col("nn2")
            - (F.sum("out2").over(w_cum) - F.col("out2"))
        ).alias("n2"),
        "nn1",
        "nn2",
    )
    terms = risk.filter(
        (F.col("d1") + F.col("d2") > 0)
        & (F.col("n1") + F.col("n2") > 1)
    ).select(
        "t",
        "d1",
        "n1",
        "n2",
        "nn1",
        "nn2",
        (F.col("d1") + F.col("d2")).alias("d"),
        (F.col("n1") + F.col("n2")).alias("n"),
    )
    e_term = F.col("d").cast("double") * F.col("n1") / F.col("n")
    v_term = (
        F.col("d").cast("double")
        * (F.col("n1").cast("double") / F.col("n"))
        * (F.col("n2").cast("double") / F.col("n"))
        * ((F.col("n") - F.col("d")).cast("double") / (F.col("n") - 1))
    )
    folded = terms.groupBy("nn1", "nn2").agg(
        F.sum("d1").alias("o1"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("t", e_term.alias("e")))),
            F.lit(0.0),
            lambda acc, s: acc + s["e"],
        ).alias("e1"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("t", v_term.alias("v")))),
            F.lit(0.0),
            lambda acc, s: acc + s["v"],
        ).alias("v"),
    )
    return folded.select(
        F.col("nn1").alias("n_am"),
        F.col("nn2").alias("n_pm"),
        F.col("o1").alias("observed_am"),
        F.col("e1").alias("expected_am"),
        F.col("v").alias("variance"),
        ((F.col("o1") - F.col("e1")) / F.sqrt(F.col("v"))).alias(
            "z_logrank"
        ),
    )


# ---------------------------------------------------------------------------
# Inter-event-time burstiness (Goh-Barabasi B) per user, top-k witnesses
# ---------------------------------------------------------------------------
IEB_MIN_GAPS = 5
IEB_TOPK = 20


@register(
    "events_interevent_burstiness",
    oracle=f"""
    WITH g AS (
      SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT)
               - CAST(floor(epoch(LAG(ts) OVER (PARTITION BY user_id
                                                ORDER BY ts, event_id)))
                      AS BIGINT) AS gap
      FROM events
    ),
    s AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(gap) AS HUGEINT) AS s1,
             CAST(SUM(CAST(gap AS HUGEINT) * gap) AS HUGEINT) AS s2
      FROM g WHERE gap IS NOT NULL GROUP BY user_id
      HAVING COUNT(*) >= {IEB_MIN_GAPS}
    ),
    b AS (
      SELECT user_id, n,
             CAST(s1 AS DOUBLE) / n AS mean_gap_s,
             (sqrt(CAST(CAST(n * s2 - s1 * s1 AS VARCHAR) AS DOUBLE))
              - CAST(CAST(s1 AS VARCHAR) AS DOUBLE))
             / (sqrt(CAST(CAST(n * s2 - s1 * s1 AS VARCHAR) AS DOUBLE))
                + CAST(CAST(s1 AS VARCHAR) AS DOUBLE)) AS b_stat
      FROM s
    )
    SELECT user_id, n AS n_gaps, mean_gap_s, b_stat
    FROM b ORDER BY b_stat DESC, user_id LIMIT {IEB_TOPK}
    """,
    tags=("events", "timeseries", "stats"),
)
def events_interevent_burstiness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """GOH-BARABASI burstiness B = (sigma - mu)/(sigma + mu) of each
    user's INTER-EVENT times — the other classic burstiness axis:
    events_fano_burstiness sees count dispersion on a fixed clock grid,
    B sees the gap-length distribution directly (B -> -1 metronome,
    0 Poisson, +1 bursty), which is what abuse/bot review actually
    reads. Gaps are exact integer seconds from one per-user LAG
    (event_id tie-break pins simultaneous rows); per-user moments are
    exact DECIMAL(38,0); B = (sqrt(n*s2 - s1^2) - s1)/(sqrt(...) + s1)
    needs ONE IEEE sqrt, every input VARCHAR-rendered. The {K}
    burstiest users (>= {M} gaps) emit with their witnesses; B-equal
    ties break on user id.

    Scale shape: one per-user window LAG, one map-side-combinable
    per-user reduce, one TakeOrdered. Reference basis: SURVEY.md §2.5
    window family (absent in reference)."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select(
        "user_id",
        (
            F.unix_timestamp("ts")
            - F.unix_timestamp(F.lag("ts").over(w))
        ).cast("long").alias("gap"),
    ).filter(F.col("gap").isNotNull())
    s = (
        g.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("gap").cast("decimal(38,0)")).alias("s1"),
            F.sum(
                F.col("gap").cast("decimal(38,0)") * F.col("gap")
            ).alias("s2"),
        )
        .filter(F.col("n") >= IEB_MIN_GAPS)
    )
    var_num = (
        F.col("n").cast("decimal(38,0)") * F.col("s2")
        - F.col("s1") * F.col("s1")
    )
    sq = F.sqrt(var_num.cast("string").cast("double"))
    s1d = F.col("s1").cast("string").cast("double")
    return (
        s.select(
            "user_id",
            F.col("n").alias("n_gaps"),
            (s1d / F.col("n")).alias("mean_gap_s"),
            ((sq - s1d) / (sq + s1d)).alias("b_stat"),
        )
        .orderBy(F.desc("b_stat"), "user_id")
        .limit(IEB_TOPK)
    )


events_interevent_burstiness.__doc__ = (
    events_interevent_burstiness.__doc__.format(
        K=IEB_TOPK, M=IEB_MIN_GAPS
    )
)


# ---------------------------------------------------------------------------
# CEP-style sequence pattern matching over per-user journeys (the
# MATCH_RECOGNIZE/Flink-CEP shape): regex over an ordered event-code string
# ---------------------------------------------------------------------------
EVENT_CODE = {
    "signup": "s",
    "view": "v",
    "click": "c",
    "purchase": "p",
    "error": "e",
}
FUNNEL_PATTERN = "s[vc]*p"  # signup, any browsing, purchase


@register(
    "events_pattern_match",
    oracle=f"""
    WITH c AS (
      SELECT user_id, ts, event_id,
             CASE event_type
               WHEN 'signup' THEN 's' WHEN 'view' THEN 'v'
               WHEN 'click' THEN 'c' WHEN 'purchase' THEN 'p'
               ELSE 'e' END AS code
      FROM events
    ),
    j AS (
      SELECT user_id, COUNT(*) AS n_events,
             string_agg(code, '' ORDER BY ts, event_id) AS journey
      FROM c GROUP BY user_id
    )
    SELECT user_id,
           CAST(n_events AS BIGINT) AS n_events,
           md5(journey) AS journey_md5,
           CAST(len(regexp_extract_all(journey, '{FUNNEL_PATTERN}'))
                AS BIGINT) AS n_funnels,
           COALESCE(regexp_extract(journey, '{FUNNEL_PATTERN}'), '')
             AS first_funnel,
           regexp_matches(journey, '{FUNNEL_PATTERN}') AS converted,
           CAST(COALESCE(list_max(list_transform(
                  regexp_extract_all(journey, 'c+'), x -> length(x))), 0)
                AS BIGINT) AS longest_click_run
    FROM j
    """,
    tags=("events", "window", "sequence"),
)
def events_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP-style sequence pattern matching — the MATCH_RECOGNIZE /
    Flink-CEP shape expressed Spark-first: each user's event stream
    becomes an ordered single-char journey string (pinned (ts,
    event_id) order via array_sort over structs — ONE shuffle on
    user_id, no window pass), and the pattern layer is plain regex over
    that string, evaluated JVM-side: non-overlapping occurrence count
    of the funnel pattern signup->(view|click)*->purchase, the first
    matched funnel's exact event codes, a conversion flag, and the
    longest consecutive-click run. At 100 TB the journey build is a
    map-side combine into one hash aggregate keyed by the natural
    per-entity key; the regex pass is embarrassingly parallel. Late
    events fold in by construction (array_sort happens after
    collection, not by arrival). The journey itself is md5'd in the
    result so the full ordered reconstruction is value-checked without
    hashing megabyte strings through the driver compare.

    Reference basis: SURVEY.md §2.9/§2.12 events family (absent in
    reference — the reference has zero sequence operators)."""
    ev = table(spark, sf_dir, "events")
    code = F.col("event_type")
    code_expr = (
        F.when(code == "signup", "s")
        .when(code == "view", "v")
        .when(code == "click", "c")
        .when(code == "purchase", "p")
        .otherwise("e")
    )
    j = (
        ev.select("user_id", "ts", "event_id", code_expr.alias("code"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "code"))
                    ),
                    lambda x: x.getField("code"),
                ),
            ).alias("journey"),
        )
    )
    pat = F.lit(FUNNEL_PATTERN)
    runs = F.regexp_extract_all(F.col("journey"), F.lit("c+"), 0)
    return j.select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        F.md5(F.col("journey")).alias("journey_md5"),
        F.size(F.regexp_extract_all(F.col("journey"), pat, 0))
        .cast("long")
        .alias("n_funnels"),
        F.regexp_extract(F.col("journey"), FUNNEL_PATTERN, 0).alias(
            "first_funnel"
        ),
        F.col("journey").rlike(FUNNEL_PATTERN).alias("converted"),
        F.coalesce(
            F.array_max(F.transform(runs, lambda x: F.length(x))),
            F.lit(0),
        )
        .cast("long")
        .alias("longest_click_run"),
    )
