"""Streaming query registrations (SURVEY.md §2.9).

Each callable drains a Structured Streaming job (file source -> watermark ->
stateful op -> AvailableNow -> memory sink) and returns the drained batch
DataFrame, so streaming results face the SAME DuckDB oracle as batch — the
strongest correctness statement available for the streaming path.
"""

from __future__ import annotations

from ..streaming import jobs
from .registry import register


register(
    "stream_tumbling_agg",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("stream", "window", "agg"),
)(jobs.stream_tumbling_agg)


register(
    "stream_dedup_keys",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    tags=("stream", "dedup"),
)(jobs.stream_dedup_keys)


register(
    "stream_stream_join",
    oracle="""
    SELECT p.event_id AS purchase_id,
           c.event_id AS click_id,
           p.user_id AS user_id,
           p.ts AS p_ts,
           c.ts AS c_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL 1 HOUR
    """,
    tags=("stream", "join"),
)(jobs.stream_stream_join)


register(
    "stream_user_totals",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY user_id
    """,
    tags=("stream", "stateful", "pandas_udf"),
)(jobs.stream_user_totals)


register(
    "stream_session_window",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
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
    tags=("stream", "session", "window"),
)(jobs.stream_session_window)


register(
    "stream_sliding_agg",
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
    tags=("stream", "window", "sliding"),
)(jobs.stream_sliding_agg)


register(
    "stream_dedup_watermark",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    tags=("streaming", "dedup", "stateful"),
)(jobs.stream_dedup_within_watermark)


register(
    "stream_static_enrich",
    oracle="""
    SELECT date_trunc('hour', e.ts) AS window_start,
           c.c_mktsegment AS segment,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY 1, 2
    """,
    tags=("stream", "join", "agg"),
)(jobs.stream_static_enrich)


register(
    "stream_incremental_mv",
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
    tags=("stream", "incremental", "mv"),
)(jobs.stream_incremental_mv)


register(
    "stream_cdc_apply",
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
    tags=("stream", "cdc", "upsert"),
)(jobs.stream_cdc_apply)


register(
    "stream_holt_forecast",
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
                 [0.5 * x[1] + 0.5 * (acc[1] + acc[2]),
                  0.25 * ((0.5 * x[1] + 0.5 * (acc[1] + acc[2])) - acc[1])
                  + 0.75 * acc[2]]
             ) AS st
      FROM events GROUP BY user_id
    ) s(user_id, n_events, st)
    """,
    tags=("stream", "stateful", "recursive", "forecast", "pandas_udf"),
)(jobs.stream_holt_forecast)


register(
    "stream_kmv_distinct",
    oracle=f"""
    WITH hv AS (
      SELECT DISTINCT event_type,
             CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8))
                  AS BIGINT) AS hv
      FROM events
    ),
    ranked AS (
      SELECT event_type, hv,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn
      FROM hv
    ),
    kept AS (SELECT event_type, hv FROM ranked WHERE rn <= {jobs._KMV_K})
    SELECT event_type,
           COUNT(*) AS n_kept,
           CAST(MAX(hv) AS BIGINT) AS kth_min,
           CASE WHEN COUNT(*) < {jobs._KMV_K}
                THEN CAST(COUNT(*) AS DOUBLE)
                ELSE ({jobs._KMV_K - 1}.0 * {jobs._KMV_SPACE!r}) / MAX(hv) END
             AS est_distinct
    FROM kept GROUP BY event_type
    """,
    tags=("stream", "stateful", "sketch", "cardinality", "pandas_udf"),
)(jobs.stream_kmv_distinct)


def _stream_hll_oracle() -> str:
    from .feature_ops import (
        _HLL_EST_NUM,
        _HLL_LC,
        _HLL_LC_THRESHOLD,
        _dlit,
        HLL_HASH_HEX,
        HLL_M,
        HLL_W_BITS,
    )

    lc_list = ", ".join(_dlit(_HLL_LC[v]) for v in range(1, HLL_M))
    return f"""
    WITH hv AS (
      SELECT event_type,
             CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)),
                                      1, {HLL_HASH_HEX})) AS BIGINT) AS h
      FROM events
    ),
    br AS (
      SELECT event_type, h % {HLL_M} AS bucket,
             CASE WHEN h // {HLL_M} = 0 THEN {HLL_W_BITS + 1}
                  ELSE {HLL_W_BITS + 1} - length(bin(h // {HLL_M})) END AS rank
      FROM hv
    ),
    regs AS (
      SELECT event_type, bucket, MAX(rank) AS max_rank
      FROM br GROUP BY event_type, bucket
    ),
    per_key AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_registers,
             CAST(SUM(CASE WHEN max_rank <= {HLL_W_BITS}
                           THEN CAST(1 AS BIGINT) << ({HLL_W_BITS} - max_rank)
                           ELSE 0 END) AS BIGINT) AS sum_geo,
             array_to_string(
               list(CAST(bucket AS VARCHAR) || ':' || CAST(max_rank AS VARCHAR)
                    ORDER BY bucket), ',') AS registers
      FROM regs GROUP BY event_type
    ),
    est AS (
      SELECT event_type, n_registers, sum_geo, registers,
             CAST({_HLL_EST_NUM!r} AS DOUBLE)
               / CAST(sum_geo + ({HLL_M} - n_registers)
                      * {1 << HLL_W_BITS} AS DOUBLE) AS est_raw,
             {HLL_M} - n_registers AS n_empty
      FROM per_key
    )
    SELECT event_type, n_registers, sum_geo, registers,
           est_raw AS est_distinct,
           CASE WHEN est_raw <= {_HLL_LC_THRESHOLD!r} AND n_empty > 0
                THEN (CAST([{lc_list}] AS DOUBLE[]))[n_empty]
                ELSE est_raw END AS est_corrected
    FROM est
    """


register(
    "stream_hll_distinct",
    oracle=_stream_hll_oracle(),
    tags=("stream", "stateful", "sketch", "cardinality", "pandas_udf"),
)(jobs.stream_hll_distinct)


register(
    "stream_priority_sample",
    oracle=f"""
    WITH pri AS (
      SELECT event_type, event_id, CAST(value AS DOUBLE) AS w,
             CAST(value AS DOUBLE)
               / ((CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)),
                                           1, 8)) AS BIGINT) + 1)
                  / 4294967296.0) AS priority
      FROM events
    ),
    ranked AS (
      SELECT event_type, event_id, w, priority,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY priority DESC, event_id) AS rnk
      FROM pri
    ),
    tau AS (SELECT event_type, priority AS t FROM ranked
            WHERE rnk = {jobs._STREAM_PRIO_K + 1}),
    samp AS (
      SELECT r.event_type, r.event_id, r.w, COALESCE(t.t, 0.0) AS t
      FROM ranked r LEFT JOIN tau t ON t.event_type = r.event_type
      WHERE r.rnk <= {jobs._STREAM_PRIO_K}
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS k_sample,
           MAX(t) AS tau,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                    list(GREATEST(w, t) ORDER BY event_id)),
                       (a, b) -> a + b) AS est_total,
           array_to_string(list(CAST(event_id AS VARCHAR)
                                ORDER BY event_id), ',') AS sample_ids
    FROM samp GROUP BY event_type
    """,
    tags=("stream", "stateful", "sketch", "sampling", "pandas_udf"),
)(jobs.stream_priority_sample)


register(
    "stream_countmin",
    oracle=f"""
    WITH ex AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_exact
      FROM events GROUP BY user_id
    ),
    cand AS (
      SELECT user_id, n_exact FROM (
        SELECT user_id, n_exact,
               ROW_NUMBER() OVER (ORDER BY n_exact DESC, user_id) AS r
        FROM ex
      ) WHERE r <= {jobs.SCM_TOPN}
    ),
    sk AS (
      SELECT t.d AS depth,
             CAST(('0x' || substring(md5(CAST(t.d AS VARCHAR) || '|' ||
                                         CAST(e.user_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % {jobs.SCM_W} AS bucket,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events e CROSS JOIN range(0, {jobs.SCM_D}) t(d)
      GROUP BY 1, 2
    ),
    probes AS (
      SELECT c.user_id, c.n_exact, t.d AS depth,
             CAST(('0x' || substring(md5(CAST(t.d AS VARCHAR) || '|' ||
                                         CAST(c.user_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % {jobs.SCM_W} AS bucket
      FROM cand c CROSS JOIN range(0, {jobs.SCM_D}) t(d)
    )
    SELECT p.user_id, ANY_VALUE(p.n_exact) AS n_exact,
           MIN(s.cnt) AS n_est,
           MIN(s.cnt) - ANY_VALUE(p.n_exact) AS overcount
    FROM probes p JOIN sk s ON s.depth = p.depth AND s.bucket = p.bucket
    GROUP BY p.user_id
    """,
    tags=("stream", "stateful", "sketch", "pandas_udf"),
)(jobs.stream_countmin)


register(
    "stream_hdr_quantile",
    oracle=f"""
    WITH cells AS (
      SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS c
      FROM events
    ),
    binned AS (
      SELECT event_type,
             CAST(length(bin(c)) * {1 << jobs.SHQ_SUB_BITS}
                  + CASE WHEN length(bin(c)) <= {jobs.SHQ_SUB_BITS} THEN 0
                    ELSE (c // (1::BIGINT
                                << (length(bin(c))
                                    - {jobs.SHQ_SUB_BITS + 1})))
                         - {1 << jobs.SHQ_SUB_BITS} END AS BIGINT) AS cell
      FROM cells
    ),
    hist AS (
      SELECT event_type, cell, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM binned GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, cell, cnt,
             CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY cell)
               AS BIGINT) AS cum_n,
             CAST(SUM(cnt) OVER (PARTITION BY event_type)
               AS BIGINT) AS n_total
      FROM hist
    ),
    qs AS (SELECT unnest([{', '.join(f'CAST({q} AS DOUBLE)'
                                     for q in jobs.SHQ_QS)}]) AS q),
    tgt AS (
      SELECT t.event_type, t.n_total, q.q,
             CAST(CEIL(q.q * t.n_total) AS BIGINT) AS target
      FROM (SELECT DISTINCT event_type, n_total FROM cum) t
      CROSS JOIN qs q
    ),
    pick AS (
      SELECT event_type, q, target, cell, cum_n, n_total FROM (
        SELECT c.event_type, g.q, g.target, c.cell, c.cum_n, c.n_total,
               ROW_NUMBER() OVER (PARTITION BY c.event_type, g.q
                                  ORDER BY c.cell) AS r
        FROM cum c JOIN tgt g ON g.event_type = c.event_type
                             AND c.cum_n >= g.target
      ) WHERE r = 1
    ),
    ranked AS (
      SELECT event_type, c,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY c) AS rn
      FROM cells
    )
    SELECT p.event_type, p.q, p.cell,
           CAST(p.cell // {1 << jobs.SHQ_SUB_BITS} AS BIGINT) AS b,
           CAST(p.cell % {1 << jobs.SHQ_SUB_BITS} AS BIGINT) AS sub,
           CAST(CASE WHEN p.cell // {1 << jobs.SHQ_SUB_BITS}
                          <= {jobs.SHQ_SUB_BITS}
                THEN (1::BIGINT << (CAST(p.cell // {1 << jobs.SHQ_SUB_BITS}
                                         AS INT) - 1))
                ELSE ({1 << jobs.SHQ_SUB_BITS}
                      + p.cell % {1 << jobs.SHQ_SUB_BITS})
                     << (CAST(p.cell // {1 << jobs.SHQ_SUB_BITS} AS INT)
                         - {jobs.SHQ_SUB_BITS + 1}) END AS BIGINT)
             AS cell_lo,
           p.cum_n, p.n_total, r.c AS exact_cents
    FROM pick p
    JOIN ranked r ON r.event_type = p.event_type AND r.rn = p.target
    """,
    tags=("stream", "stateful", "sketch", "histogram", "pandas_udf"),
)(jobs.stream_hdr_quantile)


register(
    "stream_bitmap_distinct",
    oracle="""
    WITH bm AS (
      SELECT event_type, user_id // 63 AS block,
             bit_or(1::BIGINT << CAST(user_id % 63 AS INT)) AS w
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_blocks,
             CAST(SUM(bit_count(w)) AS BIGINT) AS n_distinct_stream
      FROM bm GROUP BY event_type
    ),
    ex AS (
      SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT)
               AS n_distinct_exact
      FROM events GROUP BY event_type
    )
    SELECT s.event_type, s.n_blocks, s.n_distinct_stream,
           e.n_distinct_exact,
           s.n_distinct_stream = e.n_distinct_exact AS exact_match
    FROM s JOIN ex e ON e.event_type = s.event_type
    """,
    tags=("stream", "stateful", "bitmap", "distinct", "pandas_udf"),
)(jobs.stream_bitmap_distinct)


register(
    "stream_minmax_witness",
    oracle="""
    WITH m AS (
      SELECT event_type, MIN(value) AS min_value, MAX(value) AS max_value
      FROM events WHERE value IS NOT NULL GROUP BY event_type
    ),
    wi AS (
      SELECT e.event_type, CAST(MIN(e.event_id) AS BIGINT) AS min_event_id
      FROM events e JOIN m ON m.event_type = e.event_type
                   AND e.value = m.min_value
      GROUP BY e.event_type
    ),
    wx AS (
      SELECT e.event_type, CAST(MIN(e.event_id) AS BIGINT) AS max_event_id
      FROM events e JOIN m ON m.event_type = e.event_type
                   AND e.value = m.max_value
      GROUP BY e.event_type
    )
    SELECT m.event_type, m.min_value, wi.min_event_id,
           m.max_value, wx.max_event_id,
           m.max_value - m.min_value AS value_range
    FROM m JOIN wi ON wi.event_type = m.event_type
           JOIN wx ON wx.event_type = m.event_type
    """,
    tags=("stream", "stateful", "extrema", "pandas_udf"),
)(jobs.stream_minmax_witness)


register(
    "stream_moments",
    oracle="""
    WITH c AS (
      SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL
    ),
    s AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS s1,
             SUM(CAST(cents AS HUGEINT) * cents) AS s2h,
             SUM(CAST(cents AS HUGEINT) * cents * cents) AS s3h,
             SUM(CAST(cents AS HUGEINT) * cents * cents * cents) AS s4h
      FROM c GROUP BY 1
    ),
    d AS (
      SELECT event_type, n, s1,
             CAST(s2h AS VARCHAR) AS s2_str,
             CAST(s3h AS VARCHAR) AS s3_str,
             CAST(s4h AS VARCHAR) AS s4_str,
             CAST(n AS DOUBLE) AS nd,
             CAST(CAST(s1 AS VARCHAR) AS DOUBLE) AS s1d,
             CAST(CAST(s2h AS VARCHAR) AS DOUBLE) AS s2d,
             CAST(CAST(s3h AS VARCHAR) AS DOUBLE) AS s3d,
             CAST(CAST(s4h AS VARCHAR) AS DOUBLE) AS s4d
      FROM s
    ),
    m AS (
      SELECT event_type, n, s1, s2_str, s3_str, s4_str, nd, s1d,
             (nd * s2d - s1d * s1d) / (nd * nd) AS m2,
             (nd * nd * s3d - 3.0 * nd * s1d * s2d
              + 2.0 * s1d * s1d * s1d) / (nd * nd * nd) AS m3,
             (nd * nd * nd * s4d
              - 4.0 * nd * nd * s1d * s3d
              + 6.0 * nd * s1d * s1d * s2d
              - 3.0 * s1d * s1d * s1d * s1d)
               / (nd * nd * nd * nd) AS m4
      FROM d
    )
    SELECT event_type, n AS n_values, s1 AS sum_cents,
           s2_str, s3_str, s4_str,
           s1d / nd / 100.0 AS mean_value,
           m2 AS var_pop_cents2,
           m3 / (m2 * sqrt(m2)) AS skewness,
           m4 / (m2 * m2) - 3.0 AS kurtosis_excess
    FROM m
    """,
    tags=("stream", "stateful", "moments", "pandas_udf"),
)(jobs.stream_moments)


register(
    "stream_ams_f2",
    oracle=f"""
    WITH cnt AS (
      SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    z AS (
      SELECT event_type, t.r,
             CAST(SUM((1 - 2 * (CAST(('0x' || substring(
                       md5(CAST(t.r AS VARCHAR) || '#' ||
                           CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT)
                                 % 2)) * c) AS BIGINT) AS z
      FROM cnt CROSS JOIN range(0, {{R}}) t(r)
      GROUP BY 1, 2
    ),
    sk AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS rows_r,
             CAST(SUM(CAST(z AS HUGEINT) * z) AS HUGEINT) AS zz
      FROM z GROUP BY 1
    ),
    ex AS (
      SELECT event_type,
             CAST(SUM(CAST(c AS HUGEINT) * c) AS BIGINT) AS f2_exact
      FROM cnt GROUP BY 1
    )
    SELECT sk.event_type, sk.rows_r,
           CAST(sk.zz AS BIGINT) AS sum_z2,
           CAST(CAST(sk.zz AS VARCHAR) AS DOUBLE) / sk.rows_r AS f2_est,
           ex.f2_exact,
           CAST(CAST(sk.zz AS VARCHAR) AS DOUBLE) / sk.rows_r
             / CAST(ex.f2_exact AS DOUBLE) AS est_over_exact
    FROM sk JOIN ex ON ex.event_type = sk.event_type
    """.replace("{R}", str(jobs.AMS_R)),
    tags=("stream", "stateful", "sketch", "pandas_udf"),
)(jobs.stream_ams_f2)


register(
    "stream_pattern_match",
    oracle="""
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
           CAST(len(regexp_extract_all(journey, 's[vc]*p'))
                AS BIGINT) AS n_funnels,
           COALESCE(regexp_extract(journey, 's[vc]*p'), '')
             AS first_funnel,
           regexp_matches(journey, 's[vc]*p') AS converted,
           CAST(COALESCE(list_max(list_transform(
                  regexp_extract_all(journey, 'c+'), x -> length(x))), 0)
                AS BIGINT) AS longest_click_run
    FROM j
    """,
    tags=("stream", "sequence", "state"),
)(jobs.stream_pattern_match)
