"""Time-series and event analytics over the events and orders tables
(``operators/temporal.py``): gap filling, sessionization, funnels,
cohorts and retention, as-of, range and interval joins, rolling and
time-weighted windows, Markov transitions, attribution, seasonality and
cadence profiles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdcm_etl_spark.operators.temporal import (
    activity_streaks,
    asof_join,
    attribution_position,
    attribution_touch,
    churn_summary,
    cohort_retention,
    event_path_topk,
    event_transitions,
    freshness_audit,
    funnel_stages,
    funnel_time_to_convert,
    gapfill_daily,
    interarrival_profile,
    interval_overlap_join,
    out_of_orderness_profile,
    pit_enrich,
    range_join_points_in_intervals,
    revenue_retention,
    rolling_aggregate,
    seasonal_anomaly,
    session_gap_sensitivity,
    sessionize,
    time_weighted_average,
    user_accumulation,
)
from pdcm_etl_spark.sources.lake import load_events


def x_timeseries_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily calendar densification + forward fill per event_type:
    zero-filled counts, carried-forward decimal-exact micro sums,
    epoch-day integer axis."""
    return gapfill_daily(load_events(spark, sf_dir))


SQL_TIMESERIES_GAPFILL = """
WITH daily AS (
  SELECT event_type AS key,
         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
              AS INTEGER) AS day,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)
           AS sum_value_micro
  FROM events GROUP BY 1, 2
),
span AS (SELECT key, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY key),
cal AS (
  SELECT key, CAST(unnest(range(d0, d1 + 1)) AS INTEGER) AS day FROM span
)
SELECT c.key AS event_type, c.day,
       COALESCE(d.n_events, 0) AS n_events,
       LAST_VALUE(d.sum_value_micro IGNORE NULLS) OVER (
         PARTITION BY c.key ORDER BY c.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS filled_value_micro
FROM cal c LEFT JOIN daily d USING (key, day)
"""


def x_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch gap-based sessionization (30-min gap) — the windowed batch
    twin of the applyInPandasWithState streaming sessionizer: one
    user-keyed shuffle serves the lag + running-sum windows, then a
    (user, session) aggregation. Integer-microsecond gap arithmetic."""
    return sessionize(load_events(spark, sf_dir), gap_seconds=1800)


SQL_SESSIONIZE_BATCH = """
WITH lagged AS (
  SELECT user_id, event_id, ts, value,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
),
flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN prev IS NULL
                   OR epoch_us(ts) - epoch_us(prev) > 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM lagged
),
sess AS (
  SELECT user_id, ts, value,
         SUM(is_new) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS session_seq
  FROM flagged
)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       MIN(ts) AS start_ts, MAX(ts) AS end_ts,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)
         AS sum_value_micro
FROM sess
GROUP BY 1, 2
"""


def x_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """signup → view → click → purchase ordered funnel per user: each
    stage's earliest time strictly after the previous stage's. k-deep
    chain of user-keyed filtered MIN aggregations — no history windows,
    no collects."""
    ev = load_events(spark, sf_dir)
    return funnel_stages(ev, ["signup", "view", "click", "purchase"])


SQL_FUNNEL_STAGES = """
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t_1 FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t_2
  FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'view' AND e.ts > s1.t_1
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t_3
  FROM events e JOIN s2 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > s2.t_2
  GROUP BY e.user_id
),
s4 AS (
  SELECT e.user_id, MIN(e.ts) AS t_4
  FROM events e JOIN s3 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > s3.t_3
  GROUP BY e.user_id
)
SELECT s1.user_id, s1.t_1, s2.t_2, s3.t_3, s4.t_4,
       CAST(CASE WHEN s1.t_1 IS NOT NULL THEN 1 ELSE 0 END
          + CASE WHEN s2.t_2 IS NOT NULL THEN 1 ELSE 0 END
          + CASE WHEN s3.t_3 IS NOT NULL THEN 1 ELSE 0 END
          + CASE WHEN s4.t_4 IS NOT NULL THEN 1 ELSE 0 END
          AS INTEGER) AS stages_reached
FROM s1
LEFT JOIN s2 ON s2.user_id = s1.user_id
LEFT JOIN s3 ON s3.user_id = s1.user_id
LEFT JOIN s4 ON s4.user_id = s1.user_id
"""


def x_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-activity-week cohorts × week-offset active-user counts (the
    growth-analytics retention triangle). Engine-neutral integer week
    bucketing (epoch-day div 7)."""
    return cohort_retention(load_events(spark, sf_dir))


SQL_COHORT_RETENTION = """
WITH activity AS (
  SELECT DISTINCT user_id AS u,
         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7
              AS INTEGER) AS week
  FROM events
),
first AS (SELECT u, MIN(week) AS cohort_week FROM activity GROUP BY u)
SELECT f.cohort_week,
       a.week - f.cohort_week AS week_offset,
       COUNT(DISTINCT a.u) AS n_users
FROM activity a JOIN first f USING (u)
GROUP BY f.cohort_week, week_offset
"""


def x_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time enrichment: every click event gets the most recent
    purchase (value + timestamp) by the same user at or before the click.
    Distributed as union + ordered window — one shuffle on user_id, no
    range explosion (operators/temporal.py). Oracle: DuckDB native ASOF
    LEFT JOIN over the same deduped purchase stream."""
    ev = load_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    # dedupe the right side per (user, ts): as-of tie-break among equal
    # timestamps is undefined in both engines, so make the key unique
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    return asof_join(clicks, purchases, on=["user_id"], ts="ts").select(
        "event_id",
        "user_id",
        "ts",
        F.col("r_ts").alias("purchase_ts"),
        F.col("r_purchase_value").alias("purchase_value"),
    )


SQL_ASOF_JOIN = """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), purchases AS (
  SELECT user_id, ts, MAX(value) AS purchase_value
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
)
SELECT c.event_id, c.user_id, c.ts,
       p.ts AS purchase_ts, p.purchase_value
FROM clicks c
ASOF LEFT JOIN purchases p
  ON c.user_id = p.user_id AND p.ts <= c.ts
"""


def x_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval containment: clicks landing inside the 1-hour attribution
    window after any purchase by the same user. Bucketed equi join + exact
    filter (operators/temporal.py) — never a nested-loop plan. Oracle:
    the plain inequality join (exact same semantics)."""
    ev = load_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    windows = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("end_ts"),
    )
    out = range_join_points_in_intervals(
        clicks, windows, on=["user_id"], bucket_seconds=3600
    )
    return out.select("event_id", "user_id", "ts", "start_ts", "end_ts")


SQL_RANGE_JOIN = """
SELECT c.event_id, c.user_id, c.ts, w.start_ts, w.end_ts
FROM (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
) c
JOIN (
  SELECT user_id, ts AS start_ts, ts + INTERVAL 1 HOUR AS end_ts
  FROM events WHERE event_type = 'purchase'
) w ON c.user_id = w.user_id AND c.ts >= w.start_ts AND c.ts <= w.end_ts
"""


def x_rolling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trailing 1-hour moving count + value sum over event
    time — RANGE frame on epoch seconds so simultaneous events enter as
    peers (set-deterministic). ONE user-keyed shuffle; the frame is
    maintained incrementally by the window operator, never a range
    self-join (operators/temporal.py::rolling_aggregate)."""
    return rolling_aggregate(
        load_events(spark, sf_dir), window_seconds=3600
    )


SQL_ROLLING_WINDOW = """
WITH e AS (
  SELECT event_id, user_id, ts, value,
         CAST(epoch_us(ts) // 1000000 AS BIGINT) AS es
  FROM events
)
SELECT event_id, user_id, ts,
       CAST(COUNT(*) OVER w AS BIGINT) AS roll_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w * 1000000 AS BIGINT)
         AS roll_value_micro
FROM e
WINDOW w AS (
  PARTITION BY user_id ORDER BY es
  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
)
"""


def x_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval overlap: 1-hour purchase attribution windows
    against 15-minute click sessions of the same user. Both sides burst
    into covering time buckets, candidates meet by equi join on
    (user, bucket), the exact overlap predicate filters, and multi-
    bucket pairs are kept once by the first-shared-bucket rule — a pure
    column predicate instead of a pair-wide DISTINCT shuffle
    (operators/temporal.py::interval_overlap_join). Oracle: the plain
    inequality join."""
    ev = load_events(spark, sf_dir)
    a = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("a_id"),
        F.col("ts").alias("a_start"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("a_end"),
    )
    b = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("b_id"),
        F.col("ts").alias("b_start"),
        (F.col("ts") + F.expr("INTERVAL 15 MINUTE")).alias("b_end"),
    )
    return interval_overlap_join(
        a,
        b,
        on=["user_id"],
        start_cols=("a_start", "b_start"),
        end_cols=("a_end", "b_end"),
        bucket_seconds=3600,
    )


SQL_INTERVAL_OVERLAP_JOIN = """
WITH a AS (
  SELECT user_id, event_id AS a_id, ts AS a_start,
         ts + INTERVAL 1 HOUR AS a_end
  FROM events WHERE event_type = 'purchase'
), b AS (
  SELECT user_id, event_id AS b_id, ts AS b_start,
         ts + INTERVAL 15 MINUTE AS b_end
  FROM events WHERE event_type = 'click'
)
SELECT a.user_id, a.a_id, a.a_start, a.a_end,
       b.b_id, b.b_start, b.b_end,
       CAST(least(epoch_us(a_end), epoch_us(b_end))
          - greatest(epoch_us(a_start), epoch_us(b_start)) AS BIGINT)
         AS overlap_micro
FROM a JOIN b
  ON a.user_id = b.user_id
 AND a.a_start <= b.b_end AND b.b_start <= a.a_end
"""


def x_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of the per-user event
    stream (operators/temporal.py::event_transitions): one user-keyed
    lead() window + a |types|²-sized aggregation; per-state exit shares
    in integer ppm via a window over that tiny aggregate."""
    return event_transitions(load_events(spark, sf_dir))


SQL_EVENT_TRANSITIONS = """
WITH s AS (
  SELECT event_type AS from_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events
),
c AS (
  SELECT from_type, to_type, COUNT(*) AS n
  FROM s WHERE to_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
       CAST((1000000 * n) // SUM(n) OVER (PARTITION BY from_type)
            AS BIGINT) AS share_ppm
FROM c
"""


def x_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average of the event value stream
    (operators/temporal.py::time_weighted_average): each observation
    weighted by the integer seconds until the user's next one;
    decimal-exact accumulation, floor-micro output. One key-ordered
    window + one keyed aggregation."""
    return time_weighted_average(load_events(spark, sf_dir)).withColumnRenamed(
        "key", "user_id"
    )


SQL_TWAP = """
WITH g AS (
  SELECT user_id,
         CAST(value AS DECIMAL(18,6)) AS v,
         epoch_us(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
           // 1000000 - epoch_us(ts) // 1000000 AS dt
  FROM events
),
a AS (
  SELECT user_id, COUNT(*) AS n_intervals,
         CAST(SUM(dt) AS BIGINT) AS total_seconds,
         CAST(SUM(v * dt) * 1000000 AS BIGINT) AS vw_micro
  FROM g WHERE dt IS NOT NULL AND dt > 0
  GROUP BY user_id
)
SELECT user_id, CAST(n_intervals AS BIGINT) AS n_intervals, total_seconds,
       CAST(vw_micro // total_seconds AS BIGINT) AS twap_micro
FROM a
"""


def x_event_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 event-type trigram paths across all users
    (operators/temporal.py::event_path_topk): per-user time-ordered
    sequences assembled by one keyed array_sort aggregation, n-gram
    windows map-side (the bigram slice+zip shape), one path count,
    TakeOrderedAndProject top-k with path-string tie-break."""
    return event_path_topk(load_events(spark, sf_dir), n=3, k=20)


SQL_EVENT_PATH_TOPK = """
WITH seq AS (
  SELECT user_id,
         list(event_type ORDER BY ts, event_id, event_type) AS types
  FROM events GROUP BY user_id
),
grams AS (
  SELECT unnest(list_transform(range(1, len(types) - 1),
                i -> types[i] || '>' || types[i + 1] || '>' || types[i + 2]))
           AS path
  FROM seq WHERE len(types) >= 3
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM grams GROUP BY path
ORDER BY n_occurrences DESC, path ASC
LIMIT 20
"""


def x_attribution_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last-touch revenue attribution over 30-min-gap sessions of
    the event stream (operators/temporal.py::attribution_touch):
    purchase revenue credited to the session-opening event type and to
    the last pre-conversion touch; one user-keyed + one session-keyed
    shuffle, melt map-side, final agg touch-type-sized."""
    return attribution_touch(load_events(spark, sf_dir))


SQL_ATTRIBUTION_TOUCH = """
WITH lagged AS (
  SELECT user_id AS u, ts, event_id AS id, event_type AS typ,
         CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v_micro,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
), flagged AS (
  SELECT *, CASE WHEN prev IS NULL OR ts - prev > INTERVAL 30 MINUTE
                 THEN 1 ELSE 0 END AS __new
  FROM lagged
), sess AS (
  SELECT u, ts, id, typ, v_micro,
         SUM(__new) OVER (PARTITION BY u ORDER BY ts, id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS sess
  FROM flagged
), conv AS (
  SELECT u, sess, ts, id,
         ROW_NUMBER() OVER (PARTITION BY u, sess ORDER BY ts, id) AS rn
  FROM sess WHERE typ = 'purchase'
), fc AS (
  SELECT u, sess, ts AS fts, id AS fid FROM conv WHERE rn = 1
), firsts AS (
  SELECT u, sess, typ AS first_touch,
         ROW_NUMBER() OVER (PARTITION BY u, sess ORDER BY ts, id) AS rn
  FROM sess
), lasts AS (
  SELECT s.u, s.sess, s.typ AS last_touch,
         ROW_NUMBER() OVER (PARTITION BY s.u, s.sess
                            ORDER BY s.ts DESC, s.id DESC) AS rn
  FROM sess s JOIN fc ON s.u = fc.u AND s.sess = fc.sess
  WHERE s.typ <> 'purchase' AND (s.ts, s.id) < (fc.fts, fc.fid)
), rev AS (
  SELECT u, sess,
         CAST(SUM(CASE WHEN typ = 'purchase'
                       THEN CAST(v_micro AS HUGEINT) END) AS BIGINT)
           AS rev_micro
  FROM sess GROUP BY 1, 2
), per_session AS (
  SELECT fc.u, fc.sess, f.first_touch,
         COALESCE(l.last_touch, 'direct') AS last_touch, r.rev_micro
  FROM fc
  JOIN firsts f ON f.u = fc.u AND f.sess = fc.sess AND f.rn = 1
  LEFT JOIN lasts l ON l.u = fc.u AND l.sess = fc.sess AND l.rn = 1
  JOIN rev r ON r.u = fc.u AND r.sess = fc.sess
), melted AS (
  SELECT 'first' AS model, first_touch AS touch_type, rev_micro
  FROM per_session
  UNION ALL
  SELECT 'last', last_touch, rev_micro FROM per_session
)
SELECT model, touch_type, CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(CAST(rev_micro AS HUGEINT)) AS BIGINT) AS revenue_micro
FROM melted GROUP BY 1, 2
"""


def x_funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view→purchase conversion delay by acquisition cohort
    (operators/temporal.py::funnel_time_to_convert): per user, the
    seconds from first view to the first purchase after it; converted
    users grouped by first-event day with exact discrete p50/p90 —
    one user-keyed shuffle (stacked full-frame windows), one
    cohort-keyed quantile pass."""
    return funnel_time_to_convert(load_events(spark, sf_dir))


SQL_FUNNEL_TIME_TO_CONVERT = """
WITH ev AS (
  SELECT user_id AS u, ts, event_id AS id, event_type AS typ FROM events
), firsts AS (
  SELECT u, ts, ROW_NUMBER() OVER (PARTITION BY u ORDER BY ts, id) AS rn
  FROM ev
), fe AS (
  SELECT u, date_trunc('day', ts) AS cohort_day FROM firsts WHERE rn = 1
), fv AS (
  SELECT u, ts AS vts, id AS vid FROM (
    SELECT u, ts, id,
           ROW_NUMBER() OVER (PARTITION BY u ORDER BY ts, id) AS rn
    FROM ev WHERE typ = 'view'
  ) WHERE rn = 1
), fc AS (
  SELECT u, cts FROM (
    SELECT e.u, e.ts AS cts,
           ROW_NUMBER() OVER (PARTITION BY e.u ORDER BY e.ts, e.id) AS rn
    FROM ev e JOIN fv ON e.u = fv.u
    WHERE e.typ = 'purchase' AND (e.ts, e.id) > (fv.vts, fv.vid)
  ) WHERE rn = 1
), conv AS (
  SELECT fe.u, CAST(fe.cohort_day AS TIMESTAMP) AS cohort_day,
         CAST(FLOOR(EPOCH(fc.cts - fv.vts)) AS BIGINT) AS convert_s
  FROM fe JOIN fv ON fe.u = fv.u JOIN fc ON fe.u = fc.u
), r AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY cohort_day
                                    ORDER BY convert_s, u) AS BIGINT) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY cohort_day) AS BIGINT) AS n
  FROM conv
)
SELECT cohort_day, CAST(MAX(n) AS BIGINT) AS n_converted,
       MAX(CASE WHEN rn = (50 * n + 99) // 100 THEN convert_s END)
         AS p50_convert_s,
       MAX(CASE WHEN rn = (90 * n + 99) // 100 THEN convert_s END)
         AS p90_convert_s
FROM r GROUP BY cohort_day
"""


def x_attribution_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution over 30-min
    sessions (operators/temporal.py::attribution_position): 40/20/40
    revenue split across pre-conversion touches with EXACT integer
    conservation — end shares by bigint div, the middle pool is the
    exact remainder, its own remainder pinned to the earliest middle
    touch. The multi-touch completion of attribution_touch; same
    two-shuffle session shape, no joins."""
    return attribution_position(load_events(spark, sf_dir))


SQL_ATTRIBUTION_POSITION = """
WITH lagged AS (
  SELECT user_id AS u, ts, event_id AS id, event_type AS typ,
         CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v_micro,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
), flagged AS (
  SELECT *, CASE WHEN prev IS NULL OR ts - prev > INTERVAL 30 MINUTE
                 THEN 1 ELSE 0 END AS __new
  FROM lagged
), sess AS (
  SELECT u, ts, id, typ, v_micro,
         SUM(__new) OVER (PARTITION BY u ORDER BY ts, id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS sess
  FROM flagged
), fc AS (
  SELECT u, sess, MIN(ROW(ts, id)) AS cf
  FROM sess WHERE typ = 'purchase' GROUP BY 1, 2
), rev AS (
  SELECT u, sess,
         CAST(COALESCE(SUM(CASE WHEN typ = 'purchase'
                       THEN CAST(v_micro AS HUGEINT) END), 0) AS BIGINT)
           AS rev_micro
  FROM sess GROUP BY 1, 2
), pre AS (
  SELECT s.u, s.sess, s.typ, s.ts, s.id
  FROM sess s JOIN fc ON s.u = fc.u AND s.sess = fc.sess
  WHERE s.typ <> 'purchase' AND ROW(s.ts, s.id) < fc.cf
), ranked AS (
  SELECT u, sess, typ,
         CAST(ROW_NUMBER() OVER (PARTITION BY u, sess ORDER BY ts, id)
              AS BIGINT) AS r,
         CAST(COUNT(*) OVER (PARTITION BY u, sess) AS BIGINT) AS n
  FROM pre
), credits AS (
  SELECT rk.typ AS touch_type,
         CASE
           WHEN rk.n = 1 THEN rv.rev_micro
           WHEN rk.n = 2 AND rk.r = 1
             THEN rv.rev_micro - (rv.rev_micro // 2)
           WHEN rk.n = 2 THEN rv.rev_micro // 2
           WHEN rk.r = 1 THEN (rv.rev_micro * 4000) // 10000
           WHEN rk.r = rk.n THEN (rv.rev_micro * 4000) // 10000
           ELSE (rv.rev_micro - (rv.rev_micro * 4000) // 10000
                             - (rv.rev_micro * 4000) // 10000)
                  // (rk.n - 2)
              + CASE WHEN rk.r = 2 THEN
                  (rv.rev_micro - (rv.rev_micro * 4000) // 10000
                                - (rv.rev_micro * 4000) // 10000)
                    % (rk.n - 2)
                ELSE 0 END
         END AS credit
  FROM ranked rk JOIN rev rv ON rk.u = rv.u AND rk.sess = rv.sess
  UNION ALL
  SELECT 'direct', rv.rev_micro
  FROM fc LEFT JOIN ranked rk ON fc.u = rk.u AND fc.sess = rk.sess
  JOIN rev rv ON fc.u = rv.u AND fc.sess = rv.sess
  WHERE rk.u IS NULL
)
SELECT touch_type, CAST(COUNT(*) AS BIGINT) AS n_touches,
       CAST(SUM(CAST(credit AS HUGEINT)) AS BIGINT) AS credit_micro
FROM credits GROUP BY 1
"""


def x_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week-aware anomaly flags on the daily event value total
    per event type (operators/temporal.py::seasonal_anomaly): each day
    is judged against the exact median of its own weekday — the
    seasonality-robust twin of anomaly_iqr/mad."""
    ev = load_events(spark, sf_dir).filter(F.col("value").isNotNull())
    return seasonal_anomaly(
        ev,
        key_col="event_type",
        ts_col="ts",
        value_micro=(F.col("value").cast("decimal(18,6)") * 1000000).cast(
            "bigint"
        ),
    )


SQL_SEASONAL_ANOMALY = """
WITH daily AS (
  SELECT event_type AS key,
         CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
              AS BIGINT) AS day_idx,
         CAST(SUM(CAST(CAST(CAST(value AS DECIMAL(18,6)) * 1000000
                        AS BIGINT) AS HUGEINT)) AS BIGINT)
           AS day_total_micro
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
  GROUP BY 1, 2
), d2 AS (
  SELECT *, CAST(day_idx % 7 AS INTEGER) AS dow FROM daily
), ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY key, dow
                            ORDER BY day_total_micro, day_idx) AS rn,
         COUNT(*) OVER (PARTITION BY key, dow) AS cnt
  FROM d2
), base AS (
  SELECT key, dow, day_total_micro AS baseline_micro
  FROM ranked WHERE rn = (cnt + 1) // 2
), dev AS (
  SELECT r.key, r.day_idx, r.dow, r.day_total_micro, b.baseline_micro,
         CAST(CASE WHEN b.baseline_micro IS NULL OR b.baseline_micro = 0
              THEN NULL ELSE
              (CASE WHEN r.day_total_micro < b.baseline_micro
                    THEN -1 ELSE 1 END)
              * ((abs(CAST(r.day_total_micro AS HUGEINT)
                      - b.baseline_micro) * 1000000)
                 // abs(CAST(b.baseline_micro AS HUGEINT)))
              END AS BIGINT) AS dev_ppm
  FROM ranked r LEFT JOIN base b ON r.key = b.key AND r.dow = b.dow
)
SELECT key, day_idx, dow, day_total_micro, baseline_micro, dev_ppm,
       COALESCE(abs(dev_ppm) > 500000, FALSE) AS is_anomaly
FROM dev
"""


def x_user_accumulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per event type by day via the
    first-seen decomposition (operators/temporal.py::user_accumulation)
    — growth accounting with no expanding-window COUNT(DISTINCT)."""
    return user_accumulation(
        load_events(spark, sf_dir),
        key_col="event_type",
        user_col="user_id",
        ts_col="ts",
    )


SQL_USER_ACCUMULATION = """
WITH fs AS (
  SELECT event_type AS key, user_id AS u,
         MIN(CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
                  AS BIGINT)) AS day_idx
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
  GROUP BY 1, 2
), daily AS (
  SELECT key, day_idx, CAST(COUNT(*) AS BIGINT) AS new_users
  FROM fs GROUP BY 1, 2
)
SELECT key, day_idx, new_users,
       CAST(SUM(new_users) OVER (PARTITION BY key ORDER BY day_idx
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_users
FROM daily
"""


def x_churn_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort-level churn table over the events horizon
    (operators/temporal.py::churn_summary): one user-keyed min/max agg,
    scalar horizon, bounded (week × 2) rollup."""
    return churn_summary(
        load_events(spark, sf_dir), user_col="user_id", ts_col="ts"
    )


SQL_CHURN_SUMMARY = """
WITH pu AS (
  SELECT user_id AS u,
         MIN(CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
                  AS BIGINT)) AS first_day,
         MAX(CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
                  AS BIGINT)) AS last_day
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
  GROUP BY 1
), h AS (
  SELECT MAX(last_day) AS horizon FROM pu
)
SELECT CAST(first_day // 7 AS BIGINT) AS cohort_week,
       last_day < horizon - 7 AS churned,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM pu, h GROUP BY 1, 2
"""


def x_interarrival_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type inter-arrival cadence profile with exact order
    statistics (operators/temporal.py::interarrival_profile)."""
    ev = load_events(spark, sf_dir)
    return interarrival_profile(
        ev, key_col="event_type", ts_col="ts", id_col="event_id"
    )


SQL_INTERARRIVAL_PROFILE = """
WITH es AS (
  SELECT event_type AS key, ts, event_id,
         CAST(epoch_us(ts) // 1000000 AS BIGINT) AS sec
  FROM events
), gaps AS (
  SELECT key, ts, event_id,
         sec - LAG(sec) OVER (PARTITION BY key
                              ORDER BY ts ASC, event_id ASC) AS gap_sec
  FROM es
), g AS (
  SELECT * FROM gaps WHERE gap_sec IS NOT NULL
), ranked AS (
  SELECT key, gap_sec,
         CAST(ROW_NUMBER() OVER (PARTITION BY key
                ORDER BY gap_sec ASC, ts ASC, event_id ASC)
              AS BIGINT) AS r,
         CAST(COUNT(*) OVER (PARTITION BY key) AS BIGINT) AS n
  FROM g
)
SELECT key,
       CAST(MAX(n) AS BIGINT) AS n_gaps,
       MIN(gap_sec) AS min_gap_sec,
       MAX(CASE WHEN r = (n + 1) // 2 THEN gap_sec END)
         AS median_gap_sec,
       MAX(CASE WHEN r = (9 * n + 9) // 10 THEN gap_sec END)
         AS p90_gap_sec,
       MAX(gap_sec) AS max_gap_sec
FROM ranked GROUP BY 1
"""


def x_pit_tier_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-join point-in-time enrichment: every click gets the user's
    purchase tier (value-micro div 25e6) as of the click instant
    (operators/temporal.py::pit_enrich — union + forward-fill window,
    one key Exchange, no interval table). NULL user ids are dropped on
    both sides (not trackable; NULLS FIRST/LAST rank divergence)."""
    ev = load_events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    facts = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    changes = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("event_id").alias("chg_id"),
        F.expr(
            "CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)"
            " div 25000000"
        ).alias("tier"),
    )
    out = pit_enrich(
        facts,
        changes,
        key_col="user_id",
        ts_col="ts",
        attr_col="tier",
        change_id_col="chg_id",
    )
    return out.select(
        "event_id",
        "user_id",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 1000000").alias(
            "click_sec"
        ),
        F.col("attr_at_ts").alias("tier_at_click"),
    )


SQL_PIT_TIER_ENRICH = """
WITH u AS (
  SELECT event_id, user_id, ts, NULL::BIGINT AS tier, 0 AS is_chg,
         NULL::BIGINT AS cid
  FROM events WHERE event_type = 'click' AND user_id IS NOT NULL
  UNION ALL
  SELECT NULL::BIGINT, user_id, ts,
         CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)
           // 25000000,
         1, event_id
  FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL
), filled AS (
  SELECT event_id, user_id, ts, is_chg,
         LAST_VALUE(tier IGNORE NULLS) OVER (
           PARTITION BY user_id
           ORDER BY ts ASC, is_chg DESC, cid ASC NULLS FIRST
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS tier_at_click
  FROM u
)
SELECT event_id, user_id,
       CAST(epoch_us(ts) // 1000000 AS BIGINT) AS click_sec,
       tier_at_click
FROM filled WHERE is_chg = 0
"""


def x_freshness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type ingestion freshness vs the corpus frontier
    (operators/temporal.py::freshness_audit)."""
    ev = load_events(spark, sf_dir)
    return freshness_audit(ev, key_col="event_type", ts_col="ts")


SQL_FRESHNESS_AUDIT = """
WITH per AS (
  SELECT event_type AS key,
         CAST(epoch_us(ts) // 1000000 AS BIGINT) AS sec
  FROM events
), fr AS (SELECT MAX(sec) AS max_sec FROM per)
SELECT key,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MAX(sec) AS BIGINT) AS last_sec,
       CAST(MAX(max_sec) - MAX(sec) AS BIGINT) AS lag_sec,
       CAST(SUM(CASE WHEN sec >= max_sec - 86400 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_recent,
       CAST(SUM(CASE WHEN sec >= max_sec - 604800 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_window
FROM per, fr GROUP BY 1
"""


def x_revenue_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly net-revenue-retention triangle over purchase events
    (operators/temporal.py::revenue_retention)."""
    ev = load_events(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    return revenue_retention(
        ev,
        user_col="user_id",
        ts_col="ts",
        value_micro=F.expr(
            "CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS DECIMAL(38,0))"
        ),
    )


SQL_REVENUE_RETENTION = """
WITH base AS (
  SELECT user_id AS u,
         CAST(epoch_us(ts) // 604800000000 AS BIGINT) AS w,
         CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS HUGEINT) AS v
  FROM events
  WHERE event_type = 'purchase' AND user_id IS NOT NULL
), first AS (
  SELECT u, MIN(w) AS cohort_week FROM base GROUP BY 1
), cells AS (
  SELECT cohort_week, CAST(w - cohort_week AS INTEGER) AS week_offset,
         SUM(v) AS rev
  FROM base JOIN first USING (u)
  GROUP BY 1, 2
), base0 AS (
  SELECT cohort_week AS cw0, rev AS rev0 FROM cells WHERE week_offset = 0
)
SELECT cohort_week, week_offset,
       CAST(rev AS BIGINT) AS revenue_micro,
       CAST(CASE WHEN rev0 IS NULL OR rev0 = 0 THEN NULL
            ELSE (rev * 1000000) // rev0 END AS BIGINT) AS retention_ppm
FROM cells LEFT JOIN base0 ON cohort_week = cw0
"""


def x_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest / current consecutive-day streak per user — the
    gaps-and-islands pattern (operators/temporal.py::activity_streaks)."""
    ev = load_events(spark, sf_dir)
    return activity_streaks(ev, user_col="user_id", ts_col="ts")


SQL_ACTIVITY_STREAKS = """
WITH days AS (
  SELECT DISTINCT user_id AS "user",
         CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d
  FROM events WHERE user_id IS NOT NULL
), islands AS (
  SELECT "user", d,
         d - ROW_NUMBER() OVER (PARTITION BY "user" ORDER BY d)
           AS island
  FROM days
), per_island AS (
  SELECT "user", island, CAST(COUNT(*) AS BIGINT) AS len,
         MAX(d) AS island_end
  FROM islands GROUP BY 1, 2
)
SELECT "user",
       CAST(SUM(len) AS BIGINT) AS n_active_days,
       CAST(COUNT(*) AS BIGINT) AS n_streaks,
       MAX(len) AS longest_streak,
       CAST(-((MIN({'ne': -island_end, 'nl': -len})).nl) AS BIGINT)
         AS current_streak
FROM per_island GROUP BY 1
"""


def x_out_of_orderness_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermark-sizing disorder profile per event type, arrival order =
    event id (operators/temporal.py::out_of_orderness_profile)."""
    ev = load_events(spark, sf_dir)
    return out_of_orderness_profile(
        ev, key_col="event_type", ts_col="ts", arrival_col="event_id"
    )


SQL_OUT_OF_ORDERNESS_PROFILE = """
WITH staged AS (
  SELECT event_type AS key,
         MAX(CAST(epoch_us(ts) // 1000000 AS BIGINT)) OVER (
           PARTITION BY event_type ORDER BY event_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) - CAST(epoch_us(ts) // 1000000 AS BIGINT) AS lag_sec
  FROM events
)
SELECT key,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MAX(lag_sec) AS BIGINT) AS max_disorder_sec,
       CAST(SUM(CASE WHEN lag_sec > 60 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_late_a,
       CAST(SUM(CASE WHEN lag_sec > 600 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_late_b
FROM staged GROUP BY 1
"""


def x_session_gap_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-count-vs-gap tuning curve over the event stream
    (operators/temporal.py::session_gap_sensitivity): five candidate
    thresholds from one lag pass — the empirical input to
    sessionize's gap_seconds and the streaming session timeout."""
    return session_gap_sensitivity(
        load_events(spark, sf_dir),
        gaps_seconds=[300, 900, 1800, 3600, 7200],
    )


SQL_SESSION_GAP_SENSITIVITY = """
WITH lagged AS (
  SELECT CASE WHEN lag(ts) OVER w IS NULL THEN TRUE ELSE FALSE END
           AS first_ev,
         CAST(epoch_us(ts) - epoch_us(lag(ts) OVER w) AS BIGINT) AS d
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), one AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CASE WHEN first_ev THEN 1 ELSE 0 END) AS BIGINT)
           AS n_users,
         CAST(SUM(CASE WHEN first_ev OR d > 300000000 THEN 1 ELSE 0 END)
              AS BIGINT) AS s300,
         CAST(SUM(CASE WHEN first_ev OR d > 900000000 THEN 1 ELSE 0 END)
              AS BIGINT) AS s900,
         CAST(SUM(CASE WHEN first_ev OR d > 1800000000 THEN 1 ELSE 0 END)
              AS BIGINT) AS s1800,
         CAST(SUM(CASE WHEN first_ev OR d > 3600000000 THEN 1 ELSE 0 END)
              AS BIGINT) AS s3600,
         CAST(SUM(CASE WHEN first_ev OR d > 7200000000 THEN 1 ELSE 0 END)
              AS BIGINT) AS s7200
  FROM lagged
), long AS (
  SELECT 300 AS gap_seconds, s300 AS n_sessions, n_users, n_events FROM one
  UNION ALL SELECT 900, s900, n_users, n_events FROM one
  UNION ALL SELECT 1800, s1800, n_users, n_events FROM one
  UNION ALL SELECT 3600, s3600, n_users, n_events FROM one
  UNION ALL SELECT 7200, s7200, n_users, n_events FROM one
)
SELECT CAST(gap_seconds AS BIGINT) AS gap_seconds, n_sessions, n_users,
       n_events,
       -- HUGEINT discipline: n_events*1e6 passes int64 at stream scale
       CAST(CASE WHEN n_sessions = 0 THEN 0
            ELSE CAST(n_events AS HUGEINT) * 1000000 // n_sessions
            END AS BIGINT)
         AS events_per_session_ppm
FROM long
"""


CATALOG: dict[str, tuple] = {
    "timeseries_gapfill": (x_timeseries_gapfill, SQL_TIMESERIES_GAPFILL),
    "sessionize_batch": (x_sessionize_batch, SQL_SESSIONIZE_BATCH),
    "funnel_stages": (x_funnel_stages, SQL_FUNNEL_STAGES),
    "cohort_retention": (x_cohort_retention, SQL_COHORT_RETENTION),
    "asof_join": (x_asof_join, SQL_ASOF_JOIN),
    "range_join": (x_range_join, SQL_RANGE_JOIN),
    "rolling_window": (x_rolling_window, SQL_ROLLING_WINDOW),
    "interval_overlap_join": (x_interval_overlap_join, SQL_INTERVAL_OVERLAP_JOIN),
    "event_transitions": (x_event_transitions, SQL_EVENT_TRANSITIONS),
    "twap": (x_twap, SQL_TWAP),
    "event_path_topk": (x_event_path_topk, SQL_EVENT_PATH_TOPK),
    "attribution_touch": (x_attribution_touch, SQL_ATTRIBUTION_TOUCH),
    "funnel_time_to_convert": (x_funnel_time_to_convert, SQL_FUNNEL_TIME_TO_CONVERT),
    "attribution_position": (x_attribution_position, SQL_ATTRIBUTION_POSITION),
    "seasonal_anomaly": (x_seasonal_anomaly, SQL_SEASONAL_ANOMALY),
    "user_accumulation": (x_user_accumulation, SQL_USER_ACCUMULATION),
    "churn_summary": (x_churn_summary, SQL_CHURN_SUMMARY),
    "interarrival_profile": (x_interarrival_profile, SQL_INTERARRIVAL_PROFILE),
    "pit_tier_enrich": (x_pit_tier_enrich, SQL_PIT_TIER_ENRICH),
    "freshness_audit": (x_freshness_audit, SQL_FRESHNESS_AUDIT),
    "revenue_retention": (x_revenue_retention, SQL_REVENUE_RETENTION),
    "activity_streaks": (x_activity_streaks, SQL_ACTIVITY_STREAKS),
    "out_of_orderness_profile": (
        x_out_of_orderness_profile,
        SQL_OUT_OF_ORDERNESS_PROFILE,
    ),
    "session_gap_sensitivity": (x_session_gap_sensitivity, SQL_SESSION_GAP_SENSITIVITY),
}
