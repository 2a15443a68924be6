"""Structured Streaming over the events table
(``streaming/events_stream.py``, ``streaming/sessionize.py``): each
query drains an AvailableNow stream (windows, joins, dedup, SCD2 upsert,
sessions, data-quality monitors) and is checked against the batch SQL of
the same result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pdcm_etl_spark.catalog.relational import SQL_SCD2_MERGE
from pdcm_etl_spark.sources.lake import read_table
from pdcm_etl_spark.streaming.events_stream import (
    attribution_stream_join,
    attribution_stream_left_join,
    dedup_stream,
    dq_monitor_stream,
    enriched_segment_stream,
    run_availablenow,
    scd2_upsert_stream,
    sliding_counts_stream,
    windowed_topk_stream,
)
from pdcm_etl_spark.streaming.sessionize import sessionize_batch, sessionize_stream


def x_stream_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_availablenow(spark, sf_dir)


SQL_STREAM_EVENTS_DAILY = """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS sum_value_micro
FROM events GROUP BY 1, 2
"""


def x_stream_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window streaming aggregation (2-day window / 1-day slide)
    — the moving-aggregate idiom; completes the window-family trio next
    to the tumbling (stream_events_daily) and session
    (stream_sessionize) paths."""
    return sliding_counts_stream(spark, sf_dir)


# every event lands in exactly 2 epoch-day-aligned sliding windows:
# start = trunc_day(ts) and trunc_day(ts) - 1 day
SQL_STREAM_EVENTS_SLIDING = """
WITH doubled AS (
  SELECT CAST(date_trunc('day', ts) - i * INTERVAL 1 DAY AS TIMESTAMP)
           AS win_start,
         event_type, value
  FROM events, (SELECT unnest([0, 1]) AS i)
)
SELECT win_start, event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)
         AS sum_value_micro
FROM doubled GROUP BY 1, 2
"""


def x_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in session_window aggregation (2h gap) over events."""
    return sessionize_batch(read_table(spark, sf_dir, "events"))


SQL_SESSION_WINDOW = """
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL 2 HOUR THEN 1 ELSE 0 END AS new_session
  FROM events
), numbered AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
)
SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS sum_value_micro
FROM numbered GROUP BY user_id, session_id
"""


def x_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful sessionization via applyInPandasWithState.

    AvailableNow leaves the final open session per user in the state
    store (unclosed), so the output is the *closed* session set — fully
    deterministic and SQL-expressible after all: every lag+cumsum session
    EXCEPT each user's last. Values accumulate as per-event
    floor(v*1e6) integer micros in both engines, so the oracle is exact
    (hash-green), not rows-only as in rounds 1-2."""
    return sessionize_stream(spark, sf_dir)


SQL_STREAM_SESSIONIZE = """
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL 2 HOUR THEN 1 ELSE 0 END AS new_session
  FROM events
), numbered AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
), sess AS (
  SELECT user_id, session_id, MIN(ts) AS session_start,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS sum_value_micro
  FROM numbered GROUP BY user_id, session_id
)
SELECT user_id, session_start, n_events, sum_value_micro
FROM (
  SELECT *, MAX(session_id) OVER (PARTITION BY user_id) AS last_sid FROM sess
) WHERE session_id < last_sid
"""


def x_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream range join (click→purchase attribution);
    see streaming/events_stream.py::attribution_stream_join."""
    return attribution_stream_join(spark, sf_dir)


SQL_STREAM_STREAM_JOIN = """
SELECT c.event_id, c.user_id, c.ts AS click_ts, w.ts AS purchase_ts
FROM (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
) c
JOIN (
  SELECT user_id, ts FROM events WHERE event_type = 'purchase'
) w ON c.user_id = w.user_id
   AND c.ts >= w.ts AND c.ts <= w.ts + INTERVAL 1 HOUR
"""


def x_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup via dropDuplicatesWithinWatermark — bounded
    state, key-set output (streaming/events_stream.py::dedup_stream)."""
    return dedup_stream(spark, sf_dir)


SQL_STREAM_DEDUP = """
SELECT DISTINCT user_id, event_type FROM events
"""


def x_stream_scd2_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch CDC: drain the event stream, merge each microbatch
    into the Type-2 dimension via scd2_merge, and commit it by writing
    ``snap_<batch_id>`` then atomically flipping the ``_LATEST``
    pointer. Single AvailableNow drain + latest-per-key compaction ⇒
    identical to the batch twin, so SQL_SCD2_MERGE is the exact oracle
    (streaming/events_stream.py::scd2_upsert_stream)."""
    return scd2_upsert_stream(spark, sf_dir)


def x_stream_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming leaderboard: tumbling-day per-type counts maintained by
    the watermarked stream, deterministic top-3 ranked over the sink
    (streaming/events_stream.py::windowed_topk_stream — ranking is
    non-incremental so it lives in the serving read, the counts are the
    streaming state)."""
    return windowed_topk_stream(spark, sf_dir)


SQL_STREAM_WINDOWED_TOPK = """
WITH c AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS win_start,
         event_type, COUNT(*) AS n_events
  FROM events GROUP BY 1, 2
),
r AS (
  SELECT win_start, event_type, n_events,
         ROW_NUMBER() OVER (PARTITION BY win_start
                            ORDER BY n_events DESC, event_type ASC) AS rank
  FROM c
)
SELECT win_start, event_type, CAST(n_events AS BIGINT) AS n_events,
       CAST(rank AS INTEGER) AS rank
FROM r WHERE rank <= 3
"""


def x_stream_dq_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DQ monitor: tumbling-day windows of conditional
    violation counters maintained by the watermarked stream; integer
    ppm rates derived at the sink read
    (streaming/events_stream.py::dq_monitor_stream). Oracle is the
    batch equivalent by date_trunc."""
    return dq_monitor_stream(spark, sf_dir)


SQL_STREAM_DQ_MONITOR = """
WITH c AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS win_start,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CASE WHEN event_type NOT IN
                  ('click','view','signup','purchase','error')
                  THEN 1 ELSE 0 END) AS BIGINT) AS v_type,
         CAST(SUM(CASE WHEN value IS NULL OR value <= 0 OR value > 400
                  THEN 1 ELSE 0 END) AS BIGINT) AS v_value,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_error
  FROM events GROUP BY 1
)
SELECT win_start, n_events, v_type, v_value,
       CAST((v_value * 1000000) // n_events AS BIGINT)
         AS value_violation_ppm,
       CAST((n_error * 1000000) // n_events AS BIGINT) AS error_share_ppm
FROM c
"""


def x_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: per micro-batch broadcast join of the
    event stream against the customer dim (stateless — no join state),
    then a watermarked tumbling-day aggregate per market segment
    (streaming/events_stream.py::enriched_segment_stream). Oracle is
    the batch equivalent."""
    return enriched_segment_stream(spark, sf_dir)


SQL_STREAM_STATIC_JOIN = """
SELECT CAST(date_trunc('day', e.ts) AS TIMESTAMP) AS win_start,
       c.c_mktsegment AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(18,6))) * 1000000 AS BIGINT)
         AS sum_value_micro
FROM events e JOIN customer c ON c.c_custkey = e.user_id + 1
GROUP BY 1, 2
"""


def x_stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER range join
    (streaming/events_stream.py::attribution_stream_left_join): clicks
    joined to same-user purchases in the preceding hour; unconverted
    clicks null-emit once no match can still arrive. Deterministic
    under AvailableNow: the global watermark is the MIN of the two
    per-stream watermarks (multipleWatermarkPolicy=min), i.e.
    min(max click_ts, max purchase_ts) − 1 day, and an outer click
    null-emits iff click_ts < that watermark — the oracle applies the
    identical cutoff, empirically pinned at BOTH sf0.001 (200 = 200)
    and sf0.01 (1941 = 1941); the trailing-window clicks are
    deterministically absent, exactly the rows a restarted production
    stream would emit later."""
    return attribution_stream_left_join(spark, sf_dir)


SQL_STREAM_LEFT_OUTER_JOIN = """
WITH mx AS (
  SELECT LEAST(
    (SELECT MAX(ts) FROM events WHERE event_type = 'click'),
    (SELECT MAX(ts) FROM events WHERE event_type = 'purchase')) AS m
),
clicks AS (
  SELECT event_id, user_id, ts AS click_ts
  FROM events WHERE event_type = 'click'
), pur AS (
  SELECT user_id AS pu, ts AS purchase_ts
  FROM events WHERE event_type = 'purchase'
), j AS (
  SELECT c.event_id, c.user_id, c.click_ts, p.purchase_ts
  FROM clicks c LEFT JOIN pur p
    ON c.user_id = p.pu
   AND c.click_ts >= p.purchase_ts
   AND c.click_ts <= p.purchase_ts + INTERVAL 1 HOUR
)
SELECT event_id, user_id, click_ts, purchase_ts,
       purchase_ts IS NOT NULL AS matched
FROM j
WHERE purchase_ts IS NOT NULL
   OR click_ts < (SELECT m FROM mx) - INTERVAL 24 HOUR
"""


CATALOG: dict[str, tuple] = {
    "stream_events_daily": (x_stream_events_daily, SQL_STREAM_EVENTS_DAILY),
    "stream_events_sliding": (x_stream_events_sliding, SQL_STREAM_EVENTS_SLIDING),
    "session_window": (x_session_window, SQL_SESSION_WINDOW),
    "stream_sessionize": (x_stream_sessionize, SQL_STREAM_SESSIONIZE),
    "stream_stream_join": (x_stream_stream_join, SQL_STREAM_STREAM_JOIN),
    "stream_dedup": (x_stream_dedup, SQL_STREAM_DEDUP),
    "stream_scd2_upsert": (x_stream_scd2_upsert, SQL_SCD2_MERGE),
    "stream_windowed_topk": (x_stream_windowed_topk, SQL_STREAM_WINDOWED_TOPK),
    "stream_dq_monitor": (x_stream_dq_monitor, SQL_STREAM_DQ_MONITOR),
    "stream_static_join": (x_stream_static_join, SQL_STREAM_STATIC_JOIN),
    "stream_left_outer_join": (x_stream_left_outer_join, SQL_STREAM_LEFT_OUTER_JOIN),
}
