"""Temporal join operators: as-of join (point-in-time lookup).

Spark's DataFrame API has no as-of join (pandas-on-Spark ``merge_asof``
exists but routes through a pandas shim). The distributed form here is
the canonical union + window technique:

1. tag both inputs and union them (right rows carry their payload in a
   struct, left rows carry null);
2. one shuffle: partition by the equality keys, order by (ts, tag) with
   right rows sorting before left rows at equal timestamps so ``<=``
   semantics hold;
3. running ``last(payload, ignorenulls=True)`` over
   rowsBetween(unboundedPreceding, currentRow) gives every left row the
   most recent right payload at or before its timestamp.

Cost: ONE shuffle of left+right on the equality keys and a sorted window
scan — no range explosion, no per-key collect. Skewed keys follow the
same mitigation as any window (pre-filter hot keys or salt + re-merge).

Oracle: DuckDB's native ``ASOF LEFT JOIN`` (catalog/temporal.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pdcm_etl_spark.operators.sharing import shared


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    ts: str = "ts",
    right_prefix: str = "r_",
) -> DataFrame:
    """For every left row, attach the latest right row with
    ``right.ts <= left.ts`` matching on the ``on`` keys (backward as-of,
    left-outer: unmatched left rows keep nulls).

    Right payload columns (everything except keys + ts) come back
    prefixed with ``right_prefix``; the matched right timestamp as
    ``<right_prefix><ts>``.
    """
    payload_cols = [c for c in right.columns if c not in set(on)]
    r = right.select(
        *on,
        F.col(ts).alias("__ts"),
        F.lit(0).alias("__tag"),
        F.struct(*payload_cols).alias("__payload"),
    )
    l = left.select(
        *on,
        F.col(ts).alias("__ts"),
        F.lit(1).alias("__tag"),
        F.lit(None).cast(r.schema["__payload"].dataType).alias("__payload"),
        F.struct(*[c for c in left.columns]).alias("__left"),
    )
    u = l.unionByName(r.select(*on, "__ts", "__tag", "__payload"),
                      allowMissingColumns=True)
    w = (
        Window.partitionBy(*on)
        .orderBy("__ts", "__tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = u.withColumn(
        "__match", F.last("__payload", ignorenulls=True).over(w)
    ).filter(F.col("__tag") == 1)
    out_cols = [F.col(f"__left.{c}").alias(c) for c in left.columns]
    out_cols += [
        F.col(f"__match.{c}").alias(f"{right_prefix}{c}") for c in payload_cols
    ]
    return matched.select(*out_cols)


def range_join_points_in_intervals(
    points: DataFrame,
    intervals: DataFrame,
    on: list[str],
    point_ts: str = "ts",
    start_col: str = "start_ts",
    end_col: str = "end_ts",
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Point-in-interval join without a nested-loop: bucketize time.

    A naive ``p.ts BETWEEN i.start AND i.end`` predicate plans as a
    broadcast-nested-loop join — O(|points| × |intervals|) per key. Here
    each interval explodes into the time buckets it covers and each point
    lands in exactly one bucket, so the match becomes an equi join on
    (keys…, bucket) followed by the exact BETWEEN filter. Pair space is
    bounded by bucket occupancy (pick ``bucket_seconds`` near the median
    interval length); every point hits one bucket, so no dedup is needed.
    This is the same bucketing strategy engines ship as a "range join
    hint"; the oracle stays the plain inequality join (exact semantics).
    """
    b = F.lit(bucket_seconds)
    # TIMESTAMP_NTZ has no direct long cast; route via timestamp. Bucket
    # ids only need to be consistent across both sides — the exact
    # BETWEEN filter carries the semantics.
    epoch = lambda c: F.col(c).cast("timestamp").cast("long")
    iv = intervals.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(epoch(start_col) / b), F.floor(epoch(end_col) / b)
            )
        ),
    )
    pt = points.withColumn("__bucket", F.floor(epoch(point_ts) / b))
    return (
        pt.join(iv, on + ["__bucket"])
        .filter(
            (F.col(point_ts) >= F.col(start_col))
            & (F.col(point_ts) <= F.col(end_col))
        )
        .drop("__bucket")
    )


def funnel_stages(
    events: DataFrame,
    stages: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Ordered funnel analysis: per user, the earliest timestamp at which
    each successive stage was reached, where stage k counts only if it
    happens STRICTLY AFTER the user's stage-(k-1) time — the classic
    product-analytics conversion funnel, which plain per-type MIN(ts)
    gets wrong (a purchase before the first click must not count).

    Plan: one filtered per-(user, stage) MIN aggregation per stage, each
    constrained by the previous stage's time via an equi join on the
    user — stage cardinality is a small constant, every join key is the
    user id, and each aggregation is map-side combined, so the whole
    funnel is a k-deep chain of user-keyed hash aggregations (AQE picks
    broadcast when a stage's survivor set collapses). No window over
    whole user histories, no per-user collect.

    Returns one row per user that entered the funnel:
    (``user_col``, t_1..t_k nullable timestamps, stages_reached).
    """
    if not stages:
        raise ValueError("funnel_stages: need at least one stage")
    # one corpus scan for ALL stages (pushed IN filter), shared so each
    # stage's filter reads stored blocks; the accumulating `out` is
    # consumed twice per stage (the constraint join + the left fold) —
    # without sharing its recompute doubles per stage (measured: 13
    # events scans in one 4-stage funnel plan; operators/sharing.py)
    staged = shared(
        events.filter(F.col(type_col).isin(list(stages))).select(
            user_col, type_col, ts_col
        )
    )
    cur = (
        staged.filter(F.col(type_col) == stages[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("t_1"))
    )
    out = cur
    for k, stage in enumerate(stages[1:], start=2):
        out = shared(out)
        nxt = (
            staged.filter(F.col(type_col) == stage)
            .join(out.select(user_col, f"t_{k - 1}"), user_col)
            .filter(F.col(ts_col) > F.col(f"t_{k - 1}"))
            .groupBy(user_col)
            .agg(F.min(ts_col).alias(f"t_{k}"))
        )
        out = out.join(nxt, user_col, "left")
    reached = F.lit(0)
    for k in range(1, len(stages) + 1):
        reached = reached + F.when(F.col(f"t_{k}").isNotNull(), 1).otherwise(0)
    return out.select(
        user_col,
        *[f"t_{k}" for k in range(1, len(stages) + 1)],
        reached.cast("int").alias("stages_reached"),
    )


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Cohort retention analysis: bucket users by their first-activity
    week (the cohort), then count how many of each cohort were active
    again N weeks later — the standard growth-analytics triangle.

    Plan: one per-user MIN aggregation (map-side combined) for the
    cohort assignment, a user-keyed join back onto the per-(user, week)
    distinct activity, and one (cohort, offset) count — all shuffles on
    the user id or on the tiny (cohort, offset) pair; nothing is
    collected or windowed over full histories.

    Weeks are epoch-day div 7 (engine-neutral integer bucketing — SQL
    week truncation differs between engines on week-start conventions).

    Returns (cohort_week, week_offset, n_users) with week_offset 0 being
    the cohort-defining week (so n_users at offset 0 = cohort size).
    """
    week = F.expr(
        f"cast(datediff(to_date({ts_col}), date'1970-01-01') div 7 as int)"
    )
    # consumed by the cohort-assignment aggregation AND the join back —
    # share so the distinct runs once (operators/sharing.py)
    activity = shared(
        events.select(F.col(user_col).alias("u"), week.alias("week"))
        .distinct()
    )
    first = activity.groupBy("u").agg(F.min("week").alias("cohort_week"))
    return (
        activity.join(first, "u")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.count_distinct("u").alias("n_users"))
    )


def gapfill_daily(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Time-series gap filling: densify each series to a complete daily
    calendar between its first and last observation, with missing-day
    counts zero-filled and the running metric carried forward (the
    resample + ffill primitive every monitoring/feature pipeline needs;
    Spark has no native equivalent).

    Plan: one (key, day) aggregation → per-key span aggregation →
    calendar expansion via ``sequence`` + ``explode`` (generated
    map-side from the tiny span table, never a driver loop) → left join
    back → one per-key ordered window for the forward fill. Days are
    epoch-day integers (engine-neutral; DATE columns hash apart across
    engines). The forward-fill window partitions by the series key:
    parallelism equals series count, the natural unit — a pipeline with
    few huge series should pre-split on (key, month) and stitch
    boundaries, the standard two-pass trick; with many series (the
    100 TB regime) this plan is already balanced.

    Returns (key, day, n_events, filled_value_micro) — one row per
    series per calendar day in its span.
    """
    day = F.datediff(F.to_date(F.col(ts_col)), F.lit("1970-01-01").cast("date"))
    daily = (
        events.groupBy(F.col(key_col).alias("key"), day.alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(F.col(value_col).cast("decimal(18,6)")) * 1000000)
            .cast("bigint")
            .alias("sum_value_micro"),
        )
    )
    cal = (
        daily.groupBy("key")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "key", F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("day")
        )
    )
    w = (
        Window.partitionBy("key")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        cal.join(daily, ["key", "day"], "left")
        .select(
            F.col("key").alias(key_col),
            F.col("day").cast("int").alias("day"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.last("sum_value_micro", ignorenulls=True)
            .over(w)
            .alias("filled_value_micro"),
        )
    )


def sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    gap_seconds: int = 1800,
    value_col: str = "value",
) -> DataFrame:
    """Batch sessionization: split each user's event stream into
    sessions wherever the gap to the previous event exceeds
    ``gap_seconds`` — the batch twin of ``streaming/sessionize.py``
    (which does the same with applyInPandasWithState; batch needs no
    state, just windows).

    Plan: ONE shuffle on the user id serves both windows (lag to detect
    the gap, running sum of the boundary flags to number sessions —
    same partitioning and ordering, so Catalyst plans a single Window
    operator pair over one Exchange), then a (user, session) hash
    aggregation. Gap arithmetic is integer microseconds. Parallelism is
    user count — the natural key for this operator at any scale.

    Returns (user, session_seq, start_ts, end_ts, n_events,
    sum_value_micro).
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    prev = F.lag(ts_col).over(w)
    # boundary = first event of the user OR gap above the threshold;
    # integer-microsecond arithmetic, no float time
    # unix_micros rejects TIMESTAMP_NTZ (how parquet µs timestamps read
    # in an untuned session); the cast shifts both operands identically
    # so the difference is unaffected
    is_new = F.when(
        prev.isNull()
        | (
            (
                F.unix_micros(F.col(ts_col).cast("timestamp"))
                - F.unix_micros(prev.cast("timestamp"))
            )
            > gap_seconds * 1_000_000
        ),
        1,
    ).otherwise(0)
    flagged = events.withColumn(
        "session_seq",
        F.sum(is_new).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        flagged.groupBy(F.col(user_col), F.col("session_seq").cast("bigint").alias("session_seq"))
        .agg(
            F.min(ts_col).alias("start_ts"),
            F.max(ts_col).alias("end_ts"),
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(F.col(value_col).cast("decimal(18,6)")) * 1000000)
            .cast("bigint")
            .alias("sum_value_micro"),
        )
    )


def session_gap_sensitivity(
    events: DataFrame,
    gaps_seconds: list[int],
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """The gap-parameter tuning curve for sessionization: total session
    count (and events-per-session) at EVERY candidate gap threshold in
    one pass — the profile that picks ``sessionize``'s gap_seconds /
    a streaming session window's timeout empirically instead of by
    folklore (where the curve flattens, the sessions are real; 30 min
    is just where web analytics stopped looking).

    Key identity: n_sessions(gap) = Σ_events 1[first-of-user OR
    delta_prev > gap] — a session count is a BOUNDARY count, so all K
    thresholds come from the same lag value. ONE user-keyed shuffle
    (the same single Exchange sessionize uses) computes the lag; a
    single global partial-aggregated SUM per threshold follows
    (map-side combine → K scalars); stack() unpivots the one-row frame
    to K rows. No per-gap re-sessionization, no second shuffle.

    Returns (gap_seconds, n_sessions, n_users, n_events,
    events_per_session_ppm), one row per threshold, exact integers.
    """
    if not gaps_seconds:
        raise ValueError("session_gap_sensitivity: need >= 1 gap")
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    prev = F.lag(ts_col).over(w)
    delta = F.unix_micros(F.col(ts_col).cast("timestamp")) - F.unix_micros(
        prev.cast("timestamp")
    )
    lagged = events.select(
        prev.isNull().alias("__first"), delta.alias("__d")
    )
    aggs = [
        F.count(F.lit(1)).cast("bigint").alias("__n_events"),
        F.sum(F.col("__first").cast("bigint"))
        .cast("bigint")
        .alias("__n_users"),
    ]
    for g in gaps_seconds:
        aggs.append(
            F.sum(
                F.when(
                    F.col("__first") | (F.col("__d") > g * 1_000_000), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias(f"__s_{g}")
        )
    one = lagged.agg(*aggs)
    stack_args = ", ".join(
        f"{g}, __s_{g}" for g in sorted(gaps_seconds)
    )
    return one.select(
        F.expr(
            f"stack({len(gaps_seconds)}, {stack_args})"
            " as (gap_seconds, n_sessions)"
        ),
        F.col("__n_users").alias("n_users"),
        F.col("__n_events").alias("n_events"),
    ).select(
        F.col("gap_seconds").cast("bigint").alias("gap_seconds"),
        "n_sessions",
        "n_users",
        "n_events",
        # n_events is the full stream cardinality (~1e13 at claimed
        # scale): * 1e6 passes int64 at 9.2e12 and ANSI Spark aborts —
        # DECIMAL(38,0) before the multiply (repo overflow convention)
        F.expr(
            "CAST(CASE WHEN n_sessions = 0 THEN 0 ELSE"
            " CAST(n_events AS DECIMAL(38,0)) * 1000000"
            " DIV n_sessions END AS BIGINT)"
        ).alias("events_per_session_ppm"),
    )


def rolling_aggregate(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    window_seconds: int = 7 * 86400,
    id_col: str = "event_id",
) -> DataFrame:
    """Event-time moving aggregate: for every event, the count and value
    sum of the same key's events in ``[ts - window, ts]`` — the trailing
    RANGE frame (not ROWS: simultaneous events are peers and always
    enter together, so the result is set-deterministic under any input
    order).

    Scale shape: ONE shuffle on the key; each partition sorts its own
    key's events once and the frame is maintained incrementally by
    Spark's window operator (sliding aggregate buffer — no per-row
    rescan, no self-join range explosion like the naive
    ``e1.ts BETWEEN e2.ts - w AND e2.ts`` formulation, which plans as a
    nested loop). The ORDER BY column is epoch SECONDS as bigint so the
    frame bound is integer arithmetic in both engines.

    Value sums ride as decimal(18,6) → micros bigint (the engine-exact
    fixed-point pattern used by sessionize/gapfill).
    """
    epoch_s = F.col(ts_col).cast("timestamp").cast("long")
    w = (
        Window.partitionBy(key_col)
        .orderBy(F.col("__epoch_s"))
        .rangeBetween(-window_seconds, 0)
    )
    return (
        events.withColumn("__epoch_s", epoch_s)
        .select(
            id_col,
            key_col,
            ts_col,
            F.count(F.lit(1)).over(w).alias("roll_events"),
            (F.sum(F.col(value_col).cast("decimal(18,6)")).over(w) * 1000000)
            .cast("bigint")
            .alias("roll_value_micro"),
        )
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    start_cols: tuple[str, str] = ("start_ts", "start_ts"),
    end_cols: tuple[str, str] = ("end_ts", "end_ts"),
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Interval×interval overlap join (``a.start <= b.end AND
    b.start <= a.end``) without a nested loop — the two-sided companion
    to ``range_join_points_in_intervals``.

    Both sides explode into the time buckets their interval covers and
    candidates meet by an equi join on (keys…, bucket); the exact
    overlap predicate then filters, and pairs that co-occupy several
    buckets are kept once by crediting the match to the FIRST shared
    bucket (max(bucket-of-starts) — a pure column predicate, no
    pair-wide distinct shuffle). Pair work is bounded by per-bucket
    occupancy; pick ``bucket_seconds`` near the median interval length.

    Left/right columns come back as-is (caller aliases them apart);
    adds ``overlap_micro`` — the overlap length in integer microseconds.
    """
    b = F.lit(bucket_seconds)

    def burst(df: DataFrame, start: str, end: str) -> DataFrame:
        e = lambda c: F.col(c).cast("timestamp").cast("long")
        return df.withColumn(
            "__bucket",
            F.explode(F.sequence(F.floor(e(start) / b), F.floor(e(end) / b))),
        )

    l = burst(left, start_cols[0], end_cols[0]).alias("l")
    r = burst(right, start_cols[1], end_cols[1]).alias("r")
    l_start, r_start = f"l.{start_cols[0]}", f"r.{start_cols[1]}"
    l_end, r_end = f"l.{end_cols[0]}", f"r.{end_cols[1]}"
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))
    first_shared = F.greatest(
        F.floor(F.col(l_start).cast("timestamp").cast("long") / b),
        F.floor(F.col(r_start).cast("timestamp").cast("long") / b),
    )
    cond = [F.col(f"l.{k}") == F.col(f"r.{k}") for k in on] + [
        F.col("l.__bucket") == F.col("r.__bucket")
    ]
    return (
        l.join(r, cond)
        .filter(
            (F.col(l_start) <= F.col(r_end))
            & (F.col(r_start) <= F.col(l_end))
            & (F.col("l.__bucket") == first_shared)
        )
        .select(
            *[F.col(f"l.{k}").alias(k) for k in on],
            *[
                F.col(f"l.{c}")
                for c in left.columns
                if c not in set(on)
            ],
            *[
                F.col(f"r.{c}")
                for c in right.columns
                if c not in set(on)
            ],
            (
                F.least(us(l_end), us(r_end))
                - F.greatest(us(l_start), us(r_start))
            ).alias("overlap_micro"),
        )
    )


def event_transitions(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """First-order transition matrix of the per-user event stream: for
    every consecutive event pair in (ts, id) order, count (from_type →
    to_type) — the Markov-chain statistics behind next-action
    prediction, funnel leak diagnosis, and session-shape profiling.
    ``id_col`` breaks timestamp ties so the sequence (and therefore the
    matrix) is a pure function of the data.

    Plan: ONE user-keyed shuffle for the lead() window, then a
    transition-cardinality aggregation (|types|² rows at most) whose
    per-from totals re-enter via a window over that tiny aggregate —
    never a second data-wide pass. share_ppm = floor(1e6 · n /
    Σ n over the same from_type) — each row's share of the exits from
    its source state, exact integers cross-engine.

    Returns (from_type, to_type, n, share_ppm).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(F.asc(ts_col), F.asc(id_col))
    steps = events.select(
        F.col(type_col).alias("from_type"),
        F.lead(type_col).over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    counts = steps.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    w_tot = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        F.expr("1000000 * n").cast("bigint").alias("__num"),
        F.sum("n").over(w_tot).alias("__den"),
    ).select(
        "from_type",
        "to_type",
        "n",
        F.expr("__num div __den").cast("bigint").alias("share_ppm"),
    )


def time_weighted_average(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Time-weighted average of a sampled value per key (TWAP): each
    observation holds until the key's next observation, so its weight
    is that interval's length in seconds — the correct average for
    irregularly-sampled series (a plain mean over-weights bursts). The
    key's last observation bounds no interval and carries no weight.

    Determinism: float Σ(v·Δt) depends on accumulation order, so the
    value is cast to decimal(18,6) and weighted by the INTEGER second
    gap — both engines sum decimals exactly in any order — and the
    average is emitted as floor micro-units. ``id_col`` breaks
    timestamp ties. ONE key-ordered window (the lead shares the shuffle
    with nothing else) + one keyed aggregation.

    Returns (key, n_intervals, total_seconds, twap_micro).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(F.asc(ts_col), F.asc(id_col))
    gaps = events.select(
        F.col(key_col).alias("key"),
        F.col(value_col).cast("decimal(18,6)").alias("v"),
        # integer epoch-second floor via microseconds: unix_timestamp
        # rounds sub-second values engine-dependently; unix_micros DIV
        # 1e6 is an exact integer floor both engines reproduce
        (
            F.lead(F.expr(f"unix_micros(CAST({ts_col} AS TIMESTAMP)) div 1000000")).over(
                Window.partitionBy(key_col).orderBy(
                    F.asc(ts_col), F.asc(id_col)
                )
            )
            - F.expr(f"unix_micros(CAST({ts_col} AS TIMESTAMP)) div 1000000")
        ).alias("dt"),
    ).filter(F.col("dt").isNotNull() & (F.col("dt") > 0))
    return (
        gaps.groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum("dt").cast("bigint").alias("total_seconds"),
            F.sum(F.col("v") * F.col("dt")).alias("__vw"),
        )
        .select(
            "key",
            "n_intervals",
            "total_seconds",
            # exact-integer micro numerator (v has 6dp, so ·1e6 is
            # integral), then plain `div` — BOTH engines truncate
            # integer division toward zero (verified -7 div 2 = -3 =
            # DuckDB -7 // 2), so this matches the oracle's `//` for
            # negative values too; decimal `/` would round at an
            # engine-chosen scale instead
            F.expr(
                "CAST(__vw * 1000000 AS BIGINT) div total_seconds"
            ).cast("bigint").alias("twap_micro"),
        )
    )


def event_path_topk(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    n: int = 3,
    k: int = 20,
) -> DataFrame:
    """Top-k most frequent event-type PATHS (length-``n`` consecutive
    subsequences of each user's time-ordered event stream) — the
    clickstream path-mining companion to event_transitions (which is
    the n=2 matrix; paths expose multi-step funnels the pairwise
    matrix marginalizes away).

    Per-user event sequences assemble as ONE keyed aggregation
    (array_sort over (ts, id, type) structs — a pure column sort,
    deterministic because (ts, id) is total), and the n-gram windows
    come out of the array MAP-SIDE (the bigram_lm slice+zip shape,
    generalized) — no positional self-join, no rank window. The
    per-user array is bounded by that user's event count: for
    bot-scale keys pre-cap with a per-user limit upstream (same
    caveat as sessionize). Path counting is one map-side-partial
    aggregation; top-k is orderBy+limit → TakeOrderedAndProject
    (ties broken by path string — total order, engine-portable).

    Returns (path, n_occurrences), '>'-joined type names, k rows.
    """
    seq = (
        events.groupBy(F.col(key_col).alias("key"))
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col(ts_col).alias("ts"),
                        F.col(id_col).alias("id"),
                        F.col(type_col).alias("t"),
                    )
                )
            ).alias("evs")
        )
        .select(
            "key", F.expr("transform(evs, e -> e.t)").alias("types")
        )
    )
    grams = (
        seq.withColumn("__m", F.greatest(F.size("types") - (n - 1), F.lit(0)))
        .filter(F.col("__m") > 0)
        .select(
            F.explode(
                F.expr(
                    f"transform(sequence(1, __m),"
                    f" i -> array_join(slice(types, i, {n}), '>'))"
                )
            ).alias("path")
        )
    )
    return (
        grams.groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("path").asc())
        .limit(k)
    )


def attribution_touch(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
    value_col: str = "value",
    conversion_type: str = "purchase",
    gap_seconds: int = 1800,
) -> DataFrame:
    """Session-scoped marketing attribution — revenue credited to the
    FIRST touch (the session's opening event type) and to the LAST
    touch (the latest non-conversion event strictly before the
    session's first conversion; 'direct' when the session opens with
    the conversion), per touch type. The two classical single-touch
    models, computed together in one pass.

    Deterministic: event order is (ts, event_id) everywhere; revenue
    is the exact decimal micro sum of conversion values; sessions are
    the same 30-min-gap integer-microsecond construction as
    ``sessionize``.

    Scale shape: one user-keyed shuffle for the lag/cumsum session
    windows, one (user, session)-keyed shuffle for the session-frame
    windows + the one-row-per-session pick, a map-side stack melt, and
    a final touch-type aggregation (cardinality = |event types| × 2 —
    broadcast-sized). Revenue re-sums ride DECIMAL(38,0). No joins, no
    collects.

    Returns (model ∈ {first,last}, touch_type, n_sessions,
    revenue_micro).
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    gap_us = gap_seconds * 1_000_000
    sess = (
        events.select(
            F.col(user_col).alias("u"),
            F.col(ts_col).alias("ts"),
            F.col(id_col).alias("id"),
            F.col(type_col).alias("typ"),
            (F.col(value_col).cast("decimal(18,6)") * 1000000)
            .cast("bigint")
            .alias("v_micro"),
        )
        .withColumn(
            "__new",
            # identical-shift cast: unix_micros rejects TIMESTAMP_NTZ
            # (the sessionize idiom)
            F.when(
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.unix_micros(
                    F.lag("ts")
                    .over(Window.partitionBy("u").orderBy("ts", "id"))
                    .cast("timestamp")
                )
                > gap_us,
                1,
            )
            .otherwise(0),
        )
        .withColumn(
            "sess",
            F.sum("__new").over(
                Window.partitionBy("u")
                .orderBy("ts", "id")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    del w
    ws = Window.partitionBy("u", "sess").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    is_conv = F.col("typ") == conversion_type
    marked = (
        sess.withColumn(
            "__conv_first",
            F.min(F.when(is_conv, F.struct("ts", "id"))).over(ws),
        )
        .withColumn(
            "__first", F.min(F.struct("ts", "id", "typ")).over(ws)
        )
        .withColumn(
            "__last_touch",
            F.max(
                F.when(
                    (~is_conv)
                    & F.col("__conv_first").isNotNull()
                    & (F.struct("ts", "id") < F.col("__conv_first")),
                    F.struct("ts", "id", "typ"),
                )
            ).over(ws),
        )
        .withColumn(
            "__rev",
            F.sum(
                F.when(is_conv, F.col("v_micro")).cast("decimal(38,0)")
            ).over(ws),
        )
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("u", "sess").orderBy("ts", "id")
            ),
        )
    )
    per_session = marked.filter(
        (F.col("__rn") == 1) & F.col("__conv_first").isNotNull()
    ).select(
        F.col("__first.typ").alias("first_touch"),
        F.coalesce(F.col("__last_touch.typ"), F.lit("direct")).alias(
            "last_touch"
        ),
        F.col("__rev").cast("bigint").alias("rev_micro"),
    )
    melted = per_session.selectExpr(
        "stack(2, 'first', first_touch, 'last', last_touch)"
        " AS (model, touch_type)",
        "rev_micro",
    )
    return melted.groupBy("model", "touch_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.sum(F.col("rev_micro").cast("decimal(38,0)"))
        .cast("bigint")
        .alias("revenue_micro"),
    )


def attribution_position(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
    value_col: str = "value",
    conversion_type: str = "purchase",
    gap_seconds: int = 1800,
    first_bp: int = 4000,
    last_bp: int = 4000,
) -> DataFrame:
    """Position-based (U-shaped) attribution — the multi-touch
    completion of attribution_touch: a session's conversion revenue is
    SPLIT across its pre-conversion touches: ``first_bp``/10000 to the
    first touch, ``last_bp``/10000 to the last, the remaining share
    divided equally over the middle touches. Sessions converting with
    no prior touch credit 'direct'.

    EXACT integer splitting — credits conserve revenue to the micro:
    shares are bigint ``div`` (Spark div ≡ DuckDB // — both truncate,
    the round-5 cross-engine rule), the middle pool is what's LEFT
    after both end shares (never an independent percentage, so rounding
    can't leak), its per-touch share is ``pool div (n−2)`` and the
    remainder goes to the EARLIEST middle touch; n==1 takes everything,
    n==2 splits ceil/floor. Σ credits == Σ converting-session revenue
    bit-for-bit (property-tested).

    Scale shape: the same one user-keyed + one session-keyed shuffle as
    attribution_touch (sessionization windows, then rank/count windows
    over the SAME (u, sess) partitioning — one Exchange for the whole
    middle section), final agg touch-type-sized. No joins, no collects.

    Returns (touch_type, n_touches, credit_micro).
    """
    gap_us = gap_seconds * 1_000_000
    sess = (
        events.select(
            F.col(user_col).alias("u"),
            F.col(ts_col).alias("ts"),
            F.col(id_col).alias("id"),
            F.col(type_col).alias("typ"),
            (F.col(value_col).cast("decimal(18,6)") * 1000000)
            .cast("bigint")
            .alias("v_micro"),
        )
        .withColumn(
            "__new",
            F.when(
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.unix_micros(
                    F.lag("ts")
                    .over(Window.partitionBy("u").orderBy("ts", "id"))
                    .cast("timestamp")
                )
                > gap_us,
                1,
            ).otherwise(0),
        )
        .withColumn(
            "sess",
            F.sum("__new").over(
                Window.partitionBy("u")
                .orderBy("ts", "id")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    ws = Window.partitionBy("u", "sess").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    is_conv = F.col("typ") == conversion_type
    pre_cond = (
        (~is_conv)
        & F.col("__cf").isNotNull()
        & (F.struct("ts", "id") < F.col("__cf"))
    )
    marked = (
        sess.withColumn(
            "__cf", F.min(F.when(is_conv, F.struct("ts", "id"))).over(ws)
        )
        .withColumn(
            "__rev",
            F.coalesce(
                F.sum(
                    F.when(is_conv, F.col("v_micro")).cast("decimal(38,0)")
                ).over(ws),
                F.lit(0).cast("decimal(38,0)"),
            ).cast("bigint"),
        )
        .withColumn("__pre", F.when(pre_cond, 1).otherwise(0))
        .withColumn("n", F.sum("__pre").over(ws).cast("bigint"))
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("u", "sess").orderBy("ts", "id")
            ),
        )
    )
    # rank the pre-conversion touches; same (u, sess) partitioning
    touches = (
        marked.filter(pre_cond)
        .withColumn(
            "r",
            F.row_number()
            .over(Window.partitionBy("u", "sess").orderBy("ts", "id"))
            .cast("bigint"),
        )
        .withColumn(
            "credit",
            F.expr(
                f"""CASE
                  WHEN n = 1 THEN __rev
                  WHEN n = 2 AND r = 1 THEN __rev - (__rev div 2)
                  WHEN n = 2 THEN __rev div 2
                  WHEN r = 1 THEN (__rev * {first_bp}) div 10000
                  WHEN r = n THEN (__rev * {last_bp}) div 10000
                  ELSE (__rev - (__rev * {first_bp}) div 10000
                              - (__rev * {last_bp}) div 10000)
                         div (n - 2)
                     + CASE WHEN r = 2 THEN
                         (__rev - (__rev * {first_bp}) div 10000
                                - (__rev * {last_bp}) div 10000)
                           % (n - 2)
                       ELSE 0 END
                END"""
            ),
        )
        .select(F.col("typ").alias("touch_type"), "credit")
    )
    direct = marked.filter(
        (F.col("__rn") == 1) & F.col("__cf").isNotNull() & (F.col("n") == 0)
    ).select(
        F.lit("direct").alias("touch_type"), F.col("__rev").alias("credit")
    )
    return (
        touches.unionByName(direct)
        .groupBy("touch_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_touches"),
            F.sum(F.col("credit").cast("decimal(38,0)"))
            .cast("bigint")
            .alias("credit_micro"),
        )
    )


def funnel_time_to_convert(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
    from_type: str = "view",
    to_type: str = "purchase",
) -> DataFrame:
    """Time-to-convert by acquisition cohort: for each user, the
    seconds between their FIRST ``from_type`` event and the first
    ``to_type`` event after it; converted users grouped by the day of
    their first-ever event (the cohort), with exact discrete p50/p90
    of the conversion delay — funnel_stages says how many convert,
    this says how fast, cohort-over-cohort.

    Deterministic: all "first"s are (ts, id)-ordered struct minima;
    delays are integer seconds (floor of the microsecond difference);
    quantiles are the discrete ⌈q·n⌉ order statistics (ties by user
    id) of the grouped_quantiles idiom.

    Scale shape: one user-keyed shuffle (three stacked full-frame
    windows: first event, first from-event, first to-event after it —
    window-over-window on the same partitioning, no self-join), one
    row kept per user, then one cohort-keyed shuffle for the rank +
    conditional-agg quantile extraction. No joins, no collects.

    Returns (cohort_day, n_converted, p50_convert_s, p90_convert_s).
    """
    wu = Window.partitionBy("u").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    base = events.select(
        F.col(user_col).alias("u"),
        F.col(ts_col).cast("timestamp").alias("ts"),
        F.col(id_col).alias("id"),
        F.col(type_col).alias("typ"),
    )
    marked = (
        base.withColumn("__first", F.min(F.struct("ts", "id")).over(wu))
        .withColumn(
            "__fv",
            F.min(
                F.when(F.col("typ") == from_type, F.struct("ts", "id"))
            ).over(wu),
        )
        .withColumn(
            "__fc",
            F.min(
                F.when(
                    (F.col("typ") == to_type)
                    & F.col("__fv").isNotNull()
                    & (F.struct("ts", "id") > F.col("__fv")),
                    F.struct("ts", "id"),
                )
            ).over(wu),
        )
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("u").orderBy("ts", "id")
            ),
        )
    )
    converted = marked.filter(
        (F.col("__rn") == 1) & F.col("__fc").isNotNull()
    ).select(
        "u",
        F.date_trunc("day", F.col("__first.ts")).alias("cohort_day"),
        (
            (
                F.unix_micros(F.col("__fc.ts").cast("timestamp"))
                - F.unix_micros(F.col("__fv.ts").cast("timestamp"))
            )
            / F.lit(1_000_000)
        )
        .cast("bigint")
        .alias("convert_s"),
    )
    wq = Window.partitionBy("cohort_day").orderBy("convert_s", "u")
    wp = Window.partitionBy("cohort_day").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = converted.withColumn(
        "rn", F.row_number().over(wq).cast("bigint")
    ).withColumn("n", F.count(F.lit(1)).over(wp))
    return ranked.groupBy("cohort_day").agg(
        F.max("n").cast("bigint").alias("n_converted"),
        F.max(
            F.when(F.col("rn") == F.expr("(50 * n + 99) div 100"), F.col("convert_s"))
        ).alias("p50_convert_s"),
        F.max(
            F.when(F.col("rn") == F.expr("(90 * n + 99) div 100"), F.col("convert_s"))
        ).alias("p90_convert_s"),
    )


def seasonal_anomaly(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_micro,
    threshold_ppm: int = 500_000,
) -> DataFrame:
    """Day-of-week seasonal baseline + anomaly flags for a daily metric:
    each (key, day) total is compared against the EXACT lower median of
    all same-weekday totals for that key — the seasonality-aware twin of
    anomaly_iqr/mad (a Sunday is judged against Sundays, so a weekly
    traffic cycle stops reading as fourteen anomalies a week).

    Scale shape: ONE data-sized shuffle (groupBy key×day with map-side
    partial sums) reduces the input to at most keys×days rows;
    everything after — the per-(key, dow) median rank window and the
    unbounded count — runs over that bounded aggregate. Weekday is the
    engine-portable ``epoch_days % 7`` (0 = Thursday), not the
    locale/engine-dependent dayofweek(). Deviation is a signed
    cross-multiplied ppm floor division; |dev| > threshold flags.

    Returns (key, day_idx, dow, day_total_micro, baseline_micro,
    dev_ppm, is_anomaly) — day_idx is epoch days (DATE columns hash
    differently across engines in the driver gate; epoch-day bigints
    are the repo's portable date idiom). Baseline rows with a zero
    median yield NULL dev and FALSE flag (a flat-zero weekday has no
    scale to deviate from).
    """
    daily = (
        df.select(
            F.col(key_col).alias("key"),
            F.unix_date(F.col(ts_col).cast("date"))
            .cast("bigint")
            .alias("day_idx"),
            value_micro.cast("decimal(38,0)").alias("__v"),
        )
        .filter(F.col("day_idx").isNotNull())
        .groupBy("key", "day_idx")
        .agg(F.sum("__v").cast("bigint").alias("day_total_micro"))
        .withColumn("dow", (F.col("day_idx") % 7).cast("int"))
    )
    w = Window.partitionBy("key", "dow").orderBy("day_total_micro", "day_idx")
    wp = Window.partitionBy("key", "dow").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = daily.select(
        "key",
        "day_idx",
        "dow",
        "day_total_micro",
        F.row_number().over(w).cast("bigint").alias("__rn"),
        F.count(F.lit(1)).over(wp).cast("bigint").alias("__n"),
    )
    # lower median = the ((n+1) div 2)-th smallest; broadcast back the
    # one-row-per-(key,dow) baseline (bounded: keys × 7)
    baseline = ranked.filter(
        F.expr("__rn = (__n + 1) div 2")
    ).select(
        F.col("key").alias("__bk"),
        F.col("dow").alias("__bd"),
        F.col("day_total_micro").alias("baseline_micro"),
    )
    joined = ranked.join(
        F.broadcast(baseline),
        (F.col("key") == F.col("__bk")) & (F.col("dow") == F.col("__bd")),
        "left",
    )
    # signed ratio via sign-split: Spark `div` truncates toward zero
    # while DuckDB `//` floors, so they disagree on negative numerators;
    # divide magnitudes (where both floor) and re-apply the sign
    dev = F.expr(
        "CAST(CASE WHEN baseline_micro IS NULL OR baseline_micro = 0"
        " THEN NULL ELSE"
        " (CASE WHEN day_total_micro < baseline_micro THEN -1 ELSE 1 END)"
        " * ((abs(CAST(day_total_micro AS DECIMAL(38,0)) - baseline_micro)"
        "     * 1000000) div abs(CAST(baseline_micro AS DECIMAL(38,0))))"
        " END AS BIGINT)"
    )
    return joined.select(
        "key",
        "day_idx",
        "dow",
        "day_total_micro",
        "baseline_micro",
        dev.alias("dev_ppm"),
        F.coalesce(
            F.abs(dev) > F.lit(threshold_ppm), F.lit(False)
        ).alias("is_anomaly"),
    )


def user_accumulation(
    df: DataFrame,
    key_col: str,
    user_col: str,
    ts_col: str,
) -> DataFrame:
    """Cumulative-distinct-users-over-time without a growing-window
    COUNT(DISTINCT): the first-seen decomposition. Each user contributes
    exactly once — at their first active day per key — so the running
    distinct count is a plain cumulative SUM over per-day new-user
    counts. The naive form (count distinct over an expanding window)
    re-scans every prior row per day and holds per-window dedup state;
    this form is two bounded aggregations.

    Scale shape: shuffle #1 groups by (key, user) with a map-side MIN
    partial (data-sized but fully combinable); shuffle #2 counts by
    (key, first_day) — output is at most keys×days rows, and the
    cumulative window runs over THAT bounded aggregate, not over data.

    Returns (key, day_idx, new_users, cum_users) — one row per
    (key, epoch-day) where at least one user first appeared.
    """
    first_seen = (
        df.select(
            F.col(key_col).alias("key"),
            F.col(user_col).alias("__u"),
            F.unix_date(F.col(ts_col).cast("date"))
            .cast("bigint")
            .alias("__d"),
        )
        .filter(F.col("__d").isNotNull() & F.col("__u").isNotNull())
        .groupBy("key", "__u")
        .agg(F.min("__d").alias("day_idx"))
    )
    daily_new = first_seen.groupBy("key", "day_idx").agg(
        F.count(F.lit(1)).cast("bigint").alias("new_users")
    )
    w = (
        Window.partitionBy("key")
        .orderBy("day_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily_new.select(
        "key",
        "day_idx",
        "new_users",
        F.sum("new_users").over(w).cast("bigint").alias("cum_users"),
    )


def churn_summary(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    inactive_days: int = 7,
) -> DataFrame:
    """Churn accounting at the corpus horizon: a user is CHURNED if
    their last activity is more than ``inactive_days`` before the
    latest timestamp in the data — the denominator-side companion of
    user_accumulation (that one counts arrivals; this one counts who
    is still here). Bucketed by the user's most-frequent... no — by
    the user's FIRST-SEEN week, so the output reads as a cohort-level
    churn table (which vintages are decaying).

    Scale shape: ONE user-keyed hash agg (min/max epoch-day, both
    map-side combinable); the corpus horizon is a two-scalar aggregate
    (the only collect); the final rollup groups the user-level frame by
    (cohort_week, churned) — bounded by weeks × 2. No windows over raw
    data, no joins.

    Returns (cohort_week, churned, n_users) — cohort_week is epoch-day
    div 7.
    """
    per_user = (
        df.select(
            F.col(user_col).alias("__u"),
            F.unix_date(F.col(ts_col).cast("date"))
            .cast("bigint")
            .alias("__d"),
        )
        .filter(F.col("__u").isNotNull() & F.col("__d").isNotNull())
        .groupBy("__u")
        .agg(
            F.min("__d").alias("first_day"),
            F.max("__d").alias("last_day"),
        )
    )
    horizon = per_user.agg(F.max("last_day")).first()[0]
    if horizon is None:
        return df.sparkSession.createDataFrame(
            [], "cohort_week bigint, churned boolean, n_users bigint"
        )
    return (
        per_user.select(
            F.expr("first_day div 7").cast("bigint").alias("cohort_week"),
            (
                F.col("last_day") < F.lit(int(horizon) - inactive_days)
            ).alias("churned"),
        )
        .groupBy("cohort_week", "churned")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    )


def interarrival_profile(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
) -> DataFrame:
    """Inter-arrival-time profile per stream: exact order statistics
    (lower median, type-1 p90) plus min/max/count of the gaps between
    consecutive events of each key — the cadence fingerprint that
    sizes streaming watermarks (p90 gap bounds expected lateness),
    detects feed stalls (max gap ≫ median), and separates heartbeat
    streams from bursty ones. The quantiles are EXACT discrete order
    statistics in integer seconds, same discipline as
    grouped_quantiles / seasonal_anomaly — never approximate at the
    profile that tunes correctness-bearing watermarks.

    Scale shape: gaps come from one lag window on the key Exchange;
    the rank + count windows REUSE that same partitioning (no second
    shuffle), and the final one-row-per-key rollup is a conditional
    aggregate on the ranks — parallelism is key cardinality, state per
    key is O(1). Seconds ride the portable integer floor
    ``unix_micros(ts) div 1e6`` (unix_timestamp rounds sub-second
    values engine-dependently).

    Returns (key, n_gaps, min_gap_sec, median_gap_sec, p90_gap_sec,
    max_gap_sec).
    """
    es = F.expr(f"unix_micros(CAST({ts_col} AS TIMESTAMP)) div 1000000")
    w_seq = Window.partitionBy(key_col).orderBy(
        F.asc(ts_col), F.asc(id_col)
    )
    # the partition column keeps its ORIGINAL name through every window
    # (an early alias mints a new attribute and the second window
    # re-shuffles on it — measured: 2 Exchanges instead of 1); the
    # output rename happens once, in the final aggregate
    gaps = (
        df.select(
            F.col(key_col),
            F.col(ts_col).alias("__ts"),
            F.col(id_col).alias("__id"),
            (es - F.lag(es).over(w_seq)).cast("bigint").alias("gap_sec"),
        )
        .filter(F.col("gap_sec").isNotNull())
    )
    w_rank = Window.partitionBy(key_col).orderBy(
        F.col("gap_sec").asc(), F.col("__ts").asc(), F.col("__id").asc()
    )
    w_all = Window.partitionBy(key_col).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = gaps.select(
        F.col(key_col),
        "gap_sec",
        F.row_number().over(w_rank).cast("bigint").alias("__r"),
        F.count(F.lit(1)).over(w_all).cast("bigint").alias("__n"),
    )
    return (
        ranked.groupBy(F.col(key_col).alias("key"))
        .agg(
            F.max("__n").alias("n_gaps"),
            F.min("gap_sec").alias("min_gap_sec"),
            # lower median = ((n+1) div 2)-th smallest; type-1 p90 =
            # ⌈0.9·n⌉-th = ((9n+9) div 10)-th — exact integer ranks
            F.max(
                F.when(F.expr("__r = (__n + 1) div 2"), F.col("gap_sec"))
            ).alias("median_gap_sec"),
            F.max(
                F.when(F.expr("__r = (9 * __n + 9) div 10"),
                       F.col("gap_sec"))
            ).alias("p90_gap_sec"),
            F.max("gap_sec").alias("max_gap_sec"),
        )
    )


def pit_enrich(
    facts: DataFrame,
    changes: DataFrame,
    key_col: str,
    ts_col: str,
    attr_col: str,
    change_id_col: str,
) -> DataFrame:
    """Point-in-time enrichment WITHOUT a join: every fact row gets the
    attribute value of the latest change row (same key) at-or-before
    its timestamp — the "what tier was this user on when they clicked"
    lookup that a type-2 dimension join answers in a warehouse. The
    asof/range joins in this repo answer it too; this is the shape that
    beats them at 100 TB when facts and changes share a key: UNION the
    change rows into the fact stream and forward-fill with ONE
    last(ignorenulls) window — zero joins, one key-Exchange, no
    interval table, no per-row probe. Ties at the same timestamp apply
    the change first (a same-instant change is visible to the fact);
    multiple same-instant changes resolve to the highest change id —
    both via the window's total order, not engine luck.

    Scale shape: one union (map-side), ONE window partitioned by key
    ordered (ts, is_change desc, change_id) — the same single-shuffle
    profile as sessionize; at 1000 executors the fill parallelism is
    key cardinality. Facts with no prior change keep a NULL attribute
    (they existed before the dimension did — dropping them silently is
    the classic PIT bug).

    Returns the fact rows + ``attr_at_ts``.
    """
    fcols = [c for c in facts.columns]
    tagged_f = facts.select(
        *fcols,
        F.lit(None).cast(
            changes.schema[attr_col].dataType.simpleString()
        ).alias("__attr"),
        F.lit(0).alias("__is_chg"),
        F.lit(None).cast("bigint").alias("__cid"),
    )
    tagged_c = changes.select(
        *[
            F.col(key_col) if c == key_col
            else F.col(ts_col) if c == ts_col
            else F.lit(None).cast(
                facts.schema[c].dataType.simpleString()
            ).alias(c)
            for c in fcols
        ],
        F.col(attr_col).alias("__attr"),
        F.lit(1).alias("__is_chg"),
        F.col(change_id_col).cast("bigint").alias("__cid"),
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy(
            F.col(ts_col).asc(),
            F.col("__is_chg").desc(),
            F.col("__cid").asc_nulls_first(),
        )
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        tagged_f.unionByName(tagged_c)
        .withColumn("attr_at_ts", F.last("__attr", ignorenulls=True).over(w))
        .filter(F.col("__is_chg") == 0)
        .select(*fcols, "attr_at_ts")
    )


def freshness_audit(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    recent_secs: int = 86_400,
    window_secs: int = 7 * 86_400,
) -> DataFrame:
    """Data-freshness audit per stream: when did each key last produce a
    row, how far does it lag the corpus frontier, and how much of its
    volume is recent — the first page of any ingestion dashboard and
    the check that catches a silently-dead feed before a consumer
    does (a stale feed still passes row-count DQ; it fails THIS).

    Scale shape: ONE key-keyed aggregation with conditional sums (the
    only data-sized shuffle); the corpus frontier is a one-row
    aggregate broadcast back (never a global window over the data).
    Recency classes are computed against the frontier, not
    wall-clock — the audit is deterministic and replayable (same
    input, same answer; a NOW()-based audit can't be oracle-checked
    or backfilled).

    Returns (key, n_rows, last_sec, lag_sec, n_recent, n_window) with
    seconds on the portable ``unix_micros div 1e6`` floor; n_recent /
    n_window count rows within recent_secs / window_secs of the
    frontier.
    """
    es = F.expr(f"unix_micros(CAST({ts_col} AS TIMESTAMP)) div 1000000")
    per = df.select(F.col(key_col).alias("key"), es.alias("__sec"))
    frontier = per.agg(F.max("__sec").cast("bigint").alias("__max_sec"))
    return (
        per.crossJoin(F.broadcast(frontier))
        .groupBy("key")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.max("__sec").cast("bigint").alias("last_sec"),
            F.max("__max_sec").alias("__frontier"),
            F.sum(
                F.when(
                    F.col("__sec") >= F.col("__max_sec") - recent_secs, 1
                ).otherwise(0)
            ).cast("bigint").alias("n_recent"),
            F.sum(
                F.when(
                    F.col("__sec") >= F.col("__max_sec") - window_secs, 1
                ).otherwise(0)
            ).cast("bigint").alias("n_window"),
        )
        .select(
            "key",
            "n_rows",
            "last_sec",
            (F.col("__frontier") - F.col("last_sec"))
            .cast("bigint")
            .alias("lag_sec"),
            "n_recent",
            "n_window",
        )
    )


def revenue_retention(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    value_micro,
) -> DataFrame:
    """Cohort REVENUE retention (net revenue retention triangle): users
    cohort by first-activity week; each (cohort, week-offset) cell
    carries that cohort's revenue in that week and its ppm ratio vs
    the cohort's week-0 revenue — the value-weighted twin of
    cohort_retention (a cohort can retain 40% of users but 110% of
    revenue; growth teams bet on exactly that difference).

    Scale shape: one per-user MIN aggregation for the cohort (map-side
    combined), a user-keyed join back, one (cohort, offset) sum —
    identical shuffle profile to cohort_retention; the week-0 base
    re-enters via a (cohorts)-bounded broadcast join. Weeks are
    epoch-day div 7 (engine-neutral); revenue rides DECIMAL(38,0).

    Returns (cohort_week, week_offset, revenue_micro, retention_ppm);
    retention_ppm is NULL for a zero week-0 base (no scale to retain
    against).
    """
    week = F.expr(
        f"CAST(unix_micros(CAST({ts_col} AS TIMESTAMP))"
        " div 604800000000 AS BIGINT)"
    )
    base = df.select(
        F.col(user_col).alias("__u"),
        week.alias("__w"),
        value_micro.cast("decimal(38,0)").alias("__v"),
    ).filter(F.col("__u").isNotNull())
    first = base.groupBy("__u").agg(F.min("__w").alias("cohort_week"))
    # the cohort table is ONE ROW PER USER — data-sized; Catalyst's
    # post-agg estimate broadcasts it at test scale, which at 100 TB is
    # an abortive build side (the _size_sides hazard) — pin shuffle-hash
    # cells is (cohorts × offsets)-bounded but feeds BOTH the week-0
    # base filter and the final join — share it, or the whole
    # scan→cohort-join→sum pipeline runs twice (4 source scans in the
    # r11 sweep; operators/sharing.py)
    cells = shared(
        base.join(first.hint("shuffle_hash"), "__u")
        .groupBy(
            "cohort_week",
            (F.col("__w") - F.col("cohort_week"))
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.sum("__v").cast("decimal(38,0)").alias("__rev"))
    )
    base0 = cells.filter(F.col("week_offset") == 0).select(
        F.col("cohort_week").alias("__cw0"),
        F.col("__rev").alias("__rev0"),
    )
    return (
        cells.join(
            F.broadcast(base0),
            F.col("cohort_week") == F.col("__cw0"),
            "left",
        )
        .select(
            "cohort_week",
            "week_offset",
            F.col("__rev").cast("bigint").alias("revenue_micro"),
            F.expr(
                "CAST(CASE WHEN __rev0 IS NULL OR __rev0 = 0 THEN NULL"
                " ELSE (__rev * 1000000) DIV __rev0 END AS BIGINT)"
            ).alias("retention_ppm"),
        )
    )


def activity_streaks(
    df: DataFrame,
    user_col: str,
    ts_col: str,
) -> DataFrame:
    """Longest consecutive-day activity streak per user — the canonical
    gaps-and-islands pattern (engagement scoring, anomaly screening:
    a 90-day "streak" from a batch backfill stands out instantly).
    Islands via the classic day_idx − dense-sequence trick: distinct
    active days ranked within user; day_idx − rank is constant within
    a consecutive run, so runs group exactly with zero self-joins.

    Scale shape: one (user, day) distinct (data-sized, map-side
    partial), ONE user-keyed rank window, then two stacked bounded
    aggregations ((user, island) → user) — everything after the
    distinct shares the user partitioning. Days are epoch-day ints.

    Returns (user, n_active_days, n_streaks, longest_streak,
    current_streak) — current = the streak touching the user's last
    active day.
    """
    day = F.expr(
        f"CAST(unix_micros(CAST({ts_col} AS TIMESTAMP))"
        " div 86400000000 AS BIGINT)"
    )
    days = (
        df.select(F.col(user_col).alias("user"), day.alias("__d"))
        .filter(F.col("user").isNotNull())
        .distinct()
    )
    w = Window.partitionBy("user").orderBy("__d")
    islands = days.select(
        "user",
        "__d",
        (F.col("__d") - F.row_number().over(w)).alias("__island"),
    )
    per_island = islands.groupBy("user", "__island").agg(
        F.count(F.lit(1)).cast("bigint").alias("__len"),
        F.max("__d").alias("__end"),
    )
    return per_island.groupBy("user").agg(
        F.sum("__len").cast("bigint").alias("n_active_days"),
        F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
        F.max("__len").alias("longest_streak"),
        # the streak containing the user's LAST active day: argmax by
        # island end via the exact MIN(struct(-end, len)) idiom
        (-F.min(
            F.struct((-F.col("__end")).alias("ne"), (-F.col("__len")).alias("nl"))
        )["nl"]).cast("bigint").alias("current_streak"),
    )


def out_of_orderness_profile(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    arrival_col: str,
    late_secs: tuple[int, int] = (60, 600),
) -> DataFrame:
    """Out-of-orderness profile per stream: how far behind the
    high-watermark do events actually arrive — THE number that sizes a
    streaming watermark (``withWatermark`` bounds state by declared
    lateness; declare less than this profile says and rows drop
    silently, declare more and state grows for nothing). Disorder for
    an event = (running max event-time over arrival order) − its own
    event time; the profile reports how many events exceed each
    candidate lateness bound and the worst disorder seen.

    ``arrival_col`` is the arrival/ingestion order (an ingestion id or
    offset — here the event id); event time rides the portable
    ``unix_micros div 1e6`` floor.

    Scale shape: ONE key-partitioned running-max window over arrival
    order, then a key aggregation that REUSES the same Exchange —
    single shuffle, O(1) state per row. Output is one row per stream.

    Returns (key, n_events, max_disorder_sec, n_late_a, n_late_b) with
    a/b = ``late_secs``.
    """
    es = F.expr(f"unix_micros(CAST({ts_col} AS TIMESTAMP)) div 1000000")
    w = (
        Window.partitionBy(key_col)
        .orderBy(F.col(arrival_col).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    a, b = late_secs
    staged = df.select(
        F.col(key_col),
        F.col(arrival_col),
        es.alias("__sec"),
    ).withColumn(
        "__lag",
        F.max("__sec").over(w) - F.col("__sec"),
    )
    return staged.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.max("__lag").cast("bigint").alias("max_disorder_sec"),
        F.sum(F.when(F.col("__lag") > a, 1).otherwise(0))
        .cast("bigint")
        .alias("n_late_a"),
        F.sum(F.when(F.col("__lag") > b, 1).otherwise(0))
        .cast("bigint")
        .alias("n_late_b"),
    )
