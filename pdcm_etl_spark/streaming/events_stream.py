"""Streaming ingest of the events table.

Structured Streaming over the same parquet lake: readStream → watermark →
windowed aggregation → memory/parquet sink. ``run_availablenow`` drains
everything currently in the source (Trigger.AvailableNow) so the result is
deterministically comparable to the batch twin
(plans/catalog.py::q_events_daily) — that equivalence is the correctness
oracle for the streaming path.

Scale: in production the source is a file/Kafka stream; the watermark
bounds state, the 1-day tumbling window keys the state store, and
``spark.sql.shuffle.partitions`` sizes the state shuffle.
"""

from __future__ import annotations

import contextlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Compressed source bytes per streaming state partition. Every shuffle
# in a streaming query doubles as the STATE STORE partitioning, and each
# state partition carries fixed per-micro-batch cost (provider open,
# delta-file write, fsync, commit) regardless of how little state it
# holds — profiled at sf0.1: the stream-stream left-outer join spent
# 109 s + 105 s of task wall across its two 32-task join stages with
# < 1 s of CPU (pure state-store commit latency), 7.0 s wall; at 4
# partitions the same drain is 2.4 s (2.9×). Inheriting the
# core-count-sized session shuffle partitions is wrong in both
# directions: too many stores at bench scale, and a CONSTANT (rather
# than data-derived) count at 100 TB. 32 MB of compressed source per
# partition ≈ 100-300 MB of in-memory working set — the 100 MB-1 GB
# band the optimization guide (§2.2) targets per partition. A restarted
# query takes its count from its checkpoint, so this derivation only
# sizes fresh drains like the bench's.
_STATE_PARTITION_BYTES = 32 * 1024 * 1024


def _source_bytes(path: str) -> int:
    import os

    if os.path.isdir(path):
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _d, fs in os.walk(path)
            for f in fs
        )
    try:
        return os.path.getsize(path)
    except OSError:
        return 0


@contextlib.contextmanager
def _stream_state_partitions(
    spark: SparkSession, source_path: str
):
    """Scope ``spark.sql.shuffle.partitions`` (= the streaming state
    partitioning, fixed at first checkpoint) to a count derived from the
    source size: clamp(source_bytes / 32 MB, 1, session setting). The
    session value — core-sized locally, cluster-tuned in production —
    stays the CAP, so a 100 TB source still fans out to the full
    configured width while a bench-scale drain stops paying 32 stores'
    fixed commit cost per micro-batch."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    n = max(
        1,
        min(
            (_source_bytes(source_path) + _STATE_PARTITION_BYTES - 1)
            // _STATE_PARTITION_BYTES,
            int(prev),
        ),
    )
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _session_scratch_dir(prefix: str) -> str:
    """mkdtemp registered for atexit removal (round-3 advice: the
    scd2_dim_* snapshot dir outlives the workdir cleanup by design — the
    returned DataFrame lazily reads it — but must not leak a directory
    per invocation past process exit)."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d

def events_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over events.parquet with `ts` normalized to TIMESTAMP.

    A file stream needs a declared schema, so take it from a batch footer
    read of the same file, then normalize `ts` exactly like the batch twin
    (catalog.load_events): legacy nanos-as-long → µs timestamp; µs
    TIMESTAMP_NTZ → session-tz timestamp (UTC session ⇒ value-identical)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # the driver lake stores ONE parquet file per table, so a file
    # source must point at the parent dir and glob-filter to that file;
    # Spark-written lakes (the gen_scale stress dirs) store events
    # .parquet as a DIRECTORY of part files — there the glob would
    # match nothing (part-*.parquet names) and the stream reads zero
    # rows, so load the directory itself
    import os

    if os.path.isdir(f"{sf_dir}/events.parquet"):
        raw = (
            spark.readStream.schema(schema)
            .format("parquet")
            .load(f"{sf_dir}/events.parquet")
        )
    else:
        raw = (
            spark.readStream.schema(schema)
            .format("parquet")
            .option("pathGlobFilter", "events.parquet")
            .load(sf_dir)
        )
    if isinstance(schema["ts"].dataType, T.LongType):
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def daily_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream → event-time watermark → tumbling 1-day window per
    event_type. Same aggregates as the batch twin."""
    ev = events_stream_source(spark, sf_dir)
    return (
        ev.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # exact decimal sum, final-projected to bigint micro-units so
            # the driver's pandas canonicalizer hashes both engines equally
            (F.sum(F.col("value").cast("decimal(18,6)")) * 1000000)
            .cast("bigint")
            .alias("sum_value_micro"),
        )
        .select(
            # keep TIMESTAMP (not DATE): Spark DATE becomes object-dtype
            # datetime.date in pandas while DuckDB DATE becomes
            # datetime64 — the driver canonicalizer hashes them apart
            F.col("win.start").alias("day"),
            "event_type",
            "n_events",
            "sum_value_micro",
        )
    )


def run_availablenow(
    spark: SparkSession, sf_dir: str, table_name: str = "events_daily_stream"
) -> DataFrame:
    """Drain the source with Trigger.AvailableNow into an in-memory sink in
    complete mode; returns the resulting DataFrame. Deterministic: one
    final emission containing every window."""
    agg = daily_counts_stream(spark, sf_dir)
    with _stream_state_partitions(spark, f"{sf_dir}/events.parquet"):
        q = (
            agg.writeStream.format("memory")
            .queryName(table_name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(table_name)


def run_to_parquet(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Production-shaped sink: drain the source with Trigger.AvailableNow
    into a parquet file sink with a checkpoint location — the
    exactly-once path (file sink + WAL commit log). Append mode requires
    the watermark to close windows; AvailableNow advances the watermark
    to max(event time) at drain end, so every window whose end precedes
    it emits exactly once. Restarting with the same checkpoint_dir
    re-emits nothing (offsets + commits replayed) — that idempotence is
    what the test pins.

    Returns the batch DataFrame read back from the sink."""
    agg = daily_counts_stream(spark, sf_dir)
    with _stream_state_partitions(spark, f"{sf_dir}/events.parquet"):
        q = (
            agg.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(out_dir)


def attribution_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with event-time range condition: each
    click joins purchases by the same user within the preceding hour —
    the streaming twin of the batch bucketed range join
    (operators/temporal.py::range_join_points_in_intervals).

    Both sides carry watermarks; the range condition bounds each side's
    state retention (Spark evicts purchase state once the watermark
    passes purchase_ts + 1h — unbounded state is the stream-stream join
    failure mode at scale). Drained with AvailableNow into a memory sink;
    deterministic, so the batch inequality-join SQL is an exact oracle."""
    clicks = (
        events_stream_source(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            "event_id",
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 day")
    )
    purchases = (
        events_stream_source(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user_id"), F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", "1 day")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "c_user_id = p_user_id AND "
            "click_ts >= purchase_ts AND "
            "click_ts <= purchase_ts + INTERVAL 1 HOUR"
        ),
        "inner",
    ).select(
        "event_id",
        F.col("c_user_id").alias("user_id"),
        "click_ts",
        "purchase_ts",
    )
    with _stream_state_partitions(spark, f"{sf_dir}/events.parquet"):
        q = (
            joined.writeStream.format("memory")
            .queryName("attribution_stream")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table("attribution_stream")


def dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: first event per (user_id, event_type) key
    within the watermark horizon — ``dropDuplicatesWithinWatermark``, the
    streaming twin of the batch dedup_exact groupBy.

    State retention is bounded by the watermark (keys older than the
    horizon are evicted), which is what makes streaming dedup viable at
    scale — an unbounded dropDuplicates would accrete one state row per
    key forever. Drained with AvailableNow into a memory sink.

    The output projects the KEY columns only: which physical row survives
    per key is arrival-order-dependent (state keeps the first row its
    partition processes — not a semantic minimum), so only the key set is
    deterministic. That makes the batch DISTINCT an exact oracle while
    still exercising the real streaming state path.

    The watermark horizon is derived from the lake's actual event-time
    span (+1 day slack): a fixture spanning more than a hardcoded horizon
    would evict keys mid-drain and re-emit duplicates the DISTINCT oracle
    does not have. The one-row min/max batch scan that sizes it is
    metadata-grade (parquet footer statistics serve it)."""
    from pdcm_etl_spark.plans.catalog import load_events

    span = (
        load_events(spark, sf_dir)
        .selectExpr("max(ts) - min(ts) AS span")
        .collect()[0]["span"]
    )
    days = (getattr(span, "days", 0) or 0) + 2 if span is not None else 2
    ev = events_stream_source(spark, sf_dir).withWatermark("ts", f"{days} days")
    deduped = (
        ev.select("user_id", "event_type", "ts")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    with _stream_state_partitions(spark, f"{sf_dir}/events.parquet"):
        q = (
            deduped.writeStream.format("memory")
            .queryName("dedup_stream")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table("dedup_stream")


def scd2_upsert_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC ingestion: drain the event stream with foreachBatch,
    merging every microbatch into a Type-2 dimension snapshot
    (operators/cdc.py::scd2_merge) — the incremental-ingest pattern for
    lakes without a transactional table format.

    Each batch writes the merged dimension to an ALTERNATING snapshot
    directory and re-reads it (write-then-swap: never overwrite the
    snapshot being read; the pointer flip is the atomic commit). The
    dimension is seeded with each user's FIRST event; scd2_merge's
    latest-per-key batch compaction means draining ALL events in one
    AvailableNow batch yields exactly the batch twin's result (seed +
    last events), so SQL_SCD2_MERGE is an exact oracle. That equivalence
    holds ONLY for a single-microbatch drain (per-batch merges would
    record intermediate versions the oracle lacks), so a multi-batch
    drain raises rather than silently diverging.

    The final snapshot stays a distributed parquet read from a stable
    directory — the dimension is not driver-sized at scale, so there is
    deliberately no collect() on this path (round-2 verdict item 3)."""
    import shutil
    import tempfile

    from pyspark.sql import Window

    from pdcm_etl_spark.operators.cdc import scd2_merge
    from pdcm_etl_spark.plans.catalog import load_events

    ev = load_events(spark, sf_dir)
    wf = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    current = (
        ev.withColumn("__rn", F.row_number().over(wf))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("ts").alias("valid_from"),
            F.lit(None).cast("timestamp").alias("valid_to"),
            F.lit(True).alias("is_current"),
        )
    )
    work = tempfile.mkdtemp(prefix="scd2_stream_")
    state = {"df": current, "flip": 0, "batches": 0}

    def upsert(batch_df, batch_id):
        merged = scd2_merge(
            state["df"],
            batch_df.select("user_id", "event_type", "ts"),
            keys=["user_id"],
            tracked=["event_type"],
        )
        snap = f"{work}/snap_{state['flip'] % 2}"
        merged.write.mode("overwrite").parquet(snap)
        state["df"] = batch_df.sparkSession.read.parquet(snap)
        state["flip"] += 1
        state["batches"] += 1

    with _stream_state_partitions(spark, f"{sf_dir}/events.parquet"):
        q = (
            events_stream_source(spark, sf_dir)
            .select("user_id", "event_type", "ts")
            .writeStream.foreachBatch(upsert)
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    if state["batches"] > 1:
        shutil.rmtree(work, ignore_errors=True)
        raise AssertionError(
            f"scd2_upsert_stream: drain took {state['batches']} microbatches;"
            " the SQL_SCD2_MERGE oracle is exact only for a single-batch"
            " drain (per-batch merges record intermediate versions) —"
            " unset maxFilesPerTrigger / keep the lake single-file"
        )
    # move the winning snapshot to a STABLE dir (outlives the workdir
    # cleanup — the returned DataFrame lazily reads it; removed atexit)
    # and return a distributed read — never collect the dimension
    final = _session_scratch_dir("scd2_dim_")
    if state["batches"] == 0:  # empty drain: the seed IS the dimension
        state["df"].write.mode("overwrite").parquet(final)
    else:
        shutil.rmtree(final)
        shutil.move(f"{work}/snap_{(state['flip'] - 1) % 2}", final)
    shutil.rmtree(work, ignore_errors=True)
    return spark.read.parquet(final).select(
        "user_id", "event_type", "valid_from", "valid_to", "is_current"
    )


def sliding_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream → watermark → SLIDING window (2-day window, 1-day
    slide) per event_type — the trending/moving-aggregate idiom
    (tumbling and session windows are the other two registry paths).
    Each event lands in exactly windowLen/slide = 2 windows; state is
    bounded by the watermark exactly as in the tumbling case, ×2 live
    windows per key.

    Drained with Trigger.AvailableNow into a complete-mode memory sink —
    deterministic, and SQL-expressible: the oracle duplicates each event
    into its ⌈len/slide⌉ covering windows with generate_series and
    re-aggregates."""
    ev = events_stream_source(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 day")
        .groupBy(
            F.window("ts", "2 days", "1 day").alias("win"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(F.col("value").cast("decimal(18,6)")) * 1000000)
            .cast("bigint")
            .alias("sum_value_micro"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            "event_type",
            "n_events",
            "sum_value_micro",
        )
    )
    with _stream_state_partitions(spark, f"{sf_dir}/events.parquet"):
        q = (
            agg.writeStream.format("memory")
            .queryName("events_sliding_stream")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table("events_sliding_stream")


def windowed_topk_stream(
    spark: SparkSession, sf_dir: str, k: int = 3
) -> DataFrame:
    """Streaming leaderboard: watermarked TUMBLING-day counts per event
    type maintained by the stream, top-k per window ranked over the
    sink — the standard split for ranking under streaming semantics
    (Structured Streaming cannot rank inside the streaming aggregation:
    a rank is non-incremental, it changes retroactively as counts grow;
    the counts ARE incremental state, so the stream maintains exactly
    those and the serving layer ranks what it reads).

    Rank order is (n_events desc, event_type asc) — total, so the
    leaderboard is deterministic. State bounded by the watermark as in
    the tumbling-count path.
    """
    from pyspark.sql import Window

    ev = events_stream_source(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("win_start"), "event_type", "n_events"
        )
    )
    with _stream_state_partitions(spark, f"{sf_dir}/events.parquet"):
        q = (
            agg.writeStream.format("memory")
            .queryName("events_windowed_topk")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    w = Window.partitionBy("win_start").orderBy(
        F.col("n_events").desc(), F.col("event_type").asc()
    )
    return (
        spark.table("events_windowed_topk")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("win_start", "event_type", "n_events", F.col("rank").cast("int").alias("rank"))
    )


def dq_monitor_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming data-quality monitor: watermarked tumbling-day windows
    carrying CONDITIONAL violation counts per rule — the
    dq_check suite lifted onto the stream (the production shape: rule
    rates as incremental windowed state, alerting reads the sink). The
    violation predicates are pure row columns, so the streaming state
    per window is one row of counters — never per-event state.

    Rules over the event stream: type outside the expected domain,
    value outside (0, 400], error-type share (an operational signal,
    not a violation — same counter machinery). Integer-ppm rates
    derived at the SINK read (a rate is a ratio of two counters — the
    counters are the incremental part, exactly like the topk split).
    """
    ev = events_stream_source(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(
                    ~F.col("event_type").isin(
                        "click", "view", "signup", "purchase", "error"
                    ),
                    1,
                ).otherwise(0)
            ).alias("v_type"),
            F.sum(
                F.when(
                    F.col("value").isNull()
                    | (F.col("value") <= 0)
                    | (F.col("value") > 400),
                    1,
                ).otherwise(0)
            ).alias("v_value"),
            F.sum(
                F.when(F.col("event_type") == "error", 1).otherwise(0)
            ).alias("n_error"),
        )
        .select(F.col("win.start").alias("win_start"), "n_events",
                "v_type", "v_value", "n_error")
    )
    with _stream_state_partitions(spark, f"{sf_dir}/events.parquet"):
        q = (
            agg.writeStream.format("memory")
            .queryName("events_dq_monitor")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table("events_dq_monitor").select(
        "win_start",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("v_type").cast("bigint").alias("v_type"),
        F.col("v_value").cast("bigint").alias("v_value"),
        F.expr(
            "CAST((CAST(v_value AS DECIMAL(38,0)) * 1000000)"
            " div n_events AS BIGINT)"
        ).alias(
            "value_violation_ppm"
        ),
        F.expr(
            "CAST((CAST(n_error AS DECIMAL(38,0)) * 1000000)"
            " div n_events AS BIGINT)"
        ).alias(
            "error_share_ppm"
        ),
    )


def enriched_segment_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC enrichment join — the canonical streaming pattern
    the registry's stream-stream join doesn't cover: each micro-batch
    of the event stream joins a static dimension (customer market
    segment) STATELESSLY (no watermark bookkeeping for the dim side —
    Spark re-plans the join per batch, broadcast when small), then a
    watermarked tumbling-day aggregate per segment maintains the only
    state. At 100 TB the dim is the broadcast side and the stream never
    shuffles before the keyed window aggregation.

    Events map to the dim by user_id + 1 = c_custkey (the synthetic
    lake's id spaces); unmatched users fall out (inner join) exactly as
    in the batch oracle.
    """
    ev = events_stream_source(spark, sf_dir)
    dim = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .select(
            (F.col("c_custkey") - 1).alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
        )
    )
    agg = (
        ev.join(F.broadcast(dim), "user_id")
        .withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("win"), "segment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(F.col("value").cast("decimal(18,6)")) * 1000000)
            .cast("bigint")
            .alias("sum_value_micro"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            "segment",
            "n_events",
            "sum_value_micro",
        )
    )
    with _stream_state_partitions(spark, f"{sf_dir}/events.parquet"):
        q = (
            agg.writeStream.format("memory")
            .queryName("events_segment_stream")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table("events_segment_stream").select(
        "win_start", "segment",
        F.col("n_events").cast("bigint").alias("n_events"),
        "sum_value_micro",
    )


def daily_counts_stream_over(
    spark: SparkSession, staging_dir: str, schema
) -> DataFrame:
    """The daily_counts aggregation over an arbitrary staging directory
    (files may ARRIVE over time — the crash/restart test feeds half the
    lake, kills the query, adds the rest, and resumes from checkpoint).
    Same expressions as daily_counts_stream so the batch twin
    (catalog.q_events_daily) stays the oracle."""
    raw = spark.readStream.schema(schema).format("parquet").load(staging_dir)
    if isinstance(schema["ts"].dataType, T.LongType):
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        raw.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(F.col("value").cast("decimal(18,6)")) * 1000000)
            .cast("bigint")
            .alias("sum_value_micro"),
        )
        .select(
            F.col("win.start").alias("day"),
            "event_type",
            "n_events",
            "sum_value_micro",
        )
    )


def scd2_upsert_restartable(
    spark: SparkSession,
    staging_dir: str,
    schema,
    work_dir: str,
    seed: DataFrame | None = None,
) -> DataFrame:
    """Crash-RECOVERABLE streaming CDC ingest: both the stream
    checkpoint and the dimension snapshot live under ``work_dir``, so a
    torn-down (or crashed) query restarted with the same ``work_dir``
    resumes exactly where it stopped — the file-source checkpoint
    replays only unprocessed files, and the dimension state reloads
    from the last COMMITTED snapshot.

    Commit protocol: each microbatch writes its merged dimension to a
    ``snap_<batch_id>`` directory, then flips the ``_LATEST`` pointer
    file (the atomic commit — a crash between parquet write and pointer
    flip leaves the previous snapshot current). Exactly-once composes
    from two idempotencies: the batch_id-keyed snapshot dir makes a
    replayed write land in the same place, and ``scd2_merge`` itself is
    a no-op when re-applied (identical tracked values → "keep" branch,
    no new version rows), so a batch replayed after a crash-after-write
    cannot double-version the dimension.

    Unlike scd2_upsert_stream (whose SQL oracle is exact only for a
    single-batch drain), this variant ACCEPTS multi-batch ingestion:
    version history then legitimately includes intermediate states, and
    the recovery contract — what tests/test_streaming.py pins — is that
    the CURRENT rows equal the batch twin's current rows and every
    key's version intervals chain without overlap.

    Returns the dimension read from the committed snapshot.
    """
    import os

    from pdcm_etl_spark.operators.cdc import scd2_merge

    ptr = f"{work_dir}/_LATEST"

    def _load_state() -> DataFrame:
        if os.path.exists(ptr):
            with open(ptr) as fh:
                return spark.read.parquet(
                    f"{work_dir}/snap_{fh.read().strip()}"
                )
        if seed is None:
            raise ValueError("no committed snapshot and no seed")
        return seed

    state = {"df": _load_state()}

    def upsert(batch_df, batch_id):
        # Crash window: if the last run died AFTER the pointer flip but
        # BEFORE the stream checkpoint committed, the replayed batch
        # arrives with the pointer already at batch_id. Re-merging
        # would lazily read snap_<batch_id> while overwriting it
        # (AnalysisException), so an already-committed batch is a pure
        # no-op: reload the committed state and return.
        if os.path.exists(ptr):
            with open(ptr) as fh:
                if fh.read().strip() == str(batch_id):
                    state["df"] = batch_df.sparkSession.read.parquet(
                        f"{work_dir}/snap_{batch_id}"
                    )
                    return
        merged = scd2_merge(
            state["df"],
            batch_df.select("user_id", "event_type", "ts"),
            keys=["user_id"],
            tracked=["event_type"],
        )
        snap = f"{work_dir}/snap_{batch_id}"
        merged.write.mode("overwrite").parquet(snap)
        with open(ptr + ".tmp", "w") as fh:
            fh.write(str(batch_id))
        os.replace(ptr + ".tmp", ptr)  # atomic pointer flip
        state["df"] = batch_df.sparkSession.read.parquet(snap)

    raw = spark.readStream.schema(schema).format("parquet").load(staging_dir)
    if isinstance(schema["ts"].dataType, T.LongType):
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    with _stream_state_partitions(spark, staging_dir):
        q = (
            raw.select("user_id", "event_type", "ts")
            .writeStream.foreachBatch(upsert)
            .option("checkpointLocation", f"{work_dir}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return _load_state().select(
        "user_id", "event_type", "valid_from", "valid_to", "is_current"
    )


def attribution_stream_left_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream LEFT OUTER join with an event-time range condition:
    every click joins purchases by the same user within the preceding
    hour — and clicks with NO purchase emit a null-extended row once
    the watermark proves no match can still arrive (the semantics an
    attribution pipeline needs: unconverted traffic must surface, not
    linger in state forever).

    The outer side's state is the scale hazard: a row can only be
    null-emitted after the other side's watermark passes its joinable
    range, so the watermark + range condition BOUND both the state and
    the result. Drained with AvailableNow, the final watermark is
    max(event time) − 1 day, so clicks in the trailing day stay
    unfinalized and are (correctly, deterministically) absent — the
    oracle applies the same cutoff.

    Returns (event_id, user_id, click_ts, purchase_ts nullable,
    matched).
    """
    clicks = (
        events_stream_source(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            "event_id",
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 day")
    )
    purchases = (
        events_stream_source(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 day")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "c_user_id = p_user_id AND "
            "click_ts >= purchase_ts AND "
            "click_ts <= purchase_ts + INTERVAL 1 HOUR"
        ),
        "left_outer",
    ).select(
        "event_id",
        F.col("c_user_id").alias("user_id"),
        "click_ts",
        "purchase_ts",
        F.col("purchase_ts").isNotNull().alias("matched"),
    )
    with _stream_state_partitions(spark, f"{sf_dir}/events.parquet"):
        q = (
            joined.writeStream.format("memory")
            .queryName("attribution_stream_left")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table("attribution_stream_left")


def attribution_stream_left_join_restartable(
    spark: SparkSession,
    staging_dir: str,
    schema,
    work_dir: str,
) -> DataFrame:
    """Crash-recoverable twin of attribution_stream_left_join: file
    sources over ``staging_dir``, parquet sink + checkpoint under
    ``work_dir`` — a torn-down (or crashed) drain restarted with the
    same ``work_dir`` resumes from the checkpoint and appends ONLY the
    still-unemitted rows.

    The recovery semantics under test are the riskiest in the streaming
    suite: an outer null-emit happens when the watermark proves no match
    can arrive, so the join STATE (buffered clicks + purchases + which
    clicks already emitted) must survive restart exactly — a lost click
    drops an unconverted row, a replayed one duplicates it. Both the
    buffered rows and the emitted-set live in the state store keyed by
    the checkpoint, which is what the kill/restart test pins.

    Returns the accumulated parquet sink.
    """
    raw = spark.readStream.schema(schema).format("parquet").load(staging_dir)
    if isinstance(schema["ts"].dataType, T.LongType):
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    clicks = (
        raw.filter(F.col("event_type") == "click")
        .select(
            "event_id",
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 day")
    )
    purchases = (
        raw.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 day")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "c_user_id = p_user_id AND "
            "click_ts >= purchase_ts AND "
            "click_ts <= purchase_ts + INTERVAL 1 HOUR"
        ),
        "left_outer",
    ).select(
        "event_id",
        F.col("c_user_id").alias("user_id"),
        "click_ts",
        "purchase_ts",
        F.col("purchase_ts").isNotNull().alias("matched"),
    )
    out = f"{work_dir}/out"
    with _stream_state_partitions(spark, staging_dir):
        q = (
            joined.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", f"{work_dir}/ckpt")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(out)
