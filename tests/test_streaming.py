"""Structured Streaming twins vs their batch oracles.

The streaming path has no SQL-expressible oracle, so its correctness
gate is equivalence with the batch implementation over the same lake
(drained with Trigger.AvailableNow → deterministic single emission)."""

from pyspark.sql import functions as F


def test_stream_daily_counts_match_batch(spark, sf_dir):
    from pdcm_etl_spark.catalog.relational import q_events_daily
    from pdcm_etl_spark.streaming.events_stream import run_availablenow

    batch = {
        (r["day"], r["event_type"]): (r["n_events"], r["sum_value_micro"])
        for r in q_events_daily(spark, sf_dir).collect()
    }
    stream = {
        (r["day"], r["event_type"]): (r["n_events"], r["sum_value_micro"])
        for r in run_availablenow(spark, sf_dir).collect()
    }
    assert stream == batch


def test_stream_sessionize_closed_sessions_match_batch(spark, sf_dir):
    from pdcm_etl_spark.sources.lake import load_events
    from pdcm_etl_spark.streaming.sessionize import (
        sessionize_batch,
        sessionize_stream,
    )

    ev = load_events(spark, sf_dir)
    batch = sessionize_batch(ev).collect()
    stream = sessionize_stream(spark, sf_dir).collect()

    # the stream keeps each user's trailing session open in state
    # (NoTimeout + AvailableNow), so it emits every batch session except
    # the last one per user
    def key(r):
        return (r["user_id"], r["session_start"])

    batch_by_user = {}
    for r in batch:
        batch_by_user.setdefault(r["user_id"], []).append(r)
    expected = {}
    for user, rows in batch_by_user.items():
        rows.sort(key=lambda r: r["session_start"])
        for r in rows[:-1]:
            expected[key(r)] = (r["n_events"], r["sum_value_micro"])
    got = {key(r): (r["n_events"], r["sum_value_micro"]) for r in stream}
    assert got.keys() == expected.keys()
    for k, (n, total) in expected.items():
        gn, gtotal = got[k]
        # stream floors each event to integer micros; batch rounds the
        # exact decimal sum — they differ by at most 1 micro per event
        assert gn == n and abs(gtotal - total) <= n, (k, got[k], (n, total))
    assert len(got) > 0


def test_stream_parquet_sink_exactly_once(spark, sf_dir, tmp_path):
    """File sink + checkpoint: one AvailableNow drain lands every closed
    window once; a second drain from the same checkpoint is a no-op (the
    exactly-once guarantee a restart relies on)."""
    from pdcm_etl_spark.catalog.relational import q_events_daily
    from pdcm_etl_spark.streaming.events_stream import run_to_parquet

    out_dir, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    first = run_to_parquet(spark, sf_dir, out_dir, ckpt)
    n_first = first.count()
    assert n_first > 0
    # append mode emits only watermark-closed windows; the final in-flight
    # window may stay open, so the file sink holds a prefix of the batch
    batch = q_events_daily(spark, sf_dir)
    assert n_first <= batch.count()
    batch_vals = {
        (r["day"], r["event_type"]): (r["n_events"], r["sum_value_micro"])
        for r in batch.collect()
    }
    for r in first.collect():
        assert batch_vals[(r["day"], r["event_type"])] == (
            r["n_events"], r["sum_value_micro"]
        ), r
    # idempotent restart: same checkpoint → no duplicate emission
    second = run_to_parquet(spark, sf_dir, out_dir, ckpt)
    assert second.count() == n_first


def test_stream_dq_monitor_counters_match_batch(spark, sf_dir):
    """The streaming DQ counters must equal the batch conditional-agg
    over the same lake (the incremental state is pure counters, so the
    AvailableNow drain is exactly the batch answer)."""
    from pyspark.sql import functions as F

    from pdcm_etl_spark.sources.lake import load_events
    from pdcm_etl_spark.streaming.events_stream import dq_monitor_stream

    got = {
        r["win_start"]: (r["n_events"], r["v_type"], r["v_value"])
        for r in dq_monitor_stream(spark, sf_dir).collect()
    }
    want = {
        r["d"]: (r["n"], r["vt"], r["vv"])
        for r in load_events(spark, sf_dir)
        .groupBy(F.date_trunc("day", "ts").alias("d"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(
                    ~F.col("event_type").isin(
                        "click", "view", "signup", "purchase", "error"
                    ),
                    1,
                ).otherwise(0)
            ).alias("vt"),
            F.sum(
                F.when(
                    F.col("value").isNull()
                    | (F.col("value") <= 0)
                    | (F.col("value") > 400),
                    1,
                ).otherwise(0)
            ).alias("vv"),
        )
        .collect()
    }
    assert got == want and got


def test_stream_static_join_matches_batch(spark, sf_dir):
    from pyspark.sql import functions as F

    from pdcm_etl_spark.sources.lake import load_events
    from pdcm_etl_spark.streaming.events_stream import (
        enriched_segment_stream,
    )

    got = {
        (r["win_start"], r["segment"]): (r["n_events"], r["sum_value_micro"])
        for r in enriched_segment_stream(spark, sf_dir).collect()
    }
    dim = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        (F.col("c_custkey") - 1).alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    want = {
        (r["d"], r["segment"]): (r["n"], r["v"])
        for r in load_events(spark, sf_dir)
        .join(dim, "user_id")
        .groupBy(F.date_trunc("day", "ts").alias("d"), "segment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.col("value").cast("decimal(18,6)")) * 1000000)
            .cast("bigint")
            .alias("v"),
        )
        .collect()
    }
    assert got == want and got


def _stage_halves(spark, sf_dir, tmp_path):
    """Split the raw events file into two time-halves as single parquet
    FILES in a staging dir (file-stream sources list plain files), and
    return (staging_dir, schema, half-2 file source, half-2 target)."""
    import glob
    import shutil

    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    schema = raw.schema
    lo, hi = raw.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).collect()[0]
    mid = lo + (hi - lo) / 2 if not isinstance(lo, int) else (lo + hi) // 2
    staging = str(tmp_path / "staging")
    parts = str(tmp_path / "parts")
    (tmp_path / "staging").mkdir()
    raw.filter(F.col("ts") <= F.lit(mid)).coalesce(1).write.parquet(
        f"{parts}/p1"
    )
    raw.filter(F.col("ts") > F.lit(mid)).coalesce(1).write.parquet(
        f"{parts}/p2"
    )
    f1 = glob.glob(f"{parts}/p1/part-*.parquet")[0]
    f2 = glob.glob(f"{parts}/p2/part-*.parquet")[0]
    shutil.copy(f1, f"{staging}/a.parquet")
    return staging, schema, f2, f"{staging}/b.parquet"


def test_stream_agg_kill_and_restart_from_checkpoint(
    spark, sf_dir, tmp_path
):
    """Crash recovery, the semantics a production pipeline relies on:
    drain a checkpointed aggregate stream over HALF the input, tear the
    query down, add the rest, restart from the same checkpoint — the
    final sink must equal a never-crashed single run exactly (no dupes,
    no gaps) and agree with the batch oracle on every emitted window."""
    import shutil

    from pdcm_etl_spark.catalog.relational import q_events_daily
    from pdcm_etl_spark.streaming.events_stream import (
        _drain,
        daily_counts_stream,
        events_stream,
    )

    staging, schema, f2, f2_target = _stage_halves(spark, sf_dir, tmp_path)

    def drain(out, ckpt):
        return _drain(
            daily_counts_stream(events_stream(spark, staging, schema)),
            staging,
            out,
            checkpoint=ckpt,
        )

    out, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    phase1 = drain(out, ckpt).count()  # half the lake, then torn down
    shutil.copy(f2, f2_target)  # the rest of the data arrives
    restarted = drain(out, ckpt)  # resume from the SAME checkpoint
    assert restarted.count() > phase1 > 0

    # reference: the same stream never crashed (fresh checkpoint, all
    # files present from the start) — identical final watermark, so the
    # emitted-window set must match exactly: dupes OR gaps both fail
    reference = drain(str(tmp_path / "sink_ref"), str(tmp_path / "ckpt_ref"))
    key = lambda r: (r["day"], r["event_type"])  # noqa: E731
    got = {key(r): (r["n_events"], r["sum_value_micro"])
           for r in restarted.collect()}
    want = {key(r): (r["n_events"], r["sum_value_micro"])
            for r in reference.collect()}
    assert len(got) == restarted.count()  # no duplicate windows
    assert got == want

    # and every emitted window carries the batch oracle's values
    batch = {key(r): (r["n_events"], r["sum_value_micro"])
             for r in q_events_daily(spark, sf_dir).collect()}
    for k, v in got.items():
        assert batch[k] == v, k


def test_stream_scd2_kill_and_restart_from_checkpoint(
    spark, sf_dir, tmp_path
):
    """SCD2 ingest crash recovery (scd2_upsert_restartable): half the
    CDC feed, tear down, restart with the same work_dir. Contract: the
    CURRENT rows equal the batch truth (latest event per user), every
    user has exactly ONE current row, and each user's version intervals
    chain closed.valid_to == successor.valid_from with no overlap —
    multi-batch history may legitimately contain intermediate versions,
    recovery must not duplicate or drop any."""
    import shutil

    from pyspark.sql import Window

    from pdcm_etl_spark.sources.lake import load_events
    from pdcm_etl_spark.streaming.events_stream import (
        scd2_upsert_restartable,
    )

    staging, schema, f2, f2_target = _stage_halves(spark, sf_dir, tmp_path)
    ev = load_events(spark, sf_dir)
    wf = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    seed = (
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
    work = str(tmp_path / "scd2_work")
    (tmp_path / "scd2_work").mkdir()
    scd2_upsert_restartable(spark, staging, schema, work, seed=seed)
    shutil.copy(f2, f2_target)
    dim = scd2_upsert_restartable(spark, staging, schema, work, seed=seed)
    rows = dim.collect()
    assert rows

    # exactly one current row per user; current value = batch truth
    wl = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_type").desc()
    )
    truth = {
        r["user_id"]: r["event_type"]
        for r in ev.withColumn("__rn", F.row_number().over(wl))
        .filter(F.col("__rn") == 1)
        .select("user_id", "event_type")
        .collect()
    }
    current = [r for r in rows if r["is_current"]]
    assert len(current) == len({r["user_id"] for r in current})
    assert {r["user_id"]: r["event_type"] for r in current} == truth

    # version intervals chain: sort each user's rows by valid_from;
    # every non-final row is closed at exactly the successor's start
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for uid, vs in by_user.items():
        vs.sort(key=lambda r: r["valid_from"])
        for a, b in zip(vs, vs[1:]):
            assert not a["is_current"] and a["valid_to"] == b["valid_from"], (
                uid, a, b,
            )
        assert vs[-1]["is_current"] and vs[-1]["valid_to"] is None, uid


def test_stream_scd2_replay_after_pointer_flip_crash(
    spark, sf_dir, tmp_path
):
    """The EXACT torn-commit window of scd2_upsert_restartable's
    protocol: crash AFTER the _LATEST pointer flip but BEFORE the
    stream checkpoint commit. Simulated faithfully by deleting the
    newest file in ckpt/commits/ — on restart Spark replays that
    batch_id while the pointer already names it. Pre-fix this raised
    AnalysisException (overwriting snap_<id> while lazily reading it);
    the contract is that the replay is a committed-batch no-op and the
    final dimension equals the batch truth."""
    import glob
    import os
    import shutil

    from pyspark.sql import Window

    from pdcm_etl_spark.sources.lake import load_events
    from pdcm_etl_spark.streaming.events_stream import (
        scd2_upsert_restartable,
    )

    staging, schema, f2, f2_target = _stage_halves(spark, sf_dir, tmp_path)
    ev = load_events(spark, sf_dir)
    wf = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    seed = (
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
    work = str(tmp_path / "scd2_work_torn")
    (tmp_path / "scd2_work_torn").mkdir()
    scd2_upsert_restartable(spark, staging, schema, work, seed=seed)
    shutil.copy(f2, f2_target)
    scd2_upsert_restartable(spark, staging, schema, work, seed=seed)

    # tear the commit: pointer is flipped, checkpoint says "not done"
    commits = sorted(
        glob.glob(f"{work}/ckpt/commits/*"),
        key=lambda p: int(os.path.basename(p)),
    )
    committed_ptr = open(f"{work}/_LATEST").read().strip()
    os.remove(commits[-1])
    # drop the Hadoop checksum sidecar too — a real crash-before-commit
    # leaves neither, and a stale .crc fails the commit-log rename
    crc = os.path.join(
        os.path.dirname(commits[-1]),
        f".{os.path.basename(commits[-1])}.crc",
    )
    if os.path.exists(crc):
        os.remove(crc)
    assert committed_ptr == os.path.basename(commits[-1])

    # restart: the replayed batch must be a no-op, not an
    # AnalysisException — and the dimension must match batch truth
    dim = scd2_upsert_restartable(spark, staging, schema, work, seed=seed)
    wl = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_type").desc()
    )
    truth = {
        r["user_id"]: r["event_type"]
        for r in ev.withColumn("__rn", F.row_number().over(wl))
        .filter(F.col("__rn") == 1)
        .select("user_id", "event_type")
        .collect()
    }
    current = [r for r in dim.collect() if r["is_current"]]
    assert len(current) == len({r["user_id"] for r in current})
    assert {r["user_id"]: r["event_type"] for r in current} == truth


def test_stream_scd2_single_batch_guard_rejects_multi_batch_drain(
    spark, sf_dir, tmp_path
):
    """scd2_upsert_stream's SQL oracle is exact only for a single-batch
    drain, so its guard must raise when the drain takes more than one
    microbatch. Drive the shared SCD2 body over both staged halves with
    a source that admits one file per microbatch: two batches."""
    import os
    import shutil

    import pytest

    from pdcm_etl_spark.sources.lake import load_events
    from pdcm_etl_spark.streaming.events_stream import (
        _first_event_seed,
        _scd2_single_batch,
    )

    staging, schema, f2, f2_target = _stage_halves(spark, sf_dir, tmp_path)
    shutil.copy(f2, f2_target)
    # a file source admits files oldest first; copied in the same
    # millisecond the halves could arrive out of event order, which
    # scd2_merge rejects before the guard is reached
    a_mtime = os.path.getmtime(f"{staging}/a.parquet")
    os.utime(f2_target, (a_mtime + 60, a_mtime + 60))
    # the guard counts microbatches whatever their values, so the
    # test's own source casts ts without the nanos branch
    events = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staging)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    seed = _first_event_seed(load_events(spark, sf_dir))
    with pytest.raises(AssertionError, match="drain took 2 microbatches"):
        _scd2_single_batch(events, staging, seed)


def test_stream_left_outer_join_kill_and_restart(spark, sf_dir, tmp_path):
    """Crash recovery for the stream-stream LEFT OUTER join — the
    riskiest state in the suite: outer null-emits depend on watermark
    state surviving restart. Drain half the events, tear down, add the
    rest, restart from the same checkpoint: the final sink must equal a
    never-crashed run exactly — no duplicated clicks (each event_id's
    result set emitted once), no dropped unconverted rows."""
    import shutil

    from pdcm_etl_spark.streaming.events_stream import (
        attribution_stream_left_join_restartable,
    )

    staging, schema, f2, f2_target = _stage_halves(spark, sf_dir, tmp_path)
    work = str(tmp_path / "lj_work")
    (tmp_path / "lj_work").mkdir()
    attribution_stream_left_join_restartable(spark, staging, schema, work)
    shutil.copy(f2, f2_target)
    restarted = attribution_stream_left_join_restartable(
        spark, staging, schema, work
    )

    # never-crashed reference over the identical complete staging dir
    staging2 = str(tmp_path / "staging2")
    (tmp_path / "staging2").mkdir()
    shutil.copy(f"{staging}/a.parquet", f"{staging2}/a.parquet")
    shutil.copy(f"{staging}/b.parquet", f"{staging2}/b.parquet")
    work2 = str(tmp_path / "lj_work2")
    (tmp_path / "lj_work2").mkdir()
    reference = attribution_stream_left_join_restartable(
        spark, staging2, schema, work2
    )

    def rows(df):
        return sorted(
            (r["event_id"], r["user_id"], r["click_ts"],
             r["purchase_ts"], r["matched"])
            for r in df.collect()
        )

    got, want = rows(restarted), rows(reference)
    assert want  # reference emits something
    assert got == want
    # each (event_id, purchase_ts) pair exactly once — replay-after-
    # crash must not double-emit
    assert len(got) == len({(g[0], g[3]) for g in got})


def test_stream_state_partitions_follow_source_size(spark, tmp_path):
    """The state-partition count is ceil(source bytes / 32 MB), at least
    1 and capped by the session's shuffle partitions, which are restored
    when the scope exits, also on an error."""
    import pytest

    from pdcm_etl_spark.streaming.events_stream import _stream_state_partitions

    key = "spark.sql.shuffle.partitions"
    tiny = tmp_path / "tiny.parquet"
    tiny.write_bytes(b"x" * 100)
    big = tmp_path / "big"
    big.mkdir()
    with open(big / "part-0.parquet", "wb") as fh:
        fh.truncate(100 * 2**20)  # sparse: 100 MB of size, no disk
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "8")
        with _stream_state_partitions(spark, str(tiny)):
            assert spark.conf.get(key) == "1"
        assert spark.conf.get(key) == "8"
        with _stream_state_partitions(spark, str(big)):
            assert spark.conf.get(key) == "4"
        spark.conf.set(key, "2")
        with _stream_state_partitions(spark, str(big)):
            assert spark.conf.get(key) == "2"
        assert spark.conf.get(key) == "2"
        with pytest.raises(RuntimeError):
            with _stream_state_partitions(spark, str(tiny)):
                raise RuntimeError("drain failed")
        assert spark.conf.get(key) == "2"
    finally:
        spark.conf.set(key, prev)
