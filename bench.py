#!/usr/bin/env python
"""Benchmark harness — runs every registry query end-to-end and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced with the noop sink (full computation, no driver
collect — measures the engine, not result transfer). Default data dir
$SPARK_GRAFT_SF_DIR or /root/testdata/sf0.1; cores $SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Per-query timing is the MEDIAN of BENCH_REPS runs: single-run wall clock
# at this scale has ±30% noise (GC, async block cleanup, codegen cache
# effects), which can mask a real regression round-over-round.
BENCH_REPS = 3
# soft budget for the flagship's warm build + execute, in seconds
FLAGSHIP_BUDGET_SEC = 25.0


def release_blocks(spark) -> None:
    """Drop every checkpointed / persisted RDD and force a driver-JVM GC
    so the async ContextCleaner reclaims broadcast + block-store state,
    then run a trivial job and cool down so the cleaner drains outside
    the timed region. The r8 flagship "warm-exec regression" (11.8 ->
    18.1 s) was a measurement taken after ~150 warm-up queries with NO
    release — accumulated block pressure, not a plan change."""
    import gc

    from pdcm_etl_spark.operators.sharing import release

    gc.collect()
    release(spark)
    spark.sparkContext._jvm.System.gc()
    spark.range(10).count()
    time.sleep(0.5)


def _first_line(e: BaseException) -> str:
    """A short, JSON-friendly description of a failure."""
    lines = str(e).strip().splitlines()
    return f"{type(e).__name__}: {lines[0] if lines else ''}"[:160]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    from pdcm_etl_spark.session import get_spark

    spark = get_spark("pdcm-etl-spark-bench")
    import __spark_entry__ as entrymod

    # the whole registry, in registry order (the flagship first)
    queries = entrymod.queries()

    # JVM/codegen warmup so timings measure the engine, not first-job
    # class-loading: JMH-style — run every registry query once at the
    # smallest scale factor (sf0.001) before the timed loop. Whole-stage
    # codegen keys on generated source, so the sf0.001 run compiles the
    # same janino classes the timed sf run reuses (measured: flagship
    # 39.3s -> 31.9s at sf0.1; minhash 6.7s -> 1.9s).
    spark.range(1_000_000).selectExpr(
        "sum(id)",
        "sum(cast(id as decimal(18,2)))",
        "count(distinct id % 100)",
    ).collect()
    spark.range(1000).write.format("noop").mode("overwrite").save()
    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    # a query failing at warm scale still gets timed below; the failure
    # is recorded in BENCH_FULL.json
    warmup_errors: dict[str, str] = {}
    for name, fn in queries.items():
        try:
            fn(spark, warm_dir).write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001
            warmup_errors[name] = _first_line(e)
    for t in ("lineitem", "orders", "documents", "embeddings"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
    # the flagship's first execution at the TIMED scale is 2-5x its
    # steady state (tiered JIT + page cache + AQE stats warm up across
    # runs — measured 154s -> 65 -> 41 -> 33 at sf0.1); one warm pass at
    # sf_dir moves the timed medians into the steady-state zone
    # this first at-scale execution IS the cold number — record it
    # (r6 verdict item 4: report the cold/warm split instead of letting
    # the warmup hide it). The r7 profile of the cold/warm gap: warm
    # steady state is ~8s plan build (JVM-side analysis of the
    # ~60-entity DAG + AQE planning through the lazy localCheckpoints)
    # + ~14s execution; the cold surplus (~40s) is one-time JVM/codegen
    # /first-scan warmup, not plan cost — it amortizes across a session,
    # which is exactly how a 100 TB deployment runs (long-lived driver).
    flagship_split: dict[str, object] = {}
    fn = queries.get("etl_search_index")
    if fn is not None:
        try:
            release_blocks(spark)
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            flagship_split["flagship_cold_sec"] = round(time.time() - t0, 3)
            # one warm pass, split into plan-construction vs execution
            release_blocks(spark)
            t0 = time.time()
            df = fn(spark, sf_dir)
            flagship_split["flagship_warm_build_sec"] = round(
                time.time() - t0, 3
            )
            t0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            flagship_split["flagship_warm_exec_sec"] = round(
                time.time() - t0, 3
            )
            # budget guard (r7 verdict item 8): DAG growth must not
            # silently double the flagship. Soft warning, not a hard
            # fail — host noise at sf0.1 is ±50% — but the driver tail
            # captures this line, so a breach is visible per-round.
            warm_total = (
                flagship_split["flagship_warm_build_sec"]
                + flagship_split["flagship_warm_exec_sec"]
            )
            # r8 lesson: the stderr warning is invisible in the driver's
            # stdout tail — carry the breach INSIDE the one JSON payload
            # the driver always parses (and BENCH_FULL.json), so a budget
            # breach is a per-round artifact, not a lost log line.
            flagship_split["flagship_budget_sec"] = FLAGSHIP_BUDGET_SEC
            flagship_split["flagship_budget_breach"] = bool(
                warm_total > FLAGSHIP_BUDGET_SEC
            )
            if warm_total > FLAGSHIP_BUDGET_SEC:
                print(
                    "WARNING: flagship warm build+exec "
                    f"{warm_total:.1f}s exceeds {FLAGSHIP_BUDGET_SEC:.0f}s budget",
                    file=sys.stderr,
                )
        except Exception as e:  # noqa: BLE001
            flagship_split["flagship_error"] = _first_line(e)

    timings: dict[str, float] = {}
    for name, fn in queries.items():
        runs: list[float] = []
        for _ in range(BENCH_REPS):
            # drop refs to the previous run's checkpointed/persisted RDDs
            # so the ContextCleaner can unpersist before the next
            # measurement — otherwise earlier queries' block-store
            # pressure bleeds into later timings (measured: flagship reps
            # oscillate 34-132s with accumulation vs a stable ~24s with
            # explicit release; broadcast/shuffle state is only reclaimed
            # on driver-JVM GC, which a 128 GiB heap may never trigger
            # between reps). release_blocks runs a trivial job + cooldown
            # so the async cleaner drains outside the timed region.
            release_blocks(spark)
            t0 = time.time()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            runs.append(time.time() - t0)
        timings[name] = round(sorted(runs)[len(runs) // 2], 3)

    total = round(sum(timings.values()), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # The driver captures only the LAST ~2000 chars of stdout and parses
    # the JSON line from that tail — round 5's 95-query line overflowed
    # it and the round's numbers were lost (BENCH_r05 "parsed": null).
    # Full per-query timings go to BENCH_FULL.json in the repo; the
    # printed line carries the slowest queries that fit the tail budget
    # (sub-second rows are wall-noise anyway — memory: ±50-100% swings).
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "BENCH_FULL.json"),
        "w",
    ) as fh:
        json.dump(
            {
                "metric": "headline_operator_suite_wall_seconds",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf_val,
                "cpus": spark.sparkContext.defaultParallelism,
                "spark.driver.memory": spark.sparkContext.getConf().get(
                    "spark.driver.memory"
                ),
                "warmup_errors": warmup_errors,
                **flagship_split,
            },
            fh,
            indent=1,
        )
    print(format_bench_line(timings, sf_val, flagship_split))


def format_bench_line(
    timings: dict[str, float],
    sf_val,
    flagship_split: dict[str, float] | None = None,
    budget: int = 1800,
) -> str:
    """The ONE printed JSON line, slowest-queries-first, truncated to
    ``budget`` chars (the driver parses the last ~2000 chars of stdout —
    r5's full 95-query line overflowed that tail and the round's numbers
    were lost). Unit-tested against a 200-query registry in
    tests/test_bench_line.py so the limit stays load-bearing-and-green
    instead of load-bearing-and-silent."""
    total = round(sum(timings.values()), 3)
    compact = dict(sorted(timings.items(), key=lambda kv: -kv[1]))
    payload = {
        "metric": "headline_operator_suite_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": {},
        "queries_timed": len(timings),
        "queries_full": "BENCH_FULL.json",
        "sf": sf_val,
        **(flagship_split or {}),
    }
    for name, sec in compact.items():
        payload["queries"][name] = sec
        if len(json.dumps(payload, separators=(",", ":"))) > budget:
            del payload["queries"][name]
            break
    return json.dumps(payload, separators=(",", ":"))


if __name__ == "__main__":
    main()
