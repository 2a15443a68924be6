"""Flagship warm solo A/B (round-10 verdict item 1).

Round 10's driver bench recorded flagship warm build+exec 23.4 s vs
r9's 19.3 s against the 25 s budget with an UNCHANGED plan fingerprint
and a uniform suite-wide +7.7% drift — the repo's noise protocol reads
that as host conditions, but the budget margin (6%) is too thin to
assert without a clean measurement. This is the assoc_rules-r8
treatment applied to the flagship: a SOLO-JVM (no concurrent Spark —
see the repo's scale-proof protocol) 7-rep warm build/exec split under
the exact bench session profile, committed with median + band so the
round-11 verdict can say "inside the r9 band" or name a fix.

Usage (run solo):

    python scripts_dev/flagship_ab.py [reps] [sf_dir] [out_jsonl]

Defaults: 7 reps, /root/testdata/sf0.1,
scripts_dev/flagship_ab_r11.jsonl. Protocol mirrors bench.py exactly:
sf0.001 warmup pass (janino codegen cache), block release + cooldown
between reps, noop sink.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import release_blocks  # noqa: E402


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 7
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    out = sys.argv[3] if len(sys.argv) > 3 else (
        "scripts_dev/flagship_ab_r11.jsonl"
    )

    from pdcm_etl_spark.session import get_spark

    spark = get_spark("pdcm-etl-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entry

    fn = entry.queries()["etl_search_index"]

    # bench-identical warmup: compile the flagship's codegen classes at
    # sf0.001 so the timed reps measure the engine, not class-loading
    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    fn(spark, warm_dir).write.format("noop").mode("overwrite").save()

    release_blocks(spark)
    t0 = time.time()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    cold = round(time.time() - t0, 3)

    runs = []
    for i in range(reps):
        release_blocks(spark)
        t0 = time.time()
        df = fn(spark, sf_dir)
        build = time.time() - t0
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        execu = time.time() - t0
        runs.append({
            "rep": i,
            "build_sec": round(build, 3),
            "exec_sec": round(execu, 3),
            "total_sec": round(build + execu, 3),
        })
        print(json.dumps(runs[-1]), flush=True)

    totals = sorted(r["total_sec"] for r in runs)
    rec = {
        "artifact": "flagship_warm_solo_ab",
        "reps": reps,
        "sf_dir": sf_dir,
        "cold_sec": cold,
        "runs": runs,
        "median_total_sec": totals[len(totals) // 2],
        "min_total_sec": totals[0],
        "max_total_sec": totals[-1],
        "median_build_sec": sorted(
            r["build_sec"] for r in runs
        )[reps // 2],
        "median_exec_sec": sorted(
            r["exec_sec"] for r in runs
        )[reps // 2],
        # the comparison anchors: r9 driver tail 19.3 s, r10 driver
        # tail 23.4 s, budget 25 s
        "r9_driver_warm_sec": 19.3,
        "r10_driver_warm_sec": 23.4,
        "budget_sec": 25.0,
    }
    with open(out, "a") as fh:
        fh.write(json.dumps(rec) + "\n")
    print(json.dumps(rec), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
