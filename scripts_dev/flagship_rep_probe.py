"""Per-rep stage/GC probe for the flagship's bimodal wall time (r12).

Runs the flagship solo N reps in one JVM and, for EACH rep, records:
wall build/exec, the delta in total executor run/CPU/GC time, and the
top stages by run time — so a catastrophic rep can be classified as
compute (CPU burns), GC (gc_ms balloons), or waiting (run >> cpu).

    python scripts_dev/flagship_rep_probe.py [sf_dir] [--reps N] [--out f]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import release_blocks  # noqa: E402


def main() -> None:
    args = list(sys.argv[1:])
    reps = 4
    out = "/tmp/flagship_rep_probe.jsonl"
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        del args[i : i + 2]
    if "--out" in args:
        i = args.index("--out")
        out = args[i + 1]
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"

    from pdcm_etl_spark.session import get_spark
    import __spark_entry__ as entry

    fn = entry.queries()["etl_search_index"]
    spark = get_spark(
        "pdcm-etl-flagship-probe", extra_conf={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")

    def rest(path: str):
        ui = spark.sparkContext.uiWebUrl
        app = spark.sparkContext.applicationId
        with urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app}/{path}"
        ) as r:
            return json.loads(r.read())

    def exec_totals() -> dict:
        tot = {"duration_ms": 0, "gc_ms": 0}
        for e in rest("executors"):
            tot["duration_ms"] += e.get("totalDuration", 0)
            tot["gc_ms"] += e.get("totalGCTime", 0)
        return tot

    def stages_after(stage_floor: int, top: int = 6) -> list[dict]:
        rows = []
        for s in rest("stages?status=complete"):
            if s["stageId"] <= stage_floor:
                continue
            rows.append(
                {
                    "stage": s["stageId"],
                    "tasks": s["numCompleteTasks"],
                    "run_ms": s.get("executorRunTime", 0),
                    "cpu_ms": s.get("executorCpuTime", 0) // 1_000_000,
                    "desc": (s.get("description") or s.get("name", ""))[:80],
                }
            )
        rows.sort(key=lambda r: -r["run_ms"])
        return rows[:top]

    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    fn(spark, warm_dir).write.format("noop").mode("overwrite").save()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # cold

    with open(out, "a") as fh:
        for rep in range(reps):
            release_blocks(spark)
            floor = max(
                (s["stageId"] for s in rest("stages")), default=-1
            )
            before = exec_totals()
            t0 = time.time()
            df = fn(spark, sf_dir)
            build = time.time() - t0
            t0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            execu = time.time() - t0
            after = exec_totals()
            rec = {
                "rep": rep,
                "build_sec": round(build, 3),
                "exec_sec": round(execu, 3),
                "d_exec_run_sec": round(
                    (after["duration_ms"] - before["duration_ms"]) / 1e3, 1
                ),
                "d_gc_sec": round(
                    (after["gc_ms"] - before["gc_ms"]) / 1e3, 1
                ),
                "top_stages": stages_after(floor),
            }
            print(json.dumps(rec), flush=True)
            fh.write(json.dumps(rec) + "\n")
            fh.flush()
    spark.stop()


if __name__ == "__main__":
    main()
