"""Per-query solo profiler for the optimization rounds (guide §1).

For each named registry query: run ``reps`` solo repetitions against the
noop sink with the bench's release-blocks discipline, record build/exec
seconds, capture ``explain("formatted")``, and pull per-stage metrics
(executor run time, shuffle read/write bytes, spill) from the live UI
REST API so shuffle-bound vs compute-bound is evidence, not guesswork.

    python scripts_dev/profile_queries.py [sf_dir] q1 q2 ... [--reps N]
                                          [--plans-dir DIR]

Writes one JSON line per query to stdout and (optionally) the formatted
plan to <plans-dir>/<query>_<tag>.txt.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import release_blocks  # noqa: E402


def _rest(spark, path: str):
    ui = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{ui}/api/v1/applications/{app}/{path}") as r:
        return json.loads(r.read())


def stage_summary(spark, after_stage_id: int, top: int = 8) -> list[dict]:
    """Completed stages with id > after_stage_id, heaviest first."""
    try:
        stages = _rest(spark, "stages?status=complete")
    except Exception as exc:  # UI off or API shift — profiling is best-effort
        return [{"error": str(exc)[:120]}]
    rows = []
    for s in stages:
        if s["stageId"] <= after_stage_id:
            continue
        rows.append(
            {
                "stage": s["stageId"],
                "name": s.get("name", "")[:80],
                "tasks": s.get("numCompleteTasks"),
                "run_ms": s.get("executorRunTime"),
                "cpu_ms": (s.get("executorCpuTime") or 0) // 1_000_000,
                "sh_read_mb": round((s.get("shuffleReadBytes") or 0) / 1e6, 1),
                "sh_write_mb": round((s.get("shuffleWriteBytes") or 0) / 1e6, 1),
                "spill_mb": round((s.get("diskBytesSpilled") or 0) / 1e6, 1),
                "input_mb": round((s.get("inputBytes") or 0) / 1e6, 1),
            }
        )
    rows.sort(key=lambda r: -(r.get("run_ms") or 0))
    return rows[:top]


def last_stage_id(spark) -> int:
    try:
        stages = _rest(spark, "stages")
        return max((s["stageId"] for s in stages), default=-1)
    except Exception:
        return -1


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def main() -> None:
    args = [a for a in sys.argv[1:]]
    reps = 3
    plans_dir = None
    tag = "before"
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        del args[i : i + 2]
    if "--plans-dir" in args:
        i = args.index("--plans-dir")
        plans_dir = args[i + 1]
        del args[i : i + 2]
    if "--tag" in args:
        i = args.index("--tag")
        tag = args[i + 1]
        del args[i : i + 2]
    conf = {}
    while "--conf" in args:
        i = args.index("--conf")
        k, _, v = args[i + 1].partition("=")
        conf[k] = v
        del args[i : i + 2]
    sf_dir = "/root/testdata/sf0.1"
    if args and os.path.isdir(args[0]):
        sf_dir = args.pop(0)
    names = args

    from pdcm_etl_spark.session import get_spark

    spark = get_spark(
        "pdcm-etl-profile",
        extra_conf={"spark.ui.enabled": "true", **conf},
    )
    import __spark_entry__ as entrymod

    queries = entrymod.queries()

    # warmup: codegen + page cache, mirroring bench.py
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    for name in names:
        try:
            queries[name](spark, warm_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception:
            pass

    for name in names:
        fn = queries.get(name)
        if fn is None:
            print(json.dumps({"query": name, "error": "unknown"}))
            continue
        builds, execs = [], []
        plan_txt = ""
        stages = []
        for rep in range(reps):
            release_blocks(spark)
            mark = last_stage_id(spark)
            spark.sparkContext.setJobDescription(f"profile:{name}#{rep}")
            t0 = time.time()
            df = fn(spark, sf_dir)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            spark.sparkContext.setJobDescription(None)
            builds.append(round(t1 - t0, 3))
            execs.append(round(t2 - t1, 3))
            if rep == reps - 1:
                plan_txt = formatted_plan(df)
                stages = stage_summary(spark, mark)
        med = lambda xs: sorted(xs)[len(xs) // 2]  # noqa: E731
        row = {
            "query": name,
            "sf_dir": sf_dir,
            "reps": reps,
            "build_sec": builds,
            "exec_sec": execs,
            "median_build": med(builds),
            "median_exec": med(execs),
            "median_total": round(med([b + e for b, e in zip(builds, execs)]), 3),
            "exchanges": plan_txt.count("Exchange"),
            "top_stages_last_rep": stages,
        }
        print(json.dumps(row), flush=True)
        if plans_dir:
            os.makedirs(plans_dir, exist_ok=True)
            with open(os.path.join(plans_dir, f"{name}_{tag}.txt"), "w") as fh:
                fh.write(plan_txt)


if __name__ == "__main__":
    main()
