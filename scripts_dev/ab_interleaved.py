"""Interleaved same-JVM A/B for RUNTIME-settable confs (guide §1).

Solo cross-JVM medians on this host swing ±30% between runs (shared
hypervisor), which drowns sub-20% effects. This harness alternates
A (session default) and B (the candidate conf) rep-by-rep inside ONE
JVM with the bench's release-blocks discipline, so host drift hits both
arms equally and the PAIRED delta is the signal.

    python scripts_dev/ab_interleaved.py [sf_dir] <query> \
        --conf k=v [--conf k=v ...] [--pairs N]

Only works for confs Spark honors at runtime (AQE thresholds, codegen,
shuffle compression is cluster-static — use profile_queries.py for
those).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import release_blocks  # noqa: E402


def main() -> None:
    args = list(sys.argv[1:])
    pairs = 4
    conf: dict[str, str] = {}
    while "--conf" in args:
        i = args.index("--conf")
        k, _, v = args[i + 1].partition("=")
        conf[k] = v
        del args[i : i + 2]
    if "--pairs" in args:
        i = args.index("--pairs")
        pairs = int(args[i + 1])
        del args[i : i + 2]
    sf_dir = "/root/testdata/sf0.1"
    if args and os.path.isdir(args[0]):
        sf_dir = args.pop(0)
    names = args

    from pdcm_etl_spark.session import get_spark

    spark = get_spark("pdcm-etl-ab", extra_conf={"spark.ui.enabled": "true"})
    spark.sparkContext.setLogLevel("ERROR")

    import urllib.request

    def _stages():
        ui = spark.sparkContext.uiWebUrl
        app = spark.sparkContext.applicationId
        with urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app}/stages?status=complete"
        ) as r:
            return json.loads(r.read())

    def _totals(after_stage: int) -> tuple[int, int, int]:
        """(executorRunTime_ms, executorCpuTime_ms, tasks) summed over
        stages with id > after_stage — wall-interference-resistant
        evidence of how much WORK each arm did."""
        run = cpu = tasks = 0
        for s in _stages():
            if s["stageId"] <= after_stage:
                continue
            run += s.get("executorRunTime") or 0
            cpu += (s.get("executorCpuTime") or 0) // 1_000_000
            tasks += s.get("numCompleteTasks") or 0
        return run, cpu, tasks

    def _last_stage() -> int:
        return max((s["stageId"] for s in _stages()), default=-1)

    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    baseline = {k: spark.conf.get(k, None) for k in conf}

    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir

    def set_arm(armconf: dict[str, str | None]) -> None:
        for k, v in armconf.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    for name in names:
        fn = queries[name]
        # warm both arms' codegen paths
        for armconf in (baseline, conf):
            set_arm(armconf)
            fn(spark, warm_dir).write.format("noop").mode("overwrite").save()
        set_arm(baseline)
        a_runs, b_runs = [], []
        a_work, b_work = [], []
        for p in range(pairs):
            for arm, armconf, runs, work in (
                ("A", baseline, a_runs, a_work),
                ("B", conf, b_runs, b_work),
            ):
                set_arm(armconf)
                release_blocks(spark)
                mark = _last_stage()
                spark.sparkContext.setJobDescription(f"ab:{name}:{arm}{p}")
                t0 = time.time()
                df = fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                runs.append(round(time.time() - t0, 3))
                spark.sparkContext.setJobDescription(None)
                work.append(_totals(mark))
        set_arm(baseline)
        med = lambda xs: sorted(xs)[len(xs) // 2]  # noqa: E731
        deltas = [b - a for a, b in zip(a_runs, b_runs)]
        print(
            json.dumps(
                {
                    "query": name,
                    "conf": conf,
                    "pairs": pairs,
                    "a_runs": a_runs,
                    "b_runs": b_runs,
                    "a_median": med(a_runs),
                    "b_median": med(b_runs),
                    "paired_deltas": [round(d, 3) for d in deltas],
                    "median_paired_delta": round(med(deltas), 3),
                    "a_work_run_cpu_tasks": a_work,
                    "b_work_run_cpu_tasks": b_work,
                    "a_cpu_median_ms": med([w[1] for w in a_work]),
                    "b_cpu_median_ms": med([w[1] for w in b_work]),
                    "a_taskwall_median_ms": med([w[0] for w in a_work]),
                    "b_taskwall_median_ms": med([w[0] for w in b_work]),
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
