"""Full-registry sf1 sweep (round-6 verdict item 2).

Runs EVERY registry query once at /tmp/sf1 (the 10× replicated-stress
lake from gen_scale.py) with the noop sink, a per-query watchdog
(cancelJobGroup after --cap seconds → recorded TIMEOUT, sweep
continues), and block-store hygiene between queries. Appends one JSON
line per query to the output JSONL as it goes, so partial progress
survives a crash.

Known exclusion: dedup_recall — its candidate-complete TRUTH side is
intrinsically pair-quadratic in dup density, and the replicated-stress
lake squares every dup group (m² = 100× pairs); the r6 attempt
out-spilled the scratch disk. Production uses the sample_bp knob;
recorded as EXCLUDED with that reason, not silently dropped.

Usage: python scripts_dev/sf1_sweep.py [sf_dir] [out_jsonl] [--cap N]
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import release_blocks  # noqa: E402

EXCLUDED = {
    "dedup_recall": (
        "truth side pair-quadratic; replicated-stress lake squares dup "
        "groups (m²=100x) and out-spills scratch — the at-scale recall "
        "evidence is dedup_recall_sampled (sample_bp=2500), which DOES "
        "run at sf1: swept here AND its recall_ppm committed in "
        "scripts_dev/sf1_verify_r10.jsonl (round-9 verdict ask 2)"
    ),
}


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/tmp/sf1"
    out = args[1] if len(args) > 1 else "/tmp/sf1_sweep.jsonl"
    cap = 900
    only: set[str] | None = None
    for a in sys.argv[1:]:
        if a.startswith("--cap="):
            cap = int(a.split("=", 1)[1])
        elif a.startswith("--only="):
            only = set(a.split("=", 1)[1].split(","))

    from pdcm_etl_spark.session import get_spark

    spark = get_spark("sf1_sweep")
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entry

    qs = entry.queries()
    done = set()
    if os.path.exists(out):
        with open(out) as fh:
            done = {json.loads(ln)["name"] for ln in fh if ln.strip()}

    names = sorted(qs)
    for i, name in enumerate(names):
        if only is not None and name not in only:
            continue
        if name in done:
            continue
        if name in EXCLUDED:
            rec = {"name": name, "status": "EXCLUDED",
                   "reason": EXCLUDED[name]}
        else:
            release_blocks(spark)
            group = f"sweep-{name}"
            spark.sparkContext.setJobGroup(group, name, True)
            timer = threading.Timer(
                cap, spark.sparkContext.cancelJobGroup, [group]
            )
            timer.start()
            t0 = time.time()
            try:
                qs[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                rec = {"name": name, "status": "OK",
                       "sec": round(time.time() - t0, 1)}
            except Exception as e:  # noqa: BLE001
                wall = round(time.time() - t0, 1)
                status = "TIMEOUT" if wall >= cap - 2 else "ERROR"
                rec = {"name": name, "status": status, "sec": wall,
                       "err": f"{type(e).__name__}: {e}"[:300]}
            finally:
                timer.cancel()
                spark.sparkContext.setJobGroup("idle", "idle", False)
        with open(out, "a") as fh:
            fh.write(json.dumps(rec) + "\n")
        print(f"[{i + 1}/{len(names)}] {rec}", flush=True)
    print("sweep complete")


if __name__ == "__main__":
    main()
