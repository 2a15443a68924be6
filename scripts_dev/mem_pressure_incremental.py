"""Memory-pressure proof for the incremental flagship in its PRODUCTION
shape: base materialization and delta-apply as SEPARATE sessions.

The registry wrapper builds the base run AND the delta run in one
session (self-contained for the driver gate); at sf1 under the
reference's 4g profile that combined footprint OOMs in both reuse
modes. A real deployment never does that — the base run is an earlier
job's output. This script proves each HALF fits the 4g heap:

  phase 1 (own 4g JVM): full base DAG (all providers but the delta one)
      -> partitioned parquet, copied to a keep dir that survives exit;
  phase 2 (own 4g JVM): pre-seed the session memo with the keep dir, so
      run_etl_search_index_incremental serves the base from parquet and
      computes ONLY the delta provider's DAG + the partition-pruned
      merge.

    SPARK_GRAFT_CPUS=4 python scripts_dev/mem_pressure_incremental.py \
        [sf_dir] [out_jsonl]        # spawns the two 4g phases itself
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

KEEP = "/tmp/pdcm_base_keep"


def _spill_totals(spark):
    from mem_pressure import _spill_totals as _st  # same directory

    return _st(spark)


def phase1(sf_dir: str) -> None:
    import shutil

    from pdcm_etl_spark.plans import incremental as inc
    from pdcm_etl_spark.plans.synth import synthesize_provider_modules
    from pdcm_etl_spark.session import get_spark

    spark = get_spark("mem_pressure_inc_base")
    spark.sparkContext.setLogLevel("ERROR")
    raw = synthesize_provider_modules(spark, sf_dir)
    t0 = time.time()
    path = inc._base_six_dir(spark, sf_dir, raw, "EUROPE")
    sec = round(time.time() - t0, 1)
    shutil.rmtree(KEEP, ignore_errors=True)
    shutil.copytree(path, KEEP)
    mem, disk = _spill_totals(spark)
    print(json.dumps({
        "phase": "base_materialize", "sec": sec,
        "mem_spill_mb": round(mem / 1e6, 1),
        "disk_spill_mb": round(disk / 1e6, 1),
    }), flush=True)


def phase2(sf_dir: str) -> None:
    from pdcm_etl_spark.plans import incremental as inc
    from pdcm_etl_spark.session import get_spark

    spark = get_spark("mem_pressure_inc_delta")
    spark.sparkContext.setLogLevel("ERROR")
    app = spark.sparkContext.applicationId
    digest = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    inc._BASE_SIX[(app, digest, "EUROPE")] = KEEP
    t0 = time.time()
    df = inc.run_etl_search_index_incremental(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    sec = round(time.time() - t0, 1)
    mem, disk = _spill_totals(spark)
    print(json.dumps({
        "phase": "delta_apply", "sec": sec,
        "rows": df.count(),
        "mem_spill_mb": round(mem / 1e6, 1),
        "disk_spill_mb": round(disk / 1e6, 1),
    }), flush=True)


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] in ("--phase1", "--phase2"):
        sf_dir = sys.argv[2]
        (phase1 if sys.argv[1] == "--phase1" else phase2)(sf_dir)
        return
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"
    out = sys.argv[2] if len(sys.argv) > 2 else (
        "scripts_dev/mem_pressure_incremental_r8.jsonl"
    )
    env = dict(os.environ, SPARK_DRIVER_MEMORY="4g")
    results = []
    for ph in ("--phase1", "--phase2"):
        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), ph, sf_dir],
            capture_output=True, text=True, env=env, cwd=REPO,
            timeout=1800,
        )
        line = None
        for ln in (proc.stdout or "").splitlines():
            if ln.startswith("{"):
                line = json.loads(ln)
        rec = line or {
            "phase": ph, "status": "ERROR",
            "sec": round(time.time() - t0, 1),
            "err": (proc.stderr or proc.stdout or "")[-400:],
        }
        rec.setdefault("status", "OK")
        # a JSON line on stdout does not prove success: the subprocess
        # can still die after the print (e.g. OOM during JVM shutdown)
        if proc.returncode != 0:
            rec["status"] = "ERROR"
            rec["returncode"] = proc.returncode
            rec.setdefault(
                "err", (proc.stderr or proc.stdout or "")[-400:]
            )
        rec["heap"] = "4g"
        # the phases size their sessions the way get_spark does
        rec["cores"] = (
            os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
        )
        results.append(rec)
        print(rec, flush=True)
        if rec["status"] != "OK":
            break
    with open(out, "a") as fh:
        for r in results:
            fh.write(json.dumps(r) + "\n")


if __name__ == "__main__":
    main()
