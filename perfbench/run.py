"""Benchmark of the ETL engine: search-index release and operator mix.

Run from the repository root:

    python3 perfbench/run.py --workload release_build --seed 1 --seconds 10 --trace 0

One process, one client, closed loop, on ``local[<cpus>]`` with a JVM
heap sized from the host's memory. The input lake is generated from
``--seed`` under ``.perfbench/``; everything the run writes stays there.
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` enables Spark's
event log and the benchmark's spans and prints the per-layer metrics.
The last line of standard output is the result object; the full record
(metadata, every op, failures, spans, self times) is written to
``.perfbench/records/``.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile
import time

SF = 0.001
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
RUN_DIR = os.path.join(WORK, "run")
RECORDS = os.path.join(WORK, "records")
LAYERS = ["synth", "dag", "sinks", "views", "operators", "streaming", "catalog"]
OPERATOR_FAMILIES = [
    "dedup", "text", "similarity", "ml", "graph", "analytics", "temporal",
    "sampling", "multimodal",
]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["release_build", "operator_mix"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


# ------------------------------------------------------------ host

def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_memory_bytes() -> int:
    """MemTotal, lowered to the cgroup limit when one is set."""
    with open("/proc/meminfo") as f:
        mem = next(int(line.split()[1]) * 1024 for line in f if line.startswith("MemTotal:"))
    for path in ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit():
            mem = min(mem, int(raw))
    return mem


def jvm_heap(mem_bytes: int) -> str:
    """A fifth of the memory, between 1 and 4 GiB: the inputs are small
    and the host is shared."""
    gib = mem_bytes / 2**30
    return f"{int(max(1, min(4, gib / 5)))}g"


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def source_identity() -> dict:
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        sha = None
    h = hashlib.md5()
    files = sorted(glob.glob("pdcm_etl_spark/**/*.py", recursive=True)) + ["__spark_entry__.py"]
    for path in files:
        with open(path, "rb") as f:
            h.update(path.encode() + f.read())
    return {"git_sha": sha, "source_md5": h.hexdigest()}


# ------------------------------------------------------------ session

def start_session(cpus: int, heap: str, trace: bool):
    from pdcm_etl_spark.session import get_spark

    tmp = os.path.join(RUN_DIR, "tmp")
    conf = {
        "spark.driver.memory": heap,
        "spark.local.dir": os.path.join(RUN_DIR, "local"),
        "spark.sql.warehouse.dir": os.path.join(RUN_DIR, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(RUN_DIR, "eventlog")
        # one plain JSON-lines file, readable without a codec
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return get_spark("perfbench", master=f"local[{cpus}]", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ------------------------------------------------------------ metrics

def end_to_end(b, setup_s: float, peak_rss: float) -> tuple[dict, dict]:
    from spans import median, tail

    measured = b.ops
    per_pass: dict[str, float] = {}
    cpu: dict[str, float] = {}
    for o in measured:
        per_pass[o.phase] = per_pass.get(o.phase, 0.0) + o.seconds
        cpu[o.phase] = cpu.get(o.phase, 0.0) + o.cpu_s
    secs = [o.seconds for o in measured]
    try:
        pct, value, n = tail(secs)
        tail_info = {"percentile": pct, "value_s": value, "samples": n}
    except ValueError as e:
        tail_info = {"percentile": None, "samples": len(secs), "reason": str(e)}
    metrics = {
        "setup_s": (setup_s, "s"),
        "pass_s": (median(list(per_pass.values())), "s"),
        "cpu_s": (median(list(cpu.values())), "s"),
    }
    detail = {
        "passes": len(per_pass), "ops": len(secs), "op_p50_s": median(secs),
        "op_geomean_s": math.exp(sum(math.log(s) for s in secs) / len(secs)),
        "op_tail": tail_info, "peak_rss_mb": peak_rss,
        "fail_ratio": sum(1 for o in b.ops if o.error) / len(b.ops),
    }
    return metrics, detail


def per_layer(b, spans_list, jobs, untraced: dict | None, e2e_pass_s: float, peak_rss: float) -> tuple[dict, dict]:
    from spans import (
        ENGINE_KEYS, attribute_jobs, idle_time, job_intervals, self_time_by_name,
        self_times,
    )

    passes = len({o.phase for o in b.ops})
    measured = [sp for sp in spans_list if sp.op and sp.op.startswith("pass")]
    st = self_times(spans_list)

    def per_pass(v: float) -> float:
        return v / passes

    def self_of(prefix: str) -> float:
        return per_pass(sum(st[sp.sid] for sp in measured
                            if sp.name == prefix or sp.name.startswith(prefix + ".")))

    def total_of(name: str, among) -> float:
        return sum(sp.end - sp.start for sp in among if sp.name == name)

    busy = job_intervals(jobs)
    dag_spans = [sp for sp in measured if sp.name == "dag"]
    rolled = attribute_jobs(
        spans_list, jobs,
        key=lambda sp: sp.name.split(".")[0] if sp.op and sp.op.startswith("pass") else None,
    )
    c = {k: per_pass(v) for k, v in b.counters.items()}
    out = {
        "peak_rss_mb": (peak_rss, "MB"),
        "session.start_s": (total_of("session", spans_list), "s"),
        "synth.build_s": (self_of("synth"), "s"),
        "dag.run_s": (per_pass(total_of("dag", measured)), "s"),
        "dag.driver_gap_s": (per_pass(sum(idle_time(sp, busy) for sp in dag_spans)), "s"),
        "dag.shared_nodes": (c.get("dag.shared_nodes", 0.0), "count"),
        "sinks.write_s": (per_pass(total_of("sinks", measured)), "s"),
        "views.create_s": (per_pass(total_of("views.create", measured)), "s"),
    }
    for key in ("sinks.entities", "sinks.files", "sinks.bytes", "sinks.empty_entities",
                "views.created", "views.skipped", "sharing.blocks", "sharing.block_bytes"):
        unit = "bytes" if key.endswith("bytes") else "count"
        out[key] = (c.get(key, 0.0), unit)
    for fam in OPERATOR_FAMILIES:
        out[f"operators.{fam}_s"] = (self_of(f"operators.{fam}"), "s")
    out["streaming.s"] = (self_of("streaming"), "s")
    out["catalog.relational_s"] = (self_of("catalog.relational"), "s")
    for layer in LAYERS:
        acc = rolled.get(layer, {})
        for k in ENGINE_KEYS:
            unit = "s" if k.endswith("_s") else "bytes" if k.endswith("bytes") else "count"
            out[f"{layer}.{k}"] = (per_pass(acc.get(k, 0.0)), unit)
    uncovered = [
        {"op": sp.op, "uncovered_s": st[sp.sid]}
        for sp in measured if sp.name.startswith("op.")
    ]
    out["trace.uncovered_s"] = (per_pass(sum(u["uncovered_s"] for u in uncovered)), "s")
    base = untraced["end_to_end"]["pass_s"]["value"] if untraced else None
    out["trace.overhead_share"] = (e2e_pass_s / base - 1 if base else 0.0, "ratio")
    detail = {
        "passes": passes,
        "self_s": self_time_by_name(measured),
        "uncovered": uncovered,
        "engine_by_layer": rolled,
        "unattributed_jobs": attribute_jobs(spans_list, jobs).get("unattributed", {}).get("jobs", 0),
        "overhead_base": untraced["file"] if untraced else "no untraced record in this checkout",
    }
    return out, detail


def latest_untraced(workload: str) -> dict | None:
    paths = glob.glob(os.path.join(RECORDS, f"{workload}-trace0-*.json"))
    if not paths:
        return None
    path = max(paths, key=os.path.getmtime)
    with open(path) as f:
        rec = json.load(f)
    rec["file"] = os.path.relpath(path, ROOT)
    return rec


# ------------------------------------------------------------ main

def main(argv) -> int:
    args = parse_args(argv)
    if not (os.path.isfile("__spark_entry__.py") and os.path.isdir("pdcm_etl_spark")):
        print("perfbench: run from the repository root (pdcm_etl_spark/ and "
              "__spark_entry__.py not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    trace = bool(args.trace)

    cpus = host_cpus()
    mem = host_memory_bytes()
    heap = jvm_heap(mem)
    shutil.rmtree(RUN_DIR, ignore_errors=True)
    for d in ("tmp", "local", "eventlog", "out", "lake"):
        os.makedirs(os.path.join(RUN_DIR, d))
    os.makedirs(RECORDS, exist_ok=True)
    os.environ.update({
        "TZ": "UTC",
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(RUN_DIR, "local"),
        "TMPDIR": os.path.join(RUN_DIR, "tmp"),
    })
    time.tzset()
    tempfile.tempdir = os.path.join(RUN_DIR, "tmp")

    import lake
    from spans import Tracer, parse_event_log
    from workloads import WORKLOADS, Bench, instrument

    lake_dir = os.path.join(RUN_DIR, "lake")
    layout = lake.write_lake(lake_dir, SF, args.seed)

    tracer = Tracer(enabled=trace)
    t0 = time.perf_counter()
    with tracer.span("session", op="setup"):
        import __spark_entry__  # the program's modules load inside set-up

        __spark_entry__.queries()
        spark = start_session(cpus, heap, trace)
        spark.range(10_000).selectExpr("sum(id)").collect()  # warm-up job
    setup_s = time.perf_counter() - t0
    b = Bench(spark, lake_dir, os.path.join(RUN_DIR, "out"), args.seconds, tracer)
    try:
        if trace:
            instrument(b)
        WORKLOADS[args.workload](b)
        import pyspark

        jvm = spark._jvm
        meta = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "sf": SF, "cpus": cpus, "heap": heap,
            "host_memory_gib": round(mem / 2**30, 2),
            "pyspark": pyspark.__version__,
            "java": jvm.java.lang.System.getProperty("java.version"),
            **source_identity(), "lake_layout": layout,
        }
        peak_rss = vm_hwm_mb("self") + vm_hwm_mb(jvm.java.lang.ProcessHandle.current().pid())
    finally:
        b.close()
        stop_session(spark)

    e2e, e2e_detail = end_to_end(b, setup_s, peak_rss)
    failures = [{"op": o.name, "phase": o.phase, "error": o.error} for o in b.ops if o.error]
    record = {
        "metadata": meta,
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "end_to_end_detail": e2e_detail,
        "failures": failures,
        "notes": b.notes,
        "ops": [o.__dict__ for o in b.ops],
    }
    metrics = e2e
    if trace:
        jobs = {}
        for path in glob.glob(os.path.join(RUN_DIR, "eventlog", "*")):
            if not os.path.isfile(path):
                raise RuntimeError(f"unexpected event-log layout: {path}")
            with open(path) as f:
                jobs.update(parse_event_log(f))
        layers, detail = per_layer(b, tracer.spans, jobs, latest_untraced(args.workload),
                                   e2e["pass_s"][0], peak_rss)
        record["per_layer"] = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
        record["per_layer_detail"] = detail
        record["spans"] = [sp.__dict__ for sp in tracer.spans]
        metrics = layers
    name = f"{args.workload}-trace{args.trace}-seed{args.seed}.json"
    with open(os.path.join(RECORDS, name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    shutil.rmtree(RUN_DIR, ignore_errors=True)

    for fail in failures:
        print(f"perfbench: FAILED {fail['phase']} {fail['op']}: {fail['error']}", file=sys.stderr)
    print(json.dumps({
        "correct": not failures,
        "attempted": len(b.ops),
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
