"""SparkSession factory tuned for the engine.

Local test profile: ``local[N]`` single-JVM. The configs below are chosen so
the same code scales to a multi-executor cluster: AQE enabled (runtime
coalescing + skew-join splitting), shuffle partitions sized to cores locally
(a cluster deployment overrides via ``spark_conf``), Arrow enabled for the
pandas-UDF slow path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """``min(24g, 0.6 × memory)``, memory being the host's MemTotal or the
    cgroup limit, whichever is smaller. In local mode the JVM heap is
    the whole cluster, so bigger is faster, but a heap the host cannot
    back gets the JVM OOM-killed instead of spilling."""
    mem: list[int] = []
    try:
        with open("/proc/meminfo") as f:
            mem += [int(line.split()[1]) * 1024 for line in f
                    if line.startswith("MemTotal:")]
    except OSError:
        pass
    for path in ("/sys/fs/cgroup/memory.max",
                 "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit():
            mem.append(int(raw))
    heap = min([24 * 2**30] + [int(0.6 * m) for m in mem])
    return f"{heap // 2**20}m"


def get_spark(
    app_name: str = "pdcm_etl_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Defaults matter at scale:
    - AQE on: runtime partition coalescing, skew-join handling, and
      dynamic join-strategy switching replace hand-tuned shuffle counts.
    - ``spark.sql.session.timeZone=UTC``: deterministic timestamp semantics
      (the correctness oracle compares values).
    - Arrow on: pandas UDF / applyInPandas paths move batches, not rows.
    """
    # task slots and shuffle partitions: SPARK_GRAFT_CPUS, else the CPUs
    # this process may use
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # Every decorated PySpark DataFrame call otherwise makes an EXTRA
        # py4j round trip (PySparkCurrentOrigin.set with the captured
        # Python call site, for error enrichment) plus a stack walk —
        # on the flagship's 60-entity DAG that is thousands of extra
        # driver round trips on the plan-construction critical path
        # (profiled: ~2x the py4j chatter). The engine's errors carry
        # entity names already; trade the call-site decoration away.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # local[N] = N concurrent tasks sharing one unified pool, plus
        # the DAG's localCheckpoint blocks live in the same heap — 8g
        # starved execution memory at local[32], sf0.1
        # (UNABLE_TO_ACQUIRE_MEMORY); the default is capped by what the
        # host can back
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory(),
        )
        # spark.io.compression.codec stays Spark's lz4: zstd wrote 2.2x
        # fewer shuffle bytes on dedup_prefix_filter at sf0.1 but ran
        # slower locally, where shuffle moves at page-cache speed and
        # compression CPU is pure overhead (r11); a network-shuffling
        # cluster can pass it through extra_conf or --conf.
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

