"""The driver's test lake: one parquet file per table under ``sf_dir``.

This is the only module that knows the lake's format. The registry
queries, the event-stream reader and the tests read tables through it,
so its two quirks are handled once: ``events.parquet`` has shipped its
``ts`` column in two physical types (``load_events``), and every table
is a single file, so a single input split (``read_docs``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

# money columns are cast to this exact type on both engines
D182 = "decimal(18,2)"


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return load_events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet with `ts` normalized to a microsecond timestamp.

    The generator has shipped two physical types for `ts`: TIMESTAMP(NANOS)
    (rejected by Spark's vectorized reader — read nanos as long, then
    integer-divide; `/1000` double division rounds 1µs off DuckDB's ns→µs
    truncation) and plain µs TIMESTAMP (pass through). Branch on the read
    schema so both vintages work."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    if isinstance(df.schema["ts"].dataType, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def read_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents, spread across the session's cores. The test lake stores
    one parquet file per table → one input split → serial execution of the
    per-row heavy operators; a production lake has many splits. The
    repartition restores that parallelism locally — and is GATED on the
    actual split count so a production lake (splits ≥ cores) never pays a
    gratuitous shuffle of raw text."""
    df = read_table(spark, sf_dir, "documents")
    cores = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < cores:
        return df.repartition(cores)
    return df
