"""The engine session's sizing and codec defaults (session.get_spark)."""


def test_shuffle_partitions_match_task_slots(spark):
    """One read of SPARK_GRAFT_CPUS (else the CPU affinity count) sizes
    both the local task slots and the shuffle partitions."""
    partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert partitions == spark.sparkContext.defaultParallelism


def test_io_codec_is_lz4(spark):
    """Shuffle, broadcast and block storage use Spark's own lz4 codec."""
    sc = spark.sparkContext
    codec = sc._jvm.org.apache.spark.io.CompressionCodec.createCodec(
        sc._jsc.sc().conf()
    )
    assert codec.getClass().getSimpleName() == "LZ4CompressionCodec"
