"""One sharing policy: ``operators.sharing.shared`` decides how every
compute-once site shares a frame, the flagship EntityDag's
multiply-consumed entities included."""

import pytest
from pyspark import StorageLevel

import fixtures


def _is_checkpoint(df) -> bool:
    return df._jdf.queryExecution().logical().nodeName() == "LogicalRDD"


@pytest.mark.parametrize("mode", ["checkpoint", "persist"])
def test_dag_and_operators_share_the_same_way(spark, monkeypatch, mode):
    from pdcm_etl_spark.operators.sharing import shared
    from pdcm_etl_spark.plans.dag import build_metadata_dag

    if mode == "checkpoint":
        # the default: the variable unset
        monkeypatch.delenv("SPARK_GRAFT_SHARE_INTERMEDIATES", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_SHARE_INTERMEDIATES", mode)

    dag = build_metadata_dag(spark, fixtures.metadata_fixture(spark))
    multi = next(
        n for n, node in dag.nodes.items()
        if not node.cheap
        and sum(n in m.deps for m in dag.nodes.values()) > 1
    )
    frames = {"shared()": shared(spark.range(10)), multi: dag.run()[multi]}
    try:
        for name, df in frames.items():
            if mode == "checkpoint":
                assert _is_checkpoint(df), name
                assert df.storageLevel == StorageLevel.NONE, name
            else:
                assert not _is_checkpoint(df), name
                assert df.storageLevel == StorageLevel.MEMORY_AND_DISK, name
    finally:
        for df in frames.values():
            df.unpersist()
