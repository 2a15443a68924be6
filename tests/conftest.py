import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# The suite's data is sf0.001 (sf0.1 for the determinism screen), whose
# live set stays near 1 GB. A 4g heap keeps the JVM's resident size near
# 5 GB where the host-sized default (session._default_driver_memory)
# lets it grow to ~10 GB; the fingerprint check's subprocess JVM
# inherits the setting. An explicit SPARK_DRIVER_MEMORY still wins.
os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")


@pytest.fixture(scope="session")
def spark():
    from pdcm_etl_spark.session import get_spark

    # get_spark sizes task slots and shuffle partitions alike from
    # SPARK_GRAFT_CPUS, else the CPUs this process may use: more slots
    # than cores only adds contention on the suite's many small jobs
    s = get_spark("pdcm-etl-spark-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
