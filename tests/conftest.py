import os

import pytest

from shacl_spark.session import get_spark

# size the session JVM's heap for a test host: get_spark's 16g default
# lets the heap of one long suite run grow past a 16 GB host's physical
# memory, and the kernel then kills the JVM mid-suite (every later Spark
# test fails with "Answer from Java side is empty")
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="shacl_spark_tests", master="local[4]", shuffle_partitions=8)
    yield s
