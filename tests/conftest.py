import pytest

from shacl_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # tiered C2 (HotSpot's own default) in place of get_spark's C1-only
    # driver: the suite is one JVM for its whole ~20-minute run under a
    # wall-clock timeout, and C2 code pays off there (measured, 4 vCPU:
    # the 105 tests of test_pipeline, test_interp_exact and
    # test_ttl_battery took 216 s with C2 and 278 s with C1 only)
    s = get_spark(
        app_name="shacl_spark_tests", master="local[4]", shuffle_partitions=8,
        extra_conf={"spark.driver.defaultJavaOptions": "-XX:TieredStopAtLevel=4"},
    )
    yield s
