"""The defaults ``get_spark`` gives the driver JVM it launches: the
heap rule, and C1-only compilation unless ``extra_conf`` replaces it."""

import os
import subprocess
import sys
from pathlib import Path

import pytest

import shacl_spark.session
from shacl_spark.session import default_driver_memory

ROOT = Path(__file__).resolve().parent.parent

_PRINT_JVM_ARGS = """
from shacl_spark.session import get_spark
spark = get_spark(master="local[1]")
bean = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
print(list(bean.getInputArguments()))
spark.stop()
"""


def test_default_driver_memory_is_half_of_memtotal_capped_at_16g():
    meminfo = "MemTotal:       16384000 kB\nMemFree:         9000000 kB\n"
    assert default_driver_memory(meminfo) == "8000m"
    assert default_driver_memory("MemTotal:       67108864 kB\n") == "16384m"
    # no MemTotal (an unreadable /proc/meminfo reads as ""): the 16g cap
    assert default_driver_memory("") == "16384m"
    assert default_driver_memory("MemFree:         9000000 kB\n") == "16384m"


def test_fresh_driver_jvm_compiles_with_c1_only(tmp_path):
    pypath = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
    # a small heap: the suite's own JVM is running beside this one
    env = {**os.environ, "PYTHONPATH": pypath, "SPARK_GRAFT_DRIVER_MEM": "1g"}
    out = subprocess.run(
        [sys.executable, "-c", _PRINT_JVM_ARGS], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300, check=True,
    ).stdout
    assert "-XX:TieredStopAtLevel=1" in out


def test_extra_conf_replaces_the_jit_default(spark):
    bean = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    tiers = [a for a in bean.getInputArguments() if a.startswith("-XX:TieredStopAtLevel=")]
    assert tiers[-1] == "-XX:TieredStopAtLevel=4"


@pytest.mark.parametrize("follow", [False, True], ids=["drain", "follow"])
def test_validate_stream_follow_keeps_tiered_c2(monkeypatch, follow):
    from jobs.validate_stream import main

    seen = {}

    def fake_get_spark(*args, **kwargs):
        seen.update(kwargs)
        raise RuntimeError("no session")

    monkeypatch.setattr(shacl_spark.session, "get_spark", fake_get_spark)
    args = ["--stream", "s", "--shapes", "x.csv", "--target", "t", "--report", "r"]
    with pytest.raises(RuntimeError, match="no session"):
        main(args + (["--follow"] if follow else []))
    jvm = (seen.get("extra_conf") or {}).get("spark.driver.defaultJavaOptions")
    assert jvm == ("-XX:TieredStopAtLevel=4" if follow else None)
