"""SparkSession construction tuned for this engine.

Defaults follow the public Spark tuning guidance: AQE on, Arrow on,
shuffle partitions ≈ cores for local mode, UTC session timezone so
results hash-compare cleanly against DuckDB (which is UTC-naive),
zstd parquet files.  The driver JVM this launches compiles with C1
only: a one-build process exits before C2 code pays for its compiler
threads (measured, 4 vCPU: C2 took 24 of a cold ``kg_build``'s 63 cpu_s).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_MAX_DRIVER_MEM_MB = 16 * 1024


def default_driver_memory(meminfo: str) -> str:
    """The driver heap for a host whose ``/proc/meminfo`` reads
    ``meminfo``: half of ``MemTotal``, capped at 16g; 16g when the text
    gives no ``MemTotal``."""
    m = re.search(r"^MemTotal:\s+(\d+) kB", meminfo, re.MULTILINE)
    mb = int(m.group(1)) // 2048 if m else _MAX_DRIVER_MEM_MB
    return f"{min(mb, _MAX_DRIVER_MEM_MB)}m"


def get_spark(
    app_name: str = "shacl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falling back
    to ``local[*]``).  In local mode the driver is the only JVM, so
    ``spark.driver.memory`` is the sole memory knob; it must be set
    before the JVM starts, hence the env check rather than ``.config``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cpus), 8)
        except ValueError:
            shuffle_partitions = os.cpu_count() or 8

    # shuffle/spill scratch: on this sandbox the root disk serializes
    # concurrent shuffle writers (measured: 32-thread dedup shuffle 7×
    # slower than 8-thread on /tmp); tmpfs removes the bottleneck.  On a
    # real cluster spark.local.dir is provisioned NVMe and this default
    # is overridden by the deployment.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"

    try:
        n_cores = int(cpus)
    except ValueError:
        n_cores = os.cpu_count() or 8

    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if driver_mem is None:
        try:
            with open("/proc/meminfo") as f:
                meminfo = f.read()
        except OSError:
            meminfo = ""
        driver_mem = default_driver_memory(meminfo)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # scan-parallelism FLOOR (optimization guide §6): the bench
        # tables are a handful of parquet files, so the default
        # 128 MB-split packing reads them with 1-3 tasks on a 32-core
        # session (measured: sf0.1 lineitem = 3 splits, orders = 1) and
        # every scan-bound query idles 90% of the machine.  Derived
        # from the session's core count — scale-adaptive, not a local
        # constant; at deployment scale bytes/128 MB exceeds the floor
        # and this is a no-op.
        .config("spark.sql.files.minPartitionNum", str(n_cores))
        # the 4 MB default openCost floors split size at 4 MB, which
        # caps a 25 MB table at ~6 tasks regardless of the floor above;
        # 512 KB keeps small-file packing sane while letting
        # bytes/n_cores set the split size (no-op at deployment scale)
        .config("spark.sql.files.openCostInBytes", str(512 * 1024))
        # limit/take probes start at ONE partition and re-run the scan
        # with 4x scale-up until satisfied; bounded collects over
        # selective filters (incremental slices, cap probes) pay that
        # re-scan several times — start full-width instead
        .config("spark.sql.limit.initialNumPartitions", str(n_cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE partition coalescing runs at the DEFAULT
        # parallelismFirst=true: an earlier r06 session set it false to
        # collapse the many near-empty reduce stages validation then
        # scheduled, but after the engine restructuring (one up-front
        # subj partitioning, driver-side closure) that rationale is
        # gone and size-first coalescing serialized every medium
        # aggregation instead — a 45 MB post-shuffle stage (1.5M-group
        # revenue agg) coalesced to ONE task, 3.4× slower (measured;
        # validation itself is now ~15% FASTER at the default too)
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # prefer shuffled-hash over sort-merge when the planner's size
        # conditions fit (and let AQE demote an SMJ whose post-shuffle
        # partitions are small): SMJ pays two full sorts that hash
        # joins skip; both knobs only engage when the build side fits
        # per-partition memory, so they are scale-safe, not local-mode
        # tuning (optimization guide §3.1)
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "128m"
        )
        .config("spark.sql.session.timeZone", "UTC")
        # zstd, not snappy: snappy barely compresses the PLAIN-encoded
        # hex triple ids, zstd's entropy stage does (measured, 2,113
        # edges: edge + node files 217 KB → 126 KB); readers take the
        # codec from each file's footer
        .config("spark.sql.parquet.compression.codec", "zstd")
        # iterative fixpoint plans (localCheckpoint over union-derived
        # frames) trip Catalyst's UnionBase.rewriteConstraints with
        # "key not found: <attr>" — constraint propagation is an
        # optional inference pass; off is the documented mitigation
        .config("spark.sql.constraintPropagation.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # content-bearing Arrow batches: cap record count so ~100KB rows
        # stay inside comfortable batch memory (SURVEY.md §4.2)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", driver_mem)
        # C1 only (module docstring).  Spark puts this key in front of
        # extraJavaOptions; as builder config it also replaces a value
        # from spark-defaults.conf, so a caller that needs both passes
        # the merged value through extra_conf (SCALING.md, "Driver JVM")
        .config("spark.driver.defaultJavaOptions", "-XX:TieredStopAtLevel=1")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(
    spark: SparkSession, rows: list[tuple], schema: T.StructType | str
) -> DataFrame:
    """``rows`` as a frame Spark plans as a local relation.  It is built
    from a pyarrow table: a Python list is planned as a Python-RDD scan,
    which runs its rows through a Python worker in every job that reads
    it (a one-file write runs its partitions one after another)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.table([pa.array(c, f.type) for c, f in zip(cols, arrow)], schema=arrow)
    return spark.createDataFrame(table, schema)
