"""Node/edge table materialization with lineage + metrics (SURVEY.md
§2.A A13, A16; BASELINE.json:6 "materializes node/edge Iceberg tables
with per-partition lineage").

In-sandbox the sink is parquet; on a cluster with the Iceberg runtime
the same frames go through ``writeTo(...).partitionedBy(bucket(N,
"subj"))`` — the writer is isolated here so that swap is one function.

The edge table is written first; the node table is derived from the
written edge table, so the frame handed to ``write_graph`` is computed
once.  Writes are range-partitioned on the key (A16), so each file
holds a disjoint key range and downstream scans can prune files.
A single file needs no range-boundary sampling job.

:func:`file_count` is the one file-count rule of every table this
package writes (the edge and node tables here, the stream sink's batch
and compaction directories and its report versions): one file per
``FILE_BYTES`` of the files the written frame scans (at least one).  A
frame with no file scan under it (a build without the checkpoint, whose
canonical input is a local checkpoint) has no known size and keeps one
file per core, at least ``UNSIZED_FILES``.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from shacl_spark.functions.terms import RDF_TYPE, triple_id
from shacl_spark.kg.checkpoint import input_bytes

FILE_BYTES = 128 << 20
UNSIZED_FILES = 8


def node_table(triples: DataFrame) -> DataFrame:
    """Distinct IRIs with their rdf:type labels (if any)."""
    subj = triples.select(F.col("subj").alias("iri"))
    obj = triples.where(F.col("obj_kind") == "iri").select(F.col("obj").alias("iri"))
    nodes = subj.unionByName(obj).distinct()
    labels = (
        triples.where(F.col("pred") == RDF_TYPE)
        .groupBy(F.col("subj").alias("iri"))
        .agg(F.sort_array(F.collect_set("obj")).alias("types"))
    )
    return nodes.join(labels, "iri", "left").select(
        "iri", F.coalesce("types", F.array().cast("array<string>")).alias("types")
    )


def edge_table(triples: DataFrame) -> DataFrame:
    """Triples + the deterministic content-addressed row id (§1.4)."""
    return triples.withColumn("triple_id", triple_id())


def read_edges(triples: DataFrame, out_dir: str) -> DataFrame:
    """The edge table written from ``triples``, read back in its
    columns (no row id).  The known schema skips parquet's
    footer-inference job."""
    return triples.sparkSession.read.schema(triples.schema).parquet(
        os.path.join(out_dir, "edges")
    )


def file_count(df: DataFrame) -> int:
    """How many files a write of ``df`` gets (the rule in the module
    docstring); needs no Spark job."""
    n_bytes = input_bytes(df)
    if n_bytes:
        return math.ceil(n_bytes / FILE_BYTES)
    return max(df.sparkSession.sparkContext.defaultParallelism, UNSIZED_FILES)


def _write_table(df: DataFrame, key: str, path: str) -> int:
    """Range-partition ``df`` on ``key`` into :func:`file_count` files;
    returns the row count, observed during the write."""
    n_files = file_count(df)
    # observe ABOVE the range exchange: repartitionByRange makes a
    # sampling pass over its child to pick boundaries, which would run a
    # child-side CollectMetrics twice and double the counts
    obs = Observation(os.path.basename(path))
    (
        df.repartitionByRange(n_files, key)
        .observe(obs, F.count(F.lit(1)).alias("rows"))
        .write.mode("overwrite")
        .parquet(path)
    )
    return obs.get["rows"]


def write_graph(triples: DataFrame, out_dir: str) -> dict[str, int]:
    """Materialize the edge table, then the node table read back from
    it; returns the observed row counts."""
    edges = _write_table(edge_table(triples), "subj", os.path.join(out_dir, "edges"))
    nodes = _write_table(
        node_table(read_edges(triples, out_dir)), "iri", os.path.join(out_dir, "nodes")
    )
    return {"edges": edges, "nodes": nodes}
