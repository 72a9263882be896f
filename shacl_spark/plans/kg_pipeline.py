"""End-to-end KG construction plan (SURVEY.md §3.3, BASELINE.json:14):

    scan → extract (A1–A6, one Arrow-UDF stage) → dedup (A12)
      → checkpoint triples (A14; one write job per corpus-sized group)
      → link + canonicalize (A7–A11)
      → materialize the edge table, then the node table from it (A13, A16)
      → drop the checkpoint (the build has committed; A14)
      → validate the written edge table against the SHACL metamodel (§2.B)

Each intermediate is computed once: the canonical rewrite runs only
inside the edge-table write, and the node table, the validator and the
returned triples all read that written table back, so nothing reads the
checkpoint once the tables are written.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from shacl_spark.kg.canon import canonicalize
from shacl_spark.kg.checkpoint import drop, run_with_checkpoints
from shacl_spark.kg.extract import extract_triples
from shacl_spark.kg.materialize import read_edges, write_graph
from shacl_spark.shacl import validate


@dataclass
class KgBuildResult:
    triples: DataFrame
    report: DataFrame
    metrics: dict = field(default_factory=dict)


def build_kg(
    spark: SparkSession,
    corpus: DataFrame,
    out_dir: str,
    shapes_rows=None,
    n_parts: int = 1024,
    ckpt: bool = True,
    link_threshold: float = 0.75,
) -> KgBuildResult:
    """Run the full pipeline over a source-code corpus
    ``(repo, path, commit, lang, content)``; returns the canonical
    triples (read back from the edge table), the validation report, and
    write metrics: the edge and node row counts, and ``bytes``, the size
    of every file under the two committed tables."""
    triples = extract_triples(corpus, n_parts=n_parts)

    ckpt_dir = os.path.join(out_dir, "checkpoint")
    if ckpt:
        triples = run_with_checkpoints(triples, ckpt_dir, n_parts=n_parts)

    # a checkpointed input is already a parquet scan: materializing it
    # again in canonicalize would buy nothing
    canonical = canonicalize(triples, threshold=link_threshold, checkpoint_input=not ckpt)
    metrics = write_graph(canonical, out_dir)
    drop(ckpt_dir)
    metrics["bytes"] = sum(
        os.path.getsize(os.path.join(d, name))
        for table in ("edges", "nodes")
        for d, _, names in os.walk(os.path.join(out_dir, table))
        for name in names
    )
    triples = read_edges(canonical, out_dir)

    report = (
        # canonical triples are distinct by construction (A12 dedup)
        validate(spark, triples, shapes_rows, assume_distinct=True)
        if shapes_rows
        else spark.createDataFrame([], "focus string, component string")
    )
    return KgBuildResult(triples=triples, report=report, metrics=metrics)
