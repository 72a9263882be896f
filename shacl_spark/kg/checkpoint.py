"""Checkpoint/resume manifest (SURVEY.md §2.A A14; BASELINE.json:14
"resumable from checkpoint with per-partition lineage + metrics").

The unit of resumability is a group of deterministic extraction
partitions ``part_id`` (a pure hash of file identity — stable across
reruns and physical repartitioning).  Each group is one Spark job: one
scan of its slice of the corpus and one plain parquet file set under
``triples/group=<g>/``, with ``part_id`` kept as a data column.  A
manifest file naming the group's partitions is written after the data
commit; a rerun skips groups whose partitions are all in the manifest
and overwrites any other group, so a kill between the two redoes that
group idempotently.

Group rule: one group per ``GROUP_INPUT_BYTES`` of the corpus files the
extraction reads (at least one, at most ``n_parts``).  A small corpus
is one group, one job and one scan; a large one still loses at most
one group of work to a kill.  A corpus with no listed files (in-memory
data, a non-file source) has no known size and keeps groups of
``UNSIZED_GROUP_SIZE`` partitions.

The checkpoint lives until the build commits: once the edge and node
tables are written, nothing reads it again, and :func:`drop` deletes it
(at corpus scale it is a second copy of nearly every edge row).  A
killed build keeps it and resumes.  :func:`drop` removes the manifest
before the data: a crash between the two leaves data with no manifest,
which a rerun re-extracts group by group in overwrite mode; the reverse
order could leave a manifest naming deleted groups, and a rerun would
then read nothing.
"""

from __future__ import annotations

import glob
import json
import math
import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

GROUP_INPUT_BYTES = 1 << 30
UNSIZED_GROUP_SIZE = 256


def input_bytes(df: DataFrame) -> int:
    """Bytes on disk of the files ``df`` scans: the file lengths Spark's
    file index already listed, summed once per distinct scan (0 when no
    leaf of the plan is a file scan, e.g. in-memory or checkpointed
    data).  No Spark job, no file-system call per file, and not
    Catalyst's plan-size estimate."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    sizes = {}
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() != "LogicalRelation":
            continue
        relation = leaf.relation()
        if relation.getClass().getSimpleName() == "HadoopFsRelation":
            index = relation.location()
            sizes[index.rootPaths().toString()] = index.sizeInBytes()
    return sum(sizes.values())


def manifest_path(ckpt_dir: str) -> str:
    return os.path.join(ckpt_dir, "_manifest")


def drop(ckpt_dir: str) -> None:
    """Delete the checkpoint, manifest first (the order is the module
    docstring's)."""
    for path in (manifest_path(ckpt_dir), ckpt_dir):
        if os.path.isdir(path):
            shutil.rmtree(path)


def completed_partitions(ckpt_dir: str) -> set[int]:
    """The partitions named in the manifest (the driver wrote it; read
    it without Spark)."""
    done: set[int] = set()
    for name in glob.glob(os.path.join(manifest_path(ckpt_dir), "group-*.json")):
        with open(name) as f:
            done.update(json.loads(line)["part_id"] for line in f if line.strip())
    return done


def run_with_checkpoints(
    triples: DataFrame,
    ckpt_dir: str,
    group_size: int | None = None,
    n_parts: int = 1024,
) -> DataFrame:
    """Write ``triples`` one group of ``part_id``s at a time, skipping
    completed groups; returns the full checkpointed triple set (a
    parquet scan over the checkpoint dir, same columns as ``triples``).

    ``group_size`` defaults to the group rule in the module docstring."""
    if group_size is None:
        n_bytes = input_bytes(triples)
        if n_bytes:
            n_groups = min(n_parts, math.ceil(n_bytes / GROUP_INPUT_BYTES))
            group_size = math.ceil(n_parts / n_groups)
        else:
            group_size = UNSIZED_GROUP_SIZE
    done = completed_partitions(ckpt_dir)
    pending = [
        g
        for g in range(math.ceil(n_parts / group_size))
        if not all(p in done for p in range(g * group_size, (g + 1) * group_size))
    ]

    os.makedirs(manifest_path(ckpt_dir), exist_ok=True)
    data_dir = os.path.join(ckpt_dir, "triples")

    for g in pending:
        lo, hi = g * group_size, (g + 1) * group_size
        batch = triples.where((F.col("part_id") >= lo) & (F.col("part_id") < hi))
        batch.write.mode("overwrite").parquet(os.path.join(data_dir, f"group={g}"))
        # manifest rows are written AFTER the data commit — a kill between
        # the two re-does the group idempotently
        rows = [json.dumps({"part_id": p, "group": g}) for p in range(lo, hi)]
        with open(os.path.join(manifest_path(ckpt_dir), f"group-{g}.json"), "w") as f:
            f.write("\n".join(rows) + "\n")

    # the known schema skips the footer-inference job, and the explicit
    # projection keeps the group directory out of the columns.  The group
    # directories are listed here, not passed as a glob: Spark's
    # metadata-log probe stats a glob path literally and logs a
    # FileNotFoundException for it
    groups = sorted(glob.glob(os.path.join(data_dir, "group=*")))
    return (
        triples.sparkSession.read.schema(triples.schema)
        .parquet(*groups)
        .select(*triples.columns)
    )
