"""Exactly-once streaming triple upsert with retractions (SURVEY.md
§2.E "stateful dedup/CDC"): one merge-on-read tombstone sink.

Without a Delta/Iceberg MERGE target in this container, the upsert is
emulated scale-correctly.  Each batch row carries an ``op`` column
(``'+'`` upsert / ``'-'`` delete); a batch without one is all ``'+'``,
so an adds-only feed is a CDC feed with no retractions.  The target is
APPEND-ONLY: every accepted change is written as ``(triple, op, seq)``
and :meth:`TombstoneTripleSink.current` reconstructs the live set by
keeping the highest-``seq`` op per triple identity and filtering to
``'+'`` — the merge-on-read shape (Hudi/Iceberg MOR).

Layout: each committed batch is one directory ``seq=<n>`` holding one
file set, and ``seq`` in its rows is ``n``.  The file count is
:func:`~shacl_spark.kg.materialize.file_count` of the written frame,
applied through a ``coalesce`` (no shuffle).  Reads list the
directories and see only those holding ``_SUCCESS``; the next ``seq``
is the newest committed one plus one, from the same listing (no Spark
job).  A write that dies before its commit leaves a directory without
``_SUCCESS``, which reads ignore and the next append at that ``seq``
overwrites.

Each micro-batch

1. nets itself per ``tid`` (``'-'`` wins a same-batch ``+``/``-``
   pair: the net effect of add+retract is absence),
2. reads the target to find which of its triples are live, and
3. APPENDS the rows that change the live set as a new directory.

A committed directory is the exact net delta of its batch, ``op``
included, so it doubles as the batch's journal: a consumer that records
which ``seq`` it has processed finds the unprocessed deltas in the
listing (streaming/validate_stream.py).  A replay of a committed batch
computes an empty delta and appends nothing.

Compaction, run by the validator when
:meth:`TombstoneTripleSink.compaction_due` (the directories newer than
the oldest one hold as many bytes as the oldest one), is two steps:
:meth:`~TombstoneTripleSink.commit_base` writes the live rows as a new
directory at the next ``seq``, and only after that commit
:meth:`~TombstoneTripleSink.drop_before` deletes the older directories,
oldest first, each by removing its ``_SUCCESS`` before its files.  At
every crash point the newest row of each triple identity is in the new
base or in a surviving newer directory, so reads stay exact.  The
rewrite is geometric: its amortized cost is O(1) per appended byte,
stored bytes stay O(live), and the ``current()`` window covers the live
set plus recent batches, not the history.  On a cluster with
Delta/Iceberg the append becomes a single MERGE INTO; the streaming
scaffolding is unchanged.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window as W

from shacl_spark.functions.terms import TRIPLE_COLS, TRIPLE_SCHEMA, triple_id
from shacl_spark.kg.materialize import file_count

# the target's layout, given to every read so that no read pays a
# schema-inference job
_TARGET_SCHEMA = T.StructType(
    list(TRIPLE_SCHEMA.fields)
    + [
        T.StructField("op", T.StringType(), True),
        T.StructField("seq", T.LongType(), True),
    ]
)


def batch_op(batch: DataFrame) -> Column:
    """The batch's ``op``: a batch without the column is all ``'+'``."""
    return F.col("op") if "op" in batch.columns else F.lit("+")


def _drop(path: str) -> None:
    """Delete a committed directory: its ``_SUCCESS`` first, so a crash
    part-way leaves a directory that reads ignore."""
    os.remove(os.path.join(path, "_SUCCESS"))
    shutil.rmtree(path)


def _bytes(path: str) -> int:
    return sum(e.stat().st_size for e in os.scandir(path) if e.is_file())


class TombstoneTripleSink:
    def __init__(self, spark: SparkSession, target_dir: str):
        self.spark = spark
        self.target_dir = target_dir

    def _committed(self) -> list[tuple[int, str]]:
        """``(seq, directory)`` of every committed batch, oldest first."""
        if not os.path.isdir(self.target_dir):
            return []
        return sorted(
            (int(d[4:]), os.path.join(self.target_dir, d))
            for d in os.listdir(self.target_dir)
            if d.startswith("seq=")
            and os.path.isfile(os.path.join(self.target_dir, d, "_SUCCESS"))
        )

    def _next_seq(self) -> int:
        committed = self._committed()
        return committed[-1][0] + 1 if committed else 1

    def _read(self, committed: list[tuple[int, str]]) -> DataFrame | None:
        if not committed:
            return None
        return self.spark.read.schema(_TARGET_SCHEMA).parquet(*[d for _, d in committed])

    @staticmethod
    def _latest(df: DataFrame) -> DataFrame:
        """Keep the highest-seq row per triple identity (a directory
        holds one row per tid and has its own seq, so there are no
        ties)."""
        df = df.withColumn("tid", triple_id())
        w = W.partitionBy("tid").orderBy(F.desc("seq"))
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )

    def current(self) -> DataFrame:
        """The live triple set (triple columns only)."""
        existing = self._read(self._committed())
        if existing is None:
            return self.spark.createDataFrame([], TRIPLE_SCHEMA)
        return self._latest(existing).where(F.col("op") == "+").select(TRIPLE_COLS)

    def _compute_delta(self, batch: DataFrame) -> DataFrame:
        """``batch`` has the triple columns (``TRIPLE_COLS``; lineage
        may be null) and optionally ``op``.  Returns the rows to append
        (materialized; triple columns plus tid/op): the NET changes of
        the live set, which are also the incremental validator's
        ``changed``.

        The batch feeds one aggregate: per tid the triple columns of
        one of its rows (all equal but lineage) and the net op, ``'-'``
        winning (max in ASCII)."""
        rows = (
            batch.withColumn("tid", triple_id())
            .groupBy("tid")
            .agg(
                *[F.first(c).alias(c) for c in TRIPLE_COLS],
                F.max(batch_op(batch)).alias("op"),
            )
        )
        existing = self._read(self._committed())
        if existing is None:
            applied = rows.where(F.col("op") == "+")
        else:
            live = (
                self._latest(existing)
                .where(F.col("op") == "+")
                .select("tid", F.lit(True).alias("__live"))
            )
            # an add changes the live set iff the triple is not live, a
            # retraction iff it is
            applied = (
                rows.join(live, "tid", "left")
                .where((F.col("op") == "+") == F.col("__live").isNull())
                .drop("__live")
            )
        return applied.localCheckpoint(eager=True)

    def _append(self, rows: DataFrame) -> int:
        """Commit ``rows`` (a delta from :meth:`_compute_delta`, or the
        live set) as the next ``seq=<n>`` directory of
        :func:`file_count` files; returns ``n``.  ``seq`` comes from the
        target's listing, never from an epoch id: a stream restarted
        without a checkpoint location renumbers epochs from 0, and an
        epoch-derived seq would let an old row outrank a newer
        tombstone in :meth:`_latest`.  Overwrite clears what an
        uncommitted write at ``n`` left behind."""
        seq = self._next_seq()
        (
            rows.drop("tid")
            .withColumn("seq", F.lit(seq).cast("long"))
            .coalesce(file_count(rows))
            .write.mode("overwrite")
            .parquet(os.path.join(self.target_dir, f"seq={seq}"))
        )
        return seq

    def _merge_batch(self, batch: DataFrame) -> DataFrame:
        """Merge one micro-batch; returns the NET change rows (triple
        columns and ``op``; additions and removals).  A batch with no
        net change commits no directory."""
        applied = self._compute_delta(batch)
        if not applied.isEmpty():
            self._append(applied)
        return applied.drop("tid")

    def compaction_due(self) -> bool:
        """The geometric rule: the committed directories newer than the
        oldest one hold at least as many bytes as the oldest one."""
        sizes = [_bytes(d) for _, d in self._committed()]
        return len(sizes) > 1 and sum(sizes[1:]) >= sizes[0]

    def commit_base(self) -> int:
        """Compaction's first step: commit the live rows as the next
        directory; returns its seq."""
        existing = self._read(self._committed())
        return self._append(self._latest(existing).where(F.col("op") == "+"))

    def drop_before(self, seq: int) -> None:
        """Compaction's last step: delete every committed directory
        older than ``seq``, oldest first (the crash order is in the
        module docstring)."""
        for s, d in self._committed():
            if s < seq:
                _drop(d)
