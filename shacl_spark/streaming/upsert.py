"""Exactly-once streaming triple upsert with retractions (SURVEY.md
§2.E "stateful dedup/CDC"): one merge-on-read tombstone sink.

Without a Delta/Iceberg MERGE target in this container, the upsert is
emulated scale-correctly.  Each batch row carries an ``op`` column
(``'+'`` upsert / ``'-'`` delete); a batch without one is all ``'+'``,
so an adds-only feed is a CDC feed with no retractions.  The target is
APPEND-ONLY and hash-partitioned on the triple identity
(``part=pmod(xxhash64(tid), n_parts)``): every accepted change is
written as ``(triple, op, seq)`` and :meth:`TombstoneTripleSink.current`
reconstructs the live set by keeping the highest-``seq`` op per triple
identity and filtering to ``'+'`` — the merge-on-read shape
(Hudi/Iceberg MOR); on a real table a background compaction folds
tombstones, here :meth:`TombstoneTripleSink.compact` does.

Each micro-batch

1. nets itself per ``tid`` (``'-'`` wins a same-batch ``+``/``-``
   pair: the net effect of add+retract is absence),
2. reads ONLY the touched partitions of the target (partition pruning:
   the scan reads just those directories) to find which triples are
   live and the next ``seq``, and
3. APPENDS the rows that change the live set through Spark's
   file-commit protocol.

This is O(|batch| + |touched partitions|) per batch — not O(|target|)
— and there is no delete/rename swap window: a crash mid-write leaves
only uncommitted ``_temporary`` files, which parquet reads ignore.  The
one non-atomic edge is a crash DURING job commit (some task files
renamed, some not); a replay then re-appends rows whose files already
committed, which are equal ``(tid, seq, op)`` duplicates that the
window in :meth:`TombstoneTripleSink._latest` collapses.  On a cluster
with Delta/Iceberg the append becomes a single MERGE INTO; the
streaming scaffolding is unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window as W

from shacl_spark.functions.terms import TRIPLE_COLS, TRIPLE_SCHEMA, triple_id

# the target's (and the journal's) layout, given to every read so that
# no read pays a schema-inference job
_TARGET_SCHEMA = T.StructType(
    list(TRIPLE_SCHEMA.fields)
    + [
        T.StructField("op", T.StringType(), True),
        T.StructField("seq", T.LongType(), True),
        T.StructField("part", T.IntegerType(), True),
    ]
)


def batch_op(batch: DataFrame) -> Column:
    """The batch's ``op``: a batch without the column is all ``'+'``."""
    return F.col("op") if "op" in batch.columns else F.lit("+")


class TombstoneTripleSink:
    def __init__(self, spark: SparkSession, target_dir: str, n_parts: int = 16):
        """``n_parts`` fixes the target's hash-partition count — pick
        ~(total size / healthy file size) at deployment scale; it must
        stay constant for the lifetime of a target directory."""
        self.spark = spark
        self.target_dir = target_dir
        self.n_parts = n_parts

    def _read_target(self) -> DataFrame | None:
        if not os.path.isdir(self.target_dir):
            return None
        if not any(f.startswith("part=") for f in os.listdir(self.target_dir)):
            return None
        return self.spark.read.schema(_TARGET_SCHEMA).parquet(self.target_dir)

    @staticmethod
    def _latest(df: DataFrame) -> DataFrame:
        """Keep the highest-seq row per triple identity; op DESC on seq
        ties so ``'-'`` wins ('-' > '+' in ASCII — a crash-replayed
        append only ever duplicates (tid, seq) with the SAME op, so
        ties are equal-op duplicates or a same-batch +/- pair)."""
        df = df.withColumn("tid", triple_id())
        w = W.partitionBy("tid").orderBy(F.desc("seq"), F.desc("op"))
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )

    def current(self) -> DataFrame:
        """The live triple set (triple columns only)."""
        existing = self._read_target()
        if existing is None:
            return self.spark.createDataFrame([], TRIPLE_SCHEMA)
        return self._latest(existing).where(F.col("op") == "+").select(TRIPLE_COLS)

    def _compute_delta(self, batch: DataFrame) -> DataFrame:
        """``batch`` has the triple columns (``TRIPLE_COLS``; lineage
        may be null) and optionally ``op``.  Returns the rows to append
        (materialized; triple columns plus tid/op/part/seq): the NET
        changes of the live set, which are also the incremental
        validator's ``changed`` — split out from the append so a
        consumer can durably record the delta BEFORE it
        (streaming/validate_stream.py's crash-atomicity protocol).

        The batch feeds one aggregate: per tid the triple columns of
        one of its rows (all equal but lineage) and the net op, ``'-'``
        winning (max in ASCII).

        ``seq`` is derived from the TARGET (max existing seq over the
        touched partitions + 1), never from an epoch id: a stream
        restarted without a checkpoint location renumbers epochs from
        0, and an epoch-derived seq would let an old row outrank a
        newer tombstone in :meth:`_latest`.  Per-tid ordering only needs
        the max over the tid's own partition (a tid hashes to exactly
        one partition), so the pruned scan below is sufficient AND
        O(touched), not O(target).  Crash-replay safety: the journal
        persists the assigned seq, so a replay re-appends identical
        (tid, seq, op) rows (idempotent ties)."""
        rows = (
            batch.withColumn("tid", triple_id())
            .groupBy("tid")
            .agg(
                *[F.first(c).alias(c) for c in TRIPLE_COLS],
                F.max(batch_op(batch)).alias("op"),
            )
            .withColumn("part", F.pmod(F.xxhash64("tid"), F.lit(self.n_parts)).cast("int"))
        )
        existing = self._read_target()
        if existing is None:
            applied, next_seq = rows.where(F.col("op") == "+"), 1
        else:
            touched = [r["part"] for r in rows.select("part").distinct().collect()]
            pruned = existing.where(F.col("part").isin(touched)) if touched else existing.limit(0)
            pruned = pruned.localCheckpoint(eager=False)
            live = (
                self._latest(pruned)
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
            max_seq = pruned.agg(F.max("seq")).collect()[0][0]
            next_seq = (max_seq or 0) + 1
        return applied.withColumn("seq", F.lit(next_seq).cast("long")).localCheckpoint(
            eager=True
        )

    def _append(self, applied: DataFrame) -> None:
        """Append a precomputed delta (from :meth:`_compute_delta`, or
        its journal) through the file-commit protocol."""
        (
            applied.drop("tid")
            .write.mode("append")
            .partitionBy("part")
            .parquet(self.target_dir)
        )

    def _merge_batch(self, batch: DataFrame) -> DataFrame:
        """Merge one micro-batch; returns the NET change rows (triple
        columns; additions and removals)."""
        applied = self._compute_delta(batch)
        self._append(applied)
        return applied.select(TRIPLE_COLS)

    def compact(self) -> None:
        """Fold tombstones: rewrite the target to only the live rows
        (the background-compaction step a MOR table runs; after it the
        read-side window is over singleton groups)."""
        existing = self._read_target()
        if existing is None:
            return
        live = self._latest(existing).where(F.col("op") == "+").localCheckpoint(
            eager=True
        )
        import shutil as _shutil

        _shutil.rmtree(self.target_dir, ignore_errors=True)
        live.drop("tid").write.mode("overwrite").partitionBy("part").parquet(
            self.target_dir
        )
