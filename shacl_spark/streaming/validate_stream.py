"""Continuous SHACL validation of a triple CDC stream: the capstone
composition — Structured Streaming + the partitioned exactly-once
upsert + incremental revalidation.

Each micro-batch, whether or not its rows carry an ``op`` column (none
means all ``'+'``):

1. computes its net change against the merge-on-read triple target
   (:class:`~shacl_spark.streaming.upsert.TombstoneTripleSink` —
   O(batch + touched rows' files)) and, from an Observation on the same
   job, a content fingerprint of the raw batch,
2. journals that change durably (``report_dir/_delta/epoch=<id>``,
   with an ``_fp_<fingerprint>`` file) and then appends the journal's
   files to the target as its next committed ``seq=<n>`` directory,
   sized from their bytes,
3. incrementally revalidates only the focus nodes the change can
   affect (shacl/incremental.py — additions and retractions both seed
   it; work scales with |delta|, not |graph|),
4. persists the merged report as one file set under a new version
   directory (``report_dir/v=<n>``, its file count from
   :func:`~shacl_spark.kg.materialize.file_count`) with an
   ``_epoch_<id>_<fingerprint>`` marker, then prunes the journal.
   Versions are append-only and all are kept, so reading the previous
   report and writing the next one never self-overwrites, and a crash
   mid-write leaves the previous version intact.

Between batches — at the start of a batch, once the previous one fully
committed — the target is compacted when the sink's geometric rule says
so (:meth:`~shacl_spark.streaming.upsert.TombstoneTripleSink.
compaction_due`: the newer directories outgrew the oldest one).  The
live set is committed as a new directory before any older one is
deleted, oldest first, so a crash at any step of it leaves reads exact,
and a later compaction redoes an interrupted one.  Compaction keeps the
live set as it is, so a replay's journal and report logic hold across
it.  It never runs after a run's last batch, where stopping the query
would cancel it half-way.

An epoch replay with a committed journal of the same fingerprint tells
the crash windows apart:

- marked report present → the batch fully committed (the crash hit
  after the marker): prune the journal;
- no marked report → the crash hit after the journal commit, after the
  target append, or after the report's parquet commit but before its
  marker: re-append the journal (rows already committed come back as
  equal-op duplicates at a higher ``seq``, which merge-on-read
  collapses) and recompute the report from the JOURNAL's delta into
  the next version.

Without a matching journal a replay takes the normal path, whose delta
is empty once the batch is applied.  The fingerprint, not the epoch id,
keys the journal: a stream restarted without a checkpoint location
numbers epochs from 0 again.  On a Delta/Iceberg cluster the same loop
runs against MERGE + snapshot reads.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from shacl_spark.functions.terms import TRIPLE_COLS, triple_id
from shacl_spark.kg.materialize import file_count
from shacl_spark.shacl.engine import REPORT_OUT_SCHEMA
from shacl_spark.shacl.incremental import incremental_revalidate, shapes_footprint
from shacl_spark.shacl.parser import parse_shapes_graph
from shacl_spark.shacl.shapes import ShapesGraph
from shacl_spark.streaming.upsert import _TARGET_SCHEMA, TombstoneTripleSink, batch_op


def fingerprint(batch: DataFrame) -> list[Column]:
    """Order-independent content fingerprint of a micro-batch: the row
    count and TWO independently-salted sums of ``xxhash64(tid, op)``
    (colliding both needs the full hash width, not one lucky sum).
    Decimal accumulators: a plain long sum of 2^63-range hashes
    overflows under ANSI mode.  Epoch ids alone are NOT a safe replay
    key (see the module docstring)."""
    key = F.concat(triple_id(), batch_op(batch))
    return [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(key).cast("decimal(38,0)")).alias("s"),
        F.sum(F.xxhash64(key, F.lit("\x02fp2")).cast("decimal(38,0)")).alias("s2"),
    ]


def _touch(path: str) -> None:
    open(path, "w").close()


class StreamingValidator:
    def __init__(
        self,
        spark: SparkSession,
        shapes_rows_or_graph,
        target_dir: str,
        report_dir: str,
        n_parts: int = 16,
        cdc: bool = False,
    ):
        """``cdc`` is accepted and ignored: every batch goes through the
        one tombstone sink, and a batch without an ``op`` column is all
        upserts."""
        self.spark = spark
        self.shapes: ShapesGraph = (
            shapes_rows_or_graph
            if isinstance(shapes_rows_or_graph, ShapesGraph)
            else parse_shapes_graph(shapes_rows_or_graph)
        )
        self.sink = TombstoneTripleSink(spark, target_dir, n_parts=n_parts)
        self.report_dir = report_dir
        # steady-state edge cache: the footprint-predicate adjacency
        # collected by the first batch is RETAINED and maintained by
        # applying each batch's net delta, so later batches skip the
        # per-batch full-graph edge collect entirely.  A pure
        # driver-side cache: crash/restart just loses it and the next
        # batch rebuilds from the durable target (bounded by the same
        # cap as the collect path).
        self._edges = None
        self._edge_cap = 500_000

    # --- report versions --------------------------------------------------------

    def _versions(self) -> list[int]:
        if not os.path.isdir(self.report_dir):
            return []
        return sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(self.report_dir)
            if d.startswith("v=")
            # a version is only real once its parquet job committed — a
            # crash mid-write leaves a directory without _SUCCESS and
            # the previous version stays current
            and os.path.isfile(os.path.join(self.report_dir, d, "_SUCCESS"))
        )

    def current_report(self) -> DataFrame:
        vs = self._versions()
        if not vs:
            return self.spark.createDataFrame([], REPORT_OUT_SCHEMA)
        return self.spark.read.schema(REPORT_OUT_SCHEMA).parquet(
            os.path.join(self.report_dir, f"v={vs[-1]}")
        )

    # --- the per-batch loop -------------------------------------------------------

    def _delta_dir(self, epoch_id: int) -> str:
        return os.path.join(self.report_dir, "_delta", f"epoch={epoch_id}")

    def _journal_fp(self, epoch_id: int) -> str | None:
        """The fingerprint of a fully-committed journal, else None."""
        d = self._delta_dir(epoch_id)
        if not os.path.isfile(os.path.join(d, "_SUCCESS")):
            return None
        fps = [f[4:] for f in os.listdir(d) if f.startswith("_fp_")]
        return fps[0] if fps else None

    def _report_marks_epoch(self, epoch_id: int, fp: str) -> bool:
        return any(
            os.path.isfile(
                os.path.join(self.report_dir, f"v={v}", f"_epoch_{epoch_id}_{fp}")
            )
            for v in self._versions()
        )

    def _journal(self, epoch_id: int) -> DataFrame:
        return self.spark.read.schema(_TARGET_SCHEMA).parquet(self._delta_dir(epoch_id))

    def _write_report(self, report: DataFrame, epoch_id: int, fp: str) -> None:
        nxt = (self._versions() or [0])[-1] + 1
        vdir = os.path.join(self.report_dir, f"v={nxt}")
        report.coalesce(file_count(report)).write.mode("overwrite").parquet(vdir)
        # marker AFTER the parquet commit: a crash in between just makes
        # the next replay recompute into v=n+1 (wasted work, not a gap)
        _touch(os.path.join(vdir, f"_epoch_{epoch_id}_{fp}"))

    def _on_batch(self, batch: DataFrame, epoch_id: int) -> None:
        # compaction runs between batches, once the previous one fully
        # committed, and before this one computes its delta; never after
        # a run's last batch, where stopping the query would cancel it
        if self.sink.compaction_due():
            self.sink.compact()
        # the fingerprint is an Observation on the RAW batch, resolved
        # by _compute_delta's own jobs; on an epoch replay the computed
        # delta is discarded — the journal is authoritative there
        obs = Observation()
        applied = self.sink._compute_delta(batch.observe(obs, *fingerprint(batch)))
        fp = "{n}_{s}_{s2}".format(**obs.get)
        # a committed journal is authoritative ONLY for the same batch
        # content: a restarted (checkpoint-less) stream reuses epoch
        # ids, and that collision must fall through to the normal path
        if self._journal_fp(epoch_id) == fp:
            if not self._report_marks_epoch(epoch_id, fp):
                # the crash landed between the journal write and the
                # report's marker: the edge cache may predate it — drop
                # it, the incremental pass collects a fresh one
                self._edges = None
                self._apply(self._journal(epoch_id), epoch_id, fp)
            # else target + report both committed; only the prune may
            # be missing
        elif applied.isEmpty():
            return  # no net change (or a completed epoch whose journal
            #         was already pruned): the report stands
        else:
            journal = applied.drop("tid")
            # durable journal FIRST: if the process dies after the target
            # append, the replay still knows exactly what was applied;
            # the fingerprint file attributes it to THIS batch's content
            journal.write.mode("overwrite").parquet(self._delta_dir(epoch_id))
            _touch(os.path.join(self._delta_dir(epoch_id), f"_fp_{fp}"))
            self._apply(journal, epoch_id, fp)
        # the batch is committed: without the journal a replay takes the
        # normal path, recomputes an empty delta, and no-ops
        shutil.rmtree(self._delta_dir(epoch_id), ignore_errors=True)

    def _apply(self, delta: DataFrame, epoch_id: int, fp: str) -> None:
        """Append the journalled ``delta`` to the target, revalidate,
        and write the marked report version.  The append reads the
        journal's files, so its file count comes from their bytes; a
        replay re-appends rows that may already be committed, which is
        idempotent under merge-on-read."""
        self.sink._append(self._journal(epoch_id))
        cur = self.sink.current()
        if self._edges is not None:
            # roll the cached adjacency forward to the post-append graph
            # (journal rows are the exact net delta; op '-' retracts)
            self._edges.apply_delta(delta, shapes_footprint(self.shapes))
            if self._edges.dirty or self._edges.n_rows > self._edge_cap:
                self._edges = None
        if not self._versions():
            # first batch: there is nothing to merge and the delta IS
            # the graph — a plain full validation gives the identical
            # report without paying affected-set analysis over every
            # node (matters when a stream starts from a bulk load)
            from shacl_spark.shacl import validate

            report = validate(self.spark, cur, self.shapes, assume_distinct=True)
            # warm the footprint-edge cache NOW: the seed batch is the
            # natural place to pay the one bounded edge collect, so the
            # first CDC batch already runs in the steady state instead
            # of collecting the full-graph adjacency cold
            from shacl_spark.shacl.incremental import collect_local_edges

            self._edges = collect_local_edges(
                cur, shapes_footprint(self.shapes), self._edge_cap
            )
        else:
            st: dict = {}
            report = incremental_revalidate(
                self.spark,
                # the merge-on-read read is one row per tid — skip the
                # defensive re-dedup scan
                cur,
                delta.select(TRIPLE_COLS),
                self.shapes,
                self.current_report(),
                assume_distinct=True,
                local_edges=self._edges,
                stats=st,
            )
            if self._edges is None:
                # retain the adjacency the incremental pass collected
                # from ``cur`` — subsequent batches maintain it
                self._edges = st.get("_edges_obj")
        self._write_report(report, epoch_id, fp)

    def start(
        self,
        stream: DataFrame,
        trigger_available_now: bool = True,
        checkpoint_location: str | None = None,
    ):
        """Attach to a streaming triple frame (the triple columns,
        optionally with ``op``).  Returns the StreamingQuery.  Pass
        ``checkpoint_location`` in production so restarts resume epoch
        numbering and skip already-seen input.  Correctness without a
        checkpoint: the content fingerprint keys journal replay to batch
        CONTENT (epoch-id collisions after a checkpoint-less restart
        fall through to the normal path), and the sink derives ``seq``
        from the target itself — never from the epoch id — so restarted
        epoch numbering cannot reorder merges."""
        writer = stream.writeStream.foreachBatch(self._on_batch).outputMode("append")
        if checkpoint_location:
            writer = writer.option("checkpointLocation", checkpoint_location)
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()
