"""Continuous SHACL validation of a triple CDC stream (r03): the
capstone composition — Structured Streaming + the partitioned
exactly-once upsert + incremental revalidation.

Each micro-batch:

1. upserts into the hash-partitioned triple target
   (:class:`~shacl_spark.streaming.upsert.TripleUpsertSink` — O(batch),
   idempotent on epoch replay) and gets back the GENUINELY-new rows,
2. incrementally revalidates only the focus nodes that delta can
   affect (shacl/incremental.py — work scales with |delta|, not
   |graph|),
3. persists the merged report under a new version directory
   (``report_dir/v=<n>``) — versioned, append-only, so reading the
   previous report and writing the next one never self-overwrites, and
   a crash mid-write leaves the previous version intact.

Crash atomicity across the two writes (ADVICE r03, medium): the applied
delta is journalled durably (``report_dir/_delta/epoch=<id>``) BEFORE
the target append, and each report version carries an ``_epoch_<id>``
marker naming the batch it incorporates.  An epoch replay then
distinguishes the three crash windows:

- no committed journal → normal path (recompute the delta; empty means
  the epoch already fully applied or the batch is all-duplicate);
- journal committed, marked report present → done, no-op;
- journal committed, no marked report → the crash hit between the
  journal write and the report write: finish the append (the anti-join
  remainder is idempotent) and recompute the report from the JOURNAL's
  delta over a defensively deduped target scan (a crash during job
  commit can leave committed duplicate files — ``current(dedup=True)``
  collapses them, so the recovery never validates a duplicated graph).

Adds-only by default (append-only upsert target); ``cdc=True`` (r04)
switches to the merge-on-read tombstone sink so batches may RETRACT
triples ('op' column) and removals seed revalidation too.  On a
Delta/Iceberg cluster the same loop runs against MERGE + snapshot
reads.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shacl_spark.functions.terms import TRIPLE_SCHEMA
from shacl_spark.shacl.engine import REPORT_OUT_SCHEMA
from shacl_spark.shacl.incremental import incremental_revalidate
from shacl_spark.shacl.parser import parse_shapes_graph
from shacl_spark.shacl.shapes import ShapesGraph
from shacl_spark.streaming.upsert import TripleUpsertSink


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
        """``cdc=True`` (r04) switches the target to the tombstone sink:
        batches carry an ``op`` column ('+' upsert / '-' delete) and
        both additions AND retractions seed incremental revalidation —
        a removed triple can clear violations or create new ones
        (minCount)."""
        self.spark = spark
        self.shapes: ShapesGraph = (
            shapes_rows_or_graph
            if isinstance(shapes_rows_or_graph, ShapesGraph)
            else parse_shapes_graph(shapes_rows_or_graph)
        )
        self.cdc = cdc
        if cdc:
            from shacl_spark.streaming.upsert import TombstoneTripleSink

            self.sink = TombstoneTripleSink(spark, target_dir, n_parts=n_parts)
        else:
            self.sink = TripleUpsertSink(spark, target_dir, n_parts=n_parts)
        self.report_dir = report_dir
        # steady-state edge cache (r05): the footprint-predicate
        # adjacency collected by the first incremental batch is RETAINED
        # and maintained by applying each batch's net delta, so later
        # batches skip the per-batch full-graph edge collect entirely.
        # A pure driver-side cache: crash/restart just loses it and the
        # next batch rebuilds from the durable target (bounded by the
        # same cap as the collect path).
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

    @staticmethod
    def _batch_fp(batch: DataFrame) -> str:
        """Order-independent content fingerprint of a micro-batch
        (count + sum of triple-identity hashes).  Epoch ids alone are
        NOT a safe replay key: a stream restarted without a checkpoint
        location numbers epochs from 0 again, and a journal/marker
        keyed only by epoch would silently swallow or replace the new
        batch (r04 review finding #1)."""
        from shacl_spark.functions.terms import triple_id

        key = (
            F.concat(triple_id(), F.col("op"))
            if "op" in batch.columns
            else triple_id()
        )
        # TWO independently-salted sums (ADVICE r04, low): colliding a
        # single additive xxhash64 sum needs only a lucky (count, sum)
        # pair; colliding both salted sums simultaneously requires
        # breaking the full hash width.  Decimal accumulators: a plain
        # long sum of 2^63-range hashes overflows under ANSI mode.
        row = batch.select(
            F.count("*").alias("n"),
            F.sum(F.xxhash64(key).cast("decimal(38,0)")).alias("s"),
            F.sum(F.xxhash64(key, F.lit("\x02fp2")).cast("decimal(38,0)")).alias("s2"),
        ).collect()[0]
        return f"{row['n']}_{row['s']}_{row['s2']}"

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

    def _write_report(self, report: DataFrame, epoch_id: int, fp: str) -> None:
        nxt = (self._versions() or [0])[-1] + 1
        vdir = os.path.join(self.report_dir, f"v={nxt}")
        report.write.mode("overwrite").parquet(vdir)
        # marker AFTER the parquet commit: a crash in between just makes
        # the next replay recompute into v=n+1 (wasted work, not a gap)
        open(os.path.join(vdir, f"_epoch_{epoch_id}_{fp}"), "w").close()
        # the journal has served its purpose; without it a replay takes
        # the normal path, recomputes an empty delta, and no-ops
        shutil.rmtree(self._delta_dir(epoch_id), ignore_errors=True)

    def _on_batch(self, batch: DataFrame, epoch_id: int) -> None:
        applied = None
        if not self.cdc:
            # fold the content fingerprint into the delta computation
            # (r06): an Observation on the RAW batch resolves on
            # _compute_delta's own materialization, so the fingerprint
            # stops being a separate batch-scan job.  The metrics sit
            # below the dedup/anti-join, so they cover every raw row —
            # exactly what _batch_fp computed.  (The cdc sink reads the
            # batch twice in one plan — net-op groupBy + dedup join —
            # where an observed node would double-count, so that path
            # keeps the standalone fingerprint job.)  On an epoch
            # replay the precomputed delta is simply discarded — the
            # journal is authoritative there, and replays are rare.
            from pyspark.sql import Observation

            from shacl_spark.functions.terms import triple_id

            obs = Observation()
            key = triple_id()
            observed = batch.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.sum(F.xxhash64(key).cast("decimal(38,0)")).alias("s"),
                F.sum(F.xxhash64(key, F.lit("\x02fp2")).cast("decimal(38,0)")).alias("s2"),
            )
            applied = self.sink._compute_delta(observed)
            got = obs.get
            fp = f"{got['n']}_{got['s']}_{got['s2']}"
        else:
            fp = self._batch_fp(batch)
        # a committed journal is authoritative ONLY for the same batch
        # content: a restarted (checkpoint-less) stream reuses epoch
        # ids, and that collision must fall through to the normal path
        six = [f.name for f in TRIPLE_SCHEMA.fields]
        if self._journal_fp(epoch_id) == fp:
            if self._report_marks_epoch(epoch_id, fp):
                return  # target + report both committed for this batch
            # crash landed between the journal write and the report
            # write: the journalled delta is authoritative; the edge
            # cache may predate the crash — drop it, rebuild next batch
            self._edges = None
            if self.cdc:
                journal = self.spark.read.parquet(self._delta_dir(epoch_id))
                # re-appending (tid, seq, op) rows already present is
                # idempotent under merge-on-read (equal-op seq ties)
                self.sink._append(journal)
                delta = journal.select(six)
                triples = self.sink.current()
            else:
                delta = self.spark.read.schema(TRIPLE_SCHEMA).parquet(
                    self._delta_dir(epoch_id)
                )
                remainder = self.sink._compute_delta(delta)
                if not remainder.isEmpty():
                    self.sink._append(remainder)
                # a crash during the append's job commit can leave
                # committed duplicates — collapse them before validating
                triples = self.sink.current(dedup=True)
            report = incremental_revalidate(
                self.spark,
                triples,
                delta,
                self.shapes,
                self.current_report(),
                assume_distinct=True,
            )
            self._write_report(report, epoch_id, fp)
            return
        if self.cdc:
            applied, added, removed = self.sink._compute_delta(batch, epoch_id)
            if applied.isEmpty():
                return
            delta = added.unionByName(removed)
            journal = applied.drop("tid")
        else:
            # applied was computed above alongside the fingerprint
            if applied.isEmpty():
                return  # fully-duplicate batch (or completed epoch whose
                #         journal was already pruned): report stands
            delta = applied.drop("tid", "part")
            journal = delta
        # durable journal FIRST: if the process dies after the target
        # append below, the replay still knows exactly what was applied;
        # the fingerprint file attributes it to THIS batch's content
        journal.write.mode("overwrite").parquet(self._delta_dir(epoch_id))
        open(os.path.join(self._delta_dir(epoch_id), f"_fp_{fp}"), "w").close()
        self.sink._append(applied)
        cur = self.sink.current() if self.cdc else self.sink.current(dedup=False)
        if self._edges is not None:
            # roll the cached adjacency forward to the post-append graph
            # (journal rows are the exact net delta; op '-' retracts)
            from shacl_spark.shacl.incremental import shapes_footprint

            self._edges.apply_delta(journal, shapes_footprint(self.shapes))
            if self._edges.dirty or self._edges.n_rows > self._edge_cap:
                self._edges = None
        if not self._versions():
            # first batch: there is nothing to merge and the delta IS
            # the graph — a plain full validation gives the identical
            # report without paying affected-set analysis over every
            # node (r04; matters when a stream starts from a bulk load)
            from shacl_spark.shacl import validate

            report = validate(self.spark, cur, self.shapes, assume_distinct=True)
            # warm the footprint-edge cache NOW (r06): the seed batch
            # is the natural place to pay the one bounded edge collect,
            # so the first CDC batch already runs in the steady state
            # instead of collecting the full-graph adjacency cold
            from shacl_spark.shacl.incremental import (
                collect_local_edges,
                shapes_footprint,
            )

            self._edges = collect_local_edges(
                cur, shapes_footprint(self.shapes), self._edge_cap
            )
        else:
            st: dict = {}
            report = incremental_revalidate(
                self.spark,
                # append-only target is per-batch deduped on triple
                # identity (and the tombstone read is one-row-per-tid)
                # — skip the defensive re-dedup scan
                cur,
                delta,
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
        """Attach to a streaming triple frame (canonical 6-column
        schema).  Returns the StreamingQuery.  Pass
        ``checkpoint_location`` in production so restarts resume epoch
        numbering and skip already-seen input.  Correctness without a
        checkpoint: the content fingerprint keys journal replay to batch
        CONTENT (epoch-id collisions after a checkpoint-less restart
        fall through to the normal path), and in CDC mode the tombstone
        sink derives ``seq`` from the target itself — never from the
        epoch id — so restarted epoch numbering cannot reorder merges
        (ADVICE r04)."""
        writer = stream.writeStream.foreachBatch(self._on_batch).outputMode("append")
        if checkpoint_location:
            writer = writer.option("checkpointLocation", checkpoint_location)
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()
