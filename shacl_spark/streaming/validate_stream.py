"""Continuous SHACL validation of a triple CDC stream: the capstone
composition — Structured Streaming + the merge-on-read exactly-once
upsert + incremental revalidation.

Each micro-batch, whether or not its rows carry an ``op`` column (none
means all ``'+'``):

1. reports any committed target directory the report does not cover
   yet (recovery, below),
2. compacts the target when the sink's geometric rule says so
   (:meth:`~shacl_spark.streaming.upsert.TombstoneTripleSink.
   compaction_due`: the newer directories outgrew the oldest one),
3. computes its net change against the merge-on-read triple target
   (:class:`~shacl_spark.streaming.upsert.TombstoneTripleSink`) and
   commits it once, as the target's next ``seq=<n>`` directory,
4. incrementally revalidates only the focus nodes the change can
   affect (shacl/incremental.py — additions and retractions both seed
   it; work scales with |delta|, not |graph|), and
5. persists the merged report as one file set under a new version
   directory (``report_dir/v=<m>``, its file count from
   :func:`~shacl_spark.kg.materialize.file_count`), then marks it
   ``_seq_<n>``: the version covers the target through ``seq=<n>``.
   Versions are append-only and all are kept, so reading the previous
   report and writing the next one never self-overwrites, and a crash
   mid-write leaves the previous version intact.

The committed batch directory is the journal.  The newest marked
version names the seq the report covers; a committed directory above it
holds the net delta (with ``op``) of a batch that was appended but not
reported, and step 1 revalidates it, with the edge cache dropped,
before the batch is taken.  The crash windows of a batch:

- the batch write dies before ``_SUCCESS``: nothing is committed; the
  replay recomputes the same delta and overwrites the same ``seq``;
- committed, not reported: step 1 reports it, and the replayed batch's
  delta is then empty;
- report parquet committed, no marker: step 1 revalidates the same
  delta over the already-updated report, which is idempotent;
- marked: the replay is a no-op.

Compaction commits the live set as a new base directory, marks the
current report version ``_seq_<base>`` (the live set, hence the
report, is unchanged), and only then deletes the older directories,
oldest first.  A crash after the base commit and before the mark makes
step 1 revalidate the base as a delta of the whole live set: correct,
at the cost of one pass.  A crash among the deletes leaves reads exact,
and a later compaction redoes the rest.  Compaction runs between
batches, never after a run's last batch, where stopping the query
would cancel it half-way.

No state is keyed by epoch id, so a stream restarted without a
checkpoint location, which numbers epochs from 0 again, collides with
nothing.  On a Delta/Iceberg cluster the same loop runs against MERGE +
snapshot reads.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from shacl_spark.functions.terms import TRIPLE_COLS
from shacl_spark.kg.materialize import file_count
from shacl_spark.shacl.engine import REPORT_OUT_SCHEMA
from shacl_spark.shacl.incremental import incremental_revalidate, shapes_footprint
from shacl_spark.shacl.parser import parse_shapes_graph
from shacl_spark.shacl.shapes import ShapesGraph
from shacl_spark.streaming.upsert import TombstoneTripleSink


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
        """``n_parts`` and ``cdc`` are accepted and ignored: the target
        has no hash key, every batch goes through the one tombstone
        sink, and a batch without an ``op`` column is all upserts."""
        self.spark = spark
        self.shapes: ShapesGraph = (
            shapes_rows_or_graph
            if isinstance(shapes_rows_or_graph, ShapesGraph)
            else parse_shapes_graph(shapes_rows_or_graph)
        )
        self.sink = TombstoneTripleSink(spark, target_dir)
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

    def _covered(self) -> int:
        """The target seq the newest marked report version covers (0:
        none).  Scans back from the newest version, which is the marked
        one unless a crash hit between its commit and its marker."""
        for v in reversed(self._versions()):
            vdir = os.path.join(self.report_dir, f"v={v}")
            marks = [int(f[5:]) for f in os.listdir(vdir) if f.startswith("_seq_")]
            if marks:
                return max(marks)
        return 0

    def _mark(self, seq: int) -> None:
        """Record that the newest report version covers ``seq``."""
        vdir = os.path.join(self.report_dir, f"v={self._versions()[-1]}")
        _touch(os.path.join(vdir, f"_seq_{seq}"))

    def _write_report(self, report: DataFrame, seq: int) -> None:
        nxt = (self._versions() or [0])[-1] + 1
        vdir = os.path.join(self.report_dir, f"v={nxt}")
        report.coalesce(file_count(report)).write.mode("overwrite").parquet(vdir)
        # marker AFTER the parquet commit: a crash in between makes the
        # next batch revalidate the same delta into v=n+1 (wasted work,
        # not a gap)
        self._mark(seq)

    # --- the per-batch loop -------------------------------------------------------

    def _on_batch(self, batch: DataFrame, epoch_id: int) -> None:
        # recover: report what an earlier batch committed but did not
        # report; the edge cache may predate it, so drop it and let the
        # incremental pass collect a fresh one
        covered = self._covered()
        pending = [c for c in self.sink._committed() if c[0] > covered]
        if pending:
            self._edges = None
            self._apply(self.sink._read(pending), pending[-1][0])
        # compaction runs between batches, once everything committed is
        # reported, and before this one computes its delta; never after
        # a run's last batch, where stopping the query would cancel it
        if self.sink.compaction_due():
            base = self.sink.commit_base()
            self._mark(base)  # the live set, hence the report, is unchanged
            self.sink.drop_before(base)
        seq = self.sink._next_seq()
        delta = self.sink._merge_batch(batch)
        if self.sink._next_seq() > seq:  # the batch changed the live set
            self._apply(delta, seq)

    def _apply(self, delta: DataFrame, seq: int) -> None:
        """Revalidate the committed ``delta`` (triple columns and
        ``op``) and write the report version marked ``_seq_<seq>``."""
        cur = self.sink.current()
        if self._edges is not None:
            # roll the cached adjacency forward to the post-append graph
            # (the delta is the exact net change; op '-' retracts)
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
        self._write_report(report, seq)

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
        checkpoint: no state is keyed by epoch id — the sink derives
        ``seq`` from the target itself and the report records the
        ``seq`` it covers — so restarted epoch numbering can neither
        reorder merges nor be mistaken for a replay."""
        writer = stream.writeStream.foreachBatch(self._on_batch).outputMode("append")
        if checkpoint_location:
            writer = writer.option("checkpointLocation", checkpoint_location)
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()
