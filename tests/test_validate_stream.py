"""Continuous validation of a triple CDC stream: per-micro-batch
upsert + incremental revalidation; the final report must equal a full
batch validation of everything ingested, replays must be no-ops."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

import shacl_spark.streaming.validate_stream as vs_mod
from shacl_spark.functions.terms import RDF, SH, TRIPLE_SCHEMA, XSD, triples_from_rows
from shacl_spark.shacl import validate
from shacl_spark.streaming.validate_stream import StreamingValidator

T = RDF + "type"
INT = XSD + "integer"
STR = XSD + "string"

SHAPES = [
    ("ex:S", T, SH + "NodeShape"),
    ("ex:S", SH + "targetClass", "ex:Person"),
    ("ex:S", SH + "property", "ex:SP"),
    ("ex:SP", SH + "path", "ex:name"),
    ("ex:SP", SH + "minCount", "1", "literal", INT),
    ("ex:S", SH + "property", "ex:SK"),
    ("ex:SK", SH + "path", "ex:knows"),
    ("ex:SK", SH + "class", "ex:Person"),
]

BATCH1 = [
    ("ex:a", T, "ex:Person"),
    ("ex:a", "ex:name", "A", "literal", STR),
    ("ex:b", T, "ex:Person"),           # no name -> violation
    ("ex:a", "ex:knows", "ex:rock"),    # untyped value -> violation
]
BATCH2 = [
    ("ex:b", "ex:name", "B", "literal", STR),   # fixes b's MinCount
    ("ex:rock", T, "ex:Person"),                # fixes a's sh:class
    ("ex:c", T, "ex:Person"),                   # new violation (no name)
]

SIX = [f.name for f in TRIPLE_SCHEMA.fields]


def _write_batch(spark, rows, stream_dir, name):
    (
        triples_from_rows(spark, rows)
        .select(SIX)
        .coalesce(1)
        .write.mode("append")
        .parquet(os.path.join(stream_dir, name))
    )


def _canon(report):
    return sorted(
        tuple("␀" if v is None else str(v) for v in r) for r in report.collect()
    )


def _run(spark, sv, stream_dir):
    stream = (
        spark.readStream.schema(TRIPLE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(stream_dir, "*"))
    )
    q = sv.start(stream)
    q.awaitTermination()


def test_stream_validation_end_to_end(spark, tmp_path):
    stream_dir = str(tmp_path / "in")
    sv = StreamingValidator(
        spark, SHAPES, str(tmp_path / "target"), str(tmp_path / "report"), n_parts=4
    )
    _write_batch(spark, BATCH1, stream_dir, "b1")
    _write_batch(spark, BATCH2, stream_dir, "b2")
    _run(spark, sv, stream_dir)

    # one report version per non-empty micro-batch
    assert len(sv._versions()) == 2
    # the merged state equals everything ingested
    assert sv.sink.current().count() == len(BATCH1) + len(BATCH2)
    # the final report equals FULL validation of the union
    full = validate(spark, triples_from_rows(spark, BATCH1 + BATCH2), SHAPES)
    assert _canon(sv.current_report()) == _canon(full)
    # content: batch2 fixed b's name and a's sh:class, and created two
    # NEW MinCount violations — ex:c, and ex:rock which just became a
    # Person (without a name)
    focuses = {
        (r["focus"], r["component"].split("#")[-1])
        for r in sv.current_report().collect()
    }
    assert focuses == {
        ("ex:c", "MinCountConstraintComponent"),
        ("ex:rock", "MinCountConstraintComponent"),
    }

    # replaying the whole stream (no checkpoint -> everything re-reads)
    # must be a NO-OP: every row is already live, so the delta is
    # empty and no new report version appears
    _run(spark, sv, stream_dir)
    assert len(sv._versions()) == 2
    assert sv.sink.current().count() == len(BATCH1) + len(BATCH2)


def test_edge_cache_steady_state(spark, tmp_path):
    """Batch 2 collects the footprint adjacency once; batch 3 runs on
    the driver-maintained copy (mode 'cached' — no per-batch edge
    collect) and the final report still equals full validation."""
    from shacl_spark.shacl import incremental as inc_mod

    stream_dir = str(tmp_path / "in")
    sv = StreamingValidator(
        spark, SHAPES, str(tmp_path / "target"), str(tmp_path / "report"), n_parts=4
    )
    b3 = [
        ("ex:c", "ex:name", "C", "literal", STR),   # fixes c
        ("ex:d", T, "ex:Person"),                   # new violation
        ("ex:d", "ex:knows", "ex:rock"),            # rock IS a Person now
    ]
    _write_batch(spark, BATCH1, stream_dir, "b1")
    _write_batch(spark, BATCH2, stream_dir, "b2")
    _write_batch(spark, b3, stream_dir, "b3")
    modes: list = []
    orig = inc_mod.incremental_revalidate

    def spy(*a, **kw):
        st = kw.setdefault("stats", {})
        out = orig(*a, **kw)
        modes.append(st.get("edge_mode"))
        return out

    vs_mod.incremental_revalidate, inc_mod.incremental_revalidate = spy, spy
    try:
        _run(spark, sv, stream_dir)
    finally:
        vs_mod.incremental_revalidate = inc_mod.incremental_revalidate = orig
    # batch1 = first-batch full validate (no incremental call) which
    # WARMS the edge cache (r06); batch2 and batch3 both reuse the
    # maintained adjacency — no cold per-batch edge collect at all
    assert modes == ["cached", "cached"]
    assert sv._edges is not None and not sv._edges.dirty
    full = validate(spark, triples_from_rows(spark, BATCH1 + BATCH2 + b3), SHAPES)
    assert _canon(sv.current_report()) == _canon(full)


def _batch_df(spark, rows):
    return triples_from_rows(spark, rows).select(SIX)


class _Crash(Exception):
    pass


def _raise(*_a, **_k):
    raise _Crash()


def _die_at_touch(prefix, after):
    """A ``_touch`` that raises on the marker whose name starts with
    ``prefix``: before creating it, or (``after``) once it exists."""
    real = vs_mod._touch

    def touch(path):
        hit = os.path.basename(path).startswith(prefix)
        if hit and not after:
            raise _Crash(path)
        real(path)
        if hit:
            raise _Crash(path)

    return touch


def _crash(name, m, sv):
    """Make the program step that follows the named boundary raise."""
    if name == "write":  # the batch's directory is written, not committed
        m.setattr(sv.sink, "_append", _append_uncommitted(sv.sink))
    elif name == "commit":  # the step after the target commit
        m.setattr(sv.sink, "current", _raise)
    elif name == "report":  # report parquet committed, no marker yet
        m.setattr(vs_mod, "_touch", _die_at_touch("_seq_", after=False))
    else:  # "marker": the batch fully committed
        m.setattr(vs_mod, "_touch", _die_at_touch("_seq_", after=True))


def _pending(sv):
    """The committed target directories above the seq the report covers."""
    return [s for s, _ in sv.sink._committed() if s > sv._covered()]


# batch 2 adds BATCH2 and retracts a's name: a, c and rock end up
# without a name (MinCount), and rock becomes the Person a knows
CRASH_RETRACT = ("ex:a", "ex:name", "A", "literal", STR)
CRASH_LIVE = [r for r in BATCH1 + BATCH2 if r != CRASH_RETRACT]


@pytest.mark.parametrize("window", ["write", "commit", "report", "marker"])
def test_crash_window_replay(spark, tmp_path, monkeypatch, window):
    """A crash at each durable-write boundary of a batch that adds AND
    retracts: the epoch replay yields the report of a full validation
    of the live set and the right live count, and a second replay
    adds no report version."""
    sv = StreamingValidator(
        spark, SHAPES, str(tmp_path / "t"), str(tmp_path / "r"), n_parts=4
    )
    sv._on_batch(_op_batch(spark, [(r, "+") for r in BATCH1]), 0)
    assert len(sv._versions()) == 1
    b2 = _op_batch(spark, [(r, "+") for r in BATCH2] + [(CRASH_RETRACT, "-")])

    with monkeypatch.context() as m:
        _crash(window, m, sv)
        with pytest.raises(_Crash):
            sv._on_batch(b2, 1)
    # what the crash left behind
    applied = window != "write"
    assert sv.sink.current().count() == len(CRASH_LIVE if applied else BATCH1)
    reported = window in ("report", "marker")
    assert len(sv._versions()) == (2 if reported else 1)
    # a committed batch directory the report does not cover is the
    # batch's only record: the replay's own delta is EMPTY (rows already
    # applied), so without it the report would stay stale forever
    assert bool(_pending(sv)) == (window in ("commit", "report"))

    sv._on_batch(b2, 1)
    assert sv.sink.current().count() == len(CRASH_LIVE)
    full = validate(spark, sv.sink.current(), SHAPES)
    assert _canon(sv.current_report()) == _canon(full)
    expected = validate(spark, triples_from_rows(spark, CRASH_LIVE), SHAPES)
    assert _canon(sv.current_report()) == _canon(expected)
    assert {r["focus"] for r in sv.current_report().collect()} == {
        "ex:a", "ex:c", "ex:rock"
    }
    # the replay reported every committed directory
    assert _pending(sv) == []

    # a second replay is a no-op
    n = len(sv._versions())
    sv._on_batch(b2, 1)
    assert len(sv._versions()) == n
    assert sv.sink.current().count() == len(CRASH_LIVE)


def test_restarted_stream_epoch_id_collision(spark, tmp_path):
    """r04 review: a stream restarted WITHOUT a checkpoint location
    numbers epochs from 0 again — state keyed by epoch id would swallow
    the new batch.  A fresh validator over the same directories takes
    DIFFERENT content at epoch 0 as a new batch."""
    sv = StreamingValidator(
        spark, SHAPES, str(tmp_path / "t"), str(tmp_path / "r"), n_parts=4
    )
    sv._on_batch(_batch_df(spark, BATCH1), 0)
    n1 = len(sv._versions())

    # "restart": a fresh validator, DIFFERENT data as epoch 0
    sv2 = StreamingValidator(
        spark, SHAPES, str(tmp_path / "t"), str(tmp_path / "r"), n_parts=4
    )
    sv2._on_batch(_batch_df(spark, BATCH2), 0)  # new content, reused id
    assert sv2.sink.current().count() == len(BATCH1) + len(BATCH2)
    full = validate(spark, triples_from_rows(spark, BATCH1 + BATCH2), SHAPES)
    assert _canon(sv2.current_report()) == _canon(full)
    assert len(sv2._versions()) == n1 + 1

    # and an exact REPLAY of the completed batch is still a no-op
    nv = len(sv2._versions())
    sv2._on_batch(_batch_df(spark, BATCH2), 0)
    assert len(sv2._versions()) == nv


def _op_batch(spark, rows_with_op):
    from pyspark.sql import functions as F

    rows = [r[0] for r in rows_with_op]
    ops = [r[1] for r in rows_with_op]
    df = triples_from_rows(spark, rows).select(SIX)
    tagged = df.limit(0).withColumn("op", F.lit("+"))
    for row, op in zip(rows, ops):
        tagged = tagged.unionByName(
            triples_from_rows(spark, [row]).select(SIX).withColumn("op", F.lit(op))
        )
    return tagged


def _ops_batch(spark, adds, retracts):
    """An ``op`` batch of ``adds`` ('+') and ``retracts`` ('-')."""
    from pyspark.sql import functions as F

    return triples_from_rows(spark, adds).select(SIX).withColumn("op", F.lit("+")).unionByName(
        triples_from_rows(spark, retracts).select(SIX).withColumn("op", F.lit("-"))
    )


def test_tombstone_sink_merge_on_read(spark, tmp_path):
    """r04 CDC-with-deletes sink: live set = highest-seq op per triple
    identity filtered to '+'; same-batch +/- nets to '-'; replay and
    compaction preserve the state."""
    from shacl_spark.streaming.upsert import TombstoneTripleSink

    sink = TombstoneTripleSink(spark, str(tmp_path / "t"))
    t1 = ("ex:a", "ex:p", "1", "literal", XSD + "string")
    t2 = ("ex:b", "ex:p", "2", "literal", XSD + "string")
    t3 = ("ex:c", "ex:p", "3", "literal", XSD + "string")

    ch1 = sink._merge_batch(_op_batch(spark, [(t1, "+"), (t2, "+"),
                                              (t3, "+"), (t3, "-")]))
    assert ch1.count() == 2  # t3 nets to '-' on an empty target: no-op
    live = {r["subj"] for r in sink.current().collect()}
    assert live == {"ex:a", "ex:b"}

    ch2 = sink._merge_batch(_op_batch(spark, [(t1, "-"), (t3, "+"),
                                              (t2, "+")]))
    # t1 removed (was live), t3 added, t2 already live -> no-op
    assert {(r["subj"]) for r in ch2.collect()} == {"ex:a", "ex:c"}
    assert {r["subj"] for r in sink.current().collect()} == {"ex:b", "ex:c"}

    # epoch replay: same batch, same seq -> merge computes an empty
    # net delta (t1 already dead, t3 already live, t2 live)
    ch2b = sink._merge_batch(_op_batch(spark, [(t1, "-"), (t3, "+"),
                                               (t2, "+")]))
    assert ch2b.isEmpty()
    assert {r["subj"] for r in sink.current().collect()} == {"ex:b", "ex:c"}

    sink.drop_before(sink.commit_base())
    assert [s for s, _ in sink._committed()] == [3]
    assert {r["subj"] for r in sink.current().collect()} == {"ex:b", "ex:c"}
    # re-add after a compacted delete works
    sink._merge_batch(_op_batch(spark, [(t1, "+")]))
    assert {r["subj"] for r in sink.current().collect()} == {"ex:a", "ex:b", "ex:c"}


def _append_uncommitted(sink):
    """An ``_append`` that dies in its job commit: the files land, the
    ``_SUCCESS`` does not."""
    real = sink._append

    def append(rows):
        seq = sink._next_seq()
        real(rows)
        os.remove(os.path.join(sink.target_dir, f"seq={seq}", "_SUCCESS"))
        raise _Crash()

    return append


def _die_at_drop(n_done):
    """An ``upsert._drop`` that raises once ``n_done`` directories are
    deleted."""
    import shacl_spark.streaming.upsert as up

    real, done = up._drop, []

    def drop(path):
        if len(done) == n_done:
            raise _Crash(path)
        real(path)
        done.append(path)

    return drop


@pytest.mark.parametrize("step", ["write", "mark", "commit", "delete"])
def test_compaction_crash(spark, tmp_path, monkeypatch, step):
    """A crash at each step of a compaction the validator runs before a
    batch — in the new base's write (uncommitted), after its commit
    before the report is marked, after the mark before any delete,
    after the first delete — leaves the live set as it was, and the
    replayed batch, which re-adds the triple the compaction dropped as
    dead, adds one and retracts one, reports exactly what a full
    validation does."""
    import shacl_spark.streaming.upsert as up

    sv = StreamingValidator(
        spark, SHAPES, str(tmp_path / "t"), str(tmp_path / "r"), n_parts=4
    )
    with monkeypatch.context() as m:
        m.setattr(sv.sink, "compaction_due", lambda: False)  # hold the log
        sv._on_batch(_op_batch(spark, [(r, "+") for r in BATCH1]), 0)
        sv._on_batch(
            _op_batch(spark, [(r, "+") for r in BATCH2] + [(CRASH_RETRACT, "-")]), 1
        )
    assert [s for s, _ in sv.sink._committed()] == [1, 2]
    live = _canon(sv.sink.current())
    assert len(live) == len(CRASH_LIVE)
    versions = sv._versions()

    new = ("ex:d", T, "ex:Person")
    b3 = _op_batch(spark, [(CRASH_RETRACT, "+"), (new, "+"), (BATCH2[0], "-")])
    with monkeypatch.context() as m:
        m.setattr(sv.sink, "compaction_due", lambda: True)
        if step == "write":
            m.setattr(sv.sink, "_append", _append_uncommitted(sv.sink))
        elif step == "mark":
            m.setattr(vs_mod, "_touch", _die_at_touch("_seq_", after=False))
        else:
            m.setattr(up, "_drop", _die_at_drop(0 if step == "commit" else 1))
        with pytest.raises(_Crash):
            sv._on_batch(b3, 2)
    assert _canon(sv.sink.current()) == live
    assert sv._versions() == versions
    assert [s for s, _ in sv.sink._committed()] == {
        "write": [1, 2], "mark": [1, 2, 3], "commit": [1, 2, 3], "delete": [2, 3]
    }[step]
    assert sv._covered() == (2 if step in ("write", "mark") else 3)

    sv._on_batch(b3, 2)
    expected = [r for r in CRASH_LIVE if r != BATCH2[0]] + [CRASH_RETRACT, new]
    assert sv.sink.current().count() == len(expected)
    full = validate(spark, triples_from_rows(spark, expected), SHAPES)
    assert _canon(sv.current_report()) == _canon(full)
    assert _canon(sv.current_report()) == _canon(validate(spark, sv.sink.current(), SHAPES))
    assert _pending(sv) == []

    # a later compaction folds whatever the crash left into one base,
    # and a second replay adds no report version
    n = len(sv._versions())
    with monkeypatch.context() as m:
        m.setattr(sv.sink, "compaction_due", lambda: True)
        sv._on_batch(b3, 2)
    assert len(sv.sink._committed()) == 1
    assert _pending(sv) == []  # the report is marked as covering the base
    assert len(sv._versions()) == n
    assert sv.sink.current().count() == len(expected)
    assert _canon(sv.current_report()) == _canon(full)


def test_long_stream_stays_bounded(spark, tmp_path):
    """Ten small churn batches, each retracting two whole nodes,
    adding two new ones and re-adding a retracted triple: after each
    one the target's committed directories and bytes stay within a
    fixed multiple of a one-shot write of the live set, each report
    version is one file, and the footprint-edge vocabulary stays within
    a multiple of the live nodes although every batch brings new ones;
    the final report equals a full validation of the live set."""
    import random

    from shacl_spark.kg.materialize import UNSIZED_FILES

    rng = random.Random(7)
    unsized = max(spark.sparkContext.defaultParallelism, UNSIZED_FILES)
    sv = StreamingValidator(
        spark, SHAPES, str(tmp_path / "t"), str(tmp_path / "r"), n_parts=4
    )

    def person(i):
        return [
            (f"ex:p{i}", T, "ex:Person"),
            (f"ex:p{i}", "ex:name", f"P{i}", "literal", STR),
            (f"ex:p{i}", "ex:knows", f"ex:p{i + 1}"),
        ]

    people = list(range(30))
    live = {r for i in people for r in person(i)}
    sv._on_batch(_ops_batch(spark, sorted(live), []), 0)
    one_shot = str(tmp_path / "one_shot")
    retracted: list = []
    max_ratio = max_vocab = 0.0
    for b in range(1, 11):
        gone = [people.pop(rng.randrange(len(people))) for _ in range(2)]
        fresh = [30 + 2 * b, 31 + 2 * b]
        people += fresh
        rets = [r for i in gone for r in person(i)]
        adds = [r for i in fresh for r in person(i)]
        if retracted:
            adds.append(retracted.pop(rng.randrange(len(retracted))))
        sv._on_batch(_ops_batch(spark, adds, rets), b)
        assert _pending(sv) == [], b  # every committed directory is reported
        live = (live - set(rets)) | set(adds)
        retracted += rets

        triples_from_rows(spark, sorted(live)).coalesce(1).write.mode("overwrite").parquet(
            one_shot
        )
        live_bytes = sum(
            os.path.getsize(os.path.join(one_shot, f)) for f in os.listdir(one_shot)
        )
        dirs = sv.sink._committed()
        target_bytes = sum(
            os.path.getsize(os.path.join(d, f)) for _, d in dirs for f in os.listdir(d)
        )
        assert len(dirs) <= 4, (b, dirs)
        assert target_bytes <= 4 * live_bytes, (b, target_bytes, live_bytes)
        for v in sv._versions():
            vdir = os.path.join(sv.report_dir, f"v={v}")
            files = [f for f in os.listdir(vdir) if f.endswith(".parquet")]
            # an incremental version is sized from the listed bytes of
            # the one before it; the first, a full validation over the
            # engine's checkpointed input, lists none (the unsized count)
            assert len(files) == 1 or (v == 1 and len(files) <= unsized), (b, v, files)
        nodes = {r[0] for r in live} | {r[2] for r in live if len(r) == 3}
        assert sv._edges is not None and len(sv._edges._vocab) <= 2 * len(nodes), b
        max_ratio = max(max_ratio, target_bytes / live_bytes)
        max_vocab = max(max_vocab, len(sv._edges._vocab) / len(nodes))

    # the session writes zstd; the codec is recorded in each footer
    for d in (dirs[-1][1], os.path.join(sv.report_dir, f"v={sv._versions()[-1]}")):
        f = min(n for n in os.listdir(d) if n.endswith(".parquet"))
        assert pq.ParquetFile(os.path.join(d, f)).metadata.row_group(0).column(0).compression == "ZSTD"
    assert sv.sink.current().count() == len(live)
    full = validate(spark, triples_from_rows(spark, sorted(live)), SHAPES)
    assert _canon(sv.current_report()) == _canon(full)
    print(f"target/live bytes <= {max_ratio:.2f}, vocabulary/live nodes <= {max_vocab:.2f}")


def test_cdc_stream_validation_with_deletes(spark, tmp_path):
    """CDC mode: retractions seed revalidation — a deleted name CREATES
    a minCount violation, a deleted bad-typed edge CLEARS one; final
    report equals full validation of the live set."""
    sv = StreamingValidator(
        spark, SHAPES, str(tmp_path / "t"), str(tmp_path / "r"),
        n_parts=4,
    )
    base = [
        (("ex:a", RDF + "type", "ex:Person"), "+"),
        (("ex:a", "ex:name", "A", "literal", XSD + "string"), "+"),
        (("ex:b", RDF + "type", "ex:Person"), "+"),
        (("ex:b", "ex:name", "B", "literal", XSD + "string"), "+"),
        (("ex:a", "ex:knows", "ex:rock"), "+"),   # untyped -> violation
    ]
    sv._on_batch(_op_batch(spark, base), 0)
    got0 = {(r["focus"], r["component"].split("#")[-1])
            for r in sv.current_report().collect()}
    assert got0 == {("ex:a", "ClassConstraintComponent")}

    delta = [
        (("ex:b", "ex:name", "B", "literal", XSD + "string"), "-"),  # new minCount viol
        (("ex:a", "ex:knows", "ex:rock"), "-"),                      # clears sh:class viol
    ]
    sv._on_batch(_op_batch(spark, delta), 1)
    live_rows = [tuple(r) for r in sv.sink.current().collect()]
    full = validate(spark, sv.sink.current(), SHAPES)
    assert _canon(sv.current_report()) == _canon(full)
    got1 = {(r["focus"], r["component"].split("#")[-1])
            for r in sv.current_report().collect()}
    assert got1 == {("ex:b", "MinCountConstraintComponent")}

    # replay is a no-op
    nv = len(sv._versions())
    sv._on_batch(_op_batch(spark, delta), 1)
    assert len(sv._versions()) == nv


def test_cdc_restart_epoch_renumbering_tombstone_wins(spark, tmp_path):
    """seq must come from the TARGET, not the epoch id: a
    checkpoint-less restart renumbers epochs from 0.  The sink takes no
    epoch id at all, so a fresh sink over the same target continues
    its seq, and a tombstone merged after the restart wins the
    merge-on-read window over the earlier add."""
    from shacl_spark.streaming.upsert import TombstoneTripleSink

    t1 = ("ex:a", "ex:p", "1", "literal", XSD + "string")
    t2 = ("ex:b", "ex:p", "2", "literal", XSD + "string")

    sink = TombstoneTripleSink(spark, str(tmp_path / "t"))
    sink._merge_batch(_op_batch(spark, [(t1, "+")]))
    sink._merge_batch(_op_batch(spark, [(t2, "+")]))
    assert {r["subj"] for r in sink.current().collect()} == {"ex:a", "ex:b"}

    # "restart": a fresh sink on the same target, epochs from 0 again
    sink2 = TombstoneTripleSink(spark, str(tmp_path / "t"))
    ch = sink2._merge_batch(_op_batch(spark, [(t1, "-")]))
    assert {r["subj"] for r in ch.collect()} == {"ex:a"}  # delta reported
    assert {r["subj"] for r in sink2.current().collect()} == {"ex:b"}
    seq = {(r["subj"], r["op"]): r["seq"] for r in spark.read.parquet(sink.target_dir).collect()}
    assert seq[("ex:a", "-")] > seq[("ex:a", "+")]

    # and a re-add after the restart-delete also wins
    sink3 = TombstoneTripleSink(spark, str(tmp_path / "t"))
    sink3._merge_batch(_op_batch(spark, [(t1, "+")]))
    assert {r["subj"] for r in sink3.current().collect()} == {"ex:a", "ex:b"}


def test_cdc_stream_restart_epoch_collision(spark, tmp_path):
    """End-to-end op-feed twin of the restart test above: a restarted
    stream reusing epoch 0 for a RETRACTION must apply it and keep the
    report equal to full validation of the live set."""
    sv = StreamingValidator(
        spark, SHAPES, str(tmp_path / "t"), str(tmp_path / "r"),
        n_parts=4,
    )
    base = [
        (("ex:a", RDF + "type", "ex:Person"), "+"),
        (("ex:a", "ex:name", "A", "literal", XSD + "string"), "+"),
        (("ex:a", "ex:knows", "ex:rock"), "+"),   # untyped -> violation
    ]
    sv._on_batch(_op_batch(spark, base), 0)
    assert len(sv.current_report().collect()) == 1

    # restart: fresh validator over the same dirs, epoch ids from 0
    sv2 = StreamingValidator(
        spark, SHAPES, str(tmp_path / "t"), str(tmp_path / "r"),
        n_parts=4,
    )
    sv2._on_batch(_op_batch(spark, [(("ex:a", "ex:knows", "ex:rock"), "-")]), 0)
    assert {r["subj"] for r in sv2.sink.current().collect()} == {"ex:a"}
    full = validate(spark, sv2.sink.current(), SHAPES)
    assert _canon(sv2.current_report()) == _canon(full)
    assert sv2.current_report().isEmpty()
