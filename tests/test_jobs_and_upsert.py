"""spark-submit job smoke + the streaming upsert sink."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from shacl_spark.functions.terms import RDF, SH, XSD


def test_build_kg_job_main(spark, tmp_path, capsys):
    from jobs.build_kg import main

    rc = main(
        [
            "--synthetic", "80",
            "--output", str(tmp_path / "kg"),
            "--partitions", "32",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out.strip().splitlines()[-1]
    metrics = json.loads(out)
    assert metrics["metrics"]["edges"] > 0
    assert metrics["violations"] == 0
    assert metrics["triples_per_sec"] > 0


def _rows(ids):
    return [
        (f"ex:s{i}", "ex:p", f"v{i}", "literal", None, None, None, None, None, None)
        for i in ids
    ]


def test_streaming_triple_upsert(spark, tmp_path):
    """A triple-column feed (no ``op``) is all upserts: a duplicate
    within a batch and one across batches each land once."""
    from shacl_spark.functions.terms import TRIPLE_SCHEMA
    from shacl_spark.streaming.upsert import TombstoneTripleSink

    src = str(tmp_path / "incoming")
    os.makedirs(src)
    sink = TombstoneTripleSink(spark, str(tmp_path / "triples_target"))

    def drain(name, ids):
        path = os.path.join(src, name)
        spark.createDataFrame(_rows(ids), TRIPLE_SCHEMA).write.parquet(path)
        stream = spark.readStream.schema(TRIPLE_SCHEMA).parquet(path)
        q = (
            stream.writeStream.foreachBatch(lambda df, _epoch: sink._merge_batch(df))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # batch 1 with an internal duplicate; batch 2 overlapping batch 1
    drain("b1", [1, 2, 2])
    assert sink.current().count() == 2
    drain("b2", [2, 3])
    final = sink.current()
    assert final.count() == 3
    assert {r["subj"] for r in final.collect()} == {"ex:s1", "ex:s2", "ex:s3"}
    # the target holds one '+' row per triple, no duplicate
    assert spark.read.parquet(sink.target_dir).count() == 3


def _committed_files(target):
    """{committed seq=<n> directory: its parquet files}."""
    return {
        d: sorted(f for f in os.listdir(os.path.join(target, d)) if f.endswith(".parquet"))
        for d in os.listdir(target)
        if os.path.isfile(os.path.join(target, d, "_SUCCESS"))
    }


def test_upsert_append_one_file_set_per_batch(spark, tmp_path):
    """Each batch commits ONE directory holding the file-count rule's
    files, not one file per task — tiny-file commits dominate
    small-batch appends.  Through the validator, under the session's
    AQE partition coalescing, the checkpointed delta of a
    repartition(8) batch is one partition and lands as one file (the
    ``coalesce`` never raises the count); a delta kept spread over 8
    tasks (no AQE coalescing) with no file under it keeps the rule's
    unsized count."""
    from shacl_spark.functions.terms import TRIPLE_SCHEMA
    from shacl_spark.kg.materialize import file_count
    from shacl_spark.streaming.upsert import TombstoneTripleSink
    from shacl_spark.streaming.validate_stream import StreamingValidator

    # the first batch lands on an empty target, the second is merged
    # against the live set
    sv = StreamingValidator(spark, SHAPES, str(tmp_path / "t"), str(tmp_path / "r"))
    for n, ids in enumerate([range(64), range(48, 112)], start=1):
        batch = spark.createDataFrame(_rows(ids), TRIPLE_SCHEMA).repartition(8)
        sv._on_batch(batch, n)
        files = _committed_files(sv.sink.target_dir)
        assert sorted(files) == [f"seq={i}" for i in range(1, n + 1)], files
        assert len(files[f"seq={n}"]) == 1, files
    assert sv.sink.current().count() == 112

    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        sink = TombstoneTripleSink(spark, str(tmp_path / "unsized"))
        changed = sink._merge_batch(spark.createDataFrame(_rows(range(64)), TRIPLE_SCHEMA).repartition(8))
        assert changed.rdd.getNumPartitions() == 8
        files = _committed_files(sink.target_dir)
        assert list(files) == ["seq=1"]
        assert len(files["seq=1"]) == file_count(changed) == 8
    finally:
        spark.conf.set(key, prev)


def test_fixture_export(tmp_path, monkeypatch):
    import fixtures.export as ex

    monkeypatch.setattr(
        ex, "__file__", str(tmp_path / "fixtures" / "export.py"), raising=False
    )
    os.makedirs(tmp_path / "fixtures", exist_ok=True)
    ex.main()
    dirs = [d for d in os.listdir(tmp_path / "fixtures") if os.path.isdir(tmp_path / "fixtures" / d)]
    assert len(dirs) >= 20
    sample = tmp_path / "fixtures" / "mincount_missing"
    assert (sample / "data.csv").exists()
    assert (sample / "expected_report.csv").exists()


def test_upsert_earlier_batches_not_rewritten(spark, tmp_path):
    """The append-only merge never rewrites: a later batch commits a
    new directory and leaves every earlier file byte-identical (VERDICT
    r01 #8), and a replay appends nothing."""
    import hashlib

    from shacl_spark.functions.terms import TRIPLE_SCHEMA
    from shacl_spark.streaming.upsert import TombstoneTripleSink

    target = str(tmp_path / "target")
    sink = TombstoneTripleSink(spark, target)
    sink._merge_batch(spark.createDataFrame(_rows(range(64)), TRIPLE_SCHEMA))

    def file_hashes():
        out = {}
        for root, _dirs, files in os.walk(target):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    out[p] = hashlib.sha256(open(p, "rb").read()).hexdigest()
        return out

    before = file_hashes()
    assert {os.path.basename(os.path.dirname(p)) for p in before} == {"seq=1"}

    # one new row -> exactly one new committed directory
    sink._merge_batch(spark.createDataFrame(_rows([1000]), TRIPLE_SCHEMA))
    after = file_hashes()
    new_files = set(after) - set(before)
    assert {os.path.basename(os.path.dirname(p)) for p in new_files} == {"seq=2"}
    assert sorted(_committed_files(target)) == ["seq=1", "seq=2"]
    for p, h in before.items():
        assert after[p] == h, f"earlier file rewritten: {p}"
    assert sink.current().count() == 65

    # idempotent replay of the same batch: nothing appended
    sink._merge_batch(spark.createDataFrame(_rows([1000]), TRIPLE_SCHEMA))
    assert spark.read.parquet(target).count() == 65
    assert file_hashes() == after
    assert sorted(_committed_files(target)) == ["seq=1", "seq=2"]


SHAPES = [
    ("ex:S", RDF + "type", SH + "NodeShape"),
    ("ex:S", SH + "targetClass", "ex:Person"),
    ("ex:S", SH + "property", "ex:SP"),
    ("ex:SP", SH + "path", "ex:name"),
    ("ex:SP", SH + "minCount", "1", "literal", XSD + "integer"),
]


@pytest.mark.parametrize("cdc", [False, True], ids=["adds", "cdc"])
def test_validate_stream_job_main(spark, tmp_path, capsys, cdc):
    """jobs/validate_stream.py on a triple-column feed and on a --cdc
    feed whose second file retracts a name: the printed summary
    matches a full validation of the live set."""
    from jobs.validate_stream import main
    from shacl_spark.functions.terms import TERM_COLS, triples_from_rows
    from shacl_spark.shacl import summarize, validate

    name_a = ("ex:a", "ex:name", "A", "literal", XSD + "string")
    b1 = [
        ("ex:a", RDF + "type", "ex:Person"),
        name_a,
        ("ex:b", RDF + "type", "ex:Person"),  # no name -> violation
    ]
    b2 = [("ex:c", RDF + "type", "ex:Person")]  # no name -> violation
    retract = [name_a] if cdc else []

    stream = tmp_path / "stream"
    for name, rows, op in [("b1", b1, "+"), ("b2", b2, "+"), ("b3", retract, "-")]:
        if not rows:
            continue
        df = triples_from_rows(spark, rows)
        if cdc:
            df = df.withColumn("op", F.lit(op))
        df.coalesce(1).write.parquet(str(stream / name))
    shapes = str(tmp_path / "shapes.parquet")
    triples_from_rows(spark, SHAPES).select(TERM_COLS).write.parquet(shapes)

    args = [
        "--stream", str(stream / "*"), "--shapes", shapes,
        "--target", str(tmp_path / "t"), "--report", str(tmp_path / "r"),
    ]
    assert main(args + (["--cdc"] if cdc else [])) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    live = [r for r in b1 + b2 if r not in retract]
    full = validate(spark, triples_from_rows(spark, live), SHAPES)
    by_comp: dict[str, int] = {}
    for r in summarize(full).collect():
        key = r["component"].split("#")[-1]
        by_comp[key] = by_comp.get(key, 0) + r["n"]
    assert out["violations_by_component"] == by_comp
    assert by_comp == {"MinCountConstraintComponent": 3 if cdc else 2}
    assert out["conforms"] is False
    assert out["triples"] == len(live)
    assert out["report_versions"] == (3 if cdc else 2)
