"""E2E pipeline tests (SURVEY.md §5.2): golden counts, metamodel
validation of pipeline output, resume-after-kill identity."""

from __future__ import annotations

import glob
import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from shacl_spark.kg import checkpoint, materialize
from shacl_spark.kg.checkpoint import completed_partitions, run_with_checkpoints
from shacl_spark.kg.extract import extract_triples
from shacl_spark.plans.kg_pipeline import build_kg
from shacl_spark.shacl.kg_shapes import KG_METAMODEL
from shacl_spark.sources.corpus import synth_corpus

N_FILES = 120
N_PARTS = 64


def _sorted_triples(df):
    return sorted(
        (r["subj"], r["pred"], r["obj"], r["obj_dt"], r["obj_lang"])
        for r in df.select("subj", "pred", "obj", "obj_dt", "obj_lang").collect()
    )


def test_build_kg_end_to_end(spark, tmp_path):
    corpus = synth_corpus(spark, N_FILES, parts=4)
    result = build_kg(
        spark, corpus, str(tmp_path / "kg"), shapes_rows=KG_METAMODEL,
        n_parts=N_PARTS,
    )
    assert result.metrics["edges"] > 0
    assert result.metrics["nodes"] > 0

    # pipeline output conforms to its own metamodel
    bad = result.report.collect()
    assert not bad, f"metamodel violations: {bad[:5]}"

    # materialized tables readable + consistent
    edges = spark.read.parquet(str(tmp_path / "kg" / "edges"))
    nodes = spark.read.parquet(str(tmp_path / "kg" / "nodes"))
    assert edges.count() == result.metrics["edges"]
    assert nodes.count() == result.metrics["nodes"]
    assert edges.where(F.col("triple_id").isNull()).count() == 0

    # every file emitted provenance
    n_files_out = edges.where(F.col("pred") == "kg:sha256").count()
    assert n_files_out == N_FILES


def test_resume_after_kill_produces_identical_tables(spark, tmp_path):
    corpus = synth_corpus(spark, 40, parts=4)
    triples = extract_triples(corpus, n_parts=N_PARTS)

    full_dir = tmp_path / "full"
    out_full = run_with_checkpoints(triples, str(full_dir), group_size=16, n_parts=N_PARTS)
    golden = _sorted_triples(out_full)

    # simulate a kill: run only the first group, delete the rest's manifest
    partial_dir = tmp_path / "partial"
    run_with_checkpoints(triples, str(partial_dir), group_size=16, n_parts=N_PARTS)
    # wipe manifests + data for groups >= 2 → "killed" mid-run
    for name in os.listdir(partial_dir / "_manifest"):
        if name not in ("group-0.json", "group-1.json"):
            os.remove(partial_dir / "_manifest" / name)
    for name in os.listdir(partial_dir / "triples"):
        if name not in ("group=0", "group=1"):
            shutil.rmtree(partial_dir / "triples" / name)

    done_before = completed_partitions(str(partial_dir))
    assert done_before == set(range(32))

    # resume: only the missing groups are reprocessed
    out_resumed = run_with_checkpoints(
        triples, str(partial_dir), group_size=16, n_parts=N_PARTS
    )
    assert _sorted_triples(out_resumed) == golden


def test_default_group_rule(spark, tmp_path, monkeypatch):
    """A small corpus is one group: one file set, no per-part_id
    directories, every partition in the manifest.  The group count
    follows the corpus bytes."""
    synth_corpus(spark, 40, parts=4).write.parquet(str(tmp_path / "corpus"))
    corpus = spark.read.parquet(str(tmp_path / "corpus"))
    triples = extract_triples(corpus, n_parts=N_PARTS)

    out = run_with_checkpoints(triples, str(tmp_path / "one"), n_parts=N_PARTS)
    data = tmp_path / "one" / "triples"
    assert os.listdir(data) == ["group=0"]
    assert not [p for p in (data / "group=0").iterdir() if p.name.startswith("part_id=")]
    assert completed_partitions(str(tmp_path / "one")) == set(range(N_PARTS))
    assert out.columns == triples.columns
    golden = _sorted_triples(out)

    corpus_bytes = checkpoint.input_bytes(triples)
    assert corpus_bytes > 0
    monkeypatch.setattr(checkpoint, "GROUP_INPUT_BYTES", corpus_bytes // 4 + 1)
    out = run_with_checkpoints(triples, str(tmp_path / "four"), n_parts=N_PARTS)
    assert len(os.listdir(tmp_path / "four" / "triples")) == 4
    assert _sorted_triples(out) == golden

    # in-memory data lists no files: its size is unknown, so it keeps
    # fixed-size groups instead of collapsing into one
    unsized = extract_triples(synth_corpus(spark, 40, parts=4), n_parts=N_PARTS)
    assert checkpoint.input_bytes(unsized) == 0
    monkeypatch.setattr(checkpoint, "UNSIZED_GROUP_SIZE", N_PARTS // 4)
    out = run_with_checkpoints(unsized, str(tmp_path / "unsized"), n_parts=N_PARTS)
    assert len(os.listdir(tmp_path / "unsized" / "triples")) == 4
    assert _sorted_triples(out) == golden


def test_checkpointed_build_equals_direct_build(spark, tmp_path):
    """Checkpointing changes how the KG is computed, not what it is:
    the same edge columns, rows and triple ids, and the same report.  A
    finished build drops its checkpoint, so a second corpus built into
    the same directory gives that corpus's KG, not the first one's."""
    corpus = synth_corpus(spark, 40, parts=4).withColumn(
        "lang", F.when(F.hash("path") % 4 == 0, "cobol").otherwise(F.col("lang"))
    )

    def build(corpus, out_dir, ckpt):
        res = build_kg(
            spark, corpus, out_dir, shapes_rows=KG_METAMODEL, n_parts=N_PARTS, ckpt=ckpt
        )
        edges = spark.read.parquet(os.path.join(out_dir, "edges"))
        return (
            edges.columns,
            sorted(map(tuple, edges.collect()), key=repr),
            sorted(map(tuple, res.report.collect()), key=repr),
        )

    out_dir = str(tmp_path / "ckpt")
    built = build(corpus, out_dir, True)
    assert not os.path.exists(os.path.join(out_dir, "checkpoint"))
    edge_file = glob.glob(os.path.join(out_dir, "edges", "*.parquet"))[0]
    assert pq.ParquetFile(edge_file).metadata.row_group(0).column(0).compression == "ZSTD"
    assert built[2], "the planted languages should be reported"
    assert built == build(corpus, str(tmp_path / "direct"), False)

    other = synth_corpus(spark, 25, parts=2)
    assert build(other, out_dir, True) == build(other, str(tmp_path / "other"), False)


def test_unsized_build_spreads_edge_files(spark, tmp_path, monkeypatch):
    """Without the checkpoint the canonical frame scans no files (its
    input is a local checkpoint), so the edge write cannot size itself
    from bytes on disk; it still spreads over more than one file."""
    synth_corpus(spark, 20, parts=2).write.parquet(str(tmp_path / "corpus"))
    corpus = spark.read.parquet(str(tmp_path / "corpus"))
    monkeypatch.setattr(materialize, "FILE_BYTES", checkpoint.input_bytes(corpus) // 4 + 1)
    build_kg(spark, corpus, str(tmp_path / "kg"), n_parts=N_PARTS, ckpt=False)
    edge_files = [n for n in os.listdir(tmp_path / "kg" / "edges") if n.endswith(".parquet")]
    assert len(edge_files) > 1


def test_lineage_columns_populated(spark, tmp_path):
    corpus = synth_corpus(spark, 20, parts=2)
    triples = extract_triples(corpus, n_parts=N_PARTS)
    row = triples.where(F.col("pred") == "kg:sha256").first()
    assert row["src_repo"] and row["src_path"] and row["src_commit"]
    assert 0 <= row["part_id"] < N_PARTS
