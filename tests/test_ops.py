"""Operator unit tests: dedup family, similarity, as-of join, text
analysis, multimodal plumbing."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from shacl_spark.operators.asof import asof_join
from shacl_spark.operators.dedup import (
    exact_dedup,
    embedding_dedup_pairs,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_dedup_pairs,
)
from shacl_spark.operators.multimodal import extract_features, frame_sample_plan, synth_media
from shacl_spark.operators.similarity import brute_force_topk, lsh_topk
from shacl_spark.operators.text import text_stats

DOC = "the quick brown fox jumps over the lazy dog and runs far away today"
NEAR = "the quick brown fox jumps over the lazy dog and runs far away tonight"
OTHER = "completely different content about spark sql engines and shuffles everywhere"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(1, DOC), (2, NEAR), (3, OTHER), (4, DOC)], ["doc_id", "text"]
    )


def test_exact_dedup(docs):
    out = {r["doc_id"]: r["dup_count"] for r in exact_dedup(docs, "doc_id", "text").collect()}
    assert out[1] == 2  # doc 4 collapsed into doc 1
    assert out[2] == 1 and out[3] == 1


def test_minhash_and_jaccard_pipeline(spark, docs):
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", max_bucket=16)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 4) in got and (1, 2) in got
    assert (1, 3) not in got and (2, 3) not in got
    verified = ngram_jaccard_pairs(pairs, docs, "doc_id", "text", threshold=0.8)
    v = {(r["id_a"], r["id_b"]): r["jaccard"] for r in verified.collect()}
    assert v[(1, 4)] == 1.0
    assert 0.8 <= v[(1, 2)] < 1.0


def test_simhash_pairs(spark, docs):
    got = {(r["id_a"], r["id_b"]) for r in
           simhash_dedup_pairs(docs, "doc_id", "text", max_hamming=4).collect()}
    assert (1, 4) in got
    assert (1, 3) not in got


def test_simhash_multiprobe_full_recall(spark):
    """The 4x16-bit band blocking must find EVERY pair within the
    hamming budget — including pairs whose differing bits land in the
    top 16 bits, which the old single-prefix probe silently missed
    (VERDICT r02 #4).  Ground truth is brute-force hamming over the
    operator's own simhash values."""
    from shacl_spark.operators.dedup import simhash

    base = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet "
            "kilo lima mike november oscar papa quebec romeo sierra tango").split()
    texts = [(0, " ".join(base))]
    for i in range(1, 40):
        words = list(base)
        words[i % len(words)] = f"mut{i}"
        texts.append((i, " ".join(words)))
    df = spark.createDataFrame(texts, ["doc_id", "text"])

    sh = {r["doc_id"]: r["sh"] for r in
          df.select("doc_id", simhash(F.col("text")).alias("sh")).collect()}
    truth = {
        (a, b)
        for a in sh for b in sh if a < b
        and bin((sh[a] ^ sh[b]) & ((1 << 64) - 1)).count("1") <= 3
    }
    # the scenario under test must actually occur: at least one true
    # pair differs ONLY via the top 16 bits' involvement (old prefix
    # blocking would split them into different buckets)
    prefix_split = {
        (a, b) for a, b in truth
        if (sh[a] >> 48) & 0xFFFF != (sh[b] >> 48) & 0xFFFF
    }
    assert prefix_split, "fixture regression: no prefix-splitting pair planted"

    got = {(r["id_a"], r["id_b"]) for r in
           simhash_dedup_pairs(df, "doc_id", "text", max_hamming=3).collect()}
    assert got == truth
    assert prefix_split <= got


def test_apply_dedup_transitive(spark):
    """A~B and B~C must collapse to ONE kept row even when A~C was
    never scored — the cluster step is connected components, not
    per-pair keep-min."""
    from shacl_spark.operators.dedup import apply_dedup

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
    kept, dup_map = apply_dedup(df, pairs, "doc_id")
    assert {r["doc_id"] for r in kept.collect()} == {1, 4}
    assert {(r["id"], r["canonical"]) for r in dup_map.collect()} == {
        ("2", "1"), ("3", "1"),
    }


def test_near_dedup_end_to_end(spark, docs):
    """Full pipeline: docs 1 and 4 are identical, 2 is a near-dup of
    both — one representative (min id) survives; 3 is unrelated."""
    from shacl_spark.operators.dedup import near_dedup

    kept, dup_map = near_dedup(docs, "doc_id", "text", threshold=0.8)
    assert {r["doc_id"] for r in kept.collect()} == {1, 3}
    dropped = {r["id"] for r in dup_map.collect()}
    assert dropped == {"2", "4"}


def test_embedding_dedup_and_ann(spark):
    import math

    def vec(seed, dim=8):
        return [math.sin(seed * (i + 1)) for i in range(dim)]

    rows = [(1, vec(1)), (2, vec(1)), (3, vec(2)), (4, vec(3))]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = {(r["id_a"], r["id_b"]) for r in
             embedding_dedup_pairs(emb, "vec_id", "embedding", threshold=0.999).collect()}
    assert (1, 2) in pairs and len(pairs) == 1

    q = emb.where("vec_id = 1").select(F.col("vec_id").alias("query_id"), "embedding")
    bf = brute_force_topk(emb, q, id_col="vec_id", vec_col="embedding", k=2)
    top = [r["vec_id"] for r in bf.orderBy("rank").collect()]
    assert top[0] in (1, 2) and top[1] in (1, 2)
    # LSH top-1 agrees with brute force (identical vectors land together)
    lsh = lsh_topk(emb, q, id_col="vec_id", vec_col="embedding", k=1, dim=8)
    assert lsh.first()["vec_id"] in (1, 2)


def test_asof_join_backward(spark):
    def ts(s):
        return datetime.datetime.fromisoformat(s)

    left = spark.createDataFrame(
        [(1, ts("2024-01-01T10:00:00"), "e1"),
         (1, ts("2024-01-01T12:00:00"), "e2"),
         (2, ts("2024-01-01T09:00:00"), "e3")],
        ["uid", "ts", "tag"],
    )
    right = spark.createDataFrame(
        [(1, ts("2024-01-01T09:30:00"), 100.0),
         (1, ts("2024-01-01T11:00:00"), 200.0),
         (2, ts("2024-01-01T09:30:00"), 300.0)],
        ["uid", "rts", "payload"],
    )
    out = asof_join(left, right, on="uid", left_ts="ts", right_ts="rts",
                    payload_cols=["payload"])
    got = {r["tag"]: r["payload"] for r in out.collect()}
    assert got == {"e1": 100.0, "e2": 200.0, "e3": None}


def test_text_stats(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog is in the house"), (2, "el que la de los y")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in text_stats(df).collect()}
    assert out[1]["detected_lang"] == "en"
    assert out[2]["detected_lang"] == "es"
    assert out[1]["tokens"] == 9
    assert 0.0 <= out[1]["quality"] <= 1.0
    assert isinstance(out[1]["fp"], int)


def test_multimodal_plumbing(spark):
    media = synth_media(spark, 30, parts=2)
    feats = extract_features(media, dim=8)
    rows = feats.collect()
    assert len(rows) == 30
    assert all(len(r["feature"]) == 8 for r in rows)
    # deterministic across runs
    again = {r["media_id"]: r["feature"] for r in extract_features(media, dim=8).collect()}
    for r in rows:
        assert again[r["media_id"]] == r["feature"]
    plan = frame_sample_plan(media, every_ms=10_000)
    assert plan.count() > 0
    assert plan.where(F.col("frame_ts_ms") % 10_000 != 0).count() == 0


def test_ivf_topk_self_match_and_recall(spark):
    """IVF-flat (r04): each query's rank-1 hit is itself (it sits in
    its own cell with cosine 1), and probing nprobe=4 of 16 cells
    recovers a sane fraction of the exact top-10."""
    from pyspark.sql import functions as F

    from shacl_spark.operators.similarity import brute_force_topk, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ivf = ivf_topk(emb, queries, k=10, n_centroids=16, nprobe=4).collect()
    top1 = {r["query_id"]: r["vec_id"] for r in ivf if r["rank"] == 1}
    assert top1 == {q: q for q in range(5)}

    exact = brute_force_topk(emb, queries, k=10).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    got_sets = {}
    for r in ivf:
        got_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    recall = sum(
        len(got_sets[q] & exact_sets[q]) for q in exact_sets
    ) / sum(len(s) for s in exact_sets.values())
    # random synthetic embeddings are a worst case for ANN (neighbors
    # are noise); probing 1/4 of the cells must still recover a
    # non-trivial fraction of the exact neighbors
    assert recall >= 0.2, recall
