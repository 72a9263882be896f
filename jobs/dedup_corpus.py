#!/usr/bin/env python
"""spark-submit entry: deduplicate a document corpus (exact + near-dup).

    spark-submit --py-files shacl_spark.zip jobs/dedup_corpus.py \
        --input  <parquet with (id, text) columns> \
        --output <deduped parquet dir> \
        [--id-col doc_id] [--text-col text] \
        [--threshold 0.8] [--exact-only] [--dup-map <parquet dir>]

Exact tier first (sha256 groupBy, linear), then minhash-LSH blocking →
n-gram-Jaccard verify → connected components → keep the min-id
representative per duplicate cluster.  Prints a one-line JSON summary.

The driver JVM defaults of ``get_spark`` apply only when it launches the
JVM, not under ``spark-submit`` (SCALING.md, "Driver JVM").
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--id-col", dest="id_col", default="doc_id")
    p.add_argument("--text-col", dest="text_col", default="text")
    p.add_argument("--threshold", type=float, default=0.8)
    p.add_argument("--exact-only", action="store_true")
    p.add_argument("--dup-map", dest="dup_map")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    from pyspark.sql import functions as F

    from shacl_spark.operators.dedup import apply_dedup, near_dedup
    from shacl_spark.session import get_spark

    spark = get_spark("dedup_corpus", master=args.master)
    docs = spark.read.parquet(args.input)
    n_in = docs.count()

    # exact tier: one linear shuffle; keep min id per identical text
    exact_pairs = (
        docs.select(
            F.col(args.id_col).alias("id"), F.sha2(F.col(args.text_col), 256).alias("h")
        )
        .groupBy("h")
        .agg(F.min("id").alias("id_a"), F.collect_list("id").alias("ids"))
        .select("id_a", F.explode("ids").alias("id_b"))
        .where(F.col("id_a") != F.col("id_b"))
    )
    kept, dup_exact = apply_dedup(docs, exact_pairs, args.id_col)

    dup_maps = [dup_exact.withColumn("method", F.lit("exact"))]
    if not args.exact_only:
        kept, dup_near = near_dedup(
            kept, args.id_col, args.text_col, threshold=args.threshold
        )
        dup_maps.append(dup_near.withColumn("method", F.lit("near")))

    kept.write.mode("overwrite").parquet(args.output)
    n_out = spark.read.parquet(args.output).count()
    full_map = dup_maps[0]
    for m in dup_maps[1:]:
        full_map = full_map.unionByName(m)
    if args.dup_map:
        full_map.write.mode("overwrite").parquet(args.dup_map)
    by_method = {
        r["method"]: r["n"]
        for r in full_map.groupBy("method").agg(F.count("*").alias("n")).collect()
    }
    print(
        json.dumps(
            {
                "docs_in": n_in,
                "docs_kept": n_out,
                "dropped": n_in - n_out,
                "dropped_by_method": by_method,
                "threshold": args.threshold,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
