#!/usr/bin/env python
"""spark-submit entry point for the KG construction pipeline
(BASELINE.json:14: "run via spark-submit --py-files on a multi-executor
cluster").

    spark-submit --py-files shacl_spark.zip jobs/build_kg.py \
        --input  <parquet-or-iceberg table of (repo,path,commit,lang,content)> \
        --output <dir>  [--synthetic N]  [--partitions 1024] \
        [--no-checkpoint] [--link-threshold 0.75]

With ``--synthetic N`` the deterministic corpus generator stands in
for the input table (sandbox/bench mode).

A finished run leaves the edge and node tables under ``--output`` (zstd
parquet) and deletes its extraction checkpoint; a killed run keeps the
checkpoint and a rerun resumes from it.  ``--no-checkpoint`` skips the
checkpoint: a killed run then starts over.  The printed JSON line holds
the row counts and ``bytes``, the size on disk of the two tables, under
``metrics``.

The driver JVM defaults of ``get_spark`` apply only when it launches the
JVM, not under ``spark-submit`` (SCALING.md, "Driver JVM").
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input", help="input table path (parquet dir or catalog table)")
    p.add_argument("--synthetic", type=int, default=0, help="generate N synthetic files instead")
    p.add_argument("--output", required=True)
    p.add_argument("--partitions", type=int, default=1024)
    p.add_argument("--no-checkpoint", action="store_true")
    p.add_argument("--no-validate", action="store_true")
    p.add_argument("--link-threshold", type=float, default=0.75)
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    from shacl_spark.session import get_spark
    from shacl_spark.plans.kg_pipeline import build_kg
    from shacl_spark.shacl.kg_shapes import KG_METAMODEL
    from shacl_spark.sources.corpus import synth_corpus

    spark = get_spark("build_kg", master=args.master)
    t0 = time.time()

    if args.synthetic:
        corpus = synth_corpus(spark, args.synthetic)
    elif args.input:
        corpus = spark.read.parquet(args.input)
    else:
        p.error("one of --input / --synthetic is required")

    result = build_kg(
        spark,
        corpus,
        args.output,
        shapes_rows=None if args.no_validate else KG_METAMODEL,
        n_parts=args.partitions,
        ckpt=not args.no_checkpoint,
        link_threshold=args.link_threshold,
    )
    violations = result.report.count()
    elapsed = time.time() - t0
    print(json.dumps({
        "elapsed_sec": round(elapsed, 2),
        "metrics": result.metrics,
        "violations": violations,
        "triples_per_sec": round(result.metrics.get("edges", 0) / elapsed, 1),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
