#!/usr/bin/env python
"""spark-submit entry: continuous SHACL validation of a triple stream.

    spark-submit --py-files shacl_spark.zip jobs/validate_stream.py \
        --stream  <dir of triple parquet files (file-source CDC feed)> \
        --shapes  <csv/parquet/ttl shapes graph> \
        --target  <merge-on-read triple target dir> \
        --report  <versioned report dir> \
        [--cdc]      # the feed's files carry an 'op' column ('+' / '-')
        [--follow]   # keep running; default drains available input and exits

Each micro-batch upserts and retracts exactly once (a feed without
``--cdc`` is all upserts), committing its net change as one target
directory, incrementally revalidates only the affected focus nodes, and
writes a new report version.
Prints a one-line JSON summary of the final report.

The driver JVM defaults of ``get_spark`` apply only when it launches the
JVM, not under ``spark-submit`` (SCALING.md, "Driver JVM").
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--stream", required=True)
    p.add_argument("--shapes", required=True)
    p.add_argument("--target", required=True)
    p.add_argument("--report", required=True)
    p.add_argument("--follow", action="store_true")
    p.add_argument(
        "--cdc", action="store_true",
        help="the feed's files carry an 'op' column ('+' upsert / '-' "
        "retract); without it every row is an upsert",
    )
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    from shacl_spark.functions.terms import TRIPLE_SCHEMA
    from shacl_spark.session import get_spark
    from shacl_spark.shacl import summarize
    from shacl_spark.streaming.validate_stream import StreamingValidator

    from jobs.validate_graph import _read_shapes_rows

    # a --follow driver lives for hours; on warm CDC batches tiered C2
    # (HotSpot's default) measured lower latency than get_spark's
    # C1-only default (SCALING.md, "Driver JVM")
    follow_conf = {"spark.driver.defaultJavaOptions": "-XX:TieredStopAtLevel=4"}
    spark = get_spark(
        "validate_stream", master=args.master,
        extra_conf=follow_conf if args.follow else None,
    )
    sv = StreamingValidator(
        spark, _read_shapes_rows(spark, args.shapes), args.target, args.report
    )
    schema = TRIPLE_SCHEMA
    if args.cdc:
        from pyspark.sql import types as T

        schema = T.StructType(
            list(TRIPLE_SCHEMA.fields) + [T.StructField("op", T.StringType(), False)]
        )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(args.stream)
    )
    q = sv.start(stream, trigger_available_now=not args.follow)
    q.awaitTermination()

    by_comp: dict[str, int] = {}
    for r in summarize(sv.current_report()).collect():
        key = r["component"].split("#")[-1]
        by_comp[key] = by_comp.get(key, 0) + r["n"]
    print(
        json.dumps(
            {
                "conforms": not by_comp,
                "violations_by_component": by_comp,
                "report_versions": len(sv._versions()),
                "triples": sv.sink.current().count(),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
