#!/usr/bin/env python
"""spark-submit entry: validate a triples table against a shapes graph.

    spark-submit --py-files shacl_spark.zip jobs/validate_graph.py \
        --data   <parquet dir | .nt N-Triples | .jsonl JSON-LD-lines | .rdf RDF/XML | .ttl> \
        --shapes <csv/parquet of shapes triples | .ttl> \
        [--report <output parquet dir>]

``--data *.nt`` goes through the DISTRIBUTED N-Triples reader
(sources/ntriples.py — executor-side line parse, shuffle-free); .ttl
data/shapes go through the driver-side Turtle parser (shapes-sized
inputs).

Prints a JSON summary line (conforms, violation counts by component);
optionally writes the full report frame.

The driver JVM defaults of ``get_spark`` apply only when it launches the
JVM, not under ``spark-submit`` (SCALING.md, "Driver JVM").
"""

from __future__ import annotations

import argparse
import json
import sys


def _read_shapes_rows(spark, path: str):
    if path.endswith(".ttl") or path.endswith(".turtle"):
        from shacl_spark.shacl.turtle import parse_turtle_file

        return parse_turtle_file(path)
    if path.endswith(".csv"):
        df = spark.read.option("header", True).csv(path)
    else:
        df = spark.read.parquet(path)
    cols = ["subj", "pred", "obj", "obj_kind", "obj_dt", "obj_lang"]
    present = [c for c in cols if c in df.columns]
    return [tuple(r[c] for c in present) for r in df.collect()]


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--data", required=True)
    p.add_argument("--shapes", required=True)
    p.add_argument("--report")
    p.add_argument("--report-triples", dest="report_triples")
    # serialize the report-results graph as N-Triples TEXT (r04): the
    # interchange loop closes — any standard RDF tool consumes it
    p.add_argument("--report-nt", dest="report_nt")
    # ... or as subject-grouped Turtle with a sh:/standard prefix header
    p.add_argument("--report-ttl", dest="report_ttl")
    # incremental revalidation: --changed (added+removed triple rows) +
    # --prev-report (the previous run's --report output) revalidate only
    # the affected focus nodes and merge (shacl/incremental.py)
    p.add_argument("--changed")
    p.add_argument("--prev-report", dest="prev_report")
    # JSON-LD-lines data (r05): optional term/prefix context as an
    # inline JSON object, e.g. '{"ex": "http://ex.org/"}'
    p.add_argument("--jsonld-context", dest="jsonld_context")
    # SHACL-AF rules (r05): execute sh:rule inference from the SAME
    # shapes graph to fixpoint and validate the EXPANDED data graph;
    # --infer-out also persists the expanded graph (parquet dir, or
    # .nt / .ttl text by extension) for downstream consumers
    p.add_argument("--infer", action="store_true")
    p.add_argument("--infer-out", dest="infer_out")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    from shacl_spark.session import get_spark
    from shacl_spark.shacl import summarize, validate

    spark = get_spark("validate_graph", master=args.master)
    from shacl_spark.sources.graph import read_graph

    ctx = json.loads(args.jsonld_context) if args.jsonld_context else None
    triples = read_graph(spark, args.data, jsonld_context=ctx)
    infer_stats: dict = {}
    if args.infer:
        from shacl_spark.shacl.rules import infer

        triples = infer(
            triples, _read_shapes_rows(spark, args.shapes), stats=infer_stats
        )
        if args.infer_out:
            if args.infer_out.endswith(".nt"):
                from shacl_spark.sources.ntriples import write_ntriples

                write_ntriples(triples, args.infer_out)
            elif args.infer_out.endswith(".ttl"):
                from shacl_spark.sources.turtle_writer import write_turtle

                write_turtle(triples, args.infer_out)
            else:
                triples.write.mode("overwrite").parquet(args.infer_out)
    if args.changed and args.prev_report:
        from shacl_spark.shacl.incremental import incremental_revalidate

        report = incremental_revalidate(
            spark,
            triples,
            spark.read.parquet(args.changed),
            _read_shapes_rows(spark, args.shapes),
            spark.read.parquet(args.prev_report),
        )
    else:
        report = validate(spark, triples, _read_shapes_rows(spark, args.shapes))
    # materialize the report ONCE: the summary plus up to three output
    # writers would otherwise each re-run the full validation lineage
    # (r04 review #6 — 4x the wall on a large graph)
    report = report.localCheckpoint(eager=True)
    # summarize() groups by (component, severity, source_shape): SUM per
    # component here — a dict comprehension would keep only the last row
    by_comp: dict[str, int] = {}
    for r in summarize(report).collect():
        key = r["component"].split("#")[-1]
        by_comp[key] = by_comp.get(key, 0) + r["n"]
    if args.report:
        report.write.mode("overwrite").parquet(args.report)
    if args.report_triples or args.report_nt or args.report_ttl:
        from shacl_spark.shacl.report import report_to_triples

        rt = report_to_triples(report)
        if args.report_triples:
            rt.write.mode("overwrite").parquet(args.report_triples)
        if args.report_nt:
            from shacl_spark.sources.ntriples import write_ntriples

            write_ntriples(rt, args.report_nt)
        if args.report_ttl:
            from shacl_spark.functions.terms import RDF as _RDF
            from shacl_spark.functions.terms import SH as _SH
            from shacl_spark.functions.terms import XSD as _XSD
            from shacl_spark.sources.turtle_writer import write_turtle

            write_turtle(
                rt,
                args.report_ttl,
                prefixes={"sh": _SH, "rdf": _RDF, "xsd": _XSD},
            )
    out = {"conforms": not by_comp, "violations_by_component": by_comp}
    if args.infer:
        out["inferred_triples"] = infer_stats.get("rules_inferred_triples", 0)
        out["inference_rounds"] = infer_stats.get("rules_rounds", 0)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
