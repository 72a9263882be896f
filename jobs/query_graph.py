#!/usr/bin/env python
"""spark-submit entry: run a SPARQL query over an RDF graph.

SELECT prints solution rows; CONSTRUCT prints (or writes) the
constructed graph as canonical six-column triple rows; ASK prints one
``{"ask": true|false}`` row.

    spark-submit --py-files shacl_spark.zip jobs/query_graph.py \
        --data  <parquet dir | .nt | .jsonl JSON-LD-lines | .rdf | .ttl> \
        (--query 'SELECT ...' | --query-file q.rq) \
        [--out <output parquet dir>] [--limit N]

The query runs through the engine's declarative translator
(shacl_spark/shacl/sparql.py translate_select): each basic graph
pattern is one equi-join against the triple frame, OPTIONAL/UNION/
FILTER [NOT] EXISTS map to left/union/semi/anti joins, GROUP BY +
COUNT/SUM/HAVING to one groupBy().agg() — Catalyst picks broadcast vs
shuffle per pattern, so the same query scales from a fixture file to a
bucketed 100 TB triple table.

Output: one column per selected variable (lexical form) plus
``<var>_kind`` / ``<var>_dt`` / ``<var>_lang`` term-fidelity columns.
Without ``--out``, prints up to ``--limit`` rows (default 100) as JSON
lines, then a summary line.

The driver JVM defaults of ``get_spark`` apply only when it launches the
JVM, not under ``spark-submit`` (SCALING.md, "Driver JVM").
"""

from __future__ import annotations

import argparse
import json


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--data", required=True)
    g = p.add_mutually_exclusive_group(required=True)
    g.add_argument("--query")
    g.add_argument("--query-file", dest="query_file")
    p.add_argument("--out")
    p.add_argument("--limit", type=int, default=100)
    p.add_argument("--jsonld-context", dest="jsonld_context")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    from shacl_spark.session import get_spark
    from shacl_spark.shacl.sparql import sparql_query
    from shacl_spark.sources.graph import read_graph

    text = args.query or open(args.query_file).read()
    spark = get_spark("query_graph", master=args.master)
    ctx = json.loads(args.jsonld_context) if args.jsonld_context else None
    triples = read_graph(spark, args.data, jsonld_context=ctx)
    result = sparql_query(triples, text)

    if args.out:
        result.write.mode("overwrite").parquet(args.out)
        n = spark.read.parquet(args.out).count()
        print(json.dumps({"rows": n, "out": args.out}))
        return 0
    rows = result.limit(args.limit + 1).collect()
    shown = rows[: args.limit]
    for r in shown:
        print(json.dumps(r.asDict(), ensure_ascii=False))
    print(
        json.dumps(
            {"rows_shown": len(shown), "truncated": len(rows) > args.limit}
        )
    )
    return 0


if __name__ == "__main__":
    import sys

    sys.exit(main())
