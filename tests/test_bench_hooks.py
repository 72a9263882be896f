"""Every program name the benchmark's tracer (``kgbench/run.py --trace 1``)
wraps or reads must exist: ``Tracer.wrap`` looks each one up with
``getattr``, so a rename would otherwise surface only as an
``AttributeError`` in a traced benchmark run.  Needs no SparkSession."""

from __future__ import annotations

import importlib

import pytest

HOOKS = {
    "shacl_spark.plans.kg_pipeline": [
        "extract_triples", "run_with_checkpoints", "canonicalize", "validate",
        "write_graph",
    ],
    "shacl_spark.shacl": ["validate"],
    "shacl_spark.shacl.engine": ["parse_shapes_graph"],
    "shacl_spark.shacl.incremental": ["collect_local_edges"],
    "shacl_spark.shacl.report": ["report_to_triples"],
    "shacl_spark.sources.ntriples": ["read_ntriples", "write_ntriples"],
    "shacl_spark.streaming.validate_stream": [
        "incremental_revalidate", "parse_shapes_graph",
        "StreamingValidator._on_batch", "StreamingValidator._write_report",
    ],
    "shacl_spark.streaming.upsert": [
        "TombstoneTripleSink._compute_delta", "TombstoneTripleSink._append",
    ],
}


@pytest.mark.parametrize(
    "module,name", [(m, n) for m, names in HOOKS.items() for n in names]
)
def test_traced_name_exists(module, name):
    obj = importlib.import_module(module)
    for part in name.split("."):
        obj = getattr(obj, part)
    assert callable(obj), f"{module}.{name}"
