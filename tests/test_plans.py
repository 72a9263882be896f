"""Physical-plan assertions — the 100 TB properties, locked in as
tests (SURVEY.md §4.3): filters and column pruning must reach the
parquet scan, small dimensions must broadcast, extraction must stay
shuffle-free with exactly ONE Python stage, and the canonical-rewrite
joins must broadcast the component map.  A plan regression (e.g. a
broadcast-threshold flip or an accidental extra Exchange) fails here
even when tiny-data results stay correct."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def queries():
    return entrymod.queries()


def test_filter_and_column_pushdown(spark, queries):
    plan = _plan(queries["scan_project_filter"](spark, SF))
    assert "PushedFilters: [" in plan
    assert "GreaterThan(l_discount,0.05)" in plan
    # column pruning: the 2-filter 4-column projection must not read
    # the wide comment/address columns
    assert "l_comment" not in plan
    read_schema = plan.split("ReadSchema:")[1]
    assert "l_orderkey" in read_schema


def test_small_dims_broadcast(spark, queries):
    plan = _plan(queries["join_broadcast_dims"](spark, SF))
    assert "BroadcastHashJoin" in plan


def test_extraction_is_shuffle_free_single_python_stage(spark):
    from shacl_spark.kg.extract import extract_triples
    from shacl_spark.sources.corpus import synth_corpus

    # fused corpus (r06): mention detection runs INSIDE the generation
    # MapInPandas — zero separate Arrow UDF stages, one Python crossing
    plan = _plan(extract_triples(synth_corpus(spark, 100, parts=4)))
    assert plan.count("Exchange") == 0, "extraction must stay a narrow map plan"
    assert plan.count("ArrowEvalPython") == 0, "fused path has NO separate UDF stage"
    assert plan.count("MapInPandas") == 1, "one Python crossing total"

    # a corpus without the fused column still pays exactly ONE Arrow UDF
    plan2 = _plan(
        extract_triples(synth_corpus(spark, 100, parts=4, with_mentions=False))
    )
    assert plan2.count("Exchange") == 0, "extraction must stay a narrow map plan"
    assert plan2.count("ArrowEvalPython") == 1, "exactly ONE Arrow UDF crossing"


def test_semi_anti_join_shapes(spark, queries):
    semi = _plan(queries["join_semi"](spark, SF))
    anti = _plan(queries["join_anti"](spark, SF))
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_join_variants_combo_physical_ops(spark, queries):
    """The window-slot fold must still execute THREE distinct physical
    join strategies — folding queries must never fold operators."""
    plan = _plan(queries["join_variants"](spark, SF))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "LeftOuter" in plan


def test_scalar_functions_single_codegen_projection(spark, queries):
    """All three scalar families fold into one narrow codegen'd
    projection over the scan — no shuffle, no Python."""
    plan = _plan(queries["scalar_functions"](spark, SF))
    assert plan.count("Exchange") == 0
    assert "EvalPython" not in plan


def test_ntriples_reader_plan(spark, tmp_path):
    from shacl_spark.sources.ntriples import read_ntriples

    p = tmp_path / "t.nt"
    p.write_text("<ex:s> <ex:p> <ex:o> .\n")
    plan = _plan(read_ntriples(spark, str(p)))
    assert plan.count("Exchange") == 0
    assert "EvalPython" not in plan


def test_canonical_rewrite_broadcasts_component_map(spark):
    from shacl_spark.functions.terms import triples_from_rows
    from shacl_spark.kg.canon import rewrite_triples

    triples = triples_from_rows(
        spark, [(f"ex:s{i}", "ex:p", f"ex:o{i}") for i in range(10)]
    )
    comp_map = spark.createDataFrame(
        [("ex:s1", "ex:s0")], "id string, canonical string"
    )
    plan = _plan(rewrite_triples(triples, comp_map))
    assert plan.count("BroadcastHashJoin") >= 2  # subj + obj rewrite joins
    assert "SortMergeJoin" not in plan


def test_bucketed_join_is_colocated(spark):
    """Bucketed tables pay their shuffle ONCE at write: a self-join /
    join between two tables bucketed on the same key must plan with
    ZERO Exchange (the 100 TB triples-joined-on-subj lever)."""
    from pyspark.sql import functions as F

    from shacl_spark.sources.tables import read_bucketed, write_bucketed

    a = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 7).alias("v")
    )
    b = spark.range(0, 500).select(F.col("id"), (F.col("id") * 2).alias("w"))
    write_bucketed(a, "bkt_a", "id", n_buckets=8)
    write_bucketed(b, "bkt_b", "id", n_buckets=8)
    # disable broadcast so the plan shows the bucket-driven strategy
    # (at 100 TB neither side broadcasts — that is the regime bucketing
    # is for; on toy tables the planner would just broadcast)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        ta, tb = read_bucketed(spark, "bkt_a"), read_bucketed(spark, "bkt_b")
        joined = ta.join(tb, "id")
        plan = _plan(joined)
        assert "Bucketed: true" in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan
        assert "SortMergeJoin" in plan
        assert joined.count() == 500
        # aggregation on the bucket key is exchange-free too
        agg_plan = _plan(ta.groupBy("id").count())
        assert "Exchange hashpartitioning" not in agg_plan, agg_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_validation_plan_has_no_cartesian_product(spark):
    """Every constraint join is an equi-join — the OPTIMIZED logical
    plan (AQE hides the physical tree pre-execution) must contain no
    cartesian product.  The 3-level class target is a literal rdf:type
    filter from the driver-side subclass map, not a join."""
    from fixtures.shacl_cases import CASES
    from shacl_spark.functions.terms import triples_from_rows
    from shacl_spark.shacl.engine import Validator
    from shacl_spark.shacl.parser import parse_shapes_graph

    from shacl_spark.shacl.targets import focus_nodes

    case = CASES["deep_subclass_closure"]
    v = Validator(
        spark,
        triples_from_rows(spark, case["data"]),
        parse_shapes_graph(case["shapes"]),
    )
    # evaluate() directly: validate()'s memo seeding lazily checkpoints
    # the report (LogicalRDD), which hides the join tree from inspection
    shape = next(iter(v.shapes.entry_shapes()))
    rep = v.evaluate(shape, focus_nodes(spark, shape, v.t, v.closure))
    logical = rep._jdf.queryExecution().optimizedPlan().toString()
    assert "Join Cross" not in logical
    assert "cartesian" not in logical.lower()
    assert "Join" in logical  # the constraint equi-joins are present
