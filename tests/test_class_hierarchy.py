"""The class hierarchy is one driver-side map (targets.subclass_closure_map):
class targets and sh:class past the 256-subtype literal filter, the
over-cap error, small frames as local relations, and the engine's
per-run caches."""

from __future__ import annotations

import pytest

from shacl_spark.functions.terms import RDF, RDFS, SH, triples_from_rows
from shacl_spark.shacl import validate
from shacl_spark.shacl.interp import Oracle

NULL = "␀"
T = RDF + "type"
SCO = RDFS + "subClassOf"


def _rows(rows) -> list[tuple]:
    return sorted(tuple(NULL if v is None else str(v) for v in r) for r in rows)


def _wide_hierarchy(n_subclasses: int = 300):
    """ex:Top with ``n_subclasses`` subClassOf edges: half direct
    subclasses, half a chain under the first one, so the target set
    reaches 301 subtypes over several levels."""
    half = n_subclasses // 2
    data = [(f"ex:D{i}", SCO, "ex:Top") for i in range(half)]
    data += [(f"ex:C{i}", SCO, "ex:D0" if i == 0 else f"ex:C{i - 1}")
             for i in range(n_subclasses - half)]
    for i in range(0, half, 7):
        data.append((f"ex:d{i}", T, f"ex:D{i}"))
        data.append((f"ex:d{i}", "ex:ref", f"ex:c{i}"))
    for i in range(0, n_subclasses - half, 11):
        data.append((f"ex:c{i}", T, f"ex:C{i}"))
        data.append((f"ex:c{i}", "ex:ref", "ex:outside"))
    data += [
        ("ex:outside", T, "ex:Other"),
        ("ex:outside", "ex:ref", "ex:d0"),
        ("ex:d0", "ex:ref", "lit", "literal", RDF + "langString", "en"),
    ]
    shapes = [
        ("ex:S", T, SH + "NodeShape"),
        ("ex:S", SH + "targetClass", "ex:Top"),
        ("ex:S", SH + "property", "ex:SP"),
        ("ex:SP", SH + "path", "ex:ref"),
        ("ex:SP", SH + "class", "ex:Top"),
    ]
    return data, shapes


def test_wide_hierarchy_matches_interp(spark):
    """More than 256 subtypes: focus_nodes and instances_of take the
    local-relation join, and the report equals the interpreter's."""
    from shacl_spark.shacl.targets import subclass_closure_map, subtypes_of

    data, shapes = _wide_hierarchy()
    triples = triples_from_rows(spark, data)
    assert len(subtypes_of(subclass_closure_map(triples), ["ex:Top"])) > 256
    engine = _rows(validate(spark, triples, shapes).collect())
    interp = _rows(r.as_row() for r in Oracle(data, shapes).validate())
    assert engine == interp
    # c<i> → ex:outside (not a Top instance) and d0 → the literal
    values = {r[6] for r in engine}
    assert "ex:outside" in values and "lit" in values
    assert all(r[0] != "ex:outside" for r in engine)  # not a target


def test_subclass_map_over_cap_raises(spark):
    from shacl_spark.shacl.targets import subclass_closure_map

    triples = triples_from_rows(spark, [("ex:B", SCO, "ex:A"), ("ex:C", SCO, "ex:B")])
    assert subclass_closure_map(triples, max_schema_rows=2) == {
        "ex:A": {"ex:B"}, "ex:B": {"ex:C"},
    }
    with pytest.raises(ValueError, match="schema statements exceed 1"):
        subclass_closure_map(triples, max_schema_rows=1)


def test_small_frames_are_local_relations(spark):
    from shacl_spark.shacl.shapes import Term
    from shacl_spark.shacl.targets import NODE_SCHEMA, _typed_nodes, nodes_from_terms

    nodes = nodes_from_terms(spark, [Term("ex:a", "iri"), Term("1", "literal", "ex:int")])
    assert nodes.schema == NODE_SCHEMA
    assert "LocalRelation" in nodes._jdf.queryExecution().analyzed().toString()
    assert nodes.count() == 2

    triples = triples_from_rows(spark, [("ex:x", T, "ex:K5")])
    typed = _typed_nodes(triples, {f"ex:K{i}" for i in range(300)})
    plan = typed._jdf.queryExecution().analyzed().toString()
    assert "LocalRelation" in plan  # the subtype side; the triples are a list
    assert [r.node for r in typed.collect()] == ["ex:x"]


def test_metamodel_persists_each_frame_once(spark):
    """evaluate() persists a shared value-node frame once, not once per
    child property shape (Spark warns 'Asked to cache already cached
    data' for each repeat)."""
    from shacl_spark.functions.terms import KG, XSD
    from shacl_spark.shacl.engine import Validator
    from shacl_spark.shacl.kg_shapes import KG_METAMODEL
    from shacl_spark.shacl.parser import parse_shapes_graph

    data = [
        ("kg:file/a", T, KG + "File"),
        ("kg:file/a", KG + "sha256", "0" * 64, "literal", XSD + "string"),
        ("kg:file/a", KG + "lang", "python", "literal", XSD + "string"),
        ("kg:file/a", KG + "inRepo", "kg:repo/r"),
        ("kg:file/a", KG + "defines", "kg:file/a#f"),
        ("kg:file/a#f", T, KG + "Function"),
        ("kg:file/a#f", KG + "name", "f", "literal", XSD + "string"),
    ]
    v = Validator(spark, triples_from_rows(spark, data), parse_shapes_graph(KG_METAMODEL))
    try:
        assert v.validate().count() == 0
        ids = [id(df) for df in v._cached]
        assert len(ids) == len(set(ids))
    finally:
        v.cleanup()
