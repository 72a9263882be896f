"""Incremental revalidation == full revalidation (shacl/incremental.py):
scenario deltas and seeded-random deltas over a shapes graph exercising
paths, class closures, pairs, counts, and sh:sparql."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from shacl_spark.functions.terms import RDF, RDFS, SH, XSD, triples_from_rows
from shacl_spark.shacl import validate
from shacl_spark.shacl.incremental import (
    incremental_revalidate,
    shapes_footprint,
)
from shacl_spark.shacl.parser import parse_shapes_graph

T = RDF + "type"
INT = XSD + "integer"
STR = XSD + "string"

SHAPES = [
    ("ex:PS", T, SH + "NodeShape"),
    ("ex:PS", SH + "targetClass", "ex:Person"),
    ("ex:PS", SH + "property", "ex:PName"),
    ("ex:PName", SH + "path", "ex:name"),
    ("ex:PName", SH + "minCount", "1", "literal", INT),
    ("ex:PS", SH + "property", "ex:PKnows"),
    ("ex:PKnows", SH + "path", "ex:knows"),
    ("ex:PKnows", SH + "class", "ex:Person"),
    ("ex:PS", SH + "property", "ex:PStart"),
    ("ex:PStart", SH + "path", "ex:start"),
    ("ex:PStart", SH + "lessThan", "ex:end"),
    ("ex:PS", SH + "property", "ex:PCity"),
    ("ex:PCity", SH + "path", "ex:seq/0"),
    ("ex:seq/0", RDF + "first", "ex:worksFor"),
    ("ex:seq/0", RDF + "rest", "ex:seq/1"),
    ("ex:seq/1", RDF + "first", "ex:locatedIn"),
    ("ex:seq/1", RDF + "rest", RDF + "nil"),
    ("ex:PCity", SH + "minCount", "1", "literal", INT),
    ("ex:OS", T, SH + "NodeShape"),
    ("ex:OS", SH + "targetSubjectsOf", "ex:locatedIn"),
    ("ex:OS", SH + "sparql", "ex:SQ"),
    ("ex:SQ", SH + "select",
     "PREFIX ex: <ex:> SELECT ?this ?value WHERE { "
     "?this ex:locatedIn ?value . FILTER (isLiteral(?value)) }",
     "literal", STR),
]


def _base_rows() -> list[tuple]:
    rows = [("ex:Person", RDFS + "subClassOf", "ex:Agent")]
    for i in range(8):
        p = f"ex:p{i}"
        rows.append((p, T, "ex:Person"))
        if i != 3:
            rows.append((p, "ex:name", f"N{i}", "literal", STR))
        rows.append((p, "ex:knows", f"ex:p{(i + 1) % 8}"))
        rows.append((p, "ex:start", str(i), "literal", INT))
        rows.append((p, "ex:end", str(i + (5 if i % 2 else -1)), "literal", INT))
        if i % 2:
            rows.append((p, "ex:worksFor", f"ex:org{i % 3}"))
    for k in range(3):
        if k < 2:
            rows.append((f"ex:org{k}", "ex:locatedIn", f"ex:city{k}"))
    rows.append(("ex:rock", T, "ex:Thing"))
    rows.append(("ex:p0", "ex:knows", "ex:rock"))
    return rows


def _canon(report) -> list[tuple]:
    return sorted(
        tuple("␀" if v is None else str(v) for v in r) for r in report.collect()
    )


def _check_equiv(spark, base_rows, new_rows, changed_rows, spark_hops=False):
    base = triples_from_rows(spark, base_rows)
    new = triples_from_rows(spark, new_rows)
    changed = triples_from_rows(spark, changed_rows)
    prev = validate(spark, base, SHAPES)
    full = _canon(validate(spark, new, SHAPES))
    # BOTH execution paths must equal full revalidation: the local
    # interpreter fast path (default; small slices collect to the
    # driver) and the distributed Validator path (local_max_rows=0)
    stats: dict = {}
    inc = incremental_revalidate(
        spark, new, changed, SHAPES, prev, stats=stats
    )
    assert _canon(inc) == full, f"local-path mismatch ({stats.get('mode')})"
    stats_d: dict = {}
    inc_d = incremental_revalidate(
        spark, new, changed, SHAPES, prev, local_max_rows=0, stats=stats_d
    )
    assert _canon(inc_d) == full, f"distributed-path mismatch ({stats_d.get('mode')})"
    assert stats_d.get("mode") != "incremental_local"
    if spark_hops:
        # edge_collect_max=0: the footprint edges never fit the driver
        # cache, so the expansion runs as one Spark job per hop
        stats_h: dict = {}
        inc_h = incremental_revalidate(
            spark, new, changed, SHAPES, prev, edge_collect_max=0, stats=stats_h
        )
        assert _canon(inc_h) == full, f"spark-hop mismatch ({stats_h.get('mode')})"
        if stats_h["mode"].startswith("incremental"):
            assert stats_h["edge_mode"] == "spark_hops"


def test_footprint_analysis():
    fp = shapes_footprint(parse_shapes_graph(SHAPES))
    assert "ex:name" in fp.fwd_preds and "ex:worksFor" in fp.fwd_preds
    assert "ex:end" in fp.fwd_preds          # lessThan pair predicate
    assert "ex:locatedIn" in fp.fwd_preds    # sequence path + sparql BGP
    # rdf:type is deliberately NOT a hop edge (class nodes are hubs);
    # a value's type change seeds the value and travels back through
    # the path predicates instead
    assert RDF + "type" not in fp.fwd_preds | fp.inv_preds
    assert fp.depth >= 2                 # the 2-hop sequence path
    assert fp.subclass_sensitive
    # no inverse PATHS in SHAPES, but sh:sparql BGP predicates go in
    # BOTH directions (patterns can reach ?this in object position)
    assert fp.inv_preds == {"ex:locatedIn"}


SCENARIOS = {
    # a violating triple appears (p3 had no name; now p5 loses one... add new literal)
    "add_violating_value": (
        [], [("ex:p5", "ex:age", "x", "literal", INT)],
    ),
    # remove a name -> new MinCount violation
    "remove_name": ([("ex:p2", "ex:name", "N2", "literal", STR)], []),
    # add the missing name -> violation disappears
    "fix_name": ([], [("ex:p3", "ex:name", "N3", "literal", STR)]),
    # 2-hop effect: org gains a city -> sequence-path MinCount clears
    # for every person working at that org
    "org_gains_city": ([], [("ex:org2", "ex:locatedIn", "ex:cityX")]),
    # rdf:type change on a VALUE: rock becomes a Person -> the sh:class
    # violation on p0 disappears (1-hop inverse effect)
    "value_gains_type": ([], [("ex:rock", T, "ex:Person")]),
    # ontology edit -> full-revalidation escape hatch (still equivalent)
    "subclass_edit": ([], [("ex:Employee", RDFS + "subClassOf", "ex:Person"),
                           ("ex:e1", T, "ex:Employee")]),
    # literal focus node via targetSubjectsOf's sparql (locatedIn literal)
    "literal_located": ([], [("ex:org0", "ex:locatedIn", "downtown", "literal", STR)]),
}


@pytest.mark.parametrize("name", sorted(SCENARIOS))
def test_scenario_equivalence(spark, name):
    removed, added = SCENARIOS[name]
    base = _base_rows()
    new = [r for r in base if r not in removed] + added
    _check_equiv(spark, base, new, removed + added, spark_hops=True)


def test_random_delta_equivalence(spark):
    """Seeded random add/remove deltas over the footprint vocabulary —
    incremental must equal full revalidation every time."""
    rng = random.Random(7)
    preds = ["ex:name", "ex:knows", "ex:start", "ex:end", "ex:worksFor",
             "ex:locatedIn", T]
    for trial in range(5):
        base = _base_rows()
        removed = rng.sample(base[1:], 2)  # keep the subClassOf row
        added = []
        for _ in range(3):
            p = rng.choice(preds)
            s = f"ex:p{rng.randrange(10)}" if p != "ex:locatedIn" else f"ex:org{rng.randrange(4)}"
            if p in ("ex:name",):
                added.append((s, p, f"R{trial}", "literal", STR))
            elif p in ("ex:start", "ex:end"):
                added.append((s, p, str(rng.randrange(20)), "literal", INT))
            elif p == T:
                added.append((s, p, rng.choice(["ex:Person", "ex:Thing"])))
            else:
                added.append((s, p, f"ex:p{rng.randrange(10)}"))
        new = [r for r in base if r not in removed] + added
        _check_equiv(spark, base, new, removed + added)


def test_inverse_path_direction(spark):
    """Inverse-path dependency propagates subject→object: adding a
    managerOf triple must revalidate its OBJECT (the employee focus),
    and incremental equals full."""
    shapes = [
        ("ex:ES", T, SH + "NodeShape"),
        ("ex:ES", SH + "targetClass", "ex:Emp"),
        ("ex:ES", SH + "property", "ex:EP"),
        ("ex:EP", SH + "path", "ex:invp"),
        ("ex:invp", SH + "inversePath", "ex:managerOf"),
        ("ex:EP", SH + "minCount", "1", "literal", INT),
    ]
    base = [
        ("ex:e1", T, "ex:Emp"), ("ex:e2", T, "ex:Emp"),
        ("ex:m1", "ex:managerOf", "ex:e1"),
    ]
    added = [("ex:m2", "ex:managerOf", "ex:e2")]
    base_df = triples_from_rows(spark, base)
    new_df = triples_from_rows(spark, base + added)
    prev = validate(spark, base_df, shapes)
    assert [r["focus"] for r in prev.collect()] == ["ex:e2"]
    inc = incremental_revalidate(
        spark, new_df, triples_from_rows(spark, added), shapes, prev
    )
    assert _canon(inc) == _canon(validate(spark, new_df, shapes))
    assert inc.isEmpty()


def test_untouched_rows_carry_over_without_recompute(spark):
    """The merged report must KEEP prev rows for unaffected focus nodes
    and the affected set must stay small for a local delta."""
    base = triples_from_rows(spark, _base_rows())
    added = [("ex:p3", "ex:name", "N3", "literal", STR)]
    new = triples_from_rows(spark, _base_rows() + added)
    prev = validate(spark, base, SHAPES)
    st: dict = {}
    inc = incremental_revalidate(
        spark, new, triples_from_rows(spark, added), SHAPES, prev, stats=st
    )
    assert st["mode"].startswith("incremental")
    # the delta is p3-local: bounded neighborhood, not the whole graph
    assert 1 <= st["affected"] < 10
    assert _canon(inc) == _canon(validate(spark, new, SHAPES))


def test_fixpoint_then_hop_sequence_path(spark):
    """ADVICE r03 (high): for sh:path (ex:q [sh:zeroOrMorePath ex:p])
    the backward dependency walk is p-fixpoint THEN the final q hop —
    a p-chain longer than the depth bound is only reached by the
    fixpoint, and the non-recursive q hop must still run afterwards."""
    shapes = [
        ("ex:CS", T, SH + "NodeShape"),
        ("ex:CS", SH + "targetClass", "ex:Head"),
        ("ex:CS", SH + "property", "ex:CP"),
        ("ex:CP", SH + "path", "ex:cseq/0"),
        ("ex:cseq/0", RDF + "first", "ex:q"),
        ("ex:cseq/0", RDF + "rest", "ex:cseq/1"),
        ("ex:cseq/1", RDF + "first", "ex:cstar"),
        ("ex:cseq/1", RDF + "rest", RDF + "nil"),
        ("ex:cstar", SH + "zeroOrMorePath", "ex:p"),
        ("ex:CP", SH + "class", "ex:Ok"),
    ]
    K = 6  # chain length > footprint depth (2)
    base = [("ex:f", T, "ex:Head"), ("ex:f", "ex:q", "ex:n0")]
    for i in range(K):
        base.append((f"ex:n{i}", "ex:p", f"ex:n{i + 1}"))
    for i in range(K):  # n0..n{K-1} typed Ok; the chain END is not
        base.append((f"ex:n{i}", T, "ex:Ok"))
    added = [(f"ex:n{K}", T, "ex:Ok")]  # fixes the violation at ex:f

    base_df = triples_from_rows(spark, base)
    new_df = triples_from_rows(spark, base + added)
    prev = validate(spark, base_df, shapes)
    assert {r["focus"] for r in prev.collect()} == {"ex:f"}
    inc = incremental_revalidate(
        spark, new_df, triples_from_rows(spark, added), shapes, prev
    )
    assert _canon(inc) == _canon(validate(spark, new_df, shapes))
    assert inc.isEmpty()  # the stale ex:f row must NOT carry over


def test_sparql_bgp_reaches_this_in_object_position(spark):
    """ADVICE r03 (high): a sh:sparql BGP chain can bind ?this in
    OBJECT position ('?x ex:a ?y . ?y ex:b ?this'); dependency there
    flows subject→object, so BGP predicates must propagate in both
    directions or the focus two hops downstream is never reached."""
    shapes = [
        ("ex:QS", T, SH + "NodeShape"),
        ("ex:QS", SH + "targetClass", "ex:Gate"),
        ("ex:QS", SH + "sparql", "ex:QQ"),
        ("ex:QQ", SH + "select",
         "PREFIX ex: <ex:> SELECT ?this WHERE { "
         "?x ex:a ?y . ?y ex:b ?this }",
         "literal", STR),
    ]
    base = [("ex:g", T, "ex:Gate"), ("ex:y1", "ex:b", "ex:g")]
    # the changed triple is TWO dependency hops from the focus ex:g
    added = [("ex:x1", "ex:a", "ex:y1")]

    base_df = triples_from_rows(spark, base)
    new_df = triples_from_rows(spark, base + added)
    prev = validate(spark, base_df, shapes)
    assert prev.isEmpty()
    inc = incremental_revalidate(
        spark, new_df, triples_from_rows(spark, added), shapes, prev
    )
    full = validate(spark, new_df, shapes)
    assert {r["focus"] for r in full.collect()} == {"ex:g"}
    assert _canon(inc) == _canon(full)  # the NEW violation must appear


def _journal(spark, added, removed):
    """A micro-batch journal frame: triple rows plus op '+' / '-'."""
    return triples_from_rows(spark, added).withColumn("op", F.lit("+")).unionByName(
        triples_from_rows(spark, removed).withColumn("op", F.lit("-"))
    )


def test_local_edges_delta_maintenance(spark):
    """apply_delta-maintained edges == a fresh collect over the
    post-delta graph (the streaming steady-state contract), and a
    retraction the cache never saw trips ``dirty``."""
    from shacl_spark.shacl.incremental import collect_local_edges

    fp = shapes_footprint(parse_shapes_graph(SHAPES))
    base = _base_rows()
    added = [
        ("ex:p9", T, "ex:Person"),
        ("ex:p9", "ex:knows", "ex:p0"),
        ("ex:p9", "ex:name", "N9", "literal", STR),
    ]
    removed = [("ex:p0", "ex:knows", "ex:rock")]
    new_rows = [r for r in base if r not in removed] + added

    maintained = collect_local_edges(triples_from_rows(spark, base), fp, 500_000)
    maintained.apply_delta(_journal(spark, added, removed), fp)
    assert not maintained.dirty

    fresh = collect_local_edges(triples_from_rows(spark, new_rows), fp, 500_000)
    for fam in ("dep", "rdep", "cdep", "crdep"):
        assert maintained.pairs(fam) == fresh.pairs(fam), fam
    assert maintained.n_rows == fresh.n_rows

    # incremental with the maintained cache == full validation
    new_df = triples_from_rows(spark, new_rows)
    prev = validate(spark, triples_from_rows(spark, base), SHAPES)
    st: dict = {}
    inc = incremental_revalidate(
        spark,
        new_df,
        triples_from_rows(spark, added + removed),
        SHAPES,
        prev,
        local_edges=maintained,
        stats=st,
    )
    assert st["edge_mode"] == "cached"
    assert _canon(inc) == _canon(validate(spark, new_df, SHAPES))

    # retracting an edge that was never added must trip the drift flag
    # (an ex:knows row between known nodes — a footprint predicate;
    # rdf:type is not)
    maintained.apply_delta(_journal(spark, [], [("ex:p1", "ex:knows", "ex:p5")]), fp)
    assert maintained.dirty


def test_local_edges_vocabulary_bounded_under_churn(spark):
    """Node churn (each batch adds an edge between two fresh nodes and
    retracts the previous batch's) must not grow the cached vocabulary
    without bound: dead codes are compacted away once they outnumber
    the live ones, and the edges still equal a fresh collect."""
    from shacl_spark.shacl.incremental import collect_local_edges

    fp = shapes_footprint(parse_shapes_graph(SHAPES))
    base = _base_rows()
    edges = collect_local_edges(triples_from_rows(spark, base), fp, 500_000)
    prev: list[tuple] = []
    for i in range(16):
        cur = [(f"ex:c{i}", "ex:knows", f"ex:d{i}")]
        edges.apply_delta(_journal(spark, cur, prev), fp)
        prev = cur
        live = {x for fam in ("dep", "rdep", "cdep", "crdep")
                for pair in edges.pairs(fam) for x in pair}
        assert len(edges._vocab) <= 2 * len(live), i
    assert not edges.dirty
    fresh = collect_local_edges(triples_from_rows(spark, base + prev), fp, 500_000)
    for fam in ("dep", "rdep", "cdep", "crdep"):
        assert edges.pairs(fam) == fresh.pairs(fam), fam
    assert edges.n_rows == fresh.n_rows
