"""Target selection → focus node frames (SPEC §2.1.3; SURVEY.md §2.C).

The class hierarchy is ONE driver-side map (super → direct subs,
:func:`subclass_closure_map`), collected once per validation run from
the ontology-sized rdfs:subClassOf edges.  Targets, sh:class and
SHACL-AF rules expand it on the driver (:func:`subtypes_of`) and scan
the rdf:type triples with a literal filter (past 256 subtypes, a
broadcast join against a local relation) — no closure fixpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from shacl_spark.functions.terms import (
    RDF_TYPE,
    RDFS_SUBCLASSOF,
    node_key,
    node_key_col,
    subject_kind_col,
)
from shacl_spark.session import local_frame
from shacl_spark.shacl.shapes import Shape, Term

NODE_SCHEMA = T.StructType(
    [
        T.StructField("node", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("dt", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)


def empty_nodes(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], NODE_SCHEMA)


def nodes_from_terms(spark: SparkSession, terms) -> DataFrame:
    rows = [(node_key(t.kind, t.value, t.dt, t.lang), t.kind, t.dt, t.lang) for t in terms]
    return local_frame(spark, rows, NODE_SCHEMA)


def subclass_closure_map(
    triples: DataFrame, max_schema_rows: int = 1_000_000
) -> dict[str, set[str]]:
    """DRIVER-side subclass hierarchy: super → direct subs, collected
    from the (ontology-sized) subClassOf edge list — the same
    schema-is-small assumption entailment.py makes, with the same cap:
    a hierarchy over ``max_schema_rows`` edges raises.  With the map in
    hand, target/class instance selection is a literal filter — no
    classes-universe distinct, no closure fixpoint, no join
    materializations (profiled r06: those were ~a dozen separate AQE
    jobs per validation)."""
    from collections import defaultdict

    rows = (
        triples.where(F.col("pred") == RDFS_SUBCLASSOF)
        .select("subj", "obj")
        .limit(max_schema_rows + 1)
        .collect()
    )
    if len(rows) > max_schema_rows:
        raise ValueError(
            f"subclass_closure_map: schema statements exceed {max_schema_rows}; "
            "raise max_schema_rows if the ontology really is this large"
        )
    down: dict[str, set[str]] = defaultdict(set)
    for r in rows:
        down[r[1]].add(r[0])
    return dict(down)


def subtypes_of(down: dict[str, set[str]], classes) -> set[str]:
    """``classes`` plus every transitive subclass (cycle-safe)."""
    out = set(classes)
    frontier = list(classes)
    while frontier:
        c = frontier.pop()
        for s in down.get(c, ()):
            if s not in out:
                out.add(s)
                frontier.append(s)
    return out


def _typed_nodes(triples: DataFrame, subtypes: set[str]) -> DataFrame:
    """Distinct subjects with rdf:type in ``subtypes`` (driver list).
    Small lists inline as a literal isin; large ones broadcast-join a
    local relation (thousands of isin literals choke Catalyst
    re-analysis — measured in shacl/incremental.py)."""
    typed = triples.where(F.col("pred") == RDF_TYPE)
    subs = sorted(subtypes)
    if len(subs) <= 256:
        hits = typed.where(F.col("obj").isin(subs)) if subs else typed.limit(0)
    else:
        sdf = local_frame(triples.sparkSession, [(s,) for s in subs], "sub string")
        hits = typed.join(F.broadcast(sdf), F.col("obj") == F.col("sub"), "inner")
    return (
        hits.select(F.col("subj").alias("node"))
        .distinct()
        .select(
            "node",
            subject_kind_col(F.col("node")).alias("kind"),
            F.lit(None).cast("string").alias("dt"),
            F.lit(None).cast("string").alias("lang"),
        )
    )


def instances_of(
    triples: DataFrame, closure: dict[str, set[str]], class_iri: str
) -> DataFrame:
    """SHACL instances of ``class_iri``: nodes with rdf:type T where
    T subClassOf* class_iri (``closure``: :func:`subclass_closure_map`)."""
    return _typed_nodes(triples, subtypes_of(closure, [class_iri]))


def focus_nodes(
    spark: SparkSession,
    shape: Shape,
    triples: DataFrame,
    closure: dict[str, set[str]],
) -> DataFrame:
    """Union of all declared targets, deduped on term identity."""
    frames: list[DataFrame] = []
    if shape.target_nodes:
        frames.append(nodes_from_terms(spark, shape.target_nodes))

    classes = list(shape.target_classes)
    if shape.implicit_class_target:
        classes.append(shape.iri)
    if classes:
        # one type-scan for ALL target classes (a shape with k
        # targetClass declarations would otherwise scan the rdf:type
        # slice k times and dedup k frames)
        frames.append(_typed_nodes(triples, subtypes_of(closure, classes)))

    for p in shape.target_subjects_of:
        frames.append(
            triples.where(F.col("pred") == p)
            .select(F.col("subj").alias("node"))
            .distinct()
            .select(
                "node",
                subject_kind_col(F.col("node")).alias("kind"),
                F.lit(None).cast("string").alias("dt"),
                F.lit(None).cast("string").alias("lang"),
            )
        )
    for p in shape.target_objects_of:
        frames.append(
            triples.where(F.col("pred") == p)
            .select(
                node_key_col(
                    F.col("obj_kind"), F.col("obj"), F.col("obj_dt"), F.col("obj_lang")
                ).alias("node"),
                F.col("obj_kind").alias("kind"),
                F.col("obj_dt").alias("dt"),
                F.col("obj_lang").alias("lang"),
            )
            .dropDuplicates(["node"])
        )

    if not frames:
        return empty_nodes(spark)
    if len(frames) == 1:
        return frames[0]  # every constituent above is already distinct
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.dropDuplicates(["node", "kind", "dt", "lang"])
