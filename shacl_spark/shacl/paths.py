"""Property-path evaluation (SPEC §2.3.1; SURVEY.md §2.D).

A *node frame* is ``DF[node, kind, dt, lang]`` (distinct focus nodes
with term metadata).  A *value frame* (VN) is ``DF[focus, value, kind,
dt, lang]`` — value nodes per focus, a set (deduped on SHACL term
equality).

Inverse paths are algebraically rewritten so that inversion only ever
wraps predicate paths::

    ^(a/b) = ^b/^a    ^(a|b) = ^a|^b    ^(p*) = (^p)*    ^^p = p

which keeps every physical step a plain equi-join against the triples
table — broadcastable when the focus set is small, shuffle-hash/SMJ
otherwise (Catalyst/AQE choose).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from shacl_spark.functions.terms import node_key_col, node_val_col, subject_kind_col
from shacl_spark.operators.fixpoint import iterate_to_fixpoint
from shacl_spark.shacl.shapes import (
    AlternativePath,
    InversePath,
    OneOrMorePath,
    Path,
    PredicatePath,
    SequencePath,
    ZeroOrMorePath,
    ZeroOrOnePath,
)

NODE_COLS = ["node", "kind", "dt", "lang"]
VN_COLS = ["focus", "value", "kind", "dt", "lang"]


def dedupe_vn(vn: DataFrame) -> DataFrame:
    return vn.dropDuplicates(["focus", "value", "kind", "dt", "lang"])


def identity_vn(nodes: DataFrame) -> DataFrame:
    """Zero-step path: each node is its own value.

    ``node`` is the unique term KEY (terms.node_key_col); the VN
    ``value`` column is the lexical form, so it is decoded here."""
    return nodes.select(
        F.col("node").alias("focus"),
        node_val_col(F.col("node")).alias("value"),
        "kind",
        "dt",
        "lang",
    )


def push_inverse(path: Path, inverted: bool = False) -> Path:
    """Rewrite so InversePath only wraps PredicatePath."""
    if isinstance(path, InversePath):
        return push_inverse(path.inner, not inverted)
    if isinstance(path, PredicatePath):
        return InversePath(path) if inverted else path
    if isinstance(path, SequencePath):
        steps = [push_inverse(s, inverted) for s in path.steps]
        return SequencePath(tuple(reversed(steps)) if inverted else tuple(steps))
    if isinstance(path, AlternativePath):
        return AlternativePath(tuple(push_inverse(o, inverted) for o in path.options))
    if isinstance(path, (ZeroOrMorePath, OneOrMorePath, ZeroOrOnePath)):
        return type(path)(push_inverse(path.inner, inverted))
    raise TypeError(f"unknown path {path!r}")


def _hop(nodes: DataFrame, triples: DataFrame, pred_iri: str, inverse: bool) -> DataFrame:
    """One predicate-path step from a node frame → VN frame.

    Forward: subjects are always IRIs, so the join key is just the
    string; metadata of the produced value comes from the triple.
    Inverse: match the node against the OBJECT term (full term
    equality — kind/dt/lang participate); produced values are subjects
    (IRIs).
    """
    t = triples.where(F.col("pred") == pred_iri)
    if not inverse:
        hits = nodes.where(F.col("kind").isin("iri", "bnode")).join(
            t, nodes["node"] == t["subj"], "inner"
        )
        return hits.select(
            F.col("node").alias("focus"),
            F.col("obj").alias("value"),
            F.col("obj_kind").alias("kind"),
            F.col("obj_dt").alias("dt"),
            F.col("obj_lang").alias("lang"),
        )
    hits = nodes.join(
        t,
        nodes["node"]
        == node_key_col(t["obj_kind"], t["obj"], t["obj_dt"], t["obj_lang"]),
        "inner",
    )
    return hits.select(
        F.col("node").alias("focus"),
        F.col("subj").alias("value"),
        subject_kind_col(F.col("subj")).alias("kind"),
        F.lit(None).cast("string").alias("dt"),
        F.lit(None).cast("string").alias("lang"),
    )


def _values_as_nodes(vn: DataFrame) -> DataFrame:
    """VN values → node frame; ``node`` becomes the unique term key so
    one dropDuplicates column suffices and every downstream string
    join is exact on term identity."""
    return vn.select(
        node_key_col(F.col("kind"), F.col("value"), F.col("dt"), F.col("lang")).alias(
            "node"
        ),
        "kind",
        "dt",
        "lang",
    ).dropDuplicates(["node"])


def _chain(vn: DataFrame, nxt: Path, triples: DataFrame) -> DataFrame:
    """Compose: values of ``vn`` become focus of ``nxt``; re-attach the
    original focus."""
    mid_nodes = _values_as_nodes(vn)
    nxt_vn = eval_path(nxt, mid_nodes, triples)
    joined = vn.alias("a").join(
        nxt_vn.alias("b"),
        (F.col("a.value") == F.col("b.focus"))
        & F.col("a.kind").isin("iri", "bnode"),
        "inner",
    )
    return joined.select(
        F.col("a.focus").alias("focus"),
        F.col("b.value").alias("value"),
        F.col("b.kind").alias("kind"),
        F.col("b.dt").alias("dt"),
        F.col("b.lang").alias("lang"),
    )


def eval_path(path: Path, nodes: DataFrame, triples: DataFrame) -> DataFrame:
    """Evaluate ``path`` from the node frame → VN frame (a set).

    INPUT CONTRACT: ``triples`` and ``nodes`` are distinct (RDF graphs
    are sets; the pipeline guarantees it).  Under that contract a plain
    predicate/inverse hop is automatically duplicate-free — its join
    key pairs are unique — so the dedup exchange is only added for
    composite paths (alternative/sequence/zeroOrOne merges; fixpoints
    dedupe internally).  One shuffle saved per property shape.
    """
    path = push_inverse(path)
    if isinstance(path, PredicatePath) or (
        isinstance(path, InversePath) and isinstance(path.inner, PredicatePath)
    ):
        return _eval(path, nodes, triples)
    if isinstance(path, (ZeroOrMorePath, OneOrMorePath)):
        return _eval(path, nodes, triples)  # fixpoint output is distinct
    return dedupe_vn(_eval(path, nodes, triples))


def _eval(path: Path, nodes: DataFrame, triples: DataFrame) -> DataFrame:
    if isinstance(path, PredicatePath):
        return _hop(nodes, triples, path.iri, inverse=False)
    if isinstance(path, InversePath):
        assert isinstance(path.inner, PredicatePath)
        return _hop(nodes, triples, path.inner.iri, inverse=True)
    if isinstance(path, SequencePath):
        vn = identity_vn(nodes)
        for step in path.steps:
            vn = _chain(vn, step, triples)
        return vn
    if isinstance(path, AlternativePath):
        out = None
        for opt in path.options:
            part = _eval(opt, nodes, triples)
            out = part if out is None else out.unionByName(part)
        return out if out is not None else identity_vn(nodes).limit(0)
    if isinstance(path, ZeroOrOnePath):
        return identity_vn(nodes).unionByName(_eval(path.inner, nodes, triples))
    if isinstance(path, (ZeroOrMorePath, OneOrMorePath)):
        seed = (
            identity_vn(nodes)
            if isinstance(path, ZeroOrMorePath)
            else dedupe_vn(_eval(path.inner, nodes, triples))
        )

        def step(frontier: DataFrame) -> DataFrame:
            return _chain(frontier, path.inner, triples)

        return iterate_to_fixpoint(
            dedupe_vn(seed), step, key_cols=VN_COLS[:]
        )
    raise TypeError(f"unknown path {path!r}")
