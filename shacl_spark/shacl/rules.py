"""SHACL-AF inference rules (W3C SHACL Advanced Features §4,
https://www.w3.org/TR/shacl-af/#rules): ``sh:rule`` attaches inference
rules to shapes; executing them derives new triples from the data
graph until a fixpoint.

Supported surface:

- ``sh:TripleRule`` with ``sh:subject`` / ``sh:predicate`` /
  ``sh:object`` node expressions — each a constant term, ``sh:this``
  (the focus node), or a path expression (a node carrying ``sh:path``,
  full SHACL path syntax via the shared parser).
- ``sh:SPARQLRule`` with ``sh:construct`` — the CONSTRUCT query's
  WHERE clause is evaluated with ``$this`` pre-bound to the shape's
  focus nodes (SHACL-AF §4.2.1), reusing the sh:sparql subset
  translator (BGP / OPTIONAL / UNION / FILTER / aggregates...).
- ``sh:condition`` — the rule fires only for focus nodes CONFORMING
  to the referenced shape (checked with the real engine).
- ``sh:order`` (ascending) and ``sh:deactivated`` on rules; a
  deactivated shape contributes no rules (SHACL-AF §4.1).

Execution model (Spark-first): SHACL-AF prescribes sequential rule
execution where each rule sees its predecessors' inferences.  A
distributed engine runs ROUNDS instead — every rule evaluates against
the same snapshot, the union of new triples is added, and rounds
repeat until no rule produces anything new (the standard semi-naive
datalog schedule).  For monotone rule sets (inference only ever adds
triples and conditions keep holding) the fixpoint is identical to the
sequential result; non-monotone conditions (e.g. sh:maxCount inside a
sh:condition, which new triples can flip) are order-dependent in the
spec too, and the round schedule is this engine's documented,
deterministic choice.  Every round is a handful of joins/unions; the
accumulated graph is localCheckpoint'ed per round so lineage stays
flat across iterations (same discipline as kg/cc.py).

Scale: rules-as-joins — focus sets come from the shared target
machinery (one type-scan per class), path expressions are the same
broadcastable equi-join plans validation uses, and the per-round
dedup is one hash aggregate on the six-column triple identity.  No
driver-side row loops; the only collect is the shapes graph itself
(driver-sized by design).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from shacl_spark.functions.terms import RDF, SH
from shacl_spark.shacl.parser import _Graph, _parse_path, parse_shapes_graph
from shacl_spark.shacl.paths import eval_path, identity_vn
from shacl_spark.shacl.shapes import Path, ShapesGraph, Term
from shacl_spark.shacl.targets import focus_nodes

RDF_TYPE = RDF + "type"
SH_THIS = SH + "this"

_IDENT = ["subj", "pred", "obj", "obj_kind", "obj_dt", "obj_lang"]


@dataclass(frozen=True)
class NodeExpr:
    """A SHACL-AF node expression in TripleRule position."""

    kind: str  # 'const' | 'this' | 'path'
    term: Term | None = None
    path: Path | None = None


@dataclass(frozen=True)
class Rule:
    shape_iri: str
    order: float
    conditions: tuple[str, ...]
    kind: str  # 'triple' | 'sparql'
    subject: NodeExpr | None = None
    predicate: NodeExpr | None = None
    object: NodeExpr | None = None
    construct: str | None = None


def _rows(rows_or_df):
    if hasattr(rows_or_df, "collect"):
        return [
            (r["subj"], r["pred"], r["obj"], r["obj_kind"], r["obj_dt"], r["obj_lang"])
            for r in rows_or_df.collect()
        ]
    return list(rows_or_df)


def _node_expr(g: _Graph, term: Term) -> NodeExpr:
    if term.kind == "iri" and term.value == SH_THIS:
        return NodeExpr("this")
    if term.kind == "iri":
        path_term = g.obj(term.value, SH + "path")
        if path_term is not None:
            return NodeExpr("path", path=_parse_path(g, path_term))
    return NodeExpr("const", term=term)


def parse_rules(rows_or_df) -> list[Rule]:
    """Extract every active ``sh:rule`` from a shapes graph, sorted by
    (sh:order, shape IRI, rule IRI) — a deterministic execution order."""
    rows = _rows(rows_or_df)
    g = _Graph(rows)
    out: list[Rule] = []
    for s, p, o in g.triples:
        if p != SH + "rule":
            continue
        shape_iri, rule_iri = s, o.value
        types = {t.value for t in g.objs(rule_iri, RDF_TYPE)}
        deact = g.obj(rule_iri, SH + "deactivated")
        if deact is not None and deact.value == "true":
            continue
        order_t = g.obj(rule_iri, SH + "order")
        order = float(order_t.value) if order_t is not None else 0.0
        conditions = g.iris(rule_iri, SH + "condition")
        if SH + "TripleRule" in types:
            subj_t = g.obj(rule_iri, SH + "subject")
            pred_t = g.obj(rule_iri, SH + "predicate")
            obj_t = g.obj(rule_iri, SH + "object")
            if subj_t is None or pred_t is None or obj_t is None:
                raise ValueError(
                    f"rules: TripleRule {rule_iri} needs sh:subject, "
                    "sh:predicate and sh:object (SHACL-AF §4.2.2)"
                )
            out.append(
                Rule(
                    shape_iri=shape_iri,
                    order=order,
                    conditions=conditions,
                    kind="triple",
                    subject=_node_expr(g, subj_t),
                    predicate=_node_expr(g, pred_t),
                    object=_node_expr(g, obj_t),
                )
            )
        elif SH + "SPARQLRule" in types:
            c = g.obj(rule_iri, SH + "construct")
            if c is None:
                raise ValueError(
                    f"rules: SPARQLRule {rule_iri} needs sh:construct"
                )
            out.append(
                Rule(
                    shape_iri=shape_iri,
                    order=order,
                    conditions=conditions,
                    kind="sparql",
                    construct=c.value,
                )
            )
        else:
            raise ValueError(
                f"rules: {rule_iri} is neither sh:TripleRule nor "
                "sh:SPARQLRule (only these are supported)"
            )
    out.sort(key=lambda r: (r.order, r.shape_iri))
    return out


def _expr_vn(expr: NodeExpr, focus: DataFrame, triples: DataFrame) -> DataFrame:
    """Node expression → VN frame [focus(key), value, kind, dt, lang]."""
    if expr.kind == "this":
        return identity_vn(focus)
    if expr.kind == "path":
        return eval_path(expr.path, focus, triples)
    t = expr.term
    return focus.select(
        F.col("node").alias("focus"),
        F.lit(t.value).alias("value"),
        F.lit(t.kind).alias("kind"),
        F.lit(t.dt).cast("string").alias("dt"),
        F.lit(t.lang).cast("string").alias("lang"),
    )


def _apply_triple_rule(rule: Rule, focus: DataFrame, triples: DataFrame) -> DataFrame:
    """One TripleRule → candidate triple frame: the per-focus cross
    product of the three expressions' value sets (SHACL-AF §4.2.2),
    dropping RDF-invalid rows (literal subject, non-IRI predicate)."""
    s = _expr_vn(rule.subject, focus, triples).select(
        "focus", F.col("value").alias("_s"), F.col("kind").alias("_sk")
    )
    p = _expr_vn(rule.predicate, focus, triples).select(
        "focus", F.col("value").alias("_p"), F.col("kind").alias("_pk")
    )
    o = _expr_vn(rule.object, focus, triples).select(
        "focus",
        F.col("value").alias("_o"),
        F.col("kind").alias("_ok"),
        F.col("dt").alias("_odt"),
        F.col("lang").alias("_olang"),
    )
    return (
        s.join(p, "focus")
        .join(o, "focus")
        .where((F.col("_sk") != "literal") & (F.col("_pk") == "iri"))
        .select(
            F.col("_s").alias("subj"),
            F.col("_p").alias("pred"),
            F.col("_o").alias("obj"),
            F.col("_ok").alias("obj_kind"),
            F.col("_odt").alias("obj_dt"),
            F.col("_olang").alias("obj_lang"),
        )
    )


def _apply_sparql_rule(rule: Rule, focus: DataFrame, triples: DataFrame) -> DataFrame:
    from shacl_spark.shacl import sparql as _sparql

    q = _sparql.parse_sparql(rule.construct, constraint=False)
    if q.form != "construct":
        raise ValueError(
            f"rules: sh:construct of a SPARQLRule must be a CONSTRUCT "
            f"query (got {q.form!r})"
        )
    return _sparql.translate_construct(q, triples, focus=focus)


def infer(
    triples: DataFrame,
    shapes_rows,
    max_rounds: int = 10,
    stats: dict | None = None,
) -> DataFrame:
    """Execute every sh:rule to fixpoint; return the EXPANDED data
    graph (input ∪ inferences, distinct, eagerly materialized).

    ``max_rounds`` bounds non-terminating rule sets (e.g. a rule
    generating fresh IRIs each round); hitting the cap sets
    ``stats['rules_converged'] = False`` and raises — silent
    truncation would hand the caller a graph that LOOKS like a
    fixpoint but isn't (SURVEY §7 "no silent truncation")."""
    from shacl_spark.shacl.engine import Validator

    spark = triples.sparkSession
    rows = _rows(shapes_rows)
    rules = parse_rules(rows)
    sg: ShapesGraph = parse_shapes_graph(rows)
    rules = [r for r in rules if not sg.shapes[r.shape_iri].deactivated]

    cur = triples.dropDuplicates(_IDENT).localCheckpoint(eager=True)
    n = cur.count()
    if stats is not None:
        stats["rules_input_triples"] = n
        stats["rules_rounds"] = 0
        stats["rules_converged"] = True
    if not rules:
        return cur

    for _ in range(max_rounds):
        v = Validator(spark, cur, sg, assume_distinct=True)
        frames: list[DataFrame] = []
        for rule in rules:
            shape = sg.shapes[rule.shape_iri]
            focus = focus_nodes(spark, shape, cur, v.closure)
            for cond in rule.conditions:
                if cond not in sg.shapes:
                    raise ValueError(
                        f"rules: sh:condition {cond} is not a shape in "
                        "this graph (type it sh:NodeShape or give it "
                        "constraint parameters)"
                    )
                focus = v.conforming(cond, focus)
            if rule.kind == "triple":
                frames.append(_apply_triple_rule(rule, focus, cur))
            else:
                frames.append(_apply_sparql_rule(rule, focus, cur))
        new = frames[0]
        for f in frames[1:]:
            new = new.unionByName(f)
        # inferred triples carry no file provenance — pad any extra
        # input columns (src_repo/src_path/... on pipeline frames) with
        # typed NULLs so the union keeps the caller's schema
        for fld in cur.schema.fields:
            if fld.name not in new.columns:
                new = new.withColumn(
                    fld.name, F.lit(None).cast(fld.dataType)
                )
        nxt = (
            cur.unionByName(new)
            .dropDuplicates(_IDENT)
            .localCheckpoint(eager=True)
        )
        n2 = nxt.count()
        v.cleanup()
        if stats is not None:
            stats["rules_rounds"] += 1
        if n2 == n:
            if stats is not None:
                stats["rules_inferred_triples"] = n2 - stats["rules_input_triples"]
            return cur
        cur, n = nxt, n2

    if stats is not None:
        stats["rules_converged"] = False
        stats["rules_inferred_triples"] = n - stats["rules_input_triples"]
    raise RuntimeError(
        f"rules: no fixpoint after {max_rounds} rounds "
        f"({n} triples and still growing); raise max_rounds or fix the "
        "rule set (a rule minting fresh terms per round never converges)"
    )


def infer_new(
    triples: DataFrame, shapes_rows, max_rounds: int = 10, stats: dict | None = None
) -> DataFrame:
    """Only the INFERRED triples (expanded graph minus the input).
    The anti-join is NULL-SAFE on the six identity columns — obj_dt /
    obj_lang are NULL for IRIs, and plain equality would subtract
    nothing."""
    expanded = infer(triples, shapes_rows, max_rounds=max_rounds, stats=stats)
    orig = triples.select(*_IDENT).dropDuplicates(_IDENT)
    cond = None
    for c in _IDENT:
        eq = expanded[c].eqNullSafe(orig[c])
        cond = eq if cond is None else (cond & eq)
    return expanded.join(orig, cond, "left_anti")
