"""Single-process, spec-literal SHACL oracle (SURVEY.md §5.2).

Stands in for the absent pfps/shacl reference binary (SURVEY.md §0):
a dict-of-sets triple store with per-focus-node Python loops —
deliberately the execution shape BASELINE.json:6 attributes to the
reference ("per-row rdflib walks").  The Spark engine's report is
compared against this oracle's report; the BASELINE.md gate is
P/R ≥ 0.95 (target 1.0).

Shares ONLY the shapes parser and regex tables with the engine (driver
-side, deterministic); the evaluation logic is written independently
against the W3C SHACL Recommendation (2017-07-20).

Since r05 this interpreter also serves as the engine's LOCAL
VALIDATION PATH for small graph slices (incremental revalidation:
when the restricted context slice fits on the driver, a Python walk
beats the fixed Catalyst plan-build + scheduling cost of a
distributed validation by several seconds — the same bounded-collect
pattern as kg/cc.py's driver union-find).  For that role Result
carries the FULL engine report schema (term metadata, path_kind,
default messages), and tests/test_interp_exact.py pins row-exact
multiset equality against the distributed engine across the fixture
battery; engine-vs-interp parity tests remain a genuine
cross-implementation check because the two evaluators share no
execution code.
"""

from __future__ import annotations

import re
from collections import defaultdict
from dataclasses import dataclass

from shacl_spark.functions.terms import RDF, RDFS, SH, XSD
from shacl_spark.shacl.parser import parse_shapes_graph
from shacl_spark.shacl.shapes import (
    AlternativePath,
    InversePath,
    OneOrMorePath,
    PredicatePath,
    PropertyShape,
    SequencePath,
    ShapesGraph,
    Term,
    ZeroOrMorePath,
    ZeroOrOnePath,
)

RDF_TYPE = RDF + "type"
SUBCLASS = RDFS + "subClassOf"

NUMERIC_DTS = {
    XSD + s
    for s in (
        "integer decimal double float long int short byte nonNegativeInteger "
        "positiveInteger negativeInteger nonPositiveInteger unsignedLong unsignedInt"
    ).split()
}
INT_DTS = {
    XSD + s
    for s in (
        "integer long int short byte nonNegativeInteger positiveInteger "
        "negativeInteger nonPositiveInteger unsignedLong unsignedInt"
    ).split()
}
TEMPORAL_DTS = {XSD + "date", XSD + "dateTime"}


def _term(row) -> Term:
    row = tuple(row)
    kind = row[3] if len(row) > 3 and row[3] else "iri"
    dt = row[4] if len(row) > 4 else None
    lang = row[5] if len(row) > 5 else None
    return Term(row[2], kind, dt, lang)


def tkey(t: Term) -> tuple:
    return (t.kind, t.value, t.dt or "", t.lang or "")


class Store:
    """SPO/POS/OSP-indexed in-memory triple store."""

    def __init__(self, rows):
        self.sp: dict[str, dict[str, list[Term]]] = defaultdict(lambda: defaultdict(list))
        self.p_subj: dict[str, set[str]] = defaultdict(set)
        self.p_obj: dict[str, list[tuple[str, Term]]] = defaultdict(list)
        self.all: list[tuple[str, str, Term]] = []
        # per-predicate object-key → subjects index, built lazily on the
        # first inverse-path use (r06): the linear p_obj scan per focus
        # node was the interpreter's hottest loop on incremental slices
        self._inv_idx: dict[str, dict[tuple, list[str]]] = {}
        for row in rows:
            s, p = row[0], row[1]
            t = _term(row)
            self.sp[s][p].append(t)
            self.p_subj[p].add(s)
            self.p_obj[p].append((s, t))
            self.all.append((s, p, t))

    def objects(self, s: str, p: str) -> list[Term]:
        return self.sp.get(s, {}).get(p, [])

    def inv_index(self, p: str) -> dict[tuple, list[str]]:
        """Subjects per object-term key for one predicate — the lists
        preserve ``p_obj`` insertion order, so lookups return exactly
        what the linear filter returned."""
        idx = self._inv_idx.get(p)
        if idx is None:
            idx = {}
            for s, t in self.p_obj.get(p, ()):
                idx.setdefault(tkey(t), []).append(s)
            self._inv_idx[p] = idx
        return idx

    def superclasses(self) -> dict[str, set[str]]:
        """cls → all (reflexive-transitive) superclasses."""
        up: dict[str, set[str]] = defaultdict(set)
        classes: set[str] = set()
        for s, p, t in self.all:
            if p == SUBCLASS:
                up[s].add(t.value)
                classes.add(s)
                classes.add(t.value)
            elif p == RDF_TYPE:
                classes.add(t.value)
        closure = {c: {c} for c in classes}
        changed = True
        while changed:
            changed = False
            for c in classes:
                new = set()
                for sup in closure[c]:
                    new |= up.get(sup, set())
                if not new <= closure[c]:
                    closure[c] |= new
                    changed = True
        return closure

    def instances_of(self, cls: str, closure: dict[str, set[str]]) -> set[str]:
        return {
            s
            for s, p, t in self.all
            if p == RDF_TYPE and cls in closure.get(t.value, {t.value})
        }


@dataclass(frozen=True)
class Result:
    focus: str
    path: str | None
    value: str | None
    component: str
    severity: str
    source_shape: str
    # full engine-report columns (r05): populated so the interpreter
    # can stand in for the distributed Validator on small graph slices
    # (incremental revalidation's local fast path) — row-exact,
    # including default messages and term metadata
    focus_kind: str | None = None
    focus_dt: str | None = None
    focus_lang: str | None = None
    path_kind: str | None = None
    value_kind: str | None = None
    value_dt: str | None = None
    value_lang: str | None = None
    message: str | None = None

    def as_row(self) -> tuple:
        """Tuple in engine ``REPORT_OUT_SCHEMA`` column order."""
        return (
            self.focus, self.focus_kind, self.focus_dt, self.focus_lang,
            self.path, self.path_kind, self.value, self.value_kind,
            self.value_dt, self.value_lang, self.component, self.severity,
            self.message, self.source_shape,
        )


# mirrors Spark try_cast(... as double): trimmed, optional sign,
# inf/infinity/nan (case-insensitive), decimal/scientific notation with
# Java's optional d/D/f/F suffix; REJECTS Python-isms like '1_000'
# (ADVICE r05, low: bare float() accepted forms Spark rejects, so the
# interpreter and the engine could tier a value differently and the
# incremental local fast path could diverge from full validation)
import re as _re

_SPARK_DOUBLE_RE = _re.compile(
    r"[+-]?(inf(inity)?|nan|((\d+\.?\d*|\.\d+)(e[+-]?\d+)?[dDfF]?))\Z",
    _re.IGNORECASE,
)


def _spark_double(value) -> float | None:
    """float(value) under Spark try_cast('double') lexical rules."""
    if value is None:
        return None
    s = value.strip()
    if not _SPARK_DOUBLE_RE.match(s):
        return None
    if s[-1] in "dDfF" and not s[-1:].isdigit():
        low = s.lower()
        if not (low.endswith("inf") or low.endswith("infinity") or low.endswith("nan")):
            s = s[:-1]
    try:
        return float(s)
    except ValueError:  # pragma: no cover — regex should preclude this
        return None


def _num(t: Term):
    if t.kind != "literal" or (t.dt is not None and t.dt not in NUMERIC_DTS):
        return None
    return _spark_double(t.value)


def _time(t: Term):
    if t.kind != "literal" or t.dt not in TEMPORAL_DTS:
        return None
    # ISO strings compare correctly lexicographically within a datatype;
    # normalize date to midnight for cross-compat with timestamp casts
    return t.value


def _str(t: Term):
    if t.kind == "literal" and (t.dt is None or t.dt == XSD + "string"):
        return t.value
    return None


def sparql_lt(a: Term, b: Term, or_equal: bool):
    na, nb = _num(a), _num(b)
    if na is not None and nb is not None:
        return na <= nb if or_equal else na < nb
    ta, tb = _time(a), _time(b)
    if ta is not None and tb is not None:
        return ta <= tb if or_equal else ta < tb
    sa, sb = _str(a), _str(b)
    if sa is not None and sb is not None:
        return sa <= sb if or_equal else sa < sb
    return None  # incomparable


def _ill_formed(value: str, dt: str) -> bool:
    if dt in INT_DTS:
        return re.fullmatch(r"[+-]?\d+", value) is None
    if dt in (XSD + "decimal", XSD + "double", XSD + "float"):
        try:
            float(value)
            return False
        except ValueError:
            return True
    if dt == XSD + "boolean":
        return value not in ("true", "false", "0", "1")
    if dt == XSD + "date":
        return re.fullmatch(r"\d{4}-\d{2}-\d{2}", value) is None
    if dt == XSD + "dateTime":
        return re.fullmatch(r"\d{4}-\d{2}-\d{2}[T ].*", value) is None
    return False


def _java_regex_to_py(pattern: str, flags: str | None):
    f = 0
    for c in flags or "":
        f |= {"i": re.I, "m": re.M, "s": re.S, "x": re.X, "u": re.U}.get(c, 0)
    return re.compile(pattern, f)


def _lang_matches(lang: str | None, ranges) -> bool:
    if lang is None:
        return False
    low = lang.lower()
    return any(low == r.lower() or low.startswith(r.lower() + "-") for r in ranges)


class Oracle:
    def __init__(self, data_rows, shapes: ShapesGraph | list):
        self.store = Store(data_rows)
        self.shapes = (
            shapes if isinstance(shapes, ShapesGraph) else parse_shapes_graph(shapes)
        )
        self.closure = self.store.superclasses()

    # --- paths (recursive, per node) ------------------------------------------

    def path_values(self, path, node: Term) -> list[Term]:
        if isinstance(path, PredicatePath):
            if node.kind not in ("iri", "bnode"):
                return []
            return list(self.store.objects(node.value, path.iri))
        if isinstance(path, InversePath):
            inner = path.inner
            if isinstance(inner, PredicatePath):
                return [
                    Term(s, "bnode" if s.startswith("_:") else "iri")
                    for s in self.store.inv_index(inner.iri).get(tkey(node), ())
                ]
            # general inverse: rewrite algebraically
            if isinstance(inner, InversePath):
                return self.path_values(inner.inner, node)
            if isinstance(inner, SequencePath):
                return self.path_values(
                    SequencePath(tuple(InversePath(s) for s in reversed(inner.steps))), node
                )
            if isinstance(inner, AlternativePath):
                return self.path_values(
                    AlternativePath(tuple(InversePath(o) for o in inner.options)), node
                )
            if isinstance(inner, (ZeroOrMorePath, OneOrMorePath, ZeroOrOnePath)):
                return self.path_values(type(inner)(InversePath(inner.inner)), node)
        if isinstance(path, SequencePath):
            frontier = [node]
            for step in path.steps:
                nxt: list[Term] = []
                seen: set = set()
                for n in frontier:
                    for v in self.path_values(step, n):
                        k = tkey(v)
                        if k not in seen:
                            seen.add(k)
                            nxt.append(v)
                frontier = nxt
            return frontier
        if isinstance(path, AlternativePath):
            out, seen = [], set()
            for opt in path.options:
                for v in self.path_values(opt, node):
                    k = tkey(v)
                    if k not in seen:
                        seen.add(k)
                        out.append(v)
            return out
        if isinstance(path, ZeroOrOnePath):
            out, seen = [node], {tkey(node)}
            for v in self.path_values(path.inner, node):
                k = tkey(v)
                if k not in seen:
                    seen.add(k)
                    out.append(v)
            return out
        if isinstance(path, (ZeroOrMorePath, OneOrMorePath)):
            seed = (
                [node]
                if isinstance(path, ZeroOrMorePath)
                else self.path_values(path.inner, node)
            )
            out, seen = [], set()
            frontier = []
            for v in seed:
                k = tkey(v)
                if k not in seen:
                    seen.add(k)
                    out.append(v)
                    frontier.append(v)
            while frontier:
                nxt = []
                for n in frontier:
                    for v in self.path_values(path.inner, n):
                        k = tkey(v)
                        if k not in seen:
                            seen.add(k)
                            out.append(v)
                            nxt.append(v)
                frontier = nxt
            return out
        raise TypeError(f"unknown path {path!r}")

    # --- targets -----------------------------------------------------------------

    def focus_nodes(self, shape) -> list[Term]:
        out: list[Term] = []
        seen: set = set()

        def add(t: Term):
            k = tkey(t)
            if k not in seen:
                seen.add(k)
                out.append(t)

        for t in shape.target_nodes:
            add(t)
        classes = list(shape.target_classes)
        if shape.implicit_class_target:
            classes.append(shape.iri)
        for c in classes:
            for s in sorted(self.store.instances_of(c, self.closure)):
                add(Term(s, "bnode" if s.startswith("_:") else "iri"))
        for p in shape.target_subjects_of:
            for s in sorted(self.store.p_subj.get(p, ())):
                add(Term(s, "bnode" if s.startswith("_:") else "iri"))
        for p in shape.target_objects_of:
            for _, t in self.store.p_obj.get(p, []):
                add(t)
        return out

    # --- evaluation ---------------------------------------------------------------

    def validate(self, only_keys: set | None = None) -> list[Result]:
        """Full validation report; ``only_keys`` (node-key strings, see
        terms.node_key) restricts ENTRY-shape focus nodes — the exact
        mirror of the engine Validator's ``only_nodes``, used by the
        incremental local fast path."""
        from shacl_spark.functions.terms import node_key

        results: list[Result] = []
        for shape in self.shapes.entry_shapes():
            for focus in self.focus_nodes(shape):
                if only_keys is not None and (
                    node_key(focus.kind, focus.value, focus.dt, focus.lang)
                    not in only_keys
                ):
                    continue
                results.extend(self.eval_shape(shape, focus))
        return results

    def conforms(self, shape_iri: str, node: Term) -> bool:
        return not self.eval_shape(self.shapes[shape_iri], node)

    def eval_shape(self, shape, focus: Term) -> list[Result]:
        if shape.deactivated:
            return []
        path_desc = None
        if isinstance(shape, PropertyShape) and shape.path is not None:
            path_desc = shape.path.describe()
            raw = self.path_values(shape.path, focus)
            # value nodes are a SET (SPEC §2.3.3)
            values, seen_keys = [], set()
            for v in raw:
                k = tkey(v)
                if k not in seen_keys:
                    seen_keys.add(k)
                    values.append(v)
        else:
            values = [focus]

        res: list[Result] = []

        def emit(
            component: str,
            value: Term | None,
            rpath: str | None = None,
            msg: str | None = None,
        ):
            # mirror engine._stamp exactly: sh:message overrides the
            # per-component default; path_kind is 'iri' for plain
            # predicate paths AND closed-constraint rpath overrides,
            # 'literal' for composite path descriptions, None for node
            # shapes
            if rpath is not None:
                pk = "iri"
            elif isinstance(shape, PropertyShape) and shape.path is not None:
                pk = "iri" if isinstance(shape.path, PredicatePath) else "literal"
            else:
                pk = None
            res.append(
                Result(
                    focus.value,
                    rpath if rpath is not None else path_desc,
                    value.value if value is not None else None,
                    SH + component,
                    shape.severity,
                    shape.iri,
                    focus_kind=focus.kind,
                    focus_dt=focus.dt,
                    focus_lang=focus.lang,
                    path_kind=pk,
                    value_kind=value.kind if value is not None else None,
                    value_dt=value.dt if value is not None else None,
                    value_lang=value.lang if value is not None else None,
                    message=shape.messages[0] if shape.messages else msg,
                )
            )

        # §4.1 value type
        for c in shape.class_:
            inst = self.store.instances_of(c, self.closure)
            for v in values:
                # typed bnodes are SHACL instances too (mirrors engine)
                if v.kind not in ("iri", "bnode") or v.value not in inst:
                    emit("ClassConstraintComponent", v,
                         msg=f"value is not a SHACL instance of {c}")
        if shape.datatype is not None:
            for v in values:
                if (
                    v.kind != "literal"
                    or (v.dt or None) != shape.datatype
                    or _ill_formed(v.value, shape.datatype)
                ):
                    emit("DatatypeConstraintComponent", v,
                         msg=f"value does not have datatype {shape.datatype}")
        if shape.node_kind is not None:
            from shacl_spark.shacl.components import NODE_KIND_SETS

            allowed = NODE_KIND_SETS.get(shape.node_kind, ())
            for v in values:
                if v.kind not in allowed:
                    emit("NodeKindConstraintComponent", v,
                         msg=f"value is not of node kind {shape.node_kind}")

        # §4.2 cardinality
        if shape.min_count is not None and len(values) < shape.min_count:
            emit("MinCountConstraintComponent", None,
                 msg=f"fewer than {shape.min_count} values")
        if shape.max_count is not None and len(values) > shape.max_count:
            emit("MaxCountConstraintComponent", None,
                 msg=f"more than {shape.max_count} values")

        # §4.3 range
        for term, comp, fn in (
            (shape.min_exclusive, "MinExclusiveConstraintComponent",
             lambda v, b: sparql_lt(b, v, False)),
            (shape.min_inclusive, "MinInclusiveConstraintComponent",
             lambda v, b: sparql_lt(b, v, True)),
            (shape.max_exclusive, "MaxExclusiveConstraintComponent",
             lambda v, b: sparql_lt(v, b, False)),
            (shape.max_inclusive, "MaxInclusiveConstraintComponent",
             lambda v, b: sparql_lt(v, b, True)),
        ):
            if term is None:
                continue
            for v in values:
                ok = fn(v, term)
                if ok is not True:
                    emit(comp, v, msg=f"value out of range ({comp} {term.value})")

        # §4.4 string based
        if shape.min_length is not None:
            for v in values:
                if v.kind == "bnode" or len(v.value) < shape.min_length:
                    emit("MinLengthConstraintComponent", v,
                         msg=f"length < {shape.min_length}")
        if shape.max_length is not None:
            for v in values:
                if v.kind == "bnode" or len(v.value) > shape.max_length:
                    emit("MaxLengthConstraintComponent", v,
                         msg=f"length > {shape.max_length}")
        if shape.pattern is not None:
            rx = _java_regex_to_py(shape.pattern, shape.flags)
            for v in values:
                if v.kind == "bnode" or rx.search(v.value) is None:
                    emit("PatternConstraintComponent", v,
                         msg=f"value does not match {shape.pattern}")
        if shape.language_in:
            for v in values:
                if v.kind != "literal" or not _lang_matches(v.lang, shape.language_in):
                    emit("LanguageInConstraintComponent", v,
                         msg=f"language not in {list(shape.language_in)}")
        if shape.unique_lang:
            by_lang: dict[str, int] = defaultdict(int)
            for v in values:
                if v.lang:
                    by_lang[v.lang.lower()] += 1
            for lang, n in by_lang.items():
                if n > 1:
                    emit("UniqueLangConstraintComponent", None,
                         msg="duplicate language tags")
                    break

        # §4.5 property pair
        def pred_values(p: str) -> list[Term]:
            return self.path_values(PredicatePath(p), focus)

        for p in shape.equals:
            other = {tkey(t): t for t in pred_values(p)}
            mine = {tkey(v): v for v in values}
            for k, v in mine.items():
                if k not in other:
                    emit("EqualsConstraintComponent", v,
                         msg=f"values differ from values of {p}")
            for k, t in other.items():
                if k not in mine:
                    emit("EqualsConstraintComponent", t,
                         msg=f"values differ from values of {p}")
        for p in shape.disjoint:
            other = {tkey(t) for t in pred_values(p)}
            for v in values:
                if tkey(v) in other:
                    emit("DisjointConstraintComponent", v,
                         msg=f"value shared with {p}")
        for plist, comp, or_eq in (
            (shape.less_than, "LessThanConstraintComponent", False),
            (shape.less_than_or_equals, "LessThanOrEqualsConstraintComponent", True),
        ):
            for p in plist:
                others = pred_values(p)
                flagged = set()
                for v in values:
                    for o in others:
                        if sparql_lt(v, o, or_eq) is not True and tkey(v) not in flagged:
                            flagged.add(tkey(v))
                            emit(comp, v,
                                 msg=f"value not less than values of {p}")

        # §4.6 logical
        for s in shape.not_:
            for v in values:
                if self.conforms(s, v):
                    emit("NotConstraintComponent", v, msg=f"value conforms to {s}")
        for group in shape.and_:
            for v in values:
                if not all(self.conforms(s, v) for s in group):
                    emit("AndConstraintComponent", v,
                         msg="value fails a member of sh:and")
        for group in shape.or_:
            for v in values:
                if not any(self.conforms(s, v) for s in group):
                    emit("OrConstraintComponent", v,
                         msg="value conforms to no member of sh:or")
        for group in shape.xone:
            for v in values:
                if sum(1 for s in group if self.conforms(s, v)) != 1:
                    emit("XoneConstraintComponent", v,
                         msg="value conforms to != 1 members of sh:xone")

        # §4.7 shape based
        for s in shape.node:
            for v in values:
                if not self.conforms(s, v):
                    emit("NodeConstraintComponent", v,
                         msg=f"value does not conform to {s}")
        for ps_iri in shape.property:
            child = self.shapes[ps_iri]
            for v in values:
                res.extend(self.eval_shape(child, v))
        if shape.qualified_value_shape is not None:
            sib = (
                self.shapes.sibling_qualified(shape.iri)
                if shape.qualified_disjoint
                else []
            )
            n = 0
            for v in values:
                if self.conforms(shape.qualified_value_shape, v) and not any(
                    self.conforms(s, v) for s in sib
                ):
                    n += 1
            if shape.qualified_min_count is not None and n < shape.qualified_min_count:
                emit("QualifiedMinCountConstraintComponent", None,
                     msg=f"fewer than {shape.qualified_min_count} qualified values")
            if shape.qualified_max_count is not None and n > shape.qualified_max_count:
                emit("QualifiedMaxCountConstraintComponent", None,
                     msg=f"more than {shape.qualified_max_count} qualified values")

        # §4.8 other
        if shape.closed:
            allowed = set(shape.ignored_properties)
            for ps_iri in shape.property:
                ps = self.shapes[ps_iri]
                if isinstance(ps, PropertyShape) and isinstance(ps.path, PredicatePath):
                    allowed.add(ps.path.iri)
            if focus.kind in ("iri", "bnode"):
                for p, terms in self.store.sp.get(focus.value, {}).items():
                    if p not in allowed:
                        for t in terms:
                            emit("ClosedConstraintComponent", t, rpath=p,
                                 msg="predicate not allowed on closed shape")
        for term in shape.has_value:
            if not any(tkey(v) == tkey(term) for v in values):
                emit("HasValueConstraintComponent", None,
                     msg=f"missing required value {term.value}")
        if shape.in_ is not None:
            keys = {tkey(t) for t in shape.in_}
            for v in values:
                if tkey(v) not in keys:
                    emit("InConstraintComponent", v, msg="value not in sh:in list")

        # SPARQL-based constraints (SPEC §5): solutions are violations
        for select_text, _sp_msg in getattr(shape, "sparql", ()):
            from shacl_spark.shacl.sparql import parse_sparql, substitute_path

            q = parse_sparql(substitute_path(select_text, shape))
            # the engine's translate() ends in .distinct() over the
            # projected (focus, value) columns — dedupe solutions the
            # same way so row multiplicities match exactly
            seen_v: set = set()
            for sol in _sparql_solutions(self.store, q, focus):
                v = sol.get("value") if "value" in q.select else None
                vk = tkey(v) if v is not None else None
                if vk in seen_v:
                    continue
                seen_v.add(vk)
                emit("SPARQLConstraintComponent", v,
                     msg=_sp_msg or "SPARQL constraint produced solutions")

        return res


def report_set(results) -> set[tuple]:
    """Canonical comparable set: (focus, path, value, component, severity)."""
    out = set()
    for r in results:
        if isinstance(r, Result):
            out.add((r.focus, r.path, r.value, r.component, r.severity))
        else:  # Spark Row
            out.add((r["focus"], r["path"], r["value"], r["component"], r["severity"]))
    return out


def precision_recall(engine_rows, oracle_results) -> tuple[float, float]:
    e, o = report_set(engine_rows), report_set(oracle_results)
    if not e and not o:
        return 1.0, 1.0
    tp = len(e & o)
    precision = tp / len(e) if e else 1.0
    recall = tp / len(o) if o else 1.0
    return precision, recall


# --- sh:sparql subset — interpretive reference evaluator ----------------------
# Shares the PARSER with the engine (pure AST construction); execution
# here is independent nested-loop matching per focus node.

def _sparql_solutions(store: Store, q, focus: Term | None) -> list[dict]:
    """Solutions of ``q`` over ``store``; ``focus`` pre-binds ?this
    (constraint mode, SPEC §5.3.1) or ``None`` for the standalone
    SELECT surface (r05 — parity twin of sparql.translate_select)."""
    from shacl_spark.shacl.sparql import BinOp, Call, Iri, Lit, Not, Var

    def match_term(pat, term_val, term: Term | None, binds):
        """Returns None (no match) or dict of new bindings."""
        if isinstance(pat, Var):
            cur = binds.get(pat.name)
            t = (
                term
                if term is not None
                else Term(term_val, "bnode" if term_val.startswith("_:") else "iri")
            )
            if cur is not None:
                return {} if tkey(cur) == tkey(t) else None
            return {pat.name: t}
        if isinstance(pat, Iri):
            k = term.kind if term is not None else "iri"
            v = term.value if term is not None else term_val
            return {} if (v == pat.value and k == "iri") else None
        if isinstance(pat, Lit):
            if term is None:
                return None
            ref = Term(pat.value, "literal", pat.dt, pat.lang)
            return {} if tkey(term) == tkey(ref) else None
        return None

    def extend(binds, patterns):
        out = list(binds)
        for pat in patterns:
            nxt = []
            for b in out:
                for s, t in store.p_obj.get(pat.p, []):
                    m1 = match_term(pat.s, s, None, b)
                    if m1 is None:
                        continue
                    b1 = dict(b, **m1)
                    m2 = match_term(pat.o, None, t, b1)
                    if m2 is None:
                        continue
                    nxt.append(dict(b1, **m2))
            out = nxt
        return out

    # statements in TEXTUAL order (r04 review #2, mirrors engine): a
    # UNION arm consuming an OPTIONAL-bound var sees it bound only when
    # the OPTIONAL came first; stat_bound tracks which vars are
    # statically bound so far, so a var a union arm left unbound in
    # THIS solution never silently becomes a fresh variable (the
    # engine's NULL anchor never matches).
    from shacl_spark.shacl.sparql import _pattern_vars

    binds_list = [{"this": focus}] if focus is not None else [{}]
    stat_bound = {"this"} if focus is not None else set()
    statements = getattr(q, "statements", None) or (
        [("pattern", p) for p in q.patterns]
        + [("union", a) for a in getattr(q, "unions", [])]
        + [("optional", g) for g in getattr(q, "optionals", [])]
    )
    for kind, payload in statements:
        if kind == "pattern":
            binds_list = extend(binds_list, [payload])
            stat_bound |= _pattern_vars([payload])
            continue
        if kind == "union":
            nxt = []
            for b in binds_list:
                for arm in payload:
                    if any(
                        a in stat_bound and a not in b for a in _pattern_vars(arm)
                    ):
                        continue  # arm consumes a var this solution
                        #           left unbound — engine NULL-join
                    nxt.extend(extend([b], arm))
            binds_list = nxt
            for arm in payload:
                stat_bound |= _pattern_vars(arm)
            continue
        if kind == "values":
            # inline data (r05): join compatibility per shared var —
            # unbound on either side or term-equal; merged solution
            # takes the bound side
            from shacl_spark.shacl.sparql import Iri

            vars_, rows = payload
            row_binds = []
            for row in rows:
                rb = {}
                for v, t in zip(vars_, row):
                    if t is None:
                        continue
                    rb[v] = (
                        Term(t.value, "iri")
                        if isinstance(t, Iri)
                        else Term(t.value, "literal", t.dt, t.lang)
                    )
                row_binds.append(rb)
            nxt = []
            for b in binds_list:
                for rb in row_binds:
                    if any(
                        v in b and v in rb and tkey(b[v]) != tkey(rb[v])
                        for v in vars_
                    ):
                        continue
                    m = dict(b)
                    for v, t in rb.items():
                        m.setdefault(v, t)
                    nxt.append(m)
            binds_list = nxt
            stat_bound |= set(vars_)
            continue
        if kind == "subquery":
            # { SELECT ... } (r05): recurse bottom-up, project to the
            # SELECTed vars (internal vars scope OUT, bag multiplicity
            # preserved), then the same compatibility merge VALUES uses
            sub = payload
            rows = []
            seen: set = set()
            for s in _sparql_solutions(store, sub, None):
                rb = {v: s[v] for v in sub.select if s.get(v) is not None}
                if sub.distinct:
                    k = tuple(
                        tkey(rb[v]) if v in rb else None for v in sub.select
                    )
                    if k in seen:
                        continue
                    seen.add(k)
                rows.append(rb)
            nxt = []
            for b in binds_list:
                for rb in rows:
                    if any(
                        v in b and v in rb and tkey(b[v]) != tkey(rb[v])
                        for v in sub.select
                    ):
                        continue
                    m = dict(b)
                    for v, t in rb.items():
                        m.setdefault(v, t)
                    nxt.append(m)
            binds_list = nxt
            stat_bound |= set(sub.select)
            continue
        if kind == "minus":
            # MINUS (r05): drop solutions compatible with a group
            # solution on the STATICALLY shared vars; no shared vars →
            # nothing removed.  A solution with a shared var unbound is
            # kept (engine anchor approximation).
            anchors = _pattern_vars(payload) & stat_bound
            if not anchors:
                continue

            def dropped(b):
                if any(a not in b for a in anchors):
                    return False
                return bool(extend([b], payload))

            binds_list = [b for b in binds_list if not dropped(b)]
            continue
        # OPTIONAL group: a match extends the binding, a miss leaves it
        # unchanged (vars unbound) — never a partially-bound prefix; an
        # anchor left unbound by an earlier union arm fails the group
        gvars = _pattern_vars(payload)
        anchors = gvars & stat_bound
        nxt = []
        for b in binds_list:
            if any(a not in b for a in anchors):
                nxt.append(b)
                continue
            exts = extend([b], payload)
            nxt.extend(exts if exts else [b])
        binds_list = nxt
        stat_bound |= gvars

    # FILTER [NOT] EXISTS groups (r04, mirrors engine semi/anti joins):
    # a solution survives iff the group has >=1 extension under the
    # current bindings == positivity; group-local vars never escape.
    # Vars statically bound by the outer query (incl. union arms —
    # review #3) but left unbound in this solution make EXISTS false /
    # NOT EXISTS true — the engine's documented approximation.
    for positive, group in getattr(q, "exists", []) or []:
        anchors = _pattern_vars(group) & stat_bound

        def sat(b):
            if any(a not in b for a in anchors):
                return False
            return bool(extend([b], group))

        binds_list = [b for b in binds_list if sat(b) == positive]

    def ev(e, b):
        if isinstance(e, BinOp):
            if e.op == "&&":
                return bool(ev(e.left, b)) and bool(ev(e.right, b))
            if e.op == "||":
                return bool(ev(e.left, b)) or bool(ev(e.right, b))
            lt, rt = _sparql_value(e.left, b), _sparql_value(e.right, b)
            if lt is None or rt is None:
                return False  # unbound comparison is a SPARQL type error
            ln = _num(lt) if isinstance(lt, Term) else None
            rn = _num(rt) if isinstance(rt, Term) else None
            ls = lt.value if isinstance(lt, Term) else lt
            rs = rt.value if isinstance(rt, Term) else rt
            import operator
            ops = {"=": operator.eq, "!=": operator.ne, "<": operator.lt,
                   "<=": operator.le, ">": operator.gt, ">=": operator.ge}
            if ln is not None and rn is not None:
                return ops[e.op](ln, rn)
            if e.op in ("=", "!=") and isinstance(lt, Term) and isinstance(rt, Term):
                # SPARQL term equality for raw terms (mirrors engine):
                # kind/dt/lang count (lang case-insensitive), not just
                # the lexical form
                def k(t: Term) -> tuple:
                    dt = t.dt or (
                        XSD + "string" if t.kind == "literal" and not t.lang else ""
                    )
                    return (t.kind, t.value, dt, (t.lang or "").lower())

                return ops[e.op](k(lt), k(rt))
            return ops[e.op](ls, rs)
        if isinstance(e, Not):
            return not ev(e.inner, b)
        if isinstance(e, Call):
            if e.fn == "regex":
                target = _sparql_value(e.args[0], b)
                if target is None:
                    return False
                s = target.value if isinstance(target, Term) else target
                return re.search(e.args[1].value, s) is not None
            if e.fn in ("isiri", "isliteral", "isblank"):
                t = b.get(e.args[0].name)
                if t is None:
                    return False
                return t.kind == {"isiri": "iri", "isliteral": "literal",
                                  "isblank": "bnode"}[e.fn]
            if e.fn == "bound":
                return e.args[0].name in b
        raise ValueError(f"oracle sparql: unsupported expr {e!r}")

    out = []
    for b in binds_list:
        if all(ev(f, b) for f in q.filters):
            out.append(b)
    if getattr(q, "group_by", None):
        out = _sparql_group(q, out)
    return out


def _sparql_group(q, sols: list[dict]) -> list[dict]:
    """GROUP BY / COUNT / SUM / HAVING over the solution bag (r05),
    mirroring the engine's _apply_aggregation: COUNT(?v) counts bound
    occurrences (bag semantics), SUM casts to int and skips non-numeric
    values (an all-error group leaves the alias unbound); HAVING with an
    unbound aggregate is false (the engine's NULL-comparison drop)."""
    import operator as _op

    from shacl_spark.shacl.sparql import Agg, BinOp, Lit, Not

    def keyof(b):
        return tuple(
            None if b.get(g) is None
            else (b[g].kind, b[g].value, b[g].dt, b[g].lang)
            for g in q.group_by
        )

    groups: dict[tuple, list[dict]] = {}
    for b in sols:
        groups.setdefault(keyof(b), []).append(b)

    def aggval(agg: Agg, rows: list[dict]):
        if agg.var is None:
            return len(rows)
        vals = [r[agg.var] for r in rows if r.get(agg.var) is not None]
        if agg.fn == "count":
            return len(vals)
        if agg.fn == "group_concat":
            # engine: array_join(array_sort(collect_list(val)), sep) —
            # DEFINED sorted lexical order
            return (agg.sep or " ").join(sorted(t.value for t in vals))
        if agg.fn in ("min", "max"):
            # engine: two-tier packed struct — numeric-castable first
            # (by numeric value), then lexical form, kind, dt, lang
            def key(t):
                # strict Spark-try_cast numeric gate (ADVICE r05, low):
                # bare float() accepted '1_000' forms Spark rejects,
                # tiering values differently than the engine.  NaN gets
                # its own sub-tier above +Inf (Spark's double ordering)
                # so Python tuple comparison stays a total order.
                import math

                num = _spark_double(t.value)
                nn = 1 if num is None else 0
                is_nan = 1 if (num is not None and math.isnan(num)) else 0
                return (
                    nn, is_nan, 0.0 if num is None or is_nan else num,
                    t.value, t.kind, t.dt or "", t.lang or "",
                )

            if not vals:
                return None
            return (min if agg.fn == "min" else max)(vals, key=key)
        if agg.fn == "avg":
            nums = []
            for t in vals:
                try:
                    nums.append(float(t.value))
                except (TypeError, ValueError):
                    continue  # engine: try_cast -> NULL, avg skips it
            return (sum(nums) / len(nums)) if nums else None
        total, any_num = 0, False
        for t in vals:
            try:
                total += int(t.value)
                any_num = True
            except (TypeError, ValueError):
                continue  # engine: try_cast -> NULL, sum skips it
        return total if any_num else None

    ops = {"=": _op.eq, "!=": _op.ne, "<": _op.lt,
           "<=": _op.le, ">": _op.gt, ">=": _op.ge}

    def evh(e, vals):
        if isinstance(e, Not):
            return not evh(e.inner, vals)
        if isinstance(e, BinOp):
            if e.op == "&&":
                return evh(e.left, vals) and evh(e.right, vals)
            if e.op == "||":
                return evh(e.left, vals) or evh(e.right, vals)
            lv, rv = _hval(e.left, vals), _hval(e.right, vals)
            if lv is None or rv is None:
                return False
            return ops[e.op](lv, rv)
        raise ValueError(f"oracle sparql: unsupported HAVING expr {e!r}")

    def _hval(e, vals):
        if isinstance(e, Agg):
            if e.fn in ("min", "max", "group_concat"):
                raise ValueError(
                    "oracle sparql: HAVING over MIN/MAX/GROUP_CONCAT is "
                    "unsupported (engine raises the same)"
                )
            return vals[e]
        if isinstance(e, Lit):
            return float(e.value) if "." in e.value else int(e.value)
        raise ValueError(f"oracle sparql: bad HAVING operand {e!r}")

    result = []
    for rows in groups.values():
        vals = {spec: aggval(spec, rows) for spec in _oracle_agg_specs(q)}
        if q.having is not None and not evh(q.having, vals):
            continue
        sol = {g: rows[0][g] for g in q.group_by if rows[0].get(g) is not None}
        for agg, alias in q.aggregates:
            v = vals[agg]
            if v is None:
                continue
            if agg.fn in ("min", "max"):
                sol[alias] = v  # full-term result (engine unpacks the struct)
            elif agg.fn == "avg":
                # engine: avg(double) cast to string — Python float str
                # matches Spark's double rendering for plain values
                sol[alias] = Term(str(v), "literal", XSD + "decimal")
            elif agg.fn == "group_concat":
                sol[alias] = Term(v, "literal", XSD + "string")
            else:
                sol[alias] = Term(str(v), "literal", XSD + "integer")
        result.append(sol)
    return result


def _oracle_agg_specs(q) -> list:
    from shacl_spark.shacl.sparql import Agg, BinOp, Call, Not

    specs: list = []

    def walk(e):
        if isinstance(e, Agg):
            if e not in specs:
                specs.append(e)
        elif isinstance(e, BinOp):
            walk(e.left)
            walk(e.right)
        elif isinstance(e, Not):
            walk(e.inner)
        elif isinstance(e, Call):
            for a in e.args:
                walk(a)

    for agg, _ in q.aggregates:
        if agg not in specs:
            specs.append(agg)
    if q.having is not None:
        walk(q.having)
    return specs


def _sparql_value(e, b):
    from shacl_spark.shacl.sparql import Call, Iri, Lit, Var

    if isinstance(e, Var):
        return b.get(e.name)  # None = unbound optional var
    if isinstance(e, (Lit,)):
        return Term(e.value, "literal", e.dt, e.lang)
    if isinstance(e, Iri):
        return Term(e.value, "iri")
    if isinstance(e, Call) and e.fn == "str":
        v = _sparql_value(e.args[0], b)
        return v.value if isinstance(v, Term) else v
    if isinstance(e, Call) and e.fn == "datatype":
        t = b.get(e.args[0].name)
        if t is None:
            return None
        return (t.dt or (XSD + "string")) if t.kind == "literal" else ""
    raise ValueError(f"oracle sparql: not a value {e!r}")
