"""SHACL validation engine: shapes × triples → validation-report frame
(SPEC §3; SURVEY.md §2.B/§3.2).

Execution model — the inverse of a per-focus-node interpreter: each
constraint component becomes ONE set-oriented DataFrame computation
over the whole focus/value-node frame (anti-joins, group-bys, filters),
and the report is a ``unionByName`` of per-component violation frames.
``sh:conforms`` ⇔ the report frame is empty.

Scale notes:
- the shapes graph is driver-resident; constraint parameters are
  inlined literals (Catalyst constant-folds them);
- identical path joins across constraints of one shape produce
  identical shuffle exchanges, which Spark dedupes physically
  (ReusedExchange) — we additionally reuse the VN frame object;
- the class hierarchy is one driver-side map (``Validator.closure``);
  class targets and sh:class are literal rdf:type filters
  (targets.instances_of).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from shacl_spark.functions.terms import SH, node_key, node_key_col, node_val_col
from shacl_spark.shacl import components as C
from shacl_spark.shacl.parser import parse_shapes_graph
from shacl_spark.shacl.paths import (
    _hop,
    _values_as_nodes,
    eval_path,
    identity_vn,
)
from shacl_spark.shacl.shapes import PredicatePath, PropertyShape, Shape, ShapesGraph
from shacl_spark.shacl.targets import focus_nodes, instances_of, subclass_closure_map

REPORT_SCHEMA = T.StructType(
    [
        T.StructField("focus", T.StringType(), False),
        T.StructField("path", T.StringType(), True),
        T.StructField("path_kind", T.StringType(), True),
        T.StructField("value", T.StringType(), True),
        T.StructField("value_kind", T.StringType(), True),
        T.StructField("value_dt", T.StringType(), True),
        T.StructField("value_lang", T.StringType(), True),
        T.StructField("component", T.StringType(), False),
        T.StructField("severity", T.StringType(), False),
        T.StructField("message", T.StringType(), True),
        T.StructField("source_shape", T.StringType(), False),
    ]
)

# schema of validate()'s OUTPUT frame (decoded focus term + the report
# columns) — consumers that persist/merge reports (incremental,
# streaming validation) build empty frames from it
REPORT_OUT_SCHEMA = T.StructType(
    [
        T.StructField("focus", T.StringType(), True),
        T.StructField("focus_kind", T.StringType(), True),
        T.StructField("focus_dt", T.StringType(), True),
        T.StructField("focus_lang", T.StringType(), True),
    ]
    + [f for f in REPORT_SCHEMA.fields if f.name != "focus"]
)


def _path_kind(shape: Shape) -> str | None:
    """'iri' when the shape's path is a plain PredicatePath, 'literal'
    for composite paths (serialized descriptions), None for node
    shapes — carried into the report so serialization never infers
    term-ness from the path's surface string."""
    if isinstance(shape, PropertyShape) and shape.path is not None:
        return "iri" if isinstance(shape.path, PredicatePath) else "literal"
    return None


def _vn_node_key():
    """Unique term key of a VN row's VALUE term — matches the `node`
    column of node frames (terms.node_key_col), so VN↔node-frame joins
    are single-string equi-joins on full term identity."""
    return node_key_col(F.col("kind"), F.col("value"), F.col("dt"), F.col("lang"))


class Validator:
    def __init__(
        self,
        spark: SparkSession,
        triples: DataFrame,
        shapes: ShapesGraph,
        cache: bool = True,
        assume_distinct: bool = False,
        only_nodes: DataFrame | None = None,
    ):
        """``cache=True`` persists each shape's focus and value-node
        frames (MEMORY_AND_DISK): every constraint of a shape branches
        off the same VN join, and without caching each branch re-joins
        focus × triples (ReusedExchange only dedupes identical
        exchanges, not the per-branch aggregates above them).  Measured
        ~5× on the KG metamodel at 600k triples.

        RDF graphs are SETS: duplicate input rows are one triple.  The
        engine's path/count logic relies on a distinct triple frame, so
        the input is normalized once here (one shuffle).  Callers whose
        frame is distinct by construction (the KG pipeline dedups at
        extraction/canonicalization) pass ``assume_distinct=True``.

        The triple frame is hash-partitioned by ``subj`` ONCE (and
        persisted alongside the other per-run caches): almost every
        engine operation is subj-keyed — target distincts, the
        multi-predicate child joins, per-focus cardinality groupBys,
        the closed-shape semi-join — and with co-partitioned inputs
        Catalyst drops the per-operation Exchange entirely.  Profiled
        r06: the metamodel validation ran ~40 AQE jobs, one per
        Exchange, each paying ~100-400 ms of fixed stage scheduling —
        one up-front shuffle replaces most of them.  The dedup
        aggregate below reuses the same exchange (partitioning on a
        subset of the grouping keys satisfies the clustering
        requirement), so non-distinct inputs still pay ONE shuffle."""
        self.spark = spark
        ident = ["subj", "pred", "obj", "obj_kind", "obj_dt", "obj_lang"]
        self._cached: list[DataFrame] = []
        if cache:
            # project to the six term columns FIRST — the engine never
            # reads lineage columns, and dropping them ahead of the
            # exchange shuffles ~40% fewer bytes on pipeline frames
            t = triples.select(*ident).repartition(F.col("subj"))
            if not assume_distinct:
                t = t.dropDuplicates(ident)
            self.t = t.persist()
            self._cached.append(self.t)
        else:
            # restricted/incremental slices arrive pre-checkpointed at
            # few partitions; re-shuffling them buys nothing
            self.t = (
                triples if assume_distinct else triples.dropDuplicates(ident)
            )
        self.shapes = shapes
        self.cache = cache
        # incremental revalidation (shacl/incremental.py): restrict every
        # shape's focus set to these term keys.  Sound because results
        # are node-local (SPEC §2.1.1) and the conformance memo handles
        # partial coverage with delta evaluation.
        self._only_nodes = only_nodes
        self._closure: dict[str, set[str]] | None = None
        # per-shape conformance memo: shape_iri → checkpointed
        # DF[node, kind, dt, lang, bad], keyed on the UNIQUE term key
        # (terms.node_key_col) so terms with equal lexical form but
        # different kind/dt/lang never conflate.  Sound because every
        # constraint is node-local (violations depend only on the focus
        # node and the data graph, never on the rest of the focus set),
        # so conformance computed for a node under one reference is
        # valid under every other reference to the same shape.
        self._conf_memo: dict[str, DataFrame] = {}

    # --- infrastructure ------------------------------------------------------

    @property
    def closure(self) -> dict[str, set[str]]:
        """Driver-side direct-subs map (one tiny collect, on first use)."""
        if self._closure is None:
            self._closure = subclass_closure_map(self.t)
        return self._closure

    def _empty(self) -> DataFrame:
        return self.spark.createDataFrame([], REPORT_SCHEMA)

    def _stamp(
        self,
        df: DataFrame,
        shape: Shape,
        component: str,
        default_msg: str,
        path_desc: str | None,
    ) -> DataFrame:
        """Normalize a builder's (focus[,value[,kind,dt,lang]][,rpath])
        frame into report rows; value-term metadata passes through when
        the builder kept it (SPEC §3.6 sh:value is a TERM)."""
        cols = set(df.columns)
        value = F.col("value") if "value" in cols else F.lit(None).cast("string")
        null_s = F.lit(None).cast("string")
        vkind = F.col("kind") if "kind" in cols else null_s
        vdt = F.col("dt") if "dt" in cols else null_s
        vlang = F.col("lang") if "lang" in cols else null_s
        rpath = (
            F.col("rpath")
            if "rpath" in cols
            else F.lit(path_desc).cast("string")
        )
        # the engine KNOWS whether the path is a plain predicate (report
        # serialization must emit sh:resultPath as an IRI term exactly
        # then — never regex-sniff the surface string, ADVICE r02):
        # rpath overrides are closed-constraint predicates, always IRIs
        pk = "iri" if "rpath" in cols else _path_kind(shape)
        msg = shape.messages[0] if shape.messages else default_msg
        return df.select(
            F.col("focus").alias("focus"),
            rpath.alias("path"),
            F.lit(pk).cast("string").alias("path_kind"),
            value.alias("value"),
            vkind.alias("value_kind"),
            vdt.alias("value_dt"),
            vlang.alias("value_lang"),
            F.lit(SH + component).alias("component"),
            F.lit(shape.severity).alias("severity"),
            F.lit(msg).alias("message"),
            F.lit(shape.iri).alias("source_shape"),
        )

    def _bad_roots(
        self, shape: Shape, nodes: DataFrame, vn_override: DataFrame | None = None
    ) -> DataFrame:
        """Subset of ``nodes`` producing ANY validation result in the
        shape's subtree — the spec's conformance predicate (SPEC §2.1.1:
        a node conforms iff validation produces NO results, including
        results from nested property shapes whose own focus is a deeper
        value node).  Direct results carry focus=root, but a property
        shape nested under a property shape reports the intermediate
        value node as focus, so those are mapped back to roots through
        the value-node frame here (parity: tests/oracle.py `conforms`
        extends nested eval_shape results into the root's result list).
        """
        if shape.deactivated:
            return nodes.limit(0)
        # FAST PATH: when every result in the subtree provably carries
        # focus=root (no depth>=2 property nesting), conformance is just
        # the distinct focus set of ONE full evaluation — no per-child
        # re-evaluation or value-frame mapping joins
        if self._results_carry_root_focus(shape):
            viol = self.evaluate(shape, nodes, vn_override=vn_override)
            return nodes.join(
                viol.select(F.col("focus").alias("node")).distinct(),
                "node",
                "left_semi",
            )
        is_path_shape = isinstance(shape, PropertyShape) and shape.path is not None
        if is_path_shape:
            vn = (
                vn_override
                if vn_override is not None
                else eval_path(shape.path, nodes, self.t)
            )
            if self.cache and shape.property and vn_override is None:
                vn = vn.persist()
                self._cached.append(vn)
        else:
            vn = identity_vn(nodes)
        direct = self.evaluate(shape, nodes, vn_override=vn, recurse_properties=False)
        bad = nodes.join(
            direct.select(F.col("focus").alias("node")).distinct(), "node", "left_semi"
        )
        if not shape.property:
            return bad
        val_nodes = _values_as_nodes(vn)
        vn_keyed = vn.select("focus", _vn_node_key().alias("vkey"))
        for child, child_vn, _child_counts in self._child_plans(shape, val_nodes):
            bad_vals = self._bad_roots(child, val_nodes, vn_override=child_vn)
            bad_focus = (
                vn_keyed.join(
                    bad_vals.select(F.col("node").alias("vkey")), "vkey", "left_semi"
                )
                .select(F.col("focus").alias("node"))
                .distinct()
            )
            bad = bad.unionByName(nodes.join(bad_focus, "node", "left_semi"))
        return bad.dropDuplicates(["node"])

    def _results_carry_root_focus(self, shape: Shape) -> bool:
        """True when every validation result of the shape's subtree has
        the root node as focus: constraints of the shape itself always
        do; property children evaluated over the root's VALUE nodes do
        only when the shape is a node shape (identity values) — and
        their own children never do."""
        if isinstance(shape, PropertyShape) and shape.path is not None:
            return not shape.property
        return all(not self.shapes[i].property for i in shape.property)

    def _conformance(self, shape_iri: str, nodes: DataFrame) -> DataFrame:
        """Memoized conformance: evaluate the shape only over nodes not
        seen under a previous reference (delta evaluation); returns the
        accumulated DF[node, kind, dt, lang, bad].

        The memo is materialized with an eager localCheckpoint — the
        delta evaluation runs as its own job, and later references read
        the cached result instead of re-deriving the whole sub-plan.
        Metamodel shapes reference the same node shape from several
        places over largely-overlapping node sets, so the second and
        later references cost one anti-join instead of a full shape
        evaluation."""
        memo = self._conf_memo.get(shape_iri)
        new_nodes = (
            nodes
            if memo is None
            else nodes.join(memo.select("node"), "node", "left_anti")
        )
        # probe kept even for tiny restricted graphs: folding ~15 near-
        # empty delta evaluations into the final DAG costs MORE in
        # Catalyst analysis than these probe jobs (profiled both ways,
        # r05: probes 4.5 s vs folded 6.0 s on the incremental slice)
        if memo is not None and new_nodes.isEmpty():
            # common case for seeded memos (the referencing shape's
            # value nodes ARE the referenced shape's targets): one cheap
            # probe job replaces a full near-empty delta evaluation
            # (~15 stages whose big sides still scan the triple frame)
            return memo
        bad_nodes = (
            self._bad_roots(self.shapes[shape_iri], new_nodes)
            .select("node")
            .withColumn("__bad", F.lit(True))
        )
        entries = new_nodes.join(bad_nodes, "node", "left").select(
            "node", "kind", "dt", "lang",
            F.coalesce(F.col("__bad"), F.lit(False)).alias("bad"),
        )
        if memo is not None:
            entries = memo.unionByName(entries)
        # LAZY checkpoint: truncates lineage and caches on first use,
        # but schedules no job at plan-build time — the delta evaluation
        # executes as part of whichever consumer job runs first, so
        # validation is one DAG instead of one blocking job per shape
        # reference (r01 bench: plan-build dominated wall time 2-4x)
        memo = entries.localCheckpoint(eager=False)
        self._conf_memo[shape_iri] = memo
        return memo

    def nonconforming(self, shape_iri: str, nodes: DataFrame) -> DataFrame:
        """Node frame → the subset that does NOT conform to the shape.
        All results count for conformance regardless of severity."""
        memo = self._conformance(shape_iri, nodes)
        bad = memo.where(F.col("bad")).select("node")
        return nodes.join(bad, "node", "left_semi")

    def conforming(self, shape_iri: str, nodes: DataFrame) -> DataFrame:
        memo = self._conformance(shape_iri, nodes)
        bad = memo.where(F.col("bad")).select("node")
        return nodes.join(bad, "node", "left_anti")

    # --- top level ------------------------------------------------------------

    def validate(self) -> DataFrame:
        frames = []
        # entry shapes whose evaluation can SEED their conformance memo
        # go first, so a later shape referencing them (sh:node on a
        # shape that is also a target) reuses the evaluation instead of
        # re-deriving it over the same nodes (delta evaluation then
        # costs one anti-join over an almost-empty remainder)
        entries = sorted(
            self.shapes.entry_shapes(),
            key=lambda s: not self._results_carry_root_focus(s),
        )
        # a seeded memo only pays off when some OTHER shape references
        # this one (sh:node/not/and/or/xone) — seeding an unreferenced
        # entry shape costs a localCheckpoint materialization job whose
        # report rows would otherwise fuse into the final count (r06:
        # each extra materialization is a full multi-stage Spark job)
        referenced: set[str] = set()
        for s in self.shapes.shapes.values():
            referenced |= set(s.referenced_shapes())
        for shape in entries:
            nodes = focus_nodes(self.spark, shape, self.t, self.closure)
            if self._only_nodes is not None:
                # the affected set is small by construction — broadcast
                nodes = nodes.join(F.broadcast(self._only_nodes), "node", "left_semi")
            rep = self.evaluate(shape, nodes)
            seed = (
                shape.iri in referenced
                and shape.iri not in self._conf_memo
                and self._results_carry_root_focus(shape)
            )
            if seed:
                # lazy checkpoint: the report branch and the memo join
                # both read ONE cached materialization of these rows
                rep = rep.localCheckpoint(eager=False)
                bad = (
                    rep.select(F.col("focus").alias("node"))
                    .distinct()
                    .withColumn("__bad", F.lit(True))
                )
                memo = nodes.join(bad, "node", "left").select(
                    "node", "kind", "dt", "lang",
                    F.coalesce(F.col("__bad"), F.lit(False)).alias("bad"),
                )
                self._conf_memo[shape.iri] = memo.localCheckpoint(eager=False)
            frames.append(rep)
        if not frames:
            return self._empty()
        report = reduce(lambda a, b: a.unionByName(b), frames)
        # node frames carry ENCODED term keys; report rows expose the
        # lexical form plus the recovered term metadata (sh:focusNode
        # is a TERM — report_to_triples needs kind/dt/lang)
        key = F.col("focus")
        from shacl_spark.functions.terms import (
            node_dt_col,
            node_kind_col,
            node_lang_col,
        )

        return report.select(
            node_val_col(key).alias("focus"),
            node_kind_col(key).alias("focus_kind"),
            node_dt_col(key).alias("focus_dt"),
            node_lang_col(key).alias("focus_lang"),
            "path",
            "path_kind",
            "value",
            "value_kind",
            "value_dt",
            "value_lang",
            "component",
            "severity",
            "message",
            "source_shape",
        )

    def cleanup(self) -> None:
        """Unpersist cached focus/VN frames (call after materializing
        the report)."""
        for df in self._cached:
            df.unpersist()
        self._cached.clear()

    def evaluate(
        self,
        shape: Shape,
        nodes: DataFrame,
        vn_override: DataFrame | None = None,
        recurse_properties: bool = True,
        counts_override: DataFrame | None = None,
    ) -> DataFrame:
        """All validation results for ``shape`` against the focus-node frame.

        ``nodes.node`` is the unique term KEY (terms.node_key_col);
        emitted focus strings are keys too — ``validate`` decodes them
        once at the end.

        ``vn_override`` lets a parent shape hand a child property shape
        its already-computed value-node frame (the sibling-batched
        multi-predicate join below) instead of re-joining triples.
        ``recurse_properties=False`` evaluates only this shape's own
        constraints (used by ``_bad_roots``, which attributes child
        results to roots itself).
        """
        if shape.deactivated:
            return self._empty()

        n_constraints = sum(
            1 for attr in (
                shape.class_, shape.datatype, shape.node_kind, shape.min_count,
                shape.max_count, shape.pattern, shape.in_, shape.node,
                shape.not_, shape.and_, shape.or_, shape.xone, shape.equals,
                shape.disjoint, shape.less_than, shape.less_than_or_equals,
                shape.has_value, shape.min_length, shape.max_length,
                shape.language_in, shape.sparql,
            ) if attr not in (None, (), False)
        )
        # _child_plans hands ONE value-node frame to every child shape:
        # persist it once, not once per child
        if self.cache and n_constraints + len(shape.property) > 1 and not nodes.is_cached:
            nodes = nodes.persist()
            self._cached.append(nodes)

        path_desc = None
        if isinstance(shape, PropertyShape) and shape.path is not None:
            path_desc = shape.path.describe()
            vn = vn_override if vn_override is not None else eval_path(shape.path, nodes, self.t)
        else:
            vn = identity_vn(nodes)
        if self.cache and n_constraints > 1 and vn_override is None:
            vn = vn.persist()
            self._cached.append(vn)

        frames: list[DataFrame] = []
        add = frames.append
        st = lambda df, comp, msg: add(self._stamp(df, shape, comp, msg, path_desc))  # noqa: E731

        # per-VALUE filter components are FUSED: each contributes a
        # (component, fire-condition, message) triple; one projection
        # emits the array of fired components per value node and one
        # explode yields the violation rows — k filter components cost
        # one stage instead of k (stage-scheduling overhead dominates
        # these branches at any scale; the data math is identical)
        value_checks: list[tuple[str, object, str]] = []

        # --- §4.1 value type --------------------------------------------------
        for c in shape.class_:
            inst = instances_of(self.t, self.closure, c)
            # W3C SHACL: typed blank nodes ARE SHACL instances — only
            # literals are categorically non-instances (ADVICE r02).
            # The lexical join is exact: subject bnodes carry the `_:`
            # label prefix no IRI can collide with (terms.py).
            non_resource = vn.where(~F.col("kind").isin("iri", "bnode"))
            bad_resource = vn.where(F.col("kind").isin("iri", "bnode")).join(
                inst.select(F.col("node").alias("value")), "value", "left_anti"
            )
            st(non_resource.unionByName(bad_resource).select("focus", "value", "kind", "dt", "lang"),
               "ClassConstraintComponent", f"value is not a SHACL instance of {c}")

        if shape.datatype is not None:
            value_checks.append((
                "DatatypeConstraintComponent",
                (F.col("kind") != "literal")
                | ~F.col("dt").eqNullSafe(F.lit(shape.datatype))
                | C.ill_formed(F.col("value"), shape.datatype),
                f"value does not have datatype {shape.datatype}",
            ))

        if shape.node_kind is not None:
            allowed = C.NODE_KIND_SETS.get(shape.node_kind, ())
            value_checks.append((
                "NodeKindConstraintComponent",
                ~F.col("kind").isin(*allowed),
                f"value is not of node kind {shape.node_kind}",
            ))

        # --- §4.2 cardinality --------------------------------------------------
        # counts_override (sibling-fused groupBy from _child_plans)
        # replaces the per-shape aggregation when provided
        if shape.min_count is not None or shape.max_count is not None:
            counts = (
                counts_override
                if counts_override is not None
                else vn.groupBy("focus").agg(F.count("*").alias("n"))
            )
        if shape.min_count is not None:
            bad = (
                nodes.join(counts, nodes["node"] == counts["focus"], "left")
                .where(F.coalesce(F.col("n"), F.lit(0)) < shape.min_count)
                .select(F.col("node").alias("focus"))
            )
            st(bad, "MinCountConstraintComponent", f"fewer than {shape.min_count} values")

        if shape.max_count is not None:
            bad = counts.where(F.col("n") > shape.max_count).select("focus")
            st(bad, "MaxCountConstraintComponent", f"more than {shape.max_count} values")

        # --- §4.3 value range --------------------------------------------------
        for term, comp, op in (
            (shape.min_exclusive, "MinExclusiveConstraintComponent", "gt"),
            (shape.min_inclusive, "MinInclusiveConstraintComponent", "ge"),
            (shape.max_exclusive, "MaxExclusiveConstraintComponent", "lt"),
            (shape.max_inclusive, "MaxInclusiveConstraintComponent", "le"),
        ):
            if term is None:
                continue
            lv, lk, ld = F.lit(term.value), F.lit(term.kind), F.lit(term.dt).cast("string")
            v, k, d = F.col("value"), F.col("kind"), F.col("dt")
            if op == "gt":  # value > bound  ⇔  bound < value
                ok = C.sparql_lt(lv, lk, ld, v, k, d)
            elif op == "ge":
                ok = C.sparql_lt(lv, lk, ld, v, k, d, or_equal=True)
            elif op == "lt":
                ok = C.sparql_lt(v, k, d, lv, lk, ld)
            else:
                ok = C.sparql_lt(v, k, d, lv, lk, ld, or_equal=True)
            value_checks.append((
                comp, ~F.coalesce(ok, F.lit(False)),
                f"value out of range ({comp} {term.value})",
            ))

        # --- §4.4 string based ---------------------------------------------------
        if shape.min_length is not None:
            value_checks.append((
                "MinLengthConstraintComponent",
                (F.col("kind") == "bnode") | (F.length("value") < shape.min_length),
                f"length < {shape.min_length}",
            ))

        if shape.max_length is not None:
            value_checks.append((
                "MaxLengthConstraintComponent",
                (F.col("kind") == "bnode") | (F.length("value") > shape.max_length),
                f"length > {shape.max_length}",
            ))

        if shape.pattern is not None:
            rx = C.java_regex(shape.pattern, shape.flags)
            value_checks.append((
                "PatternConstraintComponent",
                (F.col("kind") == "bnode") | ~F.col("value").rlike(rx),
                f"value does not match {shape.pattern}",
            ))

        if shape.language_in:
            ok = reduce(
                lambda a, b: a | b,
                [C.lang_matches(F.col("lang"), t) for t in shape.language_in],
            )
            value_checks.append((
                "LanguageInConstraintComponent",
                (F.col("kind") != "literal") | F.col("lang").isNull() | ~ok,
                f"language not in {list(shape.language_in)}",
            ))

        if shape.unique_lang:
            dup = (
                vn.where(F.col("lang").isNotNull())
                .groupBy("focus", F.lower("lang").alias("ltag"))
                .agg(F.count("*").alias("n"))
                .where(F.col("n") > 1)
                .select("focus")
                .distinct()
            )
            st(dup, "UniqueLangConstraintComponent", "duplicate language tags")

        # --- §4.5 property pair ---------------------------------------------------
        vnk = vn.withColumn("vkey", _vn_node_key())
        for p in shape.equals:
            other = _hop(nodes, self.t, p, inverse=False).withColumn("vkey", _vn_node_key())
            a_not_b = vnk.join(other.select("focus", "vkey"), ["focus", "vkey"], "left_anti")
            b_not_a = other.join(vnk.select("focus", "vkey"), ["focus", "vkey"], "left_anti")
            st(a_not_b.select("focus", "value", "kind", "dt", "lang").unionByName(b_not_a.select("focus", "value", "kind", "dt", "lang")),
               "EqualsConstraintComponent", f"values differ from values of {p}")

        for p in shape.disjoint:
            other = _hop(nodes, self.t, p, inverse=False).withColumn("vkey", _vn_node_key())
            shared = vnk.join(other.select("focus", "vkey"), ["focus", "vkey"], "left_semi")
            st(shared.select("focus", "value", "kind", "dt", "lang"),
               "DisjointConstraintComponent", f"value shared with {p}")

        for plist, comp, or_eq in (
            (shape.less_than, "LessThanConstraintComponent", False),
            (shape.less_than_or_equals, "LessThanOrEqualsConstraintComponent", True),
        ):
            for p in plist:
                other = _hop(nodes, self.t, p, inverse=False).select(
                    F.col("focus").alias("ofocus"),
                    F.col("value").alias("v2"),
                    F.col("kind").alias("k2"),
                    F.col("dt").alias("d2"),
                )
                pairs = vn.join(other, vn["focus"] == other["ofocus"], "inner")
                lt = C.sparql_lt(
                    F.col("value"), F.col("kind"), F.col("dt"),
                    F.col("v2"), F.col("k2"), F.col("d2"), or_equal=or_eq,
                )
                st(pairs.where(~F.coalesce(lt, F.lit(False))).select("focus", "value", "kind", "dt", "lang").distinct(),
                   comp, f"value not less than values of {p}")

        # --- §4.6 logical ---------------------------------------------------------
        val_nodes = _values_as_nodes(vn)
        for s in shape.not_:
            conf = self.conforming(s, val_nodes)
            st(self._vn_semi(vn, conf).select("focus", "value", "kind", "dt", "lang"),
               "NotConstraintComponent", f"value conforms to {s}")

        for group in shape.and_:
            bad_nodes = None
            for s in group:
                nc = self.nonconforming(s, val_nodes)
                bad_nodes = nc if bad_nodes is None else bad_nodes.unionByName(nc)
            if bad_nodes is not None:
                bad_nodes = bad_nodes.dropDuplicates(["node", "kind", "dt", "lang"])
                st(self._vn_semi(vn, bad_nodes).select("focus", "value", "kind", "dt", "lang"),
                   "AndConstraintComponent", "value fails a member of sh:and")

        for group in shape.or_:
            all_bad = val_nodes
            for s in group:
                all_bad = self.nonconforming(s, all_bad)
            st(self._vn_semi(vn, all_bad).select("focus", "value", "kind", "dt", "lang"),
               "OrConstraintComponent", "value conforms to no member of sh:or")

        for group in shape.xone:
            conf_counts = None
            for s in group:
                conf = self.conforming(s, val_nodes).withColumn("one", F.lit(1))
                conf_counts = conf if conf_counts is None else conf_counts.unionByName(conf)
            if conf_counts is None:
                continue
            # `node` is the unique term key — grouping on it is exact
            exactly_one = (
                conf_counts.groupBy("node")
                .agg(F.sum("one").alias("n"))
                .where(F.col("n") == 1)
                .select("node")
            )
            not_one = val_nodes.join(exactly_one, "node", "left_anti")
            st(self._vn_semi(vn, not_one).select("focus", "value", "kind", "dt", "lang"),
               "XoneConstraintComponent", "value conforms to != 1 members of sh:xone")

        # --- §4.7 shape based -------------------------------------------------------
        for s in shape.node:
            bad = self.nonconforming(s, val_nodes)
            st(self._vn_semi(vn, bad).select("focus", "value", "kind", "dt", "lang"),
               "NodeConstraintComponent", f"value does not conform to {s}")

        # nested property shapes: every value node becomes their focus
        # (batched multi-predicate join — see _child_plans)
        if recurse_properties:
            for child, child_vn, child_counts in self._child_plans(shape, val_nodes):
                frames.append(
                    self.evaluate(
                        child,
                        val_nodes,
                        vn_override=child_vn,
                        counts_override=child_counts,
                    )
                )

        if shape.qualified_value_shape is not None:
            conf = self.conforming(shape.qualified_value_shape, val_nodes)
            if shape.qualified_disjoint:
                for sib in self.shapes.sibling_qualified(shape.iri):
                    sib_keys = self.conforming(sib, val_nodes).select("node")
                    conf = conf.join(sib_keys, "node", "left_anti")
            conf_vn = self._vn_semi(vn, conf)
            counts = conf_vn.groupBy("focus").agg(F.count("*").alias("n"))
            if shape.qualified_min_count is not None:
                bad = (
                    nodes.join(counts, nodes["node"] == counts["focus"], "left")
                    .where(F.coalesce(F.col("n"), F.lit(0)) < shape.qualified_min_count)
                    .select(F.col("node").alias("focus"))
                )
                st(bad, "QualifiedMinCountConstraintComponent",
                   f"fewer than {shape.qualified_min_count} qualified values")
            if shape.qualified_max_count is not None:
                bad = counts.where(F.col("n") > shape.qualified_max_count).select("focus")
                st(bad, "QualifiedMaxCountConstraintComponent",
                   f"more than {shape.qualified_max_count} qualified values")

        # --- §4.8 other ----------------------------------------------------------
        if shape.closed:
            allowed = set(shape.ignored_properties)
            for ps_iri in shape.property:
                ps = self.shapes[ps_iri]
                if isinstance(ps, PropertyShape) and isinstance(ps.path, PredicatePath):
                    allowed.add(ps.path.iri)
            subj_nodes = nodes.where(F.col("kind").isin("iri", "bnode")).select(
                F.col("node").alias("subj")
            )
            extra = self.t.join(subj_nodes, "subj", "left_semi")
            if allowed:
                extra = extra.where(~F.col("pred").isin(*sorted(allowed)))
            st(extra.select(
                   F.col("subj").alias("focus"),
                   F.col("obj").alias("value"),
                   F.col("obj_kind").alias("kind"),
                   F.col("obj_dt").alias("dt"),
                   F.col("obj_lang").alias("lang"),
                   F.col("pred").alias("rpath"),
               ),
               "ClosedConstraintComponent", "predicate not allowed on closed shape")

        # SPARQL-based constraints (SPEC §5): solutions ARE violations.
        # Evaluated over the focus-node frame; the subset binds $this
        # and substitutes $PATH for predicate-path property shapes
        # (SPEC §5.3.3).
        for select_text, sp_msg in shape.sparql:
            from shacl_spark.shacl.sparql import sparql_violations, substitute_path

            viol = sparql_violations(substitute_path(select_text, shape), nodes, self.t)
            msg = sp_msg or "SPARQL constraint produced solutions"
            add(self._stamp(viol, shape, "SPARQLConstraintComponent", msg, path_desc))

        for term in shape.has_value:
            have = (
                vn.where(_vn_node_key() == F.lit(node_key(term.kind, term.value, term.dt, term.lang)))
                .select(F.col("focus").alias("node"))
                .distinct()
            )
            st(nodes.join(have, "node", "left_anti").select(F.col("node").alias("focus")),
               "HasValueConstraintComponent", f"missing required value {term.value}")

        if shape.in_ is not None:
            keys = [node_key(t.kind, t.value, t.dt, t.lang) for t in shape.in_]
            value_checks.append((
                "InConstraintComponent", ~_vn_node_key().isin(*keys), "value not in sh:in list",
            ))

        if value_checks:
            hits = F.array(
                *[
                    F.when(
                        cond,
                        F.struct(
                            F.lit(SH + comp).alias("component"),
                            F.lit(msg).alias("msg"),
                        ),
                    )
                    for comp, cond, msg in value_checks
                ]
            )
            fired = vn.select(
                "focus",
                "value",
                "kind",
                "dt",
                "lang",
                F.explode(F.filter(hits, lambda x: x.isNotNull())).alias("__v"),
            )
            msg_col = F.lit(shape.messages[0]) if shape.messages else F.col("__v.msg")
            frames.append(
                fired.select(
                    F.col("focus"),
                    F.lit(path_desc).cast("string").alias("path"),
                    F.lit(_path_kind(shape)).cast("string").alias("path_kind"),
                    F.col("value"),
                    F.col("kind").alias("value_kind"),
                    F.col("dt").alias("value_dt"),
                    F.col("lang").alias("value_lang"),
                    F.col("__v.component").alias("component"),
                    F.lit(shape.severity).alias("severity"),
                    msg_col.alias("message"),
                    F.lit(shape.iri).alias("source_shape"),
                )
            )

        if not frames:
            return self._empty()
        return reduce(lambda a, b: a.unionByName(b), frames)

    # --- helpers ---------------------------------------------------------------

    def _child_plans(
        self, shape: Shape, val_nodes: DataFrame
    ) -> list[tuple[Shape, DataFrame | None, DataFrame | None]]:
        """(child shape, precomputed VN | None, precomputed per-focus
        counts | None) for each nested property shape.  Children with a
        plain predicate path are batched into ONE multi-predicate join
        (pred IN (...)), split per child — k sibling property shapes
        cost 1 shuffle join instead of k — and their cardinality counts
        come from ONE groupBy(focus, pred) instead of one groupBy per
        child."""
        simple_children: list[tuple[Shape, str]] = []
        other_children: list[Shape] = []
        for ps_iri in shape.property:
            child = self.shapes[ps_iri]
            if (
                isinstance(child, PropertyShape)
                and isinstance(child.path, PredicatePath)
                and not child.deactivated
            ):
                simple_children.append((child, child.path.iri))
            else:
                other_children.append(child)

        plans: list[tuple[Shape, DataFrame | None]] = []
        if len(simple_children) > 1:
            preds = sorted({p for _, p in simple_children})
            multi = (
                val_nodes.where(F.col("kind").isin("iri", "bnode"))
                .join(
                    self.t.where(F.col("pred").isin(preds)),
                    F.col("node") == F.col("subj"),
                    "inner",
                )
                .select(
                    F.col("node").alias("focus"),
                    F.col("pred").alias("__pred"),
                    F.col("obj").alias("value"),
                    F.col("obj_kind").alias("kind"),
                    F.col("obj_dt").alias("dt"),
                    F.col("obj_lang").alias("lang"),
                )
                # no dedup: distinct focus × distinct triples is distinct
            )
            if self.cache:
                multi = multi.persist()
                self._cached.append(multi)
            needs_counts = any(
                c.min_count is not None
                or c.max_count is not None
                for c, _ in simple_children
            )
            counts_all = None
            if needs_counts:
                counts_all = multi.groupBy("focus", "__pred").agg(
                    F.count("*").alias("n")
                )
                if self.cache:
                    counts_all = counts_all.persist()
                    self._cached.append(counts_all)
            for child, pred in simple_children:
                child_vn = multi.where(F.col("__pred") == pred).drop("__pred")
                child_counts = (
                    counts_all.where(F.col("__pred") == pred).drop("__pred")
                    if counts_all is not None
                    else None
                )
                plans.append((child, child_vn, child_counts))
        elif simple_children:
            other_children.append(simple_children[0][0])
        plans.extend((child, None, None) for child in other_children)
        return plans

    def _vn_semi(self, vn: DataFrame, nodes: DataFrame) -> DataFrame:
        """VN rows whose value term is in the node frame (term equality)."""
        keyed = nodes.select(F.col("node").alias("vkey"))
        return (
            vn.withColumn("vkey", _vn_node_key())
            .join(keyed, "vkey", "left_semi")
            .drop("vkey")
        )


def validate(
    spark: SparkSession,
    triples: DataFrame,
    shapes_rows_or_graph,
    assume_distinct: bool = False,
    entailment: str | None = None,
) -> DataFrame:
    """Validate the data triples against a shapes graph (triple rows, a
    small DataFrame, or an already-parsed :class:`ShapesGraph`).

    ``entailment='rdfs'`` — or an ``sh:entailment
    <http://www.w3.org/ns/entailment/RDFS>`` declaration in the shapes
    graph (SPEC §1.5) — materializes the RDFS closure of the data graph
    first (shacl/entailment.py); any other declared regime fails, as
    the SPEC requires."""
    shapes = (
        shapes_rows_or_graph
        if isinstance(shapes_rows_or_graph, ShapesGraph)
        else parse_shapes_graph(shapes_rows_or_graph)
    )
    from shacl_spark.shacl.entailment import RDFS_ENTAILMENT_IRI, rdfs_entailment

    ents = getattr(shapes, "entailments", ())
    unsupported = [e for e in ents if e != RDFS_ENTAILMENT_IRI]
    if unsupported:
        raise ValueError(
            f"unsupported sh:entailment regime(s) {unsupported} (SPEC §1.5 "
            "requires failure; supported: RDFS)"
        )
    if entailment not in (None, "rdfs"):
        raise ValueError(f"unsupported entailment {entailment!r} (supported: 'rdfs')")
    if ents or entailment == "rdfs":
        triples = rdfs_entailment(triples)
        assume_distinct = False
    return Validator(spark, triples, shapes, assume_distinct=assume_distinct).validate()


def conforms(report: DataFrame) -> bool:
    """sh:conforms ⇔ the report frame is empty (SPEC §3.6)."""
    return report.isEmpty()


def summarize(report: DataFrame) -> DataFrame:
    """Violation counts per (component, severity, source_shape)."""
    return (
        report.groupBy("component", "severity", "source_shape")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"))
    )
