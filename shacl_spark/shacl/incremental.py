"""Incremental revalidation: validate only the focus nodes a triple
delta can affect, merge with the previous report.

    new_report = incremental_revalidate(spark, triples_new, changed,
                                        shapes, prev_report)
    # == validate(spark, triples_new, shapes)   (proven in tests)

``changed`` holds every triple ADDED or REMOVED (the caller's CDC
stream knows); ``triples_new`` is the post-change graph.  The affected
set is computed CONSERVATIVELY from a static analysis of the shapes
graph:

- **footprint** — the predicates any constraint can traverse (paths,
  equals/disjoint/lessThan pairs, sh:sparql BGP patterns), each tagged
  with its traversal DIRECTION, and a hop-depth bound D (path lengths
  composed through shape references along the DAG); predicates under
  ``*``/``+`` paths expand to fixpoint rather than depth-bounded.
  ``sh:closed`` needs no hop edges (it reads only the focus node's own
  triples, and subjects of changed triples are always seeded).
- **footprint edges** — ONE Spark projection, :func:`footprint_edges`,
  turns every footprint triple into its edges: ``dep``/``rdep``
  (dependency: a change at ``a`` affects ``b``) and ``cdep``/``crdep``
  (validation context: validating ``a`` reads ``b``), the ``r`` families
  over the recursive predicates.  Its three readers: the driver edge
  cache (:class:`_LocalEdges`, one bounded Arrow collect), that cache's
  per-batch upkeep (the same projection over a micro-batch journal) and,
  above the collect cap, one broadcast-join Spark job per hop.
- **seeds** — subjects of every changed triple (their value sets
  changed), objects of inversely-used predicates, and all objects with
  full term identity as potential (new/removed) focus nodes — without
  propagation, since their own value sets did not change.  Target
  membership is decided by triples touching the node itself, so
  seeding covers target changes with zero extra hops.
- **expansion** — D hops along the ``dep`` edges alternated with a
  fixpoint along ``rdep``; then the same walk over ``cdep``/``crdep``
  bounds the slice of the graph the restricted validation reads.
- **escape hatch** — a delta touching ``rdfs:subClassOf`` invalidates
  class closures globally: fall back to full revalidation (correct and
  rare; ontology edits are not row-rate events).

The restricted validation itself reuses the engine end-to-end
(``Validator(only_nodes=...)``, or the driver interpreter for a small
slice); unaffected report rows carry over from ``prev_report`` by
focus-term anti-join.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import partial

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from shacl_spark.functions.terms import RDFS_SUBCLASSOF, node_key_col
from shacl_spark.shacl.engine import Validator, validate
from shacl_spark.shacl.parser import parse_shapes_graph
from shacl_spark.shacl.shapes import (
    AlternativePath,
    InversePath,
    OneOrMorePath,
    Path,
    PredicatePath,
    PropertyShape,
    SequencePath,
    ShapesGraph,
    ZeroOrMorePath,
    ZeroOrOnePath,
)


@dataclass
class Footprint:
    """Direction matters (hub precision): a FORWARD path step
    ``focus -p-> value`` means dependency flows value→focus, i.e. the
    affected set propagates BACKWARD along p (object → subject);
    inverse steps propagate forward.  Propagating both ways would make
    every hub object (a popular import, a shared city) fan the
    affected set back out to all its in-neighbors — measured: 94k
    affected nodes from a 3k-triple delta, vs a few hundred with
    directions."""

    fwd_preds: set[str] = field(default_factory=set)
    inv_preds: set[str] = field(default_factory=set)
    depth: int = 1
    rec_fwd: set[str] = field(default_factory=set)
    rec_inv: set[str] = field(default_factory=set)
    subclass_sensitive: bool = False  # any class closure in use
    has_sparql: bool = False  # any sh:sparql constraint present
    tobj_preds: set[str] = field(default_factory=set)  # targetObjectsOf


def _path_info(path: Path, inverted: bool = False):
    """(fwd_preds, inv_preds, hop length, rec_fwd, rec_inv)."""
    if isinstance(path, PredicatePath):
        if inverted:
            return set(), {path.iri}, 1, set(), set()
        return {path.iri}, set(), 1, set(), set()
    if isinstance(path, InversePath):
        return _path_info(path.inner, not inverted)
    if isinstance(path, SequencePath):
        fwd: set[str] = set()
        inv: set[str] = set()
        rf: set[str] = set()
        ri: set[str] = set()
        depth = 0
        for s in path.steps:
            f, i, d, a, b = _path_info(s, inverted)
            fwd |= f
            inv |= i
            rf |= a
            ri |= b
            depth += d
        return fwd, inv, depth, rf, ri
    if isinstance(path, AlternativePath):
        fwd, inv, rf, ri = set(), set(), set(), set()
        depth = 1
        for o in path.options:
            f, i, d, a, b = _path_info(o, inverted)
            fwd |= f
            inv |= i
            rf |= a
            ri |= b
            depth = max(depth, d)
        return fwd, inv, depth, rf, ri
    if isinstance(path, (ZeroOrMorePath, OneOrMorePath, ZeroOrOnePath)):
        f, i, d, a, b = _path_info(path.inner, inverted)
        if isinstance(path, ZeroOrOnePath):
            return f, i, d, a, b
        return f, i, d, a | f, b | i
    raise ValueError(f"unknown path {path!r}")


def shapes_footprint(shapes: ShapesGraph) -> Footprint:
    """Static analysis of the shapes graph (see module docstring).  The
    result is DELTA-INDEPENDENT, so it is cached on the ShapesGraph
    instance — a streaming validator revalidating every micro-batch
    pays the analysis once, not per batch (VERDICT r04 #1)."""
    cached = shapes.__dict__.get("_footprint_cache")
    if cached is not None:
        return cached
    fp = Footprint()
    memo: dict[str, int] = {}

    def depth_of(iri: str) -> int:
        if iri in memo:
            return memo[iri]
        memo[iri] = 0  # DAG (parser rejects cycles); placeholder
        shape = shapes[iri]
        own = 1
        p_len = 0
        if isinstance(shape, PropertyShape) and shape.path is not None:
            fwd, inv, p_len, rf, ri = _path_info(shape.path)
            fp.fwd_preds |= fwd
            fp.inv_preds |= inv
            fp.rec_fwd |= rf
            fp.rec_inv |= ri
            own = max(own, p_len)
        pair = (
            set(shape.equals) | set(shape.disjoint)
            | set(shape.less_than) | set(shape.less_than_or_equals)
        )
        if pair:
            fp.fwd_preds |= pair
            own = max(own, 1)
        if shape.class_:
            # a value's instance-ness depends on the value's OWN
            # rdf:type triples: a type change seeds the value (it is
            # the subject) and reaches the focus backwards through the
            # PATH predicates — rdf:type is deliberately NOT a hop
            # edge, else every class node becomes a hub connecting all
            # its instances 2-hops apart (measured: the affected set
            # degenerates to the whole graph).  subClassOf changes take
            # the full-revalidation hatch instead.
            fp.subclass_sensitive = True
            own = max(own, p_len, 1)
        if shape.target_classes or shape.implicit_class_target:
            fp.subclass_sensitive = True
        # sh:closed inspects only the focus node's OWN triples; the
        # subject of every changed triple is always seeded, so closed
        # needs NO hop edges at all
        for select_text, _msg in shape.sparql:
            from shacl_spark.shacl.sparql import parse_sparql, substitute_path

            q = parse_sparql(substitute_path(select_text, shape))
            pats = (
                list(q.patterns)
                + [p for g in q.optionals for p in g]
                + [p for _pos, g in q.exists for p in g]
                + [p for arms in q.unions for arm in arms for p in arm]
            )
            # ADVICE r03 (high): a BGP chain can reach ?this in OBJECT
            # position ('?x ex:a ?y . ?y ex:b ?this'), where dependency
            # flows subject→object — forward-only preds would never
            # reach the focus.  BGP patterns are not oriented relative
            # to ?this here, so add every pattern predicate in BOTH
            # directions (conservative).
            bgp_preds = {p.p for p in pats}
            fp.fwd_preds |= bgp_preds
            fp.inv_preds |= bgp_preds
            own = max(own, len(pats))
        for ref in shape.referenced_shapes():
            own = max(own, p_len + depth_of(ref))
        memo[iri] = own
        return own

    for iri in shapes.shapes:
        fp.depth = max(fp.depth, depth_of(iri))
    fp.has_sparql = any(s.sparql for s in shapes.shapes.values())
    fp.tobj_preds = {
        p for s in shapes.shapes.values() for p in s.target_objects_of
    }
    shapes.__dict__["_footprint_cache"] = fp
    return fp


# --- the footprint edges -------------------------------------------------

_FAMS = ("dep", "rdep", "cdep", "crdep")


def footprint_edges(
    triples: DataFrame, fp: Footprint, *carry: Column
) -> DataFrame | None:
    """THE edge rule: DF[*carry, edges] with one row per footprint
    triple (a triple that gives at least one edge), ``edges`` an
    ``array<struct<fam, a, b>>``; None when the footprint has no
    predicate.

    A FORWARD-used predicate (``focus -p-> value``) gives the dependency
    edge object→subject (the value's change reaches the focus pointing
    AT it — never the other way, else a hub object fans the affected set
    out to all its in-neighbors) and the context edge subject→object; an
    inversely-used one gives the reverse pair.  ``dep``/``cdep`` come
    from the depth-bounded predicates, ``rdep``/``crdep`` from the
    recursive (``*``/``+``) ones.  Only resource objects (iri/bnode) are
    hop nodes, except that inverse context edges keep literal objects: a
    literal focus (targetObjectsOf can select literals) reaches its
    inverse-path values through them.

    One scan, no shuffle: the coarse predicate filter is pushed to the
    scan, and the exact footprint test is the non-empty edge array."""
    s, o = F.col("subj"), F.col("obj")
    resource = F.col("obj_kind").isin("iri", "bnode")
    arms = []
    for dfam, cfam, fwd, inv in (
        ("dep", "cdep", fp.fwd_preds, fp.inv_preds),
        ("rdep", "crdep", fp.rec_fwd, fp.rec_inv),
    ):
        for fam, preds, cond, a, b in (
            (dfam, fwd, resource, o, s),
            (cfam, fwd, resource, s, o),
            (dfam, inv, resource, s, o),
            (cfam, inv, F.lit(True), o, s),
        ):
            if preds:
                arms.append(F.when(
                    F.col("pred").isin(*sorted(preds)) & cond,
                    F.struct(F.lit(fam).alias("fam"), a.alias("a"), b.alias("b")),
                ))
    if not arms:
        return None
    all_rel = fp.fwd_preds | fp.inv_preds | fp.rec_fwd | fp.rec_inv
    edges = F.filter(F.array(*arms), lambda e: e.isNotNull())
    return (
        triples.where(F.col("pred").isin(*sorted(all_rel)))
        .select(*carry, edges.alias("edges"))
        .where(F.size("edges") > 0)
    )


# --- driver-coordinated expansion ----------------------------------------
#
# Affected sets at CDC rates are SMALL (hundreds-to-thousands of nodes
# for row-rate deltas), so the frontier bookkeeping lives on the driver:
# the hops either look the frontier up in the driver edge cache or, above
# its cap, run one Spark job each (broadcast-join the frontier against
# the lazy footprint projection, collect the new ids).  ``cap`` bounds
# every expansion; blowing past it triggers the cost-based
# full-validation escape — a delta whose influence region exceeds the
# cap is precisely the delta for which restricted validation stops being
# cheaper than full (the same bounded driver assist as kg/cc.py's
# union-find).


def _hop_collect(
    spark: SparkSession, edges: DataFrame, frontier: set[str]
) -> set[str]:
    """One hop over ``edges`` DF[a, b]: ids reachable from ``frontier``."""
    if not frontier:
        return set()
    fdf = spark.createDataFrame([(x,) for x in sorted(frontier)], "id string")
    rows = (
        edges.join(F.broadcast(fdf), edges["a"] == fdf["id"])
        .select("b")
        .collect()
    )
    # dedup on the driver — a distinct() here costs a 32-partition
    # shuffle stage PER HOP for a result that is frontier-sized anyway
    return {r[0] for r in rows}


def _spark_hops(spark: SparkSession, triples: DataFrame, fp: Footprint):
    """Over-cap ``hop_of``: ``hop_of(fam)`` maps a frontier to its
    neighbours with one broadcast-join Spark job over that family of the
    (lazy, never materialized) footprint projection."""

    def hop_of(fam: str):
        edges = (
            footprint_edges(triples, fp)
            .select(F.explode("edges").alias("e"))
            .where(F.col("e.fam") == fam)
            .select("e.a", "e.b")
        )
        return lambda frontier: _hop_collect(spark, edges, frontier)

    return hop_of


def _expand(
    hop_of, fp: Footprint, dfam: str, rfam: str, seeds: set, cap: int
) -> set | None:
    """Depth-bounded hops along ``dfam`` alternated with a fixpoint along
    ``rfam`` until a full round adds nothing; ``hop_of(fam)`` gives a
    frontier→neighbours callable.  A non-recursive hop must be able to
    FOLLOW a fixpoint hop and vice versa: for sh:path (ex:q
    [sh:zeroOrMorePath ex:p]) the backward walk is p-fixpoint THEN q, so
    nodes the fixpoint adds re-enter the depth loop (with the full depth
    budget — conservative) and nodes the depth loop adds re-enter the
    fixpoint.  Returns the reached set (seeds included), None when it
    exceeds ``cap`` (escape)."""
    hop_dep = hop_of(dfam) if fp.fwd_preds or fp.inv_preds else None
    hop_rdep = hop_of(rfam) if fp.rec_fwd or fp.rec_inv else None
    acc = set(seeds)
    depth_pending = set(seeds)
    fix_pending = set(seeds)
    while True:
        new_depth: set = set()
        frontier = depth_pending
        if hop_dep is not None:
            for _ in range(fp.depth):
                nxt = hop_dep(frontier) - acc
                if not nxt:
                    break
                acc |= nxt
                new_depth |= nxt
                if len(acc) > cap:
                    return None
                frontier = nxt
        if hop_rdep is None:
            break
        new_fix: set = set()
        frontier = fix_pending | new_depth
        while True:
            nxt = hop_rdep(frontier) - acc
            if not nxt:
                break
            acc |= nxt
            new_fix |= nxt
            if len(acc) > cap:
                return None
            frontier = nxt
        if not new_fix:
            break
        depth_pending = new_fix
        fix_pending = set()
    return acc


def _multiset_minus(keys, drop):
    """(keep mask over ``keys`` removing one occurrence per element of
    ``drop``, whether every element of ``drop`` found one) — vectorized:
    an occurrence survives when its rank among equal keys is at least
    the number of drops of that key."""
    import numpy as np

    order = np.argsort(keys, kind="stable")
    sk = keys[order]
    rank = np.arange(len(sk)) - np.searchsorted(sk, sk)
    sd = np.sort(drop)
    need = np.searchsorted(sd, sk, "right") - np.searchsorted(sd, sk)
    keep = np.empty(len(keys), dtype=bool)
    keep[order] = rank >= need
    return keep, len(keys) - int(keep.sum()) == len(drop)


class _LocalEdges:
    """Driver-side copy of the footprint edges: ONE bounded Arrow collect
    of the projection replaces the per-hop broadcast-join jobs for both
    expansion directions.  Callers fall back to the Spark hops
    (``collect_local_edges`` returns None) above ``cap`` footprint
    triples — driver assists are bounded, never assumed.

    Edges live as numpy int64 code arrays per family over a pyarrow
    string vocabulary: hop expansion is ``np.isin`` over the codes and
    only the (small) expansion RESULT is decoded back to strings.
    ``n_rows`` counts the footprint triples behind the edges."""

    def __init__(self, tbl):
        import numpy as np
        import pyarrow as pa

        empty = np.empty(0, dtype=np.int64)
        self._fam = {k: (empty, empty) for k in _FAMS}
        self._vocab = pa.array([], type=pa.string())
        self.n_rows = 0
        self.dirty = False
        self._add(tbl)

    def _codes(self, tbl, extend: bool) -> dict:
        """Per family (a, b) code arrays of the projection rows in
        ``tbl``.  ``extend`` appends unseen strings to the vocabulary;
        otherwise they code as -1."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        e = tbl.column("edges").combine_chunks().flatten()
        ab = pa.concat_arrays([e.field("a"), e.field("b")]).cast(pa.string())
        codes = pc.index_in(ab, value_set=self._vocab)
        if extend and codes.null_count:
            unseen = pc.unique(ab.filter(pc.is_null(codes)))
            self._vocab = pa.concat_arrays([self._vocab, unseen])
            codes = pc.index_in(ab, value_set=self._vocab)
        c = codes.fill_null(-1).to_numpy(zero_copy_only=False).astype(np.int64)
        a, b = c[: len(e)], c[len(e):]
        out = {}
        for fam in _FAMS:
            m = pc.equal(e.field("fam"), fam).to_numpy(zero_copy_only=False)
            out[fam] = (a[m], b[m])
        return out

    def _add(self, tbl) -> None:
        import numpy as np

        for fam, (a, b) in self._codes(tbl, extend=True).items():
            old_a, old_b = self._fam[fam]
            self._fam[fam] = (np.concatenate([old_a, a]), np.concatenate([old_b, b]))
        self.n_rows += tbl.num_rows

    def _remove(self, tbl) -> None:
        """Retract one edge occurrence per projected edge; a retraction
        the cache never saw means it drifted from the graph — ``dirty``
        trips and the caller rebuilds."""
        self.n_rows -= tbl.num_rows
        n = len(self._vocab)
        for fam, (da, db) in self._codes(tbl, extend=False).items():
            if not len(da):
                continue
            if (da < 0).any() or (db < 0).any():
                self.dirty = True
                return
            a, b = self._fam[fam]
            keep, found = _multiset_minus(a * n + b, da * n + db)
            self.dirty |= not found
            self._fam[fam] = (a[keep], b[keep])

    def _compact(self) -> None:
        """Re-code to the vocabulary entries some edge still references
        once the dead ones outnumber them: retractions never shrink the
        vocabulary otherwise, so node churn would grow it unbounded
        while ``n_rows`` stays flat."""
        import numpy as np
        import pyarrow as pa

        live = np.zeros(len(self._vocab), dtype=bool)
        for a, b in self._fam.values():
            live[a] = True
            live[b] = True
        n_live = int(live.sum())
        if len(self._vocab) - n_live <= n_live:
            return
        new_code = np.cumsum(live) - 1
        self._vocab = self._vocab.filter(pa.array(live))
        self._fam = {k: (new_code[a], new_code[b]) for k, (a, b) in self._fam.items()}

    def apply_delta(self, journal: DataFrame, fp: Footprint) -> "_LocalEdges":
        """Roll the edges forward by a NET graph delta: ``journal`` has
        the six triple columns and optionally ``op`` ('-' retracts; no
        ``op`` adds).  Rows must be the exact live-set delta (both
        sinks' ``_compute_delta`` guarantee this) or ``dirty`` trips and
        the caller rebuilds."""
        import pyarrow.compute as pc

        retract = (
            F.col("op").eqNullSafe("-") if "op" in journal.columns else F.lit(False)
        )
        tbl = footprint_edges(journal, fp, retract.alias("retract")).toArrow()
        self._add(tbl.filter(pc.invert(tbl.column("retract"))))
        self._remove(tbl.filter(tbl.column("retract")))
        self._compact()
        return self

    def pairs(self, fam: str) -> list[tuple[str, str]]:
        """Sorted (a, b) string pairs of one edge family."""
        a, b = (self._vocab.take(x).to_pylist() for x in self._fam[fam])
        return sorted(zip(a, b))

    def hop_of(self, fam: str):
        import numpy as np

        a, b = self._fam[fam]

        def hop(frontier):
            if not frontier:
                return set()
            fr = np.fromiter(frontier, dtype=np.int64, count=len(frontier))
            return set(b[np.isin(a, fr)].tolist())

        return hop

    def expand(self, fp: Footprint, dfam: str, rfam: str, seeds, cap: int):
        """:func:`_expand` over the codes; seeds outside the vocabulary
        have no edges and come back unexpanded."""
        import pyarrow as pa
        import pyarrow.compute as pc

        seeds = set(seeds)
        codes = pc.index_in(pa.array(list(seeds), type=pa.string()), value_set=self._vocab)
        acc = _expand(self.hop_of, fp, dfam, rfam, set(codes.drop_null().to_pylist()), cap)
        if acc is None:
            return None
        return seeds | set(self._vocab.take(pa.array(list(acc), type=pa.int64())).to_pylist())


def collect_local_edges(
    triples: DataFrame, fp: Footprint, cap: int
) -> _LocalEdges | None:
    """Bounded collect of the footprint edges; None when the footprint
    has no predicate or more than ``cap`` footprint triples (callers
    then use the per-hop Spark jobs)."""
    ef = footprint_edges(triples, fp)
    # cheap full-parallel count gates the cap BEFORE any driver
    # materialization (a limit(cap+1) Arrow collect would ship cap rows
    # to the driver just to discover overflow); under the cap, ONE Arrow
    # collect lands the edges columnar
    if ef is None or ef.count() > cap:
        return None
    return _LocalEdges(ef.toArrow())


def _restricted_filter(
    spark: SparkSession,
    triples: DataFrame,
    ctx_ids: set[str],
    fp: Footprint,
) -> DataFrame:
    """LAZY slice of the graph a validation of focus nodes ⊆
    ``ctx_ids`` can read: every triple OF a context node (targets,
    paths, closed, rdf:type), inbound triples over inversely-used /
    targetObjectsOf predicates, and the (globally tiny) subClassOf
    hierarchy.  One scan with two broadcast membership joins (measured
    0.8 s vs 27 s for an ``isin`` literal list at |ctx|=1.6k —
    Catalyst re-analyzes thousands of literal nodes per action)."""
    idf = spark.createDataFrame([(x,) for x in sorted(ctx_ids)], "id string")
    inv_like = fp.inv_preds | fp.rec_inv | fp.tobj_preds
    marked = triples.join(
        F.broadcast(
            idf.withColumnRenamed("id", "subj").withColumn("__ms", F.lit(True))
        ),
        "subj",
        "left",
    )
    keep = F.col("__ms").isNotNull() | (F.col("pred") == RDFS_SUBCLASSOF)
    drop = ["__ms"]
    if inv_like:
        marked = marked.join(
            F.broadcast(
                idf.withColumnRenamed("id", "obj").withColumn("__mo", F.lit(True))
            ),
            "obj",
            "left",
        )
        keep = keep | (
            F.col("pred").isin(*sorted(inv_like)) & F.col("__mo").isNotNull()
        )
        drop.append("__mo")
    return marked.where(keep).drop(*drop).select(*triples.columns)


def _restricted_triples(
    spark: SparkSession,
    triples: DataFrame,
    ctx_ids: set[str],
    fp: Footprint,
    n_parts: int = 4,
) -> DataFrame:
    """Materialized restricted slice: checkpointed at ``n_parts``
    partitions so every downstream validation stage runs a handful of
    tasks instead of |graph|-sized scans — this is where the 1x
    incremental win comes from."""
    out = _restricted_filter(spark, triples, ctx_ids, fp)
    return out.repartition(n_parts).localCheckpoint(eager=True)


def incremental_revalidate(
    spark: SparkSession,
    triples: DataFrame,
    changed: DataFrame,
    shapes_rows_or_graph,
    prev_report: DataFrame,
    assume_distinct: bool = False,
    max_affected: int = 100_000,
    local_max_rows: int = 150_000,
    edge_collect_max: int = 500_000,
    local_edges: "_LocalEdges | None" = None,
    stats: dict | None = None,
) -> DataFrame:
    """Equivalent to ``validate(spark, triples, shapes)`` when
    ``prev_report`` is the full report of the pre-change graph and
    ``changed`` holds every added/removed triple (tests prove the
    equivalence on randomized deltas).

    Cost-based escape (VERDICT r04 #1): when the delta or its influence
    region exceeds ``max_affected`` nodes, restricted validation stops
    being cheaper than a full pass — fall back to ``validate`` (always
    correct).  ``stats`` (optional) records the path taken
    (``mode``: 'incremental' | 'incremental_local' | 'full_escape' |
    'full_subclass'), the affected-set and context-slice sizes.

    Local fast path (r05): when the restricted context slice has at
    most ``local_max_rows`` triples, it is collected and validated
    with the row-exact Python interpreter (shacl/interp.py) instead of
    the distributed Validator — a small-delta validation is dominated
    by Catalyst plan-build + task-scheduling fixed costs, not by data,
    and a driver-side walk removes them entirely (the same bounded-
    collect pattern as kg/cc.py's union-find; tests/test_interp_exact
    pins row-exactness, and the incremental==full scenarios run both
    paths).  ``local_max_rows=0`` disables it; at 100 TB deployment
    scale the slice for a CDC-sized delta is still only the delta's
    neighborhood, so the path stays hot exactly when it should."""
    shapes = (
        shapes_rows_or_graph
        if isinstance(shapes_rows_or_graph, ShapesGraph)
        else parse_shapes_graph(shapes_rows_or_graph)
    )
    if stats is None:
        stats = {}
    fp = shapes_footprint(shapes)

    def _full(mode: str) -> DataFrame:
        stats["mode"] = mode
        return validate(spark, triples, shapes, assume_distinct=assume_distinct)

    # an entailment regime makes a delta's consequences non-local (one
    # schema edge retypes arbitrary nodes) — full revalidation is the
    # only correct answer (r05; validate() applies the closure)
    if getattr(shapes, "entailments", ()):
        return _full("full_entailment")

    # ONE bounded collect: the limit caps driver-side materialization,
    # and landing exactly cap+1 rows proves the delta itself is too big
    ch_rows = changed.select(
        "subj", "pred", "obj", "obj_kind",
        node_key_col(
            F.col("obj_kind"), F.col("obj"), F.col("obj_dt"), F.col("obj_lang")
        ).alias("okey"),
    ).limit(max_affected + 1).collect()
    if len(ch_rows) > max_affected:
        return _full("full_escape")
    if not ch_rows:
        stats["mode"] = "incremental"
        stats["affected"] = 0
        return prev_report
    # ontology edits invalidate class closures globally — full pass
    # (correct and rare; subClassOf changes are not row-rate events)
    if fp.subclass_sensitive and any(r["pred"] == RDFS_SUBCLASSOF for r in ch_rows):
        return _full("full_subclass")

    # --- backward (affected) expansion: who can the delta influence ----
    inv_all = fp.inv_preds | fp.rec_inv
    subj_seeds = {r["subj"] for r in ch_rows}
    inv_obj_seeds = {
        r["obj"]
        for r in ch_rows
        if r["pred"] in inv_all and r["obj_kind"] in ("iri", "bnode")
    }
    seeds = subj_seeds | inv_obj_seeds
    # ONE bounded collect of the footprint edges replaces the per-hop
    # broadcast-join jobs for BOTH expansion directions; above the cap,
    # fall back to per-hop Spark jobs (still capped).  A caller that
    # maintains the edges across calls (the streaming validator applies
    # each batch's net delta) passes ``local_edges`` and skips even that
    # collect — it MUST correspond to ``triples``.
    if local_edges is not None and not local_edges.dirty:
        ledges = local_edges
        stats["edge_mode"] = "cached"
    else:
        ledges = collect_local_edges(triples, fp, edge_collect_max)
        stats["_edges_obj"] = ledges  # callers may retain + maintain it
    if ledges is not None:
        stats.setdefault("edge_mode", "collected")
        expand = ledges.expand
    else:
        stats["edge_mode"] = "spark_hops"
        expand = partial(_expand, _spark_hops(spark, triples, fp))
    acc = expand(fp, "dep", "rdep", seeds, max_affected)
    if acc is None:
        return _full("full_escape")

    # every changed triple can also flip its OBJECT's target membership
    # (targetObjectsOf) or make it a new focus — seed objects with full
    # term identity, without backward propagation (their own value sets
    # did not change)
    aff_keys = acc | {r["okey"] for r in ch_rows}
    stats["mode"] = "incremental"
    stats["affected"] = len(aff_keys)
    aff = spark.createDataFrame(
        [(k,) for k in sorted(aff_keys)], "node string"
    )

    # --- forward (context) expansion: what can validating them read ----
    # sh:sparql BGPs can wander arbitrarily relative to ?this (and an
    # anchor-less EXISTS probes GLOBAL emptiness), so the context slice
    # is only taken when no sparql constraint is present; the affected
    # restriction alone is still sound either way.
    v_triples = triples
    slice_rows = None
    if not fp.has_sparql:
        ctx_seeds = set(acc) | {
            r["obj"] for r in ch_rows  # changed objects can be focus
        }
        ctx = expand(fp, "cdep", "crdep", ctx_seeds, max_affected)
        if ctx is not None:
            stats["context_nodes"] = len(ctx)
            if local_max_rows:
                # ONE Arrow-collect job both bounds the slice (limit
                # cap+1) and lands it columnar for the interpreter —
                # the old shape paid checkpoint + count + pickled-Row
                # collect, three jobs, for the same rows (r06)
                six = ["subj", "pred", "obj", "obj_kind", "obj_dt", "obj_lang"]
                tbl = (
                    _restricted_filter(spark, triples, ctx, fp)
                    .select(*six)
                    .limit(local_max_rows + 1)
                    .toArrow()
                )
                if tbl.num_rows <= local_max_rows:
                    stats["slice_rows"] = tbl.num_rows
                    slice_rows = list(
                        zip(*(tbl.column(c).to_pylist() for c in six))
                    )
            if slice_rows is None:
                v_triples = _restricted_triples(spark, triples, ctx, fp)
        # ctx None (cap hit on the context side only): validate the
        # affected set against the FULL graph — still incremental

    if slice_rows is not None:
        # LOCAL fast path: the slice fits on the driver; a Python
        # interpreter walk costs milliseconds where the distributed
        # Validator pays seconds of Catalyst plan-build + task
        # scheduling for the same tiny input (row-exactness pinned by
        # tests/test_interp_exact.py)
        from shacl_spark.shacl.engine import REPORT_OUT_SCHEMA
        from shacl_spark.shacl.interp import Oracle

        results = Oracle(slice_rows, shapes).validate(only_keys=aff_keys)
        stats["mode"] = "incremental_local"
        new_rows = spark.createDataFrame(
            [r.as_row() for r in results], REPORT_OUT_SCHEMA
        )
    else:
        # cache=False when validating the restricted slice: the slice is
        # already one checkpointed in-memory frame, and per-branch
        # persists only add block-manager churn to a plan whose cost is
        # plan-build, not recomputation (profiled: ~1 s saved at the
        # bench corpus)
        new_rows = Validator(
            spark,
            v_triples,
            shapes,
            assume_distinct=assume_distinct,
            only_nodes=aff,
            cache=v_triples is triples,
        ).validate()
    prev_key = node_key_col(
        F.col("focus_kind"), F.col("focus"), F.col("focus_dt"), F.col("focus_lang")
    )
    prev_keep = (
        prev_report.withColumn("__k", prev_key)
        .join(F.broadcast(aff.withColumnRenamed("node", "__k")), "__k", "left_anti")
        .drop("__k")
    )
    return prev_keep.unionByName(new_rows)
