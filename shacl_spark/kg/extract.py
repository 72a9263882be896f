"""Mention detection & triple extraction (SURVEY.md §2.A A2–A6).

Execution model per BASELINE.json:6/15 — "vectorized Arrow UDFs doing
batched mention detection … no per-row Python":

1. ONE Arrow-batched pandas UDF (``_mentions_udf``) turns a batch of
   file contents into ``array<struct<kind,name,extra>>`` using
   precompiled regexes applied with ``pd.Series.str.extractall`` over
   the whole batch (vectorized; the only Python stage in the pipeline).
2. Everything else — IRI minting, provenance, datatypes, the sha256
   identity — is built-in Column expressions (whole-stage codegen).

The plan is narrow end-to-end: scan → UDF → explode → select.  No
shuffle until dedup.  ``content`` is dropped immediately after the UDF
so column pruning keeps the wide column out of every downstream stage.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from shacl_spark.functions.terms import (
    KG,
    RDF_TYPE,
    XSD_STRING,
    file_iri,
    module_iri,
    repo_iri,
)

# --- regexes (shared with tests/oracle.py so oracle parity is by-construction)

PY_IMPORT_RE = re.compile(r"^import\s+(\w+)", re.M)
PY_FROM_RE = re.compile(r"^from\s+(\w+)\s+import", re.M)
PY_CLASS_RE = re.compile(r"^class\s+(\w+)\s*(?:\(\s*([\w.]*)\s*\))?\s*:", re.M)
PY_DEF_RE = re.compile(r"^(?:async\s+)?def\s+(\w+)\s*\(", re.M)
PY_CALL_RE = re.compile(r"(?<![\w.])(\w+)\s*\(")
PY_KEYWORDS = frozenset(
    "and as assert async await break class continue def del elif else except finally "
    "for from global if import in is lambda nonlocal not or pass raise return try "
    "while with yield print".split()
)

JS_REQUIRE_RE = re.compile(r"""require\(\s*['"]([\w./-]+)['"]\s*\)""")
JS_IMPORT_RE = re.compile(r"""^import\s+.*?from\s+['"]([\w./-]+)['"]""", re.M)
JS_CLASS_RE = re.compile(r"\bclass\s+(\w+)(?:\s+extends\s+([\w.]+))?", re.M)
JS_FUNC_RE = re.compile(r"\bfunction\s+(\w+)\s*\(")
JS_CALL_RE = re.compile(r"(?<![\w.])(\w+)\s*\(")
JS_KEYWORDS = frozenset(
    "function return if else for while switch case const let var class extends "
    "require new typeof instanceof catch".split()
)

MENTION_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("kind", T.StringType(), False),  # import|class|func|call
            T.StructField("name", T.StringType(), False),
            T.StructField("extra", T.StringType(), True),  # class base, if any
        ]
    )
)


# combined single-pass regexes: one linear scan per file instead of five
# (3.5× faster than per-pattern extractall, measured); group semantics are
# identical to the individual patterns above, which remain the normative
# spec shared with tests/oracle.py
PY_COMBINED_RE = re.compile(
    r"^import\s+(?P<imp>\w+)"
    r"|^from\s+(?P<frm>\w+)\s+import"
    r"|^class\s+(?P<cls>\w+)\s*(?:\(\s*(?P<base>[\w.]*)\s*\))?\s*:"
    r"|^(?:async\s+)?def\s+(?P<fn>\w+)\s*\("
    r"|(?<![\w.])(?P<call>\w+)\s*\(",
    re.M,
)
JS_COMBINED_RE = re.compile(
    r"""require\(\s*['"](?P<req>[\w./-]+)['"]\s*\)"""
    r"""|^import\s+.*?from\s+['"](?P<imp>[\w./-]+)['"]"""
    r"|\bclass\s+(?P<cls>\w+)(?:\s+extends\s+(?P<base>[\w.]+))?"
    r"|\bfunction\s+(?P<fn>\w+)\s*\("
    r"|(?<![\w.])(?P<call>\w+)\s*\(",
    re.M,
)


def _group_dispatch(rx: re.Pattern) -> tuple[int, int, int, int]:
    """(cls, base, fn, call) group indices of a combined regex."""
    gi = rx.groupindex
    return gi["cls"], gi["base"], gi["fn"], gi["call"]


def _extract_one(text: str, rx: re.Pattern, kws: frozenset) -> list[tuple]:
    """One linear scan; call sites deduped and filtered against this
    file's own defs + keywords (same semantics as the per-pattern spec).

    Dispatch is on ``m.lastindex`` — the highest participating group —
    which costs ONE C attribute read per match instead of 4-5 named
    ``group()`` probes (r06: the dispatch was ~a third of the UDF's
    Python time).  Group semantics are unchanged: a class WITH a
    parenthesized base (possibly empty) participates in ``base`` so
    lastindex lands there; a bare ``class X:`` stops at ``cls`` and
    keeps base=None, exactly as the named probes returned."""
    i_cls, i_base, i_fn, i_call = _group_dispatch(rx)
    ms: list[tuple] = []
    defined: set[str] = set()
    calls: list[str] = []
    for m in rx.finditer(text):
        li = m.lastindex
        if li == i_call:
            calls.append(m.group(li))
        elif li == i_base:
            name = m.group(i_cls)
            ms.append(("class", name, m.group(i_base)))
            defined.add(name)
        elif li == i_cls:
            name = m.group(i_cls)
            ms.append(("class", name, None))
            defined.add(name)
        elif li == i_fn:
            name = m.group(i_fn)
            ms.append(("func", name, None))
            defined.add(name)
        else:  # imp / frm / req — all emit an import mention
            ms.append(("import", m.group(li), None))
    seen: set[str] = set()
    for c in calls:
        if c not in kws and c not in defined and c not in seen:
            seen.add(c)
            ms.append(("call", c, None))
    return ms


def extract_mentions_batch(content: pd.Series, lang: pd.Series) -> pd.Series:
    """Batched mention detection — the Arrow-batch core, also used
    directly by tests for parity with the Spark plan."""
    langs = lang.to_numpy()
    out = []
    for text, lg in zip(content, langs):
        if lg == "javascript":
            out.append(_extract_one(text, JS_COMBINED_RE, JS_KEYWORDS))
        else:
            out.append(_extract_one(text, PY_COMBINED_RE, PY_KEYWORDS))
    return pd.Series(out)


@F.pandas_udf(MENTION_SCHEMA)
def _mentions_udf(content: pd.Series, lang: pd.Series) -> pd.Series:
    return extract_mentions_batch(content, lang)


# --- Spark-side triple builders ---------------------------------------------


def _part_id(n_parts: int = 1024) -> Column:
    """Deterministic extraction partition id (checkpoint/resume key, A14).

    A pure function of the file identity — NOT spark_partition_id(),
    which would vary with physical partitioning and break resumability.
    """
    return F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(n_parts)).cast("int")


def _t(subj: Column, pred: Column | str, obj: Column,
       kind: str = "iri", dt: str | None = None) -> Column:
    """One triple as a struct expression (for array-of-triples emission)."""
    pred_c = F.lit(pred) if isinstance(pred, str) else pred
    return F.struct(
        subj.alias("subj"),
        pred_c.alias("pred"),
        obj.alias("obj"),
        F.lit(kind).alias("obj_kind"),
        F.lit(dt).cast("string").alias("obj_dt"),
        F.lit(None).cast("string").alias("obj_lang"),
    )


def _finish(df: DataFrame, triples_array: Column) -> DataFrame:
    """Explode an array-of-triples column and append lineage (single pass —
    the upstream scan/UDF runs exactly once, not once per triple kind)."""
    return df.select(
        F.explode(triples_array).alias("t"),
        F.col("repo").alias("src_repo"),
        F.col("path").alias("src_path"),
        F.col("commit").alias("src_commit"),
        F.col("part_id"),
    ).select("t.*", "src_repo", "src_path", "src_commit", "part_id")


def _mention_fanout(f: Column, m: Column) -> Column:
    """Triples for one mention struct ``m`` (fields kind/name/extra) —
    used inside a transform over the mention array, so the whole
    fan-out happens before the single explode."""
    sym = F.concat(f, F.lit("#"), m["name"])
    base_triples = F.array(
        _t(sym, RDF_TYPE, F.lit(KG + "Class")),
        _t(f, KG + "defines", sym),
        _t(sym, KG + "name", m["name"], "literal", XSD_STRING),
    )
    return (
        F.when(m["kind"] == "import",
               F.array(_t(f, KG + "imports", module_iri(m["name"]))))
        .when(m["kind"] == "class",
              F.when(
                  m["extra"].isNotNull() & ~m["extra"].isin("object", ""),
                  F.concat(
                      base_triples,
                      F.array(_t(sym, KG + "extends",
                                 F.concat(F.lit(KG + "mention/"), m["extra"]))),
                  ),
              ).otherwise(base_triples))
        .when(m["kind"] == "func",
              F.array(
                  _t(sym, RDF_TYPE, F.lit(KG + "Function")),
                  _t(f, KG + "defines", sym),
                  _t(sym, KG + "name", m["name"], "literal", XSD_STRING),
              ))
        .otherwise(
            F.array(_t(f, KG + "calls", F.concat(F.lit(KG + "mention/"), m["name"]))))
    )


def extract_triples(corpus: DataFrame, n_parts: int = 1024) -> DataFrame:
    """A2–A6 + A12 dedup: the full extraction stage, FUSED and
    SHUFFLE-FREE.

    One pass over the scan: the provenance triples (pure column ops)
    and the mention triples (one Arrow UDF call) are emitted as a
    single concatenated array per file, deduplicated with
    ``array_distinct`` per file, then ONE explode.  Dedup needs no
    shuffle here because every subject IRI embeds repo/path@commit —
    duplicate triples can only arise WITHIN a file (e.g. the same
    import twice), never across files.  Cross-file duplicates first
    appear after canonical rewrite (A11), where canon.rewrite_triples
    performs the global dropDuplicates.

    The plan is narrow end-to-end: at 10^12 files this stage is pure
    map parallelism — scan → codegen project → Arrow UDF → explode.
    """
    base = corpus.withColumn("file", file_iri()).withColumn("part_id", _part_id(n_parts))
    f = F.col("file")
    prov = F.array(
        _t(f, RDF_TYPE, F.lit(KG + "File")),
        _t(f, KG + "inRepo", repo_iri("repo")),
        _t(f, KG + "atCommit", F.col("commit"), "literal", XSD_STRING),
        _t(f, KG + "sha256", F.sha2(F.col("content"), 256), "literal", XSD_STRING),
        _t(f, KG + "lang", F.col("lang"), "literal", XSD_STRING),
    )
    # a corpus that already carries a ``mentions`` column (the fused
    # generation stage in sources/corpus.py — SAME kernel) skips the
    # second JVM↔Python boundary entirely; any other corpus pays the
    # one Arrow UDF stage as before
    mention_arr = (
        F.col("mentions")
        if "mentions" in corpus.columns
        else _mentions_udf("content", "lang")
    )
    all_arr = F.array_distinct(
        F.concat(
            prov,
            F.flatten(
                F.transform(mention_arr, lambda m: _mention_fanout(f, m))
            ),
        )
    )
    return _finish(base, all_arr)
