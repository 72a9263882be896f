"""RDF term model as Spark columns (SURVEY.md §1.2–1.4).

RDF is dynamically typed per term; we keep the Spark schema FIXED and
encode term dynamism in columns (``obj_kind``/``obj_dt``/``obj_lang``)
so Catalyst can prune/push down and so per-row sha256 identity is
well-defined (BASELINE.json:15).

Everything here is a Column expression (JVM-side, codegen) — no Python
in the hash or identity path, so a pure-Python oracle (tests/oracle.py)
can reproduce each value byte-for-byte with hashlib.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --- namespaces -----------------------------------------------------------

RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDFS = "http://www.w3.org/2000/01/rdf-schema#"
XSD = "http://www.w3.org/2001/XMLSchema#"
SH = "http://www.w3.org/ns/shacl#"
KG = "kg:"  # engine's own compact namespace for extracted entities

RDF_TYPE = RDF + "type"
RDFS_SUBCLASSOF = RDFS + "subClassOf"

XSD_STRING = XSD + "string"
XSD_INTEGER = XSD + "integer"
XSD_DECIMAL = XSD + "decimal"
XSD_DOUBLE = XSD + "double"
XSD_BOOLEAN = XSD + "boolean"
XSD_DATE = XSD + "date"
XSD_DATETIME = XSD + "dateTime"
RDF_LANGSTRING = RDF + "langString"

# --- canonical triple schema (SURVEY.md §1.3) ------------------------------

TRIPLE_SCHEMA = T.StructType(
    [
        T.StructField("subj", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj", T.StringType(), False),
        T.StructField("obj_kind", T.StringType(), False),  # 'iri' | 'literal'
        T.StructField("obj_dt", T.StringType(), True),
        T.StructField("obj_lang", T.StringType(), True),
        T.StructField("src_repo", T.StringType(), True),
        T.StructField("src_path", T.StringType(), True),
        T.StructField("src_commit", T.StringType(), True),
        T.StructField("part_id", T.IntegerType(), True),
    ]
)
TRIPLE_COLS = [f.name for f in TRIPLE_SCHEMA.fields]
TERM_COLS = ["subj", "pred", "obj", "obj_kind", "obj_dt", "obj_lang"]


def empty_triples(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], TRIPLE_SCHEMA)


def triples_from_rows(spark: SparkSession, rows) -> DataFrame:
    """Build a triples DataFrame from (subj,pred,obj[,kind[,dt[,lang]]]) tuples.

    Test/fixture convenience; defaults: obj_kind='iri', no datatype/lang.
    """
    full = []
    for r in rows:
        r = tuple(r)
        subj, pred, obj = r[0], r[1], r[2]
        kind = r[3] if len(r) > 3 else "iri"
        dt = r[4] if len(r) > 4 else None
        lang = r[5] if len(r) > 5 else None
        full.append((subj, pred, obj, kind, dt, lang, None, None, None, None))
    return spark.createDataFrame(full, TRIPLE_SCHEMA)


# --- deterministic identity (SURVEY.md §1.4, BASELINE.json:15) --------------

_SEP = "\x00"


def triple_id(df_or_prefix: str = "") -> Column:
    """Deterministic content-addressed row identity.

    sha256(subj \\x00 pred \\x00 obj \\x00 obj_kind \\x00 obj_dt \\x00
    obj_lang), with NULL dt/lang encoded as the empty string.
    obj_kind participates so an IRI object and a literal object with
    the same lexical form are DISTINCT triples (ADVICE r01).  Uses only
    built-in ``sha2``/``concat`` — reproducible by hashlib in the
    oracle.
    """
    cols = [
        F.col("subj"),
        F.col("pred"),
        F.col("obj"),
        F.col("obj_kind"),
        F.coalesce(F.col("obj_dt"), F.lit("")),
        F.coalesce(F.col("obj_lang"), F.lit("")),
    ]
    parts: list[Column] = []
    for i, c in enumerate(cols):
        if i:
            parts.append(F.lit(_SEP))
        parts.append(c)
    return F.sha2(F.concat(*parts), 256)


# --- unique node keys (focus/value-node identity) ----------------------------
#
# Node frames key each term by ONE string that is globally unique per
# RDF term: IRIs keep their string form (so equi-joins against the
# triples `subj` column stay plain string joins), while literals and
# blank nodes are prefix-encoded with kind/dt/lang.  This makes every
# string-keyed join in the engine (conformance memos, cardinality
# count joins, equals/disjoint/hasValue/in) exact on FULL term identity — an
# IRI `http://ex/foo` and a literal "http://ex/foo" can no longer
# conflate (SPEC §4.6/§4.7 conformance; ADVICE r01 medium).

_ENC = "\x02"


def node_key_col(kind: Column, value: Column, dt: Column, lang: Column) -> Column:
    """Unique term-key string for a node: IRIs and blank nodes pass
    through (bnode labels start `_:`, which no IRI can — `_` is not a
    valid scheme start — so the two never collide, and both stay
    joinable against the triples `subj` column); literals get
    `\\x02kind\\x01dt\\x01lang\\x01value`."""
    return F.when(kind.isin("iri", "bnode"), value).otherwise(
        F.concat(
            F.lit(_ENC),
            kind,
            F.lit("\x01"),
            F.coalesce(dt, F.lit("")),
            F.lit("\x01"),
            F.coalesce(lang, F.lit("")),
            F.lit("\x01"),
            value,
        )
    )


def node_val_col(node: Column) -> Column:
    """Inverse of :func:`node_key_col` for the lexical form: the
    4th `\\x01` field of an encoded key (limit-split keeps any later
    separators inside the value), or the key itself for IRIs."""
    return F.when(
        node.startswith(_ENC), F.element_at(F.split(node, "\x01", 4), 4)
    ).otherwise(node)


def node_kind_col(node: Column) -> Column:
    """Term kind recovered from a node key: the encoded prefix field,
    else bnode/iri by the `_:` label convention."""
    return (
        F.when(node.startswith(_ENC), F.element_at(F.split(node, "\x01", 4), 1).substr(2, 100))
        .when(node.startswith("_:"), F.lit("bnode"))
        .otherwise(F.lit("iri"))
    )


def node_dt_col(node: Column) -> Column:
    f = F.element_at(F.split(node, "\x01", 4), 2)
    return F.when(node.startswith(_ENC) & (f != ""), f)


def node_lang_col(node: Column) -> Column:
    f = F.element_at(F.split(node, "\x01", 4), 3)
    return F.when(node.startswith(_ENC) & (f != ""), f)


def node_key(kind: str, value: str, dt: str | None = None, lang: str | None = None) -> str:
    """Driver-side mirror of :func:`node_key_col`."""
    if kind in ("iri", "bnode"):
        return value
    return _ENC + kind + "\x01" + (dt or "") + "\x01" + (lang or "") + "\x01" + value


def subject_kind_col(subj: Column) -> Column:
    """Kind of a term appearing in SUBJECT position (IRI or bnode by
    the `_:` label convention)."""
    return F.when(subj.startswith("_:"), F.lit("bnode")).otherwise(F.lit("iri"))


# --- IRI minting (content-addressed, no blank nodes) ------------------------


def repo_iri(repo: Column | str) -> Column:
    return F.concat(F.lit(KG + "repo/"), F.col(repo) if isinstance(repo, str) else repo)


def file_iri(repo="repo", path="path", commit="commit") -> Column:
    c = lambda x: F.col(x) if isinstance(x, str) else x  # noqa: E731
    return F.concat(
        F.lit(KG + "file/"), c(repo), F.lit("/"), c(path), F.lit("@"), c(commit)
    )


def module_iri(name: Column | str) -> Column:
    return F.concat(F.lit(KG + "module/"), F.col(name) if isinstance(name, str) else name)


def symbol_iri(file_iri_col: Column, name: Column) -> Column:
    """IRI for a symbol (class/function) defined in a file."""
    return F.concat(file_iri_col, F.lit("#"), name)
