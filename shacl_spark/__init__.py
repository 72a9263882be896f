"""shacl_spark — a PySpark-native knowledge-graph construction and
SHACL-validation engine.

Capability parity target: the pfps/shacl reference processor (see
SURVEY.md §0 — the reference checkout is empty in this sandbox, so
semantics are anchored on the W3C SHACL Recommendation (2017-07-20)
and /root/repo/BASELINE.json).

Layout
------
- ``sources``    : corpus/table readers + the deterministic synthetic
                   source-code corpus generator.
- ``functions``  : column-expression helpers (RDF term keys, IRIs,
                   hashing, vector math) — JVM-side, codegen-friendly.
- ``kg``         : the KG-construction pipeline (extract → link →
                   canonicalize → materialize, checkpoint/resume).
- ``shacl``      : SHACL core — shapes model, parser, targets, paths,
                   constraint components, compiler, validation report.
- ``operators``  : general-purpose large-scale operators (dedup,
                   similarity search, as-of join, fixpoint iteration,
                   text analysis, multimodal plumbing).
- ``plans``      : driver-side planners composing the above.
- ``streaming``  : Structured Streaming variants (watermarks, windows,
                   stateful dedup).
"""

__version__ = "0.1.0"
