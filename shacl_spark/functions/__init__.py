from shacl_spark.functions.terms import (  # noqa: F401
    KG,
    RDF,
    RDFS,
    SH,
    XSD,
    TRIPLE_SCHEMA,
    TRIPLE_COLS,
    empty_triples,
    file_iri,
    module_iri,
    repo_iri,
    symbol_iri,
    triple_id,
    triples_from_rows,
)
from shacl_spark.functions.vectors import cosine_similarity, dot, l2_norm  # noqa: F401
