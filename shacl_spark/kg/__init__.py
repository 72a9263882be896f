from shacl_spark.kg.extract import extract_triples  # noqa: F401
