"""json_ld_spark — a from-scratch PySpark-native knowledge-graph
construction engine with the query/data-processing capabilities of the
Ruby ``json-ld`` gem (reference studied read-only at /root/reference).

Layout:
    core/       pure-Python JSON-LD 1.1 algorithms (no Spark dependency)
    operators/  Spark DataFrame operators (triple emission, dedup, ANN, ...)
    sources/    table readers/writers + deterministic transcript synthesis
    functions/  reusable column expressions (cosine, ngrams, hashes)
    plans/      SparkSession builder + scan-layout and bucketing helpers
    streaming/  Structured Streaming pipeline
"""

__version__ = "0.1.0"
