"""spark-submit smoke job: prove the engine runs from a --py-files
zip with NO repo checkout on the executors' path.

    python scripts/package_pyfiles.py
    spark-submit --master local[4] \
        --py-files dist/json_ld_spark.zip scripts/submit_smoke.py

Runs the core pipeline end-to-end (synthesize -> stable order ->
mention detection -> per-turn triple template) plus one
canonicalization pass, and prints one JSON line. Imports of
json_ld_spark resolve from the zip spark-submit shipped — this file
deliberately does NOT sys.path.insert the repo root.
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession


def main() -> None:
    spark = SparkSession.builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from json_ld_spark.operators.canonicalize import connected_components
    from json_ld_spark.operators.jsonld_ops import emit_triples, valid_triples
    from json_ld_spark.sources.transcripts import synthesize_transcripts

    tx = synthesize_transcripts(spark, n_convs=200)
    triples = valid_triples(emit_triples(tx))
    n_triples = triples.count()

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a int, id_b int"
    )
    n_comp_rows = connected_components(edges).count()

    print(json.dumps({
        "submitted_via": "spark-submit --py-files",
        "n_triples": n_triples,
        "cc_rows": n_comp_rows,
        "ok": bool(n_triples > 0 and n_comp_rows == 5),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
