"""Spark operator: extract JSON-LD from HTML documents at scale.

Parity: API.load_html + SCRIPT_LOADERS (api.rb:766-887), distributed:
a cheap JVM-side regexp prefilter drops rows without any ld+json
script tag (predicate pushdown for the common crawl-corpus case where
most pages carry none), then an Arrow-batched UDF runs the real HTML
parser + extraction + expansion on survivors only.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EXTRACT_SCHEMA = (
    "doc_id long, script_idx int, doc_json string, error_code string"
)


def extract_jsonld_from_html(df: DataFrame) -> DataFrame:
    """(doc_id, script_idx, doc_json, error_code): one row per
    ld+json script extracted from a (doc_id, html) frame
    (extractAllScripts semantics); rows whose HTML has no candidate
    tag are dropped JVM-side before Python."""
    candidates = df.filter(
        F.col("html").rlike('(?i)<script[^>]*application/ld\\+json')
    ).select("doc_id", "html")

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from json_ld_spark.core.errors import JsonLdError
        from json_ld_spark.core.html import extract_jsonld

        for pdf in batches:
            rows = []
            for doc_id, html_text in zip(pdf["doc_id"], pdf["html"]):
                try:
                    docs, _base = extract_jsonld(
                        html_text, extract_all_scripts=True
                    )
                    import json as _json

                    for i, d in enumerate(docs):
                        rows.append((int(doc_id), i, _json.dumps(d), None))
                except JsonLdError as e:
                    rows.append((int(doc_id), 0, None, e.code))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "script_idx", "doc_json", "error_code"],
            )

    return candidates.mapInPandas(_extract, schema=EXTRACT_SCHEMA)
