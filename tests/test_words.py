"""The one word definition (json_ld_spark/functions/words.py) against
its DuckDB twin, the tokenization every text oracle writes out."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from json_ld_spark.functions.words import words

# RE2's \s (DuckDB) leaves out U+000B; Java's \s includes it. NBSP is
# whitespace to neither.
TEXTS = [
    None, "", "  ", "\t\n", " A  b\tC ",
    "a\x0bb", "a\x0cb", "a\rb", "a\xa0b",
]

_DUCK_WORDS = (
    "SELECT CASE WHEN length(n) = 0 THEN [] ELSE string_split(n, ' ') END "
    "FROM (SELECT trim(regexp_replace(lower(coalesce(?, '')), "
    "'\\s+', ' ', 'g')) AS n)"
)


@pytest.mark.parametrize("text", TEXTS, ids=repr)
def test_words_match_duckdb(spark, text):
    df = spark.createDataFrame([(text,)], "text string")
    got = df.select(words(F.lower(F.col("text")))).first()[0]
    want = duckdb.execute(_DUCK_WORDS, [text]).fetchone()[0]
    assert got == want
