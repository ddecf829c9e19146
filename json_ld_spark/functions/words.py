"""What a word is, decided once for the whole text family.

A text normalizes by turning every whitespace run into one space and
trimming; its words are the single-space split of that. Callers keep
their own ``lower``/``coalesce`` in front, so each operator keeps its
own case and NULL policy.

Whitespace is RE2's ``\\s`` written out, ``[\\t\\n\\f\\r ]``. The DuckDB
oracles run RE2, whose ``\\s`` leaves out U+000B (vertical tab); Java's
``\\s``, which a Spark ``"\\\\s+"`` regex means, includes it, so the two
engines would split ``'a\\x0bb'`` differently.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

WHITESPACE = "[\\t\\n\\f\\r ]"


def normalized(c: Column) -> Column:
    """Whitespace runs become one space, then trim (NULL stays NULL)."""
    return F.trim(F.regexp_replace(c, WHITESPACE + "+", " "))


def words(c: Column) -> Column:
    """array<string> of the words of ``c``: empty for NULL or blank
    text (``split('')`` would give ``['']``), never NULL."""
    n = normalized(F.coalesce(c, F.lit("")))
    return F.when(F.length(n) == 0, F.array().cast("array<string>")) \
        .otherwise(F.split(n, " "))


def ngrams(w: Column, n: int) -> Column:
    """Positional word n-grams of a words array, each joined by single
    spaces; empty when ``size(w) < n`` (the guard keeps ``sequence``
    from counting down). Pass a staged column: the lambda references
    ``w`` once per gram, and interpreted HOFs do not share captured
    subexpressions."""
    return F.when(
        F.size(w) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(w, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
