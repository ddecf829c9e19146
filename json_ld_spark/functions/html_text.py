"""HTML → text extraction as pure JVM column expressions — the
boilerplate-strip step between crawl ingestion (sources/warc.py) and
every text operator downstream.

Pipeline (all RE2-safe regexes — non-greedy dot-all block removal,
no lookarounds — so the SQL oracle replays each step verbatim):

  1. drop <script>…</script> and <style>…</style> blocks (their
     CONTENT is not text — the classic boilerplate trap);
  2. drop <!-- comments -->;
  3. strip every remaining tag;
  4. decode the common entities, ``&amp;`` LAST so ``&amp;lt;``
     correctly becomes ``&lt;`` (single-pass decode, the standard
     order-dependence);
  5. collapse whitespace and trim (``words.normalized``).

Plus ``html_title`` (first <title> content) and ``html_links``
(href="…" values in document order) — the raw material for
functions/urls.py canonicalization.

This intentionally complements core/html.py, which extracts
``application/ld+json`` script PAYLOADS for the JSON-LD path; here
the scripts are removed and the human-visible text kept. A real
DOM parser handles malformed nesting better; the regex pipeline is
the standard high-throughput approximation and the plan is a single
stage of JVM string ops — no Python, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from json_ld_spark.functions.words import normalized

# two separate block patterns: RE2 (the oracle's engine) has no
# backreferences, so <(script|style)>…</\1> is not expressible
_SCRIPTS = r"(?is)<script[^>]*>.*?</script>"
_STYLES = r"(?is)<style[^>]*>.*?</style>"
_COMMENTS = r"(?s)<!--.*?-->"
_TAGS = r"(?s)<[^>]*>"

# (entity, replacement) — &amp; MUST be last
ENTITIES = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)


def _decode_entities(col: Column) -> Column:
    for ent, rep in ENTITIES:
        col = F.replace(col, F.lit(ent), F.lit(rep))
    return col


def html_to_text(html: Column) -> Column:
    """Visible text: blocks and comments dropped, tags stripped,
    entities decoded, whitespace collapsed."""
    s = F.regexp_replace(html, _SCRIPTS, " ")
    s = F.regexp_replace(s, _STYLES, " ")
    s = F.regexp_replace(s, _COMMENTS, " ")
    s = F.regexp_replace(s, _TAGS, " ")
    return normalized(_decode_entities(s))


def html_title(html: Column) -> Column:
    """First <title> content, entity-decoded and trimmed; empty
    string when absent."""
    return F.trim(
        _decode_entities(
            F.regexp_extract(html, r"(?is)<title[^>]*>(.*?)</title>", 1)
        )
    )


def html_links(html: Column) -> Column:
    """array<string> of href attribute values in document order
    (double-quoted form — the synthesizer's and the common case)."""
    return F.regexp_extract_all(html, F.lit(r'(?i)href="([^"]*)"'), 1)
