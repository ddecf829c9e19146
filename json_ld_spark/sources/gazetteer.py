"""Entity gazetteer + the pipeline's JSON-LD @context.

The gazetteer is the dimension table for mention detection / entity
linking (FIXTURES.md §5). It is tiny (dimension-sized) and is ALWAYS
broadcast — never shuffled (SURVEY §4: broadcast joins for
dimension-sized tables).

Surfaces are chosen so none is a substring of another, which keeps the
mention semantics ("surface occurs in text") identical between the
vectorized Spark implementation and the ANSI-SQL oracle.
"""

from __future__ import annotations

VOCAB = "https://example.org/kg/vocab#"
ENTITY_NS = "https://example.org/kg/entity/"
TURN_NS = "https://example.org/kg/turn/"
CONV_NS = "https://example.org/kg/conv/"
XSD = "http://www.w3.org/2001/XMLSchema#"

# (entity_id, surface, entity_iri_suffix)
GAZETTEER: list[tuple[int, str, str]] = [
    (0, "Ada Lovelace", "ada-lovelace"),
    (1, "Alan Turing", "alan-turing"),
    (2, "Grace Hopper", "grace-hopper"),
    (3, "Katherine Johnson", "katherine-johnson"),
    (4, "Acme Corp", "acme-corp"),
    (5, "Globex", "globex"),
    (6, "Initech", "initech"),
    (7, "Umbrella Labs", "umbrella-labs"),
    (8, "Paris", "paris"),
    (9, "Nairobi", "nairobi"),
    (10, "Kyoto", "kyoto"),
    (11, "Bogota", "bogota"),
    (12, "quantum widget", "quantum-widget"),
    (13, "flux capacitor", "flux-capacitor"),
    (14, "warp drive", "warp-drive"),
    (15, "neural lace", "neural-lace"),
    # doc-domain surfaces: frequent in the synthetic documents corpus,
    # so mention detection fires on documents-derived transcripts too
    (16, "spark", "spark-engine"),
    (17, "window", "window-fn"),
    (18, "filter", "filter-op"),
    (19, "customer", "customer-table"),
    (20, "stream", "stream-src"),
]


def entity_iri(suffix: str) -> str:
    return ENTITY_NS + suffix


# The pipeline @context (FIXTURES.md §3). Every term is explicitly
# IRI-mapped so expansion is exercised on each turn document.
KG_CONTEXT: dict = {
    "@vocab": VOCAB,
    "kg": VOCAB,
    "xsd": XSD,
    "Conversation": VOCAB + "Conversation",
    "Turn": VOCAB + "Turn",
    "Mention": VOCAB + "Mention",
    "role": VOCAB + "role",
    "text": VOCAB + "text",
    "tool": VOCAB + "tool",
    "ts": {"@id": VOCAB + "ts", "@type": XSD + "dateTime"},
    "index": {"@id": VOCAB + "index", "@type": XSD + "integer"},
    "partOf": {"@id": VOCAB + "partOf", "@type": "@id"},
    "mentions": {"@id": VOCAB + "mentions", "@type": "@id"},
    "of": {"@id": VOCAB + "of", "@type": "@id"},
    "label": VOCAB + "label",
    "score": {"@id": VOCAB + "score", "@type": XSD + "integer"},
}

# The KG context's IRI; sources/context_registry.py vendors KG_CONTEXT
# under it (parity: PRELOADED, context.rb:18).
CONTEXT_URL = "https://example.org/kg/context.jsonld"
