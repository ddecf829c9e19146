"""Deterministic RDFS ontology over the pipeline vocabulary.

Dimension-sized schema for the reasoning operators
(operators/reasoning.py): class / property hierarchies plus
domain / range declarations for the KG emitted by the transcript
pipeline (sources/gazetteer.py KG_CONTEXT terms). Like the
gazetteer, the schema is ALWAYS broadcast — at 100 TB the fact
table is huge but the ontology stays a few hundred rows, which is
exactly why RDFS materialization scales as one broadcast-join pass
over the facts (schema closure is computed first, on the schema
alone).

Class assignments for gazetteer entities follow the id blocks the
gazetteer is organized in (people / orgs / places / products /
doc-domain concepts).
"""

from __future__ import annotations

from json_ld_spark.sources.gazetteer import GAZETTEER, VOCAB, entity_iri

RDFNS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDF_TYPE = RDFNS + "type"

# (sub, super) rdfs:subClassOf assertions. Deepest chain is 2 edges
# (Person -> Agent -> Thing), so a closure with max_depth >= 2 is
# complete.
SUBCLASS_OF: list[tuple[str, str]] = [
    (VOCAB + "Person", VOCAB + "Agent"),
    (VOCAB + "Organization", VOCAB + "Agent"),
    (VOCAB + "Agent", VOCAB + "Thing"),
    (VOCAB + "Place", VOCAB + "Location"),
    (VOCAB + "Location", VOCAB + "Thing"),
    (VOCAB + "Product", VOCAB + "Artifact"),
    (VOCAB + "Artifact", VOCAB + "Thing"),
    (VOCAB + "Concept", VOCAB + "Thing"),
    (VOCAB + "Entity", VOCAB + "Thing"),
    (VOCAB + "Mention", VOCAB + "Annotation"),
    (VOCAB + "Annotation", VOCAB + "Thing"),
    (VOCAB + "Turn", VOCAB + "DiscourseElement"),
    (VOCAB + "Conversation", VOCAB + "DiscourseElement"),
    (VOCAB + "DiscourseElement", VOCAB + "Thing"),
]

# (sub, super) rdfs:subPropertyOf assertions (max chain depth 2).
SUBPROPERTY_OF: list[tuple[str, str]] = [
    (VOCAB + "of", VOCAB + "references"),
    (VOCAB + "references", VOCAB + "relatedTo"),
    (VOCAB + "mentions", VOCAB + "hasAnnotation"),
    (VOCAB + "nextTurn", VOCAB + "relatedTo"),
]

# (property, class) rdfs:domain / rdfs:range declarations. Ranges
# only ever applied to IRI objects (rdfs3 on a literal is vacuous in
# this fragment).
DOMAIN: list[tuple[str, str]] = [
    (VOCAB + "of", VOCAB + "Mention"),
    (VOCAB + "mentions", VOCAB + "Turn"),
    (VOCAB + "partOf", VOCAB + "Turn"),
]

RANGE: list[tuple[str, str]] = [
    (VOCAB + "of", VOCAB + "Entity"),
    (VOCAB + "mentions", VOCAB + "Mention"),
    (VOCAB + "partOf", VOCAB + "Conversation"),
    (VOCAB + "nextTurn", VOCAB + "Turn"),
]

_CLASS_BY_BLOCK = [
    VOCAB + "Person",        # ids 0-3
    VOCAB + "Organization",  # ids 4-7
    VOCAB + "Place",         # ids 8-11
    VOCAB + "Product",       # ids 12-15
]


def entity_class(entity_id: int) -> str:
    if entity_id < 16:
        return _CLASS_BY_BLOCK[entity_id // 4]
    return VOCAB + "Concept"


# (entity_iri, class_iri) rdf:type assertions for gazetteer entities.
ENTITY_TYPES: list[tuple[str, str]] = [
    (entity_iri(suffix), entity_class(eid)) for eid, _, suffix in GAZETTEER
]
