"""JSON-LD keywords, well-known IRIs, and shape predicates.

Parity: /root/reference/lib/json/ld/ld.rb:22-117 (keyword list, RDF
constants) and /root/reference/lib/json/ld/utils.rb:13-114 (node/value/
list/graph predicates).
"""

from __future__ import annotations

import re
from functools import lru_cache
from typing import Any

KEYWORDS = frozenset(
    {
        "@annotation",
        "@base",
        "@container",
        "@context",
        "@default",
        "@direction",
        "@embed",
        "@explicit",
        "@first",
        "@graph",
        "@id",
        "@import",
        "@included",
        "@index",
        "@json",
        "@language",
        "@list",
        "@nest",
        "@none",
        "@omitDefault",
        "@prefix",
        "@preserve",
        "@propagate",
        "@protected",
        "@requireAll",
        "@reverse",
        "@set",
        "@type",
        "@value",
        "@version",
        "@vocab",
    }
)

# keyword-shaped strings ("@"+alpha) are ignored-not-errors when unknown
_KEYWORD_FORM = re.compile(r"^@[a-zA-Z]+$")

RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
XSD = "http://www.w3.org/2001/XMLSchema#"
RDF_TYPE = RDF + "type"
RDF_FIRST = RDF + "first"
RDF_REST = RDF + "rest"
RDF_NIL = RDF + "nil"
RDF_VALUE = RDF + "value"
RDF_LANGUAGE = RDF + "language"
RDF_DIRECTION = RDF + "direction"
RDF_JSON = RDF + "JSON"
RDF_LANGSTRING = RDF + "langString"
RDF_DIRLANGSTRING = RDF + "dirLangString"
XSD_STRING = XSD + "string"
XSD_BOOLEAN = XSD + "boolean"
XSD_INTEGER = XSD + "integer"
XSD_DOUBLE = XSD + "double"
I18N_BASE = "https://www.w3.org/ns/i18n#"

# BCP47-ish language tag check (reference uses a similar regexp)
LANGTAG_RE = re.compile(r"^[a-zA-Z]{1,8}(-[a-zA-Z0-9]{1,8})*$")

# Maximum number of remote/scoped contexts processed for one document.
# Parity: MAX_CONTEXTS_LOADED, ld.rb:111.
MAX_CONTEXTS_LOADED = 50


def is_keyword(value: Any) -> bool:
    return isinstance(value, str) and value in KEYWORDS


def has_keyword_form(value: Any) -> bool:
    return isinstance(value, str) and bool(_KEYWORD_FORM.match(value))


_ABS_IRI_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*:")


@lru_cache(maxsize=4096)
def _is_absolute_iri_str(value: str) -> bool:
    return bool(_ABS_IRI_RE.match(value))


def is_absolute_iri(value: Any) -> bool:
    """True for strings with a scheme (RFC 3986 'absolute-ish' IRIs).

    Parity: RDF::URI#absolute? usage throughout context.rb. Cached —
    the same predicate/vocabulary IRIs recur for every document, and
    this is the hottest call in the emission profile.
    """
    return isinstance(value, str) and _is_absolute_iri_str(value)


def is_blank_node_id(value: Any) -> bool:
    return isinstance(value, str) and value.startswith("_:")


def is_node_object(value: Any) -> bool:
    """Hash without @value/@list/@set that isn't a bare node reference
    context. Parity: utils.rb:13-17 (we treat any qualifying dict as a
    node object; 'reference-ness' is checked separately)."""
    return (
        isinstance(value, dict)
        and "@value" not in value
        and "@list" not in value
        and "@set" not in value
    )


def is_node_reference(value: Any) -> bool:
    """Exactly {"@id": ...}. Parity: utils.rb:23-25."""
    return isinstance(value, dict) and set(value.keys()) == {"@id"}


def is_value_object(value: Any) -> bool:
    """Parity: utils.rb:96-98."""
    return isinstance(value, dict) and "@value" in value


def is_list_object(value: Any) -> bool:
    """Parity: utils.rb:78-80."""
    return isinstance(value, dict) and "@list" in value


def is_graph_object(value: Any) -> bool:
    """Hash with @graph where other keys ⊆ {@context,@id,@index}.
    Parity: utils.rb:60-62."""
    return isinstance(value, dict) and "@graph" in value and set(
        value.keys()
    ) <= {"@context", "@id", "@index", "@graph"}


def is_scalar(value: Any) -> bool:
    return isinstance(value, (str, int, float, bool))


def compare_values(v1: Any, v2: Any) -> bool:
    """JSON-LD equality used for duplicate suppression.

    Parity: utils.rb:137-148 (same @id, or same
    @value/@type/@language/@index, else ==). Note bool is not int here:
    True != 1 for JSON-LD purposes.
    """
    if isinstance(v1, dict) and isinstance(v2, dict):
        if "@id" in v1 and "@id" in v2 and len(v1) == 1 == len(v2):
            return v1["@id"] == v2["@id"]
        if "@value" in v1 or "@value" in v2:
            return (
                v1.get("@value") == v2.get("@value")
                and type(v1.get("@value")) is type(v2.get("@value"))
                and v1.get("@type") == v2.get("@type")
                and v1.get("@language") == v2.get("@language")
                and v1.get("@index") == v2.get("@index")
            )
    if type(v1) is bool or type(v2) is bool:
        return v1 is v2 if type(v1) is type(v2) else False
    return v1 == v2


def add_value(
    subject: dict,
    prop: str,
    value: Any,
    property_is_array: bool = False,
    value_is_array: bool = False,
    allow_duplicate: bool = True,
) -> None:
    """Merge ``value`` into ``subject[prop]``.

    Parity: utils.rb:163-185.
    """
    if value_is_array:
        subject[prop] = value
        return
    if isinstance(value, list):
        if len(value) == 0 and property_is_array and prop not in subject:
            subject[prop] = []
        for v in value:
            add_value(subject, prop, v, property_is_array, False, allow_duplicate)
        return
    if prop in subject:
        existing = subject[prop]
        if not isinstance(existing, list):
            existing = [existing]
            subject[prop] = existing
        if allow_duplicate or not any(compare_values(v, value) for v in existing):
            existing.append(value)
    else:
        subject[prop] = [value] if property_is_array else value


class BlankNodeNamer:
    """Deterministic b0,b1,... relabeler in first-encounter order.

    Parity: utils.rb:283-310. A ``prefix`` other than "b" supports the
    per-document namespacing the Spark layer uses so bnode labels never
    collide across documents without any global counter (SURVEY §1.1.5:
    a global namer cannot exist at 10^12 scale).
    """

    def __init__(self, prefix: str = "b"):
        self.prefix = "_:" + prefix
        self.counter = 0
        self.mapping: dict[str, str] = {}

    def get_name(self, old: str | None = None) -> str:
        if old is not None and old in self.mapping:
            return self.mapping[old]
        name = f"{self.prefix}{self.counter}"
        self.counter += 1
        if old is not None:
            self.mapping[old] = name
        # minted names are fixed points, so rename_bnodes → create_node_map
        # with the same namer never double-renames (keeps labels
        # predictable for the SQL oracle)
        self.mapping[name] = name
        return name

    def get_sym(self, old: str | None = None) -> str:
        return self.get_name(old)


class BlankNodeMapper(BlankNodeNamer):
    """Pass-through namer: keeps incoming labels verbatim, mints
    ``prefix{n}`` only for anonymous nodes. Parity: utils.rb:245-264
    (BlankNodeMapper). Used by round-trip paths where emitted triples
    must carry the exact labels of the input triples."""

    def get_name(self, old: str | None = None) -> str:
        if old is not None:
            self.mapping[old] = old
            return old
        return super().get_name()
