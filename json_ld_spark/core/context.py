"""Active-context processing: term definitions, IRI expansion/
compaction, value expansion/compaction, inverse context.

Implements the W3C JSON-LD 1.1 Context Processing / IRI Expansion /
IRI Compaction / Value Expansion / Value Compaction algorithms.
Semantic parity targets (reference, read-only):
  - Context.parse                /root/reference/lib/json/ld/context.rb:243-451
  - create_term_definition       context.rb:512-853
  - expand_iri                   context.rb:1299-1382
  - compact_iri                  context.rb:1410-1591
  - expand_value                 context.rb:1610-1645
  - compact_value                context.rb:1660-1718
  - inverse_context/select_term  context.rb:1876-1969

Contexts at cluster scale are always *preloaded*: ``document_loader``
is a plain dict lookup (parity: PRELOADED, context.rb:18,306-316);
network fetching is intentionally absent.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass
from functools import lru_cache
from typing import Any, Callable, Optional

from json_ld_spark.core import errors as err
from json_ld_spark.core.errors import JsonLdError
from json_ld_spark.core.iri import resolve_iri
from json_ld_spark.core.keywords import (
    MAX_CONTEXTS_LOADED,
    has_keyword_form,
    is_absolute_iri,
    is_keyword,
)

_MISS = object()  # expand_iri memo sentinel

CONTAINER_VALUES = frozenset(
    {"@list", "@set", "@index", "@language", "@id", "@type", "@graph"}
)


@dataclass
class TermDefinition:
    """One term's mapping state. Parity: context.rb:2101-2355."""

    term: str
    iri: Optional[str] = None
    prefix: bool = False
    protected: bool = False
    reverse: bool = False
    base_url: Optional[str] = None
    context: Any = None  # scoped context (raw JSON value)
    has_context: bool = False
    container: frozenset = frozenset()
    direction: Any = "unset"  # None means explicit null
    index: Optional[str] = None
    language: Any = "unset"
    nest: Optional[str] = None
    type_mapping: Optional[str] = None

    def clone(self) -> "TermDefinition":
        return TermDefinition(
            term=self.term,
            iri=self.iri,
            prefix=self.prefix,
            protected=self.protected,
            reverse=self.reverse,
            base_url=self.base_url,
            context=self.context,
            has_context=self.has_context,
            container=self.container,
            direction=self.direction,
            index=self.index,
            language=self.language,
            nest=self.nest,
            type_mapping=self.type_mapping,
        )

    def same_except_protected(self, other: "TermDefinition") -> bool:
        return (
            self.iri == other.iri
            and self.prefix == other.prefix
            and self.reverse == other.reverse
            and self.container == other.container
            and self.direction == other.direction
            and self.index == other.index
            and self.language == other.language
            and self.nest == other.nest
            and self.type_mapping == other.type_mapping
            and self.context == other.context
        )


class Options:
    """Processing options (subset of JsonLdOptions; parity api.rb:33-108)."""

    def __init__(
        self,
        base: Optional[str] = None,
        processing_mode: str = "json-ld-1.1",
        document_loader: Optional[Callable[[str], Any]] = None,
        contexts: Optional[dict[str, Any]] = None,
        expand_context: Any = None,
        ordered: bool = False,
        frame_expansion: bool = False,
        produce_generalized_rdf: bool = False,
        rdf_direction: Optional[str] = None,
        compact_arrays: bool = True,
        compact_to_relative: bool = True,
        rdfstar: bool = False,
    ):
        self.base = base
        self.processing_mode = processing_mode
        self.contexts = contexts or {}
        self.document_loader = document_loader or self._dict_loader
        self.expand_context = expand_context
        self.ordered = ordered
        self.frame_expansion = frame_expansion
        self.produce_generalized_rdf = produce_generalized_rdf
        self.rdf_direction = rdf_direction
        self.compact_arrays = compact_arrays
        self.compact_to_relative = compact_to_relative
        self.rdfstar = rdfstar

    def _dict_loader(self, url: str) -> Any:
        # https→http canonicalization parity: context.rb:297-298
        for candidate in (url, url.replace("https://", "http://", 1)):
            if candidate in self.contexts:
                return self.contexts[candidate]
        raise JsonLdError(
            err.LOADING_REMOTE_CONTEXT_FAILED,
            f"context {url} not preloaded (network access is disabled)",
        )


class Context:
    """The active context."""

    def __init__(self, options: Optional[Options] = None):
        self.options = options or Options()
        self.terms: dict[str, TermDefinition] = {}
        self.base: Optional[str] = self.options.base
        self.original_base: Optional[str] = self.options.base
        self.vocab: Optional[str] = None
        self.default_language: Optional[str] = None
        self.default_direction: Optional[str] = None
        self.previous_context: Optional["Context"] = None
        self._inverse: Optional[dict] = None
        # memo for the pure expand_iri case (no local_context): the
        # active context is immutable once parsed, so (value, flags) →
        # IRI is deterministic. Bounded: cleared at 8192 entries.
        self._iri_cache: dict = {}

    # -- lifecycle ----------------------------------------------------

    def clone(self) -> "Context":
        c = Context(self.options)
        c.terms = dict(self.terms)
        c.base = self.base
        c.original_base = self.original_base
        c.vocab = self.vocab
        c.default_language = self.default_language
        c.default_direction = self.default_direction
        c.previous_context = self.previous_context
        return c

    @property
    def processing_mode(self) -> str:
        return self.options.processing_mode

    # -- context processing (spec §4.1) -------------------------------

    def parse(
        self,
        local_context: Any,
        base_url: Optional[str] = None,
        remote_contexts: Optional[tuple] = None,
        override_protected: bool = False,
        propagate: bool = True,
        validate_scoped: bool = True,
    ) -> "Context":
        """Parity: Context.parse / #parse, context.rb:243-451."""
        remote_contexts = remote_contexts or ()
        result = self.clone()
        if isinstance(local_context, dict) and "@propagate" in local_context:
            p = local_context["@propagate"]
            if self.processing_mode == "json-ld-1.0" or not isinstance(p, bool):
                raise JsonLdError(err.INVALID_PROPAGATE_VALUE, repr(p))
            propagate = p
        if not propagate and result.previous_context is None:
            result.previous_context = self

        items = local_context if isinstance(local_context, list) else [local_context]
        for context in items:
            if context is None:
                # null context: reset (error if protected terms & !override)
                if not override_protected and any(
                    td.protected for td in result.terms.values()
                ):
                    raise JsonLdError(
                        err.INVALID_CONTEXT_NULLIFICATION,
                        "attempt to clear a context with protected terms",
                    )
                fresh = Context(self.options)
                fresh.base = self.original_base
                fresh.original_base = self.original_base
                if not propagate:
                    fresh.previous_context = result
                result = fresh
                continue
            if isinstance(context, Context):
                result = context.clone()
                continue
            if isinstance(context, str):
                ctx_url = resolve_iri(base_url or result.base, context)
                if ctx_url in remote_contexts:
                    continue  # already applied in this chain
                if len(remote_contexts) >= MAX_CONTEXTS_LOADED:
                    raise JsonLdError(err.CONTEXT_OVERFLOW, ctx_url)
                loaded = self.options.document_loader(ctx_url)
                if isinstance(loaded, str):
                    loaded = json.loads(loaded)
                if isinstance(loaded, dict) and "@context" in loaded:
                    loaded = loaded["@context"]
                result = result.parse(
                    loaded,
                    base_url=ctx_url,
                    remote_contexts=remote_contexts + (ctx_url,),
                    override_protected=override_protected,
                    propagate=propagate,
                    validate_scoped=validate_scoped,
                )
                continue
            if not isinstance(context, dict):
                raise JsonLdError(err.INVALID_LOCAL_CONTEXT, repr(context))

            context = dict(context)
            # @version
            if "@version" in context:
                v = context.pop("@version")
                if v != 1.1:
                    raise JsonLdError(err.INVALID_VERSION_VALUE, repr(v))
                if self.processing_mode == "json-ld-1.0":
                    raise JsonLdError(err.PROCESSING_MODE_CONFLICT, "@version 1.1")
            # @import
            if "@import" in context:
                imp = context.pop("@import")
                if self.processing_mode == "json-ld-1.0":
                    raise JsonLdError(err.INVALID_CONTEXT_ENTRY, "@import in 1.0")
                if not isinstance(imp, str):
                    raise JsonLdError(err.INVALID_IMPORT_VALUE, repr(imp))
                import_url = resolve_iri(base_url or result.base, imp)
                imported = self.options.document_loader(import_url)
                if isinstance(imported, str):
                    imported = json.loads(imported)
                if isinstance(imported, dict) and "@context" in imported:
                    imported = imported["@context"]
                if not isinstance(imported, dict) or "@import" in imported:
                    raise JsonLdError(err.INVALID_CONTEXT_ENTRY, "@import target")
                context = {**imported, **context}
            # @base
            if "@base" in context:
                value = context.pop("@base")
                if not remote_contexts:
                    if value is None:
                        result.base = None
                    elif isinstance(value, str):
                        if is_absolute_iri(value):
                            result.base = value
                        elif result.base is not None:
                            result.base = resolve_iri(result.base, value)
                        else:
                            raise JsonLdError(err.INVALID_BASE_IRI, value)
                    else:
                        raise JsonLdError(err.INVALID_BASE_IRI, repr(value))
            # @direction
            if "@direction" in context:
                value = context.pop("@direction")
                if self.processing_mode == "json-ld-1.0":
                    raise JsonLdError(err.INVALID_CONTEXT_ENTRY, "@direction in 1.0")
                if value is None:
                    result.default_direction = None
                elif value in ("ltr", "rtl"):
                    result.default_direction = value
                else:
                    raise JsonLdError(err.INVALID_BASE_DIRECTION, repr(value))
            # @language
            if "@language" in context:
                value = context.pop("@language")
                if value is None:
                    result.default_language = None
                elif isinstance(value, str):
                    result.default_language = value.lower()
                else:
                    raise JsonLdError(err.INVALID_DEFAULT_LANGUAGE, repr(value))
            # @vocab
            if "@vocab" in context:
                value = context.pop("@vocab")
                if value is None:
                    result.vocab = None
                elif isinstance(value, str) and (
                    value == ""
                    or value.startswith("_:")
                    or is_absolute_iri(value)
                    or self.processing_mode != "json-ld-1.0"
                ):
                    result.vocab = result.expand_iri(
                        value, vocab=True, document_relative=True
                    )
                else:
                    raise JsonLdError(err.INVALID_VOCAB_MAPPING, repr(value))
            protected = context.pop("@protected", False)
            if protected and self.processing_mode == "json-ld-1.0":
                raise JsonLdError(err.INVALID_CONTEXT_ENTRY, "@protected in 1.0")
            context.pop("@propagate", None)

            defined: dict[str, Any] = {}
            for term in list(context.keys()):
                result.create_term_definition(
                    context,
                    term,
                    defined,
                    base_url=base_url,
                    protected=bool(protected),
                    override_protected=override_protected,
                    remote_contexts=remote_contexts,
                    validate_scoped=validate_scoped,
                )
        result._inverse = None
        return result

    # -- create term definition (spec §4.2) ---------------------------

    def create_term_definition(
        self,
        local_context: dict,
        term: str,
        defined: dict,
        base_url: Optional[str] = None,
        protected: bool = False,
        override_protected: bool = False,
        remote_contexts: tuple = (),
        validate_scoped: bool = True,
    ) -> None:
        """Parity: context.rb:512-853."""
        state = defined.get(term)
        if state is True:
            return
        if state is False:
            raise JsonLdError(err.CYCLIC_IRI_MAPPING, term)
        # empty term "" is tolerated for 1.0-era documents (the reference
        # warns but proceeds; golden fixture test-6 uses "" as a prefix)
        defined[term] = False
        value = local_context[term]

        if term == "@type":
            if self.processing_mode == "json-ld-1.0":
                raise JsonLdError(err.KEYWORD_REDEFINITION, term)
            if not isinstance(value, dict) or not (
                set(value.keys()) <= {"@container", "@protected"}
                and value.get("@container", "@set") == "@set"
            ):
                raise JsonLdError(err.KEYWORD_REDEFINITION, term)
        elif is_keyword(term):
            raise JsonLdError(err.KEYWORD_REDEFINITION, term)
        elif has_keyword_form(term):
            return  # keyword-shaped terms are ignored

        previous = self.terms.pop(term, None)
        self._iri_cache.clear()

        simple_term = isinstance(value, str) or value is None
        if value is None:
            value = {"@id": None}
        elif isinstance(value, str):
            value = {"@id": value}
        if not isinstance(value, dict):
            raise JsonLdError(err.INVALID_TERM_DEFINITION, repr(value))

        definition = TermDefinition(term=term)
        definition.prefix = False
        definition.protected = bool(value.get("@protected", protected))
        if "@protected" in value and self.processing_mode == "json-ld-1.0":
            raise JsonLdError(err.INVALID_TERM_DEFINITION, "@protected in 1.0")

        if "@type" in value:
            typ = value["@type"]
            if not isinstance(typ, str):
                raise JsonLdError(err.INVALID_TYPE_MAPPING, repr(typ))
            if typ in ("@json", "@none"):
                if self.processing_mode == "json-ld-1.0":
                    raise JsonLdError(err.INVALID_TYPE_MAPPING, typ)
                definition.type_mapping = typ
            elif typ in ("@id", "@vocab"):
                definition.type_mapping = typ
            else:
                expanded = self.expand_iri(
                    typ, vocab=True, local_context=local_context, defined=defined
                )
                if not is_absolute_iri(expanded):
                    raise JsonLdError(err.INVALID_TYPE_MAPPING, typ)
                definition.type_mapping = expanded

        if "@reverse" in value:
            if "@id" in value or "@nest" in value:
                raise JsonLdError(err.INVALID_REVERSE_PROPERTY, term)
            rev = value["@reverse"]
            if not isinstance(rev, str):
                raise JsonLdError(err.INVALID_IRI_MAPPING, repr(rev))
            if has_keyword_form(rev) and not is_keyword(rev):
                defined[term] = True
                return
            expanded = self.expand_iri(
                rev, vocab=True, local_context=local_context, defined=defined
            )
            if not (is_absolute_iri(expanded) or expanded.startswith("_:")):
                raise JsonLdError(err.INVALID_IRI_MAPPING, rev)
            definition.iri = expanded
            if "@container" in value:
                cont = value["@container"]
                if cont not in ("@set", "@index", None):
                    raise JsonLdError(err.INVALID_REVERSE_PROPERTY, term)
                if cont:
                    definition.container = frozenset({cont})
            definition.reverse = True
            self.terms[term] = definition
            defined[term] = True
            self._inverse = None
            self._iri_cache.clear()
            return

        if "@id" in value and value["@id"] != term:
            idv = value["@id"]
            if idv is None:
                pass  # keep iri None: term is decoupled from @vocab
            elif not isinstance(idv, str):
                raise JsonLdError(err.INVALID_IRI_MAPPING, repr(idv))
            elif not is_keyword(idv) and has_keyword_form(idv):
                defined[term] = True
                return
            else:
                if idv == "@context":
                    raise JsonLdError(err.INVALID_KEYWORD_ALIAS, "@context")
                expanded = self.expand_iri(
                    idv, vocab=True, local_context=local_context, defined=defined
                )
                if not (
                    is_keyword(expanded)
                    or is_absolute_iri(expanded)
                    or (isinstance(expanded, str) and expanded.startswith("_:"))
                ):
                    raise JsonLdError(err.INVALID_IRI_MAPPING, idv)
                definition.iri = expanded
                if (":" in term[1:-1]) or ("/" in term):
                    defined[term] = True
                    check = self.expand_iri(
                        term, vocab=True, local_context=local_context, defined=defined
                    )
                    if check != definition.iri:
                        raise JsonLdError(err.INVALID_IRI_MAPPING, term)
                # gen-delims only (context.rb:693-696): : / ? # [ ] @
                if (
                    simple_term
                    and ":" not in term
                    and (
                        definition.iri.endswith(
                            (":", "/", "?", "#", "[", "]", "@")
                        )
                        or definition.iri.startswith("_:")
                    )
                ):
                    definition.prefix = True
        elif ":" in term[1:]:
            prefix, _, suffix = term.partition(":")
            if prefix in local_context:
                self.create_term_definition(
                    local_context,
                    prefix,
                    defined,
                    base_url=base_url,
                    remote_contexts=remote_contexts,
                )
            if prefix in self.terms and self.terms[prefix].iri:
                definition.iri = self.terms[prefix].iri + suffix
            else:
                definition.iri = term
        elif "/" in term:
            expanded = self.expand_iri(
                term, vocab=True, local_context=local_context, defined=defined
            )
            if not is_absolute_iri(expanded):
                raise JsonLdError(err.INVALID_IRI_MAPPING, term)
            definition.iri = expanded
        elif term == "@type":
            definition.iri = "@type"
        elif self.vocab is not None:
            definition.iri = self.vocab + term
        else:
            raise JsonLdError(err.INVALID_IRI_MAPPING, term)

        if "@container" in value:
            cont = value["@container"]
            conts = frozenset(cont if isinstance(cont, list) else [cont])
            if not conts or not conts <= CONTAINER_VALUES:
                raise JsonLdError(err.INVALID_CONTAINER_MAPPING, repr(cont))
            self._check_container(conts)
            definition.container = conts

        if "@index" in value:
            if self.processing_mode == "json-ld-1.0" or "@index" not in definition.container:
                raise JsonLdError(err.INVALID_TERM_DEFINITION, "@index")
            idx = value["@index"]
            expanded = self.expand_iri(idx, vocab=True) if isinstance(idx, str) else None
            if not isinstance(idx, str) or not is_absolute_iri(expanded):
                raise JsonLdError(err.INVALID_TERM_DEFINITION, "@index value")
            definition.index = idx

        if "@context" in value:
            if self.processing_mode == "json-ld-1.0":
                raise JsonLdError(err.INVALID_TERM_DEFINITION, "@context in 1.0")
            ctx = value["@context"]
            if validate_scoped:
                # validate the scoped context parses; discard result
                try:
                    self.parse(
                        ctx,
                        base_url=base_url,
                        remote_contexts=remote_contexts,
                        override_protected=True,
                        validate_scoped=False,
                    )
                except JsonLdError as e:
                    raise JsonLdError(err.INVALID_SCOPED_CONTEXT, str(e))
            definition.context = ctx
            definition.has_context = True
            definition.base_url = base_url

        if "@language" in value and "@type" not in value:
            lang = value["@language"]
            if lang is not None and not isinstance(lang, str):
                raise JsonLdError(err.INVALID_LANGUAGE_MAPPING, repr(lang))
            definition.language = lang.lower() if isinstance(lang, str) else None

        if "@direction" in value and "@type" not in value:
            direction = value["@direction"]
            if direction is not None and direction not in ("ltr", "rtl"):
                raise JsonLdError(err.INVALID_BASE_DIRECTION, repr(direction))
            definition.direction = direction

        if "@nest" in value:
            if self.processing_mode == "json-ld-1.0":
                raise JsonLdError(err.INVALID_TERM_DEFINITION, "@nest in 1.0")
            nest = value["@nest"]
            if not isinstance(nest, str) or (nest != "@nest" and is_keyword(nest)):
                raise JsonLdError(err.INVALID_NEST_VALUE, repr(nest))
            definition.nest = nest

        if "@prefix" in value:
            if ":" in term or "/" in term or self.processing_mode == "json-ld-1.0":
                raise JsonLdError(err.INVALID_TERM_DEFINITION, "@prefix")
            pfx = value["@prefix"]
            if not isinstance(pfx, bool):
                raise JsonLdError(err.INVALID_PREFIX_VALUE, repr(pfx))
            definition.prefix = pfx
            if pfx and is_keyword(definition.iri):
                raise JsonLdError(err.INVALID_TERM_DEFINITION, term)

        extra = set(value.keys()) - {
            "@id",
            "@reverse",
            "@container",
            "@context",
            "@direction",
            "@index",
            "@language",
            "@nest",
            "@prefix",
            "@protected",
            "@type",
        }
        if extra:
            raise JsonLdError(err.INVALID_TERM_DEFINITION, repr(sorted(extra)))

        if (
            previous is not None
            and previous.protected
            and not override_protected
            and not definition.same_except_protected(previous)
        ):
            raise JsonLdError(err.PROTECTED_TERM_REDEFINITION, term)
        if previous is not None and previous.protected and not override_protected:
            definition = previous  # keep protected original
        self.terms[term] = definition
        defined[term] = True
        self._inverse = None
        self._iri_cache.clear()

    def _check_container(self, conts: frozenset) -> None:
        """Parity: check_container, context.rb:2036-2098."""
        if self.processing_mode == "json-ld-1.0":
            if len(conts) != 1 or conts & {"@graph", "@id", "@type"}:
                raise JsonLdError(err.INVALID_CONTAINER_MAPPING, repr(set(conts)))
            return
        c = set(conts)
        if "@graph" in c:
            if not c <= {"@graph", "@id", "@index", "@set"} or (
                "@id" in c and "@index" in c
            ):
                raise JsonLdError(err.INVALID_CONTAINER_MAPPING, repr(c))
        elif len(c) > 1:
            if c - {"@set"} not in (
                {"@index"},
                {"@id"},
                {"@type"},
                {"@language"},
                {"@graph"},
                set(),
            ):
                raise JsonLdError(err.INVALID_CONTAINER_MAPPING, repr(c))
        if "@list" in c and len(c) > 1:
            raise JsonLdError(err.INVALID_CONTAINER_MAPPING, repr(c))

    # -- IRI expansion (spec §5.2) -------------------------------------

    def expand_iri(
        self,
        value: Any,
        document_relative: bool = False,
        vocab: bool = False,
        local_context: Optional[dict] = None,
        defined: Optional[dict] = None,
        as_string: bool = True,
    ) -> Any:
        """Parity: context.rb:1299-1382."""
        if not isinstance(value, str) or is_keyword(value):
            return value
        if local_context is None:
            key = (value, document_relative, vocab)
            hit = self._iri_cache.get(key, _MISS)
            if hit is not _MISS:
                return hit
            result = self._expand_iri_uncached(value, document_relative, vocab)
            if len(self._iri_cache) >= 8192:
                self._iri_cache.clear()
            self._iri_cache[key] = result
            return result
        return self._expand_iri_uncached(
            value, document_relative, vocab, local_context, defined
        )

    def _expand_iri_uncached(
        self,
        value: str,
        document_relative: bool = False,
        vocab: bool = False,
        local_context: Optional[dict] = None,
        defined: Optional[dict] = None,
    ) -> Any:
        if has_keyword_form(value):
            return None  # looks-like-keyword: ignored
        if local_context is not None and value in local_context and defined is not None:
            if defined.get(value) is not True:
                self.create_term_definition(local_context, value, defined)
        td = self.terms.get(value)
        if td is not None and (is_keyword(td.iri) or vocab):
            return td.iri
        if ":" in value[1:]:
            prefix, _, suffix = value.partition(":")
            if prefix == "_" or suffix.startswith("//"):
                return value  # bnode or absolute-with-authority
            if local_context is not None and prefix in local_context and defined is not None:
                if defined.get(prefix) is not True:
                    self.create_term_definition(local_context, prefix, defined)
            ptd = self.terms.get(prefix)
            if ptd is not None and ptd.iri and ptd.prefix:
                return ptd.iri + suffix
            if is_absolute_iri(value):
                return value
        if vocab and self.vocab is not None:
            return self.vocab + value
        if document_relative:
            base = self.base
            if base is not None:
                return resolve_iri(base, value)
            return value
        return value

    # -- value expansion (spec §5.3) -----------------------------------

    def expand_value(self, active_property: Optional[str], value: Any) -> Any:
        """Parity: context.rb:1610-1645."""
        td = self.terms.get(active_property) if active_property else None
        type_mapping = td.type_mapping if td else None
        if type_mapping == "@id" and isinstance(value, str):
            return {"@id": self.expand_iri(value, document_relative=True)}
        if type_mapping == "@vocab" and isinstance(value, str):
            return {
                "@id": self.expand_iri(value, vocab=True, document_relative=True)
            }
        # key order parity (context.rb:1632-1643): @type/@language/
        # @direction precede @value — the streaming reader's key-order
        # state machine depends on it (@value closes the await states)
        result: dict[str, Any] = {}
        if type_mapping not in (None, "@id", "@vocab", "@none"):
            result["@type"] = type_mapping
        elif isinstance(value, str):
            language = (
                td.language
                if td is not None and td.language != "unset"
                else self.default_language
            )
            direction = (
                td.direction
                if td is not None and td.direction != "unset"
                else self.default_direction
            )
            if language is not None:
                result["@language"] = language
            if direction is not None:
                result["@direction"] = direction
        result["@value"] = value
        return result

    # -- inverse context (spec §4.3) -----------------------------------

    def inverse_context(self) -> dict:
        """Parity: context.rb:1876-1933."""
        if self._inverse is not None:
            return self._inverse
        inverse: dict[str, dict] = {}
        default_lang = (self.default_language or "@none").lower()
        for term in sorted(self.terms.keys(), key=lambda t: (len(t), t)):
            td = self.terms[term]
            if td is None or td.iri is None:
                continue
            container = "".join(sorted(td.container)) or "@none"
            container_map = inverse.setdefault(td.iri, {})
            type_lang_map = container_map.setdefault(
                container,
                {"@language": {}, "@type": {}, "@any": {}},
            )
            type_lang_map["@any"].setdefault("@none", term)
            if td.reverse:
                type_lang_map["@type"].setdefault("@reverse", term)
            elif td.type_mapping == "@none":
                type_lang_map["@language"].setdefault("@any", term)
                type_lang_map["@type"].setdefault("@any", term)
                type_lang_map["@any"].setdefault("@any", term)
            elif td.type_mapping is not None:
                type_lang_map["@type"].setdefault(td.type_mapping, term)
            elif td.language != "unset" and td.direction != "unset":
                # both present; None means explicit null (context.rb:1903-1913)
                if td.language and td.direction:
                    lang_dir = f"{td.language}_{td.direction}".lower()
                elif td.language:
                    lang_dir = td.language.lower()
                elif td.direction:
                    lang_dir = "_" + td.direction
                else:
                    lang_dir = "@null"
                type_lang_map["@language"].setdefault(lang_dir, term)
            elif td.language != "unset":
                lang_dir = (td.language or "@null").lower()
                type_lang_map["@language"].setdefault(lang_dir, term)
            elif td.direction != "unset":
                # explicit-null direction indexes under @none
                # (context.rb:1919-1920)
                lang_dir = f"_{td.direction}" if td.direction else "@none"
                type_lang_map["@language"].setdefault(lang_dir, term)
            else:
                lang_dir = default_lang
                if self.default_direction:
                    lang_dir = f"{default_lang}_{self.default_direction}".lower()
                type_lang_map["@language"].setdefault(lang_dir, term)
                type_lang_map["@language"].setdefault("@none", term)
                type_lang_map["@type"].setdefault("@none", term)
        self._inverse = inverse
        return inverse

    def select_term(
        self,
        iri: str,
        containers: list[str],
        type_language: str,
        preferred_values: list[str],
    ) -> Optional[str]:
        """Parity: context.rb:1946-1969."""
        inverse = self.inverse_context()
        container_map = inverse.get(iri, {})
        for container in containers:
            if container not in container_map:
                continue
            type_lang_map = container_map[container]
            value_map = type_lang_map[type_language]
            for item in preferred_values:
                if item in value_map:
                    return value_map[item]
        return None

    # -- IRI compaction (spec §5.4) -------------------------------------

    def compact_iri(
        self,
        iri: Optional[str],
        value: Any = None,
        vocab: bool = False,
        reverse: bool = False,
    ) -> Optional[str]:
        """Parity: context.rb:1410-1591 (condensed; same preference
        ordering as the spec's IRI Compaction algorithm)."""
        if iri is None or not isinstance(iri, str):
            return iri  # rdfstar embedded nodes pass through
        is_value = is_value_obj = isinstance(value, dict) and "@value" in value
        is_list = isinstance(value, dict) and "@list" in value
        is_graph = (
            isinstance(value, dict)
            and "@graph" in value
            and set(value) <= {"@graph", "@id", "@index", "@context"}
        )
        has_index = isinstance(value, dict) and "@index" in value

        if vocab and iri in self.inverse_context():
            default_lang = (
                f"{self.default_language}_{self.default_direction}".lower()
                if self.default_direction
                else (self.default_language or "@none").lower()
            )
            containers: list[str] = []
            type_language = "@language"
            tl_value: Optional[str] = None
            # (context.rb:1444-1507)
            if has_index and not is_graph:
                containers += ["@index", "@index@set"]
            if reverse:
                type_language = "@type"
                tl_value = "@reverse"
                containers.append("@set")
            elif is_list:
                if "@index" not in value:
                    containers.append("@list")
                lst = value["@list"]
                common_type = None
                common_language = default_lang if not lst else None
                for item in lst:
                    item_language, item_type = "@none", "@none"
                    if isinstance(item, dict) and "@value" in item:
                        if "@direction" in item:
                            item_language = (
                                f"{item.get('@language','')}_{item['@direction']}".lower()
                            )
                        elif "@language" in item:
                            item_language = item["@language"].lower()
                        elif "@type" in item:
                            item_type = item["@type"]
                        else:
                            item_language = "@null"
                    else:
                        item_type = "@id"
                    common_language = (
                        item_language
                        if common_language is None
                        else (
                            "@none"
                            if common_language != item_language
                            else common_language
                        )
                    )
                    common_type = (
                        item_type
                        if common_type is None
                        else ("@none" if common_type != item_type else common_type)
                    )
                    if common_language == "@none" and common_type == "@none":
                        break
                common_language = common_language or "@none"
                common_type = common_type or "@none"
                if common_type != "@none":
                    type_language = "@type"
                    tl_value = common_type
                else:
                    tl_value = common_language
            elif is_graph:
                # (context.rb:1466-1484)
                if has_index:
                    containers += ["@graph@index", "@graph@index@set"]
                if "@id" in value:
                    containers += ["@graph@id", "@graph@id@set"]
                containers += ["@graph", "@graph@set", "@set"]
                if not has_index:
                    containers += ["@graph@index", "@graph@index@set"]
                if "@id" not in value:
                    containers += ["@graph@id", "@graph@id@set"]
                containers += ["@index", "@index@set"]
                containers.append("@set")
                type_language = "@type"
                tl_value = "@id"
            else:
                if is_value_obj:
                    if "@language" in value and not has_index:
                        tl_value = value["@language"].lower()
                        if "@direction" in value:
                            tl_value += f"_{value['@direction']}".lower()
                        containers += ["@language", "@language@set"]
                    elif "@direction" in value and not has_index:
                        tl_value = f"_{value['@direction']}"
                    elif "@type" in value:
                        type_language = "@type"
                        tl_value = value["@type"]
                else:
                    type_language = "@type"
                    tl_value = "@id"
                    containers += ["@id", "@id@set", "@type", "@set@type"]
                containers.append("@set")
            containers.append("@none")
            # 1.1: index maps can index values via @none (low priority)
            if self.processing_mode != "json-ld-1.0" and not has_index:
                containers += ["@index", "@index@set"]
            # values without type/language can use @language maps
            if (
                self.processing_mode != "json-ld-1.0"
                and isinstance(value, dict)
                and set(value) == {"@value"}
            ):
                containers += ["@language", "@language@set"]
            # preferred values (context.rb:1514-1533)
            if tl_value is None:
                tl_value = "@null"
            preferred: list[str] = []
            if tl_value == "@reverse":
                preferred.append("@reverse")
            if (
                tl_value in ("@id", "@reverse")
                and isinstance(value, dict)
                and "@id" in value
            ):
                t_iri = self.compact_iri(value["@id"], vocab=True)
                r_td = self.terms.get(t_iri)
                if r_td is not None and r_td.iri == value["@id"]:
                    preferred += ["@vocab", "@id", "@none"]
                else:
                    preferred += ["@id", "@vocab", "@none"]
            else:
                if is_list and value["@list"] == []:
                    type_language = "@any"
                preferred += [tl_value, "@none"]
            preferred.append("@any")
            lang_dir = next((v for v in preferred if "_" in v), None)
            if lang_dir:
                preferred.append("_" + lang_dir.split("_")[-1])
            term = self.select_term(iri, containers, type_language, preferred)
            if term is not None:
                return term

        if (
            vocab
            and self.vocab is not None
            and iri.startswith(self.vocab)
            and len(iri) > len(self.vocab)
        ):
            suffix = iri[len(self.vocab) :]
            if suffix not in self.terms:
                return suffix

        # CURIE candidates: shortest wins (context.rb:1548-1558);
        # a candidate naming an existing term is only allowed when no
        # value is being compacted (candidates.min parity)
        candidates = []
        for term, td in self.terms.items():
            if td is None or not td.iri or not td.prefix:
                continue
            if iri.startswith(td.iri) and iri != td.iri:
                curie = term + ":" + iri[len(td.iri) :]
                if not (value is not None and curie in self.terms):
                    candidates.append(curie)
        if candidates:
            return min(candidates, key=lambda c: (len(c), c))

        if not vocab and self.options.compact_to_relative and self.base:
            from json_ld_spark.core.iri import make_relative

            return make_relative(self.base, iri)
        return iri

    # -- value compaction (spec §5.5) ------------------------------------

    def compact_value(self, active_property: Optional[str], value: dict) -> Any:
        """Parity: context.rb:1660-1718."""
        td = self.terms.get(active_property) if active_property else None
        coerce = td.type_mapping if td is not None else None
        container = td.container if td is not None else frozenset()
        has_index = "@index" in value
        indexing = has_index and "@index" in container
        language = (
            td.language
            if td is not None and td.language != "unset"
            else self.default_language
        )
        direction = (
            td.direction
            if td is not None and td.direction != "unset"
            else self.default_direction
        )
        if "@id" in value and set(value) <= {"@id", "@index"}:
            if coerce == "@id":
                return self.compact_iri(value["@id"])
            if coerce == "@vocab":
                return self.compact_iri(value["@id"], vocab=True)
            return value
        if "@id" in value:
            return value
        raw = value.get("@value")
        if value.get("@type") is not None and value["@type"] == coerce:
            return raw  # common datatype compacts to the raw value
        if coerce == "@none" or value.get("@type") is not None:
            return value
        if not isinstance(raw, str):
            # native JSON values compact when indexing or no @index
            return raw if (indexing or not has_index) else value
        vlang = (value.get("@language") or "").lower()
        plang = (str(language) if language is not None else "").lower()
        if vlang == plang and value.get("@direction") == direction:
            return raw if (indexing or not has_index) else value
        return value


@lru_cache(maxsize=128)
def _cached_parse(context_json: str, base: Optional[str], mode: str) -> Context:
    """Per-process parsed-context cache keyed by the raw JSON.

    Parity: Context.cache (LRU 100), context.rb:26,138-149. In the Spark
    layer every Python worker process shares this cache, so a corpus with
    K distinct contexts parses each exactly once per worker.
    """
    opts = Options(base=base, processing_mode=mode)
    return Context(opts).parse(json.loads(context_json))


def parse_context_cached(
    context: Any, base: Optional[str] = None, mode: str = "json-ld-1.1"
) -> Context:
    return _cached_parse(
        json.dumps(context, sort_keys=True, separators=(",", ":")), base, mode
    )


RDFS_RANGE = "http://www.w3.org/2000/01/rdf-schema#range"
SCHEMA_RANGE_INCLUDES = "http://schema.org/rangeIncludes"
RDFS_LITERAL = "http://www.w3.org/2000/01/rdf-schema#Literal"
SCHEMA_TEXT = "http://schema.org/Text"
_RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
_XSD = "http://www.w3.org/2001/XMLSchema#"
_SCHEMA = "http://schema.org/"
_DATATYPE_RANGES = frozenset({
    _XSD + "boolean", _SCHEMA + "Boolean", _XSD + "date", _SCHEMA + "Date",
    _XSD + "dateTime", _SCHEMA + "DateTime", _XSD + "time", _SCHEMA + "Time",
    _XSD + "duration", _SCHEMA + "Duration", _XSD + "decimal",
    _SCHEMA + "Number", _XSD + "float", _SCHEMA + "Float",
    _XSD + "integer", _SCHEMA + "Integer",
})


def from_vocabulary(triples, vocab: Optional[str] = None,
                    default_language: Optional[str] = None) -> Context:
    """Build a Context from an RDF vocabulary graph (a triple list).

    Parity: Context#from_vocabulary, context.rb:1060-1120: one term
    per class/property (last path segment of its IRI); properties with
    an object range coerce @id, datatype ranges coerce that datatype,
    literal/text ranges are skipped under a vocabulary mapping.
    """
    ctx = Context(Options())
    ctx.vocab = vocab
    ctx.default_language = default_language
    statements: dict[str, list] = {}
    ranges: dict[str, list[str]] = {}
    for t in triples:
        if t.subject.kind == "bnode":
            continue
        sid = t.subject.value
        statements.setdefault(sid, []).append(t)
        if t.predicate.value in (RDFS_RANGE, SCHEMA_RANGE_INCLUDES):
            ranges.setdefault(sid, []).append(t.obj.value)
    for sid, values in statements.items():
        types = [t.obj.value for t in values if t.predicate.value == _RDF_TYPE]
        is_property = any("Property" in t for t in types)
        term = re.split(r"[/#]", sid)[-1]
        if is_property:
            prop_ranges = ranges.get(sid, [])
            if (vocab and not prop_ranges) or SCHEMA_TEXT in prop_ranges \
                    or RDFS_LITERAL in prop_ranges:
                continue
            td = TermDefinition(term, iri=sid)
            r = prop_ranges[0] if prop_ranges else None
            if r == _XSD + "string":
                if default_language:
                    td.language = None  # explicit null
            elif r in _DATATYPE_RANGES:
                td.type_mapping = r
            else:
                td.type_mapping = "@id"
            ctx.terms[term] = td
        else:
            if vocab and sid.startswith(vocab):
                continue
            ctx.terms[term] = TermDefinition(term, iri=sid)
    return ctx
