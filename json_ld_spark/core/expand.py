"""JSON-LD 1.1 Expansion Algorithm.

Implements W3C JSON-LD 1.1 API §5.1 (expansion), including scoped
contexts (property-/type-scoped with @propagate rollback), container
expansions (@language/@index/@id/@type/@graph maps), @nest, @reverse,
value-object validation, and free-floating-node drops.

Semantic parity (reference, read-only):
  - array/hash/scalar dispatch   /root/reference/lib/json/ld/expand.rb:31-241
  - expand_object keywords       expand.rb:246-636
  - container expansions         expand.rb:638-811
  - @nest recursion              expand.rb:814-838
"""

from __future__ import annotations

from typing import Any, Optional

from json_ld_spark.core import errors as err
from json_ld_spark.core.context import Context
from json_ld_spark.core.errors import JsonLdError
from json_ld_spark.core.keywords import (
    add_value,
    is_absolute_iri,
    is_graph_object,
    is_keyword,
    is_list_object,
    is_node_object,
    is_scalar,
    is_value_object,
)

# Value object may only contain these keys (expand.rb:12-17)
_VALUE_KEYS = {"@annotation", "@direction", "@index", "@language", "@type", "@value"}


def expand(
    element: Any,
    active_property: Optional[str],
    context: Context,
    ordered: bool = False,
    base_url: Optional[str] = None,
    from_map: bool = False,
) -> Any:
    """Expand ``element``; returns expanded value (list/dict/None)."""
    if element is None:
        return None

    td = context.terms.get(active_property) if active_property else None

    # ---- scalar -----------------------------------------------------
    if is_scalar(element):
        if active_property is None or active_property == "@graph":
            return None  # free-floating scalar
        if td is not None and td.has_context:
            context = context.parse(td.context, base_url=td.base_url)
        return context.expand_value(active_property, element)

    # ---- array ------------------------------------------------------
    if isinstance(element, list):
        result: list[Any] = []
        for item in element:
            expanded_item = expand(
                item, active_property, context, ordered, base_url, from_map
            )
            is_list_container = td is not None and "@list" in td.container
            if is_list_container and isinstance(expanded_item, list):
                if any(
                    isinstance(n, dict) and "@annotation" in n
                    for n in expanded_item
                ):
                    raise JsonLdError(
                        err.INVALID_ANNOTATION,
                        "a list element must not contain @annotation",
                    )
                expanded_item = {"@list": expanded_item}
            if isinstance(expanded_item, list):
                result.extend(expanded_item)
            elif expanded_item is not None:
                result.append(expanded_item)
        return result

    # ---- dict -------------------------------------------------------
    assert isinstance(element, dict)

    # revert type-scoped context unless we got here from a map key or
    # the element is a value/subject-reference continuation
    # (expand.rb:75-87)
    if context.previous_context is not None and not from_map:
        expanded_keys = [
            context.expand_iri(k, vocab=True) for k in element if k != "@context"
        ]
        if "@value" not in expanded_keys and expanded_keys != ["@id"]:
            context = context.previous_context

    # property-scoped context (expand.rb:89-93)
    if td is not None and td.has_context:
        context = context.parse(
            td.context, base_url=td.base_url, override_protected=True
        )

    # inline @context (expand.rb:95-99)
    if "@context" in element:
        context = context.parse(element["@context"], base_url=base_url)

    # type-scoped contexts, applied for each type in sorted order
    # (expand.rb:106-121)
    type_key = None
    for key in sorted(element.keys()):
        if context.expand_iri(key, vocab=True) == "@type":
            type_key = key
            break
    if type_key is not None:
        types = element[type_key]
        types = types if isinstance(types, list) else [types]
        for t in sorted(x for x in types if isinstance(x, str)):
            ttd = context.terms.get(t)
            if ttd is not None and ttd.has_context:
                context = context.parse(
                    ttd.context, base_url=ttd.base_url, propagate=False
                )

    output: dict[str, Any] = {}
    _expand_object(
        element, active_property, context, output, ordered, base_url, type_key
    )

    # value-object validation (expand.rb:134-178, framing-aware)
    if "@value" in output:
        framing = context.options.frame_expansion
        keys = set(output.keys())
        if not keys <= _VALUE_KEYS:
            raise JsonLdError(err.INVALID_VALUE_OBJECT, repr(sorted(keys)))
        if "@type" in output and ("@language" in output or "@direction" in output):
            raise JsonLdError(err.INVALID_VALUE_OBJECT, "@type with @language")
        if "@language" in output and output["@language"] == []:
            del output["@language"]
        type_is_json = output.get("@type") == "@json"
        if "@type" in output and output["@type"] == []:
            del output["@type"]
        vals = output["@value"]
        vals = vals if isinstance(vals, list) else (
            [] if vals is None else [vals]
        )
        if not vals and not type_is_json:
            return None
        if type_is_json:
            pass  # any JSON value allowed
        elif "@language" in output and not all(
            isinstance(v, str) or v == {} for v in vals
        ):
            raise JsonLdError(
                err.INVALID_LANGUAGE_TAGGED_VALUE, repr(output["@value"])
            )
        elif "@type" in output:
            types = output["@type"]
            types = types if isinstance(types, list) else [types]
            if not all(
                (isinstance(t, str) and is_absolute_iri(t)
                 and not t.startswith("_:"))
                or t == {}
                for t in types
            ) or (not framing and not isinstance(output["@type"], str)):
                raise JsonLdError(
                    err.INVALID_TYPED_VALUE, repr(output.get("@type"))
                )
        return output

    # @type normalization to array (expand.rb:180)
    if "@type" in output and not isinstance(output["@type"], list):
        output["@type"] = [output["@type"]]

    # @set / @list unwrap & validation (expand.rb:182-206)
    if "@set" in output or "@list" in output:
        extra = set(output.keys()) - {"@set", "@list", "@index"}
        if extra:
            raise JsonLdError(err.INVALID_SET_OR_LIST_OBJECT, repr(sorted(extra)))
        if "@set" in output:
            return output["@set"]
        return output

    # @annotation validation (expand.rb:192-205)
    if output.get("@annotation"):
        if not all(
            isinstance(o, dict) and is_node_object(o) and "@id" not in o
            for o in output["@annotation"]
        ):
            raise JsonLdError(
                err.INVALID_ANNOTATION,
                "@annotation must reference node objects without @id",
            )
        if (active_property or "@graph") in ("@graph", "@included"):
            raise JsonLdError(
                err.INVALID_ANNOTATION,
                "@annotation must not be used on a top-level object",
            )

    # drop {"@language": ...}-only (expand.rb:209)
    if set(output.keys()) == {"@language"}:
        return None

    # drop free-floating non-node content (expand.rb:211-217);
    # frame expansion keeps node references and empty patterns
    if active_property is None or active_property == "@graph":
        if context.options.frame_expansion:
            return output
        if not output or {"@value", "@list"} & set(output.keys()):
            return None
        if set(output.keys()) == {"@id"}:
            return None

    return output


def _expand_object(
    element: dict,
    active_property: Optional[str],
    context: Context,
    output: dict,
    ordered: bool,
    base_url: Optional[str],
    type_key: Optional[str],
) -> None:
    """Keyword dispatch + property expansion.

    Parity: expand_object, expand.rb:246-636.
    """
    nests: list[str] = []
    input_type = None
    if type_key is not None:
        tv = element[type_key]
        tv = tv[-1] if isinstance(tv, list) and tv else tv
        if isinstance(tv, str):
            input_type = context.expand_iri(tv, vocab=True)

    # document order unless ordered (expand.rb:258): insertion order
    # decides node-map order downstream, which decides @embed:@once
    # winners in framing
    keys = sorted(element.keys()) if ordered else list(element.keys())
    for key in keys:
        if key == "@context":
            continue
        value = element[key]
        expanded_property = context.expand_iri(
            key, vocab=True, as_string=False
        )
        if expanded_property is None or (
            not isinstance(expanded_property, str)
        ):
            continue
        if not (is_keyword(expanded_property) or is_absolute_iri(expanded_property)
                or expanded_property.startswith("_:")):
            # terms that don't expand to an IRI/keyword are dropped
            if ":" not in expanded_property:
                continue

        if is_keyword(expanded_property):
            if active_property == "@reverse":
                raise JsonLdError(
                    err.INVALID_REVERSE_PROPERTY_MAP, expanded_property
                )
            if expanded_property in output and expanded_property not in (
                "@included",
                "@type",
                "@reverse",  # KEYS_INCLUDED_TYPE_REVERSE (expand.rb:289)
            ):
                raise JsonLdError(err.COLLIDING_KEYWORDS, expanded_property)

            if expanded_property == "@id":
                if context.options.rdfstar and active_property is not None \
                        and context.expand_iri(
                            active_property, vocab=True
                        ) == "@annotation":
                    raise JsonLdError(
                        err.INVALID_ANNOTATION,
                        "an annotation must not contain @id",
                    )
                if isinstance(value, str):
                    output["@id"] = context.expand_iri(
                        value, document_relative=True
                    )
                elif context.options.frame_expansion and isinstance(value, list):
                    # frames may match a set of ids (expand.rb:300-320)
                    output["@id"] = [
                        context.expand_iri(v, document_relative=True)
                        for v in value
                        if isinstance(v, str)
                    ]
                elif context.options.frame_expansion and value == {}:
                    output["@id"] = [{}]  # wildcard
                elif context.options.rdfstar and isinstance(value, dict):
                    # embedded (quoted) node (expand.rb:321-341)
                    rei = expand(value, None, context, ordered, base_url)
                    if isinstance(rei, list):
                        rei = rei[0] if len(rei) == 1 else None
                    if rei is None or not isinstance(rei, dict):
                        raise JsonLdError(
                            err.INVALID_EMBEDDED_NODE, repr(value)
                        )
                    if "@reverse" in rei:
                        raise JsonLdError(
                            err.INVALID_EMBEDDED_NODE,
                            "embedded node with @reverse",
                        )
                    from json_ld_spark.core.to_rdf import (
                        stream_expanded_to_rdf,
                    )
                    from json_ld_spark.core.keywords import BlankNodeNamer

                    n_stmts = len(
                        stream_expanded_to_rdf([rei], BlankNodeNamer())
                    )
                    if n_stmts != 1:
                        raise JsonLdError(
                            err.INVALID_EMBEDDED_NODE,
                            f"embedded node with {n_stmts} statements",
                        )
                    output["@id"] = rei
                else:
                    raise JsonLdError(err.INVALID_ID_VALUE, repr(value))
            elif expanded_property == "@included":
                included = expand(value, "@graph", context, ordered, base_url)
                included = included if isinstance(included, list) else [included]
                if any(not is_node_object(n) or "@value" in (n or {}) for n in included):
                    raise JsonLdError(err.INVALID_INCLUDED_VALUE, repr(value))
                add_value(output, "@included", included, property_is_array=True)
            elif expanded_property == "@type":
                framing = context.options.frame_expansion
                expanded_types: list
                if isinstance(value, dict):
                    # frame wildcards / @default maps (expand.rb:399-423)
                    if not framing:
                        raise JsonLdError(err.INVALID_TYPE_VALUE, repr(value))
                    if len(value) == 1 and context.expand_iri(
                        next(iter(value)), vocab=True
                    ) == "@default":
                        dvals = value["@default"]
                        dvals = dvals if isinstance(dvals, list) else [dvals]
                        for v in dvals:
                            if not isinstance(v, str):
                                raise JsonLdError(err.INVALID_TYPE_VALUE, repr(v))
                        expanded_types = [{
                            "@default": [
                                context.expand_iri(
                                    v, vocab=True, document_relative=True
                                )
                                for v in dvals
                            ]
                        }]
                    elif value:
                        raise JsonLdError(err.INVALID_TYPE_VALUE, repr(value))
                    else:
                        expanded_types = [{}]
                else:
                    vals = value if isinstance(value, list) else [value]
                    expanded_types = []
                    for v in vals:
                        if not isinstance(v, str):
                            raise JsonLdError(err.INVALID_TYPE_VALUE, repr(v))
                        expanded_types.append(
                            context.expand_iri(v, vocab=True, document_relative=True)
                        )
                existing = output.get("@type")
                if existing is not None:
                    existing = (
                        existing if isinstance(existing, list) else [existing]
                    )
                    expanded_types = existing + expanded_types
                output["@type"] = (
                    expanded_types
                    if framing or isinstance(value, list) or len(expanded_types) > 1
                    else expanded_types[0]
                )
            elif expanded_property == "@graph":
                graph = expand(value, "@graph", context, ordered, base_url)
                graph = graph if isinstance(graph, list) else [graph]
                output["@graph"] = [g for g in graph if g is not None]
            elif expanded_property == "@value":
                framing = context.options.frame_expansion
                if input_type == "@json" and context.processing_mode != "json-ld-1.0":
                    output["@value"] = value
                elif value is None:
                    output["@value"] = None
                elif is_scalar(value):
                    output["@value"] = [value] if framing else value
                elif isinstance(value, list):
                    # arrays only in frame expansion (expand.rb:450-455)
                    if not framing:
                        raise JsonLdError(
                            err.INVALID_VALUE_OBJECT_VALUE, repr(value)
                        )
                    output["@value"] = value
                elif isinstance(value, dict):
                    if not (value == {} and framing):
                        raise JsonLdError(
                            err.INVALID_VALUE_OBJECT_VALUE, repr(value)
                        )
                    output["@value"] = [value]
                else:
                    raise JsonLdError(err.INVALID_VALUE_OBJECT_VALUE, repr(value))
            elif expanded_property == "@language":
                framing = context.options.frame_expansion
                if isinstance(value, str):
                    # case preserved: lowercasing only under the
                    # lowercaseLanguage option (expand.rb:476)
                    output["@language"] = [value] if framing else value
                elif isinstance(value, list) and framing:
                    lowered = []
                    for v in value:
                        if isinstance(v, str):
                            lowered.append(v)
                        elif v == {}:
                            lowered.append(v)
                        else:
                            raise JsonLdError(
                                err.INVALID_LANGUAGE_TAGGED_STRING, repr(v)
                            )
                    output["@language"] = lowered
                elif value == {} and framing:
                    output["@language"] = [value]
                else:
                    raise JsonLdError(
                        err.INVALID_LANGUAGE_TAGGED_STRING, repr(value)
                    )
            elif expanded_property == "@direction":
                if value not in ("ltr", "rtl"):
                    raise JsonLdError(err.INVALID_BASE_DIRECTION, repr(value))
                output["@direction"] = value
            elif expanded_property == "@index":
                if not isinstance(value, str):
                    raise JsonLdError(err.INVALID_INDEX_VALUE, repr(value))
                output["@index"] = value
            elif expanded_property == "@list":
                if active_property is None or active_property == "@graph":
                    continue  # free-floating list
                lst = expand(value, active_property, context, ordered, base_url)
                lst = lst if isinstance(lst, list) else [lst]
                # list elements must not carry @annotation
                # (expand.rb:552-555)
                if any(
                    isinstance(n, dict) and "@annotation" in n for n in lst
                ):
                    raise JsonLdError(
                        err.INVALID_ANNOTATION,
                        "a list element must not contain @annotation",
                    )
                output["@list"] = [x for x in lst if x is not None]
            elif expanded_property == "@set":
                output["@set"] = expand(
                    value, active_property, context, ordered, base_url
                )
            elif expanded_property == "@reverse":
                if not isinstance(value, dict):
                    raise JsonLdError(err.INVALID_REVERSE_VALUE, repr(value))
                expanded = expand(value, "@reverse", context, ordered, base_url)
                if isinstance(expanded, dict) and "@reverse" in expanded:
                    # double-reverse: forward properties
                    for prop, items in expanded["@reverse"].items():
                        add_value(output, prop, items, property_is_array=True)
                if isinstance(expanded, dict):
                    reverse_map = output.setdefault("@reverse", {})
                    for prop, items in expanded.items():
                        if prop == "@reverse":
                            continue
                        items = items if isinstance(items, list) else [items]
                        for item in items:
                            if is_value_object(item) or is_list_object(item):
                                raise JsonLdError(
                                    err.INVALID_REVERSE_PROPERTY_VALUE, prop
                                )
                            add_value(
                                reverse_map, prop, item, property_is_array=True
                            )
                    if not output["@reverse"]:
                        del output["@reverse"]
            elif expanded_property == "@nest":
                nests.append(key)
            elif expanded_property in (
                "@explicit",
                "@default",
                "@embed",
                "@omitDefault",
                "@preserve",
                "@requireAll",
            ):
                # framing keywords pass through only in frame expansion
                # (expand.rb:605-606: `next unless framing`)
                if context.options.frame_expansion:
                    ev = expand(value, expanded_property, context, ordered, base_url)
                    output[expanded_property] = ev
            elif expanded_property == "@annotation":
                # dropped unless rdfstar (expand.rb:617-623)
                if context.options.rdfstar:
                    ev = expand(value, "@annotation", context, ordered, base_url)
                    output["@annotation"] = (
                        ev if isinstance(ev, list) else [ev]
                    )
            # unknown keyword-form keys already filtered
            continue

        # ---- regular property ----------------------------------------
        td = context.terms.get(key)
        container = td.container if td is not None else frozenset()

        # @json coercion comes BEFORE the null drop: {"e": null} with
        # @type:@json is the JSON literal null (expand.rb:639-641)
        if td is not None and td.type_mapping == "@json":
            expanded_value: Any = {"@value": value, "@type": "@json"}
        elif value is None and not (td is not None and "@list" in container):
            continue  # null values are dropped
        elif "@language" in container and isinstance(value, dict):
            # language map (expand.rb:642-672)
            expanded_value = []
            for lang in sorted(value.keys()):
                lang_value = value[lang]
                lang_value = (
                    lang_value if isinstance(lang_value, list) else [lang_value]
                )
                for item in lang_value:
                    if item is None:
                        continue
                    if not isinstance(item, str):
                        raise JsonLdError(
                            err.INVALID_LANGUAGE_MAP_VALUE, repr(item)
                        )
                    v: dict[str, Any] = {"@value": item}
                    if lang != "@none" and context.expand_iri(lang, vocab=True) != "@none":
                        v["@language"] = lang  # case preserved (expand.rb:669)
                    if td.direction != "unset":
                        if td.direction is not None:
                            v["@direction"] = td.direction
                    elif context.default_direction is not None:
                        v["@direction"] = context.default_direction
                    expanded_value.append(v)
        elif (
            container & {"@index", "@type", "@id"}
            and isinstance(value, dict)
        ):
            # index/id/type maps (expand.rb:673-753)
            expanded_value = []
            index_key = td.index or "@index"
            # container context (expand.rb:681-693): @type maps revert
            # type-scoped terms; @id maps apply the term's scoped
            # context (its @base resolves the map keys)
            if "@type" in container and context.previous_context is not None:
                container_context = context.previous_context
            elif "@id" in container and td.has_context:
                container_context = context.parse(
                    td.context, base_url=td.base_url, propagate=False
                )
            else:
                container_context = context
            for k in sorted(value.keys()):
                item_value = value[k]
                map_context = None
                if "@type" in container:
                    ktd = container_context.terms.get(k)
                    if ktd is not None and ktd.has_context:
                        map_context = container_context.parse(
                            ktd.context, base_url=ktd.base_url, propagate=False
                        )
                if map_context is None:
                    map_context = container_context
                expanded_k = container_context.expand_iri(k, vocab=True)
                item_value = (
                    item_value if isinstance(item_value, list) else [item_value]
                )
                expanded_items = expand(
                    item_value, key, map_context, ordered, base_url, from_map=True
                )
                for item in expanded_items:
                    if "@index" in container:
                        if "@graph" in container and not is_graph_object(item):
                            item = {"@graph": item if isinstance(item, list) else [item]}
                        if index_key == "@index":
                            if expanded_k != "@none":
                                item.setdefault("@index", k)
                        elif is_value_object(item):
                            # expand.rb:723-724
                            raise JsonLdError(
                                err.INVALID_VALUE_OBJECT,
                                f"attempt to add {index_key!r} to a value object",
                            )
                        else:
                            # property-based index (expand.rb:725-737)
                            ev = (
                                "@none"
                                if k == "@none"
                                else container_context.expand_value(index_key, k)
                            )
                            if ev != "@none":
                                index_prop = container_context.expand_iri(
                                    index_key, vocab=True
                                )
                                existing = item.get(index_prop, [])
                                existing = (
                                    existing
                                    if isinstance(existing, list)
                                    else [existing]
                                )
                                item[index_prop] = [ev] + existing
                    elif "@id" in container:
                        if "@graph" in container and not is_graph_object(item):
                            item = {"@graph": item if isinstance(item, list) else [item]}
                        if expanded_k != "@none":
                            item.setdefault(
                                "@id",
                                container_context.expand_iri(
                                    k, document_relative=True
                                ),
                            )
                    elif "@type" in container and expanded_k != "@none":
                        types = item.get("@type", [])
                        types = types if isinstance(types, list) else [types]
                        item["@type"] = [expanded_k] + types
                    expanded_value.append(item)
        else:
            expanded_value = expand(value, key, context, ordered, base_url)

        if expanded_value is None and not (
            td is not None and "@list" in container and isinstance(value, list)
        ):
            if expanded_value is None:
                continue

        # list/graph wrapping (expand.rb:769-782)
        if "@list" in container and not is_list_object(expanded_value):
            expanded_value = {
                "@list": expanded_value
                if isinstance(expanded_value, list)
                else [expanded_value]
            }
        if "@graph" in container and not (container & {"@id", "@index"}):
            ev = (
                expanded_value
                if isinstance(expanded_value, list)
                else [expanded_value]
            )
            expanded_value = [
                {"@graph": v if isinstance(v, list) else [v]} for v in ev
            ]

        if td is not None and td.reverse:
            reverse_map = output.setdefault("@reverse", {})
            items = (
                expanded_value
                if isinstance(expanded_value, list)
                else [expanded_value]
            )
            for item in items:
                if is_value_object(item) or is_list_object(item):
                    raise JsonLdError(err.INVALID_REVERSE_PROPERTY_VALUE, key)
                add_value(
                    reverse_map, expanded_property, item, property_is_array=True
                )
        else:
            add_value(
                output, expanded_property, expanded_value, property_is_array=True
            )

    # @nest recursion (expand.rb:814-838)
    for nest_key in nests:
        nested_values = element[nest_key]
        nested_values = (
            nested_values if isinstance(nested_values, list) else [nested_values]
        )
        for nv in nested_values:
            if not isinstance(nv, dict) or any(
                context.expand_iri(k, vocab=True) == "@value" for k in nv
            ):
                raise JsonLdError(err.INVALID_NEST_VALUE, repr(nv))
            nest_context = context
            ntd = context.terms.get(nest_key)
            if ntd is not None and ntd.has_context:
                nest_context = context.parse(
                    ntd.context, base_url=ntd.base_url, override_protected=True
                )
            _expand_object(
                nv,
                active_property,
                nest_context,
                output,
                ordered,
                base_url,
                type_key=None,
            )
