"""JSON-LD 1.1 Compaction Algorithm.

Implements W3C JSON-LD 1.1 API §6.1: expanded document + context →
compacted document (term selection via inverse context, array
collapse, container maps, @reverse, nest groups).

Parity targets (reference, read-only):
  - compact               /root/reference/lib/json/ld/compact.rb:21-353
  - API.compact driver    /root/reference/lib/json/ld/api.rb:235-264

Output-formatting path only — triple emission never compacts
(SURVEY §2.7), so this runs in a UDF only when a user asks for
compacted JSON-LD documents back out of the graph tables.
"""

from __future__ import annotations

from typing import Any, Optional

from json_ld_spark.core import errors as err
from json_ld_spark.core.context import Context
from json_ld_spark.core.errors import JsonLdError
from json_ld_spark.core.keywords import (
    add_value,
    is_graph_object,
    is_list_object,
    is_value_object,
)


def _as_array_term(context: Context, term: Optional[str]) -> bool:
    """Parity: Context#as_array?, context.rb:1182-1187: @set/@list/@graph
    keywords, or a term with @set/@list container."""
    if term in ("@set", "@list", "@graph"):
        return True
    td = context.terms.get(term) if term else None
    return td is not None and bool(td.container & {"@set", "@list"})


def compact(
    element: Any,
    active_property: Optional[str],
    context: Context,
    ordered: bool = False,
    compact_arrays: bool = True,
) -> Any:
    """Parity: compact.rb:21-353 (same branch structure, condensed)."""
    # original (possibly type-scoped) context at entry: term-def lookup
    # for the active property and @type compaction use THIS, even after
    # reversion / property-scoped re-parse (compact.rb:28,60,122)
    input_context = context
    td = input_context.terms.get(active_property) if active_property else None

    if isinstance(element, list):
        result = [
            c
            for item in element
            if (c := compact(item, active_property, context, ordered, compact_arrays))
            is not None
        ]
        if (
            len(result) == 1
            and compact_arrays
            and not _as_array_term(context, active_property)
        ):
            return result[0]
        return result

    if not isinstance(element, dict):
        return element

    # context reversion for non-value/non-reference (compact.rb:54-60)
    if context.previous_context is not None:
        keys = set(element.keys())
        if "@value" not in keys and keys != {"@id"}:
            context = context.previous_context

    # property-scoped context (compact.rb:62-66)
    if td is not None and td.has_context:
        context = context.parse(
            td.context, base_url=td.base_url, override_protected=True
        )

    if "@value" in element or (set(element.keys()) == {"@id"}):
        res = context.compact_value(active_property, element)
        if not isinstance(res, dict) or (
            td is not None and td.type_mapping == "@json"
        ):
            return res
        element = res if isinstance(res, dict) else element

    if is_list_object(element) and td is not None and "@list" in td.container:
        return compact(element["@list"], active_property, context, ordered, compact_arrays)

    inside_reverse = active_property == "@reverse"
    result: dict[str, Any] = {}
    nest_result: dict[str, dict] = {}

    # type-scoped contexts from @type (compact.rb:87-96)
    if "@type" in element:
        types = element["@type"]
        types = types if isinstance(types, list) else [types]
        compacted_types = sorted(
            context.compact_iri(t, vocab=True) for t in types
        )
        for ct in compacted_types:
            ctd = input_context.terms.get(ct)
            if ctd is not None and ctd.has_context:
                context = context.parse(
                    ctd.context, base_url=ctd.base_url, propagate=False
                )

    keys = sorted(element.keys()) if ordered or True else list(element.keys())
    for expanded_property in keys:
        expanded_value = element[expanded_property]

        if expanded_property in ("@id",):
            vals = (
                expanded_value
                if isinstance(expanded_value, list)
                else [expanded_value]
            )
            compacted_ids = [
                # rdfstar embedded node compacts recursively
                # (compact.rb:104-110)
                compact(v, "@id", context, ordered, compact_arrays)
                if isinstance(v, dict)
                else context.compact_iri(v)
                for v in vals
            ]
            alias = context.compact_iri("@id", vocab=True)
            result[alias] = (
                compacted_ids[0] if len(compacted_ids) == 1 else compacted_ids
            )
            continue
        if expanded_property == "@type":
            types = (
                expanded_value
                if isinstance(expanded_value, list)
                else [expanded_value]
            )
            # compacted against the INPUT context (compact.rb:122-124:
            # type-scoped terms must not affect @type values)
            compacted = [input_context.compact_iri(t, vocab=True) for t in types]
            alias = context.compact_iri("@type", vocab=True)
            as_arr = len(compacted) > 1 or (
                context.processing_mode != "json-ld-1.0"
                and _as_array_term(context, alias)
                and "@value" not in element
            )
            add_value(result, alias, compacted, property_is_array=as_arr)
            continue
        if expanded_property == "@reverse":
            rev = compact(expanded_value, "@reverse", context, ordered, compact_arrays)
            if isinstance(rev, dict):
                for prop in list(rev.keys()):
                    ptd = context.terms.get(prop)
                    if ptd is not None and ptd.reverse:
                        value = rev.pop(prop)
                        add_value(
                            result,
                            prop,
                            value,
                            property_is_array="@set" in ptd.container
                            or not compact_arrays,
                        )
                if rev:
                    alias = context.compact_iri("@reverse", vocab=True)
                    result[alias] = rev
            continue
        if expanded_property == "@preserve":
            preserved = compact(
                expanded_value, active_property, context, ordered, compact_arrays
            )
            if preserved != []:
                result["@preserve"] = preserved
            continue
        if expanded_property == "@index":
            if td is not None and "@index" in td.container:
                continue  # handled by the index map
            alias = context.compact_iri("@index", vocab=True)
            result[alias] = expanded_value
            continue
        if expanded_property in ("@direction", "@language", "@value"):
            alias = context.compact_iri(expanded_property, vocab=True)
            result[alias] = expanded_value
            continue

        # empty array (compact.rb:181-196)
        if expanded_value == []:
            item_active_property = context.compact_iri(
                expanded_property, value=expanded_value,
                vocab=True, reverse=inside_reverse,
            )
            nest_prop = None
            iap_td = context.terms.get(item_active_property)
            if iap_td is not None and iap_td.nest:
                nest_prop = iap_td.nest
                _check_nest(context, nest_prop)
                target = nest_result.setdefault(
                    context.compact_iri(nest_prop, vocab=True)
                    if nest_prop != "@nest"
                    else context.compact_iri("@nest", vocab=True),
                    {},
                )
            else:
                target = result
            add_value(target, item_active_property, [], value_is_array=True)
            continue

        for expanded_item in (
            expanded_value
            if isinstance(expanded_value, list)
            else [expanded_value]
        ):
            item_active_property = context.compact_iri(
                expanded_property, value=expanded_item,
                vocab=True, reverse=inside_reverse,
            )
            iap_td = context.terms.get(item_active_property)
            if iap_td is not None and iap_td.nest:
                nest_prop = iap_td.nest
                _check_nest(context, nest_prop)
                nest_alias = (
                    context.compact_iri("@nest", vocab=True)
                    if nest_prop == "@nest"
                    else nest_prop
                )
                target = nest_result.setdefault(nest_alias, {})
            else:
                target = result
            container = iap_td.container if iap_td is not None else frozenset()
            as_array = (
                "@set" in container
                or item_active_property in ("@graph", "@list")
                or not compact_arrays
            )

            # value to compact: list contents, graph contents, or item
            # (compact.rb:214-226)
            if is_list_object(expanded_item):
                to_compact: Any = expanded_item["@list"]
            elif is_graph_object(expanded_item):
                to_compact = expanded_item["@graph"]
            else:
                to_compact = expanded_item

            compacted_item = compact(
                to_compact, item_active_property, context, ordered,
                compact_arrays,
            )

            if is_list_object(expanded_item):
                if not isinstance(compacted_item, list):
                    compacted_item = [compacted_item]
                if "@list" in container:
                    # compact.rb:232-234: assign (value_is_array)
                    target[item_active_property] = compacted_item
                    continue
                wrapper = {
                    context.compact_iri("@list", vocab=True): compacted_item
                }
                if "@index" in expanded_item:
                    wrapper[
                        context.compact_iri("@index", vocab=True)
                    ] = expanded_item["@index"]
                compacted_item = wrapper
                add_value(
                    target, item_active_property, compacted_item,
                    property_is_array=as_array,
                )
                continue

            # graph object compaction, three-way (compact.rb:246-286)
            if is_graph_object(expanded_item):
                simple = "@id" not in expanded_item
                if "@graph" in container and (
                    "@id" in container or ("@index" in container and simple)
                ):
                    # graph-as-map keyed by @id / @index / @none
                    map_object = target.setdefault(item_active_property, {})
                    if "@id" in container and "@id" in expanded_item:
                        map_key = context.compact_iri(expanded_item["@id"])
                    elif "@index" in container and "@index" in expanded_item:
                        map_key = context.compact_iri(
                            expanded_item["@index"], vocab=True
                        )
                    else:
                        map_key = context.compact_iri("@none", vocab=True)
                    add_value(
                        map_object, map_key, compacted_item,
                        property_is_array=as_array,
                    )
                elif "@graph" in container and simple:
                    # multiple nodes in one simple graph need @included
                    # (compact.rb:263-268)
                    if isinstance(compacted_item, list) and len(compacted_item) > 1:
                        compacted_item = {
                            context.compact_iri("@included", vocab=True):
                                compacted_item
                        }
                    add_value(
                        target, item_active_property, compacted_item,
                        property_is_array=as_array,
                    )
                else:
                    # re-wrap with explicit @graph (+@id/@index) aliases
                    compacted_item = {
                        context.compact_iri("@graph", vocab=True): compacted_item
                    }
                    if "@id" in expanded_item:
                        compacted_item[
                            context.compact_iri("@id", vocab=True)
                        ] = context.compact_iri(expanded_item["@id"])
                    if "@index" in expanded_item:
                        compacted_item[
                            context.compact_iri("@index", vocab=True)
                        ] = expanded_item["@index"]
                    add_value(
                        target, item_active_property, compacted_item,
                        property_is_array=as_array,
                    )
                continue

            if container & {"@language", "@index", "@id", "@type"} and "@graph" not in container:
                map_object = target.setdefault(item_active_property, {})
                if "@language" in container:
                    key = (
                        expanded_item.get("@language", "@none")
                        if isinstance(expanded_item, dict)
                        else "@none"
                    )
                    if is_value_object(expanded_item):
                        compacted_item = expanded_item["@value"]
                elif "@index" in container:
                    index_key = iap_td.index or "@index"
                    if index_key == "@index":
                        key = (
                            expanded_item.get("@index", "@none")
                            if isinstance(expanded_item, dict)
                            else "@none"
                        )
                    else:
                        # property-based index extraction (compact.rb:300-320)
                        key = "@none"
                        if isinstance(compacted_item, dict):
                            container_key = context.compact_iri(
                                context.expand_iri(index_key, vocab=True),
                                vocab=True,
                            )
                            kv = compacted_item.get(container_key)
                            if isinstance(kv, list) and kv:
                                key = kv[0] if isinstance(kv[0], str) else "@none"
                                rest = kv[1:]
                                if rest:
                                    compacted_item[container_key] = (
                                        rest[0] if len(rest) == 1 else rest
                                    )
                                else:
                                    compacted_item.pop(container_key, None)
                            elif isinstance(kv, str):
                                key = kv
                                compacted_item.pop(container_key, None)
                elif "@id" in container:
                    key_alias = context.compact_iri("@id", vocab=True)
                    key = (
                        compacted_item.pop(key_alias, "@none")
                        if isinstance(compacted_item, dict)
                        else "@none"
                    )
                else:  # @type
                    key_alias = context.compact_iri("@type", vocab=True)
                    key = "@none"
                    if isinstance(compacted_item, dict):
                        types = compacted_item.get(key_alias)
                        if types is not None:
                            types = types if isinstance(types, list) else [types]
                            if types:
                                key = types[0]
                                rest = types[1:]
                                if rest:
                                    compacted_item[key_alias] = (
                                        rest[0] if len(rest) == 1 else rest
                                    )
                                else:
                                    compacted_item.pop(key_alias, None)
                        if set(compacted_item.keys()) == {key_alias}:
                            pass
                key = key if isinstance(key, str) else "@none"
                if key == "@none":
                    key = context.compact_iri("@none", vocab=True)
                add_value(
                    map_object, key, compacted_item,
                    property_is_array="@set" in container or not compact_arrays,
                )
            else:
                add_value(
                    target, item_active_property, compacted_item,
                    property_is_array=as_array,
                )

    for nest_alias, nested in nest_result.items():
        result[nest_alias] = nested
    return result


def _check_nest(context: Context, nest_prop: str) -> None:
    if nest_prop != "@nest" and context.expand_iri(nest_prop, vocab=True) != "@nest":
        raise JsonLdError(err.INVALID_NEST_VALUE, nest_prop)
