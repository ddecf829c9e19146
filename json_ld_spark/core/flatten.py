"""Node-map generation (flattening) + blank-node relabeling.

Implements W3C JSON-LD 1.1 §7 (Flattening: Node Map Generation).
Parity targets (reference, read-only):
  - create_node_map       /root/reference/lib/json/ld/flatten.rb:30-201
  - rename_bnodes         flatten.rb:253-265
  - merge graphs          flatten.rb:274-296

The node map `graph → subject-id → node` is the reference's only
table-like structure (SURVEY §1.1.4); in Spark its *global* counterpart
is simply the triples DataFrame grouped by (graph, subj) — this module
is the per-document step that runs inside Arrow-batched UDFs with zero
shuffle (documents are independent).
"""

from __future__ import annotations

from typing import Any, Optional

from json_ld_spark.core import errors as err
from json_ld_spark.core.errors import JsonLdError
from json_ld_spark.core.keywords import (
    BlankNodeNamer,
    add_value,
    compare_values,
    is_blank_node_id,
)


def rename_bnodes(element: Any, namer: BlankNodeNamer) -> Any:
    """Recursively relabel `_:` identifiers. Parity: flatten.rb:253-265."""
    if isinstance(element, list):
        return [rename_bnodes(e, namer) for e in element]
    if isinstance(element, dict):
        out = {}
        for k, v in element.items():
            if k == "@id" and isinstance(v, str) and is_blank_node_id(v):
                out[k] = namer.get_name(v)
            else:
                out[k] = rename_bnodes(v, namer)
        return out
    return element


def _subject_key(subject: Any) -> Any:
    """Graph-map key for a subject id: embedded (dict) ids key by
    canonical JSON (flatten.rb:102-106)."""
    if isinstance(subject, dict):
        from json_ld_spark.core.rdf import jcs_canonicalize

        return jcs_canonicalize(subject)
    return subject


def create_node_map(
    element: Any,
    graph_map: dict[str, dict[str, dict]],
    active_graph: str = "@default",
    active_subject: Any = None,
    active_property: Optional[str] = None,
    list_obj: Optional[dict] = None,
    namer: Optional[BlankNodeNamer] = None,
    reverse: bool = False,
) -> None:
    """Populate ``graph_map`` from expanded ``element``.

    Parity: create_node_map, flatten.rb:30-201.
    """
    if namer is None:
        namer = BlankNodeNamer()
    if isinstance(element, list):
        for item in element:
            create_node_map(
                item, graph_map, active_graph, active_subject, active_property,
                list_obj, namer, reverse,
            )
        return
    assert isinstance(element, dict), f"expected dict, got {element!r}"
    graph = graph_map.setdefault(active_graph, {})
    subject_node = (
        graph.get(_subject_key(active_subject))
        if active_subject is not None
        else None
    )

    # relabel bnode types, preserving string-vs-array shape
    # (flatten.rb:53-55; value objects keep a string @type)
    if "@type" in element:
        types = element["@type"]
        if isinstance(types, list):
            element["@type"] = [
                namer.get_name(t) if is_blank_node_id(t) else t for t in types
            ]
        elif is_blank_node_id(types):
            element["@type"] = namer.get_name(types)

    if "@value" in element:
        # rdfstar annotation on a value: reify (flatten.rb:60-82)
        if "@annotation" in element:
            annotations = element.pop("@annotation")
            as_ = (
                active_subject["@id"]
                if isinstance(active_subject, dict) and set(active_subject) == {"@id"}
                else active_subject
            )
            star_subject = {"@id": as_, active_property: [element]}
            create_node_map(
                [dict(a, **{"@id": star_subject}) for a in annotations],
                graph_map, active_graph, None, None, None, namer,
            )
        if list_obj is None:
            if subject_node is not None:
                add_value(
                    subject_node, active_property, element,
                    property_is_array=True, allow_duplicate=False,
                )
        else:
            list_obj["@list"].append(element)
        return

    if "@list" in element:
        result: dict[str, Any] = {"@list": []}
        create_node_map(
            element["@list"], graph_map, active_graph, active_subject,
            active_property, result, namer,
        )
        if "@index" in element:
            result["@index"] = element["@index"]
        if list_obj is None:
            if subject_node is not None:
                add_value(subject_node, active_property, result, property_is_array=True)
        else:
            list_obj["@list"].append(result)
        return

    # node object
    element_id = element.pop("@id", None)
    ser_id = element_id
    if isinstance(element_id, dict):
        # rdfstar embedded node: index the graph by canonical JSON
        from json_ld_spark.core.rdf import jcs_canonicalize

        ser_id = jcs_canonicalize(element_id)
    elif element_id is None:
        ser_id = element_id = namer.get_name()
    elif is_blank_node_id(element_id):
        ser_id = element_id = namer.get_name(element_id)

    node = graph.setdefault(ser_id, {"@id": element_id})

    # subject as reverse-reference target (flatten.rb:112-127)
    if reverse:
        add_value(
            node, active_property, active_subject,
            property_is_array=True, allow_duplicate=False,
        )
    elif active_property is not None:
        reference = {"@id": element_id}
        if list_obj is None:
            if subject_node is not None:
                add_value(
                    subject_node, active_property, reference,
                    property_is_array=True, allow_duplicate=False,
                )
        else:
            list_obj["@list"].append(reference)

    if "@annotation" in element:
        # rdfstar annotation on a node reference (flatten.rb:129-151)
        annotations = element.pop("@annotation")
        as_ = (
            active_subject["@id"]
            if isinstance(active_subject, dict) and set(active_subject) == {"@id"}
            else active_subject
        )
        if reverse:
            # the annotated statement runs node → property → subject
            # (flatten.rb:137-139)
            star_subject = {"@id": node["@id"], active_property: [{"@id": as_}]}
        else:
            star_subject = {"@id": as_, active_property: [{"@id": node["@id"]}]}
        create_node_map(
            [dict(a, **{"@id": star_subject}) for a in annotations],
            graph_map, active_graph, None, None, None, namer,
        )

    if "@type" in element:
        add_value(
            node, "@type", element.pop("@type"),
            property_is_array=True, allow_duplicate=False,
        )

    if "@index" in element:
        idx = element.pop("@index")
        if "@index" in node and not compare_values(node["@index"], idx):
            raise JsonLdError(err.CONFLICTING_INDEXES, element_id)
        node["@index"] = idx

    if "@reverse" in element:
        referenced = {"@id": element_id}
        reverse_map = element.pop("@reverse")
        for prop, values in reverse_map.items():
            for value in values:
                create_node_map(
                    value, graph_map, active_graph, referenced, prop,
                    None, namer, reverse=True,
                )

    if "@graph" in element:
        create_node_map(
            element.pop("@graph"), graph_map, element_id, None, None, None, namer
        )

    if "@included" in element:
        create_node_map(
            element.pop("@included"), graph_map, active_graph, None, None, None,
            namer,
        )

    # insertion (document) order — flatten.rb:189 `each_key`; node-map
    # insertion order drives framing's @embed:@once winners
    for prop in list(element.keys()):
        value = element[prop]
        if is_blank_node_id(prop):
            prop = namer.get_name(prop)
        node.setdefault(prop, [])
        create_node_map(
            value, graph_map, active_graph, element_id, prop, None, namer
        )


def merge_node_map_graphs(graph_map: dict[str, dict[str, dict]]) -> dict[str, dict]:
    """Union all graphs into @merged. Parity: flatten.rb:274-296."""
    merged: dict[str, dict] = {}
    # insertion order (flatten.rb:276-277 `each`): merged-graph node
    # order feeds framing's match iteration
    for _graph, nodes in graph_map.items():
        for sid, node in nodes.items():
            merged_node = merged.setdefault(sid, {"@id": sid})
            for prop, values in node.items():
                if prop == "@id":
                    continue
                # @type MERGES across graphs; other keywords copy
                # (flatten.rb:282-288)
                if prop.startswith("@") and prop != "@type":
                    merged_node[prop] = node[prop]
                else:
                    add_value(
                        merged_node, prop, values,
                        property_is_array=True, allow_duplicate=False,
                    )
    return merged


def flatten_expanded(
    expanded: list, ordered: bool = False,
    namer: Optional[BlankNodeNamer] = None,
    create_annotations_flag: bool = False,
) -> list:
    """Expanded document → flattened array (default graph with named
    graphs nested under their graph-name node).

    Parity: API.flatten driver, api.rb:290-352.
    """
    namer = namer or BlankNodeNamer()
    renamed = rename_bnodes(expanded, namer)
    graph_map: dict[str, dict[str, dict]] = {"@default": {}}
    create_node_map(renamed, graph_map, namer=namer)

    # rdfstar: fold reified statements back to @annotation, only under
    # the createAnnotations option (api.rb:319-323)
    if create_annotations_flag:
        for node_map in graph_map.values():
            create_annotations(node_map)

    default_graph = graph_map["@default"]
    for graph_name in sorted(k for k in graph_map if k != "@default"):
        entry = default_graph.setdefault(graph_name, {"@id": graph_name})
        nodes = graph_map[graph_name]
        entry["@graph"] = [
            node
            for _id, node in sorted(nodes.items())
            if not (set(node.keys()) <= {"@id"})
        ]
    flattened = [
        node
        for _id, node in sorted(default_graph.items())
        if not (set(node.keys()) <= {"@id"})
    ]
    return flattened


def create_annotations(node_map: dict) -> None:
    """Fold reified rdfstar statements back into ``@annotation`` on the
    host value. Parity: create_annotations, flatten.rb:216-246.

    Reified entries are keyed by canonical JSON ('{'-prefixed); longest
    keys first so nested annotations fold inside-out."""
    from json_ld_spark.core.rdf import jcs_canonicalize

    keys = sorted(
        (k for k in node_map if isinstance(k, str) and k.startswith("{")),
        key=len, reverse=True,
    )
    for key in keys:
        annotation = node_map[key]
        emb = dict(annotation.get("@id") or {})
        if not emb:
            continue
        host_id = emb.pop("@id", None)
        if not emb:
            continue
        prop, value = next(iter(emb.items()))
        if isinstance(host_id, dict):
            host_id = jcs_canonicalize(host_id)
        if host_id not in node_map:
            continue
        node = node_map[host_id]
        if prop not in node:
            continue
        for emb_value in node[prop]:
            if emb_value == value[0]:
                del node_map[key]
                ann = {k: v for k, v in annotation.items() if k != "@id"}
                if ann:
                    add_value(
                        emb_value, "@annotation", ann, property_is_array=True
                    )
                break
