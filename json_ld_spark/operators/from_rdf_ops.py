"""Relational fromRDF: the triples table → expanded JSON-LD node
documents, as DataFrame transforms.

Parity: from_statements (/root/reference/lib/json/ld/from_rdf.rb:22-188)
is the reference's only naturally-relational algorithm — group
statements by (graph, subject), fold rdf:type into @type, collapse
well-formed rdf:first/rdf:rest chains into @list. Here:

  - node reconstitution = groupBy(graph, subj) + collect_list (one
    shuffle, map-side partial aggregation);
  - list reconstitution = a bounded iterative self-join walking
    rdf:rest chains backwards from rdf:nil (from_rdf.rb:134-166), the
    DataFrame analog of the usages loop;
  - value objects are built with to_json over structs, never Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RDFNS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDF_TYPE = RDFNS + "type"
RDF_FIRST = RDFNS + "first"
RDF_REST = RDFNS + "rest"
RDF_NIL = RDFNS + "nil"
XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"


def _object_json(obj_value, obj_is_iri, obj_datatype, obj_language):
    """Column: JSON text of the expanded object representation
    (mirrors resource_representation, from_rdf.rb:194-251)."""
    return F.when(
        obj_is_iri, F.to_json(F.struct(obj_value.alias("@id")))
    ).otherwise(
        F.when(
            obj_language.isNotNull(),
            F.to_json(
                F.struct(
                    obj_value.alias("@value"), obj_language.alias("@language")
                )
            ),
        ).when(
            obj_datatype.isNotNull() & (obj_datatype != XSD_STRING),
            F.to_json(
                F.struct(obj_value.alias("@value"), obj_datatype.alias("@type"))
            ),
        ).otherwise(F.to_json(F.struct(obj_value.alias("@value"))))
    )


def triples_to_node_docs(triples: DataFrame) -> DataFrame:
    """(graph, subj, node_json): expanded node objects reassembled from
    the triple table. @type folded per from_rdf.rb:76-79."""
    t = triples.select(
        F.coalesce(F.col("graph"), F.lit("@default")).alias("g"),
        "subj", "pred", "obj_value", "obj_is_iri", "obj_datatype",
        "obj_language",
    )
    typed = t.filter(F.col("pred") == RDF_TYPE).groupBy("g", "subj").agg(
        F.sort_array(F.collect_set("obj_value")).alias("types")
    )
    props = (
        t.filter(F.col("pred") != RDF_TYPE)
        .withColumn(
            "obj_json",
            _object_json(
                F.col("obj_value"), F.col("obj_is_iri"),
                F.col("obj_datatype"), F.col("obj_language"),
            ),
        )
        .groupBy("g", "subj", "pred")
        .agg(F.sort_array(F.collect_list("obj_json")).alias("objs"))
        .groupBy("g", "subj")
        .agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("pred", "objs")))
            ).alias("props")
        )
    )
    nodes = props.join(typed, ["g", "subj"], "full")
    return nodes.select(
        F.col("g").alias("graph"),
        "subj",
        F.to_json(
            F.struct(
                F.col("subj").alias("@id"),
                F.col("types").alias("@type"),
                F.col("props").alias("properties"),
            )
        ).alias("node_json"),
    )


RDF_LANGSTRING = RDFNS + "langString"

_NODE_SCHEMA = (
    "struct<`@id`:string, `@type`:array<string>, "
    "properties:map<string,array<string>>>"
)
_OBJ_SCHEMA = (
    "struct<`@id`:string, `@value`:string, `@type`:string, "
    "`@language`:string>"
)


def node_docs_to_triples(node_docs: DataFrame) -> DataFrame:
    """Inverse of triples_to_node_docs: parse node_json back into
    triple rows — entirely with native from_json/explode (no Python).

    Used as the round-trip correctness gate: triples → node docs →
    triples must reproduce the original triple set exactly, which lets
    the DuckDB triple oracle validate the JSON document content
    end-to-end. Canonicalization on the way back (faithful to RDF 1.1
    semantics): plain @value → xsd:string (the default literal
    datatype); @language → rdf:langString; graph '@default' → NULL.
    """
    parsed = node_docs.select(
        F.when(F.col("graph") == "@default", F.lit(None))
        .otherwise(F.col("graph")).alias("graph"),
        F.from_json("node_json", _NODE_SCHEMA).alias("n"),
    )
    type_triples = parsed.select(
        F.col("n.`@id`").alias("subj"),
        F.lit(RDF_TYPE).alias("pred"),
        F.explode("n.`@type`").alias("obj_value"),
        F.lit(True).alias("obj_is_iri"),
        F.lit(None).cast("string").alias("obj_datatype"),
        F.lit(None).cast("string").alias("obj_language"),
        F.col("graph"),
    )
    props = (
        parsed.select(
            "graph",
            F.col("n.`@id`").alias("subj"),
            F.explode("n.properties").alias("pred", "objs"),
        )
        # generators can't nest inside expressions: explode to a plain
        # column first, parse in the next projection
        .select("graph", "subj", "pred", F.explode("objs").alias("obj_json"))
        .select(
            "graph", "subj", "pred",
            F.from_json("obj_json", _OBJ_SCHEMA).alias("o"),
        )
    )
    is_iri = F.col("o.`@id`").isNotNull()
    prop_triples = props.select(
        "subj",
        "pred",
        F.coalesce(F.col("o.`@id`"), F.col("o.`@value`")).alias("obj_value"),
        is_iri.alias("obj_is_iri"),
        F.when(is_iri, F.lit(None).cast("string"))
        .when(F.col("o.`@language`").isNotNull(), F.lit(RDF_LANGSTRING))
        .otherwise(F.coalesce(F.col("o.`@type`"), F.lit(XSD_STRING)))
        .alias("obj_datatype"),
        F.col("o.`@language`").alias("obj_language"),
        "graph",
    )
    return type_triples.unionByName(prop_triples)


def reconstitute_lists(
    triples: DataFrame,
    max_iter: int = 12,
) -> DataFrame:
    """(head, items, depth, exhausted): rdf:first/rest chains collapsed
    by POINTER DOUBLING — each round joins every unfinished chain state
    with the state its tail points at, so round k covers chains of up
    to 2^k cells: max_iter=12 handles 4096-cell lists in 12 joins
    (one-cell-per-join walking would need 4096 rounds).

    Parity: from_rdf.rb:134-166 (the usages walk). Only maximal chains
    (heads not referenced as another cell's rest) are returned. Chains
    longer than 2^max_iter cells — or cyclic ones — are NOT silently
    dropped: they come back with exhausted=true and the items collected
    so far, so callers can quarantine or re-run with a higher bound.

    Every round cuts lineage with ``localCheckpoint``: each doubling
    round joins the previous state with itself, so an uncut plan
    re-derives all earlier rounds twice over.
    """
    cells = (
        triples.filter(F.col("pred").isin(RDF_FIRST, RDF_REST))
        .groupBy("subj")
        .pivot("pred", [RDF_FIRST, RDF_REST])
        .agg(F.first("obj_value"))
        .withColumnRenamed(RDF_FIRST, "first")
        .withColumnRenamed(RDF_REST, "rest")
        .filter(F.col("first").isNotNull() & F.col("rest").isNotNull())
    )
    # state: per chain-start node, the items accumulated from it up to
    # (not including) ptr; ptr = rdf:nil means the chain is complete.
    # One row per node throughout — doubling never inflates the row
    # count (emitting every sub-interval would be quadratic).
    state = cells.select(
        F.col("subj").alias("head"),
        F.array("first").alias("items"),
        F.col("rest").alias("ptr"),
    ).localCheckpoint()
    for _ in range(max_iter):
        # this take(1) doubles as the materializer of the lazy
        # checkpoint below — one blocking job per doubling round
        todo = state.filter(F.col("ptr") != RDF_NIL)
        if not todo.take(1):
            break
        done = state.filter(F.col("ptr") == RDF_NIL)
        stepped = (
            todo.alias("a")
            .join(
                state.alias("b"),
                F.col("a.ptr") == F.col("b.head"),
                "left",
            )
            .select(
                F.col("a.head").alias("head"),
                F.when(
                    F.col("b.head").isNotNull(),
                    F.concat(F.col("a.items"), F.col("b.items")),
                ).otherwise(F.col("a.items")).alias("items"),
                # dangling ptr (malformed chain): keep it — surfaces
                # as exhausted=true below instead of vanishing
                F.coalesce(F.col("b.ptr"), F.col("a.ptr")).alias("ptr"),
            )
        )
        state = done.union(stepped).localCheckpoint(eager=False)
    # keep only maximal chains (heads that are not some other cell's rest)
    inner = cells.select(F.col("rest").alias("head")).distinct()
    return state.join(inner, "head", "left_anti").select(
        "head",
        "items",
        F.size("items").alias("depth"),
        (F.col("ptr") != RDF_NIL).alias("exhausted"),
    )
