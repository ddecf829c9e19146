"""Relational fromRDF operators vs the pure core (SURVEY §2.6)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from json_ld_spark.operators.from_rdf_ops import (
    reconstitute_lists,
    triples_to_node_docs,
)

TRIPLE_SCHEMA = (
    "subj string, pred string, obj_value string, obj_is_iri boolean, "
    "obj_datatype string, obj_language string, graph string"
)
RDFNS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
XSD = "http://www.w3.org/2001/XMLSchema#"


def test_node_reconstitution(spark):
    rows = [
        ("http://e/s", RDFNS + "type", "http://e/T", True, None, None, None),
        ("http://e/s", "http://e/p", "hello", False, XSD + "string", None, None),
        ("http://e/s", "http://e/p", "42", False, XSD + "integer", None, None),
        ("http://e/s", "http://e/q", "bonjour", False, RDFNS + "langString", "fr", None),
        ("http://e/s", "http://e/r", "http://e/o", True, None, None, None),
        ("http://e/o", "http://e/p", "x", False, XSD + "string", None, "http://e/g"),
    ]
    df = spark.createDataFrame(rows, TRIPLE_SCHEMA)
    nodes = {(r["graph"], r["subj"]): json.loads(r["node_json"])
             for r in triples_to_node_docs(df).collect()}
    s = nodes[("@default", "http://e/s")]
    assert s["@type"] == ["http://e/T"]
    props = s["properties"]
    p_vals = [json.loads(v) for v in props["http://e/p"]]
    assert {"@value": "hello"} in p_vals
    assert {"@value": "42", "@type": XSD + "integer"} in p_vals
    q_vals = [json.loads(v) for v in props["http://e/q"]]
    assert q_vals == [{"@value": "bonjour", "@language": "fr"}]
    r_vals = [json.loads(v) for v in props["http://e/r"]]
    assert r_vals == [{"@id": "http://e/o"}]
    assert ("http://e/g", "http://e/o") in nodes


def test_list_reconstitution(spark):
    # two lists: (a b c) and (z); one dangling cell chain fragment
    rows = [
        ("_:l0", RDFNS + "first", "a", False, XSD + "string", None, None),
        ("_:l0", RDFNS + "rest", "_:l1", True, None, None, None),
        ("_:l1", RDFNS + "first", "b", False, XSD + "string", None, None),
        ("_:l1", RDFNS + "rest", "_:l2", True, None, None, None),
        ("_:l2", RDFNS + "first", "c", False, XSD + "string", None, None),
        ("_:l2", RDFNS + "rest", RDFNS + "nil", True, None, None, None),
        ("_:m0", RDFNS + "first", "z", False, XSD + "string", None, None),
        ("_:m0", RDFNS + "rest", RDFNS + "nil", True, None, None, None),
    ]
    df = spark.createDataFrame(rows, TRIPLE_SCHEMA)
    lists = {r["head"]: list(r["items"]) for r in reconstitute_lists(df).collect()}
    assert lists == {"_:l0": ["a", "b", "c"], "_:m0": ["z"]}


def _chain_rows(head: str, n_cells: int):
    rows = []
    for i in range(n_cells):
        rest = RDFNS + "nil" if i == n_cells - 1 else f"{head}{i + 1}"
        rows.append((f"{head}{i}" if i else head, RDFNS + "first",
                     f"v{i}", False, XSD + "string", None, None))
        rows.append((f"{head}{i}" if i else head, RDFNS + "rest",
                     rest, True, None, None, None))
    return rows


def test_list_pointer_doubling_4096_cells(spark):
    """A 4096-cell chain reconstitutes within max_iter=12 doubling
    joins (2^12 = 4096); one-cell-per-round walking would need 4096."""
    df = spark.createDataFrame(_chain_rows("_:big", 4096), TRIPLE_SCHEMA)
    rows = reconstitute_lists(df, max_iter=12).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["depth"] == 4096 and not r["exhausted"]
    assert list(r["items"]) == [f"v{i}" for i in range(4096)]


def test_list_truncation_surfaced_not_dropped(spark):
    """Chains longer than 2^max_iter must come back exhausted=true
    with the collected prefix — never silently vanish."""
    df = spark.createDataFrame(_chain_rows("_:long", 20), TRIPLE_SCHEMA)
    rows = reconstitute_lists(df, max_iter=3).collect()  # 2^3 = 8 < 20
    assert len(rows) == 1
    r = rows[0]
    assert r["exhausted"] and r["depth"] < 20
    assert list(r["items"]) == [f"v{i}" for i in range(r["depth"])]
    # and with enough rounds the same input completes
    full = reconstitute_lists(df, max_iter=5).collect()[0]
    assert not full["exhausted"] and full["depth"] == 20


def test_lists_roundtrip_through_pipeline(spark):
    """Core toRDF list chains must reassemble to the original order."""
    from json_ld_spark.core import api as core_api

    doc = {
        "@id": "http://e/s",
        "http://e/p": {"@list": ["x", "y", "z", "w"]},
    }
    triples = core_api.to_rdf(doc)
    rows = [
        (
            ("_:" + t.subject.value) if t.subject.kind == "bnode" else t.subject.value,
            t.predicate.value,
            ("_:" + t.obj.value) if t.obj.kind == "bnode" else t.obj.value,
            t.obj.kind != "literal",
            t.obj.datatype if t.obj.kind == "literal" else None,
            t.obj.language if t.obj.kind == "literal" else None,
            None,
        )
        for t in triples
    ]
    df = spark.createDataFrame(rows, TRIPLE_SCHEMA)
    lists = reconstitute_lists(df).collect()
    assert len(lists) == 1
    assert list(lists[0]["items"]) == ["x", "y", "z", "w"]
