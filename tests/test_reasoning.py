"""RDFS materialization + BGP matching unit semantics.

The oracle-parity sweep gates the full pipeline output; these pin the
rule semantics on a hand-built micro-KG where every entailment is
enumerable by eye.
"""

from __future__ import annotations

import pytest

from json_ld_spark.operators.reasoning import (
    RDF_TYPE,
    bgp_match,
    rdfs_entail,
)

V = "v#"


def _facts(spark, rows):
    return spark.createDataFrame(
        rows, "subj string, pred string, obj_value string, obj_is_iri boolean"
    )


def _pairs(spark, rows, cols):
    return spark.createDataFrame(rows, cols)


def test_rdfs_rules_on_micro_kg(spark):
    facts = _facts(
        spark,
        [
            ("ada", RDF_TYPE, V + "Person", True),
            ("m1", V + "of", "ada", True),
            ("m1", V + "note", "hi", False),
        ],
    )
    sub = _pairs(
        spark,
        [(V + "Person", V + "Agent"), (V + "Agent", V + "Thing"),
         (V + "Entity", V + "Thing")],
        "sub string, sup string",
    )
    sprop = _pairs(
        spark, [(V + "of", V + "references")], "sub string, sup string"
    )
    dom = _pairs(spark, [(V + "of", V + "Mention")], "prop string, cls string")
    rng = _pairs(spark, [(V + "of", V + "Entity")], "prop string, cls string")
    rows = rdfs_entail(facts, sub, sprop, dom, rng).collect()
    got = {(r.subj, r.pred, r.obj_value): r.asserted for r in rows}
    # rdfs9 through the CLOSED hierarchy: Person -> Agent AND Thing
    assert got[("ada", RDF_TYPE, V + "Agent")] is False
    assert got[("ada", RDF_TYPE, V + "Thing")] is False
    # rdfs7
    assert got[("m1", V + "references", "ada")] is False
    # rdfs2 / rdfs3, then rdfs9 on the rule-derived types
    assert got[("m1", RDF_TYPE, V + "Mention")] is False
    assert got[("ada", RDF_TYPE, V + "Entity")] is False
    assert got[("ada", RDF_TYPE, V + "Thing")] is False
    # asserted rows keep their flag even when also derivable
    assert got[("ada", RDF_TYPE, V + "Person")] is True
    # range rule must NOT fire on the literal-object triple
    assert ("hi", RDF_TYPE, V + "Entity") not in got
    # no duplicate (s, p, o) rows survive the fold
    assert len(rows) == len(got)


def test_rdfs_range_literal_never_typed(spark):
    facts = _facts(spark, [("x", V + "p", "lit", False)])
    empty = _pairs(spark, [("_", "_")], "sub string, sup string").limit(0)
    rng = _pairs(spark, [(V + "p", V + "C")], "prop string, cls string")
    dom = rng.limit(0)
    rows = rdfs_entail(facts, empty, empty, dom, rng).collect()
    assert {(r.subj, r.pred, r.obj_value) for r in rows} == {
        ("x", V + "p", "lit")
    }


@pytest.fixture(scope="module")
def triples(spark):
    return spark.createDataFrame(
        [
            ("t1", "mentions", "m1"),
            ("t1", "mentions", "m2"),
            ("t2", "mentions", "m3"),
            ("m1", "of", "ada"),
            ("m2", "of", "turing"),
            ("m3", "of", "ada"),
            ("t1", "partOf", "c1"),
            ("t2", "partOf", "c2"),
        ],
        "subj string, pred string, obj_value string",
    )


def test_bgp_bindings(spark, triples):
    rows = bgp_match(
        triples,
        [("?t", "mentions", "?m"), ("?m", "of", "?e"), ("?t", "partOf", "?c")],
        select=["c", "t", "e"],
    ).collect()
    got = {(r.c, r.t, r.e) for r in rows}
    assert got == {("c1", "t1", "ada"), ("c1", "t1", "turing"),
                   ("c2", "t2", "ada")}


def test_bgp_constant_filter(spark, triples):
    rows = bgp_match(
        triples,
        [("?m", "of", "ada"), ("?t", "mentions", "?m")],
        select=["t"],
    ).collect()
    assert {r.t for r in rows} == {"t1", "t2"}


def test_bgp_rejects_cross_join(spark, triples):
    with pytest.raises(ValueError, match="cross-join"):
        bgp_match(
            triples, [("?a", "of", "?b"), ("?c", "partOf", "?d")]
        ).collect()


def test_sssp_prefers_cheap_two_hop_path(spark):
    from json_ld_spark.operators.graph import sssp_bounded

    edges = spark.createDataFrame(
        [("a", "b", 10), ("b", "c", 10), ("a", "c", 100), ("c", "d", 5)],
        "src string, dst string, w long",
    )
    seeds = spark.createDataFrame([("a",)], "e string")
    got = {(r.seed, r.node): r.dist
           for r in sssp_bounded(edges, seeds, k=3).collect()}
    # a->b->c (20) beats the direct a->c edge (100)
    assert got[("a", "c")] == 20
    assert got[("a", "d")] == 25
    assert got[("a", "b")] == 10
    assert got[("a", "a")] == 0


def test_sssp_hop_bound_limits_reach(spark):
    from json_ld_spark.operators.graph import sssp_bounded

    chain = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}", 1) for i in range(5)],
        "src string, dst string, w long",
    )
    seeds = spark.createDataFrame([("n0",)], "e string")
    got = {r.node for r in sssp_bounded(chain, seeds, k=2).collect()}
    assert got == {"n0", "n1", "n2"}


def test_close_pairs_matches_distributed_closure():
    """A depth-5 chain plus a side edge into its middle closes to every
    (ancestor, descendant) pair, sorted, without reflexive pairs."""
    from json_ld_spark.operators.reasoning import close_pairs

    edges = [(f"c{i}", f"c{i+1}") for i in range(5)] + [("x", "c2")]
    assert close_pairs(edges) == [
        ("c0", "c1"), ("c0", "c2"), ("c0", "c3"), ("c0", "c4"), ("c0", "c5"),
        ("c1", "c2"), ("c1", "c3"), ("c1", "c4"), ("c1", "c5"),
        ("c2", "c3"), ("c2", "c4"), ("c2", "c5"),
        ("c3", "c4"), ("c3", "c5"),
        ("c4", "c5"),
        ("x", "c2"), ("x", "c3"), ("x", "c4"), ("x", "c5"),
    ]
    assert close_pairs([]) == []


def test_validate_shapes_rules(spark):
    from json_ld_spark.operators.reasoning import validate_shapes

    t = spark.createDataFrame(
        [
            ("a", RDF_TYPE, "Turn"),
            ("a", "tool", "search"),
            ("a", "mentions", "m1"),
            ("a", "mentions", "m2"),      # functional violation (n=2)
            ("b", RDF_TYPE, "Turn"),      # required violation (no tool)
            ("b", "mentions", "m3"),      # single -> fine
            ("c", RDF_TYPE, "Other"),     # not a Turn -> unconstrained
        ],
        "subj string, pred string, obj_value string",
    )
    got = {(r.rule, r.subj, r.pred): r.n
           for r in validate_shapes(
               t, functional=["mentions"], required=[("Turn", "tool")]
           ).collect()}
    assert got == {
        ("functional", "a", "mentions"): 2,
        ("required", "b", "tool"): 0,
    }


def test_validate_shapes_requires_constraints(spark):
    from json_ld_spark.operators.reasoning import validate_shapes

    t = spark.createDataFrame(
        [("a", "p", "x")], "subj string, pred string, obj_value string"
    )
    with pytest.raises(ValueError):
        validate_shapes(t)
