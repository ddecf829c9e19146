"""Spark pipeline tests: per-turn text-equality invariant under stable
ordering (BASELINE.json input_hint), triple-count determinism,
Spark-vs-pure-core triple equality, quarantine behavior, resume."""

from __future__ import annotations

import datetime
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from json_ld_spark.operators.jsonld_ops import (
    build_turn_document,
    emit_triples,
    quarantined,
    valid_triples,
    with_stable_turn_order,
)
from json_ld_spark.sources.transcripts import synthesize_transcripts


@pytest.fixture(scope="module")
def transcripts(spark):
    return synthesize_transcripts(spark, n_convs=12, seed=42).cache()


def test_per_turn_text_equality_invariant(spark, transcripts):
    """Stable ordering recovers the generator's text per (conv, turn)
    even though rows were shuffled on write — the north-rule per-row
    invariant."""
    ordered = with_stable_turn_order(transcripts)
    # turn_rank must equal turn_idx + 1 when turn_idx is dense from 0
    bad = ordered.filter(F.col("turn_rank") != F.col("turn_idx") + 1).count()
    assert bad == 0
    # regeneration yields identical text per key (determinism)
    again = synthesize_transcripts(spark, n_convs=12, seed=42)
    joined = transcripts.alias("a").join(
        again.alias("b"), ["conv_id", "turn_idx"]
    )
    assert joined.filter(F.col("a.text") != F.col("b.text")).count() == 0


def test_synthesis_is_deterministic_across_parallelism(spark, transcripts):
    other = synthesize_transcripts(spark, n_convs=12, seed=42).repartition(1)
    assert (
        transcripts.exceptAll(other).count() == 0
        and other.exceptAll(transcripts).count() == 0
    )


_TURN_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def _edge_transcripts(spark):
    """Hand-made turns covering what the synthetic generator never
    produces: null optional fields, empty text, a repeated surface and
    adjacent surfaces, unicode and JSON-looking text, gapped and
    negative turn_idx, a single-turn conversation, a conv_id with a
    space, a turn whose surfaces overlap themselves or each other
    (``windowindow``, ``windowarp drive``, ``KyotoKyoto``), and one
    turn holding every gazetteer surface (one twice): 22 slots,
    mention labels m0…m20 in entity-id order, a score of 2."""
    from json_ld_spark.sources.gazetteer import GAZETTEER

    ts = datetime.datetime(2024, 5, 6, 7, 8, 9)
    every_surface = " | ".join(s for _, s, _ in reversed(GAZETTEER)) + " | Kyoto"
    rows = [
        ("e1", 0, None, None, None, None),
        ("e1", 1, "user", "", None, ts),
        ("e1", 5, "assistant", "Paris, Paris and ParisParis; KyotoNairobi",
         None, ts),
        ("e1", 9, "tool",
         'naïve café 日本語 — {"@id": "Alan Turing", "@type": "@vocab"}',
         "search", ts),
        ("e2", -3, "user", "Globex spark window", None, ts),
        ("e2", 4, None, "Initech", "python", None),
        ("single", 7, "user", "only one turn: stream filter", None, ts),
        ("conv with space", 0, "user", "Acme Corp", None, ts),
        ("conv with space", 1, "assistant", "warp drive", None, ts),
        ("overlap", 0, "user", "windowindow windowarp drive KyotoKyoto",
         None, ts),
        ("all surfaces", 2, "assistant", every_surface, None, ts),
    ]
    return spark.createDataFrame(rows, _TURN_SCHEMA)


def test_mention_counts_are_non_overlapping(spark):
    """Per surface, a count is its non-overlapping occurrences, as
    ``str.count`` and the oracle's ``replace`` count them: ``window``
    once in ``windowindow`` (an every-occurrence lookahead finds it
    twice) and once more in ``windowarp``, whose last letter also
    starts ``warp drive``; ``KyotoKyoto`` is two."""
    from json_ld_spark.operators.jsonld_ops import prepare_turns
    from json_ld_spark.sources.gazetteer import GAZETTEER

    t = _edge_transcripts(spark).filter(F.col("conv_id") == "overlap")
    counts = prepare_turns(t).first()["counts"]
    got = {surface: counts[eid] for eid, surface, _ in GAZETTEER if counts[eid]}
    assert got == {"window": 2, "warp drive": 1, "Kyoto": 2}


def _assert_triples_match_pure_core(transcripts):
    from json_ld_spark.core import api as core_api
    from json_ld_spark.core.context import parse_context_cached
    from json_ld_spark.core.keywords import BlankNodeNamer
    from json_ld_spark.operators.jsonld_ops import _NEXT_TURN_CONTEXT

    rows = with_stable_turn_order(transcripts).collect()
    ctx = parse_context_cached(_NEXT_TURN_CONTEXT)

    import re

    from json_ld_spark.sources.gazetteer import GAZETTEER

    expected = set()
    for r in rows:
        mentions = []
        for eid, surface, _suffix in GAZETTEER:
            cnt = len(re.findall(re.escape(surface), r["text"] or ""))
            if cnt:
                mentions.append((eid, surface, cnt))
        doc = build_turn_document(
            r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"],
            r["ts"].strftime("%Y-%m-%dT%H:%M:%S") if r["ts"] else None,
            r["next_turn_idx"], mentions,
        )
        namer = BlankNodeNamer(prefix=f"{r['conv_id']}t{r['turn_idx']}m")
        for t in core_api.expanded_to_rdf(
            core_api.expand_with_context(doc, ctx), namer=namer
        ):
            subj = ("_:" + t.subject.value) if t.subject.kind == "bnode" else t.subject.value
            obj = ("_:" + t.obj.value) if t.obj.kind == "bnode" else t.obj.value
            expected.add(
                (subj, t.predicate.value, obj, t.obj.kind != "literal",
                 t.obj.datatype if t.obj.kind == "literal" else None,
                 t.obj.language if t.obj.kind == "literal" else None)
            )

    got = [
        (r["subj"], r["pred"], r["obj_value"], r["obj_is_iri"],
         r["obj_datatype"], r["obj_language"])
        for r in valid_triples(emit_triples(transcripts)).collect()
    ]
    assert len(got) == len(set(got))  # no duplicate triple survives
    assert set(got) == expected


def test_triples_match_pure_core(spark, transcripts):
    """The distributed emission must equal the pure core run per turn —
    the Spark layer adds no semantics (SURVEY §7.1 rationale)."""
    _assert_triples_match_pure_core(transcripts)


def test_triples_match_pure_core_edge_frame(spark):
    _assert_triples_match_pure_core(_edge_transcripts(spark))


def _assert_quarantine_contract(spark, emitter):
    """A malformed turn must quarantine, not fail the job: a null
    turn_idx or conv_id yields one ``invalid turn key`` row and no
    triples, and never becomes a nextTurn target or the turn that
    carries the Conversation node; a timestamp outside pandas'
    nanosecond range (1677-2262) formats like any other."""
    from json_ld_spark.operators import jsonld_ops
    from json_ld_spark.sources.gazetteer import CONV_NS, VOCAB

    rows = [
        ("c1", 0, "user", "fine text", None, datetime.datetime(2024, 1, 1)),
        ("c1", None, "user", "no index", None, datetime.datetime(2024, 1, 1)),
        (None, 3, "user", "no conversation", None, datetime.datetime(2024, 1, 1)),
        ("c2", 0, "user", "far future", None, datetime.datetime(2300, 1, 2, 3, 4, 5)),
        ("c2", 1, "user", "far past", None, datetime.datetime(1600, 1, 2, 3, 4, 5)),
    ]
    out = getattr(jsonld_ops, emitter)(spark.createDataFrame(rows, _TURN_SCHEMA))
    bad = sorted(
        (r["conv_id"] or "", r["turn_idx"] if r["turn_idx"] is not None else -1,
         r["error_code"], r["subj"])
        for r in quarantined(out).collect()
    )
    assert bad == [("", 3, "invalid turn key", None),
                   ("c1", -1, "invalid turn key", None)]
    ok = valid_triples(out).collect()
    assert not any("None" in (r["subj"] + r["obj_value"]) for r in ok)
    assert not any(r["pred"] == VOCAB + "nextTurn"
                   for r in ok if r["conv_id"] == "c1")
    conv_nodes = [(r["subj"], r["turn_idx"]) for r in ok if r["subj"].startswith(CONV_NS)]
    assert sorted(conv_nodes) == [(CONV_NS + "c1", 0), (CONV_NS + "c2", 0)]
    ts = sorted(r["obj_value"] for r in ok if r["pred"] == VOCAB + "ts")
    assert ts == ["1600-01-02T03:04:05", "2024-01-01T00:00:00",
                  "2300-01-02T03:04:05"]


def _assert_bad_key_with_mentions_quarantines_once(spark, emitter):
    """A turn with a null key quarantines as ONE row however many
    mentions its text holds, and emits none of its mention triples."""
    from json_ld_spark.operators import jsonld_ops

    ts = datetime.datetime(2024, 1, 1)
    rows = [
        ("c1", 0, "user", "Paris meets Kyoto", None, ts),
        ("c1", None, "user", "Paris, Kyoto and Globex", None, ts),
        (None, 3, "user", "Ada Lovelace met Alan Turing in Paris", None, ts),
    ]
    out = getattr(jsonld_ops, emitter)(
        spark.createDataFrame(rows, _TURN_SCHEMA)).collect()
    bad = sorted(
        (r["conv_id"] or "", r["turn_idx"] if r["turn_idx"] is not None else -1,
         r["error_code"], r["subj"], r["pred"], r["obj_value"])
        for r in out if r["conv_id"] is None or r["turn_idx"] is None
    )
    assert bad == [("", 3, "invalid turn key", None, None, None),
                   ("c1", -1, "invalid turn key", None, None, None)]
    ok = [r for r in out if r["conv_id"] is not None and r["turn_idx"] is not None]
    assert {(r["conv_id"], r["turn_idx"], r["error_code"]) for r in ok} == {("c1", 0, None)}
    # 7 fixed triples (no tool, no nextTurn) + 2 mentions x 5
    assert len(ok) == 17


def test_bad_key_with_mentions_quarantines_once(spark):
    _assert_bad_key_with_mentions_quarantines_once(spark, "emit_triples")


def test_bad_key_with_mentions_quarantines_once_streaming_reader(spark):
    _assert_bad_key_with_mentions_quarantines_once(
        spark, "emit_triples_streaming_reader")


def test_unordered_keeps_one_quarantine_row_per_bad_turn(spark):
    """ordered=False dedups on the triple columns, which are all null on
    every quarantine row: each bad-key turn must still keep its own."""
    ts = datetime.datetime(2024, 1, 1)
    rows = [
        ("c1", 0, "user", "Paris", None, ts),
        (None, 3, "user", "Paris", None, ts),
        (None, 4, "user", "Kyoto", None, ts),
    ]
    out = emit_triples(spark.createDataFrame(rows, _TURN_SCHEMA), ordered=False)
    bad = sorted((r["turn_idx"], r["error_code"]) for r in quarantined(out).collect())
    assert bad == [(3, "invalid turn key"), (4, "invalid turn key")]


def test_streaming_reader_matches_emit_triples_edge_frame(spark):
    """The raw streaming reader, fed the prepared turns (its mention
    list rebuilt in Python from ``counts``), emits exactly what the
    compiled template does: valid triples, the 22-slot turn and
    quarantine rows alike."""
    from json_ld_spark.operators.jsonld_ops import emit_triples_streaming_reader

    ts = datetime.datetime(2024, 1, 1)
    bad = spark.createDataFrame(
        [("e1", None, "user", "Paris", None, ts), (None, 3, "user", "Kyoto", None, ts)],
        _TURN_SCHEMA)
    t = _edge_transcripts(spark).unionByName(bad)
    want = sorted(map(repr, emit_triples(t).collect()))
    got = sorted(map(repr, emit_triples_streaming_reader(t).collect()))
    assert len(got) > 200 and sum("invalid turn key" in r for r in got) == 2
    assert got == want


def test_quarantine_contract(spark):
    _assert_quarantine_contract(spark, "emit_triples")


def test_quarantine_contract_streaming_reader(spark):
    _assert_quarantine_contract(spark, "emit_triples_streaming_reader")


def test_pipeline_resume(spark, transcripts):
    from json_ld_spark.pipeline import run_pipeline

    out = tempfile.mkdtemp()
    try:
        m1 = run_pipeline(spark, transcripts, out)
        assert m1["triples"] > 0 and m1["errors"] == 0
        m2 = run_pipeline(spark, transcripts, out)
        assert m2["buckets_skipped"] > 0 and m2["triples"] == 0
        total = spark.read.parquet(os.path.join(out, "graph_triples")).count()
        assert total == m1["triples"]
        lineage = spark.read.parquet(os.path.join(out, "lineage"))
        assert lineage.filter(F.col("status") == "done").count() > 0
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_triple_counts_are_deterministic(spark, transcripts):
    a = valid_triples(emit_triples(transcripts)).count()
    b = valid_triples(emit_triples(transcripts.repartition(3))).count()
    assert a == b


def test_pipeline_partial_failure_resume(spark, transcripts, tmp_path):
    """A bucket with partial output and no lineage row is recomputed
    and REPLACED (dynamic partition overwrite), not appended."""
    import glob
    import shutil

    from json_ld_spark.pipeline import LINEAGE_SCHEMA, run_pipeline

    out = str(tmp_path / "kg")
    m1 = run_pipeline(spark, transcripts, out, conv_buckets=4)
    full_count = spark.read.parquet(out + "/graph_triples").count()

    # simulate a mid-write failure of bucket 0: lineage row gone,
    # partition dir still holds (now-stale, partial) files
    lineage = spark.read.parquet(out + "/lineage").filter(
        "conv_bucket <> 0"
    ).collect()
    shutil.rmtree(out + "/lineage")
    spark.createDataFrame(lineage, LINEAGE_SCHEMA).write.parquet(out + "/lineage")

    m2 = run_pipeline(spark, transcripts, out, conv_buckets=4, resume=True)
    assert m2["buckets_skipped"] == 3
    after = spark.read.parquet(out + "/graph_triples").count()
    assert after == full_count, (
        f"partial-failure resume changed the sink: {after} != {full_count}"
    )


def test_pipeline_empty_input(spark, tmp_path):
    """0 transcripts: a partitioned write of 0 rows leaves no parquet
    file, so the sink is read back with its known schema."""
    from json_ld_spark.pipeline import run_pipeline

    empty = spark.createDataFrame([], _TURN_SCHEMA)
    m = run_pipeline(spark, empty, str(tmp_path / "kg"))
    assert m["triples"] == 0 and m["errors"] == 0


def test_pipeline_resume_refuses_other_bucket_layout(spark, transcripts, tmp_path):
    """A resume with another conv_buckets (or onto a lineage that does
    not record it) would skip the wrong buckets and duplicate rows."""
    from json_ld_spark.pipeline import run_pipeline

    out = str(tmp_path / "kg")
    run_pipeline(spark, transcripts, out, conv_buckets=4)
    with pytest.raises(ValueError, match="conv_buckets"):
        run_pipeline(spark, transcripts, out, conv_buckets=16)

    # a lineage as written before it recorded conv_buckets
    legacy = spark.read.parquet(out + "/lineage").drop("conv_buckets")
    rows, schema = legacy.collect(), legacy.schema
    shutil.rmtree(out + "/lineage")
    spark.createDataFrame(rows, schema).write.parquet(out + "/lineage")
    with pytest.raises(ValueError, match="conv_buckets"):
        run_pipeline(spark, transcripts, out, conv_buckets=4)


def test_pipeline_sink_files_follow_the_exchange(spark, tmp_path):
    """conv_bucket is the emission exchange's own partition id, so each
    task writes only its residue class of buckets: at most
    lcm(defaultParallelism, conv_buckets) files, not their product."""
    import math

    from json_ld_spark.pipeline import run_pipeline

    out = str(tmp_path / "kg")
    run_pipeline(spark, synthesize_transcripts(spark, n_convs=200), out,
                 conv_buckets=4)
    files = [f for _, _, fs in os.walk(out + "/graph_triples")
             for f in fs if f.endswith(".parquet")]
    assert len(files) <= math.lcm(spark.sparkContext.defaultParallelism, 4)


def test_pipeline_canonicalizes_with_aliases(spark, transcripts, tmp_path):
    """An alias table whose variant IRI sorts before a gazetteer IRI
    makes the variant the component head: every ``of`` object of that
    entity is relabeled, and every other triple is as without aliases."""
    from json_ld_spark.pipeline import run_pipeline
    from json_ld_spark.sources.gazetteer import GAZETTEER, VOCAB, entity_iri

    canon = entity_iri("alan-turing")
    variant = entity_iri("aa-alan-turing")
    rows = [(entity_iri(suffix), surface) for _, surface, suffix in GAZETTEER]
    aliases = spark.createDataFrame(
        rows + [(variant, "ALAN TURING")], "entity_iri string, surface string")

    plain_out, merged_out = str(tmp_path / "plain"), str(tmp_path / "merged")
    run_pipeline(spark, transcripts, plain_out)
    run_pipeline(spark, transcripts, merged_out, aliases=aliases)
    plain = spark.read.parquet(plain_out + "/graph_triples")
    merged = spark.read.parquet(merged_out + "/graph_triples")

    relabel = (F.col("pred") == VOCAB + "of") & (F.col("obj_value") == canon)
    assert plain.filter(relabel).count() > 0
    want = plain.withColumn(
        "obj_value", F.when(relabel, F.lit(variant)).otherwise(F.col("obj_value")))
    assert want.exceptAll(merged).count() == 0
    assert merged.exceptAll(want).count() == 0


def test_expand_documents_registry_and_quarantine(spark):
    """Arbitrary docs expand via the vendored-context registry; an
    unregistered remote @context IRI quarantines with the spec code
    'loading remote context failed' (parity api.rb:624-718) instead of
    failing the job or misexpanding."""
    import json

    from json_ld_spark.operators.jsonld_ops import expand_documents
    from json_ld_spark.sources.gazetteer import CONTEXT_URL, VOCAB

    rows = [
        (1, json.dumps({"@context": CONTEXT_URL,
                        "@id": "http://e/x", "role": "user"})),
        (2, json.dumps({"@context": "https://unknown.example/ctx",
                        "@id": "http://e/y", "p": 1})),
        (3, "{not json"),
        (4, json.dumps({"@context": {"q": "http://e/q#"},
                        "@id": "http://e/z", "q:v": "ok"})),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, doc_json string")
    out = {r["doc_id"]: r for r in expand_documents(docs).collect()}
    ok = json.loads(out[1]["expanded_json"])
    assert ok[0][VOCAB + "role"] == [{"@value": "user"}]
    assert out[2]["error_code"] == "loading remote context failed"
    assert out[2]["expanded_json"] is None
    assert out[3]["error_code"] == "loading document failed"
    assert json.loads(out[4]["expanded_json"])[0]["http://e/q#v"] == [
        {"@value": "ok"}
    ]


def test_expand_documents_extra_registry_entry(spark):
    """Per-call context registration (the ingest-time vendoring path)."""
    import json

    from json_ld_spark.operators.jsonld_ops import expand_documents

    docs = spark.createDataFrame(
        [(1, json.dumps({"@context": "https://vendored.example/v1",
                         "name": "n"}))],
        "doc_id long, doc_json string",
    )
    extra = {
        "https://vendored.example/v1": {
            "@context": {"name": "http://e/vocab#name"}
        }
    }
    out = expand_documents(docs, contexts=extra).collect()[0]
    assert out["error_code"] is None
    assert json.loads(out["expanded_json"])[0]["http://e/vocab#name"] == [
        {"@value": "n"}
    ]
