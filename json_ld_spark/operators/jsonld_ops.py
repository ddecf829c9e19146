"""Spark operators for the KG pipeline: turn → (subj, pred, obj) triples.

Execution shape (SURVEY §3.1 Spark equivalent):
    read transcripts
      → window row_number/lead over (conv_id, turn_idx)   [stable order,
        one partition per core]
      → prepare_turns: key check, ts string, ``counts``, the array of
        one regexp_count per gazetteer surface
      → posexplode ``[NULL] ++ counts`` into one row per (turn, slot):
        slot 0 for the turn's fixed triples, slot k for gazetteer
        surface k, kept when its count is > 0
      → one compiled triple template per slot, inline'd
        [JVM, whole-stage codegen, no Python, no lambda]
      → write (bucketed by conv_id)

Each turn is a JSON-LD document over the one fixed ``KG_CONTEXT``
(``build_turn_document`` + expand + toRDF in the pure core, which stays
the reference). Under that context every string value is opaque to
expansion (no ``@language``, no ``@type: @vocab``) and every emitted
IRI has a fixed ``https:`` scheme, so the toRDF output of a turn is a
fixed template over its columns: ``emit_triples`` assembles it with
Catalyst expressions instead of crossing into Python per turn. Mention
blank nodes get per-document labels (utils.rb:283-310 adapted: namer
prefix = conv/turn key, counter in first-visit order = entity-id order
of the kept surfaces), so no global counter exists at 10^12 scale.

``emit_triples_streaming_reader`` is the one emitter that still runs
Python: it feeds the same prepared turns through the raw streaming
key-order reader, so that reader stays exercised under the triple
oracle.
"""

from __future__ import annotations

from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from json_ld_spark.core.keywords import RDF_TYPE
from json_ld_spark.sources.gazetteer import (
    CONV_NS,
    GAZETTEER,
    KG_CONTEXT,
    TURN_NS,
    VOCAB,
    XSD,
    entity_iri,
)

TRIPLE_SCHEMA = (
    "conv_id string, turn_idx int, subj string, pred string, "
    "obj_value string, obj_is_iri boolean, obj_datatype string, "
    "obj_language string, graph string, error_code string, error_msg string"
)
TRIPLE_COLS = ["conv_id", "turn_idx", "subj", "pred", "obj_value",
               "obj_is_iri", "obj_datatype", "obj_language", "graph",
               "error_code", "error_msg"]

INVALID_TURN_KEY = "invalid turn key"
_INVALID_TURN_KEY_MSG = "conv_id and turn_idx must both be non-null"

_NEXT_TURN_CONTEXT = {**KG_CONTEXT,
                      "nextTurn": {"@id": VOCAB + "nextTurn", "@type": "@id"}}


def turn_iri(conv_id: str, turn_idx: int) -> str:
    return f"{TURN_NS}{conv_id}/{turn_idx}"


def conv_iri(conv_id: str) -> str:
    return f"{CONV_NS}{conv_id}"


def build_turn_document(
    conv_id: str,
    turn_idx: int,
    role: Optional[str],
    text: Optional[str],
    tool: Optional[str],
    ts_str: Optional[str],
    next_turn_idx: Optional[int],
    mentions: list[tuple[int, str, int]],  # (entity_id, surface, count)
) -> dict:
    """Deterministic turn → JSON-LD document (SURVEY §2.12).

    Mention nodes carry explicit doc-local bnode ids (_:m{entity_id});
    the per-doc namer relabels them in first-visit order, mirroring the
    provisional-id pattern of streaming_reader.rb:97-137.
    """
    # streaming-profile key order (@type before @id): the docs this
    # pipeline emits are consumable by the raw streaming reader
    # (core/streaming_reader.py) without provisional buffering —
    # expansion is key-order-insensitive, so triples are unchanged
    doc: dict = {
        "@type": "Turn",
        "@id": turn_iri(conv_id, turn_idx),
        "index": int(turn_idx),
        "partOf": {"@type": "Conversation", "@id": conv_iri(conv_id)},
    }
    if role is not None:
        doc["role"] = role
    if text is not None:
        doc["text"] = text
    if tool is not None:
        doc["tool"] = tool
    if ts_str is not None:
        doc["ts"] = ts_str
    if next_turn_idx is not None:
        doc["nextTurn"] = turn_iri(conv_id, int(next_turn_idx))
    if mentions:
        doc["mentions"] = [
            {
                "@type": "Mention",
                "@id": f"_:m{eid}",
                "label": surface,
                "score": int(count),
                "of": entity_iri_by_id(eid),
            }
            for eid, surface, count in mentions
        ]
    return doc


_ENTITY_BY_ID = {eid: entity_iri(suffix) for eid, _, suffix in GAZETTEER}


def entity_iri_by_id(eid: int) -> str:
    return _ENTITY_BY_ID[eid]


def with_stable_turn_order(
    transcripts: DataFrame, n_partitions: int | None = None
) -> DataFrame:
    """Stable turn ordering + nextTurn linkage (the north rule's
    window): row_number + lead over (conv_id, turn_idx).

    turn_idx sorts nulls last, so a turn with a null key never takes
    turn_rank 1 and is never a valid turn's nextTurn target (``lead``
    of the last valid turn reads its null turn_idx).

    The explicit repartition(n, conv_id) serves two purposes: the
    window reuses it (one shuffle total), and AQE never coalesces a
    user-specified repartition, so the emission stage keeps one task
    per core however few bytes the shuffle moves. n defaults to
    ``defaultParallelism``: one task per core runs the stage in one
    wave, where more, smaller tasks add their fixed cost per task.
    """
    if n_partitions is None:
        sc = transcripts.sparkSession.sparkContext
        n_partitions = sc.defaultParallelism
    w = Window.partitionBy("conv_id").orderBy(F.col("turn_idx").asc_nulls_last())
    return transcripts.repartition(n_partitions, "conv_id").select(
        "*",
        F.row_number().over(w).alias("turn_rank"),
        F.lead("turn_idx").over(w).alias("next_turn_idx"),
    )


def prepare_turns(transcripts: DataFrame, ordered: bool = True) -> DataFrame:
    """Per turn, every input the emitters need besides the raw columns:
    ``key_ok`` (conv_id and turn_idx non-null), ``turn_rank``,
    ``next_turn_idx``, ``ts_str`` (the xsd:dateTime lexical form) and
    ``counts``, the array of the 21 gazetteer surface counts in
    ``text``, in ``GAZETTEER`` (entity-id) order; a surface with count
    0 is not mentioned.

    A count is the number of non-overlapping occurrences of the
    literal surface (Python's ``str.count``; no surface is a substring
    of another). ordered=False skips the window: every turn has rank 1
    and no nextTurn."""
    if ordered:
        src = with_stable_turn_order(transcripts)
    else:
        src = transcripts.select(
            "*", F.lit(1).alias("turn_rank"),
            F.lit(None).cast("int").alias("next_turn_idx"),
        )
    counts = F.array(*[
        F.regexp_count(F.col("text"), F.lit(f"\\Q{surface}\\E")).cast("int")
        for _, surface, _ in GAZETTEER
    ])
    return src.select(
        "conv_id", "turn_idx", "role", "text", "tool", "turn_rank", "next_turn_idx",
        (F.col("conv_id").isNotNull() & F.col("turn_idx").isNotNull()).alias("key_ok"),
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss").alias("ts_str"),
        counts.alias("counts"),
    )


def _triple(subj: Column, pred: str, obj: Column, obj_is_iri: bool,
            datatype: Optional[str] = None) -> Column:
    return F.struct(
        subj.alias("subj"), F.lit(pred).alias("pred"), obj.alias("obj_value"),
        F.lit(obj_is_iri).alias("obj_is_iri"),
        F.lit(datatype).cast("string").alias("obj_datatype"),
    )


def _slot_template() -> Column:
    """The toRDF output of one (turn, slot) row, as an array of (subj,
    pred, obj_value, obj_is_iri, obj_datatype) structs: slot 0 holds
    the turn's fixed triples, slot k ≥ 1 the five triples of gazetteer
    surface k, found ``m`` times, whose blank node is ``bnode``.
    ``turn`` (the turn IRI) and ``bnode`` are columns of the row, so
    each is built once however many triples use it. Every expression
    compiles; a triple whose object is null (an absent optional field,
    or the Conversation type past the conversation's first turn) is
    dropped after the inline."""
    conv_id, turn_idx, turn, bnode, slot = (
        F.col(c) for c in ("conv_id", "turn_idx", "turn", "bnode", "slot"))
    conv = F.concat(F.lit(CONV_NS), conv_id)
    next_turn = F.concat(F.lit(TURN_NS), conv_id, F.lit("/"), F.col("next_turn_idx"))
    xsd_string, xsd_integer = XSD + "string", XSD + "integer"
    fixed = F.array(
        _triple(turn, RDF_TYPE, F.lit(VOCAB + "Turn"), True),
        _triple(turn, VOCAB + "index", turn_idx.cast("string"), False, xsd_integer),
        _triple(turn, VOCAB + "partOf", conv, True),
        _triple(conv, RDF_TYPE,
                F.when(F.col("turn_rank") == 1, F.lit(VOCAB + "Conversation")), True),
        _triple(turn, VOCAB + "role", F.col("role"), False, xsd_string),
        _triple(turn, VOCAB + "text", F.col("text"), False, xsd_string),
        _triple(turn, VOCAB + "tool", F.col("tool"), False, xsd_string),
        _triple(turn, VOCAB + "ts", F.col("ts_str"), False, XSD + "dateTime"),
        _triple(turn, VOCAB + "nextTurn", next_turn, True),
    )
    # surface k sits at 0-based index k - 1 of both literal arrays
    label = F.array(*[F.lit(surface) for _, surface, _ in GAZETTEER])
    entity = F.array(*[F.lit(_ENTITY_BY_ID[eid]) for eid, _, _ in GAZETTEER])
    mention = F.array(
        _triple(turn, VOCAB + "mentions", bnode, True),
        _triple(bnode, RDF_TYPE, F.lit(VOCAB + "Mention"), True),
        _triple(bnode, VOCAB + "label", F.get(label, slot - 1), False, xsd_string),
        _triple(bnode, VOCAB + "score", F.col("m").cast("string"), False, xsd_integer),
        _triple(bnode, VOCAB + "of", F.get(entity, slot - 1), True),
    )
    return F.when(slot == 0, fixed).otherwise(mention)


def emit_triples(transcripts: DataFrame, ordered: bool = True) -> DataFrame:
    """Transcripts → triples DataFrame (errors quarantined in-band).

    Each prepared turn becomes one row per slot: slot 0 for its fixed
    triples, slot k for gazetteer surface k if the turn mentions it.
    Each slot's triples come from one compiled Catalyst template
    (``_slot_template``); together they equal the pure core's expand +
    toRDF of ``build_turn_document`` under ``_NEXT_TURN_CONTEXT``. A
    turn whose conv_id or turn_idx is null keeps only slot 0 and yields
    one quarantine row with error_code ``invalid turn key`` and no
    triples.

    Cross-turn duplicate facts (the Conversation node re-asserted by
    every turn) are deduplicated — the relational half of
    create_node_map's add_value(allow_duplicate:false) merge
    (flatten.rb:85,120). ordered=True emits the Conversation type only
    on each conversation's first turn (turn_rank 1), so nothing
    shuffles past the ordering window: turn IRIs and mention bnode
    labels embed (conv_id, turn_idx), so every other triple is unique
    by construction. ordered=False (un-partitioned input, no window)
    dedups the full table with one shuffle.
    """
    turns = prepare_turns(transcripts, ordered)
    conv_id, turn_idx, key_ok = F.col("conv_id"), F.col("turn_idx"), F.col("key_ok")
    slot, counts = F.col("slot"), F.col("counts")
    # a turn with a bad key keeps slot 0 only: one quarantine row, not
    # one per mention
    slots = turns.select(
        "*", F.concat(F.lit(TURN_NS), conv_id, F.lit("/"), turn_idx).alias("turn"),
        F.posexplode(F.concat(F.array(F.lit(None).cast("int")), counts)).alias("slot", "m"),
    ).filter((slot == 0) | (key_ok & (F.col("m") > 0))).withColumn(
        # the label counter is the rank of surface k among the kept ones
        "bnode",
        F.concat(F.lit("_:"), conv_id, F.lit("t"), turn_idx, F.lit("m"),
                 F.size(F.array_remove(F.slice(counts, 1, slot), 0)) - 1))
    # a null array inlines (outer) as one all-null row: the quarantine row
    triples = slots.select(
        "conv_id", "turn_idx", "key_ok",
        F.inline_outer(F.when(key_ok, _slot_template())),
    ).filter(F.col("obj_value").isNotNull() | ~key_ok).select(
        "conv_id", "turn_idx", "subj", "pred", "obj_value", "obj_is_iri",
        "obj_datatype",
        F.lit(None).cast("string").alias("obj_language"),
        F.lit(None).cast("string").alias("graph"),
        F.when(~key_ok, F.lit(INVALID_TURN_KEY)).alias("error_code"),
        F.when(~key_ok, F.lit(_INVALID_TURN_KEY_MSG)).alias("error_msg"),
    )
    if not ordered:
        # un-partitioned input: global shuffle dedup. Every quarantine
        # row has all-null triple columns, so each also carries an id
        # of its own (null on valid rows) to keep one row per bad turn.
        return triples.withColumn(
            "_bad_turn", F.when(F.col("error_code").isNotNull(),
                                F.monotonically_increasing_id()),
        ).dropDuplicates(
            ["subj", "pred", "obj_value", "obj_is_iri", "obj_datatype",
             "obj_language", "graph", "_bad_turn"]).drop("_bad_turn")
    return triples


def _term_str(t) -> str:
    return "_:" + t.value if t.kind == "bnode" else t.value


def triple_row(t) -> tuple:
    """A core Triple as the (subj, pred, obj_value, obj_is_iri,
    obj_datatype, obj_language, graph) columns of ``TRIPLE_SCHEMA``;
    a blank node is written ``_:label`` (``core.rdf.as_term`` reads it
    back)."""
    obj_is_iri = t.obj.kind != "literal"
    return (
        _term_str(t.subject),
        t.predicate.value,
        _term_str(t.obj),
        obj_is_iri,
        None if obj_is_iri else t.obj.datatype,
        None if obj_is_iri else t.obj.language,
        None if t.graph is None else _term_str(t.graph),
    )


def _stream_batch_iter(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: prepared turns → triples via the RAW
    streaming key-order reader (core/streaming_reader.py) instead of
    expand+emit. Semantically identical output (turn documents are
    emitted in streaming-profile key order); exists so the streaming
    reader is exercised distributed and under the triple oracle."""
    from json_ld_spark.core.context import Options, parse_context_cached
    from json_ld_spark.core.errors import JsonLdError
    from json_ld_spark.core.keywords import BlankNodeNamer
    from json_ld_spark.core.streaming_reader import StreamingReader
    from json_ld_spark.core.to_rdf import (
        _valid_object,
        _valid_predicate,
        _valid_subject,
    )

    ctx = parse_context_cached(_NEXT_TURN_CONTEXT)
    options = Options()

    def opt(v):
        return None if v is None or v != v else v  # null arrives as None/NaN

    for pdf in batches:
        rows: list[tuple] = []
        # plain-list row access: Series.iloc in a row loop costs more
        # than the JSON-LD algorithms themselves
        for conv_id, turn_idx, role, text, tool, ts_str, next_idx, rank, counts, key_ok in zip(
            *(pdf[c].tolist() for c in (
                "conv_id", "turn_idx", "role", "text", "tool", "ts_str",
                "next_turn_idx", "turn_rank", "counts", "key_ok"))
        ):
            turn_idx, next_idx = opt(turn_idx), opt(next_idx)
            if not key_ok:
                rows.append((conv_id, None if turn_idx is None else int(turn_idx),
                             None, None, None, None, None, None, None,
                             INVALID_TURN_KEY, _INVALID_TURN_KEY_MSG))
                continue
            turn_idx = int(turn_idx)
            doc = build_turn_document(
                conv_id, turn_idx, opt(role), opt(text), opt(tool), opt(ts_str),
                None if next_idx is None else int(next_idx),
                [(eid, surface, int(c)) for (eid, surface, _), c in zip(GAZETTEER, counts)
                 if c > 0],
            )
            reader = StreamingReader(options)
            reader.namer = BlankNodeNamer(prefix=f"{conv_id}t{turn_idx}m")
            out: list = []

            def emit(st) -> None:
                # same validity filter as StreamingReader.stream()
                # (parity stream_statement, streaming_reader.rb:48-52):
                # on malformed input both emission paths must DROP
                # invalid terms, not write them to the triple table
                if (
                    _valid_subject(st.subject)
                    and _valid_predicate(st.predicate, False)
                    and _valid_object(st.obj)
                    and (st.graph is None or _valid_subject(st.graph))
                ):
                    out.append(st)

            try:
                # context pre-parsed once per worker; the doc itself is
                # @context-free here so parse_object starts at the
                # type/id states directly
                reader.parse_object(doc, None, ctx, emit,
                                    graph_is_named=False)
            except JsonLdError as e:
                rows.append(
                    (conv_id, turn_idx, None, None, None, None, None, None,
                     None, e.code, str(e))
                )
                continue
            for t in out:
                row = triple_row(t)
                # the Conversation node is asserted by every turn;
                # keep it on the conversation's first turn only
                if rank != 1 and row[0].startswith(CONV_NS):
                    continue
                rows.append((conv_id, turn_idx, *row, None, None))
        yield pd.DataFrame(rows, columns=TRIPLE_COLS)


def emit_triples_streaming_reader(transcripts: DataFrame) -> DataFrame:
    """Transcripts → triples via the raw streaming key-order reader —
    the alternate single-pass emission path (streaming_reader.rb
    parity), distributed. It reads the same ``prepare_turns`` columns
    as ``emit_triples`` (so key checks, timestamps and mention
    detection are defined once) and keeps the Conversation type on
    each conversation's first turn; the driver gates it against the
    same triple oracle."""
    return prepare_turns(transcripts).mapInPandas(
        _stream_batch_iter, schema=TRIPLE_SCHEMA)


EXPAND_SCHEMA = (
    "doc_id long, expanded_json string, error_code string, error_msg string"
)


def expand_documents(
    docs: DataFrame,
    contexts: "dict | None" = None,
) -> DataFrame:
    """Distributed JSON-LD expansion for ARBITRARY documents (not just
    pipeline-synthesized turns): each (doc_id, doc_json) row's JSON is
    expanded with the vendored-context registry standing in for remote
    fetch.

    Parity: API.expand + loadRemoteDocument (api.rb:109-156,624-718)
    with the registry replacing HTTP (context_registry module). A
    document whose @context names an unregistered remote IRI comes
    back as a quarantine row with the spec error code
    ``loading remote context failed`` — never a task failure, never a
    silent misexpansion. Registry lookups are cached per context hash
    (parse_context_cached), so N documents sharing a context parse it
    once per executor."""
    from json_ld_spark.sources.context_registry import registry_snapshot

    registry = registry_snapshot(contexts)

    def _expand(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import json as _json

        from json_ld_spark.core import api as core_api
        from json_ld_spark.core.context import Options
        from json_ld_spark.core.errors import JsonLdError

        options = Options(contexts=registry)
        for pdf in batches:
            rows = []
            for doc_id, doc_json in zip(pdf["doc_id"], pdf["doc_json"]):
                try:
                    doc = _json.loads(doc_json)
                    expanded = core_api.expand(doc, options)
                    rows.append(
                        (int(doc_id), _json.dumps(expanded), None, None)
                    )
                except JsonLdError as e:
                    rows.append((int(doc_id), None, e.code, str(e)))
                except ValueError as e:  # malformed JSON text
                    rows.append((int(doc_id), None, "loading document failed",
                                 str(e)))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "expanded_json", "error_code", "error_msg"],
            )

    from json_ld_spark.plans.layout import rebalance_scan

    # the Python expansion is the dominant per-row cost; don't let a
    # compact scan's 1-2 splits serialize it (plans/layout.py)
    return rebalance_scan(docs.select("doc_id", "doc_json")).mapInPandas(
        _expand, schema=EXPAND_SCHEMA
    )


def quarantined(triples: DataFrame) -> DataFrame:
    return triples.filter(F.col("error_code").isNotNull())


def valid_triples(triples: DataFrame) -> DataFrame:
    return triples.filter(F.col("error_code").isNull())
