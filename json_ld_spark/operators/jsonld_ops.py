"""Spark operators for the KG pipeline: turn → JSON-LD document →
expanded → node map → (subj, pred, obj) triples.

Execution shape (SURVEY §3.1 Spark equivalent):
    read transcripts
      → window row_number/lead over (conv_id, turn_idx)   [stable order]
      → mapInPandas(build doc + mention detect + expand + toRDF)
      → triples DataFrame → global dedup of cross-turn nodes
      → write (bucketed by conv_id)

The UDF stage is embarrassingly parallel per turn — the reference's own
streaming reader (streaming_reader.rb:29-54) is the license: triple
emission never needs cross-document state. Blank nodes get
per-document deterministic labels (utils.rb:283-310 adapted: namer
prefix = conv/turn key) so no global counter exists at 10^12 scale.

All Python execution is Arrow-batched (mapInPandas); mention counting
is vectorized per surface over each batch (pandas .str.count), not
per-row.
"""

from __future__ import annotations

import re
from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from json_ld_spark.sources.gazetteer import (
    CONV_NS,
    GAZETTEER,
    KG_CONTEXT,
    TURN_NS,
    VOCAB,
    entity_iri,
)

TRIPLE_SCHEMA = (
    "conv_id string, turn_idx int, subj string, pred string, "
    "obj_value string, obj_is_iri boolean, obj_datatype string, "
    "obj_language string, graph string, error_code string, error_msg string"
)

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

    The explicit repartition(n, conv_id) serves two purposes: the
    window reuses it (one shuffle total), and — critically — AQE never
    coalesces a user-specified repartition. Without it, AQE sizes the
    post-window partitions by shuffle BYTES and collapses a small-but-
    CPU-heavy stage to one task, serializing the Python emission UDF
    (the per-row cost is Python CPU, invisible to byte-based sizing).
    """
    if n_partitions is None:
        sc = transcripts.sparkSession.sparkContext
        n_partitions = sc.defaultParallelism * 2
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return transcripts.repartition(n_partitions, "conv_id").select(
        "*",
        F.row_number().over(w).alias("turn_rank"),
        F.lead("turn_idx").over(w).alias("next_turn_idx"),
    )


def _triples_batch_iter(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: Arrow batch of turns → Arrow batch of triples."""
    # imports inside the worker so the closure pickles cheaply
    from json_ld_spark.core import api as core_api
    from json_ld_spark.core.context import parse_context_cached
    from json_ld_spark.core.errors import JsonLdError
    from json_ld_spark.core.keywords import BlankNodeNamer

    ctx = parse_context_cached(_NEXT_TURN_CONTEXT)  # once per worker (lru)
    surface_patterns = [
        (eid, surface, re.compile(re.escape(surface)))
        for eid, surface, _ in GAZETTEER
    ]
    # partition-local dedup of shared-subject (Conversation) triples:
    # the upstream exchange hash-partitions by conv_id, so all
    # duplicates of a conv-level fact land in this iterator — deduping
    # here replaces a full-table dropDuplicates shuffle (the dominant
    # stage at scale). The iterator spans the whole partition.
    seen_shared: set = set()

    for pdf in batches:
        ts_str = pdf["ts"].dt.strftime("%Y-%m-%dT%H:%M:%S")
        # vectorized mention counting: one pass per gazetteer surface
        # over the whole batch (never per-row regex compilation)
        texts = pdf["text"].fillna("")
        count_cols = [
            (eid, surface, texts.str.count(pattern).tolist())
            for eid, surface, pattern in surface_patterns
        ]
        # plain-list row access: Series.iloc in a row loop costs more
        # than the JSON-LD algorithms themselves
        conv_ids = pdf["conv_id"].tolist()
        turn_idxs = pdf["turn_idx"].tolist()
        roles = pdf["role"].tolist()
        text_vals = pdf["text"].tolist()
        tools = pdf["tool"].tolist()
        ts_vals = ts_str.tolist()
        next_idxs = pdf["next_turn_idx"].tolist()
        rows: list[tuple] = []
        for i in range(len(conv_ids)):
            conv_id = conv_ids[i]
            turn_idx = int(turn_idxs[i])
            mentions = [
                (eid, surface, int(cnts[i]))
                for eid, surface, cnts in count_cols
                if cnts[i] > 0
            ]
            next_idx = next_idxs[i]
            doc = build_turn_document(
                conv_id,
                turn_idx,
                roles[i] if pd.notna(roles[i]) else None,
                text_vals[i] if pd.notna(text_vals[i]) else None,
                tools[i] if pd.notna(tools[i]) else None,
                ts_vals[i] if pd.notna(ts_vals[i]) else None,
                int(next_idx) if pd.notna(next_idx) else None,
                mentions,
            )
            namer = BlankNodeNamer(prefix=f"{conv_id}t{turn_idx}m")
            try:
                expanded = core_api.expand_with_context(doc, ctx)
                # single-pass emitter (streaming_reader.rb parity):
                # turn docs are trees with only labeled bnodes, so the
                # output is identical to the node-map path, ~30% cheaper
                triples = core_api.expanded_to_rdf_stream(expanded, namer=namer)
            except JsonLdError as e:  # quarantine, never fail the task
                rows.append(
                    (conv_id, turn_idx, None, None, None, None, None, None,
                     None, e.code, str(e))
                )
                continue
            for t in triples:
                subj = ("_:" + t.subject.value) if t.subject.kind == "bnode" else t.subject.value
                obj_is_iri = t.obj.kind != "literal"
                obj_value = (
                    ("_:" + t.obj.value) if t.obj.kind == "bnode" else t.obj.value
                )
                if subj.startswith(CONV_NS):
                    k = (subj, t.predicate.value, obj_value)
                    if k in seen_shared:
                        continue
                    seen_shared.add(k)
                rows.append(
                    (
                        conv_id,
                        turn_idx,
                        subj,
                        t.predicate.value,
                        obj_value,
                        obj_is_iri,
                        None if obj_is_iri else t.obj.datatype,
                        None if obj_is_iri else t.obj.language,
                        ("_:" + t.graph.value if t.graph.kind == "bnode" else t.graph.value)
                        if t.graph is not None
                        else None,
                        None,
                        None,
                    )
                )
        yield pd.DataFrame(
            rows,
            columns=[
                "conv_id", "turn_idx", "subj", "pred", "obj_value",
                "obj_is_iri", "obj_datatype", "obj_language", "graph",
                "error_code", "error_msg",
            ],
        )


def emit_triples(transcripts: DataFrame, ordered: bool = True) -> DataFrame:
    """Transcripts → triples DataFrame (errors quarantined in-band).

    Cross-turn duplicate facts (the Conversation node re-asserted by
    every turn) are globally deduplicated — the relational half of
    create_node_map's add_value(allow_duplicate:false) merge
    (flatten.rb:85,120): per-doc merge in the UDF, global merge on the
    triple key.

    ordered=True partitions turns by conv_id upstream, so the UDF
    dedups the shared Conversation-node triples partition-locally and
    nothing shuffles: turn IRIs and mention bnode labels embed
    (conv_id, turn_idx), so every other triple is unique by
    construction. ordered=False (un-partitioned input) dedups the full
    table with one shuffle.
    """
    src = with_stable_turn_order(transcripts) if ordered else transcripts.select(
        "*", F.lit(None).cast("int").alias("next_turn_idx")
    )
    triples = src.mapInPandas(_triples_batch_iter, schema=TRIPLE_SCHEMA)
    key = ["subj", "pred", "obj_value", "obj_is_iri", "obj_datatype",
           "obj_language", "graph"]
    if not ordered:
        # un-partitioned input: global shuffle dedup
        return triples.dropDuplicates(key)
    # ordered path: conv_id-partitioned upstream → the UDF already
    # deduped shared-subject triples partition-locally; nothing shuffles
    return triples


def _stream_batch_iter(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: turns → triples via the RAW streaming
    key-order reader (core/streaming_reader.py) instead of
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
    surface_patterns = [
        (eid, surface, re.compile(re.escape(surface)))
        for eid, surface, _ in GAZETTEER
    ]
    seen_shared: set = set()
    options = Options()

    for pdf in batches:
        ts_str = pdf["ts"].dt.strftime("%Y-%m-%dT%H:%M:%S")
        texts = pdf["text"].fillna("")
        count_cols = [
            (eid, surface, texts.str.count(pattern).tolist())
            for eid, surface, pattern in surface_patterns
        ]
        conv_ids = pdf["conv_id"].tolist()
        turn_idxs = pdf["turn_idx"].tolist()
        roles = pdf["role"].tolist()
        text_vals = pdf["text"].tolist()
        tools = pdf["tool"].tolist()
        ts_vals = ts_str.tolist()
        next_idxs = pdf["next_turn_idx"].tolist()
        rows: list[tuple] = []
        for i in range(len(conv_ids)):
            conv_id = conv_ids[i]
            turn_idx = int(turn_idxs[i])
            mentions = [
                (eid, surface, int(cnts[i]))
                for eid, surface, cnts in count_cols
                if cnts[i] > 0
            ]
            next_idx = next_idxs[i]
            doc = build_turn_document(
                conv_id, turn_idx,
                roles[i] if pd.notna(roles[i]) else None,
                text_vals[i] if pd.notna(text_vals[i]) else None,
                tools[i] if pd.notna(tools[i]) else None,
                ts_vals[i] if pd.notna(ts_vals[i]) else None,
                int(next_idx) if pd.notna(next_idx) else None,
                mentions,
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
                subj = ("_:" + t.subject.value) if t.subject.kind == "bnode" else t.subject.value
                obj_is_iri = t.obj.kind != "literal"
                obj_value = (
                    ("_:" + t.obj.value) if t.obj.kind == "bnode" else t.obj.value
                )
                if subj.startswith(CONV_NS):
                    k = (subj, t.predicate.value, obj_value)
                    if k in seen_shared:
                        continue
                    seen_shared.add(k)
                rows.append(
                    (
                        conv_id, turn_idx, subj, t.predicate.value, obj_value,
                        obj_is_iri,
                        None if obj_is_iri else t.obj.datatype,
                        None if obj_is_iri else t.obj.language,
                        ("_:" + t.graph.value if t.graph.kind == "bnode" else t.graph.value)
                        if t.graph is not None else None,
                        None, None,
                    )
                )
        yield pd.DataFrame(
            rows,
            columns=[
                "conv_id", "turn_idx", "subj", "pred", "obj_value",
                "obj_is_iri", "obj_datatype", "obj_language", "graph",
                "error_code", "error_msg",
            ],
        )


def emit_triples_streaming_reader(transcripts: DataFrame) -> DataFrame:
    """Transcripts → triples via the raw streaming key-order reader —
    the alternate single-pass emission path (streaming_reader.rb
    parity), distributed. Same partition-local conv-level dedup as
    emit_triples; the driver gates it against the same triple oracle."""
    src = with_stable_turn_order(transcripts)
    return src.mapInPandas(_stream_batch_iter, schema=TRIPLE_SCHEMA)


EXPAND_SCHEMA = (
    "doc_id long, expanded_json string, error_code string, error_msg string"
)


def expand_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    json_col: str = "doc_json",
    contexts: "dict | None" = None,
    base: "str | None" = None,
) -> DataFrame:
    """Distributed JSON-LD expansion for ARBITRARY documents (not just
    pipeline-synthesized turns): each row's JSON is expanded with the
    vendored-context registry standing in for remote fetch.

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

        options = Options(base=base, contexts=registry)
        for pdf in batches:
            rows = []
            for doc_id, doc_json in zip(pdf[id_col], pdf[json_col]):
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
    return rebalance_scan(
        docs.select(
            F.col(id_col).alias(id_col), F.col(json_col).alias(json_col)
        )
    ).mapInPandas(_expand, schema=EXPAND_SCHEMA)


def quarantined(triples: DataFrame) -> DataFrame:
    return triples.filter(F.col("error_code").isNotNull())


def valid_triples(triples: DataFrame) -> DataFrame:
    return triples.filter(F.col("error_code").isNull())
