"""Output formatting: graph triples → JSON-LD documents
(fromRDF → compact with the pipeline @context), distributed per
conversation.

Parity: Writer.write_epilogue (/root/reference/lib/json/ld/
writer.rb:313-364) buffers statements and serializes via fromRdf +
optional compaction; here the buffer is a DataFrame group and the
serialization runs in applyInPandas per conv_id — compaction is a
downstream view of the triple table (SURVEY §2.1 Writer row).

Skew guard (salt-and-restitch): a pathological mega-conversation is a
single applyInPandas group — one straggler task holding every triple.
Conversations above ``max_group_triples`` instead run a two-stage
path: (1) fromRdf over SUBJECT-SALTED partials — exact, because node
reconstitution is per-subject and a subject's triples always share a
salt — then (2) a per-conv merge of the partial expanded-node arrays
with a single compact/frame pass. Stage 2 is still one task per conv
(document semantics demand it) but its input is pre-reduced JSON
nodes, so the linear fromRdf work is spread over ``n_salts`` tasks.
Caveat: partial fromRdf cannot collapse rdf:first/rest chains that
span salts (list cells are distinct subjects); the KG emission path
produces no lists, and corpora that do should keep such convs on the
direct path.

Determinism: triples are sorted before fromRdf in every path, so the
emitted document JSON is byte-stable regardless of shuffle order and
the salted path restitches to exactly the direct path's output.
"""

from __future__ import annotations

import json
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from json_ld_spark.sources.gazetteer import KG_CONTEXT

_PARTIAL_SCHEMA = "conv_id string, part_json string"


def _pdf_to_core_triples(pdf: pd.DataFrame):
    """Arrow batch of triple rows → sorted list of core Triples.

    Sorting makes fromRdf's node/property order independent of
    shuffle order (byte-stable doc output; the salted restitch relies
    on it)."""
    from json_ld_spark.core.rdf import Term, Triple, as_term, iri

    raw = []
    for subj, pred, obj_value, obj_is_iri, obj_dt, obj_lang in zip(
        pdf["subj"], pdf["pred"], pdf["obj_value"], pdf["obj_is_iri"],
        pdf["obj_datatype"], pdf["obj_language"],
    ):
        dt = obj_dt if pd.notna(obj_dt) else None
        lang = obj_lang if pd.notna(obj_lang) else None
        raw.append((subj, pred, obj_value, bool(obj_is_iri), dt, lang))
    raw.sort(key=lambda r: (r[0], r[1], r[2], r[4] or "", r[5] or ""))
    return [
        Triple(
            as_term(subj),
            iri(pred),
            as_term(obj_value) if obj_is_iri
            else Term("literal", obj_value, dt, lang),
            None,
        )
        for subj, pred, obj_value, obj_is_iri, dt, lang in raw
    ]


def _valid(triples: DataFrame) -> DataFrame:
    if "error_code" in triples.columns:
        return triples.filter(triples["error_code"].isNull())
    return triples


def _split_by_size(
    triples: DataFrame, max_group_triples: int
) -> tuple[DataFrame, DataFrame]:
    """(small, big): big = conversations whose triple count exceeds
    the threshold. The count side is conv-level (tiny) and broadcast —
    the triple table is scanned, never shuffled, for the split."""
    # materialize once: the count scan and both branches would each
    # re-derive the (expensive) upstream emission pipeline otherwise
    triples = triples.localCheckpoint()
    big_ids = (
        triples.groupBy("conv_id")
        .count()
        .filter(F.col("count") > max_group_triples)
        .select("conv_id")
    )
    small = triples.join(F.broadcast(big_ids), "conv_id", "left_anti")
    big = triples.join(F.broadcast(big_ids), "conv_id", "semi")
    return small, big


def _pinned(df: DataFrame, *cols: str) -> DataFrame:
    """Explicit repartition on the group keys before applyInPandas:
    AQE sizes partitions by shuffle BYTES and collapses a small-but-
    CPU-heavy Python stage to a handful of tasks (document assembly is
    Python CPU, invisible to byte-based sizing); a user repartition is
    never coalesced, and the following groupBy reuses it — one
    exchange either way."""
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism * 2, *cols)


def _salted_partials(big: DataFrame, n_salts: int) -> DataFrame:
    """(conv_id, part_json): fromRdf over subject-salted sub-groups.
    Subject-hash salting keeps every subject's triples in one partial,
    so per-partial node reconstitution is exact."""

    def _partial(pdf: pd.DataFrame) -> pd.DataFrame:
        from json_ld_spark.core import api as core_api

        conv_id = pdf["conv_id"].iloc[0]
        expanded = core_api.from_rdf(
            _pdf_to_core_triples(pdf), use_native_types=True
        )
        return pd.DataFrame(
            {"conv_id": [conv_id], "part_json": [json.dumps(expanded)]}
        )

    salted = big.withColumn(
        "_salt", F.pmod(F.xxhash64("subj"), F.lit(n_salts)).cast("int")
    )
    return _pinned(salted, "conv_id", "_salt").groupBy(
        "conv_id", "_salt"
    ).applyInPandas(_partial, schema=_PARTIAL_SCHEMA)


def _merge_parts(pdf: pd.DataFrame) -> list:
    nodes: list = []
    for pj in pdf["part_json"]:
        nodes.extend(json.loads(pj))
    # both paths sort the expanded node array by @id before
    # compact/frame, so restitch output is byte-identical to direct
    nodes.sort(key=lambda n: n.get("@id", ""))
    return nodes


def _per_conversation(
    triples: DataFrame,
    max_group_triples: int,
    n_salts: int,
    finish: "Callable[[str, list], object]",
    out_col: str,
) -> DataFrame:
    """(conv_id, ``out_col``): ``finish(conv_id, nodes)`` serialized
    once per conversation, ``nodes`` being the fromRdf node array of
    its valid triples sorted by @id. groupBy(conv_id).applyInPandas
    for normal conversations; the salt-and-restitch path (module
    docstring) for those above ``max_group_triples``."""

    def _row(conv_id: str, nodes: list) -> pd.DataFrame:
        return pd.DataFrame(
            {"conv_id": [conv_id],
             out_col: [json.dumps(finish(conv_id, nodes), sort_keys=True)]}
        )

    def _direct(pdf: pd.DataFrame) -> pd.DataFrame:
        from json_ld_spark.core import api as core_api

        expanded = core_api.from_rdf(
            _pdf_to_core_triples(pdf), use_native_types=True
        )
        expanded.sort(key=lambda n: n.get("@id", ""))
        return _row(pdf["conv_id"].iloc[0], expanded)

    def _restitch(pdf: pd.DataFrame) -> pd.DataFrame:
        return _row(pdf["conv_id"].iloc[0], _merge_parts(pdf))

    schema = f"conv_id string, {out_col} string"
    small, big = _split_by_size(_valid(triples), max_group_triples)
    out_small = _pinned(small, "conv_id").groupBy("conv_id").applyInPandas(
        _direct, schema=schema
    )
    out_big = (
        _salted_partials(big, n_salts)
        .groupBy("conv_id")
        .applyInPandas(_restitch, schema=schema)
    )
    return out_small.unionByName(out_big)


def triples_to_documents(
    triples: DataFrame,
    max_group_triples: int = 50_000,
    n_salts: int = 16,
) -> DataFrame:
    """(conv_id, doc_json): one compacted JSON-LD document per
    conversation, reassembled from its triples."""

    def _compact(conv_id: str, nodes: list):
        from json_ld_spark.core import api as core_api

        return core_api.compact(
            nodes, {"@context": KG_CONTEXT}, expanded_input=True
        )

    return _per_conversation(
        triples, max_group_triples, n_salts, _compact, "doc_json"
    )


def documents_to_triples(docs: DataFrame) -> DataFrame:
    """Inverse of triples_to_documents: expand each compacted JSON-LD
    ``doc_json`` document and re-emit its triples with a pass-through
    bnode namer (labels preserved verbatim). Parity: Reader
    (reader.rb:76-121) — documents back to statements.

    This closes the round-trip correctness gate for the writer path:
    triples → fromRdf+compact → expand+toRdf must reproduce the
    original triple set exactly (incl. bnode labels), so the DuckDB
    triple oracle validates the document JSON end-to-end."""

    def _emit(batches) -> "Iterator[pd.DataFrame]":
        from json_ld_spark.core import api as core_api
        from json_ld_spark.core.keywords import BlankNodeMapper
        from json_ld_spark.operators.jsonld_ops import TRIPLE_COLS, triple_row

        for pdf in batches:
            rows = [
                triple_row(t)
                for doc_json in pdf["doc_json"]
                for t in core_api.to_rdf(
                    json.loads(doc_json), namer=BlankNodeMapper()
                )
            ]
            # subj .. graph: the triple columns without key or error
            yield pd.DataFrame(rows, columns=TRIPLE_COLS[2:9])

    return docs.mapInPandas(
        _emit,
        schema=(
            "subj string, pred string, obj_value string, "
            "obj_is_iri boolean, obj_datatype string, "
            "obj_language string, graph string"
        ),
    )


def _conversation_frame(conv_id: str) -> dict:
    from json_ld_spark.sources.gazetteer import CONV_NS, VOCAB

    # @container @set on turns/mentions: arrays stay arrays even when
    # singletons, so downstream relational extraction never sees a
    # bare object — semantically neutral, shape-stabilizing
    return {
        "@context": {
            **KG_CONTEXT,
            "turns": {"@reverse": VOCAB + "partOf", "@container": "@set"},
            "mentions": {
                "@id": VOCAB + "mentions",
                "@type": "@id",
                "@container": "@set",
            },
        },
        "@id": CONV_NS + conv_id,
        "turns": {},
    }


def frame_conversations(
    triples: DataFrame,
    max_group_triples: int = 50_000,
    n_salts: int = 16,
) -> DataFrame:
    """(conv_id, framed_json): frame each conversation's triples into
    one nested Conversation document — framing (the reference's
    declarative query language, frame.rb:26-215) run distributed,
    one frame evaluation per conversation group.

    The frame matches the Conversation node and embeds its turns via
    @reverse partOf, so the output nests turn → mention chains.

    Mega-conversations take the salt-and-restitch path for the fromRdf
    stage; the frame evaluation itself is inherently one task per
    document (its recursive embedding needs the whole node map), but
    it then consumes pre-reduced JSON nodes instead of raw triples."""

    def _frame(conv_id: str, nodes: list):
        from json_ld_spark.core import api as core_api

        return core_api.frame(nodes, _conversation_frame(conv_id))

    return _per_conversation(
        triples, max_group_triples, n_salts, _frame, "framed_json"
    )
