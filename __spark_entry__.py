"""Driver contract for the spark-graft builder (PySpark target).

queries() exposes the engine's operator surface (SURVEY.md §2 +
training-data ops); oracle_sql() gives the ANSI-SQL equivalent DuckDB
runs on the same parquet views. Hash-based queries (minhash, SimHash,
sampling) use the md5 family of json_ld_spark/operators/hashfamily.py,
whose SQL twins the oracles below embed.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from json_ld_spark.functions.words import normalized, words
from json_ld_spark.operators.hashfamily import (
    BAND_BUCKET_CAP,
    MD5_HASH60_SQL,
    SIMHASH_BITS,
    SIMHASH_BLOCK_BITS,
    minhash_affine,
    minhash_band_bucket_sql,
)

SF_SMALL = "/root/testdata/sf0.001"

# ---------------------------------------------------------------------------
# shared SQL fragments (DuckDB dialect)
# ---------------------------------------------------------------------------

VOCAB = "https://example.org/kg/vocab#"
RDFNS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
XSD = "http://www.w3.org/2001/XMLSchema#"
TURN_NS = "https://example.org/kg/turn/"
CONV_NS = "https://example.org/kg/conv/"

_T_CTE = """
  SELECT conv_id, turn_idx, role, text, tool, ts,
         lead(turn_idx) OVER (PARTITION BY conv_id ORDER BY turn_idx)
           AS next_turn_idx
  FROM (
    SELECT printf('conv%08d', doc_id // 5) AS conv_id,
           CAST(doc_id % 5 AS INT) AS turn_idx,
           (['user','assistant','tool'])[CAST(doc_id % 3 AS INT) + 1] AS role,
           text,
           CASE WHEN doc_id % 3 = 2 THEN 'search' END AS tool,
           TIMESTAMP '2024-01-01 00:00:00'
             + (doc_id % 5) * INTERVAL 1 MINUTE AS ts
    FROM documents)
"""


def _gazetteer_values() -> str:
    from json_ld_spark.sources.gazetteer import GAZETTEER, entity_iri

    rows = ", ".join(
        f"({eid}, '{surface}', '{entity_iri(suffix)}')"
        for eid, surface, suffix in GAZETTEER
    )
    return f"(VALUES {rows}) AS g(entity_id, surface, iri)"


_BASE_CTE = f"""
WITH t AS ({_T_CTE}),
base AS (
  SELECT '{TURN_NS}' || conv_id || '/' || turn_idx AS turn,
         '{CONV_NS}' || conv_id AS conv, *
  FROM t
)
"""

_MENTION_CTE = f"""
WITH t AS ({_T_CTE}),
m AS (
  SELECT t.conv_id, t.turn_idx, g.entity_id, g.surface, g.iri,
         CAST((length(t.text) - length(replace(t.text, g.surface, '')))
              / length(g.surface) AS BIGINT) AS cnt
  FROM t JOIN {_gazetteer_values()}
    ON contains(t.text, g.surface)
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                               ORDER BY entity_id) - 1 AS rnk
  FROM m
),
b AS (
  SELECT '{TURN_NS}' || conv_id || '/' || turn_idx AS turn,
         '_:' || conv_id || 't' || turn_idx || 'm' || rnk AS bn, *
  FROM r
)
"""

_NULLS = (
    "CAST(NULL AS VARCHAR) AS obj_datatype, "
    "CAST(NULL AS VARCHAR) AS obj_language, CAST(NULL AS VARCHAR) AS graph"
)


# ---------------------------------------------------------------------------
# Spark query helpers
# ---------------------------------------------------------------------------

def _derived(spark: SparkSession, sf_dir: str) -> DataFrame:
    from json_ld_spark.sources.transcripts import derive_transcripts_from_documents

    return derive_transcripts_from_documents(spark, sf_dir)


def _triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from json_ld_spark.operators.jsonld_ops import emit_triples, valid_triples

    return valid_triples(emit_triples(_derived(spark, sf_dir)))


_TRIPLE_COLS = [
    "subj", "pred", "obj_value", "obj_is_iri",
    "obj_datatype", "obj_language", "graph",
]


def q_transcripts_derive(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _derived(spark, sf_dir)


def q_turn_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    from json_ld_spark.operators.jsonld_ops import with_stable_turn_order

    return with_stable_turn_order(_derived(spark, sf_dir)).select(
        "conv_id", "turn_idx", "turn_rank", "next_turn_idx"
    )


def q_kg_triples_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _triples(spark, sf_dir)
    return t.filter(
        ~F.col("subj").startswith("_:")
        & (F.col("pred") != VOCAB + "mentions")
    ).select(*_TRIPLE_COLS)


def q_kg_triples_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _triples(spark, sf_dir)
    return t.filter(
        F.col("subj").startswith("_:") | (F.col("pred") == VOCAB + "mentions")
    ).select(*_TRIPLE_COLS)


def q_kg_triple_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _triples(spark, sf_dir)
    # conv[0-9]+ (not {8}): conv ids are %08d-padded but GROW past 8
    # digits beyond 10^8 conversations — the fixed-width pattern
    # silently merged distinct conversations at the sf1 sweep scale
    return (
        t.groupBy(F.regexp_extract("subj", "conv[0-9]+", 0).alias("conv"))
        .agg(F.count("*").alias("n_triples"))
    )


def _mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(conv_id, turn_idx, entity): one row per mention triple (the
    ``of`` predicate) of the emitted KG."""
    t = _triples(spark, sf_dir)
    return t.filter(F.col("pred") == VOCAB + "of").select(
        "conv_id", "turn_idx", F.col("obj_value").alias("entity")
    )


def _comention_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst): one row per pair of mention rows of the same turn,
    src < dst lexicographically — the self-join every co-mention
    query aggregates its own way."""
    # materialize before the self-join: each join side would otherwise
    # re-derive the whole emission pipeline (self-joins recompute the
    # shared subtree once per side)
    m = _mentions(spark, sf_dir).localCheckpoint()
    a, b = m.alias("a"), m.alias("b")
    return a.join(
        b,
        (F.col("a.conv_id") == F.col("b.conv_id"))
        & (F.col("a.turn_idx") == F.col("b.turn_idx"))
        & (F.col("a.entity") < F.col("b.entity")),
    ).select(F.col("a.entity").alias("src"), F.col("b.entity").alias("dst"))


def q_entity_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _comention_pairs(spark, sf_dir)
        .groupBy(F.col("src").alias("entity_a"), F.col("dst").alias("entity_b"))
        .agg(F.count("*").alias("n_cooccur"))
    )


_PR_ITERS = 3
_PR_DAMPING = 0.85


def q_entity_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity importance over the emitted KG: PageRank on the
    mention co-occurrence graph with the fixed-iteration replayable
    recipe (operators/graph.py) — init, every power iteration, and
    the 6-dp rounding are replayed CTE-for-CTE by the DuckDB oracle,
    so the whole iterative computation is hash-gated (same policy as
    the trained IVF codebook)."""
    from json_ld_spark.operators.graph import pagerank

    return pagerank(
        _cooccurrence_edges(spark, sf_dir),
        n_iters=_PR_ITERS, damping=_PR_DAMPING,
    )


def _cooccurrence_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity co-mention edge set, one direction per pair (src < dst
    lexicographically)."""
    return _comention_pairs(spark, sf_dir).dropDuplicates()


def q_entity_pagerank_directed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed PageRank with dangling-mass redistribution under the
    gate: the same edge pairs kept DIRECTED (src < dst), so
    lexicographically-largest entities have no out-edges and leak
    rank unless each round redistributes the dangling sum — the
    oracle replays init, every contribution join, every per-round
    dangling aggregate (6-dp rounded in both engines), and the
    d·dang/N correction, so a missing or misplaced dangling term
    fails the hash. This is the mode a real (directed) KG uses."""
    from json_ld_spark.operators.graph import pagerank

    return pagerank(
        _cooccurrence_edges(spark, sf_dir),
        n_iters=_PR_ITERS, damping=_PR_DAMPING, symmetrize=False,
    )


def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from json_ld_spark.operators.textstats import document_stats

    return document_stats(spark.read.parquet(f"{sf_dir}/documents.parquet"))


_TFIDF_K = 5


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus keyword extraction under the gate: top-5 TF-IDF terms
    per document; term counts, smoothed idf, scoring, and per-doc
    ranking are all recomputed by the SQL oracle."""
    from json_ld_spark.operators.textstats import tfidf_top_terms

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return tfidf_top_terms(docs, k=_TFIDF_K)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from json_ld_spark.operators.dedup import exact_dedup_groups

    return exact_dedup_groups(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from json_ld_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = ngram_jaccard_pairs(docs, threshold=0.05)
    return out.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-LSH near-dup pairs with the md5-prefix 60-bit
    hash family: the DuckDB oracle recomputes the same signatures,
    blocks, and Hamming distances — a FULL oracle for the banding
    pipeline."""
    from json_ld_spark.operators.dedup import simhash_neardup_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return simhash_neardup_pairs(docs).filter(
        F.col("hamming") <= 16
    )


def q_minhash_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash blocking → Jaccard verify → connected components, with
    the md5+affine hash family: the DuckDB oracle recomputes the same
    signatures, band buckets (incl. the 64-row skew cap), verified
    pairs, and components (recursive-CTE transitive closure) — a FULL
    oracle for the entire near-dup clustering pipeline."""
    from json_ld_spark.operators.dedup import minhash_dedup_components

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return minhash_dedup_components(docs, threshold=0.3)


def q_neardup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detection → SELECTION: one canonical document per NEAR-dup
    cluster (minhash components), chosen by quality argmax with a
    deterministic min-id tie-break — the step that turns the
    clustering into an actual deduplicated corpus (dedup_keep_best
    does this per EXACT fingerprint; this is the near-dup version).
    Both the clustering and the per-cluster argmax are replayed by
    the oracle (recursive-CTE components + the same quality
    expression + the same ordering)."""
    from json_ld_spark.operators.dedup import minhash_dedup_components
    from json_ld_spark.operators.textstats import quality_score

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    comps = minhash_dedup_components(docs, threshold=0.3)
    qual = docs.select(
        F.col("doc_id").alias("id"),
        quality_score(F.col("text")).alias("q"),
    )
    j = comps.join(qual, "id")
    order = F.struct(F.col("q").alias("q"), (-F.col("id")).alias("nid"))
    return j.groupBy("component").agg(
        F.count("*").alias("n_members"),
        F.max_by("id", order).alias("keep_id"),
        F.round(F.max_by("q", order), 6).alias("keep_quality"),
    )


_NEARDUP_PLANT_STRIDE = 50
_NEARDUP_PLANT_OFFSET = 1_000_000


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup with PLANTED positives: every 50th vector
    gets a derived near-duplicate (v → round(0.9·v + 0.05, 4), id +
    1e6, same blocking label) unioned into the corpus, so the oracle
    gate sees non-zero pairs at every driver scale — the r2 row was
    green-but-vacuous (0 = 0). The derivation is exact 4-dp arithmetic
    the DuckDB oracle replays bit-for-bit, so the cosine math itself
    is now hash-gated on real positives."""
    from json_ld_spark.operators.dedup import embedding_neardup_pairs

    corpus = _neardup_planted_corpus(spark, sf_dir)
    return embedding_neardup_pairs(corpus, threshold=0.5)


def _neardup_planted_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, embedding, label): embeddings plus the planted
    near-duplicates (see q_embedding_neardup): every 50th vector gets
    a derived twin (v → round(0.9·v + 0.05, 4), id + 1e6) with the
    source's label."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    planted = emb.filter(
        F.col("vec_id") % _NEARDUP_PLANT_STRIDE == 0
    ).select(
        (F.col("vec_id") + _NEARDUP_PLANT_OFFSET).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * 0.9 + 0.05, 4).cast("float"),
        ).alias("embedding"),
        F.col("label"),
    )
    return emb.select("vec_id", "embedding", "label").unionByName(planted)


def _neardup_banded_pairs(
    spark: SparkSession, sf_dir: str, threshold: float
) -> DataFrame:
    """Shared banded-LSH candidate+cosine path for the label-free
    near-dup queries. planes/bands are sized to the ACTUAL corpus
    (neardup_lsh_config — bucket count grows with N, so Σ bucket²
    stays linear; the r4 fixed-64/256-bucket design measured
    29.8×/38.5× at 10× rows). The one count() is a 1-value parameter
    fetch. At the driver's gate scale (sf0.01: N=510) the config is
    (planes=6, bands=5), which is exactly what the static SQL oracle
    replays — tests/test_oracle_parity.py::test_neardup_gate_config_pin
    pins that equivalence against the actual parquet."""
    from json_ld_spark.operators.dedup import (
        embedding_neardup_pairs_banded,
        neardup_lsh_config,
        neardup_lsh_planes,
    )

    corpus = _neardup_planted_corpus(spark, sf_dir)
    n = corpus.count()
    planes_per_band, n_bands = neardup_lsh_config(n)
    planes = neardup_lsh_planes(planes_per_band, n_bands, _LSH_DIM)
    return embedding_neardup_pairs_banded(
        corpus, planes, threshold=threshold
    )


def q_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LABEL-FREE embedding near-dup: blocking by MULTI-BAND sign-LSH
    buckets — the realistic path at 100 TB (no labels exist). Same
    planted positives as embedding_neardup; the literal per-band
    plane matrices make bucketing — and therefore the whole candidate
    set — reproducible by the SQL oracle. Bucket count scales with
    corpus size and hot buckets are row-capped, so the per-bucket
    self-join stays linear in N; the band count restores ≥0.9 recall
    on the planted positives (measured 0.9 at sf0.01 and sf0.1). A
    planted pair whose members collide in NO band is correctly absent
    in both engines."""
    return _neardup_banded_pairs(spark, sf_dir, threshold=0.5)


def q_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training triplet mining (operators/kg_train.
    contrastive_pairs) over the LSH-blocked cosine pairs: positives
    are planted near-dups (cosine ≥ 0.9), HARD negatives are
    same-bucket collisions that are dissimilar (cosine ≤ 0.3) — the
    confusable pairs a random negative sampler never finds. The
    oracle replays the multi-band bucketing (incl. the row cap), pair
    cosines, and both argmin selections. Consumes the same
    linear-at-scale banded candidate stream as embedding_neardup_lsh
    (the r4 version inherited that path's quadratic blowup: 38.5× at
    10× rows)."""
    from json_ld_spark.operators.kg_train import contrastive_pairs

    pairs = _neardup_banded_pairs(spark, sf_dir, threshold=-1.0)
    return contrastive_pairs(pairs, pos_threshold=0.9, neg_threshold=0.3)


def _ann_queries(emb: DataFrame, which) -> DataFrame:
    """(query_id, query_vec array<double>): the corpus vectors that
    satisfy ``which``, as an ANN query frame. Cosines and plane dot
    products cast each element to double, so the cast changes no
    result bit."""
    return emb.filter(which).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("query_vec"),
    )


def q_ann_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from json_ld_spark.functions.columns import cosine_similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = _ann_queries(emb, F.col("vec_id") == 0)
    return (
        emb.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(
                cosine_similarity(F.col("embedding"), F.col("query_vec")), 4
            ).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.col("vec_id"))
        .limit(10)
    )


_LSH_PLANES = 6
_LSH_DIM = 64
_IVF_CELLS = 16
_IVF_NPROBE = 4


def _lsh_planes() -> list[list[float]]:
    from json_ld_spark.operators.similarity import plane_matrix

    return plane_matrix(_LSH_PLANES, _LSH_DIM)


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe sign-LSH top-k for vector 0: lsh_topk_batch on a
    one-row query frame. The plane matrix is a literal ±1 matrix
    (plane_matrix), so the bucket function — and therefore the whole
    approximate result — is reproduced exactly by the DuckDB oracle:
    a FULL oracle for an LSH query, not a rows-only check."""
    from json_ld_spark.operators.similarity import lsh_topk_batch

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return lsh_topk_batch(
        emb, _ann_queries(emb, F.col("vec_id") == 0), _lsh_planes(),
        k=10, probe_radius=1,
    ).select("vec_id", "cosine")


_IVF_ITERS = 2
_IVF_CODEBOOK_CACHE: dict = {}


def _trained_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-once, serve-many: both IVF queries share one trained
    codebook per (session, corpus) — a serving system trains and
    persists its index rather than retraining per query, and the
    Lloyd loop dominated BOTH bench entries when each trained its
    own. The training recipe is fully deterministic (mod init, fixed
    iterations, 6-dp rounding), so sharing cannot mask an error: each
    query's DuckDB oracle still replays the training CTE-for-CTE and
    hash-checks the result built from the shared codebook. The
    localCheckpoint is the 'persisted index' stand-in — at production
    scale this is a written table."""
    from json_ld_spark.operators.similarity import train_ivf_codebook

    key = (id(spark), sf_dir, _IVF_CELLS, _IVF_ITERS)
    cents = _IVF_CODEBOOK_CACHE.get(key)
    if cents is None:
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        cents = train_ivf_codebook(
            emb, n_centroids=_IVF_CELLS, n_iters=_IVF_ITERS
        ).localCheckpoint()
        _IVF_CODEBOOK_CACHE[key] = cents
    return cents


def q_ann_lsh_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch multi-probe LSH under the gate: every 100th vector queries
    the corpus in one plan (lsh_topk_batch — probe table broadcast,
    corpus bucketed once, never shuffled). Literal planes make the
    whole approximate result set reproducible by the SQL oracle."""
    from json_ld_spark.operators.similarity import lsh_topk_batch

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = _ann_queries(emb, F.col("vec_id") % _BATCH_QUERY_STRIDE == 0)
    return lsh_topk_batch(emb, queries, _lsh_planes(), k=10, probe_radius=1)


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k with a TRAINED codebook: k-means (fixed seedless
    recipe — mod-partition init + 2 Lloyd iterations, centroids
    rounded to 6 dp per step) — fully deterministic, so the DuckDB
    oracle replays the training loop CTE-for-CTE and the whole
    index build + assignment + probing + scoring is hash-gated. The
    query is vector 0, as a one-row ivf_topk_batch query frame."""
    from json_ld_spark.operators.similarity import ivf_assign, ivf_topk_batch

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = _trained_codebook(spark, sf_dir)
    return ivf_topk_batch(
        ivf_assign(emb, cents), cents, _ann_queries(emb, F.col("vec_id") == 0),
        k=10, nprobe=_IVF_NPROBE,
    ).select("vec_id", "cosine")


def q_ann_ivf_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH ANN under the gate: every 100th vector queries the trained
    IVF index in one plan (ivf_topk_batch — probe join, corpus never
    shuffles). The oracle replays training + per-query probing +
    ranking, so the whole serving join is hash-gated."""
    from json_ld_spark.operators.similarity import ivf_assign, ivf_topk_batch

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = _trained_codebook(spark, sf_dir)
    assigned = ivf_assign(emb, cents)
    queries = _ann_queries(emb, F.col("vec_id") % _BATCH_QUERY_STRIDE == 0)
    return ivf_topk_batch(assigned, cents, queries, k=10, nprobe=_IVF_NPROBE)


def q_lineitem_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


# revenue term in EXACT decimal: a double sum's value depends on
# partition/accumulation order, and once a group's true sum sits close
# enough to a 2-dp rounding boundary the two engines land on opposite
# sides (first seen at the sf1 sweep: …941.395 → .39 vs .40). Decimal
# sums are order-independent, so round-then-cast is bit-stable.
def _rev_sum():
    # built lazily: Column construction needs an active SparkContext
    term = (
        F.col("l_extendedprice").cast("decimal(18,4)")
        * (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,4)")
    )
    return F.round(F.sum(term), 2).cast("double")


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            _rev_sum().alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


def q_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(
            "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day"), "event_type"
        )
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
    )


def q_top_suppliers_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    rev = (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy("n_name", "s_name")
        .agg(_rev_sum().alias("revenue"))
    )
    w = Window.partitionBy("n_name").orderBy(F.desc("revenue"), F.col("s_name"))
    return (
        rev.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("n_name", "s_name", "revenue", "rank")
    )


def q_kg_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Writer-path round trip: triples → fromRdf+compact (one JSON-LD
    document per conversation) → expand+toRdf back to triples. The
    output must equal the original triple set exactly — bnode labels
    included (pass-through namer) — so the proven SQL triple oracle
    validates the document JSON end-to-end. This exercises fromRDF,
    compaction, expansion, AND toRDF in one gated query."""
    from json_ld_spark.operators.output_docs import (
        documents_to_triples,
        triples_to_documents,
    )

    docs = triples_to_documents(_triples(spark, sf_dir))
    return documents_to_triples(docs).select(*_TRIPLE_COLS)


def q_kg_node_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational fromRDF round trip: triples → per-subject expanded
    node docs (groupBy(graph,subj) reconstitution) → parsed back to
    triples with native from_json/explode. Output must equal the
    original triple set (plain @value canonicalizes to xsd:string,
    the RDF 1.1 default), making the node-doc JSON fully oracled."""
    from json_ld_spark.operators.from_rdf_ops import (
        node_docs_to_triples,
        triples_to_node_docs,
    )

    node_docs = triples_to_node_docs(_triples(spark, sf_dir))
    return node_docs_to_triples(node_docs).select(*_TRIPLE_COLS)


def q_kg_frame_conversations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Framing as a distributed query: each conversation's triples
    framed into one nested Conversation document (frame = the
    reference's declarative query language, SURVEY §2.8), then the
    framed JSON is relationally extracted (regexp over the tree) into
    per-conv structure facts — turn indexes and nested mention labels
    — that the SQL oracle recomputes from the base tables. Framing
    prunes once-referenced bnode ids (frame.rb:220-266), so a
    label-exact triple round-trip is impossible by design; content
    extraction is the correct gate. Note the reference's own
    re-embed semantics (frame.rb:49-54,196-206): each @reverse-framed
    turn resets uniqueEmbeds, so the turn at chain rank r appears r
    times — the oracle models exactly that."""
    from json_ld_spark.operators.output_docs import frame_conversations

    framed = frame_conversations(_triples(spark, sf_dir))
    # @embed @once within each reverse-framed subtree: extraction by
    # key is exact regardless of nesting depth. The "label" filter
    # drops the @context's own vocab-IRI entry.
    idxs = F.sort_array(
        F.transform(
            F.regexp_extract_all(
                "framed_json", F.lit(r'"kg:index":\s*(-?\d+)'), F.lit(1)
            ),
            lambda s: s.cast("int"),
        )
    )
    labels = F.sort_array(
        F.filter(
            F.regexp_extract_all(
                "framed_json", F.lit(r'"label":\s*"([^"]*)"'), F.lit(1)
            ),
            lambda s: ~s.contains("://"),
        )
    )
    return framed.select(
        "conv_id",
        F.size(idxs).alias("n_turns"),
        F.concat_ws(",", F.transform(idxs, lambda i: i.cast("string"))).alias(
            "turn_idxs"
        ),
        F.size(labels).alias("n_mentions"),
        F.concat_ws(",", labels).alias("mention_labels"),
    )


_ALIAS_SUFFIX = "-alias-form"
OWL_SAMEAS = "http://www.w3.org/2002/07/owl#sameAs"


def _alias_rows() -> list[tuple[str, str]]:
    """Planted alias table: every gazetteer entity plus a variant IRI
    whose surface is a case variant (identical lowercased shingle set
    → certain minhash candidate → Jaccard 1 → must merge), plus two
    negative controls with dissimilar surfaces that must NOT merge.
    Variant IRIs sort after their canonical (suffix appended), so the
    component minimum — the canonical head — is the original IRI."""
    from json_ld_spark.sources.gazetteer import GAZETTEER, entity_iri

    rows: list[tuple[str, str]] = []
    for _eid, surface, suffix in GAZETTEER:
        rows.append((entity_iri(suffix), surface))
        rows.append((entity_iri(suffix) + _ALIAS_SUFFIX, surface.upper()))
    rows.append(
        ("https://example.org/kg/entity/neg-a", "completely unrelated surface one")
    )
    rows.append(
        ("https://example.org/kg/entity/neg-b", "entirely different phrasing two")
    )
    return rows


def q_canonicalized_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end canonicalization (north rule): the REAL minhash
    blocking → Jaccard verify → connected components → merge map
    pipeline (pipeline.alias_merge_map) over a planted alias table,
    applied to the triple table with apply_merge_map. Output =
    relabeled entity-link triples (planted variant IRIs on odd turns
    must come back canonical) UNION the merge map as owl:sameAs rows.
    The oracle predicts both exactly — wrong merge direction, a
    missed pair, or a spurious (negative-control) merge all fail."""
    from json_ld_spark.operators.canonicalize import apply_merge_map
    from json_ld_spark.pipeline import alias_merge_map

    aliases = spark.createDataFrame(
        _alias_rows(), "entity_iri string, surface string"
    )
    mm = alias_merge_map(spark, aliases)
    of = _triples(spark, sf_dir).filter(F.col("pred") == VOCAB + "of")
    planted = of.withColumn(
        "obj_value",
        F.when(
            F.col("turn_idx") % 2 == 1,
            F.concat(F.col("obj_value"), F.lit(_ALIAS_SUFFIX)),
        ).otherwise(F.col("obj_value")),
    ).select("subj", "pred", "obj_value")
    fixed = apply_merge_map(planted, mm)
    map_triples = mm.select(
        F.col("from_id").alias("subj"),
        F.lit(OWL_SAMEAS).alias("pred"),
        F.col("to_id").alias("obj_value"),
    )
    return fixed.unionByName(map_triples)


def q_kg_triples_stream_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME triple set emitted through the raw streaming key-order
    reader (core/streaming_reader.py, parity streaming_reader.rb) —
    single pass over unexpanded turn documents, provisional statements
    rewritten when @id arrives. Gated against the identical triple SQL
    oracle as the expand-path emitters, so the two emission paths are
    proven value-equal (bnode labels included) at driver scale."""
    from json_ld_spark.operators.jsonld_ops import (
        emit_triples_streaming_reader,
        valid_triples,
    )

    t = valid_triples(emit_triples_streaming_reader(_derived(spark, sf_dir)))
    return t.select(*_TRIPLE_COLS)


def q_rdf_lists_reconstitute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rdf:first/rest chains built per user from the events table
    (one list cell per event, ordered by event time), then collapsed
    by the pointer-doubling reconstitute_lists operator — chains of
    ~100 cells complete in ~7 doubling joins. The oracle recomputes
    every list's head, items, and depth relationally, so truncation,
    mis-ordering, or a broken doubling join all fail the gate."""
    from pyspark.sql import Window

    from json_ld_spark.operators.from_rdf_ops import (
        RDF_FIRST,
        RDF_NIL,
        RDF_REST,
        reconstitute_lists,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cells = ev.select(
        "user_id",
        F.col("event_id").cast("string").alias("val"),
        (F.row_number().over(w) - 1).alias("pos"),
        F.lead("event_id").over(w).isNotNull().alias("has_next"),
    ).select(
        F.concat(F.lit("_:lst"), "user_id", F.lit("_"), "pos").alias("subj"),
        "user_id", "val", "pos", "has_next",
    )
    first_rows = cells.select(
        "subj", F.lit(RDF_FIRST).alias("pred"), F.col("val").alias("obj_value")
    )
    rest_rows = cells.select(
        "subj",
        F.lit(RDF_REST).alias("pred"),
        F.when(
            F.col("has_next"),
            F.concat(F.lit("_:lst"), "user_id", F.lit("_"), F.col("pos") + 1),
        ).otherwise(F.lit(RDF_NIL)).alias("obj_value"),
    )
    triples = first_rows.unionByName(rest_rows)
    out = reconstitute_lists(triples, max_iter=12)
    return out.select(
        "head",
        F.concat_ws(",", "items").alias("items_csv"),
        "depth",
        "exhausted",
    )


def q_jsonld_expand_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed expansion of ARBITRARY JSON-LD rows against the
    vendored-context registry (operators.jsonld_ops.expand_documents):
    documents are synthesized from the customer table with the
    registered context IRI; every 10th row names an UNREGISTERED
    remote context and must come back as an in-band quarantine row
    with the spec code 'loading remote context failed' (parity
    api.rb:624-718) — the oracle predicts expanded values and
    quarantine rows exactly."""
    from json_ld_spark.operators.jsonld_ops import expand_documents
    from json_ld_spark.sources.gazetteer import CONTEXT_URL

    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    ctx_url = F.when(
        F.col("c_custkey") % 10 == 0, F.lit("https://unknown.example/ctx")
    ).otherwise(F.lit(CONTEXT_URL))
    doc_json = F.concat(
        F.lit('{"@context":"'), ctx_url,
        F.lit('","@id":"https://example.org/kg/cust/'),
        F.col("c_custkey").cast("string"),
        F.lit('","role":"'), F.col("c_name"), F.lit('"}'),
    )
    docs = c.select(
        F.col("c_custkey").cast("long").alias("doc_id"),
        doc_json.alias("doc_json"),
    )
    out = expand_documents(docs)
    return out.select(
        "doc_id",
        F.coalesce(
            F.regexp_extract("expanded_json", r'"@id": ?"([^"]*)"', 1),
            F.lit(""),
        ).alias("node_id"),
        F.coalesce(
            F.regexp_extract("expanded_json", r'"@value": ?"([^"]*)"', 1),
            F.lit(""),
        ).alias("role"),
        "error_code",
    )


_N_MEDIA = 240


def q_multimodal_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing under the gate: frame sampling and resize
    planning over the synthesized media table are pure metadata
    arithmetic, so the oracle recomputes both exactly (the codec stays
    an honestly-declared stub; what's gated here is the distributed
    plan — explode shapes, filters, typed metadata)."""
    from json_ld_spark.operators.multimodal import (
        resize_plan,
        sample_frames,
        synthesize_media,
    )

    media = synthesize_media(spark, n=_N_MEDIA)
    frames = (
        sample_frames(media, every_n=5)
        .groupBy("media_id", "n_frames")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list("frame_idx")),
                    lambda x: x.cast("string"),
                ),
            ).alias("frame_idxs")
        )
        .select(
            "media_id",
            F.lit("video").alias("kind"),
            F.col("n_frames"),
            "frame_idxs",
            F.lit(None).cast("int").alias("target_width"),
            F.lit(None).cast("int").alias("target_height"),
        )
    )
    plan = resize_plan(media, max_side=128).select(
        "media_id",
        F.lit("image").alias("kind"),
        F.lit(None).cast("int").alias("n_frames"),
        F.lit("").alias("frame_idxs"),
        "target_width",
        "target_height",
    )
    return frames.unionByName(plan)


_DECODE_EVERY_N = 5


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL codec under the gate: payloads are actual PNG / PPM /
    baseline JPEG (grayscale, 4:4:4, 4:2:0) / WAV-PCM16 / ppm-seq
    containers (synthesize_decodable_media), decoded with the
    stdlib+numpy codecs in strict mode, and the emitted per-channel /
    per-frame / per-stream integer statistics are recomputed by the
    DuckDB oracle from the closed-form content function — a corrupt
    encoder, a misparsed header, or an off-by-one in frame sampling
    all fail the hash. This closes the round-2 'codec is a stub' gap:
    the strict path is the only path for synthetic media."""
    from json_ld_spark.operators.multimodal import (
        decode_stats,
        synthesize_decodable_media,
    )

    media = synthesize_decodable_media(spark, n=_N_MEDIA)
    return decode_stats(media, every_n=_DECODE_EVERY_N)


_AUDIO_WIN = 400


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-level audio features (25 ms windows: integer energy,
    zero-crossing count, min/max) over REAL decoded WAV-PCM16 — the
    VAD / voiced-unvoiced signals an audio training pipeline computes
    per frame. The oracle regenerates every sample from the closed
    form and recomputes each window's features relationally, so a
    mis-framed window, an off-by-one in the crossing rule, or a
    corrupt decode all fail the hash."""
    from json_ld_spark.operators.multimodal import (
        audio_window_features,
        synthesize_decodable_media,
    )

    media = synthesize_decodable_media(spark, n=_N_MEDIA)
    return audio_window_features(media, win=_AUDIO_WIN)


def _fresh_stream_dir(prefix: str) -> str:
    """mkdtemp for a streaming replay under a per-PROCESS parent dir —
    each replay stages a parquet copy of the corpus, and without a
    sweep repeated gate/bench runs would accumulate multi-MB
    directories in /tmp indefinitely. The sweep only removes sibling
    pid-dirs whose owning process is GONE (liveness-checked, never
    age-based): a concurrent replay still running after an hour keeps
    its staged input and checkpoint dirs — no other process can
    reclaim them out from under a live query."""
    import shutil
    import tempfile

    root = os.path.join(tempfile.gettempdir(), "json_ld_spark_streams")
    own = os.path.join(root, f"pid{os.getpid()}")
    os.makedirs(own, exist_ok=True)
    try:
        siblings = os.listdir(root)
    except OSError:
        siblings = []
    for name in siblings:
        if not name.startswith("pid") or name == f"pid{os.getpid()}":
            continue
        pid_part = name[3:]
        alive = pid_part.isdigit() and os.path.exists(f"/proc/{pid_part}")
        if not alive:
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=own)


def _stage_ordered_batches(base: str, parts) -> str:
    """Write each part as ONE parquet file into base/in with strictly
    increasing mtimes — the file source orders batches by modification
    time, which is what makes the replay's batch sequence (and
    therefore watermark/state evolution) deterministic."""
    import shutil

    in_dir = os.path.join(base, "in")
    os.makedirs(in_dir)
    for i, part in enumerate(parts):
        tmp = os.path.join(base, f"tmp{i}")
        part.coalesce(1).write.parquet(tmp)
        src = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dest = os.path.join(in_dir, f"batch{i}.parquet")
        shutil.copy(src, dest)
        os.utime(dest, (1_700_000_000 + i * 1000,) * 2)
        shutil.rmtree(tmp, ignore_errors=True)
    return in_dir


def _drop_stream_inputs(base: str) -> None:
    """Remove a replay's staged input and checkpoint dirs — the bulk
    of its footprint; only the small sink under base/out survives."""
    import shutil

    for name in ("in", "ckpt"):
        shutil.rmtree(os.path.join(base, name), ignore_errors=True)


def _replay(
    spark: SparkSession,
    parts,
    build: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """Bounded file replay shared by the stream_* gates:
    stage each part as one file (ordered mtimes), stream them one file
    per trigger with the schema of ``parts[0]``, run ``build(stream)``
    into a foreachBatch parquet append under an availableNow trigger,
    and return the sink. Termination is VERIFIED (a timed-out replay
    must fail loudly, not hand the gate a partial sink), and so is the
    gates' premise: every part must arrive as its own non-empty
    micro-batch, and there must be at least two of them — otherwise
    the replay proves nothing about batch boundaries. Staged input and
    checkpoint are removed even when the replay fails."""
    base = _fresh_stream_dir("kgreplay_")
    out_dir = os.path.join(base, "out")
    try:
        in_dir = _stage_ordered_batches(base, parts)
        stream = (
            spark.readStream.schema(parts[0].schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        q = (
            build(stream)
            .writeStream.foreachBatch(
                lambda df, _eid: df.write.mode("append").parquet(out_dir)
            )
            .option("checkpointLocation", os.path.join(base, "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            terminated = q.awaitTermination(300)
        finally:
            q.stop()
        if not terminated:
            raise RuntimeError("streaming replay did not terminate in 300s")
        n_batches = sum(1 for p in q.recentProgress if p.numInputRows > 0)
        if n_batches != len(parts) or n_batches < 2:
            raise RuntimeError(
                f"streaming replay ran {n_batches} input micro-batches for "
                f"{len(parts)} parts; it needs one per part, at least two"
            )
    finally:
        _drop_stream_inputs(base)
    return spark.read.parquet(out_dir)


def _time_thirds(df: DataFrame, back1, back2):
    """(tmax, f0, f1, f2): ``df`` split at max(ts) − back1 and
    max(ts) − back2 into three event-time-ordered slices."""
    tmax = df.agg(F.max("ts")).collect()[0][0]  # 1-row parameter fetch
    t1, t2 = F.lit(tmax - back1), F.lit(tmax - back2)
    ts = F.col("ts")
    return (
        tmax,
        df.filter(ts < t1),
        df.filter((ts >= t1) & (ts < t2)),
        df.filter(ts >= t2),
    )


def _latest_snapshot(snaps: DataFrame, *keys: str) -> DataFrame:
    """The max-``seq`` row per key: the final state of a snapshot-
    emitting stateful stream (last snapshot wins)."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(F.desc("seq"))
    return (
        snaps.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def q_stream_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming emission under the gate: the transcript
    corpus is replayed as a 4-file parquet stream through the REAL
    streaming pipeline (stream_pipeline.stream_triples — foreachBatch,
    checkpointLocation, idempotent append), then the sink is compacted
    (valid_triples + triple-key dedup, the documented batch-compaction
    step) and must equal the batch answer minus nextTurn links —
    streaming emits ordered=False because a micro-batch only sees a
    conversation prefix (streaming_writer.rb:14-125 defers reordering
    the same way). Micro-batch boundaries cannot affect the result:
    the gate proves exactly that."""
    from json_ld_spark.operators.jsonld_ops import valid_triples
    from json_ld_spark.streaming.stream_pipeline import stream_triples

    base = _fresh_stream_dir("kgstream_")
    in_dir = os.path.join(base, "in")
    out_dir = os.path.join(base, "out")
    try:
        # stream_triples reads one file per trigger: the 4 staged files
        # become 4 real micro-batches, so the gate genuinely exercises
        # micro-batch-boundary independence
        _derived(spark, sf_dir).repartition(4).write.parquet(in_dir)
        q = stream_triples(spark, in_dir, out_dir,
                           os.path.join(base, "ckpt"),
                           query_name="kg_stream_gate")
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        _drop_stream_inputs(base)
    out = spark.read.parquet(out_dir)
    return valid_triples(out).select(*_TRIPLE_COLS).dropDuplicates()


def q_stream_turn_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator under the gate: turns are
    split into two files at turn_idx 3 and streamed one file per
    micro-batch (mtimes force the order), so the cross-batch nextTurn
    links (2→3) can ONLY come from applyInPandasWithState state —
    the per-batch window cannot see them. The full link set must
    equal the batch lead() answer: a dropped state update or
    mis-sorted batch arrival fails the hash."""
    from json_ld_spark.streaming.stream_pipeline import stateful_turn_chain

    der = _derived(spark, sf_dir)
    parts = (
        der.filter(F.col("turn_idx") < 3), der.filter(F.col("turn_idx") >= 3)
    )
    return _replay(spark, parts, stateful_turn_chain).select(
        "conv_id", "turn_idx", "next_turn_idx"
    )


def q_stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked windowed aggregation under the gate: the events
    table is replayed as THREE ordered micro-batches — batch 0 the
    early corpus, batch 1 advances the watermark and EVICTS the early
    windows, batch 2 carries planted late copies of early events (ids
    +1e7, ~4 days below the watermark) that must now be DROPPED. The
    three-batch shape matters: Spark drops a late row only once its
    window state was evicted in a PRIOR batch — a late row arriving in
    the same batch that evicts its window still merges (measured; the
    docs' drop guarantee is eviction-relative, not wall-watermark-
    relative). Final emitted windows (end ≤ max(ts) − 30 min) must
    hold exactly the original rows — a counted late copy, a mis-closed
    window, or a broken watermark all fail the hash. This was the one
    streaming operator family with no CORRECTNESS row."""
    from datetime import timedelta

    from json_ld_spark.streaming.stream_pipeline import stream_event_counts

    cols = ["event_id", "ts", "user_id", "event_type", "value"]
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(*cols)
    tmax, f0, f1, f2 = _time_thirds(
        ev, timedelta(hours=96), timedelta(hours=48)
    )
    planted = (
        f0.filter(
            (F.col("ts") < F.lit(tmax - timedelta(hours=144)))
            & (F.col("event_id") % 20 == 0)
        )
        .select(
            (F.col("event_id") + 10_000_000).alias("event_id"),
            "ts", "user_id", "event_type", "value",
        )
    )
    parts = (f0, f1, f2.unionByName(planted))
    return _replay(spark, parts, stream_event_counts).select(
        "window_start", "window_end", "event_type", "n_events", "total_value"
    )


def _turn_rate_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcript-shaped rows with an event-time spread wide enough
    for watermark eviction (the derived corpus packs all turns into a
    single 5-minute window): same arithmetic-only derivation, but
    conversations advance wall-clock — ts = 2024-01-01 +
    (doc_id mod 5) minutes + (doc_id div 5) · 7 minutes. NTZ out so
    the staged parquet round-trips engine-neutrally."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        F.col("doc_id"),
        F.format_string(
            "conv%08d", (F.col("doc_id") / 5).cast("long")
        ).alias("conv_id"),
        F.element_at(
            F.array(F.lit("user"), F.lit("assistant"), F.lit("tool")),
            (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"),
        ).alias("role"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_dt_interval(
                F.lit(0),
                F.lit(0),
                F.pmod(F.col("doc_id"), F.lit(5))
                + F.floor(F.col("doc_id") / 5) * 7,
                F.lit(0),
            )
        ).cast("timestamp_ntz").alias("ts"),
    )


def q_stream_turn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked turn-rate monitoring aggregate under the gate —
    the same 3-batch replay shape as stream_windowed_counts (early
    corpus / watermark-advancing batch / planted late copies ~3h
    below the watermark that must be DROPPED), over the transcript
    stream instead of events. Emitted (5-min window, role) turn
    counts must hold exactly the original rows. ``n_convs`` (HLL++)
    is selected out: approx_count_distinct is deterministic within
    Spark but engine-specific, so it cannot be value-hashed against
    a SQL oracle — the exact count column is the gated surface."""
    from datetime import timedelta

    from json_ld_spark.streaming.stream_pipeline import stream_turn_rate

    tx = _turn_rate_input(spark, sf_dir)
    tmax, f0, f1, f2 = _time_thirds(
        tx, timedelta(minutes=60), timedelta(minutes=30)
    )
    planted = f0.filter(
        (F.col("ts") < F.lit(tmax - timedelta(minutes=180)))
        & (F.col("doc_id") % 20 == 0)
    )
    return _replay(
        spark,
        (f0, f1, f2.unionByName(planted)),
        lambda s: stream_turn_rate(s, "5 minutes", "10 minutes"),
    ).select("window_start", "window_end", "role", "n_turns")


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup under the gate: the events table is
    replayed as THREE ordered micro-batches where batches 1 and 2
    carry planted EXACT COPIES of batch-0 rows (every 7th early
    event, full row re-sent — the at-least-once redelivery shape).
    dropDuplicatesWithinWatermark must emit each event exactly once,
    so the compacted sink equals the ORIGINAL events table row-for-row
    — an un-dropped replay, a dropped first arrival, or premature
    state eviction all fail the hash. The watermark delay (240 h)
    exceeds the staged corpus's event-time span, so every planted
    duplicate arrives inside its key's state window and the drop
    guarantee is unconditional — which is what makes the batch
    DISTINCT oracle exact rather than approximate."""
    from datetime import timedelta

    from json_ld_spark.streaming.stream_pipeline import stream_exact_dedup

    cols = ["event_id", "ts", "user_id", "event_type", "value"]
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(*cols)
    _, f0, f1, f2 = _time_thirds(ev, timedelta(hours=96), timedelta(hours=48))
    dup = f0.filter(F.col("event_id") % 7 == 0)
    return _replay(
        spark,
        (f0, f1.unionByName(dup), f2.unionByName(dup)),
        lambda s: stream_exact_dedup(s, watermark="240 hours"),
    ).select(*cols)


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters under the gate: per-document
    duplicate-word and top-bigram fractions, computed as a zero-
    shuffle JVM fold (max-run-length over the sorted bigram array) —
    the oracle recomputes the same numbers RELATIONALLY (unnest →
    per-gram counts → max/sum), so the fold, the bigram construction,
    and the 6-dp rounding are all cross-checked by a structurally
    different algorithm, not replayed."""
    from json_ld_spark.operators.textstats import repetition_stats

    return repetition_stats(spark.read.parquet(f"{sf_dir}/documents.parquet"))


_DECON_N = 6
_DECON_BENCH_MOD = 211


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination under the gate: the eval set is a
    deterministic slice of the corpus itself (doc_id ≡ 0 mod 211 —
    self-contained, no external data), the training side is everything
    else, and each training doc is scored by how many of its distinct
    word 6-grams appear in the eval set. The eval gram set is
    broadcast (eval suites are small by construction); clean docs
    appear with n_hit_grams = 0 — a silently dropped clean doc or a
    missed leak both fail the hash."""
    from json_ld_spark.operators.decontaminate import contamination

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % _DECON_BENCH_MOD == 0)
    train = docs.filter(F.col("doc_id") % _DECON_BENCH_MOD != 0)
    return contamination(train, bench, n=_DECON_N)


def q_entity_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity triangle counts on the KG co-occurrence graph with
    the degree-oriented (Suri–Vassilvitskii) enumeration — wedges are
    generated only at each edge's low-degree endpoint, so hub
    entities cannot blow up the self-join. The oracle recomputes the
    ORIENTATION (degree table + tie-break) and the closed-wedge join
    in SQL, so a wrong orientation rule, a double-counted triangle,
    or a missed closing edge all fail the hash."""
    from json_ld_spark.operators.graph import triangle_counts

    return triangle_counts(_cooccurrence_edges(spark, sf_dir))


_KHOP_SEEDS = 3
_KHOP_K = 2


def q_entity_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-hop neighborhood query over the constructed KG (the SPARQL
    property-path read shape): minimal-distance BFS from the 3
    lexicographically-smallest entities, 2 hops. The oracle
    recomputes frontier expansion round-for-round (n1, then n2-
    candidates EXCEPT visited), so a BFS that re-visits, misses the
    anti-join, or reports a non-minimal distance fails the hash."""
    from json_ld_spark.operators.graph import khop_neighbors

    edges = _cooccurrence_edges(spark, sf_dir)
    entities = (
        edges.select(F.col("src").alias("e"))
        .unionByName(edges.select(F.col("dst").alias("e")))
        .distinct()
    )
    seeds = entities.orderBy("e").limit(_KHOP_SEEDS)
    return khop_neighbors(edges, seeds, k=_KHOP_K).select(
        "seed", F.col("node").alias("entity"), "dist"
    )


def q_entity_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI-weighted co-mention edges — the KG edge-scoring step that
    turns raw co-occurrence counts into association strength. N (total
    turns) is a counted recipe parameter (PageRank-N policy); the
    oracle recomputes marginals, pair counts, and the 6-dp-rounded
    log ratio, so a miscounted marginal or a double-counted repeated
    mention fails the hash."""
    from json_ld_spark.operators.graph import pmi_edge_weights

    # materialized like _comention_pairs: the marginals and both sides
    # of the co-mention self-join would each re-derive the emission
    m = _mentions(spark, sf_dir).localCheckpoint()
    n_turns = (
        _derived(spark, sf_dir).select("conv_id", "turn_idx").distinct().count()
    )  # 1-row recipe parameter (N), same policy as PageRank's N
    return pmi_edge_weights(m, n_events=n_turns)


_LPA_ITERS = 3


def q_entity_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection over the co-mention graph: 3 rounds of
    synchronous max-count/min-label propagation (operators/graph.py)
    — every round is replayed CTE-for-CTE by the oracle (join, vote
    count, argmax with the count-desc/label-asc tie order), so an
    async shortcut, a missed tie rule, or a round short-circuited by
    convergence testing all fail the hash."""
    from json_ld_spark.operators.graph import label_propagation

    return label_propagation(
        _cooccurrence_edges(spark, sf_dir), n_iters=_LPA_ITERS
    ).select(F.col("node").alias("entity"), F.col("label").alias("community"))


def q_lm_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style quality filter under the gate: per-document
    mean log-prob under an add-one-smoothed bigram LM trained on the
    corpus itself. V (distinct corpus tokens) is a counted recipe
    parameter; the oracle retrains the model (bigram + context counts)
    and rescoring relationally, so a wrong smoothing denominator, a
    raw-unigram context count, or a dropped short document fails."""
    from json_ld_spark.operators.textstats import bigram_lm_scores

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    vocab = (
        docs.select(F.explode(words(F.lower(F.col("text")))).alias("w"))
        .distinct()
        .count()
    )  # 1-row recipe parameter (V), same policy as PageRank's N
    return bigram_lm_scores(docs, vocab_size=vocab)


_SPLIT_PLANT_MOD = 13
_SPLIT_PLANT_OFF = 10**9


def q_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-guarded train/val/test split under the gate. Every
    13th document is re-planted under a shifted id with IDENTICAL
    text, so a deterministic fraction of planted copies lands in
    train while their source sits in val/test — real cross-split
    contamination the guard must drop (without the plant the anti-
    join is vacuous at small sf). The oracle replays the md5 bucket
    thresholds, the fingerprint, and the anti-join; val/test rows
    must pass through untouched."""
    from json_ld_spark.operators.corpus import leakage_safe_splits

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    planted = docs.filter(F.col("doc_id") % _SPLIT_PLANT_MOD == 0).select(
        (F.col("doc_id") + _SPLIT_PLANT_OFF).alias("doc_id"), "text"
    )
    return leakage_safe_splits(docs.unionByName(planted))


_MIX_RATES = {"src0": 1.0, "src1": 0.25, "src2": 0.1}
_MIX_DEFAULT = 0.05


def q_domain_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixing sampler under the gate: per-source keep rates
    (keep all of src0, a quarter of src1, a tenth of src2, 5% of the
    rest) with the md5 cross-engine hash rule — the mixing-weights
    step of corpus assembly, append-stable and partition-independent
    like deterministic_sample. The oracle recomputes the hash bucket
    AND the per-stratum threshold CASE, so a wrong rate lookup or a
    stratum falling into the wrong default both fail the hash."""
    from json_ld_spark.operators.corpus import stratified_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return stratified_sample(
        docs, _MIX_RATES, "source", "doc_id",
        default_rate=_MIX_DEFAULT,
    ).select("doc_id", "source")


_UP_EPOCHS = {"src0": 3.0, "src1": 2.5, "src2": 0.5}
_UP_DEFAULT = 1.0


def q_domain_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractional-epoch upsampling under the gate: src0 ×3, src1 ×2.5
    (every row twice, a hash-chosen half a third time), src2 ×0.5
    (hash-chosen half kept once), everything else ×1 — the replication
    half of a training mix table (stratified_sample is the keep-rate
    half). The oracle replays the md5 bucket, the per-stratum weight
    CASE, and the generate_series replication, so a wrong copy count
    on any single row fails the hash."""
    from json_ld_spark.operators.corpus import upsample_by_epochs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return upsample_by_epochs(
        docs, _UP_EPOCHS, "source", "doc_id",
        default_epochs=_UP_DEFAULT,
    ).select("doc_id", "source", "copy_idx")


_DUPGRAM_N = 5


def q_dup_ngram_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb/Dolma duplicated-n-gram filter under the gate: per
    document, the fraction of its word 5-gram occurrences whose gram
    appears ≥2 times corpus-wide. Three keyed shuffles (gram count,
    tagging join, per-doc fold), no forced broadcast of the unbounded
    gram table; docs shorter than 5 words surface with 0.0."""
    from json_ld_spark.operators.textstats import duplicated_ngram_fraction

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return duplicated_ngram_fraction(docs, n=_DUPGRAM_N, min_count=2)


_INGEST_MOD = 5
_INGEST_PLANT_OFF = 9_000_000


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup under the gate: the corpus is docs
    with doc_id % 5 != 0; the incoming batch is the rest PLUS planted
    re-sends of corpus documents (new ids, text differing only by a
    trailing space — the whitespace-normalized fingerprint is
    identical). dedup_against_corpus must keep exactly the genuinely
    new rows and drop every planted re-send: a fingerprint that
    ignores normalization, or an anti-join that drops new rows, fails
    the hash."""
    from json_ld_spark.operators.corpus import dedup_against_corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    corpus = docs.filter(F.col("doc_id") % _INGEST_MOD != 0)
    planted = corpus.filter(F.col("doc_id") % 10 == 1).select(
        (F.col("doc_id") + _INGEST_PLANT_OFF).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" ")).alias("text"),
    )
    new_batch = docs.filter(
        F.col("doc_id") % _INGEST_MOD == 0
    ).unionByName(planted)
    return dedup_against_corpus(new_batch, corpus).select("doc_id")


def q_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from json_ld_spark.operators.dedup import exact_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return exact_dedup(docs).select("doc_id")


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup under the gate: per exact-duplicate group
    keep the highest-quality document (ties → min id) — dedup composed
    with the oracled quality score, the keep policy a training
    pipeline uses. The driver corpus has no exact duplicates, so every
    10th document gets a PLANTED degraded variant: same normalized
    fingerprint (whitespace-only change), LOWER doc_id (−1e6), but
    padded past the 5000-char quality band so its score drops 0.4.
    A min-id keep policy would keep the degraded copy; keep-best must
    keep the original on QUALITY — the gate proves the comparison
    actually decided, not the id order. The kept quality rides along
    so scoring, grouping, and argmax are all hash-checked."""
    from json_ld_spark.operators.dedup import exact_dedup_keep_best
    from json_ld_spark.operators.textstats import quality_score

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    variants = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") - 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" " * 6000)).alias("text"),
    )
    corpus = docs.unionByName(variants)
    kept = exact_dedup_keep_best(corpus, quality_score(F.col("text")))
    return kept.select(
        "doc_id", F.round(quality_score(F.col("text")), 6).alias("quality")
    )


_CHUNK_TOKENS = 64
_CHUNK_OVERLAP = 16
_SAMPLE_FRACTION = 0.1


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking under the gate: every document split into
    64-token windows with 16-token overlap, entirely in JVM column
    expressions — the oracle recomputes window starts, slices, and
    joined text exactly."""
    from json_ld_spark.operators.corpus import chunk_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return chunk_documents(
        docs, chunk_tokens=_CHUNK_TOKENS, overlap=_CHUNK_OVERLAP
    )


_BPE_CHUNK_TOKENS = 48
_BPE_CHUNK_OVERLAP = 8


def q_chunk_documents_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-tokenizer chunking under the gate: the vendored
    deterministic BPE (functions/bpe.py — frozen corpus, import-time
    training, chained-replace encode) tokenizes every document and
    windows the TOKEN array; the DuckDB oracle replays the full merge
    chain and the windowing, so a wrong merge order, a mis-split
    boundary, or an off-by-one in the token windows all fail the
    hash. Closes the whitespace-token-proxy gap for the
    training-data mandate."""
    from json_ld_spark.operators.corpus import chunk_documents_bpe

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return chunk_documents_bpe(
        docs, chunk_tokens=_BPE_CHUNK_TOKENS, overlap=_BPE_CHUNK_OVERLAP
    )


_BPE_TRAIN_MERGES = 8
_BPE_TRAIN_TOPV = 4096


def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer TRAINING (operators/bpe_train.py):
    one word-count pass over the corpus, then 8 merge rounds over the
    capped vocabulary table — weighted pair counts, deterministic
    argmax (weight desc, then lexicographic), delimited-replace merge
    application. The oracle replays the WHOLE training loop
    CTE-for-CTE (w0 → m1 → w1 → … → m8), so a wrong tie-break, a
    mis-applied merge, or a pair-count slip in any round fails the
    hash on every later round too."""
    from json_ld_spark.operators.bpe_train import train_bpe_distributed

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return train_bpe_distributed(
        docs, n_merges=_BPE_TRAIN_MERGES, top_v=_BPE_TRAIN_TOPV
    )


_PACK_TOKENS = 128
_PACK_BUCKETS = 8


def q_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing under the gate: the chunked corpus assigned to
    fixed-token training sequences by deterministic first-fit within
    mod-partition buckets — the running-total window and pack
    assignment are recomputed exactly by the SQL oracle."""
    from json_ld_spark.operators.corpus import chunk_documents, pack_chunks

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    chunks = chunk_documents(
        docs, chunk_tokens=_CHUNK_TOKENS, overlap=_CHUNK_OVERLAP
    )
    return pack_chunks(
        chunks, target_tokens=_PACK_TOKENS, n_buckets=_PACK_BUCKETS
    )


def q_pack_chunks_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-prep path in REAL tokens under one gate:
    BPE-tokenize → window into chunks → first-fit pack into
    fixed-token training sequences. The oracle composes the BPE merge
    replay, the window arithmetic, and the running-total pack window,
    so the whole pipeline a training job runs before the dataloader
    is hash-gated end-to-end in the unit the model trains on."""
    from json_ld_spark.operators.corpus import chunk_documents_bpe, pack_chunks

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    chunks = chunk_documents_bpe(
        docs, chunk_tokens=_BPE_CHUNK_TOKENS, overlap=_BPE_CHUNK_OVERLAP
    )
    return pack_chunks(
        chunks, target_tokens=_PACK_TOKENS, n_buckets=_PACK_BUCKETS
    )


def q_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash sampling under the gate (md5 cross-engine family): the
    kept row set is a pure function of the key — reproducible across
    engines, partitionings, and corpus growth (a kept key stays kept
    under appends, the property incremental pipelines need)."""
    from json_ld_spark.operators.corpus import deterministic_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return deterministic_sample(docs, _SAMPLE_FRACTION, "doc_id").select(
        "doc_id"
    )


def q_event_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured property extraction: parse the ``props`` JSON
    string column with a declared schema (``from_json`` — JVM-side
    Jackson parse, no Python in the path) and aggregate the extracted
    field per event type and value decile. The pattern every
    transcript pipeline needs for tool-call payloads / metadata blobs
    riding along as JSON strings; the oracle re-extracts with DuckDB's
    JSON functions, so a lenient parse that nulls a malformed field
    diverges immediately."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    k = F.from_json(F.col("props"), "k INT")["k"]
    return (
        ev.select("event_type", k.alias("_k"))
        .groupBy(
            "event_type", F.floor(F.col("_k") / 10).alias("k_decile")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum("_k").alias("sum_k"),
            F.min("_k").alias("min_k"),
            F.max("_k").alias("max_k"),
        )
    )


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-minute-gap sessions per user (the classic
    event-time window op a transcript pipeline needs)."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # parquet stores TIMESTAMP_NTZ; route through TIMESTAMP for epoch
    epoch = F.col("ts").cast("timestamp").cast("long")
    gap = F.when(epoch - F.lag(epoch).over(w) > 1800, 1).otherwise(0)
    sess = ev.withColumn("_new", gap).withColumn(
        "session_idx", F.sum("_new").over(w)
    )
    return (
        sess.groupBy("user_id", "session_idx")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
    )


def q_source_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-source length percentiles (p50/p90/p99, nearest-rank)
    — the corpus QA gate pattern where approx sketches don't cut it.
    Integer rank arithmetic (operators/stats.py) so both engines pick
    the identical rank at exact boundaries; the oracle recomputes
    row_number + the same DIV formula."""
    from json_ld_spark.operators.stats import exact_percentiles

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return exact_percentiles(docs, "source", "n_chars")


def q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join under the gate: attach to every event the most
    recent per-user daily snapshot (taken at the day's last event)
    with snapshot_ts <= event_ts — the 'state as of this turn' attach
    every transcript pipeline needs. Spark side runs the union-sort-
    window as-of (operators/joins.py — ONE shuffle, no range
    predicate); the oracle is DuckDB's NATIVE ASOF JOIN, a
    structurally independent engine feature, so the tie rule
    (equal-timestamp snapshot visible), the carry-forward, and the
    no-prior-snapshot NULLs must all agree across two unrelated
    implementations."""
    from json_ld_spark.operators.joins import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    snap = (
        ev.groupBy(
            "user_id", F.date_trunc("day", F.col("ts")).alias("_day")
        )
        .agg(
            F.max("ts").alias("snap_ts"),
            F.count("*").alias("day_events"),
            F.round(F.sum("value"), 2).alias("day_value"),
        )
        .drop("_day")
    )
    out = asof_join(
        ev.select("event_id", "ts", "user_id", "value"),
        snap, on="user_id", left_ts="ts", right_ts="snap_ts",
    )
    return out.select(
        "event_id", "user_id", "day_events", "day_value",
    )


def q_events_in_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval range join under the gate: per (user, day)
    two overlapping activity windows — 'early' = [first event, +2 h]
    and 'mid' = [first event +1 h, +5 h] — and every event joins to
    every window containing it (0, 1, or 2 matches per event;
    boundaries inclusive). Spark side is the bucketed interval join
    (operators/joins.py: explode intervals to 1-hour buckets →
    equi-join on (key, bucket) → exact BETWEEN residual), so Catalyst
    plans a shuffled hash join instead of a broadcast nested loop;
    the oracle evaluates the raw range predicate directly."""
    from json_ld_spark.operators.joins import range_join_points

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    first = ev.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("_day")
    ).agg(F.min("ts").alias("_t0"))
    wins = first.select(
        "user_id",
        F.explode(
            F.array(
                F.struct(
                    F.lit("early").alias("win_tag"),
                    F.col("_t0").alias("win_start"),
                    (F.col("_t0") + F.expr("INTERVAL 2 HOURS"))
                    .alias("win_end"),
                ),
                F.struct(
                    F.lit("mid").alias("win_tag"),
                    (F.col("_t0") + F.expr("INTERVAL 1 HOURS"))
                    .alias("win_start"),
                    (F.col("_t0") + F.expr("INTERVAL 5 HOURS"))
                    .alias("win_end"),
                ),
            )
        ).alias("_w"),
    ).select("user_id", "_w.win_tag", "_w.win_start", "_w.win_end")
    out = range_join_points(
        ev.select("event_id", "ts", "user_id"),
        wins, on="user_id", point_ts="ts",
        start_col="win_start", end_col="win_end", bucket=3600,
    )
    return out.select("event_id", "user_id", "win_tag")


def _sql_cos(a: str, b: str) -> str:
    return (
        f"list_dot_product({a}, {b}) / "
        f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
    )


def _simhash_oracle_sql() -> str:
    """DuckDB twin of q_simhash_pairs: md5-prefix shingle hashes →
    per-bit vote sums → SIMHASH_BITS signature → SIMHASH_BLOCK_BITS
    block banding (with the deterministic BAND_BUCKET_CAP row cap per
    block-bucket — the hot-bucket skew guard) → Hamming filter.
    Bit-for-bit the Spark md5-family computation."""
    n_bits, block_bits = SIMHASH_BITS, SIMHASH_BLOCK_BITS
    shingle, max_hamming = 4, 16
    h = MD5_HASH60_SQL.format(x=f"substring(lt, i, {shingle})")
    sig_terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(hs, x -> "
        f"CASE WHEN (x >> {b}) & 1 = 1 THEN 1 ELSE -1 END)) > 0 "
        f"THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(n_bits)
    )
    n_blocks = n_bits // block_bits
    mask = (1 << block_bits) - 1
    return f"""
    WITH d AS (SELECT doc_id, lower(text) AS lt FROM documents),
    h AS (
      SELECT doc_id, list_transform(
        generate_series(1, greatest(length(lt) - {shingle - 1}, 1)),
        i -> {h}
      ) AS hs FROM d
    ),
    sig AS (SELECT doc_id, ({sig_terms}) AS sh FROM h),
    blk AS (
      SELECT doc_id, sh, t.b AS blk_i,
             (sh >> (t.b * {block_bits})) & {mask} AS key
      FROM sig, range(0, {n_blocks}) t(b)
      QUALIFY row_number() OVER (
        PARTITION BY blk_i, key ORDER BY doc_id
      ) <= {BAND_BUCKET_CAP}
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
    FROM blk a JOIN blk b
      ON a.blk_i = b.blk_i AND a.key = b.key AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh, b.sh)) <= {max_hamming}
    """


def _minhash_band_cte() -> str:
    """Shared DuckDB CTE prefix: md5-base shingle hashes → affine
    minhash signatures → md5-string band buckets (tables d, sh, sig,
    band) — consumed by both the batch components oracle and the
    streaming dedup oracle."""
    num_hashes, bands, shingle = 32, 8, 3
    A, B, P = minhash_affine(num_hashes)
    h = MD5_HASH60_SQL.format(x=f"substring(lt, i, {shingle})")
    sig_items = ", ".join(
        f"list_min(list_transform(hs, h -> ({A[i]} * (h % {P}) + {B[i]}) % {P}))"
        for i in range(num_hashes)
    )
    band_parts = minhash_band_bucket_sql("t.b", "sg", num_hashes, bands)
    return f"""d AS (SELECT doc_id, lower(text) AS lt FROM documents),
    sh AS (
      SELECT doc_id, list_distinct(list_transform(
        generate_series(1, greatest(length(lt) - {shingle - 1}, 1)),
        i -> {h}
      )) AS hs FROM d
    ),
    sig AS (SELECT doc_id, hs, [{sig_items}] AS sg FROM sh),
    band AS (
      SELECT doc_id, t.b AS band_i, {band_parts} AS bucket
      FROM sig, range(0, {bands}) t(b)
    )"""


def _minhash_oracle_sql() -> str:
    """DuckDB twin of q_minhash_components: md5-base shingle hashes →
    affine minhash signatures → md5-string band buckets (64-cap skew
    guard) → candidate self-join → exact-Jaccard verify → connected
    components via recursive-CTE transitive closure (components are
    near-dup clusters: small, so closure is cheap; Spark uses
    large-star/small-star for the same result at corpus scale)."""
    threshold = 0.3
    jac = (
        "len(list_intersect(sa.hs, sb.hs)) * 1.0 / "
        "(len(sa.hs) + len(sb.hs) - len(list_intersect(sa.hs, sb.hs)))"
    )
    return f"""
    WITH RECURSIVE {_minhash_band_cte()},
    capped AS (
      SELECT doc_id, band_i, bucket FROM (
        SELECT doc_id, band_i, bucket,
               row_number() OVER (PARTITION BY band_i, bucket
                                  ORDER BY doc_id) AS rn
        FROM band
      ) WHERE rn <= {BAND_BUCKET_CAP}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM capped a JOIN capped b
        ON a.band_i = b.band_i AND a.bucket = b.bucket
       AND a.doc_id < b.doc_id
    ),
    vp AS (
      SELECT id_a, id_b FROM cand
      JOIN sh sa ON sa.doc_id = cand.id_a
      JOIN sh sb ON sb.doc_id = cand.id_b
      WHERE {jac} >= {threshold}
    ),
    und AS (
      SELECT id_a AS a, id_b AS b FROM vp
      UNION SELECT id_b, id_a FROM vp
    ),
    reach(a, b) AS (
      SELECT a, b FROM und
      UNION
      SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
      WHERE u.b != r.a
    )
    SELECT a AS id, least(a, min(b)) AS component
    FROM reach GROUP BY a
    """


def _pagerank_oracle_sql(directed: bool = False) -> str:
    """DuckDB twin of q_entity_pagerank / q_entity_pagerank_directed:
    rebuild the co-occurrence edge set (symmetrized or directed), then
    REPLAY every power iteration with the same double arithmetic and
    6-dp rounding — in directed mode including the per-round dangling
    sum (rounded to 6 dp, like the Spark side) redistributed as
    d·dang/N."""
    d = _PR_DAMPING
    iters = []
    prev = "r0"
    for k in range(1, _PR_ITERS + 1):
        if directed:
            dang = f""",
        d{k} AS (
          SELECT round(coalesce(sum(r.rank), 0.0), 6) AS dang
          FROM {prev} r LEFT JOIN deg ON r.node = deg.s
          WHERE deg.s IS NULL
        )"""
            rank_expr = (
                f"round((1.0 - CAST({d} AS DOUBLE)) / nn.n"
                f" + CAST({d} AS DOUBLE) * (coalesce(c{k}.i, 0.0)"
                f" + d{k}.dang / nn.n), 6)"
            )
            extra_from = f" CROSS JOIN d{k}"
        else:
            dang = ""
            rank_expr = (
                f"round((1.0 - CAST({d} AS DOUBLE)) / nn.n"
                f" + CAST({d} AS DOUBLE) * coalesce(c{k}.i, 0.0), 6)"
            )
            extra_from = ""
        iters.append(f""",
        c{k} AS (
          SELECT und.t AS node, sum(r.rank / deg.d) AS i
          FROM und JOIN {prev} r ON und.s = r.node
          JOIN deg ON und.s = deg.s
          GROUP BY und.t
        ){dang},
        r{k} AS (
          SELECT n2.node, {rank_expr} AS rank
          FROM nodes n2 CROSS JOIN nn{extra_from}
          LEFT JOIN c{k} ON c{k}.node = n2.node
        )""")
        prev = f"r{k}"
    if directed:
        edge_cte = """
        und AS (SELECT s, t FROM pairs),
        nodes AS (
          SELECT s AS node FROM und UNION SELECT t AS node FROM und
        ),"""
    else:
        edge_cte = """
        und AS (
          SELECT s, t FROM pairs UNION SELECT t, s FROM pairs
        ),
        nodes AS (SELECT DISTINCT s AS node FROM und),"""
    return _MENTION_CTE + f""",
        pairs AS (
          SELECT DISTINCT a.iri AS s, b2.iri AS t
          FROM m a JOIN m b2
            ON a.conv_id = b2.conv_id AND a.turn_idx = b2.turn_idx
           AND a.iri < b2.iri
        ),{edge_cte}
        nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        deg AS (SELECT s, CAST(count(*) AS DOUBLE) AS d FROM und GROUP BY s),
        r0 AS (
          SELECT node, round(1.0 / nn.n, 6) AS rank
          FROM nodes CROSS JOIN nn
        ){"".join(iters)}
        SELECT node, rank FROM {prev}
        """


def _lsh_bucket_sql() -> str:
    """SQL expression reproducing sign_lsh_bucket_literal over a
    double-list column ``v`` with the shared literal plane matrix."""
    planes = _lsh_planes()
    bucket_terms = []
    for p, weights in enumerate(planes):
        lit = "[" + ", ".join(f"{w:.1f}" for w in weights) + "]"
        bit = 1 << (_LSH_PLANES - 1 - p)
        bucket_terms.append(
            f"(CASE WHEN list_dot_product(v, {lit}) >= 0 "
            f"THEN CAST({bit} AS BIGINT) ELSE 0 END)"
        )
    return " + ".join(bucket_terms)


_NEARDUP_GATE_N = 510  # sf0.01 embeddings (500) + planted twins (10);
# pinned by tests/test_oracle_parity.py::test_neardup_gate_config_pin
# against the actual parquet so the static oracle below always replays
# the config the adaptive Spark path derives at the driver's gate
# scale.


def _banded_bucket_sql(planes: "list[list[float]]") -> str:
    """SQL twin of sign_lsh_bucket_literal for ONE band's literal
    plane matrix over a double-list column ``v``."""
    n = len(planes)
    terms = []
    for p, weights in enumerate(planes):
        lit = "[" + ", ".join(f"{w:.1f}" for w in weights) + "]"
        bit = 1 << (n - 1 - p)
        terms.append(
            f"(CASE WHEN list_dot_product(v, {lit}) >= 0 "
            f"THEN CAST({bit} AS BIGINT) ELSE 0 END)"
        )
    return " + ".join(terms)


def _neardup_banded_pairs_cte() -> str:
    """Shared DuckDB CTE chain (planted → corpus → e → bb → cand →
    pairs) replaying embedding_neardup_pairs_banded at the gate
    config neardup_lsh_config(_NEARDUP_GATE_N): per-band literal
    plane buckets, the deterministic per-(band, bucket) row cap, the
    distinct candidate self-join, and one 4-dp cosine per pair."""
    from json_ld_spark.operators.dedup import (
        neardup_lsh_config,
        neardup_lsh_planes,
    )

    planes_per_band, n_bands = neardup_lsh_config(_NEARDUP_GATE_N)
    bands = neardup_lsh_planes(planes_per_band, n_bands, _LSH_DIM)
    union = "\n          UNION ALL ".join(
        f"SELECT vec_id, {b} AS band_i, {_banded_bucket_sql(pl)} AS bkt FROM e"
        for b, pl in enumerate(bands)
    )
    cos = (
        "round(list_dot_product(ea.v, eb.v) / "
        "(sqrt(list_dot_product(ea.v, ea.v)) * "
        "sqrt(list_dot_product(eb.v, eb.v))), 4)"
    )
    return f"""planted AS (
          SELECT vec_id + {_NEARDUP_PLANT_OFFSET} AS vec_id,
                 list_transform(embedding, x ->
                   CAST(round(CAST(x AS DOUBLE) * 0.9 + 0.05, 4) AS FLOAT))
                   AS embedding
          FROM embeddings WHERE vec_id % {_NEARDUP_PLANT_STRIDE} = 0
        ),
        corpus AS (
          SELECT vec_id, embedding FROM embeddings
          UNION ALL SELECT vec_id, embedding FROM planted
        ),
        e AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM corpus
        ),
        raw AS ({union}),
        bb AS (
          SELECT * FROM raw
          QUALIFY row_number() OVER (
            PARTITION BY band_i, bkt ORDER BY vec_id
          ) <= {BAND_BUCKET_CAP}
        ),
        cand AS (
          SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM bb a JOIN bb b
            ON a.band_i = b.band_i AND a.bkt = b.bkt
           AND a.vec_id < b.vec_id
        ),
        pairs AS (
          SELECT id_a, id_b, {cos} AS cosine
          FROM cand
          JOIN e ea ON ea.vec_id = cand.id_a
          JOIN e eb ON eb.vec_id = cand.id_b
        )"""


def _lsh_oracle_sql() -> str:
    """DuckDB twin of q_ann_lsh_topk: identical literal planes →
    identical buckets → identical probe set and top-k."""
    bucket = _lsh_bucket_sql()
    flips = [0] + [1 << i for i in range(_LSH_PLANES)]
    flip_vals = ", ".join(f"({m})" for m in flips)
    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    b AS (SELECT vec_id, v, {bucket} AS bkt FROM e),
    q AS (SELECT v AS qv, bkt AS qb FROM b WHERE vec_id = 0),
    p AS (SELECT DISTINCT xor(qb, CAST(f.x AS BIGINT)) AS bkt
          FROM q, (VALUES {flip_vals}) f(x))
    SELECT b.vec_id AS vec_id,
           round({_sql_cos('b.v', 'q.qv')}, 4) AS cosine
    FROM b JOIN p USING (bkt), q
    ORDER BY cosine DESC, vec_id
    LIMIT 10
    """


def _lsh_batch_oracle_sql() -> str:
    """DuckDB twin of q_ann_lsh_batch: identical literal planes →
    per-query probe neighborhoods → candidate join → per-query
    ranking."""
    bucket = _lsh_bucket_sql()
    flips = [0] + [1 << i for i in range(_LSH_PLANES)]
    flip_vals = ", ".join(f"({m})" for m in flips)
    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    b AS (SELECT vec_id, v, {bucket} AS bkt FROM e),
    qs AS (
      SELECT vec_id AS query_id, v AS qv, bkt AS qb FROM b
      WHERE vec_id % {_BATCH_QUERY_STRIDE} = 0
    ),
    p AS (
      SELECT DISTINCT query_id, qv, xor(qb, CAST(f.x AS BIGINT)) AS bkt
      FROM qs, (VALUES {flip_vals}) f(x)
    ),
    c AS (
      SELECT p.query_id, b.vec_id,
             round({_sql_cos('b.v', 'p.qv')}, 4) AS cosine
      FROM b JOIN p USING (bkt)
    )
    SELECT query_id, vec_id, cosine, CAST(rk AS INT) AS rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rk
      FROM c
    ) WHERE rk <= 10
    """


def _ivf_train_ctes() -> tuple[str, str, str]:
    """Shared DuckDB CTE body replaying train_ivf_codebook: mod init,
    per-iteration argmax assignment + 6-dp-rounded avg update (empty
    cells keep the previous centroid), final assignment. Returns
    (cte_body, final_cents_name, final_assigned_name)."""

    def assign_cte(cents: str, k: int) -> str:
        return f"""
    s{k} AS (
      SELECT e.vec_id, e.v, c.centroid_id,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_sql_cos('e.v', 'c.centroid')} DESC, c.centroid_id
             ) AS rn
      FROM e CROSS JOIN {cents} c
    ),
    a{k} AS (SELECT vec_id, v, centroid_id FROM s{k} WHERE rn = 1)"""

    iters = []
    prev = "c0"
    for k in range(1, _IVF_ITERS + 1):
        iters.append(assign_cte(prev, k) + f""",
    u{k} AS (
      SELECT centroid_id, list(c ORDER BY i) AS centroid FROM (
        SELECT centroid_id, t.i AS i, round(avg(v[t.i]), 6) AS c
        FROM a{k}, range(1, {_LSH_DIM + 1}) t(i)
        GROUP BY 1, 2
      ) GROUP BY 1
    ),
    c{k} AS (
      SELECT p.centroid_id,
             coalesce(u{k}.centroid, p.centroid) AS centroid
      FROM {prev} p LEFT JOIN u{k} USING (centroid_id)
    )""")
        prev = f"c{k}"
    final_assign = assign_cte(prev, _IVF_ITERS + 1)
    body = f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    comp AS (
      SELECT CAST(vec_id % {_IVF_CELLS} AS INT) AS centroid_id, t.i AS i,
             round(avg(v[t.i]), 6) AS c
      FROM e, range(1, {_LSH_DIM + 1}) t(i)
      GROUP BY 1, 2
    ),
    c0 AS (
      SELECT centroid_id, list(c ORDER BY i) AS centroid
      FROM comp GROUP BY 1
    ),{",".join(iters)},{final_assign}"""
    return body, prev, f"a{_IVF_ITERS + 1}"


def _ivf_oracle_sql() -> str:
    """DuckDB twin of q_ann_ivf_topk: REPLAY the k-means training
    (_ivf_train_ctes), then the probe set and top-k. Bit-for-bit the
    Spark train_ivf_codebook recipe."""
    body, cents, assigned = _ivf_train_ctes()
    return f"""{body},
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    probe AS (
      SELECT centroid_id FROM {cents}, q
      ORDER BY {_sql_cos('centroid', 'qv')} DESC, centroid_id
      LIMIT {_IVF_NPROBE}
    )
    SELECT a.vec_id AS vec_id, round({_sql_cos('a.v', 'q.qv')}, 4) AS cosine
    FROM {assigned} a JOIN probe USING (centroid_id), q
    ORDER BY cosine DESC, vec_id
    LIMIT 10
    """


_BATCH_QUERY_STRIDE = 100


def _ivf_batch_oracle_sql() -> str:
    """DuckDB twin of q_ann_ivf_batch: same trained codebook, then
    per-query probe selection, candidate join, and per-query top-k —
    the batch window logic replayed with row_number."""
    body, cents, assigned = _ivf_train_ctes()
    return f"""{body},
    qs AS (
      SELECT vec_id AS query_id, v AS qv FROM e
      WHERE vec_id % {_BATCH_QUERY_STRIDE} = 0
    ),
    bprobe AS (
      SELECT query_id, centroid_id, qv FROM (
        SELECT q.query_id, c.centroid_id, q.qv,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {_sql_cos('c.centroid', 'q.qv')} DESC, c.centroid_id
               ) AS rn
        FROM qs q CROSS JOIN {cents} c
      ) WHERE rn <= {_IVF_NPROBE}
    ),
    bc AS (
      SELECT p.query_id, a.vec_id,
             round({_sql_cos('a.v', 'p.qv')}, 4) AS cosine
      FROM {assigned} a JOIN bprobe p USING (centroid_id)
    )
    SELECT query_id, vec_id, cosine, CAST(rk AS INT) AS rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rk
      FROM bc
    ) WHERE rk <= 10
    """


_HLL_B = 8  # 256 registers — small enough that both correction
# branches (linear counting for small groups, raw HLL for large) get
# exercised by the per-event-type group sizes
_KMV_K = 64


def q_hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-user sketch per event type under the gate:
    the oracle replays bucket/rank extraction, the max-rank registers,
    and the INTEGER-scaled harmonic sum (s_scaled) — so a wrong rank
    rule, a dropped register, or a float-order-dependent denominator
    all fail the hash. exact_distinct rides along so the estimate's
    quality is visible in the gated rows themselves."""
    from json_ld_spark.operators.sketches import hll_distinct

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    sk = hll_distinct(ev, "event_type", "user_id", b=_HLL_B)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return sk.join(F.broadcast(exact), "event_type")


def q_kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k (KMV) distinct-user sketch per event type: the k-th
    smallest distinct hash is an exact integer the oracle recomputes,
    so the whole sketch state is hash-gated; groups with < k distinct
    hashes take the exact branch (k_used < k)."""
    from json_ld_spark.operators.sketches import kmv_distinct

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return kmv_distinct(ev, "event_type", "user_id", k=_KMV_K)


_AA_MAX_DEGREE = 64


def _planted_ring_edges() -> "list[tuple[str, str]]":
    """Deterministic ring over the full gazetteer. The REAL co-mention
    graph is a small complete clique (every distance-2 pair already
    adjacent), which would make a link-prediction gate vacuous; the
    ring adds sparse structure whose distance-2 pairs are genuinely
    non-adjacent. Both engines build the identical edge list from the
    same frozen gazetteer — the planted-positive policy the near-dup
    oracles use."""
    from json_ld_spark.sources.gazetteer import GAZETTEER, entity_iri

    n = len(GAZETTEER)
    return [
        (entity_iri(GAZETTEER[i][2]), entity_iri(GAZETTEER[(i + 1) % n][2]))
        for i in range(n)
    ]


_KCORE_K = 2
_KCORE_ROUNDS = 6
_KCORE_CHAIN = 9


def _planted_chain_edges() -> "list[tuple[str, str]]":
    """Deterministic 9-node path attached to nothing: with k=2 the
    endpoints peel first and the chain unravels two nodes per round,
    so 4+ peel ROUNDS are individually exercised — the co-mention
    clique alone would survive round 1 unchanged and make the
    iterative gate vacuous."""
    return [
        (f"urn:kcore:chain/{i}", f"urn:kcore:chain/{i + 1}")
        for i in range(_KCORE_CHAIN - 1)
    ]


def q_entity_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-round k-core peeling (operators/graph.py) over the
    co-mention graph plus a planted peel chain: each round drops
    nodes with degree < k and their edges; the oracle replays every
    round CTE-for-CTE, so a degree computed on stale edges, a missed
    endpoint filter, or an off-by-one in the round count fails the
    hash. The planted path guarantees multiple rounds do real work."""
    from json_ld_spark.operators.graph import k_core

    edges = _cooccurrence_edges(spark, sf_dir).unionByName(
        spark.createDataFrame(_planted_chain_edges(), ["src", "dst"])
    )
    return k_core(edges, k=_KCORE_K, n_rounds=_KCORE_ROUNDS)


def q_entity_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link prediction over the constructed KG (plus the
    planted gazetteer ring — see _planted_ring_edges): scores for
    non-adjacent entity pairs sharing neighbors. Per-z contributions
    are rounded to 9 dp and summed as DECIMAL so partition order
    can't move a score; the oracle replays degrees, the hub cap, the
    wedge join, and the adjacency anti-join."""
    from json_ld_spark.operators.graph import adamic_adar

    edges = _cooccurrence_edges(spark, sf_dir).unionByName(
        spark.createDataFrame(_planted_ring_edges(), ["src", "dst"])
    )
    return adamic_adar(edges, max_degree=_AA_MAX_DEGREE).select(
        "u", "v", "n_common", F.col("aa_score").cast("decimal(18,9)").alias("aa_score")
    )


def q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity rollup (event_type × day → event_type →
    grand total) in ONE pass — Spark's ROLLUP and the oracle's GROUP
    BY ROLLUP must agree on subtotal rows, grouping-id packing, and
    decimal-exact value sums (doubles cast to DECIMAL(18,2) before
    summing, so aggregation order is irrelevant)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "day", F.to_date("ts")
    )
    return (
        ev.rollup("event_type", "day")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("total_value"),
        )
        .select("event_type", "day", "gid", "n_events", "total_value")
    )


def q_event_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detection: per-(event_type, day) counts z-scored against
    the type's daily distribution. Mean and variance are derived from
    exact integer sums (n, Σc, Σc²), so the only floats are the final
    IEEE-deterministic divisions/sqrt — the oracle replays the same
    expression shape and the 4-dp rounded z gates bit-for-bit."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "day", F.to_date("ts")
    )
    daily = ev.groupBy("event_type", "day").agg(F.count("*").alias("c"))
    stats = daily.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    j = daily.join(F.broadcast(stats), "event_type")
    var = (
        (F.col("n_days") * F.col("s2") - F.col("s1") * F.col("s1")).cast("double")
        / (F.col("n_days") * F.col("n_days")).cast("double")
    )
    mean = F.col("s1").cast("double") / F.col("n_days").cast("double")
    z = F.round((F.col("c").cast("double") - mean) / F.sqrt(var), 4)
    return j.select(
        "event_type",
        "day",
        "n_days",
        "c",
        F.when(var > 0, z).otherwise(F.lit(0.0)).alias("z"),
    ).withColumn("is_burst", F.col("z") >= 2.0)


_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\+[0-9]{1,2} [0-9]{3} [0-9]{4,8}"


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over the corpus — the pre-training redaction
    pass. PII is PLANTED deterministically (doc_id % 7 → an email,
    doc_id % 11 → a phone; both engines build the identical input, the
    planted-positive pattern the near-dup oracles use), then counted
    with regexp_extract_all and replaced with typed placeholders. The
    md5 of the redacted text gates the exact replacement semantics
    (all-occurrence, leftmost, non-overlapping) across engines; the
    regexes are written in the common Java-regex/RE2 subset."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t = F.col("text")
    t = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(t, F.lit(" contact user"), F.col("doc_id"), F.lit("@example.com now")),
    ).otherwise(t)
    t = F.when(
        F.col("doc_id") % 11 == 0,
        F.concat(t, F.lit(" call +1 555 "), (F.col("doc_id") % 10000) + 1000, F.lit(" today")),
    ).otherwise(t)
    staged = docs.select("doc_id", t.alias("_t"))
    red = F.regexp_replace(
        F.regexp_replace(F.col("_t"), _EMAIL_RE, "<EMAIL>"),
        _PHONE_RE,
        "<PHONE>",
    )
    return staged.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("_t"), F.lit(_EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("_t"), F.lit(_PHONE_RE), 0)).alias("n_phones"),
        F.md5(red).alias("redacted_md5"),
    )


def _luhn_plant_cols():
    """(valid_card, invalid_card) column pair: 15 closed-form digits
    g_j = (doc_id*3 + j*7) % 10 plus the Luhn check digit (valid) or
    check+5 mod 10 (never valid — 5 ≢ 0 mod 10). Both engines build
    the identical strings from the same arithmetic."""
    d = F.col("doc_id")
    digs = [(d * 3 + j * 7) % 10 for j in range(15)]
    s = F.lit(0)
    for j, g in enumerate(digs):
        # with the check digit at position 16, digit j doubles iff
        # its position from the right (16 - j) is even, i.e. j even
        if j % 2 == 0:
            dd = g * 2
            s = s + F.when(dd > 9, dd - 9).otherwise(dd)
        else:
            s = s + g
    check = F.pmod(F.lit(10) - F.pmod(s, 10), 10)
    body = F.concat(*[g.cast("string") for g in digs])
    return (
        F.concat(body, check.cast("string")),
        F.concat(body, F.pmod(check + 5, 10).cast("string")),
    )


_PIVOT_TYPES = ("click", "error", "purchase", "signup", "view")


_MAINT_WINDOWS = 120  # 30 days × one 45-min window per 6 h


def q_session_window_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval overlap join (operators/joins.
    interval_overlap_join): user sessions against closed-form
    maintenance windows (45 min every 6 h), exact microsecond
    overlap lengths. Grid-bucketized equi-join with the
    first-shared-cell arithmetic dedup — no DISTINCT, no range
    nested-loop; the oracle is DuckDB's plain theta join over the
    same sessionize CTE, so the bucketization must lose and
    duplicate nothing."""
    from json_ld_spark.operators.joins import interval_overlap_join

    sessions = q_events_sessionize(spark, sf_dir).select(
        F.lit(1).alias("k"),
        "user_id",
        "session_idx",
        F.unix_micros(F.col("session_start").cast("timestamp")).alias(
            "s_us"
        ),
        F.unix_micros(F.col("session_end").cast("timestamp")).alias("e_us"),
    )
    base_us = F.unix_micros(F.to_timestamp(F.lit("2024-01-01 00:00:00")))
    windows = spark.range(_MAINT_WINDOWS).select(
        F.lit(1).alias("k"),
        F.col("id").cast("int").alias("window_idx"),
        (base_us + F.col("id") * 21600 * 1_000_000).alias("w_s"),
        (base_us + F.col("id") * 21600 * 1_000_000
         + 2700 * 1_000_000).alias("w_e"),
    )
    out = interval_overlap_join(
        sessions, windows, on="k",
        a_start="s_us", a_end="e_us", b_start="w_s", b_end="w_e",
    )
    return out.select("user_id", "session_idx", "window_idx", "overlap_us")


def q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-format pivot: per-day event counts and decimal-exact
    value sums, one column pair per event type (Spark
    ``groupBy().pivot()`` with an EXPLICIT value list — the implicit
    list runs an extra distinct scan and breaks column determinism).
    The oracle is conditional aggregation (FILTER), the relational
    dual, so the reshape itself is what's gated."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "day", F.to_date("ts")
    )
    wide = (
        ev.groupBy("day")
        .pivot("event_type", list(_PIVOT_TYPES))
        .agg(
            F.count(F.lit(1)).alias("n"),  # count(*) is illegal in Pivot
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("v"),
        )
    )
    cols = [F.col("day")]
    for t in _PIVOT_TYPES:
        cols.append(F.coalesce(F.col(f"{t}_n"), F.lit(0)).alias(f"{t}_n"))
        cols.append(
            F.coalesce(
                F.col(f"{t}_v"), F.lit(0).cast("decimal(18,2)")
            ).alias(f"{t}_v")
        )
    return wide.select(*cols)


def q_events_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) — the reshape dual: the wide per-day pivot
    melts back to long (day, event_type, n, v) via Spark's native
    ``unpivot`` on the count columns plus a value-column join-back.
    Gated against the plain long-format aggregation, so
    pivot→unpivot must be the identity on the aggregate — a dropped
    day, a column/type mix-up, or a coalesce-zero leaking into the
    melt all fail the hash (zero-count types are filtered, matching
    the long form which never had those rows)."""
    wide = q_events_pivot(spark, sf_dir)
    n_long = wide.unpivot(
        ["day"],
        [f"{t}_n" for t in _PIVOT_TYPES],
        "type_col",
        "n",
    ).withColumn(
        "event_type", F.replace(F.col("type_col"), F.lit("_n"), F.lit(""))
    )
    v_long = wide.unpivot(
        ["day"],
        [f"{t}_v" for t in _PIVOT_TYPES],
        "type_col",
        "v",
    ).withColumn(
        "event_type", F.replace(F.col("type_col"), F.lit("_v"), F.lit(""))
    )
    return (
        n_long.select("day", "event_type", "n")
        .join(v_long.select("day", "event_type", "v"), ["day", "event_type"])
        .filter(F.col("n") > 0)
        .select("day", "event_type", "n", F.col("v").alias("total_value"))
    )


def q_pii_luhn_cards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checksum-validated card redaction: documents get BOTH a
    Luhn-valid 16-digit number and a same-shape invalid one planted;
    the operator extracts all 16-digit candidates, validates the
    Luhn checksum in column arithmetic (textstats.luhn_valid), and
    redacts ONLY the valid ones — the false-positive control a bare
    [0-9]{16} regex lacks (order ids and timestamps survive). The
    oracle composes the expected counts and redacted text from the
    closed forms, so a wrong doubling parity, a missed candidate, or
    redacting the invalid lookalike all fail the hash."""
    from json_ld_spark.operators.textstats import luhn_valid

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    valid_card, invalid_card = _luhn_plant_cols()
    t = F.when(
        F.col("doc_id") % 13 == 0,
        F.concat(
            F.col("text"), F.lit(" card "), valid_card,
            F.lit(" ok card "), invalid_card, F.lit(" fake"),
        ),
    ).otherwise(F.col("text"))
    staged = docs.select("doc_id", t.alias("_t"))
    cands = F.regexp_extract_all(F.col("_t"), F.lit("[0-9]{16}"), 0)
    # one-arg closure: passing luhn_valid directly would make Spark
    # bind the array index to its n_digits parameter
    valids = F.filter(cands, lambda c: luhn_valid(c))
    redacted = F.aggregate(
        valids,
        F.col("_t"),
        lambda acc, c: F.replace(acc, c, F.lit("<CARD>")),
    )
    return staged.select(
        "doc_id",
        F.size(cands).alias("n_cards"),
        F.size(valids).alias("n_valid"),
        F.md5(redacted).alias("redacted_md5"),
    )


def q_curriculum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-curriculum assignment: per-source EXACT quartile
    boundaries (the integer nearest-rank percentiles of
    operators/stats.py) broadcast back onto the corpus; bucket =
    number of boundaries strictly below the doc's length. No global
    sort — one per-source window for the boundaries, then a broadcast
    join; the oracle replays the rank arithmetic and the comparison
    count."""
    from json_ld_spark.operators.stats import exact_percentiles

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bounds = exact_percentiles(docs, "source", "n_chars", permille=(250, 500, 750))
    j = docs.select("doc_id", "source", "n_chars").join(
        F.broadcast(bounds.select("source", "value")), "source"
    )
    return j.groupBy("doc_id", "source", "n_chars").agg(
        F.sum(F.when(F.col("n_chars") > F.col("value"), 1).otherwise(0))
        .cast("int")
        .alias("bucket")
    )


_FUNNEL_STEPS = ["view", "click", "purchase"]


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered funnel (view → click → purchase): per-user
    earliest completion times and stage reached. K tiny per-user
    aggregations (one hash shuffle each); the oracle replays the
    step-k-after-step-(k−1) min chain with CTEs, so an unordered
    funnel (ignoring timestamps) or an off-by-one stage count fails
    the hash."""
    from json_ld_spark.operators.events import funnel_conversion

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return funnel_conversion(ev, _FUNNEL_STEPS)


def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle retention: cohort = first active day per user,
    distinct actives per (cohort, day offset)."""
    from json_ld_spark.operators.events import retention_cohorts

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return retention_cohorts(ev)


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transitions over per-user event sequences
    (total order: ts then event_id), with integer-division row
    probabilities rounded to 6 dp."""
    from json_ld_spark.operators.events import event_transitions

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return event_transitions(ev)


_BM25_TERMS = ["spark", "table", "query", "row", "join"]
_BM25_K1, _BM25_B, _BM25_K = 1.2, 0.75, 10


def _bm25_corpus(docs: DataFrame) -> "tuple[int, int]":
    """(n_docs, total_len), the BM25 recipe parameters: how many
    documents have a word, and how many words they hold in all."""
    stats = (
        docs.select(F.size(words(F.lower(F.col("text")))).alias("_n"))
        .filter(F.col("_n") > 0)
        .agg(F.count("*").alias("n"), F.sum("_n").alias("total"))
        .collect()[0]  # 1-row recipe parameters
    )
    return int(stats["n"]), int(stats["total"])


def q_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 retrieval scores for a fixed query-term set, top-10
    docs per term. N and total corpus length are counted recipe
    parameters (the PageRank-N policy) so avgdl is the identical
    double in both engines; the 6-dp rounded score gates idf, length
    normalization, and the ranking."""
    from json_ld_spark.operators.textstats import bm25_scores

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bm25_scores(
        docs, _BM25_TERMS, *_bm25_corpus(docs),
        k1=_BM25_K1, b=_BM25_B, k=_BM25_K,
    )


_RETRIEVAL_QUERIES = [
    (1, "spark join hash"),
    (2, "stream window batch"),
    (3, "table scan filter"),
    (4, "merge sort order"),
    (5, "query row column vector"),
]


def q_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch BM25 retrieval: 5 multi-term search queries served
    against the corpus in ONE inverted-index pass — broadcast query
    vocabulary prunes postings at the scan, per-term scores snap to
    integer ppm before the cross-term sum (exact integer addition, no
    float sum-order exposure), top-10 docs per query. N/total_len are
    counted recipe parameters as in q_bm25_scores."""
    from json_ld_spark.operators.textstats import bm25_retrieval

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    qdf = spark.createDataFrame(
        _RETRIEVAL_QUERIES, "query_id int, query_text string"
    )
    return bm25_retrieval(
        docs, qdf, *_bm25_corpus(docs),
        k1=_BM25_K1, b=_BM25_B, k=_BM25_K,
    )


_FUZZY_ID_OFF = 1_000_000  # dirty-side ids live in their own range


def q_fuzzy_entity_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-tolerant entity resolution: a deterministic dirty twin of
    every customer name (one char deleted at position c_custkey mod
    len) is matched back against the clean roster via the SymSpell
    delete-1 neighborhood join (recall 1.0 by theorem, exact
    levenshtein verify). The oracle is a structurally INDEPENDENT
    cross-join + levenshtein filter — the strongest kind of gate."""
    from json_ld_spark.operators.joins import fuzzy_join_delete1

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    clean = cust.select(
        F.col("c_custkey").alias("id_b"), F.col("c_name").alias("name_b")
    )
    p = (F.col("c_custkey") % F.length("c_name") + 1).cast("int")
    dirty = cust.select(
        (F.col("c_custkey") + _FUZZY_ID_OFF).alias("id_a"),
        F.concat(
            F.col("c_name").substr(F.lit(1), p - 1),
            F.col("c_name").substr(p + 1, F.length("c_name")),
        ).alias("name_a"),
    )
    return fuzzy_join_delete1(dirty, clean)


_SEMDEDUP_TAU = 0.9


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means-cluster the embedding
    corpus (the SHARED trained IVF codebook — a dedup system reuses
    its serving index), then prune every vector with a lower-id
    cluster-mate at cosine >= 0.9. Runs over the planted-near-dup
    corpus (q_embedding_neardup's twins), so each planted twin must
    land in its source's cluster and be removed by it — the oracle
    replays the Lloyd training, the argmax assignment, and the
    intra-cluster prune CTE-for-CTE."""
    from json_ld_spark.operators.dedup import semdedup

    cents = _trained_codebook(spark, sf_dir)
    corpus = _neardup_planted_corpus(spark, sf_dir)
    return semdedup(corpus, cents, threshold=_SEMDEDUP_TAU)


_XSPAN_N = 13


def q_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document exact-substring spans (Lee et al. 2022,
    ExactSubstr): merged per-document word ranges covered by 13-grams
    that occur in >= 2 distinct documents — the ranges a span-cutting
    dedup pass would remove. The documents corpus is naturally
    templated (sf0.01: 45 merged spans over 500 docs), so no planting
    is needed; the oracle replays gram hashing, the distinct-doc
    frequency gate, and the gaps-and-islands interval merge."""
    from json_ld_spark.operators.dedup import exact_substring_spans

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return exact_substring_spans(docs, n=_XSPAN_N, min_docs=2)


def _reasoning_facts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asserted fact table for the reasoning ops: the emitted KG
    triples plus gazetteer entity rdf:type assertions (a broadcast-
    dimension union — at 100 TB the type dimension stays tiny)."""
    from json_ld_spark.sources import ontology as O

    t = _triples(spark, sf_dir).select(
        "subj", "pred", "obj_value", "obj_is_iri"
    )
    etypes = spark.createDataFrame(
        [(iri, O.RDF_TYPE, cls, True) for iri, cls in O.ENTITY_TYPES],
        "subj string, pred string, obj_value string, obj_is_iri boolean",
    )
    return t.unionByName(etypes)


def q_rdfs_entailment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDFS materialization over the emitted KG (rules rdfs2/3/5/7/
    9/11): schema hierarchies are transitively closed first (driver-
    side, on the dimension-sized ontology), then the fact table is
    entailed in ONE broadcast-join pass per rule — the WebPIE-style
    stratification that never iterates over the 100-TB fact table.
    The oracle replays the closure (recursive CTE) and every rule
    arm, so a missed inheritance hop, a range rule applied to a
    literal, or a dropped asserted-flag fails the hash."""
    from json_ld_spark.operators.reasoning import rdfs_entail
    from json_ld_spark.sources import ontology as O

    facts = _reasoning_facts(spark, sf_dir)
    mk = lambda rows, cols: spark.createDataFrame(rows, cols)  # noqa: E731
    return rdfs_entail(
        facts,
        mk(O.SUBCLASS_OF, "sub string, sup string"),
        mk(O.SUBPROPERTY_OF, "sub string, sup string"),
        mk(O.DOMAIN, "prop string, cls string"),
        mk(O.RANGE, "prop string, cls string"),
    )


# ?turn kg:mentions ?m . ?m kg:of ?entity . ?turn kg:partOf ?conv —
# the "which conversations discuss which entities" read query.
_BGP_PATTERNS = [
    ("?turn", "mentions", "?m"),
    ("?m", "of", "?entity"),
    ("?turn", "partOf", "?conv"),
]


def q_bgp_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL-style basic graph pattern over the triple table: three
    patterns relationally joined on their shared variables (the
    S2RDF encoding — constants become pushed-down scan filters,
    Catalyst/AQE order the joins). The oracle computes the same
    bindings from the mention relation directly, so a wrong join key
    or a lost/duplicated binding fails the hash."""
    from json_ld_spark.operators.reasoning import bgp_match

    # three patterns each scan the triple table; stage it once
    t = _triples(spark, sf_dir).select(
        "subj", "pred", "obj_value"
    ).localCheckpoint()
    pats = [
        tuple(VOCAB + x if not x.startswith("?") else x for x in p)
        for p in _BGP_PATTERNS
    ]
    return bgp_match(t, pats, select=["conv", "turn", "entity"])


def q_triple_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG fusion / evidence aggregation: many per-turn mention
    assertions of the same (conversation, entity) fact collapse to
    ONE canonical edge carrying its provenance — observation count,
    distinct supporting turns, how many came from user turns, and
    the first/last turn index. This is the dedup-with-evidence step
    a multi-document KG build runs before loading a triple store;
    one groupBy on the edge key, every aggregate merges map-side,
    and the role lookup joins on the mention's own (conv, turn) key
    (co-partitioned with the groupBy — no extra shuffle of the big
    side under AQE)."""
    obs = _mentions(spark, sf_dir)
    roles = _derived(spark, sf_dir).select("conv_id", "turn_idx", "role")
    return (
        obs.join(roles, ["conv_id", "turn_idx"])
        .groupBy("conv_id", "entity")
        .agg(
            F.count("*").alias("n_obs"),
            F.countDistinct("turn_idx").alias("n_turns"),
            F.sum(
                F.when(F.col("role") == "user", 1).otherwise(0)
            ).alias("n_user_obs"),
            F.min("turn_idx").alias("first_turn"),
            F.max("turn_idx").alias("last_turn"),
        )
    )


_CAP_K = 40


def q_capped_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain capped uniform sample (≤k docs per source, md5-hash
    order) — the balanced-corpus cap that keeps small domains whole
    and subsamples the whales, deterministic under any partitioning."""
    from json_ld_spark.operators.corpus import capped_group_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", "n_chars"
    )
    return capped_group_sample(docs, "source", k=_CAP_K)


def q_kg_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHACL-lite shape validation of the emitted KG — the publish
    gate: a functional-property check (demo constraint: at most one
    mention per turn, so multi-mention turns report their actual
    count) and a required-property check (every Turn must carry
    kg:tool — non-tool turns are flagged with n=0). One groupBy over
    the constrained predicates + one subj-keyed anti-join; the
    triple scan is staged once for both checks."""
    from json_ld_spark.operators.reasoning import validate_shapes

    t = _triples(spark, sf_dir).select(
        "subj", "pred", "obj_value"
    ).localCheckpoint()
    return validate_shapes(
        t,
        functional=[VOCAB + "mentions"],
        required=[(VOCAB + "Turn", VOCAB + "tool")],
    )


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style character-entropy quality signal per document:
    each char's -(p·ln p) term snaps to integer ppm BEFORE the sum
    (the BM25 discipline), so the entropy is an exact integer under
    any partitioning. Shuffle carries ≤ |alphabet| rows per doc."""
    from json_ld_spark.operators.textstats import char_entropy

    return char_entropy(spark.read.parquet(f"{sf_dir}/documents.parquet"))


_RRF_K = 60
_RRF_OUT_K = 10


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal Rank Fusion of two retrieval runs over the same 5
    queries — BM25 and a distinct-term-overlap ranking — the standard
    calibration-free rank combiner (Cormack et al. 2009). Fusion
    consumes only the runs' top-k rows (never the corpus), integer
    contributions 10⁶ div (k+rank); the oracle replays both runs and
    the fused ordering."""
    from json_ld_spark.operators.textstats import rrf_fuse

    run1 = q_bm25_retrieval(spark, sf_dir).select(
        "query_id", "doc_id", "rank"
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    terms = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(words(F.lower(F.col("text"))))
        ).alias("term"),
    )
    qdf = spark.createDataFrame(
        _RETRIEVAL_QUERIES, "query_id int, query_text string"
    )
    qterms = qdf.select(
        "query_id",
        F.explode(
            F.array_distinct(words(F.lower(F.col("query_text"))))
        ).alias("term"),
    )
    ov = (
        terms.join(F.broadcast(qterms), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.count("*").alias("ov"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("ov"), F.col("doc_id")
    )
    run2 = (
        ov.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _RRF_OUT_K)
        .select("query_id", "doc_id", "rank")
    )
    return rrf_fuse([run1, run2], k_const=_RRF_K, out_k=_RRF_OUT_K)


def q_kg_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog between two KG materializations: the current build
    vs a stale policy snapshot (tool turns excluded — whose nextTurn
    chains re-link over the remaining turns, so the diff carries
    both added AND removed rows). Two anti-joins on the triple key;
    unchanged triples never leave their map side. The oracle rebuilds
    BOTH snapshots and diffs them with set-semantics EXCEPT."""
    from json_ld_spark.operators.jsonld_ops import emit_triples, valid_triples
    from json_ld_spark.operators.lifecycle import snapshot_diff

    new = _triples(spark, sf_dir)
    old = valid_triples(
        emit_triples(_derived(spark, sf_dir).filter(F.col("role") != "tool"))
    )
    return snapshot_diff(
        old, new, ["subj", "pred", "obj_value", "obj_is_iri"]
    )


_SCD2_TIER_DIV = 8


def q_kg_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 (type-2 slowly-changing-dimension) merge of the entity
    dimension: version 1 = mention tiers counted over user turns
    only, merged with the full-corpus snapshot — entities whose tier
    moved get a closed version-1 row + an open version-2 row,
    unchanged tiers pass through, newly-seen entities insert at
    version 1. The warehouse MERGE INTO shape as pure DataFrame
    transforms; the oracle replays every branch."""
    from json_ld_spark.operators.lifecycle import scd2_merge

    m = _mentions(spark, sf_dir)
    roles = _derived(spark, sf_dir).select("conv_id", "turn_idx", "role")
    mm = m.join(roles, ["conv_id", "turn_idx"]).localCheckpoint()
    tier = F.expr(f"count(*) div {_SCD2_TIER_DIV}").alias("tier")
    a = mm.filter(F.col("role") == "user").groupBy("entity").agg(tier)
    b = mm.groupBy("entity").agg(tier)
    current = a.select(
        "entity", "tier",
        F.lit(1).cast("int").alias("version"),
        F.lit(True).alias("is_current"),
    )
    return scd2_merge(current, b, ["entity"], ["tier"])


_WALK_LEN = 3
_WALKS_PER_NODE = 2


def q_entity_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeepWalk-style walk corpus over the KG co-occurrence graph —
    skip-gram training input for entity embeddings. The per-step
    choice is the md5 family over (walk_id, step) mod out-degree, so
    the full walk corpus is deterministic and the oracle unrolls the
    identical steps; each step is one (node, rank) equi-join."""
    from json_ld_spark.operators.kg_train import deterministic_walks

    return deterministic_walks(
        _cooccurrence_edges(spark, sf_dir),
        walk_len=_WALK_LEN,
        walks_per_node=_WALKS_PER_NODE,
    )


def _walks_oracle_sql() -> str:
    h = (
        "CAST(concat('0x', substring(md5(c{i}.walk_id || '|' || '{t}'),"
        " 1, 15)) AS BIGINT)"
    )
    rounds, arms = [], ["SELECT walk_id, 0 AS step, node FROM c0"]
    for t in range(1, _WALK_LEN + 1):
        hh = h.format(i=t - 1, t=t)
        rounds.append(f"""
        p{t} AS (
          SELECT c{t-1}.walk_id, c{t-1}.node,
                 {hh} % deg.outdeg + 1 AS pk
          FROM c{t-1} JOIN deg ON deg.s = c{t-1}.node
        ),
        c{t} AS (
          SELECT p{t}.walk_id, nbr.t AS node
          FROM p{t} JOIN nbr ON nbr.s = p{t}.node AND nbr.rk = p{t}.pk
        )""")
        arms.append(f"SELECT walk_id, {t} AS step, node FROM c{t}")
    wvals = ", ".join(f"'{i}'" for i in range(_WALKS_PER_NODE))
    return _MENTION_CTE + f""",
        e0 AS (
          SELECT DISTINCT a.iri AS s, b.iri AS t
          FROM m a JOIN m b
            ON a.conv_id = b.conv_id AND a.turn_idx = b.turn_idx
           AND a.iri <> b.iri
        ),
        nbr AS (
          SELECT s, t, row_number() OVER (PARTITION BY s ORDER BY t)
                   AS rk
          FROM e0
        ),
        deg AS (SELECT s, count(*) AS outdeg FROM e0 GROUP BY 1),
        c0 AS (
          SELECT n.s || '#' || w.w AS walk_id, n.s AS node
          FROM (SELECT DISTINCT s FROM e0) n,
               (SELECT unnest([{wvals}]) AS w) w
        ),{",".join(rounds)}
        {" UNION ALL ".join(arms)}
    """


_HB_K = 2
_HB_B = 8


def q_hyperball_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperBall neighborhood-function estimation over the KG
    (Boldi & Vigna 2013): per-node HLL counters propagated 2 rounds
    along co-occurrence edges with max-merge — the web-scale
    replacement for exact all-pairs k-hop (whose output is quadratic).
    Register max-merge over a ball equals the sketch OF the ball, so
    the oracle computes each node's exact 2-ball and sketches it with
    the shared md5 register SQL — the whole propagation is
    hash-gated down to s_scaled."""
    from json_ld_spark.operators.graph import hyperball

    return hyperball(
        _cooccurrence_edges(spark, sf_dir), k=_HB_K, b=_HB_B
    )


def _hyperball_oracle_sql() -> str:
    from json_ld_spark.operators.sketches import _SCALE_SHIFT, _alpha

    b = _HB_B
    m = 1 << b
    rem_bits = 60 - b
    two_rem = 1 << rem_bits
    empty_term = 1 << _SCALE_SHIFT
    const = _alpha(m) * m * m * float(empty_term)
    balls = """
        ball1 AS (
          SELECT v, v AS u FROM nodes
          UNION SELECT s, t FROM e0
        ),
        ball2 AS (
          SELECT b1.v, e0.t AS u FROM ball1 b1 JOIN e0 ON e0.s = b1.u
          UNION SELECT v, u FROM ball1
        )"""
    assert _HB_K == 2, "oracle unrolls exactly the gate's round count"
    return _MENTION_CTE + f""",
        e0 AS (
          SELECT DISTINCT a.iri AS s, b.iri AS t
          FROM m a JOIN m b
            ON a.conv_id = b.conv_id AND a.turn_idx = b.turn_idx
           AND a.iri <> b.iri
        ),
        nodes AS (SELECT DISTINCT s AS v FROM e0),{balls},
        h AS (
          SELECT v, CAST(concat('0x', substring(md5(u), 1, 15))
                         AS BIGINT) AS h
          FROM ball2
        ),
        rk AS (
          SELECT v, h // {two_rem} AS bucket,
                 CASE WHEN h % {two_rem} = 0 THEN {rem_bits + 1}
                      ELSE {rem_bits} - length(bin(h % {two_rem})) + 1
                 END AS rank
          FROM h
        ),
        regs AS (SELECT v, bucket, max(rank) AS r FROM rk GROUP BY 1, 2),
        g AS (
          SELECT v, count(*) AS nonempty,
                 sum(CASE WHEN r <= {_SCALE_SHIFT}
                          THEN (CAST(1 AS BIGINT) << ({_SCALE_SHIFT} - r))
                          ELSE 0 END) AS s_nonempty
          FROM regs GROUP BY 1
        ),
        s AS (
          SELECT v, nonempty,
                 CAST(s_nonempty + ({m} - nonempty) * {empty_term}
                      AS BIGINT) AS s_scaled
          FROM g
        ),
        e AS (
          SELECT v, nonempty, s_scaled,
                 {const!r} / CAST(s_scaled AS DOUBLE) AS raw,
                 {m} - nonempty AS zeros
          FROM s
        )
        SELECT v AS node, CAST({m} AS INT) AS m, nonempty, s_scaled,
               round(CASE WHEN raw <= {2.5 * m!r} AND zeros > 0
                          THEN {float(m)!r}
                               * ln({float(m)!r} / CAST(zeros AS DOUBLE))
                          ELSE raw END, 2) AS est
        FROM e
    """


_SSSP_K = 3
_SSSP_SEEDS = 3


def q_entity_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-hop WEIGHTED shortest paths over the KG: edge cost =
    10⁶ div co-occurrence count (rare associations are costly), 3
    Bellman-Ford relaxation rounds from the 3 smallest entities —
    the weighted generalization of the k-hop read query. Integer
    costs keep every min deterministic; the oracle unrolls the same
    rounds CTE-for-CTE, so a missed relaxation or a non-minimal
    distance fails the hash."""
    from json_ld_spark.operators.graph import sssp_bounded

    edges = (
        _comention_pairs(spark, sf_dir)
        .groupBy("src", "dst")
        .agg(F.expr("1000000 div count(*)").alias("w"))
    )
    nodes = (
        edges.select(F.col("src").alias("e"))
        .unionByName(edges.select(F.col("dst").alias("e")))
        .distinct()
    )
    seeds = nodes.orderBy("e").limit(_SSSP_SEEDS)
    return sssp_bounded(edges, seeds, k=_SSSP_K)


def _sssp_oracle_sql() -> str:
    rounds = []
    for i in range(1, _SSSP_K + 1):
        rounds.append(f"""
        r{i} AS (
          SELECT d.seed, e.t AS node, d.dist + e.w AS dist
          FROM d{i-1} d JOIN ew e ON d.node = e.s
        ),
        d{i} AS (
          SELECT seed, node, min(dist) AS dist
          FROM (SELECT * FROM d{i-1} UNION ALL SELECT * FROM r{i})
          GROUP BY 1, 2
        )""")
    return _MENTION_CTE + f""",
        e0 AS (
          SELECT a.iri AS s, b.iri AS t, count(*) AS c
          FROM m a JOIN m b
            ON a.conv_id = b.conv_id AND a.turn_idx = b.turn_idx
           AND a.iri < b.iri
          GROUP BY 1, 2
        ),
        ew AS (
          SELECT s, t, 1000000 // c AS w FROM e0
          UNION ALL SELECT t, s, 1000000 // c FROM e0
        ),
        seeds AS (
          SELECT seed FROM (SELECT DISTINCT s AS seed FROM ew)
          ORDER BY seed LIMIT {_SSSP_SEEDS}
        ),
        d0 AS (
          SELECT seed, seed AS node, CAST(0 AS BIGINT) AS dist FROM seeds
        ),{",".join(rounds)}
        SELECT seed, node, dist FROM d{_SSSP_K}
    """


_DPO_MARGIN = 5


def q_dpo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO/RLHF preference-pair construction from conversations:
    per conversation, best- vs worst-scoring assistant turns with a
    margin gate (score = normalized char length as the pluggable
    integer quality proxy). One conversation-keyed shuffle; ties
    break on lowest turn index, so the oracle replays both windows
    and the margin filter exactly."""
    from json_ld_spark.operators.corpus import preference_pairs

    t = _derived(spark, sf_dir)
    score = F.length(normalized(F.lower(F.coalesce(F.col("text"), F.lit("")))))
    return preference_pairs(
        t.withColumn("_score", score), "_score", min_margin=_DPO_MARGIN
    )


_SDECON_STRIDE = 97
_SDECON_OFFSET = 2_000_000
_SDECON_TAU = 0.5


def q_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination vs a PLANTED benchmark set
    (derived twins of every 97th corpus vector — exact 4-dp
    arithmetic both engines replay, the q_embedding_neardup plant
    policy), so contaminated rows exist at every driver scale and
    the cosine math is gated on real positives. Eval side broadcast;
    corpus never shuffles before the id-keyed aggregate."""
    from json_ld_spark.operators.decontaminate import semantic_decontaminate

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ev = emb.filter(F.col("vec_id") % _SDECON_STRIDE == 0).select(
        (F.col("vec_id") + _SDECON_OFFSET).alias("eval_id"),
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * 0.85 + 0.03, 4).cast("float"),
        ).alias("embedding"),
    )
    return semantic_decontaminate(
        emb.select("vec_id", "embedding"), ev, threshold=_SDECON_TAU
    )


_HQ_BINS = 64
_HQ_PERMILLE = (10, 250, 500, 750, 900, 990)


def q_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable histogram quantile estimates over document lengths —
    the O(n_bins)-state scale path beside the exact nearest-rank
    operator (source_percentiles). Bin assignment and target ranks
    are pure integer arithmetic; the one float expression (in-bin
    interpolation) is a single shared IEEE tree, so the oracle
    replays bins, cumulative counts, and estimates exactly."""
    from json_ld_spark.operators.stats import histogram_quantiles

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    vals = docs.filter(F.col("text").isNotNull()).select(
        F.length("text").alias("len")
    )
    return histogram_quantiles(
        vals, "len", n_bins=_HQ_BINS, permille=_HQ_PERMILLE
    )


def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift between the even- and
    odd-doc_id halves of the corpus (the snapshot-vs-snapshot QA gate
    run before retraining): CDFs carried as integer ppm, so the
    statistic and its argmax location are exact integers the oracle
    replays bit-for-bit."""
    from json_ld_spark.operators.stats import ks_two_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    s = docs.filter(F.col("text").isNotNull()).select(
        F.length("text").alias("len"),
        (F.col("doc_id") % 2 == 0).alias("side"),
    )
    return ks_two_sample(s, "len", "side")


_HH_K = 100


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters (freq > N/k tokens) via per-partition
    Space-Saving candidates + broadcast exact verify — the two-pass
    pattern that never shuffles the long tail (at web scale the
    token tail is billions of hapaxes; this shuffles only candidate
    rows). Output is deterministic despite the partitioning-dependent
    sketch, which is what lets the plain GROUP BY/HAVING oracle gate
    it; the eviction path is pinned by a planted-Zipf pytest."""
    from json_ld_spark.operators.sketches import heavy_hitters

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(F.explode(words(F.lower(F.col("text")))).alias("term"))
    return heavy_hitters(toks, col="term", k=_HH_K)


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension min-max uint8 quantization of the embedding
    table; integer summaries (incl. a dimension-weighted checksum)
    gate the whole code assignment."""
    from json_ld_spark.operators.similarity import embedding_quantize

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return embedding_quantize(emb)


_WSAMPLE_K = 64


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (A-ES /
    Efraimidis-Spirakis) by document length: integer-only output, the
    ln(u)/w key orders inside the plan only."""
    from json_ld_spark.operators.corpus import weighted_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return weighted_sample(docs, k=_WSAMPLE_K)


_PROFILE_COLS = ["event_id", "user_id", "event_type", "props"]
# (double/timestamp columns are excluded: their STRING casts are not
# guaranteed to agree across engines, and the profile hashes strings)


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style profile of the events table: per-column rows /
    nulls / exact distinct / HLL register state + estimate. The
    oracle replays every column's counts and the full sketch, so the
    profile an optimizer would trust is itself gated."""
    from json_ld_spark.operators.profile import profile_table

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return profile_table(ev, columns=_PROFILE_COLS, b=_HLL_B)


_PACK_TURNS_BUDGET = 128


def q_pack_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT context-window assembly: each conversation's turns packed
    in order into fixed-token-budget windows (greedy running total,
    conversation-partitioned — the natural pack unit, no bucket
    hack). The oracle replays tokenization, the per-conversation
    cumulative sum, and the floor formula."""
    from json_ld_spark.operators.corpus import pack_turns

    return pack_turns(_derived(spark, sf_dir), budget_tokens=_PACK_TURNS_BUDGET)


_KWIC_CTX = 20


def q_mention_kwic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-in-context extraction — the NER-style read that yields
    training spans: first occurrence of each gazetteer surface per
    document with ±20-char context windows. Pure string arithmetic
    (locate/substr, 1-based in both engines), broadcast of the tiny
    surface table, corpus side never shuffles; the raw context
    strings gate exact position arithmetic."""
    from json_ld_spark.sources.gazetteer import GAZETTEER

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    gaz = spark.createDataFrame(
        [(g[0], g[1]) for g in GAZETTEER], "entity_id int, surface string"
    )
    j = docs.crossJoin(F.broadcast(gaz)).withColumn(
        "pos", F.expr("locate(surface, text)")
    ).filter(F.col("pos") > 0)
    c = _KWIC_CTX
    return j.select(
        "doc_id",
        "entity_id",
        "surface",
        "pos",
        F.expr(
            f"substring(text, greatest(1, pos - {c}),"
            f" pos - greatest(1, pos - {c}))"
        ).alias("left_ctx"),
        F.expr(f"substring(text, pos + length(surface), {c})").alias(
            "right_ctx"
        ),
    )


_PCA_ITERS = 3


def q_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding cloud by integer
    power iteration over quantized codes: the scaled covariance is
    exact int64, each iteration's matrix-vector product is exact, and
    norms go through DECIMAL(38,0) squares — the oracle replays
    quantization, covariance, and every iteration CTE-for-CTE, so
    nothing float-order-dependent exists to diverge."""
    from json_ld_spark.operators.similarity import pca_top_component

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n_vecs = emb.count()  # 1-row recipe parameter (PageRank-N policy)
    return pca_top_component(emb, n_vecs, n_iters=_PCA_ITERS)


def q_stream_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HLL under the gate: events replayed as THREE ordered
    micro-batches where batches 1 and 2 RE-DELIVER early rows (every
    5th batch-0 event — the at-least-once shape); the register state
    (applyInPandasWithState, 2^b bytes per group) max-merges across
    batches, so redelivery cannot move the sketch and the final
    snapshot must equal the batch HLL of the ORIGINAL events — which
    is exactly the SQL oracle of the batch sketch. A rank computed
    differently in the stream path, a lost register between batches,
    or redelivery double-counting all fail the hash."""
    from datetime import timedelta

    from json_ld_spark.operators.sketches import hll_bucket_rank
    from json_ld_spark.streaming.stream_pipeline import stream_hll_registers

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "ts", "user_id", "event_type"
    )
    _, f0, f1, f2 = _time_thirds(ev, timedelta(hours=96), timedelta(hours=48))
    dup = f0.filter(F.col("event_id") % 5 == 0)
    bucket, rank = hll_bucket_rank("user_id", _HLL_B)

    def build(stream: DataFrame) -> DataFrame:
        keyed = stream.select(
            F.col("event_type").alias("group"),
            bucket.cast("int").alias("bucket"),
            rank.cast("int").alias("rank"),
        )
        return stream_hll_registers(keyed, b=_HLL_B)

    snaps = _replay(
        spark, (f0, f1.unionByName(dup), f2.unionByName(dup)), build
    )
    return _latest_snapshot(snaps, "group").select(
        F.col("group").alias("event_type"), "m", "nonempty", "s_scaled", "est"
    )


def q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization under the gate: events replayed as
    THREE event-time-ordered micro-batches (the same 96h/48h splits
    as the HLL gate, no redelivery — sessionization is not
    merge-idempotent); per-user state stitches sessions ACROSS the
    batch boundaries, so any session straddling a split can only
    come out right via state carry-over. The max-seq snapshot per
    (user, session) must equal the batch lag-window answer — the
    events_sessionize oracle verbatim. A dropped state row, a wrong
    gap comparison at the boundary, or per-chunk sorting inside a
    group all fail the hash."""
    from datetime import timedelta

    from json_ld_spark.streaming.stream_pipeline import stream_sessionize

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "ts", "user_id", "value"
    )
    _, *parts = _time_thirds(ev, timedelta(hours=96), timedelta(hours=48))

    def build(stream: DataFrame) -> DataFrame:
        return stream_sessionize(stream.select(
            "user_id",
            "event_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("epoch"),
            "value",
        ))

    snaps = _replay(spark, parts, build)
    return _latest_snapshot(snaps, "user_id", "session_idx").select(
        "user_id",
        "session_idx",
        "n_events",
        F.timestamp_micros("start_epoch")
        .cast("timestamp_ntz")
        .alias("session_start"),
        F.timestamp_micros("end_epoch")
        .cast("timestamp_ntz")
        .alias("session_end"),
        F.round("vsum", 2).alias("session_value"),
    )


def q_stream_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming NEAR-dup detection under the gate: documents are
    replayed as THREE id-ordered micro-batches; minhash signatures
    and band buckets are computed JVM-side in the stream's select
    chain (the md5-family primitives the batch path uses), and the
    stateful LSH index (one representative per bucket, in state)
    flags each arriving doc against the earliest occupant — ACROSS
    batch boundaries. The oracle recomputes signatures, buckets, and
    the earliest-earlier-occupant relation set-theoretically, so a
    lost bucket state row, a wrong representative update, or a band
    computed differently in the stream path fails the hash."""
    from json_ld_spark.operators.canonicalize import (
        minhash_signature,
        shingle_hash_set,
    )
    from json_ld_spark.operators.hashfamily import minhash_band_buckets
    from json_ld_spark.streaming.stream_pipeline import stream_minhash_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    n = docs.agg(F.max("doc_id")).collect()[0][0]  # 1-row parameter
    c1, c2 = n // 3, (2 * n) // 3
    f0 = docs.filter(F.col("doc_id") <= c1)
    f1 = docs.filter((F.col("doc_id") > c1) & (F.col("doc_id") <= c2))
    f2 = docs.filter(F.col("doc_id") > c2)
    num_hashes, bands = 32, 8
    par = spark.sparkContext.defaultParallelism

    def build(stream: DataFrame) -> DataFrame:
        # each micro-batch is ONE file = one input partition, and
        # chained projections collapse (the signature fold would
        # capture the whole shingle expression, the 8 band buckets the
        # whole fold). The two intra-batch repartitions rebalance every
        # batch across the cores AND materialize the staged column at
        # each boundary — the streaming analog of the batch path's
        # localCheckpoints. They ship (id, shingle-hash array) and
        # (id, 32-long signature) rows only.
        s1 = stream.repartition(par, "doc_id").select(
            "doc_id", F.lower(F.col("text")).alias("_lt")
        )
        s2 = s1.select(
            "doc_id", shingle_hash_set(F.col("_lt"), 3).alias("_sh")
        ).repartition(par, "doc_id")
        s3 = s2.select(
            "doc_id", minhash_signature(F.col("_sh"), num_hashes).alias("_sig")
        ).repartition(par, "doc_id")
        banded = s3.select(
            "doc_id",
            F.explode(
                F.array(*minhash_band_buckets("_sig", num_hashes, bands))
            ).alias("bucket"),
        ).select("bucket", "doc_id")
        return stream_minhash_dedup(banded)

    hits = _replay(spark, (f0, f1, f2), build)
    return hits.groupBy("doc_id").agg(
        F.count("*").alias("n_hit_buckets"),
        F.min("rep").alias("dup_of"),
    )


_CMS_W = 256
_CMS_D = 4


def q_cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch registers (operators/sketches.cms_registers)
    over per-user event counts — the bounded-memory frequency
    summary (d×w integers regardless of user cardinality). The
    registers ARE the sketch; the oracle recomputes every one from
    the md5-family coordinates."""
    from json_ld_spark.operators.sketches import cms_registers

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return cms_registers(ev, "user_id", w=_CMS_W, d=_CMS_D)


def q_cms_user_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min point estimates vs exact truth for a probe set
    (every 17th user): est = min over d rows of the probed register,
    exact = the true count — the oracle replays both, and the
    sketch's one-sided guarantee (est ≥ exact) is visible in the
    gated rows themselves."""
    from json_ld_spark.operators.sketches import cms_estimate, cms_registers

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    regs = cms_registers(ev, "user_id", w=_CMS_W, d=_CMS_D)
    probes = (
        ev.filter(F.col("user_id") % 17 == 0)
        .select("user_id")
        .distinct()
    )
    est = cms_estimate(regs, probes, "user_id", w=_CMS_W, d=_CMS_D)
    exact = (
        ev.filter(F.col("user_id") % 17 == 0)
        .groupBy(F.col("user_id").alias("key"))
        .agg(F.count("*").alias("exact"))
    )
    return est.join(exact, "key").select(
        F.col("key").alias("user_id"), "est", "exact"
    )


_BLOOM_M = 8192
_BLOOM_K = 4


def q_bloom_user_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership (operators/sketches.bloom_bits /
    bloom_contains) — the join-pruning primitive: build the m-bit
    filter over event users, then probe with planted PRESENT keys
    (every 17th user) and planted ABSENT keys (the same ids shifted
    by 10^9). No false negatives by construction; false positives
    are deterministic md5 arithmetic, so the oracle gates the exact
    boolean per probe instead of tolerating a rate."""
    from json_ld_spark.operators.sketches import bloom_bits, bloom_contains

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    bits = bloom_bits(ev, "user_id", m_bits=_BLOOM_M, k=_BLOOM_K)
    present = (
        ev.filter(F.col("user_id") % 17 == 0).select("user_id").distinct()
    )
    absent = present.select(
        (F.col("user_id") + 1000000000).alias("user_id")
    )
    probes = present.unionByName(absent)
    return bloom_contains(
        bits, probes, "user_id", m_bits=_BLOOM_M, k=_BLOOM_K
    ).select(F.col("key").alias("user_id"), "present")


def q_stream_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming count-min under the gate: events replayed as THREE
    disjoint time-ordered micro-batches (no redelivery — SUM-merge
    is not idempotent, and the docstring says so); per-row register
    arrays live in state and sum across batches; the max-seq
    snapshot, exploded back to (row_idx, bucket, count), must equal
    the batch sketch — the same oracle as cms_user_counts."""
    from datetime import timedelta

    from json_ld_spark.operators.sketches import cms_bucket
    from json_ld_spark.streaming.stream_pipeline import stream_cms_registers

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "ts", "user_id"
    )
    _, *parts = _time_thirds(ev, timedelta(hours=96), timedelta(hours=48))

    def build(stream: DataFrame) -> DataFrame:
        coords = stream.filter(F.col("user_id").isNotNull()).select(
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(r).alias("row_idx"),
                        cms_bucket("user_id", r, _CMS_W).alias("bucket"),
                    )
                    for r in range(_CMS_D)
                ])
            ).alias("c")
        ).select(F.col("c.row_idx").alias("row_idx"),
                 F.col("c.bucket").alias("bucket"))
        return stream_cms_registers(coords, w=_CMS_W)

    return (
        _latest_snapshot(_replay(spark, parts, build), "row_idx")
        .select("row_idx", F.posexplode("counts").alias("bucket", "count"))
        .filter(F.col("count") > 0)
    )


def q_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF (LZW) decode under the hash gate: every payload is a
    genuine GIF89a stream — palette, sub-blocks, variable-width LZW
    with table growth — encoded and decoded by operators/gif.py. GIF
    is lossless, so the oracle replays the closed-form 8×8 block
    colors directly; a wrong palette order, a broken KwKwK case, or a
    mis-synced code width all corrupt the decoded statistics."""
    from json_ld_spark.operators.multimodal import (
        decode_stats,
        synthesize_gif_media,
    )

    return decode_stats(synthesize_gif_media(spark, _N_MEDIA))


def q_adpcm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-audio decode under the gate: WAV fmt-0x11 IMA
    ADPCM payloads (block headers, low-nibble-first packing,
    adaptive-delta state machine — operators/adpcm.py, whose core is
    unit-tested nibble-for-nibble against stdlib audioop). The DuckDB
    oracle replays the published IMA state machine sample-for-sample
    in a recursive CTE over the same closed-form nibble stream, so a
    wrong step-table entry, clamp order, or nibble order fails the
    hash."""
    from json_ld_spark.operators.multimodal import (
        decode_stats,
        synthesize_adpcm_media,
    )

    return decode_stats(synthesize_adpcm_media(spark, _N_MEDIA))


def q_flac_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL entropy-coded lossless audio under the gate: FLAC subset
    payloads (STREAMINFO, CRC-8/CRC-16-checked frames, UTF-8 frame
    numbers, CONSTANT/VERBATIM/FIXED subframes with Rice-coded
    residuals — operators/flac.py, written against the public
    xiph.org format spec). FLAC is lossless, so the oracle replays
    the closed-form sample function directly against decoded
    statistics; a wrong Rice parameter, zigzag order, predictor
    coefficient, or bit-packing slip corrupts the stats, and the
    decoder's CRC checks make encoder bit errors loud."""
    from json_ld_spark.operators.multimodal import (
        decode_stats,
        synthesize_flac_media,
    )

    return decode_stats(synthesize_flac_media(spark, _N_MEDIA))


def q_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC web-archive ingestion (sources/warc.py + operators/
    warc_ops.py): every payload is a REAL .warc.gz — one gzip member
    per record (mtime=0), strict ISO 28500 framing on read (version
    line, Content-Length body walk, CRLFCRLF terminator). The parse
    runs in Arrow-batched mapInPandas, one crawl file per row; the
    oracle replays record headers and exact body byte statistics
    from the closed forms, so a framing slip, a header mangle, or a
    gzip-member boundary bug fails the hash."""
    from json_ld_spark.operators.warc_ops import (
        synthesize_warc_files,
        warc_record_stats,
    )

    return warc_record_stats(synthesize_warc_files(spark, _N_MEDIA))


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + registrable domain (functions/urls.py)
    over deterministically-messy URLs (uppercase schemes/hosts,
    default and non-default ports, empty/dirty paths, unsorted and
    utm_-polluted queries, fragments — every rule exercised). The
    oracle COMPOSES the canonical form directly from the closed-form
    parts, so the Spark side only matches by PARSING the messy
    string correctly and applying every rule."""
    from json_ld_spark.functions.urls import (
        canonicalize_url,
        registrable_domain,
        url_parts,
    )

    d = F.col("doc_id")
    scheme = _case_mod(d % 4, ["http", "HTTP", "https", "HTTPS"])
    host = _case_mod(
        d % 8,
        [
            "Example.COM", "www.News.co.uk", "cdn.Static.net",
            "blog.Github.IO", "shop.example.com.au", "Sub.Domain.ORG",
            "a.b.example.org", "M.example.com",
        ],
    )
    default_port = F.when(
        F.lower(scheme) == "http", F.lit(":80")
    ).otherwise(F.lit(":443"))
    port = (
        F.when(d % 3 == 0, default_port)
        .when(d % 3 == 1, F.lit(":8080"))
        .otherwise(F.lit(""))
    )
    path = (
        F.when(d % 5 == 0, F.lit(""))
        .when(d % 5 == 1, F.lit("/"))
        .when(d % 5 == 2, F.concat(F.lit("/P/"), (d % 97).cast("string")))
        .when(
            d % 5 == 3,
            F.concat(F.lit("/p/"), (d % 97).cast("string"), F.lit("/")),
        )
        .otherwise(F.lit("/index.html"))
    )
    query = (
        F.when(d % 7 == 1, F.lit("?b=2&a=1"))
        .when(
            d % 7 == 2,
            F.concat(F.lit("?utm_source=x&id="), (d % 13).cast("string")),
        )
        .when(d % 7 == 3, F.lit("?a=1&utm_campaign=y&b=2"))
        .when(d % 7 == 4, F.lit("?z=9"))
        .otherwise(F.lit(""))
    )
    frag = F.when(d % 2 == 0, F.lit("#Sec-1")).otherwise(F.lit(""))
    url_raw = F.concat(scheme, F.lit("://"), host, port, path, query, frag)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    staged = docs.select("doc_id", url_raw.alias("url_raw"))
    h = url_parts(F.col("url_raw"))["host"]
    return staged.select(
        "doc_id",
        "url_raw",
        canonicalize_url(F.col("url_raw")).alias("url_canon"),
        h.alias("host"),
        registrable_domain(h).alias("domain"),
    )


_NEG_K = 3
_NEG_BUCKETS = 16


def q_kg_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corrupt-tail negative sampling over the emitted
    KG's mention→entity pairs (operators/kg_train.py): bucketed hash
    indexing of the entity vocabulary (no single-task global sort),
    md5-family probe arithmetic, and the standard filtered setting
    (negatives colliding with true pairs anti-joined away). The
    oracle replays vocabulary bucketing, per-bucket ranks, probe
    arithmetic, and the filter — so the whole sample is hash-gated."""
    from json_ld_spark.operators.kg_train import negative_samples

    t = _triples(spark, sf_dir)
    pos = t.filter(F.col("pred") == VOCAB + "of").select(
        F.col("subj").alias("head"), F.col("obj_value").alias("tail")
    )
    return negative_samples(pos, k=_NEG_K, n_buckets=_NEG_BUCKETS)


def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → text extraction (functions/html_text.py) over
    deterministically-messy synthesized pages: script/style blocks
    whose CONTENT must vanish (including a '<' inside the script),
    comments, uppercase tags/attributes, double-encoded entities
    (&amp;lt; must decode to &lt;, not <), and mixed-case hrefs.
    The oracle replays the same RE2 regex chain step-for-step, so a
    wrong strip order (tags before blocks), a greedy block match
    eating the body, or an entity decoded in the wrong order fails
    the hash."""
    from json_ld_spark.functions.html_text import (
        html_links,
        html_title,
        html_to_text,
    )

    d = F.col("doc_id")
    html = F.concat(
        F.lit("<HTML><head><title>Doc "),
        d.cast("string"),
        F.lit(" &amp; friends &#39;q&#39;</title>"),
        F.lit('<style type="text/css">p { color: red; }</style>'),
        F.lit("<script>var x = 1 < 2;</script></head><body><!-- hidden "),
        (d % 9).cast("string"),
        F.lit(" --><h1>H"),
        (d % 7).cast("string"),
        F.lit("</h1><p>"),
        F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 160),
        F.lit(' &lt;b&gt; &amp;lt;i&amp;gt;</p><a href="https://ex.org/a/'),
        (d % 5).cast("string"),
        F.lit('">x</a> <A HREF="https://ex.org/b/'),
        (d % 3).cast("string"),
        F.lit('?q=1">y</A></body></html>'),
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    staged = docs.select("doc_id", html.alias("html"))
    return staged.select(
        "doc_id",
        html_title(F.col("html")).alias("title"),
        html_to_text(F.col("html")).alias("text_out"),
        F.size(html_links(F.col("html"))).alias("n_links"),
        F.array_join(html_links(F.col("html")), "|").alias("links"),
    )


def _case_mod(expr, values: "list[str]"):
    out = F.lit(values[-1])
    for i in range(len(values) - 2, -1, -1):
        out = F.when(expr == i, F.lit(values[i])).otherwise(out)
    return out


def _robots_txt_for(host: str) -> str:
    """Deterministic robots.txt per crawl host — real files with the
    parser traps: a specific-UA group that must be IGNORED for '*',
    consecutive User-agent lines forming one group, an empty
    Disallow (no restriction), comments, and unknown directives."""
    if host.startswith("example-"):
        k = host.split("-")[1].split(".")[0]
        return (
            "# synthetic robots\n"
            "User-agent: EvilBot\n"
            "Disallow: /\n"
            "\n"
            "User-agent: *\n"
            f"Disallow: /A/{k}\n"
            f"Allow: /A/{k}/deep\n"
            "Disallow:\n"
            "Crawl-delay: 2\n"
        )
    return (
        "User-agent: *\n"
        "User-agent: AnotherBot\n"
        "Disallow: /x/1\n"
        "Sitemap: https://news.co.uk/sitemap.xml\n"
    )


def q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt politeness filter (sources/robots.py) over the
    crawl pipeline's canonical URLs: real robots files are PARSED
    distributed (group selection, empty-Disallow, unknown
    directives), then match_robots runs JVM-side — broadcast rule
    join + startswith + struct-max longest-match with Allow winning
    ties.
    The oracle composes the expected rule table and URL set from
    closed forms and replays the longest-match ordering, so a group
    mis-selected (EvilBot's Disallow / leaking into '*'), a dropped
    empty-Disallow, or a tie broken the wrong way fails the hash."""
    from json_ld_spark.functions.html_text import html_links
    from json_ld_spark.functions.urls import canonicalize_url, url_parts
    from json_ld_spark.operators.warc_ops import (
        synthesize_warc_html,
        warc_html_pages,
    )
    from json_ld_spark.sources.robots import match_robots

    pages = warc_html_pages(synthesize_warc_html(spark, _N_MEDIA))
    link = F.explode(html_links(F.col("html"))).alias("link")
    canon = canonicalize_url(F.col("link"))
    urls = (
        pages.select(link)
        .select(
            canon.alias("canon"),
            url_parts(F.col("link"))["host"].alias("host"),
        )
        .select(
            "canon", "host", url_parts(F.col("canon"))["path"].alias("path")
        )
        .distinct()
    )
    hosts = [r["host"] for r in urls.select("host").distinct().collect()]

    def _parse(it):
        import pandas as pd

        from json_ld_spark.sources.robots import parse_robots

        for pdf in it:
            rows = []
            for host, txt in zip(pdf["host"], pdf["robots_txt"]):
                for allow, prefix in parse_robots(txt, "*"):
                    rows.append((host, allow, prefix))
            yield pd.DataFrame(rows, columns=["host", "allow", "prefix"])

    robots = spark.createDataFrame(
        [(h, _robots_txt_for(h)) for h in sorted(hosts)],
        "host string, robots_txt string",
    )
    rules = robots.mapInPandas(
        _parse, schema="host string, allow boolean, prefix string"
    )
    return match_robots(urls, rules)


def q_conversation_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT conversation-filter signals, one row per conversation:
    turn counts per role, role-alternation violations (consecutive
    same-role turns — the classic scraped-dialog defect), whether
    the dialog ends with an assistant turn (a trainable final
    target), and total normalized chars. One window + one groupBy,
    both keyed on conv_id; exact integers throughout."""
    from pyspark.sql import Window

    t = _derived(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    norm_len = F.length(
        normalized(F.lower(F.coalesce(F.col("text"), F.lit(""))))
    )
    staged = t.select(
        "conv_id",
        "turn_idx",
        "role",
        norm_len.alias("n_chars"),
    ).withColumn(
        "_viol",
        (F.col("role") == F.lag("role").over(w)).cast("int"),
    ).withColumn(
        "_last_role",
        F.last("role").over(
            Window.partitionBy("conv_id")
            .orderBy("turn_idx")
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ),
    )
    return staged.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"),
        F.sum((F.col("role") == "user").cast("int")).alias("n_user"),
        F.sum((F.col("role") == "assistant").cast("int")).alias(
            "n_assistant"
        ),
        F.coalesce(F.sum("_viol"), F.lit(0)).alias("n_violations"),
        F.max((F.col("_last_role") == "assistant").cast("int")).alias(
            "ends_with_assistant"
        ),
        F.sum("n_chars").alias("total_chars"),
    )


def q_loss_mask_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT loss-mask computation (operators/corpus.loss_mask_spans):
    character spans of assistant turns inside each conversation's
    linearized text — exact integer cumulative-sum arithmetic the
    oracle replays with the same window."""
    from json_ld_spark.operators.corpus import loss_mask_spans

    return loss_mask_spans(_derived(spark, sf_dir))


_PPJ_THRESHOLD = 0.8


def q_jaccard_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT (lossless) similarity join by prefix filtering
    (operators/dedup.jaccard_prefix_join): every pair with word-set
    Jaccard ≥ θ, guaranteed complete — the recall-1.0 complement to
    the probabilistic minhash/simhash paths. Rare-first ordering
    uses the (count, token) pair, never a global vocabulary rank, so
    no single-task sort exists at any scale. The oracle replays the
    count join, rare-first prefixes, candidate join, and the exact
    verify."""
    from json_ld_spark.operators.dedup import jaccard_prefix_join

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return jaccard_prefix_join(docs, threshold=_PPJ_THRESHOLD)


_QC_BUCKETS = 4096


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-bag-of-words quality-classifier inference
    (operators/textstats.quality_classifier_scores): md5-family word
    hashing into a frozen closed-form weight table, exact integer
    weight sums (the pass/fail decision is a sign test on a BIGINT —
    engine-drift-proof), one rounded division for the logit. The
    oracle replays hash → slot → weight → sum word-for-word."""
    from json_ld_spark.operators.textstats import quality_classifier_scores

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return quality_classifier_scores(docs, n_buckets=_QC_BUCKETS)


def q_bpe_train_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-then-apply under ONE gate: the 8 corpus-trained merges
    (q_bpe_train_merges) are applied back to every document and the
    resulting token counts gated. The oracle replays the training
    loop AND the per-document merge application (8 chained replaces,
    each cross-joined with its round's learned merge), so the two
    halves of the tokenizer lifecycle must agree end-to-end — a
    merge learned in the wrong order changes every document's token
    count downstream."""
    from json_ld_spark.operators.bpe_train import (
        encode_with_merges,
        train_bpe_distributed,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges = [
        (r["lhs"], r["rhs"])
        for r in train_bpe_distributed(
            docs, n_merges=_BPE_TRAIN_MERGES, top_v=_BPE_TRAIN_TOPV
        ).collect()
    ]  # K recipe rows — the trained artifact, like the IVF codebook
    toks = encode_with_merges(F.coalesce(F.col("text"), F.lit("")), merges)
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.filter(toks, lambda t: F.length(t) > 1)).alias("n_merged"),
    )


def q_crawl_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END crawl pipeline under ONE gate: .warc.gz files with
    HTML response bodies → gzip-member + ISO 28500 framing parse →
    UTF-8 decode → HTML link extraction → URL canonicalization
    (port/utm/fragment/path/sort rules) → eTLD+1 → per-domain
    aggregate. The oracle COMPOSES the expected links and canonical
    forms from the synthesizer's closed forms — no parser in the
    oracle's loop — so a defect in ANY stage (framing, entity
    handling, regex chain, canonicalization rule, suffix-list
    lookup) surfaces as a hash mismatch here even when each
    stage's own gate is green."""
    from json_ld_spark.functions.html_text import html_links
    from json_ld_spark.functions.urls import (
        canonicalize_url,
        registrable_domain,
        url_parts,
    )
    from json_ld_spark.operators.warc_ops import (
        synthesize_warc_html,
        warc_html_pages,
    )

    pages = warc_html_pages(synthesize_warc_html(spark, _N_MEDIA))
    links = pages.select(
        "file_id",
        "record_idx",
        F.explode(html_links(F.col("html"))).alias("link"),
    )
    h = url_parts(F.col("link"))["host"]
    enriched = links.select(
        "file_id",
        "record_idx",
        canonicalize_url(F.col("link")).alias("canon"),
        registrable_domain(h).alias("domain"),
    )
    return enriched.groupBy("domain").agg(
        F.count("*").alias("n_links"),
        F.countDistinct("file_id", "record_idx").alias("n_pages"),
        F.countDistinct("canon").alias("n_urls"),
        F.min("canon").alias("min_canon"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full KG-construction pipeline at sf0.001."""
    return _triples(spark, SF_SMALL).select(
        "conv_id", "turn_idx", *_TRIPLE_COLS
    )


def _latest_driver_rows() -> dict[str, tuple[int, dict]]:
    """name → (round, row) of each query's latest driver row across the
    committed CORRECTNESS_r*.json records (rounds compared as integers)."""
    here = os.path.dirname(os.path.abspath(__file__))
    records = sorted(
        (int(re.search(r"_r(\d+)\.json$", p).group(1)), p)
        for p in glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))
    )
    latest: dict[str, tuple[int, dict]] = {}
    for rnd, path in records:
        with open(path) as f:
            for name, row in json.load(f).items():
                latest[name] = (rnd, row)
    return latest


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Query registry: every module-level ``q_<name>`` function, keyed
    by ``<name>``.

    ORDER MATTERS: the round driver oracle-checks only the first ~50
    entries, so the registry is sorted by verification debt, read from
    each query's latest row in CORRECTNESS_r*.json: queries with no
    driver row first, then red rows (rows, schema or hash mismatch, or
    an error), then green rows oldest round first. Ties keep definition
    order. Every entry, windowed or not, is replayed against DuckDB by
    tests/test_oracle_parity.py."""
    latest = _latest_driver_rows()

    def debt(fn: Callable) -> tuple[int, int]:
        rnd, row = latest.get(fn.__name__[2:], (0, None))
        if row is None:
            return (0, 0)
        green = (not row["err"] and row["rows_match"]
                 and row["schema_match"] and row["hash_match"])
        return (2, rnd) if green else (1, 0)

    fns = [fn for name, fn in globals().items() if name.startswith("q_")]
    return {fn.__name__[2:]: fn for fn in sorted(fns, key=debt)}


def _mention_chain_cte(t: str, m: str, r: str, b: str,
                       where: str = "") -> str:
    """The t→mentions→ranked→bnode CTE chain of _MENTION_CTE with
    parameterized CTE names (so one WITH clause can hold two
    snapshots), plus a `base` twin named ``{t}base``. ``where`` is
    appended to the transcript derivation (window functions evaluate
    after WHERE, so lead() re-chains over the filtered turns — the
    same recomputation with_stable_turn_order performs)."""
    return f"""
    {t} AS ({_T_CTE}{where}),
    {t}base AS (
      SELECT '{TURN_NS}' || conv_id || '/' || turn_idx AS turn,
             '{CONV_NS}' || conv_id AS conv, *
      FROM {t}
    ),
    {m} AS (
      SELECT {t}.conv_id, {t}.turn_idx, g.entity_id, g.surface, g.iri,
             CAST((length({t}.text) - length(replace({t}.text, g.surface, '')))
                  / length(g.surface) AS BIGINT) AS cnt
      FROM {t} JOIN {_gazetteer_values()}
        ON contains({t}.text, g.surface)
    ),
    {r} AS (
      SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                                   ORDER BY entity_id) - 1 AS rnk
      FROM {m}
    ),
    {b} AS (
      SELECT '{TURN_NS}' || conv_id || '/' || turn_idx AS turn,
             '_:' || conv_id || 't' || turn_idx || 'm' || rnk AS bn, *
      FROM {r}
    )"""


def _triples_union_arms(base: str, b: str) -> str:
    """The 14-arm (subj, pred, obj_value, obj_is_iri) union that
    rebuilds the emitted triple set from a `base` CTE (turn/conv
    meta) and a `b` CTE (mention bnodes)."""
    return f"""
      SELECT turn AS subj, '{RDFNS}type' AS pred,
             '{VOCAB}Turn' AS obj_value, TRUE AS obj_is_iri FROM {base}
      UNION ALL SELECT turn, '{VOCAB}index', CAST(turn_idx AS VARCHAR),
                       FALSE FROM {base}
      UNION ALL SELECT turn, '{VOCAB}partOf', conv, TRUE FROM {base}
      UNION ALL SELECT DISTINCT conv, '{RDFNS}type',
                       '{VOCAB}Conversation', TRUE FROM {base}
      UNION ALL SELECT turn, '{VOCAB}role', role, FALSE FROM {base}
      UNION ALL SELECT turn, '{VOCAB}text', text, FALSE FROM {base}
      UNION ALL SELECT turn, '{VOCAB}tool', tool, FALSE FROM {base}
                WHERE tool IS NOT NULL
      UNION ALL SELECT turn, '{VOCAB}ts',
                       strftime(ts, '%Y-%m-%dT%H:%M:%S'), FALSE FROM {base}
      UNION ALL SELECT turn, '{VOCAB}nextTurn',
                       '{TURN_NS}' || conv_id || '/' || next_turn_idx, TRUE
                FROM {base} WHERE next_turn_idx IS NOT NULL
      UNION ALL SELECT turn, '{VOCAB}mentions', bn, TRUE FROM {b}
      UNION ALL SELECT bn, '{RDFNS}type', '{VOCAB}Mention', TRUE FROM {b}
      UNION ALL SELECT bn, '{VOCAB}label', surface, FALSE FROM {b}
      UNION ALL SELECT bn, '{VOCAB}score', CAST(cnt AS VARCHAR), FALSE
                FROM {b}
      UNION ALL SELECT bn, '{VOCAB}of', iri, TRUE FROM {b}
    """


def _snapshot_diff_oracle_sql() -> str:
    """Changelog between the current materialization and a stale
    'tool turns excluded' policy snapshot: both snapshots rebuilt
    CTE-for-CTE (the old one re-chains nextTurn over the filtered
    turns), diffed with set-semantics EXCEPT."""
    key = "subj, pred, obj_value, obj_is_iri"
    return f"""
    WITH {_mention_chain_cte('t', 'm', 'r', 'b')},
    {_mention_chain_cte('told', 'mold', 'rold', 'bold',
                        " WHERE role <> 'tool'")},
    newt AS ({_triples_union_arms('tbase', 'b')}),
    oldt AS ({_triples_union_arms('toldbase', 'bold')}),
    a AS (
      SELECT {key} FROM newt EXCEPT SELECT {key} FROM oldt
    ),
    rm AS (
      SELECT {key} FROM oldt EXCEPT SELECT {key} FROM newt
    )
    SELECT {key}, 'added' AS change FROM a
    UNION ALL
    SELECT {key}, 'removed' AS change FROM rm
    """


def _rdfs_oracle_sql() -> str:
    """DuckDB replay of q_rdfs_entailment: rebuild the asserted fact
    table (meta + mention triples + gazetteer type assertions), close
    the schema hierarchies with recursive CTEs, then apply rdfs7,
    rdfs2, rdfs3 (IRI objects only) and rdfs9 exactly as the Spark
    operator does, folding duplicate derivations with bool_or on the
    asserted flag."""
    from json_ld_spark.sources import ontology as O

    def vals(rows: "list[tuple[str, str]]") -> str:
        return ", ".join(f"('{a}', '{b}')" for a, b in rows)

    base_cte = _MENTION_CTE.replace("WITH t AS", "WITH RECURSIVE t AS", 1)
    return base_cte + f""",
    base AS (
      SELECT '{TURN_NS}' || conv_id || '/' || turn_idx AS turn,
             '{CONV_NS}' || conv_id AS conv, *
      FROM t
    ),
    facts AS ({_triples_union_arms('base', 'b')}
      UNION ALL SELECT iri, '{RDFNS}type', cls, TRUE
                FROM (VALUES {vals(O.ENTITY_TYPES)}) AS et(iri, cls)
    ),
    sc AS (SELECT * FROM (VALUES {vals(O.SUBCLASS_OF)}) AS v(sub, sup)),
    sp AS (SELECT * FROM (VALUES {vals(O.SUBPROPERTY_OF)}) AS v(sub, sup)),
    dm AS (SELECT * FROM (VALUES {vals(O.DOMAIN)}) AS v(prop, cls)),
    rg AS (SELECT * FROM (VALUES {vals(O.RANGE)}) AS v(prop, cls)),
    ccl AS (
      SELECT sub, sup FROM sc
      UNION
      SELECT c.sub, s.sup FROM ccl c JOIN sc s ON c.sup = s.sub
    ),
    pcl AS (
      SELECT sub, sup FROM sp
      UNION
      SELECT c.sub, s.sup FROM pcl c JOIN sp s ON c.sup = s.sub
    ),
    typ AS (
      SELECT subj, obj_value AS cls FROM facts WHERE pred = '{RDFNS}type'
      UNION ALL
      SELECT f.subj, d.cls FROM facts f JOIN dm d ON f.pred = d.prop
      UNION ALL
      SELECT f.obj_value, r.cls FROM facts f JOIN rg r ON f.pred = r.prop
      WHERE f.obj_is_iri
    ),
    inferred AS (
      SELECT f.subj, p.sup AS pred, f.obj_value, f.obj_is_iri
      FROM facts f JOIN pcl p ON f.pred = p.sub
      UNION ALL
      SELECT f.subj, '{RDFNS}type', d.cls, TRUE
      FROM facts f JOIN dm d ON f.pred = d.prop
      UNION ALL
      SELECT f.obj_value, '{RDFNS}type', r.cls, TRUE
      FROM facts f JOIN rg r ON f.pred = r.prop WHERE f.obj_is_iri
      UNION ALL
      SELECT t2.subj, '{RDFNS}type', c.sup, TRUE
      FROM typ t2 JOIN ccl c ON t2.cls = c.sub
    ),
    lab AS (
      SELECT subj, pred, obj_value, obj_is_iri, TRUE AS asserted FROM facts
      UNION ALL
      SELECT subj, pred, obj_value, obj_is_iri, FALSE FROM inferred
    )
    SELECT subj, pred, obj_value, obj_is_iri,
           bool_or(asserted) AS asserted
    FROM lab GROUP BY 1, 2, 3, 4
    """


def oracle_sql() -> dict[str, str]:
    from json_ld_spark.operators.textstats import LANG_MARKERS

    def count_word(w: str) -> str:
        pad = "' ' || lower(text) || ' '"
        return (
            f"CAST((length({pad}) - length(replace({pad}, ' {w} ', '')))"
            f" / {len(w) + 2} AS BIGINT)"
        )

    def lang_score(lang: str) -> str:
        return " + ".join(count_word(w) for w in LANG_MARKERS[lang])

    stopwords = sorted({w for ws in LANG_MARKERS.values() for w in ws})
    hits = " + ".join(count_word(w) for w in stopwords)

    norm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    trimmed = "trim(regexp_replace(text, '\\s+', ' ', 'g'))"
    n_tokens_ws = (
        f"CASE WHEN length({trimmed}) = 0 THEN 0 "
        f"ELSE len(string_split({trimmed}, ' ')) END"
    )
    punct = (
        "(length(text) - length(regexp_replace(text,"
        " '[.,;:!?''\"()\\[\\]{}-]', '', 'g')))"
    )
    punct_ratio = f"CASE WHEN length(text)=0 THEN 0.0 ELSE {punct} * 1.0 / length(text) END"
    stop_ratio = (
        f"CASE WHEN {n_tokens_ws} = 0 THEN 0.0 "
        f"ELSE ({hits}) * 1.0 / {n_tokens_ws} END"
    )
    quality = (
        f"(CASE WHEN length(text) BETWEEN 50 AND 5000 THEN 1 ELSE 0 END) * 0.4"
        f" + (CASE WHEN {punct_ratio} <= 0.2 THEN 1 ELSE 0 END) * 0.3"
        f" + (CASE WHEN {stop_ratio} >= 0.05 THEN 1 ELSE 0 END) * 0.3"
    )
    shingles = (
        f"list_transform(generate_series(1, greatest(length({norm}) - 7, 1)),"
        f" i -> md5(substring({norm}, i, 8)))"
    )
    # DuckDB regexes are RE2: codepoints are \x{....}, not Java's \uXXXX
    cjk = (
        "length(regexp_replace(text, '[\\x{4e00}-\\x{9fff}]', '', 'g'))"
        " < length(text)"
    )
    lang_guess = f"""
      CASE WHEN {cjk} THEN 'zh'
           WHEN greatest({lang_score('en')}, {lang_score('es')},
                         {lang_score('de')}, {lang_score('fr')}) = 0 THEN 'und'
           WHEN {lang_score('en')} = greatest({lang_score('en')}, {lang_score('es')},
                         {lang_score('de')}, {lang_score('fr')}) THEN 'en'
           WHEN {lang_score('es')} = greatest({lang_score('en')}, {lang_score('es')},
                         {lang_score('de')}, {lang_score('fr')}) THEN 'es'
           WHEN {lang_score('de')} = greatest({lang_score('en')}, {lang_score('es')},
                         {lang_score('de')}, {lang_score('fr')}) THEN 'de'
           ELSE 'fr' END
    """

    grams = (
        "list_distinct(list_transform("
        "generate_series(0, greatest(len(words) - 3, 0)),"
        " i -> array_to_string(list_slice(words, i + 1, i + 3), ' ')))"
    )

    cos = (
        "round(list_dot_product(ad, bd) /"
        " (sqrt(list_dot_product(ad, ad)) * sqrt(list_dot_product(bd, bd))), 4)"
    )

    # Framing parity detail (frame.rb:49-54 + frame.rb:196-206): each
    # @reverse-framed turn is a top-level-property recursion, so the
    # uniqueEmbeds map RESETS per turn and every turn re-embeds its
    # full forward nextTurn chain. The turn at chain rank r therefore
    # appears r times in the framed tree (and its mentions with it) —
    # modeled by the b.rnk <= a.rnk self-join.
    frame_sql = _MENTION_CTE + """
        , t2 AS (
          SELECT conv_id, turn_idx,
                 row_number() OVER (PARTITION BY conv_id
                                    ORDER BY turn_idx) AS rnk
          FROM t
        ),
        texp AS (
          SELECT a.conv_id, a.turn_idx
          FROM t2 a JOIN t2 b
            ON a.conv_id = b.conv_id AND b.rnk <= a.rnk
        ),
        turn_agg AS (
          SELECT conv_id, CAST(count(*) AS INT) AS n_turns,
                 array_to_string(list_transform(
                   list_sort(list(turn_idx)), x -> CAST(x AS VARCHAR)), ',')
                   AS turn_idxs
          FROM texp GROUP BY conv_id
        ),
        mexp AS (
          SELECT m.conv_id, m.surface
          FROM m
          JOIN t2 a ON m.conv_id = a.conv_id AND m.turn_idx = a.turn_idx
          JOIN t2 b ON a.conv_id = b.conv_id AND b.rnk <= a.rnk
        ),
        men_agg AS (
          SELECT conv_id, CAST(count(*) AS INT) AS n_mentions,
                 array_to_string(list_sort(list(surface)), ',')
                   AS mention_labels
          FROM mexp GROUP BY conv_id
        )
        SELECT ta.conv_id AS conv_id, ta.n_turns, ta.turn_idxs,
               coalesce(ma.n_mentions, 0) AS n_mentions,
               coalesce(ma.mention_labels, '') AS mention_labels
        FROM turn_agg ta LEFT JOIN men_agg ma USING (conv_id)
        """
    d = {
        "transcripts_derive": f"SELECT conv_id, turn_idx, role, text, tool, ts FROM ({_T_CTE})",
        "turn_ordering": f"""
            SELECT conv_id, turn_idx,
                   CAST(row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS INT)
                     AS turn_rank,
                   next_turn_idx
            FROM ({_T_CTE})
        """,
        "kg_triples_meta": _BASE_CTE + f"""
        SELECT turn AS subj, '{RDFNS}type' AS pred,
               '{VOCAB}Turn' AS obj_value, TRUE AS obj_is_iri, {_NULLS}
        FROM base
        UNION ALL
        SELECT turn, '{VOCAB}index', CAST(turn_idx AS VARCHAR), FALSE,
               '{XSD}integer', NULL, NULL FROM base
        UNION ALL
        SELECT turn, '{VOCAB}partOf', conv, TRUE, NULL, NULL, NULL FROM base
        UNION ALL
        SELECT DISTINCT conv, '{RDFNS}type', '{VOCAB}Conversation', TRUE,
               NULL, NULL, NULL FROM base
        UNION ALL
        SELECT turn, '{VOCAB}role', role, FALSE, '{XSD}string', NULL, NULL
        FROM base
        UNION ALL
        SELECT turn, '{VOCAB}text', text, FALSE, '{XSD}string', NULL, NULL
        FROM base
        UNION ALL
        SELECT turn, '{VOCAB}tool', tool, FALSE, '{XSD}string', NULL, NULL
        FROM base WHERE tool IS NOT NULL
        UNION ALL
        SELECT turn, '{VOCAB}ts', strftime(ts, '%Y-%m-%dT%H:%M:%S'), FALSE,
               '{XSD}dateTime', NULL, NULL FROM base
        UNION ALL
        SELECT turn, '{VOCAB}nextTurn',
               '{TURN_NS}' || conv_id || '/' || next_turn_idx, TRUE,
               NULL, NULL, NULL
        FROM base WHERE next_turn_idx IS NOT NULL
        """,
        "kg_triples_mentions": _MENTION_CTE + f"""
        SELECT turn AS subj, '{VOCAB}mentions' AS pred, bn AS obj_value,
               TRUE AS obj_is_iri, {_NULLS} FROM b
        UNION ALL
        SELECT bn, '{RDFNS}type', '{VOCAB}Mention', TRUE, NULL, NULL, NULL FROM b
        UNION ALL
        SELECT bn, '{VOCAB}label', surface, FALSE, '{XSD}string', NULL, NULL FROM b
        UNION ALL
        SELECT bn, '{VOCAB}score', CAST(cnt AS VARCHAR), FALSE,
               '{XSD}integer', NULL, NULL FROM b
        UNION ALL
        SELECT bn, '{VOCAB}of', iri, TRUE, NULL, NULL, NULL FROM b
        """,
        "kg_triple_counts": _BASE_CTE + f"""
        , meta AS (
          SELECT turn AS subj FROM base
          UNION ALL SELECT turn FROM base
          UNION ALL SELECT turn FROM base
          UNION ALL SELECT DISTINCT conv FROM base
          UNION ALL SELECT turn FROM base
          UNION ALL SELECT turn FROM base
          UNION ALL SELECT turn FROM base WHERE tool IS NOT NULL
          UNION ALL SELECT turn FROM base
          UNION ALL SELECT turn FROM base WHERE next_turn_idx IS NOT NULL
        ), men AS (
          SELECT conv_id, count(*) * 5 AS n
          FROM (
            SELECT t.conv_id FROM ({_T_CTE}) t
            JOIN {_gazetteer_values()} ON contains(t.text, g.surface)
          ) GROUP BY conv_id
        ), metac AS (
          SELECT regexp_extract(subj, 'conv[0-9]+', 0) AS conv, count(*) AS n
          FROM meta GROUP BY 1
        )
        SELECT metac.conv AS conv,
               metac.n + coalesce(men.n, 0) AS n_triples
        FROM metac LEFT JOIN men ON metac.conv = men.conv_id
        """,
        "entity_cooccurrence": _MENTION_CTE + """
        SELECT a.iri AS entity_a, b2.iri AS entity_b, count(*) AS n_cooccur
        FROM m a JOIN m b2
          ON a.conv_id = b2.conv_id AND a.turn_idx = b2.turn_idx
         AND a.iri < b2.iri
        GROUP BY 1, 2
        """,
        "entity_pagerank": _pagerank_oracle_sql(),
        "entity_pagerank_directed": _pagerank_oracle_sql(directed=True),
        "rdfs_entailment": _rdfs_oracle_sql(),
        "entity_sssp": _sssp_oracle_sql(),
        "hyperball_neighborhood": _hyperball_oracle_sql(),
        "entity_walks": _walks_oracle_sql(),
        "kg_snapshot_diff": _snapshot_diff_oracle_sql(),
        "capped_sample": f"""
        SELECT doc_id, source, n_chars FROM (
          SELECT doc_id, source, n_chars,
                 row_number() OVER (
                   PARTITION BY source
                   ORDER BY CAST(concat('0x',
                     substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                     AS BIGINT), doc_id) AS rk
          FROM documents
        ) WHERE rk <= {_CAP_K}
        """,
        "kg_validate": _MENTION_CTE + f"""
        , base AS (
          SELECT '{TURN_NS}' || conv_id || '/' || turn_idx AS turn, *
          FROM t
        )
        SELECT 'functional' AS rule, subj, '{VOCAB}mentions' AS pred, n
        FROM (
          SELECT turn AS subj, count(DISTINCT bn) AS n
          FROM b GROUP BY 1 HAVING count(DISTINCT bn) > 1
        )
        UNION ALL
        SELECT 'required', turn, '{VOCAB}tool', CAST(0 AS BIGINT)
        FROM base WHERE tool IS NULL
        """,
        "char_entropy": """
        WITH ch AS (
          SELECT doc_id, unnest(string_split(text, '')) AS ch
          FROM documents WHERE text IS NOT NULL
        ),
        c AS (
          SELECT doc_id, ch, count(*) AS cnt
          FROM ch WHERE ch <> '' GROUP BY 1, 2
        ),
        t AS (
          SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_chars,
                 count(*) AS n_distinct_chars
          FROM c GROUP BY 1
        )
        SELECT c.doc_id, t.n_chars, t.n_distinct_chars,
               CAST(sum(CAST(round(
                 -(CAST(cnt AS DOUBLE) / CAST(n_chars AS DOUBLE))
                  * ln(CAST(cnt AS DOUBLE) / CAST(n_chars AS DOUBLE))
                  * 1000000.0, 0) AS BIGINT)) AS BIGINT) AS entropy_ppm
        FROM c JOIN t USING (doc_id)
        GROUP BY 1, 2, 3
        """,
        "kg_scd2_merge": _MENTION_CTE + f"""
        , mm AS (
          SELECT m.iri AS entity, t.role
          FROM m JOIN t ON m.conv_id = t.conv_id
                       AND m.turn_idx = t.turn_idx
        ),
        a AS (
          SELECT entity, count(*) // {_SCD2_TIER_DIV} AS tier
          FROM mm WHERE role = 'user' GROUP BY 1
        ),
        bb AS (
          SELECT entity, count(*) // {_SCD2_TIER_DIV} AS tier
          FROM mm GROUP BY 1
        )
        SELECT a.entity, a.tier, CAST(1 AS INT) AS version,
               TRUE AS is_current
        FROM a JOIN bb ON a.entity = bb.entity AND a.tier = bb.tier
        UNION ALL
        SELECT a.entity, a.tier, CAST(1 AS INT), FALSE
        FROM a JOIN bb ON a.entity = bb.entity AND a.tier <> bb.tier
        UNION ALL
        SELECT bb.entity, bb.tier, CAST(2 AS INT), TRUE
        FROM a JOIN bb ON a.entity = bb.entity AND a.tier <> bb.tier
        UNION ALL
        SELECT bb.entity, bb.tier, CAST(1 AS INT), TRUE
        FROM bb ANTI JOIN a ON bb.entity = a.entity
        UNION ALL
        SELECT a.entity, a.tier, CAST(1 AS INT), FALSE
        FROM a ANTI JOIN bb ON a.entity = bb.entity
        """,
        "dpo_pairs": f"""
        WITH t AS ({_T_CTE}),
        cand AS (
          SELECT conv_id AS conv, turn_idx AS turn,
                 CAST(length(trim(regexp_replace(
                   lower(coalesce(text, '')), '\\s+', ' ', 'g')))
                   AS BIGINT) AS score
          FROM t WHERE role = 'assistant'
        ),
        r AS (
          SELECT *,
                 row_number() OVER (PARTITION BY conv
                                    ORDER BY score DESC, turn) AS rb,
                 row_number() OVER (PARTITION BY conv
                                    ORDER BY score ASC, turn) AS rw
          FROM cand
        )
        SELECT b.conv AS conv_id, b.turn AS chosen_turn,
               w.turn AS rejected_turn, b.score AS chosen_score,
               w.score AS rejected_score, b.score - w.score AS margin
        FROM r b JOIN r w ON b.conv = w.conv AND b.rb = 1 AND w.rw = 1
        WHERE b.turn <> w.turn AND b.score - w.score >= {_DPO_MARGIN}
        """,
        "semantic_decontaminate": f"""
        WITH ev AS (
          SELECT vec_id + {_SDECON_OFFSET} AS eval_id,
                 list_transform(embedding, x ->
                   CAST(round(CAST(x AS DOUBLE) * 0.85 + 0.03, 4) AS FLOAT))
                   AS embedding
          FROM embeddings WHERE vec_id % {_SDECON_STRIDE} = 0
        ),
        c AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        ),
        e AS (
          SELECT eval_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM ev
        ),
        p AS (
          SELECT c.vec_id, e.eval_id,
                 round(list_dot_product(c.v, e.v) /
                       (sqrt(list_dot_product(c.v, c.v)) *
                        sqrt(list_dot_product(e.v, e.v))), 4) AS cos
          FROM c CROSS JOIN e
        ),
        sel AS (
          SELECT vec_id, eval_id, cos,
                 max(cos) OVER (PARTITION BY vec_id) AS mc
          FROM p
        )
        SELECT vec_id, mc AS max_cos,
               min(CASE WHEN cos = mc THEN eval_id END) AS top_eval_id,
               mc >= {_SDECON_TAU} AS contaminated
        FROM sel GROUP BY vec_id, mc
        """,
        "histogram_quantiles": f"""
        WITH v AS (
          SELECT CAST(length(text) AS BIGINT) AS v FROM documents
          WHERE text IS NOT NULL
        ),
        p AS (
          SELECT min(v) AS mn, max(v) - min(v) + 1 AS span,
                 count(*) AS n
          FROM v
        ),
        h AS (
          SELECT (v - mn) * {_HQ_BINS} // span AS bin, mn, span, n,
                 count(*) AS cnt
          FROM v, p GROUP BY 1, 2, 3, 4
        ),
        c AS (
          SELECT *,
                 CAST(sum(cnt) OVER (ORDER BY bin) - cnt AS BIGINT)
                   AS cum_prev,
                 CAST(sum(cnt) OVER (ORDER BY bin) AS BIGINT) AS cum
          FROM h
        ),
        q AS (SELECT unnest({list(_HQ_PERMILLE)}) AS permille)
        SELECT permille, n,
               (permille * n + 999) // 1000 AS rank, bin,
               round(mn + bin * (CAST(span AS DOUBLE) / {_HQ_BINS})
                     + (CAST(span AS DOUBLE) / {_HQ_BINS})
                       * ((permille * n + 999) // 1000 - cum_prev) / cnt,
                     6) AS est
        FROM c, q
        WHERE cum_prev < (permille * n + 999) // 1000
          AND (permille * n + 999) // 1000 <= cum
        """,
        "ks_drift": """
        WITH s AS (
          SELECT CAST(length(text) AS BIGINT) AS v,
                 doc_id % 2 = 0 AS sd
          FROM documents WHERE text IS NOT NULL
        ),
        c AS (
          SELECT v,
                 CAST(sum(CASE WHEN sd THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                 CAST(sum(CASE WHEN NOT sd THEN 1 ELSE 0 END) AS BIGINT)
                   AS cb
          FROM s GROUP BY 1
        ),
        d AS (
          SELECT v,
                 CAST(sum(ca) OVER (ORDER BY v) AS BIGINT) AS cua,
                 CAST(sum(cb) OVER (ORDER BY v) AS BIGINT) AS cub,
                 CAST(sum(ca) OVER () AS BIGINT) AS na,
                 CAST(sum(cb) OVER () AS BIGINT) AS nb
          FROM c
        ),
        e AS (
          SELECT v, na, nb,
                 abs(cua * 1000000 // na - cub * 1000000 // nb) AS diff
          FROM d
        )
        SELECT na AS n_a, nb AS n_b, max(diff) AS ks_ppm,
               min(v) FILTER (WHERE diff = (SELECT max(diff) FROM e))
                 AS at_value
        FROM e GROUP BY 1, 2
        """,
        "heavy_hitters": f"""
        WITH t AS (
          SELECT trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS tt
          FROM documents
        ),
        terms AS (
          SELECT unnest(string_split(tt, ' ')) AS term
          FROM t WHERE length(tt) > 0
        ),
        tot AS (SELECT count(*) AS n FROM terms)
        SELECT term, count(*) AS n_obs,
               count(*) * 1000000 // (SELECT n FROM tot) AS share_ppm
        FROM terms GROUP BY term
        HAVING count(*) * {_HH_K} > (SELECT n FROM tot)
        """,
        "bgp_match": _MENTION_CTE + f"""
        SELECT DISTINCT '{CONV_NS}' || conv_id AS conv, turn,
               iri AS entity
        FROM b
        """,
        "triple_provenance": _MENTION_CTE + """
        SELECT m.conv_id, m.iri AS entity,
               count(*) AS n_obs,
               count(DISTINCT m.turn_idx) AS n_turns,
               CAST(sum(CASE WHEN t.role = 'user' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_user_obs,
               min(m.turn_idx) AS first_turn,
               max(m.turn_idx) AS last_turn
        FROM m JOIN t ON m.conv_id = t.conv_id AND m.turn_idx = t.turn_idx
        GROUP BY 1, 2
        """,
        "doc_stats": f"""
        SELECT doc_id,
               {lang_guess} AS lang_guess,
               {n_tokens_ws} AS n_tokens_ws,
               len(regexp_extract_all(text,
                   '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]', 0)) AS n_tokens_bpe,
               round({punct_ratio}, 6) AS punct_ratio,
               round({stop_ratio}, 6) AS stopword_ratio,
               round({quality}, 6) AS quality,
               md5({norm}) AS fp_md5,
               list_min({shingles}) AS fp_shingle
        FROM documents
        """,
        "tfidf_top_terms": f"""
        WITH t AS (
          SELECT doc_id, {norm} AS tt FROM documents
        ),
        terms AS (
          SELECT doc_id, unnest(string_split(tt, ' ')) AS term
          FROM t WHERE length(tt) > 0
        ),
        tf AS (
          SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2
        ),
        nn AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
        dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        scored AS (
          SELECT tf.doc_id, tf.term, tf.tf,
                 round(tf.tf * (ln(CAST(nn.n + 1 AS DOUBLE) / (dfx.df + 1))
                                + 1.0), 6) AS score
          FROM tf CROSS JOIN nn JOIN dfx ON tf.term = dfx.term
        )
        SELECT doc_id, term, tf, score, CAST(rk AS INT) AS rank FROM (
          SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY score DESC, term) AS rk
          FROM scored
        ) WHERE rk <= {_TFIDF_K}
        """,
        "dedup_exact": f"""
        SELECT md5({norm}) AS fp, count(*) AS n_dups, min(doc_id) AS keep_id
        FROM documents GROUP BY 1
        """,
        "ngram_jaccard": f"""
        WITH g AS (
          SELECT doc_id AS _id, {grams} AS _grams,
                 list_sort(list_transform({grams}, s -> md5(s)))[1:4]
                   AS _bands
          FROM (SELECT doc_id, string_split({norm}, ' ') AS words, text
                FROM documents)
        ),
        bands AS (
          SELECT * FROM (SELECT _id, unnest(_bands) AS _blk FROM g)
          QUALIFY row_number() OVER (PARTITION BY _blk ORDER BY _id)
            <= {BAND_BUCKET_CAP}
        ),
        cand AS (
          SELECT DISTINCT a._id AS id_a, b._id AS id_b
          FROM bands a JOIN bands b ON a._blk = b._blk AND a._id < b._id
        )
        SELECT id_a, id_b,
               round(len(list_intersect(ga._grams, gb._grams)) * 1.0 /
                     (len(ga._grams) + len(gb._grams)
                      - len(list_intersect(ga._grams, gb._grams))), 4)
                 AS jaccard
        FROM cand
        JOIN g ga ON ga._id = id_a
        JOIN g gb ON gb._id = id_b
        WHERE len(list_intersect(ga._grams, gb._grams)) * 1.0 /
              (len(ga._grams) + len(gb._grams)
               - len(list_intersect(ga._grams, gb._grams))) >= 0.05
        """,
        "embedding_neardup": f"""
        WITH planted AS (
          SELECT vec_id + {_NEARDUP_PLANT_OFFSET} AS vec_id,
                 list_transform(embedding, x ->
                   CAST(round(CAST(x AS DOUBLE) * 0.9 + 0.05, 4) AS FLOAT))
                   AS embedding,
                 label
          FROM embeddings WHERE vec_id % {_NEARDUP_PLANT_STRIDE} = 0
        ),
        corpus AS (
          SELECT vec_id, embedding, label FROM embeddings
          UNION ALL SELECT vec_id, embedding, label FROM planted
        ),
        e AS (
          SELECT vec_id, label,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM corpus
        )
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_dot_product(a.v, b.v) /
                     (sqrt(list_dot_product(a.v, a.v)) *
                      sqrt(list_dot_product(b.v, b.v))), 4) AS cosine
        FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE round(list_dot_product(a.v, b.v) /
              (sqrt(list_dot_product(a.v, a.v)) *
               sqrt(list_dot_product(b.v, b.v))), 4) >= 0.5
        """,
        "embedding_neardup_lsh": f"""
        WITH {_neardup_banded_pairs_cte()}
        SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= 0.5
        """,
        "contrastive_pairs": f"""
        WITH {_neardup_banded_pairs_cte()},
        sym AS (
          SELECT id_a AS anchor, id_b AS other, cosine FROM pairs
          UNION ALL
          SELECT id_b AS anchor, id_a AS other, cosine FROM pairs
        ),
        pos AS (
          SELECT anchor, min(other) AS pos_id,
                 arg_min(cosine, other) AS pos_cosine
          FROM sym WHERE cosine >= 0.9 GROUP BY 1
        ),
        neg AS (
          SELECT anchor, min(other) AS neg_id,
                 arg_min(cosine, other) AS neg_cosine
          FROM sym WHERE cosine <= 0.3 GROUP BY 1
        )
        SELECT anchor AS anchor_id, pos_id, neg_id,
               pos_cosine, neg_cosine
        FROM pos JOIN neg USING (anchor)
        """,
        "simhash_pairs": _simhash_oracle_sql(),
        "minhash_components": _minhash_oracle_sql(),
        "ann_lsh_topk": _lsh_oracle_sql(),
        "ann_lsh_batch": _lsh_batch_oracle_sql(),
        "ann_ivf_topk": _ivf_oracle_sql(),
        "ann_ivf_batch": _ivf_batch_oracle_sql(),
        "ann_brute_topk": """
        WITH q AS (
          SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
          FROM embeddings WHERE vec_id = 0
        ), e AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        )
        SELECT vec_id,
               round(list_dot_product(v, qv) /
                     (sqrt(list_dot_product(v, v)) *
                      sqrt(list_dot_product(qv, qv))), 4) AS cosine
        FROM e, q
        ORDER BY cosine DESC, vec_id
        LIMIT 10
        """,
        "lineitem_agg": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(avg(l_quantity), 4) AS avg_qty,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY 1, 2
        """,
        "revenue_by_nation": """
        SELECT n_name,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                              * CAST(1 - l_discount AS DECIMAL(18,4))), 2)
                    AS DOUBLE) AS revenue,
               count(*) AS n_lines
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1
        """,
        "dedup_keep": f"""
        SELECT doc_id FROM (
          SELECT doc_id, row_number() OVER (
            PARTITION BY md5({norm}) ORDER BY doc_id) AS rn
          FROM documents
        ) WHERE rn = 1
        """,
        "dedup_keep_best": f"""
        WITH corpus AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id - 1000000, text || repeat(' ', 6000)
          FROM documents WHERE doc_id % 10 = 0
        )
        SELECT doc_id, round({quality}, 6) AS quality FROM (
          SELECT doc_id, text, row_number() OVER (
            PARTITION BY md5({norm})
            ORDER BY ({quality}) DESC, doc_id) AS rn
          FROM corpus
        ) WHERE rn = 1
        """,
        "events_sessionize": """
        WITH g AS (
          SELECT user_id, event_id, ts, value,
                 CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w > 1800
                      THEN 1 ELSE 0 END AS new_sess
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), s AS (
          SELECT *, CAST(sum(new_sess) OVER (
            PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
            AS session_idx
          FROM g
        )
        SELECT user_id, session_idx, count(*) AS n_events,
               min(ts) AS session_start, max(ts) AS session_end,
               round(sum(value), 2) AS session_value
        FROM s GROUP BY 1, 2
        """,
        "events_daily": """
        SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
               count(*) AS n_events, round(sum(value), 2) AS total_value
        FROM events
        GROUP BY 1, 2, 3
        """,
        "top_suppliers_window": """
        WITH rev AS (
          SELECT n_name, s_name,
                 CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                                * CAST(1 - l_discount AS DECIMAL(18,4))), 2)
                      AS DOUBLE) AS revenue
          FROM lineitem
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
          GROUP BY 1, 2
        )
        SELECT n_name, s_name, revenue, rank FROM (
          SELECT *, CAST(row_number() OVER (PARTITION BY n_name
                         ORDER BY revenue DESC, s_name) AS INT) AS rank
          FROM rev
        ) WHERE rank <= 3
        """,
    }
    # round-trip oracles: the document queries must reproduce the full
    # triple set exactly, so their oracle IS the proven triple SQL
    d["kg_documents"] = (
        f"SELECT * FROM ({d['kg_triples_meta']}) "
        f"UNION ALL SELECT * FROM ({d['kg_triples_mentions']})"
    )
    d["kg_node_docs"] = d["kg_documents"]
    d["kg_triples_stream_reader"] = d["kg_documents"]
    d["kg_frame_conversations"] = frame_sql
    d["rdf_lists_reconstitute"] = """
        SELECT '_:lst' || user_id || '_0' AS head,
               array_to_string(
                 list(CAST(event_id AS VARCHAR) ORDER BY ts, event_id), ',')
                 AS items_csv,
               CAST(count(*) AS INT) AS depth,
               FALSE AS exhausted
        FROM events GROUP BY user_id
        """
    d["jsonld_expand_table"] = """
        SELECT c_custkey AS doc_id,
               CASE WHEN c_custkey % 10 = 0 THEN ''
                    ELSE 'https://example.org/kg/cust/' || c_custkey
               END AS node_id,
               CASE WHEN c_custkey % 10 = 0 THEN '' ELSE c_name END AS role,
               CASE WHEN c_custkey % 10 = 0
                    THEN 'loading remote context failed'
               END AS error_code
        FROM customer
        """
    d["multimodal_plan"] = f"""
        WITH m AS (SELECT range AS id FROM range({_N_MEDIA})),
        v AS (
          SELECT id AS media_id, CAST(id % 30 + 1 AS INT) AS n_frames
          FROM m WHERE id % 3 = 2
        ),
        vf AS (
          SELECT media_id, 'video' AS kind, n_frames,
                 array_to_string(list_transform(
                   generate_series(0, n_frames - 1, 5),
                   x -> CAST(x AS VARCHAR)), ',') AS frame_idxs,
                 CAST(NULL AS INT) AS target_width,
                 CAST(NULL AS INT) AS target_height
          FROM v
        ),
        i AS (
          SELECT id AS media_id,
                 CAST(id % 8 * 64 + 64 AS INT) AS w,
                 CAST(id % 4 * 64 + 64 AS INT) AS h
          FROM m WHERE id % 3 = 0
        ),
        ip AS (
          SELECT media_id, 'image' AS kind, CAST(NULL AS INT) AS n_frames,
                 '' AS frame_idxs,
                 CAST(ceil(w * least(128.0 / w, 128.0 / h, 1.0)) AS INT)
                   AS target_width,
                 CAST(ceil(h * least(128.0 / w, 128.0 / h, 1.0)) AS INT)
                   AS target_height
          FROM i
        )
        SELECT * FROM vf UNION ALL SELECT * FROM ip
        """
    stride = _CHUNK_TOKENS - _CHUNK_OVERLAP
    d["chunk_documents"] = f"""
        WITH t AS (
          SELECT doc_id,
                 trim(regexp_replace(text, '\\s+', ' ', 'g')) AS tt
          FROM documents
        ),
        dd AS (
          SELECT doc_id,
                 CASE WHEN length(tt) = 0 THEN CAST([] AS VARCHAR[])
                      ELSE string_split(tt, ' ') END AS toks
          FROM t
        ),
        w AS (
          SELECT doc_id, toks,
                 unnest(generate_series(0, greatest(
                   CAST(ceil((len(toks) - {_CHUNK_TOKENS}) / {stride}.0)
                        AS INT), 0))) AS widx
          FROM dd
        )
        SELECT doc_id, CAST(widx AS INT) AS chunk_idx,
               array_to_string(list_slice(
                 toks, widx * {stride} + 1,
                 widx * {stride} + {_CHUNK_TOKENS}), ' ') AS chunk_text,
               CAST(len(list_slice(
                 toks, widx * {stride} + 1,
                 widx * {stride} + {_CHUNK_TOKENS})) AS INT) AS n_tokens
        FROM w
        """
    # BPE-chunk oracle: the token list is rebuilt by replaying the
    # ENTIRE frozen merge chain (bpe_sql_tokens emits the nested
    # replace() expression), then windowed with the same arithmetic;
    # chunk_text concatenates with '' because BPE tokens segment the
    # normalized text exactly
    from json_ld_spark.functions.bpe import bpe_sql_tokens

    bpe_stride = _BPE_CHUNK_TOKENS - _BPE_CHUNK_OVERLAP
    d["chunk_documents_bpe"] = f"""
        WITH dd AS (
          SELECT doc_id, {bpe_sql_tokens('text')} AS toks
          FROM documents
        ),
        w AS (
          SELECT doc_id, toks,
                 unnest(generate_series(0, greatest(
                   CAST(ceil((len(toks) - {_BPE_CHUNK_TOKENS})
                        / {bpe_stride}.0) AS INT), 0))) AS widx
          FROM dd
        )
        SELECT doc_id, CAST(widx AS INT) AS chunk_idx,
               array_to_string(list_slice(
                 toks, widx * {bpe_stride} + 1,
                 widx * {bpe_stride} + {_BPE_CHUNK_TOKENS}), '') AS chunk_text,
               CAST(len(list_slice(
                 toks, widx * {bpe_stride} + 1,
                 widx * {bpe_stride} + {_BPE_CHUNK_TOKENS})) AS INT)
                 AS n_tokens
        FROM w
        """
    d["pack_chunks"] = f"""
        WITH chunks AS ({d["chunk_documents"]})
        SELECT CAST(doc_id % {_PACK_BUCKETS} AS INT) AS pack_bucket,
               doc_id, chunk_idx, n_tokens,
               CAST(floor(
                 (sum(n_tokens) OVER (
                    PARTITION BY doc_id % {_PACK_BUCKETS}
                    ORDER BY doc_id, chunk_idx
                    ROWS UNBOUNDED PRECEDING) - n_tokens)
                 / {_PACK_TOKENS}) AS INT) AS pack_id
        FROM chunks
        """
    d["pack_chunks_bpe"] = f"""
        WITH chunks AS ({d["chunk_documents_bpe"]})
        SELECT CAST(doc_id % {_PACK_BUCKETS} AS INT) AS pack_bucket,
               doc_id, chunk_idx, n_tokens,
               CAST(floor(
                 (sum(n_tokens) OVER (
                    PARTITION BY doc_id % {_PACK_BUCKETS}
                    ORDER BY doc_id, chunk_idx
                    ROWS UNBOUNDED PRECEDING) - n_tokens)
                 / {_PACK_TOKENS}) AS INT) AS pack_id
        FROM chunks
        """
    # BPE training oracle: replay the distributed training loop
    # CTE-for-CTE — word-count pass + top-V cap, then per round:
    # weighted adjacent-pair counts over the current segmentations,
    # deterministic argmax, delimited-replace merge application.
    # list_zip pads the shorter list with NULL, which drops the
    # phantom (last, NULL) pair via the IS NOT NULL filter.
    from json_ld_spark.functions.bpe import bpe_sql_norm

    _bt_norm = bpe_sql_norm("coalesce(text, '')")
    _bt_parts = [f"""
        w AS (
          SELECT word, CAST(count(*) AS BIGINT) AS c
          FROM (SELECT unnest(string_split({_bt_norm}, ' ')) AS word
                FROM documents)
          WHERE word <> ''
          GROUP BY 1 ORDER BY c DESC, word LIMIT {_BPE_TRAIN_TOPV}
        ),
        w0 AS (
          SELECT word, c,
                 '⟨' || array_to_string(string_split(word, ''),
                   '⟩⟨') || '⟩' AS seq
          FROM w
        )"""]
    _bt_finals = []
    for _k in range(1, _BPE_TRAIN_MERGES + 1):
        _bt_parts.append(f"""
        p{_k} AS (
          SELECT z[1] AS a, z[2] AS b, CAST(sum(c) AS BIGINT) AS wt
          FROM (
            SELECT c, unnest(list_zip(toks, toks[2:])) AS z
            FROM (SELECT c, string_split(seq[2:-2], '⟩⟨')
                    AS toks FROM w{_k - 1})
          )
          WHERE z[2] IS NOT NULL
          GROUP BY 1, 2
        ),
        m{_k} AS (SELECT a, b, wt FROM p{_k}
                  ORDER BY wt DESC, a, b LIMIT 1),
        w{_k} AS (
          SELECT word, c,
                 replace(seq, '⟨' || a || '⟩⟨' || b
                   || '⟩', '⟨' || a || b || '⟩') AS seq
          FROM w{_k - 1} CROSS JOIN m{_k}
        )""")
        _bt_finals.append(
            f"SELECT CAST({_k - 1} AS INT) AS merge_idx, a AS lhs, "
            f"b AS rhs, wt AS pair_weight FROM m{_k}"
        )
    d["bpe_train_merges"] = (
        "WITH " + ",".join(_bt_parts) + "\n        "
        + " UNION ALL ".join(_bt_finals)
    )
    # train-then-apply: the SAME training CTEs, then each document's
    # wrapped text pushed through the 8 learned merges (one chained
    # replace per round, cross-joined with that round's m{k})
    _bt_doc_parts = [f"""
        d0 AS (
          SELECT doc_id,
                 CASE WHEN length(norm) = 0 THEN ''
                      ELSE '⟨' || array_to_string(
                        string_split(norm, ''), '⟩⟨') || '⟩'
                 END AS seq
          FROM (SELECT doc_id, {_bt_norm} AS norm FROM documents)
        )"""]
    for _k in range(1, _BPE_TRAIN_MERGES + 1):
        _bt_doc_parts.append(f"""
        d{_k} AS (
          SELECT doc_id,
                 replace(seq, '⟨' || a || '⟩⟨' || b
                   || '⟩', '⟨' || a || b || '⟩') AS seq
          FROM d{_k - 1} CROSS JOIN m{_k}
        )""")
    d["bpe_train_encode"] = (
        "WITH " + ",".join(_bt_parts + _bt_doc_parts) + f"""
        , toked AS (
          SELECT doc_id,
                 CASE WHEN seq = '' THEN CAST([] AS VARCHAR[])
                      ELSE string_split(seq[2:-2], '⟩⟨')
                 END AS toks
          FROM d{_BPE_TRAIN_MERGES}
        )
        SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
               CAST(len(list_filter(toks, t -> length(t) > 1)) AS INT)
                 AS n_merged
        FROM toked
        """
    )
    d["deterministic_sample"] = f"""
        SELECT doc_id FROM documents
        WHERE CAST(concat('0x', substring(
                md5(concat(CAST(doc_id AS VARCHAR), '-7')), 1, 15))
              AS BIGINT) % 1000000
              < {int(_SAMPLE_FRACTION * 1_000_000)}
        """
    # streaming oracles: the streamed triple set equals the batch
    # answer minus nextTurn links (ordered=False — a micro-batch sees
    # only a conversation prefix); the stateful chain equals the batch
    # lead() pairs including the cross-batch ones only state can emit
    d["stream_triples"] = (
        f"SELECT * FROM ({d['kg_triples_meta']}) "
        f"WHERE pred <> '{VOCAB}nextTurn' "
        f"UNION ALL SELECT * FROM ({d['kg_triples_mentions']})"
    )
    d["stream_turn_chain"] = f"""
        SELECT conv_id, turn_idx, next_turn_idx FROM ({_T_CTE})
        WHERE next_turn_idx IS NOT NULL
        """
    # watermark oracle: emitted windows are those the final watermark
    # (global max ts − 30 min) closed; they must hold exactly the
    # ORIGINAL rows — the planted late copies never appear because the
    # watermark dropped them (t1/t_old choice guarantees they arrive
    # ≥47.5h below the batch-1 watermark)
    d["stream_windowed_counts"] = """
        WITH wm AS (
          SELECT max(ts) - INTERVAL 30 MINUTE AS w FROM events
        )
        SELECT date_trunc('hour', ts) AS window_start,
               date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
               event_type,
               count(*) AS n_events,
               round(sum(value), 2) AS total_value
        FROM events, wm
        WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= w
        GROUP BY 1, 2, 3
        """
    # turn-rate oracle: same watermark algebra over the wide-ts
    # transcript replay — emitted (5-min window, role) turn counts are
    # those whose window the final watermark (max ts − 10 min) closed,
    # holding exactly the ORIGINAL rows (the planted late copies were
    # dropped ~3 h below the batch-1 watermark). Window starts come
    # from explicit epoch arithmetic so both engines share the
    # 1970-aligned 5-minute grid.
    d["stream_turn_rate"] = """
        WITH tx AS (
          SELECT (['user','assistant','tool'])[CAST(doc_id % 3 AS INT) + 1]
                   AS role,
                 TIMESTAMP '2024-01-01 00:00:00'
                   + (doc_id % 5) * INTERVAL 1 MINUTE
                   + (doc_id // 5) * INTERVAL 7 MINUTE AS ts
          FROM documents
        ),
        wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM tx),
        bucketed AS (
          SELECT make_timestamp(CAST(floor(epoch(ts) / 300) * 300
                                      AS BIGINT) * 1000000)
                   AS window_start,
                 role
          FROM tx
        )
        SELECT window_start,
               window_start + INTERVAL 5 MINUTE AS window_end,
               role,
               count(*) AS n_turns
        FROM bucketed, wm
        WHERE window_start + INTERVAL 5 MINUTE <= w
        GROUP BY 1, 2, 3
        """
    # decoded-bytes oracle: the Spark side DECODES real PPM/WAV/ppm-seq
    # payloads; the oracle recomputes the statistics from the closed-
    # form content function value(id, frame, i) — exact integer
    # arithmetic, so the hash gate proves the encode→decode round trip
    d["multimodal_decode"] = f"""
        WITH m AS (SELECT range AS id FROM range({_N_MEDIA})),
        img AS (
          SELECT id AS media_id,
                 (id % 8) * 8 + 8 AS w, (id % 4) * 8 + 8 AS h
          FROM m WHERE id % 3 = 0 AND (id // 3) % 5 IN (0, 1)
        ),
        jimg AS (
          SELECT id AS media_id,
                 (id % 8) * 8 + 8 AS w, (id % 4) * 8 + 8 AS h
          FROM m WHERE id % 3 = 0 AND (id // 3) % 5 = 2
        ),
        -- color JPEG (4:4:4 side=8, 4:2:0 side=16): constant
        -- side×side blocks; decoded pixel = the scaled-integer JFIF
        -- YCbCr round trip of the closed-form block RGB, replayed
        -- here with the same exact int arithmetic (operators/jpeg.py)
        jcimg AS (
          SELECT id AS media_id,
                 (id % 8) * 8 + 8 AS w, (id % 4) * 8 + 8 AS h,
                 CASE WHEN (id // 3) % 5 = 3 THEN 8 ELSE 16 END AS side
          FROM m WHERE id % 3 = 0 AND (id // 3) % 5 IN (3, 4)
        ),
        jcblk AS (
          SELECT media_id, side, w, h,
                 unnest(generate_series(
                   0, ((w + side - 1) // side)
                      * ((h + side - 1) // side) - 1)) AS b,
                 (w + side - 1) // side AS bw
          FROM jcimg
        ),
        jcrgb AS (
          SELECT media_id, b,
                 least(side, w - (b % bw) * side)
                   * least(side, h - (b // bw) * side) AS npx,
                 (media_id * 7 + b * 13) % 256 AS r,
                 (media_id * 11 + b * 17) % 256 AS g,
                 (media_id * 5 + b * 19) % 256 AS bl
          FROM jcblk
        ),
        jcycc AS (
          SELECT media_id, b, npx,
                 (299000 * r + 587000 * g + 114000 * bl + 500000)
                   // 1000000 AS y,
                 (128000000 - 168736 * r - 331264 * g + 500000 * bl
                   + 500000) // 1000000 AS cb,
                 (128000000 + 500000 * r - 418688 * g - 81312 * bl
                   + 500000) // 1000000 AS cr
          FROM jcrgb
        ),
        jcout AS (
          SELECT media_id, b, npx,
                 greatest(0, least(255,
                   (1000000 * y + 1402000 * (cr - 128) + 500000
                     + 256000000) // 1000000 - 256)) AS r2,
                 greatest(0, least(255,
                   (1000000 * y - 344136 * (cb - 128)
                     - 714136 * (cr - 128) + 500000
                     + 256000000) // 1000000 - 256)) AS g2,
                 greatest(0, least(255,
                   (1000000 * y + 1772000 * (cb - 128) + 500000
                     + 256000000) // 1000000 - 256)) AS b2
          FROM jcycc
        ),
        jcstat AS (
          SELECT media_id, 'image' AS kind, ch.part,
                 CAST(sum(npx) AS BIGINT) AS n_values,
                 CAST(sum(npx * CASE ch.part WHEN 0 THEN r2
                                 WHEN 1 THEN g2 ELSE b2 END) AS BIGINT)
                   AS sum_values,
                 min(CASE ch.part WHEN 0 THEN r2
                     WHEN 1 THEN g2 ELSE b2 END) AS min_value,
                 max(CASE ch.part WHEN 0 THEN r2
                     WHEN 1 THEN g2 ELSE b2 END) AS max_value
          FROM jcout
          CROSS JOIN (VALUES (CAST(0 AS INT)), (1), (2)) AS ch(part)
          GROUP BY 1, 3
        ),
        jblk AS (
          SELECT media_id, w, h,
                 unnest(generate_series(0, (w // 8) * (h // 8) - 1)) AS b
          FROM jimg
        ),
        jstat AS (
          SELECT media_id, 'image' AS kind, 0 AS part,
                 CAST(sum(64) AS BIGINT) AS n_values,
                 CAST(sum(((media_id * 7 + b * 13) % 256) * 64) AS BIGINT)
                   AS sum_values,
                 min((media_id * 7 + b * 13) % 256) AS min_value,
                 max((media_id * 7 + b * 13) % 256) AS max_value
          FROM jblk GROUP BY 1
        ),
        imgi AS (
          SELECT media_id, unnest(generate_series(0, w * h * 3 - 1)) AS i
          FROM img
        ),
        imgstat AS (
          SELECT media_id, 'image' AS kind, CAST(i % 3 AS INT) AS part,
                 count(*) AS n_values,
                 CAST(sum((media_id * 7 + i * 13) % 256) AS BIGINT)
                   AS sum_values,
                 min((media_id * 7 + i * 13) % 256) AS min_value,
                 max((media_id * 7 + i * 13) % 256) AS max_value
          FROM imgi GROUP BY 1, 3
        ),
        aud AS (
          SELECT id AS media_id, (id % 10) * 400 + 400 AS ns
          FROM m WHERE id % 3 = 1
        ),
        audi AS (
          SELECT media_id, unnest(generate_series(0, ns - 1)) AS i FROM aud
        ),
        audstat AS (
          SELECT media_id, 'audio' AS kind, 0 AS part,
                 count(*) AS n_values,
                 CAST(sum((media_id * 31 + i * 17) % 65536 - 32768) AS BIGINT)
                   AS sum_values,
                 min((media_id * 31 + i * 17) % 65536 - 32768) AS min_value,
                 max((media_id * 31 + i * 17) % 65536 - 32768) AS max_value
          FROM audi GROUP BY 1
        ),
        vid AS (
          SELECT id AS media_id, (id % 30) + 1 AS nf FROM m WHERE id % 3 = 2
        ),
        vidf AS (
          SELECT media_id,
                 unnest(generate_series(0, nf - 1, {_DECODE_EVERY_N})) AS f
          FROM vid
        ),
        vidi AS (
          SELECT media_id, f, unnest(generate_series(0, 16 * 8 * 3 - 1)) AS i
          FROM vidf
        ),
        vidstat AS (
          SELECT media_id, 'video' AS kind, CAST(f AS INT) AS part,
                 count(*) AS n_values,
                 CAST(sum((media_id * 7 + f * 3 + i * 13) % 256) AS BIGINT)
                   AS sum_values,
                 min((media_id * 7 + f * 3 + i * 13) % 256) AS min_value,
                 max((media_id * 7 + f * 3 + i * 13) % 256) AS max_value
          FROM vidi GROUP BY 1, 3
        )
        SELECT * FROM imgstat
        UNION ALL SELECT * FROM jstat
        UNION ALL SELECT * FROM jcstat
        UNION ALL SELECT * FROM audstat
        UNION ALL SELECT * FROM vidstat
        """
    # streaming dedup oracle: every planted duplicate is an EXACT
    # re-send of an original row and arrives inside its key's state
    # window, so the deduped sink must equal the original table
    d["stream_dedup"] = """
        SELECT event_id, ts, user_id, event_type, value FROM events
        """
    # repetition oracle: relational recomputation (unnest → per-gram
    # counts → max/sum) of the Spark side's zero-shuffle sorted-array
    # fold — a structurally different algorithm, not a replay
    _norm_w = (
        "trim(regexp_replace(lower(coalesce(text, '')), '\\s+', ' ', 'g'))"
    )
    d["repetition_stats"] = f"""
        WITH w AS (
          SELECT doc_id,
                 CASE WHEN length({_norm_w}) = 0 THEN CAST([] AS VARCHAR[])
                      ELSE string_split({_norm_w}, ' ') END AS words
          FROM documents
        ),
        b AS (
          SELECT doc_id, words,
                 CASE WHEN len(words) >= 2 THEN
                   list_transform(generate_series(1, len(words) - 1),
                                  i -> words[i] || ' ' || words[i + 1])
                 ELSE CAST([] AS VARCHAR[]) END AS bigrams
          FROM w
        ),
        u AS (SELECT doc_id, unnest(bigrams) AS gram FROM b),
        c AS (SELECT doc_id, gram, count(*) AS n FROM u GROUP BY 1, 2),
        mx AS (SELECT doc_id, max(n) AS maxn, sum(n) AS tot
               FROM c GROUP BY 1)
        SELECT b.doc_id,
               CAST(len(words) AS BIGINT) AS n_words,
               CASE WHEN len(words) = 0 THEN 0.0
                    ELSE round(1.0 - len(list_distinct(words)) * 1.0
                               / len(words), 6) END AS dup_word_frac,
               CAST(len(bigrams) AS BIGINT) AS n_bigrams,
               CASE WHEN len(bigrams) = 0 THEN 0.0
                    ELSE round(mx.maxn * 1.0 / mx.tot, 6)
                    END AS top_bigram_frac
        FROM b LEFT JOIN mx ON b.doc_id = mx.doc_id
        """
    # decontamination oracle: same gram construction, relational join
    d["decontaminate"] = f"""
        WITH w AS (
          SELECT doc_id,
                 CASE WHEN length({_norm_w}) = 0 THEN CAST([] AS VARCHAR[])
                      ELSE string_split({_norm_w}, ' ') END AS words
          FROM documents
        ),
        g AS (
          SELECT doc_id,
                 unnest(list_distinct(list_transform(
                   generate_series(1, len(words) - {_DECON_N - 1}),
                   i -> array_to_string(
                     list_slice(words, i, i + {_DECON_N - 1}), ' '))))
                   AS gram
          FROM w WHERE len(words) >= {_DECON_N}
        ),
        bg AS (SELECT DISTINCT gram FROM g
               WHERE doc_id % {_DECON_BENCH_MOD} = 0),
        hits AS (
          SELECT g.doc_id, count(*) AS n
          FROM g JOIN bg USING (gram)
          WHERE g.doc_id % {_DECON_BENCH_MOD} <> 0
          GROUP BY 1
        )
        SELECT d.doc_id,
               coalesce(h.n, 0) AS n_hit_grams,
               coalesce(h.n, 0) > 0 AS contaminated
        FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        WHERE d.doc_id % {_DECON_BENCH_MOD} <> 0
        """
    # triangle oracle: recomputes the degree orientation and the
    # closed-wedge join relationally over the mention-pair edge set
    d["entity_triangles"] = _MENTION_CTE + """
        , e0 AS (
          SELECT DISTINCT ma.iri AS u, mb.iri AS v
          FROM m ma JOIN m mb
            ON ma.conv_id = mb.conv_id AND ma.turn_idx = mb.turn_idx
           AND ma.iri <> mb.iri
        ),
        deg AS (SELECT u, count(*) AS d FROM e0 GROUP BY 1),
        o AS (
          SELECT e0.u, e0.v FROM e0
          JOIN deg du ON du.u = e0.u
          JOIN deg dv ON dv.u = e0.v
          WHERE du.d < dv.d OR (du.d = dv.d AND e0.u < e0.v)
        ),
        wed AS (
          SELECT o1.u AS a, o1.v AS x, o2.v AS y
          FROM o o1 JOIN o o2 ON o1.u = o2.u AND o1.v < o2.v
        ),
        closed AS (
          SELECT w.a, w.x, w.y FROM wed w
          WHERE EXISTS (SELECT 1 FROM o
                        WHERE (o.u = w.x AND o.v = w.y)
                           OR (o.u = w.y AND o.v = w.x))
        ),
        tv AS (SELECT unnest([a, x, y]) AS entity FROM closed)
        SELECT entity, count(*) AS n_triangles FROM tv GROUP BY 1
        """
    # k-hop oracle: frontier expansion replayed round-for-round
    d["entity_khop"] = _MENTION_CTE + f"""
        , e0 AS (
          SELECT DISTINCT ma.iri AS s, mb.iri AS t
          FROM m ma JOIN m mb
            ON ma.conv_id = mb.conv_id AND ma.turn_idx = mb.turn_idx
           AND ma.iri <> mb.iri
        ),
        seeds AS (
          SELECT s AS seed FROM (SELECT DISTINCT s FROM e0)
          ORDER BY s LIMIT {_KHOP_SEEDS}
        ),
        n1 AS (
          SELECT DISTINCT seeds.seed, e0.t AS node
          FROM seeds JOIN e0 ON e0.s = seeds.seed
          WHERE e0.t <> seeds.seed
        ),
        n2 AS (
          SELECT DISTINCT n1.seed, e0.t AS node
          FROM n1 JOIN e0 ON e0.s = n1.node
          EXCEPT SELECT seed, node FROM n1
          EXCEPT SELECT seed, seed FROM seeds
        )
        SELECT seed, node AS entity, 1 AS dist FROM n1
        UNION ALL
        SELECT seed, node AS entity, 2 AS dist FROM n2
        """
    # PMI oracle: marginals + pair counts over distinct (turn, entity)
    # mention events, N = total turns, 6-dp-rounded log ratio
    d["entity_pmi"] = _MENTION_CTE + """
        , nn AS (SELECT count(*) AS n
                 FROM (SELECT DISTINCT conv_id, turn_idx FROM t)),
        me AS (SELECT DISTINCT conv_id, turn_idx, iri FROM m),
        marg AS (SELECT iri, count(*) AS c FROM me GROUP BY 1),
        pairs AS (
          SELECT a.iri AS src, b2.iri AS dst, count(*) AS n_cooccur
          FROM me a JOIN me b2
            ON a.conv_id = b2.conv_id AND a.turn_idx = b2.turn_idx
           AND a.iri < b2.iri
          GROUP BY 1, 2
        )
        SELECT p.src, p.dst, p.n_cooccur,
               round(ln(p.n_cooccur * CAST(nn.n AS DOUBLE)
                        / (ma.c * mb.c)), 6) AS pmi
        FROM pairs p
        CROSS JOIN nn
        JOIN marg ma ON ma.iri = p.src
        JOIN marg mb ON mb.iri = p.dst
        """
    # LPA oracle: init + every synchronous round replayed — vote
    # count over the symmetrized edges, argmax by (count desc, label
    # asc) via row_number — exactly the operator's recipe
    _lpa_round = """
        l{K} AS (
          SELECT node, label FROM (
            SELECT e.s AS node, l{P}.label,
                   count(*) AS n,
                   row_number() OVER (PARTITION BY e.s
                                      ORDER BY count(*) DESC, l{P}.label)
                     AS rk
            FROM sym e JOIN l{P} ON l{P}.node = e.t
            GROUP BY e.s, l{P}.label
          ) WHERE rk = 1
        )"""
    d["entity_communities"] = _MENTION_CTE + """
        , e0 AS (
          SELECT DISTINCT a.iri AS src, b2.iri AS dst
          FROM m a JOIN m b2
            ON a.conv_id = b2.conv_id AND a.turn_idx = b2.turn_idx
           AND a.iri < b2.iri
        ),
        sym AS (
          SELECT src AS s, dst AS t FROM e0
          UNION SELECT dst, src FROM e0
        ),
        l0 AS (SELECT DISTINCT s AS node, s AS label FROM sym),
        """ + ",".join(
        _lpa_round.format(K=k, P=k - 1) for k in range(1, _LPA_ITERS + 1)
    ) + f"""
        SELECT node AS entity, label AS community FROM l{_LPA_ITERS}
        """
    # bigram-LM oracle: retrain the model (bigram counts, context
    # counts, distinct-token V) and rescore relationally
    _norm_lm = (
        "trim(regexp_replace(lower(coalesce(text, '')), '\\s+', ' ', 'g'))"
    )
    d["lm_quality_scores"] = f"""
        WITH t AS (SELECT doc_id, {_norm_lm} AS tt FROM documents),
        tok AS (
          SELECT doc_id, string_split(tt, ' ') AS tk
          FROM t WHERE length(tt) > 0
        ),
        vv AS (SELECT count(DISTINCT w) AS v
               FROM (SELECT unnest(tk) AS w FROM tok)),
        occ AS (
          SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2
          FROM (
            SELECT doc_id,
                   unnest(list_transform(
                     range(1, len(tk)),
                     i -> struct_pack(w1 := tk[i], w2 := tk[i + 1])
                   )) AS bg
            FROM tok WHERE len(tk) >= 2
          )
        ),
        c2 AS (SELECT w1, w2, count(*) AS c2 FROM occ GROUP BY 1, 2),
        c1 AS (SELECT w1, count(*) AS c1 FROM occ GROUP BY 1),
        sc AS (
          SELECT occ.doc_id, count(*) AS n_bigrams,
                 avg(ln((c2.c2 + 1.0) / (c1.c1 + vv.v))) AS s
          FROM occ
          JOIN c2 ON c2.w1 = occ.w1 AND c2.w2 = occ.w2
          JOIN c1 ON c1.w1 = occ.w1
          CROSS JOIN vv
          GROUP BY 1
        )
        SELECT d.doc_id,
               coalesce(sc.n_bigrams, 0) AS n_bigrams,
               round(coalesce(sc.s, 0.0), 6) AS lm_score
        FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
        """
    # split oracle: md5 bucket thresholds + fingerprint anti-join on
    # the planted-leakage corpus
    _fp_s = "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))"
    d["train_val_split"] = f"""
        WITH d0 AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + {_SPLIT_PLANT_OFF}, text FROM documents
          WHERE doc_id % {_SPLIT_PLANT_MOD} = 0
        ),
        s AS (
          SELECT doc_id, text,
                 CASE WHEN bucket < 800000 THEN 'train'
                      WHEN bucket < 900000 THEN 'val'
                      ELSE 'test' END AS split
          FROM (
            SELECT *, CAST(concat('0x', substring(
                     md5(concat(CAST(doc_id AS VARCHAR), '-7')), 1, 15))
                   AS BIGINT) % 1000000 AS bucket
            FROM d0
          )
        ),
        f AS (SELECT doc_id, split, {_fp_s} AS fp FROM s),
        ev AS (SELECT DISTINCT fp FROM f WHERE split <> 'train')
        SELECT doc_id, split FROM f WHERE split <> 'train'
        UNION ALL
        SELECT doc_id, split FROM f
        WHERE split = 'train' AND fp NOT IN (SELECT fp FROM ev)
        """
    # domain-mix oracle: same md5 bucket as deterministic_sample plus
    # the per-stratum threshold CASE
    _mix_cases = " ".join(
        f"WHEN '{s}' THEN {int(r * 1_000_000)}"
        for s, r in sorted(_MIX_RATES.items())
    )
    d["domain_mix_sample"] = f"""
        SELECT doc_id, source FROM documents
        WHERE CAST(concat('0x', substring(
                md5(concat(CAST(doc_id AS VARCHAR), '-7')), 1, 15))
              AS BIGINT) % 1000000
              < CASE source {_mix_cases}
                ELSE {int(_MIX_DEFAULT * 1_000_000)} END
        """
    # exact-percentile oracle: same nearest-rank integer formula over
    # an independent row_number
    d["source_percentiles"] = """
        WITH r AS (
          SELECT source, n_chars,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY n_chars) AS rn,
                 count(*) OVER (PARTITION BY source) AS n
          FROM documents WHERE n_chars IS NOT NULL
        )
        SELECT source, p.permille, n,
               n_chars AS value
        FROM r CROSS JOIN (VALUES (CAST(500 AS INT)), (900), (990))
          AS p(permille)
        WHERE rn = (p.permille * n + 999) // 1000
        """
    # HLL oracle: replays bucket/rank extraction, max-rank registers,
    # and the integer-scaled harmonic sum; the one float division uses
    # the SAME python-precomputed double literal as the Spark side
    from json_ld_spark.operators.sketches import _alpha

    _hll_m = 1 << _HLL_B
    _hll_rem_bits = 60 - _HLL_B
    _hll_pow = 1 << _hll_rem_bits
    _hll_scale = 1 << 51
    _hll_const = repr(_alpha(_hll_m) * _hll_m * _hll_m * float(_hll_scale))
    _hll_core = f"""
        WITH h AS (
          SELECT event_type,
                 CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)), 1, 15))
                      AS BIGINT) AS h
          FROM events WHERE user_id IS NOT NULL
        ),
        rk AS (
          SELECT event_type, h // {_hll_pow} AS bucket,
                 CASE WHEN h % {_hll_pow} = 0 THEN {_hll_rem_bits + 1}
                      ELSE {_hll_rem_bits} - length(bin(h % {_hll_pow})) + 1
                 END AS rank
          FROM h
        ),
        regs AS (
          SELECT event_type, bucket, max(rank) AS r FROM rk GROUP BY 1, 2
        ),
        g AS (
          SELECT event_type, count(*) AS nonempty,
                 sum(CASE WHEN r <= 51
                          THEN (CAST(1 AS BIGINT) << (51 - r))
                          ELSE 0 END) AS s_nonempty
          FROM regs GROUP BY 1
        ),
        s AS (
          SELECT event_type, nonempty,
                 CAST(s_nonempty + ({_hll_m} - nonempty) * {_hll_scale}
                      AS BIGINT) AS s_scaled
          FROM g
        ),
        e AS (
          SELECT event_type, nonempty, s_scaled,
                 {_hll_const} / CAST(s_scaled AS DOUBLE) AS raw,
                 {_hll_m} - nonempty AS zeros
          FROM s
        )
        """
    _hll_select = f"""
        SELECT e.event_type, CAST({_hll_m} AS INT) AS m, nonempty, s_scaled,
               round(CASE WHEN raw <= {2.5 * _hll_m} AND zeros > 0
                          THEN {float(_hll_m)!r}
                               * ln({float(_hll_m)!r} / CAST(zeros AS DOUBLE))
                          ELSE raw END, 2) AS est
        """
    d["hll_distinct_users"] = _hll_core + _hll_select + """
               , x.exact_distinct
        FROM e JOIN (
          SELECT event_type, count(DISTINCT user_id) AS exact_distinct
          FROM events GROUP BY 1
        ) x USING (event_type)
        """
    # streaming HLL: the stateful register stream's FINAL snapshot
    # must equal the batch sketch — same core, no exact-count join
    d["stream_hll_distinct"] = _hll_core + _hll_select + " FROM e"
    # streaming sessionization: final snapshots must equal the
    # batch lag-window answer — the events_sessionize oracle verbatim
    d["stream_sessionize"] = d["events_sessionize"]

    # table profile: per-column counts + the full HLL core, one
    # UNION ALL branch per profiled column
    def _profile_col_sql(c: str) -> str:
        return f"""
        SELECT '{c}' AS column, cnt.n_rows, cnt.n_null, cnt.n_distinct,
               e.nonempty AS hll_nonempty, e.s_scaled AS hll_s_scaled,
               round(CASE WHEN e.raw <= {2.5 * _hll_m} AND e.zeros > 0
                          THEN {float(_hll_m)!r}
                               * ln({float(_hll_m)!r} / CAST(e.zeros AS DOUBLE))
                          ELSE e.raw END, 2) AS hll_est
        FROM (
          SELECT count(*) AS n_rows,
                 CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_null,
                 count(DISTINCT {c}) AS n_distinct
          FROM events
        ) cnt CROSS JOIN (
          SELECT nonempty, s_scaled,
                 {_hll_const} / CAST(s_scaled AS DOUBLE) AS raw,
                 {_hll_m} - nonempty AS zeros
          FROM (
            SELECT nonempty,
                   CAST(s_nonempty + ({_hll_m} - nonempty) * {_hll_scale}
                        AS BIGINT) AS s_scaled
            FROM (
              SELECT count(*) AS nonempty,
                     sum(CASE WHEN r <= 51
                              THEN (CAST(1 AS BIGINT) << (51 - r))
                              ELSE 0 END) AS s_nonempty
              FROM (
                SELECT bucket, max(rank) AS r FROM (
                  SELECT h // {_hll_pow} AS bucket,
                         CASE WHEN h % {_hll_pow} = 0 THEN {_hll_rem_bits + 1}
                              ELSE {_hll_rem_bits} - length(bin(h % {_hll_pow})) + 1
                         END AS rank
                  FROM (
                    SELECT CAST(concat('0x',
                             substring(md5(CAST({c} AS VARCHAR)), 1, 15))
                           AS BIGINT) AS h
                    FROM events WHERE {c} IS NOT NULL
                  )
                ) GROUP BY 1
              )
            )
          )
        ) e
        """

    d["table_profile"] = " UNION ALL ".join(
        _profile_col_sql(c) for c in _PROFILE_COLS
    )
    d["pack_turns"] = f"""
        WITH t AS ({_T_CTE}),
        tok AS (
          SELECT conv_id, turn_idx, role,
                 CASE WHEN length(trim(regexp_replace(lower(coalesce(text, '')),
                                                      '\\s+', ' ', 'g'))) > 0
                      THEN len(string_split(
                             trim(regexp_replace(lower(coalesce(text, '')),
                                                 '\\s+', ' ', 'g')), ' '))
                      ELSE 0 END AS n_tokens
          FROM t
        )
        SELECT conv_id, turn_idx, role, CAST(n_tokens AS INT) AS n_tokens,
               CAST((CAST(cum AS BIGINT) - n_tokens)
                    // {_PACK_TURNS_BUDGET} AS INT) AS window_idx
        FROM (
          SELECT *, sum(n_tokens) OVER (
                   PARTITION BY conv_id ORDER BY turn_idx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM tok
        )
        """
    d["conversation_quality"] = f"""
        WITH t AS ({_T_CTE}),
        lens AS (
          SELECT conv_id, turn_idx, role,
                 length(trim(regexp_replace(lower(coalesce(text, '')),
                                            '\\s+', ' ', 'g'))) AS n_chars,
                 CASE WHEN role = lag(role) OVER (
                        PARTITION BY conv_id ORDER BY turn_idx)
                      THEN 1 ELSE 0 END AS viol,
                 last_value(role) OVER (
                   PARTITION BY conv_id ORDER BY turn_idx
                   ROWS BETWEEN UNBOUNDED PRECEDING
                            AND UNBOUNDED FOLLOWING) AS last_role
          FROM t
        )
        SELECT conv_id,
               CAST(count(*) AS BIGINT) AS n_turns,
               CAST(sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_user,
               CAST(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_assistant,
               CAST(sum(viol) AS BIGINT) AS n_violations,
               CAST(max(CASE WHEN last_role = 'assistant' THEN 1 ELSE 0
                        END) AS INT) AS ends_with_assistant,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM lens GROUP BY 1
        """
    d["loss_mask_spans"] = f"""
        WITH t AS ({_T_CTE}),
        lens AS (
          SELECT conv_id, turn_idx, role,
                 length(trim(regexp_replace(lower(coalesce(text, '')),
                                            '\\s+', ' ', 'g'))) AS n_chars
          FROM t
        ),
        cums AS (
          SELECT *, sum(n_chars + 1) OVER (
                   PARTITION BY conv_id ORDER BY turn_idx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS cum
          FROM lens
        )
        SELECT conv_id, turn_idx,
               CAST(cum - n_chars - 1 AS BIGINT) AS start_char,
               CAST(cum - 1 AS BIGINT) AS end_char,
               CAST(n_chars AS BIGINT) AS n_chars
        FROM cums WHERE role = 'assistant'
        """
    d["mention_kwic"] = f"""
        SELECT doc_id, CAST(g.entity_id AS INT) AS entity_id, g.surface,
               CAST(strpos(text, g.surface) AS INT) AS pos,
               substr(text,
                      greatest(1, strpos(text, g.surface) - {_KWIC_CTX}),
                      strpos(text, g.surface)
                        - greatest(1, strpos(text, g.surface) - {_KWIC_CTX}))
                 AS left_ctx,
               substr(text,
                      strpos(text, g.surface) + length(g.surface),
                      {_KWIC_CTX}) AS right_ctx
        FROM documents CROSS JOIN {_gazetteer_values()}
        WHERE strpos(text, g.surface) > 0
        """
    # KMV oracle: the k-th smallest distinct hash is an exact integer
    d["kmv_distinct_users"] = f"""
        WITH h AS (
          SELECT DISTINCT event_type,
                 CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)), 1, 15))
                      AS BIGINT) AS h
          FROM events WHERE user_id IS NOT NULL
        ),
        b AS (
          SELECT event_type, h,
                 row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
          FROM h
        ),
        a AS (
          SELECT event_type, count(*) AS k_used, max(h) AS kth_hash
          FROM b WHERE rn <= {_KMV_K} GROUP BY 1
        )
        SELECT event_type, k_used, kth_hash,
               round(CASE WHEN k_used < {_KMV_K} THEN CAST(k_used AS DOUBLE)
                          ELSE {float(_KMV_K - 1)!r} * {float(1 << 60)!r}
                               / CAST(kth_hash AS DOUBLE) END, 2) AS est
        FROM a
        """
    # Adamic–Adar oracle: degrees, hub cap, wedge join, decimal
    # contribution sum, adjacency anti-join — all replayed
    _ring = _planted_ring_edges()
    _ring_vals = ", ".join(
        f"('{a}', '{b}'), ('{b}', '{a}')" for a, b in _ring
    )
    d["entity_adamic_adar"] = _MENTION_CTE + f"""
        , e0 AS (
          SELECT ma.iri AS s, mb.iri AS t
          FROM m ma JOIN m mb
            ON ma.conv_id = mb.conv_id AND ma.turn_idx = mb.turn_idx
           AND ma.iri <> mb.iri
          UNION
          SELECT * FROM (VALUES {_ring_vals}) p(s, t)
        ),
        deg AS (SELECT s, count(*) AS d FROM e0 GROUP BY 1),
        mid AS (
          SELECT e0.s AS z, e0.t AS n,
                 CAST(round(1.0 / ln(CAST(d AS DOUBLE)), 9)
                      AS DECIMAL(18,9)) AS w
          FROM e0 JOIN deg ON deg.s = e0.s
          WHERE d <= {_AA_MAX_DEGREE}
        ),
        pairs AS (
          SELECT a.n AS u, b.n AS v, a.w
          FROM mid a JOIN mid b ON a.z = b.z AND a.n < b.n
        ),
        sc AS (
          SELECT u, v, count(*) AS n_common,
                 CAST(sum(w) AS DECIMAL(18,9)) AS aa_score
          FROM pairs GROUP BY 1, 2
        )
        SELECT sc.* FROM sc
        WHERE NOT EXISTS (SELECT 1 FROM e0
                          WHERE e0.s = sc.u AND e0.t = sc.v)
        """
    d["events_rollup"] = """
        SELECT event_type, day,
               CAST(GROUPING(event_type, day) AS INT) AS gid,
               count(*) AS n_events,
               CAST(sum(v) AS DECIMAL(18,2)) AS total_value
        FROM (SELECT event_type, CAST(ts AS DATE) AS day,
                     CAST(value AS DECIMAL(18,2)) AS v
              FROM events)
        GROUP BY ROLLUP(event_type, day)
        """
    d["event_bursts"] = """
        WITH d AS (
          SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS c
          FROM events GROUP BY 1, 2
        ),
        s AS (
          SELECT event_type, count(*) AS n_days,
                 CAST(sum(c) AS BIGINT) AS s1,
                 CAST(sum(c * c) AS BIGINT) AS s2
          FROM d GROUP BY 1
        ),
        j AS (
          SELECT d.event_type, d.day, s.n_days, d.c,
                 CASE WHEN n_days * s2 - s1 * s1 > 0
                      THEN round((CAST(c AS DOUBLE)
                                  - CAST(s1 AS DOUBLE) / CAST(n_days AS DOUBLE))
                                 / sqrt(CAST(n_days * s2 - s1 * s1 AS DOUBLE)
                                        / CAST(n_days * n_days AS DOUBLE)), 4)
                      ELSE 0.0 END AS z
          FROM d JOIN s USING (event_type)
        )
        SELECT event_type, day, n_days, c, z, z >= 2.0 AS is_burst FROM j
        """
    d["pii_redaction"] = f"""
        WITH staged AS (
          SELECT doc_id,
            CASE WHEN doc_id % 11 = 0
                 THEN t || ' call +1 555 ' || CAST(doc_id % 10000 + 1000 AS VARCHAR)
                        || ' today'
                 ELSE t END AS t
          FROM (
            SELECT doc_id,
              CASE WHEN doc_id % 7 = 0
                   THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                          || '@example.com now'
                   ELSE text END AS t
            FROM documents
          )
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(t, '{_EMAIL_RE}')) AS INT) AS n_emails,
               CAST(len(regexp_extract_all(t, '{_PHONE_RE}')) AS INT) AS n_phones,
               md5(regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                                  '{_PHONE_RE}', '<PHONE>', 'g')) AS redacted_md5
        FROM staged
        """
    d["curriculum_buckets"] = """
        WITH r AS (
          SELECT source, n_chars,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY n_chars) AS rn,
                 count(*) OVER (PARTITION BY source) AS n
          FROM documents WHERE n_chars IS NOT NULL
        ),
        bounds AS (
          SELECT source, n_chars AS value
          FROM r CROSS JOIN (VALUES (250), (500), (750)) AS p(permille)
          WHERE rn = (p.permille * n + 999) // 1000
        )
        SELECT d.doc_id, d.source, d.n_chars,
               CAST(sum(CASE WHEN d.n_chars > b.value THEN 1 ELSE 0 END)
                    AS INT) AS bucket
        FROM documents d JOIN bounds b USING (source)
        GROUP BY 1, 2, 3
        """
    # GIF oracle: lossless codec → decoded channel stats equal the
    # closed-form block colors with no transform replay; dims are
    # multiples of 8 so every block is a full 64 pixels
    d["gif_decode"] = f"""
        WITH m AS (SELECT range AS id FROM range({_N_MEDIA})),
        g AS (
          SELECT id AS media_id, (id % 8) * 8 + 8 AS w,
                 (id % 4) * 8 + 8 AS h
          FROM m
        ),
        blk AS (
          SELECT media_id,
                 unnest(generate_series(0, (w // 8) * (h // 8) - 1)) AS b
          FROM g
        ),
        rgb AS (
          SELECT media_id, b,
                 (media_id * 7 + b * 13) % 256 AS r,
                 (media_id * 11 + b * 17) % 256 AS g2,
                 (media_id * 5 + b * 19) % 256 AS bl
          FROM blk
        )
        SELECT media_id, 'image' AS kind, ch.part,
               CAST(sum(64) AS BIGINT) AS n_values,
               CAST(sum(64 * CASE ch.part WHEN 0 THEN r
                              WHEN 1 THEN g2 ELSE bl END) AS BIGINT)
                 AS sum_values,
               CAST(min(CASE ch.part WHEN 0 THEN r
                        WHEN 1 THEN g2 ELSE bl END) AS BIGINT)
                 AS min_value,
               CAST(max(CASE ch.part WHEN 0 THEN r
                        WHEN 1 THEN g2 ELSE bl END) AS BIGINT)
                 AS max_value
        FROM rgb
        CROSS JOIN (VALUES (CAST(0 AS INT)), (1), (2)) AS ch(part)
        GROUP BY 1, 3
        """
    # IMA-ADPCM oracle: the published decode state machine replayed
    # sample-for-sample in a recursive CTE — step table as a literal,
    # magnitude/sign/clamp arithmetic inline, seed sample included
    from json_ld_spark.operators.adpcm import STEP_TABLE as _ADPCM_STEPS

    _steps_lit = "[" + ", ".join(map(str, _ADPCM_STEPS)) + "]"
    d["adpcm_decode"] = f"""
        WITH RECURSIVE b AS (
          SELECT id AS media_id,
                 unnest(generate_series(0, 2 + id % 3 - 1)) AS blk
          FROM (SELECT range AS id FROM range({_N_MEDIA}))
        ),
        steps AS (
          SELECT media_id, blk, -1 AS j,
                 ((media_id * 31 + blk * 17) % 65536) - 32768 AS pred,
                 (media_id + blk * 13) % 89 AS idx
          FROM b
          UNION ALL
          SELECT media_id, blk, j,
                 greatest(-32768, least(32767,
                   CASE WHEN nib >= 8 THEN pred - mag
                        ELSE pred + mag END)) AS pred,
                 greatest(0, least(88, idx +
                   CASE nib % 8 WHEN 4 THEN 2 WHEN 5 THEN 4
                        WHEN 6 THEN 6 WHEN 7 THEN 8
                        ELSE -1 END)) AS idx
          FROM (
            SELECT media_id, blk, j, pred, idx, nib, step,
                   (step // 8)
                   + CASE WHEN (nib // 4) % 2 = 1 THEN step ELSE 0 END
                   + CASE WHEN (nib // 2) % 2 = 1 THEN step // 2 ELSE 0 END
                   + CASE WHEN nib % 2 = 1 THEN step // 4 ELSE 0 END AS mag
            FROM (
              SELECT media_id, blk, j + 1 AS j, pred, idx,
                     (media_id * 3 + blk * 5 + (j + 1) * 7) % 16 AS nib,
                     list_extract({_steps_lit}, idx + 1) AS step
              FROM steps WHERE j + 1 < 64
            )
          )
        )
        SELECT media_id, 'audio' AS kind, CAST(0 AS INT) AS part,
               CAST(count(*) AS BIGINT) AS n_values,
               CAST(sum(pred) AS BIGINT) AS sum_values,
               CAST(min(pred) AS BIGINT) AS min_value,
               CAST(max(pred) AS BIGINT) AS max_value
        FROM steps GROUP BY 1
        """
    # FLAC oracle: lossless codec → decoded sample statistics equal
    # the closed-form signal (four classes covering CONSTANT / FIXED
    # order 1-2 / VERBATIM subframes) with no codec replay
    d["flac_decode"] = f"""
        WITH m AS (SELECT range AS id FROM range({_N_MEDIA})),
        s AS (
          SELECT id AS media_id,
                 unnest(generate_series(0, 300 + (id % 4) * 250 - 1))
                   AS i
          FROM m
        ),
        v AS (
          SELECT media_id,
                 CASE media_id % 4
                   WHEN 0 THEN (media_id * 37) % 4001 - 2000
                   WHEN 1 THEN (media_id * 13 + i * 29) % 4001 - 2000
                   WHEN 2 THEN (media_id * 7 + i * i * 3) % 4001 - 2000
                   ELSE (media_id * 2654435761 + i * 40503) % 65536
                        - 32768
                 END AS smp
          FROM s
        )
        SELECT media_id, 'audio' AS kind, CAST(0 AS INT) AS part,
               CAST(count(*) AS BIGINT) AS n_values,
               CAST(sum(smp) AS BIGINT) AS sum_values,
               CAST(min(smp) AS BIGINT) AS min_value,
               CAST(max(smp) AS BIGINT) AS max_value
        FROM v GROUP BY 1
        """
    # URL-canonicalization oracle: url_raw rebuilt from the same
    # closed forms; the CANONICAL side is COMPOSED from the parts
    # (lower host, default-port strip, sorted non-utm params, path
    # rule, fragment drop) — so only a correct PARSE matches
    d["url_canonicalize"] = """
        WITH u AS (
          SELECT doc_id,
            CASE doc_id % 4 WHEN 0 THEN 'http' WHEN 1 THEN 'HTTP'
                 WHEN 2 THEN 'https' ELSE 'HTTPS' END AS scheme,
            CASE doc_id % 8
                 WHEN 0 THEN 'Example.COM'
                 WHEN 1 THEN 'www.News.co.uk'
                 WHEN 2 THEN 'cdn.Static.net'
                 WHEN 3 THEN 'blog.Github.IO'
                 WHEN 4 THEN 'shop.example.com.au'
                 WHEN 5 THEN 'Sub.Domain.ORG'
                 WHEN 6 THEN 'a.b.example.org'
                 ELSE 'M.example.com' END AS host,
            CASE WHEN doc_id % 3 = 0 THEN
                   CASE WHEN doc_id % 4 < 2 THEN ':80' ELSE ':443' END
                 WHEN doc_id % 3 = 1 THEN ':8080'
                 ELSE '' END AS port,
            CASE doc_id % 5 WHEN 0 THEN '' WHEN 1 THEN '/'
                 WHEN 2 THEN '/P/' || (doc_id % 97)
                 WHEN 3 THEN '/p/' || (doc_id % 97) || '/'
                 ELSE '/index.html' END AS path,
            CASE doc_id % 7 WHEN 1 THEN '?b=2&a=1'
                 WHEN 2 THEN '?utm_source=x&id=' || (doc_id % 13)
                 WHEN 3 THEN '?a=1&utm_campaign=y&b=2'
                 WHEN 4 THEN '?z=9'
                 ELSE '' END AS query,
            CASE WHEN doc_id % 2 = 0 THEN '#Sec-1' ELSE '' END AS frag
          FROM documents
        )
        SELECT doc_id,
               scheme || '://' || host || port || path || query || frag
                 AS url_raw,
               lower(scheme) || '://' || lower(host)
                 || (CASE WHEN port = ':8080' THEN ':8080' ELSE '' END)
                 || (CASE WHEN doc_id % 5 IN (0, 1) THEN '/'
                          WHEN doc_id % 5 = 2
                            THEN '/P/' || (doc_id % 97)
                          WHEN doc_id % 5 = 3
                            THEN '/p/' || (doc_id % 97)
                          ELSE '/index.html' END)
                 || (CASE doc_id % 7
                          WHEN 1 THEN '?a=1&b=2'
                          WHEN 2 THEN '?id=' || (doc_id % 13)
                          WHEN 3 THEN '?a=1&b=2'
                          WHEN 4 THEN '?z=9'
                          ELSE '' END) AS url_canon,
               lower(host) AS host,
               CASE doc_id % 8
                    WHEN 0 THEN 'example.com'
                    WHEN 1 THEN 'news.co.uk'
                    WHEN 2 THEN 'static.net'
                    WHEN 3 THEN 'blog.github.io'
                    WHEN 4 THEN 'example.com.au'
                    WHEN 5 THEN 'domain.org'
                    WHEN 6 THEN 'example.org'
                    ELSE 'example.com' END AS domain
        FROM u
        """
    # crawl-pipeline oracle: expected links + canonical forms COMPOSED
    # from the synthesizer's closed forms — the Spark side only
    # matches by running the whole WARC→HTML→URL chain correctly
    d["crawl_domain_stats"] = f"""
        WITH f AS (SELECT range AS fid FROM range({_N_MEDIA})),
        r AS (
          SELECT fid, unnest(generate_series(0, 2 + fid % 3 - 1)) AS rid
          FROM f
        ),
        l AS (
          SELECT fid, rid,
                 'example-' || (rid % 4) || '.com' AS domain,
                 'http://example-' || (rid % 4) || '.com/A/'
                   || (fid % 6) || '?a=1&b=2' AS canon
          FROM r
          UNION ALL
          SELECT fid, rid, 'news.co.uk',
                 'https://news.co.uk/x/' || (fid % 3)
          FROM r
        )
        SELECT domain, CAST(count(*) AS BIGINT) AS n_links,
               CAST(count(DISTINCT (fid, rid)) AS BIGINT) AS n_pages,
               CAST(count(DISTINCT canon) AS BIGINT) AS n_urls,
               min(canon) AS min_canon
        FROM l GROUP BY 1
        """
    # streaming minhash dedup oracle: signatures + buckets from the
    # shared CTE prefix; "flagged against the earliest earlier
    # occupant" is a set-theoretic min over smaller-id bucket-mates
    d["stream_minhash_dedup"] = f"""
        WITH {_minhash_band_cte()},
        hits AS (
          SELECT b1.doc_id, b1.bucket, min(b2.doc_id) AS rep
          FROM band b1 JOIN band b2
            ON b2.bucket = b1.bucket AND b2.doc_id < b1.doc_id
          GROUP BY 1, 2
        )
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit_buckets,
               CAST(min(rep) AS BIGINT) AS dup_of
        FROM hits GROUP BY 1
        """
    # prefix-filter exact similarity join oracle: count join,
    # rare-first (count, token) ordering via list(... ORDER BY),
    # prefix slice, candidate join, exact Jaccard verify
    d["jaccard_prefix_join"] = f"""
        WITH tok AS (
          SELECT doc_id AS id,
                 unnest(list_distinct(list_filter(
                   string_split_regex(lower(coalesce(text, '')), '\\s+'),
                   w -> w <> ''))) AS w
          FROM documents
        ),
        cnt AS (SELECT w, count(*) AS c FROM tok GROUP BY 1),
        bydoc AS (
          SELECT id, list(tok.w ORDER BY c, tok.w) AS toks
          FROM tok JOIN cnt USING (w) GROUP BY id
        ),
        pref AS (
          SELECT id,
                 unnest(toks[1 : len(toks)
                   - CAST(ceil(len(toks) * {_PPJ_THRESHOLD}) AS INT)
                   + 1]) AS p
          FROM bydoc
        ),
        cand AS (
          SELECT DISTINCT a.id AS id_a, b.id AS id_b
          FROM pref a JOIN pref b ON a.p = b.p AND a.id < b.id
        ),
        scored AS (
          SELECT id_a, id_b,
                 round(len(list_intersect(ta.toks, tb.toks)) * 1.0 /
                   (len(ta.toks) + len(tb.toks)
                    - len(list_intersect(ta.toks, tb.toks))), 6)
                   AS jaccard
          FROM cand
          JOIN bydoc ta ON ta.id = cand.id_a
          JOIN bydoc tb ON tb.id = cand.id_b
        )
        SELECT * FROM scored WHERE jaccard >= {_PPJ_THRESHOLD}
        """
    # quality-classifier oracle: hash → slot → closed-form weight →
    # exact integer sum replayed word-for-word; one rounded division
    _qc_h = MD5_HASH60_SQL.format(x="w")
    d["quality_classifier"] = f"""
        WITH s AS (
          SELECT doc_id,
                 list_filter(string_split(trim(regexp_replace(
                   lower(coalesce(text, '')), '\\s+', ' ', 'g')), ' '),
                   w -> w <> '') AS words
          FROM documents
        ),
        t AS (
          SELECT doc_id, len(words) AS n_words,
                 CAST(coalesce(list_sum(list_transform(words,
                   w -> ({_qc_h} % {_QC_BUCKETS}) * 2654435761
                        % 2001 - 1000)), 0) AS BIGINT) AS w_sum
          FROM s
        )
        SELECT doc_id, CAST(n_words AS INT) AS n_words, w_sum,
               (w_sum * 1000) // greatest(n_words, 1) AS logit_ppm,
               w_sum > 0 AS quality_pass
        FROM t
        """
    # robots-filter oracle: expected rule table + URL set composed
    # from closed forms; longest-match (len desc, allow desc, prefix
    # desc — the struct-max order) replayed with a window
    d["robots_filter"] = f"""
        WITH f AS (SELECT range AS fid FROM range({_N_MEDIA})),
        r AS (
          SELECT fid, unnest(generate_series(0, 2 + fid % 3 - 1)) AS rid
          FROM f
        ),
        urls AS (
          SELECT DISTINCT
                 'example-' || (rid % 4) || '.com' AS host,
                 'http://example-' || (rid % 4) || '.com/A/'
                   || (fid % 6) || '?a=1&b=2' AS canon,
                 '/A/' || (fid % 6) AS path
          FROM r
          UNION
          SELECT DISTINCT 'news.co.uk',
                 'https://news.co.uk/x/' || (fid % 3),
                 '/x/' || (fid % 3)
          FROM r
        ),
        rules AS (
          SELECT 'example-' || k || '.com' AS host, FALSE AS allow,
                 '/A/' || k AS prefix
          FROM (SELECT unnest(generate_series(0, 3)) AS k)
          UNION ALL
          SELECT 'example-' || k || '.com', TRUE, '/A/' || k || '/deep'
          FROM (SELECT unnest(generate_series(0, 3)) AS k)
          UNION ALL
          SELECT 'news.co.uk', FALSE, '/x/1'
        ),
        m AS (
          SELECT u.host, u.canon, ru.allow, ru.prefix,
                 row_number() OVER (
                   PARTITION BY u.host, u.canon
                   ORDER BY (ru.prefix IS NOT NULL) DESC,
                            length(ru.prefix) DESC,
                            ru.allow DESC, ru.prefix DESC
                 ) AS rn
          FROM urls u
          LEFT JOIN rules ru
            ON ru.host = u.host AND starts_with(u.path, ru.prefix)
        )
        SELECT host, canon,
               coalesce(allow, TRUE) AS allowed,
               prefix AS matched_prefix
        FROM m WHERE rn = 1
        """
    # k-core oracle: every peel round replayed CTE-for-CTE — degree
    # over surviving edges, HAVING >= k, both-endpoint edge filter
    _kc_chain = ", ".join(
        f"('{s}', '{t}')" for s, t in _planted_chain_edges()
    )
    # AS MATERIALIZED is load-bearing: u{k} references u{k-1} twice
    # (directly and via n{k}), so DuckDB's default CTE inlining would
    # re-derive the whole mention pipeline 2^rounds times — measured
    # as a multi-GB spill at sf0.01 and an OOM at sf1
    _kc_rounds = []
    for _r in range(1, _KCORE_ROUNDS + 1):
        _kc_rounds.append(f"""
        n{_r} AS MATERIALIZED (
          SELECT u FROM u{_r - 1} GROUP BY u
          HAVING count(*) >= {_KCORE_K}
        ),
        u{_r} AS MATERIALIZED (
          SELECT uu.u, uu.v FROM u{_r - 1} uu
          JOIN n{_r} a ON uu.u = a.u
          JOIN n{_r} b ON uu.v = b.u
        )""")
    d["entity_kcore"] = _MENTION_CTE + f"""
        , e0 AS (
          SELECT DISTINCT ma.iri AS src, mb.iri AS dst
          FROM m ma JOIN m mb
            ON ma.conv_id = mb.conv_id AND ma.turn_idx = mb.turn_idx
           AND ma.iri < mb.iri
          UNION
          SELECT * FROM (VALUES {_kc_chain}) AS c(src, dst)
        ),
        u0 AS MATERIALIZED (
          SELECT src AS u, dst AS v FROM e0
          UNION ALL
          SELECT dst AS u, src AS v FROM e0
        ),{",".join(_kc_rounds)}
        SELECT u AS entity, CAST(count(*) AS BIGINT) AS degree
        FROM u{_KCORE_ROUNDS} GROUP BY 1
        """
    # count-min oracles: every register recomputed from the md5
    # coordinates; the estimate query replays min-over-rows + truth
    d["cms_user_counts"] = """
        SELECT CAST(r.r AS INT) AS row_idx,
               CAST(CAST(concat('0x', substring(md5(
                 CAST(r.r AS VARCHAR) || '|' || CAST(user_id AS VARCHAR)
               ), 1, 15)) AS BIGINT) % 256 AS INT) AS bucket,
               CAST(count(*) AS BIGINT) AS count
        FROM events CROSS JOIN range(0, 4) r(r)
        WHERE user_id IS NOT NULL
        GROUP BY 1, 2
        """
    d["stream_cms_counts"] = d["cms_user_counts"]
    _cms_regs_sql = d["cms_user_counts"]
    d["cms_user_estimate"] = f"""
        WITH regs AS ({_cms_regs_sql}),
        probes AS (
          SELECT DISTINCT user_id FROM events WHERE user_id % 17 = 0
        ),
        coords AS (
          SELECT user_id,
                 CAST(r.r AS INT) AS row_idx,
                 CAST(CAST(concat('0x', substring(md5(
                   CAST(r.r AS VARCHAR) || '|' || CAST(user_id AS VARCHAR)
                 ), 1, 15)) AS BIGINT) % 256 AS INT) AS bucket
          FROM probes CROSS JOIN range(0, 4) r(r)
        ),
        est AS (
          SELECT user_id, CAST(min(count) AS BIGINT) AS est
          FROM coords JOIN regs USING (row_idx, bucket)
          GROUP BY 1
        ),
        exact AS (
          SELECT user_id, CAST(count(*) AS BIGINT) AS exact
          FROM events WHERE user_id % 17 = 0 GROUP BY 1
        )
        SELECT user_id, est, exact FROM est JOIN exact USING (user_id)
        """
    # near-dup canonical oracle: the full recursive-CTE component
    # closure feeds the same quality expression and argmax ordering
    d["neardup_canonical"] = f"""
        WITH comp AS (SELECT * FROM ({_minhash_oracle_sql()}) t),
        qual AS (
          SELECT doc_id AS id, ({quality}) AS q FROM documents
        ),
        j AS (
          SELECT comp.component, comp.id, qual.q
          FROM comp JOIN qual USING (id)
        ),
        ranked AS (
          SELECT component, id, q, row_number() OVER (
            PARTITION BY component ORDER BY q DESC, id ASC) AS rn
          FROM j
        )
        SELECT r.component, c.n_members, r.id AS keep_id,
               round(r.q, 6) AS keep_quality
        FROM ranked r
        JOIN (SELECT component, CAST(count(*) AS BIGINT) AS n_members
              FROM j GROUP BY 1) c USING (component)
        WHERE r.rn = 1
        """
    # unpivot oracle: the reshape round-trip must be the identity on
    # the long-format aggregate
    d["events_unpivot"] = """
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(coalesce(sum(CAST(value AS DECIMAL(18,2))), 0)
                 AS DECIMAL(18,2)) AS total_value
        FROM events GROUP BY 1, 2
        """
    # interval-overlap oracle: plain theta join over the sessionize
    # CTE — the Spark bucketization must lose and duplicate nothing
    d["session_window_overlap"] = f"""
        WITH s AS ({d["events_sessionize"]}),
        su AS (
          SELECT user_id, session_idx,
                 epoch_us(session_start) AS s_us,
                 epoch_us(session_end) AS e_us
          FROM s
        ),
        w AS (
          SELECT CAST(k AS INT) AS window_idx,
                 epoch_us(TIMESTAMP '2024-01-01 00:00:00')
                   + k * CAST(21600000000 AS BIGINT) AS w_s,
                 epoch_us(TIMESTAMP '2024-01-01 00:00:00')
                   + k * CAST(21600000000 AS BIGINT) + CAST(2700000000 AS BIGINT) AS w_e
          FROM range(0, {_MAINT_WINDOWS}) t(k)
        )
        SELECT user_id, session_idx, window_idx,
               least(e_us, w_e) - greatest(s_us, w_s) AS overlap_us
        FROM su JOIN w ON s_us <= w_e AND w_s <= e_us
        """
    # pivot oracle: conditional aggregation (FILTER) — the relational
    # dual of groupBy().pivot(), so the reshape is what's gated
    _pv_cols = ",\n               ".join(
        f"CAST(count(*) FILTER (event_type = '{t}') AS BIGINT)"
        f" AS {t}_n,\n               "
        f"CAST(coalesce(sum(CAST(value AS DECIMAL(18,2)))"
        f" FILTER (event_type = '{t}'), 0) AS DECIMAL(18,2)) AS {t}_v"
        for t in _PIVOT_TYPES
    )
    d["events_pivot"] = f"""
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               {_pv_cols}
        FROM events GROUP BY 1
        """
    # Luhn-card oracle: digits, checksum, and the redacted text all
    # COMPOSED from the closed forms — only extracting candidates,
    # validating the checksum with the right doubling parity, and
    # redacting exactly the valid one reproduces the md5
    _lh_digs = [f"((doc_id * 3 + {j} * 7) % 10)" for j in range(15)]
    _lh_terms = []
    for _j, _g in enumerate(_lh_digs):
        if _j % 2 == 0:
            _lh_terms.append(
                f"(CASE WHEN 2 * {_g} > 9 THEN 2 * {_g} - 9"
                f" ELSE 2 * {_g} END)"
            )
        else:
            _lh_terms.append(_g)
    _lh_s = " + ".join(_lh_terms)
    _lh_body = " || ".join(f"CAST({g} AS VARCHAR)" for g in _lh_digs)
    _lh_check = f"((10 - ({_lh_s}) % 10) % 10)"
    _lh_invalid = f"{_lh_body} || CAST(({_lh_check} + 5) % 10 AS VARCHAR)"
    d["pii_luhn_cards"] = f"""
        SELECT doc_id,
               CAST(CASE WHEN doc_id % 13 = 0 THEN 2 ELSE 0 END AS INT)
                 AS n_cards,
               CAST(CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END AS INT)
                 AS n_valid,
               md5(CASE WHEN doc_id % 13 = 0
                        THEN text || ' card <CARD> ok card '
                             || {_lh_invalid} || ' fake'
                        ELSE text END) AS redacted_md5
        FROM documents
        """
    # bloom oracle: set bits + all-k-probed-bits membership, exact
    # booleans (false positives are deterministic md5 arithmetic)
    _bloom_coord = (
        "CAST(CAST(concat('0x', substring(md5("
        "CAST(r.r AS VARCHAR) || '|' || CAST(user_id AS VARCHAR)"
        f"), 1, 15)) AS BIGINT) % {_BLOOM_M} AS INT)"
    )
    d["bloom_user_filter"] = f"""
        WITH bits AS (
          SELECT DISTINCT {_bloom_coord} AS bit_idx
          FROM events CROSS JOIN range(0, {_BLOOM_K}) r(r)
          WHERE user_id IS NOT NULL
        ),
        probes AS (
          SELECT DISTINCT user_id FROM events WHERE user_id % 17 = 0
          UNION ALL
          SELECT DISTINCT user_id + 1000000000 FROM events
          WHERE user_id % 17 = 0
        ),
        coords AS (
          SELECT user_id, {_bloom_coord} AS bit_idx
          FROM probes CROSS JOIN range(0, {_BLOOM_K}) r(r)
        ),
        hits AS (
          SELECT user_id, count(*) AS n
          FROM coords JOIN bits USING (bit_idx)
          GROUP BY 1
        )
        SELECT p.user_id, coalesce(h.n, 0) = {_BLOOM_K} AS present
        FROM probes p LEFT JOIN hits h USING (user_id)
        """
    # negative-sampling oracle: vocabulary bucketing, per-bucket
    # ranks, md5-family probe arithmetic, and the filtered anti-join
    # all replayed — over the same mention-triple derivation
    _neg_h_ent = MD5_HASH60_SQL.format(x="entity")
    _neg_h_probe = MD5_HASH60_SQL.format(x="head || '|' || k_idx")
    d["kg_negative_samples"] = f"""
        WITH m AS ({d["kg_triples_mentions"]}),
        pos AS (
          SELECT subj AS head, obj_value AS tail FROM m
          WHERE pred = '{VOCAB}of'
        ),
        vocab AS (SELECT DISTINCT tail AS entity FROM pos),
        vb AS (
          SELECT entity, {_neg_h_ent} % {_NEG_BUCKETS} AS bucket
          FROM vocab
        ),
        ranked AS (
          SELECT entity, bucket,
                 row_number() OVER (PARTITION BY bucket ORDER BY entity)
                   - 1 AS local_rank
          FROM vb
        ),
        sizes AS (
          SELECT bucket, count(*) AS bucket_size FROM ranked GROUP BY 1
        ),
        probes AS (
          SELECT head, tail, k_idx, {_neg_h_probe} AS r
          FROM pos CROSS JOIN (VALUES (0), (1), (2)) AS kk(k_idx)
        ),
        placed AS (
          SELECT head, tail, k_idx, s.bucket,
                 (r // {_NEG_BUCKETS}) % s.bucket_size AS local_rank
          FROM probes
          JOIN sizes s ON s.bucket = r % {_NEG_BUCKETS}
        ),
        picked AS (
          SELECT head, CAST(k_idx AS INT) AS k_idx, entity AS neg_tail
          FROM placed JOIN ranked USING (bucket, local_rank)
        )
        SELECT p.head, p.k_idx, p.neg_tail
        FROM picked p
        ANTI JOIN pos ON p.head = pos.head AND p.neg_tail = pos.tail
        """
    # HTML-extraction oracle: the same RE2 regex chain replayed
    # step-for-step over the same synthesized page
    _html_sql = (
        "'<HTML><head><title>Doc ' || doc_id"
        " || ' &amp; friends &#39;q&#39;</title>'"
        " || '<style type=\"text/css\">p { color: red; }</style>'"
        " || '<script>var x = 1 < 2;</script></head><body><!-- hidden '"
        " || (doc_id % 9) || ' --><h1>H' || (doc_id % 7) || '</h1><p>'"
        " || substr(coalesce(text, ''), 1, 160)"
        " || ' &lt;b&gt; &amp;lt;i&amp;gt;</p>"
        "<a href=\"https://ex.org/a/' || (doc_id % 5)"
        " || '\">x</a> <A HREF=\"https://ex.org/b/' || (doc_id % 3)"
        " || '?q=1\">y</A></body></html>'"
    )
    _ent_chain = "{}"
    for _ent, _rep in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
        ("&#39;", "''"), ("&nbsp;", " "), ("&amp;", "&"),
    ):
        _ent_chain = f"replace({_ent_chain}, '{_ent}', '{_rep}')"
    _stripped = (
        "regexp_replace(regexp_replace(regexp_replace(regexp_replace("
        "h, '(?is)<script[^>]*>.*?</script>', ' ', 'g'), "
        "'(?is)<style[^>]*>.*?</style>', ' ', 'g'), "
        "'(?s)<!--.*?-->', ' ', 'g'), '(?s)<[^>]*>', ' ', 'g')"
    )
    d["html_extract"] = f"""
        WITH p AS (SELECT doc_id, {_html_sql} AS h FROM documents)
        SELECT doc_id,
               trim({_ent_chain.format(
                   "regexp_extract(h, '(?is)<title[^>]*>(.*?)</title>', 1)"
               )}) AS title,
               trim(regexp_replace({_ent_chain.format(_stripped)},
                 '\\s+', ' ', 'g')) AS text_out,
               CAST(len(regexp_extract_all(h, '(?i)href="([^"]*)"', 1))
                 AS INT) AS n_links,
               array_to_string(
                 regexp_extract_all(h, '(?i)href="([^"]*)"', 1), '|')
                 AS links
        FROM p
        """
    # WARC oracle: header fields + exact body byte stats replayed
    # from the synthesizer's closed forms — no gzip/framing in the
    # loop, so only a CORRECT parse of the real container matches
    d["warc_ingest"] = f"""
        WITH f AS (SELECT range AS fid FROM range({_N_MEDIA})),
        r AS (
          SELECT fid, unnest(generate_series(0, 2 + fid % 4 - 1)) AS rid
          FROM f
        ),
        b AS (
          SELECT fid, rid,
                 unnest(generate_series(
                   0, 100 + (fid * 5 + rid * 11) % 200 - 1)) AS j
          FROM r
        )
        SELECT fid AS file_id, CAST(rid AS INT) AS record_idx,
               CASE rid % 3 WHEN 0 THEN 'response'
                    WHEN 1 THEN 'request' ELSE 'metadata'
               END AS warc_type,
               'https://example-' || (fid % 7) || '.org/p/' || fid
                 || '/' || rid AS target_uri,
               CAST(count(*) AS INT) AS n_bytes,
               CAST(sum((fid * 7 + rid * 13 + j * 3) % 256) AS BIGINT)
                 AS sum_bytes,
               CAST(min((fid * 7 + rid * 13 + j * 3) % 256) AS INT)
                 AS min_byte,
               CAST(max((fid * 7 + rid * 13 + j * 3) % 256) AS INT)
                 AS max_byte
        FROM b GROUP BY 1, 2, 3, 4
        """
    _steps_sql = {i + 2: s for i, s in enumerate(_FUNNEL_STEPS[1:])}
    d["events_funnel"] = f"""
        WITH s1 AS (
          SELECT user_id AS "user", min(ts) AS t1 FROM events
          WHERE event_type = '{_FUNNEL_STEPS[0]}' GROUP BY 1
        ),
        s2 AS (
          SELECT e.user_id AS "user", min(e.ts) AS t2
          FROM events e JOIN s1 ON s1."user" = e.user_id AND e.ts > s1.t1
          WHERE e.event_type = '{_steps_sql[2]}' GROUP BY 1
        ),
        s3 AS (
          SELECT e.user_id AS "user", min(e.ts) AS t3
          FROM events e JOIN s2 ON s2."user" = e.user_id AND e.ts > s2.t2
          WHERE e.event_type = '{_steps_sql[3]}' GROUP BY 1
        )
        SELECT s1."user", t1, t2, t3,
               CAST(1 + CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END
                      + CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END
                    AS INT) AS reached
        FROM s1 LEFT JOIN s2 USING ("user") LEFT JOIN s3 USING ("user")
        """
    d["events_retention"] = """
        WITH days AS (
          SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day
          FROM events
        ),
        c AS (SELECT u, min(day) AS cohort_day FROM days GROUP BY 1)
        SELECT cohort_day, CAST(day - cohort_day AS INT) AS day_offset,
               count(DISTINCT u) AS n_users
        FROM days JOIN c USING (u) GROUP BY 1, 2
        """
    d["event_transitions"] = """
        WITH seq AS (
          SELECT event_type AS src,
                 lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS dst
          FROM events
        )
        SELECT src, dst, count(*) AS n,
               round(CAST(count(*) AS DOUBLE)
                     / CAST(sum(count(*)) OVER (PARTITION BY src)
                            AS DOUBLE), 6) AS p
        FROM seq WHERE dst IS NOT NULL GROUP BY 1, 2
        """
    _bm25_terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    d["bm25_scores"] = f"""
        WITH w AS (
          SELECT doc_id, string_split(tt, ' ') AS words
          FROM (SELECT doc_id, {norm} AS tt FROM documents)
          WHERE length(tt) > 0
        ),
        stats AS (
          SELECT count(*) AS n, CAST(sum(len(words)) AS BIGINT) AS total
          FROM w
        ),
        dl AS (SELECT doc_id, len(words) AS dl FROM w),
        terms AS (SELECT doc_id, unnest(words) AS term FROM w),
        tf AS (
          SELECT doc_id, term, count(*) AS tf FROM terms
          WHERE term IN ({_bm25_terms}) GROUP BY 1, 2
        ),
        dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        scored AS (
          SELECT tf.doc_id, tf.term, tf.tf, dl.dl,
                 round(ln((CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
                       * (tf.tf * {_BM25_K1 + 1.0!r})
                       / (tf.tf + {_BM25_K1!r}
                          * ({1.0 - _BM25_B!r} + {_BM25_B!r}
                             * CAST(dl.dl AS DOUBLE)
                             / (CAST(total AS DOUBLE) / CAST(n AS DOUBLE)))),
                       6) AS score
          FROM tf JOIN dl USING (doc_id)
          CROSS JOIN stats JOIN dfx USING (term)
        )
        SELECT doc_id, term, tf, dl, score, CAST(rk AS INT) AS rank
        FROM (SELECT *, row_number() OVER (
                PARTITION BY term ORDER BY score DESC, doc_id) AS rk
              FROM scored)
        WHERE rk <= {_BM25_K}
        """
    d["embedding_quantize"] = """
        WITH d0 AS (
          SELECT vec_id AS id, embedding,
                 unnest(generate_series(1, len(embedding))) AS i
          FROM embeddings
        ),
        dims AS (SELECT id, i - 1 AS dim, embedding[i] AS v FROM d0),
        r AS (SELECT dim, min(v) AS lo, max(v) AS hi FROM dims GROUP BY 1),
        q AS (
          SELECT id, dim,
                 CAST(CASE WHEN hi > lo
                      THEN round((CAST(v AS DOUBLE) - CAST(lo AS DOUBLE))
                                 * 255.0
                                 / (CAST(hi AS DOUBLE) - CAST(lo AS DOUBLE)))
                      ELSE 0 END AS BIGINT) AS q
          FROM dims JOIN r USING (dim)
        )
        SELECT id AS vec_id, CAST(count(*) AS INT) AS n_dims,
               CAST(sum(q) AS BIGINT) AS sum_q,
               CAST(min(q) AS BIGINT) AS min_q,
               CAST(max(q) AS BIGINT) AS max_q,
               CAST(sum(q * (dim + 1)) AS BIGINT) AS checksum
        FROM q GROUP BY 1
        """
    # PCA oracle: quantize → exact-integer covariance → every power
    # iteration replayed (decimal-squared norms, integer re-scale)
    _pca_its = []
    _prev = "v0"
    for _k in range(1, _PCA_ITERS + 1):
        _pca_its.append(f"""
        w{_k} AS (
          SELECT cov.i AS dim, CAST(sum(c * v.v) AS BIGINT) AS w
          FROM cov JOIN {_prev} v ON v.dim = cov.j GROUP BY 1
        ),
        n{_k} AS (
          SELECT sqrt(CAST(sum(CAST(w AS DECIMAL(19,0))
                               * CAST(w AS DECIMAL(19,0))) AS DOUBLE))
                   AS nn
          FROM w{_k}
        ),
        v{_k} AS (
          SELECT dim, CAST(round(CAST(w AS DOUBLE) / nn * 1000) AS BIGINT)
                   AS v
          FROM w{_k}, n{_k}
        )""")
        _prev = f"v{_k}"
    d["pca_top_component"] = f"""
        WITH d0 AS (
          SELECT vec_id AS id, embedding,
                 unnest(generate_series(1, len(embedding))) AS i
          FROM embeddings
        ),
        dims AS (SELECT id, i - 1 AS dim, embedding[i] AS v FROM d0),
        r AS (SELECT dim, min(v) AS lo, max(v) AS hi FROM dims GROUP BY 1),
        q AS (
          SELECT id, dim,
                 CAST(CASE WHEN hi > lo
                      THEN round((CAST(v AS DOUBLE) - CAST(lo AS DOUBLE))
                                 * 255.0
                                 / (CAST(hi AS DOUBLE) - CAST(lo AS DOUBLE)))
                      ELSE 0 END AS BIGINT) AS q
          FROM dims JOIN r USING (dim)
        ),
        s AS (SELECT dim, CAST(sum(q) AS BIGINT) AS s FROM q GROUP BY 1),
        p AS (
          SELECT a.dim AS i, b.dim AS j, CAST(sum(a.q * b.q) AS BIGINT) AS p
          FROM q a JOIN q b USING (id) GROUP BY 1, 2
        ),
        cov AS (
          SELECT i, j,
                 (SELECT count(*) FROM embeddings) * p - si.s * sj.s AS c
          FROM p JOIN s si ON si.dim = p.i JOIN s sj ON sj.dim = p.j
        ),
        v0 AS (SELECT DISTINCT i AS dim, CAST(1000 AS BIGINT) AS v FROM cov),
        {",".join(_pca_its)}
        SELECT dim, v FROM v{_PCA_ITERS}
        """
    d["weighted_sample"] = f"""
        WITH h AS (
          SELECT doc_id, n_chars,
                 CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                      AS BIGINT) AS h
          FROM documents WHERE n_chars > 0
        ),
        k AS (
          SELECT doc_id, n_chars,
                 ln(CAST(h + 1 AS DOUBLE) / {float(1 << 60)!r})
                   / CAST(n_chars AS DOUBLE) AS key
          FROM h
        )
        SELECT CAST(row_number() OVER (ORDER BY key DESC, doc_id) AS INT)
                 AS rank,
               doc_id, n_chars
        FROM k ORDER BY key DESC, doc_id LIMIT {_WSAMPLE_K}
        """
    # as-of oracle: DuckDB's NATIVE ASOF JOIN — an independent engine
    # feature, not a replay of the union-sort-window trick
    d["events_asof"] = """
        WITH snap AS (
          SELECT user_id, max(ts) AS snap_ts,
                 count(*) AS day_events,
                 round(sum(value), 2) AS day_value
          FROM events GROUP BY user_id, date_trunc('day', ts)
        )
        SELECT e.event_id, e.user_id, s.day_events, s.day_value
        FROM events e
        ASOF LEFT JOIN snap s
          ON e.user_id = s.user_id AND e.ts >= s.snap_ts
        """
    # range-join oracle: the raw BETWEEN predicate, no bucketing
    d["events_in_windows"] = """
        WITH f AS (
          SELECT user_id, min(ts) AS t0
          FROM events GROUP BY user_id, date_trunc('day', ts)
        ),
        wins AS (
          SELECT user_id, 'early' AS win_tag, t0 AS win_start,
                 t0 + INTERVAL 2 HOUR AS win_end FROM f
          UNION ALL
          SELECT user_id, 'mid', t0 + INTERVAL 1 HOUR,
                 t0 + INTERVAL 5 HOUR FROM f
        )
        SELECT e.event_id, e.user_id, w.win_tag
        FROM events e JOIN wins w
          ON e.user_id = w.user_id
         AND e.ts BETWEEN w.win_start AND w.win_end
        """
    # upsample oracle: replay the md5 bucket, the weight CASE, and the
    # per-row generate_series replication
    _up_cases = " ".join(
        f"WHEN '{s}' THEN {int(w * 1_000_000)}"
        for s, w in sorted(_UP_EPOCHS.items())
    )
    d["domain_upsample"] = f"""
        WITH w AS (
          SELECT doc_id, source,
                 CASE source {_up_cases}
                   ELSE {int(_UP_DEFAULT * 1_000_000)} END AS wt,
                 CAST(concat('0x', substring(
                     md5(concat(CAST(doc_id AS VARCHAR), '-up11')), 1, 15))
                   AS BIGINT) % 1000000 AS bucket
          FROM documents
        ),
        n AS (
          SELECT doc_id, source,
                 wt // 1000000
                   + CASE WHEN bucket < wt % 1000000 THEN 1 ELSE 0 END
                   AS n_copies
          FROM w
        )
        SELECT doc_id, source,
               CAST(unnest(generate_series(0, n_copies - 1)) AS INT)
                 AS copy_idx
        FROM n WHERE n_copies > 0
        """
    # audio-features oracle: regenerate every PCM sample from the
    # closed form; a window's crossing count compares each sample's
    # sign with its predecessor's REGENERATED value (no window
    # functions needed — the predecessor is a formula too)
    d["audio_features"] = f"""
        WITH aud AS (
          SELECT range AS media_id, (range % 10) * 400 + 400 AS ns
          FROM range({_N_MEDIA}) WHERE range % 3 = 1
        ),
        s AS (
          SELECT media_id,
                 unnest(generate_series(0, ns - 1)) AS i
          FROM aud
        ),
        v AS (
          SELECT media_id, i, i // {_AUDIO_WIN} AS win_idx,
                 (media_id * 31 + i * 17) % 65536 - 32768 AS x,
                 (media_id * 31 + (i - 1) * 17) % 65536 - 32768 AS xp
          FROM s
        )
        SELECT media_id, CAST(win_idx AS INT) AS win_idx,
               CAST(count(*) AS INT) AS n_samples,
               CAST(sum(x * x) AS BIGINT) AS sum_sq,
               CAST(sum(CASE WHEN i % {_AUDIO_WIN} > 0
                        AND (x < 0) <> (xp < 0) THEN 1 ELSE 0 END) AS INT)
                 AS n_zero_cross,
               CAST(min(x) AS BIGINT) AS min_value,
               CAST(max(x) AS BIGINT) AS max_value
        FROM v GROUP BY 1, 2
        """
    # props-extraction oracle: DuckDB's JSON path extraction vs
    # Spark's from_json — two independent JSON parsers must agree
    d["event_props"] = """
        SELECT event_type,
               CAST(floor(CAST(json_extract_string(props, '$.k') AS INT)
                    / 10.0) AS BIGINT) AS k_decile,
               count(*) AS n_events,
               CAST(sum(CAST(json_extract_string(props, '$.k') AS INT))
                    AS BIGINT) AS sum_k,
               CAST(min(CAST(json_extract_string(props, '$.k') AS INT))
                    AS INT) AS min_k,
               CAST(max(CAST(json_extract_string(props, '$.k') AS INT))
                    AS INT) AS max_k
        FROM events GROUP BY 1, 2
        """
    # duplicated-n-gram oracle: occurrences with multiplicity, corpus
    # frequency, tag, fold — relational replay of the same counts
    d["dup_ngram_frac"] = f"""
        WITH w AS (
          SELECT doc_id,
                 CASE WHEN length({_norm_w}) = 0 THEN CAST([] AS VARCHAR[])
                      ELSE string_split({_norm_w}, ' ') END AS words
          FROM documents
        ),
        occ AS (
          SELECT doc_id,
                 unnest(list_transform(
                   generate_series(1, len(words) - {_DUPGRAM_N - 1}),
                   i -> array_to_string(
                     list_slice(words, i, i + {_DUPGRAM_N - 1}), ' ')))
                   AS gram
          FROM w WHERE len(words) >= {_DUPGRAM_N}
        ),
        freq AS (SELECT gram, count(*) AS f FROM occ GROUP BY 1),
        per AS (
          SELECT occ.doc_id, count(*) AS n_grams,
                 CAST(sum(CASE WHEN f >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup
          FROM occ JOIN freq USING (gram) GROUP BY 1
        )
        SELECT d.doc_id,
               coalesce(per.n_grams, 0) AS n_grams,
               coalesce(per.n_dup, 0) AS n_dup_grams,
               CASE WHEN coalesce(per.n_grams, 0) = 0 THEN 0.0
                    ELSE round(per.n_dup * 1.0 / per.n_grams, 6)
                    END AS dup_ngram_frac
        FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
        """
    # incremental-dedup oracle: normalized-fingerprint anti-join
    _fp = "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))"
    _fp_nb = _fp.replace("(text", "(nb.text")
    d["dedup_incremental"] = f"""
        WITH corpus AS (
          SELECT doc_id, text FROM documents
          WHERE doc_id % {_INGEST_MOD} <> 0
        ),
        nb AS (
          SELECT doc_id, text FROM documents
          WHERE doc_id % {_INGEST_MOD} = 0
          UNION ALL
          SELECT doc_id + {_INGEST_PLANT_OFF}, text || ' '
          FROM corpus WHERE doc_id % 10 = 1
        ),
        fpo AS (SELECT DISTINCT {_fp} AS fp FROM corpus)
        SELECT nb.doc_id FROM nb
        WHERE {_fp_nb} NOT IN (SELECT fp FROM fpo)
        """
    # canonicalization: merging the planted odd-turn variant IRIs back
    # is an identity on the entity-link triples; the merge map itself
    # is one owl:sameAs row per gazetteer entity (variant → canonical)
    d["canonicalized_triples"] = _MENTION_CTE + f"""
        SELECT bn AS subj, '{VOCAB}of' AS pred, iri AS obj_value FROM b
        UNION ALL
        SELECT iri || '{_ALIAS_SUFFIX}', '{OWL_SAMEAS}', iri
        FROM {_gazetteer_values()}
        """
    _rq_values = ", ".join(
        f"({qid}, '{qt}')" for qid, qt in _RETRIEVAL_QUERIES
    )
    d["bm25_retrieval"] = f"""
        WITH w AS (
          SELECT doc_id, string_split(tt, ' ') AS words
          FROM (SELECT doc_id, {norm} AS tt FROM documents)
          WHERE length(tt) > 0
        ),
        stats AS (
          SELECT count(*) AS n, CAST(sum(len(words)) AS BIGINT) AS total
          FROM w
        ),
        dl AS (SELECT doc_id, len(words) AS dl FROM w),
        q(query_id, query_text) AS (VALUES {_rq_values}),
        qt AS (
          SELECT query_id, term
          FROM (
            SELECT query_id,
                   unnest(list_distinct(string_split(
                     trim(regexp_replace(lower(query_text),
                                         '\\s+', ' ', 'g')),
                     ' '))) AS term
            FROM q
          ) WHERE length(term) > 0
        ),
        tf AS (
          SELECT doc_id, term, count(*) AS tf
          FROM (SELECT doc_id, unnest(words) AS term FROM w)
          WHERE term IN (SELECT DISTINCT term FROM qt)
          GROUP BY 1, 2
        ),
        dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        term_scored AS (
          SELECT tf.doc_id, tf.term,
                 CAST(round(
                   ln((CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
                   * (tf.tf * {_BM25_K1 + 1.0!r})
                   / (tf.tf + {_BM25_K1!r}
                      * ({1.0 - _BM25_B!r} + {_BM25_B!r}
                         * CAST(dl.dl AS DOUBLE)
                         / (CAST(total AS DOUBLE) / CAST(n AS DOUBLE))))
                   * 1000000.0) AS BIGINT) AS ppm
          FROM tf JOIN dl USING (doc_id)
          CROSS JOIN stats JOIN dfx USING (term)
        ),
        totals AS (
          SELECT qt.query_id, ts.doc_id,
                 CAST(count(*) AS INT) AS n_terms,
                 CAST(sum(ts.ppm) AS BIGINT) AS score_ppm
          FROM term_scored ts JOIN qt USING (term)
          GROUP BY 1, 2
        )
        SELECT query_id, doc_id, n_terms, score_ppm, CAST(rk AS INT) AS rank
        FROM (SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY score_ppm DESC, doc_id) AS rk
              FROM totals)
        WHERE rk <= {_BM25_K}
        """
    d["rrf_fusion"] = f"""
        WITH run1 AS ({d["bm25_retrieval"]}),
        w2 AS (SELECT doc_id, {norm} AS tt FROM documents),
        wt AS (
          SELECT doc_id, unnest(list_distinct(string_split(tt, ' ')))
                   AS term
          FROM w2 WHERE length(tt) > 0
        ),
        q2(query_id, query_text) AS (VALUES {_rq_values}),
        qt2 AS (
          SELECT query_id,
                 unnest(list_distinct(string_split(
                   trim(regexp_replace(lower(query_text),
                                       '\\s+', ' ', 'g')), ' '))) AS term
          FROM q2
        ),
        ov AS (
          SELECT qt2.query_id, wt.doc_id, count(*) AS ov
          FROM wt JOIN qt2 USING (term) GROUP BY 1, 2
        ),
        run2 AS (
          SELECT query_id, doc_id, CAST(rk AS INT) AS rank
          FROM (SELECT *, row_number() OVER (
                  PARTITION BY query_id ORDER BY ov DESC, doc_id) AS rk
                FROM ov)
          WHERE rk <= {_RRF_OUT_K}
        ),
        u AS (
          SELECT query_id, doc_id, rank FROM run1
          UNION ALL SELECT query_id, doc_id, rank FROM run2
        ),
        f AS (
          SELECT query_id, doc_id,
                 CAST(sum(1000000 // ({_RRF_K} + rank)) AS BIGINT)
                   AS rrf_ppm,
                 CAST(count(*) AS INT) AS n_runs
          FROM u GROUP BY 1, 2
        )
        SELECT query_id, doc_id, rrf_ppm, n_runs, CAST(rk AS INT) AS rank
        FROM (SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY rrf_ppm DESC, doc_id) AS rk
              FROM f)
        WHERE rk <= {_RRF_OUT_K}
        """
    # structurally independent oracle: brute cross-join + levenshtein,
    # no blocking — validates the SymSpell neighborhood's recall too
    d["fuzzy_entity_match"] = f"""
        WITH clean AS (
          SELECT c_custkey AS id_b, c_name AS name_b FROM customer
        ),
        dirty AS (
          SELECT c_custkey + {_FUZZY_ID_OFF} AS id_a,
                 substr(c_name, 1, p - 1)
                   || substr(c_name, p + 1, length(c_name)) AS name_a
          FROM (SELECT *, CAST(c_custkey % length(c_name) + 1 AS INT) AS p
                FROM customer)
        )
        SELECT id_a, name_a, id_b, name_b,
               CAST(levenshtein(name_a, name_b) AS INT) AS dist
        FROM dirty CROSS JOIN clean
        WHERE levenshtein(name_a, name_b) <= 1
        """
    # SemDeDup oracle: replay the Lloyd training (shared IVF recipe),
    # assign the planted corpus to the trained centroids (argmax
    # cosine, ties to the lowest centroid id — max_by's order), then
    # the intra-cluster lowest-id prune
    _sd_body, _sd_cents, _ = _ivf_train_ctes()
    d["semdedup"] = f"""{_sd_body},
        sd_planted AS (
          SELECT vec_id + {_NEARDUP_PLANT_OFFSET} AS vec_id,
                 list_transform(embedding, x ->
                   CAST(round(CAST(x AS DOUBLE) * 0.9 + 0.05, 4) AS FLOAT))
                   AS embedding
          FROM embeddings WHERE vec_id % {_NEARDUP_PLANT_STRIDE} = 0
        ),
        sd_corpus AS (
          SELECT vec_id, v FROM e
          UNION ALL
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM sd_planted
        ),
        sd_scored AS (
          SELECT c.vec_id, c.v, k.centroid_id,
                 row_number() OVER (
                   PARTITION BY c.vec_id
                   ORDER BY {_sql_cos('c.v', 'k.centroid')} DESC,
                            k.centroid_id
                 ) AS rn
          FROM sd_corpus c CROSS JOIN {_sd_cents} k
        ),
        sd_asg AS (
          SELECT vec_id, v, centroid_id FROM sd_scored WHERE rn = 1
        ),
        sd_keep AS (
          SELECT a.vec_id, min(b.vec_id) AS kept_by
          FROM sd_asg a JOIN sd_asg b
            ON a.centroid_id = b.centroid_id AND b.vec_id < a.vec_id
          WHERE round({_sql_cos('a.v', 'b.v')}, 4) >= {_SEMDEDUP_TAU}
          GROUP BY 1
        )
        SELECT a.vec_id, a.centroid_id, k.kept_by,
               CAST(k.kept_by IS NOT NULL AS INT) AS removed
        FROM sd_asg a LEFT JOIN sd_keep k USING (vec_id)
        """
    # exact-substring oracle: gram hashing, distinct-doc frequency
    # gate, co-keyed tag join, gaps-and-islands interval merge
    d["exact_substring_spans"] = f"""
        WITH xd AS (
          SELECT doc_id,
                 string_split(trim(regexp_replace(
                   lower(coalesce(text, '')), '\\s+', ' ', 'g')), ' ')
                   AS w
          FROM documents
        ),
        xocc AS (
          SELECT doc_id, CAST(t.i AS INT) AS pos,
                 md5(array_to_string(
                   list_slice(w, t.i, t.i + {_XSPAN_N - 1}), ' ')) AS key
          FROM xd, UNNEST(range(1, len(w) - {_XSPAN_N} + 2)) AS t(i)
          WHERE len(w) >= {_XSPAN_N}
        ),
        xdup AS (
          SELECT key FROM xocc
          GROUP BY key HAVING count(DISTINCT doc_id) >= 2
        ),
        xhits AS (SELECT doc_id, pos FROM xocc JOIN xdup USING (key)),
        xbrk AS (
          SELECT doc_id, pos,
                 CASE WHEN pos - lag(pos) OVER (
                   PARTITION BY doc_id ORDER BY pos) > {_XSPAN_N}
                 THEN 1 ELSE 0 END AS b
          FROM xhits
        ),
        xisl AS (
          SELECT doc_id, pos,
                 sum(b) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS island
          FROM xbrk
        )
        SELECT doc_id, CAST(min(pos) AS INT) AS span_start,
               CAST(max(pos) + {_XSPAN_N} AS INT) AS span_end,
               CAST(max(pos) + {_XSPAN_N} - min(pos) AS INT) AS span_words
        FROM xisl GROUP BY doc_id, island
        """
    return d
