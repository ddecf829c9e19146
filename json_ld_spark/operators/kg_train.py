"""KG-embedding training-data operators: deterministic negative
sampling (corrupt-tail triples), the standard companion to a
knowledge graph destined for TransE/DistMult-style training
(Bordes et al., NeurIPS 2013 — public knowledge).

Design constraints at 100 TB:

  * NO global contiguous entity index — a single-partition
    ``row_number() OVER (ORDER BY entity)`` is a one-task sort at
    scale. Instead the entity vocabulary is hash-bucketed (B
    buckets) and ranked WITHIN each bucket; a probe picks
    (bucket, local_rank) arithmetically from the per-bucket size.
    Ranking parallelism = B, and the negative-pick join is an
    equi-join on (bucket, local_rank) — co-partitioned, no skew
    (buckets are hash-balanced).
  * Deterministic: the probe hash is the cross-engine md5 family
    (hashfamily.md5_hash60), so the ENTIRE sample — bucket assignment,
    local ranks, probe arithmetic, accidental-positive filter — is
    replayed by the SQL oracle.
  * Filtered sampling: corruptions that collide with a TRUE (head,
    tail) pair are dropped by an anti-join (the standard "filtered"
    setting, so the training loss never pushes a true triple down).
    Output is therefore ≤ k negatives per positive, deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from json_ld_spark.operators.graph import simple_graph
from json_ld_spark.operators.hashfamily import md5_hash60


def negative_samples(
    positives: DataFrame,
    k: int = 3,
    n_buckets: int = 16,
) -> DataFrame:
    """(head, k_idx, neg_tail): up to ``k`` deterministic corrupt-tail
    negatives per positive ``(head, tail)`` pair, drawn from the tail
    vocabulary via bucketed hash indexing and filtered against true
    pairs."""
    vocab = (
        positives.select(F.col("tail").alias("entity"))
        .distinct()
        .withColumn("bucket", F.pmod(md5_hash60(F.col("entity")), n_buckets))
    )
    w = Window.partitionBy("bucket").orderBy("entity")
    ranked = vocab.select(
        "entity",
        "bucket",
        (F.row_number().over(w) - 1).alias("local_rank"),
    )
    sizes = ranked.groupBy("bucket").agg(
        F.count("*").alias("bucket_size")
    )
    probes = positives.select(
        "head",
        "tail",
        F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("k_idx"),
    ).withColumn(
        "_r",
        md5_hash60(
            F.concat_ws("|", F.col("head"), F.col("k_idx").cast("string"))
        ),
    ).withColumn("bucket", F.pmod(F.col("_r"), n_buckets))
    # sizes is B rows — broadcast; local pick = (r div B) mod size
    placed = probes.join(F.broadcast(sizes), "bucket").withColumn(
        "local_rank",
        F.pmod(
            F.expr(f"_r div {n_buckets}"), F.col("bucket_size")
        ),
    )
    picked = placed.join(ranked, ["bucket", "local_rank"]).select(
        "head", "k_idx", F.col("entity").alias("neg_tail")
    )
    true_pairs = positives.select(
        "head", F.col("tail").alias("neg_tail")
    ).distinct()
    return picked.join(true_pairs, ["head", "neg_tail"], "left_anti")


def contrastive_pairs(
    scored_pairs: DataFrame,
    pos_threshold: float = 0.9,
    neg_threshold: float = 0.3,
) -> DataFrame:
    """(anchor_id, pos_id, neg_id, pos_cosine, neg_cosine): training
    triplets for contrastive embedding fine-tuning, mined from
    blocked similarity pairs (id_a, id_b, cosine).

    Positives are near-dups (cosine ≥ pos); HARD negatives are pairs
    that collided in the same LSH bucket yet are dissimilar
    (cosine ≤ neg) — the mining trick that makes the negative set
    informative: random negatives are trivially separable, bucket
    collisions are exactly the confusable ones. Per anchor the
    deterministic representative is the min partner id on each side;
    anchors lacking either side are dropped (a triplet needs both).

    One groupBy per side over the already-blocked pair stream — no
    new joins over the corpus."""
    sym = scored_pairs.select(
        F.col("id_a").alias("anchor"),
        F.col("id_b").alias("other"),
        "cosine",
    ).unionByName(
        scored_pairs.select(
            F.col("id_b").alias("anchor"),
            F.col("id_a").alias("other"),
            "cosine",
        )
    )
    pos = (
        sym.filter(F.col("cosine") >= pos_threshold)
        .groupBy("anchor")
        .agg(
            F.min("other").alias("pos_id"),
            F.min_by("cosine", "other").alias("pos_cosine"),
        )
    )
    neg = (
        sym.filter(F.col("cosine") <= neg_threshold)
        .groupBy("anchor")
        .agg(
            F.min("other").alias("neg_id"),
            F.min_by("cosine", "other").alias("neg_cosine"),
        )
    )
    return (
        pos.join(neg, "anchor")
        .select(
            F.col("anchor").alias("anchor_id"),
            "pos_id", "neg_id", "pos_cosine", "neg_cosine",
        )
    )


def deterministic_walks(
    edges: DataFrame,
    walk_len: int = 3,
    walks_per_node: int = 2,
) -> DataFrame:
    """(walk_id, step, node): DeepWalk/node2vec-style walk corpus
    over the KG — ``walks_per_node`` walks of ``walk_len`` steps from
    every node of the undirected simple graph (``graph.simple_graph``),
    the standard skip-gram training input for graph embeddings
    (Perozzi et al. 2014, public knowledge).

    The "random" choice at step t is the cross-engine md5 family
    hashed over (walk_id, t) taken mod the current node's out-degree
    — deterministic under any partitioning, so the SQL oracle can
    unroll the identical steps; statistically it is a fixed-seed
    uniform walk. Neighbor selection is an equi-join on
    (node, rank): neighbors are ranked per node by a window, the
    hash picks a rank arithmetically. Every step is one join keyed
    on node ids (hub skew = degree skew, the usual story); degree
    and rank tables are computed once and reused across steps."""
    e = simple_graph(edges, directed=False)
    nbr = e.select(
        "s", "t",
        F.row_number().over(
            Window.partitionBy("s").orderBy("t")
        ).alias("rk"),
    )
    deg = e.select("s", F.col("deg").alias("outdeg")).dropDuplicates()
    nodes = e.select(F.col("s").alias("n0")).dropDuplicates()
    cur = nodes.select(
        "n0",
        F.explode(
            F.array(*[F.lit(str(i)) for i in range(walks_per_node)])
        ).alias("w"),
    ).select(
        F.concat_ws("#", F.col("n0"), F.col("w")).alias("walk_id"),
        F.col("n0").alias("node"),
    )
    out = cur.select("walk_id", F.lit(0).alias("step"), "node")
    for t in range(1, walk_len + 1):
        pick = cur.join(deg, cur.node == deg.s).select(
            "walk_id", "node",
            (
                md5_hash60(
                    F.concat_ws("|", F.col("walk_id"), F.lit(str(t)))
                ) % F.col("outdeg") + 1
            ).alias("_pick"),
        )
        cur = (
            pick.join(
                nbr,
                (pick.node == nbr.s) & (pick._pick == nbr.rk),
            )
            .select("walk_id", F.col("t").alias("node"))
        )
        out = out.unionByName(
            cur.select("walk_id", F.lit(t).alias("step"), "node")
        )
    return out
