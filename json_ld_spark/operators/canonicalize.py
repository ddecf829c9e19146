"""Blocking-based canonicalization: minhash candidate blocking +
connected components via iterative DataFrame joins + merge-map relabel.

North-rule operators (BASELINE.json): IRI/blank-node merging at scale.
No reference analog (SURVEY §2.12) — the reference is single-document;
cross-document identity resolution is what a 10^12-turn corpus adds.

Scale design:
  - minhash signatures are pure JVM column expressions over the md5
    hash family (hashfamily.py: md5_hash60 shingle hashes, affine
    minima, md5 band buckets) — no Python, and the DuckDB oracle
    recomputes every stage.
  - banding turns O(n²) similarity into per-bucket self-joins, and
    capped_band_pairs is the one band join of every banded operator
    (minhash here; simhash, n-gram and embedding near-dup in dedup.py):
    its per-bucket row cap bounds bucket sizes by construction.
  - connected components = alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    converges in O(log n) rounds; each round is two shuffles and is
    checkpointed (localCheckpoint) to cut the lineage chain, which is
    mandatory for iterative plans (SURVEY §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from json_ld_spark.operators.hashfamily import (
    BAND_BUCKET_CAP,
    md5_hash60,
    minhash_affine,
    minhash_band_buckets,
)


def char_shingles(col, n: int = 3, pre_lowered: bool = False):
    """Character n-gram shingle array (JVM-side).

    pre_lowered=True means ``col`` is ALREADY a lowercased column
    reference staged in its own projection. That matters a lot:
    higher-order functions are interpreted with no CSE, so a lower()
    captured in the lambda closure re-evaluates (and re-copies the
    string) once per shingle ELEMENT — staging it first measured 2.5×
    faster on the shingle stage. Shingle values are identical."""
    lowered = col if pre_lowered else F.lower(col)
    return F.transform(
        F.sequence(F.lit(0), F.greatest(F.length(lowered) - n, F.lit(0))),
        lambda i: lowered.substr(i + 1, F.lit(n)),
    )


def shingle_hash_set(lowered, shingle: int = 3):
    """Distinct md5_hash60 hashes of the character shingles of an
    already-lowercased, staged column."""
    return F.array_distinct(
        F.transform(char_shingles(lowered, shingle, pre_lowered=True), md5_hash60)
    )


def hashed_shingle_sets(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(_id, _sh: array<long>): distinct hashed shingle sets,
    materialized once — the shared input for BOTH minhash signatures
    and exact-Jaccard verification (avoids computing the shingle
    array twice per document)."""
    # Layout + form, A/B-measured at sf1 (50k docs, 32 cores):
    # a compact parquet corpus scans as 1-2 splits, and whatever runs
    # before the first shuffle inherits that — the starved HOF form
    # cost the full pipeline +15 s. Of the two fixes, rebalancing the
    # (id, lowered-text) rows FIRST and keeping the zero-shuffle HOF
    # shingle pass wins by ~18×: 1.5 s vs 26.9 s for exploding
    # shingles into a collect_set aggregation — the text rebalance
    # ships ~1× the corpus bytes once, while the exploded form
    # shuffles shingle-count × 8-byte hashes (≈8× the corpus) into
    # hash-set merges. The repartition is skipped when the scan
    # already has enough splits (the real-cluster case).
    from json_ld_spark.plans.layout import rebalance_scan

    staged = rebalance_scan(df.select(
        F.col(id_col).alias("_id"), F.lower(F.col(text_col)).alias("_lt")
    ))
    return staged.select(
        "_id", shingle_hash_set(F.col("_lt")).alias("_sh")
    ).localCheckpoint()


def minhash_signature(shingles_col, num_hashes: int = 32):
    """Array of minhash values, one per affine hash
    h_i = (a_i * (base % P) + b_i) % P over the md5_hash60 shingle
    hashes (coefficients from minhash_affine) — bit-identical in any
    SQL engine.

    Single traversal: one aggregate whose accumulator holds all
    ``num_hashes`` running minima (~35% faster than ``num_hashes``
    separate interpreted array_min(transform(...)) passes)."""
    A, B, P = minhash_affine(num_hashes)
    ab = F.array(*[
        F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
        for a, b in zip(A, B)
    ])
    return F.aggregate(
        shingles_col,
        F.array_repeat(F.lit(P).cast("long"), num_hashes),
        lambda acc, h: F.zip_with(
            acc, ab,
            lambda ac, s: F.least(ac, (s["a"] * (h % P) + s["b"]) % P),
        ),
    )


def minhash_candidate_pairs(shingle_sets: DataFrame) -> DataFrame:
    """(id_a, id_b) candidate pairs whose minhash bands collide, from
    the hashed_shingle_sets frame. Signatures and band buckets are
    the md5 family (hashfamily.py), so every stage is reproducible by
    the SQL oracle; the band self-join is capped_band_pairs."""
    num_hashes, bands = 32, 8
    sig = shingle_sets.select(
        "_id", minhash_signature(F.col("_sh"), num_hashes).alias("_sig")
    )
    banded = sig.select(
        "_id",
        F.posexplode(
            F.array(*minhash_band_buckets("_sig", num_hashes, bands))
        ).alias("_band", "_bkt"),
    )
    # materialize: downstream verify + connected-components each
    # consume the pairs; without this the banded self-join re-runs per
    # consumer (pairs are two longs per row — cheap to hold)
    return capped_band_pairs(banded).localCheckpoint()


def capped_band_pairs(banded: DataFrame) -> DataFrame:
    """Distinct (id_a, id_b), id_a < id_b, of the rows of an
    (_id, _band, _bkt) frame that share a band bucket: the candidate
    join of every banded near-dup operator.

    Only the BAND_BUCKET_CAP smallest ids of each (_band, _bkt) take
    part. k near-identical rows fill one bucket per band and would
    give k² pairs — at corpus scale THE scale killer (the r4 sf1
    sweep measured 11.5× growth at 10× rows from it); with the cap,
    candidates stay ≤ C(cap, 2) per bucket, linear in N. Pairs beyond
    the cap are dropped: by construction they sit in near-identical
    clusters that exact / minhash dedup already collapses. The cap is
    deterministic (row_number by id), so the SQL oracles replay it."""
    w_bucket = Window.partitionBy("_band", "_bkt").orderBy("_id")
    capped = (
        banded.withColumn("_rn", F.row_number().over(w_bucket))
        .filter(F.col("_rn") <= BAND_BUCKET_CAP)
        .select("_id", "_band", "_bkt")
        # materialize before the self-join: the band ids would
        # otherwise be computed once per join side
        .localCheckpoint()
    )
    a, b = capped.alias("a"), capped.alias("b")
    return (
        a.join(
            b,
            (F.col("a._band") == F.col("b._band"))
            & (F.col("a._bkt") == F.col("b._bkt"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .dropDuplicates()
    )


def jaccard_filter(
    pairs: DataFrame, shingle_sets: DataFrame, threshold: float = 0.6
) -> DataFrame:
    """Verify candidate pairs with exact shingle-set Jaccard (join back
    the hashed_shingle_sets the pairs were blocked on, JVM array
    intersect/union).

    Shingles are 60-bit hashes, not strings: the pair join shuffles two
    shingle arrays per candidate, so 8-byte longs cut shuffle bytes ~3x
    and intersect/union compares longs (collision probability over a
    few hundred shingles is ~1e-13 — immaterial for dedup)."""
    # stage set sizes once per document; per pair compute ONLY the
    # intersection — |A∪B| = |A|+|B|−|A∩B| for distinct sets, so the
    # array_union pass (the other half of the per-pair CPU on a dense
    # candidate graph) is pure arithmetic. Same value bit-for-bit.
    sh = shingle_sets.select(
        F.col("_id").alias("_jid"), "_sh", F.size("_sh").alias("_n")
    )
    inter = F.size(F.array_intersect("_sa", "_sb"))
    out = (
        pairs.join(
            sh.select(F.col("_jid").alias("id_a"), F.col("_sh").alias("_sa"),
                      F.col("_n").alias("_na")),
            "id_a",
        )
        .join(
            sh.select(F.col("_jid").alias("id_b"), F.col("_sh").alias("_sb"),
                      F.col("_n").alias("_nb")),
            "id_b",
        )
        .withColumn("_i", inter)
        .withColumn(
            "jaccard", F.col("_i") / (F.col("_na") + F.col("_nb") - F.col("_i"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def connected_components(
    edges: DataFrame,
    stats: "dict | None" = None,
) -> DataFrame:
    """(id, component) with component = min id in the component, for
    an (id_a, id_b) edge frame.

    True alternating large-star/small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond") — O(log n) rounds on deep
    graphs, where plain min-label propagation needs O(diameter) rounds
    (a chain-shaped component — templated spam runs — would cost dozens
    of shuffle rounds at corpus scale).

      large-star(u): hook every neighbor v > u onto
                     m(u) = min(Γ(u) ∪ {u});
      small-star(u): orient edges toward the smaller end, hook
                     Γ≤(u) ∪ {u} onto min(Γ≤(u) ∪ {u}).

    Convergence is detected from a (count, hash-sum) checksum computed
    on the just-checkpointed edge set — no old-vs-new label join; the
    checkpoint is the only materialization per round and the checksum
    agg reads its cached partitions. At fixpoint the edge set is a star
    forest (child → min-id root), which IS the component labeling.

    Every round cuts lineage with ``localCheckpoint``: without the cut
    each round re-derives every earlier one (SURVEY §4; measured 106 s
    → 8 s on CC).
    """
    # evaluate the upstream edge pipeline once
    e = (
        edges.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .dropDuplicates()
        .localCheckpoint()
    )
    prev: "tuple | None" = None
    rounds = 0
    for _ in range(30):  # O(log n) rounds converge far below this cap
        rounds += 1
        # large-star: all arcs u→v, m(u) = least(u, min neighbor)
        arcs = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        mins = (
            arcs.groupBy("a")
            .agg(F.min("b").alias("_mb"))
            .select("a", F.least("a", "_mb").alias("m"))
        )
        ls = (
            arcs.join(mins, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
        )
        # small-star over the large-star output
        oriented = ls.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        ).dropDuplicates()
        mins2 = oriented.groupBy("a").agg(F.min("b").alias("m"))
        ss = (
            oriented.join(mins2, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .union(mins2.select(F.col("a"), F.col("m").alias("b")))
        )
        # lazy checkpoint: the checksum agg below is the action that
        # materializes it — one blocking job per round, not two
        e = (
            ss.filter(F.col("a") != F.col("b"))
            .dropDuplicates()
            .localCheckpoint(eager=False)
        )
        # bit_xor, not sum: order-independent and cannot overflow
        # (ANSI mode would throw on a long-sum of 2^63-range hashes)
        row = e.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(a, b))").alias("h"),
        ).collect()[0]
        sig = (row["n"], row["h"])
        if sig == prev:
            break
        prev = sig
    if stats is not None:
        stats["rounds"] = rounds
    # fixpoint edge set = star forest: (child, root) plus the roots
    return e.select(F.col("a").alias("id"), F.col("b").alias("component")).union(
        e.select("b", "b").distinct()
    )


def build_merge_map(components: DataFrame) -> DataFrame:
    """(from_id, to_id) for every id whose canonical component head
    differs — the relabel dimension table (broadcast at apply time)."""
    return components.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias("from_id"), F.col("component").alias("to_id")
    )


def apply_merge_map(
    triples: DataFrame, merge_map: DataFrame, cols: tuple[str, ...] = ("subj", "obj_value")
) -> DataFrame:
    """Relabel merged IRIs/bnodes in the triples table via broadcast
    left joins (merge maps are dimension-sized: entities ≪ triples).

    When the frame carries an ``obj_is_iri`` column, the object column
    is only relabeled on IRI/bnode rows — a LITERAL whose text happens
    to equal a merged IRI (e.g. a turn quoting an entity URL) must
    keep its text; only term identity merges."""
    has_iri_flag = "obj_is_iri" in triples.columns
    out = triples
    for i, c in enumerate(cols):
        mm = F.broadcast(
            merge_map.select(
                F.col("from_id").alias(f"_from_{i}"), F.col("to_id").alias(f"_to_{i}")
            )
        )
        join_cond = F.col(c) == F.col(f"_from_{i}")
        if c == "obj_value" and has_iri_flag:
            join_cond = join_cond & F.col("obj_is_iri")
        out = (
            out.join(mm, join_cond, "left")
            .withColumn(c, F.coalesce(F.col(f"_to_{i}"), F.col(c)))
            .drop(f"_from_{i}", f"_to_{i}")
        )
    return out
