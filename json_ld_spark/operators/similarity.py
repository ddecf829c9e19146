"""Similarity search over (vec_id, embedding array<float>) frames.

  - LSH top-k (lsh_topk_batch): the scale path — sign-LSH over md5
    literal planes (plane_matrix, the one plane family, replayed by
    the SQL oracles) restricts the scan to matching buckets
    (multi-probe = each query bucket's Hamming neighbors).
  - IVF top-k (ivf_topk_batch): coarse quantization by a trained
    centroid table (broadcast), probe the nearest ``nprobe`` cells.
Both indexes answer a (query_id, query_vec) frame in ONE plan; a
single query is a one-row frame.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from json_ld_spark.functions.columns import cosine_similarity


def plane_matrix(n_planes: int, dim: int, seed: int = 7) -> list[list[float]]:
    """Deterministic ±1 hyperplane matrix for sign-LSH, derived from
    md5 so any engine (Spark, DuckDB, plain Python) can reproduce the
    buckets bit-for-bit. Plane weights are data-independent constants —
    computing them driver-side and inlining them as literals keeps the
    executor expression pure arithmetic (no hashing per row)."""
    import hashlib

    planes = []
    for p in range(n_planes):
        digest = b""
        while len(digest) < dim:
            digest += hashlib.md5(
                f"{seed}:{p}:{len(digest)}".encode()
            ).digest()
        planes.append([1.0 if b & 1 else -1.0 for b in digest[:dim]])
    return planes


def sign_lsh_bucket_literal(vec_col, planes: Sequence[Sequence[float]]):
    """Sign-LSH bucket id from a literal plane matrix (see
    plane_matrix). Bit p of the bucket = sign of <v, plane_p>;
    plane 0 is the most significant bit."""
    bucket = F.lit(0).cast("long")
    for weights in planes:
        w = F.array(*[F.lit(x) for x in weights])
        d = F.aggregate(
            F.zip_with(vec_col, w, lambda x, wj: x.cast("double") * wj),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket * 2 + F.when(d >= 0, 1).otherwise(0)
    return bucket


def lsh_topk_batch(
    embeddings: DataFrame,
    queries: DataFrame,
    planes: Sequence[Sequence[float]],
    k: int = 10,
    probe_radius: int = 1,
) -> DataFrame:
    """Multi-probe sign-LSH top-k for the (query_id, query_vec) frame
    ``queries`` in ONE plan (same shape as ivf_topk_batch):

      bucket: every corpus row hashed once (JVM expression over the
              literal ``planes`` from plane_matrix);
      probe:  per query, its bucket's Hamming-≤radius neighborhood
              exploded into (query_id, bucket) rows — a broadcastable
              probe table of |Q|·Σ C(len(planes), r) rows;
      cand:   corpus ⋈ broadcast(probes) on bucket — the corpus-sized
              side never shuffles;
      rank:   per-query row_number ≤ k over rounded cosine.

    Literal planes make the whole result engine-reproducible (the
    driver oracle replays it). Returns (query_id, vec_id, cosine,
    rank)."""
    from pyspark.sql import Window

    bucketed = embeddings.withColumn(
        "_bkt", sign_lsh_bucket_literal(F.col("embedding"), planes)
    )
    n_bits = len(planes)
    flips = [0] + [1 << i for i in range(n_bits)]
    if probe_radius >= 2:
        flips += [
            (1 << i) | (1 << j)
            for i in range(n_bits)
            for j in range(i + 1, n_bits)
        ]
    probes = (
        queries.withColumn(
            "_qb",
            sign_lsh_bucket_literal(
                F.col("query_vec").cast("array<double>"), planes
            ),
        )
        .select(
            "query_id",
            "query_vec",
            F.explode(
                F.array(*[
                    F.col("_qb").bitwiseXOR(F.lit(m).cast("long"))
                    for m in flips
                ])
            ).alias("_bkt"),
        )
        .dropDuplicates(["query_id", "_bkt"])
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("vec_id")
    )
    return (
        bucketed.join(F.broadcast(probes), "_bkt")
        .select(
            "query_id",
            "vec_id",
            F.round(
                cosine_similarity(F.col("embedding"), F.col("query_vec")), 4
            ).alias("cosine"),
        )
        .withColumn("_rk", F.row_number().over(w_rank))
        .filter(F.col("_rk") <= k)
        .select("query_id", "vec_id", "cosine",
                F.col("_rk").cast("int").alias("rank"))
    )


def build_ivf_centroids(
    embeddings: DataFrame, n_centroids: int = 16, dim: int = 64
) -> DataFrame:
    """Coarse one-pass codebook: centroid c = mean of vectors in cell
    c. NOT a trained quantizer — it exists as (a) the deterministic,
    SQL-reproducible INIT for ``train_ivf_codebook`` and (b) the
    cross-engine oracle family. Use the trained codebook for real
    routing quality.

    Cell assignment: ``vec_id mod n`` for numeric ids (reproducible by
    any SQL engine; sequential ids balance perfectly). Non-numeric ids
    fall back to xxhash64 — a silent NULL-producing string→number cast
    in non-ANSI mode would otherwise degenerate the codebook."""
    from pyspark.sql.types import NumericType

    id_type = embeddings.schema["vec_id"].dataType
    if isinstance(id_type, NumericType):
        cell = F.pmod(F.col("vec_id"), F.lit(n_centroids))
    else:
        cell = F.pmod(F.xxhash64(F.col("vec_id")), F.lit(n_centroids))
    cells = embeddings.select(
        cell.cast("int").alias("centroid_id"),
        F.col("embedding").alias("_v"),
    )
    agg = cells.groupBy("centroid_id").agg(
        F.array(
            *[F.avg(F.element_at("_v", i + 1)).alias(f"c{i}") for i in range(dim)]
        ).alias("centroid"),
        F.count("*").alias("n_members"),
    )
    return agg


def train_ivf_codebook(
    embeddings: DataFrame,
    n_centroids: int = 16,
    n_iters: int = 2,
    dim: int = 64,
) -> DataFrame:
    """TRAINED IVF codebook: Lloyd's k-means with a deterministic
    mod-partition init (build_ivf_centroids) and a FIXED iteration
    count — no RNG, no convergence test, so the exact same codebook
    comes out of any engine that replays the recipe (the DuckDB
    oracle does, CTE per iteration).

    Per iteration (all DataFrame-native):
      - assignment: broadcast the codebook, arg-max cosine via the
        ``max_by`` aggregate (``ivf_assign`` — map-side partial, one
        row per vector on the exchange);
      - update: one ``groupBy(centroid_id).agg(avg per dim)`` round —
        a single shuffle of dim-width partial sums.
    Centroid coordinates are rounded to 6 decimals after
    init and after every update: the rounding quantizes away the
    ~1e-13 summation-order noise between engines (and between Spark
    partition orders), which is what makes the trained codebook
    oracle-checkable rather than rows-only.

    A cell that loses every member keeps its previous centroid (left
    join + coalesce — mirrored by the oracle). The codebook is
    dimension-table-sized; each iteration localCheckpoints it (16×64
    doubles) so lineage stays flat across iterations. At 100-TB scale
    train on a sample — the codebook only routes; assignment of the
    full corpus is the one big pass."""
    from json_ld_spark.plans.layout import rebalance_scan

    round_dp = 6
    rounded = lambda c: F.transform(c, lambda x: F.round(x, round_dp))  # noqa: E731
    # materialize the training input once: every Lloyd iteration scans
    # it (assignment cross join), and without this each iteration
    # re-runs the upstream read/cast pipeline. Rebalanced first: the
    # per-iteration assignment (C cosines per vector, pre-aggregation)
    # runs at this frame's partitioning (plans/layout.py).
    embeddings = rebalance_scan(
        embeddings.select("vec_id", "embedding")
    ).localCheckpoint()
    cents = build_ivf_centroids(embeddings, n_centroids, dim).select(
        "centroid_id", rounded(F.col("centroid")).alias("centroid"),
        "n_members",
    )
    for _ in range(n_iters):
        cents = cents.localCheckpoint()
        assigned = ivf_assign(embeddings, cents)
        upd = assigned.groupBy("centroid_id").agg(
            F.array(
                *[
                    F.round(F.avg(F.element_at("embedding", i + 1)), round_dp)
                    for i in range(dim)
                ]
            ).alias("centroid"),
            F.count("*").alias("n_members"),
        )
        cents = (
            cents.select("centroid_id", F.col("centroid").alias("_prev"))
            .join(upd, "centroid_id", "left")
            .select(
                "centroid_id",
                F.coalesce("centroid", "_prev").alias("centroid"),
                F.coalesce("n_members", F.lit(0)).alias("n_members"),
            )
        )
    return cents.localCheckpoint()


def ivf_assign(embeddings: DataFrame, centroids: DataFrame) -> DataFrame:
    """Assign every vector to its nearest centroid (broadcast the
    codebook — it is dimension-table-sized by construction).

    The arg-max is a ``max_by`` aggregate, not a window: the broadcast
    cross join keeps all C scored rows of a vector in one partition,
    so partial aggregation collapses them map-side and the exchange
    carries one row per vector — a window over the N×C scored rows
    would shuffle the whole cross-join output (the bounded-vs-unbounded
    exchange difference at 100-TB vector counts)."""
    joined = embeddings.crossJoin(F.broadcast(centroids)).withColumn(
        "_sim", cosine_similarity(F.col("embedding"), F.col("centroid"))
    )
    # max of (sim, -centroid_id) = highest similarity, ties to the
    # lowest centroid id (same order the old window used)
    return (
        joined.groupBy("vec_id")
        .agg(
            F.max_by(
                F.col("centroid_id"),
                F.struct(F.col("_sim").alias("s"),
                         (-F.col("centroid_id")).alias("c")),
            ).alias("centroid_id"),
            F.first("embedding").alias("embedding"),
        )
        .select("vec_id", "embedding", "centroid_id")
    )


def ivf_topk_batch(
    assigned: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """Top-k for the (query_id, query_vec) frame ``queries`` in ONE
    plan — the serving/dedup shape at scale (per-query driver loops
    don't distribute; a batch of embeddings queried against an
    indexed corpus is a join). ``assigned`` is the ivf_assign output
    (the precomputed index):

      probe:  queries × broadcast(codebook) → per-query top-``nprobe``
              centroids (window partitioned by query — C rows per
              partition key, bounded by the codebook size);
      cand:   assigned ⋈ broadcast(probes) on centroid_id — the
              corpus-sized side NEVER shuffles; each vector row fans
              out only to the queries probing its cell;
      rank:   per-query row_number ≤ k over rounded cosine, ties to
              the lower vec_id.

    ``queries`` must be broadcastable (a batch, not a second corpus);
    for corpus×corpus similarity use the near-dup operators instead.
    Returns (query_id, vec_id, cosine, rank)."""
    from pyspark.sql import Window

    w_probe = Window.partitionBy("query_id").orderBy(
        F.desc("_csim"), F.col("centroid_id")
    )
    probes = (
        queries.crossJoin(F.broadcast(centroids))
        .withColumn(
            "_csim", cosine_similarity(F.col("query_vec"), F.col("centroid"))
        )
        .withColumn("_rn", F.row_number().over(w_probe))
        .filter(F.col("_rn") <= nprobe)
        .select("query_id", "centroid_id", "query_vec")
    )
    cands = assigned.join(F.broadcast(probes), "centroid_id")
    w_rank = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("vec_id")
    )
    return (
        cands.select(
            "query_id",
            "vec_id",
            F.round(
                cosine_similarity(F.col("embedding"), F.col("query_vec")), 4
            ).alias("cosine"),
        )
        .withColumn("_rk", F.row_number().over(w_rank))
        .filter(F.col("_rk") <= k)
        .select("query_id", "vec_id", "cosine",
                F.col("_rk").cast("int").alias("rank"))
    )


def quantize_codes(emb: DataFrame) -> DataFrame:
    """(id, dim, q): the per-dimension uint8 codes behind
    embedding_quantize — exposed so downstream EXACT-integer analytics
    (PCA over codes, integer distance sketches) can reuse the same
    deterministic quantization."""
    dims = emb.select(
        F.col("vec_id").alias("id"), F.posexplode("embedding").alias("dim", "v")
    )
    ranges = dims.groupBy("dim").agg(
        F.min("v").alias("_lo"), F.max("v").alias("_hi")
    )
    q = F.when(
        F.col("_hi") > F.col("_lo"),
        F.round(
            (F.col("v").cast("double") - F.col("_lo").cast("double"))
            * 255.0
            / (F.col("_hi").cast("double") - F.col("_lo").cast("double"))
        ),
    ).otherwise(F.lit(0)).cast("long")
    return dims.join(F.broadcast(ranges), "dim").select(
        "id", "dim", q.alias("q")
    )


def embedding_quantize(emb: DataFrame) -> DataFrame:
    """(id, n_dims, sum_q, min_q, max_q, checksum): per-dimension
    min-max scalar quantization of float vectors to uint8 — the
    standard 4x vector-store compression. q = round((v − min_d)·255 /
    (max_d − min_d)) per dimension d (constant dimensions quantize
    to 0). Summaries are exact integers over the quantized codes
    (checksum weights by dimension index), so the whole quantization
    — including the per-dim range scan — is hash-gated.

    Two passes at scale: one aggregation for the d-dimensional
    min/max (tiny result, broadcast back), one map-side pass to
    quantize; no shuffle of the vectors themselves. The float
    pipeline is cast-to-double exact arithmetic, IEEE-identical in
    any engine."""
    return (
        quantize_codes(emb)
        .groupBy(F.col("id").alias("vec_id"))
        .agg(
            F.count("*").cast("int").alias("n_dims"),
            F.sum("q").alias("sum_q"),
            F.min("q").alias("min_q"),
            F.max("q").alias("max_q"),
            F.sum(F.col("q") * (F.col("dim") + 1)).alias("checksum"),
        )
    )


def pca_top_component(
    emb: DataFrame, n_vecs: int, n_iters: int = 3
) -> DataFrame:
    """(dim, v): the top principal direction of the embedding cloud,
    as a fixed-iteration power-iteration recipe over EXACT INTEGERS —
    the same determinism policy as the trained IVF codebook and
    PageRank, which is what lets a SQL oracle replay the whole
    computation.

    Floats cannot survive a distributed covariance sum (order-
    dependent), so the pipeline never sums them: vectors are first
    quantized to uint8 codes (quantize_codes — itself gated), and the
    scaled covariance C = n·Σqᵢqⱼ − ΣqᵢΣqⱼ is exact int64. Each power
    iteration computes w = C·v over integers (v carried at
    scale 1000), takes ‖w‖ via DECIMAL(38,0) squares (w² overflows
    int64; decimal sums are exact and order-free in both engines),
    and re-normalizes to integers: v′ = round(w/‖w‖·1000). The
    only floats are one cast + divide + sqrt per iteration on exact
    operands — IEEE-identical everywhere.

    ``n_vecs`` is a counted recipe parameter (PageRank-N policy).
    Scale: the pair-product pass is n·d² rows (the dominant cost,
    one shuffle to d² cells); iterations then run on the d²-row C
    (broadcast) × d-row v — driver-light, executor-trivial."""
    # Pair-product pass (r5 shape): per-Arrow-batch partial Gram
    # matrices in numpy int64, reduced to d² cells — O(batches·d²)
    # rows on the exchange instead of the former n·d² self-join
    # output (which is 4·10¹⁵ rows at 10¹² vectors; sf1 measured
    # 25.0 → 3.4 s). Everything stays exact int64 (q ≤ 255, batch
    # cells ≤ 8192·255² ≪ 2⁶³), so the result is bit-identical to the
    # join formulation and the SQL oracle still replays it. The q
    # codes are the same JVM expression quantize_codes uses (same
    # F.round half-up, same operand order), with the 2·dim min/max
    # range constants collected once (parameter fetch).
    from json_ld_spark.plans.layout import rebalance_scan

    v_scale = 1000
    rng = (
        emb.select(F.posexplode("embedding").alias("dim", "v"))
        .groupBy("dim")
        .agg(F.min("v").alias("_lo"), F.max("v").alias("_hi"))
        .orderBy("dim")
        .collect()
    )
    dim = len(rng)
    los = [float(r["_lo"]) for r in rng]
    rngs = [float(r["_hi"]) - float(r["_lo"]) for r in rng]
    los_arr = F.array(*[F.lit(x).cast("double") for x in los])
    rng_arr = F.array(*[F.lit(x).cast("double") for x in rngs])
    qvec = F.zip_with(
        F.zip_with(
            F.col("_v"), los_arr, lambda x, lo: x.cast("double") - lo
        ),
        rng_arr,
        lambda d_, r: F.when(r > 0, F.round(d_ * 255.0 / r))
        .otherwise(F.lit(0))
        .cast("long"),
    )
    qdf = rebalance_scan(
        emb.select(F.col("embedding").alias("_v"))
    ).select(qvec.alias("_q"))

    def _gram_parts(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            Q = np.array(list(pdf["_q"]), dtype=np.int64)
            G = Q.T @ Q
            colsum = Q.sum(axis=0)
            i_idx, j_idx = np.meshgrid(
                np.arange(dim), np.arange(dim), indexing="ij"
            )
            yield pd.DataFrame({
                "i": np.concatenate([i_idx.ravel(), np.arange(dim)]),
                "j": np.concatenate([j_idx.ravel(), np.full(dim, -1)]),
                "p": np.concatenate([G.ravel(), colsum]),
            })

    parts = qdf.mapInPandas(_gram_parts, schema="i int, j int, p long")
    cells = parts.groupBy("i", "j").agg(F.sum("p").alias("p"))
    cells = cells.localCheckpoint()  # s and p both read it
    s = cells.filter(F.col("j") == -1).select(
        F.col("i").alias("dim"), F.col("p").alias("s")
    )
    p = cells.filter(F.col("j") >= 0)
    cov = (
        p.join(F.broadcast(s.select(F.col("dim").alias("i"), F.col("s").alias("si"))), "i")
        .join(F.broadcast(s.select(F.col("dim").alias("j"), F.col("s").alias("sj"))), "j")
        .select(
            "i", "j",
            (F.lit(n_vecs) * F.col("p") - F.col("si") * F.col("sj")).alias("c"),
        )
    ).localCheckpoint()
    d = cov.select("i").distinct()
    v = d.select(F.col("i").alias("dim"), F.lit(v_scale).cast("long").alias("v"))
    for _ in range(n_iters):
        w = (
            cov.join(F.broadcast(v.select(F.col("dim").alias("j"), "v")), "j")
            .groupBy(F.col("i").alias("dim"))
            .agg(F.sum(F.col("c") * F.col("v")).alias("w"))
        )
        norm = (
            w.select(
                F.sqrt(
                    F.sum(
                        F.col("w").cast("decimal(19,0)")
                        * F.col("w").cast("decimal(19,0)")
                    ).cast("double")
                ).alias("_n")
            )
        )
        v = (
            w.crossJoin(F.broadcast(norm))
            .select(
                "dim",
                F.round(
                    F.col("w").cast("double") / F.col("_n") * v_scale
                ).cast("long").alias("v"),
            )
        )
    return v
