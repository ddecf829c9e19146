"""Deduplication operators for training-data pipelines:
exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.

Documents are (doc_id, text) frames and vectors (vec_id, embedding)
frames.

Scale notes:
  - exact dedup is a hash-groupBy with map-side combine (one shuffle
    on the md5 of the normalized text, never on the text itself — at
    100 TB shuffling full text bodies is the classic mistake).
  - minhash/simhash signatures are JVM column expressions; candidate
    generation shuffles only (id, band, bucket) rows.
  - the banded operators (simhash, n-gram, embedding sign-LSH, and
    minhash in canonicalize.py) share ONE candidate join,
    canonicalize.capped_band_pairs: a per-(band, bucket) row cap, then
    an id-only self-join. Sign-LSH planes are md5 literals
    (similarity.plane_matrix) that the SQL oracles replay.
  - label-blocked embedding near-dup joins per label, never the full
    cross join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from json_ld_spark.functions.columns import cosine_similarity, dot, l2_norm
from json_ld_spark.functions.words import ngrams, words
from json_ld_spark.operators.canonicalize import (
    capped_band_pairs,
    connected_components,
    hashed_shingle_sets,
    jaccard_filter,
    minhash_candidate_pairs,
)
from json_ld_spark.operators.hashfamily import (
    SIMHASH_BITS,
    SIMHASH_BLOCK_BITS,
    md5_hash60,
)
from json_ld_spark.operators.similarity import (
    ivf_assign,
    plane_matrix,
    sign_lsh_bucket_literal,
)
from json_ld_spark.operators.textstats import fingerprint_md5
from json_ld_spark.plans.layout import rebalance_scan

# SimHash character-shingle width (the oracle SQL replays it)
_SIMHASH_SHINGLE = 4


def exact_dedup_groups(docs: DataFrame) -> DataFrame:
    """(fingerprint, n_dups, keep_id): one row per distinct normalized
    text; keep_id = min id (the canonical representative)."""
    return (
        docs.select(
            F.col("doc_id").alias("id"), fingerprint_md5(F.col("text")).alias("fp")
        )
        .groupBy("fp")
        .agg(F.count("*").alias("n_dups"), F.min("id").alias("keep_id"))
    )


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Documents minus exact (normalized) duplicates — keeps min-id."""
    w = Window.partitionBy(fingerprint_md5(F.col("text"))).orderBy("doc_id")
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def exact_dedup_keep_best(docs: DataFrame, score_col) -> DataFrame:
    """Exact dedup keeping the BEST row per duplicate group — max
    ``score_col`` (a Column expression, e.g. textstats.quality_score),
    ties broken by min id. This is the keep policy a training pipeline
    actually wants: the cleanest copy of each duplicated document, not
    the lowest id. Same single shuffle as exact_dedup (the fingerprint
    partition); the score is a JVM expression evaluated pre-shuffle."""
    w = Window.partitionBy(fingerprint_md5(F.col("text"))).orderBy(
        F.desc("_score"), F.col("doc_id")
    )
    # the score expression (quality stats over the text) evaluates
    # BEFORE the window exchange — rebalance so it is not pinned to a
    # compact scan's splits (plans/layout.py; no-op on real scans)
    return (
        rebalance_scan(docs).withColumn("_score", score_col)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_score")
    )


def minhash_dedup_components(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
) -> DataFrame:
    """(id, component): near-duplicate clusters via MinHash blocking →
    Jaccard verify → connected components. Singletons omitted."""
    # one shingle pass feeds both blocking and verification
    sets_ = hashed_shingle_sets(docs, id_col, text_col)
    verified = jaccard_filter(minhash_candidate_pairs(sets_), sets_, threshold)
    return connected_components(verified.select("id_a", "id_b"))


def simhash_sig_table(docs: DataFrame) -> DataFrame:
    """(_id, _sh): SIMHASH_BITS-wide SimHash over the md5_hash60
    hashes of each document's lowercased character shingles, as an
    EXPLODED-ROWS aggregation.

    An expression form that folds an interpreted HOF accumulator over
    every shingle (one interpreted lambda op per bit per shingle) was
    measured at 68 s for 50k docs at sf1 — the dominant term of the
    whole simhash query. This form stays inside whole-stage codegen:
    explode shingles to rows, hash per row, and take 32 PACKED
    bit-count sums per document (two 32-bit lanes per long: lane b
    counts bit b, its high lane counts bit b+32 — lanes cannot carry
    into each other below 2^31 shingles/doc). One map-side-combined
    shuffle on the id; sig bit b is set iff ones_b·2 > n, the sign of
    the ±1 vote. Measured 68 s → ~2 s on the same corpus. The
    ``simhash_pairs`` oracle replays the same signature in DuckDB."""
    lane = 0x0000000100000001
    shingle = _SIMHASH_SHINGLE
    # scan-granularity guard: the exploded hash + packed-lane partial
    # sums run BEFORE the groupBy shuffle, i.e. on the scan's
    # partitioning (plans/layout.py)
    staged = rebalance_scan(docs.select(
        F.col("doc_id").alias("_id"), F.lower(F.col("text")).alias("_lt")
    ))
    rows = staged.select(
        "_id",
        F.explode(
            F.sequence(
                F.lit(1), F.greatest(F.length("_lt") - (shingle - 1), F.lit(1))
            )
        ).alias("_i"),
        "_lt",
    ).select(
        "_id", md5_hash60(F.col("_lt").substr(F.col("_i"), F.lit(shingle))).alias("_h")
    )
    lanes = rows.groupBy("_id").agg(
        F.count("*").alias("_n"),
        *[
            F.sum(F.shiftright("_h", b).bitwiseAND(F.lit(lane))).alias(f"_s{b}")
            for b in range(32)
        ],
    )

    def ones(b: int):
        s = F.col(f"_s{b & 31}")
        if b >= 32:
            s = F.shiftrightunsigned(s, 32)
        return s.bitwiseAND(F.lit(0xFFFFFFFF))

    sig = F.lit(0).cast("long")
    for b in range(SIMHASH_BITS):
        sig = sig + F.when(
            ones(b) * 2 > F.col("_n"), F.lit(1 << b).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return lanes.select("_id", sig.alias("_sh"))


def simhash_neardup_pairs(docs: DataFrame) -> DataFrame:
    """Candidate pairs whose SimHash agrees on at least one block
    (standard Hamming-LSH banding: the SIMHASH_BITS signature in
    blocks of SIMHASH_BLOCK_BITS), with their Hamming distance —
    reproducible by the DuckDB oracle bit-for-bit. The block
    self-join is capped_band_pairs (hot-bucket row cap)."""
    # materialize the signature BEFORE posexplode: generator inputs
    # are inlined through collapsed projections, so exploding over
    # expressions of _sh would re-evaluate the signature per
    # generated row
    sig = simhash_sig_table(docs).localCheckpoint()
    mask = (1 << SIMHASH_BLOCK_BITS) - 1
    blocked = sig.select(
        "_id",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("_sh", i * SIMHASH_BLOCK_BITS).bitwiseAND(F.lit(mask))
                    for i in range(SIMHASH_BITS // SIMHASH_BLOCK_BITS)
                ]
            )
        ).alias("_band", "_bkt"),
    )
    sa = sig.select(F.col("_id").alias("id_a"), F.col("_sh").alias("_sa"))
    sb = sig.select(F.col("_id").alias("id_b"), F.col("_sh").alias("_sb"))
    return (
        capped_band_pairs(blocked).join(sa, "id_a").join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))).alias("hamming"),
        )
    )


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Exact word-3-gram Jaccard over blocked candidates (block = the
    4 SMALLEST gram md5s — a bottom-k sketch; two docs are candidates
    iff they share at least one of their bottom-k gram hashes;
    deterministic, so the SQL oracle reproduces it verbatim).

    Recall: a single min-gram band (k=1) finds a pair with
    probability ≈ its Jaccard — ~50% at the threshold, useless. With
    bottom-k banding the miss probability decays geometrically
    (~(1−J)^k): measured ≥0.9 recall at J≥0.4 with k = 4
    (tests/test_operators.py recall gate). All of a document's
    bottom-k hashes share ONE band id, so a shared gram collides at
    any rank. Candidates come from capped_band_pairs (id-only, with
    the hot-bucket row cap — 100 TB rule: gram arrays never ride the
    block shuffle); grams re-join by id for the exact verify, the
    same shape as the minhash verify step."""
    n, k = 3, 4
    # stage the word array in its own projection: the gram lambda
    # below references it per ELEMENT, and interpreted HOFs have no
    # CSE — capturing the split(regexp(lower)) tree in the closure
    # would re-run it once per gram. Unlike ``ngrams``, a text under n
    # words keeps one short gram (blank text: the gram '')
    w = F.col("_words")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(w) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(w, i + 1, n)),
        )
    )
    # staged projections: words once, then grams once; `_bands` derives
    # from the gram alias so nothing expensive evaluates twice per row.
    # Rebalanced first: gram construction is the heavy per-row stage
    # and must not run at a compact scan's 1-2 splits (plans/layout.py)
    g = rebalance_scan(docs.select(
        F.col("doc_id").alias("_id"),
        words(F.lower(F.col("text"))).alias("_words"),
    )).select(F.col("_id"), grams.alias("_grams")).select(
        "_id",
        "_grams",
        F.size("_grams").alias("_n"),
        F.slice(
            F.array_sort(F.transform("_grams", lambda s: F.md5(s))), 1, k
        ).alias("_bands"),
    )
    # materialize before the band join: otherwise the (expensive,
    # interpreted) gram computation runs once per consumer
    g = g.localCheckpoint()
    cand = capped_band_pairs(g.select(
        "_id", F.lit(0).alias("_band"), F.explode("_bands").alias("_bkt")
    ))
    ga = g.select(
        F.col("_id").alias("id_a"),
        F.col("_grams").alias("_gram_a"),
        F.col("_n").alias("_n_a"),
    )
    gb = g.select(
        F.col("_id").alias("id_b"),
        F.col("_grams").alias("_gram_b"),
        F.col("_n").alias("_n_b"),
    )
    # |A∪B| = |A|+|B|−|A∩B| (distinct arrays): only the intersection
    # is computed per pair; union is arithmetic — same value exactly
    inter = F.size(F.array_intersect("_gram_a", "_gram_b"))
    return (
        cand.join(ga, "id_a")
        .join(gb, "id_b")
        .select(
            "id_a",
            "id_b",
            inter.alias("_i"),
            (F.col("_n_a") + F.col("_n_b")).alias("_nn"),
        )
        .select(
            "id_a", "id_b",
            (F.col("_i") / (F.col("_nn") - F.col("_i"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def embedding_neardup_pairs(
    embeddings: DataFrame, threshold: float = 0.9
) -> DataFrame:
    """Near-duplicate vectors by cosine within ``label`` blocks — the
    join is per label, so cost is Σ block² not N². The label-free
    path is embedding_neardup_pairs_banded."""
    # per-vector norms staged BEFORE the pair join: cosine then costs
    # one aggregate per pair (the dot product) instead of three —
    # Σ bucket² pairs each re-deriving both norms was 2/3 of the CPU.
    # Identical IEEE result: same operands, same order, sqrt hoisted.
    # Rebalanced so the staging (and the join probe build) is not
    # pinned to a compact scan's splits (plans/layout.py).
    e = rebalance_scan(embeddings.select(
        F.col("vec_id").alias("_id"), F.col("embedding").alias("_v"),
        F.col("label").alias("_b"),
    )).withColumn("_norm", l2_norm(F.col("_v"))).localCheckpoint()
    a, b = e.alias("a"), e.alias("b")
    return (
        a.join(b, (F.col("a._b") == F.col("b._b")) & (F.col("a._id") < F.col("b._id")))
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.round(
                dot(F.col("a._v"), F.col("b._v"))
                / (F.col("a._norm") * F.col("b._norm")),
                4,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def neardup_lsh_config(n_vectors: int) -> "tuple[int, int]":
    """(planes_per_band, n_bands) for banded sign-LSH near-dup
    blocking, sized to the corpus.

    The r4 design had a CONSTANT bucket count (2^6–2^8), so the
    per-bucket self-join cost Σ bucket² = O(N²/2^planes) — measured
    29.8×/38.5× growth at 10× rows in the sf1 sweep. Fix: bucket
    count scales with N (planes ≈ log2(N / 8), so mean occupancy
    stays ~8 and Σ bucket² stays O(N)), and the band count keeps
    recall: a pair at the design similarity (cosine 0.9 → per-plane
    sign-agreement p = 1 − θ/π ≈ 0.86) collides in one band w.p.
    p^planes, so bands = ⌈ln(1−0.9)/ln(1−p^planes)⌉ restores ≥0.9
    recall end-to-end (measured 0.9 on the planted positives at
    sf0.01 AND sf0.1 — tests/test_operators.py).

    Planes stay in [6, 16]: 16 bounds the AND-width (beyond it the
    band count for fixed recall explodes ~1/p^planes); past 2^16
    buckets the per-bucket row cap of capped_band_pairs takes over as
    the scale bound, keeping candidates ≤ cap·N·bands — linear."""
    import math

    target_bucket, recall, p_agree = 8, 0.9, 0.86
    planes = min(
        16, max(6, math.ceil(math.log2(max(n_vectors, 2) / target_bucket)))
    )
    collide = p_agree ** planes
    bands = max(1, math.ceil(math.log(1.0 - recall) / math.log(1.0 - collide)))
    return planes, bands


def neardup_lsh_planes(
    planes_per_band: int, n_bands: int, dim: int
) -> "list[list[list[float]]]":
    """One deterministic literal ±1 plane matrix per band (seeds 100,
    101, …) — data-independent constants, reproducible by any engine
    (similarity.plane_matrix)."""
    return [
        plane_matrix(planes_per_band, dim, seed=100 + b)
        for b in range(n_bands)
    ]


def embedding_neardup_pairs_banded(
    embeddings: DataFrame,
    planes_bands: "list[list[list[float]]]",
    threshold: float = 0.9,
) -> DataFrame:
    """(id_a, id_b, cosine): near-duplicate vectors via multi-band
    sign-LSH blocking — the label-free path that holds at corpus
    scale. ``planes_bands`` is one literal plane matrix per band
    (neardup_lsh_planes, sized by neardup_lsh_config).

    Plan shape (all JVM expressions, no Python):
      1. one projection computes every band's bucket id per vector
         (posexplode of the per-band bucket array — vectors are read
         once);
      2. capped_band_pairs: the per-(band, bucket) row cap, then the
         id-only self-join (vectors never ride the candidate
         shuffle) — candidates are ≤ cap · N · bands, linear in N;
      3. distinct pairs re-join the staged (vector, norm) relation for
         ONE cosine evaluation per pair."""
    # scan-granularity guard: the bucket computation (bands × planes
    # × dim flops per vector) is the dominant cost and must not run
    # at a compact scan's 1-2 splits (plans/layout.py)
    e = rebalance_scan(embeddings.select(
        F.col("vec_id").alias("_id"), F.col("embedding").alias("_v")
    )).withColumn("_norm", l2_norm(F.col("_v"))).localCheckpoint()
    vecs = F.col("_v").cast("array<double>")
    banded = e.select(
        "_id",
        F.posexplode(
            F.array(*[
                sign_lsh_bucket_literal(vecs, planes)
                for planes in planes_bands
            ])
        ).alias("_band", "_bkt"),
    )
    va = e.select(
        F.col("_id").alias("id_a"), F.col("_v").alias("_va"),
        F.col("_norm").alias("_na"),
    )
    vb = e.select(
        F.col("_id").alias("id_b"), F.col("_v").alias("_vb"),
        F.col("_norm").alias("_nb"),
    )
    return (
        capped_band_pairs(banded).join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                dot(F.col("_va"), F.col("_vb"))
                / (F.col("_na") * F.col("_nb")),
                4,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def jaccard_prefix_join(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """EXACT similarity join via prefix filtering (the PPJoin family,
    Xiao et al., WWW 2008 — public knowledge): (id_a, id_b, jaccard)
    for every pair with word-set Jaccard ≥ ``threshold``. Unlike the
    minhash/simhash paths this is LOSSLESS — prefix filtering is a
    complete candidate generator: if |A∩B|/|A∪B| ≥ θ, A and B must
    share at least one token among each one's (|t| − ⌈θ·|t|⌉ + 1)
    RAREST tokens, so joining on prefix tokens misses nothing and
    the Jaccard verify only removes false positives.

    Scale design — no global token rank: documents sort their tokens
    by the (global_count, token) PAIR, so the rare-first order needs
    only the per-token count join (co-partitioned on token), never a
    single-task global row_number over the vocabulary. Prefix tokens
    are by construction the RAREST, so the candidate join key is
    skew-light — the frequent tokens that would create hot joins are
    exactly the ones prefix filtering excludes. One count shuffle,
    one doc-side groupBy, one id-pair join keyed on rare tokens, one
    verify join on token arrays.

    Cost honesty: the OUTPUT of an exact join is Θ(Σ cluster²) on a
    near-dup-clustered corpus — 2.97M verified pairs in 388 s at
    sf0.1 on the deliberately template-heavy synthetic corpus. That
    is inherent to exactness, not to this plan; at scale this
    operator's role is post-blocking verification (run it on minhash
    candidate clusters, not the raw corpus), so the bench suite
    deliberately measures the probabilistic paths and gates this one
    at oracle scale.
    """
    tok = docs.select(
        F.col("doc_id").alias("id"),
        F.explode(F.array_distinct(words(F.lower(F.col("text"))))).alias("w"),
    )
    cnt = tok.groupBy("w").agg(F.count("*").alias("c"))
    # per-doc token list in rare-first order (count, then token —
    # a total order, no global rank materialized anywhere)
    by_doc = (
        tok.join(cnt, "w")
        .groupBy("id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("c"), F.col("w")))
            ).alias("_tw")
        )
        .select(
            "id",
            F.transform(F.col("_tw"), lambda s: s["w"]).alias("toks"),
        )
    )
    n = F.size("toks")
    prefix_len = n - F.ceil(n * F.lit(threshold)).cast("int") + 1
    pref = by_doc.select(
        "id",
        "toks",
        F.explode(F.slice("toks", 1, prefix_len)).alias("p"),
    )
    # id-only candidate pairs on shared prefix tokens; the token
    # arrays rejoin for the verify so bodies never ride the pair join
    a = pref.select(F.col("id").alias("id_a"), F.col("p"))
    b = pref.select(F.col("id").alias("id_b"), F.col("p"))
    cand = (
        a.join(b, "p")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    ta = by_doc.select(F.col("id").alias("id_a"), F.col("toks").alias("ta"))
    tb = by_doc.select(F.col("id").alias("id_b"), F.col("toks").alias("tb"))
    inter = F.size(F.array_intersect("ta", "tb"))
    union = F.size("ta") + F.size("tb") - inter
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(inter / union, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def semdedup(
    corpus: DataFrame, centroids: DataFrame, threshold: float = 0.9
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) re-expressed
    relationally: semantic deduplication by k-means clustering plus
    intra-cluster cosine pruning. Every vector is assigned to its
    nearest trained centroid (``similarity.ivf_assign`` — broadcast
    codebook, map-side ``max_by`` argmax); within each cluster a
    vector is REMOVED when a lower-id cluster-mate sits inside its
    epsilon-ball (``round(cosine, 4) >= threshold``). Output: one row
    per vector — (vec_id, centroid_id, kept_by, removed) where
    kept_by is the lowest-id qualifying representative (NULL when the
    vector survives).

    Canonical-choice note: the paper keeps the vector FARTHEST from
    the centroid inside each epsilon-ball; this implementation keeps
    the lowest id, which is deterministic across engines and makes
    the whole prune oracle-checkable. Swap the min(id) aggregate for
    a ``min_by(id, -centroid_cosine)`` to get the paper's policy.

    Scale shape: the clustering exists precisely to bound the
    quadratic — the pair join is co-partitioned on centroid_id and
    never compares across clusters, so its cost is sum(cluster^2).
    That stays linear in N only when the codebook size grows with the
    corpus (k ~ N / target_cluster_size, trained on a sample as
    ``train_ivf_codebook`` documents); a fixed k at 100x the corpus
    re-creates the r4 sign-LSH blowup. The min(kept_by) aggregation
    is partial (map-side) on vec_id."""
    assigned = ivf_assign(corpus, centroids)
    left = assigned.select(
        F.col("vec_id").alias("_id"), F.col("embedding").alias("_v"),
        "centroid_id",
    )
    right = assigned.select(
        F.col("vec_id").alias("_rid"), F.col("embedding").alias("_rv"),
        "centroid_id",
    )
    keep = (
        left.join(right, "centroid_id")
        .filter(F.col("_rid") < F.col("_id"))
        .filter(
            F.round(cosine_similarity(F.col("_v"), F.col("_rv")), 4)
            >= threshold
        )
        .groupBy("_id")
        .agg(F.min("_rid").alias("kept_by"))
    )
    return (
        assigned.select("vec_id", "centroid_id")
        .join(keep.withColumnRenamed("_id", "vec_id"), "vec_id", "left")
        .select(
            "vec_id",
            "centroid_id",
            "kept_by",
            F.col("kept_by").isNotNull().cast("int").alias("removed"),
        )
    )


def exact_substring_spans(
    docs: DataFrame, n: int = 13, min_docs: int = 2
) -> DataFrame:
    """Cross-document exact-substring detection (the ExactSubstr
    flavor of Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better", arXiv:2107.06499) re-expressed
    relationally: every word n-gram occurring in >= min_docs DISTINCT
    documents marks its n-word occurrence window, and per document
    the marked windows are merged into maximal spans (gaps-and-
    islands: a new span starts when the next hit is more than n words
    past the previous one). Output: one row per merged span —
    (doc_id, span_start, span_end, span_words), 1-based word
    positions, end exclusive — the byte ranges a span-cutting pass
    would remove.

    The suffix array of the original is replaced by shuffle-friendly
    relational stages: explode n-grams with position -> frequency
    count keyed on md5(gram) (a 32-hex key, so the two gram shuffles
    never carry up-to-n-word strings) -> co-partitioned tag join ->
    per-doc interval merge. The gram-frequency side is corpus-sized
    and unbounded like the TF-IDF dictionary: no forced broadcast,
    AQE chooses. The interval-merge window partitions by doc_id and
    is bounded by per-document hit counts, never corpus size.
    Within-document repetition is deliberately out of scope here
    (``repetition_stats`` covers it): a gram repeated only inside one
    document does not mark a span."""
    staged = docs.select("doc_id", words(F.lower(F.col("text"))).alias("_w"))
    occ = staged.select(
        "doc_id", F.posexplode(ngrams(F.col("_w"), n)).alias("_p0", "_g")
    ).select(
        "doc_id",
        (F.col("_p0") + 1).cast("int").alias("pos"),
        F.md5("_g").alias("_key"),
    )
    dup = (
        occ.groupBy("_key")
        .agg(F.countDistinct("doc_id").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("_key")
    )
    hits = occ.join(dup, "_key").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    run = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    marked = hits.select(
        "doc_id",
        "pos",
        F.when(F.col("pos") - F.lag("pos").over(w) > n, F.lit(1))
        .otherwise(F.lit(0))
        .alias("_brk"),
    )
    isl = marked.select(
        "doc_id", "pos", F.sum("_brk").over(run).alias("_island")
    )
    return isl.groupBy("doc_id", "_island").agg(
        F.min("pos").cast("int").alias("span_start"),
        (F.max("pos") + n).cast("int").alias("span_end"),
        (F.max("pos") + n - F.min("pos")).cast("int").alias("span_words"),
    ).drop("_island")
