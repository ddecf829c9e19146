"""Operator correctness on crafted inputs: dedup family, similarity
search, canonicalization, text stats."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from json_ld_spark.operators.canonicalize import (
    apply_merge_map,
    build_merge_map,
    connected_components,
)
from json_ld_spark.operators.dedup import (
    embedding_neardup_pairs,
    exact_dedup,
    exact_dedup_groups,
    minhash_dedup_components,
    ngram_jaccard_pairs,
    simhash_neardup_pairs,
)
from json_ld_spark.operators.similarity import (
    build_ivf_centroids,
    ivf_assign,
    ivf_topk_batch,
    lsh_topk_batch,
    plane_matrix,
)


@pytest.fixture(scope="module")
def near_dup_docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog while the spark "
        "cluster shuffles data across many executor nodes tonight"
    )
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, base + " extra"),  # near dup
        (4, base.replace("quick", "speedy")),  # near dup
        (5, "completely different words about databases and indexes and queries and planners"),
        (6, "  the   quick brown fox jumps over the lazy dog while the spark cluster shuffles data across many executor nodes tonight "),  # ws-normalized dup of 1
    ]
    return spark.createDataFrame(rows, "doc_id int, text string").cache()


def test_exact_dedup(spark, near_dup_docs):
    groups = exact_dedup_groups(near_dup_docs).collect()
    dup_group = [g for g in groups if g["n_dups"] == 3]
    assert len(dup_group) == 1 and dup_group[0]["keep_id"] == 1
    kept = exact_dedup(near_dup_docs)
    assert kept.count() == 4  # 6 - 2 dups
    assert {r["doc_id"] for r in kept.collect()} == {1, 3, 4, 5}


def test_minhash_components(spark, near_dup_docs):
    comps = minhash_dedup_components(near_dup_docs, threshold=0.6).collect()
    by_id = {r["id"]: r["component"] for r in comps}
    # 1,2,3,4,6 must share a component; 5 must not appear (singleton)
    assert len({by_id[i] for i in (1, 2, 3, 4, 6)}) == 1
    assert 5 not in by_id


def test_simhash_near_dups(spark, near_dup_docs):
    pairs = simhash_neardup_pairs(near_dup_docs).collect()
    ham = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    assert ham.get((1, 2)) == 0  # identical text → identical simhash
    near = [p for p, h in ham.items() if h <= 12]
    assert (1, 3) in near or (1, 4) in near


def test_ngram_jaccard(spark, near_dup_docs):
    pairs = ngram_jaccard_pairs(near_dup_docs, threshold=0.5).collect()
    pairset = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in pairset
    for r in pairs:
        assert 0.0 <= r["jaccard"] <= 1.0


def test_connected_components_chain(spark):
    # a chain 1-2-3-4 plus isolated pair 10-11
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a int, id_b int"
    )
    comps = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert comps[1] == comps[2] == comps[3] == comps[4] == 1
    assert comps[10] == comps[11] == 10


def test_connected_components_deep_chain_log_rounds(spark):
    """A 10k-node chain (worst case for min-label propagation, which
    needs O(diameter)=10k rounds) must converge in ~log2(n) rounds
    under alternating large-star/small-star."""
    n = 10_000
    edges = spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    stats: dict = {}
    rows = connected_components(edges, stats=stats).collect()
    assert len(rows) == n
    assert all(r["component"] == 0 for r in rows)
    # 14 productive rounds + 1 fixpoint confirmation at n=10k
    assert stats["rounds"] <= 17, stats


def test_connected_components_hot_star_skew(spark):
    """A hot-star graph (one hub, 50k leaves — the entity-alias skew
    shape: one canonical entity with a huge alias fan) must converge
    in O(1) rounds under large-star/small-star; naive propagation is
    fine on stars, but the hub's edge partition must not explode."""
    n = 50_000
    edges = spark.range(1, n).select(
        F.lit(0).alias("id_a"), F.col("id").alias("id_b")
    )
    stats: dict = {}
    rows = connected_components(edges, stats=stats)
    assert rows.filter(F.col("component") != 0).count() == 0
    assert rows.count() == n
    assert stats["rounds"] <= 3, stats


def test_merge_map_skips_literals_matching_an_iri(spark):
    """A literal whose TEXT equals a merged IRI must not be relabeled
    when the frame carries obj_is_iri — only term identity merges."""
    mm = spark.createDataFrame(
        [("http://e/alias", "http://e/canon")], "from_id string, to_id string"
    )
    triples = spark.createDataFrame(
        [
            ("s1", "p", "http://e/alias", True),   # IRI object → relabel
            ("s2", "p", "http://e/alias", False),  # literal quoting it → keep
        ],
        "subj string, pred string, obj_value string, obj_is_iri boolean",
    )
    out = {
        (r["subj"], r["obj_value"])
        for r in apply_merge_map(triples, mm, cols=("obj_value",)).collect()
    }
    assert out == {("s1", "http://e/canon"), ("s2", "http://e/alias")}


def test_pagerank_star_and_mass(spark):
    """Power-iteration invariants on a star + path graph: the hub
    outranks every leaf, total mass stays ~1 (no dangling nodes after
    symmetrization), and the fixed recipe is run-to-run identical."""
    from json_ld_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 9)] + [(10, 11), (11, 12)],
        "src int, dst int",
    )
    ranks = {r["node"]: r["rank"] for r in pagerank(edges, n_iters=5).collect()}
    assert len(ranks) == 12
    hub = ranks[0]
    assert all(hub > ranks[i] for i in range(1, 9))
    assert abs(sum(ranks.values()) - 1.0) < 1e-3
    # middle of the path outranks its endpoints
    assert ranks[11] > ranks[10] and ranks[11] > ranks[12]
    again = {r["node"]: r["rank"] for r in pagerank(edges, n_iters=5).collect()}
    assert ranks == again


@pytest.mark.parametrize("symmetrize", [True, False])
@pytest.mark.parametrize("rows", [[], [("a", "a"), ("b", "b")]],
                         ids=["no_edges", "self_loops_only"])
def test_pagerank_empty_graph(spark, rows, symmetrize):
    """A graph with no edge left after simple_graph (no co-mentions,
    or only self-loops) has no node to rank: an empty (node, rank)
    frame, not a division by N = 0 while the plan is built."""
    from json_ld_spark.operators.graph import pagerank

    edges = spark.createDataFrame(rows, "src string, dst string")
    out = pagerank(edges, symmetrize=symmetrize)
    assert out.columns == ["node", "rank"]
    assert out.collect() == []


def test_merge_map_relabel(spark):
    comps = spark.createDataFrame(
        [("b", "a"), ("a", "a"), ("z", "z")], "id string, component string"
    )
    mm = build_merge_map(comps)
    triples = spark.createDataFrame(
        [("b", "p", "z"), ("x", "p", "b")],
        "subj string, pred string, obj_value string",
    )
    out = {tuple(r) for r in apply_merge_map(triples, mm).collect()}
    assert out == {("a", "p", "z"), ("x", "p", "a")}


@pytest.fixture(scope="module")
def vectors(spark):
    import random

    rnd = random.Random(7)
    rows = []
    for label in range(4):
        center = [rnd.uniform(-1, 1) for _ in range(16)]
        for i in range(25):
            vec = [c + rnd.uniform(-0.05, 0.05) for c in center]
            rows.append((label * 25 + i, vec, label))
    return spark.createDataFrame(
        rows, "vec_id int, embedding array<float>, label int"
    ).cache()


def _one_query(spark, qvec):
    """A one-row (query_id, query_vec) frame for the batch top-k
    operators."""
    return spark.createDataFrame(
        [(0, [float(x) for x in qvec])], "query_id int, query_vec array<double>"
    )


def _exact_topk(vectors, qvec, k):
    """The exact cosine top-k of ``qvec`` over the collected fixture, in
    numpy: cosine rounded to 4 places, descending, then vec_id — the
    order the batch top-k operators rank by."""
    import numpy as np

    rows = vectors.select("vec_id", "embedding").collect()
    m = np.array([r["embedding"] for r in rows], dtype=np.float64)
    q = np.asarray(qvec, dtype=np.float64)
    cos = np.round(m @ q / (np.linalg.norm(m, axis=1) * np.linalg.norm(q)), 4)
    ranked = sorted(zip(-cos, (r["vec_id"] for r in rows)))
    return [vec_id for _, vec_id in ranked[:k]]


def test_lsh_topk_recall(spark, vectors):
    qvec = vectors.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    exact = set(_exact_topk(vectors, qvec, 5))
    approx = {
        r["vec_id"]
        for r in lsh_topk_batch(
            vectors, _one_query(spark, qvec), plane_matrix(4, 16), k=5
        ).collect()
    }
    # query itself must be found; recall>=0.4 on this easy clustered set
    assert 0 in approx
    assert len(exact & approx) >= 2


def test_lsh_multiprobe_recall(spark, vectors):
    """Multi-probe (Hamming ≤ 2) with a literal plane matrix must hit
    ≥0.9 recall vs the exact top-k on near-neighbor retrieval (clustered
    fixture: the realistic regime — on isotropic random data no
    sublinear method beats a scan, so recall targets near-dups)."""
    planes = plane_matrix(6, 16)
    qvec = vectors.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    exact = set(_exact_topk(vectors, qvec, 10))
    approx = {
        r["vec_id"]
        for r in lsh_topk_batch(
            vectors, _one_query(spark, qvec), planes, k=10, probe_radius=2
        ).collect()
    }
    assert len(exact & approx) / len(exact) >= 0.9


def test_ivf_topk(spark, vectors):
    qvec = vectors.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    cents = build_ivf_centroids(vectors, n_centroids=4, dim=16)
    assigned = ivf_assign(vectors, cents)
    assert assigned.count() == vectors.count()
    top = ivf_topk_batch(
        assigned, cents, _one_query(spark, qvec), k=5, nprobe=4
    ).collect()
    assert min(top, key=lambda r: r["rank"])["vec_id"] == 0  # nprobe=all → exact


def test_ivf_trained_codebook_recall(spark, vectors):
    """Trained k-means codebook must reach ≥0.9 recall vs the exact top-k
    with a 1-cell probe on the clustered fixture — the quality gate
    the mod-partition init alone cannot pass (its centroids are
    near-coincident means of random cells, so probe selection is
    arbitrary). Mirrors test_lsh_multiprobe_recall."""
    from json_ld_spark.operators.similarity import train_ivf_codebook

    qvec = vectors.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    exact = set(_exact_topk(vectors, qvec, 10))
    cents = train_ivf_codebook(vectors, n_centroids=4, n_iters=5, dim=16)
    assigned = ivf_assign(vectors, cents)
    approx = {
        r["vec_id"]
        for r in ivf_topk_batch(
            assigned, cents, _one_query(spark, qvec), k=10, nprobe=1
        ).collect()
    }
    assert len(exact & approx) / len(exact) >= 0.9
    # training actually separated the clusters: every cluster's members
    # agree on a cell, and the 4 clusters occupy distinct cells
    cells = {
        r["vec_id"]: r["centroid_id"] for r in assigned.collect()
    }
    cluster_cells = [
        {cells[label * 25 + i] for i in range(25)} for label in range(4)
    ]
    assert all(len(s) == 1 for s in cluster_cells)
    assert len(set().union(*cluster_cells)) == 4


def test_ivf_codebook_deterministic_and_empty_cell_safe(spark, vectors):
    """Same input → bit-identical codebook (fixed recipe, rounded
    coordinates); a cell that loses all members keeps its previous
    centroid instead of vanishing."""
    from json_ld_spark.operators.similarity import train_ivf_codebook

    a = {
        r["centroid_id"]: r["centroid"]
        for r in train_ivf_codebook(
            vectors, n_centroids=4, n_iters=3, dim=16
        ).collect()
    }
    b = {
        r["centroid_id"]: r["centroid"]
        for r in train_ivf_codebook(
            vectors, n_centroids=4, n_iters=3, dim=16
        ).collect()
    }
    assert a == b
    # over-provisioned codebook (more cells than clusters): empty cells
    # persist with their init centroid, count stays n_centroids
    many = train_ivf_codebook(vectors, n_centroids=12, n_iters=3, dim=16)
    assert many.count() == 12


def _rows_by_query(batch):
    """{query_id: {rank: (vec_id, cosine)}} of a batch top-k result."""
    out: dict = {}
    for r in batch.collect():
        out.setdefault(r["query_id"], {})[r["rank"]] = (r["vec_id"], r["cosine"])
    return out


def test_ivf_topk_batch_matches_per_query(spark, vectors):
    """Each query's rows in the one-plan multi-query batch must equal
    a batch run on that query alone — same probes, same ranking."""
    from json_ld_spark.operators.similarity import train_ivf_codebook

    cents = train_ivf_codebook(vectors, n_centroids=4, n_iters=3, dim=16)
    assigned = ivf_assign(vectors, cents).localCheckpoint()
    qrows = vectors.filter(F.col("vec_id") % 25 == 0).collect()
    queries = spark.createDataFrame(
        [(r["vec_id"], [float(x) for x in r["embedding"]]) for r in qrows],
        "query_id int, query_vec array<double>",
    )
    got = _rows_by_query(ivf_topk_batch(assigned, cents, queries, k=5, nprobe=2))
    for r in qrows:
        single = _rows_by_query(ivf_topk_batch(
            assigned, cents, _one_query(spark, r["embedding"]), k=5, nprobe=2,
        ))
        assert got[r["vec_id"]] == single[0]
        assert len(single[0]) == 5


def test_lsh_topk_batch_matches_per_query(spark, vectors):
    """Each query's rows in the one-plan multi-query batch LSH join
    must equal a batch run on that query alone — same buckets, probes,
    and ranking (a float query column included)."""
    planes = plane_matrix(6, 16)
    qrows = vectors.filter(F.col("vec_id") % 25 == 0).collect()
    queries = spark.createDataFrame(
        [(r["vec_id"], list(r["embedding"])) for r in qrows],
        "query_id int, query_vec array<float>",
    )
    got = _rows_by_query(
        lsh_topk_batch(vectors, queries, planes, k=5, probe_radius=1)
    )
    for r in qrows:
        single = _rows_by_query(lsh_topk_batch(
            vectors, _one_query(spark, r["embedding"]), planes, k=5,
            probe_radius=1,
        ))
        assert got[r["vec_id"]] == single[0]


def test_ivf_codebook_string_ids_fall_back_to_hash(spark, vectors):
    """Non-numeric id columns route through xxhash64 instead of a
    silent NULL-producing cast (advice r2)."""
    sv = vectors.select(
        F.col("vec_id").cast("string").alias("vec_id"), "embedding"
    )
    cents = build_ivf_centroids(sv, n_centroids=4, dim=16)
    rows = cents.collect()
    assert all(r["centroid_id"] is not None for r in rows)
    assert sum(r["n_members"] for r in rows) == 100


def test_embedding_neardup_blocks(spark, vectors):
    pairs = embedding_neardup_pairs(vectors, threshold=0.99).collect()
    assert len(pairs) > 0
    ids = {r["id_a"] // 25 for r in pairs} | {r["id_b"] // 25 for r in pairs}
    # blocking by label means pairs never cross clusters
    for r in pairs:
        assert r["id_a"] // 25 == r["id_b"] // 25


def test_exact_dedup_keep_best(spark):
    """Keep-best retains the max-score row per duplicate group (ties →
    min id), NOT the min id — the policy difference from exact_dedup."""
    from json_ld_spark.operators.dedup import exact_dedup, exact_dedup_keep_best

    rows = [
        (1, "Hello   World", 0.2),   # low quality, lowest id
        (2, "hello world", 0.9),     # same fingerprint, best
        (3, "hello world  ", 0.9),   # tie with 2 → 2 wins (min id)
        (4, "unique text", 0.5),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string, score double")
    kept = {r["doc_id"] for r in
            exact_dedup_keep_best(df, F.col("score")).collect()}
    assert kept == {2, 4}
    # contrast: min-id policy keeps 1
    assert {r["doc_id"] for r in exact_dedup(df).collect()} == {1, 4}


def test_chunk_documents_windows(spark):
    """Window arithmetic: overlap honored, tail window short, full
    coverage in order, short/empty docs yield exactly one chunk."""
    from json_ld_spark.operators.corpus import chunk_documents

    text_100 = " ".join(f"w{i}" for i in range(100))
    df = spark.createDataFrame(
        [(1, text_100), (2, "a b c"), (3, ""), (4, "   ")],
        "doc_id int, text string",
    )
    rows = {
        (r["doc_id"], r["chunk_idx"]): r
        for r in chunk_documents(df, chunk_tokens=64, overlap=16).collect()
    }
    # doc 1: windows at token 0 and 48 (stride 48) → 64 + 52 tokens
    assert rows[(1, 0)]["n_tokens"] == 64
    assert rows[(1, 1)]["n_tokens"] == 52
    assert rows[(1, 0)]["chunk_text"].split()[:2] == ["w0", "w1"]
    assert rows[(1, 1)]["chunk_text"].split()[0] == "w48"  # overlap start
    assert rows[(1, 1)]["chunk_text"].split()[-1] == "w99"  # tail covered
    assert rows[(2, 0)]["n_tokens"] == 3 and (2, 1) not in rows
    assert rows[(3, 0)]["n_tokens"] == 0
    assert rows[(4, 0)]["n_tokens"] == 0
    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=16, overlap=16)


def test_pack_chunks_budget_and_order(spark):
    """Packing invariants: packs fill in (id, chunk_idx) order, each
    pack's exclusive prefix stays under budget (greedy spill allowed
    for the straddling chunk), pack ids are contiguous from 0."""
    from json_ld_spark.operators.corpus import pack_chunks

    rows = [(i, 0, 60) for i in range(10)] + [(i, 1, 50) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id int, chunk_idx int, n_tokens int")
    out = pack_chunks(df, target_tokens=100, n_buckets=2).collect()
    by_bucket: dict = {}
    for r in out:
        by_bucket.setdefault(r["pack_bucket"], []).append(r)
    assert set(by_bucket) == {0, 1}
    for bucket_rows in by_bucket.values():
        bucket_rows.sort(key=lambda r: (r["doc_id"], r["chunk_idx"]))
        cum = 0
        for r in bucket_rows:
            assert r["pack_id"] == cum // 100  # exclusive-prefix rule
            cum += r["n_tokens"]
        packs = sorted({r["pack_id"] for r in bucket_rows})
        assert packs == list(range(len(packs)))


def test_deterministic_sample_stable_under_append(spark):
    """The kept set is a function of the key: identical across runs,
    and appending new rows never changes which old rows are kept."""
    from json_ld_spark.operators.corpus import deterministic_sample

    base = spark.range(1000).select(F.col("id").alias("doc_id"))
    kept1 = {r["doc_id"] for r in
             deterministic_sample(base, 0.2, "doc_id").collect()}
    kept2 = {r["doc_id"] for r in
             deterministic_sample(base, 0.2, "doc_id").collect()}
    assert kept1 == kept2 and 100 < len(kept1) < 300
    grown = spark.range(2000).select(F.col("id").alias("doc_id"))
    kept_grown = {r["doc_id"] for r in
                  deterministic_sample(grown, 0.2, "doc_id").collect()}
    assert {k for k in kept_grown if k < 1000} == kept1


def test_tfidf_top_terms(spark):
    """A corpus-wide common term scores below a document-unique term
    despite equal tf; ranks are contiguous and respect k."""
    from json_ld_spark.operators.textstats import tfidf_top_terms

    rows = [
        (1, "common zebra"),
        (2, "common apple"),
        (3, "common banana"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {(r["doc_id"], r["term"]): r for r in tfidf_top_terms(df, k=3).collect()}
    # equal tf: 'zebra' (df=1) must outrank 'common' (df=3) in doc 1
    assert out[(1, "zebra")]["rank"] < out[(1, "common")]["rank"]
    assert out[(1, "common")]["tf"] == 1
    for doc in (1, 2, 3):
        ranks = sorted(r["rank"] for (d, _), r in out.items() if d == doc)
        assert ranks == list(range(1, len(ranks) + 1))


def test_textstats_values(spark):
    from json_ld_spark.operators.textstats import document_stats

    rows = [
        (1, "the cat and the dog of the house"),
        (2, "el perro y el gato que duerme en la casa"),
        (3, "日本語のテキストですが漢字も含む 中文字符"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    stats = {r["doc_id"]: r for r in document_stats(df).collect()}
    assert stats[1]["lang_guess"] == "en"
    assert stats[2]["lang_guess"] == "es"
    assert stats[3]["lang_guess"] == "zh"
    assert stats[4]["lang_guess"] == "und"
    assert stats[1]["n_tokens_ws"] == 8
    assert stats[4]["n_tokens_ws"] == 0
    assert stats[1]["fp_md5"] is not None and stats[1]["fp_shingle"] is not None


def test_chunk_documents_null_text_is_one_empty_chunk(spark):
    """NULL text must behave exactly like the documented empty-document
    case (one empty chunk) — not the non-ANSI (NULL, -1) phantom row
    that size(NULL) = -1 would otherwise produce, which no SQL engine
    reproduces."""
    from json_ld_spark.operators.corpus import chunk_documents

    df = spark.createDataFrame(
        [(1, None), (2, "a b")], "doc_id int, text string"
    )
    rows = {(r["doc_id"], r["chunk_idx"]): r
            for r in chunk_documents(df, chunk_tokens=4, overlap=1).collect()}
    assert rows[(1, 0)]["n_tokens"] == 0
    assert rows[(1, 0)]["chunk_text"] == ""
    assert rows[(2, 0)]["n_tokens"] == 2


def test_pack_chunks_string_ids_fall_back_to_hash(spark):
    """A non-numeric id column must bucket via xxhash64, not collapse
    into one NULL bucket through a silent string→number cast."""
    from json_ld_spark.operators.corpus import pack_chunks

    rows = [(f"doc-{i}", j, 60) for i in range(40) for j in (0, 1)]
    df = spark.createDataFrame(rows, "doc_id string, chunk_idx int, n_tokens int")
    out = pack_chunks(df, target_tokens=100, n_buckets=8).collect()
    buckets = {r["pack_bucket"] for r in out}
    assert None not in buckets
    assert len(buckets) > 1  # spread, not collapsed
    # packing invariants still hold per bucket
    by_bucket: dict = {}
    for r in out:
        by_bucket.setdefault(r["pack_bucket"], []).append(r)
    for bucket_rows in by_bucket.values():
        bucket_rows.sort(key=lambda r: (r["doc_id"], r["chunk_idx"]))
        cum = 0
        for r in bucket_rows:
            assert r["pack_id"] == cum // 100
            cum += r["n_tokens"]


def test_document_stats_staged_norm_equivalence(spark):
    """The staged-``_norm`` fast path must be value-identical to
    computing the fingerprints directly from the raw text (the HOF
    staging is a plan change, never a semantics change)."""
    from json_ld_spark.functions.words import normalized
    from json_ld_spark.operators.textstats import (
        fingerprint_md5,
        document_stats,
        shingle_fingerprint,
    )

    rows = [
        (1, "  The   CAT and\tthe dog  "),
        (2, "short"),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["doc_id"]: r for r in document_stats(df).collect()}
    want = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            fingerprint_md5(F.col("text")).alias("fp_md5"),
            shingle_fingerprint(normalized(F.lower(F.col("text")))).alias(
                "fp_shingle"
            ),
        ).collect()
    }
    for d in (1, 2, 3):
        assert got[d]["fp_md5"] == want[d]["fp_md5"]
        assert got[d]["fp_shingle"] == want[d]["fp_shingle"]


def test_ngram_blocking_recall(spark):
    """Recall evidence for the bottom-k gram blocking (the LSH and IVF
    paths both carry one; this closes the gap for n-grams): on a
    planted near-dup corpus, blocked pairs must recover >=90% of the
    EXACT all-pairs Jaccard >= 0.4 pairs. A 1-band min-gram block
    finds a pair with probability ~ its Jaccard (~50% at threshold) —
    the 4-band bottom-k sketch is what makes the operator usable."""
    from json_ld_spark.operators.dedup import ngram_jaccard_pairs

    # deterministic corpus: 30 base docs of 40 words, each with a
    # near-dup variant where every 6th word is mutated (~Jaccard 0.4-0.7
    # on 3-grams), plus unrelated filler docs
    rows = []
    for b in range(30):
        base_words = [f"w{(b * 37 + j * 11) % 211}" for j in range(40)]
        var_words = [
            (f"x{j}" if j % 6 == 0 else w) for j, w in enumerate(base_words)
        ]
        rows.append((b, " ".join(base_words)))
        rows.append((b + 1000, " ".join(var_words)))
    for f in range(20):
        rows.append((f + 5000,
                     " ".join(f"f{(f * 53 + j * 29) % 509}" for j in range(40))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    blocked = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, threshold=0.4).collect()
    }
    # exact all-pairs reference (no blocking): cross join on the tiny
    # corpus via a constant key
    from pyspark.sql import functions as FF

    norm = FF.trim(FF.regexp_replace(FF.lower(FF.col("text")), "\\s+", " "))
    words = FF.col("_words")
    grams = FF.array_distinct(
        FF.transform(
            FF.sequence(FF.lit(0), FF.greatest(FF.size(words) - 3, FF.lit(0))),
            lambda i: FF.concat_ws(" ", FF.slice(words, i + 1, 3)),
        )
    )
    g = (
        docs.select(FF.col("doc_id").alias("_id"),
                    FF.split(norm, " ").alias("_words"))
        .select("_id", grams.alias("_grams"))
        .localCheckpoint()
    )
    a, b2 = g.alias("a"), g.alias("b")
    inter = FF.size(FF.array_intersect("a._grams", "b._grams"))
    exact = {
        (r["id_a"], r["id_b"])
        for r in a.join(b2, FF.col("a._id") < FF.col("b._id"))
        .select(
            FF.col("a._id").alias("id_a"),
            FF.col("b._id").alias("id_b"),
            (inter / (FF.size("a._grams") + FF.size("b._grams") - inter))
            .alias("j"),
        )
        .filter(FF.col("j") >= 0.4)
        .collect()
    }
    assert exact, "planted corpus must contain true near-dup pairs"
    recall = len(blocked & exact) / len(exact)
    assert recall >= 0.9, f"blocking recall {recall:.2f} < 0.9 ({len(exact)} true pairs)"
    # precision of the verify step is exact by construction: every
    # emitted pair's Jaccard is computed on the full gram sets
    assert blocked <= exact | blocked  # sanity: no malformed ids


def test_pagerank_directed_dangling_mass(spark):
    """Directed mode: node 3 (no out-edges) would leak rank without
    the dangling correction. With it, total mass stays 1 (up to 6-dp
    rounding) and the ranks match the hand-computed power iteration."""
    from json_ld_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3)], "src int, dst int"
    )
    ranks = {
        r["node"]: r["rank"]
        for r in pagerank(edges, n_iters=2, symmetrize=False).collect()
    }
    assert set(ranks) == {1, 2, 3}
    assert abs(sum(ranks.values()) - 1.0) < 1e-4
    # hand replay, matching the recipe's rounding:
    # r0 = 1/3 each; iter: dang = r(3);
    # r(1) = .05 + .85*dang/3 ; r(2) = .05 + .85*(r1/2 + dang/3)
    # r(3) = .05 + .85*(r1/2 + r2 + dang/3)
    r = {1: round(1 / 3, 6), 2: round(1 / 3, 6), 3: round(1 / 3, 6)}
    for _ in range(2):
        dang = round(r[3], 6)
        new = {
            1: 0.15 / 3 + 0.85 * (0.0 + dang / 3),
            2: 0.15 / 3 + 0.85 * (r[1] / 2 + dang / 3),
            3: 0.15 / 3 + 0.85 * (r[1] / 2 + r[2] + dang / 3),
        }
        r = {k: round(v, 6) for k, v in new.items()}
    for node in (1, 2, 3):
        assert abs(ranks[node] - r[node]) < 1e-6, (node, ranks[node], r[node])
    # without the correction the mass visibly decays: the dangling
    # node's whole rank share is lost each round
    sym_free_mass = sum(
        0.15 / 3 + 0.85 * c for c in (0.0, r[1] / 2, r[1] / 2 + r[2])
    )
    assert sym_free_mass < 0.999  # the leak the correction repairs


def test_bpe_tokens_segmentation_properties(spark):
    """The vendored BPE is a segmentation: concatenating the token
    array reconstructs the normalized text exactly; empty/NULL docs
    tokenize to []; the frozen merge table is import-deterministic."""
    from json_ld_spark.functions.bpe import MERGES, bpe_tokens, train_merges, _train_corpus

    # frozen-table determinism: retraining reproduces the vendored table
    assert tuple(train_merges(_train_corpus(), 64)) == MERGES
    assert len(MERGES) == 64

    rows = [
        (1, "The quick brown fox and the lazy dog"),
        (2, "  multiple   spaces\tand TABS "),
        (3, ""),
        (4, None),
        (5, "punct, marks! (ok?) 123"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            bpe_tokens(F.coalesce(F.col("text"), F.lit(""))).alias("toks"),
            F.trim(
                F.regexp_replace(
                    F.lower(F.coalesce(F.col("text"), F.lit(""))), "\\s+", " "
                )
            ).alias("norm"),
        ).collect()
    }
    for d in (1, 2, 5):
        assert "".join(out[d]["toks"]) == out[d]["norm"]
        assert all(len(t) >= 1 for t in out[d]["toks"])
    for d in (1, 2):
        # multi-char tokens exist: the merges actually fire on English
        assert any(len(t) > 1 for t in out[d]["toks"]), out[d]["toks"]
    assert out[3]["toks"] == [] and out[4]["toks"] == []


def test_chunk_documents_bpe_windows(spark):
    """BPE chunk windows: overlap honored in TOKENS, concatenated
    window text is a substring of the normalized document, full
    coverage, empty doc yields one empty chunk."""
    from json_ld_spark.functions.bpe import bpe_tokens
    from json_ld_spark.operators.corpus import chunk_documents_bpe

    text = " ".join(
        "the quick brown fox jumps over the lazy dog".split() * 20
    )
    df = spark.createDataFrame(
        [(1, text), (2, "tiny"), (3, "")], "doc_id int, text string"
    )
    toks = df.filter("doc_id = 1").select(
        bpe_tokens(F.col("text")).alias("t")
    ).collect()[0]["t"]
    rows = {
        (r["doc_id"], r["chunk_idx"]): r
        for r in chunk_documents_bpe(df, chunk_tokens=32, overlap=8).collect()
    }
    norm = " ".join(text.split()).lower()
    # stride 24: window w covers tokens [24w, 24w+32)
    n_windows = max((len(toks) - 32 + 23) // 24, 0) + 1
    assert {i for (d, i) in rows if d == 1} == set(range(n_windows))
    for (d, i), r in rows.items():
        if d != 1:
            continue
        assert r["chunk_text"] == "".join(toks[i * 24 : i * 24 + 32])
        assert r["chunk_text"] in norm
        assert r["n_tokens"] == len(toks[i * 24 : i * 24 + 32])
    # overlap: consecutive windows share exactly 8 tokens
    assert rows[(1, 0)]["chunk_text"][-len("".join(toks[24:32])):] == "".join(toks[24:32])
    assert rows[(2, 0)]["n_tokens"] >= 1
    assert rows[(3, 0)]["n_tokens"] == 0 and rows[(3, 0)]["chunk_text"] == ""


def test_repetition_stats_hand_values(spark):
    from json_ld_spark.operators.textstats import repetition_stats

    rows = [
        (1, "a b a b a"),          # words=5, distinct=2; bigrams:
                                   # [a b, b a, a b, b a] -> top 2/4
        (2, "x y z"),              # no repetition: dup 0, top 1/2
        (3, ""),                   # empty: all zeros
        (4, None),                 # NULL behaves as empty
        (5, "w"),                  # single word: 0 bigrams
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r.asDict() for r in repetition_stats(df).collect()
    }
    assert got[1]["n_words"] == 5
    assert got[1]["dup_word_frac"] == pytest.approx(1 - 2 / 5)
    assert got[1]["n_bigrams"] == 4
    assert got[1]["top_bigram_frac"] == pytest.approx(0.5)
    assert got[2]["dup_word_frac"] == 0.0
    assert got[2]["top_bigram_frac"] == pytest.approx(0.5)
    for k in (3, 4):
        assert got[k] == {
            "doc_id": k, "n_words": 0, "dup_word_frac": 0.0,
            "n_bigrams": 0, "top_bigram_frac": 0.0,
        }
    assert got[5]["n_words"] == 1 and got[5]["n_bigrams"] == 0


def test_repetition_stats_degenerate_doc(spark):
    """A fully-repeated document — the case the Gopher rule exists
    to catch — scores dup_word_frac and top_bigram_frac near 1."""
    from json_ld_spark.operators.textstats import repetition_stats

    df = spark.createDataFrame(
        [(1, " ".join(["spam"] * 40))], "doc_id long, text string"
    )
    row = repetition_stats(df).collect()[0]
    assert row["dup_word_frac"] == pytest.approx(1 - 1 / 40)
    assert row["top_bigram_frac"] == 1.0


def test_contamination_planted_leak(spark):
    from json_ld_spark.operators.decontaminate import contamination

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            # quotes a 6-gram of the benchmark verbatim -> contaminated
            (1, "intro Alpha beta GAMMA delta epsilon zeta outro"),
            # shares only 5 consecutive words -> clean at n=6
            (2, "beta gamma delta epsilon zeta other words here"),
            # no overlap at all
            (3, "completely unrelated text with many plain words"),
            # shorter than n words -> clean by definition
            (4, "alpha beta gamma"),
            (5, None),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_hit_grams"], r["contaminated"])
        for r in contamination(docs, bench, n=6).collect()
    }
    assert got[1] == (1, True)          # case-insensitive match
    assert got[2] == (0, False)
    assert got[3] == (0, False)
    assert got[4] == (0, False)
    assert got[5] == (0, False)
    assert len(got) == 5                # clean docs are NOT dropped


def test_triangle_counts_known_graphs(spark):
    from json_ld_spark.operators.graph import triangle_counts

    # K4: every vertex sits in C(3,2) = 3 triangles
    k4 = [(a, b) for a in "abcd" for b in "abcd" if a < b]
    df = spark.createDataFrame(k4, "src string, dst string")
    got = {r["entity"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    assert got == {v: 3 for v in "abcd"}

    # star graph: a hub with many leaves closes no triangle at all
    star = [("hub", f"leaf{i}") for i in range(50)]
    assert triangle_counts(
        spark.createDataFrame(star, "src string, dst string")
    ).count() == 0

    # triangle + pendant edge: pendant vertex d has no triangles and
    # must be ABSENT (count table only lists participating vertices)
    tri = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")]
    got = {
        r["entity"]: r["n_triangles"]
        for r in triangle_counts(
            spark.createDataFrame(tri, "src string, dst string")
        ).collect()
    }
    assert got == {"a": 1, "b": 1, "c": 1}


def test_triangle_counts_direction_and_duplicates_ignored(spark):
    from json_ld_spark.operators.graph import triangle_counts

    # same triangle given with mixed directions and parallel edges
    e = [("a", "b"), ("b", "a"), ("c", "b"), ("a", "c"), ("a", "c")]
    got = {
        r["entity"]: r["n_triangles"]
        for r in triangle_counts(
            spark.createDataFrame(e, "src string, dst string")
        ).collect()
    }
    assert got == {"a": 1, "b": 1, "c": 1}


def test_stratified_sample_rates_and_stability(spark):
    from json_ld_spark.operators.corpus import stratified_sample

    rows = [(i, ("keep" if i % 3 == 0 else "drop" if i % 3 == 1 else "half"))
            for i in range(3000)]
    df = spark.createDataFrame(rows, "id long, src string")
    rates = {"keep": 1.0, "drop": 0.0, "half": 0.5}
    kept = stratified_sample(df, rates, "src", "id").collect()
    by_src = {}
    for r in kept:
        by_src.setdefault(r["src"], set()).add(r["id"])
    assert len(by_src.get("keep", ())) == 1000     # rate 1.0 keeps all
    assert "drop" not in by_src                    # rate 0.0 keeps none
    frac = len(by_src.get("half", ())) / 1000
    assert 0.4 < frac < 0.6                        # ~rate 0.5
    # append-stability: the kept set is unchanged when the corpus grows
    bigger = spark.createDataFrame(
        rows + [(i, "half") for i in range(3000, 4000)], "id long, src string"
    )
    kept2 = {
        r["id"] for r in stratified_sample(bigger, rates, "src", "id")
        .filter(F.col("id") < 3000).collect()
    }
    assert kept2 == {r["id"] for r in kept}
    # unlisted stratum uses the default rate
    extra = spark.createDataFrame([(1, "new")], "id long, src string")
    assert stratified_sample(extra, rates, "src", "id",
                             default_rate=1.0).count() == 1
    assert stratified_sample(extra, rates, "src", "id",
                             default_rate=0.0).count() == 0


def test_duplicated_ngram_fraction(spark):
    from json_ld_spark.operators.textstats import duplicated_ngram_fraction

    shared = "one two three four five"
    rows = [
        (1, shared + " alpha beta gamma"),
        (2, shared + " delta epsilon zeta"),   # shares the 5-gram with 1
        (3, "totally unique words here that repeat nowhere else at all"),
        (4, "tiny"),                            # < n words
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict()
           for r in duplicated_ngram_fraction(df, n=5).collect()}
    # docs 1 and 2: 4 grams each, exactly 1 (the shared prefix) dup'd
    for k in (1, 2):
        assert got[k]["n_grams"] == 4
        assert got[k]["n_dup_grams"] == 1
        assert got[k]["dup_ngram_frac"] == pytest.approx(0.25)
    assert got[3]["n_dup_grams"] == 0 and got[3]["dup_ngram_frac"] == 0.0
    assert got[4] == {"doc_id": 4, "n_grams": 0, "n_dup_grams": 0,
                      "dup_ngram_frac": 0.0}


def test_dedup_against_corpus(spark):
    from json_ld_spark.operators.corpus import dedup_against_corpus

    corpus = spark.createDataFrame(
        [(1, "existing document body"), (2, "another old document")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (10, "a genuinely new document"),
            (11, "Existing   document body  "),  # normalized dup of 1
            (12, "another old document"),        # exact dup of 2
        ],
        "doc_id long, text string",
    )
    kept = {r["doc_id"] for r in dedup_against_corpus(new, corpus).collect()}
    assert kept == {10}
    # fingerprint-index form: corpus passed as a 1-column fp table
    from json_ld_spark.operators.textstats import fingerprint_md5

    fp_index = corpus.select(fingerprint_md5(F.col("text")).alias("fp"))
    kept2 = {
        r["doc_id"]
        for r in dedup_against_corpus(new, fp_index).collect()
    }
    assert kept2 == {10}

def test_khop_minimal_distance_on_cycle(spark):
    from json_ld_spark.operators.graph import khop_neighbors

    # 5-cycle a-b-c-d-e-a, seed {a}, k=3: BFS must report each node at
    # its MINIMAL undirected distance (b,e at 1; c,d at 2) and must NOT
    # re-emit a node at a larger hop (the anti-join's whole job) —
    # a naive k-step path expansion reports c also at dist 3 via a-e-d-c.
    cyc = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", "a")]
    edges = spark.createDataFrame(cyc, "src string, dst string")
    seeds = spark.createDataFrame([("a",)], "e string")
    got = {
        (r["seed"], r["node"]): r["dist"]
        for r in khop_neighbors(edges, seeds, k=3).collect()
    }
    assert got == {
        ("a", "b"): 1, ("a", "e"): 1,
        ("a", "c"): 2, ("a", "d"): 2,
    }


def test_khop_multi_seed_disconnected(spark):
    from json_ld_spark.operators.graph import khop_neighbors

    # two components; each seed only reaches its own component, seeds
    # never appear as their own neighbors, direction is ignored
    e = [("a", "b"), ("b", "c"), ("x", "y")]
    edges = spark.createDataFrame(e, "src string, dst string")
    seeds = spark.createDataFrame([("a",), ("y",)], "e string")
    got = {
        (r["seed"], r["node"]): r["dist"]
        for r in khop_neighbors(edges, seeds, k=2).collect()
    }
    assert got == {
        ("a", "b"): 1, ("a", "c"): 2,
        ("y", "x"): 1,
    }

def test_label_propagation_two_communities(spark):
    from json_ld_spark.operators.graph import label_propagation

    # two triangles joined by one bridge edge: LPA must keep the two
    # dense clusters separate (CC would merge them via the bridge)
    e = [("a", "b"), ("b", "c"), ("a", "c"),
         ("d", "e"), ("e", "f"), ("d", "f"), ("c", "d")]
    df = spark.createDataFrame(e, "src string, dst string")
    got = {r["node"]: r["label"]
           for r in label_propagation(df, n_iters=3).collect()}
    assert got == {"a": "a", "b": "a", "c": "a",
                   "d": "c", "e": "c", "f": "c"}
    # determinism: same input, same labels
    again = {r["node"]: r["label"]
             for r in label_propagation(df, n_iters=3).collect()}
    assert got == again


def test_pmi_edge_weights_hand_computed(spark):
    import math

    from json_ld_spark.operators.graph import pmi_edge_weights

    # events: {x,y} {x,y} {x,z} {w}  (N=4; repeated mention of x in
    # one turn must NOT inflate the marginal)
    m = [("c1", 0, "x"), ("c1", 0, "x"), ("c1", 0, "y"),
         ("c1", 1, "x"), ("c1", 1, "y"),
         ("c2", 0, "x"), ("c2", 0, "z"), ("c3", 0, "w")]
    md = spark.createDataFrame(m, "conv_id string, turn_idx int, entity string")
    got = {(r["src"], r["dst"]): (r["n_cooccur"], r["pmi"])
           for r in pmi_edge_weights(md, n_events=4).collect()}
    # c(x)=3 c(y)=2 c(z)=1; pmi(x,y)=ln(2*4/(3*2)), pmi(x,z)=ln(1*4/(3*1))
    assert got == {
        ("x", "y"): (2, round(math.log(8 / 6), 6)),
        ("x", "z"): (1, round(math.log(4 / 3), 6)),
    }

def test_bigram_lm_scores_hand_computed(spark):
    import math

    from json_ld_spark.operators.textstats import bigram_lm_scores

    # corpus: "a b a b", "a b", "x" (no bigram), "" (empty)
    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "x"), (4, "")],
        "doc_id long, text string",
    )
    # V=3 (a,b,x); bigrams: d1=(a,b),(b,a),(a,b) d2=(a,b)
    # c2(a,b)=3 c2(b,a)=1; c1(a)=3 c1(b)=1
    got = {r["doc_id"]: (r["n_bigrams"], r["lm_score"])
           for r in bigram_lm_scores(docs, vocab_size=3).collect()}
    p_ab = math.log((3 + 1) / (3 + 3))
    p_ba = math.log((1 + 1) / (1 + 3))
    assert got[1] == (3, round((2 * p_ab + p_ba) / 3, 6))
    assert got[2] == (1, round(p_ab, 6))
    # short/empty docs surface with 0 bigrams and 0.0, never dropped
    assert got[3] == (0, 0.0)
    assert got[4] == (0, 0.0)


def test_assign_splits_stable_and_partition_independent(spark):
    from json_ld_spark.operators.corpus import assign_splits

    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    s1 = {r["k"]: r["split"] for r in assign_splits(df, "k").collect()}
    # append stability: the same keys inside a bigger table keep their split
    s2 = {
        r["k"]: r["split"]
        for r in assign_splits(
            spark.range(0, 4000).repartition(13).withColumnRenamed("id", "k"),
            "k",
        ).collect()
    }
    assert all(s2[k] == v for k, v in s1.items())
    # all three splits non-empty at rough proportions
    from collections import Counter
    c = Counter(s1.values())
    assert set(c) == {"train", "val", "test"}
    assert c["train"] > c["val"] and c["train"] > c["test"]


def test_leakage_safe_splits_drops_contaminated_train(spark):
    from json_ld_spark.operators.corpus import (
        assign_splits,
        leakage_safe_splits,
    )

    docs = spark.createDataFrame(
        [(i, f"unique text {i}") for i in range(200)],
        "doc_id long, text string",
    )
    base = {r["doc_id"]: r["split"]
            for r in assign_splits(docs, "doc_id").collect()}
    an_eval = next(k for k, v in base.items() if v != "train")
    a_train = next(k for k, v in base.items() if v == "train")
    # plant: a TRAIN doc carrying an eval doc's exact content (modulo
    # whitespace/case — the fingerprint normalization must catch it)
    leaky_id = next(
        k for k in range(1000, 3000)
        if assign_splits(
            spark.createDataFrame([(k,)], "doc_id long"), "doc_id"
        ).first()["split"] == "train"
    )
    planted = spark.createDataFrame(
        [(leaky_id, f"  UNIQUE   text {an_eval} ")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r["split"]
           for r in leakage_safe_splits(docs.unionByName(planted),
                                        "doc_id").collect()}
    assert leaky_id not in out          # contaminated train row dropped
    assert out[an_eval] == base[an_eval]  # eval rows pass through
    assert out[a_train] == "train"       # clean train rows survive


def test_upsample_by_epochs_counts_and_stability(spark):
    from json_ld_spark.operators.corpus import upsample_by_epochs

    rows = [(i, ("x3" if i % 4 == 0 else "x25" if i % 4 == 1
                 else "half" if i % 4 == 2 else "other"))
            for i in range(4000)]
    df = spark.createDataFrame(rows, "id long, src string")
    weights = {"x3": 3.0, "x25": 2.5, "half": 0.5}
    up = upsample_by_epochs(df, weights, "src", "id").collect()
    per_key: dict = {}
    for r in up:
        per_key.setdefault((r["id"], r["src"]), []).append(r["copy_idx"])
    # integer weight: exactly 3 copies, copy_idx = 0..2
    for (i, src), idxs in per_key.items():
        if src == "x3":
            assert sorted(idxs) == [0, 1, 2]
        elif src == "x25":
            assert sorted(idxs) in ([0, 1], [0, 1, 2])
        elif src == "half":
            assert idxs == [0]
        else:
            assert idxs == [0]          # default 1.0 epoch
    # fractional weights realized in aggregate
    n_x25 = sum(len(v) for (i, s), v in per_key.items() if s == "x25")
    assert 2.3 * 1000 < n_x25 < 2.7 * 1000
    n_half = sum(1 for (i, s) in per_key if s == "half")
    assert 0.4 * 1000 < n_half < 0.6 * 1000
    # default-epoch rows appear exactly once
    assert sum(1 for (i, s) in per_key if s == "other") == 1000
    # append-stability: a grown corpus never changes old copy counts
    bigger = spark.createDataFrame(
        rows + [(i, "half") for i in range(4000, 5000)],
        "id long, src string",
    )
    up2 = {}
    for r in upsample_by_epochs(bigger, weights, "src", "id").collect():
        if r["id"] < 4000:
            up2.setdefault((r["id"], r["src"]), []).append(r["copy_idx"])
    assert {k: sorted(v) for k, v in up2.items()} == {
        k: sorted(v) for k, v in per_key.items()
    }


def test_audio_window_features_match_numpy(spark):
    import numpy as np

    from json_ld_spark.operators.multimodal import (
        _audio_pcm,
        _audio_samples_n,
        audio_window_features,
        synthesize_decodable_media,
    )

    media = synthesize_decodable_media(spark, n=30)
    rows = {
        (r["media_id"], r["win_idx"]): r
        for r in audio_window_features(media, win=400).collect()
    }
    checked = 0
    for mid in range(30):
        if mid % 3 != 1:
            continue
        arr = _audio_pcm(mid, _audio_samples_n(mid)).astype(np.int64)
        for wi in range(0, len(arr), 400):
            seg = arr[wi:wi + 400]
            neg = seg < 0
            r = rows[(mid, wi // 400)]
            assert r["n_samples"] == len(seg)
            assert r["sum_sq"] == int((seg * seg).sum())
            assert r["n_zero_cross"] == int((neg[1:] != neg[:-1]).sum())
            assert (r["min_value"], r["max_value"]) == (seg.min(), seg.max())
            checked += 1
    assert checked >= 10
    # non-audio rows contribute nothing
    assert all(k[0] % 3 == 1 for k in rows)


def test_exact_percentiles_hand_values(spark):
    import pytest as _pytest

    from json_ld_spark.operators.stats import exact_percentiles

    # group g: values 1..10 — nearest-rank: p50 -> rank 5 (value 5),
    # p90 -> rank 9, p99 -> rank ceil(9.9)=10, p100 -> rank 10
    rows = [("g", v) for v in range(1, 11)] + [("h", 7), ("h", None)]
    df = spark.createDataFrame(rows, "src string, x int")
    out = {
        (r["src"], r["permille"]): (r["n"], r["value"])
        for r in exact_percentiles(
            df, "src", "x", permille=(500, 900, 990, 1000)
        ).collect()
    }
    assert out[("g", 500)] == (10, 5)
    assert out[("g", 900)] == (10, 9)
    assert out[("g", 990)] == (10, 10)
    assert out[("g", 1000)] == (10, 10)
    # singleton group (NULL excluded from n): every point is the value
    assert out[("h", 500)] == (1, 7)
    assert out[("h", 1000)] == (1, 7)
    # the float trap this operator exists to avoid: 700‰ of 10 values
    # must be rank 7 (0.7*10 = 7.000000000000001 would ceil to 8)
    out7 = {
        r["permille"]: r["value"]
        for r in exact_percentiles(
            df.filter(F.col("src") == "g"), "src", "x", permille=(700,)
        ).collect()
    }
    assert out7[700] == 7
    with _pytest.raises(ValueError):
        exact_percentiles(df, "src", "x", permille=(0,))


def test_hll_and_kmv_estimates_track_exact(spark):
    from json_ld_spark.operators.sketches import hll_distinct, kmv_distinct

    # 3000 distinct values in group A, 40 in group B (below k → KMV exact)
    rows = [("A", i) for i in range(3000)] + [("B", 10_000 + i) for i in range(40)]
    df = spark.createDataFrame(rows, "g string, v long")
    hll = {r["g"]: r for r in hll_distinct(df, "g", "v", b=10).collect()}
    assert hll["A"]["m"] == 1024
    # standard error for m=1024 is ~3.25%; allow 4 sigma
    assert abs(hll["A"]["est"] - 3000) / 3000 < 0.13
    assert abs(hll["B"]["est"] - 40) / 40 < 0.2
    kmv = {r["g"]: r for r in kmv_distinct(df, "g", "v", k=64).collect()}
    assert kmv["B"]["k_used"] == 40 and kmv["B"]["est"] == 40.0
    assert kmv["A"]["k_used"] == 64
    assert abs(kmv["A"]["est"] - 3000) / 3000 < 0.5

    # duplicates must not move either sketch (distinct semantics)
    dup = df.union(df)
    hll2 = {r["g"]: r["s_scaled"] for r in hll_distinct(dup, "g", "v", b=10).collect()}
    assert hll2["A"] == hll["A"]["s_scaled"]
    kmv2 = {r["g"]: r["kth_hash"] for r in kmv_distinct(dup, "g", "v", k=64).collect()}
    assert kmv2["A"] == kmv["A"]["kth_hash"]


def test_adamic_adar_star_and_anti_join(spark):
    import math
    from decimal import Decimal

    from json_ld_spark.operators.graph import adamic_adar

    edges = spark.createDataFrame(
        [("z", "a"), ("z", "b"), ("z", "c")], "src string, dst string"
    )
    out = {(r["u"], r["v"]): r for r in adamic_adar(edges).collect()}
    # star center z has degree 3: all 3 leaf pairs score 1/ln(3)
    w = Decimal(str(round(1.0 / math.log(3.0), 9)))
    assert set(out) == {("a", "b"), ("a", "c"), ("b", "c")}
    assert all(r["n_common"] == 1 and r["aa_score"] == w for r in out.values())

    # adjacent pairs are anti-joined out
    edges2 = edges.union(
        spark.createDataFrame([("a", "b")], "src string, dst string")
    )
    out2 = {(r["u"], r["v"]) for r in adamic_adar(edges2).collect()}
    assert ("a", "b") not in out2 and ("a", "c") in out2

    # hub cap: degree-3 middle dropped when max_degree=2
    assert adamic_adar(edges, max_degree=2).count() == 0


def test_funnel_strict_ordering(spark):
    from datetime import datetime as dt

    from json_ld_spark.operators.events import funnel_conversion

    rows = [
        # u1 completes in order
        (1, "view", dt(2024, 1, 1, 10)), (1, "click", dt(2024, 1, 1, 11)),
        (1, "purchase", dt(2024, 1, 1, 12)),
        # u2 clicked BEFORE viewing: click must not count
        (2, "click", dt(2024, 1, 1, 9)), (2, "view", dt(2024, 1, 1, 10)),
        # u3 views only
        (3, "view", dt(2024, 1, 1, 8)),
        # u4 never views: absent from the funnel
        (4, "purchase", dt(2024, 1, 1, 8)),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp"
    )
    out = {r["user"]: r for r in
           funnel_conversion(ev, ["view", "click", "purchase"]).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1]["reached"] == 3 and out[1]["t3"] == dt(2024, 1, 1, 12)
    assert out[2]["reached"] == 1 and out[2]["t2"] is None
    assert out[3]["reached"] == 1


def test_weighted_sample_deterministic_and_biased(spark):
    from json_ld_spark.operators.corpus import weighted_sample

    # 40 heavy docs (weight 10000) vs 400 light (weight 10): heavies
    # dominate the sample despite being 10% of rows
    rows = [(i, 10_000) for i in range(40)] + [
        (100 + i, 10) for i in range(400)
    ]
    df = spark.createDataFrame(rows, "doc_id long, n_chars long")
    s1 = weighted_sample(df, k=32)
    got1 = [(r["rank"], r["doc_id"]) for r in s1.orderBy("rank").collect()]
    got2 = [(r["rank"], r["doc_id"])
            for r in weighted_sample(df.repartition(13), k=32)
            .orderBy("rank").collect()]
    assert got1 == got2  # partitioning-independent
    heavy = sum(1 for _, d in got1 if d < 40)
    assert heavy >= 24  # weight bias actually expressed
    # zero/negative weights excluded
    df0 = df.union(spark.createDataFrame([(999, 0)], "doc_id long, n_chars long"))
    assert all(r["doc_id"] != 999
               for r in weighted_sample(df0, k=440).collect())


def test_embedding_quantize_bounds_and_constant_dim(spark):
    from json_ld_spark.operators.similarity import embedding_quantize

    rows = [
        (1, [0.0, 5.0, -1.0]),
        (2, [1.0, 5.0, 3.0]),
        (3, [2.0, 5.0, 7.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in embedding_quantize(df).collect()}
    # dim0 spans [0,2] → codes 0/128/255 (round(1*255/2)=128);
    # dim1 constant → 0; dim2 spans [-1,7] → 0/128(3→4/8)/255
    assert (out[1]["min_q"], out[1]["max_q"]) == (0, 0)
    assert out[2]["sum_q"] == 128 + 0 + 128
    assert out[3]["sum_q"] == 255 + 0 + 255
    assert all(r["n_dims"] == 3 for r in out.values())


def test_pca_top_component_finds_planted_direction(spark):
    import math
    import random

    from json_ld_spark.operators.similarity import pca_top_component

    # cloud with dominant variance along a fixed direction u in R^8
    rng = random.Random(3)
    u = [1.0, -1.0, 2.0, 0.5, -0.5, 1.5, -2.0, 1.0]
    rows = []
    for i in range(300):
        a = rng.gauss(0, 10.0)  # dominant axis
        vec = [a * uj + rng.gauss(0, 0.5) for uj in u]
        rows.append((i, vec))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    v = {r["dim"]: r["v"] for r in pca_top_component(df, 300).collect()}
    assert set(v) == set(range(8))
    # independent reference: numpy/LAPACK eigh of the SAME quantized
    # covariance (min-max scaling changes the direction vs raw u, so
    # the comparison target must be the quantized-space eigenvector)
    import numpy as np

    x = np.array([vec for _, vec in rows], dtype=np.float32)
    lo, hi = x.min(0), x.max(0)
    qm = np.floor(
        (x.astype(np.float64) - lo) * 255.0 / (hi - lo) + 0.5
    ).astype(np.int64)
    cm = 300 * (qm.T @ qm) - np.outer(qm.sum(0), qm.sum(0))
    top = np.linalg.eigh(cm)[1][:, -1]
    vv = np.array([v[d] for d in range(8)], dtype=np.float64)
    cos = abs(vv @ top) / np.linalg.norm(vv)
    assert cos > 0.999, cos
    # deterministic under repartition
    v2 = {r["dim"]: r["v"]
          for r in pca_top_component(df.repartition(7), 300).collect()}
    assert v2 == v


def test_pack_turns_order_and_straddle(spark):
    from json_ld_spark.operators.corpus import pack_turns

    rows = [
        ("c1", 0, "user", "a b c"),            # 3 tokens, cum 3 → w0
        ("c1", 1, "assistant", "d e f g"),     # 4, prefix 3 → w0
        ("c1", 2, "user", "h i j k l m n o"),  # 8, prefix 7 → w1 (straddles)
        ("c1", 3, "assistant", None),          # NULL → 0 tokens, prefix 15 → w3
        ("c2", 0, "user", "x"),                # independent conversation → w0
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string"
    )
    out = {(r["conv_id"], r["turn_idx"]): (r["n_tokens"], r["window_idx"])
           for r in pack_turns(df, budget_tokens=5).collect()}
    assert out[("c1", 0)] == (3, 0)
    assert out[("c1", 1)] == (4, 0)   # exclusive prefix 3 < 5
    assert out[("c1", 2)] == (8, 1)   # prefix 7 → window 1, spills
    assert out[("c1", 3)] == (0, 3)   # prefix 15 → window 3
    assert out[("c2", 0)] == (1, 0)   # per-conversation reset


def test_train_bpe_distributed_matches_reference_trainer(spark):
    """Cross-check the distributed trainer against an independent
    pure-Python word-level BPE trainer on a planted corpus."""
    from json_ld_spark.operators.bpe_train import train_bpe_distributed

    texts = [
        "the cat sat on the mat",
        "the cat ate the rat",
        "that hat is flat",
        "chatter about the matter",
    ] * 3 + [None, "", "   "]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = [
        (r["merge_idx"], r["lhs"], r["rhs"], r["pair_weight"])
        for r in train_bpe_distributed(docs, n_merges=6).collect()
    ]

    # independent reference: dict-based word-frequency BPE
    from collections import Counter

    wc = Counter(
        w
        for t in texts
        if t
        for w in t.lower().split()
    )
    segs = {w: list(w) for w in wc}
    expect = []
    for k in range(6):
        pairs = Counter()
        for w, seg in segs.items():
            for pair in zip(seg, seg[1:]):
                pairs[pair] += wc[w]
        if not pairs:
            break
        best_n = max(pairs.values())
        a, b = min(p for p, c in pairs.items() if c == best_n)
        expect.append((k, a, b, best_n))
        for w, seg in segs.items():
            out, i = [], 0
            while i < len(seg):
                if i + 1 < len(seg) and seg[i] == a and seg[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(seg[i])
                    i += 1
            segs[w] = out
    assert got == expect


def test_train_bpe_distributed_top_v_cap_is_deterministic(spark):
    from json_ld_spark.operators.bpe_train import train_bpe_distributed

    docs = spark.createDataFrame(
        [(i, "aa bb aa cc dd ee aa bb") for i in range(5)],
        "doc_id long, text string",
    )
    # cap to 2 words: only 'aa' (15) and 'bb' (10) survive; the first
    # merge must come from within those words only
    rows = train_bpe_distributed(docs, n_merges=2, top_v=2).collect()
    assert [(r["lhs"], r["rhs"]) for r in rows] == [("a", "a"), ("b", "b")]
    assert [r["pair_weight"] for r in rows] == [15, 10]


def test_url_canonicalization_rules(spark):
    import pyspark.sql.functions as F

    from json_ld_spark.functions.urls import (
        canonicalize_url,
        registrable_domain,
        url_parts,
    )

    cases = [
        # (raw, canonical, domain)
        ("HTTP://Example.COM:80/a/b/?b=2&a=1#frag",
         "http://example.com/a/b?a=1&b=2", "example.com"),
        ("https://www.News.co.uk:443/", "https://www.news.co.uk/",
         "news.co.uk"),
        ("https://blog.Github.IO:8443/Path",
         "https://blog.github.io:8443/Path", "blog.github.io"),
        ("http://x.org?utm_source=a&utm_campaign=b", "http://x.org/",
         "x.org"),
        ("http://shop.example.com.au/p//", "http://shop.example.com.au/p",
         "example.com.au"),
        ("not a url", "", ""),
    ]
    df = spark.createDataFrame(
        [(i, r) for i, (r, _, _) in enumerate(cases)], "i long, url string"
    )
    h = url_parts(F.col("url"))["host"]
    got = {
        r["i"]: (r["c"], r["d"])
        for r in df.select(
            "i",
            canonicalize_url(F.col("url")).alias("c"),
            F.when(h == "", F.lit("")).otherwise(
                registrable_domain(h)
            ).alias("d"),
        ).collect()
    }
    for i, (_, want_c, want_d) in enumerate(cases):
        assert got[i] == (want_c, want_d), (i, got[i])


def test_url_canonicalize_plan_is_jvm_only(spark):
    plan = __import__("__spark_entry__").queries()["url_canonicalize"](
        spark, "/root/testdata/sf0.001"
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # per-row expressions: no shuffle
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


def test_html_to_text_rules(spark):
    import pyspark.sql.functions as F

    from json_ld_spark.functions.html_text import (
        html_links,
        html_title,
        html_to_text,
    )

    cases = [
        # script content (with a '<' inside) must vanish entirely
        ("<p>a</p><script>if (1<2) alert('x')</script><p>b</p>", "a b"),
        # style blocks too, case-insensitive, multiline
        ("<STYLE>\np{}\n</STYLE>hello", "hello"),
        # comments, including multiline
        ("x<!-- one\ntwo -->y", "x y"),
        # double-encoded entity decodes ONE level
        ("&amp;lt;tag&amp;gt;", "&lt;tag&gt;"),
        # plain entities decode
        ("a &lt;b&gt; &quot;c&quot; &#39;d&#39;&nbsp;e &amp; f",
         "a <b> \"c\" 'd' e & f"),
        # two scripts: non-greedy match must not eat the text between
        ("<script>1</script>MID<script>2</script>", "MID"),
    ]
    df = spark.createDataFrame(
        [(i, h) for i, (h, _) in enumerate(cases)], "i long, h string"
    )
    got = {
        r["i"]: r["t"]
        for r in df.select(
            "i", html_to_text(F.col("h")).alias("t")
        ).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)

    one = spark.createDataFrame(
        [(
            '<title>T &amp; U</title><a href="u1">x</a><A HREF="u2">y</A>',
        )],
        "h string",
    ).select(
        html_title(F.col("h")).alias("title"),
        html_links(F.col("h")).alias("links"),
    ).collect()[0]
    assert one["title"] == "T & U"
    assert one["links"] == ["u1", "u2"]


def test_negative_samples_properties(spark):
    from json_ld_spark.operators.kg_train import negative_samples

    pos = spark.createDataFrame(
        [(f"h{i}", f"e{i % 7}") for i in range(40)],
        "head string, tail string",
    )
    out = negative_samples(pos, k=3, n_buckets=4)
    rows = out.collect()
    # ≤ k negatives per head, k_idx within range
    from collections import Counter

    per_head = Counter(r["head"] for r in rows)
    assert all(c <= 3 for c in per_head.values())
    assert all(0 <= r["k_idx"] < 3 for r in rows)
    # filtered: no negative collides with the head's true tail
    true_pairs = {(f"h{i}", f"e{i % 7}") for i in range(40)}
    assert all((r["head"], r["neg_tail"]) not in true_pairs for r in rows)
    # negatives come from the tail vocabulary
    vocab = {f"e{j}" for j in range(7)}
    assert all(r["neg_tail"] in vocab for r in rows)
    # deterministic across reruns
    again = sorted(map(tuple, negative_samples(pos, k=3, n_buckets=4).collect()))
    assert again == sorted(map(tuple, rows))


def test_k_core_peels_chain_keeps_cycle(spark):
    from json_ld_spark.operators.graph import k_core

    # 6-node path (fully unravels under k=2) + 4-cycle (2-core: stays)
    edges = [(f"p{i}", f"p{i+1}") for i in range(5)] + [
        ("c0", "c1"), ("c1", "c2"), ("c2", "c3"), ("c3", "c0"),
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["entity"]: r["degree"]
        for r in k_core(df, k=2, n_rounds=6).collect()
    }
    assert got == {"c0": 2, "c1": 2, "c2": 2, "c3": 2}
    # fewer rounds than the peel chain: fixed-round recipe leaves the
    # unfinished middle (documented semantics, what the oracle replays)
    partial = {
        r["entity"]
        for r in k_core(df, k=2, n_rounds=1).collect()
    }
    assert {"c0", "c1", "c2", "c3"} <= partial and "p0" not in partial


def test_graph_operators_read_the_simple_graph(spark):
    """A parallel edge, a reversed duplicate and a self-loop change
    nothing: k_core counts each neighbour once (the duplicated path
    a-b-c peels away, a self-loop keeps no node alive), and
    sssp_bounded relaxes over the cheapest of the parallel edges."""
    from json_ld_spark.operators.graph import k_core, sssp_bounded

    edges = [("a", "b"), ("a", "b"), ("b", "a"), ("b", "c"), ("c", "c"),
             ("x", "y"), ("y", "z"), ("z", "x")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["entity"]: r["degree"] for r in k_core(df, k=2, n_rounds=3).collect()}
    assert got == {"x": 2, "y": 2, "z": 2}

    weighted = spark.createDataFrame(
        [("a", "b", 10), ("a", "b", 3), ("b", "a", 7), ("b", "c", 1),
         ("c", "c", 0)],
        "src string, dst string, w long",
    )
    seeds = spark.createDataFrame([("a",)], "e string")
    rows = [(r.node, r.dist) for r in sssp_bounded(weighted, seeds, k=2).collect()]
    assert sorted(rows) == [("a", 0), ("b", 3), ("c", 4)]


def test_jaccard_prefix_join_is_lossless(spark):
    """Prefix filtering is a COMPLETE candidate generator: the join
    must return exactly the brute-force all-pairs answer."""
    from itertools import combinations

    from json_ld_spark.operators.dedup import jaccard_prefix_join

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over a lazy dog",      # near-dup
        "the quick brown fox leaps over the lazy dog",    # near-dup
        "completely different words entirely here now",
        "completely different words entirely here today",  # near-dup
        "unrelated solitary document",
        "",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    theta = 0.5
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_prefix_join(docs, threshold=theta).collect()
    }
    sets = {i: set(t.lower().split()) for i, t in enumerate(texts)}
    expect = {}
    for a, b in combinations(range(len(texts)), 2):
        sa, sb = sets[a], sets[b]
        if not sa or not sb:
            continue
        j = round(len(sa & sb) / len(sa | sb), 6)
        if j >= theta:
            expect[(a, b)] = j
    assert got == expect, (got, expect)


def test_loss_mask_spans_offsets(spark):
    from json_ld_spark.operators.corpus import loss_mask_spans

    turns = spark.createDataFrame(
        [
            ("c1", 0, "user", "Hello there"),       # 11 chars
            ("c1", 1, "assistant", "Hi!  How's it"),  # norm: "hi! how's it" 12
            ("c1", 2, "user", "fine"),               # 4
            ("c1", 3, "assistant", "good"),          # 4
            ("c2", 0, "assistant", "solo"),          # 4
        ],
        "conv_id string, turn_idx int, role string, text string",
    )
    got = {
        (r["conv_id"], r["turn_idx"]): (
            r["start_char"], r["end_char"], r["n_chars"]
        )
        for r in loss_mask_spans(turns).collect()
    }
    # c1 linearized: "hello there|hi! how's it|fine|good" (| = 1-char sep)
    assert got[("c1", 1)] == (12, 24, 12)
    assert got[("c1", 3)] == (30, 34, 4)
    assert got[("c2", 0)] == (0, 4, 4)
    assert ("c1", 0) not in got and ("c1", 2) not in got


def test_cms_estimate_upper_bounds_truth(spark):
    from collections import Counter

    from json_ld_spark.operators.sketches import cms_estimate, cms_registers

    vals = [f"k{i % 23}" for i in range(500)] + ["hot"] * 200
    df = spark.createDataFrame([(v,) for v in vals], "key string")
    regs = cms_registers(df, "key", w=64, d=4)
    probes = spark.createDataFrame(
        [(k,) for k in set(vals)], "key string"
    )
    est = {
        r["key"]: r["est"]
        for r in cms_estimate(regs, probes, "key", w=64, d=4).collect()
    }
    truth = Counter(vals)
    # one-sided guarantee: est >= exact, every key present
    assert set(est) == set(truth)
    assert all(est[k] >= truth[k] for k in truth)
    # total register mass per row == n rows
    per_row = {
        r["row_idx"]: r["s"]
        for r in regs.groupBy("row_idx")
        .agg(__import__("pyspark.sql.functions", fromlist=["F"]).sum(
            "count").alias("s"))
        .collect()
    }
    assert all(v == len(vals) for v in per_row.values())


def test_bloom_no_false_negatives(spark):
    from json_ld_spark.operators.sketches import bloom_bits, bloom_contains

    keys = [(f"u{i}",) for i in range(200)]
    df = spark.createDataFrame(keys, "key string")
    bits = bloom_bits(df, "key", m_bits=4096, k=4)
    probes = spark.createDataFrame(
        keys + [(f"absent{i}",) for i in range(50)], "key string"
    )
    got = {
        r["key"]: r["present"]
        for r in bloom_contains(bits, probes, "key", m_bits=4096, k=4).collect()
    }
    # every inserted key must be present — no false negatives, ever
    assert all(got[f"u{i}"] for i in range(200))
    # with 200 keys in 4096 bits, most absent probes must be negative
    fp = sum(1 for i in range(50) if got[f"absent{i}"])
    assert fp <= 5, fp


def test_luhn_valid_known_numbers(spark):
    import pyspark.sql.functions as F

    from json_ld_spark.operators.textstats import luhn_valid

    cases = [
        ("4111111111111111", True),    # classic Visa test number
        ("4111111111111112", False),
        ("5500005555555559", True),
        ("5500005555555550", False),
        ("1234567812345670", True),    # check digit 0 case
    ]
    df = spark.createDataFrame(cases, "card string, want boolean")
    got = df.select("card", "want", luhn_valid(F.col("card")).alias("g"))
    assert all(r["g"] == r["want"] for r in got.collect())


def test_simhash_sig_table_matches_expression_form(spark):
    """The codegen exploded-rows signature (simhash_sig_table) is
    pinned bit for bit: these signatures are the ones the interpreted
    HOF vote fold (the reference form it replaced inside
    simhash_neardup_pairs for the ~30× speedup) computed over the same
    documents, where both forms agreed."""
    from json_ld_spark.operators.dedup import simhash_sig_table

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog!"),
            (3, "completely different text about spark codegen"),
            (4, "x"),       # shorter than the shingle width
            (5, ""),        # empty text → single empty shingle
            (6, "aaaaaaaaaaaaaaaaaaaaaaaa"),  # one repeated shingle
        ],
        "doc_id long, text string",
    )
    table = {r["_id"]: r["_sh"] for r in simhash_sig_table(docs).collect()}
    assert table == {
        1: 258242237693574193,
        2: 267249436948315193,
        3: 733264414688782554,
        4: 710810379057940483,
        5: 955282973525019424,
        6: 525662436583546893,
    }


def test_default_samplers_match_duckdb_md5_bucket(spark):
    """With default arguments, the hash samplers select exactly the
    rows DuckDB selects with the md5 family bucket
    CAST(concat('0x', substring(md5(key || salt), 1, 15)) AS BIGINT)
    mod 1e6 — the same rule the driver oracles replay."""
    import duckdb

    from json_ld_spark.operators.corpus import (
        assign_splits,
        deterministic_sample,
        stratified_sample,
        upsample_by_epochs,
    )

    rows = [(k, ("a", "b", "c")[k % 3]) for k in range(600)]
    df = spark.createDataFrame(rows, "k long, src string")
    con = duckdb.connect()
    con.execute("CREATE TABLE t (k BIGINT, src VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)

    def duck(sql):
        return sorted(tuple(r) for r in con.execute(sql).fetchall())

    def bucket(salt):
        return (
            "(CAST(concat('0x', substring(md5(CAST(k AS VARCHAR) || "
            f"'{salt}'), 1, 15)) AS BIGINT) % 1000000)"
        )

    b7, b_up = bucket("-7"), bucket("-up11")
    got = sorted((r["k"],) for r in deterministic_sample(df, 0.3, "k").collect())
    assert got == duck(f"SELECT k FROM t WHERE {b7} < 300000")

    got = sorted((r["k"], r["split"]) for r in assign_splits(df, "k").collect())
    assert got == duck(
        f"SELECT k, CASE WHEN {b7} < 800000 THEN 'train' "
        f"WHEN {b7} < 900000 THEN 'val' ELSE 'test' END FROM t"
    )

    rates = {"a": 0.5, "b": 0.2}
    got = sorted(
        (r["k"],) for r in stratified_sample(df, rates, "src", "k").collect()
    )
    assert got == duck(
        f"SELECT k FROM t WHERE {b7} < CASE src WHEN 'a' THEN 500000 "
        "WHEN 'b' THEN 200000 ELSE 0 END"
    )

    epochs = {"a": 2.5, "b": 0.5}
    got = sorted(
        (r["k"], r["copy_idx"])
        for r in upsample_by_epochs(df, epochs, "src", "k").collect()
    )
    assert got == duck(
        "SELECT k, unnest(range(n)) FROM ("
        "  SELECT k, CASE src WHEN 'a' THEN 2 WHEN 'b' THEN 0 ELSE 1 END"
        f"    + CASE WHEN {b_up} < CASE src WHEN 'a' THEN 500000"
        "      WHEN 'b' THEN 500000 ELSE 0 END THEN 1 ELSE 0 END AS n"
        "  FROM t)"
    )


def test_simhash_hot_bucket_cap(spark):
    """A cluster of k identical documents must NOT produce k² pairs:
    the per-(block, bucket) row cap bounds it at C(cap, 2). This is
    the guard that keeps the band self-join linear at corpus scale."""
    from json_ld_spark.operators.dedup import simhash_neardup_pairs

    docs = spark.createDataFrame(
        [(i, "exactly the same document body repeated many times")
         for i in range(300)],
        "doc_id long, text string",
    )
    pairs = simhash_neardup_pairs(docs)
    n = pairs.count()
    assert n == 64 * 63 // 2, n  # the 64 smallest ids, all 4 blocks agree
    kept = pairs.select("id_a", "id_b").collect()
    assert max(max(r["id_a"], r["id_b"]) for r in kept) == 63


def test_banded_lsh_hot_bucket_cap(spark):
    """Same guard on the embedding path: k identical vectors collide
    in every band's bucket; candidates stay ≤ C(cap, 2)."""
    from json_ld_spark.operators.dedup import (
        embedding_neardup_pairs_banded,
        neardup_lsh_planes,
    )

    vecs = spark.createDataFrame(
        [(i, [1.0] * 16) for i in range(200)],
        "vec_id long, embedding array<float>",
    )
    planes = neardup_lsh_planes(6, 3, 16)
    pairs = embedding_neardup_pairs_banded(vecs, planes, threshold=0.5)
    assert pairs.count() == 64 * 63 // 2


def test_ngram_hot_bucket_cap(spark):
    """Same guard on the n-gram path: 100 identical documents share
    every bottom-k gram hash; candidates stay C(cap, 2) = 2,016, not
    C(100, 2) = 4,950."""
    docs = spark.createDataFrame(
        [(i, "exactly the same document body repeated many times")
         for i in range(100)],
        "doc_id long, text string",
    )
    pairs = ngram_jaccard_pairs(docs, threshold=0.5)
    assert pairs.count() == 64 * 63 // 2
    assert max(r["id_b"] for r in pairs.collect()) == 63


def test_banded_lsh_planted_recall(spark):
    """Adaptive multi-band sign-LSH must find ≥0.9 of the planted
    near-duplicates at the sf0.01 gate corpus (deterministic planes +
    deterministic data → this is a fixed number, measured 9/10; the
    r4 single-band design was the quadratic path this replaced)."""
    import __spark_entry__ as E

    pairs = E.q_embedding_neardup_lsh(spark, "/root/testdata/sf0.01")
    found = {
        (r["id_a"], r["id_b"])
        for r in pairs.collect()
        if r["id_b"] - r["id_a"] == E._NEARDUP_PLANT_OFFSET
    }
    planted = {
        (i, i + E._NEARDUP_PLANT_OFFSET) for i in range(0, 500, 50)
    }
    recall = len(found & planted) / len(planted)
    assert recall >= 0.9, (recall, sorted(planted - found))


def test_bm25_retrieval_planted(spark):
    """Hand-checkable retrieval: for the query 'apple banana', the doc
    containing BOTH terms must outrank single-term docs; a duplicated
    query term counts once (distinct-term semantics); and score_ppm is
    an exact integer (the unit that makes the cross-term sum immune to
    float add-order)."""
    import math

    from json_ld_spark.operators.textstats import bm25_retrieval

    docs = spark.createDataFrame(
        [
            (1, "apple banana cherry"),
            (2, "apple apple apple"),
            (3, "banana date"),
            (4, "cherry date elderberry fig"),
        ],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame(
        [(10, "apple banana"), (20, "banana banana"), (30, "missingterm")],
        "query_id int, query_text string",
    )
    n_docs, total_len = 4, 3 + 3 + 2 + 4
    out = bm25_retrieval(docs, queries, n_docs, total_len, k=10)
    rows = {(r["query_id"], r["doc_id"]): r for r in out.collect()}

    # query 10: doc 1 matches both terms, docs 2/3 one each
    assert rows[(10, 1)]["n_terms"] == 2
    assert rows[(10, 1)]["rank"] == 1
    assert {r["doc_id"] for (q, _), r in rows.items() if q == 10} == {1, 2, 3}
    # duplicated query term counts once: query 20 on doc 3 equals the
    # single banana term score of query 10 on doc 3
    assert rows[(20, 3)]["score_ppm"] == rows[(10, 3)]["score_ppm"]
    assert rows[(20, 3)]["n_terms"] == 1
    # no rows for a vocabulary miss
    assert not any(q == 30 for (q, _) in rows)
    # exact integer ppm reproduces the closed-form Okapi score
    k1, b = 1.2, 0.75
    avgdl = total_len / n_docs
    idf = math.log((n_docs - 2 + 0.5) / (2 + 0.5) + 1.0)  # df=2 for both

    def term_ppm(tf, dl):
        return round(
            idf * (tf * (k1 + 1))
            / (tf + k1 * (1 - b + b * dl / avgdl)) * 1e6
        )

    # doc 1 (dl=3): apple tf=1 + banana tf=1, summed AFTER per-term
    # rounding — exactly what the operator computes
    assert abs(
        rows[(10, 1)]["score_ppm"] - (term_ppm(1, 3.0) + term_ppm(1, 3.0))
    ) <= 2  # ≤1 ulp-of-round per term
    # doc 3 (dl=2): banana only
    assert abs(rows[(10, 3)]["score_ppm"] - term_ppm(1, 2.0)) <= 1


def test_bm25_retrieval_broadcast_plan(spark):
    """The corpus side must join the query fan-out via BROADCAST —
    the corpus never re-shuffles for the query join."""
    from json_ld_spark.operators.textstats import bm25_retrieval

    docs = spark.createDataFrame(
        [(i, f"term{i % 5} filler") for i in range(100)],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame(
        [(1, "term1 term2")], "query_id int, query_text string"
    )
    out = bm25_retrieval(docs, queries, 100, 200)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan


def test_fuzzy_join_delete1_planted(spark):
    """Every edit-distance-≤1 pair must be found (deletion, insertion,
    substitution, exact), distance-2 pairs must not."""
    from json_ld_spark.operators.joins import fuzzy_join_delete1

    left = spark.createDataFrame(
        [
            (1, "jonathan"),   # exact match of right 10
            (2, "jonathn"),    # deletion → dist 1 to right 10
            (3, "jonathann"),  # insertion → dist 1
            (4, "jonathon"),   # substitution → dist 1
            (5, "jonthn"),     # dist 2 → must NOT match
            (6, "zzz"),        # no candidate at all
        ],
        "id_a long, name_a string",
    )
    right = spark.createDataFrame(
        [(10, "jonathan"), (11, "xxxxx")], "id_b long, name_b string"
    )
    out = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in fuzzy_join_delete1(left, right).collect()
    }
    assert out == {(1, 10): 0, (2, 10): 1, (3, 10): 1, (4, 10): 1}


def test_fuzzy_join_delete1_hot_bucket_cap(spark):
    """k rows sharing one name must not produce k² candidates: the
    per-variant row cap bounds each side at max_bucket."""
    from json_ld_spark.operators.joins import fuzzy_join_delete1

    left = spark.createDataFrame(
        [(i, "same name") for i in range(100)], "id_a long, name_a string"
    )
    right = spark.createDataFrame(
        [(i, "same name") for i in range(100)], "id_b long, name_b string"
    )
    n = fuzzy_join_delete1(left, right, max_bucket=8).count()
    assert n == 8 * 8, n  # 8 survivors per side, all cross-match


class TestSemDedup:
    def test_planted_twin_removed_by_source(self, spark):
        from json_ld_spark.operators.dedup import semdedup
        from json_ld_spark.operators.similarity import train_ivf_codebook

        # 3 well-separated directions + a near-copy of each; the copy
        # must land in its source's cluster and be pruned by it
        base = {
            10: [1.0, 0.0, 0.0, 0.1],
            20: [0.0, 1.0, 0.0, 0.1],
            30: [0.0, 0.0, 1.0, 0.1],
        }
        rows = [(i, [float(x) for x in v]) for i, v in base.items()]
        rows += [
            (i + 100, [float(x) * 0.9 + 0.01 for x in v])
            for i, v in base.items()
        ]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        cents = train_ivf_codebook(emb, n_centroids=3, n_iters=2, dim=4)
        out = {
            r["vec_id"]: r
            for r in semdedup(emb, cents, threshold=0.9).collect()
        }
        assert len(out) == 6
        for src in (10, 20, 30):
            twin = out[src + 100]
            assert twin["removed"] == 1
            assert twin["kept_by"] == src
            assert twin["centroid_id"] == out[src]["centroid_id"]
            assert out[src]["removed"] == 0
            assert out[src]["kept_by"] is None

    def test_below_threshold_pairs_survive(self, spark):
        from json_ld_spark.operators.dedup import semdedup
        from json_ld_spark.operators.similarity import train_ivf_codebook

        # orthogonal-ish vectors in ONE cluster: nothing removed
        rows = [
            (1, [1.0, 0.0, 0.05, 0.0]),
            (2, [0.0, 1.0, 0.05, 0.0]),
        ]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        cents = train_ivf_codebook(emb, n_centroids=1, n_iters=1, dim=4)
        out = semdedup(emb, cents, threshold=0.9).collect()
        assert all(r["removed"] == 0 for r in out)


class TestExactSubstringSpans:
    def test_shared_span_merged(self, spark):
        from json_ld_spark.operators.dedup import exact_substring_spans

        shared = " ".join(f"s{i}" for i in range(8))  # 8 shared words
        docs = spark.createDataFrame(
            [
                (1, f"a1 a2 {shared} a3 a4"),
                (2, f"b1 {shared} b2 b3 b4 b5"),
                # doc 3: no cross-doc 4-gram
                (3, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"),
            ],
            "doc_id long, text string",
        )
        out = exact_substring_spans(docs, n=4, min_docs=2)
        spans = {r["doc_id"]: r for r in out.collect()}
        # 5 overlapping 4-gram hits merge into ONE span per doc
        assert set(spans) == {1, 2}
        assert (spans[1]["span_start"], spans[1]["span_end"]) == (3, 11)
        assert (spans[2]["span_start"], spans[2]["span_end"]) == (2, 10)
        assert spans[1]["span_words"] == 8

    def test_within_doc_repeat_is_not_a_span(self, spark):
        from json_ld_spark.operators.dedup import exact_substring_spans

        rep = "x1 x2 x3 x4"
        docs = spark.createDataFrame(
            [(1, f"{rep} filler1 filler2 {rep}"), (2, "y1 y2 y3 y4 y5")],
            "doc_id long, text string",
        )
        # the repeated 4-gram lives in ONE doc only -> no spans
        assert exact_substring_spans(docs, n=4, min_docs=2).count() == 0

    def test_disjoint_hits_two_spans(self, spark):
        from json_ld_spark.operators.dedup import exact_substring_spans

        s1, s2 = "p1 p2 p3 p4", "q1 q2 q3 q4"
        gap = " ".join(f"g{i}" for i in range(6))
        docs = spark.createDataFrame(
            [(1, f"{s1} {gap} {s2}"), (2, f"z1 {s1} z2"), (3, f"{s2} z3")],
            "doc_id long, text string",
        )
        out = exact_substring_spans(docs, n=4, min_docs=2)
        d1 = sorted(
            (r["span_start"], r["span_end"])
            for r in out.filter(F.col("doc_id") == 1).collect()
        )
        # two separated islands in doc 1: words 1-5 and words 11-15
        assert d1 == [(1, 5), (11, 15)]
