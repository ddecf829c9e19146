"""Physical-plan assertions: the optimizations we designed for must
actually appear in the executed plan (filter pushdown, broadcast
joins, TakeOrderedAndProject for top-k, pinned partitioning for the
emission stage)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import explain_str

SF = "/root/testdata/sf0.001"


def test_parquet_filter_pushdown_and_pruning(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") <= "1995-01-01").select(
        "l_orderkey", "l_quantity"
    )
    plan = explain_str(q)
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]
    # column pruning: ReadSchema mentions only what we need
    read_schema = plan.split("ReadSchema")[1][:300]
    assert "l_extendedprice" not in read_schema


def test_broadcast_join_for_dimension(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    n = spark.read.parquet(f"{SF}/nation.parquet")
    s = spark.read.parquet(f"{SF}/supplier.parquet")
    q = (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .count()
    )
    plan = explain_str(q)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_topk_uses_take_ordered_not_global_sort(spark):
    """The brute-force ANN query's order + limit plans as
    TakeOrderedAndProject: a per-partition top-k, never a global sort
    of the embedding table."""
    import __spark_entry__ as E

    plan = explain_str(E.queries()["ann_brute_topk"](spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_emission_partitioning_is_pinned(spark):
    """The repartition feeding the ordering window must survive into
    the physical plan as a user-specified exchange (AQE must not be
    free to coalesce the Python stage to one task)."""
    from json_ld_spark.operators.jsonld_ops import with_stable_turn_order
    from json_ld_spark.sources.transcripts import synthesize_transcripts

    t = synthesize_transcripts(spark, n_convs=5)
    plan = explain_str(with_stable_turn_order(t, n_partitions=16))
    assert "REPARTITION_BY_NUM" in plan or "hashpartitioning(conv_id" in plan


def test_sink_bucket_is_the_hash_partition_id(spark):
    """The pipeline's conv_bucket is Spark's own hash-partition id of
    conv_id: after repartition(8, conv_id) every row sits in the
    partition equal to its bucket at 8 buckets. The sink's file count
    (≤ lcm(partitions, buckets)) rests on this."""
    from json_ld_spark.pipeline import _conv_bucket
    from json_ld_spark.sources.transcripts import synthesize_transcripts

    t = synthesize_transcripts(spark, n_convs=50).repartition(8, "conv_id")
    ids = t.select(F.spark_partition_id().alias("p"), _conv_bucket(8).alias("b"))
    assert ids.count() > 0
    assert ids.filter(F.col("p") != F.col("b")).count() == 0


def test_emission_is_jvm_native_with_one_exchange(spark):
    """Triple emission runs no Python: no MapInPandas / Arrow / batch
    Python UDF node, and the conv_id repartition feeding the ordering
    window is the plan's only shuffle."""
    from json_ld_spark.operators.jsonld_ops import emit_triples
    from json_ld_spark.sources.transcripts import synthesize_transcripts

    t = synthesize_transcripts(spark, n_convs=5, shuffle=False)
    plan = explain_str(emit_triples(t))
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan
    tree = plan.split("\n\n(1) ")[0]
    assert tree.count("Exchange") == 1


def test_mention_template_has_no_lambda(spark):
    """Mention counts and triples are compiled expressions: no
    transform/flatten/filter higher-order function or lambda (which
    Spark evaluates outside whole-stage codegen) is left anywhere in
    the emission plan, ``prepare_turns`` included, and the conv_id
    exchange is still its only shuffle."""
    from json_ld_spark.operators.jsonld_ops import emit_triples
    from json_ld_spark.sources.transcripts import synthesize_transcripts

    t = synthesize_transcripts(spark, n_convs=5, shuffle=False)
    plan = explain_str(emit_triples(t))
    for fn in ("transform(", "flatten(", "filter(", "lambdafunction"):
        assert fn not in plan
    tree = plan.split("\n\n(1) ")[0]
    assert tree.count("Exchange") == 1


def _codegen_stages(node) -> list:
    """The WholeStageCodegenExec nodes of an executed (adaptive) plan."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _codegen_stages(node.executedPlan())
    if name.endswith("QueryStageExec"):
        return _codegen_stages(node.plan())
    found = [node] if name == "WholeStageCodegenExec" else []
    children = node.children()
    for i in range(children.size()):
        found += _codegen_stages(children.apply(i))
    return found


@pytest.mark.parametrize("ordered", [True, False])
@pytest.mark.parametrize("source", ["documents", "synthesized"])
def test_emission_codegen_methods_stay_jit_compilable(spark, ordered, source):
    """HotSpot never JIT-compiles a method of more than 8000 bytecode
    bytes (HugeMethodLimit): a whole-stage-codegen stage past it runs
    interpreted. Every stage of the executed emission plan stays under."""
    from json_ld_spark.operators.jsonld_ops import emit_triples
    from json_ld_spark.sources.transcripts import (
        derive_transcripts_from_documents,
        synthesize_transcripts,
    )

    t = (derive_transcripts_from_documents(spark, SF) if source == "documents"
         else synthesize_transcripts(spark, n_convs=20, shuffle=False))
    df = emit_triples(t, ordered=ordered)
    assert df.collect()
    codegen = spark._jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    stages = _codegen_stages(df._jdf.queryExecution().executedPlan())
    assert stages
    for stage in stages:
        stats = codegen.compile(stage.doCodeGen()._2())._2()
        assert stats.maxMethodCodeSize() < 8000, (
            stage.codegenStageId(), stats.maxMethodCodeSize())


def test_exact_dedup_single_shuffle(spark):
    from json_ld_spark.operators.dedup import exact_dedup_groups

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = explain_str(exact_dedup_groups(docs))
    # exactly one exchange in the plan tree, with map-side combine
    tree = plan.split("(1) Scan")[0]
    assert tree.count("Exchange") == 1
    assert "partial_count" in plan and "partial_min" in plan


def test_ivf_assign_no_window_exchange(spark):
    """Nearest-centroid assignment must be a max_by aggregate with
    map-side partial aggregation — a Window.partitionBy(vec_id) would
    shuffle the whole N×C cross-join output (unbounded exchange at
    100-TB vector counts)."""
    from json_ld_spark.operators.similarity import build_ivf_centroids, ivf_assign

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = explain_str(ivf_assign(emb, build_ivf_centroids(emb)))
    assert "Window" not in plan
    assert "partial_max_by" in plan


def test_ivf_batch_corpus_side_never_shuffles(spark):
    """The batch-ANN candidate join must broadcast the probe set —
    the corpus-sized assigned table reaches the join with no exchange
    of its own (the whole point of the serving-join shape)."""
    from json_ld_spark.operators.similarity import (
        ivf_assign,
        ivf_topk_batch,
        train_ivf_codebook,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = train_ivf_codebook(emb, n_centroids=4, n_iters=1)
    assigned = ivf_assign(emb, cents).localCheckpoint()
    queries = emb.limit(3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("query_vec"),
    )
    plan = explain_str(ivf_topk_batch(assigned, cents, queries, k=5))
    # candidate join is broadcast (probes are the small side) …
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # … and the only exchange below the ranking window partitions by
    # query_id (the per-query reduce), never by the corpus key
    window_part = plan.split("Window")[-1]
    assert "query_id" in window_part


def test_document_assembly_partitioning_is_pinned(spark):
    """The per-conversation assembly stage must keep an explicit
    user repartition in the plan — AQE's byte-based coalescing would
    otherwise collapse the CPU-heavy Python stage to a few tasks
    (measured 3× on frame_conversations at sf0.1)."""
    from json_ld_spark.operators.output_docs import frame_conversations

    t = spark.createDataFrame(
        [("c1", 0, "http://e/s", "http://e/p", "v", False,
          None, None, None)],
        "conv_id string, turn_idx int, subj string, pred string, "
        "obj_value string, obj_is_iri boolean, obj_datatype string, "
        "obj_language string, graph string",
    )
    plan = explain_str(frame_conversations(t))
    assert "REPARTITION_BY_NUM" in plan or "RepartitionByExpression" in plan


def test_minhash_pairs_emit_only_ids(spark):
    """Candidate pairs shuffle only (id, id) — text/shingles must not
    survive into the join output schema (100 TB rule: never shuffle
    document bodies)."""
    from json_ld_spark.operators.canonicalize import (
        hashed_shingle_sets,
        minhash_candidate_pairs,
    )

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma")],
        "doc_id long, text string",
    )
    pairs = minhash_candidate_pairs(hashed_shingle_sets(df, "doc_id", "text"))
    assert set(pairs.columns) == {"id_a", "id_b"}


def test_tfidf_dictionary_join_not_forced_broadcast(spark):
    """The TF-IDF scoring join must NOT carry a forced broadcast hint:
    the doc-frequency side is one row per DISTINCT corpus term —
    unbounded at web scale — so with both broadcast thresholds
    disabled the join must degrade to a shuffle join. A forced
    ``F.broadcast`` ignores thresholds, so this test fails if the
    hint ever comes back."""
    from json_ld_spark.operators.textstats import tfidf_top_terms

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    keys = ["spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold"]
    old = {}
    for k in keys:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
    try:
        for k in keys:
            spark.conf.set(k, "-1")
        plan = explain_str(tfidf_top_terms(docs, k=3))
        assert "BroadcastHashJoin" not in plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_hll_is_single_exchange_per_level(spark):
    """The sketch must stay a two-level hash aggregation: one shuffle
    to (group, bucket), one to (group) — a plan that shuffles raw
    values (e.g. a distinct first) would not scale."""
    from json_ld_spark.operators.sketches import hll_distinct

    ev = spark.read.parquet(f"{SF}/events.parquet")
    plan = explain_str(hll_distinct(ev, "event_type", "user_id", b=8))
    # formatted plans list each node in the tree AND the detail
    # section — count only tree nodes
    assert plan.count("+- Exchange") <= 2
    assert "HashAggregate" in plan


def test_weighted_sample_uses_take_ordered(spark):
    from json_ld_spark.operators.corpus import weighted_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = explain_str(weighted_sample(docs, k=64))
    assert "TakeOrderedAndProject" in plan


def test_quantize_broadcasts_ranges_not_vectors(spark):
    """The d-row range table broadcasts; the vector side must never
    sort-merge (a SortMergeJoin here would shuffle every vector)."""
    from json_ld_spark.operators.similarity import embedding_quantize

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = explain_str(embedding_quantize(emb))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pca_iterations_broadcast_the_vector(spark):
    """Every power-iteration join (cov x v, w x norm) is against a
    tiny broadcast side — no sort-merge join may appear anywhere in
    the 3-iteration plan."""
    from json_ld_spark.operators.similarity import pca_top_component

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = explain_str(pca_top_component(emb, emb.count()))
    assert "SortMergeJoin" not in plan


def test_kwic_broadcasts_surface_table(spark):
    """The gazetteer side of the KWIC join is broadcast; the corpus
    never shuffles for it."""
    import __spark_entry__ as E

    plan = explain_str(E.q_mention_kwic(spark, SF))
    assert "Broadcast" in plan
    assert "SortMergeJoin" not in plan


def test_bm25_no_forced_broadcast_of_doclen(spark):
    """Only the |Q|-row df table carries a broadcast hint; the
    doc-length join must be left to the planner (it is corpus-sized
    at web scale)."""
    from json_ld_spark.operators.textstats import bm25_scores

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = bm25_scores(docs, ["data", "row"], 500, 50_000)
    plan = explain_str(q)
    # the tiny dfx side broadcast appears; beyond that we only pin
    # that the plan builds (AQE decides the dl join from real sizes)
    assert "Broadcast" in plan


def test_quality_classifier_is_jvm_only_no_shuffle(spark):
    """Per-row inference: no Exchange, no Python eval in the plan."""
    from json_ld_spark.operators.textstats import quality_classifier_scores

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = explain_str(quality_classifier_scores(docs))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


def test_negative_samples_broadcasts_sizes_not_vocab(spark):
    """The B-row bucket-size table is broadcast; the vocabulary pick
    join stays an equi-join on (bucket, local_rank)."""
    from json_ld_spark.operators.kg_train import negative_samples

    pos = spark.createDataFrame(
        [(f"h{i}", f"e{i % 5}") for i in range(30)],
        "head string, tail string",
    )
    plan = explain_str(negative_samples(pos, k=2, n_buckets=4))
    assert "Broadcast" in plan


def test_robots_rules_join_is_broadcast(spark):
    """robots rule tables are ~KB per host: the URL-filter join must
    broadcast the rule side, never shuffle the URL side for it."""
    import __spark_entry__ as E

    plan = explain_str(E.queries()["robots_filter"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_bucketed_join_is_shuffle_free(spark):
    """bucketBy both sides on the join key with equal bucket counts:
    the recurring-join shuffle is paid once at write time; the join
    itself must plan with ZERO Exchange."""
    from json_ld_spark.plans.bucketing import bucketed_join, write_bucketed

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    # force sort-merge joins: at test sizes the planner would pick a
    # broadcast join and hide the property under test (a 100 TB
    # triple-table join is never broadcast)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(
            docs.select("doc_id", "source"), "bkt_docs_t", "doc_id", 8
        )
        write_bucketed(
            docs.select("doc_id", "n_chars"), "bkt_len_t", "doc_id", 8
        )
        plan = explain_str(
            bucketed_join(spark, "bkt_docs_t", "bkt_len_t", "doc_id")
        )
        assert "hashpartitioning" not in plan, plan
        # and the un-bucketed twin DOES shuffle — the assertion above
        # is meaningful, not vacuous
        a = docs.select("doc_id", "source")
        b = docs.select("doc_id", "n_chars")
        assert "hashpartitioning" in explain_str(a.join(b, "doc_id"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_docs_t")
        spark.sql("DROP TABLE IF EXISTS bkt_len_t")


# symmetric pagerank(n_iters=3) on the graph below, in the tests'
# local[4] session: 29 jobs while every round also joined the degree
# table and left-joined the node table, 17 since the out-degree rides
# on the simple graph's edge table
_PAGERANK_JOBS_BEFORE = 29


def test_pagerank_rounds_join_once(spark):
    """Each symmetric PageRank round is one join and one groupBy: the
    out-degree rides on the checkpointed edge table and every node has
    an in-edge, so no round joins a degree or node table."""
    from json_ld_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e"),
         ("e", "f"), ("b", "a"), ("f", "f")],
        "src string, dst string",
    )
    sc = spark.sparkContext
    sc.setJobGroup("pagerank-jobs", "pagerank-jobs")
    try:
        pagerank(edges, n_iters=3).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n = len(sc.statusTracker().getJobIdsForGroup("pagerank-jobs"))
    assert n < _PAGERANK_JOBS_BEFORE, n
