"""Benchmark decontamination: flag training documents that share a
word n-gram with an evaluation/benchmark set (the GPT-3 appendix-C /
Dolma decontamination rule, re-expressed as DataFrame transforms).

The real-world shape: the benchmark side is SMALL (eval suites are
thousands of prompts, not billions of documents) and the corpus side
is the 100-TB training set. The plan therefore:

  - builds the benchmark's distinct n-gram set once and BROADCASTS it
    (an eval suite's gram set fits in memory by construction — this is
    the one place a forced broadcast is the correct call, unlike the
    unbounded TF-IDF dictionary),
  - explodes corpus documents into distinct n-grams in a narrow map
    stage and hash-joins against the broadcast set — the corpus side
    never shuffles for the match itself,
  - aggregates hits by doc_id (partial aggregation applies; only
    MATCHED rows — rare by design — reach the shuffle),
  - left-joins the hit counts back onto the doc spine so clean
    documents appear with n_hit_grams = 0 (silent drops of clean docs
    would invert the filter's meaning downstream).

Both sides are ``(doc_id, text)`` tables. Tokenization is textstats':
lower-cased ``words`` of functions/words.py, NULL text as '' (empty
docs have no grams). Documents shorter than ``n`` words contribute no
grams and are therefore clean by definition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from json_ld_spark.functions.words import ngrams, words


def _staged_ngrams(df: DataFrame, n: int, *keep: str) -> DataFrame:
    """``keep`` columns plus ``_g``, the distinct word n-grams of
    ``text``; the words array is staged first, as ``ngrams`` asks."""
    staged = df.select(*keep, words(F.lower(F.col("text"))).alias("_w"))
    return staged.select(
        *keep, F.array_distinct(ngrams(F.col("_w"), n)).alias("_g")
    )


def benchmark_ngrams(bench: DataFrame, n: int = 6) -> DataFrame:
    """Distinct n-gram set of the benchmark/eval corpus: one ``gram``
    column. Small by construction; the caller broadcasts it."""
    return (
        _staged_ngrams(bench, n)
        .select(F.explode("_g").alias("gram")).distinct()
    )


def contamination(docs: DataFrame, bench: DataFrame, n: int = 6) -> DataFrame:
    """(doc_id, n_hit_grams, contaminated) for every document in
    ``docs``: n_hit_grams = how many of the document's DISTINCT word
    n-grams appear anywhere in the benchmark set; contaminated =
    n_hit_grams > 0.

    Counting distinct grams (not occurrences) makes the score
    insensitive to within-document repetition — a doc that repeats
    one leaked prompt 100× is the same single leak as one that quotes
    it once, which is the decision the downstream drop-rule needs.
    """
    grams = benchmark_ngrams(bench, n=n)
    doc_grams = _staged_ngrams(docs, n, "doc_id").select(
        "doc_id", F.explode("_g").alias("gram")
    )
    hits = (
        doc_grams.join(F.broadcast(grams), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hit_grams"))
    )
    return (
        docs.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_hit_grams"), F.lit(0)).alias("n_hit_grams"),
            (F.coalesce(F.col("n_hit_grams"), F.lit(0)) > 0).alias(
                "contaminated"
            ),
        )
    )


def semantic_decontaminate(
    corpus: DataFrame,
    eval_set: DataFrame,
    threshold: float = 0.5,
) -> DataFrame:
    """(vec_id, max_cos, top_eval_id, contaminated): embedding-space
    decontamination — flag training items whose embedding is too
    close to ANY benchmark item's embedding (the semantic complement
    of the n-gram rule above: catches paraphrased eval leakage that
    shares no 8-gram).

    Same scale shape as the n-gram pass: the eval side is small by
    construction and is force-BROADCAST; the corpus scans once
    through a codegen'd dot-product against every eval vector
    (|eval|·d flops per row, no shuffle), then one groupBy on the
    corpus id — which the broadcast join preserves, so only the
    (id, cos) pairs move. For eval suites too big to broadcast, use
    the IVF/LSH batch-serving joins (operators/similarity.py) as the
    prefilter instead. ``corpus`` is ``(vec_id, embedding)`` and
    ``eval_set`` ``(eval_id, embedding)``. ``top_eval_id`` is the
    argmax with min-id tie-break on the 4-dp rounded cosine —
    deterministic, so a SQL oracle gates the whole pass."""
    from json_ld_spark.functions.columns import dot, l2_norm

    c = corpus.select(
        F.col("vec_id").alias("_id"),
        F.col("embedding").alias("_v"),
        l2_norm(F.col("embedding")).alias("_n"),
    )
    e = eval_set.select(
        F.col("eval_id").alias("_eid"),
        F.col("embedding").alias("_ev"),
        l2_norm(F.col("embedding")).alias("_en"),
    )
    cos = F.round(
        dot(F.col("_v"), F.col("_ev")) / (F.col("_n") * F.col("_en")), 4
    )
    return (
        c.crossJoin(F.broadcast(e))
        .select("_id", F.col("_eid"), cos.alias("_cos"))
        .groupBy("_id")
        .agg(
            F.max("_cos").alias("max_cos"),
            F.min_by(
                "_eid",
                F.struct(
                    (-F.col("_cos")).alias("c"), F.col("_eid").alias("e")
                ),
            ).alias("top_eval_id"),
        )
        .select(
            F.col("_id").alias("vec_id"),
            "max_cos",
            "top_eval_id",
            (F.col("max_cos") >= threshold).alias("contaminated"),
        )
    )
