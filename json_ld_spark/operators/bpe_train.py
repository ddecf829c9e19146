"""Distributed BPE tokenizer TRAINING over a document corpus.

The vendored encoder in functions/bpe.py applies a frozen merge
table; this operator LEARNS one from the corpus — the other half of
a production tokenizer pipeline, and the step that actually needs a
cluster (the classic published algorithm: Sennrich, Haddow & Birch,
"Neural Machine Translation of Rare Words with Subword Units", ACL
2016 — public knowledge).

Word-frequency formulation — the scale-correct shape:

  1. ONE corpus pass builds the (word, count) table: explode the
     normalized text to words, groupBy word. This is the only stage
     that touches the full corpus; everything after runs on the
     vocabulary table, which Heaps' law keeps sublinear in corpus
     size — and a deterministic top-V cap (count desc, word asc)
     bounds it outright, matching standard practice of training the
     tokenizer on a capped/sampled vocabulary.
  2. Each of the K merge rounds runs on that small table: extract
     adjacent symbol pairs per word (JVM ``zip_with`` over two
     ``slice``s — no Python), weight by word count, groupBy pair,
     take the argmax with a deterministic tie-break (max weight,
     then lexicographically smallest (a, b)). The 1-row collect per
     round is a recipe parameter, the same pattern as PageRank's N.
  3. Apply the winning merge to every word's segmentation with the
     SAME delimited string replace the encoder uses
     (``⟨a⟩⟨b⟩ → ⟨ab⟩`` — leftmost non-overlapping, which IS BPE's
     pair-merge semantics), and iterate.

Unlike functions/bpe.py's frozen corpus-level table (where spaces
are ordinary symbols), training here is per-word: merges never cross
word boundaries — the published algorithm. Both are valid BPE
variants; the docstring distinction keeps them from being confused.

Determinism / oracle story: every round's argmax is replayable, so
the DuckDB oracle replays the WHOLE training loop CTE-for-CTE —
w0 → m1 → w1 → … → mK — and the driver hash-gates the resulting
merge table including each round's winning weight.

100 TB judgment: stage 1 is one map-side-combinable shuffle keyed on
word (the same shape as any word count); the K training rounds shuffle
only the capped vocab table (V rows), so the iteration cost is
independent of corpus size. The growing ``replace`` chain over K
rounds is O(K²) column work on V rows — negligible for practical K;
for K in the hundreds, cut lineage every few rounds with
``localCheckpoint`` exactly as the CC/PageRank loops do.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from json_ld_spark.functions.bpe import _L, _R, _normalized
from json_ld_spark.functions.words import words


def train_bpe_distributed(
    docs: DataFrame,
    n_merges: int = 8,
    top_v: int = 4096,
) -> DataFrame:
    """Learn ``n_merges`` BPE merges from the ``text`` column; one row
    per merge: (merge_idx, lhs, rhs, pair_weight) in training order,
    where pair_weight is the summed word-count weight of the winning
    pair at selection time."""
    spark = docs.sparkSession
    # stage 1: the one full-corpus pass — word counts, then the
    # deterministic top-V cap. NULL text has no words (no rows).
    counts = (
        docs.select(
            F.explode(words(_normalized(F.col("text")))).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), "word")
        .limit(top_v)
    )
    # seq: the word's current segmentation, delimiter-wrapped chars —
    # identical representation to the encoder's
    vocab = counts.select(
        "word",
        "c",
        F.concat(
            F.lit(_L),
            F.array_join(F.split("word", ""), f"{_R}{_L}"),
            F.lit(_R),
        ).alias("seq"),
    )
    vocab = vocab.persist()
    vocab.count()  # materialize the corpus pass once

    merges: "list[tuple[int, str, str, int]]" = []
    cur = vocab
    for k in range(n_merges):
        toks = F.split(
            F.col("seq").substr(F.lit(2), F.length("seq") - 2), f"{_R}{_L}"
        )
        n = F.size(toks)
        pairs = (
            cur.select(
                "c",
                F.explode(
                    F.zip_with(
                        F.slice(toks, 1, F.greatest(n - 1, F.lit(0))),
                        F.slice(toks, 2, F.greatest(n - 1, F.lit(0))),
                        lambda a, b: F.struct(a.alias("a"), b.alias("b")),
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("c").alias("w"))
        )
        top = pairs.orderBy(F.desc("w"), "a", "b").limit(1).collect()
        if not top:
            break  # vocabulary fully merged before n_merges rounds
        a, b, w = top[0]["a"], top[0]["b"], int(top[0]["w"])
        merges.append((k, a, b, w))
        cur = cur.withColumn(
            "seq",
            F.replace(
                F.col("seq"),
                F.lit(f"{_L}{a}{_R}{_L}{b}{_R}"),
                F.lit(f"{_L}{a}{b}{_R}"),
            ),
        )

    vocab.unpersist()
    return spark.createDataFrame(
        merges, "merge_idx int, lhs string, rhs string, pair_weight bigint"
    )


def encode_with_merges(
    text_col: Column, merges: "list[tuple[str, str]]"
) -> Column:
    """array<string> of tokens from applying ``merges`` (in training
    order) to the delimiter-wrapped normalized text — the parametric
    twin of functions/bpe.bpe_tokens, for CORPUS-TRAINED merge tables
    instead of the frozen one. Word-frequency-trained merges never
    contain the space symbol, so the delimited replace can never
    match across a word boundary (the '⟨ ⟩' space token breaks the
    pattern) — applying them to the full wrapped text equals applying
    them per word."""
    s = _normalized(text_col)
    wrapped = F.concat(
        F.lit(_L), F.array_join(F.split(s, ""), f"{_R}{_L}"), F.lit(_R)
    )
    for a, b in merges:
        wrapped = F.replace(
            wrapped,
            F.lit(f"{_L}{a}{_R}{_L}{b}{_R}"),
            F.lit(f"{_L}{a}{b}{_R}"),
        )
    inner = wrapped.substr(F.lit(2), F.length(wrapped) - 2)
    return F.when(
        F.length(s) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(inner, f"{_R}{_L}"))
