"""Corpus-preparation operators: chunking and deterministic sampling.

The ops every large-scale training-data pipeline runs between raw
documents and the tokenizer:

  - chunk_documents: split each document into fixed-size token windows
    with overlap (context-window packing / RAG prep). Pure JVM column
    expressions — split once, slice per window — no Python in the
    path, no shuffle at all (chunking is embarrassingly parallel).
  - deterministic_sample: keep a fraction of rows chosen by a hash of
    a key — reproducible across runs/engines/cluster sizes, unlike
    DataFrame.sample whose output depends on partitioning. Hash
    sampling is also STABLE under corpus growth: a kept key stays
    kept when new data arrives (the property incremental pipelines
    need).

Every hash sampler buckets keys with the md5 family
(hashfamily.sample_bucket) under a fixed per-operator salt, so the
driver's DuckDB oracle recomputes the sampled rows bit-for-bit (the
same family as minhash/simhash).

The operators read fixed column names: documents are ``(doc_id,
text)``, chunks ``(doc_id, chunk_idx, n_tokens)``, and conversation
turns ``(conv_id, turn_idx, role, text)``. Whitespace tokens come from
functions/words.py, the one word definition of the text family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from json_ld_spark.functions.words import normalized, words
from json_ld_spark.operators.hashfamily import (
    SAMPLE_BUCKETS,
    md5_hash60,
    sample_bucket,
)

# train/val/test fractions in priority order (assign_splits)
SPLIT_WEIGHTS = (("train", 0.8), ("val", 0.1), ("test", 0.1))


def _token_windows(
    staged: DataFrame, chunk_tokens: int, overlap: int, sep: str
) -> DataFrame:
    """(doc_id, chunk_idx, chunk_text, n_tokens) from a staged
    ``(doc_id, _toks)`` token array: windows of ``chunk_tokens``
    advancing by ``chunk_tokens - overlap``, each token window joined
    with ``sep``. An empty array yields one empty chunk."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    starts = F.sequence(
        F.lit(0),
        F.greatest(
            F.ceil((F.size("_toks") - F.lit(chunk_tokens)) / F.lit(stride))
            .cast("int"),
            F.lit(0),
        ),
    )
    return (
        staged.select(
            "doc_id",
            "_toks",
            F.posexplode(starts).alias("chunk_idx", "_w"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.slice(
                F.col("_toks"), F.col("_w") * stride + 1, chunk_tokens
            ).alias("_window"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.array_join("_window", sep).alias("chunk_text"),
            F.size("_window").alias("n_tokens"),
        )
    )


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """(doc_id, chunk_idx, chunk_text, n_tokens): whitespace-token windows
    of ``chunk_tokens`` tokens advancing by ``chunk_tokens - overlap``.

    The last window may be short; a document shorter than one window
    yields exactly one chunk; empty/blank/NULL documents yield one
    empty chunk (callers filter if unwanted — silent row loss is
    worse). NULL text is coalesced to '' BEFORE the split: without
    that, size(NULL) = -1 in non-ANSI Spark would emit a phantom
    (NULL, -1) chunk while a SQL engine's generate_series over NULL
    emits no row — a silent engine divergence.
    Window starts are a ``sequence`` over the staged token array, so
    the token split runs once per document (HOFs have no CSE — the
    array must be staged, see pyspark pitfalls in canonicalize.py).
    """
    staged = docs.select("doc_id", words(F.col("text")).alias("_toks"))
    return _token_windows(staged, chunk_tokens, overlap, " ")


def chunk_documents_bpe(
    docs: DataFrame,
    chunk_tokens: int = 32,
    overlap: int = 8,
) -> DataFrame:
    """(doc_id, chunk_idx, chunk_text, n_tokens): fixed-size windows of
    REAL BPE tokens (the vendored deterministic tokenizer in
    functions/bpe.py) — the training-pipeline chunker, budgeting in
    the unit the model trains on instead of the whitespace proxy.

    BPE is a segmentation, so ``chunk_text`` (the window's tokens
    concatenated) is an exact substring of the normalized document —
    no boundary loss, and the whole computation (tokenize + window)
    is a JVM column-expression chain with zero shuffle, replayed
    verbatim by the SQL oracle. Same edge policy as
    ``chunk_documents``: NULL/empty docs yield one empty chunk."""
    from json_ld_spark.functions.bpe import bpe_tokens

    # pin CPU parallelism before the merge chain: a small parquet
    # corpus arrives as ONE input split, and the encode is ~1.3 ms of
    # JVM string work per document — without the explicit repartition
    # the whole chain runs on a single core (measured 6.3 s → 0.5 s
    # at sf0.1). Partition count tracks the session's parallelism, so
    # at real scale (many splits) this is a cheap id-hash shuffle that
    # also balances skewed file sizes.
    n_parts = docs.sparkSession.sparkContext.defaultParallelism
    staged = docs.repartition(n_parts, "doc_id").select(
        "doc_id",
        bpe_tokens(F.coalesce(F.col("text"), F.lit(""))).alias("_toks"),
    )
    return _token_windows(staged, chunk_tokens, overlap, "")


def pack_chunks(
    chunks: DataFrame,
    target_tokens: int = 256,
    n_buckets: int = 8,
) -> DataFrame:
    """Assign chunks to fixed-token-budget training sequences
    ("packing" — the step between chunking and the tokenizer).

    Deterministic first-fit in (id, chunk_idx) order within each of
    ``n_buckets`` independent pack buckets (bucket = id mod n — the
    cross-engine partition, as in the IVF init): a running token total
    per bucket, pack_id = floor(exclusive_prefix / target). A chunk
    whose tokens straddle the budget spills into its pack (standard
    greedy semantics — packs can slightly overflow, never underfill
    out of order).

    Buckets pack independently and in parallel — the window
    partitions on the bucket, so at corpus scale no single ordering
    bottleneck exists; more buckets = more parallelism and slightly
    more padding waste at the tail of each bucket.

    Non-numeric ids bucket via xxhash64 (same guard as
    build_ivf_centroids): pmod over a silent string→number NULL cast
    in non-ANSI mode would otherwise collapse every row into one NULL
    bucket — one straggler task doing all the packing."""
    from pyspark.sql import Window
    from pyspark.sql.types import NumericType

    if isinstance(chunks.schema["doc_id"].dataType, NumericType):
        key = F.col("doc_id")
    else:
        key = F.xxhash64("doc_id")
    bucket = F.pmod(key, F.lit(n_buckets)).cast("int")
    w = (
        Window.partitionBy("pack_bucket")
        .orderBy(F.col("doc_id"), F.col("chunk_idx"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        chunks.withColumn("pack_bucket", bucket)
        .withColumn("_cum", F.sum("n_tokens").over(w))
        .select(
            "pack_bucket",
            "doc_id",
            "chunk_idx",
            "n_tokens",
            F.floor((F.col("_cum") - F.col("n_tokens")) / target_tokens)
            .cast("int")
            .alias("pack_id"),
        )
    )


def deterministic_sample(
    df: DataFrame,
    fraction: float,
    key_col: str,
) -> DataFrame:
    """Rows whose key hashes under ``fraction`` — reproducible sampling
    that is independent of partitioning and stable under appends. The
    md5-family bucket lets a SQL oracle reproduce the exact row set."""
    bucket = sample_bucket(key_col, "-7")
    return df.filter(bucket < int(fraction * SAMPLE_BUCKETS))


def stratified_sample(
    df: DataFrame,
    rates: "dict[str, float]",
    strata_col: str,
    key_col: str,
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling — the domain-mixing step of
    a training-data pipeline (keep 100% of books, 10% of common-crawl,
    0% of spam), with the same partition-independent, append-stable
    hash rule as ``deterministic_sample``: a row's fate depends only
    on its key (under ``deterministic_sample``'s salt), so re-running
    over a grown corpus never flips previously-kept rows.

    ``rates`` maps stratum value → keep fraction; unlisted strata
    (and NULL) fall back to ``default_rate``. The rate lookup is a
    literal CASE chain — strata vocabularies (domains, languages,
    source tags) are small by construction, so this stays a pure JVM
    row-expression: zero shuffle, zero join, full pushdown through
    the parquet scan."""
    bucket = sample_bucket(key_col, "-7")
    thresh = F.lit(int(default_rate * SAMPLE_BUCKETS))
    for stratum, rate in sorted(rates.items()):
        thresh = F.when(
            F.col(strata_col) == stratum, F.lit(int(rate * SAMPLE_BUCKETS))
        ).otherwise(thresh)
    return df.filter(bucket < thresh)


def dedup_against_corpus(new_batch: DataFrame, corpus: DataFrame) -> DataFrame:
    """Incremental ingestion dedup: rows of ``new_batch`` whose
    normalized content fingerprint does NOT already exist in
    ``corpus`` — the daily-ingest shape, where the new batch is small
    against a huge accumulated corpus and re-deduping the whole
    corpus per day would be quadratic over time.

    Anti-join on the md5 content fingerprint (same normalization as
    exact_dedup, so the two agree on what "same document" means).
    Both sides shuffle on the fingerprint — at 100 TB the corpus side
    should be a pre-bucketed fingerprint INDEX table (fingerprint
    only, bucketed by fingerprint at write time), which this operator
    reads as-is: pass ``corpus`` as that one-column table and the
    exchange on the corpus side disappears. AQE further prunes with a
    runtime bloom/DPP filter when the new batch is small."""
    from json_ld_spark.operators.textstats import fingerprint_md5

    fp_new = new_batch.withColumn("_fp", fingerprint_md5(F.col("text")))
    fp_old = (
        corpus.select(fingerprint_md5(F.col("text")).alias("_fp"))
        if "text" in corpus.columns
        else corpus.select(F.col(corpus.columns[0]).alias("_fp"))
    ).distinct()
    return fp_new.join(fp_old, "_fp", "left_anti").drop("_fp")


def assign_splits(df: DataFrame, key_col: str) -> DataFrame:
    """``df`` plus a ``split`` column: deterministic train/val/test
    assignment by hash bucket — partition-independent and append-
    stable (a row's split depends only on its key, so a
    grown corpus never migrates old rows across splits, which would
    silently leak yesterday's training data into today's eval set).

    ``SPLIT_WEIGHTS`` are (name, fraction) in priority order over the
    same 1e-6-grained md5-family bucket space (and salt) as
    ``deterministic_sample``. Pure JVM row expression — zero shuffle,
    full pushdown."""
    bucket = sample_bucket(key_col, "-7")
    expr = F.lit(SPLIT_WEIGHTS[-1][0])
    acc = 0
    cuts = []
    for name, frac in SPLIT_WEIGHTS[:-1]:
        acc += int(frac * SAMPLE_BUCKETS)
        cuts.append((name, acc))
    for name, cut in reversed(cuts):
        expr = F.when(bucket < cut, F.lit(name)).otherwise(expr)
    return df.withColumn("split", expr)


def leakage_safe_splits(docs: DataFrame, key_col: str = "doc_id") -> DataFrame:
    """(key, split) for every document, with TRAIN rows whose
    normalized content fingerprint also appears in val or test
    DROPPED — the eval-leakage guard a training pipeline runs after
    split assignment: hash-splitting assigns by KEY, but near-
    identical content under different keys (mirrors, reposts,
    boilerplate) still straddles the split boundary, and any train
    document whose content sits in the eval set inflates every
    downstream benchmark.

    One fingerprint projection, one distinct on the small eval side,
    one anti-join keyed on the fingerprint (same normalization as
    exact dedup, so "same document" means the same thing pipeline-
    wide). The eval fingerprint side is a FRACTION of the corpus
    (val+test ≈ 20%), but still corpus-scaled — no forced broadcast;
    AQE decides. Val/test rows pass through untouched: the guard
    removes training contamination, never evaluation rows."""
    from json_ld_spark.operators.textstats import fingerprint_md5

    s = assign_splits(docs, key_col)
    fp = s.select(
        F.col(key_col), "split", fingerprint_md5(F.col("text")).alias("_fp")
    )
    eval_fps = (
        fp.filter(F.col("split") != "train").select("_fp").distinct()
    )
    train = fp.filter(F.col("split") == "train").join(
        eval_fps, "_fp", "left_anti"
    )
    return (
        train.unionByName(fp.filter(F.col("split") != "train"))
        .select(key_col, "split")
    )


def upsample_by_epochs(
    df: DataFrame,
    epochs: "dict[str, float]",
    strata_col: str,
    key_col: str,
    default_epochs: float = 1.0,
) -> DataFrame:
    """``df`` replicated per-stratum by FRACTIONAL epoch weights — the
    upsampling half of training-data mixing (see 'The Pile' /
    'Gopher'-style mix tables: books ×3.2 epochs, wiki ×2, crawl ×0.5
    — the downsampling side is ``stratified_sample``). A weight of
    2.5 emits every row twice and a deterministic hash-chosen half of
    the stratum a third time, so realized epoch counts converge to
    the requested weight while individual rows stay append-stable:
    re-running over a grown corpus never changes how many copies an
    old row gets.

    Output adds ``copy_idx`` (0-based) — downstream shuffling by
    (key, copy_idx) spreads the replicas across partitions instead of
    co-locating them. Pure JVM row expressions: a literal CASE chain
    for the weight lookup (mix tables are small by construction), a
    hash threshold for the fractional copy, and one ``explode`` over
    a ``sequence`` — zero shuffle, zero join, full scan pushdown."""
    bucket = sample_bucket(key_col, "-up11")
    base = F.lit(int(default_epochs * SAMPLE_BUCKETS))
    for stratum, w in sorted(epochs.items()):
        base = F.when(
            F.col(strata_col) == stratum, F.lit(int(w * SAMPLE_BUCKETS))
        ).otherwise(base)
    n_copies = (base / SAMPLE_BUCKETS).cast("int") + (
        bucket < F.pmod(base, F.lit(SAMPLE_BUCKETS))
    ).cast("int")
    return (
        df.withColumn("_n", n_copies)
        .filter(F.col("_n") > 0)
        .withColumn(
            "copy_idx", F.explode(F.sequence(F.lit(0), F.col("_n") - 1))
        )
        .drop("_n")
    )


def weighted_sample(docs: DataFrame, k: int = 64) -> DataFrame:
    """(rank, doc_id, n_chars): deterministic weighted sampling WITHOUT
    replacement — the A-ES / exponential-clocks scheme (Efraimidis &
    Spirakis 2006): each row draws u ∈ (0,1] from the cross-engine
    hash of its id and ranks by u^(1/w), computed as ln(u)/w (same
    argmax, no tiny-power underflow). The top-k ARE a weighted sample
    without replacement; everything is a pure function of (id, w), so
    the sample is partitioning-independent, append-stable for
    surviving ranks, and replayable by any engine with md5 + ln.

    Output columns are integers only — the float key orders but never
    leaves the plan, so libm ulp differences cannot reach the gate
    (keys of distinct ids are never within an ulp). One TakeOrdered
    top-k, no full sort."""
    h = md5_hash60(F.col("doc_id").cast("string"))
    u = (h + 1).cast("double") / F.lit(float(1 << 60))
    key = F.log(u) / F.col("n_chars").cast("double")
    ranked = (
        docs.filter(F.col("n_chars") > 0)
        .select("doc_id", "n_chars", key.alias("_key"))
        .orderBy(F.desc("_key"), F.col("doc_id"))
        .limit(k)
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("_key"), F.col("doc_id"))
    return ranked.select(
        F.row_number().over(w).cast("int").alias("rank"),
        "doc_id",
        "n_chars",
    )


def pack_turns(turns: DataFrame, budget_tokens: int = 128) -> DataFrame:
    """(conv_id, turn_idx, role, n_tokens, window_idx): pack each
    conversation's turns IN ORDER into fixed-token-budget context
    windows — the SFT-assembly step between transcripts and the
    tokenizer. Same greedy running-total semantics as pack_chunks
    (window = floor(exclusive-prefix / budget); a straddling turn
    spills into its window), but partitioned by the CONVERSATION —
    the natural pack unit, so no mod-bucket parallelism hack is
    needed: every conversation packs independently and turn order is
    never violated (a requirement chunk packing doesn't have).

    n_tokens = whitespace tokens of the normalized text (swap in the
    vendored BPE via chunk_documents_bpe's tokenizer for real-token
    budgets). Zero joins, one window per conversation partition."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    staged = turns.select(
        "conv_id", "turn_idx", "role",
        F.size(words(F.col("text"))).alias("n_tokens"),
    )
    return staged.withColumn("_cum", F.sum("n_tokens").over(w)).select(
        "conv_id",
        "turn_idx",
        "role",
        "n_tokens",
        F.floor((F.col("_cum") - F.col("n_tokens")) / budget_tokens)
        .cast("int")
        .alias("window_idx"),
    )


def loss_mask_spans(turns: DataFrame) -> DataFrame:
    """(conv_id, turn_idx, start_char, end_char, n_chars): character
    spans of assistant turns inside the conversation's linearized
    text (turns joined in order with a 1-char separator) —
    the SFT loss-mask computation: train on assistant tokens only,
    mask everything else.

    start = Σ over prior turns of (len(normalized text) + sep);
    end = start + len — one cumulative-sum window per conversation
    (the same partitioning pack_turns uses, so the two stages share
    a shuffle when composed). Whitespace-normalized lengths so the
    spans match what a whitespace-normalizing tokenizer consumes;
    exact integer arithmetic throughout."""
    from pyspark.sql import Window

    norm = normalized(F.lower(F.coalesce(F.col("text"), F.lit(""))))
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    staged = turns.select(
        "conv_id", "turn_idx", "role", F.length(norm).alias("n_chars")
    )
    return (
        staged.withColumn("_cum", F.sum(F.col("n_chars") + 1).over(w))
        .filter(F.col("role") == "assistant")
        .select(
            "conv_id",
            "turn_idx",
            (F.col("_cum") - F.col("n_chars") - 1).alias("start_char"),
            (F.col("_cum") - F.lit(1)).alias("end_char"),
            "n_chars",
        )
    )


def preference_pairs(
    turns: DataFrame,
    score_col: str,
    min_margin: int = 1,
) -> DataFrame:
    """(conv_id, chosen_turn, rejected_turn, chosen_score,
    rejected_score, margin): DPO/RLHF preference-pair construction —
    per conversation, the best- and worst-scoring assistant turns
    become the (chosen, rejected) pair when their score margin is
    large enough to be a trustworthy label.

    Ties break on the LOWEST turn index on both sides (deterministic
    under any partitioning); a conversation whose best and worst are
    the same turn (one response, or all responses tied) yields no
    pair. Two windows over one conversation-keyed sort plus a
    conversation-keyed self-join — every stage shares the same
    partitioning, so the whole op is one shuffle of the response
    turns; scores stay integers."""
    from pyspark.sql.window import Window

    cand = turns.filter(F.col("role") == "assistant").select(
        F.col("conv_id").alias("conv"),
        F.col("turn_idx").alias("turn"),
        F.col(score_col).cast("long").alias("score"),
    )
    wb = Window.partitionBy("conv").orderBy(
        F.desc("score"), F.asc("turn")
    )
    ww = Window.partitionBy("conv").orderBy(
        F.asc("score"), F.asc("turn")
    )
    ranked = cand.select(
        "conv", "turn", "score",
        F.row_number().over(wb).alias("_rb"),
        F.row_number().over(ww).alias("_rw"),
    )
    best = ranked.filter(F.col("_rb") == 1).select(
        "conv",
        F.col("turn").alias("chosen_turn"),
        F.col("score").alias("chosen_score"),
    )
    worst = ranked.filter(F.col("_rw") == 1).select(
        "conv",
        F.col("turn").alias("rejected_turn"),
        F.col("score").alias("rejected_score"),
    )
    return (
        best.join(worst, "conv")
        .filter(F.col("chosen_turn") != F.col("rejected_turn"))
        .withColumn(
            "margin", F.col("chosen_score") - F.col("rejected_score")
        )
        .filter(F.col("margin") >= min_margin)
        .select(
            F.col("conv").alias("conv_id"),
            "chosen_turn", "rejected_turn",
            "chosen_score", "rejected_score", "margin",
        )
    )


def capped_group_sample(df: DataFrame, group_col: str, k: int) -> DataFrame:
    """At most ``k`` rows per group, chosen by md5-hash order of the
    id — the per-domain cap step of balanced-corpus construction
    (keep every small domain whole, uniformly subsample the whales).
    Hash order makes the choice a uniform sample that is DETERMINISTIC
    under any partitioning (the deterministic_sample policy, applied
    per group); id tie-break covers hash collisions. One window over
    one group-keyed shuffle; whale groups degrade like any skewed
    window (salt upstream if one group dominates a partition)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(group_col).orderBy(
        md5_hash60(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )
