"""Text analysis operators for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting, TF-IDF,
BM25 and rank fusion.

Every operator is a pure column expression (JVM-side, codegen) with an
exactly-equivalent ANSI-SQL form for the DuckDB oracle — hashes are
md5 (identical across Spark and DuckDB; xxhash64 is Spark-only and is
used only for internal blocking, never in query output).

What a word is comes from functions/words.py (``normalized``,
``words``, ``ngrams``): lower-casing and NULL handling stay here, per
operator. Every operator reads the ``doc_id``/``text`` columns of the
documents table; BM25 retrieval queries are ``(query_id, query_text)``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from json_ld_spark.functions.words import WHITESPACE, ngrams, normalized, words

# language marker words — crude n-gram heuristic; deterministic and
# reproducible in SQL. Checked as ' word ' on a space-padded lowered
# text so word boundaries are exact.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of"],
    "es": ["el", "la", "que"],
    "de": ["und", "der", "nicht"],
    "fr": ["le", "la", "et"],
}
_CJK_RE = "[\\u4e00-\\u9fff]"


def _count_word(text_col, word: str) -> Column:
    padded = F.concat(F.lit(" "), F.lower(text_col), F.lit(" "))
    return (
        F.length(padded)
        - F.length(F.replace(padded, F.lit(f" {word} "), F.lit("")))
    ) / (len(word) + 2)


def lang_score(text_col, lang: str) -> Column:
    total = None
    for w in LANG_MARKERS[lang]:
        c = _count_word(text_col, w)
        total = c if total is None else total + c
    return total.cast("long")


def language_guess(text_col) -> Column:
    """argmax over marker scores; CJK codepoints short-circuit to zh.
    Tie order: en > es > de > fr > und (deterministic)."""
    zh = F.length(F.regexp_replace(text_col, _CJK_RE, "")) < F.length(text_col)
    en, es, de, fr = (lang_score(text_col, lang) for lang in ("en", "es", "de", "fr"))
    best = F.greatest(en, es, de, fr)
    return (
        F.when(zh, F.lit("zh"))
        .when(best == 0, F.lit("und"))
        .when(en == best, F.lit("en"))
        .when(es == best, F.lit("es"))
        .when(de == best, F.lit("de"))
        .otherwise(F.lit("fr"))
    )


def token_count_ws(text_col) -> Column:
    """Whitespace token count (NULL for NULL text)."""
    return F.when(text_col.isNotNull(), F.size(words(text_col)))


def token_count_bpe_ish(text_col) -> Column:
    """BPE-flavored proxy: count of word/number/punct chunks
    (regexp-token count, the standard pre-tokenizer shape)."""
    return F.size(
        F.regexp_extract_all(
            text_col,
            F.lit(f"[A-Za-z]+|[0-9]+|[^A-Za-z0-9{WHITESPACE[1:-1]}]"),
            F.lit(0),
        )
    )


def punct_ratio(text_col) -> Column:
    n_punct = F.length(text_col) - F.length(
        F.regexp_replace(text_col, "[.,;:!?'\"()\\[\\]{}-]", "")
    )
    return F.when(F.length(text_col) == 0, F.lit(0.0)).otherwise(
        n_punct / F.length(text_col)
    )


def stopword_ratio(text_col) -> Column:
    stop = sum((LANG_MARKERS[lang_] for lang_ in LANG_MARKERS), [])
    hits = None
    for w in sorted(set(stop)):
        c = _count_word(text_col, w)
        hits = c if hits is None else hits + c
    toks = token_count_ws(text_col)
    return F.when(toks == 0, F.lit(0.0)).otherwise(hits / toks)


def quality_score(text_col) -> Column:
    """Deterministic [0,1] quality score: length band + low punct +
    stopword presence (the classic Gopher/C4-style heuristics made
    reproducible)."""
    length_ok = (F.length(text_col) >= 50) & (F.length(text_col) <= 5000)
    punct_ok = punct_ratio(text_col) <= 0.2
    stop_ok = stopword_ratio(text_col) >= 0.05
    return (
        length_ok.cast("int") * 0.4
        + punct_ok.cast("int") * 0.3
        + stop_ok.cast("int") * 0.3
    )


def fingerprint_md5(text_col) -> Column:
    """Whole-document fingerprint: md5 of whitespace-normalized lower
    text (md5 matches DuckDB bit-for-bit)."""
    return F.md5(normalized(F.lower(text_col)))


def shingle_fingerprint(norm: Column) -> Column:
    """Winnowing-style fingerprint: minimum md5 over all 8-char
    shingles of the normalized text (rolling-hash document signature;
    identical lexicographic-min semantics in SQL).

    ``norm`` is the lower-cased ``normalized`` text, staged by the
    caller as a named column in its own projection: the lambda below
    captures it, and interpreted HOFs re-evaluate captured expressions
    once per array ELEMENT — per-shingle trim∘regexp_replace∘lower
    costs 2.5×+ on real text (the pitfall measured in dedup.py's
    ``_lt`` staging)."""
    k = 8
    shingles = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(norm) - (k - 1), F.lit(1))),
        lambda i: F.substring(norm, 1, 2147483647).substr(i, F.lit(k)),
    )
    return F.array_min(F.transform(shingles, lambda s: F.md5(s)))


def tfidf_top_terms(docs: DataFrame, k: int = 5) -> DataFrame:
    """(doc_id, term, tf, score, rank): top-k TF-IDF terms per document —
    keyword extraction over the whole corpus in three shuffles
    (term counts, document frequencies, per-doc ranking).

    score = tf · (ln((N+1)/(df+1)) + 1), rounded to 6 dp (smoothed
    idf; the rounding is the usual cross-engine determinism absorber —
    ln differs by ≤1 ulp between libms). Ties rank by term ascending.

    The doc-frequency side grows with DISTINCT corpus terms — at
    web scale that is billions of rows (URLs, typos, hapaxes), so it
    must NOT carry a forced broadcast hint (a forced ``F.broadcast``
    of an unbounded side OOMs the driver). Both join inputs are
    already hash-partitioned on ``term`` by their groupBys, so the
    scoring join is a co-partitioned shuffle join with no extra
    exchange; when the dictionary happens to be small, AQE converts
    it to a broadcast join at runtime on real size, not on a hint."""
    from pyspark.sql import Window

    terms = docs.select(
        "doc_id", F.explode(words(F.lower(F.col("text")))).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    n_docs = docs.select("doc_id").distinct().count()  # scalar parameter
    df_ = tf.groupBy("term").agg(F.count("*").alias("_df"))
    scored = tf.join(df_, "term").select(
        "doc_id",
        "term",
        "tf",
        F.round(
            F.col("tf")
            * (F.log((F.lit(float(n_docs + 1))) / (F.col("_df") + 1))
               + F.lit(1.0)),
            6,
        ).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.col("term"))
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select(
            "doc_id", "term", "tf", "score",
            F.col("_rk").cast("int").alias("rank"),
        )
    )


def document_stats(docs: DataFrame) -> DataFrame:
    """All text-analysis columns over a documents table.

    The lower/whitespace normalization feeding both fingerprints is
    staged as ``_norm`` in its own projection (used twice in the outer
    select, so CollapseProject keeps it staged) — without this, the
    shingle HOF re-runs the normalization once per shingle."""
    t = F.col("text")
    norm = normalized(F.lower(t))
    staged = docs.select("doc_id", t.alias("_text"), norm.alias("_norm"))
    t = F.col("_text")
    n = F.col("_norm")
    return staged.select(
        "doc_id",
        language_guess(t).alias("lang_guess"),
        token_count_ws(t).alias("n_tokens_ws"),
        token_count_bpe_ish(t).alias("n_tokens_bpe"),
        F.round(punct_ratio(t), 6).alias("punct_ratio"),
        F.round(stopword_ratio(t), 6).alias("stopword_ratio"),
        F.round(quality_score(t), 6).alias("quality"),
        F.md5(n).alias("fp_md5"),
        shingle_fingerprint(n).alias("fp_shingle"),
    )


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition quality signals, one row per document:

      - ``n_words``            whitespace tokens
      - ``dup_word_frac``      1 − distinct/total words (6 dp)
      - ``n_bigrams``          word bigrams (n_words − 1, floor 0)
      - ``top_bigram_frac``    most-frequent-bigram count / n_bigrams
                               (6 dp) — the "fraction of characters in
                               the most common 2-gram" rule from the
                               Gopher filtering suite, in token form

    Scale design: the WHOLE computation is per-row JVM column
    expressions — zero shuffle, zero explode. The most-frequent-bigram
    count is a max-run-length fold over the SORTED bigram array
    (``aggregate`` with a (prev, run, best) struct accumulator), so a
    100-TB corpus pays one narrow map stage, not an explode +
    two-level groupBy. Each array (words, bigrams, sorted bigrams) is
    staged in its own projection — interpreted HOFs re-evaluate
    captured expressions once per element (the dedup.py ``_lt``
    pitfall), so nesting the split inside the transform would
    re-tokenize per bigram.

    NULL/empty text behaves as the empty document (0 words, fractions
    0.0) — coalesced up front so non-ANSI ``size(NULL) = -1`` can't
    leak in (the corpus.py chunker's NULL-text lesson)."""
    staged = docs.select("doc_id", words(F.lower(F.col("text"))).alias("_w"))
    w = F.col("_w")
    staged = staged.select(
        "doc_id", "_w", F.array_sort(ngrams(w, 2)).alias("_bg")
    )
    bg = F.col("_bg")
    # max run length over the sorted bigram array: one fold, no shuffle
    zero = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )
    top_count = F.aggregate(
        bg,
        zero,
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc.best,
                F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc.best,
    )
    n_words = F.size(w)
    n_bigrams = F.size(bg)
    return staged.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        F.when(n_words == 0, F.lit(0.0))
        .otherwise(
            F.round(1.0 - F.size(F.array_distinct(w)) / n_words, 6)
        )
        .alias("dup_word_frac"),
        n_bigrams.cast("long").alias("n_bigrams"),
        F.when(n_bigrams == 0, F.lit(0.0))
        .otherwise(F.round(top_count / n_bigrams, 6))
        .alias("top_bigram_frac"),
    )


def duplicated_ngram_fraction(
    docs: DataFrame,
    n: int = 13,
    min_count: int = 2,
) -> DataFrame:
    """Corpus-level duplicated-span signal (the RefinedWeb/Dolma
    "fraction of duplicated n-grams" filter): for each document, the
    fraction of its word n-gram OCCURRENCES whose gram appears at
    least ``min_count`` times across the whole corpus. Boilerplate,
    templated pages, and near-dup survivors score high; unique prose
    scores ~0.

    Unlike ``repetition_stats`` (within-document, zero shuffle) this
    is inherently corpus-global: one explode keeps per-position
    multiplicity, one groupBy counts gram frequency, one join tags
    each occurrence, one groupBy folds back per document. All three
    shuffles key on gram or doc id with partial aggregation — and the
    gram-frequency side is UNBOUNDED (it grows with the corpus), so
    like the TF-IDF dictionary it must not carry a forced broadcast;
    the tagging join stays co-partitioned on gram and AQE broadcasts
    only when the gram table is genuinely small.

    Documents shorter than ``n`` words have no grams: they surface
    with n_grams = 0 and fraction 0.0 (not dropped — the downstream
    filter must see every document)."""
    staged = docs.select("doc_id", words(F.lower(F.col("text"))).alias("_w"))
    occ = staged.select(
        "doc_id", F.explode(ngrams(F.col("_w"), n)).alias("gram")
    )
    freq = occ.groupBy("gram").agg(F.count("*").alias("_freq"))
    tagged = occ.join(freq, "gram").select(
        "doc_id", (F.col("_freq") >= min_count).cast("int").alias("_dup")
    )
    per_doc = tagged.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.sum("_dup").alias("n_dup_grams"),
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_grams"), F.lit(0)).alias("n_grams"),
            F.coalesce(F.col("n_dup_grams"), F.lit(0)).alias("n_dup_grams"),
            F.when(F.coalesce(F.col("n_grams"), F.lit(0)) == 0, F.lit(0.0))
            .otherwise(
                F.round(F.col("n_dup_grams") / F.col("n_grams"), 6)
            )
            .alias("dup_ngram_frac"),
        )
    )


def bigram_lm_scores(docs: DataFrame, vocab_size: int) -> DataFrame:
    """(doc_id, n_bigrams, lm_score): per-document mean log-probability
    under an add-one-smoothed bigram language model TRAINED ON THE
    CORPUS ITSELF — the perplexity-style quality filter of a training
    pipeline (template spam and keyword-stuffed pages score far below
    prose, because their bigrams are either wildly over-represented
    or never seen in normal context).

    score(d) = round(mean over d's bigrams of
                     ln((c(w1,w2) + 1) / (c(w1) + V)), 6)
    with c(·) corpus-wide counts, c(w1) the count of w1 AS A BIGRAM
    CONTEXT (not raw unigram frequency — the standard conditional
    estimate), and V = ``vocab_size`` a RECIPE PARAMETER the caller
    counts once (distinct corpus tokens; same scalar-parameter policy
    as PageRank's N). Documents with <2 tokens surface with
    n_bigrams = 0 and score 0.0 — never dropped, the downstream
    filter must see every document.

    Scale design: one explode keeps per-position bigram multiplicity;
    model training is one groupBy on the bigram (partial aggregation)
    plus one on the context; scoring re-joins occurrences to both
    count tables keyed on bigram/context and folds back per document.
    Both model tables are UNBOUNDED (they grow with the corpus), so —
    like the TF-IDF dictionary — neither carries a forced broadcast;
    the occurrence table is already partitioned on the join keys by
    its own groupBys and AQE broadcasts only genuinely small models.
    """
    staged = docs.select("doc_id", words(F.lower(F.col("text"))).alias("_w"))
    bigrams = F.when(
        F.size("_w") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("_w") - 1),
            lambda i: F.struct(
                F.element_at(F.col("_w"), i).alias("w1"),
                F.element_at(F.col("_w"), i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    occ = staged.select(
        "doc_id", F.explode(bigrams).alias("_bg")
    ).select(
        "doc_id", F.col("_bg.w1").alias("w1"), F.col("_bg.w2").alias("w2")
    )
    c2 = occ.groupBy("w1", "w2").agg(F.count("*").alias("_c2"))
    c1 = occ.groupBy("w1").agg(F.count("*").alias("_c1"))
    scored = (
        occ.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.avg(
                F.log((F.col("_c2") + 1.0)
                      / (F.col("_c1") + F.lit(float(vocab_size))))
            ).alias("_s"),
        )
    )
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
            F.round(F.coalesce(F.col("_s"), F.lit(0.0)), 6).alias("lm_score"),
        )
    )


def bm25_scores(
    docs: DataFrame,
    query_terms: "list[str]",
    n_docs: int,
    total_len: int,
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 10,
) -> DataFrame:
    """(doc_id, term, tf, dl, score, rank): Okapi BM25 ranking of the
    corpus against a fixed term set — the classic lexical retrieval
    scorer (Robertson/Spärck Jones).

    score = idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)), with
    idf = ln((N − df + 0.5)/(df + 0.5) + 1). ``n_docs``/``total_len``
    are counted RECIPE PARAMETERS (the PageRank-N policy): both
    engines derive avgdl from the same exact integers, so the one
    float pipeline is IEEE-identical and the 6-dp rounded score
    hash-gates. Ranks tie-break on doc_id.

    Scale: terms explode only for the |Q| query terms (the filter
    pushes inside the explode projection), df is |Q| rows, and the
    final rank is a per-term window over ≤ N·|Q| scored rows."""
    from pyspark.sql import Window

    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    avgdl = float(total_len) / float(n_docs)
    toks = docs.select("doc_id", words(F.lower(F.col("text"))).alias("_w"))
    dl = toks.select("doc_id", F.size("_w").alias("dl"))
    terms = toks.select(
        "doc_id", F.explode("_w").alias("term")
    ).filter(F.col("term").isin(list(query_terms)))
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfx = tf.groupBy("term").agg(F.count("*").alias("_df"))
    scored = (
        tf.join(F.broadcast(dfx), "term")  # |Q| rows — a true constant
        .join(dl, "doc_id")
        .select(
            "doc_id",
            "term",
            "tf",
            "dl",
            F.round(
                F.log(
                    (F.lit(float(n_docs)) - F.col("_df") + 0.5)
                    / (F.col("_df") + 0.5)
                    + 1.0
                )
                * (F.col("tf") * (k1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (1.0 - b + F.lit(b) * F.col("dl").cast("double") / avgdl)
                ),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("term").orderBy(F.desc("score"), F.col("doc_id"))
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("int")
    ).filter(F.col("rank") <= k)


def bm25_retrieval(
    docs: DataFrame,
    queries: DataFrame,
    n_docs: int,
    total_len: int,
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 10,
) -> DataFrame:
    """(query_id, doc_id, n_terms, score_ppm, rank): multi-query BM25
    retrieval — the inverted-index join that serves a BATCH of search
    queries against the corpus in one pass (classic sparse retrieval;
    bm25_scores above ranks per single term, this ranks per query).

    Per (query, doc): score = Σ over the query's DISTINCT terms of
    the Okapi term score (same formula/params as bm25_scores). Each
    term score is fixed to integer parts-per-million BEFORE the sum,
    so the cross-term addition is exact integer arithmetic — immune to
    float sum-order divergence between engines (the quality-classifier
    logit_ppm lesson). n_terms = how many query terms matched the doc;
    ranks tie-break on doc_id.

    Scale plan (100 TB corpus, q queries × ~|Q| terms each):
      - the corpus is tokenized ONCE into postings (doc, term, tf);
        the only corpus-sized shuffle is that groupBy (map-side
        partial agg). Postings are pre-filtered by a BROADCAST of the
        query vocabulary, so non-query terms never leave the scan
        stage.
      - df and the (query_id, term) fan-out are broadcast joins — the
        corpus side never re-shuffles. (A web-scale query LOG would
        instead shuffle-join postings⋈query_terms on term; the
        broadcast shape is right for interactive batches of ≤~10^5
        terms.)
      - the final top-k is one window over ≤ N·q scored pairs,
        partitioned by query_id — embarrassingly parallel across
        queries.
    """
    from pyspark.sql import Window

    avgdl = float(total_len) / float(n_docs)
    toks = docs.select("doc_id", words(F.lower(F.col("text"))).alias("_w"))
    dl = toks.select("doc_id", F.size("_w").alias("dl"))
    qterms = queries.select(
        "query_id",
        F.explode(
            F.array_distinct(words(F.lower(F.col("query_text"))))
        ).alias("term"),
    )
    vocab = qterms.select("term").distinct()
    tf = (
        toks.select("doc_id", F.explode("_w").alias("term"))
        .join(F.broadcast(vocab), "term")
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfx = tf.groupBy("term").agg(F.count("*").alias("_df"))
    # per-(doc, term) score, snapped to integer ppm — the unit that sums
    term_ppm = F.round(
        F.log(
            (F.lit(float(n_docs)) - F.col("_df") + 0.5)
            / (F.col("_df") + 0.5)
            + 1.0
        )
        * (F.col("tf") * (k1 + 1.0))
        / (
            F.col("tf")
            + F.lit(k1)
            * (1.0 - b + F.lit(b) * F.col("dl").cast("double") / avgdl)
        )
        * 1000000.0,
        0,
    ).cast("long")
    scored = (
        tf.join(F.broadcast(dfx), "term")
        .join(dl, "doc_id")
        .select("doc_id", "term", term_ppm.alias("_ppm"))
        .join(F.broadcast(qterms), "term")
        .groupBy("query_id", "doc_id")
        .agg(
            F.count("*").cast("int").alias("n_terms"),
            F.sum("_ppm").alias("score_ppm"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_ppm"), F.col("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "n_terms", "score_ppm", "rank")
    )


def quality_classifier_scores(
    docs: DataFrame,
    n_buckets: int = 4096,
) -> DataFrame:
    """fastText-style hashed-bag-of-words quality classifier
    INFERENCE (Joulin et al. 2017 shape — public knowledge): each
    word hashes to one of ``n_buckets`` weight slots, the document
    logit is the mean slot weight, and the pass/fail decision is the
    sign of the EXACT integer weight sum — so the decision can never
    drift across engines. The logit is emitted as an exact integer
    too (``logit_ppm`` = mean weight in parts-per-million, truncating
    integer division — Spark ``div`` and DuckDB ``//`` both truncate
    toward zero): an earlier float version hit the Spark-vs-DuckDB
    double-rounding boundary at sf1 (Spark rounds the SHORTEST
    decimal repr of a double half-up; DuckDB rounds the binary value
    — and w_sum/48000 has short exact decimals, so ties are common).
    All-integer output removes that class of bug outright.

    The frozen "model" is a closed-form weight table
    ``w(b) = (b·2654435761) mod 2001 − 1000`` (pseudo-random ±1000
    per slot, zero I/O — a production model swaps in a real weight
    array; the plan shape is identical). Hashing uses the
    cross-engine md5 family so the whole inference is SQL-replayable.

    All JVM: split → transform(hash→weight) → aggregate — per-row
    expressions, no shuffle, no Python. At 100 TB this is the
    cheapest possible classifier pass."""
    from json_ld_spark.operators.hashfamily import md5_hash60

    staged = docs.select("doc_id", words(F.lower(F.col("text"))).alias("_w"))
    wts = F.transform(
        F.col("_w"),
        lambda w: (
            F.pmod(md5_hash60(w), n_buckets) * 2654435761
        ) % 2001 - 1000,
    )
    w_sum = F.aggregate(
        wts, F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    n_words = F.size("_w")
    return staged.select(
        "doc_id",
        n_words.alias("n_words"),
        w_sum.alias("w_sum"),
        (w_sum > 0).alias("quality_pass"),
    ).withColumn(
        "logit_ppm",
        F.expr("(w_sum * 1000) div greatest(n_words, 1)"),
    ).select("doc_id", "n_words", "w_sum", "logit_ppm", "quality_pass")


def luhn_valid(card: Column) -> Column:
    """Luhn checksum validation (ISO/IEC 7812 mod-10 — public
    knowledge) for a fixed-width digit string: from the RIGHTMOST
    digit, every second digit doubles (minus 9 when > 9) and the
    total must be ≡ 0 (mod 10). Pure column arithmetic — the PII
    pass uses it so checksum-invalid 16-digit lookalikes (order ids,
    timestamps) are NOT redacted."""
    n_digits = 16
    terms = []
    for i in range(1, n_digits + 1):  # 1-based from the left
        dig = card.substr(i, 1).cast("int")
        if (n_digits - i) % 2 == 1:  # even position from the right
            dd = dig * 2
            terms.append(F.when(dd > 9, dd - 9).otherwise(dd))
        else:
            terms.append(dig)
    total = terms[0]
    for t in terms[1:]:
        total = total + t
    return F.pmod(total, 10) == 0


def rrf_fuse(
    runs: "list[DataFrame]",
    k_const: int = 60,
    out_k: int = 10,
) -> DataFrame:
    """(query, doc, rrf_ppm, n_runs, rank): Reciprocal Rank Fusion
    (Cormack et al. 2009) of N retrieval runs — the standard way to
    combine lexical and semantic rankings without score calibration,
    since only RANKS enter: score = Σ_runs 10⁶ div (k + rank).

    Integer contributions (truncating div, same in both engines) make
    the fused ordering engine-exact; ties break on doc id. One union
    + one (query, doc) groupBy + one per-query top-k window — the
    fusion input is only the runs' top-k rows (k·|queries|·N), never
    the corpus, so cost is independent of corpus size."""
    from pyspark.sql import Window

    cols = ("query_id", "doc_id", "rank")
    tagged = runs[0].select(*cols)
    for r in runs[1:]:
        tagged = tagged.unionByName(r.select(*cols))
    contrib = F.expr(f"1000000 div ({k_const} + rank)")
    fused = (
        tagged.groupBy("query_id", "doc_id")
        .agg(
            F.sum(contrib).alias("rrf_ppm"),
            F.count("*").cast("int").alias("n_runs"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_ppm"), F.col("doc_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= out_k)
    )


def char_entropy(docs: DataFrame) -> DataFrame:
    """(doc_id, n_chars, n_distinct_chars, entropy_ppm): Shannon entropy
    of each document's character distribution — the CCNet-family
    gibberish/boilerplate filter (low entropy = repeated padding,
    high entropy near log|alphabet| = encrypted/binary junk).

    Float entropy is a sum whose order Spark does not fix, so each
    character's term -(p·ln p) is SNAPPED to integer ppm first (the
    BM25 discipline) and the entropy is their EXACT integer sum —
    deterministic under any partitioning and replayable by the
    oracle. One narrow char explode + two id-keyed aggregations
    (char counts partial-aggregate map-side: the shuffle carries at
    most |alphabet| rows per document, not |text|)."""
    chars = (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", F.explode(F.split(F.col("text"), "")).alias("ch"))
        .filter(F.col("ch") != "")
    )
    counts = chars.groupBy("doc_id", "ch").agg(F.count("*").alias("cnt"))
    totals = counts.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_chars"),
        F.count("*").alias("n_distinct_chars"),
    )
    p = F.col("cnt").cast("double") / F.col("n_chars").cast("double")
    term_ppm = F.round(-(p * F.log(p)) * F.lit(1000000.0), 0).cast("long")
    return (
        counts.join(totals, "doc_id")
        .select("doc_id", "n_chars", "n_distinct_chars",
                term_ppm.alias("_t"))
        .groupBy("doc_id", "n_chars", "n_distinct_chars")
        .agg(F.sum("_t").alias("entropy_ppm"))
    )
