"""Vendored deterministic BPE tokenizer as PURE column expressions.

Closes the "whitespace-token proxy" gap for the training-data mandate:
``chunk_documents``/``pack_chunks`` budget in whitespace tokens, but a
training pipeline budgets in BPE tokens. This module ships a frozen,
deterministic byte-pair-encoding vocabulary and applies it WITHOUT any
Python in the data path — and in a form a SQL engine can replay
bit-for-bit, so BPE chunking is hash-gated like everything else.

How the encoder works (both engines, identical semantics):

  1. normalize: lower + whitespace-collapse + strip the two delimiter
     codepoints (they cannot legally occur mid-token).
  2. wrap every codepoint in ⟨⟩ delimiters:  "ab c" → "⟨a⟩⟨b⟩⟨ ⟩⟨c⟩".
  3. for each merge (a, b) in TRAINED PRIORITY ORDER, string-replace
     "⟨a⟩⟨b⟩" → "⟨ab⟩". Literal replace is leftmost/non-overlapping —
     exactly BPE's pair-merge semantics — and the delimiters make the
     match exact (token content never contains ⟨ or ⟩, so "⟨a⟩⟨b⟩"
     can only match an (a, b) token boundary).
  4. split on "⟩⟨" → the token array. BPE is a SEGMENTATION:
     concatenating the tokens reconstructs the normalized text, which
     is what lets chunk boundaries stay exact.

The merge table is TRAINED AT IMPORT from the frozen corpus below
(classic BPE: count adjacent pairs, merge the most frequent, ties to
the lexicographically-smallest pair) — pure Python, no RNG, no I/O,
same result on every machine, so the table is effectively vendored
data while remaining auditable. Spaces are ordinary symbols (GPT-2
style " th"-like merges are allowed); merges therefore may cross word
boundaries, which the concatenation property absorbs.

Scale: the encode is a chain of ``replace`` calls over one string
column — JVM-side, no shuffle, no Python. A production vocabulary is
a larger frozen table (raise N_MERGES or vendor a bigger corpus); the
plan shape does not change. Reference parity target: the reference
has no tokenizer — this is part of the §2.13 training-pipeline
surface, not a port.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from json_ld_spark.functions.words import normalized

# frozen training corpus: common-English word/count table (public
# knowledge), lowercase [a-z ] only so every merge literal is
# SQL-quotable without escaping. Order and counts are part of the
# recipe — do not reorder.
_CORPUS_WORDS: "list[tuple[str, int]]" = [
    ("the", 40), ("of", 20), ("and", 20), ("to", 18), ("in", 14),
    ("is", 10), ("that", 9), ("it", 9), ("was", 8), ("for", 8),
    ("on", 7), ("are", 7), ("as", 7), ("with", 7), ("his", 6),
    ("they", 6), ("at", 6), ("be", 6), ("this", 6), ("have", 5),
    ("from", 5), ("or", 5), ("one", 5), ("had", 5), ("by", 5),
    ("word", 4), ("but", 4), ("not", 4), ("what", 4), ("all", 4),
    ("were", 4), ("we", 4), ("when", 4), ("your", 4), ("can", 4),
    ("said", 4), ("there", 4), ("use", 3), ("an", 3), ("each", 3),
    ("which", 3), ("she", 3), ("do", 3), ("how", 3), ("their", 3),
    ("if", 3), ("will", 3), ("up", 3), ("other", 3), ("about", 3),
    ("out", 3), ("many", 3), ("then", 3), ("them", 3), ("these", 3),
    ("so", 3), ("some", 2), ("her", 2), ("would", 2), ("make", 2),
    ("like", 2), ("him", 2), ("into", 2), ("time", 2), ("has", 2),
    ("look", 2), ("two", 2), ("more", 2), ("write", 2), ("see", 2),
    ("number", 2), ("way", 2), ("could", 2), ("people", 2), ("than", 2),
]

N_MERGES = 64
_L, _R = "⟨", "⟩"  # ⟨ ⟩


def _train_corpus() -> str:
    """Round-robin interleave (word i appears in pass p iff its count
    exceeds p): frequencies are honored without adjacent self-repeats,
    which would otherwise train degenerate "word word" merges."""
    # clip counts: without the cap the tail passes contain only the
    # handful of highest-count words and train degenerate runs of
    # "the the …" merges
    words = [(w, min(c, 12)) for w, c in _CORPUS_WORDS]
    max_c = max(c for _, c in words)
    n = len(words)
    # deterministic coprime strides (n = 75 = 3·5²: avoid 3/5 factors)
    strides = [7, 11, 13, 14, 16, 17, 19, 22, 23, 26, 28, 29, 31, 32,
               34, 37, 38, 41, 43, 44, 46, 47, 49, 52, 53, 56, 58, 59,
               61, 62, 64, 67, 68, 71, 73, 74, 76, 77, 79, 82]
    out: "list[str]" = []
    for p in range(max_c):
        stride = strides[p % len(strides)]
        for i in range(n):
            w, c = words[(i * stride + p) % n]
            if c > p:
                out.append(w)
    return " ".join(out)


def _apply_merge(seq: "list[str]", a: str, b: str) -> "list[str]":
    """Leftmost non-overlapping pair merge — the exact semantics of
    the delimited string replace the encoder uses."""
    out: "list[str]" = []
    i = 0
    while i < len(seq):
        if i + 1 < len(seq) and seq[i] == a and seq[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(seq[i])
            i += 1
    return out


def train_merges(corpus: str, n_merges: int) -> "list[tuple[str, str]]":
    """Classic BPE training, fully deterministic: most-frequent
    adjacent pair wins each round; ties break to the lexicographically
    smallest (a, b)."""
    seq = list(corpus)
    merges: "list[tuple[str, str]]" = []
    for _ in range(n_merges):
        counts: "dict[tuple[str, str], int]" = {}
        for pair in zip(seq, seq[1:]):
            counts[pair] = counts.get(pair, 0) + 1
        if not counts:
            break
        best_n = max(counts.values())
        pair = min(p for p, c in counts.items() if c == best_n)
        merges.append(pair)
        seq = _apply_merge(seq, *pair)
    return merges


MERGES: "tuple[tuple[str, str], ...]" = tuple(
    train_merges(_train_corpus(), N_MERGES)
)

for _a, _b in MERGES:
    # SQL-literal safety: the frozen corpus is [a-z ] so this never
    # fires; it guards future corpus edits
    assert all(c.isascii() and (c.isalnum() or c == " ") for c in _a + _b)


def _normalized(text_col) -> Column:
    # strip the delimiters AND astral-plane codepoints: the split('')
    # wrap is per UTF-16 unit in the JVM but per codepoint in SQL
    # engines, so surrogate-pair characters would token-split
    # differently — dropping them keeps the two encoders bit-identical
    # (and BMP covers the gated corpora)
    return F.regexp_replace(
        normalized(F.lower(text_col)),
        f"[{_L}{_R}\\x{{10000}}-\\x{{10FFFF}}]",
        "",
    )


def bpe_tokens(text_col) -> Column:
    """array<string> of BPE tokens — a chain of JVM string ops, no
    Python, no shuffle. Concatenating the array reconstructs the
    normalized text exactly."""
    s = _normalized(text_col)
    # split('')/join is ~2× cheaper than a per-char capture-group
    # regexp_replace for the initial wrap (measured at sf0.1)
    wrapped = F.concat(
        F.lit(_L), F.array_join(F.split(s, ""), f"{_R}{_L}"), F.lit(_R)
    )
    for a, b in MERGES:
        wrapped = F.replace(
            wrapped, F.lit(f"{_L}{a}{_R}{_L}{b}{_R}"), F.lit(f"{_L}{a}{b}{_R}")
        )
    # strip the single outer delimiters, then split on the boundary
    # pair; empty input → empty array (split('') would yield [''])
    inner = wrapped.substr(F.lit(2), F.length(wrapped) - 2)
    return F.when(F.length(s) == 0, F.array().cast("array<string>")).otherwise(
        F.split(inner, f"{_R}{_L}")
    )


def bpe_sql_norm(inner_sql: str) -> str:
    """DuckDB twin of ``_normalized`` — shared by the encode oracle
    and the distributed-training oracle."""
    return (
        f"regexp_replace(trim(regexp_replace(lower({inner_sql}), "
        f"'\\s+', ' ', 'g')), "
        f"'[{_L}{_R}\\x{{10000}}-\\x{{10FFFF}}]', '', 'g')"
    )


def bpe_sql_tokens(inner_sql: str) -> str:
    """DuckDB expression producing the SAME token list from a text
    expression — the oracle twin of ``bpe_tokens``. RE2 replacement
    syntax uses \\1; everything else is shared literal replaces."""
    norm = bpe_sql_norm(inner_sql)
    expr = (
        f"'{_L}' || array_to_string(string_split({norm}, ''), "
        f"'{_R}{_L}') || '{_R}'"
    )
    for a, b in MERGES:
        expr = (
            f"replace({expr}, '{_L}{a}{_R}{_L}{b}{_R}', '{_L}{a}{b}{_R}')"
        )
    inner = f"{expr}[2:-2]"
    return (
        f"CASE WHEN length({norm}) = 0 THEN CAST([] AS VARCHAR[]) "
        f"ELSE string_split({inner}, '{_R}{_L}') END"
    )
