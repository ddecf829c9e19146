"""Transcript table sources.

Input shape is fixed by BASELINE.json input_hint:
    (conv_id:string, turn_idx:int32, role:string, text:string,
     tool:string, ts:timestamp)

Two deterministic generators, both fully distributed (no driver-side
loops, no RNG objects — every value is a pure columnar function of the
row id, so the same seed produces identical bytes at any parallelism):

  - ``synthesize_transcripts``: spark.range → skewed turns-per-conv
    (power-law via hash) → exploded turn rows with gazetteer mentions
    woven into the text. This is the scale path: generating 10^12 turns
    is the same plan with a bigger range.
  - ``derive_transcripts_from_documents``: maps the driver-provided
    documents.parquet into transcript shape with arithmetic only, so
    the DuckDB oracle can reproduce it in ANSI SQL (the correctness
    gate for the whole pipeline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)

# scale of synthesize_transcripts' skewed turn counts: a conversation
# has 2 + d^2 * _MAX_TURNS / 100 turns, d in 0..9 (at most 34)
_MAX_TURNS = 40
# documents per derived conversation, shared by the Spark derivation
# and its DuckDB twin
_TURNS_PER_CONV = 5

_ROLES = ["user", "assistant", "tool"]
_TOOLS = ["search", "calculator", "browser", "python"]

# sentence templates; {m} slots are filled with gazetteer surfaces
_SNIPPETS = [
    "I think {m} is relevant here.",
    "Can you look up {m} for me?",
    "The report on {m} mentions {m2} twice.",
    "No mention of anything interesting.",
    "Let us compare {m} with {m2} in detail.",
    "Results for {m}: 42 items found.",
    "",  # empty turns exist (FIXTURES.md §1)
    "Unicode check: {m} — naïve café 日本語.",
    '{{"looks": "like json", "about": "{m}"}}',
]


def synthesize_transcripts(
    spark: SparkSession,
    n_convs: int = 100,
    seed: int = 42,
    shuffle: bool = True,
) -> DataFrame:
    """Deterministic skewed synthetic transcripts (seeded, columnar)."""
    from json_ld_spark.sources.gazetteer import GAZETTEER

    surfaces = [s for _, s, _ in GAZETTEER]
    n_surf = len(surfaces)
    convs = spark.range(n_convs).select(
        F.format_string("conv%08d", F.col("id")).alias("conv_id"),
        F.col("id").alias("conv_n"),
        # power-law-ish turns per conversation: a few giant convs
        # (skew exercises salting/AQE, FIXTURES.md §1)
        (
            F.pmod(F.xxhash64(F.col("id"), F.lit(seed)), F.lit(10)) ** 2
            * F.lit(_MAX_TURNS)
            / F.lit(100)
            + F.lit(2)
        )
        .cast("int")
        .alias("n_turns"),
    )
    turns = convs.select(
        "conv_id",
        "conv_n",
        F.explode(F.sequence(F.lit(0), F.col("n_turns") - 1)).alias("turn_idx"),
    )
    h = F.pmod(F.xxhash64("conv_n", "turn_idx", F.lit(seed)), F.lit(2**31)).alias("h")
    turns = turns.select("conv_id", "conv_n", F.col("turn_idx").cast("int").alias("turn_idx"), h)

    snippet = F.element_at(
        F.array(*[F.lit(s) for s in _SNIPPETS]),
        ((F.col("h") % len(_SNIPPETS)) + 1).cast("int"),
    )
    m1 = F.element_at(
        F.array(*[F.lit(s) for s in surfaces]), ((F.col("h") / 7).cast("int") % n_surf) + 1
    )
    m2 = F.element_at(
        F.array(*[F.lit(s) for s in surfaces]), ((F.col("h") / 13).cast("int") % n_surf) + 1
    )
    role = F.element_at(
        F.array(*[F.lit(r) for r in _ROLES]),
        ((F.col("turn_idx") % 3) + 1).cast("int"),
    )
    tool = F.when(
        role == "tool",
        F.element_at(
            F.array(*[F.lit(t) for t in _TOOLS]), ((F.col("h") / 3).cast("int") % len(_TOOLS)) + 1
        ),
    )
    df = turns.select(
        "conv_id",
        "turn_idx",
        role.alias("role"),
        F.replace(F.replace(snippet, F.lit("{m2}"), m2), F.lit("{m}"), m1).alias("text"),
        tool.alias("tool"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_dt_interval(F.lit(0), F.lit(0), F.col("turn_idx"), F.lit(0))
        ).alias("ts"),
    )
    if shuffle:
        # scramble row order so stable turn ordering is actually
        # exercised by the (conv_id, turn_idx) window (FIXTURES.md §1)
        df = df.repartition(F.col("turn_idx"))
    return df


def derive_transcripts_from_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """documents.parquet → transcript shape, arithmetic-only (oracle-
    reproducible; ``__spark_entry__._T_CTE`` is the DuckDB side).
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    k = _TURNS_PER_CONV
    return docs.select(
        F.format_string("conv%08d", (F.col("doc_id") / k).cast("long")).alias("conv_id"),
        F.pmod(F.col("doc_id"), F.lit(k)).cast("int").alias("turn_idx"),
        F.element_at(
            F.array(F.lit("user"), F.lit("assistant"), F.lit("tool")),
            (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"),
        ).alias("role"),
        F.col("text"),
        F.when(F.pmod(F.col("doc_id"), F.lit(3)) == 2, F.lit("search")).alias("tool"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_dt_interval(
                F.lit(0), F.lit(0), F.pmod(F.col("doc_id"), F.lit(k)), F.lit(0)
            )
        ).alias("ts"),
    )


def read_transcripts(spark: SparkSession, path: str) -> DataFrame:
    df = spark.read.parquet(path)
    return df.drop("conv_bucket") if "conv_bucket" in df.columns else df
