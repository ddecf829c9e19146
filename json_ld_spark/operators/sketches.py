"""Distinct-count sketches with ENGINE-REPLAYABLE determinism.

At 100 TB, ``count(distinct x)`` per group is a full shuffle of every
distinct value; sketches bound that to a constant per group. Spark's
own ``approx_count_distinct`` is a fine production default, but its
HLL++ registers are an implementation detail no other engine
reproduces — nothing can gate it. These two sketches use the repo's
cross-engine hash family (md5 prefix → 60-bit integer, the same
family the dedup oracles replay: ``operators/hashfamily.py:md5_hash60``)
and keep EVERY intermediate in exact integer arithmetic, so the
DuckDB oracle replays register contents and estimates bit-for-bit:

- ``hll_distinct`` — classic HyperLogLog (Flajolet et al. 2007):
  bucket = top ``b`` hash bits, rank = leading zeros of the
  remainder + 1, register = max rank per bucket. The harmonic-mean
  denominator Σ 2^-rank is order-dependent in floats, so it is
  computed SCALED BY 2^51 in integer space (rank ≤ 55 for b ≥ 5;
  terms shiftleft(1, 51-rank), truncating only ranks > 51 — a
  deterministic truncation both engines share; with b=6..10 the
  scaled sum stays far below 2^63). One float division at the end
  of exact integers is IEEE-identical everywhere.
- ``kmv_distinct`` — bottom-k (K-Minimum-Values, Bar-Yossef et al.
  2002): keep the k smallest DISTINCT hash values per group;
  estimate (k-1) · 2^60 / h_(k). The k-th hash is an exact integer;
  the one division is again IEEE-deterministic.

Scale design: both are single-pass groupBy aggregations — map-side
partial (max per bucket / bottom-k per partition) then one shuffle on
the group key; register state is O(2^b) / O(k) per group regardless
of input size, and registers MERGE by max / by bottom-k union, so the
same code runs incrementally over append-only corpora.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from json_ld_spark.operators.hashfamily import md5_hash60

_HASH_BITS = 60
_SCALE_SHIFT = 51  # Σ 2^-rank carried as Σ 2^(51-rank), exact bigint


def _alpha(m: int) -> float:
    # standard HLL bias constant; callers use m >= 64 where the
    # asymptotic form applies
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_bucket_rank(value_col, b: int):
    """(bucket, rank) column expressions for one value — the per-row
    half of the sketch, shared by the batch aggregation and the
    streaming register state (streaming/stream_pipeline.py)."""
    rem_bits = _HASH_BITS - b
    h = md5_hash60(F.col(value_col).cast("string"))
    bucket = F.shiftright(h, rem_bits)
    rem = h.bitwiseAND(F.lit((1 << rem_bits) - 1))
    rank = F.when(rem == 0, F.lit(rem_bits + 1)).otherwise(
        F.lit(rem_bits) - F.length(F.bin(rem)) + 1
    )
    return bucket, rank


def estimate_from_registers(nonempty: int, s_nonempty: int, b: int):
    """(s_scaled, est) from register summaries, in PYTHON arithmetic
    that is operand-for-operand the arithmetic of the SQL/DataFrame
    path: exact-int scaled harmonic sum, one IEEE double division,
    the published linear-counting branch, round to 2 dp. Used by the
    streaming state operator so its emitted estimate equals the batch
    engines' bit-for-bit."""
    import math

    m = 1 << b
    s_scaled = s_nonempty + (m - nonempty) * (1 << _SCALE_SHIFT)
    const = _alpha(m) * m * m * float(1 << _SCALE_SHIFT)
    raw = const / float(s_scaled)
    zeros = m - nonempty
    if raw <= 2.5 * m and zeros > 0:
        est = float(m) * math.log(float(m) / float(zeros))
    else:
        est = raw
    return s_scaled, round(est, 2)


def hll_distinct(
    df: DataFrame,
    group_col: str,
    value_col: str,
    b: int = 10,
) -> DataFrame:
    """(group, m, nonempty, s_scaled, est): HyperLogLog distinct
    estimate per group with 2^``b`` registers.

    ``s_scaled`` (the exact-integer harmonic denominator) and
    ``nonempty`` ARE the sketch — they gate the whole register
    computation; ``est`` is the one float at the end, rounded to 2 dp.
    Small-range (linear-counting) correction applies when the raw
    estimate ≤ 2.5·m and empty registers remain, exactly as
    published."""
    if not 4 <= b <= 12:
        raise ValueError("b must be in [4, 12] (register count 16..4096)")
    # leading zeros of rem within rem_bits, +1: bitlength via bin()
    # (both engines return '0' for 0, so 0 is special-cased)
    bucket, rank = hll_bucket_rank(value_col, b)
    regs = (
        df.filter(F.col(value_col).isNotNull())
        .select(F.col(group_col).alias("group"), bucket.alias("bucket"), rank.alias("rank"))
        .groupBy("group", "bucket")
        .agg(F.max("rank").alias("r"))
    )
    return registers_estimate(regs, b, group_col=group_col)


def registers_estimate(
    regs: DataFrame, b: int, group_col: str = "group"
) -> DataFrame:
    """(group, m, nonempty, s_scaled, est) from a sparse register
    table (group, bucket, r) — the estimate half of hll_distinct,
    shared with HyperBall (operators/graph.py), whose registers come
    from k rounds of edge propagation instead of one aggregation."""
    m = 1 << b
    # Σ 2^(51-r) over non-empty registers; ranks past the scale shift
    # truncate to 0 in BOTH engines (identical deterministic loss)
    term = F.when(
        F.col("r") <= _SCALE_SHIFT,
        F.expr(f"shiftleft(CAST(1 AS BIGINT), {_SCALE_SHIFT} - r)"),
    ).otherwise(F.lit(0).cast("long"))
    per_group = regs.groupBy("group").agg(
        F.count("*").alias("nonempty"),
        F.sum(term).alias("s_nonempty"),
    )
    # empty registers contribute 2^-0 = 1 → 2^51 each, in integers
    s_scaled = (
        F.col("s_nonempty")
        + (F.lit(m) - F.col("nonempty")) * F.lit(1 << _SCALE_SHIFT)
    ).cast("long")
    const = _alpha(m) * m * m * float(1 << _SCALE_SHIFT)  # python float,
    # embedded as a literal so both engines divide the SAME double
    raw = F.lit(const) / F.col("s_scaled").cast("double")
    zeros = F.lit(m) - F.col("nonempty")
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(raw)
    return (
        per_group.withColumn("s_scaled", s_scaled)
        .select(
            F.col("group").alias(group_col),
            F.lit(m).alias("m"),
            "nonempty",
            "s_scaled",
            F.round(est, 2).alias("est"),
        )
    )


def kmv_distinct(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """(group, k_used, kth_hash, est): bottom-k distinct estimate per
    group. If a group has fewer than ``k`` distinct hashes the sketch
    is EXACT (est = number of distinct hashes, kth_hash = the max);
    otherwise est = (k-1) · 2^60 / h_(k) with h_(k) the k-th smallest
    distinct hash — the published unbiased KMV estimator.

    The bottom-k set is found with a per-group window over DISTINCT
    hashes; at scale the distinct step is the map-side combine and the
    window sees at most the distinct hashes per group (itself
    shrinkable by a pre-aggregation min-k per partition if a group's
    distinct count is extreme)."""
    if k < 2:
        raise ValueError("k must be >= 2")
    h = md5_hash60(F.col(value_col).cast("string"))
    hashes = (
        df.filter(F.col(value_col).isNotNull())
        .select(F.col(group_col).alias("group"), h.alias("h"))
        .distinct()
    )
    w = Window.partitionBy("group").orderBy("h")
    bottom = hashes.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= k
    )
    agg = bottom.groupBy("group").agg(
        F.count("*").alias("k_used"),
        F.max("h").alias("kth_hash"),
    )
    est = F.when(
        F.col("k_used") < k, F.col("k_used").cast("double")
    ).otherwise(
        F.lit(float(k - 1))
        * F.lit(float(1 << _HASH_BITS))
        / F.col("kth_hash").cast("double")
    )
    return agg.select(
        F.col("group").alias(group_col),
        "k_used",
        "kth_hash",
        F.round(est, 2).alias("est"),
    )


def cms_bucket(value_col, row_idx: int, w: int):
    """Count-min bucket for hash row ``row_idx``: the cross-engine
    md5 family over 'row|value', mod table width."""
    from json_ld_spark.operators.hashfamily import md5_hash60

    return F.pmod(
        md5_hash60(
            F.concat(F.lit(f"{row_idx}|"), F.col(value_col).cast("string"))
        ),
        w,
    ).cast("int")


def cms_registers(
    df: DataFrame,
    key_col: str,
    w: int = 256,
    d: int = 4,
) -> DataFrame:
    """(row_idx, bucket, count): the nonzero registers of a d×w
    count-min sketch (Cormode & Muthukrishnan 2005 — public
    knowledge) over ``key_col`` occurrences. The registers ARE the
    sketch and are exact integers, so the whole structure is
    hash-gateable; point estimates are min-over-rows reads on top.

    One pass: each record emits its d (row, bucket) coordinates via
    a JVM inline array + explode, then ONE groupBy — map-side
    partial aggregation makes the shuffle O(d·w) per partition
    regardless of corpus size. At 100 TB this is the canonical
    bounded-memory frequency summary: d·w integers total."""
    coords = F.explode(
        F.array(*[
            F.struct(
                F.lit(r).alias("row_idx"),
                cms_bucket(key_col, r, w).alias("bucket"),
            )
            for r in range(d)
        ])
    )
    return (
        df.filter(F.col(key_col).isNotNull())
        .select(coords.alias("c"))
        .groupBy(
            F.col("c.row_idx").alias("row_idx"),
            F.col("c.bucket").alias("bucket"),
        )
        .agg(F.count("*").alias("count"))
    )


def cms_estimate(
    registers: DataFrame,
    probes: DataFrame,
    key_col: str,
    w: int = 256,
    d: int = 4,
) -> DataFrame:
    """(key, est): count-min point estimates (min over the d rows of
    the probed registers) for each probe key. est ≥ true count by
    construction; the probe side is tiny and broadcast."""
    coords = probes.select(
        F.col(key_col).alias("key"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(r).alias("row_idx"),
                    cms_bucket(key_col, r, w).alias("bucket"),
                )
                for r in range(d)
            ])
        ).alias("c"),
    ).select("key", F.col("c.row_idx").alias("row_idx"),
             F.col("c.bucket").alias("bucket"))
    return (
        registers.join(F.broadcast(coords), ["row_idx", "bucket"])
        .groupBy("key")
        .agg(F.min("count").alias("est"))
    )


def bloom_bits(
    df: DataFrame,
    key_col: str,
    m_bits: int = 8192,
    k: int = 4,
) -> DataFrame:
    """(bit_idx): the set bits of a Bloom filter over ``key_col``
    (Bloom 1970 — public knowledge): k md5-family coordinates per
    key, DISTINCT — the classic join-pruning / membership summary,
    m_bits of state at any corpus size. The bit set IS the filter
    and is exactly gateable."""
    coords = F.explode(
        F.array(*[cms_bucket(key_col, r, m_bits) for r in range(k)])
    )
    return (
        df.filter(F.col(key_col).isNotNull())
        .select(coords.alias("bit_idx"))
        .distinct()
    )


def bloom_contains(
    bits: DataFrame,
    probes: DataFrame,
    key_col: str,
    m_bits: int = 8192,
    k: int = 4,
) -> DataFrame:
    """(key, present): Bloom membership — present iff ALL k probed
    bits are set. No false negatives by construction; false
    positives are deterministic (same hashes both engines), so the
    oracle gates them too rather than tolerating them."""
    coords = probes.select(
        F.col(key_col).alias("key"),
        F.explode(
            F.array(*[cms_bucket(key_col, r, m_bits) for r in range(k)])
        ).alias("bit_idx"),
    )
    hits = (
        coords.join(F.broadcast(bits), "bit_idx")
        .groupBy("key")
        .agg(F.count("*").alias("_n"))
    )
    return probes.select(F.col(key_col).alias("key")).distinct().join(
        hits, "key", "left"
    ).select(
        "key",
        (F.coalesce(F.col("_n"), F.lit(0)) == k).alias("present"),
    )


def space_saving_candidates(
    items: DataFrame,
    col: str = "item",
    m: int = 256,
) -> DataFrame:
    """Per-partition Space-Saving summaries (Metwally et al. 2005)
    with WEIGHTED batch updates: each Arrow batch is collapsed to
    (item, count) by pandas value_counts (C speed), then folded into
    ``m`` counters — present items add their weight, new items evict
    the minimum counter and inherit its count (the SS overestimate).
    Python work per batch is O(distinct-in-batch), not O(rows).

    Guarantee (the reason two-pass exact heavy hitters scale): any
    item with true partition count > N_p/m ends among the partition's
    final counters, so the union over partitions (≤ m·P rows — tiny,
    broadcastable) is a SUPERSET of every item with global count
    > N/m. The long tail never shuffles."""

    def gen(batches):
        import pandas as pd

        counters: dict = {}
        for pdf in batches:
            vc = pdf[col].dropna().value_counts()
            for item, w in vc.items():
                w = int(w)
                if item in counters:
                    counters[item] += w
                elif len(counters) < m:
                    counters[item] = w
                else:
                    evict = min(counters, key=counters.get)
                    floor_ = counters.pop(evict)
                    counters[item] = floor_ + w
        yield pd.DataFrame({col: list(counters.keys())})

    return items.select(col).mapInPandas(gen, schema=f"{col} string")


def heavy_hitters(
    items: DataFrame,
    col: str = "item",
    k: int = 500,
    m: "int | None" = None,
) -> DataFrame:
    """(item, n_obs, share_ppm): every item with EXACT frequency
    > N/k, found without shuffling the long tail — phase 1 collects
    per-partition Space-Saving candidates (a guaranteed superset,
    ≤ m·P rows), phase 2 broadcast-semi-joins the input down to
    candidate rows only and counts those exactly.

    The output is DETERMINISTIC even though the candidate set is
    partitioning-dependent: the exact-count filter keeps precisely
    {items with count·k > N}, and the SS guarantee says every such
    item is a candidate under any partitioning — which is what lets
    a SQL oracle (plain GROUP BY ... HAVING) gate the sketch path.
    At 100 TB the groupBy shuffles only the heavy candidates' rows;
    a naive GROUP BY would shuffle every distinct key (billions of
    hapaxes for text tokens)."""
    cand = (
        space_saving_candidates(items, col=col, m=m or k)
        .dropDuplicates()
    )
    total = items.select(F.count("*").alias("_n"))
    return (
        items.join(F.broadcast(cand), col, "left_semi")
        .groupBy(col)
        .agg(F.count("*").alias("n_obs"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("n_obs") * k > F.col("_n"))
        .select(
            col,
            "n_obs",
            F.expr("n_obs * 1000000 div _n").alias("share_ppm"),
        )
    )
