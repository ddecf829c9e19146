"""Temporal join operators Spark lacks as built-ins: as-of join and
point-in-interval range join.

Both are shapes a naive implementation turns into a cartesian or a
per-row scan, and both show up constantly in transcript / event
pipelines ("attach the most recent profile snapshot to each turn",
"which maintenance window was this event inside"). The
implementations here are the scale-safe forms:

  - ``asof_join``: the union-sort-window trick — tag both sides,
    union on the key, one shuffle-sort by (key, ts, side), then a
    running ``last(ignorenulls=True)`` carries the most recent right
    row forward onto every left row. Cost is ONE shuffle of
    |L| + |R| rows regardless of time skew; there is no range
    predicate for the optimizer to mis-plan into a broadcast nested
    loop. (Same algorithm pandas.merge_asof runs per group, expressed
    as a distributed window.)
  - ``range_join_points``: point-in-interval join via interval
    BUCKETING — each interval is exploded to the coarse buckets it
    overlaps, points join on (key, bucket) equality, and the exact
    BETWEEN predicate filters residuals. Equality join keys keep
    Catalyst on a shuffled hash join; bucket width trades replication
    (intervals spanning many buckets) against residual filtering.

Cross-engine gates: DuckDB has a NATIVE ASOF JOIN and evaluates range
predicates directly, so the oracles are structurally independent
implementations, not replays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    tolerance: "int | None" = None,
) -> DataFrame:
    """For every ``left`` row, attach the LATEST ``right`` row with
    the same ``on`` key and ``right_ts <= left_ts`` (ties: the right
    row wins — a snapshot taken at t is visible to an event at t).
    Rows with no prior right row keep NULLs; ``tolerance`` (seconds)
    additionally nulls matches older than ``left_ts - tolerance``.

    Right columns whose name the left also has come back suffixed
    ``_r`` (the key excepted). Timestamps may
    be timestamp or numeric; comparison happens on epoch seconds.

    Scale: one hash shuffle of |L|+|R| on the key + one sort within
    partitions — the same cost profile as a plain equi-join, and the
    window never materializes more than running state per key. Skewed
    keys behave like any skewed groupBy (salt upstream if one key is
    a whale); there is no interval replication and no cartesian
    corner regardless of how lopsided the two sides' timestamps are.
    """
    lcols = left.columns
    rcols = [c for c in right.columns if c != on]
    rmap = {c: (c + "_r" if c in lcols else c) for c in rcols}

    def _epoch(col: str, df: DataFrame):
        dt = dict(df.dtypes)[col]
        c = F.col(col)
        return c.cast("timestamp").cast("double") if "timestamp" in dt \
            else c.cast("double")

    l_tagged = left.select(
        F.col(on).alias("_k"),
        _epoch(left_ts, left).alias("_t"),
        F.lit(1).alias("_side"),
        F.struct(*[F.col(c) for c in lcols]).alias("_lrow"),
        F.lit(None).cast(
            "struct<" + ",".join(
                f"`{c}`:{dict(right.dtypes)[c]}" for c in rcols
            ) + ">"
        ).alias("_rrow"),
    )
    r_tagged = right.select(
        F.col(on).alias("_k"),
        _epoch(right_ts, right).alias("_t"),
        F.lit(0).alias("_side"),
        F.lit(None).cast(
            "struct<" + ",".join(
                f"`{c}`:{dict(left.dtypes)[c]}" for c in lcols
            ) + ">"
        ).alias("_lrow"),
        F.struct(*[F.col(c) for c in rcols]).alias("_rrow"),
    )
    # right rows sort BEFORE left rows at equal (_k, _t) so an
    # equal-timestamp snapshot is visible to the event
    w = (
        Window.partitionBy("_k")
        .orderBy("_t", "_side")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = (
        l_tagged.unionByName(r_tagged)
        .withColumn("_r", F.last("_rrow", ignorenulls=True).over(w))
        .withColumn("_rt", F.last(
            F.when(F.col("_side") == 0, F.col("_t")), ignorenulls=True
        ).over(w))
        .filter(F.col("_side") == 1)
    )
    if tolerance is not None:
        stale = F.col("_rt") < F.col("_t") - F.lit(float(tolerance))
        carried = carried.withColumn(
            "_r", F.when(stale, F.lit(None)).otherwise(F.col("_r"))
        )
    return carried.select(
        *[F.col(f"_lrow.`{c}`").alias(c) for c in lcols],
        *[F.col(f"_r.`{c}`").alias(rmap[c]) for c in rcols],
    )


def range_join_points(
    points: DataFrame,
    intervals: DataFrame,
    on: str,
    point_ts: str,
    start_col: str,
    end_col: str,
    bucket: int = 3600,
) -> DataFrame:
    """Inner join of ``points`` to every ``intervals`` row with the
    same key and ``start <= point_ts <= end`` (inclusive both ends).
    Returns all point columns plus the interval's columns (key not
    duplicated).

    Each interval explodes to the ``bucket``-second buckets it
    overlaps; points compute their single bucket; the join is an
    EQUI-join on (key, bucket) with the exact BETWEEN as a residual
    filter — so Catalyst plans a shuffled hash join, never a
    broadcast nested-loop over a range predicate. Replication factor
    is interval_span/bucket; pick ``bucket`` near the typical span.
    At 100 TB both sides shuffle once on (key, bucket), and a hot
    bucket is bounded by the points that genuinely fall in it."""
    pcols = points.columns
    icols = [c for c in intervals.columns if c != on]

    def _epoch(col):
        return F.col(col).cast("timestamp").cast("double")

    iv = intervals.select(
        F.col(on).alias("_k"),
        _epoch(start_col).alias("_s"),
        _epoch(end_col).alias("_e"),
        F.struct(*[F.col(c) for c in icols]).alias("_irow"),
    ).withColumn(
        "_b",
        F.explode(
            F.sequence(
                F.floor(F.col("_s") / bucket).cast("long"),
                F.floor(F.col("_e") / bucket).cast("long"),
            )
        ),
    )
    pt = points.select(
        F.col(on).alias("_k"),
        _epoch(point_ts).alias("_t"),
        F.struct(*[F.col(c) for c in pcols]).alias("_prow"),
    ).withColumn("_b", F.floor(F.col("_t") / bucket).cast("long"))
    joined = pt.join(iv, ["_k", "_b"]).filter(
        (F.col("_t") >= F.col("_s")) & (F.col("_t") <= F.col("_e"))
    )
    return joined.select(
        *[F.col(f"_prow.`{c}`").alias(c) for c in pcols],
        *[F.col(f"_irow.`{c}`").alias(c) for c in icols],
    )


def interval_overlap_join(
    a: DataFrame,
    b: DataFrame,
    on: str,
    a_start: str,
    a_end: str,
    b_start: str,
    b_end: str,
    bucket_us: int = 3600 * 1_000_000,
) -> DataFrame:
    """Interval×interval overlap join: every (a, b) pair with the
    same key whose [start, end] ranges intersect, plus the exact
    ``overlap_us`` (microseconds, inclusive-bounds intersection
    length — integer arithmetic, no float).

    Grid bucketization on BOTH sides: each interval explodes to the
    ``bucket_us`` grid cells it spans and the join is an equi-join
    on (key, cell) — the same trick as range_join_points, but a pair
    overlapping many shared cells would duplicate, so each pair is
    emitted ONLY in the first cell they share:
    cell == floor(max(a_start, b_start) / bucket) — an arithmetic
    dedup, no DISTINCT shuffle. At 100 TB both sides shuffle once on
    (key, cell); replication factor is span/bucket per side."""
    acols = a.columns
    bcols = [c for c in b.columns if c != on]

    def cells(s, e):
        return F.explode(
            F.sequence(
                F.floor(s / bucket_us).cast("long"),
                F.floor(e / bucket_us).cast("long"),
            )
        )

    aa = a.select(
        F.col(on).alias("_k"),
        F.col(a_start).alias("_as"),
        F.col(a_end).alias("_ae"),
        *[F.col(c) for c in acols if c != on],
    ).withColumn("_cell", cells(F.col("_as"), F.col("_ae")))
    bb = b.select(
        F.col(on).alias("_k"),
        F.col(b_start).alias("_bs"),
        F.col(b_end).alias("_be"),
        *[F.col(c) for c in bcols],
    ).withColumn("_cell", cells(F.col("_bs"), F.col("_be")))
    first_shared = F.floor(
        F.greatest(F.col("_as"), F.col("_bs")) / bucket_us
    ).cast("long")
    joined = aa.join(bb, ["_k", "_cell"]).filter(
        (F.col("_as") <= F.col("_be"))
        & (F.col("_bs") <= F.col("_ae"))
        & (F.col("_cell") == first_shared)
    )
    overlap = (
        F.least(F.col("_ae"), F.col("_be"))
        - F.greatest(F.col("_as"), F.col("_bs"))
    ).alias("overlap_us")
    keep = [F.col("_k").alias(on)]
    keep += [F.col(c) for c in acols if c != on]
    keep += [F.col(c) for c in bcols]
    return joined.select(*keep, overlap)


def fuzzy_join_delete1(
    left: DataFrame,
    right: DataFrame,
    max_bucket: int = 256,
) -> DataFrame:
    """(id_a, name_a, id_b, name_b, dist): typo-tolerant string join —
    every (left, right) pair within Levenshtein distance ≤ 1, without
    a cartesian product. ``left`` has (id_a, name_a), ``right`` has
    (id_b, name_b).

    Blocking is the symmetric-delete (SymSpell) neighborhood: for each
    string, the set {s} ∪ {s with one char deleted}. Two strings with
    edit distance ≤ 1 ALWAYS share a neighborhood member (delete the
    inserted char / the substituted char's deletion collides / the
    string itself), so recall is 1.0 by construction; the exact
    ``levenshtein`` predicate then filters false candidates. This is
    the standard entity-resolution shape for dirty join keys (typo'd
    names, OCR'd ids) at corpus scale.

    Scale plan:
      - neighborhoods are built JVM-side (``transform`` over a char
        sequence, ``array_distinct`` collapses repeated-char
        deletions) — |s|+1 variants per row, a LINEAR explode.
      - candidates come from an equality join on the variant string —
        a shuffled hash join Catalyst plans natively; no similarity
        predicate ever reaches the join condition (which would force
        a broadcast nested loop).
      - hot variants (e.g. a boilerplate name shared by k rows) are
        capped per side at ``max_bucket`` by a deterministic
        (variant ORDER BY id) row_number — the same guard the minhash
        and simhash band joins use; drops are a recall trade logged by
        the cap, never a correctness bug on the survivors.
      - a candidate pair can share several variants → one
        dropDuplicates on (id_a, id_b) before the verify.
    """
    from pyspark.sql.window import Window

    def neighborhood(df, side):
        s = F.col(f"name_{side}")
        dels = F.transform(
            F.sequence(F.lit(1), F.length(s)),
            lambda i: F.concat(
                s.substr(F.lit(1), i - 1),
                s.substr(i + 1, F.length(s)),
            ),
        )
        v = df.select(
            f"id_{side}",
            f"name_{side}",
            F.explode(
                F.array_distinct(F.concat(F.array(s), dels))
            ).alias("_v"),
        )
        w = Window.partitionBy("_v").orderBy(F.col(f"id_{side}"))
        return v.withColumn("_rn", F.row_number().over(w)).filter(
            F.col("_rn") <= max_bucket
        ).drop("_rn")

    la = neighborhood(left, "a")
    rb = neighborhood(right, "b")
    cand = (
        la.join(rb, "_v")
        .select("id_a", "name_a", "id_b", "name_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    return cand.withColumn(
        "dist", F.levenshtein("name_a", "name_b")
    ).filter(F.col("dist") <= 1)
