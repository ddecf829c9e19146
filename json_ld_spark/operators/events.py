"""Event-stream analytics: funnels, retention cohorts, transition
matrices — the product-analytics reads a 100 TB event table serves.

All three are pure DataFrame compositions (no UDFs) over the
``(event_id, user_id, event_type, ts)`` events table, whose outputs are
integers or integer-derived divisions, so the DuckDB oracles replay
them exactly. Scale shapes:
  - funnel: K tiny per-user aggregations (one per step), each a
    single hash shuffle on user_id; step filters push to the scan.
  - retention: two aggregations on (user) then (cohort, offset).
  - transitions: one window (per-user sort) + one aggregation; the
    per-source normalization is a window over the small (src, dst)
    count table, not the event table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def funnel_conversion(events: DataFrame, steps: "list[str]") -> DataFrame:
    """(user, t1..tK, reached): earliest strictly-ordered completion
    of the step sequence per user — t1 = min ts of step 1, t_{i+1} =
    min ts of step i+1 AFTER t_i (the standard unbounded-window
    funnel). ``reached`` counts completed stages. Users who never
    perform step 1 are absent (stage-0 is the complement vs the user
    dimension)."""
    if len(steps) < 2:
        raise ValueError("a funnel needs at least 2 steps")
    cur = (
        events.filter(F.col("event_type") == steps[0])
        .groupBy(F.col("user_id").alias("user"))
        .agg(F.min("ts").alias("t1"))
    )
    out = cur
    for i, step in enumerate(steps[1:], start=2):
        nxt = (
            events.filter(F.col("event_type") == step)
            .select(F.col("user_id").alias("user"), F.col("ts").alias("_ts"))
            .join(out.select("user", F.col(f"t{i-1}").alias("_prev")), "user")
            .filter(F.col("_ts") > F.col("_prev"))
            .groupBy("user")
            .agg(F.min("_ts").alias(f"t{i}"))
        )
        out = out.join(nxt, "user", "left")
    reached = sum(
        (F.when(F.col(f"t{i}").isNotNull(), 1).otherwise(0))
        for i in range(2, len(steps) + 1)
    ) + F.lit(1)
    return out.withColumn("reached", reached.cast("int"))


def retention_cohorts(events: DataFrame) -> DataFrame:
    """(cohort_day, day_offset, n_users): classic triangle retention —
    cohort = each user's first active day, offset in days, count of
    distinct cohort users active at that offset."""
    days = events.select(
        F.col("user_id").alias("user"), F.to_date("ts").alias("day")
    ).distinct()
    cohort = days.groupBy("user").agg(F.min("day").alias("cohort_day"))
    return (
        days.join(cohort, "user")
        .groupBy(
            "cohort_day",
            F.datediff("day", "cohort_day").cast("int").alias("day_offset"),
        )
        .agg(F.countDistinct("user").alias("n_users"))
    )


def event_transitions(events: DataFrame) -> DataFrame:
    """(src, dst, n, p): first-order Markov transition counts over
    each user's event sequence (ordered by ts with the event_id
    tiebreak, so the sequence — and therefore the counts — are
    partitioning-independent), with the row-normalized probability p
    rounded to 6 dp (an integer/integer division, IEEE-deterministic)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = events.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    counts = pairs.groupBy("src", "dst").agg(F.count("*").alias("n"))
    tot = Window.partitionBy("src")
    return counts.select(
        "src",
        "dst",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(tot).cast("double"),
            6,
        ).alias("p"),
    )
